package graft

import java.nio.file.Files

import graft.functions.DedupOps
import org.apache.spark.sql.functions._

/** Incremental LSH index: build once, probe batches, streaming
  * dedup-then-ingest admits only novel documents. */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
  private val near = base.replaceFirst("lazy", "sleepy")
  private val other = ("completely different content about spark engines " * 9).trim
  private val third = ("yet another unrelated corpus line with many words here " * 8).trim

  test("probe finds near-dups of indexed docs; novel docs pass") {
    val idx = Files.createTempDirectory("lsh_idx").toString + "/index"
    DedupOps.lshIndex.build(Seq((0L, base), (1L, other)).toDF("doc_id", "text"), idx, -1L)
    val dups = DedupOps.lshIndex.probe(
      Seq((10L, near), (11L, third)).toDF("doc_id", "text"), idx, 0.5, None)
      .select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
    assert(dups == Set((10L, 0L))) // near is a dup of base; third is novel
  }

  test("streaming dedup-then-ingest: duplicates across batches are rejected") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("lsh_stream").toString
    val idx = s"$dir/index"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(DedupOps.lshIndex.writer(idx, dir, 0.5, None) _)
      .start()
    try {
      in.addData((0L, base), (1L, other))
      q.processAllAvailable()
      in.addData((2L, near), (3L, third)) // near duplicates batch-1's base
      q.processAllAvailable()
      in.addData((4L, base))              // exact dup of an admitted doc
      q.processAllAvailable()
      // two near-dups of each other in the SAME micro-batch, both novel
      // to the index: the in-batch pass must admit only the lowest id
      val fam = ("a brand new family of sentences about merge on read sinks " * 8).trim
      val famNear = fam.replaceFirst("sinks", "tables")
      in.addData((5L, fam), (6L, famNear))
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$dir/admitted")
        .select("doc_id").as[Long].collect().toSet
      // 2 (near-dup), 4 (exact dup), 6 (in-batch near-dup) rejected
      assert(admitted == Set(0L, 1L, 3L, 5L))
    } finally q.stop()
  }

  test("replaying an ingest overwrites its own segment (no duplicate index rows)") {
    val idx = Files.createTempDirectory("lsh_replay").toString + "/index"
    val docs = Seq((0L, base), (1L, other)).toDF("doc_id", "text")
    DedupOps.lshIndex.ingest(docs, idx, 7L)
    DedupOps.lshIndex.ingest(docs, idx, 7L) // retry of the same ingest
    // 2 docs x 8 bands once in the narrow table; 2 hs rows once
    assert(spark.read.parquet(s"$idx/bands").count() == 16L)
    assert(spark.read.parquet(s"$idx/docs").count() == 2L)
    // the narrow table must NOT carry the shingle arrays
    assert(spark.read.parquet(s"$idx/bands").columns.sorted.toSeq ==
      Seq("band", "bhash", "bmod", "doc_id", "ingest"))
  }

  test("probe hot-bucket cap bounds candidates from an indexed boilerplate cluster; admission survives") {
    // 200 identical indexed docs put occupancy-200 rows into each of the
    // 8 band buckets a probe of a near-dup lands in: uncapped, the probe
    // join returns 8 x 200 candidate rows the verify tier must score.
    // The cap keeps each bucket's `c` lowest-doc_id rows — the admission
    // question ("is this new doc a dup of ANYTHING indexed?") survives
    // via the kept representatives.
    val idx = Files.createTempDirectory("lsh_cap").toString + "/index"
    val cluster = (0 until 200).map(i => (i.toLong, base))
    DedupOps.lshIndex.build((cluster :+ (900L, other)).toDF("doc_id", "text"), idx, -1L)
    val probe = Seq((1000L, near)).toDF("doc_id", "text")
    val uncapped = DedupOps.lshIndex.candidates(probe, idx, None).count()
    assert(uncapped >= 200L, s"fixture not hot enough ($uncapped candidates)")
    val cap = 4
    val capped = DedupOps.lshIndex.candidates(probe, idx, Some(cap)).count()
    assert(capped <= 8L * cap, s"cap leaked: $capped candidates > ${8 * cap}")
    // admission still detected, and only against kept (lowest-id) members
    val dups = DedupOps.lshIndex.probe(probe, idx, 0.5, Some(cap))
      .select("new_doc", "dup_of").as[(Long, Long)].collect()
    assert(dups.nonEmpty && dups.forall { case (n, d) => n == 1000L && d < cap },
      s"admission lost or matched beyond-cap rows: ${dups.toSeq}")
    // the exact path is untouched by the new parameter
    assert(DedupOps.lshIndex.candidates(probe, idx, None).count() == uncapped)
  }

  test("compaction folds old segments; probe results and latest-version scoring unchanged") {
    val idx = Files.createTempDirectory("lsh_compact").toString + "/index"
    // bootstrap (-1) indexes doc 0 v1 = base; batch 0 RE-INGESTS doc 0
    // with revised text (near) + adds doc 5; batch 1 adds doc 9
    DedupOps.lshIndex.build(Seq((0L, base)).toDF("doc_id", "text"), idx, -1L)
    DedupOps.lshIndex.ingest(Seq((0L, near), (5L, other)).toDF("doc_id", "text"), idx, 0L)
    DedupOps.lshIndex.ingest(Seq((9L, third)).toDF("doc_id", "text"), idx, 1L)
    def probeAll() = DedupOps.lshIndex.probe(
      Seq((100L, near), (101L, third)).toDF("doc_id", "text"), idx, 0.5, None)
      .select("new_doc", "dup_of", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val before = probeAll()
    // doc 0 must score against its LATEST (ingest-0, == near) version
    assert(before.exists { case (n, d, j) => n == 100L && d == 0L && j == 1.0 },
      s"latest-version scoring broken pre-compaction: $before")
    DedupOps.lshIndex.compact(spark, idx)
    // folded {-1, 0} -> K=0 -> ingest=-2; newest batch (1) survives
    def dirs(table: String) = graft.sinks.Hfs.childDirs(spark, s"$idx/$table", "ingest=")
      .map(_.stripPrefix("ingest=").toLong).toSet
    assert(dirs("bands") == Set(-2L, 1L) && dirs("docs") == Set(-2L, 1L),
      s"unexpected dirs: ${dirs("bands")} / ${dirs("docs")}")
    assert(probeAll() == before, "compaction changed probe results")
    // the docs fold kept ONE row per doc_id (the latest version)
    assert(spark.read.parquet(s"$idx/docs").groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("probe partition-prunes the index to its bucket set and never shuffles the index side") {
    val idx = Files.createTempDirectory("lsh_prune").toString + "/index"
    DedupOps.lshIndex.build(
      Seq((0L, base), (1L, other), (2L, third)).toDF("doc_id", "text"), idx, -1L)
    val cand = DedupOps.lshIndex.candidates(Seq((10L, near)).toDF("doc_id", "text"), idx, None)
    cand.collect()
    // AQE appends "== Initial Plan ==" — assert on the final plan only
    val plan = cand.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"index side of the probe join shuffled:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe was not broadcast:\n$plan")
    // pruning happens at LISTING time (readLivePrunedWithIds hands the
    // reader only the probe's bmod dirs) — the pin is on the partitions
    // the index scan actually selected: a strict subset of the index's
    // bmod dirs, bounded by the 1-doc probe's 8 bands
    val readBmods = partitionValuesOf(Seq(scanOf(cand, "lsh_prune")), "bmod")
    // the probe's bucket set must be a strict subset of the index dirs:
    // 3 indexed docs x 8 bands spread over more bmod dirs than 1 doc's 8
    val dirs = new java.io.File(s"$idx/bands/ingest=-1").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bmod="))
    assert(dirs > 8, s"fixture too small to show pruning ($dirs dirs)")
    assert(readBmods.nonEmpty && readBmods.size <= 8 && readBmods.size < dirs,
      s"index scan read ${readBmods.size} of $dirs bmod dirs: $readBmods")
  }
}
