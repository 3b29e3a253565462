package graft

import java.nio.file.Files

import graft.functions.SimilarityOps
import org.apache.spark.sql.functions._

/** Persistent embedding LSH index — the ingest path of the embedding
  * dedup family: build once, probe batches against it, streaming
  * dedup-then-ingest admits only novel vectors. Mirrors LshIndexSpec. */
class EmbIndexSpec extends SparkSpec {

  test("32-dim index: build, probe, and streaming admission at a non-default width") {
    import spark.implicits._
    val rnd = new java.util.Random(71)
    def rv() = Array.fill(32)(rnd.nextGaussian()).toSeq
    val base = rv()
    val dir = java.nio.file.Files.createTempDirectory("graft-emb32").toString
    functions.SimilarityOps.embIndex(32).build(
      ((0 to 30).map(i => (i.toLong, rv())) :+ (99L, base))
        .toDF("vec_id", "v"), dir, -1L)
    // a near-duplicate of an indexed 32-dim vector is caught at width 32
    val probeBatch = Seq(
      (200L, base.map(x => x + 1e-4 * rnd.nextGaussian())),
      (201L, Seq.fill(64)(0.1))) // 64-dim: malformed FOR THIS index
      .toDF("vec_id", "v")
    val dups = functions.SimilarityOps.embIndex(32).probe(
      probeBatch, dir, 0.9, None)
    val hit = dups.select("new_vec", "dup_of")
      .as[(Long, Long)].collect().toSet
    assert(hit.contains((200L, 99L)),
      s"32-dim near-dup not caught through the 32-dim banding: $hit")
    assert(!hit.exists(_._1 == 201L),
      "a width-mismatched vector can never be a candidate")
  }
  import spark.implicits._

  // deterministic unit-ish vectors: base family + a cos≈0.98 perturbed
  // copy (the production near-dup regime the 0.9 threshold targets)
  private val rnd = new java.util.Random(777L)
  private def gauss() = Array.fill(64)(rnd.nextGaussian())
  private def unit(a: Array[Double]) = {
    val n = math.sqrt(a.map(x => x * x).sum); a.toSeq.map(_ / n)
  }
  private val base = unit(gauss())
  private val other = unit(gauss())
  private val third = unit(gauss())
  private val near = unit(base.zip(unit(gauss())).map { case (x, g) => x + 0.2 * g }.toArray)

  private def df(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "v")

  test("probe finds the planted near-dup of an indexed vector; novel vectors pass") {
    val idx = Files.createTempDirectory("emb_idx").toString + "/index"
    SimilarityOps.embIndex(64).build(df(0L -> base, 1L -> other), idx, -1L)
    val dups = SimilarityOps.embIndex(64).probe(df(10L -> near, 11L -> third), idx, 0.9, None)
      .select("new_vec", "dup_of").as[(Long, Long)].collect().toSet
    assert(dups == Set((10L, 0L)), s"got $dups")
  }

  test("compaction folds old segments; probe results and latest-version scoring unchanged") {
    val idx = Files.createTempDirectory("emb_compact").toString + "/index"
    // bootstrap (-1) indexes vec 0 v1 = base; batch 0 RE-INGESTS vec 0
    // as `near` (revised) + adds vec 5; batch 1 adds vec 9
    SimilarityOps.embIndex(64).build(df(0L -> base), idx, -1L)
    SimilarityOps.embIndex(64).ingest(df(0L -> near, 5L -> other), idx, 0L)
    SimilarityOps.embIndex(64).ingest(df(9L -> third), idx, 1L)
    def probeAll() = SimilarityOps.embIndex(64).probe(df(100L -> near, 101L -> third), idx, 0.9, None)
      .select("new_vec", "dup_of", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val before = probeAll()
    // vec 0 must score against its LATEST (ingest-0, == near) version
    assert(before.exists { case (n, d, c) => n == 100L && d == 0L && c == 1.0 },
      s"latest-version scoring broken pre-compaction: $before")
    SimilarityOps.embIndex(64).compact(spark, idx)
    def dirs(table: String) = graft.sinks.Hfs.childDirs(spark, s"$idx/$table", "ingest=")
      .map(_.stripPrefix("ingest=").toLong).toSet
    assert(dirs("bands") == Set(-2L, 1L) && dirs("vecs") == Set(-2L, 1L),
      s"unexpected dirs: ${dirs("bands")} / ${dirs("vecs")}")
    assert(probeAll() == before, "compaction changed probe results")
    assert(spark.read.parquet(s"$idx/vecs").groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("probe partition-prunes the index to its bucket set and never shuffles the index side") {
    val idx = Files.createTempDirectory("emb_prune").toString + "/index"
    SimilarityOps.embIndex(64).build(df(0L -> base, 1L -> other, 2L -> third), idx, -1L)
    val cand = SimilarityOps.embIndex(64).candidates(df(10L -> near), idx, None)
    cand.collect()
    val plan = cand.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"index side of the probe join shuffled:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe was not broadcast:\n$plan")
    // pruning happens at LISTING time (readLivePrunedWithIds) — pin the
    // partitions the index scan actually selected: all bmod dirs, and a
    // strict subset of the index's dirs (1 probe vec's bands vs 3
    // indexed vecs' spread)
    val readBmods = partitionValuesOf(Seq(scanOf(cand, "emb_prune")), "bmod")
    val dirs = new java.io.File(s"$idx/bands/ingest=-1").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bmod="))
    assert(readBmods.nonEmpty && readBmods.size < dirs,
      s"index scan read ${readBmods.size} of $dirs bmod dirs: $readBmods")
  }

  test("probe hot-bucket cap bounds candidates from an indexed vector cluster; admission survives") {
    // 100 identical indexed vectors fill every band bucket the probe
    // lands in with occupancy-100 rows; the cap keeps each bucket's `c`
    // lowest-vec_id rows, and admission survives via those
    // representatives (mirrors LshIndexSpec's probe-cap case).
    val idx = Files.createTempDirectory("emb_cap").toString + "/index"
    val cluster = (0 until 100).map(i => i.toLong -> base.toSeq)
    SimilarityOps.embIndex(64).build(df((cluster :+ (900L -> other)): _*), idx, -1L)
    val probe = df(1000L -> near)
    val uncapped = SimilarityOps.embIndex(64).candidates(probe, idx, None).count()
    assert(uncapped >= 100L, s"fixture not hot enough ($uncapped candidates)")
    val cap = 4
    val capped = SimilarityOps.embIndex(64).candidates(probe, idx, Some(cap)).count()
    assert(capped <= 16L * cap, s"cap leaked: $capped candidates > ${16 * cap}")
    val dups = SimilarityOps.embIndex(64).probe(probe, idx, 0.9, Some(cap))
      .select("new_vec", "dup_of").as[(Long, Long)].collect()
    assert(dups.nonEmpty && dups.forall { case (n, d) => n == 1000L && d < cap },
      s"admission lost or matched beyond-cap rows: ${dups.toSeq}")
    assert(SimilarityOps.embIndex(64).candidates(probe, idx, None).count() == uncapped)
  }

  test("replaying an ingest overwrites its own segment; bands table stays narrow") {
    val idx = Files.createTempDirectory("emb_replay").toString + "/index"
    val vecs = df(0L -> base, 1L -> other)
    SimilarityOps.embIndex(64).ingest(vecs, idx, 7L)
    SimilarityOps.embIndex(64).ingest(vecs, idx, 7L)
    // 2 vecs x 16 bands once in the narrow table; 2 vector rows once
    assert(spark.read.parquet(s"$idx/bands").count() == 32L)
    assert(spark.read.parquet(s"$idx/vecs").count() == 2L)
    assert(spark.read.parquet(s"$idx/bands").columns.sorted.toSeq ==
      Seq("band", "bmod", "bv", "ingest", "vec_id"))
  }

  test("malformed vectors never enter the bands table or candidate pairs") {
    // every malformed embedding (wrong length, null element) bands to
    // the identical all-zero signature — unfiltered they ALL co-bucket,
    // and a corpus with many of them pays occupancy² candidate pairs
    // for rows whose verify cosine is NULL anyway
    val idx = Files.createTempDirectory("emb_malformed").toString + "/index"
    val rows: Seq[(Long, Seq[java.lang.Double])] = Seq(
      0L -> base.map(java.lang.Double.valueOf),
      1L -> other.map(java.lang.Double.valueOf),
      2L -> base.take(32).map(java.lang.Double.valueOf),          // wrong length
      3L -> base.map(java.lang.Double.valueOf).updated(3, null: java.lang.Double))
    val withNull = rows.toDF("vec_id", "v")
    SimilarityOps.embIndex(64).build(withNull, idx, -1L)
    val banded = spark.read.parquet(s"$idx/bands")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(banded == Set(0L, 1L),
      s"malformed vectors must not be banded, got $banded")
    assert(spark.read.parquet(s"$idx/vecs")
      .select("vec_id").as[Long].collect().toSet == Set(0L, 1L))
    // probing with a malformed batch yields no candidates (and no crash)
    val probeDups = SimilarityOps.embIndex(64).probe(
      withNull.filter(col("vec_id") >= 2), idx, 0.9, None)
    assert(probeDups.count() == 0L)
  }

  test("streaming dedup-then-ingest: cross-batch and in-batch embedding dups are rejected") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("emb_stream").toString
    val idx = s"$dir/index"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vec_id", "v").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(SimilarityOps.embIndex(64).writer(idx, dir, 0.9, None) _)
      .start()
    try {
      in.addData(0L -> base, 1L -> other)
      q.processAllAvailable()
      in.addData(2L -> near, 3L -> third) // near duplicates batch-1's base
      q.processAllAvailable()
      // two near-dups of each other in the SAME micro-batch, both novel
      val fam = unit(gauss())
      val famNear = unit(fam.zip(unit(gauss())).map { case (x, g) => x + 0.2 * g }.toArray)
      in.addData(5L -> fam, 6L -> famNear)
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$dir/admitted")
        .select("vec_id").as[Long].collect().toSet
      assert(admitted == Set(0L, 1L, 3L, 5L), s"got $admitted")
    } finally q.stop()
  }
}
