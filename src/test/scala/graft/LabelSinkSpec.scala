package graft

import java.nio.file.Files

import graft.functions.DedupOps
import graft.sinks.{Hfs, LabelSink}
import org.apache.spark.sql.functions._

/** The live label version chain (q116): per-batch contraction updates,
  * determinism-based replay idempotence, torn-version invisibility,
  * and the compact rule that keeps the replayable head recomputable. */
class LabelSinkSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(path: String): Set[(Long, Long)] =
    LabelSink.read(spark, path)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toSet

  test("MemoryStream of edge batches maintains labels ≡ batch hash-min, through merges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("labelsink").toString
    val tbl = s"$dir/labels"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("doc_a", "doc_b").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(LabelSink.writer(tbl) _)
      .start()
    try {
      in.addData((10L, 20L), (40L, 50L))
      q.processAllAvailable()
      assert(labelsOf(tbl) == Set((10L, 10L), (20L, 10L), (40L, 40L), (50L, 40L)))
      in.addData((20L, 40L), (5L, 10L)) // merge both clusters, new min 5
      q.processAllAvailable()
      val want = Set((5L, 5L), (10L, 5L), (20L, 5L), (40L, 5L), (50L, 5L))
      assert(labelsOf(tbl) == want, s"got ${labelsOf(tbl)}")
      assert(labelsOf(tbl) == DedupOps.collapseClusters(
        Seq((10L, 20L), (40L, 50L), (20L, 40L), (5L, 10L))
          .toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toSet,
        "live chain must equal one batch loop over all edges")
    } finally q.stop()
  }

  test("replaying a batch recomputes the identical head; a torn version dir is invisible and healed by replay") {
    val tbl = Files.createTempDirectory("labelsink_rp").toString + "/t"
    val b0 = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val b1 = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    LabelSink.writer(tbl)(b0, 0L)
    LabelSink.writer(tbl)(b1, 1L)
    val once = labelsOf(tbl)
    LabelSink.writer(tbl)(b1, 1L) // at-least-once retry of the head
    assert(labelsOf(tbl) == once, "retry must overwrite with the same table")
    assert(once == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // a torn (uncommitted) higher version must not serve as the head
    Hfs.writeString(spark, s"$tbl/seq=2/part-torn", "garbage")
    assert(!Hfs.exists(spark, s"$tbl/seq=2/_SUCCESS"))
    assert(labelsOf(tbl) == once, "torn version must be invisible")
    LabelSink.writer(tbl)(Seq((3L, 4L)).toDF("doc_a", "doc_b"), 2L)
    assert(labelsOf(tbl) == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)),
      "replay must overwrite the torn dir and extend the chain")
  }

  test("without the committer's _SUCCESS (marksuccessfuljobs=false) each version commits by its own marker: reads serve it, writer and retract advance from it") {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val tbl = Files.createTempDirectory("labelsink_nosuccess").toString + "/t"
      LabelSink.writer(tbl)(Seq((1L, 2L)).toDF("doc_a", "doc_b"), 0L)
      assert(!Hfs.exists(spark, s"$tbl/seq=0/_SUCCESS"),
        "the conf must suppress the committer's _SUCCESS")
      assert(labelsOf(tbl) == Set((1L, 1L), (2L, 1L)))
      LabelSink.writer(tbl)(Seq((2L, 3L)).toDF("doc_a", "doc_b"), 1L)
      assert(labelsOf(tbl) == Set((1L, 1L), (2L, 1L), (3L, 1L)),
        "batch 1 must contract from batch 0's version, not restart the chain")
      LabelSink.retract(tbl)(Seq(3L).toDF("doc_id"), 2L)
      assert(labelsOf(tbl) == Set((1L, 1L), (2L, 1L)))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("compact keeps the head's predecessor so an unchekpointed head replay still recomputes correctly") {
    val tbl = Files.createTempDirectory("labelsink_cp").toString + "/t"
    LabelSink.writer(tbl)(Seq((1L, 2L)).toDF("doc_a", "doc_b"), 0L)
    LabelSink.writer(tbl)(Seq((2L, 3L)).toDF("doc_a", "doc_b"), 1L)
    LabelSink.writer(tbl)(Seq((3L, 4L)).toDF("doc_a", "doc_b"), 2L)
    LabelSink.compact(spark, tbl)
    assert(LabelSink.committedSeqs(spark, tbl) == Seq(1L, 2L),
      "compact keeps the head AND its predecessor")
    val head = labelsOf(tbl)
    // the head batch's checkpoint may not have committed before the
    // crash — its replay reads seq=1 and must rebuild the same head
    LabelSink.writer(tbl)(Seq((3L, 4L)).toDF("doc_a", "doc_b"), 2L)
    assert(labelsOf(tbl) == head, "head replay after compact diverged")
    assert(head == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("retraction: cluster split at a cut vertex, rep change, vanish, resurrection re-merge, replay idempotence — untouched clusters verbatim") {
    val tbl = Files.createTempDirectory("labelretract").toString + "/labels"
    def edges(e: (Long, Long)*) = e.toDF("doc_a", "doc_b")
    def docs(d: Long*) = d.toDF("doc_id")
    // chain 0-1-2-3-4-5 (2 and 4 are cut vertices), pair {10,11},
    // triangle {20,21,22}, untouched pair {30,31}
    LabelSink.writer(tbl)(
      edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)), 0L)
    LabelSink.writer(tbl)(
      edges((20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L)), 1L)
    assert(labelsOf(tbl) == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 0L), (5L, 0L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L), (30L, 30L), (31L, 30L)))
    // retract cut vertex 2 (chain SPLITS into {0,1} and {3,4,5} with a
    // new right-side rep) and 10 (partner 11 loses its only edge and
    // VANISHES — the table's contract is every doc in ≥1 live pair)
    LabelSink.retract(tbl)(docs(2L, 10L), 2L)
    val afterSplit = Set((0L, 0L), (1L, 0L), (3L, 3L), (4L, 3L), (5L, 3L),
      (20L, 20L), (21L, 20L), (22L, 20L), (30L, 30L), (31L, 30L))
    assert(labelsOf(tbl) == afterSplit, "split/vanish recompute drifted")
    // at-least-once replay of the retraction batch: byte-identical
    LabelSink.retract(tbl)(docs(2L, 10L), 2L)
    assert(labelsOf(tbl) == afterSplit, "retraction replay diverged")
    LabelSink.compact(spark, tbl)
    assert(labelsOf(tbl) == afterSplit, "compact changed the answer")
    // retract the triangle's min-id REP: survivors re-title to 21
    LabelSink.retract(tbl)(docs(20L), 3L)
    assert(labelsOf(tbl) == Set((0L, 0L), (1L, 0L), (3L, 3L), (4L, 3L),
      (5L, 3L), (21L, 21L), (22L, 21L), (30L, 30L), (31L, 30L)))
    // resurrection: 2 re-ingests with its pairs re-emitted (live
    // partners only) — the split halves must RE-MERGE under rep 0
    LabelSink.writer(tbl)(edges((1L, 2L), (2L, 3L)), 4L)
    assert(labelsOf(tbl) == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 0L), (5L, 0L), (21L, 21L), (22L, 21L), (30L, 30L), (31L, 30L)),
      "resurrection re-merge drifted")
    LabelSink.compact(spark, tbl)
    // live-tail retraction THROUGH the folded edge store: 4 splits the
    // chain again; 5 has no surviving edge and vanishes
    LabelSink.retract(tbl)(docs(4L), 5L)
    assert(labelsOf(tbl) == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (21L, 21L), (22L, 21L), (30L, 30L), (31L, 30L)),
      "post-fold retraction drifted")
    // retracting a never-seen doc is a no-op
    LabelSink.retract(tbl)(docs(999L), 6L)
    assert(labelsOf(tbl) == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (21L, 21L), (22L, 21L), (30L, 30L), (31L, 30L)))
  }
}
