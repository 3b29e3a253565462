package graft

import graft.functions.{DedupOps, PqOps, SimilarityOps}
import graft.operators.Bucketing
import graft.sinks.{Hfs, Lifecycle}
import org.apache.spark.sql.DataFrame

/** The one-shot stored layouts published through
  * [[graft.sinks.Lifecycle]] — the IVF (q42) and PQ (q94) indexes, the
  * cluster (q62) and incremental (q115) label tables, the bucketed
  * pair (q97) and the live (q98) and partitioned (q99) bucketed tables:
  * per family, a torn build (no `__done`, junk planted in the layout)
  * is cleared and rebuilt, never served, and the rebuilt layout answers
  * exactly as the first build did. For q97-q99 this also pins that a
  * rebuild leaves no catalog entry over replaced files. */
class OneShotLayoutSpec extends SparkSpec {

  /** The dir a parquet-root layout was read from. */
  private def readRoot(df: DataFrame): String =
    new java.io.File(new java.net.URI(df.inputFiles.head).getPath).getParent

  private val families: Seq[(String, () => DataFrame, () => String)] = Seq(
    ("q42", () => SimilarityOps.annIvfTopK(spark, sf0001),
      () => SimilarityOps.ivfIndexPath(spark, sf0001, 8, 1)),
    ("q94", () => PqOps.annIvfPq(spark, sf0001),
      () => PqOps.pqIndexPath(spark, sf0001)),
    ("q62", () => DedupOps.dedupClusters(spark, sf0001),
      () => readRoot(DedupOps.dedupClusters(spark, sf0001))),
    ("q115", () => DedupOps.dedupIncremental(spark, sf0001),
      () => readRoot(DedupOps.dedupIncremental(spark, sf0001))),
    ("q97", () => Bucketing.bucketedRevenue(spark, sf0001),
      () => Lifecycle.location(spark, sf0001, Seq("orders", "lineitem"),
        "bkt", "_b8")),
    ("q98", () => Bucketing.liveSnapshotAgg(spark, sf0001),
      () => Lifecycle.location(spark, sf0001, Seq("orders", "lineitem"),
        "bktlive")),
    ("q99", () => Bucketing.partitionedSnapshotAgg(spark, sf0001),
      () => Lifecycle.location(spark, sf0001, Seq("orders", "lineitem"),
        "bktpart")))

  for ((name, serve, layout) <- families)
    test(s"$name: a torn one-shot build (no __done, junk planted) is rebuilt, not served") {
      def answer() = serve().collect().map(_.toString).sorted.toSeq
      val before = answer()
      assert(before.nonEmpty)
      val loc = layout()
      assert(Hfs.readString(spark, s"$loc/__done").nonEmpty,
        s"$name: a published layout must carry __done")
      Hfs.deleteRecursive(spark, s"$loc/__done")
      Hfs.writeString(spark, s"$loc/junk", "torn")
      assert(answer() == before, s"$name: torn state must be rebuilt, not served")
      assert(!Hfs.exists(spark, s"$loc/junk"),
        s"$name: torn-state junk survived the rebuild")
      assert(Hfs.readString(spark, s"$loc/__done").nonEmpty,
        s"$name: rebuild must re-mark __done")
    }

  test("q98/q99: the live and partitioned tables serve every orders row once") {
    def byStatus(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = byStatus(Tables.t(spark, sf0001, "orders")
      .groupBy("o_orderstatus").count())
    for (q <- Seq(Bucketing.liveSnapshotAgg, Bucketing.partitionedSnapshotAgg))
      assert(byStatus(q(spark, sf0001)) == plain)
  }
}
