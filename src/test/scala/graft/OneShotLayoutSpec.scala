package graft

import graft.functions.{DedupOps, PqOps, SimilarityOps}
import graft.operators.Bucketing
import graft.sinks.{Hfs, Lifecycle}
import org.apache.spark.sql.DataFrame

/** The one-shot stored layouts published through
  * [[graft.sinks.Lifecycle]] — the IVF (q42) and PQ (q94) indexes, the
  * cluster (q62) and incremental (q115) label tables and the bucketed
  * pair (q97): per family, a torn build (no `__done`, junk planted in
  * the layout) is cleared and rebuilt, never served, and the rebuilt
  * layout answers exactly as the first build did. For q97 this also
  * pins that a rebuild leaves no catalog entry over replaced files. */
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
        "bkt", "_b8")))

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
}
