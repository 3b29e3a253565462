package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live source-drift monitor — the streaming twin of the q109 batch
  * report: a [[SumStore]] — per-batch (source, token, count) partials
  * land as additive `seq=N` segments, the merged state reconciles with
  * one groupBy sum (fully decomposable, so the [[AdditiveSegments]]
  * replay/fold contract applies unchanged), and the report recomputes
  * the exact integer TV-distance statistic over the live counts. Unlike
  * [[NoveltySink]] nothing here depends on arrival ORDER — drift is a
  * property of the accumulated mixture — so the fold needs no
  * attribution care; the monitor answers "which sources have drifted
  * from the mixture SO FAR" after every batch, which is the shape a
  * scrape pipeline actually polls. State is (sources × vocab) rows —
  * vocabulary-sized per source (Heaps' law), never corpus-sized. */
object DriftSink extends SumStore(Seq("source", "token"), Seq("c_st"))(
    (batch, _) => batch
      .select(col("source"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_st"))) {

  /** The q109-shaped per-source drift report over the live state. */
  def report(spark: SparkSession, path: String): DataFrame =
    graft.functions.TextOps.driftFromSourceTokenCounts(read(spark, path))
}
