package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An ADDITIVE merge-on-read store over [[AdditiveSegments]]: batch N's
  * `partial` (keyed by `keys`) lands as segment seq=N, and both the read
  * and the compaction fold reconcile with one
  * `groupBy(keys).sum(values)` — decomposable, so the replay/fold
  * contract of [[AdditiveSegments]] applies unchanged. With no `values`
  * the reconcile is SET UNION (`distinct`, see [[SetStore]]).
  *
  * A retraction subtracts instead of rewriting: [[negated]] turns the
  * same partial builder, run over the retracted rows, into a NEGATIVE
  * partial, and the reconciled sums telescope to the post-retraction
  * state ([[LedgerStore]]'s aggregate half). The store is
  * `partial`-sized per segment and keys-sized after reconcile, never
  * input-sized. */
class SumStore(keys: Seq[String], values: Seq[String])(
    private[sinks] val partial: (DataFrame, Long) => DataFrame) {

  private def reconcile(segs: DataFrame): DataFrame =
    if (values.isEmpty) segs.distinct()
    else segs.groupBy(keys.map(col): _*).agg(
      sum(col(values.head)).as(values.head),
      values.tail.map(v => sum(col(v)).as(v)): _*)

  /** foreachBatch hook: append batch N's partial as segment seq=N
    * (replay-idempotent — see [[AdditiveSegments]]). */
  def writer(path: String)(batch: DataFrame, batchId: Long): Unit =
    AdditiveSegments.write(partial(batch, batchId), path, batchId)

  /** Merge-on-read: the live reconciled table. */
  def read(spark: SparkSession, path: String): DataFrame =
    AdditiveSegments.read(spark, path, reconcile)

  /** read() that reports a segment-less table as None instead of
    * throwing. */
  def readOpt(spark: SparkSession, path: String): Option[DataFrame] =
    AdditiveSegments.readOpt(spark, path, reconcile)

  def compact(spark: SparkSession, path: String): Unit =
    AdditiveSegments.compact(spark, path, reconcile)

  /** `rows`' partial with every value negated — what a retraction of
    * those rows adds. */
  private[sinks] def negated(rows: DataFrame, batchId: Long): DataFrame =
    partial(rows, batchId).select(
      keys.map(col) ++ values.map(v => (-col(v)).as(v)): _*)

  /** Append one segment holding the sum of `partials` (nothing at all
    * when there are none). */
  private[sinks] def write(partials: Seq[DataFrame], path: String,
      batchId: Long): Unit = partials match {
    case Seq() => ()
    case Seq(p) => AdditiveSegments.write(p, path, batchId)
    case ps => AdditiveSegments.write(reconcile(ps.reduce(_ unionByName _)),
      path, batchId)
  }
}
