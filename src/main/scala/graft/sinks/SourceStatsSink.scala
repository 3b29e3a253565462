package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained per-source corpus statistics — the live
  * "dataset card" a streaming ingest keeps current, RETRACTABLE since
  * r17 (a retired source's docs must leave the card, or the q84
  * mixture plan budgets tokens against ghost mass forever). The
  * [[VocabSink]] two-sub-store architecture with the cheapest possible
  * ledger — ONE row per doc:
  *
  *  - `rows`: per-doc (doc_id, source, n, ing) [[IngestSegments]]
  *    ledger, retracted docs tombstoned in the `tomb` side table. Read
  *    only on deletes.
  *  - `agg`: per-batch (source, n_docs, n_tokens) partials as
  *    [[AdditiveSegments]]; retraction writes the retracted docs' live
  *    ledger rows as a NEGATIVE partial, so the reconciled sums
  *    telescope to the post-retraction corpus and serving reads stay
  *    SOURCES-sized.
  *
  * Replay/idempotence, delete-wins-within-batch, and the
  * exclude-own-batch negative partial are [[LedgerStore]]'s (the
  * canonical write-up). `mixturePlan` runs q84's α=0.5 tempered
  * planner over the live reconciled table.
  */
object SourceStatsSink extends LedgerStore("doc_id",
    dedup = Seq("doc_id"), ledger = "/rows",
    agg = Some("agg" -> new SumStore(Seq("source"), Seq("n_docs", "n_tokens"))(
      (rows, _) => graft.functions.TextOps.sourceStatsFromRows(rows)))) {

  protected def rows(docs: DataFrame): DataFrame =
    graft.functions.TextOps.sourceStatsDocRows(docs)

  /** Merge-on-read: the LIVE (source, n_docs, n_tokens) table; a
    * source whose docs all retracted telescopes to zero and leaves. */
  def read(spark: SparkSession, path: String): DataFrame =
    aggregate(spark, path).filter(col("n_docs") > 0)

  /** The q84-shaped planning view over the live statistics. */
  def mixturePlan(spark: SparkSession, path: String, budget: Long): DataFrame =
    graft.functions.TextOps.temperedPlan(read(spark, path), budget)
}
