package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained corpus vocabulary — the streaming twin of
  * the q82 batch build, RETRACTABLE since r17 (the ghost-doc problem
  * q167 fixed for the substring card applied here: a doc deleted via
  * the CDC `D` route must leave the live vocabulary, or every
  * tokenizer-training read counts it forever). Two sub-stores per
  * table path, the [[SubstrIndexSink]] architecture:
  *
  *  - `rows`: each batch's per-doc token ledger (doc_id, token, tf,
  *    ing) as an [[IngestSegments]] row store; `ing` is the writing
  *    batch's id persisted as DATA, and retracted docs are tombstoned
  *    in the `tomb` side table. The
  *    ledger exists ONLY to make retraction exact — serving reads
  *    never touch it; its per-batch cost is the batch's distinct
  *    (doc, token) pairs, and folds drop dead rows so it tracks the
  *    live corpus, not history.
  *  - `agg`: each batch's (token, freq, df) partial as
  *    [[AdditiveSegments]] (sum-reconciled). Retraction writes a
  *    NEGATIVE partial — the retracted docs' live (token, tf) rows,
  *    read back from the ledger — so the reconciled sums telescope to
  *    exactly the post-retraction corpus with no store rewrite, and
  *    the serving read stays VOCABULARY-sized (Heaps' law) however
  *    large the corpus.
  *
  * A [[LedgerStore]] declaration: the hooks, the replay/idempotence
  * story (both writes overwrite-by-own-id, the negative partial computed
  * EXCLUDING this batch's own rows, a dead or never-ingested doc
  * resolving to zero live rows → no subtraction) and the folds are
  * that class's. df stays additive under the one-doc-one-admission
  * contract (a doc's tokens arrive in exactly one batch; retraction +
  * higher-ing re-ingest preserves it because the resolve leaves exactly
  * one admission live).
  */
object VocabSink extends LedgerStore("doc_id",
    dedup = Seq("doc_id", "token"), ledger = "/rows",
    agg = Some("agg" -> new SumStore(Seq("token"), Seq("freq", "df"))(
      (rows, _) => graft.functions.TextOps.vocabFromRows(rows)))) {

  protected def rows(docs: DataFrame): DataFrame =
    graft.functions.TextOps.vocabDocRows(docs)

  /** Merge-on-read: the LIVE (token, freq, df) table. The df > 0
    * filter drops exactly-telescoped-to-zero tokens (every occurrence
    * retracted) — the batch build over the live corpus has no row for
    * them. */
  def read(spark: SparkSession, path: String): DataFrame =
    aggregate(spark, path).filter(col("df") > 0)

  /** read() tolerating a segment-less table (cold-start streams whose
    * batches so far tokenized to nothing). */
  def readOpt(spark: SparkSession, path: String): Option[DataFrame] =
    aggregateOpt(spark, path).map(_.filter(col("df") > 0))

  /** The q82-shaped view: deterministic top-k with dense ranks. */
  def topK(spark: SparkSession, path: String, k: Int = 200): DataFrame =
    graft.functions.TextOps.vocabTopK(read(spark, path), k)
}
