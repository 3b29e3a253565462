package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained phrase inverted index — the streaming twin
  * of the q65 batch build, RETRACTABLE since r17. Unlike the counting
  * sinks this store holds PER-DOC LEDGER ROWS (doc_id, phrase, occ,
  * ing — an [[IngestSegments]] row store with side-table tombstones)
  * and derives all five published aggregates at read time, NOT
  * per-phrase additive partials, because two of the five are not
  * invertible: min_doc/max_doc cannot be maintained under deletion by
  * any negative partial (deleting the min doc needs the second-min,
  * which only per-doc rows still know) — the same argument that made
  * [[BenchRegistrySink]] store per-doc pairs instead of a global hash
  * set. df/occ/id_sum ride along: over one-row-per-(doc, phrase) all
  * five are plain count/sum/min/max, so the read is one resolve + one
  * phrase-keyed aggregate.
  *
  * Costs vs the old additive form: a segment holds the batch's
  * (doc, phrase) pairs instead of its distinct phrases (bounded by
  * batch size either way), and the serving read aggregates pair rows
  * instead of merging per-segment partials — the corpus-pair-sized
  * scan every inverted-index build pays once, here paid per full-index
  * read (folds bound the fan-in; a production serving layer would keep
  * a derived additive cache in front, invalidated per batch). What the
  * pairs buy is exactness under retraction: a CDC-deleted doc leaves
  * df, occ, id_sum AND the min/max posting bounds, which no additive
  * store can do.
  *
  * A [[LedgerStore]] declaration with no aggregate: replay idempotence
  * is the row-store protocol (overwrite-by-own-id; ledger content
  * derives from the batch alone — no store read on any path, like
  * BenchRegistrySink and unlike the counting sinks' negative
  * partials). df stays exact under the one-doc-one-admission contract,
  * and under retraction + higher-ing re-ingest (the resolve leaves one
  * admission live).
  */
object PhraseIndexSink extends LedgerStore("doc_id",
    dedup = Seq("doc_id", "phrase")) {

  /** q65's per-doc ledger rows over one batch of (doc_id, text) — the
    * SAME builder the batch query aggregates (shared, cannot drift). */
  protected def rows(docs: DataFrame): DataFrame =
    graft.functions.TextOps.phraseDocRows(docs)

  /** Merge-on-read: resolve the ledger latest-wins, dedup crash-window
    * copies on the (doc, phrase) key, aggregate. `minDf` mirrors q65's
    * published df floor. */
  def read(spark: SparkSession, path: String, minDf: Long = 0L): DataFrame =
    graft.functions.TextOps.phraseFromRows(
        liveOrThrow(spark, path).dropDuplicates("doc_id", "phrase"))
      .filter(col("df") >= minDf)
}
