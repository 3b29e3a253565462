package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained benchmark gram-hash REGISTRY — q164's
  * lifecycle twin of q162's batch decontamination, the q156 convention
  * applied to the eval side: eval suites evolve (new benchmarks land,
  * contamination windows extend), and re-deriving the gram vocabulary
  * from every raw benchmark document per decontamination run re-pays
  * the tokenize+hash for the whole registry when only one batch is
  * new. Here each benchmark ingest batch writes its distinct
  * (doc_id, gram-hash) pairs as an [[IngestSegments]] row segment, and
  * decontamination is served from the stored set.
  *
  * The rows are PER-DOC pairs, not a global distinct hash set, because
  * eval suites also RETIRE (a benchmark pulled for license or leakage
  * reasons must stop cutting training docs): retraction is per doc,
  * and a gram shared by a retracted and a surviving benchmark doc must
  * survive — only the pair rows tell those apart. A [[LedgerStore]]
  * declaration with no aggregate: `retract` writes one side-table
  * tombstone per doc under the [[IngestSegments]] retraction
  * convention, a later `writer` batch re-admitting a doc resurrects it
  * (higher `ing`), `cdc` is the delete-wins mixed hook, and
  * [[registry]] resolves latest-wins per doc before projecting the hash
  * set. All ledger content derives from the batch alone (no store read
  * on any path), so replay idempotence is trivial.
  *
  * The served registry is a SET, which buys the simplest possible
  * serving contract: replay/crash-window duplicates across segments —
  * and the pair rows' own cross-doc repeats — are semantically
  * invisible (the serving router distincts before broadcasting — the
  * same `.distinct()` the batch path already owed), so the row-store
  * protocol (overwrite-by-batch-id replay, rename-before-delete
  * compaction, duplicate-tolerant reads) applies with a
  * resolve-and-dedup fold and no additive reconciliation at all —
  * contrast [[SubstrIndexSink]], whose counts store cannot tolerate
  * duplicates.
  *
  * Ingest cost tracks the BATCH (its own distinct pairs); retraction
  * cost is one tombstone row per retired doc; the registry is never
  * rewritten and the training corpus is never touched by any registry
  * maintenance. Reference behavior: the dim-table upsert lifecycle
  * (reference `app/OdsBaseDbApp.scala:89-130` routes dim changes —
  * including the `D` op — into an incrementally-maintained store the
  * serving join reads) — re-expressed for the decontamination
  * registry.
  */
object BenchRegistrySink extends LedgerStore("doc_id",
    dedup = Seq("doc_id", "h"),
    // the q162 benchmark cut — the ONE shared boundary constant: the
    // hooks filter it so lifecycle batches can feed the raw mixed
    // table, and the serving side filters train with the same value, so
    // a one-sided retune cannot make docs both registry members and cut
    // targets
    scope = col("doc_id") < graft.functions.DedupOps.DecontamBenchCut) {

  /** q162's decontamination witness length — registry geometry; a
    * retune requires a rebuild (stored hashes are L-specific). */
  private val L = 4

  /** The batch's benchmark docs reduce to their distinct
    * (doc_id, gram-hash) pairs — batch-bounded work. */
  protected def rows(docs: DataFrame): DataFrame =
    graft.functions.DedupOps.gramPositions(docs, L)
      .select(col("doc_id"), col("h")).distinct()

  /** The live registry — gram hashes of the resolved (non-retracted)
    * benchmark docs, with possible duplicates (a gram shared by two
    * benchmark docs, or a compaction-race double-read); consumers
    * distinct. Empty frame when nothing is stored yet: an empty
    * registry cuts nothing, so decontamination passes every doc
    * through — the correct cold-start semantic. */
  def registry(spark: SparkSession, path: String): DataFrame =
    live(spark, path).map(_.select(col("h")))
      .getOrElse(spark.range(0).select(col("id").as("h")))
}
