package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live dedup-cluster labels — the streaming twin of q115's
  * incremental clustering, for a pipeline whose near-dup EDGES arrive
  * per micro-batch (the index probes produce exactly these:
  * `DedupOps.lshIndex.probe` new↔indexed pairs plus the in-batch pair
  * pass). State is a VERSION CHAIN, not additive segments: batch N's
  * table is written as `seq=N`, computed by one
  * `DedupOps.contractionStep` from the latest committed version BELOW
  * N — so labels are a deterministic function of (predecessor, batch
  * edges) and an at-least-once foreachBatch retry recomputes the
  * identical table and overwrites its own `seq=N` (the same replay
  * contract every index family keeps, realized through determinism
  * instead of segment overwrite). Each version gets the
  * [[Hfs.CommitMarker]] after its write; a crash mid-write leaves a torn
  * dir without it, which [[committedSeqs]] never reads — the replay
  * heals it. Reading the chain head needs no merge: unlike the
  * additive sinks there is nothing to reconcile, the head IS the
  * state.
  *
  * Why not fold labels additively: label maintenance is
  * history-DEPENDENT (a later batch can relabel earlier rows), which
  * is exactly what [[AdditiveSegments]]' decomposable-sum contract
  * excludes; the version chain keeps idempotence by making each
  * version a pure function of its predecessor.
  *
  * Scale note: each version rewrites the label table once
  * (dup-doc-sized, far below corpus-sized) plus one
  * `DedupOps.collapseClusters` over the CONTRACTED batch graph only —
  * the q115 cost shape. [[compact]] bounds disk to the chain head plus
  * the replayable tail.
  *
  * RETRACTION (r16): deleting a NODE is the one update a contraction
  * step cannot express — removing a doc can SPLIT its cluster (the
  * doc was a cut vertex) or change its rep (the doc was the min id),
  * and labels alone cannot tell which, so retraction needs the EDGE
  * PROVENANCE the labels were built from. The sink therefore also
  * persists each batch's edges (`$path/edges`, an [[IngestSegments]]
  * row store under the tombstone convention: rows (doc_a, doc_b,
  * tomb, ing); a doc tombstone is (doc, -1, true, ing); an edge is
  * LIVE iff its `ing` is above BOTH endpoints' newest tombstones —
  * both-endpoint liveness, because a retracted doc kills every edge
  * it touches while its partner survives through its other edges).
  * [[retract]] then recomputes ONLY the retracted docs' clusters from
  * their surviving edges and splices: untouched clusters never move,
  * the recompute is affected-component-sized, and a doc whose every
  * edge died leaves the table (the label table's contract is "every
  * doc in at least one pair" — q62's oracle reach is FROM edges).
  * Production pipelines keep exactly this pair provenance anyway (the
  * edges are the index probes' output, and survivorship audits read
  * them); the store prices it honestly. */
object LabelSink {

  private[graft] def committedSeqs(spark: SparkSession, path: String): Seq[Long] =
    Hfs.childDirs(spark, path, "seq=")
      .map(_.stripPrefix("seq=").toLong)
      .filter(id => Hfs.segmentCommitted(spark, s"$path/seq=$id"))
      .sorted

  /** The current label table — the newest committed version; empty
    * before the first commit. */
  def read(spark: SparkSession, path: String): DataFrame =
    committedSeqs(spark, path).lastOption
      .map(id => spark.read.parquet(s"$path/seq=$id"))
      .getOrElse(graft.functions.DedupOps.emptyLabels(spark))

  /** foreachBatch hook: advance the chain by this batch's edge frame
    * `(doc_a, doc_b)`. Reads the latest committed version STRICTLY
    * below batchId (a retry must see the same predecessor its first
    * attempt saw, never its own torn or committed output), applies one
    * contraction step, writes `seq=batchId` in overwrite mode. */
  def writer(path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // edge provenance first (both writes overwrite-by-own-id; a crash
    // between them replays to identical content — the labels are a
    // pure function of (predecessor, batch), the edges of the batch)
    batch.select(col("doc_a"), col("doc_b")).distinct()
      .select(col("doc_a"), col("doc_b"), lit(false).as("tomb"),
        lit(batchId).as("ing"))
      .write.mode("overwrite").parquet(s"$path/edges/ingest=$batchId")
    val prev = prevLabels(spark, path, batchId)
    val (plan, release) = graft.functions.DedupOps.contractionStep(prev, batch)
    try writeVersion(plan, path, batchId) finally release()
  }

  /** Write version `seq=batchId`, then its commit marker — our own, not
    * the committer's `_SUCCESS`, which Spark omits under
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`. The
    * overwrite clears a replayed attempt's marker with its data. */
  private def writeVersion(table: DataFrame, path: String,
      batchId: Long): Unit = {
    val dir = s"$path/seq=$batchId"
    table.write.mode("overwrite").parquet(dir)
    Hfs.markSegmentCommitted(table.sparkSession, dir)
  }

  private def prevLabels(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    committedSeqs(spark, path).filter(_ < batchId).lastOption
      .map(id => spark.read.parquet(s"$path/seq=$id"))
      .getOrElse(graft.functions.DedupOps.emptyLabels(spark))

  /** Retraction hook (the CDC `D` route applied to the label chain):
    * `batch` carries the retracted doc_ids. Advances the chain by one
    * version in which the retracted docs' CLUSTERS are recomputed from
    * their surviving edges — splits, rep changes and disappearing
    * singletons all fall out of the recompute — while every untouched
    * cluster's rows are carried verbatim.
    *
    * Determinism on replay (the chain's idempotence contract): the
    * recompute reads only edge segments with `ing < batchId` (all
    * checkpoint-committed — Structured Streaming cannot start batch N
    * before N−1 committed) resolved against tombstones with
    * `ing < batchId` PLUS this batch's own doc set injected directly
    * from the batch content — so whether or not the first attempt's
    * tombstone segment landed, the replay computes byte-identical
    * labels. Cost: the recompute collapses only the affected
    * clusters' surviving edges (affected-component-sized); the splice
    * is one anti-join on the rep set (broadcast — retraction-sized). */
  def retract(path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col("doc_id")).distinct().persist()
    try {
      val prev = prevLabels(spark, path, batchId)
      writeVersion(retractedTable(spark, path, prev, docs, batchId),
        path, batchId)
      // tombstones last: the recompute above never reads its own
      // batch's store rows, so replay is identical either way
      docs.select(col("doc_id").as("doc_a"), lit(-1L).as("doc_b"),
          lit(true).as("tomb"), lit(batchId).as("ing"))
        .write.mode("overwrite").parquet(s"$path/edges/ingest=$batchId")
    } finally { docs.unpersist(false); () }
  }

  /** `prev` with the retracted docs' clusters recomputed from their
    * surviving edges — the splice [[retract]] writes directly and
    * [[cdc]] feeds into its contraction step. */
  private def retractedTable(spark: SparkSession, path: String,
      prev: DataFrame, docs: DataFrame, batchId: Long): DataFrame = {
    val affectedReps = prev
      .join(broadcast(docs), Seq("doc_id"), "left_semi")
      .select(col("cluster_rep")).distinct().localCheckpoint()
    val extraTombs = docs
      .select(col("doc_id").as("doc"), lit(batchId).as("ing"))
    val live = liveEdges(spark, path, batchId, extraTombs)
    // an edge's endpoints share a cluster by construction, so one
    // endpoint's label decides membership in the affected set
    val la = prev.select(col("doc_id").as("doc_a"),
      col("cluster_rep").as("ra"))
    val surviving = live.join(la, Seq("doc_a"))
      .join(broadcast(affectedReps.select(col("cluster_rep").as("ra"))),
        Seq("ra"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
    val delta = graft.functions.DedupOps.collapseClusters(surviving)
    prev.join(broadcast(affectedReps), Seq("cluster_rep"), "left_anti")
      .select(col("doc_id"), col("cluster_rep"))
      .unionByName(delta.select(col("doc_id"), col("cluster_rep")))
  }

  /** foreachBatch hook for a MIXED CDC stream — one micro-batch can
    * carry edges and deletes together (the LedgerStore.cdc shape
    * applied to the chain): rows with `op = 'D'` retract doc_a, every
    * other row is an edge (doc_a, doc_b). Within the batch DELETE
    * WINS — an edge touching a doc deleted in the same batch is never
    * admitted — and the chain advances by ONE version: the retraction
    * recompute runs first (against the pre-batch edge store plus this
    * batch's deletes), then the surviving edges contract onto that
    * spliced table. Deterministic in (predecessor, batch) like every
    * version, so replays rebuild the identical head. */
  def cdc(path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val dels = batch.filter(col("op") === "D")
      .select(col("doc_a").as("doc_id")).distinct().persist()
    val edges = batch.filter(col("op") =!= "D")
      .select(col("doc_a"), col("doc_b")).distinct()
      .join(broadcast(dels.select(col("doc_id").as("doc_a"))),
        Seq("doc_a"), "left_anti")
      .join(broadcast(dels.select(col("doc_id").as("doc_b"))),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b")).persist()
    try {
      // ONE edge-store segment: surviving edges + doc tombstones
      edges.select(col("doc_a"), col("doc_b"), lit(false).as("tomb"),
          lit(batchId).as("ing"))
        .unionByName(dels.select(col("doc_id").as("doc_a"),
          lit(-1L).as("doc_b"), lit(true).as("tomb"),
          lit(batchId).as("ing")))
        .write.mode("overwrite").parquet(s"$path/edges/ingest=$batchId")
      val prev = prevLabels(spark, path, batchId)
      // the retraction splice exists only for deletes — the
      // overwhelmingly common pure-edge batch must not pay the edge
      // store scan + checkpoints (the LedgerStore write-path guard)
      val spliced =
        if (dels.isEmpty) prev
        else retractedTable(spark, path, prev, dels, batchId)
      val (plan, release) =
        graft.functions.DedupOps.contractionStep(spliced, edges)
      try writeVersion(plan, path, batchId) finally release()
    } finally { dels.unpersist(false); edges.unpersist(false); () }
  }

  /** The live edge set as of (strictly before) `batchId`: committed
    * edge rows resolved against BOTH endpoints' tombstones, each copy
    * live iff newer than both (a re-emitted edge after a resurrection
    * carries a higher ing and revives the pair), deduped to the edge
    * key. `extraTombs` injects the in-flight batch's own retractions
    * (doc, ing) so the computation never depends on its own store
    * write having landed. */
  private def liveEdges(spark: SparkSession, path: String, batchId: Long,
      extraTombs: DataFrame): DataFrame =
    IngestSegments.readLive(spark, s"$path/edges") match {
      case None =>
        spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"))
      case Some(raw0) =>
        val raw = raw0.filter(col("ing") < batchId)
        val tombs = raw.filter(col("tomb"))
          .select(col("doc_a").as("doc"), col("ing"))
          .unionByName(extraTombs)
          .groupBy(col("doc")).agg(max(col("ing")).as("ti"))
          .localCheckpoint()
        raw.filter(!col("tomb"))
          .join(broadcast(tombs.select(col("doc").as("doc_a"),
            col("ti").as("ta"))), Seq("doc_a"), "left")
          .join(broadcast(tombs.select(col("doc").as("doc_b"),
            col("ti").as("tb"))), Seq("doc_b"), "left")
          .filter((col("ta").isNull || col("ing") > col("ta")) &&
            (col("tb").isNull || col("ing") > col("tb")))
          .select(col("doc_a"), col("doc_b")).dropDuplicates()
    }

  /** Drop every committed version except the last TWO. The head alone
    * is not enough: if the HEAD batch's checkpoint commit hadn't
    * landed when we compacted, Structured Streaming replays it — and
    * the replay recomputes the head FROM ITS PREDECESSOR, which must
    * therefore still exist (the version-chain analog of
    * IngestSegments' keep-the-newest-batch-segment rule). Batches
    * older than the head can never come back, so their versions are
    * dead weight. Ascending deletes: a crash mid-compact leaves the
    * newest versions standing. Torn (never committed) dirs are left
    * for their replay to overwrite. */
  def compact(spark: SparkSession, path: String): Unit = {
    val ids = committedSeqs(spark, path)
    ids.dropRight(2).sorted.foreach(id =>
      Hfs.deleteRecursive(spark, s"$path/seq=$id"))
    // edge provenance folds under the tombstone convention: per edge
    // keep the newest LIVE copy (a copy is live iff newer than both
    // endpoints' newest tombstones — both-endpoint resolution, as the
    // read side), tombstones kept newest-per-doc with their ing, so a
    // crash-window leftover source segment resolves every row to the
    // same verdict as the fold. Tail-segment tombstones the fold never
    // saw still apply at read time (liveEdges reads fold + tail).
    IngestSegments.compact(spark, s"$path/edges",
      fold = { src =>
        val tombs = src.filter(col("tomb"))
          .groupBy(col("doc_a")).agg(max(col("ing")).as("ing"))
        val t = tombs.select(col("doc_a").as("doc"), col("ing").as("ti"))
        src.filter(!col("tomb"))
          .join(broadcast(t.select(col("doc").as("doc_a"),
            col("ti").as("ta"))), Seq("doc_a"), "left")
          .join(broadcast(t.select(col("doc").as("doc_b"),
            col("ti").as("tb"))), Seq("doc_b"), "left")
          .filter((col("ta").isNull || col("ing") > col("ta")) &&
            (col("tb").isNull || col("ing") > col("tb")))
          .groupBy(col("doc_a"), col("doc_b")).agg(max(col("ing")).as("ing"))
          .select(col("doc_a"), col("doc_b"), lit(false).as("tomb"),
            col("ing"))
          .unionByName(tombs.select(col("doc_a"), lit(-1L).as("doc_b"),
            lit(true).as("tomb"), col("ing")))
      }, Seq.empty)
  }
}
