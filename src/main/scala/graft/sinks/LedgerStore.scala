package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A RETRACTABLE, key-tombstoned ledger: the one definition behind every
  * store the CDC `D` route deletes from by tombstone (the reference's
  * `app/OdsBaseDbApp.scala:102-106` delete, applied to the serving
  * stores). Each store declares only what differs — its `key` (doc or
  * user), its row builder [[rows]], its dedup columns and an optional
  * additive aggregate — and this class owns the three hooks, the write
  * path, the resolve and the fold.
  *
  *  - Ledger: an [[IngestSegments]] row store at `path + ledger`, one
  *    `ingest=N` segment per batch holding the batch's rows, every row
  *    carrying `ing` = the writing batch's id as DATA. Deleted keys go
  *    to the tombstone side table `path/tomb` as (key, ing) rows — the
  *    [[IngestSegments]] retraction convention [[SegmentIndex]] uses
  *    too: latest-wins per key, a later re-ingest resurrects, and a
  *    store that never retracted has no side table to resolve.
  *  - Aggregate (optional): a [[SumStore]] at `path/<dir>`. Each batch
  *    writes ONE partial — its admitted rows' partial plus the
  *    [[SumStore.negated]] partial of the deleted keys' LIVE rows, read
  *    back from the ledger itself (doc-keyed: the deleted text may no
  *    longer exist upstream, which is why the subtraction must come from
  *    the store) — so the reconciled sums telescope to exactly the live
  *    rows with no store rewrite.
  *
  * Write path (one for all three hooks): DELETE WINS within a batch — a
  * tombstone kills the rows of its own batch id, so an in-batch-deleted
  * key's rows land in the ledger dead, and only the aggregate's partial
  * anti-joins them away. The ledger read happens only for deletes into a
  * store with an aggregate (a pure-ingest batch, the common one, pays no
  * store scan), and it EXCLUDES this batch's own rows and tombstones:
  * every write is overwrite-by-own-id (the additive one marker-gated),
  * so a crash between or after them replays to byte-identical content.
  * The tombstones land LAST: while a batch's tombstone segment is
  * missing its aggregate may be missing too, and a fold must not have
  * dropped the rows that batch's replay subtracts. Retracting a dead or
  * never-ingested key resolves to zero live rows, so a subtraction can
  * never happen twice. The live rows are deduped on `dedup` first: a
  * compact-race double read must not double it.
  *
  * Fold ([[compact]]): resolve latest-wins, dedup crash-window copies on
  * `dedup`, then purge the side table's inert tombstones, the
  * [[SegmentIndex.compact]] order. The aggregate sum-folds beside it.
  *
  * `scope` restricts which keys the store admits or retracts at all (on
  * both sides of the batch). The ledger exists to make retraction exact;
  * which reads serve from it, and which from the aggregate, is each
  * store's own view. Every `Lifecycle` kind that builds one carries the
  * layout version in its name (`-side`: tombstones in the side table),
  * so a layout change rebuilds instead of misreading an older store. */
abstract class LedgerStore(key: String, dedup: Seq[String],
    ledger: String = "", agg: Option[(String, SumStore)] = None,
    scope: Column = lit(true)) {

  /** The batch's ledger rows, `key` among them. */
  protected def rows(batch: DataFrame): DataFrame

  private def tombs(path: String): String = s"$path/tomb"

  /** foreachBatch hook for pure-ingest streams. */
  def writer(path: String)(batch: DataFrame, batchId: Long): Unit =
    write(path, Some(batch), None, batchId)

  /** Retraction hook (the CDC `D` route): `batch` carries the deleted
    * keys. */
  def retract(path: String)(batch: DataFrame, batchId: Long): Unit =
    write(path, None, Some(batch), batchId)

  /** foreachBatch hook for a MIXED CDC stream — the reference's
    * OdsBaseDbApp batch shape: `op = 'D'` rows retract their key, every
    * other row ingests; delete wins within the batch. */
  def cdc(path: String)(batch: DataFrame, batchId: Long): Unit =
    write(path, Some(batch.filter(col("op") =!= "D")),
      Some(batch.filter(col("op") === "D")), batchId)

  private def write(path: String, ins: Option[DataFrame],
      dels: Option[DataFrame], batchId: Long): Unit = {
    // with an aggregate, the keys and the rows each feed two writes
    def shared(df: DataFrame) = if (agg.isDefined) df.persist() else df
    val keys = dels.map(d => shared(d.filter(scope).select(col(key)).distinct()))
    val batchRows = ins.map(i => shared(rows(i.filter(scope))))
    try {
      val neg = for {
        (_, sums) <- agg
        k <- keys if !k.isEmpty
        raw <- IngestSegments.readLive(k.sparkSession, path + ledger)
      } yield sums.negated(IngestSegments.resolveTombstones(
          raw.filter(col("ing") =!= batchId), tombs(path), key, Some(batchId))
        .dropDuplicates(dedup).join(broadcast(k), Seq(key), "left_semi"), batchId)
      batchRows.foreach(_.withColumn("ing", lit(batchId))
        .write.mode("overwrite").parquet(s"$path$ledger/ingest=$batchId"))
      agg.foreach { case (dir, sums) =>
        val admitted = batchRows.map(r =>
          keys.fold(r)(k => r.join(broadcast(k), Seq(key), "left_anti")))
        sums.write(admitted.map(sums.partial(_, batchId)).toSeq ++ neg,
          s"$path/$dir", batchId)
      }
      keys.foreach(IngestSegments.writeTombstones(_, tombs(path), key, batchId))
    } finally if (agg.isDefined) (keys ++ batchRows).foreach(_.unpersist(false))
  }

  /** The LIVE ledger rows (tombstones resolved latest-wins on `ing`,
    * crash-window copies NOT yet deduped — a view dedups where its plan
    * wants it). None when nothing is stored. */
  protected def live(spark: SparkSession, path: String): Option[DataFrame] =
    IngestSegments.readLive(spark, path + ledger)
      .map(IngestSegments.resolveTombstones(_, tombs(path), key))

  /** [[live]] for views where an unwritten store is a misconfiguration. */
  protected def liveOrThrow(spark: SparkSession, path: String): DataFrame =
    live(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no index segments under $path$ledger"))

  /** The reconciled aggregate; None while no segment is committed (a
    * store whose batches so far only retracted, or built nothing). */
  protected def aggregateOpt(spark: SparkSession, path: String): Option[DataFrame] =
    agg.flatMap { case (dir, sums) => sums.readOpt(spark, s"$path/$dir") }

  protected def aggregate(spark: SparkSession, path: String): DataFrame = {
    val (dir, sums) = agg.get
    sums.read(spark, s"$path/$dir")
  }

  /** Fold the ledger (dead rows drop), then the side table with the
    * ledger's rows protected (inert tombstones retire); aggregate
    * partials sum-fold (negatives and positives telescope into the
    * fold). */
  def compact(spark: SparkSession, path: String): Unit = {
    IngestSegments.compact(spark, path + ledger, src =>
      IngestSegments.resolveTombstones(src, tombs(path), key)
        .drop("ingest").dropDuplicates(dedup), Seq.empty)
    IngestSegments.compactTombstones(spark, tombs(path), key,
      Some(IngestSegments.readTombstones(spark, path + ledger, key)))
    agg.foreach { case (dir, sums) => sums.compact(spark, s"$path/$dir") }
  }
}
