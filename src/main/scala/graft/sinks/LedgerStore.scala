package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IngestSegments.TombStat

/** A RETRACTABLE, key-tombstoned ledger: the one definition behind every
  * store the CDC `D` route deletes from by tombstone (the reference's
  * `app/OdsBaseDbApp.scala:102-106` delete, applied to the serving
  * stores). Each store declares only what differs — its `key` (doc or
  * user), its row builder [[rows]], its tombstone shape, its dedup
  * columns and an optional additive aggregate — and this class owns the
  * three hooks, the write path, the resolve and the fold.
  *
  *  - Ledger: an [[IngestSegments]] row store at `path + ledger`, one
  *    `ingest=N` segment per batch holding the batch's rows plus one
  *    TOMBSTONE row per deleted key, every row carrying `ing` = the
  *    writing batch's id as DATA (the [[IngestSegments]] retraction
  *    convention: latest-wins per key, a later re-ingest resurrects).
  *    A tombstone is marked by `tomb` — a sentinel the row builder can
  *    never produce (`NonNegative`: its `fill` value is negative) or an
  *    explicit flag (`NeverTrue`: live rows write false) — and its other
  *    columns take their `fill` values. Column order is `key`, then the
  *    `fill` columns, then `ing`.
  *  - Aggregate (optional): a [[SumStore]] at `path/<dir>`. Each batch
  *    writes ONE partial — its admitted rows' partial plus the
  *    [[SumStore.negated]] partial of the deleted keys' LIVE rows, read
  *    back from the ledger itself (doc-keyed: the deleted text may no
  *    longer exist upstream, which is why the subtraction must come from
  *    the store) — so the reconciled sums telescope to exactly the live
  *    rows with no store rewrite.
  *
  * Write path (one for all three hooks): DELETE WINS within a batch — an
  * in-batch-deleted key's insert rows are anti-joined away before the
  * row builder, so the aggregate stays consistent with the tombstone,
  * and the tombstone still kills any earlier admission. The ledger read
  * happens only for deletes into a store with an aggregate (a
  * pure-ingest batch, the common one, pays no store scan), and it
  * EXCLUDES this batch's own rows (`ing != batchId`): both writes are
  * overwrite-by-own-id (the additive one marker-gated), so a crash
  * between or after them replays to byte-identical content. Retracting
  * a dead or never-ingested key resolves to zero live rows, so a
  * subtraction can never happen twice. The live rows are deduped on
  * `dedup` first: a compact-race double read must not double it.
  *
  * Fold ([[compact]]): resolve latest-wins, project the ledger columns,
  * dedup crash-window copies on `dedup`, and union the tombstones back
  * (newest per key, `ing` preserved) — KEEPING them is what makes the
  * rename-before-delete crash window safe ([[IngestSegments]]'s
  * tombstone convention). The aggregate sum-folds beside it.
  *
  * `scope` restricts which keys the store admits or retracts at all (on
  * both sides of the batch). The ledger exists to make retraction exact;
  * which reads serve from it, and which from the aggregate, is each
  * store's own view. */
abstract class LedgerStore(key: String, tomb: TombStat,
    fill: Seq[(String, Column)], dedup: Seq[String], ledger: String = "",
    agg: Option[(String, SumStore)] = None, scope: Column = lit(true)) {

  /** The batch's ledger rows: `key`, then the `fill` columns (less the
    * `NeverTrue` flag, which the write adds). */
  protected def rows(batch: DataFrame): DataFrame

  private val isTomb = tomb match {
    case TombStat.NonNegative(c) => col(c) < 0
    case TombStat.NeverTrue(c) => col(c)
  }

  private val columns = key +: fill.map(_._1) :+ "ing"

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
    val admitted = ins.map { i =>
      val in = i.filter(scope)
      shared(rows(keys.fold(in)(k => in.join(broadcast(k), Seq(key), "left_anti"))))
    }
    try {
      val neg = for {
        (_, sums) <- agg
        k <- keys if !k.isEmpty
        raw <- IngestSegments.readLive(k.sparkSession, path + ledger)
      } yield sums.negated(resolve(raw.filter(col("ing") =!= batchId))
        .dropDuplicates(dedup).join(broadcast(k), Seq(key), "left_semi"), batchId)
      val flagged = admitted.map(r => tomb match {
        case TombStat.NeverTrue(c) => r.withColumn(c, lit(false))
        case _ => r
      })
      (flagged.map(_.withColumn("ing", lit(batchId))) ++
          keys.map(tombs(_, lit(batchId)))).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$path$ledger/ingest=$batchId")
      agg.foreach { case (dir, sums) =>
        sums.write(admitted.map(sums.partial(_, batchId)).toSeq ++ neg,
          s"$path/$dir", batchId)
      }
    } finally if (agg.isDefined) (keys ++ admitted).foreach(_.unpersist(false))
  }

  private def tombs(keys: DataFrame, ing: Column): DataFrame =
    keys.select(col(key) +: fill.map { case (n, c) => c.as(n) } :+ ing.as("ing"): _*)

  private def resolve(raw: DataFrame): DataFrame =
    IngestSegments.resolveTombstones(raw, key, "ing", isTomb, tomb)

  /** The LIVE ledger rows (tombstones resolved latest-wins on `ing`,
    * crash-window copies NOT yet deduped — a view dedups where its plan
    * wants it). None when nothing is stored. */
  protected def live(spark: SparkSession, path: String): Option[DataFrame] =
    IngestSegments.readLive(spark, path + ledger).map(resolve)

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

  /** Fold both sub-stores: ledger dead rows drop, tombstones are KEPT
    * (newest per key); aggregate partials sum-fold (negatives and
    * positives telescope into the fold). */
  def compact(spark: SparkSession, path: String): Unit = {
    IngestSegments.compact(spark, path + ledger, fold, Seq.empty)
    agg.foreach { case (dir, sums) => sums.compact(spark, s"$path/$dir") }
  }

  private def fold(src: DataFrame): DataFrame =
    IngestSegments.resolveTombstones(src, key, "ing", isTomb)
      .select(columns.map(col): _*).dropDuplicates(dedup)
      .unionByName(tombs(src.filter(isTomb)
        .groupBy(col(key)).agg(max(col("ing")).as("ing")), col("ing")))
}
