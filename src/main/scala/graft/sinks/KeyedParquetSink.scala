package graft.sinks

import org.apache.spark.sql.{AnalysisException, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S8/ST8: the keyed idempotent serving-table sink — the engine-native
  * form of the reference's "ES bulk with explicit doc _id into a per-day
  * index" (util/MyEsUtils.scala:41-56, doc-id choice
  * app/DwdDauApp.scala:167-180, app/DwdOrderApp.scala:244-251).
  *
  * Contract: replaying a batch (at-least-once upstream) leaves the table
  * unchanged; a newer version of a key replaces the older one; rows land
  * in their own dt partition (fixing the reference's head-row index-name
  * defect, SURVEY.md §3.2 step 5).
  *
  * Mechanics: union the incoming batch with the current table, keep the
  * newest row per key (version column, batch rows win ties), and rewrite
  * ONLY the dt partitions the batch touches (dynamic partition
  * overwrite). At 100 TB the rewrite is bounded by the day's partition
  * size, not the table size; a Delta/Iceberg MERGE is the drop-in
  * upgrade.
  */
object KeyedParquetSink {

  /** NOTE on the partition-scoped merge: only dt partitions present in
    * the incoming batch participate, so keys must be STABLE WITHIN dt
    * (include dt in keyCols, as the reference's per-day ES indexes do —
    * its doc _id is also only unique per index). A key that moves
    * between dt partitions is outside this contract: its old row stays
    * in the old partition.
    *
    * The batch executes exactly ONCE: it is local-checkpointed before
    * anything reads it, and `Dataset.observe` counts its rows and
    * collects its touched dt set on that same job. Over a stream's
    * foreachBatch frame each job would otherwise re-run the upstream
    * stateful operator. Only after that execution may
    * an EMPTY batch return — running it is what evicts
    * watermark-expired state and commits the next state version — and
    * then it returns at once: no read of the table, no merge, no
    * write, so a first-ever empty batch creates no directory and an
    * empty batch onto a table leaves every file untouched. */
  def upsert(batch: DataFrame, path: String, keyCols: Seq[String],
      dtCol: String, versionCol: String): Unit = {
    val spark = batch.sparkSession
    val cols = batch.columns
    val rows = Observation()
    // collect_set drops nulls, so a null dt is observed by its count
    val once = batch.observe(rows, count(lit(1)).as("n"),
        collect_set(col(dtCol)).as("dts"),
        count(when(col(dtCol).isNull, lit(1))).as("null_dts"))
      .localCheckpoint()
    val stats = rows.get
    if (stats("n") == 0L) return
    val touched = stats("dts").asInstanceOf[scala.collection.Seq[Any]].toSeq ++
      (if (stats("null_dts") == 0L) Nil else Seq(null))
    val incoming = once.withColumn("__is_new", lit(1))

    // The table is read with the BATCH's schema: no schema-inference
    // job, and partition inference cannot read a string dt back as
    // DATE — a merge over drifting types makes the content-hash
    // tie-break rank the same rows differently on replay (hashing a
    // date's int days vs a string), silently breaking the
    // replay-idempotence contract. A crashed first write that left only
    // `_temporary` debris reads as 0 rows, not UNABLE_TO_INFER_SCHEMA.
    def current() = spark.read.schema(batch.schema).parquet(path)
    val existing0 =
      try {
        // only partitions touched by this batch participate in the merge
        Some(current().filter(inDts(dtCol, touched))
          .withColumn("__is_new", lit(0)))
      } catch {
        // never written means first write; any other failure (e.g. a
        // corrupt footer) must abort, not silently clobber the table
        case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          None
      }
    // deleteWhere's full-wipe marker state: a readable-but-empty table
    // kept as ONE unpartitioned footer at the root — or a crashed first
    // write's footerless dir. The partitioned write below must not land
    // beside it (mixed root-file/partition-dir layouts break partition
    // discovery) — this sink never writes root files otherwise, so
    // no-dt-dirs + readable SHOULD mean exactly that marker. But
    // "should" is not a license to delete: pointed at a parquet
    // directory this sink does not own (data files at the root), the
    // old unconditional heal silently destroyed that data. Verify the
    // marker shape — a 0-row read — before clearing; anything else
    // fails loudly instead of wiping.
    val existing =
      if (existing0.isDefined &&
          Hfs.childDirs(spark, path, s"$dtCol=").isEmpty) {
        require(current().isEmpty,
          s"$path has root-level parquet data but no $dtCol= partition " +
            "dirs — not this sink's layout (expected the deleteWhere " +
            "empty-marker: a single 0-row footer). Refusing to heal by " +
            "deletion; move or convert the existing data first.")
        Hfs.deleteRecursive(spark, path)
        None
      } else existing0

    val unioned = existing.fold(incoming)(e => incoming.unionByName(e))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__is_new").desc,
        // deterministic last-resort tie-break (duplicate keys at equal
        // version WITHIN one batch): hash of the row content, so the
        // first run and every replay pick the same winner — without it
        // row_number's arbitrary choice could flip on replay and break
        // the replay-leaves-table-unchanged contract
        xxhash64(struct(cols.toIndexedSeq.map(col): _*)).desc)
    val merged = unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.toIndexedSeq.map(col): _*)
      // localCheckpoint: materialize BEFORE the overwrite starts, or the
      // dynamic overwrite would delete the files it is still reading.
      .localCheckpoint()

    // per-write dynamic overwrite (not session conf: mutating the session
    // would silently change OTHER writers' overwrite semantics)
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dtCol)
      .parquet(path)
  }

  /** S10: delete-by-query — rows matching `cond` removed; only touched dt
    * partitions are rewritten. Returns rows deleted. Re-runnable: a crash
    * between the rewrite and the emptied-partition cleanup below is
    * healed by running the same delete again. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      dtCol: String, cond: org.apache.spark.sql.Column): Long = {
    val cur = spark.read.parquet(path)
    val touchedDts = matchedDts(cur, dtCol, cond)
    if (touchedDts.isEmpty) return 0L
    val scoped = cur.filter(inDts(dtCol, touchedDts))
    // NULL-safe: a predicate evaluating to NULL means "not matched" — the
    // row must be RETAINED (and not counted). Bare filter(!cond) would
    // silently drop NULL-evaluating rows without counting them.
    val hit = coalesce(cond, lit(false))
    val deleted = scoped.filter(hit).count()
    // materialize BEFORE the overwrite: both read the files it replaces
    val remaining = scoped.filter(!hit)
      .select(cur.columns.toIndexedSeq.map(col): _*)
      .localCheckpoint()
    remaining.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dtCol).parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the output —
    // a dt whose every row matched produces no output partition and its
    // old files would silently survive ("deleted" rows resurrecting on
    // the next read). Remove emptied partitions explicitly; `touchedDts`
    // is bounded by the distinct dt count. Directory names use Hive's
    // partition-path encoding, NOT raw values: a dt containing a space
    // or colon writes an escaped dir, and a null dt writes the Hive
    // default partition — a raw-interpolated path would miss both, the
    // exists-check would no-op, and the "deleted" rows would resurrect.
    val remainingDts = remaining.select(col(dtCol)).distinct()
      .collect().map(_.get(0)).toSet
    def dirName(v: Any): String = v match {
      case null => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      case x => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(x.toString)
    }
    touchedDts.filterNot(remainingDts)
      .foreach(v => Hfs.deleteRecursive(spark, s"$path/$dtCol=${dirName(v)}"))
    // a delete that emptied the WHOLE table (no dt dir survives
    // anywhere, not merely in the touched set) left only _SUCCESS
    // behind — a footerless dir that wedges every later
    // read/delete/update with UNABLE_TO_INFER_SCHEMA. Keep the table
    // readable as empty with one unpartitioned schema-bearing footer,
    // which the next upsert verifies and clears. The static
    // overwrite is safe precisely because nothing is left to truncate.
    if (Hfs.childDirs(spark, path, s"$dtCol=").isEmpty)
      remaining.limit(0).write.mode(SaveMode.Overwrite).parquet(path)
    deleted
  }

  /** S10: update-by-query over the serving table (the ES painless
    * conditional update, EsTest.scala:178-195, as a relational
    * read-modify-write): rows matching `cond` get `set` applied; only dt
    * partitions containing matches are rewritten. Every `set` expression
    * and the predicate evaluate against the ORIGINAL row — all updated
    * columns are computed in one projection, so a set column feeding the
    * predicate (or another set expression) can never see an
    * already-updated value. `set` may only target existing columns. */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      dtCol: String, cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    val cur = spark.read.parquet(path)
    val unknown = set.keySet -- cur.columns.toSet
    require(unknown.isEmpty, s"updateWhere: unknown columns $unknown")
    // the PARTITION column may not be a set target: rows changing dt
    // would land in a partition the dynamic overwrite then REPLACES
    // with just the moved rows (destroying its residents) while their
    // source partition keeps the originals — duplication plus loss in
    // one statement. A partition move is a delete + upsert workflow.
    require(!set.contains(dtCol),
      s"updateWhere: '$dtCol' is the partition column — moving rows " +
        "across partitions is a deleteWhere + upsert, not an update")
    val touchedDts = matchedDts(cur, dtCol, cond)
    if (touchedDts.isEmpty) return 0L
    val scoped = cur.filter(inDts(dtCol, touchedDts))
    val hit = coalesce(cond, lit(false))
    val matched = scoped.filter(hit).count()
    scoped.select(cur.columns.toIndexedSeq.map { c =>
        set.get(c).fold(col(c))(v => when(hit, v).otherwise(col(c)).as(c))
      }: _*)
      .localCheckpoint()
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dtCol).parquet(path)
    matched
  }

  /** The dt values of the rows `cond` matches (a null dt included). */
  private def matchedDts(cur: DataFrame, dtCol: String,
      cond: org.apache.spark.sql.Column): Seq[Any] =
    cur.filter(cond).select(col(dtCol)).distinct().collect().map(_.get(0)).toSeq

  /** The null-safe partition scope every method rewrites: `dt IN (…)`,
    * plus `OR dt IS NULL` when a null dt was touched. A join or IN on
    * dt alone never matches `null = null`, so the Hive default
    * partition's rows would fall out of the scope — and the dynamic
    * overwrite would then replace that partition without them. */
  private def inDts(dtCol: String, dts: Seq[Any]): org.apache.spark.sql.Column = {
    val (nulls, values) = dts.partition(_ == null)
    val in = if (values.isEmpty) lit(false) else col(dtCol).isin(values: _*)
    if (nulls.isEmpty) in else in || col(dtCol).isNull
  }
}
