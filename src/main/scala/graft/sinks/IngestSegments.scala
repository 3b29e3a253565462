package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The per-ingest segment lifecycle under every [[SegmentIndex]] (the
  * MinHash-LSH bands/docs, embedding-LSH bands/vecs, chunk-hash, ANN
  * corpus and PQ codes tables) and the other row stores: each ingest —
  * a bulk bootstrap (negative id) or a streaming micro-batch (batchId
  * ≥ 0, overwrite-on-replay) — owns a `tablePath/ingest=N` directory,
  * and compaction folds old segments into one negative-id segment to
  * bound directory/file count after thousands of micro-batches (the
  * small-files problem every per-batch store accrues).
  *
  * Compaction contract: fold every segment EXCEPT the newest
  * non-negative ingest — the only one Structured Streaming can still
  * replay (older batch ids are checkpoint-committed and can never come
  * back), so its overwrite-by-ingest replay contract survives
  * untouched. The fold id is strictly below every existing id (so it
  * can never collide with a live directory nor be overwritten by a
  * future batch), and the fold dir carries a `_FOLD` marker so a bulk
  * bootstrap can be refused the id ([[guardBuild]]).
  *
  * Crash safety is RENAME-BEFORE-DELETE: the fold is written to a
  * staging dir, renamed LIVE, and only then are the folded segments
  * deleted. Nothing is ever deleted before its content is serving, so
  * a staging dir is always redundant derived data — a crashed compact
  * is recovered by discarding any staging and refolding. The price is
  * that a reader racing the delete phase can see a row in both the
  * fold and a not-yet-deleted source segment; every consumer of these
  * tables is duplicate-tolerant by construction (probes `distinct`
  * hashes, candidate pairs dedup on (new, dup_of) and cap with
  * dense_rank, doc/vector scoring resolves latest-version-per-key —
  * and the fold id sits BELOW every surviving segment id, so recency
  * still resolves to the same row). This is exactly where the protocol
  * differs from [[AdditiveSegments]]: additive counts CANNOT tolerate
  * duplicates (double-counting), so that lifecycle must delete before
  * rename and carry the staging-stand-in read rule; these row stores
  * can, and buy a simpler recovery for it.
  *
  * The fold itself is a caller-supplied per-table function (dedup
  * exact rows for band tables; latest-version-per-key for doc/vector
  * tables — the fold input carries the `ingest` column so recency can
  * be resolved inside the fold). A retractable table keeps its
  * tombstones in a side table beside it, never in its own rows (the
  * TOMBSTONE convention at [[resolveTombstones]]).
  */
object IngestSegments {

  private val StagingPrefix = "__compact_staging_"
  private val FoldMarker = "_FOLD"

  /** Live ingest ids of a table (staging dirs are never part of the
    * readable state — see the object doc). */
  def liveSegments(spark: SparkSession, tablePath: String): Seq[Long] =
    Hfs.childDirs(spark, tablePath, "ingest=")
      .map(_.stripPrefix("ingest=").toLong)

  /** The live row set with a LONG `ingest` column on every row. None
    * when the table has no readable rows yet (absent, or only
    * footerless empty segments). A segment dir deleted between the
    * listing and the read (a compact's delete phase racing this
    * reader) surfaces as PATH_NOT_FOUND — retried with a fresh listing
    * rather than misread as an empty index, which would admit every
    * duplicate in the racing batch. Residual window: the retry covers
    * the eager planning step only — a delete landing between planning
    * and the consuming ACTION fails that job with FileNotFoundException,
    * which a streaming batch retry re-plans and survives (transient,
    * never silent). Do NOT enable spark.sql.files.ignoreMissingFiles on
    * index paths: it would turn that failure into silently-missing
    * index rows. A caller that knows the stored `schema` passes it and
    * skips the schema-inference job. */
  def readLive(spark: SparkSession, tablePath: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    // a concurrent compact delete surfaces as PATH_NOT_FOUND: re-list
    // and retry
    Hfs.withPathRaceRetry() {
      val ids = liveSegments(spark, tablePath)
      if (ids.isEmpty) None
      else try {
        Some(schema.fold(spark.read)(spark.read.schema).option("basePath", tablePath)
          .parquet(ids.map(id => s"$tablePath/ingest=$id"): _*)
          .withColumn("ingest", col("ingest").cast("long")))
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          None // real segments, all footerless-empty
      }
    }

  /** Align write tasks with the directory layout before a partitionBy
    * write: without it every write task can open a file in EVERY value
    * dir it sees rows for — tasks × dirs files per segment, the
    * small-files debt every later probe's file listing pays
    * ([[readLivePrunedWithIds]] bounds WHICH dirs are listed; this
    * bounds how many files each dir holds). One hash shuffle on the
    * layout key caps the segment at one file per dir. A pathological
    * hot value serializes into one write task — acceptable for these
    * hash/sign layouts whose values are engineered near-uniform; a
    * general-purpose writer would split with a REBALANCE-style
    * partitioning instead. */
  def alignToLayout(df: DataFrame, cols: String*): DataFrame =
    df.repartition(cols.map(col): _*)

  /** [[readLive]] plus its segment-id listing, restricted to the
    * partition directories the caller will actually read: lists each
    * live segment's child dirs once (one listStatus per segment),
    * keeps those `keepDir` accepts
    * (names like `bucket=37`), and plans the scan over ONLY those leaf
    * dirs — basePath-rooted, so the partition columns survive. Listing
    * cost then scales with segments + kept dirs, not total dirs: a
    * probe of 37 of 4096 buckets must not pay a 4096-dir file listing
    * per segment, which is exactly what handing Spark the segment
    * roots does. Returns the FULL live id listing (not just segments
    * that contributed dirs) so recency-window branching stays correct
    * when a key's versions straddle segments. None when the table is
    * absent, empty, or no segment has a kept dir — callers that probe
    * treat all three as "nothing indexed under these buckets". Same
    * delete-race retry contract as [[readLive]] — but the race
    * needs its OWN detector here: a folded segment deleted between the
    * id listing and its childDirs lists EMPTY (childDirs of a missing
    * path returns empty, not an error), so unlike the root-planned
    * read there is no PATH_NOT_FOUND to catch, and planning over the
    * survivors would silently drop the folded rows — the
    * admit-every-duplicate failure the retry contract exists to
    * prevent. Detector: [[compact]] renames its fold LIVE before any
    * delete starts, so whenever a delete could have corrupted the
    * per-segment listings, a SECOND id listing taken after them must
    * contain the fold — an id absent from the first. Any new id →
    * stale listing → re-list. (A fold already present in the first
    * listing makes corrupted folded-segment listings harmless: their
    * rows are serving from the fold, and consumers are
    * duplicate-tolerant by the object contract.) */
  def readLivePrunedWithIds(spark: SparkSession, tablePath: String,
      keepDir: String => Boolean): Option[(DataFrame, Seq[Long])] = {
    var lastRace: Exception = null
    for (_ <- 0 until 3) {
      val ids = liveSegments(spark, tablePath)
      if (ids.isEmpty) return None
      compactRaceHookForTests()
      val dirs = ids.flatMap(id =>
        Hfs.childDirs(spark, s"$tablePath/ingest=$id", "")
          .filter(keepDir).map(d => s"$tablePath/ingest=$id/$d"))
      val recheck = liveSegments(spark, tablePath)
      if (!recheck.toSet.subsetOf(ids.toSet)) {
        lastRace = new IllegalStateException(
          s"segment listing of $tablePath kept going stale under " +
            s"concurrent compaction (last: ${ids.sorted.mkString(",")} -> " +
            s"${recheck.sorted.mkString(",")})")
      } else if (dirs.isEmpty) return None
      else try {
        return Some((spark.read.option("basePath", tablePath)
          .parquet(dirs: _*)
          .withColumn("ingest", col("ingest").cast("long")), ids))
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          return None // kept dirs exist but are all footerless-empty
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          lastRace = e // concurrent compact delete — re-list and retry
      }
    }
    throw lastRace
  }

  /** Test seam for the compaction race above: invoked between the id
    * listing and the per-segment child listings, where a concurrent
    * [[compact]] is otherwise impossible to interleave
    * deterministically. Production no-op. */
  private[graft] var compactRaceHookForTests: () => Unit = () => ()

  /** TOMBSTONE convention — retraction support for the row stores
    * (the reference's CDC `D` route, `app/OdsBaseDbApp.scala:102-106`,
    * applied to the persistent indexes: a doc deleted upstream must
    * leave the stores, or every stored-road report silently counts
    * ghost docs forever).
    *
    * A retractable table carries per row a LOGICAL ingest column
    * (`ing` = the writing batch's id, persisted as DATA) and writes
    * each batch's retracted keys as (key, ing) rows into a tombstone
    * SIDE TABLE beside it ([[writeTombstones]]), so the table itself
    * holds only real rows. Every retractable store uses this one
    * placement: a partition-pruned [[SegmentIndex]] needs it (a
    * tombstone cannot know which partition dir its victim's row lives
    * in), and the [[LedgerStore]]s share it. Latest-wins per key: a
    * row is live iff no tombstone for its key has `ing` ≥ the row's —
    * so a later re-ingest (CDC insert-after-delete) resurrects the key.
    * `ing` MUST be a data column, not the directory id: a compaction
    * fold keeps rows under a directory id below every live segment,
    * and comparing by directory id would let any live tombstone kill
    * every folded row — including ones that survived that very
    * tombstone inside the fold.
    *
    * The resolve: `rows` less the rows the side table at `tombPath`
    * kills. A store that never retracted has no side table, and then
    * `rows` comes back unchanged with no Spark job run; otherwise
    * [[applyTombstones]] routes the join (the side table is read with
    * the rows' key type, no inference job). `exclude` drops one tombstone
    * segment: a batch that reads the store before its own tombstones
    * land excludes its own id, so a replay sees what its first attempt
    * saw. Folds drop the dead rows, and [[compactTombstones]] then
    * retires the tombstones left with nothing to kill. */
  def resolveTombstones(rows: DataFrame, tombPath: String, keyCol: String,
      exclude: Option[Long] = None): DataFrame =
    readLive(rows.sparkSession, tombPath, Some(StructType(Seq(
        rows.schema(keyCol), StructField("ing", LongType))))).fold(rows) { t =>
      applyTombstones(rows, exclude.fold(t)(x => t.filter(col("ingest") =!= x))
        .select(col(keyCol), col("ing")), keyCol, "ing")
    }

  /** `rows` less those a `tombs` (keyCol, ingCol) row kills — the join
    * behind [[resolveTombstones]]. The side table is retracted-key-sized
    * and unpartitioned, read whole by every probe.
    *
    * SIZING IS ROUTED, not hinted (the r16 `weak`: a hard
    * `broadcast(t)` never degrades — past executor memory the serving
    * read just dies, and lifetime churn grows the tombstone table
    * monotonically until it does). The per-key aggregate is
    * checkpointed once (sparse — retracted keys) and counted, then:
    *
    *  - 0 tombstones → rows unchanged, NO join at all (every tombstone
    *    purged, or only the caller's own excluded);
    *  - fits the session broadcast budget (the same 32 B/row costing
    *    as the decontamination registry router — ONE sizing judgment,
    *    [[graft.functions.KeyRoute]]) → broadcast left join, the home
    *    regime;
    *  - past the budget but inside the Bloom sizing clamps → Bloom
    *    prefilter: keys the filter rejects are PROVABLY untombstoned
    *    and pass through map-side; only might-contain rows (tombstoned
    *    + FPs) take the exact non-broadcast join, so the shuffle
    *    carries the retracted sliver, not the store;
    *  - past the clamps too → the plain shuffle left join is the
    *    floor.
    *
    * All four roads resolve every row to the same verdict (the exact
    * join is the last word everywhere — spec-pinned hash-equal), so a
    * retraction wave past any budget degrades in COST only, never in
    * answer. */
  def applyTombstones(rows: DataFrame, tombs: DataFrame, keyCol: String,
      ingCol: String): DataFrame = {
    val s = rows.sparkSession
    val t = tombs.groupBy(col(keyCol)).agg(max(col(ingCol)).as("__tomb_ing"))
      .localCheckpoint()
    val n = t.count()
    applyTombstonesRouted(rows, t, n, keyCol, ingCol,
      graft.functions.KeyRoute.of(s, n))
  }

  /** The road implementations behind [[applyTombstones]], invokable
    * directly (private[graft]) so TombstoneRouteSpec pins every road
    * hash-equal without conf-forcing (a session conf would re-plan
    * every downstream join — the r16 A/B lesson).
    * `t` must be the per-key (keyCol, __tomb_ing = max ing) aggregate,
    * checkpointed by the caller when it has multiple consumers (the
    * bloom road reads it twice: filter build + exact join), and `n` its
    * row count, which sizes the Bloom filter. */
  private[graft] def applyTombstonesRouted(rows: DataFrame, t: DataFrame,
      n: Long, keyCol: String, ingCol: String, route: String): DataFrame = {
    def joined(side: DataFrame, tomb: DataFrame) =
      side.join(tomb, Seq(keyCol), "left")
        .filter(col("__tomb_ing").isNull || col(ingCol) > col("__tomb_ing"))
        .drop("__tomb_ing")
    route match {
      case "none" => rows
      case "broadcast" => joined(rows, broadcast(t))
      case "plain" => joined(rows, t)
      case "bloom" =>
        val mc = graft.functions.KeyRoute.mightContain(t, keyCol,
          graft.functions.KeyRoute.bloomItems(n), col(keyCol))
        // two map-side-filtered passes over the store beat one full
        // shuffle of it: the pass-through branch never exchanges, and
        // the exact join's probe side is the might-contain sliver
        rows.filter(!mc).unionByName(joined(rows.filter(mc), t))
    }
  }

  /** Side-table tombstone segment writer: the batch's retracted keys
    * as (keyCol, ing = batchId) rows at `tablePath/ingest=batchId` —
    * overwrite-by-own-id, content independent of store state, so
    * replay idempotence is trivial. A batch that retracts nothing (a
    * CDC batch without deletes) leaves no segment, and no side table
    * when it would be the first: a store that never lost a key keeps
    * its resolve job-free and its bootstraps legal ([[guardBuild]]).
    *
    * TIE GOES TO THE TOMBSTONE: the resolve keeps a row only when its
    * ing is STRICTLY above the key's newest tombstone, so a row
    * ingested under the SAME batch id as a tombstone for its key is
    * dead — the delete-wins-within-batch rule of the mixed-CDC writers
    * ([[LedgerStore]]'s `cdc` writes both under one id). The ANN/PQ
    * stores must uphold the same contract: never reuse one batch id
    * across a retract*() and an ingest*() call for the same store
    * unless the delete is meant to win. */
  def writeTombstones(batch: DataFrame, tablePath: String, keyCol: String,
      batchId: Long): Unit = {
    val seg = s"$tablePath/ingest=$batchId"
    val n = Observation()
    batch.select(col(keyCol)).distinct()
      .withColumn("ing", lit(batchId)).observe(n, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(seg)
    if (n.get("n") == 0L) {
      Hfs.deleteRecursive(batch.sparkSession, seg)
      if (liveSegments(batch.sparkSession, tablePath).isEmpty)
        Hfs.deleteRecursive(batch.sparkSession, tablePath)
    }
  }

  /** The live tombstone side table — (keyCol, ing) rows, possibly
    * duplicated across segments ([[applyTombstones]]' max makes that
    * harmless). Empty when no retraction ever happened. Over a row
    * store it reads the (keyCol, ing) versions [[compactTombstones]]
    * protects. */
  def readTombstones(spark: SparkSession, tablePath: String,
      keyCol: String): DataFrame =
    readLive(spark, tablePath) match {
      case None =>
        spark.range(0).select(col("id").as(keyCol), col("id").as("ing"))
      case Some(rows) => rows.select(col(keyCol), col("ing"))
    }

  /** Fold the tombstone side table to the newest tombstone per key —
    * and, when the caller hands over the protected row store's raw
    * (keyCol, ing) rows, PURGE the provably-inert tombstones, so the
    * side table tracks CURRENTLY-retracted keys instead of growing
    * with lifetime churn forever (the r16 `weak`'s other half: a
    * never-purged table eventually outgrows every resolve road's
    * sweet spot).
    *
    * Purge rule: a folded tombstone (k, T) is dropped iff NO readable
    * row of k has ing ≤ T — there is nothing left for it to kill.
    * Safety:
    *  - current reads: the check runs against the row store's LIVE
    *    listing, so crash-window leftovers of a racing row-store
    *    compact (rename-before-delete) still carry their dead rows and
    *    KEEP their tombstone — the transient resurrection that purging
    *    inside a row-store fold would cause cannot arise here, because
    *    this check happens strictly AFTER the row store's own delete
    *    phase (the caller sequences row-store compact → tombstone
    *    compact, [[SegmentIndex.compact]] and [[LedgerStore.compact]],
    *    and cross-process concurrency is excluded by the
    *    one-maintenance-process contract);
    *  - future writes: streaming batch ids are monotonic, so every
    *    future re-ingest lands with ing > T and was never killable by
    *    (k, T); a bulk bootstrap's NEGATIVE id is the one violation,
    *    which is why [[guardBuild]] refuses bootstraps into a store
    *    with retraction history;
    *  - replays: only folded (checkpoint-committed, never-replayed)
    *    tombstone segments are purge candidates — [[compact]] keeps
    *    the newest batch id live untouched, so a replayed retraction
    *    rewrites its own segment byte-identically whether or not a
    *    purge ran.
    *
    * `protectedRows = None` keeps the old fold-only behavior for
    * callers that cannot produce the row view. With rows provided, a
    * LONE folded segment is refolded too (foldLone): purging is
    * content-changing maintenance, unlike plain folding where one
    * segment is already as folded as it gets. The rows are read only
    * when the side table exists: a store that never retracted pays
    * nothing here. */
  def compactTombstones(spark: SparkSession, tablePath: String,
      keyCol: String, protectedRows: => Option[DataFrame] = None): Unit =
    if (liveSegments(spark, tablePath).nonEmpty) {
      val rowsOpt = protectedRows
      compact(spark, tablePath,
        fold = segs => {
          val newest = segs.groupBy(col(keyCol)).agg(max(col("ing")).as("ing"))
          rowsOpt match {
            case None => newest
            case Some(rows) =>
              val mins = rows.groupBy(col(keyCol))
                .agg(min(col("ing")).as("__row_min"))
              newest.join(mins, Seq(keyCol), "left")
                .filter(col("__row_min").isNotNull &&
                  col("__row_min") <= col("ing"))
                .drop("__row_min")
          }
        },
        partitionCols = Seq.empty, foldLone = rowsOpt.isDefined)
    }

  /** The bmod bucket count is LAYOUT GEOMETRY, not a free parameter: a
    * probe computing bucket ids with a different modulus than the one
    * the directories were written with silently misses indexed rows
    * (re-admitting duplicates), and new segments would mix two layouts
    * in one table. Writers call this — it pins the count beside the
    * table on first use and returns the pinned value ever after, so
    * retuning the module default against an existing index changes
    * nothing until a rebuild. */
  def ensureBuckets(spark: SparkSession, tablePath: String, default: Int): Int =
    Hfs.readString(spark, s"$tablePath/__buckets") match {
      case Some(s) => s.trim.toInt
      case None =>
        Hfs.writeString(spark, s"$tablePath/__buckets", default.toString)
        default
    }

  /** Probe-side twin of [[ensureBuckets]]: read-only (a probe against a
    * missing index must not create metadata), defaulting for layouts
    * that predate the pin. */
  def readBuckets(spark: SparkSession, tablePath: String, default: Int): Int =
    Hfs.readString(spark, s"$tablePath/__buckets")
      .map(_.trim.toInt).getOrElse(default)

  /** Refuse a bulk-bootstrap ingest id that is non-negative (streaming
    * batch space — batch N's overwrite would clobber the bootstrap) or
    * already taken by a compaction fold (the overwrite would silently
    * destroy the folded index). Re-running a bootstrap on its OWN id
    * stays legal — that is the replay contract.
    *
    * Retractable stores pass their tombstone side table's path: a
    * bootstrap into a store WITH retraction history is refused,
    * because its negative ing sits below every tombstone — dead on
    * arrival for retracted keys today, and silently ALIVE for them
    * once [[compactTombstones]]' purge has dropped the (provably inert
    * for monotonic ids) tombstone. The purge's safety argument is
    * "every future ing outranks the purged tombstone"; this guard is
    * what makes negative-id writes unable to violate it. A rebuild
    * that wants a clean slate deletes the store AND the side table. */
  def guardBuild(spark: SparkSession, tablePath: String, ingestId: Long,
      tombPath: Option[String] = None): Unit = {
    require(ingestId < 0,
      s"bulk-build ingest ids are negative (batch ids are >= 0), got $ingestId")
    require(!Hfs.exists(spark, s"$tablePath/ingest=$ingestId/$FoldMarker"),
      s"ingest=$ingestId of $tablePath is a compaction fold — writing over it " +
        "would destroy the folded index; pick a fresh negative id")
    tombPath.foreach(tp => require(!Hfs.exists(spark, tp),
      s"$tablePath has retraction history ($tp exists) — a negative-id " +
        "bootstrap would land below its tombstones (and below the purge " +
        "horizon); rebuild by deleting the store and the side table"))
  }

  /** Fold old segments of one table (see the object doc for the
    * protocol). `fold` receives the folded segments' rows WITH the long
    * `ingest` column and returns the rows to keep; `partitionCols`
    * preserves the table's directory layout (e.g. bmod bucketing). */
  def compact(spark: SparkSession, tablePath: String,
      fold: DataFrame => DataFrame, partitionCols: Seq[String],
      foldLone: Boolean = false): Unit = {
    // any staging — complete or not — is derived data from segments
    // that were never deleted; discard and refold
    Hfs.childDirs(spark, tablePath, StagingPrefix)
      .foreach(st => Hfs.deleteRecursive(spark, s"$tablePath/$st"))
    val ids = liveSegments(spark, tablePath)
    val maxBatch = ids.filter(_ >= 0).sorted.lastOption
    val folded = ids.filterNot(maxBatch.contains)
    // a lone folded segment is already as folded as it gets — skip,
    // UNLESS the fold is content-changing maintenance (tombstone purge)
    if (folded.isEmpty || (folded.size == 1 && !foldLone)) return
    val foldId = math.min(ids.min, -1L) - 1 // strictly below every live id
    val src =
      try spark.read.option("basePath", tablePath)
        .parquet(folded.map(id => s"$tablePath/ingest=$id"): _*)
        .withColumn("ingest", col("ingest").cast("long"))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => return
      }
    val staging = s"$tablePath/$StagingPrefix$foldId"
    // the fold rewrites the bulk of the table — align it with the
    // layout too, or the fold segment re-accrues tasks x dirs files
    val folded0 = fold(src)
    val w = (if (partitionCols.nonEmpty) alignToLayout(folded0, partitionCols: _*)
             else folded0).write.mode("errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging)
    Hfs.writeString(spark, s"$staging/$FoldMarker", "")
    Hfs.rename(spark, staging, s"$tablePath/ingest=$foldId") // fold is LIVE
    // ASCENDING delete order is load-bearing: a crash mid-delete must
    // leave the NEWEST ids as the survivors, or a stale older version
    // of a key could outrank the fold's latest-version row in the
    // ingest-desc recency windows (and the next refold would bake the
    // stale row in). Filesystem listing order is unspecified — sort.
    folded.sorted.foreach(id =>
      Hfs.deleteRecursive(spark, s"$tablePath/ingest=$id"))
  }
}
