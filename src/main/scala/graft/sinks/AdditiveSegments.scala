package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The segment lifecycle shared by every ADDITIVE merge-on-read store
  * (phrase index, vocabulary): per-batch partial aggregates land in
  * `path/seq=N` dirs, the read side reconciles them with one groupBy,
  * and compaction folds segments with a crash-recoverable staging
  * swap. Parameterized by the store's `reconcile` (the groupBy+agg
  * that merges partials — every aggregate in it must be decomposable)
  * so the replay/recovery reasoning is written once.
  *
  * Replay idempotence keys on the COMMIT marker, not bare directory
  * existence: a crashed first attempt can leave a seq dir without its
  * marker (the committer's abort removes only `_temporary`), and
  * treating that as done would silently drop the batch's counts — so
  * an uncommitted leftover is cleared and rewritten, and only a
  * marker-complete segment makes the replay a no-op. Marker-incomplete
  * segments are equally invisible to `read` and to `compact`'s fold
  * snapshot: reading one would count half a batch, and folding one
  * would leave a committed fold at its id that turns the replayed
  * write into a silent no-op.
  */
private[sinks] object AdditiveSegments {

  private val StagingPrefix = "__compact_staging_"

  /** foreachBatch hook body: append the batch's partial as seq=batchId
    * through [[Hfs.writeCommittedSegment]] — one job writes the partial
    * into the hidden `.stage-seq=<id>`, and one rename publishes it with
    * its commit marker. An EMPTY partial publishes nothing at all — not
    * even a marker dir: a replayed empty batch writes and discards again
    * (content idempotence), while the 0-row write it replaces left a
    * FOOTERLESS committed segment that wedged every subsequent read on
    * UNABLE_TO_INFER_SCHEMA (an empty micro-batch is routine; a
    * permanently crashed read loop is not). */
  def write(partial: DataFrame, path: String, batchId: Long): Unit =
    Hfs.writeCommittedSegment(partial, s"$path/seq=$batchId")

  /** Merge-on-read over the LIVE segment set. If a COMPLETE compaction
    * staging exists (compact crashed mid-swap), the fold stands in for
    * every segment with seq ≤ its target — summing the survivors alone
    * would silently undercount, and summing staging + folded survivors
    * would double-count. */
  def read(spark: SparkSession, path: String,
      reconcile: DataFrame => DataFrame): DataFrame =
    readOpt(spark, path, reconcile).getOrElse(
      throw new IllegalArgumentException(s"no index segments under $path"))

  /** read() that reports an empty table as None instead of throwing —
    * for callers where "no segments yet" is a routine state (a
    * streaming cold start whose batches so far produced empty
    * partials), not a misconfiguration. */
  def readOpt(spark: SparkSession, path: String,
      reconcile: DataFrame => DataFrame): Option[DataFrame] = {
    // PATH_NOT_FOUND from a segment deleted between the listing and the
    // parquet planning (a cadence compact's swap racing this reader) is
    // retried with a fresh listing — same contract and residual
    // action-time window as IngestSegments.readLive.
    Hfs.withPathRaceRetry() {
      // uncommitted segments (a crashed write attempt's leftovers) are
      // invisible: their batch is checkpoint-uncommitted and will be
      // rewritten on replay — reading their partial files would count
      // half a batch
      val segs = Hfs.childDirs(spark, path, "seq=")
        .filter(sd => Hfs.segmentCommitted(spark, s"$path/$sd"))
      // several committed stagings can only mean concurrent compacts
      // (a contract violation); the MAX target is the superset fold —
      // adopting any other would double-count once both land
      val staged = Hfs.childDirs(spark, path, StagingPrefix)
        .filter(st => Hfs.segmentCommitted(spark, s"$path/$st"))
        .sortBy(_.stripPrefix(StagingPrefix).toLong)
      val live = staged.lastOption match {
        case Some(st) =>
          val target = st.stripPrefix(StagingPrefix).toLong
          st +: segs.filter(_.stripPrefix("seq=").toLong > target)
        case None => segs
      }
      if (live.isEmpty) None
      else Some(readSegments(spark, path, live, reconcile))
    }
  }

  private def readSegments(spark: SparkSession, path: String,
      segs: Seq[String], reconcile: DataFrame => DataFrame): DataFrame =
    reconcile(spark.read.parquet(segs.map(sd => s"$path/$sd"): _*))

  /** Fold every segment into ONE — kept at the MAX existing seq, which
    * is what makes compaction replay-safe: Structured Streaming can only
    * re-run the newest (possibly checkpoint-uncommitted) batch id, and
    * that id's dir still exists after the fold, so the replayed write
    * no-ops; every older id is checkpoint-committed and never replayed.
    * Staging + atomic rename (staging name carries the target seq so a
    * crash between delete and rename is adopted on the next compact).
    *
    * ONE maintenance process per table: compact may run beside the
    * live stream's writes (the snapshot reasoning below), but not
    * beside ANOTHER compact, and not beside a restarted stream
    * REPLAYING the max-seq batch from an external process — the replay
    * could rewrite seq=maxSeq between this fold's delete and rename.
    * That violation is LOUD, not silent: Hfs.rename refuses an
    * existing destination (HDFS would otherwise bury the fold as a
    * hidden subdirectory), and the adoption loop above converges
    * multiple committed stagings on the superset fold. */
  def compact(spark: SparkSession, path: String,
      reconcile: DataFrame => DataFrame): Unit = {
    // A staging dir WITH _SUCCESS is a complete fold of every segment
    // with seq <= its target — a crash anywhere in the swap is recovered
    // by finishing it for EXACTLY that range: segments appended AFTER the
    // staging was written (the stream resumed before anyone re-ran
    // compact) have seq > target and must survive the recovery, or
    // their checkpoint-committed, never-replayed batches would be lost.
    // A staging without _SUCCESS is a partial write and is discarded.
    // Adopt stagings in ASCENDING target order: with two committed
    // stagings (concurrent compacts — a contract violation, but one
    // that must not corrupt), adopting the lower target first lets the
    // higher (superset) adoption's delete phase remove the lower fold
    // again, converging on the superset alone; unspecified listing
    // order could leave both live and double-count every older batch.
    Hfs.childDirs(spark, path, StagingPrefix)
      .sortBy(_.stripPrefix(StagingPrefix).toLong)
      .foreach { st =>
        val full = s"$path/$st"
        val target = st.stripPrefix(StagingPrefix).toLong
        if (Hfs.segmentCommitted(spark, full)) {
          Hfs.childDirs(spark, path, "seq=")
            .filter(_.stripPrefix("seq=").toLong <= target)
            .foreach(sd => Hfs.deleteRecursive(spark, s"$path/$sd"))
          Hfs.rename(spark, full, s"$path/seq=$target")
        } else Hfs.deleteRecursive(spark, full)
      }
    // fold COMMITTED segments only. An uncommitted dir is a crashed
    // write attempt whose batch the stream will REPLAY: folding its
    // partial rows — and leaving a committed fold at its id — would
    // make the replayed write() a no-op and silently lose the batch's
    // counts. Left out of the fold, the leftover is cleared and
    // rewritten by the replay exactly as the write() contract says.
    val segs = Hfs.childDirs(spark, path, "seq=")
      .filter(sd => Hfs.segmentCommitted(spark, s"$path/$sd"))
    if (segs.size <= 1) return
    val maxSeq = segs.map(_.stripPrefix("seq=").toLong).max
    val staging = s"$path/$StagingPrefix$maxSeq"
    // fold EXACTLY the snapshotted segment list — a batch landing after
    // the listing keeps its own segment and is not in the fold, so it is
    // neither lost nor double-counted. No checkpoint: the source
    // segments are deleted only AFTER this write completes, so the fold
    // streams straight from them (an eager localCheckpoint pinned the
    // whole merged index — corpus-distinct-key sized — in block-manager
    // memory for no recoverability gain).
    val merged = readSegments(spark, path, segs, reconcile)
    merged.write.mode(SaveMode.ErrorIfExists).parquet(staging)
    // marker BEFORE the deletes: from here the staging stands in for
    // every folded segment, so a crash anywhere below is recovered by
    // the adoption path above
    Hfs.markSegmentCommitted(spark, staging)
    segs.foreach(sd => Hfs.deleteRecursive(spark, s"$path/$sd"))
    Hfs.rename(spark, staging, s"$path/seq=$maxSeq")
  }
}
