package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Storage access through the Hadoop FileSystem API resolved per path
  * scheme, so the keyed sink and the stored ANN/LSH index layouts behave
  * identically on `file:`, `hdfs://` and `s3a://` paths. (The previous
  * `java.io.File` listings silently returned empty on any non-local
  * scheme — stale reads instead of errors.) */
object Hfs {

  // newHadoopConf() clones the full SQL+Hadoop conf on EVERY call —
  // hot driver-side loops (per-segment compaction deletes, per-batch
  // streaming writers) paid that copy per filesystem touch. Cache one
  // conf per session: FileSystem instances are cached by Hadoop anyway,
  // and fs-relevant conf does not mutate mid-session here. Weak keys so
  // a stopped session's conf can be collected.
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, org.apache.hadoop.conf.Configuration]())

  def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(hadoopConf(spark)), p)
  }

  /** The session's cached Hadoop conf (see [[confCache]]) — for driver
    * utilities that need a Configuration directly (parquet footer
    * reads) without paying the full newHadoopConf clone per call. */
  private[graft] def hadoopConf(
      spark: SparkSession): org.apache.hadoop.conf.Configuration = {
    var conf = confCache.get(spark)
    if (conf == null) {
      conf = spark.sessionState.newHadoopConf()
      confCache.put(spark, conf)
    }
    conf
  }

  /** Segment commit-marker protocol shared by every per-batch segment
    * sink (AdditiveSegments, Streams.publishBatch): OUR OWN marker file
    * written after the parquet job returns — not the committer's
    * `_SUCCESS`, which disappears entirely under
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (standard
    * on object stores) and would make every committed segment look
    * uncommitted. `_SUCCESS` is honored as a fallback marker for
    * segments written before this protocol. */
  val CommitMarker = "_GRAFT_COMMITTED"

  def segmentCommitted(spark: SparkSession, dir: String): Boolean = {
    // one listStatus, not two exists probes: marker checks run once per
    // segment per read on the per-batch hot path
    val files = childFiles(spark, dir)
    files.contains(CommitMarker) || files.contains("_SUCCESS")
  }

  def markSegmentCommitted(spark: SparkSession, dir: String): Unit =
    writeString(spark, s"$dir/$CommitMarker", "ok")

  /** Exactly-once segment publish — the ONE copy of the
    * replay-idempotence protocol (AdditiveSegments.write and
    * Streams.publishBatch previously each restated it, and a fix to
    * either silently missed the other), in ONE Spark job:
    *  - already committed → no-op;
    *  - otherwise the frame is written into the hidden sibling
    *    `.stage-<name>` (file indexes and file-stream sources skip
    *    dot-prefixed paths), its rows counted by `Dataset.observe` on
    *    the write's own action;
    *  - non-empty → the commit marker goes into the stage and one
    *    rename publishes data and marker together, so a reader never
    *    lists a written-but-unmarked segment;
    *  - EMPTY → the stage is deleted: no segment, no marker (a replay
    *    writes and discards again; a 0-row committed segment would
    *    leave footerless dirs that wedge readers).
    * A replay first clears what a crashed attempt left: its stage, and
    * a marker-less `<name>` dir from the pre-stage protocol. */
  def writeCommittedSegment(df: org.apache.spark.sql.DataFrame,
      seg: String): Unit = {
    val spark = df.sparkSession
    if (segmentCommitted(spark, seg)) return
    val p = new Path(seg)
    val stage = new Path(p.getParent, s".stage-${p.getName}").toString
    deleteRecursive(spark, seg)
    deleteRecursive(spark, stage)
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .write.mode(SaveMode.ErrorIfExists).parquet(stage)
    if (rows.get("n") == 0L) deleteRecursive(spark, stage)
    else {
      markSegmentCommitted(spark, stage)
      rename(spark, stage, seg)
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Names of child directories of `path` starting with `prefix`; empty
    * if `path` does not exist. */
  def childDirs(spark: SparkSession, path: String, prefix: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
  }

  /** Names of the FILES directly under `path` — one listStatus RPC,
    * for callers that would otherwise probe several `exists` paths per
    * directory (marker checks over many segments). */
  def childFiles(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** Retry `body` when a concurrently-deleted path surfaces as
    * PATH_NOT_FOUND during eager parquet planning (a compaction swap
    * racing a reader) — the reader re-lists and retries rather than
    * failing, or worse, misreading. The shared home of the loop both
    * segment lifecycles need (IngestSegments.readLive documents the
    * residual action-time window that remains). */
  def withPathRaceRetry[T](attempts: Int = 3)(body: => T): T = {
    var last: org.apache.spark.sql.AnalysisException = null
    for (_ <- 0 until attempts) {
      try return body
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => last = e
      }
    }
    throw last
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    if (!f.mkdirs(p))
      throw new java.io.IOException(s"mkdirs $path failed")
  }

  /** Pin a file's modification time (mtime-ordered staging feeds). A
    * bare `java.io.File.setLastModified` is local-FS-only and its
    * boolean is silently elided under -Xdisable-assertions when wrapped
    * in assert — this throws on any filesystem that refuses. */
  def setMtime(spark: SparkSession, path: String, mtime: Long): Unit = {
    val (f, p) = fs(spark, path)
    f.setTimes(p, mtime, -1)
    val got = f.getFileStatus(p).getModificationTime
    if (got != mtime)
      throw new java.io.IOException(
        s"setMtime $path: wanted $mtime, filesystem reports $got")
  }

  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    if (f.exists(p)) { f.delete(p, true): Unit }
  }

  /** Rename within one filesystem — atomic on HDFS and local FS (the
    * object-store caveat applies on s3a). Fails LOUDLY if the
    * destination already exists: HDFS rename onto an existing directory
    * silently moves the source INSIDE it (POSIX-mv semantics), which
    * for the compaction swaps would bury a completed fold as a hidden
    * subdirectory Spark never reads — every sink's swap protocol
    * expects the destination to have been removed first, so an
    * existing destination means a concurrent writer violated the
    * one-maintenance-process contract and must surface, not corrupt. */
  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val (f, p) = fs(spark, from)
    val dest = new Path(to)
    if (f.exists(dest))
      throw new java.io.IOException(s"rename $from -> $to: destination " +
        "exists — a concurrent writer owns it (one maintenance process " +
        "per table)")
    if (!f.rename(p, dest))
      throw new java.io.IOException(s"rename $from -> $to failed")
    // The exists-then-rename pair above is NOT atomic across processes:
    // if a concurrent writer created the destination inside the window,
    // the rename "succeeds" by moving the source INSIDE it (the mv-into
    // semantics this comment block warns about) and the loser's copy
    // sits buried at dest/<srcName> — where a parquet read of dest
    // would pick it up as extra rows.
    verifyNotBuried(f, p, dest)
  }

  /** Post-rename burial check: detect a lost exists-then-rename race by
    * the source's own basename appearing as a CHILD of the destination
    * (staged publishes use `<dest>.stage-<uuid>` names, never a
    * legitimate child), delete the buried copy, and surface the same
    * destination-exists error so staged publishers take their
    * lost-race path (the winner's copy is served). */
  private[graft] def verifyNotBuried(f: FileSystem, src: Path,
      dest: Path): Unit = {
    val buried = new Path(dest, src.getName)
    if (f.exists(buried)) {
      f.delete(buried, true): Unit
      throw new java.io.IOException(s"rename $src -> $dest: destination " +
        "already existed (concurrent writer won the publish race); " +
        "buried source copy removed")
    }
  }

  /** (length, modification time) of a file — freshness fingerprints for
    * stored-index cache tags. */
  def stat(spark: SparkSession, path: String): (Long, Long) = {
    val (f, p) = fs(spark, path)
    val st = f.getFileStatus(p)
    (st.getLen, st.getModificationTime)
  }

  /** Completeness terminator for writeString frames: a tmp that lacks
    * it is TORN (crash mid-write) and must never be adopted as
    * committed content. Appended on write, stripped on read; a legacy
    * main file without it is still accepted (mains are only ever
    * created by renaming a complete tmp, so a main is never torn). */
  private val EofMark = "\n#GRAFT_EOF#"

  /** Overwrite a tiny marker file via write-temp-then-rename. The
    * previous in-place `create(p, overwrite = true)` truncated first:
    * a crash (or a concurrent read) between create and close left an
    * EMPTY marker — and an empty `__buckets` (IngestSegments' bucket
    * modulus) or Bucketing's `__meta` version pointer wedges every
    * later parse of it forever. Now the new content is durable in
    * `path.__tmp` before the old file is touched; the only crash
    * window (between delete and rename) leaves no main file but a
    * complete, terminator-framed tmp, which readString adopts as the
    * recovery copy. A crash EARLIER — mid-tmp-write with no main file
    * yet (first-ever write) — leaves a tmp without the terminator,
    * which readString rejects instead of adopting torn bytes. */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    val tmp = new Path(path + ".__tmp")
    val out = f.create(tmp, true)
    try out.write((content + EofMark).getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) { f.delete(p, false): Unit }
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  def readString(spark: SparkSession, path: String): Option[String] = {
    val (f, p) = fs(spark, path)
    def readFully(rp: Path): String = {
      val in = f.open(rp)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    def strip(s: String): String =
      if (s.endsWith(EofMark)) s.dropRight(EofMark.length) else s
    def fromTmp(): Option[String] = {
      // writeString crashed between delete and rename: the tmp IS the
      // committed content (it is written and closed before the old
      // file is removed) — but ONLY a terminator-complete tmp counts.
      // A tmp without the terminator is a torn first-ever write: there
      // was never a committed value, so report none rather than adopt
      // partial bytes (an empty __buckets wedges .toInt forever).
      val tmp = new Path(path + ".__tmp")
      if (f.exists(tmp)) {
        val s = readFully(tmp)
        if (s.endsWith(EofMark)) Some(s.dropRight(EofMark.length)) else None
      } else None
    }
    if (f.exists(p))
      // exists→open is not atomic against a concurrent writeString's
      // delete+rename (the documented cadence-compact-beside-stream
      // shape): the main file can vanish between the two calls. That
      // moment is the tmp-is-committed window — fall through to the tmp
      // probe, and if the rename ALSO completed in between (tmp gone
      // too), re-probe the new main — instead of surfacing
      // FileNotFoundException into the caller's foreachBatch
      try Some(strip(readFully(p)))
      catch {
        case _: java.io.FileNotFoundException =>
          fromTmp().orElse(
            if (f.exists(p)) Some(strip(readFully(p))) else None)
      }
    else fromTmp()
  }
}
