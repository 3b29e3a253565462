package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Delta-style merge-on-read keyed sink — the scale upgrade of
  * [[KeyedParquetSink]] (which rewrites every touched dt partition per
  * batch; fine for cold days, quadratic-ish on a hot day receiving many
  * batches).
  *
  * Layout:
  * {{{
  *   path/base/dt=...      compacted snapshot (no tombstones)
  *   path/delta/seq=N/...  one append-only dir per upsert/delete batch
  * }}}
  *
  * - `upsert` APPENDS the batch as a new delta seq — a single-key update
  *   writes O(batch) bytes and touches zero existing files.
  * - `delete` appends key tombstones (`__deleted = true`).
  * - `read` reconciles: base ∪ deltas, newest row per key wins
  *   (versionCol desc, then delta seq desc so replays/late metadata
  *   resolve deterministically), tombstones drop the key. Keys are
  *   resolved GLOBALLY (not per dt partition), so a key may move between
  *   days — the read keeps only its newest incarnation.
  * - `compact` folds everything into a fresh base and clears deltas,
  *   bounding read-side merge cost; run it on a cadence, exactly as
  *   Delta/Iceberg compaction jobs do.
  *
  * Idempotence: replaying an upsert batch appends a duplicate delta, but
  * the read-side winner per key is unchanged (same version, later seq,
  * same row) — the CONTENT contract of S8/ST8 holds; compaction removes
  * the physical duplicates. The reference's analog is ES re-indexing the
  * same doc _id (MyEsUtils.scala:41-56).
  */
object MergeParquetSink {

  private val DeletedCol = "__deleted"
  private val SeqCol = "__seq"

  private def deltaRoot(path: String) = s"$path/delta"
  private def basePath(path: String) = s"$path/base"
  private def horizonPath(path: String) = s"$path/__seq_horizon"

  private def listSeqs(spark: SparkSession, path: String): Seq[Long] =
    Hfs.childDirs(spark, deltaRoot(path), "seq=")
      .map(_.stripPrefix("seq=").toLong)
      .sorted

  /** First seq number still reconstructible by time travel: compaction
    * folds every delta ≤ horizon−1 into the base and records the
    * horizon, which also keeps seq numbering MONOTONIC across
    * compactions — without it, post-compaction deltas would restart at
    * 0 and a caller's recorded asOfSeq would silently alias unrelated
    * newer batches. */
  def seqHorizon(spark: SparkSession, path: String): Long =
    Hfs.readString(spark, horizonPath(path)).map(_.trim.toLong).getOrElse(0L)

  private def nextSeq(spark: SparkSession, path: String): Long =
    math.max(listSeqs(spark, path).lastOption.fold(0L)(_ + 1L),
      seqHorizon(spark, path))

  /** Delta seq dirs whose write COMMITTED (marker or _SUCCESS): a torn
    * delta (crash mid-upsert) must not serve a half-applied batch to
    * readers — it stays invisible until compact clears it, and the
    * stream's replay of the uncommitted batch lands as a NEW seq (this
    * sink appends; replay idempotence is content-level). */
  private def committedSeqs(spark: SparkSession, path: String): Seq[Long] =
    listSeqs(spark, path)
      .filter(s => Hfs.segmentCommitted(spark, s"${deltaRoot(path)}/seq=$s"))

  /** Append the batch as a new delta; NO existing file is read or
    * rewritten. The commit marker lands after the data — readers gate
    * on it (see [[committedSeqs]]). */
  def upsert(batch: DataFrame, path: String, dtCol: String): Unit = {
    val seq = nextSeq(batch.sparkSession, path)
    val dir = s"${deltaRoot(path)}/seq=$seq"
    batch.withColumn(DeletedCol, lit(false))
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(dtCol)
      .parquet(dir)
    Hfs.markSegmentCommitted(batch.sparkSession, dir)
  }

  /** Append tombstones for the given keys. `keys` needs the key columns,
    * the dt column, and the version column (tombstone wins from that
    * version on); remaining data columns are nulled. `versionCol` is
    * REQUIRED, not defaulted: a keys frame missing it would get a null
    * version filled in below, and a null-version tombstone sorts below
    * every data row in the read-side merge (desc_nulls_last) — the
    * delete would be a silent no-op forever, which the previous
    * optional-parameter form compiled out of the guard. */
  def delete(keys: DataFrame, path: String, dtCol: String,
      schemaFrom: DataFrame, versionCol: String): Unit = {
    require(versionCol.nonEmpty && keys.columns.contains(versionCol),
      s"delete keys frame lacks version column '$versionCol' — the " +
        "tombstones would never win the merge")
    val seq = nextSeq(keys.sparkSession, path)
    val full = schemaFrom.columns.foldLeft(keys) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(schemaFrom.schema(c).dataType))
    }
    val dir = s"${deltaRoot(path)}/seq=$seq"
    full.select(schemaFrom.columns.toIndexedSeq.map(col): _*)
      .withColumn(DeletedCol, lit(true))
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(dtCol)
      .parquet(dir)
    Hfs.markSegmentCommitted(keys.sparkSession, dir)
  }

  /** Merge-on-read view: newest row per key across base + all deltas;
    * tombstoned keys dropped. One shuffle on the key — at scale, prune
    * first (`read(...).filter(dt = ...)` pushes dt to both scans) and
    * compact on a cadence so the delta list stays short.
    *
    * Time travel: `asOfSeq = Some(n)` reconciles only deltas with
    * seq ≤ n — the table exactly as it stood after delta n landed.
    * History reaches back to the last compaction (compact folds deltas
    * into the base and clears them, truncating earlier as-of points —
    * the same horizon a vacuumed Delta table has); the delta scan is
    * seq-partitioned, so the filter prunes directories, not rows. */
  def read(spark: SparkSession, path: String, keyCols: Seq[String],
      versionCol: String, asOfSeq: Option[Long] = None): DataFrame = {
    asOfSeq.foreach { n =>
      val h = seqHorizon(spark, path)
      require(n >= h - 1, s"asOfSeq=$n predates the compaction horizon " +
        s"$h — that history was folded into the base and is no longer " +
        "reconstructible (same truncation as a vacuumed Delta table)")
    }
    merged(spark, path, keyCols, versionCol,
      committedSeqs(spark, path).filter(s => asOfSeq.forall(s <= _)))
  }

  /** Merge-on-read over the base plus EXACTLY the given delta seqs.
    * `read` passes the committed list (optionally asOf-bounded);
    * `compact` passes its own snapshot so the set it folds and the set
    * it later deletes are the same list — re-listing inside the read
    * could pick up a delta that commits mid-compaction, folding a batch
    * the cleanup doesn't know about (or, in the old form, deleting a
    * batch the fold never saw). */
  private def merged(spark: SparkSession, path: String, keyCols: Seq[String],
      versionCol: String, seqs: Seq[Long]): DataFrame = {
    def readSide(doRead: => DataFrame): Option[DataFrame] =
      try Some(doRead)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Hfs.isEmptyPathError(e) => None
      }
    // crash window of compact (old base deleted, completed staging not
    // yet renamed): the staging dir IS the base — by protocol it is only
    // ever complete once the old base has been fully replaced-able. A
    // read here must adopt it or every pre-compaction row would silently
    // vanish until the next compact's recovery runs. The base is checked
    // AGAIN after a staging miss: a LIVE compact's delete+rename can slip
    // entirely between the two probes (base gone at the first check,
    // staging already renamed at the second) — without the re-check the
    // read would silently return delta-only results.
    val base = readSide(spark.read.parquet(basePath(path)))
      .orElse(readSide(spark.read.parquet(stagingPath(path))))
      .orElse(readSide(spark.read.parquet(basePath(path))))
      .map(_.withColumn(DeletedCol, lit(false)).withColumn(SeqCol, lit(-1L)))
    // COMMITTED deltas only (torn dirs are invisible until compact
    // clears them and the replay re-lands their batch), read by
    // explicit dir list so an uncommitted sibling can't leak in
    val deltas =
      if (seqs.isEmpty) None
      else readSide(spark.read
        .option("basePath", deltaRoot(path))
        .parquet(seqs.map(s => s"${deltaRoot(path)}/seq=$s"): _*)
        .withColumnRenamed("seq", SeqCol))
    val all = (base, deltas) match {
      case (Some(b), Some(d)) => b.unionByName(d, allowMissingColumns = true)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) =>
        throw new IllegalStateException(s"empty merge table at $path")
    }
    val dataCols = all.columns.filterNot(Set(DeletedCol, SeqCol))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc_nulls_last, col(SeqCol).desc,
        // deterministic last-resort tie-break for equal (version, seq) —
        // e.g. duplicate keys within one upsert batch: hash of the row
        // content, so every read and every compaction picks the same row
        xxhash64(struct(dataCols.toIndexedSeq.map(col): _*)).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(DeletedCol))
      .drop("__rn", DeletedCol, SeqCol)
  }

  private def stagingPath(path: String) = s"$path/base__staging"

  /** Fold base + deltas into a fresh base and clear the deltas. The only
    * operation that rewrites partitions — run on a cadence, not per
    * batch.
    *
    * Crash safety (stage-and-rename): the snapshot is fully written to a
    * staging dir while the old base stays readable, then swapped in with
    * a delete + rename and only THEN are the deltas cleared. Every crash
    * window is re-runnable: before the swap the table is untouched;
    * between delete and rename the completed staging dir is adopted as
    * the base on the next compact (recovery below); after the rename,
    * re-reading base ∪ leftover deltas picks the same winners, so a rerun
    * just rewrites an identical base. */
  def compact(spark: SparkSession, path: String, keyCols: Seq[String],
      dtCol: String, versionCol: String): Unit = {
    val staging = stagingPath(path)
    // recovery: a previous compact crashed between delete and rename —
    // the staging dir IS the complete new base (staging is only ever
    // complete once the old base was deleted after a full write)
    if (!Hfs.exists(spark, basePath(path)) && Hfs.exists(spark, staging))
      Hfs.rename(spark, staging, basePath(path))
    else Hfs.deleteRecursive(spark, staging)
    // Snapshot the COMMITTED delta list FIRST and fold EXACTLY it (via
    // the private merged(), not read() — read re-lists committed seqs
    // internally, so a delta committing mid-compaction could slip into
    // the fold without appearing in this snapshot). The clear below
    // removes only these dirs — a delta appended or committed
    // concurrently (the documented cadence-job-next-to-live-stream
    // shape) is neither folded with a too-low horizon (asOfSeq aliasing)
    // nor deleted unfolded. In particular an upsert whose seq dir exists
    // now but whose commit marker lands during the long base rewrite is
    // NOT in this snapshot: it survives as a delta (merge-on-read keeps
    // serving it) and folds next compact — the old listSeqs snapshot
    // deleted it unfolded, silently losing a checkpoint-committed batch.
    val folded = committedSeqs(spark, path)
    val snapshot =
      merged(spark, path, keyCols, versionCol, folded)
        .localCheckpoint()
    // partitionOverwriteMode MUST be static here regardless of session
    // conf: the snapshot replaces the whole base. Under dynamic mode a
    // dt partition whose rows were all tombstoned would survive the
    // rewrite, and clearing the deltas below would resurrect its keys.
    val writer = snapshot.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
    // a fully-tombstoned table compacts to 0 rows: a PARTITIONED empty
    // write leaves a file-less dir (unreadable schema); an unpartitioned
    // empty write keeps one schema-bearing footer, so the table stays
    // readable as empty
    if (snapshot.isEmpty) writer.parquet(staging)
    else writer.partitionBy(dtCol).parquet(staging)
    // horizon BEFORE the swap, not after: the delete-to-rename window
    // (which a crash can leave open indefinitely) serves the staging —
    // already folded through `asOf` — AS the base; with the old
    // post-swap horizon write, an asOfSeq ≤ asOf read in that window
    // passed its horizon check and silently returned post-fold data.
    // Bumping first turns that into a LOUD refusal of history the fold
    // is about to destroy anyway. A crash right after this write leaves
    // base + deltas fully intact (only some as-of reads refuse early);
    // the next compact re-folds the same deltas under the same horizon.
    // It also still precedes the delta clearing, preserving the
    // monotonic-seq property (an un-bumped horizon with cleared deltas
    // would let seq numbering restart and alias old asOfSeq values).
    folded.lastOption.foreach(m =>
      Hfs.writeString(spark, horizonPath(path), (m + 1L).toString))
    Hfs.deleteRecursive(spark, basePath(path))
    Hfs.rename(spark, staging, basePath(path))
    folded.foreach(s =>
      Hfs.deleteRecursive(spark, s"${deltaRoot(path)}/seq=$s"))
    // Torn-dir cleanup, gated on being PROVABLY superseded. Under the
    // single-live-writer protocol (one stream + this cadence compactor),
    // seq allocation is monotonic and the writer's in-flight dir is
    // always the HIGHEST-numbered dir — so an uncommitted dir with any
    // later allocation above it (a higher listed dir, or a horizon
    // already past it) belongs to a crashed writer whose batch replayed
    // as a new seq: garbage, safe to clear. The two dirs this must NOT
    // touch: (a) a dir whose commit marker landed during the long base
    // rewrite — it fails the uncommitted re-check here and keeps serving
    // as a live delta until the next compact folds it (the old listSeqs
    // snapshot deleted it unfolded: silent loss of a checkpoint-committed
    // batch); (b) the highest-numbered torn dir, which may be the live
    // writer's in-flight batch — it lingers invisibly (committedSeqs
    // gates all readers) until a later allocation supersedes it.
    val h = seqHorizon(spark, path)
    val remaining = listSeqs(spark, path)
    val top = remaining.lastOption
    remaining
      .filter(s => (s < h || top.exists(_ > s)) &&
        !Hfs.segmentCommitted(spark, s"${deltaRoot(path)}/seq=$s"))
      .foreach(s => Hfs.deleteRecursive(spark, s"${deltaRoot(path)}/seq=$s"))
  }

  /** foreachBatch adapter (streaming upsert). The batch executes ONCE:
    * one checkpoint, then the emptiness check and the write both read
    * it — probing the raw batch would run an upstream stateful
    * operator a second time (the KeyedParquetSink.upsert discipline). */
  def writer(path: String, dtCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val once = batch.localCheckpoint()
    if (!once.isEmpty) upsert(once, path, dtCol)
  }

  /** foreachBatch adapter with inline maintenance: upsert each batch,
    * then fold deltas into the base whenever `maxDeltas` segments have
    * accumulated — the streaming twin of a scheduled OPTIMIZE job, so
    * read-side merge cost stays bounded without a separate process. */
  def writerWithCompaction(path: String, dtCol: String, keyCols: Seq[String],
      versionCol: String, maxDeltas: Int = 16)
      (batch: DataFrame, batchId: Long): Unit = {
    writer(path, dtCol)(batch, batchId)
    if (listSeqs(batch.sparkSession, path).size >= maxDeltas)
      compact(batch.sparkSession, path, keyCols, dtCol, versionCol)
  }
}
