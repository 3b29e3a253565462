package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A SEGMENT-INGESTED index table: the one definition behind every index
  * a stream extends one micro-batch segment at a time — the MinHash and
  * embedding sign-LSH dedup indexes (a `bands` and a payload table each,
  * see [[BandedIndex]]), the chunk index, the ANN-LSH corpus and the PQ
  * codes. Each declares only what differs:
  *
  *  - `table`: its dir under the index path; `key`: its key column;
  *    `cols`: the stored columns, the partition column excluded;
  *  - the partition: none, a column the CALLER computes (the ANN
  *    `bucket`, the PQ `cell`), or — with `hashOf` = (source, default) —
  *    `part` = pmod(source, modulus) computed here, the modulus pinned
  *    beside the table on first write (`__buckets`,
  *    [[IngestSegments.ensureBuckets]]) and read back by every probe;
  *  - the fold: `latestBy` None keeps the distinct exact rows (a band or
  *    hash table: a revised doc keeps both band sets, exactly what the
  *    unfolded index served); Some(v) keeps the latest row per key on
  *    version column v — the `ingest` dir column, or the persisted `ing`
  *    of a retractable store;
  *  - `tomb`: a tombstone side table dir, the one tombstone placement
  *    every retractable store uses ([[IngestSegments.resolveTombstones]];
  *    a tombstone cannot know its victim's partition).
  *
  * This class owns the rest, on the [[IngestSegments]] lifecycle: the
  * guarded bootstrap, the segment write (aligned to the partition
  * layout, overwrite of `ingest=N`, so a replay replaces its own
  * segment), the driver-side partition-set enumeration, the
  * listing-pruned live read with its resolve, the fold and the retract
  * hook. [[SegmentIndex.admit]] is the streaming admission writer the
  * admitting indexes share. */
final case class SegmentIndex(table: String, key: String, cols: Seq[String],
    part: Option[String] = None, hashOf: Option[(Column, Int)] = None,
    latestBy: Option[String] = None, tomb: Option[String] = None) {

  def dir(path: String): String = s"$path/$table"

  /** Refuse a bulk-bootstrap id that is non-negative, is a compaction
    * fold, or lands below a retractable store's tombstones
    * ([[IngestSegments.guardBuild]]). */
  def guardBuild(spark: SparkSession, path: String, ingestId: Long): Unit =
    IngestSegments.guardBuild(spark, dir(path), ingestId, tomb.map(t => s"$path/$t"))

  /** Write `rows` as segment `ingestId` (unguarded: the streaming path). */
  def write(rows: DataFrame, path: String, ingestId: Long): Unit = {
    val out = hashOf.fold(rows) { case (h, default) =>
      val nb = IngestSegments.ensureBuckets(rows.sparkSession, dir(path), default)
      rows.withColumn(part.get, pmod(h, lit(nb.toLong)))
    }.select((cols ++ part).map(col): _*)
    part.fold(out.write)(p => IngestSegments.alignToLayout(out, p).write.partitionBy(p))
      .mode("overwrite").parquet(s"${dir(path)}/ingest=$ingestId")
  }

  /** The hashed partitions `rows` fall in, enumerated on the driver under
    * the STORED modulus (read-only: a probe against a missing index must
    * not create metadata; layouts that predate the pin use the default). */
  def parts(rows: DataFrame, path: String): Seq[Long] = {
    val (h, default) = hashOf.get
    val nb = IngestSegments.readBuckets(rows.sparkSession, dir(path), default)
    rows.select(pmod(h, lit(nb.toLong))).distinct().collect().map(_.getLong(0)).toSeq
  }

  /** Every live row, unresolved, with its long `ingest` column, less
    * ingest `exclude`. None while nothing is stored. */
  def readAll(spark: SparkSession, path: String,
      exclude: Option[Long] = None): Option[DataFrame] =
    IngestSegments.readLive(spark, dir(path)).map(without(_, exclude))

  /** The LIVE rows under partitions `parts`, pruned at LISTING time
    * ([[IngestSegments.readLivePrunedWithIds]]: a probe of 37 of 4096
    * dirs lists 37 per segment) and less ingest `exclude` — the replay
    * rule: a streaming batch excludes its own id, so a replay sees
    * exactly the state its first attempt saw. Resolved: tombstones first
    * (only when the side table exists — most stores never retract), then
    * the latest row per key, run only when more than one segment is live
    * (one segment holds one version per key). The segment count is the
    * listing the frame was planned over, so a concurrent ingest or
    * compact cannot skip the window on a multi-segment frame. A key
    * whose newer version moved out of `parts` can still surface its
    * stale row until compaction folds it. None when nothing is indexed
    * under `parts`. */
  def live(spark: SparkSession, path: String, parts: Seq[Long],
      exclude: Option[Long] = None): Option[DataFrame] =
    IngestSegments.readLivePrunedWithIds(spark, dir(path),
        parts.map(p => s"${part.get}=$p").toSet).map { case (df, ids) =>
      val t = resolved(path, without(df, exclude))
      if (latestBy.isEmpty || ids.size <= 1) t
      else SegmentIndex.latest(t, Seq(key), latestBy.get)
    }

  /** Fold all but the newest replayable segment
    * ([[IngestSegments.compact]], partition layout preserved), then the
    * tombstone side table with this store's rows protected. The order is
    * load-bearing: the fold has already dropped every tombstone-killed
    * row, so a tombstone whose key has no readable row at or below it is
    * provably inert and retires ([[IngestSegments.compactTombstones]]). */
  def compact(spark: SparkSession, path: String): Unit = {
    IngestSegments.compact(spark, dir(path), fold(path), part.toSeq)
    tomb.foreach(t => IngestSegments.compactTombstones(spark, s"$path/$t", key,
      Some(IngestSegments.readTombstones(spark, dir(path), key))))
  }

  /** Retraction hook (the CDC `D` route): `batch` carries the deleted
    * keys, written to the side table overwrite-by-own-id. */
  def retract(path: String)(batch: DataFrame, batchId: Long): Unit =
    IngestSegments.writeTombstones(batch, s"$path/${tomb.get}", key, batchId)

  private def fold(path: String)(src: DataFrame): DataFrame = {
    val kept = (cols ++ part).map(col)
    latestBy match {
      case None => src.select(kept: _*).dropDuplicates(cols)
      case Some(v) =>
        SegmentIndex.latest(resolved(path, src), Seq(key), v)
          .select(kept: _*)
    }
  }

  private def resolved(path: String, df: DataFrame): DataFrame =
    tomb.fold(df)(t => IngestSegments.resolveTombstones(df, s"$path/$t", key))

  private def without(df: DataFrame, exclude: Option[Long]): DataFrame =
    exclude.fold(df)(x => df.filter(col("ingest") =!= lit(x)))
}

object SegmentIndex {

  /** The latest row per `keys` on version column `v`. */
  def latest(df: DataFrame, keys: Seq[String], v: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(v).desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** One streaming admission batch: `step` probes its index EXCLUDING
    * ingest `batchId` (the [[SegmentIndex.live]] replay rule) and
    * returns the admitted rows plus the write of their index segment.
    * Both writes overwrite by `batchId`, admitted rows first, so an
    * at-least-once foreachBatch retry replaces its own output instead of
    * appending duplicates. Batch ids are >= 0: a negative id is a bulk
    * bootstrap's, and overwriting it would clobber the bootstrap. */
  def admit(outDir: String, batchId: Long)(step: => (DataFrame, () => Unit)): Unit = {
    require(batchId >= 0,
      s"streaming batchIds are >= 0 (negative ids are bulk builds), got $batchId")
    val (admitted, ingest) = step
    admitted.write.mode("overwrite").parquet(s"$outDir/admitted/ingest=$batchId")
    ingest()
  }
}

/** Banded near-dup admission over two [[SegmentIndex]] tables, the layer
  * the MinHash (Jaccard) and embedding sign-LSH (cosine) families share.
  * `bands` is the NARROW hashed table — (key, band columns), so the hot
  * band join never drags payloads through every band row — and `payload`
  * holds each key's verify payload once (latest per key), fetched only
  * for candidates that already share a band. `rows` bands a batch into
  * (key, payload, band columns, hash source) rows in one pass; `score` is
  * the ROUNDED verify score, named `scoreName` in outputs, so a
  * borderline pair gets the same verdict whether its members arrive in
  * one batch or across batches; `newCol` names the probing key in pair
  * outputs. Probes are partition-pruned at listing time to the batch's
  * driver-enumerated bucket set and broadcast the batch, so the index
  * side is never shuffled nor fully read (LshIndexSpec and EmbIndexSpec
  * pin both). */
final case class BandedIndex(bands: SegmentIndex, payload: SegmentIndex,
    rows: DataFrame => DataFrame, newCol: String, scoreName: String,
    score: (Column, Column) => Column) {

  private val key = bands.key
  private val bandCols = bands.cols.filterNot(_ == key)
  private val p = payload.cols.filterNot(_ == key).head

  private def sameBand(a: String, b: String): Column =
    bandCols.map(c => col(s"$a.$c") === col(s"$b.$c")).reduce(_ && _)

  /** Bulk bootstrap under a negative id that is not a fold's. */
  def build(batch: DataFrame, path: String, ingestId: Long): Unit = {
    bands.guardBuild(batch.sparkSession, path, ingestId)
    ingest(batch, path, ingestId)
  }

  /** The unguarded segment write: one banding pass, materialized, feeds
    * both tables. */
  def ingest(batch: DataFrame, path: String, ingestId: Long): Unit = {
    val r = rows(batch).localCheckpoint()
    bands.write(r, path, ingestId)
    payload.write(r.select(col(key), col(p)).dropDuplicates(key), path, ingestId)
  }

  /** The tables fold independently: each is complete on its own, so a
    * crash between the two leaves a consistent index. */
  def compact(spark: SparkSession, path: String): Unit = {
    bands.compact(spark, path)
    payload.compact(spark, path)
  }

  /** Candidate (newCol, dup_of, <payload>_n) rows. `cap` is the
    * hot-bucket cap: a boilerplate cluster indexed earlier puts its whole
    * occupancy into one band bucket, and a probe landing there joins all
    * of it. Capped, each index bucket contributes its `c` lowest DISTINCT
    * keys — dense_rank, not row_number, so copies of a key re-ingested
    * into several segments neither tie-break arbitrarily nor consume cap
    * slots. Pair recall against beyond-cap members is lost; admission
    * survives, because a hot bucket's members are near-identical and
    * matching any kept representative answers "is this a dup of
    * anything indexed?". The window shuffles only the pruned slice, only
    * when enabled. */
  def candidates(batch: DataFrame, path: String, cap: Option[Int],
      exclude: Option[Long] = None): DataFrame = {
    val probe = rows(batch).localCheckpoint()
    bands.live(batch.sparkSession, path, bands.parts(probe, path), exclude) match {
      case None =>
        probe.limit(0).select(col(key).as(newCol), col(key).as("dup_of"),
          col(p).as(s"${p}_n"))
      case Some(pruned) =>
        val capped = cap.fold(pruned)(c => pruned.withColumn("__occ", dense_rank()
            .over(Window.partitionBy(bandCols.map(col): _*).orderBy(col(key))))
          .filter(col("__occ") <= c).drop("__occ"))
        broadcast(probe).as("n").join(capped.as("e"),
            sameBand("n", "e") && col(s"n.$key") =!= col(s"e.$key"))
          .select(col(s"n.$key").as(newCol), col(s"e.$key").as("dup_of"),
            col(s"n.$p").as(s"${p}_n"))
    }
  }

  /** Verified (newCol, dup_of, scoreName) pairs with score ≥ threshold,
    * each scored against the LATEST indexed version of `dup_of` (the
    * window runs over the candidate pairs, never the index). Nothing is
    * indexed here: callers ingest after admission. */
  def probe(batch: DataFrame, path: String, threshold: Double,
      cap: Option[Int], exclude: Option[Long] = None): DataFrame =
    payload.readAll(batch.sparkSession, path, exclude) match {
      case None =>
        batch.limit(0).select(col(key).as(newCol), col(key).as("dup_of"),
          lit(0.0).as(scoreName))
      case Some(idx) =>
        SegmentIndex.latest(candidates(batch, path, cap, exclude)
            .dropDuplicates(newCol, "dup_of") // shrink before the fetch
            .join(idx.select(col(key).as("dup_of"), col(p).as(s"${p}_e"),
              col("ingest")), Seq("dup_of")),
            Seq(newCol, "dup_of"), "ingest")
          .withColumn(scoreName, score(col(s"${p}_n"), col(s"${p}_e")))
          .filter(col(scoreName) >= threshold)
          .select(col(newCol), col("dup_of"), col(scoreName))
    }

  /** In-batch near-dup resolution, greedy keep-lowest-key: a key on the
    * higher side of a verified pair drops, so chains collapse toward
    * their lowest member in one pass (a dropped key still shadows its
    * own higher dups). */
  private def dedupWithinBatch(batch: DataFrame, threshold: Double): DataFrame = {
    val r = rows(batch)
    val losers = r.as("a").join(r.as("b"),
        sameBand("a", "b") && col(s"a.$key") < col(s"b.$key"))
      .select(col(s"a.$key").as("__ka"), col(s"b.$key").as("__kb"),
        col(s"a.$p").as("__pa"), col(s"b.$p").as("__pb"))
      .dropDuplicates("__ka", "__kb")
      .filter(score(col("__pa"), col("__pb")) >= threshold)
      .select(col("__kb").as(key)).distinct()
    batch.join(losers, Seq(key), "left_anti")
  }

  /** Streaming near-dup admission ([[SegmentIndex.admit]]): probe the
    * index, dedup the batch against ITSELF (two near-dups arriving in one
    * micro-batch are invisible to the index — one must still lose), then
    * write the admitted rows and their index segment. */
  def writer(path: String, outDir: String, threshold: Double,
      cap: Option[Int])(batch: DataFrame, batchId: Long): Unit =
    SegmentIndex.admit(outDir, batchId) {
      val dups = probe(batch, path, threshold, cap, Some(batchId))
        .select(col(newCol)).distinct()
      val admitted = dedupWithinBatch(
        batch.join(dups, batch(key) === dups(newCol), "left_anti"), threshold)
        .localCheckpoint()
      (admitted, () => ingest(admitted, path, batchId))
    }
}
