package graft.functions

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label) — LLM-pipeline tier.
  *
  * Scale design: the brute-force path is a broadcast of the (tiny) query
  * set against a scan of the corpus — O(corpus) with no shuffle, ideal
  * when queries ≪ corpus. The LSH/IVF path (Extensions tier) buckets the
  * corpus once so repeated queries probe only matching buckets.
  *
  * All math is done in double (embeddings cast float→double first) so the
  * DuckDB oracle — `list_cosine_similarity(embedding::DOUBLE[], ...)` —
  * agrees bit-for-bit before rounding.
  */
object SimilarityOps {

  type Q = (SparkSession, String) => DataFrame

  /** dot(a,b) via zip_with + aggregate — pure Catalyst expressions, no
    * UDF, but NOT codegen: Spark's higher-order functions are
    * CodegenFallback (interpreted, one boxed lambda binding per
    * element). Kept as the spec-proven reference composition;
    * every per-PAIR hot path uses the bit-identical fused
    * [[graft.expressions.VectorHashes.dot_product]] /
    * [[graft.expressions.VectorHashes.cosine_sim]] instead
    * (EmbeddingDedupSpec pins fused ≡ composed bit-for-bit). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The fused twin, used by every hot path below. */
  private def fcos(a: Column, b: Column): Column =
    graft.expressions.VectorHashes.cosine_sim(a, b)

  /** Brute-force cosine top-k: query vector = vec_id 0, corpus = the rest.
    * Broadcast the single query row; rank by rounded score with vec_id
    * tiebreak for determinism. */
  val annCosineTopK: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
      .limit(10)
  }

  /** Per-label centroid then nearest-centroid assignment check — the IVF
    * coarse-quantizer building block: one groupBy(label) for centroids
    * (tiny result, broadcast back). Output: label, member count, rounded
    * centroid self-similarity stats. */
  val labelCentroidStats: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // centroid_j = avg over members of v[j]: aggregate element-wise via
    // explode-free posexplode alternative — zip_with against a running
    // sum needs an agg over arrays; use explode for clarity (64 dims).
    val dims = emb.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
    dims.groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"),
        count(lit(1)).as("n_dims"))
  }

  /** Deterministic random-hyperplane family (java.util.Random is a fixed
    * LCG, so signatures are stable across JVMs/runs). */
  def hyperplanes(dims: Int, k: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(k)(Array.fill(dims)(rnd.nextGaussian()))
  }

  /** Sign-bucket of a vector under `planes`: bit i = (v·h_i > 0).
    * Runs the fused [[graft.expressions.VectorHashes.sign_band_vals]]
    * as ONE band of planes.length bits — identical packing, but a
    * single codegen'd primitive pass instead of |planes| interpreted
    * HOF dots per row (the corpus-scan cost of q38 and the stored ANN
    * index build). [[bucketOfComposed]] keeps the HOF form for the
    * equivalence specs. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    element_at(graft.expressions.VectorHashes.sign_band_vals(
      v, planes.map(_.toSeq).toSeq, planes.length), 1)

  /** The spec-proven HOF composition bucketOf fuses (AnnLshSpec /
    * EmbeddingDedupSpec pin bit-equality). */
  def bucketOfComposed(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      when(dot(v, typedlit(h.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** The ANN scale path: random-hyperplane LSH restricts the cosine scan
    * to buckets within hamming distance `probe` of the query's bucket —
    * at 100 TB the corpus is written bucketed/partitioned by this key, so
    * a query touches a few partitions instead of the full scan that
    * q25 (the exactness baseline) does. Rows-only driver check;
    * AnnLshSpec proves recall on engineered clusters. */
  def annLsh(s: SparkSession, d: String, k: Int = 10, bits: Int = 8,
      probe: Int = 2): DataFrame = {
    val planes = hyperplanes(64, bits)
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketOf(col("v"), planes))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(expr(s"bit_count(bucket ^ qbucket) <= $probe"))
      .select(col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
      .limit(k)
  }

  private[functions] def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** ---- Stored hyperplane-LSH layout: the ANN symmetry of the IVF
    * index. Build once: corpus written partitioned by its sign bucket.
    * Query: the bucket ids within hamming `probe` of the query's bucket
    * are ENUMERATED on the driver (≤ Σ C(bits,i), e.g. 37 of 256 at
    * probe=2) and the scan prunes to exactly those partitions — same
    * results as the full-scan filter form (the hamming predicate is
    * identical), so q38's generated SQL oracle still applies. */
  /** The stored layout's geometry pin: the plane family is fully
    * determined by (dims, bits, fixed seed), and BOTH numbers are layout
    * geometry — a probe or a later ingest under a different width OR a
    * different plane count assigns buckets from a different family, so
    * vectors land in unprobed directories and silently vanish from
    * top-k. Format `"dims:bits"`; a legacy pre-bits pin (`"dims"`) reads
    * as (dims, None) and skips the bits check. */
  private def readGeom(s: SparkSession, path: String): Option[(Int, Option[Int])] =
    graft.sinks.Hfs.readString(s, s"$path/__dims").map { raw =>
      raw.trim.split(":") match {
        case Array(d, b) => (d.toInt, Some(b.toInt))
        case Array(d) =>
          // legacy pre-bits pin: tolerated read-only (skips the bits
          // consistency check — exactly the blind spot that let a
          // mis-bitted probe through once), never written since the
          // dims:bits format landed. Loud so stragglers get rebuilt.
          System.err.println(s"[graft] DEPRECATED bare-int geometry pin " +
            s"at $path/__dims ('$raw') — rebuild the index to pin " +
            "dims:bits and restore the stored-bits consistency check")
          (d.toInt, None)
        case _ => throw new IllegalArgumentException(
          s"unreadable geometry pin at $path/__dims: '$raw'")
      }
    }

  private def pinGeom(s: SparkSession, path: String, dims: Int, bits: Int): Unit =
    graft.sinks.Hfs.writeString(s, s"$path/__dims", s"$dims:$bits")

  /** Refuse a `what` (query or ingest) whose width or bits differ from
    * the pinned geometry at `path` — its buckets would come from another
    * plane family. False when nothing is pinned yet. */
  private def checkGeom(s: SparkSession, path: String, dims: Int, bits: Int,
      what: String): Boolean = readGeom(s, path).exists { case (w, storedBits) =>
    val rebuild = "the bucket layout is plane-family geometry; rebuild the index to change it"
    require(w == dims, s"$what width $dims != indexed width $w at $path — $rebuild")
    storedBits.foreach(b =>
      require(b == bits, s"$what bits $bits != indexed bits $b at $path — $rebuild"))
    true
  }

  /** Bucket assignment that REFUSES a row whose vector width disagrees
    * with the declared family width: every plane dot against a
    * shorter/longer vector degenerates (zero-padded or truncated sign
    * bits), so the row would silently file under a wrong bucket —
    * fail the ingest job instead. */
  private def bucketChecked(v: Column, planes: Array[Array[Double]],
      dims: Int): Column =
    when(size(v) === dims, bucketOf(v, planes))
      .otherwise(raise_error(concat(
        lit("vector width "), size(v).cast("string"),
        lit(s" != declared dims $dims — refusing a mis-bucketed row"))))

  def buildAnnLshIndex(emb: DataFrame, path: String, bits: Int = 8,
      dims: Int = 64): Unit = {
    val planes = hyperplanes(dims, bits)
    graft.sinks.IngestSegments.alignToLayout(
        emb.withColumn("bucket", bucketChecked(col("v"), planes, dims)),
        "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/corpus")
    // one-shot build replaces the whole corpus, so the pin follows it
    pinGeom(emb.sparkSession, s"$path", dims, bits)
  }

  /** Driver-side probe plan shared by the one-shot and live probes:
    * verify the stored geometry against the query width AND the caller's
    * bits, regenerate the plane family, take the query's sign bucket
    * (same left-to-right dot as the columnar aggregate(), so the bits
    * agree bit-for-bit), and enumerate the bucket ids within hamming
    * `probe` of it. Pre-pin layouts fall back to the query's width. */
  private def probedBucketSet(s: SparkSession, path: String,
      qVec: Array[Double], bits: Int, probe: Int): Seq[Long] = {
    checkGeom(s, path, qVec.length, bits, "query")
    val planes = hyperplanes(qVec.length, bits)
    val qb = planes.zipWithIndex
      .map { case (h, i) => if (dotLocal(qVec, h) > 0) 1L << i else 0L }
      .reduce(_ | _)
    (0L until (1L << bits))
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= probe)
  }

  def probeAnnLshIndex(s: SparkSession, path: String, qVec: Array[Double],
      bits: Int = 8, probe: Int = 2, k: Int = 10,
      excludeVecId: Long = 0L): DataFrame = {
    val probed = probedBucketSet(s, path, qVec, bits, probe)
    // the probed set IS the partition filter, applied at LISTING time
    // (see readPrunedParts); an absent index stays LOUD (PATH_NOT_FOUND)
    // rather than answering "0 neighbors", matching the sibling probes
    readPrunedParts(s, s"$path/corpus", "bucket=", probed)
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), typedlit(qVec.toSeq)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
      .limit(k)
  }

  /** The one-shot bucket layout, published through
    * [[graft.sinks.Lifecycle]]: its `__done` follows the geometry pin,
    * the build's LAST write (`corpus/_SUCCESS` precedes the pin). */
  private def ensureAnnLshIndex(s: SparkSession, d: String, bits: Int): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "annlsh-index",
        s"-b$bits") { stage =>
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      buildAnnLshIndex(emb, stage, bits)
    }

  /** q38 runs against the stored bucket layout (built on first use per
    * sf dir); AnnLshSpec keeps the on-the-fly annLsh for recall tests. */
  val annLshTopK: Q = (s, d) => {
    val path = ensureAnnLshIndex(s, d, 8)
    val qVec = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    probeAnnLshIndex(s, path, qVec, bits = 8, probe = 2, k = 10)
  }

  /** ---- ANN-LSH corpus through the ingest-segment lifecycle ----
    *
    * q38 proves the stored bucket layout built in ONE shot; q105 proves
    * the same layout reached the way a 100 TB corpus actually arrives —
    * in micro-batches. The corpus is a [[graft.sinks.SegmentIndex]]:
    * each ingest writes `corpus/ingest=N/bucket=B` (bucket partitioning
    * INSIDE each segment, so pruning works per segment exactly as in the
    * one-shot layout), with the logical ingest persisted as DATA (`ing`,
    * the IngestSegments tombstone convention) so recency and retraction
    * survive compaction; folds keep the latest version per vec_id, and
    * retractions go to the bucket-blind side table `tomb`. The driver's
    * gate then pins the lifecycle: a probe over a three-cut folded+tail
    * index must hash-equal the batch q38 answer (same generated oracle). */
  private val annCorpus = graft.sinks.SegmentIndex("corpus", "vec_id",
    Seq("vec_id", "v", "ing"), part = Some("bucket"), latestBy = Some("ing"),
    tomb = Some("tomb"))

  def ingestAnnSegment(emb: DataFrame, path: String, ingestId: Long,
      bits: Int = 8, dims: Int = 64): Unit = {
    // plane-family geometry (see readGeom) — pin BOTH numbers on first
    // ingest, REFUSE drift on either BEFORE writing: a segment bucketed
    // under a different plane family would probe wrong forever
    if (!checkGeom(emb.sparkSession, path, dims, bits, "ingest"))
      pinGeom(emb.sparkSession, path, dims, bits)
    annCorpus.write(emb.withColumn("bucket",
        bucketChecked(col("v"), hyperplanes(dims, bits), dims))
      .withColumn("ing", lit(ingestId)), path, ingestId)
  }

  /** Retraction (the CDC `D` route applied to the ANN index): `batch`
    * carries the deleted vec_ids. Every probe drops corpus rows with
    * ing ≤ the id's newest tombstone; a later re-ingest (higher ing)
    * resurrects the id. */
  def retractAnnVecs(path: String)(batch: DataFrame, batchId: Long): Unit =
    annCorpus.retract(path)(batch, batchId)

  /** Fold old ANN segments (latest version per vec_id, tombstoned
    * versions dropped, bucket layout kept), then retire inert tombstones. */
  def compactAnnLshIndex(spark: SparkSession, path: String): Unit =
    annCorpus.compact(spark, path)

  /** [[probeAnnLshIndex]] against the LIVE fold+tail state: the same
    * probed bucket enumeration on the driver, the same pruned listing
    * per segment, resolved by [[graft.sinks.SegmentIndex.live]]. */
  def probeAnnLshIndexLive(s: SparkSession, path: String,
      qVec: Array[Double], bits: Int = 8, probe: Int = 2, k: Int = 10,
      excludeVecId: Long = 0L): DataFrame =
    annCorpus.live(s, path, probedBucketSet(s, path, qVec, bits, probe)) match {
      case None =>
        s.createDataFrame(Seq.empty[(Long, Double)]).toDF("neighbor_id", "cosine")
      case Some(live) =>
        live.filter(col("vec_id") =!= excludeVecId)
          .select(col("vec_id").as("neighbor_id"),
            round(fcos(col("v"), typedlit(qVec.toSeq)), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
          .limit(k)
    }

  /** The three-cut fold+tail lifecycle state for q105, built once per
    * fixture generation through [[graft.sinks.Lifecycle]] (the
    * ensureCutLifecycle pattern of q102/q103). Cuts by pmod(vec_id, 3)
    * — each vector in exactly one ingest. All three segments are
    * written FIRST, then compacted: IngestSegments' contract keeps the
    * newest batch id replayable and folds the rest, so the post-compact
    * state is fold(cuts 0+1) + live tail(cut 2) — the worst readable
    * state, which the q105 probe must read correctly. */
  private def ensureAnnLshLifecycle(s: SparkSession, d: String,
      bits: Int): String =
    // -v2ing: r16 added the persisted logical `ing` column (tombstone
    // convention) — a pre-r16 layout must rebuild, not feed the probe
    // a schema without it
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "annlsh-stream",
        s"-b$bits-v2ing") { path =>
      val emb = annVectors(s, d)
      def cut(b: Long) = emb.filter(pmod(col("vec_id"), lit(3)) === b)
      ingestAnnSegment(cut(0), path, 0L, bits)
      ingestAnnSegment(cut(1), path, 1L, bits)
      ingestAnnSegment(cut(2), path, 2L, bits)
      compactAnnLshIndex(s, path) // folds ingests 0+1; 2 stays the tail
    }

  private[functions] def annVectors(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** q105: q38's answer through the ingest lifecycle — the probe over
    * the folded+tail segment state must hash-equal the one-shot batch
    * layout's probe (same generated SQL oracle, on purpose: the
    * lifecycle is the thing under test, not a new query semantics). */
  val annLshTopKStream: Q = (s, d) => {
    val path = ensureAnnLshLifecycle(s, d, 8)
    val qVec = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    probeAnnLshIndexLive(s, path, qVec, bits = 8, probe = 2, k = 10)
  }

  /** The ANN retraction lifecycle — q105's worst retractable state
    * (the q167 convention applied to vectors, through the shared
    * [[graft.sinks.Lifecycle.retractCuts]] script): three ingest cuts
    * with a mid-lifecycle fold, retract vec ≡ 3 (mod 10), resurrect the
    * ≡ 3 (mod 20) half, fold again (tombstoned versions drop, the side
    * table's tombstones survive with their logical ing), then a final
    * live-tail retraction of the ≡ 3 (mod 40) quarter. */
  private def ensureAnnLshRetractLifecycle(s: SparkSession, d: String,
      bits: Int): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "annlsh-retract",
      s"-b$bits")(graft.sinks.Lifecycle.retractCuts(annVectors(s, d),
        col("vec_id"),
        stage => (df, id) => ingestAnnSegment(df, stage, id, bits),
        retractAnnVecs, compactAnnLshIndex(s, _),
        graft.sinks.Lifecycle.halvingMasks(col("vec_id"))))

  /** q169: retraction through the ANN ingest lifecycle — a vector
    * deleted upstream must leave the index (the probe must NEVER
    * return a deleted vec_id, not "until compaction"): tombstones live
    * in the bucket-blind side table, so the pruned probe drops them
    * whatever buckets it reads. Hash-gated against q38's generated
    * oracle over the POST-RETRACTION vector set. */
  val annLshRetract: Q = (s, d) => {
    val path = ensureAnnLshRetractLifecycle(s, d, 8)
    val qVec = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    probeAnnLshIndexLive(s, path, qVec, bits = 8, probe = 2, k = 10)
  }

  /** Deterministic k-means-lite: init = the k lowest vec_ids, `iters`
    * Lloyd steps. The tiny centroid model (k × dims doubles) is
    * collected to the driver each step — at 100 TB the build is its own
    * job whose output partitions/buckets the corpus by cell_id; queries
    * then read only probed cells. */
  def kmeansLite(emb: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = emb
      .orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    var it = 0
    while (it < iters) {
      val assigned = assignCells(emb, centroids)
      val dims = assigned.select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      val means = dims.groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ms"))
        .select(col("cell"), col("ms.m").as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    centroids
  }

  /** Nearest-centroid (max cosine) cell assignment via an argmax over
    * struct(cos, cell) — pure columnar. */
  def assignCells(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val cells = centroids.zipWithIndex.map { case (c, i) =>
      struct(fcos(col("v"), typedlit(c.toSeq)).as("cos"), lit(i).as("cell"))
    }
    emb.withColumn("cell", array_max(array(cells.toIndexedSeq: _*)).getField("cell"))
  }

  private[functions] def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** ---- IVF index: the stored-layout ANN path ----
    *
    * Build once: k-means-lite centroids, then the corpus written
    * partitioned by its nearest-centroid `cell` (plus the tiny centroid
    * model alongside). Query: rank cells by cosine(query, centroid) on
    * the driver (model-sized math), then scan ONLY the nprobe probed
    * cell partitions — parquet partition pruning does the work, so a
    * query touches nprobe/k of the corpus files instead of the full
    * scan. At 100 TB the build is its own job; IvfSpec asserts the
    * probe's selected-partition and files-read subset. */
  def buildIvfIndex(emb: DataFrame, path: String, k: Int = 8,
      iters: Int = 1, dims: Int = 64): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // same admission rule as every sign-LSH banding (wellFormedVec): a
    // malformed vector can never be a neighbor (fcos against it is
    // null, sorting below every real score), a short one among the k
    // lowest vec_ids would seed a junk centroid, and indexing it only
    // pads every future probe's pruned scan with dead rows. Probes
    // derive the width from the stored centroids, so `dims` is a
    // build-time-only knob.
    val clean = emb.filter(wellFormedVec(col("v"), dims))
    val centroids = kmeansLite(clean, k, iters)
    graft.sinks.IngestSegments
      .alignToLayout(assignCells(clean, centroids), "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Probe a stored IVF index: exact cosine over the nprobe best cells
    * only (partition-pruned scan). */
  def probeIvfIndex(s: SparkSession, path: String, qVec: Array[Double],
      nprobe: Int, topk: Int = 10, excludeVecId: Long = 0L): DataFrame = {
    val cents = loadCentroids(s, path)
    val probeCells = cents.indices
      .sortBy(i => -cosLocal(qVec, cents(i))).take(nprobe)
    readPrunedCells(s, s"$path/corpus", probeCells)
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), typedlit(qVec.toSeq)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
      .limit(topk)
  }

  /** One-shot cell/bucket layout read pruned at LISTING time: one
    * listStatus of the table root, then only the kept partition dirs
    * are file-listed and planned (basePath keeps the partition column).
    * Handing Spark the root and filtering the partition column prunes
    * the SCAN but still file-lists every dir — with thousands of cells
    * the listing, not the read, dominates probe latency. Empty-kept
    * probes read the root (cheap only when nothing matched — yields
    * the schema for a well-typed empty result, and keeps a MISSING
    * index loud: a typo'd or never-built root fails with
    * PATH_NOT_FOUND instead of answering "0 neighbors"). */
  private[functions] def readPrunedParts(s: SparkSession, root: String,
      prefix: String, keys: Seq[Long]): DataFrame = {
    val keep = keys.map(k => s"$prefix$k").toSet
    val dirs = graft.sinks.Hfs.childDirs(s, root, prefix)
      .filter(keep).map(n => s"$root/$n")
    if (dirs.isEmpty) s.read.parquet(root).limit(0)
    else s.read.option("basePath", root).parquet(dirs: _*)
  }

  private[functions] def readPrunedCells(s: SparkSession, root: String,
      cells: Seq[Int]): DataFrame =
    readPrunedParts(s, root, "cell=", cells.map(_.toLong))

  /** Index location for a given sf dir ([[graft.sinks.Lifecycle]]'s
    * tag over the embeddings fixture; `-k<k>-i<iters>` is the variant). */
  def ivfIndexPath(s: SparkSession, d: String, k: Int, iters: Int): String =
    graft.sinks.Lifecycle.location(s, d, Seq("embeddings"), "ivf",
      s"-k$k-i$iters")

  private def ensureIvfIndex(s: SparkSession, d: String, k: Int,
      iters: Int): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "ivf",
        s"-k$k-i$iters") { stage =>
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      buildIvfIndex(emb, stage, k, iters)
    }

  /** Centroids of the last annIvf run, keyed for oracle generation: the
    * q42 oracle must assign cells with the SAME centroid model the stored
    * index was partitioned by, so `oracles` (a def, read by Verify AFTER
    * the query loop) prints these as SQL literals — the IVF analog of
    * q38's printed hyperplanes. None until a q42 run caches it. */
  @volatile private var ivfOracleState: Option[(Int, Array[Array[Double]])] = None

  /** Centroid model of the last q117 run — same q42 print-the-model
    * pattern: the oracle must partition the pair space with the SAME
    * cells the Spark run used, so the generated SQL carries them as
    * literals. None until a q117 run caches it. */
  @volatile private var semdedupOracleState: Option[(Int, Double, Array[Array[Double]])] = None

  /** (nBench, threshold, centroids) of the last q123 run — same
    * print-the-model contract as q117's. */
  @volatile private var semdecontamOracleState: Option[(Int, Double, Array[Array[Double]])] = None

  /** A per-JVM cache of a FROZEN model read from a stored layout:
    * serving probes skip the per-request driver-side parquet reads.
    * Keyed on (path, sorted file listing of each of the layout's model
    * `dirs`): parquet part names carry per-job UUIDs, so a rebuild at
    * the same path — the one legal way a model changes — misses
    * regardless of the filesystem's mtime granularity, and its insert
    * evicts the path's stale entries (a rebuilt index must not pin its
    * predecessor's model). */
  private[functions] final class ModelCache[M](dirs: Seq[String])(
      read: (SparkSession, String) => M) {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[(String, Seq[Seq[String]]), M]

    def apply(s: SparkSession, path: String): M = {
      val key = (path,
        dirs.map(m => graft.sinks.Hfs.childFiles(s, s"$path/$m").sorted))
      cache.getOrElse(key, {
        val m = read(s, path)
        cache.synchronized {
          cache.keys.filter(_._1 == path).foreach(cache.remove)
          cache(key) = m
        }
        m
      })
    }
  }

  /** The stored centroid model of an index, ordered by cell id. */
  def loadCentroids(s: SparkSession, path: String): Array[Array[Double]] =
    centroidCache(s, path)

  private val centroidCache = new ModelCache(Seq("centroids"))((s, path) =>
    s.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2))

  /** IVF query against the stored index (built on first use per sf dir).
    * nprobe = k degrades to the exact q25 scan (spec-verified); the
    * default nprobe=2 scans a strict subset of the corpus partitions. */
  def annIvf(s: SparkSession, d: String, k: Int = 8, nprobe: Int = 2,
      topk: Int = 10, iters: Int = 1): DataFrame = {
    val path = ensureIvfIndex(s, d, k, iters)
    ivfOracleState = Some((nprobe, loadCentroids(s, path)))
    val qVec = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    probeIvfIndex(s, path, qVec, nprobe, topk)
  }

  val annIvfTopK: Q = (s, d) => annIvf(s, d)

  /** Batched ANN — the kNN-JOIN form of the IVF probe: top-k neighbors
    * for EVERY row of a query table in ONE job, instead of one driver
    * round-trip per query. This is the shape a pipeline actually runs at
    * scale ("for each of this batch's N embeddings, its k nearest
    * corpus neighbors"): per-query probe cells are ranked on the driver
    * with [[probeIvfIndex]]'s own rule (ties → lower cell — r18: the
    * panel is collected once, so batch ≡ single-probe by construction),
    * the (query, cell) probe set is BROADCAST against the
    * cell-partitioned corpus — so the corpus is scanned once at its own
    * parallelism and never shuffled through the tiny cell-key space
    * (a shuffle join on k≈8 cell values would collapse to k partitions)
    * — and the rounded-cosine top-k per query runs as one
    * query_id-partitioned window (high-cardinality shuffle, the only
    * one in the plan).
    *
    * `queries` needs (query_id LONG, qv array<double>); query_id SHARES
    * the corpus vec_id space and a matching corpus row is excluded as a
    * self-match (probeIvfIndex's excludeVecId contract) — external
    * queries should use ids outside the corpus space (e.g. negative),
    * or a colliding id silently drops one real neighbor. Sizing: the broadcast
    * side is |queries| × nprobe rows carrying the query vectors — right
    * for micro-batch/batch query sets; for a corpus×corpus join, raise
    * the index's k so cells (and the probe fan-out) stay balanced and
    * chunk the query side. */
  def ivfKnnJoin(s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int, topk: Int): DataFrame = {
    val cents = loadCentroids(s, path)
    ivfKnnJoinCollected(s, path, cents,
      collectQueries(queries, cents(0).length), nprobe, topk)
  }

  /** The bounded probe-panel collect behind the batched kNN joins
    * (r18): well-formed (query_id, qv) rows pulled to the driver in
    * ONE job. The probed frame was ALREADY driver-resident by contract
    * — it is broadcast into the corpus join, and a broadcast collects
    * its child to the driver first — so this is the same memory
    * footprint; what it replaces is the probe localCheckpoint job +
    * the cell-enumeration collect job + the broadcast's own build job
    * over the checkpoint blocks (3 driver actions per probe seam → 1),
    * and the 512-double centroid literals leave the executor plan
    * entirely. Consistency is free: one collect IS one probe pass.
    * The malformed-query admission filter runs distributed inside the
    * collect job, unchanged. */
  private[functions] def collectQueries(queries: DataFrame,
      dims: Int): Array[(Long, Array[Double])] =
    queries.filter(wellFormedVec(col("qv"), dims))
      .select(col("query_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** [[ivfKnnJoin]] over a pre-collected query panel: per-query probe
    * cells are ranked on the DRIVER with the single probe's EXACT rule
    * (probeIvfIndex's stable sortBy — ties to the lower cell; the
    * fused sort_array ranking this replaces was pinned equal to it in
    * IvfSpec), so batch ≡ single-probe by construction. Driver math is
    * |queries| × k cosines — model-sized, far under the broadcast the
    * frame already pays. */
  private[functions] def ivfKnnJoinCollected(s: SparkSession, path: String,
      cents: Array[Array[Double]], qrows: Array[(Long, Array[Double])],
      nprobe: Int, topk: Int): DataFrame = {
    import s.implicits._
    val probedRows = qrows.toSeq.flatMap { case (qid, qv) =>
      cents.indices.sortBy(i => -cosLocal(qv, cents(i))).take(nprobe)
        .map(c => (qid, qv.toSeq, c))
    }
    val probed = probedRows.toDF("query_id", "qv", "cell")
    // driver-enumerated probed-cell union, pruned at LISTING time
    // (readPrunedCells): a data-dependent join key cannot prune the
    // corpus scan, so without this the batch form lists and reads every
    // cell even for one query. Bounded by the index's cell count k (the
    // lshIndexBuckets pattern), never by the query count.
    val cells = probedRows.map(_._3).distinct
    val corpus = readPrunedCells(s, s"$path/corpus", cells)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), col("qv")), 6).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topk)
      .drop("__rn")
  }

  /** Model state for q95's generated oracle (the q42 pattern). */
  @volatile private var knnOracleState: Option[(Int, Int, Int, Array[Array[Double]])] = None

  /** Model state for q153's generated oracle: (nQueries, k, ivf probe
    * SQL, pq probe SQL, pq+exact-rerank SQL, post-retraction pq probe
    * SQL). */
  @volatile private var recallOracleState: Option[(Int, Int, String, String, String, String)] = None

  /** The q169/q170 lifecycles' live-vector predicate (q167's masks on
    * vec_id) — the exact side of the post-retraction recall row ranks
    * over exactly this set. */
  private val vecRetractLivePred: String =
    "NOT (vec_id % 20 = 13) AND NOT (vec_id % 40 = 3)"

  /** q153: ANN recall@k as a DRIVER-MONITORED number — LSH recall is
    * spec-pinned at fixture scale, but IVF/PQ probe recall vs the exact
    * cosine ranking was previously nobody's metric: a quantizer
    * regression (bad centroids, mis-encoded codes, a probe pruning the
    * wrong cells) would keep q42/q94/q95/q96 green (they compare
    * against the SAME probed model) while silently degrading retrieval.
    * This query computes recall@10 per query for BOTH probe engines
    * against the brute-force exact ranking (the q25 tiebreak
    * convention: rounded cosine desc, neighbor_id), and the oracle
    * recomputes it end-to-end in DuckDB from the same generated model
    * literals. IvfSpec/PqSpec additionally assert recall floors so a
    * regression turns a spec red, not just a number lower. Scale shape:
    * the exact side is |queries|×corpus — a MONITOR over a bounded
    * query panel (8 here), not a production query; the probes
    * themselves stay partition-pruned. */
  val annRecallReport: Q = (s, d) => {
    import s.implicits._
    val k = 10; val nQ = 8; val nprobe = 2
    val path = ensureIvfIndex(s, d, 8, 1)
    val cents = loadCentroids(s, path)
    val ivfSql = knnOracle(nQ, nprobe, k, cents)
    val emb = t(s, d, "embeddings")
    // ONE panel collect shared by all four probe rows (r18): each
    // probe previously paid its own checkpoint + cell-enumeration pass
    // over the same 8 query vectors (6 driver actions for the panel →
    // 1). The truth side below keeps the original parquet-backed
    // queries frame, so its semantics are untouched by the panel's
    // admission filter.
    val qrows = collectQueries(emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv")), cents(0).length)
    // the pq row plus its rerank row (the PQ shortlist widened to 5×k,
    // repaired by exact cosine — q108's two-stage step, batched),
    // proving NUMERICALLY that the ADC compression error is
    // recoverable, the round-13 OPQ-rejection argument closed with a
    // measurement; one call = one codebook load for both probes
    val (pqDf, pqSql, rrDf, rrSql) =
      PqOps.knnJoinsForRecall(s, d, nQ, nprobe, k, shortlist = 5 * k,
        panel = Some(qrows))
    // the post-retraction row (r17): the q170 lifecycle store probed
    // with the SAME panel, recall measured against the exact ranking
    // over the LIVE vector set — retrieval quality after deletes, not
    // just never-returns-deleted
    val (rtDf, rtSql) = PqOps.retractKnnJoinForRecall(s, d, nQ, nprobe, k,
      panel = Some(qrows))
    recallOracleState = Some((nQ, k, ivfSql, pqSql, rrSql, rtSql))
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // ONE side-tagged exact ranking and ONE method-tagged hit count
    // (r17) — the oracle's own UNION ALL shape. The r16 form ranked
    // full and live truths in two window subtrees and counted hits
    // through four separate semi-join → aggregate branches; the union
    // tags collapse that to one window pass (partitioned by
    // (side, query_id) — same parallelism keys) and one semi join +
    // one aggregate, identical row-for-row because each (side, method)
    // slice joins exactly the rows its dedicated branch did.
    val livePred = pmod(col("vec_id"), lit(20)) =!= 13 &&
      pmod(col("vec_id"), lit(40)) =!= 3
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("side"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // r18: ONE corpus scan for BOTH truth sides — every row emits its
    // 'full' tag and live rows additionally 'live' (explode of a 1- or
    // 2-element literal array), the exact row multiset the two-scan
    // union produced. The per-pair cosine is computed ONCE, BEFORE the
    // side explode: live rows (most of the corpus) previously paid the
    // 64-dim cosine on both sides of the union; here each (vec, query)
    // pair pays it exactly once and the tag fan-out copies the rounded
    // double.
    val ex = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(fcos(col("v"), col("qv")), 6).as("cosine"),
        explode(when(livePred, array(lit("full"), lit("live")))
          .otherwise(array(lit("full")))).as("side"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("side"), col("query_id"), col("neighbor_id"))
    val ivfDf = ivfKnnJoinCollected(s, path, cents, qrows, nprobe, k)
    def tagged(probe: DataFrame, method: String) =
      probe.select(col("query_id"), col("neighbor_id"))
        .withColumn("method", lit(method))
    val hits = tagged(ivfDf, "ivf").unionByName(tagged(pqDf, "pq"))
      .unionByName(tagged(rrDf, "pq_rerank"))
      .unionByName(tagged(rtDf, "pq_retract"))
      .withColumn("side", when(col("method") === "pq_retract", "live")
        .otherwise("full"))
      .join(ex, Seq("side", "query_id", "neighbor_id"), "left_semi")
      .groupBy(col("method"), col("query_id")).agg(count(lit(1)).as("n_hit"))
    queries.select(col("query_id"))
      .crossJoin(Seq("ivf", "pq", "pq_rerank", "pq_retract").toDF("method"))
      .join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  /** q153's oracle: the two probe engines' generated SQL as
    * method-tagged subqueries, intersected with the brute-force exact
    * top-k (same rounded-cosine/neighbor_id cut in both engines);
    * recall = n_hit / k as one deterministic double division — no
    * round() anywhere near the metric. */
  private def recallOracle(nQueries: Int, k: Int, ivfSql: String,
      pqSql: String, rrSql: String, rtSql: String): String =
    s"""WITH probed AS (
       |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ($ivfSql) ti
       |  UNION ALL
       |  SELECT 'pq' AS method, query_id, neighbor_id FROM ($pqSql) tp
       |  UNION ALL
       |  SELECT 'pq_rerank' AS method, query_id, neighbor_id FROM ($rrSql) tr
       |  UNION ALL
       |  SELECT 'pq_retract' AS method, query_id, neighbor_id FROM ($rtSql) tq),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |exact AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC,
       |                 e.vec_id) AS rn
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) s
       |  WHERE rn <= $k),
       |exact_live AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC,
       |                 e.vec_id) AS rn
       |    FROM e CROSS JOIN q
       |    WHERE e.vec_id <> q.qid AND $vecRetractLivePred) s
       |  WHERE rn <= $k),
       |ex AS (
       |  SELECT 'full' AS side, query_id, neighbor_id FROM exact
       |  UNION ALL
       |  SELECT 'live' AS side, query_id, neighbor_id FROM exact_live),
       |hits AS (
       |  SELECT p.method, p.query_id, count(*)::BIGINT AS n_hit
       |  FROM probed p JOIN ex x
       |    ON x.side = (CASE WHEN p.method = 'pq_retract'
       |                 THEN 'live' ELSE 'full' END)
       |   AND p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
       |  GROUP BY 1, 2)
       |SELECT m.method, qs.qid AS query_id,
       |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |  coalesce(h.n_hit, 0) / $k.0 AS recall
       |FROM (SELECT qid FROM q) qs
       |CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'pq'
       |            UNION ALL SELECT 'pq_rerank'
       |            UNION ALL SELECT 'pq_retract') m
       |LEFT JOIN hits h ON h.method = m.method AND h.query_id = qs.qid""".stripMargin

  /** q95: the kNN join over the stored IVF index — queries are the
    * first 8 corpus vectors, top-5 neighbors each at nprobe=2. */
  def annKnnJoin(s: SparkSession, d: String, nQueries: Int = 8,
      nprobe: Int = 2, topk: Int = 5): DataFrame = {
    val path = ensureIvfIndex(s, d, 8, 1)
    knnOracleState = Some((nQueries, nprobe, topk, loadCentroids(s, path)))
    val queries = t(s, d, "embeddings").filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    ivfKnnJoin(s, path, queries, nprobe, topk)
  }

  /** Embedding-cosine near-dup PAIRS — the fifth dedup family of the
    * LLM-pipeline tier (exact / MinHash-LSH / SimHash / n-gram Jaccard /
    * embedding cosine). Bounded slice (vec_id < 200) as the verification
    * tier: pairwise is quadratic by construction; the 100 TB path is
    * q54 (`embeddingDupsBucketed` below) — banded hyperplane LSH over
    * the full corpus, exactly as q28 does for MinHash bands.
    * Threshold 0.35 surfaces the fixtures' most-similar natural pairs
    * (they carry no engineered embedding dups; max cosine ≈ 0.44). */
  val embeddingDupPairs: Q = (s, d) => {
    val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(fcos(col("a.v"), col("b.v")), 6).as("cosine"))
      .filter(col("cosine") >= 0.35)
  }

  /** Sign-bit bands over a hyperplane family — the embedding analog of
    * MinHash banding: band b's value packs the sign bits of planes
    * [b·w, (b+1)·w). Two vectors are candidates iff they agree on ALL
    * bits of SOME band, so candidates come from an equality join on
    * (band, value), never an all-pairs comparison. */
  def signBands(v: Column, planes: Array[Array[Double]], bandBits: Int): Column = {
    val nBands = planes.length / bandBits
    array((0 until nBands).map { b =>
      val bv = (0 until bandBits).map { i =>
        when(dot(v, typedlit(planes(b * bandBits + i).toSeq)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bv.as("bv"))
    }: _*)
  }

  /** The scale path q51's docstring promises: embedding near-dup pairs
    * over the FULL corpus via banded hyperplane LSH — sign-band both
    * sides, candidate-join on (band, value), verify EXACT cosine within
    * candidates. Semantics are "band-collision pairs with cosine ≥ t"
    * (the oracle replicates the banding with literal planes, as q38's
    * does), so correctness holds at ANY banding parameters; the
    * parameters set the recall/cost point, and the defaults here are
    * chosen for SELECTIVITY — 16 bands × 8 bits over 128 planes keys
    * each band on 256 values, so a random pair collides with prob
    * 16/256 ≈ 6% and the candidate join stays ~7% of all pairs
    * (measured on sf0.1) instead of the 4×-worse-than-brute-force blowup
    * that 2-bit bands produced. The price is honest LSH recall: at the
    * fixtures' weak t=0.35 (69° apart — per-plane agreement only .61,
    * barely above random) recall vs the exact pair set is ~0.3
    * (EmbeddingDedupSpec pins the measured floor); at a production
    * near-dup threshold (0.9 ⇒ per-plane agreement .856, band collision
    * .856⁸ = .29) the same banding catches a pair with prob
    * 1−(1−.29)¹⁶ ≈ .996 — the spec proves recall 1.0 on seeded
    * synthetic dup pairs at cosine ≥ .95. Callers needing high recall at
    * weak thresholds should widen bands (fewer bits) or fall back to the
    * exact tier (q51) — no sign-LSH parameterization is both selective
    * and high-recall at 69°. Tuning with corpus size: expected random
    * collisions are nBands·2^-bandBits·N²/2, so each extra band bit
    * halves the candidate volume — at larger N raise bandBits and add
    * bands to hold recall (cost of banding grows only as nBands·N),
    * the standard LSH (b,r) trade. Shuffle cost: the band explode carries only
    * (vec_id, band, bv) — vectors join back by id for the verify step,
    * so the ×nBands blowup never ships the embeddings themselves. */
  def embeddingDupsBucketed(s: SparkSession, d: String, nPlanes: Int = 128,
      bandBits: Int = 8, threshold: Double = 0.35,
      maxBucket: Option[Int] = None): DataFrame = {
    val planes = hyperplanes(64, nPlanes)
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // malformed vectors would ALL co-bucket on the all-zero band
      // signature (occupancy² candidate blowup) and can never verify
      // (NULL cosine) — drop before banding, see wellFormedVec
      .filter(wellFormedVec(col("v"), 64))
    // fused banding: one primitive-array pass per row computes all
    // nPlanes dots (the signBands composition — kept as the spec
    // reference — runs them as interpreted HOFs, ~ms/row at 128 planes)
    val banded = e.select(col("vec_id"),
      posexplode(graft.expressions.VectorHashes.sign_band_vals(
        col("v"), planes.toSeq.map(_.toSeq), bandBits)).as(Seq("band", "bv")))
    // one straight pipeline — cand has exactly one consumer, so there is
    // nothing to persist/checkpoint (the earlier persist+eager-checkpoint
    // form leaked storage blocks into whatever the session ran next);
    // the verify tier scores pairs with the fused CosineSim (one
    // primitive pass/pair — the dot/norm HOF composition is interpreted
    // CodegenFallback and dominated the whole query)
    val cand = (maxBucket match {
      // hot-bucket relief valve, same trade as minhashLshWithCap: a
      // boilerplate cluster of near-identical vectors piles into one
      // (band, bv) bucket and the self-join enumerates occupancy²
      // pairs. The cap keys buckets on ONE xxhash64 long (the capped
      // path is already a pair-recall trade, and every admitted pair
      // still passes the EXACT cosine ≥ t verify below, so a 64-bit
      // bucket collision can only add pairs that genuinely clear the
      // threshold — only their band-collision provenance is relaxed).
      // The oracle path (maxBucket = None, q54) keeps the exact
      // (band, bv) key join.
      case Some(c) => DedupOps.cappedBandCandidates(
          banded.select(col("vec_id"),
            xxhash64(col("band"), col("bv")).as("b")),
          c, idCol = "vec_id")
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      case None => banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
    })
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(graft.expressions.VectorHashes.cosine_sim(
          col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Hybrid two-tier dedup — the modality-bridging audit a production
    * pipeline runs before deleting anything: candidate pairs from the
    * CHEAP tier (q54's banded hyperplane LSH + exact-cosine verify),
    * then each surviving pair scored on the OTHER modality — text
    * shingle Jaccard via the fused ShingleHashes sets and the
    * linear-merge SortedIntersectCount (never array_intersect). Kills
    * the classic failure of single-modality dedup: embedding neighbors
    * that are textually unrelated (template/boilerplate collapse) show
    * up with jaccard ≈ 0 and survive; true dups agree on both scores.
    * vec_id is doc_id's embedding (aligned synthetic tables). Scale
    * shape: candidate generation is q54's (narrow banded shuffle);
    * the text join ships shingle-hash arrays only for the ~7%-of-pairs
    * candidate set, keyed by id — two hash joins, no corpus pair scan. */
  val hybridDedup: Q = (s, d) => {
    // pairs feeds BOTH the candidate-id set and the final join —
    // persist it or the whole LSH pipeline runs twice; shingle-hash
    // only the candidate docs (left_semi, the q29/q28 pattern) — the
    // previous full-corpus `sh` frame was hashed once per join side.
    // Eager checkpoint + unpersist-in-finally, as simhashNearDupPairs.
    val pairs = embeddingDupsBucketed(s, d).persist()
    try {
      val candIds = pairs
        .select(explode(array(col("vec_a"), col("vec_b"))).as("doc_id"))
        .distinct()
      // zero-shingle candidates are KEPT (unlike q29's filter): the
      // jaccard-0 definition below must still emit their pairs
      val sh = t(s, d, "documents")
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          sort_array(graft.expressions.TextHashes.shingle_hashes(col("text"), 3))
            .as("sh"))
        .withColumn("sz", size(col("sh")).cast("long"))
        .persist()
      try {
        pairs
          // LEFT, not inner: the oracle keeps a pair whose vec_id has
          // no documents row (jaccard 0) — an inner join silently
          // dropped it, diverging from the generated SQL the moment
          // the id spaces misalign
          .join(sh.select(col("doc_id").as("vec_a"), col("sh").as("sha"),
            col("sz").as("sza")), Seq("vec_a"), "left")
          .join(sh.select(col("doc_id").as("vec_b"), col("sh").as("shb"),
            col("sz").as("szb")), Seq("vec_b"), "left")
          .withColumn("sza", coalesce(col("sza"), lit(0L)))
          .withColumn("szb", coalesce(col("szb"), lit(0L)))
          .withColumn("i",
            when(col("sha").isNull || col("shb").isNull, lit(0L))
              .otherwise(graft.expressions.VectorHashes.sorted_intersect_count(
                col("sha"), col("shb")).cast("long")))
          // two shingle-less docs (under 3 tokens) have 0/0 — define that
          // as jaccard 0, mirrored by the oracle's CASE (NaN would diverge)
          .select(col("vec_a"), col("vec_b"), col("cosine"),
            when(col("sza") + col("szb") === 0, lit(0.0))
              .otherwise(round(col("i") / (col("sza") + col("szb") - col("i")), 4))
              .as("jaccard"))
          .localCheckpoint(eager = true)
      } finally sh.unpersist(false)
    } finally pairs.unpersist(false)
  }

  /** ---- Persistent embedding LSH index: the ingest shape of the
    * embedding dedup family, declared on the same
    * [[graft.sinks.BandedIndex]] as DedupOps' MinHash index, so BOTH
    * dedup families have a one-shot audit (q54 there, q28 here→text)
    * AND an incremental admission path. Layout: `bands` is the NARROW
    * table — (vec_id, band, bv), partitionBy bmod = pmod(band·2^bits +
    * bv, embIndexBuckets) — and `vecs` holds each vector once, joined
    * only for candidates that already share a band. A probe enumerates
    * its own bmod set on the driver (≤ 16 × batch values), lists only
    * those directories, and broadcasts the micro-batch: the index is
    * never shuffled nor fully read (EmbIndexSpec pins both). Threshold
    * defaults to the production near-dup point (0.9), where the
    * 16×8-bit banding catches a pair with p ≈ .996 (see
    * embeddingDupsBucketed's docstring for the (b,r) math). */
  val embIndexBuckets = 64
  private val embIndexPlanes = 128
  private val embIndexBandBits = 8

  /** Bucketing admission for every sign-LSH path: a malformed embedding
    * (wrong length or a null element) bands to the identical all-zero
    * signature, so ALL malformed rows co-bucket into one (band, bv)
    * bucket per band and the candidate self-join pays occupancy² for
    * rows whose verify-tier cosine is NULL anyway — the exact
    * degenerate-key hazard DedupOps.simhashNearDupPairs' zero-shingle
    * filter guards. Filter them out BEFORE banding; they can never be
    * near-dups of anything (cosine vs a malformed vector is NULL, which
    * fails every ≥-threshold verify), so dropping them from candidate
    * generation changes no result. */
  private[graft] def wellFormedVec(v: Column, dims: Int): Column =
    size(v) === dims && !exists(v, x => x.isNull)

  /** (vec_id, v, band, bv, bkey) rows for a vector batch — one fused
    * SignBandVals pass; bkey folds (band, bv) into one long for the
    * directory hash. Malformed vectors are excluded here, the single
    * choke point the bands/vecs writes, the probe banding, and the
    * in-batch self-join all derive from (see [[wellFormedVec]]). */
  private def embIndexRows(vecs: DataFrame, dims: Int): DataFrame = {
    val planes = hyperplanes(dims, embIndexPlanes).toSeq.map(_.toSeq)
    vecs.filter(wellFormedVec(col("v"), dims))
      .select(col("vec_id"), col("v"),
        posexplode(graft.expressions.VectorHashes.sign_band_vals(
          col("v"), planes, embIndexBandBits)).as(Seq("band", "bv")))
      .withColumn("bkey",
        col("band").cast("long") * (1L << embIndexBandBits) + col("bv"))
  }

  /** The persistent embedding index at width `dims`, a
    * [[graft.sinks.BandedIndex]] verified by exact cosine rounded to 6
    * digits. The fold and the stored layout do not depend on `dims`. */
  private[graft] def embIndex(dims: Int) = graft.sinks.BandedIndex(
    graft.sinks.SegmentIndex("bands", "vec_id", Seq("vec_id", "band", "bv"),
      part = Some("bmod"), hashOf = Some(col("bkey") -> embIndexBuckets)),
    graft.sinks.SegmentIndex("vecs", "vec_id", Seq("vec_id", "v"),
      latestBy = Some("ingest")),
    embIndexRows(_, dims), "new_vec", "cosine", (a, b) => round(fcos(a, b), 6))

  /** Int8 scalar quantization of the embedding column — the storage
    * scale play for ANN (4× smaller index, SIMD int8 dot products).
    * Per vector: scale = max |x|, q_j = floor(x_j·127/scale) ∈
    * [-127, 127]. floor, not round: round-half behavior differs between
    * engines at exact .5 boundaries, floor never does, so scale (raw
    * double), the quantized norm (exact integer), and the rounded
    * reconstruction RMSE all hash-compare. The fold orders match the
    * DuckDB oracle term for term. */
  val embeddingQuant: Q = (s, d) =>
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("scale") > 0)
      .withColumn("qv",
        expr("transform(v, x -> cast(floor(x * 127.0 / scale) AS BIGINT))"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(qv, 0L, (a, x) -> a + x * x)").as("qnorm2"),
        round(sqrt(expr(
          """aggregate(zip_with(v, qv, (x, q) ->
            |  (x - q * scale / 127.0) * (x - q * scale / 127.0)),
            |  0D, (a, y) -> a + y)""".stripMargin) / size(col("v"))), 6)
          .as("recon_rmse"))

  /** q114: embedding-space drift per ingest cut — each cut's centroid
    * norm and its cosine against the corpus centroid, the
    * embedding-side twin of q109's token drift (an off-distribution
    * crawl increment tilts the centroid before any token statistic
    * moves; retrieval teams watch exactly this to decide when an IVF/PQ
    * coarse quantizer has gone stale). Cut = pmod(vec_id, 3), the same
    * deterministic three-cut the lifecycle queries stream through.
    *
    * Scale shape: one posexplode scan → (cut, dim) partial sums with
    * map-side combine, so the exchange carries cuts × dims rows — never
    * the corpus; the corpus centroid derives from the SAME tiny frame
    * (sum of cut sums), no second scan; everything after runs on a
    * cuts × dims frame. Double sums under round(6) follow the q26
    * precedent — the monitoring tier's exact-integer trick has no
    * analog for float payloads, which is also why this monitor gets no
    * fold-reordered streaming twin: an additive lifecycle would
    * re-associate the double sums and the ≡-batch oracle contract the
    * streaming twins rely on (q112/q113) would hold only by rounding
    * luck. */
  val embeddingDrift: Q = (s, d) =>
    embeddingDriftOf(t(s, d, "embeddings")
      .select(pmod(col("vec_id"), lit(3)).as("cut"),
        col("embedding").cast("array<double>").as("v")))

  /** The q114 statistic over any (cut, v) frame — public for
    * CorpusStatsSpec's hand-computed fixture. */
  def embeddingDriftOf(emb: DataFrame): DataFrame = {
    val cutDim = emb
      .select(col("cut"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cut"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val corpus = cutDim.groupBy(col("dim"))
      .agg(sum(col("sx")).as("gx"), sum(col("n")).as("gn"))
    cutDim.join(broadcast(corpus), "dim")
      .withColumn("c", col("sx") / col("n"))
      .withColumn("g", col("gx") / col("gn"))
      .groupBy(col("cut"))
      .agg(max(col("n")).as("n_vecs"), // every dim counts each vec once
        sum(col("c") * col("c")).as("cc"),
        sum(col("g") * col("g")).as("gg"),
        sum(col("c") * col("g")).as("cg"))
      .select(col("cut"), col("n_vecs"),
        round(sqrt(col("cc")), 6).as("centroid_norm"),
        // a degenerate (all-zero) cut or corpus centroid has no
        // direction: NULL in BOTH engines — an unguarded 0/0 is NULL in
        // Spark but inf/NaN under DuckDB's IEEE division, failing the
        // hash gate on exactly the input a drift monitor must flag
        when(col("cc") > 0 && col("gg") > 0,
          round(col("cg") / (sqrt(col("cc")) * sqrt(col("gg"))), 6))
          .as("cos_to_corpus"))
  }

  /** q117: SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540) — near-duplicate MEANING, not near-duplicate
    * text: k-means cells over the embedding space, exact cosine pairs
    * computed WITHIN each cell only, transitive closure over the pair
    * graph, keep the lowest vec_id per cluster. Text-level MinHash
    * (q28) misses paraphrases; all-pairs cosine (q51) is quadratic in
    * the corpus — the cell partition is the standard middle: pair
    * enumeration is Σ|cell|², so at 100 TB k scales with the corpus to
    * hold the per-cell occupancy (and thus the candidate volume per
    * partition) constant, the one shuffle keys rows by cell, and each
    * cell's pairs never leave their partition. Cross-cell near-dups are
    * the accepted recall trade of the method (the paper's clusters are
    * its dedup boundary by construction — same here, and the oracle
    * replays the SAME cell assignment so the gate is exact).
    *
    * Output: the dedup decision table for clustered vectors —
    * (vec_id, cluster_rep, keep) with keep=1 on the cluster's canonical
    * (min-id) member. Singletons are implicitly kept (absent here, the
    * q62 label-table convention). */
  val semanticDedup: Q = (s, d) => {
    val k = 8; val threshold = 0.35
    val emb = embFrame(s, d)
    val cents = cachedCellModel(emb, d, k)
    semdedupOracleState = Some((k, threshold, cents))
    semanticDedupWith(emb, cents, threshold)
  }

  private def embFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** One k-means cell model per (sf dir, k) per JVM — q117 and q123
    * partition the SAME space, and at 100 TB the coarse quantizer is
    * trained once and reused by every consumer (the IVF build's frozen
    * -model contract); re-training per query would also hand each
    * query's oracle a different (if converged-identical) literal set. */
  private val cellModelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[Array[Double]]]()
  private def cachedCellModel(emb: DataFrame, d: String, k: Int): Array[Array[Double]] =
    cellModelCache.computeIfAbsent((d, k),
      _ => kmeansLite(emb.filter(wellFormedVec(col("v"), 64)), k, iters = 1))

  /** The q117 engine over any (vec_id, v) frame — returns the trained
    * cell model alongside the decision table (the spec pins the cell
    * boundary with it; the query prints it into the oracle). */
  private[graft] def semanticDedupOver(emb: DataFrame, k: Int,
      threshold: Double, dims: Int): (Array[Array[Double]], DataFrame) = {
    val clean = emb.filter(wellFormedVec(col("v"), dims))
    val cents = kmeansLite(clean, k, iters = 1)
    (cents, semanticDedupWith(clean, cents, threshold))
  }

  private[graft] def semanticDedupWith(emb: DataFrame,
      cents: Array[Array[Double]], threshold: Double): DataFrame = {
    val clean = emb.filter(wellFormedVec(col("v"), cents(0).length))
    val cells = assignCells(clean, cents)
      .select(col("vec_id"), col("v"), col("cell"))
    // intra-cell exact pairs: the self-join shuffles BOTH sides by cell
    // (one exchange, reused), pair rows stay partition-local
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(fcos(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    // the semantic pair graph is dup-doc-sized, not corpus-sized, and
    // weak-threshold chains run DEEP: below the bounded collect
    // threshold a driver union-find labels it in one pass; above it,
    // star contraction — the diameter-safe engine for sprawling chains
    DedupOps.collapseClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_rep"),
        when(col("doc_id") === col("cluster_rep"), lit(1))
          .otherwise(lit(0)).as("keep"))
  }

  /** q123: semantic decontamination — the embedding-space twin of the
    * token-overlap tiers (q61/q75): a paraphrased benchmark item shares
    * no 3-gram with its source, but its embedding stays close, which is
    * the contamination today's decontam pipelines actually miss. Vecs
    * 0-49 play the benchmark (the q95 query-set convention), the rest
    * the training corpus; a corpus vector is flagged when its cosine to
    * ANY benchmark vector in the SAME cell clears the threshold.
    *
    * Same scale shape as q117 (one cell-keyed shuffle, Σ|cell_c × cell_t|
    * candidate work, k grows with the corpus) with one extra drop: the
    * benchmark side is benchmark-sized per cell, so at a production
    * k the per-cell probe set is tiny and could equally broadcast —
    * the cell join covers both regimes. Output is the contamination
    * report: flagged vec, how many benchmark hits, the best (rounded)
    * cosine — deterministic because max-of-rounded ties don't affect
    * the max value itself. */
  val semanticDecontam: Q = (s, d) => {
    val k = 8; val threshold = 0.35; val nBench = 50
    val emb = embFrame(s, d)
    val cents = cachedCellModel(emb, d, k)
    semdecontamOracleState = Some((nBench, threshold, cents))
    semanticDecontamWith(emb, cents, nBench, threshold)
  }

  private[graft] def semanticDecontamWith(emb: DataFrame,
      cents: Array[Array[Double]], nBench: Int,
      threshold: Double): DataFrame = {
    val cells = assignCells(
        emb.filter(wellFormedVec(col("v"), cents(0).length)), cents)
      .select(col("vec_id"), col("v"), col("cell"))
    val bench = cells.filter(col("vec_id") < nBench)
    val corpus = cells.filter(col("vec_id") >= nBench)
    corpus.as("c").join(bench.as("t"), col("c.cell") === col("t.cell"))
      .select(col("c.vec_id").as("vec_id"),
        round(fcos(col("c.v"), col("t.v")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cos")).as("max_cosine"))
  }

  /** q134: contrastive triplet mining — for each anchor, its hardest
    * positive (most-similar SAME-label vector) and hardest negative
    * (most-similar OTHER-label vector) by exact cosine: the triplet-
    * construction step of contrastive embedding finetuning, where hard
    * negatives are the standard recipe. Anchors are a bounded query set
    * (vec_id < 64, the q95 convention); the corpus scans ONCE against
    * the broadcast anchor set (the `vec_id != anchor_id` pairing is a
    * BroadcastNestedLoop over |corpus|×|anchors| rows with |anchors|
    * bounded — the intended shape: every pair must be scored), and the
    * per-anchor argmaxes are conditional max(struct(cos, -id))
    * aggregates, combiner-collapsed map-side so the shuffle carries
    * |anchors| rows. Cosine is rounded to 6 BEFORE the argmax in both
    * engines, and the -id struct field breaks rounded ties toward the
    * smallest vec_id — so the selection cannot drift. At production
    * scale the exact pass runs over an ANN-shortlisted candidate set
    * (q108's recall-repair pattern); anchors without a same-label peer
    * emit null positives in both engines. */
  val tripletMining: Q = (s, d) => tripletMiningOver(t(s, d, "embeddings"))

  private[graft] def tripletMiningOver(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val anchors = e.filter(col("vec_id") < 64)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("v").as("av"))
    e.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"),
        round(fcos(col("v"), col("av")), 6).as("cos"))
      .groupBy(col("anchor_id"), col("a_label"))
      .agg(
        max(when(col("label") === col("a_label"),
          struct(col("cos"), (-col("vec_id")).as("nid")))).as("p"),
        max(when(col("label") =!= col("a_label"),
          struct(col("cos"), (-col("vec_id")).as("nid")))).as("ng"))
      .select(col("anchor_id"), col("a_label").as("label"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("ng.nid")).as("neg_id"), col("ng.cos").as("neg_cos"))
  }

  /** q141: embedding Gram-matrix diagnostics — the upper triangle of
    * Σ x xᵀ over the corpus, the anisotropy/collapse monitor an
    * embedding pipeline runs per model drop (a representation collapsing
    * toward a cone shows up as off-diagonal mass long before retrieval
    * metrics move; the diagonal is per-dimension power). Exactness is
    * the q109/q114 lesson applied to second moments: a double-sum Gram
    * is shuffle-order-dependent and can never hash an oracle, so values
    * QUANTIZE first (floor(x·10⁶) — one identical double op then exact
    * integers forever) and the cell sums run exactly (128-bit cells in
    * the aggregator, HUGEINT in the oracle), converted to double once
    * at the end — both engines round-to-nearest the same exact integer.
    * Scale shape: ONE scan whose aggregation buffer IS the ≤d² grid
    * ([[graft.expressions.GramGridAgg]]), so the exchange carries
    * grid×partitions rows — no join, no dims-keyed shuffle of the
    * corpus, no pair materialization. Per-row cost is inherently
    * O(d²); at 100 TB the quantized products overflow int64 in the
    * sum, which is why the cells are 128-bit (exact to ±1.7e38), not
    * long. */
  val embeddingGram: Q = (s, d) => embeddingGramOver(t(s, d, "embeddings"))

  /** The quantization both Gram forms and the oracle share. */
  private def gramQv = transform(col("embedding"),
    x => floor(x.cast("double") * lit(1000000.0)))

  /** Current q141 engine: [[graft.expressions.GramGridAgg]] — one scan
    * whose aggregation BUFFER is the exact 128-bit grid, so the 125 M
    * triangular products at sf0.1 are never materialized as rows (the
    * explode form below measured 2.3 s hot; this replaces its explode +
    * 125 M-row hash aggregate with d(d+1)/2 in-place adds per row and a
    * 32-partial grid merge). The (pos → i, j) map join is unchanged —
    * grid-sized, broadcast. Equivalence with the explode form is pinned
    * bit-exact in GramEquivalenceSpec; the oracle is the same HUGEINT
    * SQL. */
  private[graft] def embeddingGramOver(emb: DataFrame): DataFrame = {
    val grid = emb.select(gramQv.as("qv"))
      .agg(graft.expressions.GramGridAgg.gram_grid(col("qv")).as("grid"))
      .select(posexplode(col("grid")).as(Seq("pos", "gram")))
    val d = gramDim(emb)
    if (d <= 0)
      return emb.sparkSession.range(0).select(
        col("id").as("i"), col("id").as("j"),
        col("id").cast("double").as("gram"))
    grid.join(broadcast(gramPosMap(emb.sparkSession, d)), "pos")
      .select(col("ij.i").as("i"), col("ij.j").as("j"), col("gram"))
  }

  /** Corpus dimensionality for the Gram grid: ONE non-null row's
    * size, never a full-column aggregate — GramGridAgg already throws
    * on heterogeneous dims, so scanning every row to take a max would
    * only re-prove what the aggregator enforces while paying a second
    * pass over the fat embedding column (the advisor's 100 TB note).
    * Empty / all-null table → 0 (callers emit the empty grid). */
  private def gramDim(emb: DataFrame): Int =
    emb.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }

  /** The (triangular position → i, j) broadcast map shared by both Gram
    * forms — rebuilt from the SAME nested-sequence expression over one
    * literal row. d must be ≥ 1: sequence(0, -1) is Spark's DESCENDING
    * [0,-1], not the empty array, so d=0 would fabricate negative
    * (i, j) rows — both callers early-return on the empty corpus, so
    * the guard is free. */
  private def gramPosMap(s: SparkSession, d: Int): DataFrame = {
    require(d >= 1, s"gramPosMap needs d >= 1, got $d")
    s.range(1).select(
      posexplode(flatten(transform(sequence(lit(0), lit(d - 1)), i =>
        transform(sequence(i, lit(d - 1)), j =>
          struct(i.cast("long").as("i"), j.cast("long").as("j"))))))
        .as(Seq("pos", "ij")))
  }

  /** The round-11 explode form, kept as the equivalence REFERENCE for
    * the aggregator (GramEquivalenceSpec pins bit-identical output) —
    * and as the fallback shape documented in PLANS. */
  private[graft] def embeddingGramExplodeOver(emb: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val qv = gramQv
    // Hot-path shape, measured at sf0.1 (60k × 64d = 125M pairs):
    // the exploded row is ONE long (the product; quantized |q| ≲ 1e7 ⇒
    // product ≲ 1e14, far from int64) keyed by its triangular POSITION
    // — no per-pair struct, no per-pair decimal multiply (struct +
    // decimal×decimal measured 4.9 s; long-in-struct 2.9 s; this flat
    // form 2.3 s). Only the global SUM needs decimal headroom, cast
    // once at the agg input. The (pos → i, j) map is rebuilt from the
    // SAME nested-sequence expression over one literal row and
    // broadcast onto the grid-sized result — the one driver-side
    // scalar is the corpus dimensionality (one int, the kmeans-model
    // convention).
    val prods = flatten(transform(sequence(lit(0), size(col("qv")) - 1), i =>
      transform(sequence(i, size(col("qv")) - 1), j =>
        element_at(col("qv"), i + 1) * element_at(col("qv"), j + 1))))
    val summed = emb.select(qv.as("qv"))
      .select(posexplode(prods).as(Seq("pos", "p")))
      .groupBy(col("pos"))
      .agg(sum(col("p").cast(dec)).cast("double").as("gram"))
    // corpus dimensionality from one non-null row (gramDim); empty
    // table → the empty grid
    val d = gramDim(emb)
    if (d <= 0)
      return emb.sparkSession.range(0).select(
        col("id").as("i"), col("id").as("j"),
        col("id").cast("double").as("gram"))
    summed.join(broadcast(gramPosMap(emb.sparkSession, d)), "pos")
      .select(col("ij.i").as("i"), col("ij.j").as("j"), col("gram"))
  }

  val queries: Map[String, Q] = Map(
    "q141_embedding_gram" -> embeddingGram,
    "q134_triplet_mining" -> tripletMining,
    "q123_semantic_decontam" -> semanticDecontam,
    "q117_semantic_dedup" -> semanticDedup,
    "q114_embedding_drift" -> embeddingDrift,
    "q58_embedding_quant" -> embeddingQuant,
    "q25_ann_cosine_topk" -> annCosineTopK,
    "q26_label_centroids" -> labelCentroidStats,
    "q38_ann_lsh_topk" -> annLshTopK,
    "q105_ann_lsh_stream" -> annLshTopKStream,
    "q169_ann_retract" -> annLshRetract,
    "q42_ann_ivf_topk" -> annIvfTopK,
    "q51_embedding_dups" -> embeddingDupPairs,
    "q54_embedding_dups_lsh" -> ((s, d) => embeddingDupsBucketed(s, d)),
    "q70_hybrid_dedup" -> hybridDedup,
    "q95_ann_knn_join" -> ((s, d) => annKnnJoin(s, d)),
    "q153_ann_recall" -> annRecallReport,
  )

  /** q38's oracle is GENERATED: the deterministic hyperplanes are
    * printed into the SQL (Double.toString round-trips exactly, so both
    * engines see identical plane coordinates; sign decisions on ~unit
    * dot products are far from the fp boundary). */
  private def lshOracle(bits: Int, probe: Int,
      livePred: String = "TRUE"): String = {
    val planes = hyperplanes(64, bits)
    def arr(h: Array[Double]) = h.mkString("[", ",", "]") + "::DOUBLE[]"
    val bucketExpr = planes.zipWithIndex.map { case (h, i) =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${arr(h)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM embeddings WHERE $livePred),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
       |SELECT e.vec_id AS neighbor_id,
       | round(list_cosine_similarity(e.v, q.qv), 6) AS cosine
       |FROM b e, q
       |WHERE e.vec_id <> 0 AND bit_count(xor(e.bucket, q.qb)) <= $probe
       |ORDER BY cosine DESC, neighbor_id LIMIT 10""".stripMargin
  }

  /** q42's oracle is GENERATED like q38's, but from the DATA-dependent
    * (yet deterministic per sf dir) centroid model cached by the q42 run
    * itself: cell assignment = argmax of literal list_cosine_similarity
    * terms (row_number tiebreak mirrors Spark's array_max-on-struct —
    * ties take the HIGHER cell), probe = top-nprobe cells by query
    * cosine (probeIvfIndex's stable sort ties take the LOWER cell). */
  def ivfOracle(nprobe: Int, cents: Array[Array[Double]]): String = {
    def arr(c: Array[Double]) = c.mkString("[", ",", "]") + "::DOUBLE[]"
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${arr(c)})" }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$rows),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY list_cosine_similarity(qv, cv) DESC, cell LIMIT $nprobe),
       |a AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
       |        AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1)
       |SELECT a.vec_id AS neighbor_id,
       | round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
       |FROM a, q
       |WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0
       |ORDER BY cosine DESC, neighbor_id LIMIT 10""".stripMargin
  }

  /** A def, not a val: q42's entry appears only after a q42 run has
    * cached its centroid model (Verify reads oracleSql after the query
    * loop, so the driver always sees it; a cold JVM that never ran q42
    * falls back to the rows-only check). */
  /** q95's oracle — q42's CTEs generalized to a query SET: per-query
    * probe ranking (ties → lower cell, matching ivfKnnJoin's negcell
    * sort), the q42 corpus cell assignment (ties → higher cell), join
    * on probed cells, rounded-cosine top-k per query (round-then-rank,
    * the q25 determinism pattern). */
  private def knnOracle(nQueries: Int, nprobe: Int, topk: Int,
      cents: Array[Array[Double]]): String = {
    def arr(c: Array[Double]) = c.mkString("[", ",", "]") + "::DOUBLE[]"
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${arr(c)})" }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$rows),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cell)
       |        AS rn
       |    FROM q CROSS JOIN cent c)
       |  WHERE rn <= $nprobe),
       |a AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
       |        AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |sc AS (
       |  SELECT q.qid AS query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
       |  FROM probe p
       |  JOIN q ON q.qid = p.qid
       |  JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> q.qid)
       |SELECT query_id, neighbor_id, cosine FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $topk""".stripMargin
  }

  /** q117's oracle — the q42 cell-assignment CTE (ties take the HIGHER
    * cell, mirroring array_max-on-struct) + intra-cell rounded-cosine
    * pairs + the q62 recursive-CTE closure, over the centroid literals
    * cached by the run itself. */
  private def semdedupOracle(threshold: Double,
      cents: Array[Array[Double]]): String = {
    def arr(c: Array[Double]) = c.mkString("[", ",", "]") + "::DOUBLE[]"
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${arr(c)})" }.mkString(",\n")
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$rows),
       |a AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
       |        AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |pairs AS (
       |  SELECT x.vec_id AS pa, y.vec_id AS pb
       |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= $threshold),
       |edges AS (
       |  SELECT pa AS ea, pb AS eb FROM pairs
       |  UNION SELECT pb, pa FROM pairs),
       |reach(n, m) AS (
       |  SELECT ea, ea FROM edges
       |  UNION
       |  SELECT r.n, e2.eb FROM reach r JOIN edges e2 ON r.m = e2.ea)
       |SELECT n AS vec_id, min(m) AS cluster_rep,
       |  (CASE WHEN n = min(m) THEN 1 ELSE 0 END) AS keep
       |FROM reach GROUP BY n""".stripMargin
  }

  /** q123's oracle — q117's cell-assignment CTE + the bench/corpus
    * split + the rounded-cosine contamination rollup. */
  private def semdecontamOracle(nBench: Int, threshold: Double,
      cents: Array[Array[Double]]): String = {
    def arr(c: Array[Double]) = c.mkString("[", ",", "]") + "::DOUBLE[]"
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${arr(c)})" }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$rows),
       |a AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
       |        AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |hits AS (
       |  SELECT c.vec_id, round(list_cosine_similarity(c.v, t.v), 6) AS cos
       |  FROM a c JOIN a t ON c.cell = t.cell
       |  WHERE c.vec_id >= $nBench AND t.vec_id < $nBench)
       |SELECT vec_id, count(*)::BIGINT AS n_bench_hits,
       |  max(cos) AS max_cosine
       |FROM hits WHERE cos >= $threshold
       |GROUP BY vec_id""".stripMargin
  }

  def oracles: Map[String, String] = staticOracles ++
    ivfOracleState.map { case (np, cs) => "q42_ann_ivf_topk" -> ivfOracle(np, cs) } ++
    knnOracleState.map { case (nq, np, tk, cs) =>
      "q95_ann_knn_join" -> knnOracle(nq, np, tk, cs) } ++
    recallOracleState.map { case (nq, k, ivfSql, pqSql, rrSql, rtSql) =>
      "q153_ann_recall" -> recallOracle(nq, k, ivfSql, pqSql, rrSql, rtSql) } ++
    semdedupOracleState.map { case (_, th, cs) =>
      "q117_semantic_dedup" -> semdedupOracle(th, cs) } ++
    semdecontamOracleState.map { case (nb, th, cs) =>
      "q123_semantic_decontam" -> semdecontamOracle(nb, th, cs) }

  /** q54's oracle is GENERATED like q38's: literal plane coordinates,
    * band values as CASE-sum bit packs, candidates from a DISTINCT
    * (band, value) self-join, exact cosine verify — the same semantics
    * the Spark plan executes, so the hash compare is exact. */
  private def bucketedDupOracle(nPlanes: Int, bandBits: Int,
      threshold: Double): String = {
    val planes = hyperplanes(64, nPlanes)
    def arr(h: Array[Double]) = h.mkString("[", ",", "]") + "::DOUBLE[]"
    val nBands = nPlanes / bandBits
    val bandSelects = (0 until nBands).map { b =>
      val bv = (0 until bandBits).map { i =>
        s"(CASE WHEN list_dot_product(v, ${arr(planes(b * bandBits + i))}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bv AS bv FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       | round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
       |FROM cand c
       |JOIN e ea ON c.vec_a = ea.vec_id
       |JOIN e eb ON c.vec_b = eb.vec_id
       |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= $threshold""".stripMargin
  }

  /** q70's oracle = q54's generated candidate/cosine CTEs + the text
    * tier over shingle STRINGS (the hash-vs-string collision caveat is
    * the one already accepted for q28/q41); zero-overlap pairs keep
    * jaccard 0 via the LEFT JOIN + coalesce. */
  private def hybridDedupOracle(nPlanes: Int, bandBits: Int,
      threshold: Double): String = {
    val base = bucketedDupOracle(nPlanes, bandBits, threshold)
    // splice: reuse the full q54 SELECT (already margin-stripped) as the
    // `cv` CTE body appended to q54's WITH chain
    val idx = base.indexOf("\nSELECT c.vec_a")
    require(idx > 0, "bucketedDupOracle shape changed")
    val ctes = base.substring(0, idx)
    val finalSelect = base.substring(idx + 1)
    s"""$ctes,
       |cv AS (
       |$finalSelect),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
       |  FROM tk),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT cv.vec_a, cv.vec_b, count(*) AS i
       |  FROM cv JOIN sh a ON a.doc_id = cv.vec_a
       |          JOIN sh b ON b.doc_id = cv.vec_b AND a.shingle = b.shingle
       |  GROUP BY 1, 2)
       |SELECT cv.vec_a, cv.vec_b, cv.cosine,
       |  CASE WHEN coalesce(sa.sz, 0) + coalesce(sb.sz, 0) = 0 THEN 0.0
       |       ELSE round(coalesce(i.i, 0) /
       |         (coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(i.i, 0)), 4)
       |  END AS jaccard
       |FROM cv
       |LEFT JOIN sizes sa ON sa.doc_id = cv.vec_a
       |LEFT JOIN sizes sb ON sb.doc_id = cv.vec_b
       |LEFT JOIN inter i ON i.vec_a = cv.vec_a AND i.vec_b = cv.vec_b""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    "q58_embedding_quant" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> (floor(x * 127.0 / scale))::BIGINT) AS qv
        |  FROM sc)
        |SELECT vec_id, scale,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(qv, x -> x * x)),
        |    (a, b) -> a + b) AS qnorm2,
        |  round(sqrt(list_reduce(
        |    list_prepend(0.0::DOUBLE,
        |      list_transform(range(1, len(v) + 1), i ->
        |        (v[i::INTEGER] - qv[i::INTEGER] * scale / 127.0)
        |        * (v[i::INTEGER] - qv[i::INTEGER] * scale / 127.0))),
        |    (a, y) -> a + y) / len(v)), 6) AS recon_rmse
        |FROM q""".stripMargin,
    "q54_embedding_dups_lsh" -> bucketedDupOracle(128, 8, 0.35),
    "q70_hybrid_dedup" -> hybridDedupOracle(128, 8, 0.35),
    // q141: identical quantization (one double multiply, then floor)
    // and exact integer cell sums (HUGEINT here, decimal(38,0) on the
    // Spark side) — the double conversion happens once, after the sum
    "q141_embedding_gram" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |d AS (SELECT max(len(qv)) AS dims FROM q),
        |g AS (SELECT unnest(range(0, (SELECT dims FROM d))) AS i)
        |SELECT gi.i AS i, gj.i AS j,
        |  CAST(sum(qv[gi.i + 1]::HUGEINT * qv[gj.i + 1]::HUGEINT)
        |    AS DOUBLE) AS gram
        |FROM q, g gi, g gj
        |WHERE gj.i >= gi.i AND gi.i < len(qv) AND gj.i < len(qv)
        |GROUP BY 1, 2""".stripMargin,
    // q134: same list_cosine_similarity + round-before-argmax as the
    // Spark side; row_number (cos DESC, vec_id) == max(struct(cos,-id))
    "q134_triplet_mining" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
        |      FROM e WHERE vec_id < 64),
        |s AS (SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
        |        round(list_cosine_similarity(e.v, a.av), 6) AS cos
        |      FROM e JOIN a ON e.vec_id <> a.anchor_id),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY anchor_id, (label = a_label)
        |        ORDER BY cos DESC, vec_id) AS rn FROM s)
        |SELECT anchor_id, a_label AS label,
        |  max(CASE WHEN label = a_label AND rn = 1 THEN vec_id END) AS pos_id,
        |  max(CASE WHEN label = a_label AND rn = 1 THEN cos END) AS pos_cos,
        |  max(CASE WHEN label <> a_label AND rn = 1 THEN vec_id END) AS neg_id,
        |  max(CASE WHEN label <> a_label AND rn = 1 THEN cos END) AS neg_cos
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q51_embedding_dups" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35""".stripMargin,
    "q38_ann_lsh_topk" -> lshOracle(8, 2),
    // q105 ≡ q38 through the ingest lifecycle — same oracle on purpose
    // (the q98/q102 promote-the-lifecycle-to-the-oracle pattern)
    "q105_ann_lsh_stream" -> lshOracle(8, 2),
    // q169 = q38's oracle over the post-retraction vector set: live =
    // never retracted, or resurrected and not re-retracted (the
    // lifecycle's mod-10/20/40 sets reduce to these two exclusions)
    "q169_ann_retract" -> lshOracle(8, 2,
      "NOT (vec_id % 20 = 13) AND NOT (vec_id % 40 = 3)"),
    "q25_ann_cosine_topk" ->
      """SELECT e.vec_id AS neighbor_id,
        | round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv),6) AS cosine
        |FROM embeddings e,
        |     (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, neighbor_id LIMIT 10""".stripMargin,
    "q114_embedding_drift" ->
      """WITH dims AS (
        |  SELECT vec_id % 3 AS cut, u.dim - 1 AS dim, u.x FROM embeddings,
        |    LATERAL (SELECT generate_subscripts(embedding,1) AS dim,
        |                    unnest(embedding::DOUBLE[]) AS x) u),
        |cutdim AS (
        |  SELECT cut, dim, sum(x) AS sx, count(*) AS n
        |  FROM dims GROUP BY cut, dim),
        |corpus AS (
        |  SELECT dim, sum(sx) AS gx, sum(n) AS gn FROM cutdim GROUP BY dim),
        |j AS (
        |  SELECT cut, n, sx/n AS c, gx/gn AS g
        |  FROM cutdim JOIN corpus USING (dim))
        |SELECT cut, max(n) AS n_vecs,
        |  round(sqrt(sum(c*c)),6) AS centroid_norm,
        |  CASE WHEN sum(c*c) > 0 AND sum(g*g) > 0 THEN
        |    round(sum(c*g)/(sqrt(sum(c*c))*sqrt(sum(g*g))),6)
        |  END AS cos_to_corpus
        |FROM j GROUP BY cut""".stripMargin,
    "q26_label_centroids" ->
      """WITH dims AS (
        |  SELECT label, u.dim - 1 AS dim, u.x FROM embeddings,
        |    LATERAL (SELECT generate_subscripts(embedding,1) AS dim,
        |                    unnest(embedding::DOUBLE[]) AS x) u),
        |cent AS (
        |  SELECT label, dim, avg(x) AS c FROM dims GROUP BY label, dim)
        |SELECT label, round(sqrt(sum(c*c)),6) AS centroid_norm,
        | count(*) AS n_dims
        |FROM cent GROUP BY label""".stripMargin,
  )
}
