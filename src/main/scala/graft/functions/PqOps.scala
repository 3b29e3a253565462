package graft.functions

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: product quantization of coarse-cell residuals with ADC
  * (asymmetric distance computation) scoring — the "residual
  * quantization" depth of the ANN tier (q25 exact / q38 sign-LSH /
  * q42 IVF / q94 IVF-PQ).
  *
  * Reference anchor: the reference's ANN surface is ES match scoring
  * only (`publish-realtime/.../PublishDaoImpl.java:58-61`); this tier is
  * the driver-mandated LLM-pipeline extension, so the design is pure
  * Spark: a stored, cell-partitioned CODES table plus a model-sized
  * (k·64 + m·ksub·sub doubles) codebook read on the driver.
  *
  * Why PQ at 100 TB: the IVF probe (q42) still reads full float vectors
  * in the probed cells — 256 B/vector at 64 dims. PQ stores m small
  * codes per vector (~10-20× smaller scan at the default geometry),
  * and a query scores a row with m table lookups + adds instead of a
  * 64-dim dot product. Build is an
  * ingest job (train coarse centroids, then per-subspace codebooks on
  * the residuals); the probe scans only the nprobe best cell partitions
  * (parquet partition pruning, pinned in PqSpec) and never shuffles the
  * corpus — per-query cost is nprobe/k of the codes table, independent
  * of the number of queries already served.
  *
  * Score = dot(q, centroid[cell]) + Σ_j adc[j][code_j], the standard
  * inner-product ADC approximation of dot(q, v) where
  * adc[j][c] = dot(q_j, codebook[j][c]).
  *
  * Correctness contract: q94's DuckDB oracle is GENERATED from the
  * model the stored index was built with (the q42 pattern) — cell
  * assignment, residual encode (per-subspace argmin with lowest-code
  * ties), and the ADC sum are reproduced term-for-term with literal
  * centroids/codebooks, so raw doubles hash-compare before rounding.
  * Every floating-point fold is written left-associative on both sides.
  */
object PqOps {

  type Q = (SparkSession, String) => DataFrame

  /** Default geometry, matched to the fixtures' 64-dim embeddings:
    * 32 subspaces × 2 dims each, 64 codes = 6 bits/subspace (192
    * bits/vector). Round 12 shipped m=8/ksub=16 (32 bits) and measured
    * q153 PQ mean recall@10 = 0.44 at sf0.01 vs IVF's 0.90 nprobe
    * ceiling — honestly lossy on near-isotropic embeddings. The sweep
    * that picked this point (same fixture, same ceiling):
    * m=16/k=16 → 0.53, m=16/k=64 → 0.66, m=32/k=16 → 0.66,
    * m=32/k=64 → 0.80 mean (min 0.6) — finer per-dim quantization AND
    * more codes both pay, and 2-dim/64-code subquantizers land within
    * 0.10 of the coarse-probe ceiling. Storage is 32 small ints
    * (6 effective bits each; parquet RLE keeps the stored size near
    * the information content) — still ~10-20× under the 512 B raw
    * vector, and a probe still scores rows with m table lookups.
    * Training seeds need ≥ ksub rows, so TOY builds (specs, tiny
    * bootstraps) pass ksub=16 explicitly. These are ONLY the
    * build-time defaults — everything downstream (encode, probe, the
    * kNN join, oracle generation) derives the geometry from the STORED
    * model itself: the books table's shape IS (m, ksub, sub), and
    * dims = m·sub, so an index built at any width probes correctly
    * with no sidecar and no knob to keep in sync. */
  private val DefaultDims = 64
  private val DefaultM = 32
  private val DefaultKsub = 64

  /** Lloyd steps for the default builds: 2 (was 1) — the seed rows are
    * the ksub lowest vec_ids, so the first update step mostly repairs
    * seeding; the second is where centroids settle. Build-time only
    * cost (each step is one scan + a model-sized collect). */
  private val DefaultPqIters = 2

  /** (m, ksub, sub) read off a codebook array — the stored model is
    * the single source of geometry truth. */
  private def geomOf(books: Array[Array[Array[Double]]]): (Int, Int, Int) =
    (books.length, books(0).length, books(0)(0).length)

  // ONE copy of the tie-sensitive driver-side vector math: q42's probe
  // cell ranking and q94's must never drift apart bit-for-bit
  private def dotLocal(a: Array[Double], b: Array[Double]): Double =
    SimilarityOps.dotLocal(a, b)
  private def cosLocal(a: Array[Double], b: Array[Double]): Double =
    SimilarityOps.cosLocal(a, b)

  /** The shared sign-LSH admission rule applied to this index family:
    * see [[buildPqIndex]]'s scaladoc for why malformed vectors are
    * dropped rather than indexed or rejected (a streaming ingest that
    * THREW on one bad row would wedge its stream permanently — the
    * quality-gate cold-start lesson). */
  private def wellFormed(vecs: DataFrame, d: Int): DataFrame =
    vecs.filter(SimilarityOps.wellFormedVec(col("v"), d))

  /** Residual array column: r_i = v_i − centroid[cell]_i. One zip_with
    * node (an unrolled 64-term form makes the Lloyd-update tree large
    * enough that analysis recursion dominates — measured minutes at
    * sf0.001); the per-element subtraction is the same IEEE op the
    * oracle prints (`v[i] - cv[i]`). */
  private def residualCol(cents: Array[Array[Double]]): Column = {
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    zip_with(col("v"), element_at(centLit, col("cell") + 1), (x, c) => x - c)
  }

  /** Per-subspace nearest-code assignment over the residual column `r`:
    * argmin of the left-associative Σ_d (r_d − cb_d)², lowest code on
    * ties. HOF form, not 1024 unrolled terms: aggregate's left fold
    * starts at 0.0 and every term is a square (never −0.0), so
    * 0.0 + t₀ + … ≡ t₀ + … bit-for-bit, matching the oracle's plain
    * term sum; array_position takes the FIRST minimal code exactly as
    * the oracle's list_position-of-list_min. Interpreted (HOFs are
    * CodegenFallback) but build-time only. */
  private def codesCol(books: Array[Array[Array[Double]]]): Column = {
    val (m, _, sb) = geomOf(books)
    array((0 until m).map { j =>
      val cbLit = typedlit(books(j).map(_.toSeq).toSeq)
      val sub = slice(col("r"), lit(j * sb + 1), lit(sb))
      val dists = transform(cbLit, cb =>
        aggregate(zip_with(sub, cb, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, tt) => a + tt))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** Deterministic-init PQ training on residuals: codebook j seeded with
    * the residual subvectors of the ksub lowest vec_ids, then `iters`
    * Lloyd steps (assign = codesCol, update = per-(j, code, dim) mean).
    * The model is tiny (m·ksub·sub = 4096 doubles at the defaults);
    * like kmeansLite the
    * distributed avg makes it deterministic only per run — the oracle is
    * generated from the STORED model, so correctness never depends on
    * bit-stable training. */
  def trainPq(assigned: DataFrame, cents: Array[Array[Double]],
      iters: Int = 1, m: Int = DefaultM, ksub: Int = DefaultKsub): Array[Array[Array[Double]]] = {
    val d = cents(0).length
    require(d % m == 0, s"dims=$d not divisible by m=$m subspaces")
    val sb = d / m
    val seedRows = assigned.orderBy(col("vec_id")).limit(ksub)
      .select(col("v"), col("cell")).collect()
      .map { row =>
        val v = row.getSeq[Double](0).toArray
        val cent = cents(row.getInt(1))
        Array.tabulate(d)(i => v(i) - cent(i))
      }
    require(seedRows.length == ksub,
      s"PQ training needs ≥ $ksub vectors, got ${seedRows.length}")
    var books = Array.tabulate(m, ksub) { (j, c) =>
      seedRows(c).slice(j * sb, (j + 1) * sb)
    }
    val based = assigned.withColumn("r", residualCol(cents))
    var it = 0
    while (it < iters) {
      val means = based.withColumn("codes", codesCol(books))
        .select(col("r"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(expr(s"slice(r, j * $sb + 1, $sb)")).as(Seq("d", "x")))
        .groupBy(col("j"), col("code"), col("d")).agg(avg(col("x")).as("mu"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      books = Array.tabulate(m, ksub) { (j, c) =>
        Array.tabulate(sb)(dd => means.getOrElse((j, c, dd), books(j)(c)(dd)))
      }
      it += 1
    }
    books
  }

  /** Encode a vector batch against a FROZEN model → (vec_id, cell,
    * codes). The FAISS-style contract: the model is trained once at
    * bootstrap, every later ingest encodes against it — re-training
    * would silently re-map existing codes. */
  private def encodeAgainst(vecs: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], ingestId: Long): DataFrame =
    // barrier: the assignment carries 8 fused-cosine terms per row over
    // 512-double literals — checkpoint so the encode tree starts from
    // plain attributes instead of re-analyzing the assignment lineage
    SimilarityOps.assignCells(vecs, cents).localCheckpoint()
      .withColumn("r", residualCol(cents))
      .select(col("vec_id"), col("cell"), codesCol(books).as("codes"),
        // logical ingest persisted as DATA (the IngestSegments
        // tombstone convention): folds keep it, so recency and
        // retraction comparisons survive compaction
        lit(ingestId).as("ing"))

  /** The codes store, a [[graft.sinks.SegmentIndex]]: (vec_id, codes,
    * ing) under the caller-computed `cell` partition, latest `ing` per
    * vec_id, retractions in the cell-blind side table `tomb`. */
  private val pqCodes = graft.sinks.SegmentIndex("codes", "vec_id",
    Seq("vec_id", "codes", "ing"), part = Some("cell"), latestBy = Some("ing"),
    tomb = Some("tomb"))

  /** Build the stored layout: coarse centroids (kmeansLite, the q42
    * model), PQ codebooks on residuals, then the corpus reduced to
    * (vec_id, codes: array<int>) written as the bootstrap ingest
    * segment, partitioned by cell (the IngestSegments lifecycle shared
    * with the three dedup indexes — negative bootstrap ids, overwrite-
    * by-ingest replay, compaction folds). At 100 TB this is its own
    * ingest job; everything a query needs besides the codes table is
    * model-sized.
    *
    * Malformed vectors (wrong length or a null element) are excluded by
    * the same admission rule every sign-LSH banding applies
    * (SimilarityOps.wellFormedVec): they can never be a neighbor (ADC
    * against them is null, which sorts below every real score), a short
    * one among the ksub lowest vec_ids would crash codebook seeding on
    * the driver, and indexing them would only pad every future probe's
    * pruned scan with dead rows. */
  def buildPqIndex(emb: DataFrame, path: String, kCells: Int = 8,
      coarseIters: Int = 1, pqIters: Int = 1, ingestId: Long = -1L,
      dims: Int = DefaultDims, m: Int = DefaultM, ksub: Int = DefaultKsub,
      trainOn: Option[DataFrame] = None): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    pqCodes.guardBuild(spark, path, ingestId)
    // a REBUILD retrains the model, but streaming segments were argmin-
    // encoded against the OLD codebooks: probing them with the new ADC
    // tables is well-typed and numerically meaningless. Refuse while
    // incremental segments are live — re-encoding them is a migration
    // job, not something to silently skip.
    val stranded = graft.sinks.IngestSegments
      .liveSegments(spark, s"$path/codes").filterNot(_ == ingestId)
    require(stranded.isEmpty,
      s"PQ index at $path has live ingest segments $stranded encoded " +
        "against the previous model — a rebuild would silently mis-score " +
        "them; delete the index (or build at a fresh path) instead")
    // `trainOn`: the 100 TB bootstrap shape — train the frozen model on
    // a (sample) training set while the bootstrap segment encodes only
    // `emb` (the rest of the corpus arrives through ingestPqSegment
    // against the same model). Default (None) trains on `emb` itself,
    // and then the one checkpointed assignment feeds BOTH training and
    // the final encode (see encodeAgainst's barrier note).
    val trainSet = wellFormed(trainOn.getOrElse(emb), dims)
    val cents = SimilarityOps.kmeansLite(trainSet, kCells, coarseIters)
    val assigned = SimilarityOps.assignCells(trainSet, cents).localCheckpoint()
    val books = trainPq(assigned, cents, pqIters, m, ksub)
    val bootstrap =
      if (trainOn.isEmpty) assigned // reuse the checkpointed assignment
      // checkpoint like the sibling paths: residualCol/codesCol layer 8
      // fused-cosine terms over 512-double literals per code column on
      // this lineage, re-analyzed through every term without a barrier
      // (see encodeAgainst's note)
      else SimilarityOps.assignCells(wellFormed(emb, dims), cents).localCheckpoint()
    pqCodes.write(bootstrap.withColumn("r", residualCol(cents))
      .select(col("vec_id"), col("cell"), codesCol(books).as("codes"),
        lit(ingestId).as("ing")), path, ingestId)
    // each model table gets the commit marker [[ingestPqSegment]] checks
    // (the committer's `_SUCCESS` is absent under
    // marksuccessfuljobs=false)
    def writeModel(table: DataFrame, name: String): Unit = {
      table.coalesce(1).write.mode("overwrite").parquet(s"$path/$name")
      graft.sinks.Hfs.markSegmentCommitted(spark, s"$path/$name")
    }
    writeModel(cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid"), "cents")
    writeModel((for { j <- books.indices; c <- books(j).indices }
      yield (j, c, books(j)(c).toSeq)).toDF("j", "code", "cb"), "books")
  }

  /** Incremental ingest: encode `newVecs` against the stored (frozen)
    * model and write them as segment `ingestId` — overwrite mode, so an
    * at-least-once retry of a streaming batch replaces its own output
    * (the replay contract every index family shares). Within one ingest
    * vec_ids are the caller's to keep unique (the upstream dedup
    * admission's job).
    *
    * THE IMMUTABILITY CONTRACT: a vec_id's vector is immutable across
    * ingests — re-embedding a document is a NEW id, never an overwrite.
    * Under it a cross-ingest duplicate of an id carries the same vector,
    * the frozen model assigns it the same cell and codes, and the
    * probe's latest-wins window over the PRUNED slice fully resolves it
    * (duplicates co-locate by construction). A CHANGED vector for an
    * existing id would break that: its new row can land in a different
    * cell, and a probe that prunes to the old cell would serve the
    * stale codes — resolving that would need a cross-cell version
    * lookup per probe, exactly the full-scan the cell layout exists to
    * avoid. PqSpec pins the contract's replay/duplicate behavior. */
  def ingestPqSegment(newVecs: DataFrame, path: String, ingestId: Long): Unit = {
    val spark = newVecs.sparkSession
    // batch-id space only: a negative id could silently overwrite the
    // bootstrap segment or a compaction fold (bootstraps go through
    // buildPqIndex, which runs IngestSegments.guardBuild)
    require(ingestId >= 0,
      s"ingest ids are streaming batch ids (>= 0), got $ingestId — " +
        "bootstrap builds go through buildPqIndex")
    require(Seq("cents", "books")
        .forall(t => graft.sinks.Hfs.segmentCommitted(spark, s"$path/$t")),
      s"no PQ model under $path — bootstrap with buildPqIndex first " +
        "(ingest encodes against a frozen model, never trains one)")
    val (cents, books) = loadModel(spark, path)
    // admission width comes from the STORED model, so an index built at
    // any dims gates its ingests consistently
    pqCodes.write(encodeAgainst(wellFormed(newVecs, cents(0).length), cents,
      books, ingestId), path, ingestId)
  }

  /** Retraction (the CDC `D` route applied to the PQ index): deleted
    * vec_ids go to the bucket-blind tombstone side table
    * (`$path/tomb`) — an in-store tombstone could not know its
    * victim's cell dir, and a cell-pruned probe would miss it (the
    * IngestSegments.applyTombstones rationale). The probe and the
    * fold drop code rows with ing ≤ the id's newest tombstone; a
    * later [[ingestPqSegment]] of the id (higher ing) resurrects it —
    * consistent with the immutability contract (same id ⇒ same
    * vector ⇒ same cell, so the resurrected row is probe-visible
    * exactly where the dead one was). */
  def retractPqVecs(path: String)(batch: DataFrame, batchId: Long): Unit =
    pqCodes.retract(path)(batch, batchId)

  /** Fold old code segments (latest ingest wins per vec_id, tombstoned
    * codes dropped, cell partitioning kept), then retire inert
    * tombstones. */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    pqCodes.compact(spark, path)

  /** The stored model, ordered (cells by id; books by (j, code)).
    * Cached per model-dir listing ([[SimilarityOps.ModelCache]]): the
    * model is FROZEN by the ingest contract (only code segments ever
    * change after bootstrap), so a serving probe must not pay two
    * driver-side parquet reads per request. */
  def loadModel(s: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    modelCache(s, path)

  private val modelCache = new SimilarityOps.ModelCache(Seq("cents", "books"))(
    (s, path) => {
      val cents = s.read.parquet(s"$path/cents")
        .select(col("cell"), col("centroid")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
      val flat = s.read.parquet(s"$path/books")
        .select(col("j"), col("code"), col("cb")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      // the stored rows define the geometry — no constant consulted
      val bm = flat.keys.map(_._1).max + 1
      val bk = flat.keys.map(_._2).max + 1
      (cents, Array.tabulate(bm, bk)((j, c) => flat((j, c))))
    })

  /** Probe: rank cells by query·centroid cosine on the driver (ties →
    * lower cell, as probeIvfIndex), build the m×ksub ADC table from the
    * query subvectors, then scan ONLY the probed cell partitions of the
    * codes table — scoring is m literal-array lookups + adds per row,
    * no vector math on the corpus. With a single live segment (the
    * bootstrap-only layout — the q94 path) the plan is Scan → Project →
    * TakeOrdered; with several, a latest-ingest-wins window over just
    * the PRUNED slice dedups cross-ingest duplicates (sufficient under
    * ingestPqSegment's immutability contract — duplicates of an id
    * always share its cell; [[graft.sinks.SegmentIndex.live]]). */
  def probePqIndex(s: SparkSession, path: String, qVec: Array[Double],
      nprobe: Int, topk: Int = 10, excludeVecId: Long = 0L): DataFrame = {
    val (cents, books) = loadModel(s, path)
    probeWithModel(s, path, cents, books, qVec, nprobe, topk, excludeVecId)
  }

  private def probeWithModel(s: SparkSession, path: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      qVec: Array[Double], nprobe: Int, topk: Int,
      excludeVecId: Long): DataFrame = {
    val probeCells = cents.indices.sortBy(i => -cosLocal(qVec, cents(i)))
      .take(nprobe)
    val (m, ksub, sb) = geomOf(books)
    val cellDots = cents.map(c => dotLocal(qVec, c))
    val adc = Array.tabulate(m, ksub) { (j, c) =>
      dotLocal(qVec.slice(j * sb, (j + 1) * sb), books(j)(c))
    }
    val score = element_at(typedlit(cellDots.toSeq), col("cell") + 1) +
      (0 until m).map { j =>
        element_at(typedlit(adc(j).toSeq), element_at(col("codes"), j + 1) + 1)
      }.reduce(_ + _)
    readPrunedCodes(s, path, probeCells) match {
      case None =>
        s.createDataFrame(Seq.empty[(Long, Double)]).toDF("neighbor_id", "adc_score")
      case Some(live) =>
        live.filter(col("vec_id") =!= excludeVecId)
          .select(col("vec_id").as("neighbor_id"),
            round(score, 6).as("adc_score"))
          .orderBy(col("adc_score").desc, col("neighbor_id"))
          .limit(topk)
    }
  }

  /** The codes store's live rows under the probed cells
    * ([[graft.sinks.SegmentIndex.live]]: listing-pruned, tombstones and
    * the recency window applied). None = nothing indexed under the
    * probed cells — but a missing/empty codes TABLE is still a caller
    * error (a probe against no index at all), kept loud. */
  private def readPrunedCodes(s: SparkSession, path: String,
      cells: Seq[Int]): Option[DataFrame] =
    pqCodes.live(s, path, cells.map(_.toLong)).orElse {
      require(graft.sinks.IngestSegments.liveSegments(s, pqCodes.dir(path))
        .nonEmpty, s"no PQ code segments under $path")
      None
    }

  /** Batched ADC kNN — the PQ twin of SimilarityOps.ivfKnnJoin: top-k
    * neighbors for EVERY query row in one job over the compressed codes
    * table. The per-query ADC tables (m×ksub dot products against the
    * codebook literals) and cell-dot vector are computed ON THE PROBE
    * SIDE — queries×1 rows, interpreted HOFs are fine there — and
    * broadcast; the corpus-side score is then m codegen'd element_at
    * lookups + adds per code row, never vector math. The probed-cell
    * union is driver-enumerated (bounded by the cell count k) and
    * pushed as a literal partition filter, so the codes scan prunes
    * exactly as the single probe does; with several live segments the
    * latest-wins window runs over the pruned slice (sound under the
    * ingest immutability contract). `queries` needs (query_id LONG,
    * qv array<double>); query_id SHARES the corpus vec_id space and a
    * matching corpus row is excluded as a self-match — the dedup-shaped
    * contract every probe here uses (probePqIndex's excludeVecId). For
    * external queries, use ids outside the corpus space (e.g. negative)
    * or a colliding id would silently drop one real neighbor.
    *
    * Every fold matches the single probe bit-for-bit: the probe-side
    * dots are left folds from 0.0 ≡ dotLocal's sequential loop, and the
    * score sums cellDot + adc_0 + … + adc_{m-1} in j order. */
  def pqKnnJoin(s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int, topk: Int): DataFrame = {
    val (cents, books) = loadModel(s, path)
    pqKnnJoinWithModel(s, path, cents, books,
      SimilarityOps.collectQueries(queries, cents(0).length), nprobe, topk)
  }

  /** [[pqKnnJoin]] with the model threaded in — q153 probes the same
    * index at two widths (top-k ADC + the re-rank shortlist); loading
    * the codebooks once per REPORT instead of once per probe keeps the
    * monitor's bench cost at the probes themselves. */
  private def pqKnnJoinWithModel(s: SparkSession, path: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      qrows: Array[(Long, Array[Double])], nprobe: Int, topk: Int): DataFrame =
    pqKnnRankedWithModel(s, path, cents, books, qrows, nprobe)
      .filter(col("__rn") <= topk).drop("__rn")

  /** The window-ranked (query_id, neighbor_id, adc_score, __rn) frame
    * behind [[pqKnnJoinWithModel]], BEFORE the top-k cut — so a caller
    * probing the same index at two widths (q153's ADC top-k + 5×k
    * re-rank shortlist) shares ONE probe pass, ONE driver cell
    * enumeration and ONE pruned listing instead of building identical
    * scaffolding per width; the cut is the only thing that differs,
    * and `filter(__rn <= k)` after the window is exactly where each
    * dedicated call cut before.
    *
    * r18: the probe side is computed on the DRIVER from the collected
    * panel — probe cells by [[probeWithModel]]'s exact ranking rule
    * and the ADC/cell-dot tables by the same dotLocal loops the single
    * probe uses (the fused VecDots columns this replaces were pinned
    * bit-exact against those folds in PqSpec), so batch ≡ single-probe
    * by construction. The probed frame was already driver-resident (it
    * broadcasts into the codes join), so this trades two Spark jobs +
    * a broadcast-build job per call for |queries| × (k + m·ksub·sub)
    * driver flops — model-sized work for any panel the broadcast
    * could carry anyway. */
  private def pqKnnRankedWithModel(s: SparkSession, path: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      qrows: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    import s.implicits._
    val (m, ksub, sb) = geomOf(books)
    val probedRows = qrows.toSeq.flatMap { case (qid, qv) =>
      val adc = (0 until m).map(j =>
        books(j).toSeq.map(cb => dotLocal(qv.slice(j * sb, (j + 1) * sb), cb)))
      val cd = cents.toSeq.map(c => dotLocal(qv, c))
      cents.indices.sortBy(i => -cosLocal(qv, cents(i))).take(nprobe)
        .map(c => (qid, adc, cd, c))
    }
    val probed = probedRows.toDF("query_id", "adc", "cd", "cell")
    val cells = probedRows.map(_._4).distinct
    val resolved = readPrunedCodes(s, path, cells) match {
      case Some(live) => live
      case None => // the probed cells hold nothing: no query has a neighbor
        return probed.limit(0)
          .select(col("query_id"), col("query_id").as("neighbor_id"),
            lit(0.0).as("adc_score"), lit(1).as("__rn"))
    }
    val score = element_at(col("cd"), col("cell") + 1) +
      (0 until m).map { j =>
        element_at(element_at(col("adc"), j + 1),
          element_at(col("codes"), j + 1) + 1)
      }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id"))
    resolved.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(score, 6).as("adc_score"))
      .withColumn("__rn", row_number().over(w))
  }

  // -v2ing: r16 added the persisted logical `ing` column (tombstone
  // convention) — a pre-r16 layout must rebuild, not feed the recency
  // window a schema without it
  private val PqIndexVariant =
    s"-c8-m$DefaultM-k$DefaultKsub-i$DefaultPqIters-v2ing"

  def pqIndexPath(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.location(s, d, Seq("embeddings"), "ivfpq",
      PqIndexVariant)

  private def ensurePqIndex(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "ivfpq",
        PqIndexVariant) { stage =>
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      buildPqIndex(emb, stage, pqIters = DefaultPqIters)
    }

  /** Everything the generated oracle needs, cached by the q94 run (the
    * ivfOracleState pattern): the stored model plus the query-derived
    * ADC/cell-dot tables the probe actually used. */
  private case class PqOracleModel(nprobe: Int, topk: Int,
    cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
    cellDots: Array[Double], adc: Array[Array[Double]])
  @volatile private var pqOracleState: Option[PqOracleModel] = None

  /** Shared prologue of the three vec_id-0 PQ probes (q94/q107/q108):
    * load the stored model, fetch the query vector, derive the
    * ADC/cell-dot tables the probe and its generated oracle both use —
    * ONE definition, so the query derivation cannot silently drift
    * between the three probes' oracles. */
  private def queryModel(s: SparkSession, d: String, path: String,
      nprobe: Int, topk: Int): (Array[Double], PqOracleModel) = {
    val (cents, books) = loadModel(s, path)
    val qVec = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val (m, ksub, sb) = geomOf(books)
    val cellDots = cents.map(c => dotLocal(qVec, c))
    val adc = Array.tabulate(m, ksub) { (j, c) =>
      dotLocal(qVec.slice(j * sb, (j + 1) * sb), books(j)(c))
    }
    (qVec, PqOracleModel(nprobe, topk, cents, books, cellDots, adc))
  }

  /** q94: IVF-PQ ADC top-k against the stored index (built on first use
    * per sf dir). Query = vec_id 0, as the rest of the ANN tier. The
    * model is loaded ONCE and shared between the oracle cache and the
    * probe (probeWithModel). */
  def annIvfPq(s: SparkSession, d: String, nprobe: Int = 2,
      topk: Int = 10): DataFrame = {
    val path = ensurePqIndex(s, d)
    val (qVec, model) = queryModel(s, d, path, nprobe, topk)
    pqOracleState = Some(model)
    probeWithModel(s, path, model.cents, model.books, qVec, nprobe, topk,
      excludeVecId = 0L)
  }

  /** Model state for q96's generated oracle. */
  @volatile private var knnOracleState: Option[(Int, Int, Int,
    Array[Array[Double]], Array[Array[Array[Double]]])] = None

  /** q96: the batched ADC kNN join over the stored PQ index — queries
    * are the first 8 corpus vectors, top-5 ADC neighbors each at
    * nprobe=2. */
  def annPqKnnJoin(s: SparkSession, d: String, nQueries: Int = 8,
      nprobe: Int = 2, topk: Int = 5): DataFrame = {
    val path = ensurePqIndex(s, d)
    val (cents, books) = loadModel(s, path)
    knnOracleState = Some((nQueries, nprobe, topk, cents, books))
    val queries = t(s, d, "embeddings").filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    pqKnnJoin(s, path, queries, nprobe, topk)
  }

  /** q153 support: BOTH PQ rows of the recall report — the raw ADC
    * top-k and the 5×k-shortlist exact-cosine re-rank — plus their
    * generated oracle SQLs, from ONE index load and ONE query panel
    * (the report previously loaded the codebook parquet per probe).
    * Does not touch q96's oracle state (each query owns its model pin;
    * a shared mutable state would let whichever ran last rewrite the
    * other's oracle).
    *
    * Re-rank scale shape: the shortlist is |queries| × shortlist rows
    * (panel-bounded; in production still ≪ corpus), so it BROADCASTS
    * into the full-precision fetch — the corpus never shuffles, and at
    * 100 TB the id-equi join is a row-group-stats point fetch, the
    * q108 argument batched. Same (round(cos, 6) desc, neighbor_id) tie
    * order as every exact ranking in the tier. */
  def knnJoinsForRecall(s: SparkSession, d: String, nQueries: Int,
      nprobe: Int, topk: Int, shortlist: Int,
      panel: Option[Array[(Long, Array[Double])]] = None)
      : (DataFrame, String, DataFrame, String) = {
    val path = ensurePqIndex(s, d)
    val (cents, books) = loadModel(s, path)
    // the collected panel (r18): passed in by q153 so all four probe
    // rows share ONE collect; the fallback collects here. Same width
    // family across the report's indexes (64-dim embeddings).
    val qrows = panel.getOrElse(SimilarityOps.collectQueries(
      t(s, d, "embeddings").filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")),
      cents(0).length))
    import s.implicits._
    val queries = qrows.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("query_id", "qv")
    // one ranked frame, two cut widths: the ADC row and the shortlist
    // share the probe pass / cell enumeration / pruned listing
    // (pqKnnRankedWithModel's contract) instead of rebuilding them
    val ranked = pqKnnRankedWithModel(s, path, cents, books, qrows, nprobe)
    val adc = ranked.filter(col("__rn") <= topk).drop("__rn")
    val sl = ranked.filter(col("__rn") <= shortlist).drop("__rn")
      .join(broadcast(queries), Seq("query_id"))
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val reranked = emb.join(broadcast(sl), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.expressions.VectorHashes.cosine_sim(
          col("v"), col("qv")), 6).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topk)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val rerankSql =
      s"""SELECT query_id, neighbor_id,
         |  round(list_cosine_similarity(v, qv), 6) AS cosine FROM (
         |  SELECT sl.query_id, sl.neighbor_id, e2.v, q2.qv,
         |    row_number() OVER (PARTITION BY sl.query_id
         |      ORDER BY round(list_cosine_similarity(e2.v, q2.qv), 6) DESC,
         |               sl.neighbor_id) AS rn
         |  FROM (${pqKnnOracle(nQueries, nprobe, shortlist, cents, books)}) sl
         |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e2
         |    ON e2.vec_id = sl.neighbor_id
         |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings) q2
         |    ON q2.vec_id = sl.query_id) t
         |WHERE rn <= $topk""".stripMargin
    (adc, pqKnnOracle(nQueries, nprobe, topk, cents, books),
      reranked, rerankSql)
  }

  /** q153 support: the POST-RETRACTION recall row (r16 verdict nit —
    * never-returns-deleted was spec-pinned, but recall itself was not
    * re-measured after deletes): the same multi-query ADC kNN join
    * run over the q170 retracted lifecycle store, plus its generated
    * oracle with the corpus side restricted to the live vector set.
    * The recall denominator on the monitor side is the exact top-k
    * over the LIVE corpus — deletions shrink the candidate pool, and
    * recall against it is the number a production index owner watches
    * after a retraction wave. */
  def retractKnnJoinForRecall(s: SparkSession, d: String, nQueries: Int,
      nprobe: Int, topk: Int,
      panel: Option[Array[(Long, Array[Double])]] = None)
      : (DataFrame, String) = {
    val path = ensurePqRetractLifecycle(s, d)
    val (cents, books) = loadModel(s, path)
    val qrows = panel.getOrElse(SimilarityOps.collectQueries(
      t(s, d, "embeddings").filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")),
      cents(0).length))
    (pqKnnJoinWithModel(s, path, cents, books, qrows, nprobe, topk),
      pqKnnOracle(nQueries, nprobe, topk, cents, books,
        livePred = "NOT (vec_id % 20 = 13) AND NOT (vec_id % 40 = 3)"))
  }

  /** The three-cut PQ ingest lifecycle for q107 — the q105 fold+tail
    * pattern applied to the one index family whose ingest path was
    * build-once. Realistic 100 TB shape: the frozen model is trained on
    * the full corpus ONCE (in production, a sample — `trainOn`), the
    * bootstrap segment carries only cut 0, cuts 1 and 2 arrive as
    * streaming segments encoded against the frozen model, and
    * compaction folds bootstrap+cut1 while cut 2 stays the replayable
    * tail — the worst readable state, which the probe must read
    * correctly. Built and published by [[graft.sinks.Lifecycle]]
    * (torn builds are cleared and rebuilt, never served). */
  private def ensurePqLifecycle(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "ivfpq-stream",
        PqIndexVariant) { path =>
      val emb = SimilarityOps.annVectors(s, d)
      def cut(b: Long) = emb.filter(pmod(col("vec_id"), lit(3)) === b)
      buildPqIndex(cut(0), path, pqIters = DefaultPqIters, trainOn = Some(emb))
      ingestPqSegment(cut(1), path, 0L)
      ingestPqSegment(cut(2), path, 1L)
      compactPqIndex(s, path) // folds bootstrap + cut 1; 2 stays the tail
    }

  @volatile private var pqStreamOracleState: Option[PqOracleModel] = None

  /** q107: q94's ADC top-k through the ingest lifecycle — the probe over
    * the folded+tail code segments must match the same generated oracle
    * shape as q94 (the model literals come from THIS index's model, so
    * the check is self-consistent; the lifecycle is the thing under
    * test, not a new query semantics). */
  def annIvfPqStream(s: SparkSession, d: String, nprobe: Int = 2,
      topk: Int = 10): DataFrame = {
    val path = ensurePqLifecycle(s, d)
    val (qVec, model) = queryModel(s, d, path, nprobe, topk)
    pqStreamOracleState = Some(model)
    probeWithModel(s, path, model.cents, model.books, qVec, nprobe, topk,
      excludeVecId = 0L)
  }

  /** The PQ retraction lifecycle — q107's worst retractable state (the
    * q169 convention on the codes store): bootstrap + two ingests with
    * a fold, retract vec ≡ 3 (mod 10), resurrect the ≡ 3 (mod 20) half
    * (same id, same vector — the immutability contract), fold again
    * (tombstoned codes drop, the side table keeps its tombstones),
    * then a final live-tail retraction of the ≡ 3 (mod 40) quarter. */
  private def ensurePqRetractLifecycle(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("embeddings"), "ivfpq-retract",
        s"-c8-m$DefaultM-k$DefaultKsub-i$DefaultPqIters") { stage =>
      val emb = SimilarityOps.annVectors(s, d)
      def cut(b: Long) = emb.filter(pmod(col("vec_id"), lit(3)) === b)
      buildPqIndex(cut(0), stage, pqIters = DefaultPqIters, trainOn = Some(emb))
      ingestPqSegment(cut(1), stage, 0L)
      ingestPqSegment(cut(2), stage, 1L)
      compactPqIndex(s, stage)
      val (retract1, resurrect, retract2) =
        graft.sinks.Lifecycle.halvingMasks(col("vec_id"))
      retractPqVecs(stage)(emb.filter(retract1), 2L)
      ingestPqSegment(emb.filter(resurrect), stage, 3L)
      compactPqIndex(s, stage)
      retractPqVecs(stage)(emb.filter(retract2), 4L)
    }

  @volatile private var pqRetractOracleState: Option[PqOracleModel] = None

  /** q170: retraction through the PQ ingest lifecycle — the codes-store
    * twin of q169: a deleted vec_id must never surface from the
    * cell-pruned ADC probe (the tombstone side table is cell-blind by
    * design). Hash-gated against the generated ADC oracle over the
    * POST-RETRACTION vector set. */
  def annPqRetract(s: SparkSession, d: String, nprobe: Int = 2,
      topk: Int = 10): DataFrame = {
    val path = ensurePqRetractLifecycle(s, d)
    val (qVec, model) = queryModel(s, d, path, nprobe, topk)
    pqRetractOracleState = Some(model)
    probeWithModel(s, path, model.cents, model.books, qVec, nprobe, topk,
      excludeVecId = 0L)
  }

  @volatile private var rerankOracleState: Option[(PqOracleModel, Int)] = None

  /** q108: two-stage retrieval — the ADC shortlist re-ranked by EXACT
    * cosine, the standard recall-repair step every production PQ
    * deployment runs (compression error reorders close neighbors; a
    * shortlist 5× the final k followed by a full-precision re-rank
    * restores near-exact top-k at a bounded extra cost). Stage 1 is
    * q94's ADC probe widened to `shortlist` rows; its ids are
    * driver-bounded (≤ shortlist, the q66 top-literals pattern) and
    * pushed as an In filter on the full-precision table, so stage 2 at
    * 100 TB is a row-group-stats point fetch of ≤ shortlist vectors —
    * never a scan — plus `shortlist` exact cosines. The oracle replays
    * the stored-model shortlist in SQL (pqOracle with topk=shortlist)
    * and re-ranks it with DuckDB's own exact cosine. */
  def annPqRerank(s: SparkSession, d: String, nprobe: Int = 2,
      shortlist: Int = 50, topk: Int = 10): DataFrame = {
    val path = ensurePqIndex(s, d)
    val (qVec, model) = queryModel(s, d, path, nprobe, shortlist)
    rerankOracleState = Some((model, topk))
    val ids = probeWithModel(s, path, model.cents, model.books, qVec, nprobe,
        shortlist, excludeVecId = 0L)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSeq
    t(s, d, "embeddings")
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("neighbor_id"),
        round(graft.expressions.VectorHashes.cosine_sim(
          col("embedding").cast("array<double>"),
          typedlit(qVec.toSeq)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
      .limit(topk)
  }

  /** q108's oracle: the generated ADC shortlist (pqOracle at
    * topk=shortlist) re-ranked by DuckDB's exact cosine — same round(6)
    * and (cosine desc, id) tie order as the Spark side. */
  private def rerankOracle(mo: PqOracleModel, topk: Int): String =
    s"""SELECT sl.neighbor_id,
       | round(list_cosine_similarity(e2.v, q2.qv), 6) AS cosine
       |FROM (${pqOracle(mo)}) sl
       |JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e2
       |  ON e2.vec_id = sl.neighbor_id
       |CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       |            WHERE vec_id = 0) q2
       |ORDER BY cosine DESC, neighbor_id LIMIT $topk""".stripMargin

  val queries: Map[String, Q] = Map(
    "q94_ann_ivfpq_topk" -> ((s, d) => annIvfPq(s, d)),
    "q96_ann_pq_knn_join" -> ((s, d) => annPqKnnJoin(s, d)),
    "q107_ann_pq_stream" -> ((s, d) => annIvfPqStream(s, d)),
    "q108_ann_pq_rerank" -> ((s, d) => annPqRerank(s, d)),
    "q170_pq_retract" -> ((s, d) => annPqRetract(s, d)))

  private def dArr(xs: Array[Double]): String =
    xs.mkString("[", ",", "]") + "::DOUBLE[]"

  /** Per-subspace distance LISTS as ONE list_transform lambda over the
    * codebook literal (instead of ksub unrolled expressions): the
    * lambda body writes the sub-dimension term sum explicitly and in
    * order, so every code's distance is the same left-associative
    * (r_d − cb_d)² sum as codesCol — bit parity is untouched — while
    * the SQL shrinks by ~ksub× (at m=32/ksub=64 the unrolled form was
    * 475 KB and DuckDB spent ~30 s mostly parsing/planning it; this
    * form is ~16 KB). */
  private def distListsSql(books: Array[Array[Array[Double]]]): String = {
    val (m, _, sb) = geomOf(books)
    def cbLit(j: Int): String =
      books(j).map(_.mkString("[", ",", "]")).mkString("[", ",\n      ", "]") +
        "::DOUBLE[][]"
    (0 until m).map { j =>
      val terms = (0 until sb).map { dd =>
        val idx = j * sb + dd + 1
        s"(v[$idx] - cv[$idx] - cb[${dd + 1}]) * (v[$idx] - cv[$idx] - cb[${dd + 1}])"
      }.mkString(" + ")
      s"    list_transform(${cbLit(j)}, cb -> $terms) AS l$j"
    }.mkString(",\n")
  }

  /** The generated q94 oracle: literal centroids + codebooks + the
    * query-derived ADC tables. Cell assignment and the probe ranking are
    * q42's CTEs verbatim (ties: assignment → higher cell, probe → lower
    * cell); the encode reproduces codesCol term-for-term — each distance
    * is a left-associative sum of ((v[i]-cv[i]) - cb)² and argmin takes
    * the FIRST minimal code (list_position of list_min ≡ array_min on
    * struct(dist, code)). */
  private def pqOracle(mo: PqOracleModel,
      livePred: String = "TRUE"): String = {
    val (m, ksub, sb) = geomOf(mo.books)
    val centRows = mo.cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${dArr(c)})" }.mkString(",\n")
    val distLists = distListsSql(mo.books)
    val codeCols = (0 until m)
      .map(j => s"    list_position(l$j, list_min(l$j)) - 1 AS c$j")
      .mkString(",\n")
    val adcSum = (0 until m)
      .map(j => s"list_extract(${dArr(mo.adc(j))}, c$j + 1)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE $livePred),
       |cent(cell, cv) AS (VALUES
       |$centRows),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY list_cosine_similarity(qv, cv) DESC, cell LIMIT ${mo.nprobe}),
       |a AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
       |        AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |f AS (
       |  SELECT a.vec_id, a.v, a.cell, c.cv FROM a JOIN cent c ON a.cell = c.cell
       |  WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0),
       |r AS (
       |  SELECT vec_id, cell,
       |$distLists
       |  FROM f),
       |cd AS (
       |  SELECT vec_id, cell,
       |$codeCols
       |  FROM r)
       |SELECT vec_id AS neighbor_id,
       | round(list_extract(${dArr(mo.cellDots)}, cell + 1) + ($adcSum), 6)
       |   AS adc_score
       |FROM cd ORDER BY adc_score DESC, neighbor_id LIMIT ${mo.topk}""".stripMargin
  }

  /** q96's oracle — q94's generated-model CTEs over a query SET. The
    * encode (dist lists → argmin codes) is identical; what changes:
    * per-query probe ranking (ties → lower cell, the negcell rule),
    * codes computed for the probed-cell UNION, and the score's ADC
    * terms computed IN SQL — per subspace j, list_dot_product of the
    * query's slice against the codebook row SELECTED BY the stored
    * code (list_extract on a DOUBLE[][] literal). Both engines fold
    * every dot left-to-right and sum cellDot + adc_0 + … + adc_7 in j
    * order, so raw doubles agree before the shared round. */
  private def pqKnnOracle(nQueries: Int, nprobe: Int, topk: Int,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      livePred: String = "TRUE"): String = {
    val (m, ksub, sb) = geomOf(books)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => s"  ($i, ${dArr(c)})" }.mkString(",\n")
    val distLists = distListsSql(books)
    val codeCols = (0 until m)
      .map(j => s"    list_position(l$j, list_min(l$j)) - 1 AS c$j")
      .mkString(",\n")
    def cbLit(j: Int): String =
      books(j).map(_.mkString("[", ",", "]")).mkString("[", ",\n      ", "]") +
        "::DOUBLE[][]"
    val adcSum = (0 until m).map { j =>
      val lo = j * sb + 1
      val hi = j * sb + sb
      s"list_dot_product(q.qv[$lo:$hi], list_extract(${cbLit(j)}, c$j + 1))"
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$centRows),
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
       |    FROM e CROSS JOIN cent c
       |    WHERE $livePred)
       |  WHERE rn = 1),
       |f AS (
       |  SELECT a.vec_id, a.v, a.cell, c.cv FROM a JOIN cent c ON a.cell = c.cell
       |  WHERE a.cell IN (SELECT DISTINCT cell FROM probe)),
       |r AS (
       |  SELECT vec_id, cell,
       |$distLists
       |  FROM f),
       |cd AS (
       |  SELECT vec_id, cell,
       |$codeCols
       |  FROM r),
       |sc AS (
       |  SELECT q.qid AS query_id, cd.vec_id AS neighbor_id,
       |    round(list_dot_product(q.qv, cent.cv)
       |    + ($adcSum), 6) AS adc_score
       |  FROM probe p
       |  JOIN q ON q.qid = p.qid
       |  JOIN cd ON cd.cell = p.cell
       |  JOIN cent ON cent.cell = cd.cell
       |  WHERE cd.vec_id <> q.qid)
       |SELECT query_id, neighbor_id, adc_score FROM (
       |  SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_score DESC, neighbor_id) AS rn FROM sc)
       |WHERE rn <= $topk""".stripMargin
  }

  /** A def, not a val: present only after a q94 run has cached its
    * model (Verify reads oracleSql after the query loop — the q42
    * contract). */
  def oracles: Map[String, String] =
    pqOracleState.map(mo => "q94_ann_ivfpq_topk" -> pqOracle(mo)).toMap ++
      knnOracleState.map { case (nq, np, tk, cs, bs) =>
        "q96_ann_pq_knn_join" -> pqKnnOracle(nq, np, tk, cs, bs) } ++
      pqStreamOracleState.map(mo => "q107_ann_pq_stream" -> pqOracle(mo)) ++
      // q170 = the same generated ADC oracle over the post-retraction
      // vector set (live = never retracted, or resurrected and not
      // re-retracted — the lifecycle's mod-10/20/40 sets)
      pqRetractOracleState.map(mo => "q170_pq_retract" -> pqOracle(mo,
        "NOT (vec_id % 20 = 13) AND NOT (vec_id % 40 = 3)")) ++
      rerankOracleState.map { case (mo, tk) =>
        "q108_ann_pq_rerank" -> rerankOracle(mo, tk) }
}
