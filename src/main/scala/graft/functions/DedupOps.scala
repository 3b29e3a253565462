package graft.functions

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators (LLM-pipeline tier): n-gram Jaccard,
  * MinHash+LSH, SimHash. Exact dedup lives in TextOps.dedupExact.
  *
  * Scale design:
  * - Pairwise Jaccard is quadratic → only ever run it on a bounded
  *   candidate set. Here the oracle query restricts to doc_id < 200 (a
  *   constant slice across sf); the production path is MinHash/LSH, whose
  *   band-bucket join only pairs documents agreeing on a band — linear in
  *   corpus + collisions, the standard 100 TB dedup shape.
  * - All hashing is xxhash64 (Spark's codegen'd HashExpression) —
  *   deterministic across runs/partitions, so results are stable.
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** Word 3-gram shingles of a token array: shingle i = tokens[i..i+2].
    * Guarded: <3 tokens → empty array (sequence(1,0) would count DOWN). */
  def shingles3(tk: Column): Column =
    when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", slice(tk, i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** MinHash permutation family from ONE base hash per shingle: perm_i(h)
    * = h * a_i + b_i (odd multiplier ⇒ bijection mod 2^64) — the standard
    * trick that replaces `perms` string-hash passes with one xxhash64 pass
    * plus cheap arithmetic. Callers materialize the base-hash array once
    * (withColumn) so Catalyst doesn't recompute it per permutation. */
  def minhashSignatureFromHashes(hashes: Column, perms: Int): Column = {
    require(perms <= 63, "rotate-based family supports ≤63 permutations")
    array((0 until perms).map { i =>
      // rotate-left by i+1 then XOR a per-perm constant: a bijection on
      // Long built from shift/or/xor only — no ANSI arithmetic overflow
      // (Spark 4 runs ANSI mode by default; h*a+b would throw).
      val r = i + 1
      val c = lit(-7046029254386353131L * (i + 1)) // golden-ratio constants (Scala wraps)
      array_min(transform(hashes,
        h => shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r)).bitwiseXOR(c)))
    }: _*)
  }

  /** MinHash signature over shingle strings (convenience; see
    * minhashSignatureFromHashes). */
  def minhashSignature(sh: Column, perms: Int): Column =
    minhashSignatureFromHashes(transform(sh, x => xxhash64(x)), perms)

  /** LSH banding: split a `perms`-wide signature into bands of `rows`,
    * hash each band; docs sharing any (band_idx, band_hash) are
    * candidates. */
  def lshBands(sig: Column, perms: Int, rows: Int): Column = {
    val bands = (0 until perms / rows).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(sig, b * rows + 1, rows)).as("bhash"))
    }
    array(bands: _*)
  }

  /** Hot-bucket (stop-band) capped candidate enumeration for band-bucket
    * self-joins — the production relief valve for boilerplate clusters.
    * Real corpora carry near-identical boilerplate docs (license
    * headers, templated pages) that pile into ONE band bucket; the
    * self-join then enumerates occupancy² pairs, and the size-ratio
    * prefilter cannot stop it because the docs genuinely are near-dups.
    *
    * Input: (id, b) rows — `id` any numeric doc/vec id, `b` the bucket
    * key. Output: candidate (doc_a, doc_b) pairs, doc_a < doc_b, where
    * each bucket contributes at most C(maxBucket, 2) full pairs plus
    * one STAR edge per overflow row (overflow rows pair with their
    * bucket's first kept row instead of with each other). Bucket cost
    * is therefore O(maxBucket² + occupancy) instead of O(occupancy²).
    *
    * Semantics of the cap: PAIR-level recall is lost for any pair with
    * at least one overflow member, in every bucket they share, unless
    * the kept member is that bucket's rank-1 representative (kept×kept
    * full pairs and overflow×rep star edges are ALL the cap emits — a
    * kept-but-not-rep × overflow pair is dropped) — but each overflow
    * doc keeps its star edge to the bucket representative,
    * so CLUSTER-level connectivity (what q62's collapse consumes)
    * survives whenever the representative truly is a near-dup of the
    * cluster — which is the hot-cluster case by construction (the
    * bucket is hot BECAUSE its members are near-identical; the verify
    * tier still kills accidental collisions). This is the standard
    * production trade (hot-bucket drop/subsample in large-scale dedup
    * pipelines); the oracle-checked paths (q28/q29) run uncapped —
    * audit violating buckets with [[hotBuckets]] before enabling.
    *
    * Plan shape: ranking uses a window partitioned by the SAME key the
    * candidate join shuffles on, so the cap adds no extra exchange —
    * the self-join reuses the window's hash partitioning, and the
    * window's (b, id) sort already satisfies the merge join's `b`
    * prefix. */
  def cappedBandCandidates(keyed: DataFrame, maxBucket: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("id"))
    val ranked = keyed.select(col(idCol).as("id"), col("b"))
      // dense_rank, NOT row_number: duplicate (id, b) input rows (the
      // 64-bit band-key collision / non-deduped-caller case documented
      // below) would consume cap slots and displace DISTINCT docs —
      // the same hazard the probe flavor fixed; duplicate-emitted pairs
      // dedup downstream exactly as multi-band pair emissions do
      .withColumn("__occ", dense_rank().over(w))
    val kept = ranked.filter(col("__occ") <= maxBucket)
    val full = kept.as("x").join(kept.as("y"),
        col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
    val reps = ranked.filter(col("__occ") === 1)
      .select(col("b"), col("id").as("rep"))
    val star = ranked.filter(col("__occ") > maxBucket)
      .join(reps, "b")
      // a duplicate (id, b) input row (64-bit band-key collision within
      // one doc, or a caller that didn't dedup) ranks the same id at
      // occ 1 AND occ > cap — without this filter it becomes the
      // self-pair (id, id), which the verify tier cannot kill
      // (jaccard(A,A) = 1.0)
      .filter(col("id") =!= col("rep"))
      .select(least(col("id"), col("rep")).as("doc_a"),
        greatest(col("id"), col("rep")).as("doc_b"))
    full.unionByName(star).distinct()
  }

  /** (bucket, occupancy) of buckets exceeding maxBucket — the audit
    * companion of [[cappedBandCandidates]]: log these (they name the
    * boilerplate clusters) before enabling the cap. */
  def hotBuckets(keyed: DataFrame, maxBucket: Int): DataFrame =
    keyed.groupBy(col("b")).agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > maxBucket)

  /** MinHash/LSH near-dup candidates with exact-Jaccard verification on
    * shingle sets. 32 perms, 8 bands x 4 rows (catches jaccard ≳ 0.5).
    * Output: candidate pairs with verified shingle-set Jaccard ≥ 0.5.
    * Oracle: because the verification step computes EXACT Jaccard on
    * shingle-hash sets, the output equals the brute-force shingle-Jaccard
    * result (q41's oracle, unsliced) whenever the banding catches every
    * ≥-threshold pair — deterministic with xxhash64, and it holds on the
    * fixtures' engineered near-dups, so the driver can hash-compare this
    * against exact SQL. LshRecallSpec guards the property in-repo.
    *
    * Memory discipline (100 TB): nothing corpus-proportional is persisted
    * or broadcast. The band self-join's two sides are identical subplans:
    * at shuffle scale Catalyst's ReuseExchange computes the signature
    * scan + band shuffle once (LshRecallSpec asserts it with broadcast
    * disabled); at broadcast sizes the small side recomputes a then-cheap
    * scan instead — either way no cache is needed. Only the candidate
    * PAIR set (dup-rate-proportional, ~16 B/row) is persisted, and it is
    * freed before the query returns (the final result is
    * localCheckpoint-ed so the returned frame no longer depends on it). */
  val minhashLsh: Q = (s, d) => minhashLshWithCap(s, d, maxBucket = None)

  /** minhashLsh with an optional hot-bucket cap — `maxBucket = None` is
    * the exact oracle path (q28); `Some(c)` bounds any band bucket's
    * candidate contribution per [[cappedBandCandidates]] (the
    * boilerplate-cluster relief valve; DedupSpec's 1 k-identical-doc
    * case pins the bound and fixture-equality under a generous cap). */
  def minhashLshWithCap(s: SparkSession, d: String,
      maxBucket: Option[Int]): DataFrame = {
    // One fused pass over the corpus produces the signatures (custom
    // Catalyst expression — bit-identical to the HOF pipeline, ~50x
    // faster; see graft.expressions.MinHashSignature).
    val sig = t(s, d, "documents")
      .select(col("doc_id"),
        graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"))
      .filter(size(col("sig")) > 0)
    // Band join carries ONLY (doc_id, band-key) — never the shingle
    // arrays — so the shuffle payload stays ~16 bytes/row at any corpus
    // size. The (band, bhash) struct is hashed to ONE long key: struct
    // join keys sort interpreted in SortMergeJoin (no radix prefix —
    // measured 15-40× slower at volume on q29's tier join); a 64-bit
    // collision only admits a false candidate the exact-Jaccard verify
    // kills, the argument the band hash itself already rests on.
    val banded = sig.select(col("doc_id"),
      explode(lshBands(col("sig"), 32, 4)).as("bk"))
      .select(col("doc_id"), xxhash64(col("bk.band"), col("bk.bhash")).as("b"))
    val cand = (maxBucket match {
      case Some(c) => cappedBandCandidates(banded, c)
      case None => banded.as("a").join(banded.as("b"),
          col("a.b") === col("b.b") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }).persist() // pairs only; feeds the id-list AND the final join; freed below
    try {
      // Exact-Jaccard verification over distinct shingle-HASH sets (fused
      // ShingleHashes expression): only candidate docs are hashed
      // (semi-join first), and the set intersection runs on longs, not
      // strings. Jaccard over hash sets ≡ Jaccard over shingle sets modulo
      // 64-bit collisions. No broadcast hint on the id list: it is
      // dup-rate-proportional (unbounded at 100 TB); the shuffle semi-join
      // is safe at any size and AQE still broadcasts it when it fits.
      val candIds = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      // hs sorted ONCE per doc so the per-pair intersection is a linear
      // merge (fused SortedIntersectCount) instead of a hash-set build
      // (array_intersect) — pairs outnumber docs, so the sort amortizes
      val candDocs = t(s, d, "documents")
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), sort_array(
          graft.expressions.TextHashes.shingle_hashes(col("text"), 3)).as("hs"))
        .filter(size(col("hs")) > 0)
      val shA = candDocs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
      val shB = candDocs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
      cand.join(shA, "doc_a").join(shB, "doc_b")
        .withColumn("inter", graft.expressions.VectorHashes
          .sorted_intersect_count(col("hs_a"), col("hs_b")))
        .withColumn("jaccard", round(col("inter") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 4))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .localCheckpoint(eager = true)
    } finally cand.unpersist(false)
  }

  /** SimHash-64 over a (precomputed) token-hash array column: per bit
    * position, sum +1/-1 votes across token hashes; sign vector folds to
    * a 64-bit fingerprint. Pure columnar aggregate()s over the stored
    * hash array — no UDF, no shuffle. (64 static masks; a fused custom
    * Expression is the planned optimization.) */
  def simhash64(hashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val mask = lit(1L << i)
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0, lit(1L)).otherwise(lit(-1L)))
      when(vote > 0, mask).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** SimHash fingerprints per document (fused custom expression; the HOF
    * twin above is kept for the equivalence spec). Building block of
    * simhashNearDupPairs (= q29); DedupSpec proves hamming-distance
    * behavior on synthetic near-dups. */
  val simhash: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        graft.expressions.TextHashes.simhash64(col("text")).as("simhash"))

  /** A 64-bit fingerprint split into `nBlocks` contiguous bit blocks
    * (widths differ by ≤1). Pigeonhole: two fingerprints within hamming
    * distance nBlocks-1 agree EXACTLY on at least one block, so an
    * equality join on (block idx, block value) finds every such pair
    * without an all-pairs comparison — Manku et al., WWW'07 (the Google
    * SimHash dedup paper). */
  def simhashBlocks(f: Column, nBlocks: Int): Column = {
    // nBlocks = 1 would need a 64-bit mask, but 1L << 64 wraps to 1L
    // (JVM shift mod 64) so the mask is 0 and EVERY fingerprint
    // collides on every key — an all-pairs join in disguise; > 64
    // gives zero-width blocks with the same mask-0 degeneration. Fail
    // loudly instead (same stance as minhash's perms <= 63 guard).
    require(nBlocks >= 2 && nBlocks <= 64,
      s"nBlocks must be in [2, 64], got $nBlocks")
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    val bounds = (0 until nBlocks)
      .scanLeft(0)((lo, i) => lo + base + (if (i < extra) 1 else 0))
    array((0 until nBlocks).map { i =>
      val lo = bounds(i); val w = bounds(i + 1) - lo
      struct(lit(i).as("blk"),
        shiftrightunsigned(f, lo).bitwiseAND(lit((1L << w) - 1)).as("bval"))
    }: _*)
  }

  /** Block-PAIR keys (Manku's multi-block table arrangement): hamming
    * ≤ nBlocks−2 touches at most nBlocks−2 blocks, so ≥2 blocks stay
    * clean and the pair of them matches exactly — same recall guarantee
    * as single-block pigeonhole with nBlocks−1 blocks, and the join key
    * carries ~2× the bits (10-13 here vs 5-7). On THIS corpus that does
    * not help: fingerprints that collide on one block mostly collide on
    * whole pairs of blocks too — measured at sf0.1 (hamming ≤ 9):
    * 16.7M raw join rows with 10 single blocks vs 16.2M with 11-block
    * pairs, and 20.1M with 11 single blocks vs 28.6M with 12-block
    * pairs — while exploding 55-66 structs/doc instead of 10-11. Re-
    * measured at the round-5 hamming ≤ 12 (where 4-5-bit single blocks
    * looked weak enough that pairs might win): still 30.8 s vs 5.5 s
    * for single blocks — at WIDE radii the correlation dominates at
    * every arrangement tried. At the production radius 4 the picture
    * inverts: 6-block pairs carry 20-22-bit keys and measured 39×
    * fewer raw join rows than radius-4 single blocks at 100 k docs —
    * q29's tier 0 (simhashTieredKeys) runs THIS scheme, hashed to a
    * long key. SimhashRecallSpec proves coverage/agreement. */
  def simhashBlockPairs(f: Column, nBlocks: Int): Column = {
    // the same [2, 64] guard as simhashBlocks: nBlocks = 1 yields an
    // EMPTY pair array (zero candidates — every near-dup silently
    // missed, the all-miss twin of the sibling's all-pairs hazard) and
    // > 64 yields zero-width always-0 block values that degenerate the
    // equality join toward all-pairs
    require(nBlocks >= 2 && nBlocks <= 64,
      s"nBlocks must be in [2, 64], got $nBlocks")
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    val bounds = (0 until nBlocks)
      .scanLeft(0)((lo, i) => lo + base + (if (i < extra) 1 else 0))
    def bval(i: Int) = {
      val lo = bounds(i); val w = bounds(i + 1) - lo
      shiftrightunsigned(f, lo).bitwiseAND(lit((1L << w) - 1))
    }
    array((for { i <- 0 until nBlocks; j <- (i + 1) until nBlocks } yield
      struct(lit(i).as("bi"), lit(j).as("bj"),
        bval(i).as("vi"), bval(j).as("vj"))): _*)
  }

  /** Unified two-tier candidate keys for q29 — one row per (doc, key),
    * with the doc's fingerprint `f` and distinct-shingle count `sz`
    * riding along so the hamming and size-ratio prefilters run INSIDE
    * the candidate join. Exposed for SimhashRecallSpec, which rebuilds
    * the key union independently and pins it against this one.
    *
    * Tier 0 — SimHash pigeonhole BLOCK PAIRS at production radius
    * (hamming ≤ 4; Manku et al. WWW'07 run 3-4): 6 blocks of 10-11
    * bits; hamming ≤ 4 dirties ≤ 4 blocks, so ≥ 2 stay clean and some
    * pair of clean blocks matches exactly — C(6,2) = 15 keys/doc of
    * 20-22 bits (~31.5 M combined key space). The round-5 scheme was
    * SINGLE blocks pigeonholing hamming 12 directly — 13 blocks of 4-5
    * bits, 355 distinct keys TOTAL at sf0.1 — so candidate enumeration
    * degenerated to Σ-over-keys occupancy² ≈ N²/c: 32.0 M raw join
    * rows (~5.5 k docs), MORE than the 15 M all-pairs count. (Radius-4
    * SINGLE blocks — 5 × 12-13 bits, 36 864 keys — were measured too:
    * 1.10 M raw at sf0.1 but quadratic again by 400 k docs, 75.7 M raw
    * on the synthetic corpus; pair keys measured 122 k / 1.06 M raw at
    * 100 k / 400 k docs on the same corpus. Block-value skew from
    * correlated text bits persists at any width — the hot-bucket cap
    * ([[cappedBandCandidates]]) is the production relief valve.)
    * Tier 1 — MinHash band keys (6 bands × 5 rows over the 32-perm
    * signature; the last 2 perms unused) covering the far tail: the
    * fixtures' engineered Jaccard-0.5 near-dups reach hamming 12, far
    * outside SimHash's effective radius, and pigeonholing hamming 12
    * directly is exactly what degenerated. 6×5 replaced q28's 8×4
    * in round 11: tier 1 only needs the tail tier-0 misses, the
    * 5-row bands are ~13× more selective at J=0.5 per band
    * (0.5^5 vs 0.5^4, 6 vs 8 bands) and drop per-doc key volume 25%
    * — measured q29 min 3.07 → 1.84 s at sf0.1 (standalone warm
    * runs) with candidate recall still 1.0 on all three driver
    * fixtures. Band recall at J ≥ 0.5 is the SAME per-corpus
    * property q28's oracle already rests on (LshRecallSpec pins it;
    * SimhashRecallSpec re-pins it through this query on all three
    * driver fixtures — the gate this trade ran behind).
    *
    * The key is ONE xxhash64 LONG, tiers kept disjoint by a leading
    * tag literal (0 = block pair, 1 = band) in the hash input — NOT a
    * struct: SortMergeJoin sorts struct keys through interpreted
    * ordering with no radix prefix, measured 15-40× slower than the
    * 8-byte long at 400 k docs (55-157 s vs 3.7 s for the identical
    * candidate set); the long key radix-sorts and halves the shuffle
    * payload. A 64-bit hash collision across tiers or between distinct
    * block values merely admits a false candidate for the hamming +
    * Jaccard verify tiers to kill — the same argument the band hash
    * itself rests on.
    * Measured raw candidate-join volume at sf0.1: 32.0 M rows
    * (round-5) → 0.32 M rows (tier 0 ≈ 318 k + tier 1 ≈ 1.8 k) — a
    * 100× drop with identical q29 output. */
  def simhashTieredKeys(docs: DataFrame): DataFrame = {
    // ONE fused fingerprint pass (simhash + distinct-shingle count +
    // MinHash signature in a single tokenization — see
    // TextHashRuntime.dedupFingerprint): the previous three separate
    // expressions split the text three times and hashed the shingles
    // twice, and the per-tier union branches below each re-evaluate
    // their projection, doubling that again — measured as the dominant
    // (~80%) share of q29's cost in the round-10 tier split. Layout:
    // [f, sz, min_0..min_31], decoded here; bit-equivalence to the
    // separate expressions is DedupSpec-pinned.
    val fp = docs.select(col("doc_id"),
      graft.expressions.TextHashes.dedup_fingerprint(col("text"), 32, 3).as("fpa"))
      .select(col("doc_id"),
        element_at(col("fpa"), 1).as("f"),
        element_at(col("fpa"), 2).as("sz"),
        slice(col("fpa"), 3, 32).as("sig"))
    // sz > 0 on BOTH tiers: docs with no shingle (under 3 tokens, incl.
    // empty text) all hash to the same degenerate fingerprint, share
    // every tier-0 key, and pass both prefilters (0 <= hamming, 0 >=
    // 0.5*0) — N empty docs would persist ~N²/2 candidate pairs the
    // verify tier then drops anyway (zero-shingle docs can never reach
    // Jaccard ≥ 0.5, so no true pair is lost)
    val tier0 = fp.filter(col("sz") > 0)
      .select(col("doc_id"), col("f"), col("sz"),
        explode(simhashBlockPairs(col("f"), 6)).as("bk"))
      .select(col("doc_id"), col("f"), col("sz"),
        xxhash64(lit(0), col("bk.bi"), col("bk.bj"),
          col("bk.vi"), col("bk.vj")).as("b"))
    val tier1 = fp.filter(size(col("sig")) > 0)
      .select(col("doc_id"), col("f"), col("sz"),
        explode(lshBands(col("sig"), 32, 5)).as("bk"))
      .select(col("doc_id"), col("f"), col("sz"),
        xxhash64(lit(1), col("bk.band"), col("bk.bhash")).as("b"))
    tier0.unionByName(tier1)
  }

  /** SimHash near-dup pairs with exact-Jaccard verification — q29, the
    * third dedup family's end-to-end query. Candidates come from ONE
    * equality self-join over the two-tier key union (simhashTieredKeys
    * above: production-radius SimHash blocks + MinHash bands for the
    * far tail), then the exact hamming ≤ 12 filter and the size-ratio
    * prefilter run inside the join, then exact shingle-set Jaccard
    * verifies every survivor. hammingMax = 12: measured max hamming
    * over TRUE (jaccard ≥ 0.5) pairs is 9 / 5 / 12 at sf0.001 / 0.01 /
    * 0.1 — recall is a PER-CORPUS property, not a bound, so
    * SimhashRecallSpec pins 1.0 on all three driver fixtures (which is
    * how a fixture-tuned hamming 9 that silently missed 5 sf0.1 pairs
    * was caught). Because the verify step recomputes TRUE Jaccard, the
    * output equals the brute-force shingle-Jaccard pair set whenever
    * candidate recall is 1.0 — so q29 shares q28's SQL oracle. Same
    * memory discipline as minhashLsh: only the candidate pair set is
    * persisted, freed before return. */
  val simhashNearDupPairs: Q = (s, d) => {
    val hammingMax = 12
    // repartition on the key: the fixtures arrive as ONE parquet
    // partition, and a broadcast key-join preserves input partitioning —
    // without this the entire candidate enumeration runs in a single
    // task on one core. The tier keys are 64-bit xxhash values, so the
    // key cardinality (unlike the round-5 ~400-value block keys)
    // supports any partition count — measured (the removed ScaleProbe's
    // simhash_join_occupancy row, PLANS.md): 2.1M-27.7M distinct keys at
    // 100k-1.6M docs, all 256 partitions populated, max partition share
    // ~1/256 — effective parallelism tracks the partition count. On a
    // real multi-file corpus the scan is already parallel; the
    // repartition makes the plan's parallelism a property of the query,
    // not of the input layout.
    val keys = simhashTieredKeys(t(s, d, "documents")).repartition(col("b"))
    val cand = keys.as("a").join(keys.as("b"),
        col("a.b") === col("b.b") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr(s"bit_count(a.f ^ b.f) <= $hammingMax"))
      // size-ratio prefilter: J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
      // — loses no true pair; runs inside the join, before the distinct
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(0.5) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .persist()
    // ALL construction after the persist sits inside its guard: frame
    // analysis is eager, so a failure while building candDocs (missing
    // fixture, schema drift) would otherwise leak cand's cached plan
    // for the session lifetime (CacheManager holds plans strongly)
    try {
      val candIds = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      // shingle arrays are hashed (and sorted, for the merge intersect)
      // only for docs that survived blocking + prefilter
      val candDocs = t(s, d, "documents")
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), sort_array(
          graft.expressions.TextHashes.shingle_hashes(col("text"), 3)).as("hs"))
        .filter(size(col("hs")) > 0)
        .persist()
      try {
        cand
          .join(candDocs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
          .join(candDocs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
          .withColumn("inter", graft.expressions.VectorHashes
            .sorted_intersect_count(col("hs_a"), col("hs_b")))
          .withColumn("jaccard", round(col("inter") /
            (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 4))
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .localCheckpoint(eager = true)
      } finally candDocs.unpersist(false)
    } finally cand.unpersist(false)
  }

  /** Benchmark decontamination — the eval-leak check every training
    * pipeline runs beside dedup: a training doc is contaminated if it
    * shares word-3-gram shingles with the benchmark set (here the
    * doc_id < 20 slice stands in for an eval suite; production swaps in
    * the real benchmark table). Shape: the benchmark shingle set is
    * TINY and broadcast; the corpus streams past it — one scan, no
    * corpus-side shuffle before the per-doc count, so it scales as a
    * map-side join however large the training side grows. Both sides
    * shingle through the fused ShingleHashes expression (~10 µs/doc vs
    * ~4 ms/doc for the interpreted HOF twin) and join on the 8-byte
    * hash, not the shingle string — counts equal the string join modulo
    * 64-bit collisions (the same argument q28/q29's verify tier
    * already rests on), and the 8-byte key broadcasts and probes far
    * cheaper than variable-length strings. The DuckDB oracle keeps the
    * string form. Emission: every contaminated doc with its distinct
    * shared-shingle count (exact integers). */
  val decontaminate: Q = (s, d) => {
    val sh = (df: DataFrame) => df
      .select(col("doc_id"),
        explode(graft.expressions.TextHashes.shingle_hashes(col("text"), 3)).as("h"))
    val docs = t(s, d, "documents")
    val bench = sh(docs.filter(col("doc_id") < 20))
      .select(col("h")).distinct()
    sh(docs.filter(col("doc_id") >= 20))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-source contamination report (q83) — q61's detection rolled up
    * to the dataset card every training run publishes: for each corpus
    * source, how many docs share any benchmark shingle, and the rate.
    * Same scale shape as q61 (tiny broadcast bench set, corpus streams
    * past it map-side); the rollup then reduces doc-count-sized hits to
    * a ≤ #sources frame, and the totals join is tiny × tiny. */
  val contaminationReport: Q = (s, d) => {
    // the contaminated sliver IS q61's output — derived, not
    // re-implemented, so the two can never diverge on the shingle
    // width, the bench cut, or the hash convention. The sliver is
    // contamination-rate-sized (production keeps it far under the
    // broadcast budget — it's the doc set you're about to DROP), so
    // the flag join broadcasts and the rollup stays map-side.
    val contam = decontaminate(s, d).select(col("doc_id"), lit(true).as("c"))
    t(s, d, "documents").filter(col("doc_id") >= 20)
      .join(broadcast(contam), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c"), 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        // RAW quotient of two exact integers (the q143 class) — one
        // IEEE division, bit-identical in both engines; round(·,6) can
        // land on an exact half-way where the engines disagree
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contamination_rate"))
  }

  /** Decontamination with a Bloom prefilter — q75, the shape q61 grows
    * into when the benchmark suite is too large to broadcast exactly.
    * q61 broadcasts the full benchmark shingle-hash set (right at small
    * suite sizes); at a production eval registry (hundreds of benchmarks
    * × contamination windows → billions of shingles) the exact set blows
    * the broadcast budget, so the scan-side membership test becomes a
    * Bloom filter: ~1.25 bytes/item at 3% FP instead of 8-byte exact
    * hashes, built DISTRIBUTED by Spark's own BloomFilterAggregate (the
    * expression behind runtime row-level filtering) — only the finished
    * bit array (bounded by construction) reaches the driver. The
    * might_contain scan prunes the corpus side map-side to the
    * contaminated sliver plus FPs; the SAME exact hash join as q61 then
    * eliminates FPs, so the Bloom tier is semantically TRANSPARENT and
    * q75 shares q61's oracle verbatim. Deliberately no broadcast hint on
    * the final join: at scale both sides shuffle, and the Bloom filter
    * is what keeps the corpus side of that shuffle small (locally AQE
    * still picks a broadcast — fine, it is the same result). */
  def decontaminateBloom(s: SparkSession, d: String,
      estItems: Long = 1L << 16): DataFrame = {
    val docs = t(s, d, "documents")
    // materialize-then-release (the same discipline as q28/q29's
    // candidate frames): the eager localCheckpoint severs the returned
    // frame's dependency on the gate's persisted bench blocks, so the
    // gate is released in a finally instead of leaking cached blocks to
    // the caller for the session lifetime (CacheManager holds cached
    // plans strongly — a round-5 leak-by-contract, now closed; DedupSpec
    // asserts nothing stays cached after this returns). Construction
    // sits INSIDE the guarded region: the gate's constructor runs the
    // Bloom-build job after registering the persist, so a failed build
    // (task failure, corrupt input) must still release the bench frame.
    var gate: BloomGate = null
    try {
      gate = new BloomGate(docs.filter(col("doc_id") < 20), estItems)
      gate.contaminated(docs.filter(col("doc_id") >= 20), minShared = 1L)
        .localCheckpoint(eager = true)
    } finally if (gate != null) gate.release()
  }

  /** The ONE Bloom-gate construction q75 and the streaming admission
    * share — the two copies this replaces had already been flagged as a
    * sync hazard (sizing, shingle width and the FP-kill join must not
    * fork between the batch query the oracle checks and the streaming
    * gate). Lifecycle: the persisted bench frame lives until
    * [[release]]; Spark's CacheManager holds it strongly, so dropping
    * the gate (or stopping a stream that used it) does NOT free it. */
  /** Sizing: BloomFilterAggregate SILENTLY clamps its arguments to the
    * session confs `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * (default 4 M) and `...maxNumBits` (default 67 M ≈ 8 MB), so an
    * estItems above them would degrade to a HIGHER FP rate rather than
    * a bigger filter — still CORRECT (the exact join kills FPs;
    * DedupSpec's overloaded-filter case proves it at estItems = 64),
    * but a production billion-shingle gate sized that way would
    * silently pay a near-full-corpus exact join while reporting the
    * advertised ~1.25 bytes/item. The constructor therefore REJECTS a
    * sizing the session confs would clamp: the caller must raise the
    * confs alongside estItems, making the degradation impossible to
    * miss. The range require additionally rejects sizes whose numBits
    * product would overflow a Long. */
  final class BloomGate(benchDocs: DataFrame, estItems: Long = 1L << 16) {
    require(estItems > 0 && estItems <= Long.MaxValue / 8,
      s"estItems out of range: $estItems")
    locally {
      val s = benchDocs.sparkSession
      val (maxItems, maxBits) = KeyRoute.bloomClamps(s)
      require(KeyRoute.fitsBloomClamps(s, estItems),
        s"estItems=$estItems (numBits=${estItems * 8L}) would be SILENTLY " +
          s"clamped by spark.sql.optimizer.runtime.bloomFilter.maxNumItems=" +
          s"$maxItems / maxNumBits=$maxBits — raise those confs alongside " +
          "estItems to get the requested FP rate")
    }

    private def sh(df: DataFrame) = df.select(col("doc_id"), explode(
      graft.expressions.TextHashes.shingle_hashes(col("text"), 3)).as("h"))

    /** Distinct benchmark shingle hashes — persisted because it has TWO
      * consumers: the Bloom-build job materializes it, and every exact
      * FP-kill join then reads the same blocks instead of re-shingling
      * the benchmark slice. */
    val bench: DataFrame = sh(benchDocs).select(col("h")).distinct().persist()

    // the filter's bit array is 64 KB at the default sizing (2^16 items
    // × 8 bits/item = 2^19 bits). Empty benchmark set → the filter
    // admits nothing into the contamination check, so nothing is
    // contaminated. A FAILED build self-releases: the persist above
    // is already registered in CacheManager when this job runs, and the
    // caller never gets a gate to release() — without the catch, a
    // task failure here would leak the bench frame for the session.
    private val mightContain =
      try KeyRoute.mightContain(bench, "h", estItems, col("h"))
      catch { case e: Throwable => bench.unpersist(false); throw e }

    /** (doc_id, n_shared) of every doc sharing ≥ minShared DISTINCT
      * shingles with the benchmark set (ShingleHashes emits a distinct
      * set per doc, so the exploded rows carry no multiplicity): Bloom
      * map-side prune, then the exact join kills false positives —
      * semantically transparent at any FP rate. */
    def contaminated(docs: DataFrame, minShared: Long): DataFrame =
      sh(docs)
        .filter(mightContain)
        .join(bench, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)

    /** Free the persisted bench blocks. The gate must not be used after. */
    def release(): Unit = { bench.unpersist(false): Unit }
  }

  /** Token-set Jaccard similarity pairs (1-gram variant, SQL-expressible
    * oracle). Restricted to doc_id < 200 — pairwise is the verification
    * tier, not the scale path (see header). */
  val jaccardPairs: Q = (s, d) => {
    val tok = t(s, d, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", round(col("i") / (col("sa.sz") + col("sb.sz") - col("i")), 4))
      .filter(col("jaccard") >= 0.4)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Word-3-gram shingle Jaccard pairs with a full SQL oracle (DuckDB
    * builds the same shingles via list_transform/generate_series).
    * Threshold 0.5 surfaces the fixtures' engineered near-duplicates.
    * Same quadratic caveat as jaccardPairs — bounded input; q28 is the
    * scale path.
    *
    * r18: the shingle column is the fused distinct-hash set
    * (ShingleHashes — whose contract IS "Jaccard over these long sets
    * equals Jaccard over the distinct shingle-string sets (modulo
    * 64-bit hash collisions)"), replacing the interpreted shingles3 HOF
    * (CodegenFallback, the q132/q135 lesson) + array_distinct + string
    * explode: one codegen pass per doc, and the self-join/groupBy key
    * becomes 8 bytes instead of a ~25-byte string — the q61/q28/q154
    * hash-join convention (the oracle keeps joining the gram STRING).
    * The shingle value never reaches the output; only the intersection
    * and set-size counts do, which agree exactly absent a collision. */
  val shingleJaccardPairs: Q = (s, d) => {
    val sh = t(s, d, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        explode(graft.expressions.TextHashes
          .shingle_hashes(col("text"), 3)).as("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", round(col("i") / (col("sa.sz") + col("sb.sz") - col("i")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Contamination-aware train/test split audit — the leakage check a
    * training-data pipeline runs AFTER splitting: assign every doc to
    * train (90 %) or test by the same deterministic integer hash q60
    * samples with (no RNG state; re-runs and the oracle pick identical
    * splits), then join the near-dup pair set (q41's exact
    * jaccard ≥ 0.5 edges) against both sides' assignments and report
    * pair counts per (split_a, split_b) cell — the off-diagonal cells
    * ARE the train→test leakage a decontamination pass must remove.
    * Emissions are exact integers plus order-independent min/max (never
    * avg over doubles — partial-agg order would wiggle the last ULP).
    * Scale: the split is a map-side column; the join touches only the
    * pair set (dup-rate-proportional, never corpus²). */
  val splitLeakage: Q = (s, d) => {
    val p = 1000003L
    // reduce doc_id mod p BEFORE the multiply: (a·k) mod p ≡
    // ((a mod p)·k) mod p, so the assignment is identical — but the
    // raw product doc_id·2654435761 overflows int64 (ANSI throw) for
    // doc_id > ~3.47e9, while (p−1)·k ≈ 2.7e15 never can
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        when(pmod(pmod(col("doc_id"), lit(p)) * 2654435761L, lit(p)) < lit(p * 9 / 10),
          lit("train")).otherwise(lit("test")).as("split"))
    shingleJaccardPairs(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("doc_a") + col("doc_b")).as("pair_id_sum"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Near-dup cluster collapse — q62. Pair queries (q28/q29/q41/q54)
    * emit EDGES; a real dedup pipeline must collapse them into
    * connected components and keep one representative per component
    * (A~B and B~C must not keep both A and C just because the A-C edge
    * fell under threshold). Algorithm: [[collapseClusters]] over the
    * pair graph — a driver union-find below its edge threshold, star
    * contraction (Kiveris et al., "Connected Components in MapReduce")
    * above it. Scale shape: the collapse runs over the PAIR graph
    * (dup-rate-proportional), never the corpus. Output: (doc_id,
    * cluster_rep = min doc_id of the component) for every doc in at
    * least one pair; the DuckDB oracle replays it as a recursive
    * transitive closure. */
  val dedupClusters: Q = (s, d) =>
    s.read.parquet(ensureClusterLabels(s, d))

  /** Stored cluster-label layout shared by q62, q111 (survivorship) and
    * q151 (size histogram) — the centroid-model / basket-pair-count
    * convention applied to the dedup labels: all three serving views
    * are cheap cuts of the SAME closure, and a production pipeline
    * materializes labels once per corpus snapshot rather than re-paying
    * the pair generation + collapse per view. Published through
    * [[graft.sinks.Lifecycle]] (keyed by the documents fingerprint);
    * q104 keeps running star contraction live, so the driver gate
    * still exercises both collapse engines each round on a wiped /tmp.
    * Deterministic: component min-ids are input-determined, so the
    * stored read is hash-identical to a live collapse. */
  /** Code-layout version token, the layout's Lifecycle variant (the
    * __buckets geometry-pin convention): a future change to
    * collapseClusters / shingleJaccardPairs must bump this or keep
    * serving labels computed by the OLD code until /tmp is wiped — the
    * fingerprint tag only tracks the DATA. A bump's build sweeps the
    * superseded version. */
  private val LabelLayoutVersion = "v3-cc-w3s0.5-hsh"

  private def ensureClusterLabels(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), "dedup-labels",
        s"-$LabelLayoutVersion") { stage =>
      collapseClusters(
        shingleJaccardPairs(s, d).select(col("doc_a"), col("doc_b")))
        .write.mode("overwrite").parquet(stage)
    }

  /** q111: dedup survivorship — the resolution step that follows
    * clustering: every near-dup cluster keeps ONE canonical document
    * (longest text, ties to the lowest doc_id — the C4/CCNet-style
    * keep-longest policy) and the report shows what survives:
    * members, canonical, kept vs total chars. Singletons are clusters
    * of one — the corpus after dedup IS this table's canonical set,
    * so row count = post-dedup corpus size by construction.
    *
    * Scale shape: labels come from the stored layout (built once per
    * corpus snapshot by q62's collapse); the survivorship itself
    * is one left join of the corpus against the label table (both
    * hash-partitioned on doc_id) and one cluster-keyed reduce. The
    * canonical argmax is an order-independent max(struct(len, -id)) —
    * no window, no sort.
    * Oracle: q62's recursive-CTE closure + the same rollup. */
  val dedupCanonical: Q = (s, d) => {
    val labels = dedupClusters(s, d)
    t(s, d, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        col("n_chars"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid")))
          .as("best"))
      .select(col("cluster_rep"), col("n_members"),
        (-col("best.negid")).as("canonical_doc"),
        col("best.nc").as("kept_chars"),
        col("total_chars"))
  }

  /** Routes a (u, v) composite key by u alone — so
    * repartitionAndSortWithinPartitions co-locates each node's
    * neighbor run while the lexicographic sort puts the run's smallest
    * neighbor first (the streaming-group trick in
    * [[collapseClustersStarWithStats]]). */
  private final class FirstOfPairPartitioner(np: Int)
      extends org.apache.spark.Partitioner {
    private val h = new org.apache.spark.HashPartitioner(np)
    override def numPartitions: Int = np
    override def getPartition(key: Any): Int = key match {
      case (u, _) => h.getPartition(u)
    }
  }

  /** Star-contraction connected components — [[collapseClusters]]'
    * engine above its edge threshold, and q104's directly: Kiveris et
    * al., "Connected Components in MapReduce and Beyond" (SoCC'14).
    * Alternating large-star / small-star contractions converge in
    * O(log² n) rounds — LOGARITHMIC in diameter (each large/small-star
    * pair roughly halves it; measured 7 rounds on a 60-chain, 11 on a
    * 600-chain), where label propagation is linear — whatever the
    * component size (boilerplate mega-clusters, sprawling chains).
    * Same contract as [[collapseClusters]]: in (doc_a, doc_b) pairs,
    * out (doc_id, cluster_rep = component min) — INCLUDING a node
    * whose only appearance is a self-pair (a, a), which the union-find
    * labels as a singleton and this engine therefore must too (the
    * contraction drops self-loops, so those ids are unioned back as
    * singleton labels at the end); DedupSpec pins exact equality with
    * a plain BFS on the fixture pair graph AND on a self-pair-bearing
    * graph, on a 100k-leaf star, and on a 60-chain.
    *
    * Plain RDD primitives on purpose: each round is two streaming
    * sort-shuffles over a persisted edge set, which Catalyst would
    * only re-plan and re-shuffle per round.
    *
    *  - large-star(u): over the SYMMETRIC neighborhood Γ(u), connect
    *    every strictly-larger neighbor to m = min(Γ(u) ∪ u);
    *  - small-star(u): over the larger→smaller directed neighborhood,
    *    connect every neighbor and u itself to the group min.
    *
    * Both steps are one sort-shuffle over the current edge set with
    * STREAMING run processing (O(1) state per node — a mega-hub's
    * neighborhood never materializes) + a distinct; shuffle volume is
    * bounded by the LIVE edge count, which star-contracts toward one
    * edge per non-root node. Convergence =
    * edge-set fixpoint, detected by (count, order-independent
    * hash-sum) equality — one tiny aggregate action per round over
    * the freshly persisted set; a hash collision masking a real
    * change needs two multisets agreeing on count AND a 64-bit mixed
    * sum, vanishingly unlikely and bounded by maxRounds anyway. */
  def collapseClustersStarWithStats(pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val np = math.max(sc.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val part = new org.apache.spark.HashPartitioner(np)

    def mix(a: Long, b: Long): Long = {
      // splitmix64-style avalanche over the canonical (min,max) pair so
      // the per-edge terms of the hash-SUM are individually scrambled
      var x = a * 0x9e3779b97f4a7c15L + b
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    // Both steps need, per node u, the min over its (sorted-ascending)
    // neighbor run plus a pass over the run — done STREAMING over a
    // sort-shuffled partition: keys are (u, v) pairs partitioned by u
    // alone and sorted lexicographically, so a run's smallest v arrives
    // first and per-group state is O(1). No groupByKey: a boilerplate
    // mega-hub's neighborhood streams through instead of materializing
    // an O(degree) buffer.
    val keyPart = new FirstOfPairPartitioner(np)

    def largeStar(edges: RDD[(Long, Long)]): RDD[(Long, Long)] =
      edges.flatMap { case (u, v) => Iterator(((u, v), ()), ((v, u), ())) }
        .repartitionAndSortWithinPartitions(keyPart)
        .mapPartitions { it =>
          // connect every strictly-larger neighbor to m = min(Γ(u) ∪ u)
          var cu = 0L; var m = 0L; var prev = Long.MinValue
          var started = false
          it.flatMap { case ((u, v), _) =>
            if (!started || u != cu) {
              started = true; cu = u; m = math.min(u, v); prev = Long.MinValue
            }
            val emit = v > u && v != prev
            prev = v
            if (emit) Iterator((v, m)) else Iterator.empty
          }
        }
        .distinct(np)

    def smallStar(edges: RDD[(Long, Long)]): RDD[(Long, Long)] =
      edges.map { case (u, v) => (if (u >= v) (u, v) else (v, u), ()) }
        .repartitionAndSortWithinPartitions(keyPart)
        .mapPartitions { it =>
          // all neighbors ≤ u here; connect them and u to the run min
          var cu = 0L; var m = 0L; var prev = Long.MinValue
          var started = false
          it.flatMap { case ((u, v), _) =>
            val runStart = !started || u != cu
            if (runStart) {
              started = true; cu = u; m = v; prev = Long.MinValue
            }
            val dup = v == prev
            prev = v
            if (runStart) Iterator((u, m)) // v == m at run start
            else if (!dup && v != m) Iterator((v, m))
            else Iterator.empty
          }
        }
        .distinct(np)

    def stats(edges: RDD[(Long, Long)]): (Long, Long) =
      edges.mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { case (a, b) =>
          n += 1; h += mix(math.min(a, b), math.max(a, b))
        }
        Iterator((n, h))
      }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

    // Self-pairs (a, a) carry no connectivity but DO assert membership:
    // the union-find labels a node that appears only as a self-pair
    // (a, a), so the shared contract requires the star output to keep
    // it too. The contraction itself must not see self-loops
    // (large-star would erase them and the node would vanish) — split
    // them out here and union the ids back as singleton labels at the
    // end (reduceByKey min keeps the real component label when the
    // node also has proper edges).
    val raw = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val selfNodes = raw.filter { case (a, b) => a == b }.keys
    var cur = raw
      .filter { case (a, b) => a != b }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curStats = stats(cur)
    var iter = 0
    var converged = false
    while (!converged && iter < maxRounds) {
      val next = smallStar(largeStar(cur)).persist(StorageLevel.MEMORY_AND_DISK)
      val nextStats = stats(next) // the round's one materializing action
      converged = nextStats == curStats
      cur.unpersist(blocking = false)
      cur = next
      curStats = nextStats
      iter += 1
    }
    if (!converged) {
      raw.unpersist(blocking = false)
      cur.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"star contraction did not converge in $iter rounds " +
          "— not expected for any graph (O(log² n) bound); please report")
    }
    // fixpoint = a forest of depth-1 stars, every non-root pointing at
    // its component min; roots point at themselves. Self-pair-only
    // nodes re-enter as singletons here (see the split above).
    val labels = (cur
      .flatMap { case (w, m) => Iterator((w, m), (m, m)) } ++
      selfNodes.map(id => (id, id)))
      .reduceByKey(part, math.min(_: Long, _: Long))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize before dropping the inputs: selfNodes reads `raw`,
    // whose recompute would otherwise re-run the caller's whole pair
    // plan the first time the returned frame is acted on
    labels.count()
    raw.unpersist(blocking = false)
    cur.unpersist(blocking = false)
    (labels.toDF("doc_id", "cluster_rep"), iter)
  }

  /** Connected components of a pair graph — the ONE collapse every
    * clustering caller runs (q62's stored labels, q106, the incremental
    * contraction step, LabelSink's retraction, q117's semantic dedup).
    * Near-dup pair graphs are SMALL relative to the corpus (pairs ≈ dup
    * docs, not docs²), so one count of the persisted 2-long-column pair
    * frame routes to
    *  - a DRIVER union-find when edges ≤ `localEdgeThreshold` — the
    *    collect is bounded by the threshold (16 bytes/edge ⇒ ≤ ~16 MB
    *    at the 1M default), labels are exact component min-ids in one
    *    pass, and ZERO distributed rounds run. Any distributed engine
    *    pays 10-50 scheduling-bound micro-stages on a driver-scale
    *    graph (measured: 25 label-propagation rounds / 2.5 s, 6+6 star
    *    shuffles / 2 s, for 1169 edges at sf0.1) — latency the size of
    *    the data can never justify;
    *  - star contraction ([[collapseClustersStarWithStats]]) above the
    *    threshold: O(log² n) rounds whatever the diameter or component
    *    size, so sprawling chains and mega-hubs need no guard.
    * Contract: min-id reps, self-pairs label their node, nodes absent
    * from pairs are absent from labels. PipelineOpsSpec pins both
    * routes against a plain BFS on random multigraphs. */
  def collapseClusters(pairs: DataFrame,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val p = pairs
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (p.count() <= localEdgeThreshold) {
        import spark.implicits._
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.get(x) != x) {
            val g = parent.get(parent.get(x))
            parent.put(x, g); x = g
          }
          x
        }
        p.as[(Long, Long)].collect().foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN id — the rep contract every engine shares
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        // snapshot the key set before the final find() sweep: path
        // compression puts EXISTING keys (value replacement, legal
        // mid-forEach) but iterating a snapshot removes any reliance
        // on that HashMap contract subtlety
        val keys = parent.keySet().toArray(Array.empty[java.lang.Long])
        val labels = keys.toSeq.map(n => (n.longValue, find(n.longValue)))
        labels.toDF("doc_id", "cluster_rep")
      } else collapseClustersStarWithStats(p)._1
    } finally p.unpersist(blocking = false)
  }

  /** q104: q62's transitive closure through star contraction alone —
    * the same recursive-CTE oracle must hash-match its output exactly,
    * proving [[collapseClusters]]' above-threshold engine is a drop-in
    * for the union-find the fixtures route to. */
  val dedupClustersStar: Q = (s, d) =>
    collapseClustersStarWithStats(
      shingleJaccardPairs(s, d).select(col("doc_a"), col("doc_b")))._1

  /** ---- Incremental LSH index (the 100 TB ingestion shape) ----
    *
    * Instead of re-self-joining the whole corpus per run (minhashLsh,
    * fine for a one-shot audit), persist a band index once and probe it
    * with each new batch: cost per batch = O(batch × matching buckets).
    * Layout: the index is partitionBy("bmod") where bmod =
    * pmod(bhash, lshIndexBuckets) — the selective key folded to a
    * bounded directory count. A probe enumerates its own bmod set on
    * the driver (≤ 8 × batch values) and lists ONLY those directories
    * ([[graft.sinks.SegmentIndex]]), and the micro-batch probe side is
    * broadcast — the index is never shuffled NOR fully scanned. At
    * larger index:batch ratios raise lshIndexBuckets so a batch's bucket
    * set stays a small fraction of the directories. LshIndexSpec pins
    * both plan properties. */

  /** (doc_id, band struct, hs) rows for a doc batch — one fused pass.
    * hs is SORTED here, once per doc: every consumer (index docs table,
    * probe, in-batch dedup) intersects via the linear-merge
    * SortedIntersectCount instead of array_intersect's per-pair hash
    * set. */
  private def indexRows(docs: DataFrame): DataFrame = {
    // one fused tokenization for BOTH ingest artifacts (signature +
    // sorted hash set) — was two expressions = two splits + two shingle
    // sweeps per doc; bit-equivalence DedupSpec-pinned
    val sig = docs.select(col("doc_id"),
      graft.expressions.TextHashes.sig_sorted_shingles(col("text"), 32, 3).as("sh"))
      .select(col("doc_id"), col("sh.sig").as("sig"), col("sh.hs").as("hs"))
      .filter(size(col("sig")) > 0)
    sig.select(col("doc_id"), col("hs"),
        explode(lshBands(col("sig"), 32, 4)).as("b"))
      .select(col("doc_id"), col("hs"), col("b.band").as("band"),
        col("b.bhash").as("bhash"))
  }

  /** Directory fan-out of the bands table: bmod = pmod(bhash, this).
    * 64 suits the test scale; at 100 TB, size it so a micro-batch's
    * distinct bucket set stays ≪ the directory count. */
  val lshIndexBuckets = 64

  /** The persistent index, a [[graft.sinks.BandedIndex]]: `bands` holds
    * (doc_id, band, bhash) — ~24 B/row instead of dragging each doc's
    * shingle-hash array through all 8 of its band rows — and `docs` holds
    * (doc_id, hs) once per doc, verified by shingle Jaccard rounded to 4
    * digits (minhashLsh's rounding). */
  private[graft] val lshIndex = graft.sinks.BandedIndex(
    graft.sinks.SegmentIndex("bands", "doc_id", Seq("doc_id", "band", "bhash"),
      part = Some("bmod"), hashOf = Some(col("bhash") -> lshIndexBuckets)),
    graft.sinks.SegmentIndex("docs", "doc_id", Seq("doc_id", "hs"),
      latestBy = Some("ingest")),
    indexRows, "new_doc", "jaccard", (a, b) => {
      val inter = graft.expressions.VectorHashes.sorted_intersect_count(a, b)
      round(inter / (size(a) + size(b) - inter), 4)
    })

  /** Streaming decontamination admission — q75's Bloom+exact gate
    * applied per micro-batch: an incoming doc is dropped when it shares
    * ≥ minShared distinct word-3-gram shingles with the benchmark set.
    * The benchmark suite is STATIC for a training run, so the shared
    * [[BloomGate]] is built ONCE at writer construction and reused by
    * every batch (a suite change is a new writer); per batch the cost
    * is the batch's own scan. Admitted docs write keyed by batchId in
    * overwrite mode — an at-least-once foreachBatch retry replaces its
    * own output, the same idempotence contract as
    * `lshIndex.writer`. The writer IS a `(DataFrame, Long) =>
    * Unit` for foreachBatch; call [[StreamingDecontamination.release]]
    * after stopping the stream — the gate's persisted bench frame does
    * NOT free itself when the query stops. */
  def streamingDecontaminationWriter(benchDocs: DataFrame, outDir: String,
      minShared: Long = 1L,
      estItems: Long = 1L << 16): StreamingDecontamination =
    new StreamingDecontamination(benchDocs, outDir, minShared, estItems)

  final class StreamingDecontamination private[DedupOps] (
      benchDocs: DataFrame, outDir: String, minShared: Long, estItems: Long)
      extends ((DataFrame, Long) => Unit) {
    private val gate = new BloomGate(benchDocs, estItems)
    override def apply(batch: DataFrame, batchId: Long): Unit = {
      val dropped = gate.contaminated(batch, minShared).select(col("doc_id"))
      batch.join(dropped, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$outDir/admitted/ingest=$batchId")
    }
    /** Free the gate's persisted bench blocks once the stream is done. */
    def release(): Unit = gate.release()
  }

  /** q106: the q62 closure computed LIVE through [[collapseClusters]]
    * (q62 serves the stored labels) — the fixture graph takes the
    * union-find route; the same recursive-CTE oracle must hash-match
    * it. */
  val dedupClustersAuto: Q = (s, d) =>
    collapseClusters(
      shingleJaccardPairs(s, d).select(col("doc_a"), col("doc_b")))

  /** Incremental connected components over ANY stepped edge list
    * `(doc_a, doc_b, step)` — the graph-maintenance twin of the index
    * ingest lifecycles (q105/q107 keep INDEXES current across cuts;
    * this keeps the dedup LABELS current, so a daily ingest never
    * re-runs global clustering over the whole corpus). Per step:
    * CONTRACT each new edge's endpoints to their current labels
    * (already-connected structure collapses to one node per cluster),
    * run [[collapseClusters]] on that contracted graph — new edges plus
    * one node per touched cluster, NEVER the accumulated graph — and
    * propagate relabelings back with one label-table join.
    *
    * Labels are component MIN ids, so contraction is exact: the min
    * over merged old clusters ∪ new docs equals the min over all
    * their members, hence after every step the table equals the batch
    * answer over all edges seen so far — the invariant the spec pins
    * mid-lifecycle and the driver oracle pins at the end (same
    * recursive-CTE closure as q62: the lifecycle is the thing under
    * test, not new semantics).
    *
    * Scale shape: step cost = new edges (contract join + collapse of
    * the contracted graph) + one join over the label table
    * (dup-doc-sized, far below corpus-sized; keep it bucketed by
    * cluster_rep in a production deployment and the relabel join is
    * co-partitioned). The batch alternative re-pays the FULL
    * accumulated pair graph every ingest. */
  def incrementalClusters(steppedPairs0: DataFrame): DataFrame = {
    val spark = steppedPairs0.sparkSession
    import spark.implicits._
    // the step loop reads the pair frame once per step plus once for
    // the step listing — without a persist that re-runs the (expensive)
    // pair GENERATION each time; in production each step's edges arrive
    // materialized from the index probes anyway
    import org.apache.spark.storage.StorageLevel
    val steppedPairs = steppedPairs0.persist(StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = None
    try {
      // the listing and the per-step filter use the SAME raw column —
      // a cast('long') listing would silently exclude any edge whose
      // step is non-integral (100.25 collapses to k=100, which the raw
      // filter never matches), losing clusters with no error
      val steps = steppedPairs.select(col("step")).distinct()
        .orderBy(col("step")).collect().map(_.get(0))
      require(!steps.contains(null), "step column must be non-null")
      var labels = emptyLabels(spark)
      for (k <- steps) {
        val e = steppedPairs.filter(col("step") === lit(k))
          .select(col("doc_a"), col("doc_b"))
        val (plan, release) = contractionStep(labels, e)
        // materialize the new table, then free the superseded one — live
        // label copies stay at 2 whatever the step count (a
        // checkpoint-per-step would pin O(steps) copies until GC)
        val next = plan.persist(StorageLevel.MEMORY_AND_DISK)
        next.count(): Unit
        release()
        prev.foreach(_.unpersist(false))
        prev = Some(next)
        labels = next
      }
      labels
    } catch {
      case t: Throwable =>
        // a failure mid-loop must not pin the in-flight label table either
        prev.foreach(_.unpersist(false))
        throw t
    } finally
      // nor, on any exit, the quadratic pair frame for the JVM lifetime
      steppedPairs.unpersist(false): Unit
    // on success the RETURNED table stays persisted (it is the result);
    // superseded steps were freed inside the loop
  }

  private[graft] def emptyLabels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "cluster_rep")
  }

  /** ONE contraction update: `labels` advanced by the edge batch `e` —
    * the step body shared by [[incrementalClusters]] and the live
    * [[graft.sinks.LabelSink]]. Returns the (lazy) next-table plan and
    * a release callback the caller MUST invoke after materializing it
    * (the internal candidate frame is persisted because the plan reads
    * it three times). */
  private[graft] def contractionStep(labels: DataFrame,
      e: DataFrame): (DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    val la = labels.select(col("doc_id").as("doc_a"), col("cluster_rep").as("ra"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("cluster_rep").as("rb"))
    // keep the pre-coalesce nullness: an endpoint with a NULL label is
    // FIRST-SEEN this batch — that batch-sized set replaces what would
    // be a label-table-sized anti-join below
    val tagged = e
      .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("a"),
        coalesce(col("rb"), col("doc_b")).as("b"),
        col("ra").isNull.as("na"), col("rb").isNull.as("nb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val newNodes = tagged.filter(col("na")).select(col("a").as("doc_id"))
        .unionByName(tagged.filter(col("nb")).select(col("b").as("doc_id")))
        .distinct()
      // an edge that CONTRACTS to a self-loop carries no structure for
      // the loop; a first-seen node whose only edge was reflexive is
      // still in newNodes, so the singleton the batch answer emits
      // survives via the coalesce in `fresh`
      val contracted = tagged.filter(col("a") =!= col("b"))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
      // delta's nodes are current labels and first-seen doc ids; NOTE
      // the collapse runs EAGERLY here — the catch below keeps a
      // failure from pinning `tagged`. The contracted graph is
      // batch-sized (new edges + one node per touched cluster, never
      // the corpus), so on a normal ingest the driver union-find
      // answers in one collect — a distributed loop pays 10+
      // scheduling-bound micro-jobs PER STEP on a graph that fits in
      // one task, and in a long-lived shared JVM those driver
      // round-trips are exactly what GC/scheduler pressure inflates
      // (the r12 bench saw per-iteration growth from this). Past the
      // 1M-edge threshold the step goes to star contraction.
      val delta = collapseClusters(contracted)
      val fresh = newNodes.join(delta, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      // only rep CHANGES rewrite old rows — in steady state a
      // touched-clusters-sized map (AQE broadcasts it over the label
      // table), not a rep-map carrying every referenced cluster; new-doc
      // delta rows can never match an old row's rep (reps are old min
      // ids) so they ride along harmlessly
      val changes = delta.filter(col("cluster_rep") =!= col("doc_id"))
        .select(col("doc_id").as("cluster_rep"),
          col("cluster_rep").as("new_rep"))
      val relabeled = labels.join(changes, Seq("cluster_rep"), "left")
        .select(col("doc_id"),
          coalesce(col("new_rep"), col("cluster_rep")).as("cluster_rep"))
      (relabeled.unionByName(fresh), () => tagged.unpersist(false): Unit)
    } catch {
      case t: Throwable => tagged.unpersist(false); throw t
    }
  }

  /** q115: the dedup-cluster table through a three-cut ingest
    * lifecycle — edges arrive when their LATER endpoint does
    * (step = max over the endpoints of pmod(doc_id, 3), the lifecycle
    * three-cut), labels are maintained incrementally, and the final
    * table must hash-equal q62's batch answer under the shared
    * closure oracle. The pair SET is q41's (pair generation is the
    * index probes' job — q46/`lshIndex.writer` produce exactly
    * these edges in production; replaying their arrival is what
    * exercises the graph maintenance).
    *
    * r18: served from a STORED layout (the q62/q116 convention — the
    * r17 verdict's item 4): the three-step maintenance is an ingest
    * lifecycle, not a per-read computation, so it runs ONCE per fixture
    * inside the ensure-gated build below (the driver gate still
    * exercises the incremental engine each round on a wiped /tmp) and
    * the query serves the resulting label table. Identical rows by
    * construction — incrementalClusters is input-determined and the
    * stage-then-rename publish never serves a torn build. */
  val dedupIncremental: Q = (s, d) =>
    s.read.parquet(ensureIncrementalLabels(s, d))

  /** Code-version token for the stored incremental-label layout (the
    * LabelLayoutVersion contract): a change to incrementalClusters,
    * the step derivation, or shingleJaccardPairs must bump this. */
  private val IncLabelLayoutVersion = "v1-inc3-hsh"

  private def ensureIncrementalLabels(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), "dedup-inclabels",
        s"-$IncLabelLayoutVersion") { stage =>
      val labels = incrementalClusters(shingleJaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b"),
          greatest(pmod(col("doc_a"), lit(3)), pmod(col("doc_b"), lit(3)))
            .as("step")))
      // incrementalClusters returns its final table persisted — free
      // the blocks once written (the store is the serving copy)
      try labels.write.mode("overwrite").parquet(stage)
      finally labels.unpersist(false): Unit
    }

  /** q116: the LIVE label table ≡ q115 through the version-chain sink
    * ([[graft.sinks.LabelSink]]) over the standard three-cut lifecycle —
    * compaction between cuts 1 and 2, and the tail batch REPLAYED so
    * the driver gate also certifies the at-least-once idempotence
    * (same oracle as q62/q115 on purpose: the lifecycle is the thing
    * under test, not new semantics — the q105/q112/q113 pattern). */
  private def ensureLabelLifecycle(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), "labelstream") {
      loc =>
        val pairs = labelCutPairs(s, d)
        try {
          def cut(k: Long) = pairs.filter(col("step") === k)
            .select(col("doc_a"), col("doc_b"))
          graft.sinks.LabelSink.writer(loc)(cut(0), 0L)
          graft.sinks.LabelSink.writer(loc)(cut(1), 1L)
          graft.sinks.LabelSink.compact(s, loc)
          graft.sinks.LabelSink.writer(loc)(cut(2), 2L)
          // at-least-once: replay the tail batch; the head must stay
          // identical (it recomputes from the same predecessor)
          graft.sinks.LabelSink.writer(loc)(cut(2), 2L)
        } finally pairs.unpersist(false): Unit
    }

  /** The q41 pair set tagged with its three-cut `step` (an edge lands
    * in the later of its endpoints' doc_id pmod 3 cuts), persisted for
    * the label lifecycles' several cut passes — the caller unpersists. */
  private def labelCutPairs(s: SparkSession, d: String): DataFrame =
    shingleJaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"),
        greatest(pmod(col("doc_a"), lit(3)), pmod(col("doc_b"), lit(3)))
          .as("step"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  val dedupLabelsStream: Q = (s, d) =>
    graft.sinks.LabelSink.read(s, ensureLabelLifecycle(s, d))

  /** q171: RETRACTION through the label version chain — the one store
    * whose delete is not a row drop: removing a NODE can split its
    * cluster (cut vertex) or retitle it (the min-id rep died), which
    * no contraction step expresses — [[graft.sinks.LabelSink.retract]]
    * recomputes exactly the retracted docs' clusters from the sink's
    * stored edge provenance and splices. Lifecycle (the q167 mod
    * pattern over the pair universe doc_id < 500): three edge cuts
    * with a mid-chain compact, retract docs ≡ 3 (mod 10), re-ingest
    * the ≡ 3 (mod 20) half — their surviving pairs re-emitted against
    * LIVE partners only (the probe never pairs a dead doc; the edge
    * store's liveness rule trusts that admission contract) — compact
    * again (the edge fold applies + keeps tombstones), then a final
    * live-tail retraction of the ≡ 3 (mod 40) quarter. Hash-gated
    * against the SAME recursive-closure oracle as q62/q115/q116,
    * restricted to the post-retraction corpus — splits, rep changes
    * and vanished singletons all have to come out exactly. */
  val dedupRetract: Q = (s, d) =>
    graft.sinks.LabelSink.read(s, ensureLabelRetractLifecycle(s, d))

  private def ensureLabelRetractLifecycle(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), "labelretract") {
      stage =>
        val pairs = labelCutPairs(s, d)
        try {
          def cut(k: Long) = pairs.filter(col("step") === k)
            .select(col("doc_a"), col("doc_b"))
          val universe = t(s, d, "documents")
            .filter(col("doc_id") < 500).select(col("doc_id"))
          graft.sinks.LabelSink.writer(stage)(cut(0), 0L)
          graft.sinks.LabelSink.writer(stage)(cut(1), 1L)
          graft.sinks.LabelSink.writer(stage)(cut(2), 2L)
          // after three edge segments, so the edge-store fold is real
          // (two-then-compact folds nothing — the max id stays out)
          graft.sinks.LabelSink.compact(s, stage)
          val (retract1, _, retract2) =
            graft.sinks.Lifecycle.halvingMasks(col("doc_id"))
          graft.sinks.LabelSink.retract(stage)(universe.filter(retract1), 3L)
          // resurrection: the ≡ 3 (mod 20) half re-ingests — its pairs
          // re-emitted iff BOTH endpoints are live at this point
          // (dead-at-4 ⇔ ≡ 13 (mod 20): retracted and not resurrected)
          def masks(e: String) = graft.sinks.Lifecycle.halvingMasks(col(e))
          val ((r1a, resA, _), (r1b, resB, _)) = (masks("doc_a"), masks("doc_b"))
          graft.sinks.LabelSink.writer(stage)(
            pairs.filter((resA || resB) && !(r1a && !resA) && !(r1b && !resB))
              .select(col("doc_a"), col("doc_b")), 4L)
          graft.sinks.LabelSink.compact(s, stage)
          graft.sinks.LabelSink.retract(stage)(universe.filter(retract2), 5L)
        } finally pairs.unpersist(false): Unit
    }

  /** q151: dup-cluster size histogram — the audit view a dedup run is
    * judged by ("how much of the corpus is 2-way dups vs 1000-doc
    * boilerplate blobs"): cluster sizes from the q62 closure, then the
    * size histogram. Both rollups are grid-sized reduces over the
    * labels frame; the closure itself is q62's stored collapse,
    * so the histogram rides the same oracle CTE extended by two GROUP
    * BYs. A mega-cluster (a boilerplate blob) shows up here as one
    * fat-size row. */
  val clusterSizeHistogram: Q = (s, d) =>
    dedupClusters(s, d)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** q154: exact-substring duplicated SPANS — the ninth dedup family,
    * the span-level stage of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", ExactSubstr) beside the
    * doc-level families (q23 exact, q28 MinHash, q29 SimHash, q41
    * Jaccard, q51/q54 embedding, q117 semantic, q81 chunk): a token
    * position is duplicated when the word L-gram starting there occurs
    * ≥ 2 times ANYWHERE in the corpus (other docs or elsewhere in the
    * same doc), and per doc the duplicated starts merge into maximal
    * covered spans (gaps-and-islands: consecutive starts ≤ L apart
    * cover contiguous tokens). Lee et al. build a corpus suffix array
    * because they want variable-length witnesses; at a FIXED witness
    * length the suffix array collapses to L-gram counting, which
    * Spark-shapes into two linear passes — no suffix array, no doc
    * pairing, no quadratic tier anywhere:
    *   scan 1: fused positional shingle hashes (ShingleHashesPos, the
    *     one-pass twin of the xxhash64∘concat_ws∘slice HOF) →
    *     groupBy(hash) count with map-side partial agg — a boilerplate
    *     gram occurring 10⁶ times collapses in the combiner, so hot
    *     grams cost one long per map partition, never a fat group;
    *   scan 2: the same positional grams shuffle-join the duplicated
    *     hash set on the 8-byte key (both sides hash-partitioned on it;
    *     the dup set is far past broadcast size at corpus scale), then
    *     one doc-partitioned window merges starts into islands.
    * Output (doc_id, span_start, span_end, n_grams) is exact integers,
    * 1-based token indices, span_end inclusive (= last start + L − 1).
    * The corpus is scanned twice rather than caching the position
    * frame (tokens × 16 B — corpus-sized; the overCapBaskets
    * convention: re-scanning pruned columns beats pinning a
    * corpus-sized frame in executor storage). Spark groups/joins on
    * the xxhash64 shingle hash while the oracle joins the gram STRING —
    * equal modulo 64-bit collisions, the q61/q28 argument. */
  def substringSpansOver(docs: DataFrame, L: Int): DataFrame = {
    val grams = gramPositions(docs, L)
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("h"))
    islandSpans(grams.join(dupHashes, "h"), L)
  }

  /** (doc_id, pos, h) of every word L-gram start — scan 1 and scan 2's
    * shared shape. */
  private[graft] def gramPositions(docs: DataFrame, L: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(graft.expressions.TextHashes
        .shingle_hashes_pos(col("text"), L)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))

  /** Duplicated gram starts → maximal covered spans (gaps-and-islands
    * over one doc-partitioned window). */
  private[graft] def islandSpans(dupPos: DataFrame, L: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + L, 1L)
          .otherwise(when(lag(col("pos"), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (L - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Scan 1's duplicated-hash set — shared by the plain and routed span
    * forms. */
  private def dupHashesOf(grams: DataFrame): DataFrame =
    grams.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("h"))

  /** The Bloom-pruned scan 2 + island merge, given a pre-counted dup
    * set that fits the clamps (caller checks): the dup set builds the
    * filter, scan 2 prunes map-side BEFORE its shuffle, so the join
    * exchange carries ~dup rows + FPs instead of the corpus's every
    * gram, and the exact join downstream kills FPs. Lazy — the caller
    * owns materialization and the dup frame's lifecycle. */
  private def bloomPrunedSpans(grams: DataFrame, dup: DataFrame,
      nDup: Long, L: Int): DataFrame =
    islandSpans(grams.filter(KeyRoute.mightContain(dup, "h",
      KeyRoute.bloomItems(nDup), col("h"))).join(dup, "h"), L)

  /** q159: the span scan through the AUTO router — the
    * [[collapseClusters]] route-on-one-count convention applied to
    * q154's plain-vs-Bloom sizing judgment, which
    * was previously the caller's to make (the clamp `require` refused
    * loudly but a pipeline operator should CHOOSE). Scan 1's dup-hash
    * count is already in hand — the plain form computes it as its join
    * input, the Bloom form counts it to size the filter — so the route
    * costs nothing extra: below the Bloom sizing clamps (a low-dup-rate
    * corpus, the prefilter's home regime, 1.5-2.2× measured at 2.3%
    * dup) scan 2 prunes map-side through the filter; at or past them
    * (a boilerplate-heavy corpus — the dup set is corpus-scale and the
    * filter would saturate toward admit-everything) the plain two-pass
    * shuffle join is the floor and the Bloom build would be pure waste.
    * Both roads produce identical spans (the FP-killing exact join —
    * spec-pinned), so the router's contract is an ANSWER; returns
    * (spans, route ∈ {plain, bloom}) for telemetry, route decision
    * spec-pinned on engineered corpora on both sides of the clamp.
    *
    * Materialization: only the SPARSE dup-hash set is checkpointed
    * (scan 1's output — dup-vocabulary-sized, the provenance
    * convention at [[spanProvenanceFromGrams]]); the routed span frame
    * returns LAZY, so the serving path pays one corpus scan when the
    * caller consumes it and never writes a corpus-proportional frame
    * to local disk. The earlier form persisted the dup set and then
    * eagerly localCheckpointed the ENTIRE routed result just to make
    * `dup.unpersist` in a `finally` safe — a double materialization
    * (and a local-disk write) inside the timed serving path that made
    * q159 uniquely hostage to disk contention (the r14 `weak`).
    * ContextCleaner frees the dup checkpoint blocks when the returned
    * frame dies. */
  def substringSpansAutoWithStats(docs: DataFrame, L: Int): (DataFrame, String) = {
    val grams = gramPositions(docs, L)
    val dup = dupHashesOf(grams).localCheckpoint()
    val nDup = dup.count()
    // nDup == 0 short-circuits to plain: nothing to prune, and the
    // empty join is free either way
    if (nDup > 0 &&
        KeyRoute.fitsBloomClamps(docs.sparkSession, KeyRoute.bloomItems(nDup)))
      (bloomPrunedSpans(grams, dup, nDup, L), "bloom")
    else
      (islandSpans(grams.join(dup, "h"), L), "plain")
  }

  /** q154 at the suite's shingle convention: word 8-grams — long enough
    * that the fixtures' independent docs share none by chance, short
    * enough that engineered near-dup slices light up. */
  val substringSpans: Q = (s, d) =>
    substringSpansOver(t(s, d, "documents"), 8)

  /** q155: the REMOVAL action q154's spans exist for — Lee et al.'s
    * ExactSubstr cut: every token covered by a duplicated span is
    * dropped from every occurrence (their stated semantics; "removes
    * one more copy than necessary", which they measure as immaterial).
    * Shape: q154's spans collapse to ≤ spans-per-doc lists (doc-sized
    * groups), LEFT-join the corpus on doc_id — span-less docs pass
    * through untouched with zero token work — and one codegen'd HOF
    * chain (filter indices by span membership → element_at → join)
    * rebuilds the kept text. No extra shuffle beyond q154's: the span
    * list is spans-sized (≪ corpus), the join is doc-keyed. Output is
    * the cleaned text itself plus the removed-token count — exact
    * strings/integers, hash-comparable. */
  def substringRemoveOver(docs: DataFrame, L: Int): DataFrame =
    removalFromSpans(docs, substringSpansOver(docs, L))

  /** The cut applied to an ALREADY-COMPUTED span frame (q154's output
    * shape) — q155 feeds it the live two-scan spans; the q160
    * index-backed twin feeds it SubstrIndexSink.spans, so the only
    * corpus touch left is the doc-keyed join that rebuilds the kept
    * text (unavoidable: the index stores positions, not text — and
    * SHOULD: storing text would dup-size the corpus into /tmp). */
  private[graft] def removalFromSpans(docs: DataFrame,
      spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = split(col("text"), " ")
    val keptIdx = filter(sequence(lit(1L), size(toks).cast("long")),
      i => !exists(col("spans"),
        sp => i >= sp.getField("span_start") && i <= sp.getField("span_end")))
    val kept = transform(keptIdx, i => element_at(toks, i.cast("int")))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text"))
          .otherwise(array_join(kept, " ")).as("clean_text"),
        when(col("spans").isNull, lit(0L))
          .otherwise(size(toks).cast("long") - size(kept).cast("long"))
          .as("n_removed"))
  }

  val substringRemove: Q = (s, d) =>
    substringRemoveOver(t(s, d, "documents"), 8)

  /** q157: span PROVENANCE — the "duplicated with WHOM" audit view a
    * dedup report pairs with q154's spans: for every span, a concrete
    * counterpart (the lowest doc_id holding another occurrence of the
    * span's first gram — the same doc when the duplication is internal
    * repetition) and that gram's corpus occurrence count. A span's
    * first gram is duplicated by definition, so a partner always
    * exists. Scale shape: per-(gram, doc) counts collapse map-side,
    * the per-gram stats are gram-vocabulary-sized, and the span frame
    * (sparse) joins them by hash; no collect_list of a hot gram's
    * doc set anywhere — the second-lowest doc comes from one more
    * bounded aggregate, not a per-gram list. */
  def spanProvenanceOver(docs: DataFrame, L: Int): DataFrame =
    spanProvenanceFromGrams(gramPositions(docs, L), L)

  /** The provenance shape over an ALREADY-MATERIALIZED positional gram
    * frame (doc_id, pos, h) — q157 feeds it the live two-scan grams;
    * the q161 index-backed twin feeds it the SubstrIndexSink position
    * store, whose rows are exactly this frame accumulated batch by
    * batch (so provenance never re-tokenizes the corpus). */
  /** The per-gram provenance stats pass ALONE (pre-checkpoint) — split
    * out so PlanAuditSpec can pin its shape: one span_stats aggregate
    * keyed h, partial-combined map-side, no per-(gram, doc)
    * pre-exchange anywhere upstream. */
  private[graft] def spanStatsOf(grams: DataFrame): DataFrame =
    grams.groupBy(col("h"))
      .agg(graft.expressions.SpanStatsAgg.span_stats(col("doc_id")).as("st"))
      .filter(col("st.n_occ") >= 2)
      .select(col("h"), col("st.n_occ").as("n_occ"),
        col("st.min1").as("min1"), col("st.c_min1").as("c_min1"),
        col("st.min2").as("min2"))

  private[graft] def spanProvenanceFromGrams(grams: DataFrame, L: Int): DataFrame = {
    // ONE bounded aggregate over the raw gram rows feeds everything
    // downstream: the fused SpanStatsAgg state (32 B per gram however
    // hot) carries n_occ, the lowest doc, its count AND the
    // second-lowest distinct doc, so the duplicated set (n_occ ≥ 2) and
    // the partner rule both read it. The earlier composition — a
    // per-(gram, doc) pre-aggregate whose (h, doc) keys defeat map-side
    // combining, joined BACK to its own per-gram mins for min2 — paid
    // the corpus-sized exchange twice and, unpersisted, re-computed the
    // whole chain for its second consumer: 105 s vs the span scan's
    // 14 s at the removed ScaleProbe's 69M-gram fixture. This shape is
    // scan → one partial-combined exchange keyed h — the span scan's own
    // cost class (measured: see PLANS span_provenance).
    // dup-gram-vocabulary-sized; consumed twice (dup-position join +
    // the final stats join) — materialize once, ContextCleaner frees
    // the blocks when the result frame dies
    val stats = spanStatsOf(grams).localCheckpoint()
    // the duplicated positions feed BOTH the island merge and the
    // span-start gram lookup; checkpointing them buys the second
    // consumer for free instead of re-paying the corpus scan + the
    // all-grams join exchange. Size = the span tier's own n_grams mass
    // (what the operator's output is proportional to), not the corpus.
    val dupPos = grams.join(stats.select(col("h")), "h").localCheckpoint()
    val spans = islandSpans(dupPos, L)
    // a span's FIRST gram is duplicated by definition, so the lookup
    // joins the sparse dup positions, never the full gram frame. Both
    // sides are aliased: `spans` derives from `dupPos`, so an unaliased
    // `spans("doc_id") === dupPos("doc_id")` names one attribute twice
    // and only means a join through Spark's self-join disambiguation
    val firstGram = spans.as("s").join(dupPos.as("p"),
      col("s.doc_id") === col("p.doc_id") && col("s.span_start") === col("p.pos"))
      .select(col("s.doc_id"), col("s.span_start"), col("s.span_end"), col("p.h"))
    firstGram.join(stats, "h")
      .select(col("doc_id"), col("span_start"), col("span_end"),
        when(col("min1") =!= col("doc_id"), col("min1"))
          .otherwise(when(col("c_min1") >= 2, col("doc_id"))
            .otherwise(col("min2"))).as("partner_doc"),
        col("n_occ"))
  }

  val spanProvenance: Q = (s, d) =>
    spanProvenanceOver(t(s, d, "documents"), 8)

  /** q158: the duplication-rate report — the dataset-card rollup the
    * span tier feeds (q83's contamination-report convention): per
    * corpus source, how many docs carry duplicated spans, the token
    * mass those spans cover, and the resulting duplication rate. Span
    * coverage per doc is an exact integer (islands are disjoint by
    * construction, so summing span widths never double-counts a
    * token); the rollup reduces the sparse span frame to a ≤ #sources
    * table and joins the per-source token totals — both sides collapse
    * map-side, the final join is tiny × tiny. */
  def duplicationReportOver(docs: DataFrame, L: Int): DataFrame =
    duplicationReportFromSpans(docs, substringSpansOver(docs, L))

  /** The rollup applied to an ALREADY-COMPUTED span frame — the
    * removalFromSpans convention for the report view: q158 feeds it
    * the live two-scan spans; the q166 index-backed twin feeds it
    * SubstrIndexSink.spans, so the only corpus touch left is the
    * per-source token-total scan the card itself needs. */
  private[graft] def duplicationReportFromSpans(docs: DataFrame,
      spanFrame: DataFrame): DataFrame = {
    val perDoc = spanFrame
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("covered"))
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("covered").isNotNull, 1L).otherwise(0L)).as("docs_with_dups"),
        sum(col("n_toks")).as("total_tokens"),
        sum(coalesce(col("covered"), lit(0L))).as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("docs_with_dups"),
        col("total_tokens"), col("dup_tokens"),
        // raw quotient (q143 class), matching q163's removal_rate form
        (col("dup_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("dup_rate"))
  }

  val duplicationReport: Q = (s, d) =>
    duplicationReportOver(t(s, d, "documents"), 8)

  /** q156: the exact-substring index maintained INCREMENTALLY — q154
    * served from the SubstrIndexSink lifecycle (three doc cuts: fold of
    * the first two + a live tail, the q102/q103 convention): per batch
    * only that batch's grams are tokenized/hashed/stored and a
    * batch-sized count partial appends; the corpus is never re-scanned.
    * The probe reads the reconciled counts + stored positions and runs
    * the same island merge — hash-gated against q154's batch oracle, so
    * the additive-count claim is proved across the fold boundary. */
  val substringSpansStream: Q = (s, d) =>
    graft.sinks.SubstrIndexSink.spans(s, ensureSubstrLifecycle(s, d))

  /** The shared three-cut substring-index lifecycle state (fold of the
    * first two cuts + a live tail) — q156/q160/q161 all serve from the
    * SAME store, the q62/q111/q151 shared-layout convention applied to
    * the span family. Built once through [[graft.sinks.Lifecycle]]. */
  private def ensureSubstrLifecycle(s: SparkSession, d: String): String =
    // kind carries the layout version (see LedgerStore): an older
    // store must rebuild, not serve a layout the resolve misreads
    TextOps.ensureCutLifecycle(s, d, "substrstream-v3side",
      graft.sinks.SubstrIndexSink.writer,
      loc => graft.sinks.SubstrIndexSink.compact(s, loc))

  /** q159: q154 through the auto router (see
    * [[substringSpansAutoWithStats]]) — whichever road the dup-hash
    * count picks, the same batch oracle must hash-match it. */
  val substringSpansAuto: Q = (s, d) =>
    substringSpansAutoWithStats(t(s, d, "documents"), 8)._1

  /** q160: q155's removal served from the q156 index — spans come from
    * the stored positions + reconciled counts (never a corpus re-scan /
    * re-tokenize); the only corpus touch is the doc-keyed text join
    * the cut itself needs. Hash-gated against q155's batch oracle
    * through the fold+tail lifecycle. */
  val substringRemoveStream: Q = (s, d) => {
    val loc = ensureSubstrLifecycle(s, d)
    removalFromSpans(t(s, d, "documents"),
      graft.sinks.SubstrIndexSink.spans(s, loc))
  }

  /** q161: q157's provenance served from the q156 index — the stored
    * position rows ARE the positional gram frame, so the whole audit
    * view runs without touching document text at all. Hash-gated
    * against q157's batch oracle through the fold+tail lifecycle. */
  val spanProvenanceStream: Q = (s, d) =>
    graft.sinks.SubstrIndexSink.provenance(s, ensureSubstrLifecycle(s, d))

  /** q162: span-level DECONTAMINATION — the cross-corpus variant of the
    * span family, and the surgical alternative to q61/q75's doc-level
    * drop: every maximal run of training tokens covered by a word
    * L-gram that occurs ANYWHERE in the benchmark set is cut from the
    * training text (Lee et al. §6 run exactly this against their eval
    * sets; GPT-3/The Pile-style n-gram overlap decontamination, applied
    * as a cut instead of a doc drop). NOT dedup: a span duplicated
    * within TRAINING only is kept — the dup set is the benchmark's gram
    * vocabulary, nothing else (spec-pinned). Witness L = 4 here —
    * decontamination wants higher recall than the L = 8 dedup witness
    * (a leaked eval answer hurts at short overlap; the q61 shingle
    * gate uses 3 for the same reason).
    *
    * Scale shape: the bench gram-hash set is eval-registry-sized
    * (model-sized next to any training corpus) → broadcast, so the
    * training scan streams past it map-side with NO shuffle at all
    * before the sparse island merge — cheaper than q154's two-pass
    * (no corpus-wide count aggregate: the dup set comes from the
    * bench side alone). A registry too big to broadcast exactly takes
    * q75's Bloom road — no longer prose: the
    * [[decontamSpansWithStats]] router CHOOSES from the registry gram
    * count, spec-pinned hash-equal on both sides of the budget. The
    * cut itself is q155's doc-keyed join + HOF rebuild, shared code
    * ([[removalFromSpans]]). */
  /** The q162/q163/q164/q165 bench/train boundary (doc_id < cut =
    * benchmark slice), declared ONCE: the registry writer
    * ([[graft.sinks.BenchRegistrySink]]) and every serving-side train
    * filter read this value, so a retune cannot silently make docs
    * both registry members and cut targets (r15 review). */
  private[graft] val DecontamBenchCut: Long = 20L

  def substringDecontamOver(docs: DataFrame, L: Int,
      benchCut: Long = DecontamBenchCut): DataFrame = {
    val train = docs.filter(col("doc_id") >= benchCut)
    removalFromSpans(train, decontamSpans(docs, train, L, benchCut))
  }

  /** The benchmark-covered span set over the training cut — ONE
    * definition shared by the cut (q162) and its dataset card (q163),
    * so the two can never disagree on the witness length, the bench
    * cut, or the route (the report would otherwise count different
    * spans than the cut removes). */
  private def decontamSpans(docs: DataFrame, train: DataFrame, L: Int,
      benchCut: Long): DataFrame =
    decontamSpansWithStats(docs, train, L, benchCut)._1

  /** q162's bench-side AUTO router — the q159 convention applied to
    * the decontamination registry's sizing judgment, which was
    * previously a hard `broadcast()` plus prose ("a registry too big
    * to broadcast takes q75's Bloom road"). The registry gram count is
    * already a cheap aggregate (bench-side only — the corpus is never
    * touched by the probe), so the route costs one count on the
    * checkpointed registry:
    *
    *  - fits the session broadcast budget → exact broadcast join, the
    *    home regime (an eval registry next to a training corpus): the
    *    training scan streams past it map-side, ZERO corpus shuffle
    *    before the sparse island merge;
    *  - past the budget but inside the Bloom sizing clamps → q75's
    *    road via [[bloomPrunedSpans]]: ~1.25 B/item bit array prunes
    *    the training grams map-side, the exact (non-broadcast) join
    *    downstream kills FPs — the corpus side of that shuffle is the
    *    contaminated sliver plus FPs, not every gram;
    *  - past the clamps too (a registry rivaling the corpus — at that
    *    point "decontamination" is doc-level q61/q75 territory, but
    *    the operator must still answer) → the plain shuffle join is
    *    the floor, exactly q154's scan-2 shape.
    *
    * All three roads produce identical spans (the exact join is the
    * last word on membership everywhere — spec-pinned hash-equal on
    * both sides of the budget), so the router's contract is an ANSWER;
    * returns (spans, route) for telemetry. Only the SPARSE registry is
    * checkpointed (consumed by the probe + the join/Bloom build); the
    * span frame returns lazy — the q159 materialization discipline. */
  private[graft] def decontamSpansWithStats(docs: DataFrame,
      train: DataFrame, L: Int, benchCut: Long): (DataFrame, String) =
    decontamSpansFromRegistry(
      gramPositions(docs.filter(col("doc_id") < benchCut), L).select(col("h")),
      train, L)

  /** The routed span computation against an EXPLICIT gram-hash
    * registry — the seam q162 (registry derived live from the raw
    * benchmark docs) and q164 (registry served from the
    * [[graft.sinks.BenchRegistrySink]] store) share, so the stored
    * road can never diverge from the batch road on the route rule or
    * the span semantics. `registry` may carry duplicates (stored
    * segments, raw gram streams) — distincted here once, onto the
    * checkpointed sparse frame the probe and the join both read. */
  private[graft] def decontamSpansFromRegistry(registry: DataFrame,
      train: DataFrame, L: Int): (DataFrame, String) = {
    val benchH = registry.select(col("h")).distinct().localCheckpoint()
    val nBench = benchH.count()
    val trainG = gramPositions(train, L)
    val route = KeyRoute.of(train.sparkSession, nBench)
    val spans = route match {
      // an empty registry covers nothing: an empty frame of the span
      // schema (read off the analyzed plan — no job), so the training
      // corpus is never tokenized against a zero-row registry
      case "none" =>
        train.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
          islandSpans(trainG.join(benchH, "h"), L).schema)
      case "broadcast" =>
        islandSpans(trainG.join(broadcast(benchH), "h"), L)
      case "bloom" => bloomPrunedSpans(trainG, benchH, nBench, L)
      case "plain" => islandSpans(trainG.join(benchH, "h"), L)
    }
    (spans, route)
  }

  val substringDecontam: Q = (s, d) =>
    substringDecontamOver(t(s, d, "documents"), 4)

  /** q163: the per-source DECONTAMINATION report — the dataset-card
    * view of q162, exactly as q158 reports q154 (and q83 reports q61):
    * per training source, how many docs carry benchmark-covered spans,
    * the token mass those spans cut, and the removal rate. Derived
    * from the SPAN set directly (island disjointness makes covered
    * mass an exact width sum — the q158 argument), never from the
    * rebuilt text: the report needs counts, not clean strings. Same
    * rollup shape as q158: span frame → ≤ #docs covered rows →
    * ≤ #sources table joined tiny × tiny against per-source totals. */
  def decontamReportOver(docs: DataFrame, L: Int,
      benchCut: Long = DecontamBenchCut): DataFrame = {
    val train = docs.filter(col("doc_id") >= benchCut)
    decontamReportFromSpans(train, decontamSpans(docs, train, L, benchCut))
  }

  /** q163's rollup over an already-computed decontamination span
    * frame — q163 feeds it the live routed spans, the q165 twin the
    * registry-served ones (the duplicationReportFromSpans symmetry). */
  private[graft] def decontamReportFromSpans(train: DataFrame,
      spanFrame: DataFrame): DataFrame = {
    val perDoc = spanFrame
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("covered"))
    train.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("covered").isNotNull, 1L).otherwise(0L)).as("docs_cut"),
        sum(col("n_toks")).as("total_tokens"),
        sum(coalesce(col("covered"), lit(0L))).as("removed_tokens"))
      .select(col("source"), col("n_docs"), col("docs_cut"),
        col("total_tokens"), col("removed_tokens"),
        // RAW quotient, not round(·, 6): both engines divide the same
        // two exact long sums once — bit-identical; a 6-decimal round
        // can land on an exact .xxxxxx5 half-way where Spark
        // (decimal HALF_UP) and DuckDB (scaled double) disagree — the
        // q143 class the r14 sf0.1 soak caught
        (col("removed_tokens").cast("double") /
          col("total_tokens").cast("double")).as("removal_rate"))
  }

  val decontamReport: Q = (s, d) =>
    decontamReportOver(t(s, d, "documents"), 4)

  /** q164: q162's decontamination served from the PERSISTED benchmark
    * registry — the q156/q160/q161 convention applied to the eval
    * side: benchmark batches fold into the
    * [[graft.sinks.BenchRegistrySink]] store through the shared
    * fold+tail lifecycle, and the cut reads the stored gram hashes
    * instead of re-tokenizing the raw benchmark docs per run. Serving
    * cost: the registry read is registry-sized (never the corpus); the
    * only corpus touches left are scan 2 and the doc-keyed rebuild
    * join the cut itself needs — identical to q162's serving shape
    * because [[decontamSpansFromRegistry]] IS the shared seam (route
    * rule included). Hash-gated against q162's batch oracle through
    * the fold+tail lifecycle. */
  val decontamRegistryStream: Q = (s, d) => {
    val train = t(s, d, "documents")
      .filter(col("doc_id") >= DecontamBenchCut)
    removalFromSpans(train, decontamSpansFromRegistry(
      graft.sinks.BenchRegistrySink.registry(s, ensureDecontamRegistry(s, d)),
      train, 4)._1)
  }

  private def ensureDecontamRegistry(s: SparkSession, d: String): String =
    // layout-versioned kind (see LedgerStore)
    TextOps.ensureCutLifecycle(s, d, "decontamreg-v3side",
      graft.sinks.BenchRegistrySink.writer,
      loc => graft.sinks.BenchRegistrySink.compact(s, loc))

  /** q165: q163's decontamination card served from the q164 registry —
    * completing the stored-serving matrix (spans q154/q156, removal
    * q155/q160, provenance q157/q161, dup card q158/q166, cut
    * q162/q164, this card q163/q165): a production pipeline publishes
    * the dataset card per corpus snapshot from the SAME stored
    * registry the cut ran against, never re-deriving the bench grams.
    * Hash-gated against q163's batch oracle through the fold+tail
    * lifecycle. */
  val decontamReportStream: Q = (s, d) => {
    val train = t(s, d, "documents")
      .filter(col("doc_id") >= DecontamBenchCut)
    decontamReportFromSpans(train, decontamSpansFromRegistry(
      graft.sinks.BenchRegistrySink.registry(s, ensureDecontamRegistry(s, d)),
      train, 4)._1)
  }

  /** q166: q158's duplication card served from the q156 substring
    * index — the stored position+count rows yield the span frame
    * without re-tokenizing any text (q160/q161's argument); the only
    * corpus touch is the per-source token-total scan the card itself
    * needs. Hash-gated against q158's batch oracle through the
    * fold+tail lifecycle. */
  val duplicationReportStream: Q = (s, d) =>
    duplicationReportFromSpans(t(s, d, "documents"),
      graft.sinks.SubstrIndexSink.spans(s, ensureSubstrLifecycle(s, d)))

  /** q167: RETRACTION through the substring-index lifecycle — the
    * capability every grow-only store was missing: a doc deleted
    * upstream (the CDC `D` route the reference dropped and CdcRouter
    * fixed, reference `app/OdsBaseDbApp.scala:102-106`) must leave the
    * stored index, or every stored-road report silently counts ghost
    * docs forever. The lifecycle runs the worst retractable state
    * ([[TextOps.ensureRetractLifecycle]]): three ingest cuts with a
    * mid-lifecycle fold, retract docs ≡ 3 (mod 10), RESURRECT the ≡ 3
    * (mod 20) half (CDC insert-after-delete — latest-wins on the
    * persisted logical `ing`), a second fold (tombstones cross the
    * fold boundary: dead positions dropped, inert tombstones purged), and a
    * final live-tail retraction of the ≡ 3 (mod 40) quarter (read-time
    * resolve must mask fold rows and re-kill a resurrected doc). The
    * served spans are hash-gated against q154's batch oracle
    * recomputed on the POST-RETRACTION corpus — live docs are
    * exactly NOT(id ≡ 13 mod 20) AND NOT(id ≡ 3 mod 40) — which also
    * proves the counts store's negative-partial arithmetic (a gram
    * whose duplicate lived only in a retracted doc must STOP being a
    * dup witness; the sum telescopes to the live corpus exactly). */
  val substringRetract: Q = (s, d) =>
    graft.sinks.SubstrIndexSink.spans(s,
      graft.functions.TextOps.ensureRetractLifecycle(s, d, "substrretract-v2side",
        graft.sinks.SubstrIndexSink.writer,
        graft.sinks.SubstrIndexSink.retract,
        loc => graft.sinks.SubstrIndexSink.compact(s, loc)))

  /** q168: registry RETRACTION — q164's stored eval registry through
    * the same worst retractable state, because eval suites RETIRE
    * benchmarks (license pulls, leaked sets) and a retired benchmark
    * must stop cutting training docs: retract bench docs ≡ 1 (mod 4),
    * resurrect the ≡ 1 (mod 8) half, fold, re-retract ≡ 1 (mod 16) in
    * the live tail. Per-doc (doc_id, h) pair rows make the set
    * subtraction exact — a gram shared by a retired and a surviving
    * benchmark doc keeps cutting (only pair rows can tell those
    * apart). Hash-gated against q162's batch oracle with the bench
    * side reduced to the post-retraction suite; the training corpus
    * is untouched by any registry maintenance. */
  val decontamRegistryRetract: Q = (s, d) => {
    val train = t(s, d, "documents")
      .filter(col("doc_id") >= DecontamBenchCut)
    removalFromSpans(train, decontamSpansFromRegistry(
      graft.sinks.BenchRegistrySink.registry(s,
        graft.functions.TextOps.ensureRetractLifecycle(s, d,
          "decontamregretract-v2side",
          graft.sinks.BenchRegistrySink.writer,
          graft.sinks.BenchRegistrySink.retract,
          loc => graft.sinks.BenchRegistrySink.compact(s, loc),
          graft.sinks.Lifecycle.halvingMasks(col("doc_id"), 4, 1))),
      train, 4)._1)
  }

  val queries: Map[String, Q] = Map(
    "q154_substring_dedup" -> substringSpans,
    "q155_substring_remove" -> substringRemove,
    "q156_substring_stream" -> substringSpansStream,
    "q157_span_provenance" -> spanProvenance,
    "q158_duplication_report" -> duplicationReport,
    "q159_substring_auto" -> substringSpansAuto,
    "q160_substring_remove_stream" -> substringRemoveStream,
    "q161_span_provenance_stream" -> spanProvenanceStream,
    "q162_substring_decontam" -> substringDecontam,
    "q163_decontam_report" -> decontamReport,
    "q164_decontam_registry" -> decontamRegistryStream,
    "q165_decontam_report_stream" -> decontamReportStream,
    "q166_duplication_report_stream" -> duplicationReportStream,
    "q167_substring_retract" -> substringRetract,
    "q168_decontam_retract" -> decontamRegistryRetract,
    "q171_dedup_retract" -> dedupRetract,
    "q151_cluster_sizes" -> clusterSizeHistogram,
    "q116_dedup_labels_stream" -> dedupLabelsStream,
    "q115_dedup_incremental" -> dedupIncremental,
    "q41_shingle_jaccard" -> shingleJaccardPairs,
    "q72_split_leakage" -> splitLeakage,
    "q27_jaccard_pairs" -> jaccardPairs,
    "q28_minhash_lsh" -> minhashLsh,
    "q29_simhash" -> simhashNearDupPairs,
    "q61_decontaminate" -> decontaminate,
    "q75_decontaminate_bloom" -> ((s, d) => decontaminateBloom(s, d)),
    "q83_contamination_report" -> contaminationReport,
    "q62_dedup_clusters" -> dedupClusters,
    "q104_dedup_clusters_star" -> dedupClustersStar,
    "q106_dedup_clusters_auto" -> dedupClustersAuto,
    "q111_dedup_canonical" -> dedupCanonical,
  )

  /** The transitive-closure oracle shared by q62/q104/q106 — three
    * paths (stored labels, star contraction, the live router), ONE
    * answer, each hash-gated against the same recursive CTE.
    * Parameterized by the live-corpus predicate so the q171 retraction
    * twin states its oracle as the SAME closure over the
    * post-retraction corpus (pairwise jaccard between two live docs is
    * corpus-independent, so restricting the doc universe IS the edge
    * restriction the engine's tombstoned edge store enforces). */
  private def closureOracleSqlOver(livePred: String): String =
    s"""WITH RECURSIVE tk AS (
      |  SELECT doc_id, string_split(text,' ') AS toks
      |  FROM documents WHERE doc_id < 500 AND ($livePred)),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(toks)-2, 0)),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      |  FROM tk),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
      |             JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(n, m) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
      |SELECT n AS doc_id, min(m) AS cluster_rep
      |FROM reach GROUP BY n""".stripMargin

  private val closureOracleSql: String = closureOracleSqlOver("TRUE")

  /** The q154 oracle, shared with q156 (the lifecycle twin converges to
    * the batch answer): the oracle joins gram STRINGS where the engine
    * joins their xxhash64 (q61's collision argument); same 1-based
    * starts, same ≤ L island merge, same inclusive span_end = last
    * start + L − 1. Parameterized by the live-corpus predicate so the
    * q167 retraction twin states its oracle as the SAME batch SQL over
    * the post-retraction corpus. */
  private def substringSpansOracleSqlOver(livePred: String): String =
      s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE $livePred),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
        |  FROM tk WHERE len(toks) >= 8),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
        |  FROM g),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 7)::BIGINT AS span_end, count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, grp""".stripMargin

  private val substringSpansOracleSql: String =
    substringSpansOracleSqlOver("TRUE")

  /** The q157 oracle, shared with q161 (the index-backed lifecycle twin
    * converges to the batch answer). */
  private val spanProvenanceOracleSql: String =
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
        |  FROM tk WHERE len(toks) >= 8),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
        |  FROM g),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM isl GROUP BY doc_id, grp),
        |perdoc AS (
        |  SELECT gram, doc_id, count(*) AS c FROM g2 GROUP BY 1, 2),
        |base AS (
        |  SELECT gram, sum(c) AS n_occ, min(doc_id) AS min1,
        |    arg_min(c, doc_id) AS c_min1
        |  FROM perdoc GROUP BY 1),
        |second AS (
        |  SELECT p.gram, min(p.doc_id) AS min2
        |  FROM perdoc p JOIN base b USING (gram)
        |  WHERE p.doc_id > b.min1 GROUP BY 1),
        |firstg AS (
        |  SELECT s.doc_id, s.span_start, s.span_end, g2.gram
        |  FROM spans s JOIN g2 ON g2.doc_id = s.doc_id AND g2.pos = s.span_start)
        |SELECT f.doc_id, f.span_start::BIGINT AS span_start,
        |  f.span_end::BIGINT AS span_end,
        |  (CASE WHEN b.min1 <> f.doc_id THEN b.min1
        |        WHEN b.c_min1 >= 2 THEN f.doc_id
        |        ELSE s2.min2 END)::BIGINT AS partner_doc,
        |  b.n_occ::BIGINT AS n_occ
        |FROM firstg f JOIN base b USING (gram)
        |LEFT JOIN second s2 USING (gram)""".stripMargin

  /** The q155 oracle, shared with q160 (same convergence argument). */
  private val substringRemoveOracleSql: String =
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
        |  FROM tk WHERE len(toks) >= 8),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
        |  FROM g),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM isl GROUP BY doc_id, grp),
        |sp AS (
        |  SELECT doc_id,
        |    list(struct_pack(s := span_start, e := span_end)) AS spans
        |  FROM spans GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |k AS (
        |  SELECT b.doc_id, b.text, b.toks, sp.spans,
        |    CASE WHEN sp.spans IS NULL THEN NULL
        |         ELSE list_filter(generate_series(1, len(b.toks)),
        |           i -> len(list_filter(sp.spans,
        |                  sp2 -> i >= sp2.s AND i <= sp2.e)) = 0)
        |    END AS kept
        |  FROM base b LEFT JOIN sp USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN spans IS NULL THEN text
        |       -- a fully-covered doc keeps NO tokens: DuckDB's
        |       -- array_to_string([]) is NULL where Spark's array_join
        |       -- is '' — the engine's empty string is the semantic
        |       ELSE coalesce(
        |         array_to_string(list_transform(kept, i -> toks[i]), ' '), '')
        |  END AS clean_text,
        |  (CASE WHEN spans IS NULL THEN 0
        |        ELSE len(toks) - len(kept) END)::BIGINT AS n_removed
        |FROM k""".stripMargin

  /** q162's batch oracle — q155's cut machinery over the benchmark
    * gram vocabulary (see the map entry comment); shared verbatim with
    * q164, whose stored-registry road must converge to it.
    * Parameterized by the live-benchmark predicate so the q168
    * registry-retraction twin states its oracle as the SAME batch SQL
    * over the post-retraction eval suite. */
  private def decontamCutOracleSqlOver(benchPred: String): String =
      s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS pos
        |  FROM tk WHERE len(toks) >= 4),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+3], ' ') AS gram
        |  FROM g),
        |bg AS (SELECT DISTINCT gram FROM g2
        |       WHERE doc_id < 20 AND ($benchPred)),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN bg USING (gram)
        |       WHERE g2.doc_id >= 20),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 4
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end
        |  FROM isl GROUP BY doc_id, grp),
        |sp AS (
        |  SELECT doc_id,
        |    list(struct_pack(s := span_start, e := span_end)) AS spans
        |  FROM spans GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |  WHERE doc_id >= 20),
        |k AS (
        |  SELECT b.doc_id, b.text, b.toks, sp.spans,
        |    CASE WHEN sp.spans IS NULL THEN NULL
        |         ELSE list_filter(generate_series(1, len(b.toks)),
        |           i -> len(list_filter(sp.spans,
        |                  sp2 -> i >= sp2.s AND i <= sp2.e)) = 0)
        |    END AS kept
        |  FROM base b LEFT JOIN sp USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN spans IS NULL THEN text
        |       ELSE coalesce(
        |         array_to_string(list_transform(kept, i -> toks[i]), ' '), '')
        |  END AS clean_text,
        |  (CASE WHEN spans IS NULL THEN 0
        |        ELSE len(toks) - len(kept) END)::BIGINT AS n_removed
        |FROM k""".stripMargin

  private val decontamCutOracleSql: String =
    decontamCutOracleSqlOver("TRUE")

  /** q163's batch oracle — shared verbatim with q165, whose
    * stored-registry road must converge to it. */
  private val decontamReportOracleSql: String =
    """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS pos
        |  FROM tk WHERE len(toks) >= 4),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+3], ' ') AS gram
        |  FROM g),
        |bg AS (SELECT DISTINCT gram FROM g2 WHERE doc_id < 20),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN bg USING (gram)
        |       WHERE g2.doc_id >= 20),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 4
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end
        |  FROM isl GROUP BY doc_id, grp),
        |perdoc AS (
        |  SELECT doc_id, sum(span_end - span_start + 1) AS covered
        |  FROM spans GROUP BY doc_id),
        |base AS (
        |  SELECT d.doc_id, d.source,
        |    len(string_split(d.text, ' ')) AS n_toks, p.covered
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |  WHERE d.doc_id >= 20)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN covered IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_cut,
        |  sum(n_toks)::BIGINT AS total_tokens,
        |  sum(coalesce(covered, 0))::BIGINT AS removed_tokens,
        |  sum(coalesce(covered, 0))::DOUBLE / sum(n_toks)::DOUBLE
        |    AS removal_rate
        |FROM base GROUP BY source""".stripMargin

  /** q158's batch oracle — shared verbatim with q166, whose
    * stored-index road must converge to it. */
  private val duplicationReportOracleSql: String =
    """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
        |  FROM tk WHERE len(toks) >= 8),
        |g2 AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
        |  FROM g),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM isl GROUP BY doc_id, grp),
        |perdoc AS (
        |  SELECT doc_id, sum(span_end - span_start + 1) AS covered
        |  FROM spans GROUP BY doc_id),
        |base AS (
        |  SELECT d.doc_id, d.source,
        |    len(string_split(d.text, ' ')) AS n_toks, p.covered
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id))
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN covered IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_with_dups,
        |  sum(n_toks)::BIGINT AS total_tokens,
        |  sum(coalesce(covered, 0))::BIGINT AS dup_tokens,
        |  sum(coalesce(covered, 0))::DOUBLE / sum(n_toks)::DOUBLE AS dup_rate
        |FROM base GROUP BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "q154_substring_dedup" -> substringSpansOracleSql,
    // q156 = q154 through the incremental index lifecycle (fold + live
    // tail) — convergence to the batch answer IS the claim, so the
    // oracle is the batch SQL
    "q156_substring_stream" -> substringSpansOracleSql,
    // q157: q154's CTEs to spans, per-(gram, doc) counts to per-gram
    // provenance stats, partner = lowest doc holding ANOTHER occurrence
    // of the span's first gram (the same doc iff its count there ≥ 2).
    // Shared with q161, the index-backed twin (lifecycle converges to
    // the batch answer, so the oracle is the batch SQL — the q156
    // convention).
    "q157_span_provenance" -> spanProvenanceOracleSql,
    "q161_span_provenance_stream" -> spanProvenanceOracleSql,
    // q159 = q154 through the auto router — either road must hash-match
    // the same batch oracle
    "q159_substring_auto" -> substringSpansOracleSql,
    // q160 = q155 served from the stored index (same convergence
    // argument as q156/q161)
    "q160_substring_remove_stream" -> substringRemoveOracleSql,
    // q163: q162's span CTEs rolled to the per-source card (the q158
    // rollup over the decontamination span set; covered mass is an
    // exact width sum — islands are disjoint)
    "q163_decontam_report" -> decontamReportOracleSql,
    // q165 = q163 served from the stored registry; q166 = q158 served
    // from the stored substring index — lifecycles converge to the
    // batch answers (the q156/q160/q161 convention), so the oracles
    // are the batch SQLs
    "q165_decontam_report_stream" -> decontamReportOracleSql,
    "q166_duplication_report_stream" -> duplicationReportOracleSql,
    // q162: q155's cut machinery, but the dup set is the BENCHMARK
    // side's gram vocabulary (doc_id < 20) and only training docs
    // (doc_id ≥ 20) are cut — L = 4 (the decontamination witness),
    // so ends are +3 and the island gap rule is +4
    "q162_substring_decontam" -> decontamCutOracleSql,
    // q164 = q162 served from the stored benchmark registry — the
    // lifecycle converges to the batch answer (the q156/q160/q161
    // convention), so the oracle is the batch SQL
    "q164_decontam_registry" -> decontamCutOracleSql,
    // q167 = q154's batch SQL over the POST-RETRACTION corpus: live =
    // never retracted, or resurrected and not re-retracted — the
    // lifecycle's three sets reduce to these two exclusions
    "q167_substring_retract" -> substringSpansOracleSqlOver(
      "NOT (doc_id % 20 = 13) AND NOT (doc_id % 40 = 3)"),
    // q168 = q162's batch SQL with the BENCH side reduced to the
    // post-retraction eval suite (drop {5,13} = retracted-not-
    // resurrected, and {1,17} = re-retracted); training side untouched
    "q168_decontam_retract" -> decontamCutOracleSqlOver(
      "NOT (doc_id % 4 = 1 AND doc_id % 8 <> 1) AND NOT (doc_id % 16 = 1)"),
    // q158: spans → per-doc covered-token mass (islands are disjoint,
    // so width sums are exact) → per-source dataset-card rollup
    "q158_duplication_report" -> duplicationReportOracleSql,
    // q155: q154's CTEs verbatim, spans rolled to per-doc lists, then
    // the index-filter rebuild — span-less docs pass through via the
    // LEFT join in both engines. Shared with q160, the index-backed twin.
    "q155_substring_remove" -> substringRemoveOracleSql,
    "q62_dedup_clusters" -> closureOracleSql,
    // q115 must converge to the batch closure whatever the arrival order
    "q115_dedup_incremental" -> closureOracleSql,
    // q116 = q115 through the live version-chain sink (replayed tail)
    "q116_dedup_labels_stream" -> closureOracleSql,
    // q171 = the SAME closure over the post-retraction corpus (live =
    // never retracted, or resurrected and not re-retracted): pairwise
    // jaccard is corpus-independent, so the doc-universe restriction
    // IS the edge restriction the tombstoned edge store enforces
    "q171_dedup_retract" -> closureOracleSqlOver(
      "NOT (doc_id % 20 = 13) AND NOT (doc_id % 40 = 3)"),
    // q111 = the closure + survivorship rollup: singleton clusters via
    // the left join's coalesce; canonical = longest text, lowest id
    "q111_dedup_canonical" ->
      (closureOracleSql.replace("SELECT n AS doc_id, min(m) AS cluster_rep\nFROM reach GROUP BY n",
        """, lab0 AS (
          |  SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
          |lab AS (
          |  SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS cluster_rep,
          |    d.n_chars
          |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id
          |  WHERE d.doc_id < 500),
          |rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY cluster_rep
          |    ORDER BY n_chars DESC, doc_id) AS rn FROM lab)
          |SELECT l.cluster_rep, count(*)::BIGINT AS n_members,
          |  max(k.doc_id) AS canonical_doc, max(k.n_chars) AS kept_chars,
          |  sum(l.n_chars)::BIGINT AS total_chars
          |FROM lab l JOIN rk k ON l.cluster_rep = k.cluster_rep AND k.rn = 1
          |GROUP BY l.cluster_rep""".stripMargin)),
    // q151 = the closure's label table + two grid-sized rollups
    "q151_cluster_sizes" ->
      (closureOracleSql.replace("SELECT n AS doc_id, min(m) AS cluster_rep\nFROM reach GROUP BY n",
        """, lab AS (
          |  SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
          |cs AS (
          |  SELECT cluster_rep, count(*)::BIGINT AS cluster_size
          |  FROM lab GROUP BY 1)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters
          |FROM cs GROUP BY 1""".stripMargin)),
    // q104 ≡ q62 through star contraction — same recursive-CTE oracle
    // on purpose: two algorithms, one answer, both hash-gated
    "q104_dedup_clusters_star" -> closureOracleSql,
    // q106 ≡ q62 computed live through collapseClusters
    "q106_dedup_clusters_auto" -> closureOracleSql,
    // q61's shingle construction, rolled up per source; BIGINT/BIGINT
    // divides as double in both engines
    "q83_contamination_report" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
        |      i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS shingle
        |  FROM documents),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
        |contam AS (
        |  SELECT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle
        |  WHERE s.doc_id >= 20 GROUP BY s.doc_id),
        |tot AS (
        |  SELECT source, count(*) AS n_docs FROM documents
        |  WHERE doc_id >= 20 GROUP BY source),
        |c AS (
        |  SELECT d.source, count(*) AS n_contaminated
        |  FROM documents d JOIN contam USING (doc_id) GROUP BY d.source)
        |SELECT t.source, t.n_docs,
        |  coalesce(c.n_contaminated, 0) AS n_contaminated,
        |  CAST(coalesce(c.n_contaminated, 0) AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
        |    AS contamination_rate
        |FROM tot t LEFT JOIN c ON t.source = c.source""".stripMargin,
    "q61_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
        |      i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS shingle
        |  FROM documents),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id >= 20
        |GROUP BY s.doc_id""".stripMargin,
    // the Bloom prefilter is semantically transparent (FPs die in the
    // exact join) — q75's oracle is q61's, verbatim
    "q75_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
        |      i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS shingle
        |  FROM documents),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id >= 20
        |GROUP BY s.doc_id""".stripMargin,
    "q72_split_leakage" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(toks)-2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        |  FROM tk),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |             JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000003 < (1000003 * 9) // 10
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT a.split AS split_a, b.split AS split_b,
        |  count(*) AS n_pairs,
        |  CAST(sum(p.doc_a + p.doc_b) AS BIGINT) AS pair_id_sum,
        |  min(p.jaccard) AS min_jaccard, max(p.jaccard) AS max_jaccard
        |FROM pairs p
        |JOIN splits a ON p.doc_a = a.doc_id
        |JOIN splits b ON p.doc_b = b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "q41_shingle_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, greatest(len(toks)-2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        |  FROM tk),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5""".stripMargin,
    "q27_jaccard_pairs" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text,' ')) AS token
        |    FROM documents WHERE doc_id < 200)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.4""".stripMargin,
    // q28 AND q29: both pipelines' OUTPUT is exact shingle-Jaccard pairs
    // (their verify step recomputes true Jaccard on every surviving
    // candidate), so brute-force shingle Jaccard over the same corpus is
    // a valid oracle whenever candidate recall is 1.0 on the ≥0.5 pairs —
    // which holds on the fixtures (LshRecallSpec / SimhashRecallSpec).
    // Quadratic SQL is fine at the driver's sf0.01.
    "q28_minhash_lsh" -> bruteForceShinglePairsSql,
    "q29_simhash" -> bruteForceShinglePairsSql,
  )

  private lazy val bruteForceShinglePairsSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text,' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(toks)-2, 0)),
      |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      |  FROM tk),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      | round(i / (sa.sz + sb.sz - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5""".stripMargin
}
