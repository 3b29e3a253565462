package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics operators beyond the reference's surface (its publisher can
  * only express what ES aggs expose — SURVEY.md §2.5 notes no grouping
  * sets / windows exist there). A serving layer on Spark gets these for
  * free, so they are part of the engine's query surface.
  *
  * Determinism: running/sessionization windows use unique sort keys and
  * pre-rounded addends so window-ordered floating sums are bit-identical
  * across engines (left-to-right adds over identical sequences).
  */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  /** Grouping-set subtotals (rollup) over the pricing dimensions. */
  val rollupPricing: Q = (s, d) =>
    t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Full grouping-set lattice (cube) — rollup's big sibling: all four
    * subsets of {returnflag, linestatus}, so the cross-dimension slices
    * rollup omits (linestatus totals without returnflag) come out of the
    * SAME single-shuffle Expand plan instead of a second query. Scale
    * shape: Expand multiplies scan rows by the grouping-set count
    * BEFORE the exchange, but partial aggregation collapses each set to
    * its group cardinality map-side, so the shuffle carries |groups| ×
    * 4 rows, not corpus rows — same reduce-side bound as q34. */
  val cubePricing: Q = (s, d) =>
    t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Wide→long unpivot (melt): the per-group metric columns become
    * (metric, value) rows — the reshape every metrics store needs
    * before a generic "one row per metric" sink. Runs AFTER the
    * aggregate, so the generator multiplies a groups-sized frame (3×
    * here), never the corpus; the scan itself stays columnar-pruned to
    * exactly the three source metrics. */
  val unpivotPricing: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_discount")), 4).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")

  /** Per-user running revenue: daily sums (rounded once) accumulated in
    * date order. */
  val runningTotal: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(round(sum(col("value")), 2).as("daily_value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("running_value", round(sum(col("daily_value")).over(w), 2))
  }

  /** Gap-based sessionization (30 min) — the event-time upgrade of the
    * reference's "session" notion (last_page_id == null, P11). Exact
    * timestamp-interval comparison keeps both engines in lockstep. */
  val sessionize: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = t(s, d, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
  }

  /** Top-3 parts by retail price per brand — ranked window + filter
    * (dense pagination the ES layer cannot express). */
  val topnPerGroup: Q = (s, d) => {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    t(s, d, "part")
      .withColumn("rank_in_brand", row_number().over(w))
      .filter(col("rank_in_brand") <= 3)
      .select(col("p_brand"), col("rank_in_brand"), col("p_partkey"),
        col("p_name"), col("p_retailprice"))
  }

  /** Day-over-day DAU via lag window — the single-pass alternative to
    * q15's full-outer self-join. The unpartitioned window is fine at any
    * scale: its input is the already-aggregated per-day frame (≤ #days
    * rows), not the event stream. */
  val dayOverDayLag: Q = (s, d) => {
    val e = t(s, d, "events")
    val byDay = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count_distinct(col("user_id")).as("dau"))
    val w = Window.orderBy(col("dt"))
    byDay
      .withColumn("dau_prev_day", lag(col("dau"), 1).over(w))
      .withColumn("delta", col("dau") - coalesce(col("dau_prev_day"), lit(0L)))
  }

  /** Exact interpolated median per group (beyond ES's surface; DuckDB
    * twin is quantile_cont). */
  val medianByGroup: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(round(median(col("value")), 4).as("median_value"),
        count(lit(1)).as("n"))

  /** Incremental dedup — the production ingestion shape: new documents
    * (doc_id ≥ 250) admitted only if their content fingerprint is absent
    * from the existing corpus (doc_id < 250); anti-join on the hash. */
  val incrementalDedup: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("text_hash", md5(col("text").cast("binary")))
    val existing = docs.filter(col("doc_id") < 250).select(col("text_hash"))
    docs.filter(col("doc_id") >= 250)
      .join(existing, Seq("text_hash"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_admitted"), min(col("doc_id")).as("first_admitted"))
  }

  /** Statistical aggregates (corr / stddev / variance) per group —
    * serving-layer analytics the ES publisher cannot express. */
  val statsCorr: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(stddev_samp(col("l_discount")), 4).as("stddev_disc"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        count(lit(1)).as("n"))

  /** Exact interpolated multi-quantiles per group, emitted as three scalar
    * columns (p25/p50/p75) so results stay flat-comparable downstream. */
  val quantiles: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(percentile(col("value"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
      // ONE percentile buffer serves all three cut points — N scalar
      // percentile aggs each collect and sort the group's values
      // independently (N× the memory and N sorts per group)
      .select(col("event_type"),
        round(col("ps").getItem(0), 4).as("p25"),
        round(col("ps").getItem(1), 4).as("p50"),
        round(col("ps").getItem(2), 4).as("p75"))

  /** q93: the mergeable-sketch quantile path. q44/q48's exact
    * percentile buffers every group value — fine for bounded groups, a
    * memory hazard when one group holds billions of rows at 100 TB;
    * approx_percentile's sketch is bounded-size and partition-mergeable
    * (map-side partials combine like any algebraic agg). The oracle
    * pins the EXACT columns plus the truth of a rank-window bound on
    * the sketch estimates (q18's HLL pattern): with accuracy 10 000 the
    * returned value's rank error is ≤ n/10 000, far inside the
    * [p49, p51] / [p89, p91] exact windows asserted here — so the
    * check is deterministic, not tolerance-tuned. The window check is
    * gated to n ≥ 100: the sketch returns an ACTUAL sample while the
    * exact window interpolates, and below ~100 rows a ±0.01-rank
    * window can fall between two samples (n = 2, values [0, 10]:
    * p49..p51 interpolate to [4.9, 5.1], excluding the correct sample
    * 0) — the gate keeps the oracle's hardcoded `true` honest for any
    * fixture regeneration, asserting the bound exactly where the
    * rank-error argument applies. */
  val approxQuantiles: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // ONE buffer for all six exact cut points and one sketch for
        // both approx points (see quantiles) — this was six
        // independent collect-and-sort buffers per group before
        percentile(col("value"), array(lit(0.49), lit(0.5), lit(0.51),
          lit(0.89), lit(0.9), lit(0.91))).as("ex"),
        approx_percentile(col("value"), array(lit(0.5), lit(0.9)),
          lit(10000)).as("ap"))
      .select(col("event_type"), col("n"),
        round(col("ex").getItem(1), 4).as("p50_exact"),
        round(col("ex").getItem(4), 4).as("p90_exact"),
        (col("n") < 100 ||
          (col("ap").getItem(0) >= col("ex").getItem(0) &&
            col("ap").getItem(0) <= col("ex").getItem(2)))
          .as("p50_within"),
        (col("n") < 100 ||
          (col("ap").getItem(1) >= col("ex").getItem(3) &&
            col("ap").getItem(1) <= col("ex").getItem(5)))
          .as("p90_within"))

  /** Binned range join (q87) — the Spark-first answer to an interval
    * join with NO equi key, which Catalyst would otherwise execute as a
    * BroadcastNestedLoopJoin (per-pair predicate evaluation — a
    * cartesian in disguise at corpus scale): for every purchase event,
    * count ALL events (any user — burst correlation) inside its
    * [ts, ts + 5 min) window. The time axis is binned at the window
    * width, each probe explodes into its two covered bins, and the join
    * becomes EQUI on the bin key — shuffle-partitioned, AQE-planable,
    * skew bounded by per-bin occupancy (bin width is the knob). An
    * event lives in exactly one bin, so a probe matches it at most once
    * — no dedup needed — and the residual exact-range filter runs
    * INSIDE the join. Micros arithmetic is exact integers in both
    * engines (unix_micros / epoch_us). The oracle deliberately takes
    * the other road — DuckDB's native inequality join — so agreement
    * proves the binned rewrite is semantically exact, not an
    * approximation. PlanAuditSpec pins the no-BNLJ/no-cartesian shape. */
  val rangeJoin: Q = (s, d) => {
    val binUs = 300000000L // 5 min in micros == the window width
    val tsUs = unix_micros(col("ts")) // ts normalized to LTZ in Tables.events
    val ev = t(s, d, "events")
      .select(col("event_id").as("e_id"), tsUs.as("e_us"))
      .withColumn("bin", expr(s"e_us div $binUs"))
    val probes = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), tsUs.as("p_us"))
      .withColumn("bin",
        explode(array(expr(s"p_us div $binUs"), expr(s"p_us div $binUs + 1"))))
    probes.join(ev, Seq("bin"))
      .filter(col("e_us") >= col("p_us") && col("e_us") < col("p_us") + binUs)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_in_window"))
  }

  /** q89: SkewJoin.saltedJoin end-to-end under the driver oracle —
    * lineitem (big, salted) ⋈ part (replicated ×8) on partkey, rolled
    * up by brand. The oracle is the PLAIN join: agreement proves
    * salting is a pure physical rewrite (SkewJoinSpec already pins
    * row-level parity and hot-key spreading; this promotes the
    * operator from spec-checked to driver-oracle-checked, as the
    * round-5 verdict did for the Publisher SQL twins). */
  val saltedJoinQuery: Q = (s, d) =>
    SkewJoin.saltedJoin(
      t(s, d, "lineitem").select(col("l_partkey"), col("l_quantity")),
      t(s, d, "part").select(col("p_partkey").as("l_partkey"), col("p_brand")),
      "l_partkey", 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** As-of join: each event paired with the user's most recent order at
    * or before the event time — an operator Spark lacks natively.
    * Implemented as the merge form: union both sides tagged by kind,
    * ONE shuffle + sort on (user, time, kind), then a running
    * last(ignoreNulls) carries the latest order forward to each event.
    * Unlike the join-then-rank composition, this never fans an event out
    * to the user's whole order history — per-row state is O(1), so a
    * power user with 10^6 orders costs 10^6 rows, not 10^6 × events.
    * Orders pre-aggregated to one row per (custkey, date) so the pick is
    * deterministic; kind sorts orders before events at the same instant
    * (ASOF is ≤). DuckDB's native ASOF JOIN is the oracle. */
  val asofJoin: Q = (s, d) => {
    val o = t(s, d, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("last_order"))
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("t"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"),
        col("o_orderdate").as("odate"), col("last_order"))
    val e = t(s, d, "events")
      .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("date").as("odate"),
        lit(null).cast("long").as("last_order"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof_odate", last(col("odate"), ignoreNulls = true).over(w))
      .withColumn("asof_order", last(col("last_order"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("asof_odate").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_format(col("asof_odate"), "yyyy-MM-dd").as("asof_date"),
        col("asof_order").as("last_order"))
  }

  /** Sequence packing — the concat-and-chunk strategy of LLM
    * pretraining pipelines: concatenate documents in a deterministic
    * order, cut every `budget` tokens, and every chunk becomes one
    * training sequence. A document belongs to the chunk its FIRST token
    * lands in (bin = running-total-before ÷ budget). Packing is
    * shard-local (shard = doc_id % 8): each shard packs independently
    * under its own window, so at 100 TB the shuffle is one exchange on
    * the shard key and no window ever sees more than corpus/shards rows
    * — the global-window single-partition cliff never appears. Emitted
    * per (shard, bin): docs packed, tokens filled, and the doc-id range
    * the chunk covers. */
  val sequencePack: Q = (s, d) => {
    val budget = 2048
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_after", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum_after - n_tokens) div $budget"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_filled"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  case class PackIn(shard: Long, doc_id: Long, n_tokens: Long)
  case class PackBin(shard: Long, bin: Long, n_docs: Long, tok_filled: Long,
      first_doc: Long, last_doc: Long)

  /** The first-fit recurrence as a constant-state lazy iterator over
    * one shard's doc_id-sorted rows (q68's per-shard step; PropertySpec
    * pins its invariants). */
  def packShard(shard: Long, it: Iterator[PackIn],
      budget: Long = 2048L): Iterator[PackBin] =
    new Iterator[PackBin] {
      private var binId = -1L
      private var fill, nDocs, firstDoc, lastDoc = 0L
      private var pending: PackIn = if (it.hasNext) it.next() else null
      def hasNext: Boolean = pending != null
      def next(): PackBin = {
        while (pending != null &&
            (nDocs == 0 || fill + pending.n_tokens <= budget)) {
          if (nDocs == 0) { binId += 1; fill = 0; firstDoc = pending.doc_id }
          fill += pending.n_tokens; nDocs += 1; lastDoc = pending.doc_id
          pending = if (it.hasNext) it.next() else null
        }
        val out = PackBin(shard, binId, nDocs, fill, firstDoc, lastDoc)
        nDocs = 0; fill = 0
        out
      }
    }

  /** Greedy NO-SPLIT packing (q68) — the other canonical pretraining
    * packing strategy next to q57's concat-and-chunk: documents stay
    * whole; a bin accepts docs in doc_id order until the next one would
    * overflow the budget, then a fresh bin opens (an oversize doc gets a
    * bin to itself). The running "fill" resets on overflow, which no
    * built-in window can express (cum-sum-with-reset is inherently
    * sequential), so this is the repo's one designed use of the
    * typed-Dataset escape hatch: groupByKey(shard) +
    * flatMapSortedGroups walks each shard's docs in order through
    * [[packShard]]'s constant-state lazy iterator — O(1) memory per
    * shard, bins stream out as they close, nothing buffers. Sharding
    * makes it scale exactly like q57: one exchange on the shard key,
    * shards pack independently (production would key shards ≈ corpus /
    * executor-target rather than the fixture's % 8). Oracle = a DuckDB
    * recursive CTE walking the same order — an independent sequential
    * formulation of the same recurrence. */
  val packGreedy: Q = (s, d) => {
    import s.implicits._
    t(s, d, "documents")
      .select((col("doc_id") % 8).as("shard"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[PackIn]
      .groupByKey(_.shard)
      .flatMapSortedGroups($"doc_id")((sh: Long, it: Iterator[PackIn]) =>
        packShard(sh, it))
      .toDF()
  }

  /** The end-to-end training-data pipeline as ONE composed plan — the
    * proof that the engine's stages are orthogonal operators, not
    * stovepipes: quality gate (q40's thresholds on the fused TextStats
    * pass) → exact-dedup keepers (q23's min-doc-id-per-hash, left-semi)
    * → deterministic mixture sampling (q60's integer-hash rule) →
    * concat-and-chunk sequence packing (q57's shard-local window) →
    * per-shard report. Shuffle ledger for the whole pipeline: one
    * exchange on the content hash (dedup), one on the shard key
    * (packing) — the gates are all map-side. Emissions are exact
    * integers. */
  val e2ePipeline: Q = (s, d) => {
    val budget = 2048
    val scored = t(s, d, "documents")
      .withColumn("st", graft.expressions.TextHashes.text_stats(
        col("text"), Seq(graft.functions.TextOps.stopwords)))
      .select(col("doc_id"), col("lang"),
        col("st")(1).as("n_tokens"),
        (col("st")(3).cast("double") / col("st")(1)).as("stop_ratio"),
        md5(col("text").cast("binary")).as("h"))
    val keepers = scored.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val kept = scored
      .join(keepers, Seq("h", "doc_id"), "left_semi")
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
        col("stop_ratio") <= 0.5)
      // literally q60's admission predicate — shared, cannot drift
      .filter(graft.functions.TextOps.mixtureKeep(col("doc_id"), col("lang")))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept
      .withColumn("shard", col("doc_id") % 8)
      .withColumn("cum_after", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum_after - n_tokens) div $budget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("bin")).as("n_bins"),
        sum(col("n_tokens")).as("tok_total"))
  }

  /** q118: retention cohorts over the event stream — the classic
    * product-analytics matrix (cohort = a user's first active day;
    * cell (cohort_day, day_offset) counts users active offset days
    * later). Shape chosen for ONE user-keyed shuffle: per-user
    * `min(day)` and the distinct active-day set come out of the same
    * groupBy (collect_set is bounded by the observation window — a
    * user has ≤ window-length distinct days, ≤366 for a year, so the
    * row is small by construction); exploding that set back yields
    * exactly one row per (user, active day), which makes the final
    * cell count a plain count(*) — no second exact-distinct state.
    * At 100 TB: shuffle #1 carries event rows combiner-compressed to
    * one row per user; shuffle #2 carries cohort×offset cells. */
  val retentionCohorts: Q = (s, d) =>
    retentionCohortsOver(t(s, d, "events"))

  /** The q118 engine over any frame with (user_id, ts). */
  private[graft] def retentionCohortsOver(events: DataFrame): DataFrame =
    // a timestampless event is no evidence of activity — and the null
    // must not reach the engines' DIVERGENT null semantics (Spark's
    // collect_set drops nulls, SQL GROUP BY keeps a NULL cell)
    cohortMatrixOf(events.filter(col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day")))

  /** The cohort matrix from an activity frame (user_id, day) — shared
    * by the batch query and the q122 sink read (whose stored set is
    * already distinct; the groupBy's collect_set absorbs either way). */
  private[graft] def cohortMatrixOf(activity: DataFrame): DataFrame =
    activity
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"),
        collect_set(col("day")).as("days"))
      .select(col("user_id"), col("cohort_day"),
        explode(col("days")).as("day"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** q122: the LIVE cohort matrix ≡ the q118 batch answer, with the
    * activity-set sink's whole lifecycle under the driver's hash gate
    * (the q102 pattern — fold of the first two cuts + live tail). The
    * events are cut by event_id, NOT by user: a user's activity
    * straddles every batch boundary, and the same (user, day) pair
    * lands in multiple segments — legal ONLY because this sink's
    * reconcile is an idempotent set union (see RetentionSink; the
    * counting sinks' one-doc-one-batch admission contract is exactly
    * what this lifecycle does not need). The tail cut is REPLAYED, so
    * the gate also certifies at-least-once idempotence, the q116
    * convention. */
  val retentionStream: Q = (s, d) =>
    // kind carries the layout version (see LedgerStore): an older
    // layout must rebuild
    cohortMatrixOf(graft.sinks.RetentionSink.read(s,
      ensureEventCutLifecycle(s, d, "retentionstream-v3side")))

  /** Three-cut lifecycle state over the EVENTS table (the q102/q103
    * builder keyed to documents; this one cuts events by event_id):
    * three batches written, compacted (the row-store protocol keeps
    * batch 2 as the replayable tail and folds 0+1 — writing all three
    * BEFORE the compact is load-bearing, the r16 lifecycle-order
    * lesson), then batch 2 REPLAYED (idempotence under the same gate).
    * Tagged by the events fixture and published by
    * [[graft.sinks.Lifecycle]]. */
  private def ensureEventCutLifecycle(s: SparkSession, d: String,
      kind: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("events"), kind) { loc =>
      val ev = t(s, d, "events")
      def cut(b: Long) = ev.filter(pmod(col("event_id"), lit(3)) === b)
      val w = graft.sinks.RetentionSink.writer(loc)(_, _)
      w(cut(0), 0L)
      w(cut(1), 1L)
      w(cut(2), 2L)
      graft.sinks.RetentionSink.compact(s, loc) // folds 0+1, 2 = tail
      w(cut(2), 2L) // at-least-once replay of the live tail
    }

  /** q175: USER-level retraction through the retention store — the
    * GDPR-shaped request (the reference's user_info dim CDC delete,
    * `app/OdsBaseDbApp.scala:121-139`) applied to the behavioral tier:
    * delete users ≡ 3 (mod 10), RESURRECT the ≡ 3 (mod 20) half by
    * re-ingesting their full activity (the user re-signed-up — their
    * history restores and they re-cohort from the live set), fold
    * (user tombstones cross the boundary), live-tail re-retract the
    * ≡ 3 (mod 40) quarter. The served cohort matrix is hash-gated
    * against q118's batch oracle over the LIVE users only. */
  val retentionRetract: Q = (s, d) =>
    cohortMatrixOf(graft.sinks.RetentionSink.read(s,
      ensureUserRetractLifecycle(s, d, "retentionretract-v2side",
        t(s, d, "events"), col("event_id"),
        graft.sinks.RetentionSink.writer,
        graft.sinks.RetentionSink.retract,
        loc => graft.sinks.RetentionSink.compact(s, loc))))

  /** q176: the q175 matrix on the finalized-session store — a deleted
    * user's sessions leave the corpus summary (count, means, and
    * conversion rate all shift to the live users exactly). Sessions
    * are batch-built by [[gapSessionsOf]] (the q147 sessionizer — the
    * same rows the streaming session_window finalizes) and cut by
    * start_us; retraction is per user_id. Hash-gated against q147's
    * batch oracle over the live users. */
  val sessionRetract: Q = (s, d) =>
    sessionSummaryOf(graft.sinks.SessionSink.read(s,
      ensureUserRetractLifecycle(s, d, "sessionretract-v2side",
        gapSessionsOf(t(s, d, "events")), col("start_us"),
        graft.sinks.SessionSink.writer,
        graft.sinks.SessionSink.retract,
        loc => graft.sinks.SessionSink.compact(s, loc))))

  /** The user-keyed retraction lifecycle twin of
    * [[graft.functions.TextOps.ensureRetractLifecycle]] (doc-keyed,
    * documents-tagged) for the behavioral stores: `rows` is the
    * ingestable frame (raw events, or batch-built sessions), cut into
    * three batches by `cutCol` pmod 3 — a USER's rows straddle every
    * cut on purpose; these stores' set semantics never needed the
    * one-key-one-batch admission contract — through the shared
    * [[graft.sinks.Lifecycle.retractCuts]] script with q167's masks
    * applied to user_id (retract ≡ 3 mod 10, re-ingest ALL rows of the
    * ≡ 3 mod 20 half, live-tail re-retract ≡ 3 mod 40). */
  private def ensureUserRetractLifecycle(s: SparkSession, d: String,
      kind: String, rows: => DataFrame, cutCol: Column,
      writer: String => (DataFrame, Long) => Unit,
      retractor: String => (DataFrame, Long) => Unit,
      compact: String => Unit): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("events"), kind)(
      graft.sinks.Lifecycle.retractCuts(rows, cutCol, writer, retractor,
        compact, graft.sinks.Lifecycle.halvingMasks(col("user_id"))))

  /** q121: ordered funnel over the event stream — per user, a click
    * counts only AFTER a view, a purchase only after such a click (the
    * product-analytics staple next to q118's cohort matrix). The
    * cascade is windowed, not joined: one (user, ts, event_id) sort
    * carries min-so-far marks for each step — `va` = earliest view
    * strictly before this row, `vb` = earliest view-qualified click
    * before it — so step membership is a filter on the same scan, and
    * the strict `1 PRECEDING` frame with the event_id tiebreak makes
    * same-timestamp sequences deterministic in both engines.
    *
    * Scale shape: ONE hash shuffle by user + one in-partition sort
    * feeds both window passes (same spec ⇒ no second exchange), then a
    * 3-way conditional distinct over users — shuffle rows bounded by
    * |users| × 3 after partial aggregation. No self-join: the join
    * formulation of funnels explodes on power users (events² per
    * user); the window form is linear in events. */
  val funnelSteps: Q = (s, d) =>
    funnelStepsOver(t(s, d, "events"))

  private[graft] def funnelStepsOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-ts events have no place in a SEQUENCE — and the engines
    // disagree on where nulls sort (Spark NULLS FIRST, DuckDB NULLS
    // LAST), so admitting one would silently reorder the cascade
    events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("va",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ts",
        when(col("event_type") === "click" && col("va").isNotNull, col("ts")))
      .withColumn("vb", min(col("click_ts")).over(w))
      .agg(
        countDistinct(when(col("event_type") === "view", col("user_id")))
          .as("n_view"),
        countDistinct(when(col("click_ts").isNotNull, col("user_id")))
          .as("n_view_click"),
        countDistinct(when(col("event_type") === "purchase" &&
            col("vb").isNotNull, col("user_id")))
          .as("n_view_click_purchase"))
  }

  /** q124: last-touch attribution — every purchase credits its value to
    * the most recent PRIOR click of the same user (the q121 cascade's
    * sibling: max-so-far instead of min-so-far, value rollup instead of
    * step counts). Same one-sort window shape, linear in events; the
    * rollup keys on the credited click's day, so the report reads "the
    * clicks of day X drove $Y of purchases". */
  val lastTouchAttribution: Q = (s, d) =>
    lastTouchAttributionOver(t(s, d, "events"))

  private[graft] def lastTouchAttributionOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // same null-sequence refusal as the funnel (see funnelStepsOver)
    events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase" && col("last_click_ts").isNotNull)
      .groupBy(date_format(col("last_click_ts"), "yyyy-MM-dd")
        .as("attributed_day"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("attributed_value"))
  }

  /** q127: next-event transition matrix (first-order Markov view of the
    * user journey — the "where do users go after X" report behind every
    * path-analysis UI). Same one-sort shape as the q121/q124 cascade:
    * ONE hash shuffle by user + one in-partition (ts, event_id) sort
    * feeds `lead`, the pair agg combiner-collapses to the |types|²
    * grid map-side, and the transition probability is a window over
    * that tiny grid — never a second pass over events. Linear in
    * events; the self-join formulation of path analysis is events² on
    * power users, same refusal as the funnel. */
  val eventTransitions: Q = (s, d) =>
    eventTransitionsOver(t(s, d, "events"))

  private[graft] def eventTransitionsOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // same null-sequence refusal as the funnel (see funnelStepsOver)
    transitionMatrixOf(events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("src"), col("next_type").as("dst")))
  }

  /** The transition matrix from a (src, dst) pair frame — shared by the
    * q127 batch query and the q133 sink read, so the two cannot drift
    * (the cohortMatrixOf convention). */
  private[graft] def transitionMatrixOf(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      // RAW quotient of two exact integers, not round(·,6): one IEEE
      // division is bit-identical in both engines, while a 6-decimal
      // round can land on an exact .xxxxxx5 half-way where Spark
      // (decimal HALF_UP) and DuckDB (scaled double) disagree — the
      // q143 class the sf0.1 soak caught in r14
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"))

  /** q133: the LIVE transition matrix ≡ the q127 batch answer, produced
    * by the REAL stateful engine ([[graft.streaming.Streams
    * .transitionPairs]]) running over a file-source stream — not a
    * foreachBatch replay of the batch operator. The lifecycle (see
    * [[ensureTransitionLifecycle]]) feeds the events table through
    * three (ts, event_id)-ordered cuts so cross-cut sequences are
    * genuinely split across micro-batches, duplicates one batch's sink
    * write (at-least-once — the pair rows' (user_id, from_id) key makes
    * the set-union reconcile collapse it), and compacts before the
    * read. The matrix derives from the stored pair set at read time
    * (grid-sized; the q122 derive-at-read argument). */
  val transitionsStream: Q = (s, d) =>
    transitionMatrixOf(graft.sinks.TransitionSink
      .read(s, ensureTransitionLifecycle(s, d))
      .select(col("src"), col("dst")))

  /** Builds (once per fixture generation) the q133 streaming lifecycle
    * state: the null-ts-filtered events table is written as three
    * (ts, event_id)-ordered parquet cut files plus two far-future
    * single-event sentinel files (distinct sentinel users, so they can
    * never pair), each with a strictly increasing mtime — a file-source
    * stream with maxFilesPerTrigger=1 then replays them as five
    * deterministic micro-batches through the stateful engine into the
    * pair sink. Why TWO sentinels: event-time timeouts fire when the
    * watermark moves strictly PAST the flush timestamp, and the
    * watermark available to batch N is computed from batch N-1 — the
    * first sentinel advances it past every real event, the second
    * delivers that watermark to the timed-out groups. Ordered cuts make
    * arrival respect the (ts, event_id) total order ACROSS batches
    * (within a batch the engine's buffer sorts), so delay=0 flushes
    * exactly; same-ts groups cannot straddle cuts out of order because
    * the cut key IS the total order. Batch 1's sink write is issued
    * twice (at-least-once replay), and the store is compacted before
    * the state is marked complete. */
  private def ensureTransitionLifecycle(s: SparkSession, d: String): String =
    // delay is NOT zero: with delay=0 a same-ts group straddling a cut
    // boundary would sit exactly ON the next batch's watermark, where
    // the engine's late-row strictness (< vs <=) decides whether the
    // tie survives — 1 hour of slack keeps every cut-N event strictly
    // inside the admission line, and the sentinels' +1/+2 days still
    // flush everything (shared by all four sequence lifecycles)
    ensureOrderedFeedLifecycle(s, d, "transstream")(ds =>
      graft.streaming.Streams.transitionPairs(ds, delay = "1 hour").toDF())(
      graft.sinks.TransitionSink.writer, graft.sinks.TransitionSink.compact)

  /** Stages (once per fixture generation) the shared ordered-feed
    * lifecycle state, streams the staged feed through the
    * operator-specific `op` into `writer`'s store — duplicating batch
    * 1's write (at-least-once) — and compacts it (see
    * [[ensureTransitionLifecycle]] / [[ensureFunnelLifecycle]]).
    * Returns the store path. */
  private def ensureOrderedFeedLifecycle(s: SparkSession, d: String,
      kind: String, project: DataFrame => DataFrame = identity)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streams.TransEvent]
        => DataFrame)(
      writer: String => (DataFrame, Long) => Unit,
      compact: (SparkSession, String) => Unit): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("events"), kind) { loc =>
      val feed = s"$loc/__feed"
      val ev = project(t(s, d, "events")).filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val cutW = Window.orderBy(col("ts"), col("event_id"))
      // ntile over the total order → three contiguous, ordered cuts.
      // The single-partition window is lifecycle HARNESS cost, not
      // operator cost (it stages the fixture into arrival order once
      // per generation); production arrival order comes from the
      // source.
      val cut = ev.withColumn("__cut", ntile(3).over(cutW))
      def sentinel(uid: Long, plusMs: Long) = {
        import s.implicits._
        Seq((uid, new java.sql.Timestamp(maxTs.getTime + plusMs),
          // "heartbeat" is outside every sequence operator's alphabet:
          // the funnel fold must no-op it (a "view" would open step 1
          // for the synthetic user); the pair fold never cared (a
          // single-event user emits no pair whatever its type)
          -1L, "heartbeat")).toDF("user_id", "ts", "event_id", "event_type")
      }
      val chunks = (1 to 3).map(i =>
        cut.filter(col("__cut") === i).drop("__cut")
          .sortWithinPartitions(col("ts"), col("event_id"))) ++
        Seq(sentinel(-1L, 86400000L), sentinel(-2L, 172800000L))
      graft.sinks.Lifecycle.stageFeed(s, loc, feed, chunks)
      val q = op(
        s.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(feed)
          .as[graft.streaming.Streams.TransEvent](
            org.apache.spark.sql.Encoders.product))
        .writeStream
        .option("checkpointLocation", s"$loc/__ckpt")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          writer(s"$loc/store")(batch, bid)
          if (bid == 1L) // at-least-once: duplicate one delivery
            writer(s"$loc/store")(batch, bid)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      compact(s, s"$loc/store")
    } + "/store"

  /** q140: the LIVE funnel ≡ the q121 batch answer, through the same
    * stateful ordered-replay engine as q133 ([[graft.streaming.Streams
    * .funnelAdvance]] rides the shared orderedFold scaffold) and its own
    * set-union sink keyed (user_id, step). Same lifecycle recipe —
    * ordered cuts split sequences across micro-batches for real, one
    * duplicated write, compaction — and the three counts derive from
    * the stored advance set at read time (1-row answer; the q133
    * derive-at-read argument). */
  val funnelStream: Q = (s, d) => {
    val steps = graft.sinks.FunnelSink.read(s, ensureFunnelLifecycle(s, d))
    steps.agg(
      count(when(col("step") === 1, 1)).as("n_view"),
      count(when(col("step") === 2, 1)).as("n_view_click"),
      count(when(col("step") === 3, 1)).as("n_view_click_purchase"))
  }

  /** The q140 lifecycle: the SAME staged ordered feed recipe as q133
    * (see [[ensureOrderedFeedLifecycle]]), streamed through
    * funnelAdvance into the FunnelSink. The watermark sentinels are
    * staged as type "heartbeat" — outside the funnel alphabet, so the
    * fold no-ops them (a "view" sentinel would have opened step 1 for
    * its synthetic user and shifted n_view by two; q133 never cared
    * because a single-event user emits no pair either way). */
  private def ensureFunnelLifecycle(s: SparkSession, d: String): String =
    ensureOrderedFeedLifecycle(s, d, "funnelstream")(ds =>
      graft.streaming.Streams.funnelAdvance(ds, delay = "1 hour").toDF())(
      graft.sinks.FunnelSink.writer, graft.sinks.FunnelSink.compact)

  /** q144: the LIVE dwell report — q138's gap set produced by the
    * dwellPairs fold (transitionPairs carrying time: the buffer holds
    * event-time MICROS, so each emitted gap is bit-identical to the
    * batch unix_micros difference) through its own set-union sink keyed
    * (user_id, from_id). The report derives at read time; tails never
    * emit, exactly the batch null-gap rows, so the oracle drops q138's
    * n_events column (the store intentionally holds only attributed
    * dwell — an event count is the q02 scan, not dwell state). */
  val dwellStream: Q = (s, d) => {
    val pairs = graft.sinks.DwellSink.read(s,
      ensureOrderedFeedLifecycle(s, d, "dwellstream")(ds =>
        graft.streaming.Streams.dwellPairs(ds, delay = "1 hour").toDF())(
        graft.sinks.DwellSink.writer, graft.sinks.DwellSink.compact))
    pairs.groupBy(col("from_type"))
      .agg(count(lit(1)).as("n_with_next"),
        // raw quotients, matching dwellTimeOver exactly (q143 class)
        (sum(col("gap_us")) / lit(1000000.0)).as("total_dwell_sec"),
        ((sum(col("gap_us")) / lit(1000000.0)) / count(lit(1)))
          .as("mean_dwell_sec"))
  }

  /** q145: the LIVE point-in-time join — q136's as-of reads produced by
    * the pitReads fold: by the time a purchase replays, the accumulator
    * holds exactly the change rows strictly before it in the total
    * order, so "state valid at the purchase" is an accumulator read
    * with no interval bookkeeping. The staging adapter folds the change
    * payload into the event-type tag ("change:<k>" / "purchase" /
    * "other") — a production stream carries a typed column; the tag is
    * the TransEvent envelope's one string field. Hash-equals the q136
    * batch oracle. */
  val pitStream: Q = (s, d) => {
    val isChange = col("event_type").isin("signup", "click", "view")
    val tagged = (ev: DataFrame) => ev.withColumn("event_type",
      when(isChange, concat(lit("change:"),
        coalesce(get_json_object(col("props"), "$.k").cast("long")
          .cast("string"), lit(""))))
        .when(col("event_type") === "purchase", lit("purchase"))
        .otherwise(lit("other")))
    val reads = graft.sinks.PitSink.read(s,
      ensureOrderedFeedLifecycle(s, d, "pitstream", tagged)(ds =>
        graft.streaming.Streams.pitReads(ds, delay = "1 hour").toDF())(
        graft.sinks.PitSink.writer, graft.sinks.PitSink.compact))
    reads.select(col("event_id"), col("user_id"),
      date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss")
        .as("purchase_ts"),
      col("state_version"), col("state_k"))
  }

  /** q129: SCD type-2 history build from the CDC stream — each upsert
    * (the q12 I/U op set) opens a version row; `lead(ts)` closes the
    * previous one; the open row is the current version. The warehouse
    * staple the reference's Maxwell pipeline feeds but never builds
    * (ref app/OdsBaseDbApp.scala routes ops, stops at the sink). One
    * user-keyed shuffle + one (ts, event_id) in-partition sort carries
    * BOTH window passes (row_number and lead share the spec ⇒ one
    * Sort); linear in change events. Null-ts refusal as in the funnel:
    * a timestampless change cannot be versioned, and the engines'
    * divergent null ordering would silently shift every valid_to after
    * it. */
  val scd2History: Q = (s, d) =>
    scd2HistoryOver(t(s, d, "events"))

  private[graft] def scd2HistoryOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .filter(col("ts").isNotNull &&
        col("event_type").isin("signup", "click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("k"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        when(col("valid_to_ts").isNull, 1).otherwise(0).as("is_current"))
  }

  /** Exact global rank WITHOUT SinglePartition: range-repartition on
    * the sort key (partitions are ordered and disjoint), sort within,
    * then RDD.zipWithIndex — whose internal size pass ships one LONG
    * per partition, so no executor ever holds the whole frame (the
    * q90 objection to `Window.orderBy` with no partition key, solved
    * instead of avoided). The rank is exact regardless of where the
    * sampled range boundaries fall: partition-offset + local index IS
    * the global position. Caller MUST pass a total order (tiebreak to
    * uniqueness) — ties would otherwise rank partitioning-dependent.
    * The RDD hop is the genuine imperative case (Spark exposes no
    * declarative distributed rank); everything before it stays
    * codegen'd, everything after is a users-sized frame. */
  private[graft] def withGlobalRank(df: DataFrame, rankName: String,
      sortCols: Column*): DataFrame = {
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
      .add(rankName, org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(ranked, schema)
  }

  /** SQL-standard NTILE(k) from an exact 1-based rank over n rows: the
    * first n%k buckets take ceil(n/k) rows, the rest floor(n/k) —
    * integer arithmetic only, so the bucket ids are bit-identical to
    * the oracle's native ntile. (The q=0 division below is guarded by
    * the branch: when n<k every rank satisfies the ceil-bucket arm.) */
  private[graft] def ntileOfRank(rank: Column, n: Long, k: Int): Column = {
    val q = n / k
    val m = n % k
    when(rank <= (q + 1) * m, floor((rank - 1) / (q + 1)) + 1)
      .otherwise(lit(m) + floor((rank - 1 - m * (q + 1)) / lit(q)) + 1)
      .cast("long")
  }

  /** q128: RFM segmentation — recency/frequency/monetary quintiles per
    * purchasing user, the marketing-analytics staple. The interesting
    * operator is the EXACT global quantile assignment: NTILE needs a
    * total order over all users, which the naive window
    * (`Window.orderBy` with no partition) computes on ONE partition —
    * a scale-killer the q90 shuffle deliberately avoided. Here it is
    * solved exactly: ONE composite range-partitioned global rank (see
    * withGlobalRank) over the three union-tagged metrics extracts the
    * ≤12 NTILE BOUNDARY rows, and the bucket labels are map-side
    * comparisons against those collected literals — reproducing the
    * oracle's native ntile bit-for-bit with no single-partition stage
    * and no per-row rank join (the r16 shape paid three rank
    * materializations plus three user-keyed joins for the same answer).
    * Scale shape: events collapse to one row per purchasing user in
    * the first shuffle; the one rank pass runs on 3× that users-sized
    * frame (1000× below event volume); the final grid is ≤ k³ rows.
    * The driver-side reads are a count and the 12 boundary rows.
    * Ties (shared recency day / frequency / rounded monetary) are
    * broken by user_id in BOTH engines, so bucket boundaries cannot
    * drift. */
  val rfmSegments: Q = (s, d) => rfmSegmentsOver(t(s, d, "events"))

  private[graft] def rfmSegmentsOver(events: DataFrame): DataFrame = {
    val ev = events.filter(col("ts").isNotNull)
    val ref = ev.agg(max(to_date(col("ts"))).as("ref_day"))
    // monetary in EXACT quantized integers (the q141 pattern): a double
    // sum(value) is shuffle-order-dependent at the ulp, and a per-user
    // landing within an ulp of a .005 rounding boundary could round
    // differently between the engines and SHIFT a quintile boundary.
    // floor(value*1e6) is computed identically on identical doubles;
    // the integer sum is exact in both engines, so the m-rank orders
    // the identical quantity everywhere. LONG micros, not decimal: a
    // per-USER monetary overflows int64 only past ~9.2e18 micros =
    // $9.2 trillion of purchases by one user — outside any real-world
    // envelope (unlike q141's corpus-wide product sums, which do need
    // 128-bit) — and the decimal agg measured 2.3× slower end-to-end
    // (1.38 s vs 0.59 s at sf0.1). ANSI mode would make an overflow
    // loud, not wrong.
    val per = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(floor(col("value") * lit(1000000.0))).as("micros"))
      .crossJoin(broadcast(ref))
      .select(col("user_id"),
        datediff(col("ref_day"), col("last_day")).as("recency_days"),
        col("frequency"), col("micros"))
      .persist()
    val n = per.count() // bounded driver scalar: one long
    // NTILE via its BOUNDARY rows, not per-row rank (r17): bucket(x) =
    // 1 + |{b ∈ 1..4 : x > boundary_b}| where boundary_b is the row AT
    // rank cum_b (the last row of bucket b) — identical to the rank
    // formula because each sort is a total order (value, user_id), so
    // x > boundary_b ⟺ rank(x) > cum_b. That turns the r16 shape's
    // three full-frame rank materializations + three user-keyed joins
    // into ONE composite rank pass — the three metrics union-tagged
    // into a single range-partitioned sort (descending metrics negated
    // so every tag ranks ascending, and offset(tag) is exactly tag·n)
    // — whose only output is ≤12 boundary rows collected to the driver
    // (the winsorize convention: a bounded model read); the quintile
    // labels become map-side literal comparisons on the cached
    // per-user frame. Exchanges 7 → 3, and the users frame leaves the
    // JVM row format once (the rank pass) instead of four times.
    // Empty-bucket edge (n < 5): duplicate cum values all equal n, so
    // their shared boundary is the global max and each duplicate term
    // is false for every row — bit-identical to ntile (JourneyOpsSpec
    // pins the hand grid AND a random sweep incl. n < k against the
    // native-ntile reference).
    val q5 = n / 5
    val m5 = n % 5
    def cum(b: Int): Long =
      if (b <= m5) b * (q5 + 1) else m5 * (q5 + 1) + (b - m5) * q5
    val comp = per.select(lit(0).as("tag"),
        col("recency_days").cast("long").as("val"), col("user_id"))
      .unionByName(per.select(lit(1).as("tag"),
        (-col("frequency")).as("val"), col("user_id")))
      .unionByName(per.select(lit(2).as("tag"),
        (-col("micros")).as("val"), col("user_id")))
    val branks = (for { tag <- 0 to 2; b <- 1 to 4; c = cum(b) if c > 0 }
      yield tag * n + c).distinct
    val bnd = withGlobalRank(comp, "__r", col("tag"), col("val"), col("user_id"))
      .filter(col("__r").isin(branks: _*))
      .select(col("val"), col("user_id"), col("__r"))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).toMap
    def bucketOf(name: String, tag: Int, valC: Column): Column =
      (1 to 4).foldLeft(lit(1L)) { (acc, b) =>
        bnd.get(tag * n + cum(b)) match {
          case Some((v, u)) => acc + when(valC > v ||
            (valC === v && col("user_id") > u), lit(1L)).otherwise(lit(0L))
          case None => acc
        }
      }.as(name)
    val grid = per.select(col("user_id"), col("micros"),
        bucketOf("r_q", 0, col("recency_days").cast("long")),
        bucketOf("f_q", 1, -col("frequency")),
        bucketOf("m_q", 2, -col("micros")))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        // RAW quotient of the exact integer cell total (the q143
        // class: micros/1e6 has 6 decimals, so a 2-decimal round can
        // land exactly on a .xx5 half-way) — no order-dependent sum
        // anywhere. The CELL total stays decimal: it sums across users, where the
        // per-user real-world envelope doesn't bound it (this agg is
        // 125 rows — the decimal cost is nothing here).
        (sum(col("micros").cast("decimal(38,0)")).cast("double") /
          lit(1000000.0)).as("total_monetary"))
    // materialize the ≤k³-row grid so the per-user cache can be released
    // NOW (the rank RDDs' lineage re-reads `per` at execution time — a
    // lazily returned plan would either leak one cached copy per call
    // or recompute the event scan three times). Bounded by construction:
    // 125 rows, the serving-endpoint collect envelope.
    val out = grid.collect()
    per.unpersist()
    events.sparkSession.createDataFrame(
      events.sparkSession.sparkContext.parallelize(out.toIndexedSeq, 1),
      grid.schema)
  }

  /** q136: point-in-time state join — every purchase sees the SCD2
    * state (q129's version chain) valid AT its timestamp, never a later
    * one. The feature-store staple: training rows joined to features
    * "as of" the label event, the join whose naive formulation (fact ⋈
    * history ON valid_from <= ts < valid_to) leaks future state the
    * moment the range predicate is mistyped and pays a range join
    * besides. Here there is NO join at all: purchases and state changes
    * live in the same ordered stream, so one (user, ts, event_id) sort
    * carries a struct-max window ("latest prior change row", the
    * lexicographic max of (ts, id, k) — null k rides along, exactly
    * q129's current row) and the version counter; both windows share
    * the one sort. Visibility ties are decided by the (ts, event_id)
    * total order in BOTH engines: a change at the purchase's own
    * timestamp is visible iff its event_id is smaller. Linear in
    * events, one user-keyed shuffle — the q121/q124/q127 cascade
    * family. */
  val pitStateJoin: Q = (s, d) => pitStateJoinOver(t(s, d, "events"))

  private[graft] def pitStateJoinOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isChange = col("event_type").isin("signup", "click", "view")
    // same null-sequence refusal as the funnel (see funnelStepsOver)
    events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("st", max(when(isChange,
        struct(col("ts").as("ts"), col("event_id").as("id"),
          col("k").as("k")))).over(w))
      .withColumn("state_version",
        count(when(isChange, lit(1))).over(w).cast("long"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("state_version"), col("st").getField("k").as("state_k"))
  }

  /** q137: winsorization — per-type value clipping at the exact p05/p95
    * quantiles, the outlier-taming pass a metrics pipeline runs before
    * any mean is trusted. The operator of interest is GROUPED EXACT
    * quantiles at scale: the textbook form (`percentile` per group, or
    * a row_number window partitioned by type) concentrates each group's
    * every value in one task — the hot-type partition IS the q128
    * single-partition objection, per group. Solved the q128 way,
    * generalized: range-repartition on (type, value, id) + zipWithIndex
    * gives exact GLOBAL ranks with no single partition, and because
    * range partitioning makes types contiguous, per-type rank is just
    * `global_rank − min(global_rank of the type) + 1` — the per-type
    * offsets fall out of the same tiny stats aggregate, no cumsum pass.
    * Quantile positions use the standard interpolated definition
    * (h = (n−1)p + 1, linear between floor/ceil ranks) written with the
    * SAME operand order in both engines so the bounds are bit-identical
    * before the round(·,6) pin. The bounds (|types| rows) are the one
    * bounded driver-side model read (the kmeans-centroid convention);
    * the clip pass broadcast-joins them back. Two scans of events total
    * — the irreducible cost of clip-against-own-quantiles. */
  val winsorize: Q = (s, d) => winsorizeOver(t(s, d, "events"))

  private[graft] def winsorizeOver(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
      .persist()
    val ranked = withGlobalRank(ev, "__r",
      col("event_type"), col("value"), col("event_id"))
    // Types are contiguous in the range order ⇒ a type's rank offset is
    // 1 + the row count of lexicographically-earlier types, so n and
    // off come from a |types|-row aggregate over the CACHED projection
    // — the r16 shape computed off as min(__r) over `ranked`, which
    // evaluated the whole range-repartition + sort + zipWithIndex
    // pipeline a second time just to read its first row per type (the
    // bounds pass below re-evaluated it anyway; rank passes halved
    // 2 → 1). The cumsum window runs on the |types|-row frame — the
    // bounded-model scale class, not a corpus window; its string
    // ordering is the same binary UTF8 comparison the range partitioner
    // sorts by.
    val cumW = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(cumW), lit(0L)) + 1L)
      .withColumn("h05",
        (col("n") - 1).cast("double") * lit(0.05) + lit(1.0))
      .withColumn("h95",
        (col("n") - 1).cast("double") * lit(0.95) + lit(1.0))
    val rk = col("__r") - col("off") + 1
    // h05/h95 are constant per type, so they may appear BOTH as plain
    // per-row columns inside the conditional (no nested aggregate) and
    // under max() for the frac term — same trick as the oracle SQL
    def interp(h: Column): Column = {
      val vLo = max(when(rk === floor(h), col("value")))
      val vHi = max(when(rk === ceil(h), col("value")))
      round(vLo + (max(h) - floor(max(h)).cast("double")) * (vHi - vLo), 6)
    }
    val bounds = ranked.join(broadcast(stats), Seq("event_type"))
      .filter(rk === floor(col("h05")) || rk === ceil(col("h05")) ||
        rk === floor(col("h95")) || rk === ceil(col("h95")))
      .groupBy(col("event_type"))
      .agg(interp(col("h05")).as("winsor_lo"),
        interp(col("h95")).as("winsor_hi"))
    // |types| rows — the bounded driver-side model read; materializing
    // here lets the cached projection be released before the clip pass
    val bRows = bounds.collect()
    ev.unpersist()
    val bDf = broadcast(events.sparkSession.createDataFrame(
      events.sparkSession.sparkContext.parallelize(bRows.toIndexedSeq, 1),
      bounds.schema))
    events.filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .join(bDf, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value") < col("winsor_lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("value") > col("winsor_hi"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        round(sum(least(greatest(col("value"), col("winsor_lo")),
          col("winsor_hi"))), 2).as("sum_winsorized"),
        max(col("winsor_lo")).as("winsor_lo"),
        max(col("winsor_hi")).as("winsor_hi"))
  }

  /** q138: dwell-time attribution — each event owns the gap to its
    * user's NEXT event, capped at the 30-minute session timeout (the
    * q36 gap), and the per-type rollup reads "users spend X seconds on
    * screens of type T". Same one-sort cascade as q121/q124/q127:
    * `lead` over (user, ts, event_id), then a map-side-combined agg to
    * the |types| grid. All gap arithmetic stays in exact integer
    * MICROseconds (the engines' double sums would be order-dependent);
    * the only doubles are the final exact-integer divisions — RAW
    * quotients, identical IEEE operations in both engines (the r15
    * q143-class sweep dropped the old round(·,6) pins, whose reachable
    * exact half-ways were a latent engine divergence). A user's last
    * event has no successor — counted in n_events, absent from dwell. */
  val dwellTime: Q = (s, d) => dwellTimeOver(t(s, d, "events"))

  private[graft] def dwellTimeOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // same null-sequence refusal as the funnel (see funnelStepsOver)
    events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      // least() IGNORES nulls in both engines (least(null, cap) = cap),
      // so the cap must be guarded or every tail event would be awarded
      // a phantom 30-minute dwell — caught by the hand fixture
      .withColumn("gap_us", when(col("next_ts").isNotNull,
        least(unix_micros(col("next_ts")) - unix_micros(col("ts")),
          lit(1800000000L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("gap_us")).as("n_with_next"),
        // RAW quotients (the q143 class): both engines run the same
        // IEEE divisions on the same exact integer sums, in the same
        // order — bit-identical; a round(·,6) can land on an exact
        // half-way where the engines' round implementations disagree
        (sum(col("gap_us")) / lit(1000000.0)).as("total_dwell_sec"),
        ((sum(col("gap_us")) / lit(1000000.0)) / count(col("gap_us")))
          .as("mean_dwell_sec"))
  }

  /** q139: deterministic negative sampling — for every customer with
    * purchase history, K=5 parts they never bought, the contrastive
    * negatives a recommender/retrieval trainer pairs with its
    * positives (q134 mines them in embedding space; this is the
    * interaction-table form). The refusal here is the |users|×|parts|
    * cross join the naive "rank all non-interactions" formulation
    * pays: candidates are GENERATED instead — 2K deterministic
    * pseudo-random part ids per user from the q71 multiplicative hash
    * (pure int64 arithmetic, bit-identical in both engines, no RNG) —
    * so the anti-join against interactions carries 2K·|users| rows,
    * and hash collisions / accidental positives just thin a user's
    * list below K (deterministically, in both engines). Scale shape:
    * one shuffle builds the distinct interaction set, one (c,p)-keyed
    * anti join prunes, and the per-user rank windows over ≤2K rows per
    * user. The part-catalog size is the one driver scalar
    * (crossJoin(broadcast(count)) — the q128 ref-day convention). */
  val negativeSample: Q = (s, d) =>
    negativeSampleOver(t(s, d, "orders"), t(s, d, "lineitem"), t(s, d, "part"))

  private[graft] def negativeSampleOver(orders: DataFrame,
      lineitem: DataFrame, part: DataFrame): DataFrame = {
    val nParts = part.agg(count(lit(1)).as("n_parts"))
    // A user's 2K candidates are generated from ONE row, so the
    // (c, p)-duplicate collapse happens IN-ROW: array_distinct keeps
    // each part's FIRST occurrence in j order, so element position ≡
    // rank by min(j) (ties impossible — one p per j).
    def candArr(c: Column) = array_distinct(
      transform(sequence(lit(0L), lit(9L)), j =>
        lit(1L) + ((c * lit(2654435761L) + j * lit(97003L))
          % lit(1000003L)) % col("n_parts")))
    // r18 (guide §2.4): the candidate set is computable from `c` ALONE,
    // so an interaction row can decide ITS OWN relevance map-side —
    // p ∈ cand(c) — before anything shuffles. That one filter replaces
    // the r17 shape's three heavy operators: the corpus-proportional
    // (c, p) DISTINCT exchange (the relevant sliver needs no global
    // dedup — the per-user collect_set below holds ≤ |cand| = 10
    // elements by construction, so it is skew-safe at any history
    // length), the (c, p)-keyed ANTI JOIN (now an in-row array_except,
    // which preserves the candidate array's order), and the per-user
    // RANK WINDOW (position in the surviving array IS the rank).
    // the containment check on the corpus-proportional side is TEN
    // UNROLLED equality terms, not array_contains over candArr: the
    // transform(sequence) HOF is CodegenFallback, and evaluating it per
    // interaction row would move an interpreted lambda INTO the hot
    // path this rewrite exists to thin (measured: the HOF form gave
    // the whole win back)
    def isCand(c: Column, p: Column): Column =
      (0 until 10).map(j =>
        lit(1L) + ((c * lit(2654435761L) + lit(j.toLong) * lit(97003L))
          % lit(1000003L)) % col("n_parts") === p)
        .reduce(_ || _)
    val hit = orders
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .crossJoin(broadcast(nParts))
      .filter(isCand(col("c"), col("p")))
      .groupBy(col("c")).agg(collect_set(col("p")).as("bought"))
    val users = orders.select(col("o_custkey").as("c")).distinct()
    users.crossJoin(broadcast(nParts))
      .select(col("c"), candArr(col("c")).as("ps"))
      .join(hit, Seq("c"), "left")
      .select(col("c"),
        posexplode(array_except(col("ps"),
          coalesce(col("bought"), array().cast("array<bigint>")))))
      .filter(col("pos") < 5)
      .select(col("c").as("o_custkey"), (col("pos") + 1).cast("long").as("neg_rank"),
        col("col").as("p_partkey"))
  }

  /** q142: co-purchase affinity — "orders containing X also contain Y",
    * the top-50 part pairs by basket co-occurrence (the recsys staple
    * behind every 'frequently bought together' shelf). The scale
    * discipline is the q69 one: pairs are emitted PER BASKET as
    * C(n,2) over the basket's distinct sorted parts, with an explicit
    * basket-size cap — a single degenerate mega-order must widen to at
    * most cap² pairs, never blow up the stage (TPC-H baskets are ≤7, so
    * the cap (32) never binds on the fixtures; the spec plants an
    * over-cap basket to pin the refusal). The part×part matrix is never
    * materialized: only observed pairs reach the combiner-collapsed
    * count, and the cut is TakeOrdered with a full (n desc, p1, p2)
    * tiebreak so the 50-row answer is deterministic in both engines. */
  val coPurchase: Q = (s, d) => coPurchaseFrom(basketPairCounts(s, d))

  /** Telemetry companion of [[basketPairCountsOver]] — the
    * cappedBandCandidates/hotBuckets convention: the baskets the pair
    * cap REFUSES, with their sizes. On the TPC-H-ish fixtures baskets
    * are ≤7 and this is empty; on a production corpus a single
    * degenerate mega-basket (a 10⁵-part "order") would otherwise
    * vanish silently — count and inspect these before trusting the
    * shelf, and raise the cap or pre-split the basket deliberately. */
  private[graft] def overCapBaskets(lineitem: DataFrame,
      cap: Int = 32): DataFrame =
    // countDistinct, not distinct()+count: one aggregate with map-side
    // partial distinct instead of two shuffles — the telemetry pass
    // costs a pruned 2-column scan + one exchange. (Sharing the pair
    // path's basket aggregate via localCheckpoint was considered and
    // rejected: the baskets frame is distinct-(order,part)-sized, and
    // at 100 TB re-scanning two pruned parquet columns beats caching an
    // order-keyed copy of lineitem in executor storage.)
    lineitem.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .filter(col("n_parts") > cap)

  /** The q142/q150 pair-count BUILD surfaces refusals instead of
    * silently truncating: one bounded aggregate (count + max over the
    * refused set) per stored-layout build, logged like the LSH
    * hot-bucket companions — never inside a serving query. */
  private def logOverCapBaskets(lineitem: DataFrame, cap: Int,
      who: String): Unit = {
    val over = overCapBaskets(lineitem, cap)
      .agg(count(lit(1)).as("n"), max(col("n_parts")).as("largest"))
      .collect()(0)
    if (over.getLong(0) > 0)
      System.err.println(s"[graft] $who: ${over.getLong(0)} basket(s) " +
        s"over the pair cap ($cap) REFUSED — largest ${over.get(1)} " +
        "parts; their pairs are not counted (inspect " +
        "Analytics.overCapBaskets, then raise the cap or pre-split)")
  }

  private[graft] def coPurchaseOver(lineitem: DataFrame,
      cap: Int = 32): DataFrame =
    coPurchaseFrom(basketPairCountsOver(lineitem, cap))

  private def coPurchaseFrom(pc: DataFrame): DataFrame =
    pc.orderBy(col("n").desc, col("p1"), col("p2"))
      .limit(50)

  /** Stored basket pair-count layout shared by q142 and q150 — the
    * centroid-model convention applied to the recsys pair statistics:
    * both serving views are cheap cuts (top-50 / per-anchor top-3) of
    * the SAME combiner-collapsed pair aggregate, so a production
    * deployment materializes that aggregate once per corpus snapshot
    * and derives every shelf from it instead of re-paying the basket
    * explode per view. Published through [[graft.sinks.Lifecycle]]
    * (keyed by the lineitem fingerprint + cap); the over-cap refusal
    * telemetry runs ONCE here at build time — never inside a serving
    * query's measured path (the advisor's round-12 note). */
  def basketPairCounts(s: SparkSession, d: String,
      cap: Int = 32): DataFrame =
    s.read.parquet(graft.sinks.Lifecycle.ensure(s, d, Seq("lineitem"),
        "basket-pairs", s"-c$cap") { stage =>
      val l = t(s, d, "lineitem")
      logOverCapBaskets(l, cap, s"basket_pairs(cap=$cap)")
      basketPairCountsOver(l, cap).write.parquet(stage)
    })

  /** The capped basket-pair counts shared by q142 (global top pairs)
    * and q150 (per-part shelf). */
  private[graft] def basketPairCountsOver(lineitem: DataFrame,
      cap: Int = 32): DataFrame = {
    val baskets = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")).between(2, cap))
    val pairs = flatten(transform(sequence(lit(0), size(col("parts")) - 2),
      i => transform(sequence(i + 1, size(col("parts")) - 1), j =>
        struct(element_at(col("parts"), i + 1).as("p1"),
          element_at(col("parts"), j + 1).as("p2")))))
    baskets.select(explode(pairs).as("e"))
      .groupBy(col("e.p1").as("p1"), col("e.p2").as("p2"))
      .agg(count(lit(1)).as("n"))
  }

  /** q150: the "also bought" shelf — q142's pair counts symmetrized
    * (each undirected pair serves both anchors) and cut to the top-3
    * partners per part by (count desc, partner id). The window runs
    * over the PAIR-COUNT frame — observed pairs only, already
    * combiner-collapsed — never over baskets or lineitem, and the
    * per-anchor group is bounded by the anchor's distinct co-purchase
    * partners. This is the serving view a recommender materializes
    * from q142's statistics. */
  val alsoBought: Q = (s, d) => alsoBoughtFrom(basketPairCounts(s, d))

  private[graft] def alsoBoughtOver(lineitem: DataFrame,
      cap: Int = 32): DataFrame =
    alsoBoughtFrom(basketPairCountsOver(lineitem, cap))

  private def alsoBoughtFrom(pc: DataFrame): DataFrame = {
    val sym = pc.select(col("p1").as("p"), col("p2").as("partner"), col("n"))
      .unionAll(pc.select(col("p2").as("p"), col("p1").as("partner"), col("n")))
    val w = Window.partitionBy(col("p"))
      .orderBy(col("n").desc, col("partner"))
    sym.withColumn("also_rank", row_number().over(w).cast("long"))
      .filter(col("also_rank") <= 3)
      .select(col("p"), col("also_rank"), col("partner"), col("n"))
  }

  /** q143: churn/LTV feature assembly — the per-user training matrix a
    * feature store materializes (recency, tenure, activity breadth,
    * inter-event cadence, 30-day purchase stats, last action). ONE
    * user-keyed aggregate, NO window: mean inter-event gap collapses to
    * the closed form (last−first)/(n−1) in exact integer microseconds,
    * and "last event type" is the max(struct(ts, id, type)) argmax
    * trick (q136's), so the whole row assembles map-side. The global
    * reference day is the one driver-free scalar (crossJoin(broadcast),
    * the q128 convention). Distinct-day and distinct-type counts ride
    * the same aggregate via Expand — bounded state per user. */
  val userFeatures: Q = (s, d) => userFeaturesOver(t(s, d, "events"))

  private[graft] def userFeaturesOver(events: DataFrame): DataFrame = {
    val ev = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val ref = ev.agg(max(to_date(col("ts"))).as("ref_day"))
    // The struct-max argmax ("last event type") lives in its OWN
    // user-keyed aggregate: a struct-typed aggregation buffer is not
    // UnsafeRow-mutable, so keeping it inside the wide aggregate forced
    // the WHOLE query — including the countDistinct Expand(×3) frame —
    // into SortAggregate with two full-width sorts (r17 plan audit:
    // Sort→SortAggregate→Exchange→Sort→SortAggregate over 3N expanded
    // rows). Split, the wide numeric/distinct aggregate plans as the
    // hash pyramid (no sorts) and the struct-max sorts only a narrow
    // 4-column frame; both sides leave their aggregates partitioned by
    // user_id, so the reassembly join adds no exchange. Same result by
    // construction — the argmax aggregate is unchanged, merely computed
    // beside its siblings instead of among them.
    val lastT = ev.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
        .getField("event_type").as("last_type"))
    ev.crossJoin(broadcast(ref))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("n_active_days"),
        countDistinct(col("event_type")).as("n_types"),
        datediff(max(col("ref_day")), max(to_date(col("ts"))))
          .as("recency_days"),
        datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .as("tenure_days"),
        max(col("us")).as("last_us"), min(col("us")).as("first_us"),
        count(when(col("event_type") === "purchase" &&
          datediff(col("ref_day"), to_date(col("ts"))) < 30, 1))
          .as("purchases_30d"),
        round(sum(when(col("event_type") === "purchase" &&
          datediff(col("ref_day"), to_date(col("ts"))) < 30, col("value"))), 2)
          .as("value_30d"))
      .join(lastT, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("n_active_days"),
        col("n_types"), col("recency_days").cast("long").as("recency_days"),
        col("tenure_days").cast("long").as("tenure_days"),
        // RAW double, deliberately un-rounded: the sf0.1 soak caught a
        // user whose 6-decimal round landed on an exact .xxx5 half-way
        // (Spark decimal-HALF_UP vs DuckDB scaled-double — the known
        // boundary divergence). The quotient itself is bit-identical:
        // both engines do the same exact-integer micro difference and
        // the same two IEEE divisions in the same order.
        when(col("n_events") > 1,
          (col("last_us") - col("first_us")).cast("double") /
            lit(1000000.0) / (col("n_events") - 1).cast("double"))
          .as("mean_gap_sec"),
        col("last_type"), col("purchases_30d"), col("value_30d"))
  }

  /** q147: session-level rollup — sessions (the q36 30-minute gap cut),
    * each reduced to (events, exact-micro duration, converted?), then
    * ONE corpus summary row: session count, mean events, mean duration,
    * conversion rate. All session arithmetic is exact integers; the
    * three means are single double divisions of exact sums, emitted as
    * raw quotients (r15 q143-class sweep). Same scale
    * shape as q36: one user shuffle + one sort
    * feeds the session id cumsum, the per-session reduce combiner-
    * collapses, and the final agg is one row. */
  val sessionStats: Q = (s, d) => sessionStatsOver(t(s, d, "events"))

  private[graft] def sessionStatsOver(events: DataFrame): DataFrame =
    sessionSummaryOf(gapSessionsOf(events))

  /** The batch 30-minute gap sessionizer, emitting the SessionSink row
    * shape (user_id, start_us, n_events, dur_us, converted) — shared
    * by q147 (which summarizes it; start_us prunes away there) and the
    * q176 retraction lifecycle (which ingests the rows into the
    * store). start_us = the session's first event time, matching the
    * streaming session_window's window start exactly. */
  private[graft] def gapSessionsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // same null-sequence refusal as the funnel (see funnelStepsOver)
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("us")).as("start_us"),
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .select(col("user_id"), col("start_us"), col("n_events"),
        col("dur_us"), col("converted"))
  }

  /** The corpus summary over any session frame carrying
    * (n_events, dur_us, converted) — shared by q147 (batch gap cut)
    * and the q149 sink read (whose sessions the streaming
    * session_window finalized), so the two cannot drift. */
  private[graft] def sessionSummaryOf(sessions: DataFrame): DataFrame =
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      // raw quotients of exact integer sums (the q143 class): one/two
      // IEEE divisions, identical in both engines — never round(·,6)
      // a reachable exact half-way
      (sum(col("n_events")).cast("double") / count(lit(1)))
        .as("mean_events"),
      ((sum(col("dur_us")).cast("double") / lit(1000000.0)) /
        count(lit(1))).as("mean_duration_sec"),
      sum(col("converted")).as("n_converted"),
      (sum(col("converted")).cast("double") / count(lit(1)))
        .as("conversion_rate"))

  /** q149: LIVE session stats ≡ the q147 batch answer — through the
    * BUILT-IN streaming session operator (see [[graft.streaming.Streams
    * .sessionAgg]]: the one sequence twin that hand-rolls nothing,
    * because gap sessions are exactly what `session_window` is for; the
    * 30:00-exactly boundary is reconciled by an end-exclusive gap one
    * microsecond wide of the batch `>`). Sessions land in their own
    * set-union store keyed (user_id, start_us), finalized exactly once
    * each; the q147 summary derives at read time through the shared
    * rollup. */
  val sessionStream: Q = (s, d) =>
    // the user_id >= 0 filter lives at the READ: sentinels must reach
    // the streaming aggregate un-filtered (Catalyst pushes a user
    // filter below the watermark node, and un-watermarked sentinels
    // leave every session in the last hour of event time unfinalized —
    // see sessionAgg's scaladoc), so their own single-event sessions
    // land in the store and are dropped here
    sessionSummaryOf(graft.sinks.SessionSink.read(s,
      // layout-versioned kind (see LedgerStore)
      ensureOrderedFeedLifecycle(s, d, "sessionstream-v3side")(ds =>
        graft.streaming.Streams.sessionAgg(ds, delay = "1 hour"))(
        graft.sinks.SessionSink.writer, graft.sinks.SessionSink.compact))
      .filter(col("user_id") >= 0))

  /** q148: time-to-convert — for each user completing the q121 funnel,
    * the exact-micro span from their first view to their FIRST
    * qualified purchase, summarized as count/mean/min/max seconds. The
    * cascade is q121's (va = earliest prior view, vb = earliest prior
    * qualified click) plus one struct-min argmax per user (first
    * conversion carries its own va — which IS the user's earliest
    * view, being a min over a longer prefix). One user sort, no join;
    * micros stay integers until three final divisions, emitted as raw
    * quotients (r15 q143-class sweep). */
  val timeToConvert: Q = (s, d) => timeToConvertOver(t(s, d, "events"))

  private[graft] def timeToConvertOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val conv = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("va",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ts",
        when(col("event_type") === "click" && col("va").isNotNull, col("ts")))
      .withColumn("vb", min(col("click_ts")).over(w))
      .filter(col("event_type") === "purchase" && col("vb").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("va"))).as("first"))
      .select((unix_micros(col("first.ts")) -
        unix_micros(col("first.va"))).as("dur_us"))
    conv.agg(
      count(lit(1)).as("n_converted"),
      // raw quotients of exact integer micros (the q143 class)
      ((sum(col("dur_us")).cast("double") / lit(1000000.0)) /
        count(lit(1))).as("mean_sec"),
      (min(col("dur_us")).cast("double") / lit(1000000.0))
        .as("min_sec"),
      (max(col("dur_us")).cast("double") / lit(1000000.0))
        .as("max_sec"))
  }

  private val profileColumns = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** q130: column profiler — the Deequ/Glue-style data-quality summary
    * (null count, distinct count, min/max per column) every pipeline
    * runs before trusting a new drop. ONE scan: all the statistics
    * ride a single aggregate (the multiple countDistincts plan as one
    * Expand — scan rows × |columns| before partial aggregation, the
    * q91 trade, chosen over |columns| separate scans), and the 1-row
    * wide result reshapes to long form via an in-plan explode over a
    * literal struct array — no driver hop. min/max compute in NATIVE
    * type order and cast to string AFTER (a string-cast min would
    * order "10" < "9"). */
  val profileDocuments: Q = (s, d) => profileOver(t(s, d, "documents"))

  private[graft] def profileOver(docs: DataFrame): DataFrame = {
    val aggs = profileColumns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    docs.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), explode(array(profileColumns.map { c =>
        struct(lit(c).as("col_name"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_value"),
          col(s"${c}__max").as("max_value"))
      }: _*)).as("p"))
      .select(col("p.col_name"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"))
  }

  /** q131: declarative constraint validation (the Deequ check pattern):
    * each rule is a violation COUNT folded into one aggregate per
    * table — one scan over documents, one over events, however many
    * rules ride on them — and the report reshapes in-plan like q130.
    * Null semantics are the SQL CASE's on purpose: a null comparison
    * falls to the else-0 arm in both engines, so a null value violates
    * only the rules that name nullness explicitly. */
  val constraintReport: Q = (s, d) =>
    constraintReportOver(t(s, d, "documents"), t(s, d, "events"))

  private[graft] def constraintReportOver(docs: DataFrame,
      events: DataFrame): DataFrame = {
    val dAgg = docs.agg(
      (count(lit(1)) - countDistinct(col("doc_id"))).as("doc_id_unique"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .as("n_chars_matches_text"),
      sum(when(!col("lang").isin("en", "zh", "es", "de", "fr"), 1L)
        .otherwise(0L)).as("lang_known"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("text_nonempty"))
    val eAgg = events.agg(
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("event_ts_nonnull"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("event_value_nonneg"))
    val rules = Seq("doc_id_unique", "n_chars_matches_text", "lang_known",
      "text_nonempty", "event_ts_nonnull", "event_value_nonneg")
    dAgg.crossJoin(eAgg)
      .select(explode(array(rules.map { r =>
        struct(lit(r).as("rule"), col(r).cast("long").as("n_violations"))
      }: _*)).as("p"))
      .select(col("p.rule"), col("p.n_violations"),
        when(col("p.n_violations") === 0, 1).otherwise(0).as("passed"))
  }

  val queries: Map[String, Q] = Map(
    "q136_pit_state" -> pitStateJoin,
    "q140_funnel_stream" -> funnelStream,
    "q142_copurchase" -> coPurchase,
    "q143_user_features" -> userFeatures,
    "q144_dwell_stream" -> dwellStream,
    "q145_pit_stream" -> pitStream,
    "q147_session_stats" -> sessionStats,
    "q148_time_to_convert" -> timeToConvert,
    "q149_session_stream" -> sessionStream,
    "q150_also_bought" -> alsoBought,
    "q137_winsorize" -> winsorize,
    "q138_dwell_time" -> dwellTime,
    "q139_negative_sample" -> negativeSample,
    "q130_profile" -> profileDocuments,
    "q131_constraints" -> constraintReport,
    "q133_transitions_stream" -> transitionsStream,
    "q127_event_transitions" -> eventTransitions,
    "q128_rfm_segments" -> rfmSegments,
    "q129_scd2_history" -> scd2History,
    "q124_last_touch" -> lastTouchAttribution,
    "q122_retention_stream" -> retentionStream,
    "q121_funnel_steps" -> funnelSteps,
    "q118_retention_cohorts" -> retentionCohorts,
    "q71_e2e_pipeline" -> e2ePipeline,
    "q68_pack_greedy" -> packGreedy,
    "q57_sequence_pack" -> sequencePack,
    "q50_asof_join" -> asofJoin,
    "q87_range_join" -> rangeJoin,
    "q46_incremental_dedup" -> incrementalDedup,
    "q47_stats_corr" -> statsCorr,
    "q48_quantiles" -> quantiles,
    "q93_approx_quantiles" -> approxQuantiles,
    "q43_day_over_day_lag" -> dayOverDayLag,
    "q44_median_by_group" -> medianByGroup,
    "q34_rollup" -> rollupPricing,
    "q91_cube" -> cubePricing,
    "q92_unpivot" -> unpivotPricing,
    "q89_salted_join" -> saltedJoinQuery,
    "q35_running_total" -> runningTotal,
    "q36_sessionize" -> sessionize,
    "q37_topn_per_group" -> topnPerGroup,
    "q175_retention_retract" -> retentionRetract,
    "q176_session_retract" -> sessionRetract,
  )

  /** The q175/q176 live-user predicate — q167's retraction masks on
    * user_id (retract ≡3 mod 10, resurrect ≡3 mod 20, re-retract ≡3
    * mod 40 ⇒ live = all but ≡13 mod 20 and ≡3 mod 40). */
  private val userRetractLivePred: String =
    "NOT (user_id % 20 = 13) AND NOT (user_id % 40 = 3)"

  /** Shared by q127 (batch) and q133 (the streaming lifecycle) — the
    * two must answer identically, so they share one oracle string. */
  private val transitionsOracleSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS next_type
      |  FROM events WHERE ts IS NOT NULL)
      |SELECT event_type AS src, next_type AS dst,
      |  count(*)::BIGINT AS n,
      |  count(*)::DOUBLE /
      |    (sum(count(*)) OVER (PARTITION BY event_type))::DOUBLE AS p
      |FROM o WHERE next_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** Shared by q136 (batch) and q145 (the streaming lifecycle) — the
    * two must answer identically, so they share one oracle string. */
  private val pitOracleSql: String =
    """WITH c AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    (max(CASE WHEN event_type IN ('signup','click','view') THEN
      |        struct_pack(ts := ts, id := event_id,
      |          k := CAST(json_extract_string(props, '$.k') AS BIGINT))
      |        END) OVER w) AS st,
      |    CAST(count(CASE WHEN event_type IN ('signup','click','view')
      |        THEN 1 END) OVER w AS BIGINT) AS state_version
      |  FROM events WHERE ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  state_version, st.k AS state_k
      |FROM c WHERE event_type = 'purchase'""".stripMargin

  /** Shared by q121 (batch) and q140 (the streaming lifecycle) — the
    * two must answer identically, so they share one oracle string. */
  private val funnelOracleSql: String =
    """WITH c1 AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS va
      |  FROM events WHERE ts IS NOT NULL),
      |c2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND va IS NOT NULL
      |                 THEN ts END AS click_ts
      |  FROM c1),
      |c3 AS (
      |  SELECT *,
      |    min(click_ts)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vb
      |  FROM c2)
      |SELECT
      |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)::BIGINT
      |    AS n_view,
      |  count(DISTINCT CASE WHEN click_ts IS NOT NULL THEN user_id END)::BIGINT
      |    AS n_view_click,
      |  count(DISTINCT CASE WHEN event_type = 'purchase' AND vb IS NOT NULL
      |                 THEN user_id END)::BIGINT AS n_view_click_purchase
      |FROM c3""".stripMargin

  /** Shared by q147 (batch gap cut) and q149 (the streaming
    * session_window lifecycle) — identical answers by construction. */
  private val sessionStatsOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS us,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events WHERE ts IS NOT NULL),
      |f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      |      AS new_session
      |  FROM e),
      |g AS (
      |  SELECT *, sum(new_session)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS session_seq
      |  FROM f),
      |s AS (
      |  SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
      |    max(us) - min(us) AS dur_us,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM g GROUP BY 1, 2)
      |SELECT count(*)::BIGINT AS n_sessions,
      |  CAST(sum(n_events) AS DOUBLE) / count(*) AS mean_events,
      |  (CAST(sum(dur_us) AS DOUBLE) / 1000000.0) / count(*)
      |    AS mean_duration_sec,
      |  CAST(sum(converted) AS BIGINT) AS n_converted,
      |  CAST(sum(converted) AS DOUBLE) / count(*)
      |    AS conversion_rate
      |FROM s""".stripMargin

  val oracles: Map[String, String] = Map(
    // q147: exact integer session arithmetic; three single divisions
    // of exact sums emitted RAW (r15 q143-class sweep); DuckDB epoch
    // micros via date_diff
    "q147_session_stats" -> sessionStatsOracleSql,
    // q149 = q147 through the built-in streaming session operator + the
    // finalized-session lifecycle — same oracle on purpose
    "q149_session_stream" -> sessionStatsOracleSql,
    // q148: q121's cascade CTEs + a struct-min first conversion; exact
    // micros until the three final divisions
    "q148_time_to_convert" ->
      """WITH c1 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS va
        |  FROM events WHERE ts IS NOT NULL),
        |c2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND va IS NOT NULL
        |                 THEN ts END AS click_ts
        |  FROM c1),
        |c3 AS (
        |  SELECT *,
        |    min(click_ts)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vb
        |  FROM c2),
        |conv AS (
        |  SELECT user_id,
        |    min(struct_pack(ts := ts, id := event_id, va := va)) AS first
        |  FROM c3
        |  WHERE event_type = 'purchase' AND vb IS NOT NULL
        |  GROUP BY 1),
        |dur AS (
        |  SELECT date_diff('microsecond', first.va, first.ts) AS dur_us
        |  FROM conv)
        |SELECT count(*)::BIGINT AS n_converted,
        |  (CAST(sum(dur_us) AS DOUBLE) / 1000000.0) / count(*)
        |    AS mean_sec,
        |  CAST(min(dur_us) AS DOUBLE) / 1000000.0 AS min_sec,
        |  CAST(max(dur_us) AS DOUBLE) / 1000000.0 AS max_sec
        |FROM dur""".stripMargin,
    // q150: q142's pair CTEs symmetrized + row_number per anchor
    "q150_also_bought" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM pp GROUP BY 1
        |       HAVING count(*) BETWEEN 2 AND 32),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)),
        |pc AS (SELECT p1, p2, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2),
        |sym AS (
        |  SELECT p1 AS p, p2 AS partner, n FROM pc
        |  UNION ALL SELECT p2, p1, n FROM pc),
        |rk AS (
        |  SELECT p, partner, n,
        |    row_number() OVER (PARTITION BY p ORDER BY n DESC, partner)
        |      AS also_rank
        |  FROM sym)
        |SELECT p, also_rank::BIGINT AS also_rank, partner, n
        |FROM rk WHERE also_rank <= 3""".stripMargin,
    // q142: per-basket distinct-sorted C(n,2) with the same cap; the
    // deterministic cut orders (n desc, p1, p2) in both engines
    "q142_copurchase" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM pp GROUP BY 1
        |       HAVING count(*) BETWEEN 2 AND 32),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok))
        |SELECT p1, p2, count(*)::BIGINT AS n
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n DESC, p1, p2 LIMIT 50""".stripMargin,
    // q143: one user aggregate, no window — mean gap is the closed form
    // (last−first)/(n−1) in exact micros; last_type is the struct argmax
    "q143_user_features" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS us,
        |    (SELECT max(ts::DATE) FROM events WHERE ts IS NOT NULL)
        |      AS ref_day
        |  FROM events WHERE ts IS NOT NULL),
        |a AS (
        |  SELECT user_id,
        |    count(*)::BIGINT AS n_events,
        |    count(DISTINCT ts::DATE)::BIGINT AS n_active_days,
        |    count(DISTINCT event_type)::BIGINT AS n_types,
        |    (max(ref_day) - max(ts::DATE))::BIGINT AS recency_days,
        |    (max(ts::DATE) - min(ts::DATE))::BIGINT AS tenure_days,
        |    max(us) AS last_us, min(us) AS first_us,
        |    (max(struct_pack(ts := ts, id := event_id,
        |       typ := event_type))).typ AS last_type,
        |    count(CASE WHEN event_type = 'purchase'
        |          AND ref_day - ts::DATE < 30 THEN 1 END)::BIGINT
        |      AS purchases_30d,
        |    round(sum(CASE WHEN event_type = 'purchase'
        |          AND ref_day - ts::DATE < 30 THEN value END), 2)
        |      AS value_30d
        |  FROM ev GROUP BY 1)
        |SELECT user_id, n_events, n_active_days, n_types, recency_days,
        |  tenure_days,
        |  CASE WHEN n_events > 1 THEN
        |    (CAST(last_us - first_us AS DOUBLE) / 1000000.0)
        |      / CAST(n_events - 1 AS DOUBLE) END AS mean_gap_sec,
        |  last_type, purchases_30d, value_30d
        |FROM a""".stripMargin,
    // q136: struct_pack's field order (ts, id, k) makes DuckDB's
    // lexicographic struct max the same "latest prior change row" as the
    // Spark side; null k rides inside the struct (q129's current row),
    // and NULL-struct field access stays NULL in both engines
    "q136_pit_state" -> pitOracleSql,
    // q145 = q136 through the ordered-replay fold + the (user, event)
    // set-union lifecycle — same oracle on purpose, the q133 pattern
    "q145_pit_stream" -> pitOracleSql,
    // q144 = q138's gap set via the dwell fold; the store holds only
    // attributed dwells, so the report drops q138's n_events column
    "q144_dwell_stream" ->
      """WITH l AS (
        |  SELECT event_type,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_ts, ts
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (
        |  SELECT event_type,
        |    least(date_diff('microsecond', ts, next_ts),
        |          1800000000) AS gap_us
        |  FROM l WHERE next_ts IS NOT NULL)
        |SELECT event_type AS from_type, count(*)::BIGINT AS n_with_next,
        |  CAST(sum(gap_us) AS DOUBLE) / 1000000.0 AS total_dwell_sec,
        |  (CAST(sum(gap_us) AS DOUBLE) / 1000000.0) / count(*)
        |    AS mean_dwell_sec
        |FROM c GROUP BY 1""".stripMargin,
    // q137: the oracle ranks with a window PARTITION BY (fine at oracle
    // scale; the Spark side exists precisely to avoid that shape) but
    // the interpolation arithmetic is written operand-for-operand
    // identical so the round(·,6) bounds match bit-for-bit
    "q137_winsorize" ->
      """WITH ev AS (SELECT event_type, value, event_id FROM events
        |            WHERE value IS NOT NULL),
        |rk AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value, event_id) AS r,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |pos AS (SELECT *,
        |    CAST(n - 1 AS DOUBLE) * 0.05 + 1.0 AS h05,
        |    CAST(n - 1 AS DOUBLE) * 0.95 + 1.0 AS h95
        |  FROM rk),
        |b AS (SELECT event_type,
        |    round(max(CASE WHEN r = floor(h05) THEN value END)
        |      + (max(h05) - floor(max(h05)))
        |        * (max(CASE WHEN r = ceil(h05) THEN value END)
        |           - max(CASE WHEN r = floor(h05) THEN value END)), 6)
        |      AS winsor_lo,
        |    round(max(CASE WHEN r = floor(h95) THEN value END)
        |      + (max(h95) - floor(max(h95)))
        |        * (max(CASE WHEN r = ceil(h95) THEN value END)
        |           - max(CASE WHEN r = floor(h95) THEN value END)), 6)
        |      AS winsor_hi
        |  FROM pos
        |  WHERE r = floor(h05) OR r = ceil(h05)
        |     OR r = floor(h95) OR r = ceil(h95)
        |  GROUP BY 1)
        |SELECT ev.event_type, count(*)::BIGINT AS n_rows,
        |  CAST(sum(CASE WHEN value < winsor_lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN value > winsor_hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  round(sum(least(greatest(value, winsor_lo), winsor_hi)), 2)
        |    AS sum_winsorized,
        |  max(winsor_lo) AS winsor_lo, max(winsor_hi) AS winsor_hi
        |FROM ev JOIN b USING (event_type)
        |GROUP BY 1""".stripMargin,
    // q138: exact integer microseconds end-to-end; the two final
    // divisions are single double ops in both engines, emitted raw
    "q138_dwell_time" ->
      """WITH l AS (
        |  SELECT event_type,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_ts, ts
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (
        |  SELECT event_type,
        |    CASE WHEN next_ts IS NULL THEN NULL
        |         ELSE least(date_diff('microsecond', ts, next_ts),
        |                    1800000000) END AS gap_us
        |  FROM l)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  count(gap_us)::BIGINT AS n_with_next,
        |  CAST(sum(gap_us) AS DOUBLE) / 1000000.0 AS total_dwell_sec,
        |  (CAST(sum(gap_us) AS DOUBLE) / 1000000.0) / count(gap_us)
        |    AS mean_dwell_sec
        |FROM c GROUP BY 1""".stripMargin,
    // q139: the q71 multiplicative hash in pure int64 — no RNG, no
    // engine hash function, identical candidates in both engines
    "q139_negative_sample" ->
      """WITH inter AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT count(*) AS n_parts FROM part),
        |cand AS (
        |  SELECT u.c, g.j,
        |    1 + ((u.c * 2654435761 + g.j * 97003) % 1000003)
        |      % (SELECT n_parts FROM np) AS p
        |  FROM (SELECT DISTINCT o_custkey AS c FROM orders) u
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS j) g),
        |ded AS (SELECT c, p, min(j) AS jj FROM cand GROUP BY 1, 2),
        |neg AS (
        |  SELECT d.c, d.p,
        |    row_number() OVER (PARTITION BY d.c ORDER BY d.jj) AS neg_rank
        |  FROM ded d
        |  WHERE NOT EXISTS (SELECT 1 FROM inter i
        |                    WHERE i.c = d.c AND i.p = d.p))
        |SELECT c AS o_custkey, neg_rank::BIGINT AS neg_rank, p AS p_partkey
        |FROM neg WHERE neg_rank <= 5""".stripMargin,
    // q130: the oracle pays |columns| scans (UNION ALL) where the Spark
    // side folds everything into one Expand aggregate
    "q130_profile" ->
      """SELECT 'doc_id' AS col_name, count(*)::BIGINT AS n_rows,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  count(DISTINCT doc_id)::BIGINT AS n_distinct,
        |  min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
        |FROM documents
        |UNION ALL
        |SELECT 'text', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT text)::BIGINT, min(text), max(text)
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT lang)::BIGINT, min(lang), max(lang)
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT source)::BIGINT, min(source), max(source)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT n_chars)::BIGINT,
        |  min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
        |FROM documents""".stripMargin,
    // q131: same CASE null semantics as the Spark side (a null
    // comparison falls to else-0); each rule names its violation count
    "q131_constraints" ->
      """WITH d AS (
        |  SELECT
        |    (count(*) - count(DISTINCT doc_id))::BIGINT AS doc_id_unique,
        |    CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_chars_matches_text,
        |    CAST(sum(CASE WHEN lang NOT IN ('en','zh','es','de','fr')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS lang_known,
        |    CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS text_nonempty
        |  FROM documents),
        |e AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS event_ts_nonnull,
        |    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS event_value_nonneg
        |  FROM events),
        |u AS (
        |  SELECT 'doc_id_unique' AS rule, doc_id_unique AS n_violations FROM d
        |  UNION ALL SELECT 'n_chars_matches_text', n_chars_matches_text FROM d
        |  UNION ALL SELECT 'lang_known', lang_known FROM d
        |  UNION ALL SELECT 'text_nonempty', text_nonempty FROM d
        |  UNION ALL SELECT 'event_ts_nonnull', event_ts_nonnull FROM e
        |  UNION ALL SELECT 'event_value_nonneg', event_value_nonneg FROM e)
        |SELECT rule, n_violations,
        |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
        |FROM u""".stripMargin,
    // q127: same (ts, event_id) total order and null refusal as the
    // funnel; p is an exact-integer division, round(·,6) by convention
    "q127_event_transitions" -> transitionsOracleSql,
    // q133 = q127 through the stateful stream + pair-set lifecycle
    // (three ordered cuts + replayed write + compaction) — same oracle
    // on purpose, the q102/q122 pattern
    "q133_transitions_stream" -> transitionsOracleSql,
    // q128: the oracle uses NATIVE ntile — the Spark side's
    // range-partitioned rank + integer NTILE formula must reproduce it
    // bit-for-bit, ties broken by user_id in both engines
    "q128_rfm_segments" ->
      """WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
        |ref AS (SELECT max(ts::DATE) AS ref_day FROM ev),
        |per AS (
        |  SELECT user_id,
        |    (SELECT ref_day FROM ref) - max(ts::DATE) AS recency_days,
        |    count(*) AS frequency,
        |    sum(CAST(floor(value * 1000000) AS BIGINT)) AS micros
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
        |qs AS (
        |  SELECT user_id, micros,
        |    ntile(5) OVER (ORDER BY recency_days, user_id) AS r_q,
        |    ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_q,
        |    ntile(5) OVER (ORDER BY micros DESC, user_id) AS m_q
        |  FROM per)
        |SELECT r_q::BIGINT AS r_q, f_q::BIGINT AS f_q, m_q::BIGINT AS m_q,
        |  count(*)::BIGINT AS n_users,
        |  CAST(sum(micros) AS DOUBLE) / 1000000.0 AS total_monetary
        |FROM qs GROUP BY 1, 2, 3""".stripMargin,
    // q129: one window spec carries row_number AND lead, the q12 I/U op
    // set selects the change events, strftime(NULL) stays NULL
    "q129_scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS version,
        |    lead(ts) OVER (PARTITION BY user_id
        |                   ORDER BY ts, event_id) AS valid_to_ts
        |  FROM events
        |  WHERE ts IS NOT NULL
        |    AND event_type IN ('signup', 'click', 'view'))
        |SELECT user_id, version::BIGINT AS version, k,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM c""".stripMargin,
    "q124_last_touch" ->
      """WITH c AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    max(CASE WHEN event_type = 'click' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click_ts
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT strftime(last_click_ts, '%Y-%m-%d') AS attributed_day,
        |  count(*)::BIGINT AS n_purchases,
        |  round(sum(value), 2) AS attributed_value
        |FROM c
        |WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // q122 = q118 through the activity-set lifecycle (fold + live tail
    // + replayed tail) — same oracle on purpose, the q102/q105 pattern
    "q122_retention_stream" ->
      """WITH ev AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events
        |           WHERE ts IS NOT NULL),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  (ev.day - c.cohort_day)::INTEGER AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q121_funnel_steps" -> funnelOracleSql,
    // q140 = q121 through the stateful ordered-replay engine + the
    // (user, step) set-union lifecycle — same oracle on purpose, the
    // q133 pattern
    "q140_funnel_stream" -> funnelOracleSql,
    "q118_retention_cohorts" ->
      """WITH ev AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events
        |           WHERE ts IS NOT NULL),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  (ev.day - c.cohort_day)::INTEGER AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // q175 = q118's batch SQL over the LIVE users only (the q167
    // oracle convention applied to user-level retraction): deleted
    // users leave the matrix; resurrected ones re-cohort from their
    // full restored activity
    "q175_retention_retract" ->
      s"""WITH ev AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events
        |           WHERE ts IS NOT NULL AND $userRetractLivePred),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  (ev.day - c.cohort_day)::INTEGER AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // q176 = q147's batch SQL restricted to live users — composed from
    // the SHARED oracle string (the q126 pattern: the two cannot
    // drift; sessionization is per-user, so the user filter commutes
    // with the gap cut)
    "q176_session_retract" -> sessionStatsOracleSql.replace(
      "FROM events WHERE ts IS NOT NULL",
      s"FROM events WHERE ts IS NOT NULL AND $userRetractLivePred"),
    "q71_e2e_pipeline" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, md5(text) AS h,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        tok -> tok IN ('the','a','of','and','to','in')))
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents),
        |keepers AS (SELECT h, min(doc_id) AS doc_id FROM scored GROUP BY 1),
        |kept AS (
        |  SELECT s.doc_id, s.lang, s.n_tokens FROM scored s
        |  WHERE EXISTS (SELECT 1 FROM keepers k
        |                WHERE k.h = s.h AND k.doc_id = s.doc_id)
        |    AND s.n_tokens BETWEEN 20 AND 1000 AND s.stop_ratio <= 0.5
        |    AND (s.doc_id * 2654435761) % 1000003 <
        |        (CASE s.lang WHEN 'en' THEN 0.4 ELSE 1.0 END) * 1000003),
        |packed AS (
        |  SELECT doc_id % 8 AS shard, n_tokens,
        |    CAST((sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - n_tokens) // 2048 AS BIGINT) AS bin
        |  FROM kept)
        |SELECT shard, count(*) AS n_docs,
        |  count(DISTINCT bin) AS n_bins,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_total
        |FROM packed GROUP BY shard""".stripMargin,
    // the same first-fit recurrence, written as the sequential walk it
    // is: recursion steps once per doc within a shard (depth = docs per
    // shard), bins aggregate at the end
    "q68_pack_greedy" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
        |      AS rn
        |  FROM documents),
        |walk AS (
        |  SELECT shard, rn, doc_id, n_tokens,
        |    0::BIGINT AS bin, n_tokens AS fill
        |  FROM toks WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN w.fill + t.n_tokens <= 2048
        |         THEN w.bin ELSE w.bin + 1 END,
        |    CASE WHEN w.fill + t.n_tokens <= 2048
        |         THEN w.fill + t.n_tokens ELSE t.n_tokens END
        |  FROM toks t JOIN walk w ON t.shard = w.shard AND t.rn = w.rn + 1)
        |SELECT shard, bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_filled,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM walk GROUP BY shard, bin""".stripMargin,
    "q57_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - n_tokens) // 2048 AS BIGINT) AS bin
        |  FROM toks)
        |SELECT shard, bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_filled,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM packed GROUP BY shard, bin""".stripMargin,
    // the DIFFERENT road on purpose: DuckDB's native inequality join
    // (IEJoin) vs Spark's binned equi rewrite — agreement proves the
    // binning exact; epoch_us/unix_micros are exact integer micros
    "q87_range_join" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT p.event_id AS purchase_id, count(*) AS n_in_window
        |FROM e p JOIN e
        |  ON e.us >= p.us AND e.us < p.us + 300000000
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "q50_asof_join" ->
      """WITH o2 AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        | strftime(o.o_orderdate, '%Y-%m-%d') AS asof_date, o.last_order
        |FROM events e
        |ASOF JOIN o2 o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "q46_incremental_dedup" ->
      """WITH hashed AS (
        |  SELECT doc_id, lang, md5(text) AS text_hash FROM documents)
        |SELECT lang, count(*) AS n_admitted, min(doc_id) AS first_admitted
        |FROM hashed n
        |WHERE doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM hashed e WHERE e.doc_id < 250
        |    AND e.text_hash = n.text_hash)
        |GROUP BY lang""".stripMargin,
    "q47_stats_corr" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | round(stddev_samp(l_discount), 4) AS stddev_disc,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q48_quantiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.25), 4) AS p25,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.75), 4) AS p75
        |FROM events GROUP BY event_type""".stripMargin,
    // exact columns + the bound's TRUTH (q18's HLL pattern) — the
    // sketch internals are engine-specific, the rank window is not
    "q93_approx_quantiles" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.5), 4) AS p50_exact,
        | round(quantile_cont(value, 0.9), 4) AS p90_exact,
        | true AS p50_within, true AS p90_within
        |FROM events GROUP BY event_type""".stripMargin,
    "q43_day_over_day_lag" ->
      """WITH by_day AS (
        |  SELECT strftime(ts,'%Y-%m-%d') AS dt,
        |         count(DISTINCT user_id) AS dau
        |  FROM events GROUP BY 1)
        |SELECT dt, dau,
        | lag(dau, 1) OVER (ORDER BY dt) AS dau_prev_day,
        | dau - coalesce(lag(dau, 1) OVER (ORDER BY dt), 0) AS delta
        |FROM by_day""".stripMargin,
    "q44_median_by_group" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS median_value,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q34_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q91_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    // UNION ALL, not DuckDB UNPIVOT, so the oracle spells out the exact
    // (metric, value) contract the Spark unpivot must produce
    "q92_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    round(sum(l_quantity),2) AS sum_qty,
        |    round(sum(l_extendedprice),2) AS sum_price,
        |    round(sum(l_discount),4) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', sum_disc FROM agg""".stripMargin,
    // the PLAIN join — salting must be invisible to the result
    "q89_salted_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "q35_running_total" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(ts,'%Y-%m-%d') AS dt,
        |         round(sum(value),2) AS daily_value
        |  FROM events GROUP BY 1,2)
        |SELECT user_id, dt, daily_value,
        | round(sum(daily_value) OVER (PARTITION BY user_id ORDER BY dt
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_value
        |FROM daily""".stripMargin,
    "q36_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_seq, count(*) AS n_events
        |  FROM sessions GROUP BY 1,2)
        |SELECT user_id, count(*) AS n_sessions,
        | CAST(sum(n_events) AS BIGINT) AS n_events,
        | max(n_events) AS max_session_events
        |FROM per_session GROUP BY user_id""".stripMargin,
    "q37_topn_per_group" ->
      """SELECT p_brand, rank_in_brand, p_partkey, p_name, p_retailprice
        |FROM (
        |  SELECT p_brand, p_partkey, p_name, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey) AS rank_in_brand
        |  FROM part)
        |WHERE rank_in_brand <= 3""".stripMargin,
  )
}
