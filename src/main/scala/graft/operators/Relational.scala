package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reference-parity relational operators (SURVEY.md §2), instantiated over
  * the driver's star-schema fixtures per FIXTURES.md §4:
  * `events` plays the page-log stream, `orders`+`lineitem` play
  * order_info+order_detail, `customer`/`nation` play the user/province
  * dims, `part.p_name` plays sku_name for the token-match query.
  *
  * All queries are batch-first `(SparkSession, sfDir) => DataFrame`
  * functions; the streaming twins in `graft.streaming` reuse the same
  * column logic (Structured Streaming batch/stream unification).
  *
  * Determinism notes (required for the DuckDB hash-compare):
  * - double aggregates are `round`-ed in BOTH engines (float summation
  *   order differs; rounding absorbs the ~1e-9 relative drift);
  * - every top-k sort carries a unique tiebreaker column;
  * - dates/hours are emitted as formatted strings, session TZ = UTC.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** The A2/A6 session-entry rule, ONE definition (q03/q04/q15 are
    * documented as the same rule; three inline copies could drift on a
    * tiebreaker or dt-derivation tweak): first event per (user, day),
    * ties broken by event_id. Input must already carry `dt`. */
  private def sessionEntries(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("dt"))
      .orderBy(col("ts"), col("event_id"))
    e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** A2+A6 analog of the reference DAU pipeline: session-entry dedup
    * (first event per user per day, ref app/DwdDauApp.scala:83-100) then
    * hourly histogram (ref publish-realtime PublishDaoImpl.java:122-154).
    * At 100 TB the window runs as a partial-aggregate-friendly shuffle on
    * (user_id, dt); no driver-side state.
    */
  val dauHourly: Q = (s, d) => {
    val e = t(s, d, "events").withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    sessionEntries(e)
      .groupBy(col("dt"), date_format(col("ts"), "HH").as("hr"))
      .agg(count(lit(1)).as("dau"))
  }

  /** A1: daily active users — exact distinct (ref PublishDaoImpl.java:156-176).
    * HLL variant for 100 TB: `approx_count_distinct` (see Extensions). */
  val dauTotal: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count_distinct(col("user_id")).as("dau"))

  /** P11: the session-entry rows themselves (ref filter last_page_id==null,
    * app/DwdDauApp.scala:69-71 — here: first event per user per day). */
  val sessionEntry: Q = (s, d) => {
    val e = t(s, d, "events").withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    sessionEntries(e)
      .select(col("user_id"), col("dt"), col("event_id").as("entry_event_id"),
        col("event_type").as("entry_type"))
  }

  /** J1+J2+J3 batch twin of the order-wide pipeline
    * (ref app/DwdOrderApp.scala:95-163): fact-fact join on the order key
    * (shuffle, 1:N) plus two broadcast dim joins (the reference's
    * per-record Redis GETs become BroadcastHashJoin — no per-row RTTs).
    * split_total_amount is a deterministic per-row product, no rounding
    * drift. */
  val orderWide: Q = (s, d) => {
    val o = t(s, d, "orders")
    val l = t(s, d, "lineitem")
    val c = t(s, d, "customer")
    val n = t(s, d, "nation")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("detail_id"),
        col("o_custkey").as("user_id"),
        col("c_name").as("user_name"),
        col("n_name").as("province_name"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("create_date"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("split_total_amount"))
  }

  /** A3+Q3: statsByItem analog (ref PublishDaoImpl.java:50-101) — full-text
    * AND-match as conjunctive token containment on p_name (SURVEY.md §2.7 Q3),
    * grouped sum by market segment (plays gender/age terms agg). */
  val statsByItem: Q = (s, d) => {
    val l = t(s, d, "lineitem")
    val p = t(s, d, "part")
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(col("p_name").contains("small") && col("p_name").contains("widget"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice")), 2).as("amount"),
        count(lit(1)).as("n_items"))
  }

  /** q76 — the DecimalType money twin of q06 (SURVEY §7.4). Money stays
    * Double on the other query paths for oracle parity with the
    * reference's Double amounts (ref bean/OrderDetail.scala:7 — the
    * defect being upgraded); this query is the production-correct
    * DECIMAL(18,2) form, proving exact-sum parity where Double
    * summation is order-sensitive and lossy. The decimal sum
    * (DECIMAL(28,2) after Spark's sum widening) is emitted as a STRING
    * so the driver's hash compare is representation-stable across
    * engines — decimal addition is exact and associative, so no
    * round() is needed in either engine, which is the point. */
  val statsByItemDecimal: Q = (s, d) => {
    val l = t(s, d, "lineitem")
    val p = t(s, d, "part")
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(col("p_name").contains("small") && col("p_name").contains("widget"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("string").as("amount_dec"),
        count(lit(1)).as("n_items"))
  }

  /** A5+F6 analog: client-side age re-bucketing done engine-side in one
    * pass (ref PublisherServiceImpl.java:55-74) — acctbal bands play age
    * bands. /statsByItem's `t=band` spells the same map as SQL text
    * (Publisher.statsByItemSqlDf). */
  def acctbalBand(c: Column): Column =
    when(c < 0, "negative").when(c < 5000, "mid").otherwise("high")

  val acctbalBands: Q = (s, d) =>
    t(s, d, "customer")
      .groupBy(acctbalBand(col("c_acctbal")).as("band"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))

  /** A4/O3/O4: group-avg ordered by sub-agg, top-k (ref EsTest.scala:119-153). */
  val topkAvg: Q = (s, d) =>
    t(s, d, "part")
      .groupBy(col("p_brand"))
      .agg(round(avg(col("p_retailprice")), 2).as("avg_price"),
        count(lit(1)).as("n_parts"))
      .orderBy(col("avg_price").desc, col("p_brand"))
      .limit(10)

  /** O1/O2: sort + from/size pagination (ref EsTest.scala:86-89). */
  val sortPage: Q = (s, d) =>
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(20)
      .limit(10)

  /** Q1/Q2: bool query — range + term conjunction (ref EsTest.scala:78-84). */
  val rangeBool: Q = (s, d) =>
    t(s, d, "events")
      .filter(col("value") >= 200 && col("event_type") === "purchase" &&
        col("user_id").between(2, 10))
      .select(col("event_id"), col("user_id"), col("value"))

  /** P1/P2: JSON parse of the event props payload (ref fastjson parse,
    * app/OdsBaseLogApp.scala:62-69) + grouped agg over the extracted key. */
  val jsonExtract: Q = (s, d) =>
    t(s, d, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))

  /** P9: CDC op-type decode + filter (ref app/OdsBaseDbApp.scala:100-109,
    * implementing the intended mapping incl. the delete the reference
    * drops via its duplicate-case bug). event_type plays the Maxwell
    * `type` field; `purchase` plays an uninteresting op → filtered. */
  val cdcDecode: Q = (s, d) =>
    t(s, d, "events")
      .withColumn("op",
        when(col("event_type") === "signup", "I")
          .when(col("event_type").isin("click", "view"), "U")
          .when(col("event_type") === "error", "D"))
      .filter(col("op").isNotNull)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"))

  /** P6: multi-way split routing — one pass partitions the stream into the
    * err/start/page routes (ref app/OdsBaseLogApp.scala:88-198). The
    * streaming twin writes each route to its own sink; here we audit the
    * partition sizes (every row lands in exactly one route). */
  val multiwaySplit: Q = (s, d) =>
    t(s, d, "events")
      .withColumn("route",
        when(col("event_type") === "error", "err")
          .when(col("event_type") === "signup", "start")
          .otherwise("page"))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n"))

  /** ST7 upgrade: tumbling 1-hour event-time window aggregation (the
    * reference only group-bys a derived `hr` string). Batch twin uses
    * date_trunc, streaming twin uses window()+watermark — same buckets. */
  val windowedAgg: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** TPC-H Q1-style pricing summary — exercises partial+final hash agg
    * with multiple aggregates (SURVEY.md §2.5 note on Catalyst's
    * partial/final split). */
  val pricingSummary: Q = (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** A2 day-over-day: the /dauRealtime response shape — today's and
    * yesterday's hourly DAU side by side (ref PublishDaoImpl.java:104-120
    * runs two ES queries; a single-pass conditional pivot here). Dates
    * fixed to a day present at every sf (data spans 2024-01).
    *
    * Scale notes: the two-day filter sits BELOW the dedup window —
    * semantics-preserving because the window partitions by (user_id, dt),
    * so dropping other days never changes a row's rank within its day.
    * The ts-range predicate evaluates directly on the scan (it cannot be
    * a parquet PushedFilter because ts is derived from the nanos long —
    * at 100 TB a dt-partitioned layout makes it a partition filter), and
    * the pivot reads the per-hour frame once (the earlier full-outer
    * self-join materialized the whole events scan + window twice).
    * PlanAuditSpec asserts the single-scan, no-join shape. */
  val dauDayOverDay: Q = (s, d) => {
    val e = t(s, d, "events")
      .filter(col("ts") >= lit("2024-01-14 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    val byHr = sessionEntries(e)
      .groupBy(col("dt"), date_format(col("ts"), "HH").as("hr"))
      .agg(count(lit(1)).as("dau"))
    byHr.groupBy(col("hr"))
      .agg(
        coalesce(sum(when(col("dt") === "2024-01-15", col("dau"))), lit(0L)).as("dau_td"),
        coalesce(sum(when(col("dt") === "2024-01-14", col("dau"))), lit(0L)).as("dau_yd"))
  }

  /** F7: code→label decode + group (ref PublisherServiceImpl.java:40-54
    * decodes gender codes; same shape over market segments, with the
    * reference's slur label replaced by a neutral one per SURVEY §2.3).
    * /statsByItem's `t=segment` spells the same map as SQL text
    * (Publisher.statsByItemSqlDf; q78's oracle gates it). */
  def segmentLabel(c: Column): Column =
    when(c === "AUTOMOBILE", "auto")
      .when(c === "BUILDING", "building")
      .when(c === "MACHINERY", "machinery")
      .otherwise("other")

  val segmentDecode: Q = (s, d) =>
    t(s, d, "customer")
      .withColumn("segment_label", segmentLabel(col("c_mktsegment")))
      .groupBy(col("segment_label"))
      .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 2).as("avg_bal"))

  /** Semi/anti joins — SURVEY §2.4: the reference's set-membership routing
    * (P10) is semantically a semi-join; we expose both explicitly.
    * Customers with ≥1 order vs customers with none. */
  val semiAntiJoin: Q = (s, d) => {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(lit("with_orders").as("cohort"), col("c_acctbal"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(lit("no_orders").as("cohort"), col("c_acctbal"))
    withOrders.unionAll(withoutOrders)
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total_bal"))
  }

  /** A6 at 100 TB: HLL sketch DAU (approx_count_distinct) next to the
    * shape of A1, one aggregation pass computing both the sketch and the
    * exact count. The sketch value itself is engine-specific, so the
    * oracle-checkable emission is (dt, dau_exact, within_bound):
    * within_bound asserts |approx − exact| ≤ 15% · exact (3× the default
    * 5% rsd — ApproxSpec measures the bound too), and the DuckDB oracle
    * answers count(distinct), TRUE — a hash mismatch means the sketch
    * left its error envelope. */
  val approxDau: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count_distinct(col("user_id")).as("dau_exact"),
        approx_count_distinct(col("user_id")).as("dau_approx"))
      .select(col("dt"), col("dau_exact"),
        (abs(col("dau_approx") - col("dau_exact")) <=
          col("dau_exact") * 0.15).as("within_bound"))

  /** Composite ES bool query surface (EsTest.scala:78-92): range filter +
    * term + full-text conjunctive match + sort + from/size pagination in
    * one query. */
  val boolSortPage: Q = (s, d) =>
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .filter(col("l_extendedprice") >= 1000 &&
        col("l_returnflag") === "R" &&
        col("p_name").contains("widget"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
        col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .offset(10)
      .limit(15)

  /** Q5: ES-style match highlighting (ref EsTest.scala:105-118 wraps
    * matched terms in <em> tags) — previously declared presentation-
    * layer/out-of-scope; implemented anyway as a narrow codegen'd
    * regexp projection over the same conjunctive matches as q06/q19,
    * which closes the last §2 row. */
  val highlight: Q = (s, d) =>
    t(s, d, "part")
      .filter(col("p_name").contains("widget") && col("p_name").contains("small"))
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), "(widget|small)", "<em>$1</em>")
          .as("highlighted"))

  /** Q3 scored: relevance-ranked full-text match — the ES surface the
    * conjunctive q06/q19 matches lack (ref PublishDaoImpl.java:58-61
    * scores matchQuery hits; EsTest.scala:78-92 returns them _score
    * ordered). Score = Σ_term tf × idf over the query terms with
    * idf = N/df in plain-arithmetic form: deliberately transcendental-
    * free (no ln) so Spark and DuckDB produce bit-identical doubles and
    * the raw score hash-compares without rounding. BM25's saturation and
    * length normalization drop into the same two-scan shape (tiny
    * corpus-stats row broadcast into a single scoring scan). */
  /** The shared two-scan tf×idf shape (q55 conjunctive / q100
    * disjunctive; QueriesSpec calls it directly): one
    * corpus-stats aggregate (a single one-row broadcastable frame),
    * one scoring scan. tf as size − size(array_remove): ArrayRemove is
    * a codegen'd collection expression, while the filter() HOF is
    * interpreted CodegenFallback (the repo's measured hot-path hazard)
    * — same exact integer either way. */
  private[graft] def tfIdfMatch(docs0: DataFrame, terms: Seq[String],
      anyTerm: Boolean): DataFrame = {
    val docs = docs0.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      terms.map(tm => sum(when(array_contains(col("toks"), tm), 1).otherwise(0))
        .cast("double").as(s"df_$tm")): _*)
    // df=0 guard: a term in NO document has tf 0 everywhere, but its
    // idf n/df is Infinity and 0 × Inf = NaN — unreachable under the
    // conjunctive filter (no row survives), REACHABLE under anyTerm
    // (q100: a row matching the other term would score NaN, and Spark
    // and DuckDB order NaN differently). The guard makes an absent
    // term contribute exactly 0, as the Scaladoc claims; the oracle SQL
    // carries the same CASE WHEN so the expression trees stay
    // operand-for-operand parallel.
    val score = terms.map { tm =>
      when(col(s"df_$tm") > 0,
        (size(col("toks")) - size(array_remove(col("toks"), tm))).cast("double") *
          (col("n") / col(s"df_$tm")))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    val hit = terms.map(tm => array_contains(col("toks"), tm))
      .reduce((a, b) => if (anyTerm) a || b else a && b)
    docs.crossJoin(broadcast(stats))
      .filter(hit)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val scoredMatch: Q = (s, d) =>
    tfIdfMatch(t(s, d, "documents"), Seq("spark", "merge"), anyTerm = false)

  /** Q3 scored, BM25 form — the saturation + length normalization q55's
    * plain tf×idf lacks (ref PublishDaoImpl.java:58-61's matchQuery is
    * Lucene BM25 under the hood since ES 5): per term,
    * idf × (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)) with k1 = 1.2,
    * b = 0.75. One deliberate deviation for the hash-compare oracle:
    * idf is the RATIONAL core (N − df + 0.5)/(df + 0.5) without
    * Lucene's ln(1 + ·) — ln is not guaranteed bit-identical across
    * engines (Java Math.log is 1-ulp, DuckDB uses libm), while +,−,×,÷
    * are exactly rounded everywhere, so the raw doubles hash-compare
    * with NO rounding as long as the operand order matches the SQL
    * text. Monotone per term; documented, not hidden. Same two-scan
    * scale shape as q55: a one-row corpus-stats aggregate broadcast
    * into a single scoring scan — no shuffle touches the corpus. */
  /** The shared BM25 two-scan shape (q79 rational idf / q101 Lucene ln
    * idf; PipelineOpsSpec calls it directly). tf via
    * codegen'd array_remove, not the interpreted filter() HOF (see
    * tfIdfMatch) — identical exact integer. */
  private[graft] def bm25MatchOver(docs0: DataFrame, terms: Seq[String],
      lnIdf: Boolean): DataFrame = {
    val docs = docs0
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val aggs = Seq(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).as("sum_dl")) ++
      terms.map(tm => sum(when(array_contains(col("toks"), tm), 1).otherwise(0))
        .cast("double").as(s"df_$tm"))
    val stats = docs.agg(aggs.head, aggs.tail: _*)
    val rawScore = terms.map { tm =>
      val tf = (size(col("toks")) - size(array_remove(col("toks"), tm))).cast("double")
      val idfCore = (col("n") - col(s"df_$tm") + lit(0.5)) / (col(s"df_$tm") + lit(0.5))
      val idf = if (lnIdf) log(lit(1.0) + idfCore) else idfCore
      idf * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / (col("sum_dl") / col("n")))))
    }.reduce(_ + _)
    // The ln form EMITS (and sorts by) round(score, 6): Java Math.log
    // and DuckDB libm log are each ≤1-ulp (~1e-16 relative) but not
    // bit-identical, so raw ln doubles would hash-mismatch by
    // construction; rounding to 1e-6 leaves ~10 orders of magnitude of
    // margin and makes the ordering (and the hash) engine-independent
    // (both engines round doubles half-away-from-zero, identical for
    // these positive scores). The rational form stays RAW — its
    // +,−,×,÷-only tree is exactly rounded in both engines, which is a
    // stronger equivalence worth keeping un-rounded.
    val score = if (lnIdf) round(rawScore, 6) else rawScore
    docs.crossJoin(broadcast(stats))
      .filter(terms.map(tm => array_contains(col("toks"), tm)).reduce(_ && _))
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val bm25Match: Q = (s, d) =>
    bm25MatchOver(t(s, d, "documents"), Seq("spark", "merge"), lnIdf = false)

  /** Q3 scored, DISJUNCTIVE (any-term) form — the ES `match` DEFAULT:
    * `matchQuery("name", "red sea")` with `Operator.OR` scores docs
    * containing ANY query term (ref EsTest.scala:78-92 runs exactly
    * this; the conjunctive q06/q19/q55 forms model the explicit
    * Operator.AND variant of EsTest.scala:82). Same two-scan shape as
    * q55 — one-row corpus stats broadcast into a single scoring scan —
    * with the filter relaxed to ANY-of and each absent term contributing
    * exactly 0 (tf = 0 zeroes its tf×idf addend, matching Lucene's
    * only-matching-terms sum). Same transcendental-free rational idf as
    * q55 so raw doubles hash-compare. */
  val orMatch: Q = (s, d) =>
    tfIdfMatch(t(s, d, "documents"), Seq("spark", "merge"), anyTerm = true)

  /** q79's documented deviation closed: TRUE Lucene BM25 idf,
    * ln(1 + (N − df + 0.5)/(df + 0.5)), per Lucene's
    * BM25Similarity.idfExplain — matching ES's default `match` scoring
    * (ref PublishDaoImpl.java:58-61). Java Math.log and DuckDB's libm
    * log are each ≤1-ulp but not guaranteed bit-identical, so the raw
    * ln doubles can't hash-compare; instead BOTH sides emit and sort by
    * round(score, 6) — 1-ulp is ~1e-16 relative, ten orders of
    * magnitude inside the rounding grain — giving this twin a full
    * rows/schema/hash oracle (it ran rows-only through round 9). q79
    * keeps the rational idf core RAW precisely because its
    * transcendental-free doubles hash-compare without rounding.
    * Identical two-scan scale shape; ranking differs from q79 only
    * through the monotone ln. */
  val bm25LnMatch: Q = (s, d) =>
    bm25MatchOver(t(s, d, "documents"), Seq("spark", "merge"), lnIdf = true)

  /** q119: hybrid search — the BM25 text tier (q79) fused with a
    * vector tier (brute cosine vs query vec 0, the q25 ranking) by
    * reciprocal-rank fusion, RRF (Cormack/Clarke/Büttcher 2009; the
    * score Elasticsearch/Vespa/OpenSearch expose for exactly this
    * text+vector hybrid): score(d) = Σ_lists 1/(60 + rank_d). Rank
    * fusion beats score fusion here because BM25 and cosine live on
    * incomparable scales — ranks need no calibration.
    *
    * Determinism: ranks are INTEGERS from orderings that are already
    * engine-independent (q79's raw rational BM25 scores; q25's
    * round-then-rank cosine), and 1.0/(60+rank) + its two-term sum is
    * exactly the same IEEE arithmetic in both engines — so the raw
    * fused doubles hash-compare, the q79 no-rounding standard.
    *
    * Scale shape: each tier is its own corpus scan ending in a
    * TakeOrdered(20) — top-k never materializes the corpus — and the
    * fusion joins two 20-row frames (driver-scale; the single-partition
    * window ranks 20 rows, not the corpus). doc_id ≡ vec_id per
    * FIXTURES.md (embeddings are the documents' vectors). */
  val hybridRrf: Q = (s, d) =>
    hybridRrfOver(t(s, d, "documents"),
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  /** The q119 engine over any (doc_id, text) docs frame and (vec_id, v)
    * embedding frame (vec_id ≡ doc_id). */
  private[graft] def hybridRrfOver(docs: DataFrame, emb: DataFrame): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val text = bm25MatchOver(docs, Seq("spark", "merge"), lnIdf = false)
      .select(col("doc_id"), row_number().over(w).as("rank_t"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val wv = Window.orderBy(col("cosine").desc, col("doc_id"))
    val vec = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(graft.expressions.VectorHashes.cosine_sim(col("v"), col("qv")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), row_number().over(wv).as("rank_v"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rank_t")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_v")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
  }

  /** S9: point get by key (ref EsTest.scala:54-60 getById) — the plan
    * should be a pushed-down single-key scan, not an index the engine
    * lacks; at scale the dt/bucket layout bounds the touched files. */
  val pointGet: Q = (s, d) =>
    t(s, d, "orders")
      .filter(col("o_orderkey") === 100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))

  /** TPC-H Q5 shape — revenue by nation for same-nation customer/
    * supplier pairs inside one region: the canonical star multi-join.
    * Scale shape: the fact-fact join (lineitem⋈orders⋈customer)
    * shuffles on its true keys; supplier/nation/region are broadcast —
    * the region filter reaches the supplier side through two broadcast
    * hops, so at 100 TB the lineitem scan is the only big input and
    * nothing dim-shaped ever shuffles. First query to touch the
    * supplier and region fixtures. */
  val localSupplierVolume: Q = (s, d) => {
    val l = t(s, d, "lineitem"); val o = t(s, d, "orders")
    val c = t(s, d, "customer"); val sup = t(s, d, "supplier")
    val n = t(s, d, "nation"); val r = t(s, d, "region")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  val queries: Map[String, Q] = Map(
    "q64_local_supplier_volume" -> localSupplierVolume,
    "q45_point_get" -> pointGet,
    "q55_scored_match" -> scoredMatch,
    "q79_bm25_match" -> bm25Match,
    "q119_hybrid_rrf" -> hybridRrf,
    "q100_or_match" -> orMatch,
    "q101_bm25_ln_match" -> bm25LnMatch,
    "q15_dau_day_over_day" -> dauDayOverDay,
    "q16_segment_decode" -> segmentDecode,
    "q17_semi_anti" -> semiAntiJoin,
    "q18_approx_dau" -> approxDau,
    "q19_bool_sort_page" -> boolSortPage,
    "q01_pricing_summary" -> pricingSummary,
    "q02_dau_total" -> dauTotal,
    "q03_dau_hourly" -> dauHourly,
    "q04_session_entry" -> sessionEntry,
    "q05_order_wide" -> orderWide,
    "q06_stats_by_item" -> statsByItem,
    "q76_money_decimal" -> statsByItemDecimal,
    "q07_acctbal_bands" -> acctbalBands,
    "q08_topk_avg" -> topkAvg,
    "q09_sort_page" -> sortPage,
    "q10_range_bool" -> rangeBool,
    "q11_json_extract" -> jsonExtract,
    "q12_cdc_decode" -> cdcDecode,
    "q13_multiway_split" -> multiwaySplit,
    "q14_windowed_agg" -> windowedAgg,
    "q53_highlight" -> highlight,
  )

  val oracles: Map[String, String] = Map(
    "q64_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q45_point_get" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey = 100""".stripMargin,
    "q15_dau_day_over_day" ->
      """WITH entries AS (
        |  SELECT ts, strftime(ts,'%Y-%m-%d') AS dt,
        |         row_number() OVER (PARTITION BY user_id, strftime(ts,'%Y-%m-%d')
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |by_hr AS (
        |  SELECT dt, strftime(ts,'%H') AS hr, count(*) AS dau
        |  FROM entries WHERE rn=1 GROUP BY dt, hr),
        |td AS (SELECT hr, dau FROM by_hr WHERE dt = '2024-01-15'),
        |yd AS (SELECT hr, dau FROM by_hr WHERE dt = '2024-01-14')
        |SELECT coalesce(td.hr, yd.hr) AS hr,
        | coalesce(td.dau, 0) AS dau_td, coalesce(yd.dau, 0) AS dau_yd
        |FROM td FULL OUTER JOIN yd ON td.hr = yd.hr""".stripMargin,
    "q16_segment_decode" ->
      """SELECT CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'auto'
        |            WHEN 'BUILDING' THEN 'building'
        |            WHEN 'MACHINERY' THEN 'machinery'
        |            ELSE 'other' END AS segment_label,
        | count(*) AS n, round(avg(c_acctbal),2) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin,
    "q17_semi_anti" ->
      """SELECT cohort, count(*) AS n, round(sum(c_acctbal),2) AS total_bal
        |FROM (
        |  SELECT CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |              THEN 'with_orders' ELSE 'no_orders' END AS cohort,
        |         c_acctbal
        |  FROM customer)
        |GROUP BY cohort""".stripMargin,
    "q19_bool_sort_page" ->
      """SELECT l_orderkey, l_linenumber, p_name, l_extendedprice
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_extendedprice >= 1000 AND l_returnflag = 'R'
        |  AND p_name LIKE '%widget%'
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 15 OFFSET 10""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),2) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_dau_total" ->
      """SELECT strftime(ts,'%Y-%m-%d') AS dt, count(DISTINCT user_id) AS dau
        |FROM events GROUP BY 1""".stripMargin,
    "q18_approx_dau" ->
      """SELECT strftime(ts,'%Y-%m-%d') AS dt,
        | count(DISTINCT user_id) AS dau_exact,
        | true AS within_bound
        |FROM events GROUP BY 1""".stripMargin,
    "q55_scored_match" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |    sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df_merge
        |  FROM tk)
        |SELECT doc_id,
        |  CASE WHEN df_spark > 0 THEN
        |    len(list_filter(toks, x -> x = 'spark'))::DOUBLE * (n / df_spark)
        |  ELSE 0.0 END
        |  + CASE WHEN df_merge > 0 THEN
        |    len(list_filter(toks, x -> x = 'merge'))::DOUBLE * (n / df_merge)
        |  ELSE 0.0 END
        |    AS score
        |FROM tk, stats
        |WHERE list_contains(toks, 'spark') AND list_contains(toks, 'merge')
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // q100: q55's oracle with the WHERE relaxed to OR. A term present
    // SOMEWHERE but absent from THIS doc zeroes its addend via tf = 0;
    // a term absent from the whole corpus (df = 0) needs the CASE WHEN
    // guard both here and in the Spark plan — tf×idf would be
    // 0 × Infinity = NaN, and NaN ordering differs across engines (the
    // conjunctive q55 can never emit such a row; the OR filter can).
    // The guards keep the expression trees operand-for-operand
    // parallel, so the raw-double hash still matches. NOTE
    // q101_bm25_ln_match's oracle rounds to 1e-6 instead (see
    // bm25LnMatch Scaladoc: ln is ≤1-ulp per engine but not guaranteed
    // bit-identical across Java Math.log and DuckDB libm).
    "q100_or_match" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |    sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df_merge
        |  FROM tk)
        |SELECT doc_id,
        |  CASE WHEN df_spark > 0 THEN
        |    len(list_filter(toks, x -> x = 'spark'))::DOUBLE * (n / df_spark)
        |  ELSE 0.0 END
        |  + CASE WHEN df_merge > 0 THEN
        |    len(list_filter(toks, x -> x = 'merge'))::DOUBLE * (n / df_merge)
        |  ELSE 0.0 END
        |    AS score
        |FROM tk, stats
        |WHERE list_contains(toks, 'spark') OR list_contains(toks, 'merge')
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // q119: q79's raw-score CTE ranks the text tier, q25's
    // round-then-rank cosine ranks the vector tier; integer ranks make
    // the fused 1/(60+r) doubles bit-identical across engines
    "q119_hybrid_rrf" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' '))::DOUBLE AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sum_dl,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |    sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df_merge
        |  FROM tk),
        |t20 AS (
        |  SELECT doc_id,
        |    ((n - df_spark + 0.5) / (df_spark + 0.5))
        |      * ((len(list_filter(toks, x -> x = 'spark'))::DOUBLE * 2.2)
        |         / (len(list_filter(toks, x -> x = 'spark'))::DOUBLE
        |            + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |    + ((n - df_merge + 0.5) / (df_merge + 0.5))
        |      * ((len(list_filter(toks, x -> x = 'merge'))::DOUBLE * 2.2)
        |         / (len(list_filter(toks, x -> x = 'merge'))::DOUBLE
        |            + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |    AS score
        |  FROM tk, stats
        |  WHERE list_contains(toks, 'spark') AND list_contains(toks, 'merge')
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |tr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_t
        |  FROM t20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qv AS (SELECT v FROM e WHERE vec_id = 0),
        |v20 AS (
        |  SELECT e.vec_id AS doc_id,
        |    round(list_cosine_similarity(e.v, qv.v), 6) AS cosine
        |  FROM e, qv WHERE e.vec_id <> 0
        |  ORDER BY cosine DESC, doc_id LIMIT 20),
        |vr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_v
        |  FROM v20)
        |SELECT doc_id,
        |  coalesce(1.0 / (60 + rank_t), 0.0)
        |    + coalesce(1.0 / (60 + rank_v), 0.0) AS rrf
        |FROM tr FULL OUTER JOIN vr USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,
    // mirrors bm25Match operand-for-operand: every arithmetic op below
    // is exactly rounded IEEE, so matching the operand order makes the
    // raw doubles bit-identical across engines (see the Scaladoc)
    "q79_bm25_match" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' '))::DOUBLE AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sum_dl,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |    sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df_merge
        |  FROM tk)
        |SELECT doc_id,
        |  ((n - df_spark + 0.5) / (df_spark + 0.5))
        |    * ((len(list_filter(toks, x -> x = 'spark'))::DOUBLE * 2.2)
        |       / (len(list_filter(toks, x -> x = 'spark'))::DOUBLE
        |          + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |  + ((n - df_merge + 0.5) / (df_merge + 0.5))
        |    * ((len(list_filter(toks, x -> x = 'merge'))::DOUBLE * 2.2)
        |       / (len(list_filter(toks, x -> x = 'merge'))::DOUBLE
        |          + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |  AS score
        |FROM tk, stats
        |WHERE list_contains(toks, 'spark') AND list_contains(toks, 'merge')
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // q101 = q79 with Lucene's ln(1 + idfCore) — and therefore with
    // round(·, 6) on BOTH sides: ln doubles are ≤1-ulp per engine but
    // not bit-identical across Java Math.log and DuckDB libm, so the
    // rounded score (sorted on, emitted, hashed) is what makes this
    // oracle deterministic. See bm25MatchOver's lnIdf branch.
    "q101_bm25_ln_match" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' '))::DOUBLE AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sum_dl,
        |    sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |    sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df_merge
        |  FROM tk)
        |SELECT doc_id,
        |  round(
        |    ln(1.0 + (n - df_spark + 0.5) / (df_spark + 0.5))
        |      * ((len(list_filter(toks, x -> x = 'spark'))::DOUBLE * 2.2)
        |         / (len(list_filter(toks, x -> x = 'spark'))::DOUBLE
        |            + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |    + ln(1.0 + (n - df_merge + 0.5) / (df_merge + 0.5))
        |      * ((len(list_filter(toks, x -> x = 'merge'))::DOUBLE * 2.2)
        |         / (len(list_filter(toks, x -> x = 'merge'))::DOUBLE
        |            + 1.2 * (0.25 + (0.75 * dl) / (sum_dl / n))))
        |  , 6) AS score
        |FROM tk, stats
        |WHERE list_contains(toks, 'spark') AND list_contains(toks, 'merge')
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q03_dau_hourly" ->
      """WITH entries AS (
        |  SELECT ts, strftime(ts,'%Y-%m-%d') AS dt,
        |         row_number() OVER (PARTITION BY user_id, strftime(ts,'%Y-%m-%d')
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT dt, strftime(ts,'%H') AS hr, count(*) AS dau
        |FROM entries WHERE rn=1 GROUP BY dt, hr""".stripMargin,
    "q04_session_entry" ->
      """WITH entries AS (
        |  SELECT user_id, strftime(ts,'%Y-%m-%d') AS dt, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id, strftime(ts,'%Y-%m-%d')
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, dt, event_id AS entry_event_id, event_type AS entry_type
        |FROM entries WHERE rn=1""".stripMargin,
    "q05_order_wide" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS detail_id,
        | o_custkey AS user_id, c_name AS user_name, n_name AS province_name,
        | strftime(o_orderdate,'%Y-%m-%d') AS create_date,
        | l_extendedprice*(1-l_discount) AS split_total_amount
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q06_stats_by_item" ->
      """SELECT c_mktsegment, round(sum(l_extendedprice),2) AS amount,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE p_name LIKE '%small%' AND p_name LIKE '%widget%'
        |GROUP BY c_mktsegment""".stripMargin,
    "q76_money_decimal" ->
      """SELECT c_mktsegment,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |   AS DECIMAL(28,2)) AS VARCHAR) AS amount_dec,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE p_name LIKE '%small%' AND p_name LIKE '%widget%'
        |GROUP BY c_mktsegment""".stripMargin,
    "q07_acctbal_bands" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 5000 THEN 'mid'
        |            ELSE 'high' END AS band,
        | count(*) AS n_customers, round(sum(c_acctbal),2) AS total_bal
        |FROM customer GROUP BY 1""".stripMargin,
    "q08_topk_avg" ->
      """SELECT p_brand, round(avg(p_retailprice),2) AS avg_price,
        | count(*) AS n_parts
        |FROM part GROUP BY p_brand
        |ORDER BY avg_price DESC, p_brand LIMIT 10""".stripMargin,
    "q09_sort_page" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 20""".stripMargin,
    "q10_range_bool" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 200 AND event_type = 'purchase'
        |  AND user_id BETWEEN 2 AND 10""".stripMargin,
    "q11_json_extract" ->
      """SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) % 10 AS k_mod,
        | count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin,
    "q12_cdc_decode" ->
      """SELECT CASE WHEN event_type = 'signup' THEN 'I'
        |            WHEN event_type IN ('click','view') THEN 'U'
        |            WHEN event_type = 'error' THEN 'D' END AS op,
        | count(*) AS n
        |FROM events
        |WHERE event_type IN ('signup','click','view','error')
        |GROUP BY 1""".stripMargin,
    "q13_multiway_split" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'err'
        |            WHEN event_type = 'signup' THEN 'start'
        |            ELSE 'page' END AS route, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q14_windowed_agg" ->
      """SELECT strftime(date_trunc('hour', ts),'%Y-%m-%d %H:%M:%S') AS win_start,
        | event_type, count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q53_highlight" ->
      """SELECT p_partkey,
        | regexp_replace(p_name, '(widget|small)', '<em>\1</em>', 'g')
        |   AS highlighted
        |FROM part
        |WHERE p_name LIKE '%widget%' AND p_name LIKE '%small%'""".stripMargin,
  )
}
