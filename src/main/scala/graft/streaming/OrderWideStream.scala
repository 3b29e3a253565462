package graft.streaming

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q152: the LIVE order-wide table ≡ the q05 batch answer, produced by
  * the REAL watermarked stream-stream join ([[Streams.orderWideJoin]],
  * J2/ST4 — the reference's only shuffling job,
  * ref app/DwdOrderApp.scala:151-237) running over two file-source
  * streams — not a foreachBatch replay of the batch join. The last core
  * streaming path promoted from spec-only verification (StreamingSpec's
  * arrival matrix) to the driver's DuckDB hash gate.
  *
  * Lifecycle (built once per fixture generation, the q133 recipe
  * generalized to TWO feeds): each side is staged as three
  * event-time-ordered parquet cuts plus never-matching filler rows,
  * mtime-pinned so one streaming query with `maxFilesPerTrigger=1` on
  * BOTH sources replays them as five lockstep micro-batches:
  *
  * {{{
  * trigger:      1     2     3     4     5
  * info feed:   I1     F    I2     F    I3
  * detail feed:  F    D1    D2    D3     F
  * }}}
  *
  * so slice 1 pairs arrive INFO-FIRST (detail one batch later, matched
  * against join state), slice 2 pairs SAME-BATCH, and slice 3 pairs
  * DETAIL-FIRST — the StreamingSpec arrival matrix, under the oracle
  * gate. Event times make the 24 h join TTL real: info_ts is the order
  * date, detail_ts is offset ±3 h per line number (up to ±21 h of the
  * ±24 h window — NEAR-TTL pairs included by construction, and the
  * BETWEEN predicate is part of the oracle SQL, not decoration).
  *
  * Why nothing is ever dropped or evicted early, by construction (the
  * argument a production deployment needs at any scale):
  *  - each SIDE arrives in its own event-time order (its cuts are
  *    ordered slices), so on arrival a row's own side's watermark is
  *    `prev_max − 24 h < ts` and the GLOBAL watermark (min of sides)
  *    can only be lower — no late drops, regardless of how far the
  *    OTHER side has advanced;
  *  - an info row (ts = T) evicts only when the global watermark passes
  *    T + 24 h, which needs the detail side's max to pass T + 48 h; as
  *    long as its matching detail (ts ≤ T + 21 h) has not arrived, the
  *    ordered detail side's max is ≤ T + 21 h — matching state is never
  *    evicted under the arriving side. Symmetric for detail rows.
  *
  * Inner interval joins emit each matched pair exactly once, in the
  * batch where the later side arrives, so no flush sentinels are needed
  * — the fillers only occupy trigger slots (order_id −1 vs −2 can never
  * join, and their ts pins to the corpus minimum so they advance no
  * watermark).
  *
  * Dim enrichment (customer, nation) is a broadcast stream-static join
  * inside the streaming query — the reference's per-record Redis GETs,
  * engine-native (the q05 plan shape). The sink is [[graft.sinks
  * .KeyedParquetSink]] keyed (order_id, line_uid) within a month
  * partition: batch 1's write is issued twice (at-least-once replay)
  * and the keyed upsert collapses it — the S8/ST8 exactly-once
  * contract under the driver gate. Month, not day, as the dt column
  * only because the fixture spans ~7 years (a day-partitioned store
  * would pay ~2 400 tiny-partition rewrites for ~25 rows each at
  * sf0.01); production would partition by day exactly like the
  * reference's per-day ES indexes. */
object OrderWideStream {

  type Q = (SparkSession, String) => DataFrame

  private val Delay = "24 hours"
  private val Sources = Seq("orders", "lineitem")
  private val Kind = "orderwidestream"

  val orderWideStream: Q = (s, d) => {
    val store = ensureLifecycle(s, d)
    s.read.parquet(store)
      .select(col("order_id"), col("detail_id"), col("user_id"),
        col("user_name"), col("province_name"), col("create_date"),
        col("split_total_amount"))
  }

  /** The two staged sides, BEFORE cutting: exactly the q05 batch
    * inputs, with the synthetic-but-deterministic event times the join
    * window needs (info_ts = order date; detail_ts = order date ±3 h ·
    * line number — recomputed identically by the oracle SQL). The
    * detail side's join to orders for the order date is staging-harness
    * cost, run once per fixture generation. */
  private def sides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // o_orderdate reads back as TIMESTAMP_NTZ; watermarks demand
    // TIMESTAMP — the cast is value-preserving under the session's
    // pinned UTC timezone (Graft.localSession)
    val info = t(s, d, "orders").select(
      col("o_orderkey").as("order_id"),
      col("o_orderdate").cast("timestamp").as("ts"),
      col("o_custkey").as("user_id"))
    // The fixture's lineitem key (l_orderkey, l_linenumber) is NOT
    // unique (45 832 distinct of 60 000 at sf0.01) — a real order_detail
    // table has a unique detail id (the reference's order_detail.id);
    // line_uid reconstructs one deterministically (row_number within
    // the order over the unique (linenumber, price, discount) triple, a
    // keyed per-order window — fine at scale). It is the sink key and
    // is dropped on read: the served table keeps q05's exact columns,
    // duplicates included.
    val lw = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
    val detail = t(s, d, "lineitem")
      .withColumn("line_uid", row_number().over(lw).cast("long"))
      .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey").as("order_id"),
        expr("timestampadd(HOUR, CAST(l_linenumber * 3 * " +
          "(CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END) AS INT), " +
          "o_orderdate)").cast("timestamp").as("ts"),
        col("l_linenumber").cast("long").as("detail_id"),
        col("line_uid"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("split_total_amount"))
    (info, detail)
  }

  /** Stage one side's three ordered cuts + fillers into `feed` with the
    * arrival plan's mtimes. `slots` maps trigger position → Some(cut
    * number) or None (filler). */
  private def stageSide(s: SparkSession, loc: String, feed: String,
      side: DataFrame, fillerRow: DataFrame,
      slots: Seq[Option[Int]]): Unit = {
    // ntile over the side's OWN (ts, keys) total order → three
    // contiguous, EVENT-TIME-ordered cuts (the no-late-drops invariant
    // above: ts must be the leading sort key or a later cut can carry
    // an earlier event time and be dropped as late). Single-partition
    // window = staging harness cost, once per fixture generation,
    // never operator cost.
    val cutW = Window.orderBy(col("ts") +:
      side.columns.toIndexedSeq.filter(_ != "ts").map(col): _*)
    val cut = side.withColumn("__cut", ntile(3).over(cutW))
    graft.sinks.Lifecycle.stageFeed(s, loc, feed, slots.map {
      case Some(k) => cut.filter(col("__cut") === k).drop("__cut")
        .sortWithinPartitions(col("ts"))
      case None => fillerRow
    })
  }

  /** The lifecycle's tag dir for the CURRENT fixture content —
    * fingerprinted by both source tables, so a regenerated fixture gets
    * fresh state. Exposed for the torn-build spec (a prefix search could
    * pick a STALE generation's dir and tear the wrong state). */
  private[graft] def lifecycleLoc(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.location(s, d, Sources, Kind)

  private def ensureLifecycle(s: SparkSession, d: String): String =
    graft.sinks.Lifecycle.ensure(s, d, Sources, Kind) { loc =>
      val (info, detail) = sides(s, d)
      // filler ts pins to the corpus minimum so a filler can never
      // advance a side's watermark past a later real cut (built
      // in-plan: no driver-side Timestamp materialization)
      val minTs = info.agg(min(col("ts")).as("ts"))
      val infoFill = minTs.select(lit(-1L).as("order_id"), col("ts"),
        lit(-1L).as("user_id"))
      val detailFill = minTs.select(lit(-2L).as("order_id"), col("ts"),
        lit(-1L).as("detail_id"), lit(-1L).as("line_uid"),
        lit(0.0).as("split_total_amount"))
      val infoFeed = s"$loc/__feed_info"
      val detailFeed = s"$loc/__feed_detail"
      stageSide(s, loc, infoFeed, info, infoFill,
        Seq(Some(1), None, Some(2), None, Some(3)))
      stageSide(s, loc, detailFeed, detail, detailFill,
        Seq(None, Some(1), Some(2), Some(3), None))
      runJoin(s, d, loc, infoFeed, detailFeed)
    } + "/store"

  private def runJoin(s: SparkSession, d: String, loc: String,
      infoFeed: String, detailFeed: String): Unit = {
    val (infoB, detailB) = sides(s, d) // schemas only
    val info = s.readStream.schema(infoB.schema)
      .option("maxFilesPerTrigger", 1).parquet(infoFeed)
    val detail = s.readStream.schema(detailB.schema)
      .option("maxFilesPerTrigger", 1).parquet(detailFeed)
    val cust = t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
    val wide = Streams.orderWideJoin(info, detail, Delay)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("info_order_id").as("order_id"), col("detail_id"),
        col("line_uid"),
        col("user_id"), col("c_name").as("user_name"),
        col("n_name").as("province_name"),
        date_format(col("info_ts"), "yyyy-MM-dd").as("create_date"),
        col("split_total_amount"),
        date_format(col("info_ts"), "yyyy-MM").as("dt_month"))
    val q = wide.writeStream
      .option("checkpointLocation", s"$loc/__ckpt")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        def put(): Unit = graft.sinks.KeyedParquetSink.upsert(batch,
          s"$loc/store", Seq("order_id", "line_uid"), "dt_month",
          "line_uid")
        put()
        if (bid == 1L) put() // at-least-once: duplicate one delivery
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    compactStore(s, loc)
  }

  /** End-of-build compaction (the sink family's compact convention):
    * five micro-batches × 32 writer tasks × dynamic partition
    * overwrite leave ~2 900 tiny files over ~170 month dirs, and every
    * store read pays a footer fetch per file (measured 1.3 s/read at
    * sf0.1; ~0.3 s compacted). One task per month rewrites the store,
    * then the usual delete-then-rename swap. Build-once state inside
    * the lifecycle's private stage dir — no reader can race the swap. At 100 TB this is the per-day compaction cadence
    * every serving table runs, not a fixture hack. */
  private def compactStore(s: SparkSession, loc: String): Unit = {
    val store = s"$loc/store"
    val tmp = s"$loc/store.__compact"
    graft.sinks.Hfs.deleteRecursive(s, tmp)
    s.read.parquet(store)
      .repartition(col("dt_month"))
      .write.partitionBy("dt_month").parquet(tmp)
    graft.sinks.Hfs.deleteRecursive(s, store)
    graft.sinks.Hfs.rename(s, tmp, store)
  }

  val queries: Map[String, Q] = Map(
    "q152_order_wide_stream" -> orderWideStream)

  /** q05's oracle with the join window made explicit: the synthetic
    * detail_ts is recomputed in SQL and the 24 h BETWEEN predicate is
    * the streamed join's own admission condition (every fixture pair
    * lands inside it — |offset| ≤ 21 h — so the streamed store must
    * hash-equal the full batch join). */
  val oracles: Map[String, String] = Map(
    "q152_order_wide_stream" ->
      """WITH info AS (
        |  SELECT o_orderkey AS order_id, o_orderdate AS info_ts,
        |         o_custkey AS user_id
        |  FROM orders),
        |det AS (
        |  SELECT l_orderkey AS order_id, l_linenumber::BIGINT AS detail_id,
        |    o_orderdate + (l_linenumber * 3 *
        |      (CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END))
        |      * INTERVAL 1 HOUR AS detail_ts,
        |    l_extendedprice * (1 - l_discount) AS split_total_amount
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT i.order_id, d.detail_id, i.user_id, c.c_name AS user_name,
        |  n.n_name AS province_name,
        |  strftime(i.info_ts, '%Y-%m-%d') AS create_date,
        |  d.split_total_amount
        |FROM info i
        |JOIN det d ON i.order_id = d.order_id
        |  AND d.detail_ts BETWEEN i.info_ts - INTERVAL 24 HOUR
        |                      AND i.info_ts + INTERVAL 24 HOUR
        |JOIN customer c ON i.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,
  )
}
