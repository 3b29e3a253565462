package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST1-ST8 parity via MemoryStream (no Kafka broker in this env):
  * cross-batch dedup with watermark TTL, stream-stream join arrival
  * matrix (info-first / detail-first / same-batch), windowed agg,
  * fan-out foreachBatch, and replay-idempotency of the dedup output. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Page(mid: String, ts: Timestamp, page_id: String)
  case class Ord(order_id: Long, ts: Timestamp, amount: Double)
  case class Det(order_id: Long, ts: Timestamp, sku: String)

  test("dauDedup admits first event per (mid, dt) across batches; state expires by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Streams.dauDedup(in.toDF(), "24 hours")
      .writeStream.format("memory").queryName("dau_out").outputMode("append").start()
    try {
      // batch 1: two events same mid same day + one other mid
      in.addData(
        Page("m1", ts("2024-01-01 10:00:00"), "home"),
        Page("m1", ts("2024-01-01 11:00:00"), "detail"),
        Page("m2", ts("2024-01-01 10:30:00"), "home"))
      q.processAllAvailable()
      // batch 2: m1 again same day (dup, dropped), m1 next day (admitted)
      in.addData(
        Page("m1", ts("2024-01-01 12:00:00"), "cart"),
        Page("m1", ts("2024-01-02 09:00:00"), "home"))
      q.processAllAvailable()
      val out = spark.table("dau_out").select("mid", "dt").as[(String, String)]
        .collect().sorted.toSeq
      assert(out == Seq(("m1", "2024-01-01"), ("m1", "2024-01-02"), ("m2", "2024-01-01")))

      // state EXPIRY: jump event time a month ahead; once the watermark
      // passes the January keys' ts + 24h they must be evicted from the
      // state store (this is the fix over plain dropDuplicates, whose
      // state only ever grows).
      val grown = q.lastProgress.stateOperators.head.numRowsTotal
      in.addData(Page("m9", ts("2024-02-01 00:00:00"), "home"))
      q.processAllAvailable()
      in.addData(Page("m10", ts("2024-02-01 01:00:00"), "home"))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(grown >= 3, s"expected all January keys in state, saw $grown")
      assert(after < grown && after <= 2,
        s"January dedup keys were not evicted: $grown -> $after state rows")
    } finally q.stop()
  }

  test("orderWideJoin matches info/detail across batches within the lateness bound") {
    implicit val sqlCtx = spark.sqlContext
    val info = MemoryStream[Ord]
    val det = MemoryStream[Det]
    val joined = Streams.orderWideJoin(info.toDF(), det.toDF(), "24 hours")
      .select(col("info_order_id"), col("amount"), col("sku"))
    val q = joined.writeStream.format("memory").queryName("ow_out")
      .outputMode("append").start()
    try {
      // same-batch pair (order 1); info-first (order 2); detail-first (order 3)
      info.addData(Ord(1, ts("2024-01-01 10:00:00"), 10.0), Ord(2, ts("2024-01-01 10:00:00"), 20.0))
      det.addData(Det(1, ts("2024-01-01 10:05:00"), "sku_a"), Det(3, ts("2024-01-01 10:00:00"), "sku_c"))
      q.processAllAvailable()
      // late counterparts within 24h
      det.addData(Det(2, ts("2024-01-01 20:00:00"), "sku_b"))
      info.addData(Ord(3, ts("2024-01-01 18:00:00"), 30.0))
      q.processAllAvailable()
      // 1:N — second detail for order 1
      det.addData(Det(1, ts("2024-01-01 10:10:00"), "sku_a2"))
      q.processAllAvailable()
      val out = spark.table("ow_out").as[(Long, Double, String)].collect().sorted.toSeq
      assert(out == Seq((1L, 10.0, "sku_a"), (1L, 10.0, "sku_a2"),
        (2L, 20.0, "sku_b"), (3L, 30.0, "sku_c")))
    } finally q.stop()
  }

  test("hourlyAgg buckets match the batch date_trunc twin") {
    implicit val sqlCtx = spark.sqlContext
    case class Ev(ts: Timestamp, event_type: String, value: Double)
    val in = MemoryStream[(Timestamp, String, Double)]
    val stream = Streams.hourlyAgg(
      in.toDF().toDF("ts", "event_type", "value"), "1 hour")
    val q = stream.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:10:00"), "click", 1.0),
        (ts("2024-01-01 10:50:00"), "click", 2.0),
        (ts("2024-01-01 11:10:00"), "click", 4.0))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      in.addData((ts("2024-01-02 00:00:00"), "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select("win_start", "event_type", "n", "total_value")
        .as[(String, String, Long, Double)].collect().sorted.toSeq
      assert(out.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
      assert(out.contains(("2024-01-01 11:00:00", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("fanout foreachBatch writes all five outputs from a stream") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("fanout").toString
    val in = MemoryStream[String]
    val q = in.toDF().toDF("value").writeStream
      .foreachBatch(Streams.fanoutBatchWriter(dir) _).start()
    try {
      in.addData(
        """{"common":{"mid":"m1"},"page":{"page_id":"home"},"ts":1}""",
        """{"common":{"mid":"m2"},"err":{"error_code":1,"msg":"x"},"ts":2}""",
        """{"common":{"mid":"m3"},"start":{"entry":"icon"},"ts":3}""")
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/page").count() == 1)
      assert(spark.read.parquet(s"$dir/error").count() == 1)
      assert(spark.read.parquet(s"$dir/start").count() == 1)
    } finally q.stop()
  }

  test("cdc routing re-reads config each batch: a table promoted to fact mid-stream reroutes") {
    implicit val sqlCtx = spark.sqlContext
    val confDir = Files.createTempDirectory("route_conf").toString
    val outDir = Files.createTempDirectory("route_out").toString
    def writeConf(lines: String): Unit =
      Files.writeString(java.nio.file.Path.of(s"$confDir/conf.csv"), lines)
    writeConf("order_info,fact\nuser_info,dim\n")

    val in = MemoryStream[String]
    val q = in.toDF().toDF("value").writeStream
      .foreachBatch(Streams.cdcRouteBatchWriter(confDir, outDir) _).start()
    try {
      val rec = """{"database":"g","table":"spu_info","type":"insert","ts":1,"data":{"id":7}}"""
      in.addData(rec)
      q.processAllAvailable()
      // spu_info unrouted in batch 1
      val n1 = try spark.read.parquet(s"$outDir/fact").count() catch { case _: Throwable => 0L }
      assert(n1 == 0)
      // promote spu_info to fact — takes effect NEXT batch, no restart
      writeConf("order_info,fact\nuser_info,dim\nspu_info,fact\n")
      in.addData(rec)
      q.processAllAvailable()
      val facts = spark.read.parquet(s"$outDir/fact")
      assert(facts.count() == 1)
      assert(facts.select("topic").as[String].collect()(0) == "DWD_SPU_INFO_I")
    } finally q.stop()
  }

  test("streaming DAU topology: dedup stream -> keyed serving sink -> hourly query") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("dau_serve").toString + "/dau_wide"
    val in = MemoryStream[Page]
    val q = Streams.dauDedup(in.toDF(), "24 hours")
      .withColumn("dt", col("dt").cast("string"))
      .withColumn("ver", col("ts").cast("long"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.KeyedParquetSink.upsert(batch, path, Seq("mid", "dt"),
          "dt", "ver")
      }
      .start()
    try {
      in.addData(
        Page("m1", ts("2024-01-01 10:00:00"), "home"),
        Page("m1", ts("2024-01-01 11:00:00"), "detail"), // same day, deduped
        Page("m2", ts("2024-01-01 10:30:00"), "home"))
      q.processAllAvailable()
      in.addData(Page("m1", ts("2024-01-02 09:00:00"), "home"))
      q.processAllAvailable()
      // serving query: DAU per day over the sink (the /dauRealtime shape)
      val serve = spark.read.parquet(path)
        .groupBy("dt").agg(count(lit(1)).as("dau"))
        .as[(String, Long)].collect().toMap
      assert(serve == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
      // the sink executes each batch's stateful plan ONCE: one store per
      // shuffle partition (4 here), not one per job that reads the batch
      val stores = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numStateStoreInstances).toSeq)
      assert(stores.nonEmpty && stores.forall(_ == Seq(4)),
        s"state store instances per batch: $stores")
    } finally q.stop()
  }

  test("dedup is idempotent under replay (batch twin): dedup(dedup(x)) == dedup(x)") {
    val e = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id").cast("string").as("mid"), col("ts"))
    val once = Streams.dauDedup(e)
    val twice = Streams.dauDedup(once.drop("dt"))
    assert(once.count() == twice.count())
  }

  test("transitionPairs: reversed arrivals inside the watermark reorder; pairs cross batches; the tail pairs a month later") {
    import Streams.{TransEvent, TransPair}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val q = Streams.transitionPairs(in.toDS(), "10 minutes").toDF()
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      // user 1's first two events arrive REVERSED within the horizon
      in.addData(
        TransEvent(1L, ts("2024-01-01 10:05:00"), 2L, "click"),
        TransEvent(1L, ts("2024-01-01 10:00:00"), 1L, "view"))
      q.processAllAvailable()
      assert(spark.table("trans_out").isEmpty,
        "nothing may emit before the watermark passes the buffer")
      // advance the watermark well past user 1's events, then one more
      // batch so the timed-out group sees it
      in.addData(TransEvent(9L, ts("2024-01-01 11:00:00"), 99L, "view"))
      q.processAllAvailable()
      in.addData(TransEvent(8L, ts("2024-01-01 12:00:00"), 98L, "view"))
      q.processAllAvailable()
      val mid = spark.table("trans_out").as[TransPair].collect().toSet
      assert(mid == Set(TransPair(1L, 1L, 2L, "view", "click")),
        s"buffered events must flush in (ts, id) order: $mid")
      // a month later the user returns — event-time ADVANCE, not
      // lateness: the tail click must still pair
      in.addData(TransEvent(1L, ts("2024-02-01 00:00:00"), 3L, "purchase"))
      q.processAllAvailable()
      in.addData(TransEvent(7L, ts("2024-02-02 00:00:00"), 97L, "view"))
      q.processAllAvailable()
      in.addData(TransEvent(6L, ts("2024-02-03 00:00:00"), 96L, "view"))
      q.processAllAvailable()
      val out = spark.table("trans_out").as[TransPair].collect().toSet
      assert(out == Set(
        TransPair(1L, 1L, 2L, "view", "click"),
        TransPair(1L, 2L, 3L, "click", "purchase")), s"got $out")
    } finally q.stop()
  }

  test("transitionPairs: boundary-equal and late arrivals are REFUSED by the engine (ts <= wm drops) — the measured admission the strict ripe line leans on") {
    import Streams.{TransEvent, TransPair}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val q = Streams.transitionPairs(in.toDS(), "10 minutes").toDF()
      .writeStream.format("memory").queryName("trans_boundary")
      .outputMode("append").start()
    try {
      in.addData(TransEvent(1L, ts("2024-01-01 12:00:00"), 1L, "view"))
      q.processAllAvailable()
      // watermark is now exactly 11:50:00.000. The round-12 DropProbe
      // measurement: fMGWS admits only ts STRICTLY above the watermark
      // — an 11:50:00.000 arrival (== wm) and an earlier one both drop;
      // 11:50:00.001 is admitted. If a Spark upgrade flips the boundary
      // convention this test fails INFORMATIVELY (the strict ripe line
      // stays order-safe either way — the late twin would buffer and
      // fold in order, and user 2's pair below would gain a row).
      in.addData(
        TransEvent(2L, ts("2024-01-01 11:49:00"), 2L, "view"), // late
        TransEvent(2L, java.sql.Timestamp.valueOf("2024-01-01 11:50:00.0"),
          3L, "click"), // boundary-equal
        TransEvent(2L, java.sql.Timestamp.valueOf("2024-01-01 11:50:00.001"),
          4L, "view")) // admitted
      q.processAllAvailable()
      // flush everything: sentinel a day later + one more batch
      in.addData(TransEvent(9L, ts("2024-01-02 12:00:00"), 98L, "view"))
      q.processAllAvailable()
      in.addData(TransEvent(8L, ts("2024-01-03 12:00:00"), 97L, "view"))
      q.processAllAvailable()
      val out = spark.table("trans_boundary").as[TransPair].collect().toSet
      // user 2 folded ONLY event 4: no pair. Had the refused events been
      // admitted, (2,3)->click->view or (2,2)->view->click would appear.
      assert(out.isEmpty || !out.exists(_.user_id == 2L),
        s"refused arrivals must not fold: $out")
      assert(!out.exists(_.user_id == 1L), s"single-event user paired: $out")
    } finally q.stop()
  }

  test("transitionPairs over shuffled in-horizon arrivals == the batch lead pairs, for random event streams") {
    import Streams.{TransEvent, TransPair}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    // 5 users × 30 events over ~an hour, second-granularity ts with
    // deliberate collisions (same user, same second)
    val base = ts("2024-03-01 00:00:00").getTime
    val events = (1 to 150).map { i =>
      TransEvent(1L + rnd.nextInt(5),
        new Timestamp(base + rnd.nextInt(3600) * 1000L), i.toLong,
        Seq("view", "click", "purchase")(rnd.nextInt(3)))
    }
    // arrival: three (ts, id)-ordered cuts, SHUFFLED within each cut
    // (inside the 2h horizon), then two flush sentinels
    val cuts = events.sortBy(e => (e.ts.getTime, e.event_id))
      .grouped(50).map(c => rnd.shuffle(c)).toSeq
    val in = MemoryStream[TransEvent]
    val q = Streams.transitionPairs(in.toDS(), "2 hours").toDF()
      .writeStream.format("memory").queryName("trans_rand_out")
      .outputMode("append").start()
    try {
      cuts.foreach { c => in.addData(c); q.processAllAvailable() }
      in.addData(TransEvent(-1L, new Timestamp(base + 10L * 86400000L), -1L, "view"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L, new Timestamp(base + 20L * 86400000L), -1L, "view"))
      q.processAllAvailable()
      val got = spark.table("trans_rand_out").as[TransPair].collect().toSet
      val want = events.groupBy(_.user_id).flatMap { case (u, es) =>
        val s = es.sortBy(e => (e.ts.getTime, e.event_id))
        s.zip(s.drop(1)).map { case (a, b) =>
          TransPair(u, a.event_id, b.event_id, a.event_type, b.event_type) }
      }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("TransitionSink: replayed batches and compaction preserve the pair set") {
    import spark.implicits._
    val loc = java.nio.file.Files
      .createTempDirectory("transition-sink-spec").toString
    def pairs(rows: (Long, Long, Long, String, String)*) =
      rows.toSeq.toDF("user_id", "from_id", "to_id", "src", "dst")
    val b0 = pairs((1L, 1L, 2L, "view", "click"))
    val b1 = pairs((1L, 2L, 3L, "click", "purchase"),
      (2L, 7L, 8L, "view", "view"))
    graft.sinks.TransitionSink.writer(loc)(b0, 0L)
    graft.sinks.TransitionSink.writer(loc)(b1, 1L)
    graft.sinks.TransitionSink.writer(loc)(b1, 1L) // at-least-once replay
    def readSet() = graft.sinks.TransitionSink.read(spark, loc)
      .as[(Long, Long, Long, String, String)].collect().toSet
    val s1 = readSet()
    assert(s1 == Set((1L, 1L, 2L, "view", "click"),
      (1L, 2L, 3L, "click", "purchase"), (2L, 7L, 8L, "view", "view")))
    graft.sinks.TransitionSink.compact(spark, loc)
    assert(readSet() == s1, "compaction changed the pair set")
  }

  test("q133 lifecycle: a torn build (missing __done) is cleared and rebuilt, never served") {
    // the ordered-feed family (q133/q140/q144/q145/q149): its checkpoint
    // and feed live inside the published dir, so a rebuild must replace
    // the whole generation, not patch it
    def answer() = graft.operators.Analytics.transitionsStream(spark, sf0001)
      .as[(String, String, Long, Double)].collect().toSeq.sorted
    val first = answer()
    // THIS fixture generation's tag dir, by exact stat fingerprint
    val loc = graft.sinks.Lifecycle.location(spark, sf0001, Seq("events"),
      "transstream")
    assert(graft.sinks.Hfs.readString(spark, s"$loc/__done").nonEmpty,
      "fixture lifecycle not built")
    // tear it: kill the marker and plant junk in the store — the next
    // read must rebuild from scratch (junk gone), not serve torn state
    graft.sinks.Hfs.deleteRecursive(spark, s"$loc/__done")
    graft.sinks.Hfs.writeString(spark, s"$loc/store/__JUNK", "torn")
    val again = answer()
    assert(again == first, "rebuild must reproduce the store exactly")
    assert(!graft.sinks.Hfs.exists(spark, s"$loc/store/__JUNK"),
      "torn-state junk survived the rebuild")
    assert(graft.sinks.Hfs.readString(spark, s"$loc/__done").nonEmpty)
  }

  test("funnelAdvance: strictly-prior qualification — a click before any view never advances, same-ts earlier-id views qualify, steps emit once, heartbeats no-op") {
    import Streams.{TransEvent, FunnelStep}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val q = Streams.funnelAdvance(in.toDS(), "10 minutes").toDF()
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      in.addData(
        // user 1: click BEFORE any view — must never open step 2
        TransEvent(1L, ts("2024-01-01 10:00:00"), 1L, "click"),
        TransEvent(1L, ts("2024-01-01 10:01:00"), 2L, "view"),
        // a purchase with no qualified click — step 3 stays shut
        TransEvent(1L, ts("2024-01-01 10:02:00"), 3L, "purchase"),
        TransEvent(1L, ts("2024-01-01 10:03:00"), 4L, "click"),
        TransEvent(1L, ts("2024-01-01 10:04:00"), 5L, "purchase"),
        // second conversions must NOT re-emit any step
        TransEvent(1L, ts("2024-01-01 10:05:00"), 6L, "view"),
        TransEvent(1L, ts("2024-01-01 10:06:00"), 7L, "click"),
        TransEvent(1L, ts("2024-01-01 10:07:00"), 8L, "purchase"),
        // user 2: view and click SHARE a ts — the smaller event_id
        // view sits strictly before in the row order, so it qualifies
        TransEvent(2L, ts("2024-01-01 10:00:00"), 10L, "view"),
        TransEvent(2L, ts("2024-01-01 10:00:00"), 11L, "click"))
      q.processAllAvailable()
      in.addData(TransEvent(-1L, ts("2024-01-02 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L, ts("2024-01-03 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("funnel_out").as[FunnelStep].collect().toSet
      assert(got == Set(FunnelStep(1L, 1), FunnelStep(1L, 2),
        FunnelStep(1L, 3), FunnelStep(2L, 1), FunnelStep(2L, 2)),
        s"got $got")
    } finally q.stop()
  }

  test("funnelAdvance over shuffled in-horizon arrivals == the batch funnel, for random event streams") {
    import Streams.{TransEvent, FunnelStep}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val base = ts("2024-03-01 00:00:00").getTime
    val events = (1 to 150).map { i =>
      TransEvent(1L + rnd.nextInt(5),
        new Timestamp(base + rnd.nextInt(3600) * 1000L), i.toLong,
        Seq("view", "click", "purchase")(rnd.nextInt(3)))
    }
    val cuts = events.sortBy(e => (e.ts.getTime, e.event_id))
      .grouped(50).map(c => rnd.shuffle(c)).toSeq
    val in = MemoryStream[TransEvent]
    val q = Streams.funnelAdvance(in.toDS(), "2 hours").toDF()
      .writeStream.format("memory").queryName("funnel_rand_out")
      .outputMode("append").start()
    try {
      cuts.foreach { c => in.addData(c); q.processAllAvailable() }
      in.addData(TransEvent(-1L,
        new Timestamp(base + 10L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L,
        new Timestamp(base + 20L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("funnel_rand_out").as[FunnelStep].collect().toSet
      // independent fold over the batch total order
      val want = events.groupBy(_.user_id).flatMap { case (u, es) =>
        val s = es.sortBy(e => (e.ts.getTime, e.event_id))
        var (va, vb) = (false, false)
        val steps = scala.collection.mutable.Set.empty[Int]
        s.foreach { e =>
          val q2 = e.event_type == "click" && va
          val q3 = e.event_type == "purchase" && vb
          if (e.event_type == "view") steps += 1
          if (q2) { steps += 2; vb = true }
          if (q3) steps += 3
          if (e.event_type == "view") va = true
        }
        steps.map(FunnelStep(u, _))
      }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // and the derived counts equal the batch q121 operator on the
      // same frame — the full streaming-vs-batch equivalence
      val ev = events.toSeq
        .toDF("user_id", "ts", "event_id", "event_type")
      val batch = operators.Analytics.funnelStepsOver(ev)
        .as[(Long, Long, Long)].collect().head
      val counts = (got.count(_.step == 1).toLong,
        got.count(_.step == 2).toLong, got.count(_.step == 3).toLong)
      assert(counts == batch, s"stream $counts != batch $batch")
    } finally q.stop()
  }

  test("dwellPairs: exact MICROSECOND gaps — sub-milli timestamps neither reorder nor truncate; the 30-min cap holds; tails never emit") {
    import Streams.{TransEvent, DwellPair}
    implicit val sqlCtx = spark.sqlContext
    // two events 1500 µs apart INSIDE one millisecond — a millis buffer
    // would order them by event_id luck and report gap 0 or 1000 µs
    def tsUs(base: String, us: Long): Timestamp = {
      val t0 = ts(base) // second-aligned literal; setNanos REPLACES the
      val t = new Timestamp(t0.getTime + (us / 1000000L) * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt) // whole fractional second
      t
    }
    val in = MemoryStream[TransEvent]
    val q = Streams.dwellPairs(in.toDS(), "10 minutes").toDF()
      .writeStream.format("memory").queryName("dwell_out")
      .outputMode("append").start()
    try {
      in.addData(
        // arrive REVERSED: the later-by-500µs event first
        TransEvent(1L, tsUs("2024-01-01 10:00:00", 1500L), 2L, "click"),
        TransEvent(1L, tsUs("2024-01-01 10:00:00", 0L), 1L, "view"),
        // a 2-hour gap that must cap at 1800 s
        TransEvent(1L, ts("2024-01-01 12:00:00"), 3L, "purchase"))
      q.processAllAvailable()
      in.addData(TransEvent(-1L, ts("2024-01-02 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L, ts("2024-01-03 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("dwell_out").as[DwellPair].collect().toSet
      assert(got == Set(
        DwellPair(1L, 1L, "view", 1500L),
        DwellPair(1L, 2L, "click", 1800000000L)), s"got $got")
    } finally q.stop()
  }

  test("dwellPairs over shuffled in-horizon arrivals == the batch capped gaps, for random event streams") {
    import Streams.{TransEvent, DwellPair}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val base = ts("2024-03-01 00:00:00").getTime
    val events = (1 to 150).map { i =>
      TransEvent(1L + rnd.nextInt(5),
        new Timestamp(base + rnd.nextInt(3600) * 1000L), i.toLong,
        Seq("view", "click", "purchase")(rnd.nextInt(3)))
    }
    val cuts = events.sortBy(e => (e.ts.getTime, e.event_id))
      .grouped(50).map(c => rnd.shuffle(c)).toSeq
    val in = MemoryStream[TransEvent]
    val q = Streams.dwellPairs(in.toDS(), "2 hours").toDF()
      .writeStream.format("memory").queryName("dwell_rand_out")
      .outputMode("append").start()
    try {
      cuts.foreach { c => in.addData(c); q.processAllAvailable() }
      in.addData(TransEvent(-1L,
        new Timestamp(base + 10L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L,
        new Timestamp(base + 20L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("dwell_rand_out").as[DwellPair].collect().toSet
      val want = events.groupBy(_.user_id).flatMap { case (u, es) =>
        val s = es.sortBy(e => (e.ts.getTime, e.event_id))
        s.zip(s.drop(1)).map { case (a, b) =>
          DwellPair(u, a.event_id, a.event_type,
            math.min((b.ts.getTime - a.ts.getTime) * 1000L, 1800000000L)) }
      }.toSet
      assert(got == want,
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("pitReads: purchases read the accumulator — version 0 before any change, null-k change IS a state, tagged payload parses") {
    import Streams.{TransEvent, PitRead}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val q = Streams.pitReads(in.toDS(), "10 minutes").toDF()
      .writeStream.format("memory").queryName("pit_out")
      .outputMode("append").start()
    try {
      in.addData(
        TransEvent(1L, ts("2024-01-01 09:00:00"), 1L, "purchase"),
        TransEvent(1L, ts("2024-01-01 10:00:00"), 2L, "change:5"),
        TransEvent(1L, ts("2024-01-01 11:00:00"), 3L, "purchase"),
        TransEvent(1L, ts("2024-01-01 12:00:00"), 4L, "change:"),
        TransEvent(1L, ts("2024-01-01 13:00:00"), 5L, "purchase"),
        TransEvent(1L, ts("2024-01-01 14:00:00"), 6L, "other"),
        TransEvent(1L, ts("2024-01-01 15:00:00"), 7L, "purchase"))
      q.processAllAvailable()
      in.addData(TransEvent(-1L, ts("2024-01-02 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L, ts("2024-01-03 10:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("pit_out").as[PitRead].collect()
        .map(r => r.event_id -> ((r.state_version, r.state_k))).toMap
      assert(got == Map(
        1L -> ((0L, None)),           // before any change
        3L -> ((1L, Some(5L))),       // after change:5
        5L -> ((2L, None)),           // null-k change IS the state
        7L -> ((2L, None))),          // "other" folded as a no-op
        s"got $got")
    } finally q.stop()
  }

  test("sessionAgg: the built-in session operator matches the batch gap cut — 30:00-exactly merges, 30:00.000001 splits, sentinels form their own droppable sessions") {
    import Streams.TransEvent
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val q = Streams.sessionAgg(in.toDS(), "1 hour")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData(
        // user 1: gap of EXACTLY 30:00 — same session in the batch cut
        // (strict >), so the stream gap is 30 min + 1 µs end-exclusive
        TransEvent(1L, ts("2024-01-01 10:00:00"), 1L, "view"),
        TransEvent(1L, ts("2024-01-01 10:30:00"), 2L, "purchase"),
        // then 30:00.001 of silence — a NEW session
        TransEvent(1L, new Timestamp(ts("2024-01-01 11:00:00").getTime + 1L),
          3L, "click"),
        TransEvent(2L, ts("2024-01-01 09:00:00"), 4L, "view"))
      q.processAllAvailable()
      in.addData(TransEvent(-1L, ts("2024-01-05 00:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L, ts("2024-01-09 00:00:00"), -1L, "heartbeat"))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val t0us = ts("2024-01-01 10:00:00").getTime * 1000L
      val expectReal = Set(
        (1L, t0us, 2L, 1800000000L, 1L),
        (1L, t0us + 3600001000L, 1L, 0L, 0L),
        (2L, ts("2024-01-01 09:00:00").getTime * 1000L, 1L, 0L, 0L),
        // the first sentinel's own session (finalized by the second);
        // the q149 read drops negative users
        (-1L, ts("2024-01-05 00:00:00").getTime * 1000L, 1L, 0L, 0L))
      assert(got == expectReal, s"got $got")
      assert(got.toSeq.filter(_._1 >= 0).map(_._3).sum == 4L)
    } finally q.stop()
  }

  test("sessionAgg over random cut streams == the batch session rollup") {
    import Streams.TransEvent
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    val base = ts("2024-03-01 00:00:00").getTime
    // bursty users: gaps cluster near the 30-min line to stress the cut
    val events = (1 to 120).map { i =>
      TransEvent(1L + rnd.nextInt(4),
        new Timestamp(base + rnd.nextInt(400) * 601000L), i.toLong,
        Seq("view", "click", "purchase")(rnd.nextInt(3)))
    }
    val cuts = events.sortBy(e => (e.ts.getTime, e.event_id))
      .grouped(40).map(c => rnd.shuffle(c)).toSeq
    val in = MemoryStream[TransEvent]
    val q = Streams.sessionAgg(in.toDS(), "2 hours")
      .writeStream.format("memory").queryName("sess_rand_out")
      .outputMode("append").start()
    try {
      cuts.foreach { c => in.addData(c); q.processAllAvailable() }
      in.addData(TransEvent(-1L,
        new Timestamp(base + 10L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      in.addData(TransEvent(-2L,
        new Timestamp(base + 20L * 86400000L), -1L, "heartbeat"))
      q.processAllAvailable()
      val sessions = spark.table("sess_rand_out")
        .filter(col("user_id") >= 0)
      val gotSummary = operators.Analytics.sessionSummaryOf(sessions)
        .as[(Long, Double, Double, Long, Double)].collect().head
      val ev = events.toSeq.toDF("user_id", "ts", "event_id", "event_type")
      val want = operators.Analytics.sessionStatsOver(ev)
        .as[(Long, Double, Double, Long, Double)].collect().head
      assert(gotSummary == want, s"stream $gotSummary != batch $want")
    } finally q.stop()
  }

  test("FunnelSink: replayed batches and compaction preserve the step set") {
    import spark.implicits._
    val loc = java.nio.file.Files
      .createTempDirectory("funnel-sink-spec").toString
    def steps(rows: (Long, Int)*) = rows.toSeq.toDF("user_id", "step")
    graft.sinks.FunnelSink.writer(loc)(steps((1L, 1)), 0L)
    graft.sinks.FunnelSink.writer(loc)(steps((1L, 2), (2L, 1)), 1L)
    graft.sinks.FunnelSink.writer(loc)(steps((1L, 2), (2L, 1)), 1L) // replay
    def readSet() = graft.sinks.FunnelSink.read(spark, loc)
      .as[(Long, Int)].collect().toSet
    val s1 = readSet()
    assert(s1 == Set((1L, 1), (1L, 2), (2L, 1)))
    graft.sinks.FunnelSink.compact(spark, loc)
    assert(readSet() == s1, "compaction changed the step set")
  }

  /** Peak `numRowsTotal` and summed `numRowsDroppedByWatermark` over
    * every batch a query ran, each batch counted once (one chunk can
    * run a data batch and a no-data batch, and `lastProgress` may
    * already have scrolled past the data batch). */
  private final class StateTally {
    private val seen = scala.collection.mutable.Set[Long]()
    var peakRows = 0L
    var dropped = 0L
    def add(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      q.recentProgress.foreach { p =>
        if (seen.add(p.batchId)) p.stateOperators.foreach { so =>
          peakRows = math.max(peakRows, so.numRowsTotal)
          dropped += so.numRowsDroppedByWatermark
        }
      }
  }

  test("orderWideJoin state envelope: ordered feeds emit every pair exactly once, and peak state rows stay within 2·(2·delay + 2·batchSpan)/step + 200") {
    implicit val sqlCtx = spark.sqlContext
    val n = 2000
    val stepSec = 2L // one order every 2 s
    val delaySec = 600L
    val nChunks = 20
    val base = 1704067200000L
    val orders = (0 until n).map(k =>
      (k.toLong, new Timestamp(base + k * stepSec * 1000L)))
    // each detail lands 0-3 min after its order, inside the delay
    val details = (0 until n).map(k => (k.toLong,
      new Timestamp(base + k * stepSec * 1000L + (k % 90) * 2000L), k * 10L))
    val inI = MemoryStream[(Long, Timestamp)]
    val inD = MemoryStream[(Long, Timestamp, Long)]
    val q = Streams.orderWideJoin(inI.toDF().toDF("order_id", "ts"),
        inD.toDF().toDF("order_id", "ts", "detail_id"), s"$delaySec seconds")
      .select(col("info_order_id"), col("detail_id"))
      .writeStream.format("memory").queryName("ow_envelope")
      .outputMode("append").start()
    val tally = new StateTally
    try {
      orders.grouped(n / nChunks).toSeq.zip(details.grouped(n / nChunks).toSeq)
        .foreach { case (a, b) =>
          inI.addData(a); inD.addData(b)
          q.processAllAvailable()
          tally.add(q)
        }
    } finally q.stop()
    val out = spark.table("ow_envelope").as[(Long, Long)].collect()
    assert(out.length == n &&
      out.toSet == (0 until n).map(k => (k.toLong, k * 10L)).toSet,
      s"every pair must emit exactly once: ${out.length} rows for $n pairs")
    // a row evicts once the global watermark passes ts + delay, so each
    // side holds ~(2·delay + batch span) of event time, whatever the
    // stream's length; without eviction the state would reach 2·n
    val batchSpanSec = n * stepSec / nChunks
    val bound = 2L * (2 * delaySec + 2 * batchSpanSec) / stepSec + 200
    assert(bound == 1800L)
    info(s"peak join state ${tally.peakRows} rows, bound $bound, ${2 * n} unevicted")
    assert(tally.peakRows > 0 && tally.peakRows <= bound,
      s"peak join state ${tally.peakRows} rows > bound $bound")
  }

  test("transitionPairs state envelope: under arrival lag past the delay, the engine's watermark drops equal the rule-based replay's") {
    import Streams.TransEvent
    implicit val sqlCtx = spark.sqlContext
    val users = 10
    val perUserEvents = 240 // one event / 2 min / user over 8 h
    val stepSec = 120L
    val delaySec = 600L
    val lagSec = 1800L
    val nChunks = 20
    val base = 1704067200000L
    // deterministic adversarial arrival: event k of user u carries
    // ts = base + k·step and arrives at ts + hash % lag
    val evs = (for {
      u <- 0 until users
      k <- 0 until perUserEvents
    } yield {
      val tsMs = base + k * stepSec * 1000L
      val jitter = scala.util.hashing.MurmurHash3.stringHash(s"$u:$k")
        .toLong.abs % (lagSec * 1000L)
      (TransEvent(u.toLong, new Timestamp(tsMs), (u * perUserEvents + k).toLong,
        if (k % 3 == 0) "view" else "click"), tsMs + jitter)
    }).sortBy(_._2).map(_._1)
    val chunks = evs.grouped(evs.size / nChunks).toSeq
    // rule-based replay of the same arrival: batch c's watermark is the
    // max ts of chunks < c minus the delay (epoch before any data), and
    // an arrival with ts <= wm is dropped — the engine's measured
    // admission (the boundary test above)
    var maxTs = Long.MinValue
    var droppedReplay = 0L
    chunks.foreach { c =>
      val wm = if (maxTs == Long.MinValue) 0L else maxTs - delaySec * 1000L
      droppedReplay += c.count(_.ts.getTime <= wm)
      maxTs = math.max(maxTs, c.map(_.ts.getTime).max)
    }
    val in = MemoryStream[TransEvent]
    val q = Streams.transitionPairs(in.toDS(), s"$delaySec seconds").toDF()
      .writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-seqstate").toString)
      .outputMode("append").start()
    val tally = new StateTally
    try chunks.foreach { c =>
      in.addData(c)
      q.processAllAvailable()
      tally.add(q)
    } finally q.stop()
    info(s"watermark drops: engine ${tally.dropped}, replay $droppedReplay of ${evs.size}")
    assert(tally.dropped > 0 && tally.dropped == droppedReplay,
      s"engine dropped ${tally.dropped}, the replay $droppedReplay")
  }
}
