package graft

import graft.model._
import graft.operators.{CdcRouter, Gmall, LogFanout}
import graft.sinks.KeyedParquetSink
import org.apache.spark.sql.functions._

/** Full gmall-shaped fidelity run: raw log JSON + raw CDC JSON through
  * fan-out, routing, typed beans, dim enrichment, the order-wide join and
  * the idempotent serving sink — the reference's whole topology
  * (SURVEY.md §0 diagram) in one batch pass. */
class GmallEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private def log(mid: String, uid: String, ar: String, ts: Long,
      lastPage: String = null) = {
    val lp = if (lastPage == null) "" else s""","last_page_id":"$lastPage""""
    s"""{"common":{"ar":"$ar","uid":"$uid","mid":"$mid","ch":"app","is_new":"0",
       |"md":"M1","os":"OS1","vc":"v1","ba":"B1"},
       |"page":{"page_id":"home","during_time":100$lp},"ts":$ts}"""
      .stripMargin.replaceAll("\n", "")
  }

  private def cdc(table: String, typ: String, dataJson: String, ts: Long = 1L) =
    s"""{"database":"gmall","table":"$table","type":"$typ","ts":$ts,"data":$dataJson}"""

  private val facts = Seq("order_info", "order_detail")
  private val dims = Seq("user_info", "base_province")
  // 2022-02-21 07:xx UTC
  private val t0 = 1645429200000L

  test("log -> fanout -> typed DAU pipeline with dim enrichment") {
    val rawLogs = Seq(
      log("mid1", "1", "11", t0),                    // session entry, first of day
      log("mid1", "1", "11", t0 + 1000),             // second entry, deduped
      log("mid1", "1", "11", t0 + 2000, "home"),     // not an entry (last_page set)
      log("mid2", "2", "12", t0 + 3000)).toDF("value")
    val rawCdc = Seq(
      cdc("user_info", "insert", """{"id":1,"gender":"F","birthday":"1990-06-15"}"""),
      cdc("user_info", "insert", """{"id":2,"gender":"M","birthday":"2000-01-01"}"""),
      cdc("base_province", "insert",
        """{"id":11,"name":"P11","iso_code":"ISO-11","iso_3166_2":"A-11","area_code":"110"}"""),
      cdc("base_province", "insert",
        """{"id":12,"name":"P12","iso_code":"ISO-12","iso_3166_2":"A-12","area_code":"120"}"""))
      .toDF("value")

    val pages = LogFanout.fanout(rawLogs)("page").as[PageLog]
    val dimRows = CdcRouter.route(rawCdc, facts, dims)("dim")
    val dau = Gmall.dauPipeline(pages,
      Gmall.parseUsers(dimRows), Gmall.parseProvinces(dimRows), "2022-02-21")
      .collect().sortBy(_.mid)

    assert(dau.map(_.mid).toSeq == Seq("mid1", "mid2")) // dedup kept one per mid/day
    val m1 = dau(0)
    assert(m1.user_gender == "F" && m1.user_age == 31L)
    assert(m1.province_name == "P11" && m1.province_iso_code == "ISO-11")
    assert(m1.dt == "2022-02-21" && m1.hr == "07")
    assert(dau(1).user_gender == "M" && dau(1).province_name == "P12")
  }

  test("dim miss degrades to null enrichment + age sentinel instead of crashing") {
    val rawLogs = Seq(log("mid9", "99", "77", t0)).toDF("value") // no dims loaded
    val pages = LogFanout.fanout(rawLogs)("page").as[PageLog]
    val empty = CdcRouter.route(Seq.empty[String].toDF("value"), facts, dims)("dim")
    val dau = Gmall.dauPipeline(pages,
      Gmall.parseUsers(empty), Gmall.parseProvinces(empty), "2022-02-21").collect()
    assert(dau.length == 1)
    assert(dau(0).user_gender == null && dau(0).province_name == null)
    assert(dau(0).user_age == -1L) // sentinel (reference NPEs here)
  }

  test("CDC -> fact route -> typed order-wide join -> idempotent serving sink") {
    val rawCdc = Seq(
      cdc("order_info", "insert",
        """{"id":100,"province_id":11,"order_status":"1001","user_id":1,
          |"total_amount":60.0,"create_time":"2022-02-21 07:10:00"}""".stripMargin.replaceAll("\n", "")),
      cdc("order_detail", "insert",
        """{"id":1000,"order_id":100,"sku_id":5,"order_price":20.0,"sku_num":2,
          |"sku_name":"widget","create_time":"2022-02-21 07:10:00",
          |"split_total_amount":40.0}""".stripMargin.replaceAll("\n", "")),
      cdc("order_detail", "insert",
        """{"id":1001,"order_id":100,"sku_id":6,"order_price":20.0,"sku_num":1,
          |"sku_name":"bolt","create_time":"2022-02-21 07:10:00",
          |"split_total_amount":20.0}""".stripMargin.replaceAll("\n", "")),
      cdc("user_info", "insert", """{"id":1,"gender":"F","birthday":"1990-06-15"}"""),
      cdc("base_province", "insert",
        """{"id":11,"name":"P11","iso_code":"ISO-11","iso_3166_2":"A-11","area_code":"110"}"""))
      .toDF("value")

    val routed = CdcRouter.route(rawCdc, facts, dims)
    val factRows = routed("fact")
    val info = factRows.filter(col("topic") === "DWD_ORDER_INFO_I")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, province_id LONG, order_status STRING, user_id LONG, total_amount DOUBLE, create_time STRING")).as("d"))
      .select(col("d.*")).as[OrderInfo]
    val detail = factRows.filter(col("topic") === "DWD_ORDER_DETAIL_I")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, order_id LONG, sku_id LONG, order_price DOUBLE, sku_num LONG, sku_name STRING, create_time STRING, split_total_amount DOUBLE")).as("d"))
      .select(col("d.*")).as[OrderDetail]

    val wide = Gmall.orderWidePipeline(info, detail,
      Gmall.parseUsers(routed("dim")), Gmall.parseProvinces(routed("dim")),
      "2022-02-21")
    val rows = wide.collect().sortBy(_.detail_id)
    assert(rows.length == 2) // 1:N join
    assert(rows.map(_.split_total_amount).sum == 60.0)
    assert(rows.forall(r => r.province_name == "P11" && r.user_gender == "F"
      && r.user_age == 31L && r.create_date == "2022-02-21" && r.create_hour == "07"))

    // serving sink: keyed by detail_id, replay is a no-op (ST8)
    val path = java.nio.file.Files.createTempDirectory("ow").toString + "/order_wide"
    val batch = wide.toDF().withColumn("ver", lit(1L))
    KeyedParquetSink.upsert(batch, path, Seq("detail_id"), "create_date", "ver")
    KeyedParquetSink.upsert(batch, path, Seq("detail_id"), "create_date", "ver")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("composed streaming topology with mid-stream crash/restart reconciles to the batch twin") {
    // The whole reference topology as ONE live run: raw log JSON +
    // raw CDC JSON MemoryStreams → fanout / CDC route (stage 1, parquet
    // "topics") → file-source streams over those topics → dau dedup and
    // the stateful order-wide stream-stream join → per-batch dim
    // enrichment → KeyedParquetSink serving tables → serving queries.
    // Stage 2 is KILLED between waves and restarted from its
    // checkpoints; wave 2 carries a LATE detail whose order info arrived
    // before the crash, so the join's state store must survive the
    // restart. Final serving tables must equal the batch twins run over
    // ALL the raw input.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val dir = java.nio.file.Files.createTempDirectory("gmall_e2e").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/conf.csv"),
      "order_info,fact\norder_detail,fact\nuser_info,dim\nbase_province,dim\n")
    val asOf = "2022-02-21"

    val wave1Logs = Seq(
      log("mid1", "1", "11", t0),                 // first session entry of the day
      log("mid1", "1", "11", t0 + 2000, "home"))  // not an entry
    val wave2Logs = Seq(
      log("mid1", "1", "11", t0 + 5000),          // same (mid, dt): deduped
      log("mid2", "2", "12", t0 + 6000))          // new device
    val wave1Cdc = Seq(
      cdc("order_info", "insert",
        """{"id":100,"province_id":11,"order_status":"1001","user_id":1,
          |"total_amount":60.0,"create_time":"2022-02-21 07:10:00"}""".stripMargin.replaceAll("\n", "")),
      cdc("order_detail", "insert",
        """{"id":1000,"order_id":100,"sku_id":5,"order_price":20.0,"sku_num":2,
          |"sku_name":"widget","create_time":"2022-02-21 07:10:00",
          |"split_total_amount":40.0}""".stripMargin.replaceAll("\n", "")),
      cdc("user_info", "insert", """{"id":1,"gender":"F","birthday":"1990-06-15"}"""),
      cdc("user_info", "insert", """{"id":2,"gender":"M","birthday":"2000-01-01"}"""),
      cdc("base_province", "insert",
        """{"id":11,"name":"P11","iso_code":"ISO-11","iso_3166_2":"A-11","area_code":"110"}"""),
      cdc("base_province", "insert",
        """{"id":12,"name":"P12","iso_code":"ISO-12","iso_3166_2":"A-12","area_code":"120"}"""))
    val wave2Cdc = Seq(
      // LATE detail for the pre-crash order 100 — joins via restored state
      cdc("order_detail", "insert",
        """{"id":1001,"order_id":100,"sku_id":6,"order_price":20.0,"sku_num":1,
          |"sku_name":"bolt","create_time":"2022-02-21 07:30:00",
          |"split_total_amount":20.0}""".stripMargin.replaceAll("\n", "")),
      cdc("order_info", "insert",
        """{"id":200,"province_id":12,"order_status":"1001","user_id":2,
          |"total_amount":35.0,"create_time":"2022-02-21 08:00:00"}""".stripMargin.replaceAll("\n", "")),
      cdc("order_detail", "insert",
        """{"id":2000,"order_id":200,"sku_id":7,"order_price":35.0,"sku_num":1,
          |"sku_name":"gear","create_time":"2022-02-21 08:00:00",
          |"split_total_amount":35.0}""".stripMargin.replaceAll("\n", "")))

    // ---- stage 1: raw streams → routed parquet topics
    val logIn = MemoryStream[String]
    val cdcIn = MemoryStream[String]
    val q1Log = logIn.toDF().toDF("value").writeStream
      .option("checkpointLocation", s"$dir/ckpt_fanout")
      .foreachBatch(Streams.fanoutBatchWriter(s"$dir/logout") _).start()
    val q1Cdc = cdcIn.toDF().toDF("value").writeStream
      .option("checkpointLocation", s"$dir/ckpt_route")
      .foreachBatch(Streams.cdcRouteBatchWriter(s"$dir/conf.csv", s"$dir/routed") _)
      .start()
    logIn.addData(wave1Logs: _*); cdcIn.addData(wave1Cdc: _*)
    q1Log.processAllAvailable(); q1Cdc.processAllAvailable()

    // ---- stage 2: file streams over the topics → state → keyed sinks
    def dimRows(): org.apache.spark.sql.DataFrame =
      spark.read.parquet(s"$dir/routed/dim")
    val infoSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, province_id LONG, order_status STRING, user_id LONG, total_amount DOUBLE, create_time STRING")
    val detailSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, order_id LONG, sku_id LONG, order_price DOUBLE, sku_num LONG, sku_name STRING, create_time STRING, split_total_amount DOUBLE")
    val factSchema = spark.read.parquet(s"$dir/routed/fact").schema
    val pageSchema = spark.read.parquet(s"$dir/logout/page").schema
    def owWriter(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val joined = batch
        .withColumn("order_id", col("info_order_id"))
        .drop("info_order_id", "detail_order_id", "info_ts", "detail_ts")
      val wide = Gmall.enrichOrderWide(joined,
        Gmall.parseUsers(dimRows()), Gmall.parseProvinces(dimRows()), asOf)
        .toDF().withColumn("ver", lit(batchId))
      KeyedParquetSink.upsert(wide, s"$dir/order_wide",
        Seq("detail_id"), "create_date", "ver")
    }
    def dauWriter(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val pages = batch
        .withColumn("ts", unix_millis(col("ts"))).drop("dt", "batch")
      val dau = Gmall.dauPipeline(pages.as[PageLog],
        Gmall.parseUsers(dimRows()), Gmall.parseProvinces(dimRows()), asOf)
        .toDF().withColumn("ver", lit(batchId))
      KeyedParquetSink.upsert(dau, s"$dir/dau", Seq("mid", "dt"), "dt", "ver")
    }
    def startStage2(): (org.apache.spark.sql.streaming.StreamingQuery,
        org.apache.spark.sql.streaming.StreamingQuery) = {
      val facts = spark.readStream.schema(factSchema).parquet(s"$dir/routed/fact")
      val info = facts.filter(col("topic") === "DWD_ORDER_INFO_I")
        .select(from_json(col("value"), infoSchema).as("d")).select(col("d.*"))
        .withColumnRenamed("id", "order_id")
        .withColumn("ts", to_timestamp(col("create_time")))
      val detail = facts.filter(col("topic") === "DWD_ORDER_DETAIL_I")
        .select(from_json(col("value"), detailSchema).as("d")).select(col("d.*"))
        .withColumnRenamed("id", "detail_id")
        .withColumnRenamed("create_time", "detail_create_time")
        .withColumn("ts", to_timestamp(col("detail_create_time")))
      val ow = Streams.orderWideJoin(info, detail, "24 hours").writeStream
        .option("checkpointLocation", s"$dir/ckpt_ow")
        .foreachBatch(owWriter _).start()
      val entries = spark.readStream.schema(pageSchema)
        .parquet(s"$dir/logout/page")
        .filter(col("last_page_id").isNull)
        .withColumn("ts", timestamp_millis(col("ts")))
      val dau = Streams.dauDedup(entries).writeStream
        .option("checkpointLocation", s"$dir/ckpt_dau")
        .foreachBatch(dauWriter _).start()
      (ow, dau)
    }
    val (ow1, dau1) = startStage2()
    ow1.processAllAvailable(); dau1.processAllAvailable()
    // ---- CRASH stage 2 mid-stream
    ow1.stop(); dau1.stop()
    assert(spark.read.parquet(s"$dir/order_wide").count() == 1,
      "wave 1's single detail must already be served")

    // a post-crash replay of stage 1's batch 0 must no-op (markers +
    // config pin), leaving stage 2's input topics unchanged
    val factBatches = sinks.Hfs.childDirs(spark, s"$dir/routed/fact", "batch=")
    Streams.cdcRouteBatchWriter(s"$dir/conf.csv", s"$dir/routed")(
      wave1Cdc.toDF("value"), 0L)
    assert(sinks.Hfs.childDirs(spark, s"$dir/routed/fact", "batch=") == factBatches,
      "replayed route batch must not create new fact segments")

    // ---- wave 2 while stage 2 is down, then RESTART from checkpoints
    logIn.addData(wave2Logs: _*); cdcIn.addData(wave2Cdc: _*)
    q1Log.processAllAvailable(); q1Cdc.processAllAvailable()
    val (ow2, dau2) = startStage2()
    try { ow2.processAllAvailable(); dau2.processAllAvailable() }
    finally { ow2.stop(); dau2.stop(); q1Log.stop(); q1Cdc.stop() }
    // each stage-2 batch executes its stateful plan once: the join keeps
    // 4 stores per shuffle partition (16), the dedup 1 (4)
    def stores(qs: org.apache.spark.sql.streaming.StreamingQuery*) =
      qs.flatMap(_.recentProgress).filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numStateStoreInstances).toSeq)
    val (owStores, dauStores) = (stores(ow1, ow2), stores(dau1, dau2))
    assert(owStores.nonEmpty && owStores.forall(_ == Seq(16)),
      s"ow state store instances per batch: $owStores")
    assert(dauStores.nonEmpty && dauStores.forall(_ == Seq(4)),
      s"dau state store instances per batch: $dauStores")

    // ---- reconcile: serving tables == batch twins over ALL raw input
    val allRouted = CdcRouter.route((wave1Cdc ++ wave2Cdc).toDF("value"), facts, dims)
    val infoAll = allRouted("fact").filter(col("topic") === "DWD_ORDER_INFO_I")
      .select(from_json(col("value"), infoSchema).as("d")).select(col("d.*")).as[OrderInfo]
    val detailAll = allRouted("fact").filter(col("topic") === "DWD_ORDER_DETAIL_I")
      .select(from_json(col("value"), detailSchema).as("d")).select(col("d.*")).as[OrderDetail]
    val twinWide = Gmall.orderWidePipeline(infoAll, detailAll,
      Gmall.parseUsers(allRouted("dim")), Gmall.parseProvinces(allRouted("dim")), asOf)
      .collect().toSet
    val servedWide = spark.read.parquet(s"$dir/order_wide").drop("ver")
      .as[OrderWide].collect().toSet
    assert(servedWide == twinWide,
      s"served order_wide must equal the batch twin:\n$servedWide\nvs\n$twinWide")
    assert(servedWide.exists(r => r.detail_id == 1001L && r.province_name == "P11"),
      "the late post-restart detail must join pre-crash info via restored state")

    val twinDau = Gmall.dauPipeline(
      LogFanout.fanout((wave1Logs ++ wave2Logs).toDF("value"))("page").as[PageLog],
      Gmall.parseUsers(allRouted("dim")), Gmall.parseProvinces(allRouted("dim")), asOf)
      .collect().toSet
    val servedDau = spark.read.parquet(s"$dir/dau").drop("ver")
      .as[DauInfo].collect().toSet
    assert(servedDau == twinDau,
      s"served dau must equal the batch twin:\n$servedDau\nvs\n$twinDau")

    // ---- serving queries over the sink (the Publisher split: engine
    // aggregates, payload assembles from k rows)
    val pointGet = spark.read.parquet(s"$dir/order_wide")
      .filter(col("detail_id") === 1001L).collect()
    assert(pointGet.length == 1 &&
      pointGet(0).getAs[String]("sku_name") == "bolt")
    val revenueByProvince = spark.read.parquet(s"$dir/order_wide")
      .groupBy(col("province_name"))
      .agg(round(sum(col("split_total_amount")), 2).as("revenue"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(revenueByProvince == Map("P11" -> 60.0, "P12" -> 35.0))
  }

  test("dimTable keeps the newest version per key; a later tombstone drops the KEY") {
    val rawCdc = Seq(
      cdc("user_info", "insert", """{"id":1,"gender":"F","birthday":"1990-06-15"}""", ts = 1),
      cdc("user_info", "update", """{"id":1,"gender":"M","birthday":"1990-06-15"}""", ts = 2),
      cdc("user_info", "insert", """{"id":2,"gender":"F","birthday":"2000-01-01"}""", ts = 1),
      cdc("user_info", "delete", """{"id":2}""", ts = 2),
      // delete then RE-insert: the newer image must win back the key
      cdc("user_info", "insert", """{"id":3,"gender":"F","birthday":"1980-01-01"}""", ts = 1),
      cdc("user_info", "delete", """{"id":3}""", ts = 2),
      cdc("user_info", "insert", """{"id":3,"gender":"M","birthday":"1980-01-01"}""", ts = 3))
      .toDF("value")
    val users = Gmall.parseUsers(CdcRouter.route(rawCdc, facts, dims)("dim"))
      .select("id", "gender").as[(String, String)].collect().toMap
    assert(users == Map("1" -> "M", "3" -> "M"),
      s"latest-per-key with tombstone-drops-key expected, got $users")
  }

  test("dimTable same-second ties pick a deterministic winner; corrupt dim values drop instead of serving null rows") {
    val rawCdc = Seq(
      // two upserts in the SAME second (Maxwell ts is second-granular):
      // the winner must be stable across runs and replays, not
      // shuffle-order luck — the value tiebreak picks gender M here
      // ('{"birthday":"1990-06-15","gender":"M",...}' > the F twin
      // lexicographically at the gender byte)
      cdc("user_info", "insert", """{"id":1,"gender":"F","birthday":"1990-06-15"}""", ts = 5),
      cdc("user_info", "update", """{"id":1,"gender":"M","birthday":"1990-06-15"}""", ts = 5),
      // valid envelope, truncated JSON value: parses to an id-less
      // struct — must vanish from the dim table, not serve nulls
      cdc("user_info", "insert", """{"id":9,"gender":"F"""", ts = 1))
      .toDF("value")
    val routed = CdcRouter.route(rawCdc, facts, dims)("dim")
    val again = Gmall.parseUsers(routed)
      .select("id", "gender").as[(String, String)].collect().toMap
    assert(again == Map("1" -> "M"), s"got $again")
    // a second evaluation of the same input picks the SAME winner
    assert(Gmall.parseUsers(routed)
      .select("id", "gender").as[(String, String)].collect().toMap == again)
  }

  test("malformed birthday or non-numeric dim id degrade enrichment instead of crashing the job") {
    import graft.model._
    val pages = Seq(
      PageLog("mid1", "7", "P1", "ch", "1", "md", "os", "vc", "br",
        "home", null, null, null, Some(10L), null, 1705312200000L)).toDS()
    // birthday unparseable under ANSI cast; id non-numeric for the
    // order-wide long-key path — both from external CDC payloads
    val users = Seq(("7", "F", "15/06/1990"), ("xyz", "M", "1990-06-15"))
      .toDF("id", "gender", "birthday")
    val provinces = Seq(("P1", "prov", "ISO", "3166", "area"))
      .toDF("id", "name", "iso_code", "iso_3166_2", "area_code")
    val dau = Gmall.dauPipeline(pages, users, provinces, asOf = "2024-01-15")
      .collect()
    assert(dau.length == 1)
    assert(dau(0).user_age == -1L, "unparseable birthday must degrade to the sentinel")
    assert(dau(0).user_gender == "F")
  }
}
