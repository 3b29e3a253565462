package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Gmall
import graft.sinks.KeyedParquetSink
import graft.streaming.Streams

/** The reference topology as one live run, composed as the project's
  * end-to-end spec composes it: raw log and CDC JSON go through the
  * stage-1 fan-out and routing writers into parquet topics; stage 2 runs
  * file streams over those topics (DAU dedup, the order-wide join, dim
  * enrichment) into the keyed serving tables. A feeder thread replays the
  * generated events on their schedule, whatever the engine's pace. */
object Stream {

  private val infoSchema = StructType.fromDDL(
    "id LONG, province_id LONG, order_status STRING, user_id LONG, " +
      "total_amount DOUBLE, create_time STRING")
  private val detailSchema = StructType.fromDDL(
    "id LONG, order_id LONG, sku_id LONG, order_price DOUBLE, sku_num LONG, " +
      "sku_name STRING, create_time STRING, split_total_amount DOUBLE")
  /** Quantile levels of the per-batch event-time observation. */
  val levels: Seq[Double] = (0 to 20).map(_ / 20.0)

  private def readTsv(path: String): (Array[Long], Array[String]) = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
    (lines.map(l => l.substring(0, l.indexOf('\t')).toLong).toArray,
      lines.map(l => l.substring(l.indexOf('\t') + 1)).toArray)
  }

  /** Event-time quantiles of the rows in `ts` (epoch ms) selected by
    * `sel`, observed on the batch without an extra job. */
  private def observeTs(df: DataFrame, name: String, sel: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): DataFrame =
    df.observe(name, count(when(sel, lit(1))).as("n"),
      percentile_approx(when(sel, ts), array(levels.map(lit): _*), lit(10000)).as("q"))

  def run(a: Map[String, Any]): Unit = {
    val work = a("work").toString
    val runMs = a("run_ms").toString.toLong
    val triggerMs = a("trigger_ms").toString.toLong
    val parts = a("partitions").toString.toInt
    val asOf = "2024-01-01"
    val spark = graft.Graft.localSession(4)
    val sc = spark.sparkContext
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val probe = new Probe(spark)
    val sessionMs = Clock.nowMs - Clock.jvmStartMs
    val progress = new ConcurrentLinkedQueue[String]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
    val upserts = new ConcurrentLinkedQueue[Seq[Any]]
    def upsert(table: String, df: DataFrame, keys: Seq[String], dt: String): Unit = {
      val s = Clock.nowMs
      Trace.span(sc, s"upsert $table", "sinks") {
        KeyedParquetSink.upsert(df, s"$work/$table", keys, dt, "ver")
      }
      upserts.add(Seq(table, s, Clock.nowMs))
    }
    Files.writeString(Paths.get(s"$work/conf.csv"),
      "order_info,fact\norder_detail,fact\nuser_info,dim\nbase_province,dim\n")
    val (logDue, logJson) = readTsv(s"$work/log.tsv")
    val (cdcDue, cdcJson) = readTsv(s"$work/cdc.tsv")
    val trigger = Trigger.ProcessingTime(triggerMs)

    // ---- stage 1: raw streams -> parquet topics
    // a fixed partition count per batch, as a Kafka topic has
    val logIn = MemoryStream[String](parts)
    val cdcIn = MemoryStream[String](parts)
    def stage1(name: String, in: MemoryStream[String],
        writer: (DataFrame, Long) => Unit): StreamingQuery =
      in.toDF().toDF("value").writeStream.queryName(name).trigger(trigger)
        .option("checkpointLocation", s"$work/ckpt_$name")
        .foreachBatch((b: DataFrame, id: Long) =>
          Trace.span(sc, s"$name batch $id", "operators")(writer(b, id)))
        .start()
    val q1Log = stage1("fanout", logIn, Streams.fanoutBatchWriter(s"$work/logout") _)
    val q1Cdc = stage1("route", cdcIn,
      Streams.cdcRouteBatchWriter(s"$work/conf.csv", s"$work/routed") _)

    // ---- feeder: adds each event when due, never waiting for the engine;
    // the events due at the end of the schedule are the burst, added later
    var lateMax = 0.0
    val logFixed = logDue.indexWhere(_ >= runMs) match { case -1 => logDue.length; case i => i }
    val cdcFixed = cdcDue.indexWhere(_ >= runMs) match { case -1 => cdcDue.length; case i => i }
    val t0 = Clock.nowMs
    val feeder = new Thread(() => {
      var (i, j) = (0, 0)
      while (i < logFixed || j < cdcFixed) {
        val next = math.min(if (i < logFixed) logDue(i) else Long.MaxValue,
          if (j < cdcFixed) cdcDue(j) else Long.MaxValue)
        val wait = t0 + next - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        val now = Clock.nowMs - t0
        lateMax = math.max(lateMax, now - next)
        val i0 = i
        while (i < logFixed && logDue(i) <= now) i += 1
        val j0 = j
        while (j < cdcFixed && cdcDue(j) <= now) j += 1
        if (i > i0) logIn.addData(logJson.slice(i0, i).toSeq)
        if (j > j0) cdcIn.addData(cdcJson.slice(j0, j).toSeq)
      }
    }, "feeder")
    feeder.start()

    // ---- stage 2 starts once both topics it reads have a committed segment
    def hasSegment(dir: String): Boolean =
      graft.sinks.Hfs.childDirs(spark, dir, "batch=").nonEmpty
    while (!hasSegment(s"$work/logout/page") || !hasSegment(s"$work/routed/fact") ||
        !hasSegment(s"$work/routed/dim"))
      Thread.sleep(50)
    def dimRows(): DataFrame = spark.read.parquet(s"$work/routed/dim")
    val factSchema = spark.read.parquet(s"$work/routed/fact").schema
    val pageSchema = spark.read.parquet(s"$work/logout/page").schema
    def owWriter(batch: DataFrame, batchId: Long): Unit =
      Trace.span(sc, s"ow batch $batchId", "streaming") {
        val joined = batch.withColumn("order_id", col("info_order_id"))
          .drop("info_order_id", "detail_order_id", "info_ts", "detail_ts")
        val wide = Gmall.enrichOrderWide(joined, Gmall.parseUsers(dimRows()),
          Gmall.parseProvinces(dimRows()), asOf).toDF().withColumn("ver", lit(batchId))
        upsert("order_wide", wide, Seq("detail_id"), "create_date")
      }
    def dauWriter(batch: DataFrame, batchId: Long): Unit =
      Trace.span(sc, s"dau batch $batchId", "streaming") {
        val pages = batch.withColumn("ts", unix_millis(col("ts"))).drop("dt", "batch")
        val dau = Gmall.dauPipeline(pages.as[graft.model.PageLog],
          Gmall.parseUsers(dimRows()), Gmall.parseProvinces(dimRows()), asOf)
          .toDF().withColumn("ver", lit(batchId))
        upsert("dau", dau, Seq("mid", "dt"), "dt")
      }
    val facts = spark.readStream.schema(factSchema).parquet(s"$work/routed/fact")
    val info = facts.filter(col("topic") === "DWD_ORDER_INFO_I")
      .select(from_json(col("value"), infoSchema).as("d")).select(col("d.*"))
      .withColumnRenamed("id", "order_id")
      .withColumn("ts", to_timestamp(col("create_time")))
    val detail = facts.filter(col("topic") === "DWD_ORDER_DETAIL_I")
      .select(from_json(col("value"), detailSchema).as("d")).select(col("d.*"))
      .withColumnRenamed("id", "detail_id")
      .withColumnRenamed("create_time", "detail_create_time")
      .withColumn("ts", to_timestamp(col("detail_create_time")))
    // even detail ids are the generator's on-time details
    val detailObs = observeTs(detail, "fresh_ow", col("detail_id") % 2 === 0,
      unix_millis(col("ts")))
    val ow = Streams.orderWideJoin(info, detailObs, "24 hours").writeStream
      .queryName("ow").trigger(trigger)
      .option("checkpointLocation", s"$work/ckpt_ow")
      .foreachBatch(owWriter _).start()
    val entries = spark.readStream.schema(pageSchema).parquet(s"$work/logout/page")
      .filter(col("last_page_id").isNull)
      .withColumn("ts", timestamp_millis(col("ts")))
    val dau = Streams.dauDedup(observeTs(entries, "fresh_dau", lit(true),
        unix_millis(col("ts")))).writeStream
      .queryName("dau").trigger(trigger)
      .option("checkpointLocation", s"$work/ckpt_dau")
      .foreachBatch(dauWriter _).start()
    val stage2Ms = Clock.nowMs

    // ---- fixed-rate phase; then, from idle, the burst drained by every stage
    val warmMs = a("warm_ms").toString.toDouble
    Thread.sleep(math.max(0L, (t0 + warmMs - Clock.nowMs).toLong))
    val c0 = probe.snapshot()
    val tMeasure = Clock.nowMs
    feeder.join()
    val tFixedEnd = Clock.nowMs
    val c1 = probe.snapshot()
    val queries = Seq(q1Log, q1Cdc, ow, dau)
    // the burst goes in once every stage is idle. A stage-2 batch that
    // started before stage 1 published its input's last segment does not
    // cover it: drain stage 2 twice.
    def drain(): Unit = {
      queries.foreach(_.processAllAvailable())
      Seq(ow, dau).foreach(_.processAllAvailable())
    }
    drain()
    val tBurst = Clock.nowMs
    logIn.addData(logJson.drop(logFixed).toSeq)
    cdcIn.addData(cdcJson.drop(cdcFixed).toSeq)
    drain()
    val tDrained = Clock.nowMs
    val c2 = probe.snapshot()
    val heapMb = Heap.liveMb()
    queries.foreach(_.stop())

    // ---- outputs, read after timing
    def rows(dir: String): Long =
      if (Files.exists(Paths.get(dir))) spark.read.parquet(dir).count() else 0L
    val owAmount = spark.read.parquet(s"$work/order_wide")
      .agg(round(sum("split_total_amount"), 2)).head().get(0)
    val files = Files.walk(Paths.get(work)).iterator().asScala
      .filter(p => Seq("dau", "order_wide").exists(t => p.startsWith(Paths.get(s"$work/$t"))))
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    if (Trace.on) Trace.dump(a("spans").toString, probe.finished.toArray(Array.empty[EngineSpan]))
    Json.write(a("out").toString, Map(
      "t0_ms" -> t0, "setup_ms" -> (tMeasure - Clock.jvmStartMs), "session_ms" -> sessionMs,
      "stage2_start_ms" -> stage2Ms, "measure_start_ms" -> tMeasure,
      "fixed_end_ms" -> tFixedEnd, "burst_ms" -> tBurst, "drained_ms" -> tDrained,
      "late_max_ms" -> lateMax,
      "driver_only_ms" -> probe.driverOnlyMs(tMeasure, tFixedEnd),
      "heap_live_peak_mb" -> heapMb,
      "spark_window" -> (c1 - c0).toMetrics, "spark_burst" -> (c2 - c1).toMetrics,
      "query_ids" -> queries.map(q => q.name -> q.id.toString).toMap,
      "jobs" -> probe.jobs.filter(_.query.nonEmpty).map(j =>
        Seq(j.query, j.startMs, j.endMs)),
      "progress" -> progress.asScala.toSeq,
      "upserts" -> upserts.asScala.toSeq,
      "outputs" -> Map(
        "dau_rows" -> rows(s"$work/dau"),
        "ow_rows" -> rows(s"$work/order_wide"),
        "ow_amount" -> owAmount,
        "errors" -> rows(s"$work/logout/error"),
        "serving_files" -> files.size,
        "serving_bytes" -> files.map(Files.size(_)).sum)))
    spark.stop()
  }
}
