package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** The query-layer workload over the fixture views (`Graft.init`), in one
  * serving session (FAIR scheduler, as `Http.main` starts it):
  *
  *  - set-up: the two dashboard endpoints (`Http.start`) warmed by a fixed
  *    request list sent `clients` at a time;
  *  - timed: one pass through the query set, each plan new to the process
  *    (what a long-lived server cycling through its plans pays), then an
  *    open loop over the endpoints: each request is sent when due, with at
  *    most `clients` in flight, and timed from when it was due. */
object QueryLayer {

  final case class Request(phase: String, idx: Int, path: String, dueMs: Double,
      sentMs: Double, doneMs: Double, status: Int, body: String)

  def run(a: Map[String, Any]): Unit = {
    Suite.requireHash(a)
    val dir = a("fixture").toString
    val order = a("order").asInstanceOf[Seq[String]]
    val collect = a("collect").asInstanceOf[Seq[String]].toSet
    val clients = a("clients").toString.toInt
    def paths(k: String) = a(k).asInstanceOf[Seq[Any]].map(_.toString)
    val spark = graft.Graft.localSession(4, fairScheduler = true)
    val probe = new Probe(spark)
    val sessionMs = Clock.nowMs - Clock.jvmStartMs
    graft.Graft.init(spark, dir)
    val srv = graft.serving.Http.start(spark, 0)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val inflight = new AtomicInteger
    val inflightMax = new AtomicInteger
    def call(phase: String, idx: Int, path: String, dueMs: Double): Request = {
      inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
      val sent = Clock.nowMs
      val (status, body) =
        try {
          val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          (r.statusCode(), r.body())
        } catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
      val done = Clock.nowMs
      inflight.decrementAndGet()
      Trace.record(s"request $path", "serving", sent, done)
      Request(phase, idx, path, dueMs, sent, done, status, body)
    }
    /** Runs `work(i)` for i < n on `clients` threads, each taking the next
      * index in order. */
    def pool(n: Int)(work: Int => Request): Seq[Request] = {
      val next = new AtomicInteger
      val out = new ConcurrentLinkedQueue[Request]
      val ts = (0 until clients).map(_ => new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) { out.add(work(i)); i = next.getAndIncrement() }
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
      out.asScala.toSeq.sortBy(_.idx)
    }
    val warmup = paths("warmup")
    val warm = pool(warmup.size)(i => call("warmup", i, warmup(i), Clock.nowMs))

    val c0 = probe.snapshot()
    val t0 = Clock.nowMs
    val timed = order.map(q => Suite.runQuery(spark, dir, q, collect(q)))
    val t1 = Clock.nowMs
    val open = paths("open")
    val due = a("open_due_ms").asInstanceOf[Seq[Any]].map(_.toString.toDouble)
    val openRes = pool(open.size) { i =>
      val d = t1 + due(i)
      val wait = d - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      call("open", i, open(i), d)
    }
    val t2 = Clock.nowMs
    val c1 = probe.snapshot()
    val heapMb = Heap.liveMb()
    srv.stop(0)
    if (Trace.on) Trace.dump(a("spans").toString, probe.finished.toArray(Array.empty[EngineSpan]))
    Json.write(a("out").toString, Map(
      "setup_ms" -> (t0 - Clock.jvmStartMs), "session_ms" -> sessionMs,
      "cycle_ms" -> (t1 - t0), "open_ms" -> (t2 - t1),
      "heap_live_peak_mb" -> heapMb,
      "inflight_max" -> inflightMax.get,
      "spark" -> (c1 - c0).toMetrics,
      "driver_only_ms" -> probe.driverOnlyMs(t0, t1),
      "req_jobs" -> probe.jobs.filter(j => j.pool.startsWith("req-") && j.startMs >= t1)
        .map(j => Seq(j.startMs, j.endMs, j.pool)),
      "queries" -> Suite.runs(timed, probe),
      "requests" -> (warm ++ openRes).map(r => Map(
        "phase" -> r.phase, "idx" -> r.idx, "path" -> r.path, "due_ms" -> r.dueMs,
        "sent_ms" -> r.sentMs, "done_ms" -> r.doneMs, "status" -> r.status,
        "body" -> r.body))))
    spark.stop()
  }
}
