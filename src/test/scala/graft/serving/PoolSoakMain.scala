package graft.serving

import java.net.{HttpURLConnection, URI}

import scala.io.Source

/** FAIR-mode scheduler-pool soak — the evidence HttpServingSpec's soak
  * cannot produce: the shared test session is FIFO (scheduler.mode is a
  * context-creation conf), so that spec pins the pool-NAME set via
  * job-start properties while this main drives the real thing — a FAIR
  * session, Spark's FairSchedulableBuilder actually creating a Pool per
  * unseen name — and asserts the rootPool child count stays bounded.
  * [[graft.PoolSoakSpec]] runs it in a forked JVM, where it owns the
  * SparkContext.
  *
  * `PoolSoakMain [sfDir] [requests]` starts the server on an ephemeral
  * port, fires `requests` (default 10 × poolThreads) concurrent
  * /dauRealtime GETs through 8 client threads, then prints the rootPool
  * children. Exit is nonzero when the pool set exceeds poolThreads + 1
  * (the `default` pool Spark always creates) — the leak the old
  * per-request naming scheme would show at one extra pool per request. */
object PoolSoakMain {

  private def get(url: String): Int = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    Source.fromInputStream(is, "UTF-8").mkString: Unit
    is.close()
    code
  }

  def main(args: Array[String]): Unit = {
    // the server's fixed executor threads are non-daemon and srv.stop
    // does not own them — without an explicit exit the soak JVM idles
    // forever after reporting, or after a failure
    val code =
      try soak(args)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def soak(args: Array[String]): Int = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nReq = args.lift(1).map(_.toInt).getOrElse(10 * Http.poolThreads)
    val spark = graft.Graft.localSession(4, fairScheduler = true)
    require(spark.sparkContext.getConf.get("spark.scheduler.mode") == "FAIR",
      "soak requires a FAIR context — another session already owns this JVM?")
    graft.Graft.init(spark, dir)
    val srv = Http.start(spark, 0)
    try {
      val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
      require(get(s"$base/dauRealtime?td=2024-01-15") == 200, "warmup failed")
      val clients = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (1 to nReq).map { _ =>
          clients.submit(new java.util.concurrent.Callable[Int] {
            override def call(): Int = get(s"$base/dauRealtime?td=2024-01-15")
          })
        }
        val codes = futs.map(_.get())
        require(codes.forall(_ == 200), s"non-200 responses: ${codes.distinct}")
      } finally clients.shutdown()
      val pools = spark.sparkContext.getAllPools.map(_.name).sorted
      println(s"[poolsoak] $nReq requests -> ${pools.size} rootPool " +
        s"children: ${pools.mkString(", ")}")
      if (pools.size > Http.poolThreads + 1) {
        System.err.println(s"[poolsoak] LEAK: ${pools.size} pools > " +
          s"${Http.poolThreads + 1} — per-request names are unbounded")
        1
      } else {
        println(s"[poolsoak] OK: bounded by poolThreads(${Http.poolThreads}) + default")
        0
      }
    } finally {
      srv.stop(0)
      spark.stop()
    }
  }
}
