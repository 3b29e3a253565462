package graft

import org.apache.spark.sql.SparkSession

/** One-call user entry point: make a SparkSession into a graft warehouse —
  * fixture tables as views, custom functions registered — so
  * `spark.sql("SELECT simhash64(text), count(*) FROM documents GROUP BY 1")`
  * works immediately (the SQL-first twin of the SparkEntry query API).
  */
object Graft {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture table under `dir` as a temp view and install
    * the custom SQL functions. The one deliberate conf change happens
    * here, at session setup: events.parquet needs [[Tables.nanosConf]]
    * (TIMESTAMP(NANOS) footers), and init is the declared place a session
    * becomes a graft warehouse. */
  def init(spark: SparkSession, dir: String): SparkSession = {
    spark.conf.set(Tables.nanosConf, "true")
    tableNames.foreach(n => Tables.t(spark, dir, n).createOrReplaceTempView(n))
    expressions.GraftExtensions.register(spark)
    spark
  }

  /** The ONE local-session recipe every main (Bench / Verify / Http)
    * builds from — `parallelism` sets master threads AND shuffle
    * partitions. The four copies this replaces had to be
    * edited in lockstep (Tables.nanosConf's docstring enumerated them
    * all). `fairScheduler` turns on spark.scheduler.mode=FAIR for
    * serving entry points (concurrent requests' jobs interleave via
    * per-request pools instead of FIFO head-of-line blocking); it is a
    * SparkContext-creation-time conf, so it only takes effect when this
    * call actually creates the context — a batch main never sets it. */
  def localSession(parallelism: Int, logLevel: String = "ERROR",
      fairScheduler: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$parallelism]")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf, "true")
      // Codegen class cache sized to the engine's plan working set
      // (default 100 entries): a long-lived JVM serving this many
      // distinct query plans evicts constantly at the default — the
      // plan-heaviest query (q153, ~120 WholeStageCodegen units) even
      // evicts its OWN entries between consecutive runs, so every
      // serve re-pays Janino compilation (~0.15-0.35 s measured: the
      // bench's fixed canary read 0.19-0.40 when it ran right after
      // q153 and 0.05-0.07 one query away, across three otherwise-
      // quiet runs; at 2000 entries the same reading is 0.07).
      // Scale-independent: the cache is keyed by generated source, not
      // data, and its footprint is generated classes (metaspace-
      // bounded), so the production value is the same as the local
      // one. Not a bench-only knob — every repeated serve benefits.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
    val spark = (if (fairScheduler) b.config("spark.scheduler.mode", "FAIR")
      else b).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
