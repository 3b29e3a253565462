package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, count, lit, struct, to_json}

/** Runs `SparkEntry.queries` entries as the benchmark sees them: built,
  * then forced through the `noop` sink with their rows counted on the way
  * (and, for the queries checked row by row, collected as JSON on the same
  * action), and timed in two parts (construct, action). Also builds the stored
  * layouts (`prepare`) and dumps the oracle SQL. */
object Suite {

  /** Each query's owning module: the module maps SparkEntry unions. */
  val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.operators.Relational.queries.keySet,
    "OrderWideStream" -> graft.streaming.OrderWideStream.queries.keySet,
    "Bucketing" -> graft.operators.Bucketing.queries.keySet,
    "Publisher" -> graft.operators.Publisher.queries.keySet,
    "Analytics" -> graft.operators.Analytics.queries.keySet,
    "TextOps" -> graft.functions.TextOps.queries.keySet,
    "SimilarityOps" -> graft.functions.SimilarityOps.queries.keySet,
    "PqOps" -> graft.functions.PqOps.queries.keySet,
    "DedupOps" -> graft.functions.DedupOps.queries.keySet,
    "Multimodal" -> graft.functions.Multimodal.queries.keySet,
    "Scalars" -> graft.functions.Scalars.queries.keySet,
    "Aggregators" -> graft.functions.Aggregators.queries.keySet)

  private def moduleOf(q: String): String =
    modules.collectFirst { case (m, qs) if qs(q) => m }.getOrElse("other")

  /** SHA-256 over the sorted (name, oracle SQL) pairs: the stamp that ties
    * stored expectations to the oracle text they were computed from. */
  def oracleHash(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    graft.SparkEntry.oracleSql.toSeq.sorted.foreach { case (k, v) =>
      md.update(k.getBytes("UTF-8")); md.update(0.toByte)
      md.update(v.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def dumpOracles(a: Map[String, Any]): Unit =
    Json.write(a("out").toString, Map(
      "hash" -> oracleHash(),
      "modules" -> modules.map { case (m, qs) => m -> qs.toSeq.sorted }.toMap,
      "oracles" -> graft.SparkEntry.oracleSql))

  /** Refuses to run against expectations computed from other oracle SQL. */
  def requireHash(a: Map[String, Any]): Unit = {
    val h = oracleHash()
    if (a("expect_hash") != h) {
      System.err.println(s"oracle SQL hash $h does not match the expected " +
        s"results' ${a("expect_hash")}: expectations are stale")
      sys.exit(3)
    }
  }

  final case class QueryRun(name: String, module: String, constructMs: Double,
      actionMs: Double, startMs: Double, endMs: Double, rows: Long,
      collected: Seq[String], error: String)

  def runQuery(spark: SparkSession, dir: String, name: String,
      collect: Boolean = false): QueryRun = {
    val sc = spark.sparkContext
    val module = moduleOf(name)
    val t0 = Clock.nowMs
    var t1 = t0
    try {
      val df = Trace.span(sc, s"construct $name", module) {
        graft.SparkEntry.queries(name)(spark, dir)
      }
      t1 = Clock.nowMs
      val obs = Observation(s"rows_$name")
      val metrics = count(lit(1)).as("n") +:
        (if (collect) Seq(collect_list(to_json(struct(df.columns.map(col): _*))).as("rows"))
         else Nil)
      Trace.span(sc, s"action $name", module) {
        df.observe(obs, metrics.head, metrics.tail: _*).write.format("noop")
          .mode("overwrite").save()
      }
      val t2 = Clock.nowMs
      val n = obs.get("n").asInstanceOf[Long]
      val rows = if (collect) obs.get("rows").asInstanceOf[scala.collection.Seq[String]].toSeq
        else Nil
      QueryRun(name, module, t1 - t0, t2 - t1, t0, t2, n, rows, "")
    } catch {
      case e: Exception =>
        val t2 = Clock.nowMs
        QueryRun(name, module, t1 - t0, t2 - t1, t0, t2, -1L, Nil,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  def runs(rs: Seq[QueryRun], probe: Probe): Seq[Map[String, Any]] = {
    val jobs = probe.jobs
    rs.map { r =>
      val constructEnd = r.startMs + r.constructMs
      Map("name" -> r.name, "module" -> r.module, "construct_ms" -> r.constructMs,
        "action_ms" -> r.actionMs, "rows" -> r.rows, "collected" -> r.collected,
        "error" -> r.error,
        "eager_jobs" -> jobs.count(j => j.startMs >= math.floor(r.startMs) &&
          j.startMs <= constructEnd))
    }
  }

  /** Builds the named queries' stored layouts by running each once. */
  def prepare(a: Map[String, Any]): Unit = {
    val dir = a("fixture").toString
    val spark = graft.Graft.localSession(4)
    val probe = new Probe(spark)
    val t0 = Clock.nowMs
    val rs = a("queries").asInstanceOf[Seq[String]].map(runQuery(spark, dir, _))
    val t1 = Clock.nowMs
    Json.write(a("out").toString, Map("store_build_ms" -> (t1 - t0),
      "queries" -> runs(rs, probe)))
    spark.stop()
  }
}
