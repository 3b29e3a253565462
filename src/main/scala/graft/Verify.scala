package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, prefixes) = (args: Seq[String]) match {
      case Seq(s, o, rest @ _*) => (s, o, rest)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [queryPrefix...]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.localSession(cpus, "WARN")
    // the bounded unpartitioned windows (pinned in PlanAuditSpec) would
    // warn on every run and bury the real warnings
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    Files.createDirectories(Paths.get(outDir))
    // optional prefix filter (the Bench convention) — the driver always
    // passes exactly two args, so the gate itself is unchanged
    val selected =
      if (prefixes.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(selected.nonEmpty, s"no query matches prefixes $prefixes")
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // clear any PREVIOUS run's output for this query: a stale
        // committed parquet dir would be hand-delivered to the DuckDB
        // compare as if this run produced it — a green gate for a query
        // that no longer runs
        graft.sinks.Hfs.deleteRecursive(spark, s"$outDir/$name")
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
