package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The serving-layer twin of publish-realtime: assembles the exact
  * response shapes of the two REST endpoints (SURVEY §3.3) from engine
  * queries over the fixtures.
  *
  * GET /dauRealtime?td=…  → {dauTotal, dauTd: {hr→n}, dauYd: {hr→n}}
  *   (ref publishController.java:42-47 → PublishDaoImpl.java:104-176)
  * GET /statsByItem?itemName=…&t=segment|band →
  *   [{name, value}, …] — the reference's t=gender|age dimensions
  *   mapped onto the fixture schema: segment = relabeled c_mktsegment
  *   (the gender-decode analog, SURVEY §2.3 F7), band = re-bucketed
  *   c_acctbal (the age-band analog, A5); ref
  *   PublisherServiceImpl.java:39-86
  *
  * Each endpoint is ONE `spark.sql` statement over the views
  * `Graft.init` registers. The aggregation runs distributed; only the
  * final ≤48/4-row result is collected for assembly — same split as
  * the reference (ES aggregates, Java assembles).
  */
object Publisher {

  case class DauRealtime(dauTotal: Long, dauTd: Map[String, Long],
      dauYd: Map[String, Long])

  case class StatItem(name: String, value: Double)

  /** Day must be yyyy-MM-dd; tokens must be word characters — both are
    * interpolated into SQL text. */
  private def checkDay(day: String): String = {
    require(day.matches("\\d{4}-\\d{2}-\\d{2}"), s"bad day: $day")
    day
  }

  /** The /dauRealtime histogram as a DataFrame (dt, hr, n) — per-day
    * per-user first event → hour histogram for both days in ONE events
    * scan (dauTotal is the td histogram's sum, so no count-distinct
    * scan).
    * This IS the distributed part of the endpoint; [[dauRealtimeSql]]
    * collects it (≤ 48 rows) and assembles the payload. Exposed
    * un-collected so q77 can drive it through the driver's DuckDB
    * oracle. */
  def dauRealtimeSqlDf(spark: SparkSession, td: String, yd: String): DataFrame =
    spark.sql(
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, date_format(ts, 'yyyy-MM-dd') AS dt
         |  FROM events
         |  WHERE date_format(ts, 'yyyy-MM-dd') IN ('${checkDay(td)}', '${checkDay(yd)}')),
         |ranked AS (
         |  SELECT dt, ts,
         |    row_number() OVER (PARTITION BY dt, user_id
         |                       ORDER BY ts, event_id) AS rn
         |  FROM e)
         |SELECT dt, date_format(ts, 'HH') AS hr, count(*) AS n
         |FROM ranked WHERE rn = 1 GROUP BY dt, hr""".stripMargin)

  /** /dauRealtime via one SQL statement: dauTotal = the td histogram's
    * sum (exactly one row per user per day). */
  def dauRealtimeSql(spark: SparkSession, td: String): DauRealtime = {
    val yd = java.time.LocalDate.parse(checkDay(td)).minusDays(1).toString
    val rows = dauRealtimeSqlDf(spark, td, yd)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def hist(day: String) =
      rows.collect { case (`day`, hr, n) => hr -> n }.toMap
    val dauTd = hist(td)
    DauRealtime(dauTd.values.sum, dauTd, hist(yd))
  }

  /** The /statsByItem result as a DataFrame (name, value) — conjunctive
    * LIKE match + CASE re-bucketing + grouped sum; [[statsByItemSql]]
    * collects it (≤ 4 rows). Exposed un-collected for q78. */
  def statsByItemSqlDf(spark: SparkSession, itemTokens: Seq[String],
      t0: String): DataFrame = {
    // empty list = WHERE-less SQL = parser error; say so as the bad
    // PARAMETER it is
    require(itemTokens.nonEmpty, "itemName has no searchable tokens")
    // alphanumerics ONLY: \w admits '_', a LIKE single-char wildcard,
    // which would make the match looser than a literal contains() —
    // 'foo_bar' would match 'fooXbar'
    itemTokens.foreach(tok =>
      require(tok.matches("[A-Za-z0-9]+"), s"bad token: $tok"))
    val matchPred = itemTokens
      .map(tok => s"p_name LIKE '%$tok%'").mkString(" AND ")
    val nameExpr = t0 match {
      case "segment" =>
        """CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'auto'
          |     WHEN c_mktsegment = 'BUILDING' THEN 'building'
          |     WHEN c_mktsegment = 'MACHINERY' THEN 'machinery'
          |     ELSE 'other' END""".stripMargin
      case "band" =>
        """CASE WHEN c_acctbal < 0 THEN 'negative'
          |     WHEN c_acctbal < 5000 THEN 'mid'
          |     ELSE 'high' END""".stripMargin
      case other => throw new IllegalArgumentException(s"t=$other")
    }
    spark.sql(
      s"""SELECT $nameExpr AS name, round(sum(l_extendedprice), 2) AS value
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE $matchPred
         |GROUP BY 1 ORDER BY value DESC, name ASC""".stripMargin)
  }

  /** /statsByItem via one SQL statement. */
  def statsByItemSql(spark: SparkSession, itemTokens: Seq[String],
      t0: String): Seq[StatItem] =
    statsByItemSqlDf(spark, itemTokens, t0)
      .collect().map(r => StatItem(r.getString(0), r.getDouble(1))).toSeq

  // ---- Driver-oracle entries: these q-entries run the EXACT endpoint
  // SQL over Graft.init's registered views and hand the un-collected
  // frame to the driver's DuckDB compare. Fixture days per FIXTURES.md
  // (2024-01-15 is the events table's densest day — q15 uses the same
  // pair).

  // register ONLY the views each endpoint's SQL reads: the previous
  // full Graft.init per invocation re-read all ten fixture footers and
  // re-registered the extension functions on every bench iteration —
  // overhead no other q-entry pays, charged to q77/q78's numbers
  private def views(s: SparkSession, d: String, names: String*): Unit =
    names.foreach(n => graft.Tables.t(s, d, n).createOrReplaceTempView(n))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q77_dau_realtime_sql" -> ((s, d) => {
      views(s, d, "events")
      dauRealtimeSqlDf(s, "2024-01-15", "2024-01-14")
    }),
    "q78_stats_by_item_sql" -> ((s, d) => {
      views(s, d, "lineitem", "part", "orders", "customer")
      statsByItemSqlDf(s, Seq("small", "widget"), "segment")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q77_dau_realtime_sql" ->
      """WITH ranked AS (
        |  SELECT strftime(ts,'%Y-%m-%d') AS dt, ts,
        |    row_number() OVER (PARTITION BY strftime(ts,'%Y-%m-%d'), user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE strftime(ts,'%Y-%m-%d') IN ('2024-01-15', '2024-01-14'))
        |SELECT dt, strftime(ts,'%H') AS hr, count(*) AS n
        |FROM ranked WHERE rn = 1 GROUP BY dt, hr""".stripMargin,
    "q78_stats_by_item_sql" ->
      """SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'auto'
        |            WHEN c_mktsegment = 'BUILDING' THEN 'building'
        |            WHEN c_mktsegment = 'MACHINERY' THEN 'machinery'
        |            ELSE 'other' END AS name,
        | round(sum(l_extendedprice), 2) AS value
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE p_name LIKE '%small%' AND p_name LIKE '%widget%'
        |GROUP BY 1 ORDER BY value DESC, name ASC""".stripMargin,
  )
}
