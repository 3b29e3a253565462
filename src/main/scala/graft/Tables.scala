package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated star-schema parquet fixtures under
  * `/root/testdata/sf*` (see TESTDATA.md). Parquet carries its schema in
  * the footer, but `spark.read.parquet` still infers it eagerly: every
  * call launches a one-task schema-inference job (`parquet at
  * Tables.scala`) that reads the footers before the frame exists.
  * Catalyst pushes filters and column pruning into the scan.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => spark.read.parquet(s"$dir/$name.parquet")
    }

  /** The session conf reading events.parquet requires (its `ts` is
    * parquet TIMESTAMP(NANOS), which Spark rejects by default with
    * [PARQUET_TYPE_ILLEGAL]). Set it at session build time — every graft
    * entry point (the Verify/Bench/Http session builders, Graft.init)
    * does; `events` fails fast with a pointer here rather than mutating
    * the caller's session behind its back. */
  val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Nanos are read as long and floor-converted to microseconds — the
    * same truncation DuckDB applies reading TIMESTAMP_NS, so oracle
    * comparisons agree. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.get(nanosConf, "false") == "true",
      s"reading events.parquet requires $nanosConf=true — set it on the " +
        "session builder or call Graft.init (see Tables.nanosConf)")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      // FLOOR division, not `div` (truncate-toward-zero): a pre-1970
      // nanosecond timestamp must round down like DuckDB's TIMESTAMP_NS
      // → µs conversion, or the two engines differ by 1 µs on negative
      // non-multiples of 1000. Integer-exact (no double round-trip).
      raw.withColumn("ts", expr(
        "timestamp_micros(ts div 1000 - if(ts % 1000 < 0, 1, 0))"))
    else
      // Fixture generations vary: tz-naive parquet arrives as
      // TIMESTAMP_NTZ, which unix_millis/unix_micros reject. Normalize
      // to LTZ here so every query sees one timestamp type; the cast is
      // value-preserving because the session timezone is pinned to UTC
      // (Graft.scala), matching DuckDB's epoch on the same naive value.
      raw.withColumn("ts", col("ts").cast("timestamp"))
  }
}
