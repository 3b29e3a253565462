package graft.operators

import graft.sources.Envelopes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** CDC op decode + dynamic fact/dim routing (ref app/OdsBaseDbApp.scala:
  * 80-148, SURVEY.md §2.2 P9-P10).
  *
  * Decode implements the INTENDED mapping — `bootstrap-insert`/`insert`
  * → I, `update` → U, `delete` → D — fixing the reference's duplicate
  * `case "insert"` bug that silently drops deletes
  * (app/OdsBaseDbApp.scala:102-106). Unknown ops → null → filtered.
  *
  * Routing is semantically a semi-join of the stream against the
  * fact/dim config lists (re-read per batch in streaming, ref :80-93);
  * with in-memory lists `isin` compiles to a broadcast-free codegen'd
  * predicate — same effect as the reference's per-batch broadcast.
  */
object CdcRouter {

  /** The CDC envelope types decode() accepts — ONE list shared with
    * undecodable(), so the decoded/quarantined sets stay an exact
    * partition of the input (editing either copy alone would
    * double-process or silently drop an op type). */
  private val KnownOps: Map[String, String] = Map(
    "bootstrap-insert" -> "I", "insert" -> "I",
    "update" -> "U", "delete" -> "D")

  def decode(parsed: DataFrame): DataFrame =
    parsed
      // Mirror undecodable()'s first disjunct: a PERMISSIVE parse can
      // set _corrupt while still extracting a valid `type` (e.g.
      // non-numeric ts), and such a row must land ONLY in the error
      // sink — otherwise quarantine-replay double-applies the op.
      .filter(col("_corrupt").isNull)
      .withColumn("op",
        KnownOps.foldLeft(lit(null).cast("string")) { case (acc, (t, o)) =>
          when(col("type") === t, lit(o)).otherwise(acc)
        })
      .filter(col("op").isNotNull)

  /** Fact route: rows destined for Kafka topic `DWD_<TABLE>_<op>`
    * (dynamic topic = computed column, ref app/OdsBaseDbApp.scala:110-118). */
  def facts(decoded: DataFrame, factTables: Seq[String]): DataFrame =
    decoded
      .filter(col("table").isin(factTables: _*))
      .select(
        concat(lit("DWD_"), upper(col("table")), lit("_"), col("op")).as("topic"),
        col("id").as("key"),
        col("data").as("value"))

  /** Dim route: keyed upserts for the dimension store — key
    * `DIM:<TABLE>:<id>` exactly as the reference writes Redis
    * (app/OdsBaseDbApp.scala:121-139); deletes become tombstones
    * (null value) instead of being lost. A dim row whose data payload
    * has no extractable `id` is UNKEYABLE (concat would emit key=NULL,
    * which every keyed consumer drops or collapses) — excluded here and
    * quarantined via [[unkeyedDims]], keeping the module's contract
    * that no routed row silently vanishes. */
  def dims(decoded: DataFrame, dimTables: Seq[String]): DataFrame =
    decoded
      .filter(col("table").isin(dimTables: _*) && col("id").isNotNull)
      .select(
        concat(lit("DIM:"), upper(col("table")), lit(":"), col("id")).as("key"),
        when(col("op") === "D", lit(null).cast("string"))
          .otherwise(col("data")).as("value"),
        col("op"),
        // the envelope's version: consumers resolving latest-per-key
        // (Gmall.dimTable) order on it
        col("cdc_ts"))

  /** The rows decode() drops — corrupt envelopes (`_corrupt` captured
    * by parseCdc) and unknown CDC types: the CDC path's error-sink side
    * (P4's contract extended to ingestion), so a malformed envelope is
    * quarantined instead of silently vanishing in the op filter. */
  def undecodable(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt").isNotNull ||
        col("type").isNull ||
        !col("type").isin(KnownOps.keys.toSeq: _*))
      .select(col("value"))

  /** Decoded dim-destined rows [[dims]] cannot key (no `$.data.id`) —
    * the other half of the dim route's quarantine. Same one-column
    * shape as [[undecodable]] so error sinks union them. */
  def unkeyedDims(decoded: DataFrame, dimTables: Seq[String]): DataFrame =
    decoded
      .filter(col("table").isin(dimTables: _*) && col("id").isNull)
      .select(col("value"))

  /** Decodable rows of tables in NEITHER routing list — a new or
    * renamed table emitting before the config catches up. Quarantined,
    * not dropped: once the batch commits, a dropped row is
    * unrecoverable, and every other loss mode here already routes to
    * the error sink. */
  def unrouted(decoded: DataFrame, routedTables: Seq[String]): DataFrame =
    decoded
      .filter(!col("table").isin(routedTables: _*) || col("table").isNull)
      .select(col("value"))

  /** Full router over raw CDC JSON — INCLUDING the error route: a
    * caller composing the path from this map alone must not silently
    * lose corrupt envelopes, unknown op types, unkeyable dim rows, or
    * rows of tables in neither list (the traps the previous
    * fact/dim-only map left open — the error side had to be remembered
    * by hand). */
  def route(raw: DataFrame, factTables: Seq[String], dimTables: Seq[String])
      : ListMap[String, DataFrame] =
    routeParsed(Envelopes.parseCdc(raw), factTables, dimTables)

  /** [[route]] over one parsed frame — the one route table, in publish
    * order. Callers persist `parsed` before materializing more than one
    * output. */
  def routeParsed(parsed: DataFrame, factTables: Seq[String],
      dimTables: Seq[String]): ListMap[String, DataFrame] = {
    val decoded = decode(parsed)
    ListMap("fact" -> facts(decoded, factTables),
      "dim" -> dims(decoded, dimTables),
      "error" -> undecodable(parsed)
        .unionByName(unkeyedDims(decoded, dimTables))
        .unionByName(unrouted(decoded, factTables ++ dimTables)))
  }
}
