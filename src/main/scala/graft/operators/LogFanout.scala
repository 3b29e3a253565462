package graft.operators

import graft.sources.Envelopes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** The 5-way log fan-out (ref app/OdsBaseLogApp.scala:88-198, SURVEY.md
  * §2.2 P3-P8): one parsed stream splits into error / start / page /
  * display / action outputs. The reference walks each record imperatively
  * per partition; here each output is a declarative filter+projection over
  * the SAME parsed DataFrame, so Catalyst prunes the unused branches of
  * the JSON struct per output (OptimizeJsonExprs + ColumnPruning), and a
  * `persist()` in the batch/foreachBatch driver shares the parse across
  * the five sinks. All five jobs stay narrow — no shuffle, exactly like
  * the reference's map-only design.
  *
  * Routing rules (FIXTURES.md §1): `err` present → whole raw record to
  * the error output, nothing else extracted; `page` and `start` are
  * independent optionals; displays/actions only occur with page.
  */
object LogFanout {

  /** The common.* short→long map, ONE copy shared by the page family
    * and [[starts]] — a field added or renamed in two places silently
    * desynchronizes the start output from the page outputs. */
  private def commonCols(j: String = "j") = Seq(
    col(s"$j.common.mid").as("mid"),
    col(s"$j.common.uid").as("user_id"),
    col(s"$j.common.ar").as("province_id"),
    col(s"$j.common.ch").as("channel"),
    col(s"$j.common.is_new").as("is_new"),
    col(s"$j.common.md").as("model"),
    col(s"$j.common.os").as("operate_system"),
    col(s"$j.common.vc").as("version_code"),
    col(s"$j.common.ba").as("brand"))

  /** Flat PageLog projection with the reference's short→long column map
    * (ar→province_id etc., ref app/OdsBaseLogApp.scala:105-128). */
  private def pageLogCols(j: String = "j") = commonCols(j) ++ Seq(
    col(s"$j.page.page_id").as("page_id"),
    col(s"$j.page.last_page_id").as("last_page_id"),
    col(s"$j.page.item").as("page_item"),
    col(s"$j.page.item_type").as("page_item_type"),
    col(s"$j.page.during_time").as("during_time"),
    col(s"$j.page.source_type").as("sourceType"),
    col(s"$j.ts").as("ts"))

  /** err != null (or unparseable) → raw record routed whole
    * (ref app/OdsBaseLogApp.scala:97-101). */
  def errors(parsed: DataFrame): DataFrame =
    parsed.filter(col("j.err").isNotNull || col("j._corrupt").isNotNull ||
        col("j").isNull)
      .select(col("value").as("raw"))

  private def clean(parsed: DataFrame): DataFrame =
    parsed.filter(col("j.err").isNull && col("j._corrupt").isNull &&
      col("j").isNotNull)

  /** page != null → flat PageLog rows (P3/P5). */
  def pages(parsed: DataFrame): DataFrame =
    clean(parsed).filter(col("j.page").isNotNull).select(pageLogCols(): _*)

  /** displays array flatten (P7): one row per element, parent PageLog
    * fields replicated — built-in Generator, not a loop. */
  def displays(parsed: DataFrame): DataFrame =
    clean(parsed)
      .filter(col("j.page").isNotNull && col("j.displays").isNotNull)
      .select(pageLogCols() :+ explode(col("j.displays")).as("d"): _*)
      .withColumns(Map(
        "display_type" -> col("d.display_type"),
        "display_item" -> col("d.item"),
        "display_item_type" -> col("d.item_type"),
        "display_order" -> col("d.order"),
        "display_pos_id" -> col("d.pos_id")))
      .drop("d")

  /** actions array flatten (P8): carries the element-level ts. */
  def actions(parsed: DataFrame): DataFrame =
    clean(parsed)
      .filter(col("j.page").isNotNull && col("j.actions").isNotNull)
      .select(pageLogCols() :+ explode(col("j.actions")).as("a"): _*)
      .withColumns(Map(
        "action_id" -> col("a.action_id"),
        "action_item" -> col("a.item"),
        "action_item_type" -> col("a.item_type"),
        "action_ts" -> col("a.ts")))
      .drop("a")

  /** start != null → StartLog rows (ref app/OdsBaseLogApp.scala:170-184). */
  def starts(parsed: DataFrame): DataFrame =
    clean(parsed).filter(col("j.start").isNotNull).select(commonCols() ++ Seq(
      col("j.start.entry").as("entry"),
      col("j.start.open_ad_id").as("open_ad_id"),
      col("j.start.loading_time").as("loading_time_ms"),
      col("j.start.open_ad_ms").as("open_ad_ms"),
      col("j.start.open_ad_skip_ms").as("open_ad_skip_ms"),
      col("j.ts").as("ts")): _*)

  /** All five outputs of a raw log batch, in publish order. */
  def fanout(raw: DataFrame): ListMap[String, DataFrame] =
    fanoutParsed(Envelopes.parseLog(raw))

  /** The five outputs over one parsed frame — the one route table.
    * Callers persist `parsed` before materializing more than one. */
  def fanoutParsed(parsed: DataFrame): ListMap[String, DataFrame] = ListMap(
    "error" -> errors(parsed),
    "page" -> pages(parsed),
    "display" -> displays(parsed),
    "action" -> actions(parsed),
    "start" -> starts(parsed))
}
