package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A USER-RETRACTABLE set store: the user-keyed [[LedgerStore]] of
  * (user_id, payload…, ing). Each batch lands its distinct [[rows]] as
  * ingest=N; a user retraction lands one side-table tombstone per
  * user. Reads and folds resolve latest-wins per USER: a tombstone
  * kills every row of the user with ing ≤ it, and rows re-ingested
  * later (higher ing) serve again. The read is the distinct payload
  * set, and the fold dedups on that same payload, so a compaction never
  * changes what a read serves. The two stores below differ only in
  * their rows and their payload columns. */
abstract class UserSetStore(cols: String*)
    extends LedgerStore("user_id", dedup = "user_id" +: cols) {

  private val payload = "user_id" +: cols

  /** The batch's distinct (user_id, payload…) rows. */
  protected def rows(batch: DataFrame): DataFrame =
    batch.select(payload.map(col): _*).distinct()

  /** Merge-on-read: the LIVE distinct payload set. */
  def read(spark: SparkSession, path: String): DataFrame =
    liveOrThrow(spark, path).select(payload.map(col): _*).distinct()
}

/** Incrementally-maintained user-activity set — the streaming twin of
  * the q118 cohort matrix. USER-RETRACTABLE since r17 (the GDPR-shaped
  * user_info CDC delete, reference `app/OdsBaseDbApp.scala:121-139`):
  * a deleted user's (user, day) activity must leave the cohort matrix,
  * which an AdditiveSegments set store could never serve.
  *
  * A [[UserSetStore]] of (user_id, day). The reconciling semantics
  * stay SET UNION over the RESOLVED rows — a (user, day) pair may
  * arrive in ANY number of batches (a user's events straddle batch
  * boundaries; at-least-once delivery duplicates whole events) and
  * duplicates collapse on read. Retraction is latest-wins per USER:
  * activity re-ingested later (higher ing — the user re-signed-up)
  * re-accumulates from scratch, which also re-cohorts them at read time
  * (first-seen day derives from the LIVE set — exactly the GDPR
  * semantics: the old history is gone, the new account is a new cohort
  * member).
  *
  * The cohort matrix itself stays derive-at-read (see the pre-r17
  * note, unchanged): a later batch can reveal an earlier first-seen
  * day, so the stored state is the activity set, never the matrix. */
object RetentionSink extends UserSetStore("day") {

  override protected def rows(batch: DataFrame): DataFrame =
    // a timestampless event is no evidence of activity (the q118
    // batch side applies the same refusal, so stream ≡ batch holds)
    batch.filter(col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
}

/** Incrementally-maintained finalized-session store — the landing
  * store of [[graft.streaming.Streams.sessionAgg]] and the state
  * behind the q149 live session stats. USER-RETRACTABLE since r17:
  * the GDPR-shaped request (the reference routes user_info as a dim
  * whose CDC `D` op deletes the user, `app/OdsBaseDbApp.scala:121-139`)
  * must remove every session of a user from the served stats.
  *
  * A [[UserSetStore]] of (user_id, start_us, n_events, dur_us,
  * converted) — the BenchRegistrySink shape: set semantics (rows
  * uniquely keyed by (user_id, start_us); the streaming session
  * operator emits each session exactly once on finalization with a
  * deterministic payload, so replay/crash-window duplicates collapse
  * under distinct), re-ingested sessions (higher ing — the user signed
  * up again, or a backfill restored them) serve again.
  *
  * No additive sub-store and no negative partials: the read derives
  * the summary from the resolved row set, so deletion needs only the
  * tombstone — the same only-rows-can-serve-deletion argument as the
  * phrase ledger, with the store already row-shaped. */
object SessionSink extends UserSetStore("start_us", "n_events", "dur_us",
  "converted")
