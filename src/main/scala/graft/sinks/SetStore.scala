package graft.sinks

import org.apache.spark.sql.functions._

/** A SET-UNION segment store: the no-value [[SumStore]]. Each batch
  * lands its distinct `columns` projection as segment seq=N, and both
  * the read and the compaction fold reconcile with `distinct`. Legal
  * for any row set whose rows are uniquely keyed and carry a
  * deterministic payload: a replayed batch re-emits identical rows and
  * set union collapses them. The four stores below differ only in
  * their columns. */
class SetStore(columns: String*) extends SumStore(columns, Nil)(
  (rows, _) => rows.select(columns.map(col): _*).distinct())

/** Incrementally-maintained transition-pair set — the landing store of
  * [[graft.streaming.Streams.transitionPairs]] and the state behind the
  * q133 live transition matrix.
  *
  * The reconciling aggregate is SET UNION over rows uniquely keyed by
  * (user_id, from_id): the stateful engine emits each event as the
  * `from` side of at most one pair, so a replayed batch re-emits the
  * SAME pair rows (flatMapGroupsWithState is deterministic given batch
  * + checkpointed state) and duplicates collapse on read — the
  * RetentionSink idempotence contract, not the counting sinks'
  * one-doc-one-batch admission. Segment size is bounded by the batch's
  * emitted pairs (≤ its events); compaction on a cadence bounds the
  * merge fan-in. The matrix (per-src normalization) is derived at read
  * time from the grid-sized aggregate, exactly like the q122 cohort
  * matrix — storing it incrementally would be redundant state over a
  * ≤|types|² frame. */
object TransitionSink
    extends SetStore("user_id", "from_id", "to_id", "src", "dst")

/** Incrementally-maintained funnel-advance set — the landing store of
  * [[graft.streaming.Streams.funnelAdvance]] and the state behind the
  * q140 live funnel.
  *
  * Same reconcile contract as [[TransitionSink]]: SET UNION over rows
  * uniquely keyed by (user_id, step) — the fold emits each step at most
  * once per user, a replayed batch re-emits the SAME rows
  * (flatMapGroupsWithState is deterministic given batch + checkpointed
  * state), and duplicates collapse on read. The store is tiny by
  * construction (≤ 3 rows per ever-converted user), so compaction is
  * cheap and the funnel report derives at read time — materializing the
  * three counts incrementally would be redundant state over a 1-row
  * answer. */
object FunnelSink extends SetStore("user_id", "step")

/** Incrementally-maintained dwell-attribution set — the landing store
  * of [[graft.streaming.Streams.dwellPairs]] and the state behind the
  * q144 live dwell report.
  *
  * [[TransitionSink]]'s reconcile contract with a payload: rows are
  * uniquely keyed by (user_id, from_id) — each event owns at most one
  * dwell, and the gap is a deterministic function of the ordered stream
  * — so a replayed batch re-emits identical rows and SET UNION
  * collapses them. The per-type report derives at read time (the gap
  * sum is grid-collapsible, but the stored rows are what replay
  * idempotence is keyed on). */
object DwellSink extends SetStore("user_id", "from_id", "from_type", "gap_us")

/** Incrementally-maintained point-in-time read set — the landing store
  * of [[graft.streaming.Streams.pitReads]] and the state behind the
  * q145 live PIT join.
  *
  * Rows are uniquely keyed by (user_id, event_id): a purchase reads its
  * as-of state exactly once, and the (version, k) payload is a
  * deterministic function of the ordered prefix — replayed batches
  * re-emit identical rows, SET UNION collapses them (the
  * [[TransitionSink]] contract). */
object PitSink extends SetStore("user_id", "event_id", "ts_us",
  "state_version", "state_k")
