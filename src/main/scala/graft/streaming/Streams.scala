package graft.streaming

import graft.operators.LogFanout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming twins of the batch operators (SURVEY.md §2.8).
  * Each takes/returns DataFrames so tests can drive them with
  * MemoryStream (no Kafka broker in this environment; the Kafka
  * source/sink differs only in `.format("kafka")` options).
  *
  * What the reference hand-rolls with Redis becomes engine state:
  * - offsets (ST2, util/MyOffsetUtils.scala) → checkpoint WAL, free;
  * - DAU dedup set w/ intended-24h TTL (ST5, app/DwdDauApp.scala:83-100)
  *   → watermark + dropDuplicates (state actually expires, unlike the
  *   reference's unexpiring Redis set);
  * - cross-batch join cache w/ 24h setex (ST4, app/DwdOrderApp.scala:
  *   185-231) → watermarked stream-stream inner join, state store TTL =
  *   watermark delay.
  */
object Streams {

  /** A6/ST5: exactly-once admission of the first event per (mid, dt).
    * Input needs event-time `ts` (timestamp) and key `mid`.
    *
    * dropDuplicatesWithinWatermark — NOT plain dropDuplicates — because
    * the dedup keys (mid, dt) do not include the watermarked event-time
    * column, so plain dropDuplicates state would never be evicted and
    * grows forever. The within-watermark form expires each key once the
    * watermark passes its event time + delay; two events sharing a dt
    * are at most 24h apart in event time, so delay ≥ "24 hours" makes
    * the dedup exact (the TTL the reference intended but never set —
    * StreamingSpec asserts the state rows are actually dropped). */
  def dauDedup(pageLogs: DataFrame, delay: String = "24 hours"): DataFrame = {
    val withDt = pageLogs
      .withColumn("dt", to_date(col("ts")))
      .withWatermark("ts", delay)
    // The within-watermark form is streaming-only; in batch mode there is
    // no state store to bound, so plain dropDuplicates is the exact twin.
    if (pageLogs.isStreaming) withDt.dropDuplicatesWithinWatermark("mid", "dt")
    else withDt.dropDuplicates("mid", "dt")
  }

  /** J2/ST4: order_info ⋈ order_detail where sides may arrive up to
    * `delay` apart — inner 1:N join on order_id, state bounded by
    * watermarks on both sides (the reference's 24h Redis setex,
    * app/DwdOrderApp.scala:203-230, with correct expiry). Both inputs
    * need an event-time `ts` column. */
  def orderWideJoin(info: DataFrame, detail: DataFrame,
      delay: String = "24 hours"): DataFrame = {
    val i = info
      .withColumnRenamed("order_id", "info_order_id")
      .withColumnRenamed("ts", "info_ts")
      .withWatermark("info_ts", delay)
    val d = detail
      .withColumnRenamed("order_id", "detail_order_id")
      .withColumnRenamed("ts", "detail_ts")
      .withWatermark("detail_ts", delay)
    i.join(d,
      expr(s"""info_order_id = detail_order_id AND
               detail_ts BETWEEN info_ts - INTERVAL '$delay'
                             AND info_ts + INTERVAL '$delay'"""))
  }

  /** ST7 upgrade: tumbling event-time window aggregation with watermark
    * (the reference only group-bys a derived `hr` string, no lateness
    * handling). Same buckets as Relational.windowedAgg's date_trunc. */
  def hourlyAgg(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total_value"))

  /** q149's engine: the BUILT-IN streaming session operator doing the
    * q36/q147 gap cut — where the orderedFold family hand-rolls
    * sequence state, sessions are exactly what `session_window` exists
    * for, so the live twin USES it (Spark-first) and only adapts the
    * boundary: the batch cut keeps an event at EXACTLY prev+30:00 in
    * the same session (`>` comparison), while session windows are
    * end-exclusive — a gap of 30 minutes 1 microsecond makes the two
    * agree at the events table's micro resolution. Sessions finalize
    * (append mode) when the watermark passes their end, each exactly
    * once. Sentinels are NOT filtered here — Catalyst pushes a
    * user_id filter BELOW the watermark node (it doesn't reference the
    * event-time column), and un-watermarked sentinels would leave every
    * session in the last `delay` of event time unfinalized (measured:
    * 25 events silently missing at sf0.01). A sentinel instead forms
    * its own single-event session for its negative user, finalized by
    * the NEXT sentinel, and the reader drops negative users. Emitted
    * rows are deterministic aggregates of the session's events, so sink
    * replays collapse by identity. */
  def sessionAgg(events: org.apache.spark.sql.Dataset[TransEvent],
      delay: String = "1 hour"): DataFrame = {
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes 1 microsecond"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"), col("dur_us"), col("converted"))
  }

  /** Streaming twin of Analytics.sequencePack (q57) — stateful
    * concat-and-chunk packing for a training-data ingest: docs arrive in
    * micro-batches keyed by shard, state carries each shard's running
    * token total plus its open chunk, so chunk boundaries are stable
    * across batches. A chunk is emitted once a later doc lands past it
    * (append semantics); the open chunk stays in state. Docs pack in
    * doc_id order within a batch and arrival order across batches — fed
    * in doc_id order the closed chunks equal the batch q57 result minus
    * each shard's final open chunk (SequencePackSpec proves it). State
    * is ONE small struct per shard — bounded by shard count, no
    * timeout needed. */
  case class PackedBin(shard: Long, bin: Long, n_docs: Long,
      tok_filled: Long, first_doc: Long, last_doc: Long)
  case class PackState(cum: Long, open: PackedBin)

  def packStream(docs: org.apache.spark.sql.Dataset[(Long, Long, Long)],
      budget: Long = 2048L)
      : org.apache.spark.sql.Dataset[PackedBin] = {
    // fail at the call site, not as an ArithmeticException inside
    // executor tasks mid-stream (cum / budget below); negative budgets
    // would silently emit negative bin ids
    require(budget >= 1L, s"budget must be >= 1 token, got $budget")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs // (shard, doc_id, n_tokens)
      .groupByKey(_._1)
      .flatMapGroupsWithState[PackState, PackedBin](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[PackState]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          var open = state.getOption.map(_.open).orNull
          val closed = Seq.newBuilder[PackedBin]
          rows.toSeq.sortBy(_._2).foreach { case (_, docId, n) =>
            val bin = cum / budget
            if (open == null)
              open = PackedBin(shard, bin, 1L, n, docId, docId)
            else if (bin == open.bin)
              open = open.copy(n_docs = open.n_docs + 1,
                tok_filled = open.tok_filled + n, last_doc = docId)
            else {
              closed += open
              open = PackedBin(shard, bin, 1L, n, docId, docId)
            }
            cum += n
          }
          state.update(PackState(cum, open))
          closed.result().iterator
      }
  }

  /** One event of the transition stream; field names mirror the events
    * table so `.as[TransEvent]` maps columns directly. */
  case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  /** One emitted transition — uniquely keyed by (user_id, from_id):
    * each event is the `from` side of at most one pair, which is what
    * makes the downstream set-union sink replay-idempotent. */
  case class TransPair(user_id: Long, from_id: Long, to_id: Long,
      src: String, dst: String)
  /** Per-user ordered-replay state shared by every streaming sequence
    * operator: events not yet passed by the watermark (still
    * reorderable, as (tsMICROS, event_id, event_type)) + the operator's
    * fold accumulator. Micros, not millis: the events fixture carries
    * sub-millisecond timestamps, and a millis buffer would order two
    * same-milli events of one user differently from the batch
    * (ts, event_id) total order — and hand the dwell fold a truncated
    * gap besides. */
  case class SeqState[A](buffer: Seq[(Long, Long, String)], acc: A)

  /** Exact event-time micros of a Timestamp (getTime alone floors to
    * millis; the sub-milli part lives in getNanos). */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The buffer-until-watermark scaffold every streaming SEQUENCE
    * operator shares: "next event" / "prior event" are undefined until
    * no earlier event can still arrive, so events buffer in state until
    * the watermark passes them; each invocation replays the ripe slice
    * in (ts, event_id) order — the q121/q124/q127 total order — through
    * the operator's per-user FOLD, retains (accumulator + unripe
    * buffer), and re-arms the event-time timeout to the earliest
    * buffered timestamp (EventTimeTimeout clears on every invocation —
    * without the re-arm a buffered event would wait for the user's NEXT
    * event instead of the watermark). Factored out of transitionPairs
    * when the funnel arrived: the subtle parts (ripe partition line,
    * re-arm max(min, wm+1), in-order replay) must not drift between
    * sequence operators. */
  private def orderedFold[A, O](
      events: org.apache.spark.sql.Dataset[TransEvent], delay: String,
      init: A)(fold: (Long, A, (Long, Long, String)) => (A, Seq[O]))(
      implicit stateEnc: org.apache.spark.sql.Encoder[SeqState[A]],
      outEnc: org.apache.spark.sql.Encoder[O])
      : org.apache.spark.sql.Dataset[O] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState[A], O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[TransEvent], state: GroupState[SeqState[A]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(SeqState(Nil, init))
          val buf = prev.buffer ++
            rows.map(e => (micros(e.ts), e.event_id, e.event_type))
          // STRICT ripe line. MEASURED engine admission (StreamingSpec's
          // sequence-state envelope + the round-12 boundary experiment): this
          // operator's late filter drops arrivals with ts <= wm — only
          // ts strictly ABOVE the watermark is admitted. Flushed events
          // here have ts < wm, so any future admission (> wm) can never
          // precede them in (ts, event_id) order — replay exactness
          // holds without leaning on lifecycle delay slack. (The
          // non-strict flush `<=` would also be safe under the measured
          // convention, but strict stays safe even if the engine's
          // boundary rule were the other way — the conservative line
          // costs one extra watermark advance for boundary-equal
          // events.)
          val (ripe, wait) = buf.partition(_._1 < wmUs)
          var acc = prev.acc
          val out = Seq.newBuilder[O]
          ripe.sortBy(e => (e._1, e._2)).foreach { e =>
            val (a2, os) = fold(uid, acc, e)
            acc = a2
            out ++= os
          }
          state.update(SeqState(wait, acc))
          // re-arm the flush: EventTimeTimeout clears on every
          // invocation, so a buffered event would otherwise wait for
          // the user's NEXT event instead of the watermark. The timeout
          // API is millis: floor the earliest buffered micro — it fires
          // once the watermark strictly passes that milli, i.e.
          // wmUs ≥ (milli+1)*1000 > the event's own micro, so the
          // STRICT ripe line above then admits it.
          if (wait.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(wait.map(_._1).min / 1000L, wmUs / 1000L + 1))
          out.result().iterator
      }
  }

  /** Streaming twin of the q127 transition pairs: reconstructs each
    * user's event SEQUENCE from out-of-order arrivals and emits every
    * adjacent (src → dst) pair exactly once. The hard part of streaming
    * path analysis is that "next event" is undefined until no earlier
    * event can still arrive — so events BUFFER in state until the
    * watermark passes them; each invocation flushes the ripe slice in
    * (ts, event_id) order (the q121/q124/q127 total order), chains it
    * onto the last previously-emitted event, emits the pairs, and
    * retains (new tail + unripe buffer). Arbitrary arrival order within
    * the watermark horizon yields EXACTLY the batch pairs; an event
    * later than the watermark is dropped by the engine before the state
    * sees it — the same admission line every watermarked operator
    * draws.
    *
    * State per user = the open buffer (bounded by the user's events
    * inside the watermark horizon) + ONE tail event. The tail persists
    * with no timeout on purpose: a user's next event may legitimately
    * arrive arbitrarily far in the future (that is event-time advance,
    * not lateness) and must still pair — one small row per ever-seen
    * user, the same footprint as any per-user streaming aggregate.
    * Flush timeouts are event-time (a processing-time timeout makes
    * the micro-batch engine self-trigger empty batches forever) and
    * re-armed to the earliest buffered timestamp whenever the buffer is
    * non-empty. */
  def transitionPairs(events: org.apache.spark.sql.Dataset[TransEvent],
      delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[TransPair] = {
    import events.sparkSession.implicits._
    // fold accumulator = the last emitted event awaiting a successor;
    // the tail persists with no timeout on purpose (see scaladoc above)
    orderedFold[Option[(Long, Long, String)], TransPair](
      events, delay, None) { (uid, tail, e) =>
      (Some(e), tail.map(t => TransPair(uid, t._2, e._2, t._3, e._3)).toSeq)
    }
  }

  /** One emitted dwell attribution — event `from_id` owned the capped
    * gap to its user's next event. Uniquely keyed by (user_id, from_id)
    * like TransPair: each event owns at most one dwell. */
  case class DwellPair(user_id: Long, from_id: Long, from_type: String,
      gap_us: Long)

  /** Streaming twin of the q138 dwell attribution: the transitionPairs
    * fold carrying TIME — when the ordered replay chains event e onto
    * the tail t, t's dwell is min(e.ts − t.ts, 30 min) in exact integer
    * microseconds (the buffer holds event-time micros, so the gap is
    * bit-identical to the batch `unix_micros` difference). A user's
    * LAST event never emits — exactly the batch null-gap row. */
  def dwellPairs(events: org.apache.spark.sql.Dataset[TransEvent],
      delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[DwellPair] = {
    import events.sparkSession.implicits._
    orderedFold[Option[(Long, Long, String)], DwellPair](
      events, delay, None) { (uid, tail, e) =>
      (Some(e), tail.map { t =>
        DwellPair(uid, t._2, t._3, math.min(e._1 - t._1, 1800000000L))
      }.toSeq)
    }
  }

  /** One emitted point-in-time state read — purchase `event_id` saw
    * SCD2 state (version, k) at its timestamp. Uniquely keyed by
    * (user_id, event_id): a purchase reads its state exactly once. */
  case class PitRead(user_id: Long, event_id: Long, ts_us: Long,
      state_version: Long, state_k: Option[Long])
  /** The PIT fold accumulator: how many change rows precede the cursor
    * and the k of the latest one (kSet distinguishes "no change yet"
    * from "latest change carries null k" — q136's struct-max nuance). */
  case class PitAcc(version: Long, k: Option[Long], kSet: Boolean)

  /** Streaming twin of the q136 point-in-time state join: the ordered
    * replay IS the as-of semantics — by the time a purchase folds, the
    * accumulator holds exactly the change rows strictly before it in
    * the (ts, event_id) total order, so "state valid at the purchase"
    * is a read of the accumulator, with no interval bookkeeping at all.
    * The k payload rides the event-type string as "change:<k>" /
    * "change:" (the TransEvent envelope carries one tag field; a
    * production stream would carry a typed column — the parsing is the
    * adapter, not the operator). */
  def pitReads(events: org.apache.spark.sql.Dataset[TransEvent],
      delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[PitRead] = {
    import events.sparkSession.implicits._
    orderedFold[PitAcc, PitRead](events, delay, PitAcc(0L, None, false)) {
      (uid, a, e) =>
        e._3.split(":", -1) match {
          case Array("change", k) =>
            (PitAcc(a.version + 1, k.toLongOption, true), Nil)
          case Array("purchase") =>
            (a, Seq(PitRead(uid, e._2, e._1, a.version,
              if (a.kSet) a.k else None)))
          case _ => (a, Nil) // heartbeats and foreign types fold as no-ops
        }
    }
  }

  /** One emitted funnel advance — a user completing step `step` of the
    * q121 view→click→purchase funnel for the FIRST time. Uniquely keyed
    * by (user_id, step): the fold emits each step at most once per
    * user, so the set-union sink collapses at-least-once replays. */
  case class FunnelStep(user_id: Long, step: Int)
  /** The funnel fold accumulator: which qualifications are established
    * by STRICTLY-PRIOR events (va = a view exists, vb = a qualified
    * click exists — exactly q121's min-so-far marks collapsed to
    * booleans) and which steps already emitted. */
  case class FunnelAcc(va: Boolean, vb: Boolean,
      s1: Boolean, s2: Boolean, s3: Boolean)

  /** Streaming twin of the q121 ordered funnel: events replay through
    * the [[orderedFold]] scaffold in exact (ts, event_id) order, and
    * the fold advances each user's funnel — a click qualifies iff a
    * view sits strictly before it in the total order (the accumulator
    * state BEFORE the event, which is precisely q121's
    * `ROWS UNBOUNDED PRECEDING AND 1 PRECEDING` frame), a purchase iff
    * a qualified click does. State per user = the watermark buffer +
    * five booleans; emitted volume ≤ 3 rows per user ever. Events of
    * types outside the funnel alphabet fold as no-ops (which is what
    * makes heartbeat/sentinel rows safe). */
  def funnelAdvance(events: org.apache.spark.sql.Dataset[TransEvent],
      delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[FunnelStep] = {
    import events.sparkSession.implicits._
    orderedFold[FunnelAcc, FunnelStep](
      events, delay, FunnelAcc(false, false, false, false, false)) {
      (uid, a, e) =>
        val typ = e._3
        val isView = typ == "view"
        val q2 = typ == "click" && a.va
        val q3 = typ == "purchase" && a.vb
        val emits = Seq(
          if (isView && !a.s1) Some(FunnelStep(uid, 1)) else None,
          if (q2 && !a.s2) Some(FunnelStep(uid, 2)) else None,
          if (q3 && !a.s3) Some(FunnelStep(uid, 3)) else None).flatten
        (FunnelAcc(a.va || isView, a.vb || q2,
          a.s1 || isView, a.s2 || q2, a.s3 || q3), emits)
    }
  }

  /** Exactly-once per-batch publish into an append-style topic dir: each
    * (sink, batch) pair lands in its own `batch=<id>` segment through
    * [[graft.sinks.Hfs.writeCommittedSegment]] — one job writes a hidden
    * `.stage-batch=<id>` dir, and one rename publishes its data with the
    * commit marker (Hfs.CommitMarker; `_SUCCESS` alone vanishes under
    * marksuccessfuljobs=false). So a stage-2 file stream never lists a
    * half-written or unmarked segment, a replayed batch no-ops per sink,
    * a crash between sinks resumes exactly where it stopped, and a
    * crashed attempt's stage is cleared and rewritten. Readers scan the
    * sink root; the `batch` partition column is lineage metadata they
    * may ignore. An empty side publishes nothing (its stage is
    * deleted), so a replay has nothing to duplicate. */
  private def publishBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    graft.sinks.Hfs.writeCommittedSegment(df, s"$dir/batch=$batchId")

  /** ST10/P10: CDC routing with per-batch config refresh — the fact/dim
    * table lists are re-read from `configPath` on EVERY micro-batch (the
    * reference re-reads Redis sets each batch, app/OdsBaseDbApp.scala:
    * 80-93), so routing reconfigures hot without restarting the query.
    * Config file: one CSV line per table, `name,kind` with kind ∈
    * {fact, dim}. The parsed envelopes are persisted for the duration of
    * the batch: the fact, dim and error writes would otherwise each
    * re-parse every CDC envelope. */
  def cdcRouteBatchWriter(configPath: String, outDir: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // PIN the batch's routing config: the first attempt snapshots the
    // live config beside the output (atomic tmp+rename via writeString)
    // and every replay reads the PIN. Without it the per-sink marker
    // protocol is unsound under hot reload: batch N publishes fact,
    // crashes before dim, the config moves table T across kinds while
    // the query is down — on replay fact no-ops under the OLD routing
    // while dim recomputes under the NEW, so T's rows land in both
    // sinks (fact→dim move) or in neither (dim→fact). Kinds are
    // trimmed/case-normalized and unknown kinds fail LOUDLY — a typo'd
    // kind silently unrouting a table is CDC data loss.
    val pinPath = s"$outDir/__config/batch=$batchId"
    val conf: Seq[(String, String)] =
      graft.sinks.Hfs.readString(spark, pinPath) match {
        case Some(s) =>
          // kind-first encoding: kind never contains a comma, so
          // split-limit-2 always recovers the full name even when the
          // name itself contains commas (name,kind order truncated such
          // names and silently unrouted the table on replay)
          val pinned = s.split("\n").toSeq.filter(_.nonEmpty).map { l =>
            l.split(",", 2) match {
              case Array(k, n) => (n, k)
              case _ => ("", l)
            }
          }
          // a pin this writer produced always decodes to fact/dim — any
          // other kind means foreign bytes (a legacy name-first pin, a
          // corrupt file) and silently unrouting under it is CDC data
          // loss, the exact hazard the pin exists to prevent
          // empty names are foreign too: a hand-repaired line of just
          // 'fact' (or 'fact,') decodes to kind=fact, name='' — passing
          // it would silently unroute the table the repair intended
          val foreign = pinned.filterNot { case (n, k) =>
            (k == "fact" || k == "dim") && n.nonEmpty }
          require(foreign.isEmpty,
            s"unreadable routing pin $pinPath (lines decode to non-fact/dim " +
              s"kinds: $foreign) — delete the pin only if the batch's " +
              "outputs are known-absent, else re-pin by hand")
          pinned
        case None =>
          val fresh = spark.read.schema("name STRING, kind STRING")
            .csv(configPath).collect().toSeq
            .filter(r => !r.isNullAt(0))
            .map(r => (r.getString(0).trim,
              Option(r.getString(1)).fold("")(_.trim.toLowerCase)))
          val unknown = fresh.filterNot { case (_, k) => k == "fact" || k == "dim" }
          require(unknown.isEmpty,
            s"unknown routing kind(s) in $configPath: $unknown (allowed: fact, dim)")
          // newlines are the pin's record separator and cannot be
          // escaped by field order — reject them loudly instead of
          // silently splitting one table into two unrouted lines
          val badNames = fresh.collect { case (n, _) if n.contains("\n") || n.contains("\r") => n }
          require(badNames.isEmpty,
            s"table name(s) with newline in $configPath cannot be pinned: $badNames")
          // duplicate check BEFORE the pin write, like every other
          // config validation: a pinned fact+dim double listing would
          // wedge the batch's replay even after the config file is
          // fixed (the pin, not the file, drives replays)
          val dupFresh = fresh.map(_._1).groupBy(identity)
            .collect { case (n, xs) if xs.size > 1 => n }
          require(dupFresh.isEmpty,
            s"table(s) listed more than once in $configPath: " +
              s"${dupFresh.mkString(", ")} — a fact+dim double listing double-processes")
          graft.sinks.Hfs.writeString(spark, pinPath,
            fresh.map { case (n, k) => s"$k,$n" }.mkString("\n"))
          fresh
      }
    // the fresh path never pins a duplicate (checked above), so a dup
    // here is a LEGACY pin: fail with the pin path + remediation, like
    // the foreign-pin message
    val dup = conf.map(_._1).groupBy(identity)
      .collect { case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty,
      s"routing pin $pinPath lists table(s) more than once: " +
        s"${dup.mkString(", ")} — a fact+dim double listing " +
        "double-processes; delete the pin only if the batch's outputs " +
        "are known-absent, else re-pin by hand")
    val facts = conf.collect { case (n, "fact") => n }
    val dims = conf.collect { case (n, "dim") => n }
    // parse ONCE: persist the shared parsed prefix, not the two routed
    // branches — the branch-persist form still re-parsed every envelope
    // once per branch
    val parsed = graft.sources.Envelopes.parseCdc(batch).persist()
    // P4 for the CDC path: the route table's error route catches every
    // row the fact/dim filters drop — after the batch commits, dropped
    // rows are unrecoverable
    try graft.operators.CdcRouter.routeParsed(parsed, facts, dims).foreach {
      case (name, out) => publishBatch(out, s"$outDir/$name", batchId)
    } finally { parsed.unpersist(); () }
    // pin retention: replay can only ever target batches the checkpoint
    // has not committed — pins far older than the current batch are
    // dead weight accreting one tiny file per batch forever (the
    // small-files problem the segment lifecycles bound, here at the
    // config layer). Prune on a cadence so the listing itself stays
    // cheap; 64 batches of slack is far beyond any replay horizon.
    if (batchId % 64L == 0L && batchId > 0L)
      graft.sinks.Hfs.childFiles(spark, s"$outDir/__config")
        .flatMap { f =>
          val core = f.stripSuffix(".__tmp")
          if (core.startsWith("batch=")) core.stripPrefix("batch=").toLongOption
            .filter(_ <= batchId - 64L).map(_ => f)
          else None
        }
        .foreach(f =>
          graft.sinks.Hfs.deleteRecursive(spark, s"$outDir/__config/$f"))
  }

  /** P6/S3: the 5-way fan-out as a single foreachBatch — one parse, one
    * persist, five filtered sinks; per-sink parquet dirs play the five
    * Kafka topics. Exactly-once per (sink, batch) via the
    * marker-committed `batch=<id>` segments of [[publishBatch]] — the
    * bare-append form double-published partially-written batches on
    * replay. */
  def fanoutBatchWriter(outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val parsed = graft.sources.Envelopes.parseLog(batch).persist()
    try LogFanout.fanoutParsed(parsed).foreach {
      case (name, out) => publishBatch(out, s"$outDir/$name", batchId)
    } finally parsed.unpersist()
  }
}
