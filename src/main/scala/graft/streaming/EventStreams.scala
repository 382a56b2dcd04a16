package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-stream operators — the Structured Streaming face of the engine
  * (`readStream → transform → writeStream`). Batch twins of both
  * transforms live in the query inventory (`events_windowed_agg`,
  * `events_sessionize`), so the same semantics are oracle-checked in
  * batch and exercised as true streams in `EventStreamsSpec`.
  */
/** One event (matches the `events` testdata schema minus `props`).
  * Top-level: codegen'd encoders resolve object-nested classes badly. */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One CLOSED session per user span: Append-mode emission happens
  * only at watermark-proven finality, so an in-flight variant cannot
  * be emitted (`closed` is always true; kept for schema stability
  * with sinks that model both). */
case class Session(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, value_sum: Double,
    closed: Boolean)

/** Keyed sessionization state: the OPEN session plus gap-split older
  * sessions that are NOT yet final — an event is still legal (above
  * watermark) that could merge or bridge them, so emitting at split
  * time would append a session the event-time truth later contradicts
  * (Append mode cannot retract). A pending session becomes final — and
  * only then emits — once the watermark passes its end + gap. */
private[streaming] case class SessionAcc(
    open: Option[SessionState], pending: List[SessionState])

/** Session span in epoch MICROS (r19 — `startUs`/`endUs` renamed with
  * the precision change so pre-r19 millisecond checkpoints break
  * LOUDLY on the state-schema check instead of re-reading ms as µs). */
private[streaming] case class SessionState(
    startUs: Long, endUs: Long, n: Long, total: Double)

/** Per-user funnel progress carried between micro-batches.
  *
  * '''CHECKPOINT-BREAKING in r18 and r19''': r18 added the monotone
  * max-seen stamp the idle-timeout deadline derives from; r19 renamed
  * both stamps to `lastUs`/`seenUs` when funnel chaining moved from
  * millisecond to MICROSECOND precision (the rename is deliberate:
  * same-named fields would have silently re-read old millisecond
  * state as microseconds). Each changes the keyed-state encoder
  * schema of every funnel stream.
  * Structured Streaming's state-schema compatibility check REFUSES to
  * restart a pre-r18/r19 funnel checkpoint against this class (and
  * with the check disabled the old rows would mis-decode). Recovery is
  * a NEW checkpoint directory plus re-reading the source from an
  * earlier offset: the fold is deterministic, so the replay rebuilds
  * equivalent state, minus any source retention that already aged out.
  * The default value here only covers fresh Scala construction, not
  * checkpoint decode. */
private[streaming] case class FunnelState(stage: Int, lastUs: Long,
    seenUs: Long = Long.MinValue)

/** One funnel-progress update (emitted whenever a user's batch could
  * change their stage). */
case class FunnelProgress(user_id: Long, reached_stage: Int, completed: Boolean)

/** One stage-crossing: `user_id` newly reached (at least) `stage`.
  * Emitted EXACTLY ONCE per (user, stage) by [[EventStreams.funnelCountsStream]]
  * — advance-only state makes each crossing a one-time event. */
case class StageTransition(user_id: Long, stage: Int)

object EventStreams {

  /** Tumbling-window aggregation with a watermark: counts + value sums
    * per (window, event_type). Late events beyond `watermark` are
    * dropped; state for closed windows is evicted — the property that
    * keeps an unbounded 100 TB/day stream's state bounded. */
  def windowedAgg(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      // a null-ts event has no window; window(NULL) would otherwise
      // pin a NULL window group whose eviction predicate never fires —
      // state held forever, rows never emitted in Append mode
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Streaming exact dedup — the at-least-once-ingestion twin of
    * `Dedup.exact`: duplicate keys arriving within the watermark window
    * are dropped and per-key state is EVICTED once the watermark passes
    * (`dropDuplicatesWithinWatermark`), so state stays bounded by the
    * window's key cardinality instead of growing with the whole
    * stream's history — the property that makes streaming dedup viable
    * on an unbounded 100 TB/day feed (a replayed source batch or a
    * twice-delivered event lands inside the window by construction). */
  def dedupWithinWatermark(
      events: DataFrame,
      watermark: String = "30 minutes",
      keys: Seq[String] = Seq("event_id")): DataFrame = {
    require(keys.nonEmpty,
      "dedupWithinWatermark needs at least one key column")
    events
      // null-ts rows would each add a never-evicted state entry (the
      // eviction predicate is NULL → false) — an unbounded leak on a
      // feed with a fraction of null stamps
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Stream-stream interval join: each left event pairs with right
    * events of the same user within `[left.ts, left.ts + interval]`.
    * Both sides carry watermarks and the join condition bounds event
    * time on both, so the engine can evict buffered state once the
    * watermark passes the interval — the third bounded-state streaming
    * primitive next to windowed aggregation and keyed session state
    * (attribution joins: click→conversion within N minutes).
    *
    * `joinType = "left_outer"` additionally emits every unmatched left
    * event null-padded ONCE the watermark passes its interval — the
    * attribution "click that never converted" row, which only becomes
    * knowable when no matching right event can still arrive. Bounded
    * state either way. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      intervalSeconds: Long = 600L,
      watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    // a negative interval builds an always-false predicate — silently
    // empty (inner) or all-null (left_outer) output
    require(intervalSeconds >= 0,
      s"intervalSeconds must be non-negative, got $intervalSeconds")
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_event_id"),
        col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("event_id").as("r_event_id"),
        col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $intervalSeconds SECONDS"),
      joinType)
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_ts"), col("r_ts"), col("l_type"), col("r_type"))
  }

  /** Windowed value histogram — the streaming face of
    * [[graft.ops.Profile.driftBins]]: per (event-time window, bin)
    * counts with the same data-independent `floor(value / binWidth)`
    * binning, so a monitor can compare a live window's histogram
    * against a reference distribution (KS/PSI on the driver — the bin
    * frame is tiny) while watermarks bound the state exactly as in
    * [[windowedAgg]]. */
  def binnedHistogram(
      events: DataFrame,
      binWidth: Double,
      window: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame = {
    // same contract as the batch twin — a zero width would silently
    // put every event in one NULL bin
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    events
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        floor(col("value") / binWidth).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("bin"), col("n"))
  }

  /** Gap-based sessionization via the NATIVE `session_window` function —
    * the built-in path Spark provides for exactly this shape (prefer it
    * over custom state when the aggregate is expressible): sessions
    * merge while events land within `gap`, state is evicted once the
    * watermark passes a session's end. Batch twin with a DuckDB oracle:
    * `events_session_window` in the query inventory; the custom-state
    * variant below ([[sessionize]]) exists for aggregates session_window
    * can't express (e.g. emitting mid-session or non-algebraic state). */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .filter(col("ts").isNotNull) // same stance as the custom-state twin
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("value_sum"))

  /** Streaming funnel progression — the real-time face of
    * [[graft.ops.Events.funnel]]: per-user keyed state
    * `(stage, last ts)` advanced by each micro-batch's events (sorted
    * by event time within the batch, strict `ts > last` between
    * stages). Emits the user's current `reached_stage` after any batch
    * containing their events.
    *
    * Semantics are ADVANCE-ONLY: when batches arrive in event-time
    * order the result equals the batch min-chain exactly (the
    * per-batch sort makes the fold identical); an event arriving LATE —
    * behind a stage the user already passed — cannot retroactively
    * lower or re-derive progress, it can only advance the funnel if it
    * still qualifies against the recorded `last`. Exact event-time
    * funnels over arbitrarily late data belong to the batch operator
    * over the closed corpus; per-user state here is two fields, bounded
    * regardless of stream length. */
  /** Epoch MICROS of a Timestamp — the precision of the parquet
    * source and the batch twins (`GraftFunctions.tsEpochMicros`).
    * `getTime` alone truncates to milliseconds: two stage events less
    * than 1 ms apart could never chain (`ts > last` strict), and a
    * sub-millisecond session-gap overshoot merged what the batch
    * oracle splits. */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The shared per-batch fold: advance `st` through this batch's
    * events (event-time sorted, strict `ts > last` between stages,
    * all in epoch micros — the batch min-chain's precision). */
  private def advanceFunnel(
      st: FunnelState, evs: Seq[Event], stages: Seq[String]): FunnelState = {
    val n = stages.size
    var stage = st.stage
    var last = st.lastUs
    // null event types sort via the empty string — they can never match
    // a stage, but a null must not NPE the tuple ordering's compareTo
    // when it ties on ts with a real event
    var seen = st.seenUs
    evs.sortBy(e => (micros(e.ts), Option(e.event_type).getOrElse("")))
      .foreach { e =>
      val t = micros(e.ts)
      if (t > seen) seen = t
      if (stage < n && e.event_type == stages(stage) && t > last) {
        stage += 1
        last = t
      }
    }
    FunnelState(stage, last, seen)
  }

  /** Arm an event-time idle timeout: the user's state is dropped once
    * the watermark passes their last SEEN event (any event, advancing
    * or not) plus the TTL. The timestamp must stay ahead of the
    * current watermark or the engine rejects it — a user whose events
    * are all older than (watermark − ttl) gets the earliest legal
    * deadline instead, i.e. eviction at the next watermark advance. */
  private def armIdleTimeout(
      state: GroupState[FunnelState], ttlMs: Long): Unit = {
    // deadline from the MONOTONE max-seen stamp carried in state, not
    // this batch's events: a late straggler (older than the recorded
    // newest event, but above the lagging watermark) must never move
    // the eviction deadline BACKWARDS — that would evict a user up to
    // a full TTL early and regress their funnel on return
    // seenUs is MICROS; the engine deadline is millis — ceil so the
    // timeout can never fire a sub-millisecond early
    val lastSeenMs = Math.floorDiv(state.get.seenUs + 999L, 1000L)
    state.setTimeoutTimestamp(
      math.max(lastSeenMs + ttlMs, state.getCurrentWatermarkMs() + 1))
  }

  /** Streaming funnel progression; see the semantics note above.
    *
    * STATE BOUND: per-user state is two fields, but the NUMBER of users
    * grows with the stream's lifetime key cardinality — exact
    * exactly-once crossing emission requires remembering every user
    * ever seen. `idleTtlSeconds` bounds it instead: state for a user
    * idle (no events at all) longer than the TTL in EVENT time is
    * evicted once the watermark passes, at the cost of exactness for
    * returning users — an evicted user who comes back restarts at
    * stage 0, so their emitted `reached_stage` can REGRESS and a
    * re-walked funnel re-emits. Pick the TTL ≥ the longest
    * funnel-completion horizon the report cares about (e.g. 30 days)
    * and the loss is exactly the users the report would have expired
    * anyway. Requires event-time watermarking on `events`
    * (`withWatermark` upstream — timeouts fire as the watermark
    * advances); with `None` (the default) state is exact and unbounded,
    * the original contract.
    *
    * One further divergence the TTL buys: with an event-time timeout
    * armed, the ENGINE drops below-watermark events before this
    * function ever sees them, so a late event inside the watermark
    * lag can still advance the funnel but one behind the watermark
    * cannot — where the `None` configuration would still have
    * advanced on it. Size the watermark lag, not just the TTL, to
    * the lateness the report must absorb.
    *
    * UPGRADE NOTE: restarting from a checkpoint written before r18/r19
    * fails Spark's state-schema check; recover with a new checkpoint
    * directory and a replay from the source (see [[FunnelState]]; the
    * same applies to [[funnelCountsStream]]). */
  def funnelStream(
      spark: SparkSession,
      events: Dataset[Event],
      stages: Seq[String],
      idleTtlSeconds: Option[Long] = None): Dataset[FunnelProgress] = {
    import spark.implicits._
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "funnel stages must be non-empty and distinct")
    require(idleTtlSeconds.forall(_ > 0), "idleTtlSeconds must be positive")
    val n = stages.size
    val timeoutConf = idleTtlSeconds.fold(GroupStateTimeout.NoTimeout()) { _ =>
      GroupStateTimeout.EventTimeTimeout()
    }
    events
      .filter(_.ts != null) // a poisoned null-ts record must not kill the query
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelProgress](timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // Idle past the TTL: emit a final snapshot and evict. The
            // snapshot repeats the user's last progress row, so a sink
            // keyed on user_id sees no change — only the state goes.
            val st = state.get
            state.remove()
            FunnelProgress(userId, st.stage, st.stage == n)
          } else {
            val evs = it.toSeq
            val st = advanceFunnel(
              state.getOption.getOrElse(FunnelState(0, Long.MinValue)),
              evs, stages)
            // shed stage-0 state: for an advance-only fold, ABSENT is
            // semantically FunnelState(0, MinValue) — storing it would
            // grow one keyed entry per never-entered user (typically
            // the dominant population) for no output difference
            if (st.stage > 0 || state.exists) {
              state.update(st)
              idleTtlSeconds.foreach(t => armIdleTimeout(state, t * 1000L))
            }
            FunnelProgress(userId, st.stage, st.stage == n)
          }
      }
  }

  /** Aggregated funnel counts — the report a live funnel dashboard
    * reads: one row per stage, `n_users` = how many users have reached
    * AT LEAST that stage so far (the streaming face of
    * [[graft.ops.Events.funnelCounts]]).
    *
    * Built as keyed-state transitions → tiny aggregate: the same
    * advance-only per-user state as [[funnelStream]] emits each
    * (user, stage) crossing EXACTLY ONCE (a user advancing 1→3 emits
    * crossings 2 and 3; a replayed or late event behind the recorded
    * stage emits nothing), so `count` per stage IS the at-least-stage
    * user count — no distinct needed, and counts can never regress.
    * `flatMapGroupsWithState` in Append mode composes with the
    * downstream aggregation; run the query in Update (or Complete)
    * output mode.
    *
    * STATE BOUND: the aggregate's own state is `stages.size` counter
    * rows regardless of stream length, and per-user state is two
    * fields — but the NUMBER of per-user entries grows with the
    * stream's lifetime key cardinality, exactly as in [[funnelStream]]
    * (exact exactly-once crossing emission must remember every user
    * ever seen). `idleTtlSeconds` bounds it the same way, at the same
    * documented cost made WORSE by counting: an evicted user who
    * returns restarts at stage 0 and RE-EMITS crossings they already
    * contributed, so with a TTL the per-stage counts are UPPER BOUNDS
    * (exact whenever no evicted user returns). Late events are still
    * absorbed by the advance-only guard, so counts never regress
    * either way. A TTL requires event-time watermarking on `events`
    * (`withWatermark` upstream — timeouts fire as the watermark
    * advances); without one the query fails at analysis time. With a
    * TTL the caller must ALSO set
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * before starting the query: Spark's global-watermark check rejects
    * any stateful operator downstream of another in Update mode, but
    * the concern it guards — a watermark-driven operator finalizing
    * results that the upstream state op can still emit behind — cannot
    * arise here, because the transition rows carry NO event-time
    * column: the downstream aggregation never drops late rows nor
    * finalizes on the watermark, it is a pure running count.
    *
    * BLAST RADIUS of that conf: it is SESSION-WIDE, not per-query — it
    * disables the multi-stateful-operator correctness guard for EVERY
    * streaming query subsequently started on the same SparkSession, so
    * a genuinely unsafe chained-stateful query elsewhere would then
    * start without its analysis error. Start this query from a
    * dedicated session (`spark.newSession()` shares state stores but
    * isolates confs), or restore the conf immediately after `.start()`
    * returns — as `EventStreamsSpec` does in its `finally` block. */
  def funnelCountsStream(
      spark: SparkSession,
      events: Dataset[Event],
      stages: Seq[String],
      idleTtlSeconds: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "funnel stages must be non-empty and distinct")
    require(idleTtlSeconds.forall(_ > 0), "idleTtlSeconds must be positive")
    val timeoutConf = idleTtlSeconds.fold(GroupStateTimeout.NoTimeout()) { _ =>
      GroupStateTimeout.EventTimeTimeout()
    }
    events
      .filter(_.ts != null) // a poisoned null-ts record must not kill the query
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageTransition](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // Idle past the TTL: drop the state, emit nothing — counts
            // hold; only the memory of this user's progress goes.
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq
            val before = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val after = advanceFunnel(before, evs, stages)
            // same stage-0 shedding as funnelStream: crossings only
            // emit on advance, so absent state loses nothing
            if (after.stage > 0 || state.exists) {
              state.update(after)
              idleTtlSeconds.foreach(t => armIdleTimeout(state, t * 1000L))
            }
            ((before.stage + 1) to after.stage).iterator
              .map(i => StageTransition(userId, i))
          }
      }
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Gap-based sessionization as custom keyed state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes
    * when no event arrives within `gap` of its last event (watermark
    * advancing past end+gap fires the timeout). Emits closed sessions —
    * the streaming twin of the batch `events_sessionize` window query. */
  def sessionize(
      spark: SparkSession,
      events: Dataset[Event],
      gapSeconds: Long = 1800L,
      watermark: String = "30 minutes"): Dataset[Session] = {
    import spark.implicits._
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    // gap arithmetic in MICROS — the batch oracle splits on strict
    // microsecond gaps, and millisecond truncation merged sessions a
    // sub-millisecond gap overshoot should split
    val gapUs = gapSeconds * 1000000L

    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def toSession(userId: Long, s: SessionState): Session =
      Session(userId, tsOf(s.startUs), tsOf(s.endUs),
        s.n, s.total, closed = true)

    // merge a start-sorted session list: adjacent sessions chain when
    // the gap between them closed (an out-of-order event bridged them)
    def mergeChain(all: List[SessionState]): List[SessionState] =
      all.sortBy(_.startUs).foldLeft(List.empty[SessionState]) { (acc, x) =>
        acc match {
          case h :: t if x.startUs - h.endUs <= gapUs =>
            h.copy(startUs = math.min(h.startUs, x.startUs),
              endUs = math.max(h.endUs, x.endUs),
              n = h.n + x.n, total = h.total + x.total) :: t
          case _ => x :: acc
        }
      }.reverse

    events
      .filter(_.ts != null) // a null event time has no session position
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // Watermark passed the open session's end+gap — and pending
            // sessions end earlier still, so everything is final.
            val acc = state.get
            state.remove()
            (acc.pending ++ acc.open.toList).sortBy(_.startUs)
              .iterator.map(toSession(userId, _))
          } else {
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val acc = state.getOption.getOrElse(SessionAcc(None, Nil))
            var open = acc.open
            var pending = acc.pending
            sorted.foreach { e =>
              val t = micros(e.ts)
              open match {
                // membership is within gap of the session SPAN on both
                // sides: an out-of-order event EARLIER than the start
                // belongs only when start - t <= gap — without the
                // lower bound, any late event at all would be absorbed
                // and stretch the session over a gap the batch oracle
                // splits (a far-earlier event takes the split branch
                // below and mergeChain re-fuses iff the gap truly
                // closed)
                case Some(s) if t - s.endUs <= gapUs && s.startUs - t <= gapUs =>
                  open = Some(s.copy(startUs = math.min(s.startUs, t),
                    endUs = math.max(s.endUs, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  // gap split: the older session is a CANDIDATE close
                  // only — defer emission until the watermark proves no
                  // legal event can still merge or bridge it
                  pending ::= s
                  open = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  open = Some(SessionState(t, t, 1L, e.value))
              }
            }
            // out-of-order events may have closed gaps between sessions
            val merged = mergeChain(pending ++ open.toList)
            // the engine watermark is MILLIS; finality compares in
            // micros (wm ms = wm*1000 us is exact)
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (fin, live) = merged.partition(_.endUs + gapUs <= wmUs)
            live match {
              case Nil => state.remove()
              case ls =>
                state.update(SessionAcc(Some(ls.last), ls.dropRight(1)))
                // CEIL to millis: an early-firing timeout could emit a
                // session an in-window event may still extend
                state.setTimeoutTimestamp(
                  Math.floorDiv(ls.last.endUs + gapUs + 999L, 1000L))
            }
            fin.iterator.map(toSession(userId, _))
          }
      }
  }
}
