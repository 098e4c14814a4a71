package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state for SURVEY.md §2.1.H `stream_stateful_custom`:
  * per-user running "events since last signup" counter, emitted per
  * event. The batch-declared equivalent (window formulation) is in
  * `operators.Streaming`; StreamingSpec asserts this streaming
  * implementation produces the identical rows run-to-completion.
  *
  * Scale notes: state is one Long per user, partitioned by user_id
  * across executors — O(distinct users) total, independent of event
  * volume. EventTimeTimeout + watermark would evict idle users in a
  * production deployment.
  */
object StatefulOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  case class SinceSignup(event_id: Long, user_id: Long, events_since_signup: Long)

  /** Events within a micro-batch arrive as an Iterator in no guaranteed
    * order — sort by (ts, event_id) before folding, exactly the order the
    * batch window formulation uses.
    */
  def flatMapFn(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[Long]): Iterator[SinceSignup] = {
    var counter: Long = state.getOption.getOrElse(0L)
    val out = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
      if (e.event_type == "signup") counter = 0L
      else counter += 1L
      val emitted = SinceSignup(e.event_id, userId, counter)
      emitted
    }
    state.update(counter)
    out.iterator
  }

  /** Apply the stateful transform to a (possibly streaming) typed event
    * dataset.
    */
  def eventsSinceSignup(events: Dataset[Event]): Dataset[SinceSignup] = {
    implicit val outEnc = Encoders.product[SinceSignup]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(flatMapFn)
  }

  /** The same counter on Spark 4's transformWithState API (arbitrary
    * stateful processing v2): explicit named ValueState, TTL-capable,
    * RocksDB-backed. StreamingRobustnessSpec proves it emits the same
    * rows as the flatMapGroupsWithState implementation.
    */
  class SinceSignupProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SinceSignup] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}

    def this() = this(org.apache.spark.sql.streaming.TTLConfig.NONE)

    @transient private var counter: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      counter = getHandle.getValueState[Long](
        "since_signup", Encoders.scalaLong, ttl)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SinceSignup] = {
      var c: Long = if (counter.exists()) counter.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        if (e.event_type == "signup") c = 0L else c += 1L
        SinceSignup(e.event_id, userId, c)
      }
      counter.update(c)
      out.iterator
    }
  }

  /** transformWithState variant (requires the RocksDB state store
    * provider on streaming input).
    */
  def eventsSinceSignupTws(events: Dataset[Event]): Dataset[SinceSignup] = {
    import org.apache.spark.sql.streaming.TimeMode
    implicit val outEnc = Encoders.product[SinceSignup]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new SinceSignupProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** TTL variant — the state-hygiene configuration a production deployment
    * runs with (unbounded keyspaces: every user ever seen would otherwise
    * live in the store forever; TTL evicts keys quiet longer than the
    * retention window, bounding the store to ACTIVE users). TTL is
    * processing-time-based in Spark, so this variant runs in
    * `TimeMode.ProcessingTime`; semantics on expiry are "state absent" —
    * the counter restarts, exactly as if the user were new.
    * StreamingRobustnessSpec proves both directions deterministically
    * (expired ⇒ restart; long TTL ⇒ identical to TTL-less run).
    */
  def eventsSinceSignupTwsTtl(events: Dataset[Event],
      ttlMs: Long): Dataset[SinceSignup] = {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    implicit val outEnc = Encoders.product[SinceSignup]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new SinceSignupProcessor(TTLConfig(java.time.Duration.ofMillis(ttlMs))),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Per-user session summary row (the `stream_session_timer` output):
    * ordinal, bounds, counts, and floor-second duration.
    */
  case class SessionSum(user_id: Long, session_seq: Long,
      s_start: java.sql.Timestamp, last_ts: java.sql.Timestamp,
      n_events: Long, n_purchases: Long, duration_s: Long)

  /** Open-session state: ordinal + µs bounds + counters. Microseconds,
    * not Timestamp.getTime's milliseconds — the fixtures carry µs
    * precision and the 30-minute gap rule must bit-match the batch
    * formulation's INTERVAL arithmetic at the boundary.
    */
  case class SessState(seq: Long, startUs: Long, lastUs: Long,
      nEvents: Long, nPurchases: Long)

  private val GapUs = 30L * 60 * 1000000
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Event-time-timer sessionization on Spark 4's transformWithState —
    * the `stream_session_timer` streaming half. A session CLOSED by a
    * later event (gap ≥ 30 min) emits from `handleInputRows`; a session
    * closed by INACTIVITY emits from `handleExpiredTimer` when the
    * watermark passes last-event + 30 min — the event-time-timer pattern
    * a production sessionizer needs (nothing else ever "ends" the last
    * session of a quiet user). State per user: one open-session record
    * plus the session ordinal (survives session closes so ordinals keep
    * counting); each update re-registers the user's single timer.
    */
  class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionSum] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var sess: ValueState[SessState] = _
    @transient private var lastSeq: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessState](
        "open_session", Encoders.product[SessState], TTLConfig.NONE)
      lastSeq = getHandle.getValueState[Long](
        "session_ordinal", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def summary(uid: Long, s: SessState): SessionSum =
      SessionSum(uid, s.seq, tsOf(s.startUs), tsOf(s.lastUs), s.nEvents, s.nPurchases,
        Math.floorDiv(s.lastUs, 1000000L) - Math.floorDiv(s.startUs, 1000000L))

    override def handleInputRows(
        uid: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionSum] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionSum]
      var cur: Option[SessState] = if (sess.exists()) Some(sess.get()) else None
      def nextSeq(): Long = {
        val s = (if (lastSeq.exists()) lastSeq.get() else 0L) + 1L
        lastSeq.update(s)
        s
      }
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        val p = if (e.event_type == "purchase") 1L else 0L
        cur match {
          case Some(s) if t >= s.lastUs + GapUs =>
            out += summary(uid, s)
            cur = Some(SessState(nextSeq(), t, t, 1L, p))
          case Some(s) =>
            cur = Some(s.copy(lastUs = t, nEvents = s.nEvents + 1, nPurchases = s.nPurchases + p))
          case None =>
            cur = Some(SessState(nextSeq(), t, t, 1L, p))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        // one live timer per user: drop the stale expiry, arm at the new
        // inactivity deadline (+1 ms so a µs-truncated watermark is
        // strictly past the boundary when it fires)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(Math.floorDiv(s.lastUs + GapUs, 1000L) + 1L)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        uid: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionSum] =
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(summary(uid, s))
      } else Iterator.empty
  }

  /** Per-event trailing-3 behavior trail (the `stream_tws_last3_trail`
    * output): the user's last ≤3 event types joined with '>'. */
  case class Trail(event_id: Long, user_id: Long, trail: String)

  /** LIST-state processor — the third Spark-4 arbitrary-state shape the
    * engine exercises (ValueState: counters/sessions; timers:
    * inactivity; ListState here: a bounded trailing buffer — the
    * feature-engineering primitive behind "last N actions" model
    * inputs). Keeps at most the last 2 types per user; each event emits
    * the 3-window trail ending at itself. Run-to-completion this equals
    * the batch 3-row frame window, which is the declared oracle.
    */
  class Last3TrailProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Trail] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode => OM, TimeMode, TimerValues, TTLConfig}

    @transient private var recent: ListState[String] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[String](
        "recent_types", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Trail] = {
      var buf: List[String] = if (recent.exists()) recent.get().toList else Nil
      val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
        buf = (buf :+ e.event_type).takeRight(3)
        Trail(e.event_id, uid, buf.mkString(">"))
      }
      // persist only the last 2 — the next event completes its own window
      recent.put(buf.takeRight(2).toArray)
      out.iterator
    }
  }

  /** Apply the trailing-3 processor to a (streaming) typed event dataset. */
  def last3TrailTws(events: Dataset[Event]): Dataset[Trail] = {
    import org.apache.spark.sql.streaming.TimeMode
    implicit val outEnc = Encoders.product[Trail]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new Last3TrailProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Apply the event-time-timer sessionizer to a (streaming) typed event
    * dataset. The 10-minute watermark bounds both late data and timer
    * latency; state is (one open session + one ordinal) per user,
    * partitioned by user_id across executors.
    */
  def sessionSummariesTws(events: Dataset[Event]): Dataset[SessionSum] = {
    import org.apache.spark.sql.streaming.TimeMode
    implicit val outEnc = Encoders.product[SessionSum]
    implicit val longEnc = Encoders.scalaLong
    val src = if (events.isStreaming) events.withWatermark("ts", "10 minutes") else events
    src
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
