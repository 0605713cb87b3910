package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface over the `events` schema — the streaming
  * analog of graft.queries.EventOps (SURVEY.md §7.5, an extension beyond
  * the batch-only reference, `/root/reference/src/tmapreduce/job.h:26-39`).
  *
  * All transforms take a streaming DataFrame (`readStream` file source or
  * `MemoryStream` in tests) and return the transformed streaming frame;
  * callers pick the sink. Watermarks bound state so the plans run
  * indefinitely at scale: state size is O(open windows · distinct keys),
  * never O(stream length).
  */
object EventStream {

  /** File-source reader over a directory of event parquet (schema must be
    * supplied for streaming reads; reuse the batch schema).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.load(spark, dir, "events").schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming twin of EventOps.c5Tumbling. Late events beyond the
    * watermark are dropped; state for closed windows is evicted. The
    * value sum goes through an exact decimal (like the batch twin) so the
    * result is independent of partial-aggregation order — which is what
    * lets the driver hash-check the streaming path against DuckDB.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding windows (1 hour, every 30 minutes) — the streaming twin of
    * EventOps.c5Sliding: each event lands in 2 open windows; the
    * watermark closes and evicts them 2 hours after their end.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Session windows (30-minute gap) per user — the streaming twin of
    * EventOps.c5Sessionize, via the native session_window operator.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Custom keyed state: running per-user event counter + last-seen ts via
    * mapGroupsWithState — the arbitrary-stateful-op surface
    * (KeyValueGroupedDataset) for logic windows can't express.
    */
  final case class UserStat(user_id: Long, n_events: Long, last_ts: java.sql.Timestamp)

  def userRunningStats(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, null))
          var n = prev.n_events
          var last = prev.last_ts
          rows.foreach { case (_, ts) =>
            n += 1
            if (last == null || ts.after(last)) last = ts
          }
          val next = UserStat(uid, n, last)
          state.update(next)
          next
      }
      .toDF()
  }

  /** Epoch MICROseconds of a Timestamp — `getTime` alone is millisecond-
    * grained and would silently truncate the corpus's microsecond event
    * times (the state ops must match the batch oracles bit-for-bit).
    */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** transformWithState — Spark 4's successor to the
    * mapGroupsWithState/flatMapGroupsWithState pair: typed composable
    * state primitives (ValueState / ListState / MapState, optional TTL,
    * timers) on one keyed processor, instead of a single opaque state
    * case class. This processor keeps, per user, a MapState of
    * per-event-type counts and a ValueState of the latest event time —
    * TWO independent state variables under one key, the shape the old
    * API forces into a monolithic struct rewritten wholesale on every
    * update. With MapState only the touched (type → count) entries are
    * written per micro-batch; at 100 TB keyed state that is the
    * difference between rewriting a user's whole profile per event and
    * point-updating one counter (the reason the new API exists).
    * State stays O(users · types), watermark-independent (running
    * totals, like [[userRunningStats]]).
    *
    * Emission: one row per (user, touched-or-stored type) per
    * micro-batch with the RUNNING count — Update-mode semantics; the
    * single-batch surface reads the sink directly and the incremental
    * twin max-folds per key, exactly like the mapGroupsWithState pair.
    */
  final case class UserTypeStat(user_id: Long, event_type: String,
      n_events: Long, last_us: Long)

  final class UserTypeStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), UserTypeStat] {
    import org.apache.spark.sql.streaming.TTLConfig
    import org.apache.spark.sql.{Encoders => E}
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var lastUs:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "counts", E.STRING, E.scalaLong, TTLConfig.NONE)
      lastUs = getHandle.getValueState[Long](
        "lastUs", E.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTypeStat] = {
      var last = if (lastUs.exists()) lastUs.get() else Long.MinValue
      rows.foreach { case (_, t, us) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1L)
        if (us > last) last = us
      }
      lastUs.update(last)
      // materialized BEFORE returning: the runtime may close the state
      // interaction once handleInputRows returns, so a lazy iterator
      // over MapState would read after close
      counts.iterator()
        .map { case (t, n) => UserTypeStat(key, t, n, last) }
        .toList.iterator
    }
  }

  /** Streaming event-type transitions — the sequence analytic NO native
    * streaming operator can express (a windowed aggregate sees rows, not
    * row ADJACENCY; the batch form needs a lag window, which streaming
    * correctly rejects because a later batch could insert between two
    * already-seen rows). transformWithState makes it incremental: a
    * per-user ValueState carries the last-seen (time, type) across
    * micro-batches, each batch's rows are sorted locally per user and
    * folded into (prev → next) transition emissions, and the global
    * matrix is a read-side fold over the Append sink (the lambda
    * read-path pattern, like c5_stream_topk). Exact under in-order
    * batch arrival (the chronological file split); an out-of-order
    * producer would buffer into a ListState until the watermark — the
    * same trade the batch oracle equivalence documents for every
    * incremental twin here.
    */
  final case class Transition(user_id: Long, prev_type: String,
      event_type: String)

  final class TransitionsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long, Long), Transition] {
    import org.apache.spark.sql.streaming.TTLConfig
    import org.apache.spark.sql.{Encoders => E}
    @transient private var lastEvent:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, String)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastEvent = getHandle.getValueState[(Long, Long, String)](
        "lastEvent", E.tuple(E.scalaLong, E.scalaLong, E.STRING), TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Transition] = {
      // batch-local sort by (ts, event_id) — the batch lag window's
      // exact order key, so the two forms can never disagree on ties
      val sorted = rows.map { case (_, t, us, id) => (us, id, t) }
        .toIndexedSeq.sortBy { case (us, id, _) => (us, id) }
      var prev = if (lastEvent.exists()) Option(lastEvent.get()) else None
      val out = List.newBuilder[Transition]
      sorted.foreach { case (us, id, t) =>
        prev.foreach { case (_, _, pt) => out += Transition(key, pt, t) }
        prev = Some((us, id, t))
      }
      prev.foreach(lastEvent.update)
      out.result().iterator
    }
  }

  def userTransitions(spark: SparkSession, events: DataFrame)
      : org.apache.spark.sql.Dataset[Transition] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TransitionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Streaming CONSECUTIVE-pattern detection (CEP-lite, the
    * MATCH_RECOGNIZE shape): emit a hit whenever a user's last k events
    * are exactly `pattern` (default view → click → purchase, the
    * attribution sequence). Adjacency across micro-batches needs a
    * buffer of the last k−1 events — transformWithState's ListState,
    * the typed primitive built for bounded per-key buffers (the old
    * APIs would re-serialize a monolithic struct; ListState appends and
    * rewrites only the buffer entries). Batch-local rows fold in the
    * lag window's (ts, event_id) order, so hits are deterministic and
    * the batch double-lag oracle replays them exactly.
    */
  final case class PatternHit(user_id: Long, us: Long)

  final class PatternProcessor(pattern: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long, Long), PatternHit] {
    import org.apache.spark.sql.streaming.TTLConfig
    import org.apache.spark.sql.{Encoders => E}
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[(Long, Long, String)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long, String)](
        "recent", E.tuple(E.scalaLong, E.scalaLong, E.STRING), TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[PatternHit] = {
      val sorted = rows.map { case (_, t, us, id) => (us, id, t) }
        .toIndexedSeq.sortBy { case (us, id, _) => (us, id) }
      var buf: Vector[(Long, Long, String)] =
        if (recent.exists()) recent.get().toVector else Vector.empty
      val out = List.newBuilder[PatternHit]
      sorted.foreach { ev =>
        if (buf.length == pattern.length - 1 &&
            (buf.map(_._3) :+ ev._3) == pattern)
          out += PatternHit(key, ev._1)
        buf = (buf :+ ev).takeRight(pattern.length - 1)
      }
      recent.put(buf.toArray)
      out.result().iterator
    }
  }

  def userPatternHits(spark: SparkSession, events: DataFrame,
      pattern: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[PatternHit] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new PatternProcessor(pattern),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Streaming INACTIVITY detection via transformWithState EVENT-TIME
    * TIMERS — the push-based absence alert (dormancy/churn detection):
    * a user is reported when the watermark passes their last event by
    * `gapMs`, i.e. the stream itself notices nothing arrived. Absence
    * is the one thing data-driven operators cannot see (every other
    * emission here is triggered by a row; this one is triggered by a
    * TIMER the row armed). One armed timer per user, re-armed on every
    * new event (the old deadline is deleted first); state is O(users).
    */
  final case class InactiveUser(user_id: Long, last_us: Long)

  final class InactivityProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), InactiveUser] {
    import org.apache.spark.sql.streaming.TTLConfig
    import org.apache.spark.sql.{Encoders => E}
    @transient private var lastUs:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastUs = getHandle.getValueState[Long](
        "lastUs", E.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[InactiveUser] = {
      var last = if (lastUs.exists()) lastUs.get() else Long.MinValue
      rows.foreach { case (_, us) => if (us > last) last = us }
      lastUs.update(last)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(Math.floorDiv(last, 1000L) + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[InactiveUser] =
      Iterator.single(InactiveUser(key, lastUs.get()))
  }

  def userInactivity(spark: SparkSession, events: DataFrame,
      gapMs: Long = 21600000L)
      : org.apache.spark.sql.Dataset[InactiveUser] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("user_id", "unix_micros(ts) AS us")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  def userTypeStats(spark: SparkSession, events: DataFrame,
      mode: OutputMode = OutputMode.Update())
      : org.apache.spark.sql.Dataset[UserTypeStat] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserTypeStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), mode)
  }

  /** Custom sessionization via flatMapGroupsWithState — the full
    * arbitrary-stateful surface (multi-row emission + explicit state
    * lifecycle), for session logic `session_window` can't express (e.g.
    * carrying per-session aggregates other than count). State per user is
    * the open session only; CLOSED sessions are emitted and dropped, so
    * state is O(users), not O(stream) — each user's final session stays
    * open (a real stream never ends) and is deliberately not emitted.
    * Session times are exact to the microsecond (see [[tsMicros]]).
    */
  final case class OpenSession(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, closed: Boolean)

  def sessionizeWithState(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800L): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          val sorted = rows.map(r => tsMicros(r._2)).toSeq.sorted
          var out = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { t =>
            cur match {
              case Some(s) if t - s.last < gapSeconds * 1000000L =>
                cur = Some(OpenSession(s.start, t, s.n + 1))
              case Some(s) =>
                out ::= SessionOut(uid, microsTs(s.start),
                  microsTs(s.last), s.n, closed = true)
                cur = Some(OpenSession(t, t, 1))
              case None =>
                cur = Some(OpenSession(t, t, 1))
            }
          }
          cur.foreach(state.update)
          out.reverseIterator
      }
  }

  /** Streaming daily gap-fill state for one event_type: `nextDay` = the
    * first epoch-day not yet emitted (−1 before any data), `open` = counts
    * of days seen but not yet watermark-finalized. State is O(open days
    * per type) — bounded by the watermark horizon, never by stream length.
    */
  final case class GapfillState(nextDay: Long, open: Map[Long, Long])
  final case class GapfillOut(event_type: String, day_idx: Long, n_events: Long)

  private val DayUs = 86400000000L

  /** Streaming gap-filled daily resample — the streaming twin of the
    * batch c5_gapfill: per event_type daily counts with MISSING days
    * emitted as explicit zero rows, under watermark semantics. A
    * groupBy(window) cannot emit a row for a window that received no
    * input, so this is flatMapGroupsWithState with an EVENT-TIME TIMEOUT:
    * each type's state holds its open day counts; every invocation (data
    * or timeout — the timeout is what lets a type with NO new rows still
    * close its finished days) flushes, in day order, every day the
    * current watermark has finalized — emitting its accumulated count, or
    * an explicit 0 for a day with no events — and re-arms the timeout for
    * the next unfinalized day. Day d is finalized iff (d+1)·86400s ≤
    * watermark, in exact integer microseconds off the engine's
    * millisecond watermark — replayed identically by the oracle.
    */
  def gapfillDaily(spark: SparkSession, events: DataFrame)
      : org.apache.spark.sql.Dataset[GapfillOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("event_type", "ts")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapfillState, GapfillOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (etype, rows, state: GroupState[GapfillState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(GapfillState(-1L, Map.empty))
          var open = prev.open
          var nextDay = prev.nextDay
          rows.foreach { case (_, ts) =>
            val day = Math.floorDiv(tsMicros(ts), DayUs)
            if (nextDay >= 0L && day < nextDay)
              // In-order arrival + the 2h watermark make this unreachable
              // (an emitted day is final); a silent drop would diverge
              // from the batch oracle, so fail loudly instead.
              throw new IllegalStateException(
                s"event for already-emitted day $day (next=$nextDay, $etype)")
            open += day -> (open.getOrElse(day, 0L) + 1L)
          }
          if (nextDay < 0L && open.nonEmpty) nextDay = open.keys.min
          // flush every finalized day in order: d final iff (d+1)·day < wm
          // — STRICT, matching Spark's event-time timeout (which fires
          // only when timeoutTimestamp < watermark): with the inclusive
          // rule, a watermark landing exactly on a day boundary would
          // finalize the day by arithmetic but the armed timeout at that
          // exact timestamp would never fire, and the day's row would be
          // lost. floorDiv(wm−1, day)−1 is the strict form for both the
          // aligned and unaligned cases.
          val lastFinal = Math.floorDiv(wmUs - 1L, DayUs) - 1L
          val out = List.newBuilder[GapfillOut]
          if (nextDay >= 0L) {
            while (nextDay <= lastFinal) {
              out += GapfillOut(etype, nextDay, open.getOrElse(nextDay, 0L))
              open -= nextDay
              nextDay += 1L
            }
          }
          state.update(GapfillState(nextDay, open))
          // re-arm: fire as soon as the next pending day can finalize
          // ((nextDay+1)·day > wm by construction, as setTimeoutTimestamp
          // requires)
          if (nextDay >= 0L)
            state.setTimeoutTimestamp((nextDay + 1L) * (DayUs / 1000L))
          out.result().iterator
      }
  }

  /** Per-user online burst-detection state: `open` = counts of hours not
    * yet watermark-finalized, `nPrev`/`sumPrev` = count and total of the
    * user's FINALIZED hours so far (the running baseline), `maxEmitted`
    * = last finalized hour (in-order guard). State is O(open hours per
    * user) — bounded by the watermark horizon, never by stream length.
    */
  final case class AnomState(open: Map[Long, Long], nPrev: Long,
      sumPrev: Long, maxEmitted: Long)
  final case class AnomOut(user_id: Long, hour_idx: Long, cnt: Long,
      is_burst: Boolean)

  private val HourUs = 3600000000L

  /** Streaming ONLINE burst detection — the streaming twin of the batch
    * c5_anomaly, with the causally-correct semantics a live detector has:
    * each watermark-finalized (user, hour) is judged against the user's
    * hours finalized BEFORE it (`cnt · nPrev > 2 · sumPrev`, pure integer
    * arithmetic — the batch twin judges against the whole history, which
    * a streaming operator cannot know yet). flatMapGroupsWithState with
    * an EVENT-TIME TIMEOUT: each invocation folds new rows into the open
    * hour counts, then flushes every hour the watermark has finalized in
    * hour order — updating the running baseline as it goes — and re-arms
    * the timeout for the next open hour (the timeout is what finalizes a
    * user's last hours when no new data arrives for them). Hour h is
    * final iff (h+1)·3600 s < watermark (strict — the rule Spark's
    * event-time timeout can actually fire), in exact integer microseconds
    * off the engine's millisecond watermark — replayed identically by
    * the oracle's running-window SQL.
    */
  def onlineAnomaly(spark: SparkSession, events: DataFrame)
      : org.apache.spark.sql.Dataset[AnomOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[AnomState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AnomState(Map.empty, 0L, 0L, -1L))
          var open = prev.open
          rows.foreach { case (_, ts) =>
            val h = Math.floorDiv(tsMicros(ts), HourUs)
            if (prev.maxEmitted >= 0L && h <= prev.maxEmitted)
              // In-order arrival + the 2h watermark make this unreachable
              // (a finalized hour's baseline contribution is immutable);
              // a silent drop would diverge from the oracle, so fail loudly.
              throw new IllegalStateException(
                s"event for already-finalized hour $h (max=${prev.maxEmitted}, user $uid)")
            open += h -> (open.getOrElse(h, 0L) + 1L)
          }
          // strict finalization ((h+1)·hour < wm), matching the strict
          // timeout-firing rule — see the gapfill flush comment
          val lastFinal = Math.floorDiv(wmUs - 1L, HourUs) - 1L
          var nPrev = prev.nPrev
          var sumPrev = prev.sumPrev
          var maxEmitted = prev.maxEmitted
          val out = List.newBuilder[AnomOut]
          open.keys.toSeq.sorted.takeWhile(_ <= lastFinal).foreach { h =>
            val cnt = open(h)
            out += AnomOut(uid, h, cnt, cnt * nPrev > 2L * sumPrev)
            nPrev += 1L; sumPrev += cnt; maxEmitted = h; open -= h
          }
          state.update(AnomState(open, nPrev, sumPrev, maxEmitted))
          // re-arm: fire as soon as the oldest open hour can finalize
          // ((minOpen+1)·hour > wm by construction, as required)
          if (open.nonEmpty)
            state.setTimeoutTimestamp((open.keys.min + 1L) * (HourUs / 1000L))
          out.result().iterator
      }
  }

  /** Stream-stream inner join — purchases joined to the same user's
    * clicks within the preceding `windowHours` hours, both sides
    * streaming. The time-range condition + watermarks bound the join
    * state: each side buffers only rows younger than watermark +
    * constraint span, so state is O(rows per horizon), not O(stream) —
    * the form an attribution pipeline runs forever. (Spark requires
    * watermarks on both inputs and a time constraint to age state out;
    * without them a stream-stream join is unbounded.)
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      windowHours: Int = 6): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowHours HOURS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"), col("c_ts"))
  }

  /** LEFT-OUTER twin of [[purchaseClickJoin]]: every purchase appears —
    * matched purchases emit immediately (inner semantics), while a
    * purchase with NO click in its 6h window emits with null click
    * columns only when the global watermark passes it (state eviction
    * proves no matching click can still arrive: future clicks have
    * c_ts > watermark, and a match needs c_ts <= p_ts). The
    * absence-detection join shape — "purchases with no prior click" —
    * that an inner join structurally cannot express on a stream.
    *
    * Boundary (pinned by EventStreamSpec's boundary test): a purchase
    * emits null-matched iff epoch_us(p_ts) < global_watermark_ms·1000
    * — STRICTLY below, at microsecond granularity — where the watermark
    * is min over both sides of (ms-floored max event time − 2h).
    * Purchases at or above the final watermark stay buffered in state
    * and never reach an AvailableNow sink.
    */
  def purchaseClickJoinOuter(purchases: DataFrame, clicks: DataFrame,
      windowHours: Int = 6): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowHours HOURS") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"), col("c_ts"))
  }

  /** Streaming exact dedup — the streaming twin of c1_exact_dedup: drop
    * repeats of the same (user_id, event_type, value) payload arriving
    * within the watermark horizon. `dropDuplicatesWithinWatermark` keys
    * state by the dedup columns and evicts each key once the watermark
    * passes it, so state is O(keys per horizon), not O(stream) — the form
    * a 100 TB/day ingest pipeline can actually run forever. (Plain
    * streaming `dropDuplicates` would keep every key seen since the start
    * of the query.)
    */
  def dedupWithinWatermark(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  /** Run a streaming frame to a named in-memory sink until idle (test /
    * demo harness; production callers use their own writeStream).
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q
  }

  // ---- driver-checkable batch surface -------------------------------
  // Each c5_stream_* query runs the REAL streaming operator (readStream
  // file source → watermarked transform → sink) with an AvailableNow
  // trigger over the static events table through [[runStream]], then
  // returns the sink contents as a batch DataFrame — so the driver's
  // DuckDB oracle hash-checks the streaming execution path itself, not a
  // batch re-derivation.

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming file-source read of the sf events table, with the same
    * TIMESTAMP(NANOS) handling as graft.Tables.load.
    */
  def readEventsTable(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The driver's sf tables are single parquet FILES (the file stream
    // source needs a directory, so stream the sf dir filtered to the
    // events file); a production-shaped table — `events.parquet/` as a
    // DIRECTORY of part files (e.g. the ScaleGen-derived corpus) — is
    // streamed directly. A name glob against a directory's part files
    // would match nothing and silently yield zero data batches.
    val evPath = new java.io.File(s"$sfDir/events.parquet")
    val raw =
      if (evPath.isDirectory)
        spark.readStream.schema(schema).parquet(evPath.toString)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir)
    // ts physical-type normalization is SHARED with the batch loader
    // (graft.Tables.normalizeTs) so a new corpus generation's encoding
    // is handled in exactly one place.
    graft.Tables.normalizeTs(raw)
  }

  /** Shuffle-partition count of every streaming run. Each stateful
    * operator creates one state-store instance PER SHUFFLE PARTITION per
    * micro-batch, each with its own commit files — so the right number
    * tracks stateful-KEY cardinality and state volume, not CPU count. The
    * CPU-count default (sized for the batch surface's corpus shuffles)
    * makes every micro-batch pay 32 state commits per operator for
    * kilobytes of state; round 19 measured 8 as the best value (4 and 32
    * were both slower). The count is baked into a checkpoint at first
    * start, so restart lifecycles keep whatever they began with.
    */
  private val StatePartitions = 8

  /** Serializes the conf swap of [[withStreamConfs]]: nested/concurrent
    * invocations would otherwise race the save/restore and could
    * reinstate a stale value (and two streaming checks never benefit
    * from overlapping anyway — they contend for the same state-store and
    * sink machinery). Batch queries PLANNED on the same session while a
    * check holds the lock still see the streaming settings — a documented
    * limitation of a session-scoped conf; [[runStream]] always awaits
    * termination inside the lock, so none of the library's own batch
    * work plans under them.
    */
  private val statePartitionsLock = new java.util.concurrent.locks.ReentrantLock()

  /** Run `body` — which STARTS a streaming query and awaits its
    * termination — under the session confs a streaming check needs. Each
    * conf is saved before and restored after `body`:
    *  - `spark.sql.shuffle.partitions` = [[StatePartitions]];
    *  - with `rocksDb`, the RocksDB state-store provider. OSS Spark gates
    *    transformWithState on it (the HDFS-backed default doesn't
    *    implement the multi-column-family layout the typed state
    *    variables need); it is also the provider a 100 TB deployment
    *    runs (state larger than executor heap, changelog checkpointing).
    *    Every other run keeps the session's provider — Spark's own
    *    `spark.sql.streaming.stateStore.providerClass`, a session conf or
    *    a `-D` system property;
    *  - with `skipNoDataBatch`, Spark's no-data micro-batches disabled:
    *    the final empty batch AvailableNow appends after the last data
    *    batch to advance the watermark and run state EVICTION/TIMERS.
    *    Callers may opt in ONLY when that batch is output-neutral:
    *     - Append operators that emit on DATA (dropDuplicates[Within
    *       Watermark], stream-stream INNER joins whose matches emit as
    *       rows arrive, flatMapGroupsWithState with
    *       GroupStateTimeout.NoTimeout): the no-data batch only evicts
    *       state there is no further batch to read, so skipping it
    *       removes one full commit cycle (measured at sf0.1: 0.47 s of
    *       the dedup query, 1.07 s of the inner join — state-store
    *       commits across [[StatePartitions]] × per-op stores, plus a
    *       planning pass) with a bit-identical sink.
    *     - NEVER for: outer joins (null-padded rows are emitted BY
    *       eviction), EventTimeTimeout state functions (timers fire in
    *       the no-data batch — gapfill's zero-days, anomaly
    *       finalization), Append windowed aggregations (finalized windows
    *       emit there), or transformWithState timers.
    *    Eviction itself is semantics-free for the opted-in operators: a
    *    retained dedup key only ever suppresses re-emission the batch
    *    oracle suppresses anyway, and a retained join row can only match
    *    within the join's own time-bound predicate (the oracle's WHERE
    *    clause), so keeping state longer never adds or removes a pair.
    *    The session kill-switch `spark.graft.stream.skipNoDataBatches`
    *    (default true) forces the finalizing batch back on for every run
    *    without touching the per-query opt-ins; EventStreamSpec pins
    *    skip == finalize against it.
    */
  private def withStreamConfs[T](spark: SparkSession, rocksDb: Boolean,
      skipNoDataBatch: Boolean)(body: => T): T = {
    val skip = skipNoDataBatch &&
      spark.conf.get("spark.graft.stream.skipNoDataBatches", "true").toBoolean
    val confs = Seq("spark.sql.shuffle.partitions" -> StatePartitions.toString) ++
      Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") ++
      Option.when(skip)("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    statePartitionsLock.lock()
    try graft.util.SessionConf.withConfs(spark, confs)(body)
    finally statePartitionsLock.unlock()
  }

  /** Where [[runStream]] writes. */
  private[streaming] sealed trait Sink

  /** A named in-memory table, for the aggregated-output queries
    * (windowed counts, top-k, per-user stats): their output is
    * O(windows·types)/O(users) — driver-sized by contract — and
    * Update/Complete modes have no file sink anyway.
    */
  private[streaming] final case class MemorySink(mode: OutputMode) extends Sink

  /** Append to a fresh temp parquet dir, for the queries whose output is
    * O(events)-sized (per-event transitions/anomaly scores, dedup
    * survivors, join matches, emitted sessions). A memory sink
    * materializes its WHOLE output on the driver heap — the
    * driver-side-materialization scale-killer the batch surface bans,
    * and measured: c5_stream_transitions OOMs the 8 g harness heap at
    * 10 M events purely in the sink while its operator state stays
    * O(users). The parquet sink is written executor-parallel and
    * spillable, and its distributed scan feeds the downstream
    * fold/orderBy as a normal distributed plan. The checkpoint is
    * deleted once the query has terminated; the sink dir follows the
    * [[spentSinkDirs]] rule.
    */
  private[streaming] case object TempParquet extends Sink

  /** Append to the exactly-once parquet file sink `out` with the DURABLE
    * checkpoint `ckpt`, both owned by the caller — a restart lifecycle
    * (the memory sink does NOT support checkpoint recovery; the file
    * sink's `_spark_metadata` commit log is the production recovery
    * surface).
    */
  private[streaming] final case class DurableParquet(ckpt: String, out: String)
    extends Sink

  /** The number of data micro-batches [[runStream]] requires. */
  private[streaming] sealed trait Batches

  /** Exactly `n`. With n = 1 this is the single-batch invariant: the
    * oracles are batch SQL over the whole table, equivalent to the
    * streaming result only because every row arrives in ONE data
    * micro-batch (the sf events table is a single parquet file). A
    * multi-file table or maxFilesPerTrigger would let the 2h watermark
    * drop late rows / evict dedup state mid-stream and diverge silently
    * — fail loudly instead.
    */
  private[streaming] final case class Exactly(n: Int) extends Batches

  /** At least `n`: deliberately MULTI-batch execution. A single-batch run
    * would not exercise watermark advancement or state carry between
    * batches, which is the property the caller is verifying.
    */
  private[streaming] final case class AtLeast(n: Int) extends Batches

  /** Run `df` to `sink` with an AvailableNow trigger under
    * [[withStreamConfs]], require `batches` data micro-batches, and read
    * the sink back as a batch DataFrame. The one streaming runner of the
    * driver-checkable surface; `skipNoDataBatch` and `rocksDb` are the
    * [[withStreamConfs]] opt-ins.
    */
  private[streaming] def runStream(df: DataFrame, sink: Sink, batches: Batches,
      skipNoDataBatch: Boolean = false, rocksDb: Boolean = false)
      (implicit spark: SparkSession): DataFrame = {
    def run(label: String, writer: DataStreamWriter[Row]): Unit =
      withStreamConfs(spark, rocksDb, skipNoDataBatch) {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        // Bounded wait: AvailableNow over a static table terminates in
        // seconds; the cap only exists so an external stall can't wedge
        // the caller (Bench watchdogs cancel job groups, which
        // streaming's microbatch thread ignores). A stalled stream FAILS —
        // returning the partially-filled sink would be
        // plausible-but-wrong rows.
        if (!q.awaitTermination(300000L)) {
          q.stop()
          throw new IllegalStateException(
            s"streaming query $label did not terminate within 300s; " +
              "refusing to return a partially-filled sink")
        }
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        batches match {
          case Exactly(n) if dataBatches != n =>
            throw new IllegalStateException(
              s"streaming query $label ran $dataBatches data micro-batches; " +
                s"the batch oracle is only valid for exactly $n")
          case AtLeast(n) if dataBatches < n =>
            throw new IllegalStateException(
              s"streaming query $label ran $dataBatches data micro-batches; " +
                s"this query exists to verify incremental arrival (>= $n)")
          case _ => ()
        }
      }
    sink match {
      case MemorySink(mode) =>
        // uniqued per run: Bench reruns queries in one session
        val name = s"graft_stream_q${runSeq.incrementAndGet()}"
        run(name, df.writeStream.format("memory").queryName(name).outputMode(mode))
        spark.table(name)
      case DurableParquet(ckpt, out) =>
        run(s"to $out", df.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode(OutputMode.Append()))
        // Read back with the KNOWN sink schema: an Append query that
        // legitimately emits zero rows (e.g. a restart's first lifecycle)
        // leaves a sink dir with no data files, and schema INFERENCE
        // would fail it with an unrelated "unable to infer schema"
        // instead of an empty result.
        spark.read.schema(df.schema).parquet(out)
      case TempParquet =>
        withScratchSink(runStream(df, _, batches, skipNoDataBatch, rocksDb))
    }
  }

  // Sink dirs of finished parquet runs, swept when the next one is
  // created: a long bench/verify session runs these queries sequentially
  // and each result is fully consumed before the next query starts, so
  // the previous generation's sinks are dead disk by then (deleteOnExit
  // alone accumulated O(session) disk). Contract: a returned parquet scan
  // is valid until the next parquet sink is created.
  private val spentSinkDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Run `body` against a fresh (checkpoint, sink) dir pair, first
    * sweeping [[spentSinkDirs]]. Once `body` returns nothing resumes the
    * checkpoint, so it is deleted NOW, not at JVM exit; the sink dir joins
    * [[spentSinkDirs]].
    */
  private def withScratchSink[T](body: DurableParquet => T): T = {
    import java.nio.file.{Files => JFiles}
    import org.apache.commons.io.FileUtils
    var dead = spentSinkDirs.poll()
    while (dead != null) {
      FileUtils.deleteQuietly(dead.toFile)
      dead = spentSinkDirs.poll()
    }
    val out = JFiles.createTempDirectory("graft_stream_sink")
    val ckpt = JFiles.createTempDirectory("graft_stream_ckpt")
    FileUtils.forceDeleteOnExit(out.toFile)
    try body(DurableParquet(ckpt.toString, out.toString))
    finally {
      FileUtils.deleteQuietly(ckpt.toFile)
      spentSinkDirs.add(out)
    }
  }

  /** floor((min + max) / 2) of `by` over `rows`: the default cut of a
    * two-file split, and the centre the cut pickers aim for.
    */
  private def midpoint(rows: DataFrame, by: Column): Long = {
    val b = rows.agg(min(by).as("mn"), max(by).as("mx")).head()
    Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
  }

  /** A stream-source dir of two ordered part files, `00_early.parquet`
    * and `01_late.parquet` (see [[writeOrderedSplitDir]]).
    */
  private[streaming] final case class Split(dir: String,
      schema: org.apache.spark.sql.types.StructType)

  /** Splits written so far, keyed by what they split. A split is
    * one-time scaffolding (the b8 layout-idempotence posture), so bench
    * reruns of the *_incr/restart queries re-measure the streaming
    * operator, not a repeated coalesce(1) write. Process-local; the dirs
    * are reclaimed on JVM exit.
    */
  private val splits = new java.util.concurrent.ConcurrentHashMap[Any, Split]()

  /** The memoized split of `rows` into `by ≤ cut` (file 1) and
    * `by > cut` (file 2); `cut` defaults to the [[midpoint]] of `by`.
    */
  private def memoSplit(key: Any, rows: => DataFrame, by: Column,
      cut: Option[Long] = None): Split = {
    val hit = splits.get(key)
    // A hit must re-verify BOTH part files, not just the dir: a temp-dir
    // pruner (tmpwatch), partial cleanup, or a restart check whose parked
    // late file did not come back would otherwise replay the checks over
    // half the corpus and fail downstream with a confusing oracle
    // mismatch. Rebuild instead.
    if (hit != null && Seq("00_early", "01_late")
        .forall(f => new java.io.File(hit.dir, s"$f.parquet").isFile)) hit
    else {
      val t = rows
      val c = cut.getOrElse(midpoint(t, by))
      val fresh = Split(writeOrderedSplitDir(t.filter(by <= c), t.filter(by > c)),
        t.schema)
      splits.put(key, fresh)
      fresh
    }
  }

  /** Chronological two-file split of the events table at `cut` (default:
    * the midpoint of the event-time span). Streamed by [[splitStream]] it
    * yields two data micro-batches in event-time order, so no row is
    * ever late. Shared by the incremental and restart checks.
    */
  private[streaming] def eventSplit(spark: SparkSession, sfDir: String,
      cut: Option[Long] = None): Split =
    memoSplit(("events", sfDir, cut), graft.Tables.load(spark, sfDir, "events"),
      unix_micros(col("ts")), cut)

  /** Id-ordered two-file split of the DOCUMENTS table (the dedup-gate
    * corpus) at the id midpoint — a production ingest assigns monotone
    * ids, so id order IS arrival order.
    */
  private def docSplit(spark: SparkSession, sfDir: String): Split =
    memoSplit(("documents", sfDir), graft.Tables.load(spark, sfDir, "documents"),
      col("doc_id"))

  /** An ARRIVING embedding slice (`vec_id % mod = rem` — the
    * deterministic "today's crawl" slice; 10/7 for the static-index
    * gates, matching the batch c2_incremental_semantic; 5/2 for the live
    * gate, whose slice must hold cross-cut near-dup pairs at every SF).
    */
  private def vecSlice(spark: SparkSession, sfDir: String,
      mod: Int, rem: Int): DataFrame =
    graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % mod === rem)
      .select(col("vec_id"), col("embedding"))

  /** Id-ordered two-file split of a [[vecSlice]] at its id midpoint. */
  private def vecSplit(spark: SparkSession, sfDir: String,
      mod: Int = 10, rem: Int = 7): Split =
    memoSplit(("embeddings", sfDir, mod, rem), vecSlice(spark, sfDir, mod, rem),
      col("vec_id"))

  /** Write `early`/`late` as the two ordered part files of a fresh
    * stream-source dir; read back with `maxFilesPerTrigger=1` they
    * arrive as two data micro-batches in that order (file order forced
    * via modification times).
    */
  private def writeOrderedSplitDir(early: DataFrame, late: DataFrame): String = {
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    val stage = JFiles.createTempDirectory("graft_incr_stage")
    val streamDir = JFiles.createTempDirectory("graft_incr_src")
    // Test-harness scaffolding, not an ingest pattern: coalesce(1)
    // single-task writes exist because the check needs EXACTLY one file
    // per micro-batch; the temp split is reclaimed on JVM exit.
    org.apache.commons.io.FileUtils.forceDeleteOnExit(streamDir.toFile)
    def writeHalf(half: DataFrame, tag: String, mtime: Long): Unit = {
      val out = stage.resolve(tag)
      half.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = out.toFile.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $tag"))
      val dest = streamDir.resolve(s"$tag.parquet")
      JFiles.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      // File order (= arrival order) is carried by modification times; a
      // filesystem that refuses to set them could invert the batches and
      // make batch-2 rows late — fail loudly instead of flaking.
      if (!dest.toFile.setLastModified(mtime))
        sys.error(s"setLastModified failed for $dest; " +
          "two-batch arrival order would be undefined")
    }
    val now = System.currentTimeMillis()
    writeHalf(early, "00_early", now - 120000L)
    writeHalf(late, "01_late", now - 60000L)
    // the staged writer dirs are empty shells after the part-file moves
    org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    streamDir.toString
  }

  /** Stream a [[Split]] one file per micro-batch (`maxFilesPerTrigger=1`):
    * two data micro-batches, in file order.
    */
  private[streaming] def splitStream(split: Split)
      (implicit spark: SparkSession): DataFrame =
    spark.readStream.schema(split.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(split.dir)

  /** c5_stream_tumbling_incr: the tumbling aggregation under REAL
    * incremental arrival — the events table is split chronologically
    * into two files, streamed with maxFilesPerTrigger=1 (two data
    * micro-batches), output-mode Append so only watermark-FINALIZED
    * windows reach the sink. This checks what the watermark actually
    * does across batches — state eviction and append finalization —
    * rather than asserting single-batch arrival made them unobservable
    * (the other c5_stream_* oracles' posture).
    *
    * Determinism: the split is chronological (file 1 = events at or
    * before the midpoint of the time span, file 2 = the rest) and file
    * order is forced via modification times, so arrival is in-order and
    * no row is ever late — the final watermark is max(ts) − 2h over the
    * WHOLE table, and the sink holds exactly the windows whose end ≤
    * that watermark (Spark runs a no-data batch after the last file to
    * advance the watermark and flush — `noDataMicroBatches` default).
    * Oracle: the batch tumbling aggregation filtered to those windows.
    */
  def c5StreamTumblingIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(tumblingCounts(splitStream(eventSplit(spark, sfDir))),
      MemorySink(OutputMode.Append()), AtLeast(2))
      .orderBy("window_start", "event_type")
  }

  /** Cut point for the incremental session check: the microsecond
    * midpoint of the adjacent same-user event pair that is closer than
    * the session gap AND nearest the center of the event-time span —
    * guaranteeing some session straddles the file boundary (open in
    * state after batch 1, extended by batch 2). Any chronological cut
    * keeps the oracle valid (nothing is ever late); this one makes the
    * merge path provably exercised. Deterministic; falls back to the
    * span midpoint on a degenerate corpus with no intra-gap pairs.
    */
  private[streaming] def sessionCutUs(ev: DataFrame, gapUs: Long = 1800000000L): Long = {
    val mid = midpoint(ev, unix_micros(col("ts")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cut = ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull &&
        col("nxt") - col("us") < gapUs && col("nxt") =!= col("us"))
      .select((col("us") + (col("nxt") - col("us")) / 2L).cast("long").as("cut"))
      .withColumn("d", abs(col("cut") - mid))
      .orderBy(col("d"), col("cut"))
      .limit(1).collect()
    if (cut.isEmpty) mid else cut.head.getLong(0)
  }

  /** c5_stream_sessionize_incr: the session_window operator under REAL
    * incremental arrival (same two-file chronological split). Beyond
    * what the tumbling twin checks, this exercises cross-batch session
    * STATE MERGING: a session spanning the file cut sits open in the
    * state store after batch 1 and must be extended (not restarted) by
    * batch 2's rows. Append mode emits a session once the watermark
    * passes its end (last event + gap); oracle = batch gaps-and-islands
    * sessions whose end ≤ max(ts) − 2h, with full counts (in-order
    * arrival, nothing late).
    */
  def c5StreamSessionizeIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cut = sessionCutUs(graft.Tables.load(spark, sfDir, "events"))
    runStream(sessionCounts(splitStream(eventSplit(spark, sfDir, Some(cut)))),
      MemorySink(OutputMode.Append()), AtLeast(2))
      .orderBy("user_id", "session_start")
  }

  /** c5_stream_user_stats_incr: mapGroupsWithState under REAL
    * incremental arrival — the third streaming-state family (after the
    * windowed and session incrementals) verified across micro-batches.
    * A user with events in both halves is updated twice; the Update-mode
    * sink then holds both emissions, and the final per-user row (max of
    * the running counter) equals the full batch count ONLY if the
    * custom state actually carried the batch-1 counter into batch 2 —
    * a restarted state would report the second half alone. Oracle =
    * the same per-user count + max ts as the single-batch twin.
    */
  def c5StreamUserStatsIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userRunningStats(spark, splitStream(eventSplit(spark, sfDir))),
      MemorySink(OutputMode.Update()), AtLeast(2))
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("last_ts")).as("last_ts"))
      .orderBy("user_id")
  }

  /** Cut point for the incremental stream-stream join check: the
    * microsecond midpoint of a matched (click, purchase) attribution
    * pair with the click STRICTLY before the purchase — so the click
    * lands in batch 1 and the purchase in batch 2, forcing the join to
    * match against a row buffered across the micro-batch boundary. Among
    * qualifying pairs, picks the one nearest the center of the event-time
    * span (deterministic tiebreak on the cut value). None on a corpus
    * with no strictly-ordered attribution pair — the caller then skips
    * the cross-batch assertion (any chronological cut stays oracle-safe).
    */
  private[streaming] def joinCutUs(ev: DataFrame, windowHours: Int = 6): Option[Long] = {
    val mid = midpoint(ev, unix_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
    val cut = p.join(c, col("user_id") === col("c_user") &&
        col("c_us") >= col("p_us") - lit(windowHours * 3600000000L) &&
        col("c_us") < col("p_us"))
      .select((col("c_us") + (col("p_us") - col("c_us")) / 2L).cast("long").as("cutc"))
      .withColumn("d", abs(col("cutc") - lit(mid)))
      .orderBy(col("d"), col("cutc"))
      .limit(1).collect()
    cut.headOption.map(_.getLong(0))
  }

  /** Whether a join sink holds a (purchase, click) pair whose click is at
    * or before `cut` and whose purchase is after it — a pair only a
    * join whose state crossed the cut can emit.
    */
  private def straddling(sink: DataFrame, cut: Long): Boolean =
    sink.filter(unix_micros(col("c_ts")) <= cut && unix_micros(col("p_ts")) > cut)
      .limit(1).count() != 0

  /** c5_stream_join_incr: the stream-stream interval join under REAL
    * incremental arrival — the fourth and last streaming-state family
    * (join row buffers) verified across micro-batches. Both sides stream
    * the SAME chronological two-file split with maxFilesPerTrigger=1, so
    * each data micro-batch advances both sides by one file. The cut (see
    * [[joinCutUs]]) places a matched click/purchase pair across the file
    * boundary: the click is buffered into join state in batch 1 and its
    * purchase only arrives in batch 2 — the pair reaches the sink ONLY if
    * buffered join rows survive the batch boundary, which the query
    * asserts explicitly before returning.
    *
    * Oracle: the full batch interval join, identical to c5_stream_join.
    * In-order arrival makes that exact: after batch 1 the watermark is
    * max(early ts) − 2h, and a click evictable before batch 2 (c_ts + 6h
    * < watermark) is > 6h older than any batch-2 purchase — outside the
    * join window anyway, so state eviction can never drop a true pair.
    */
  def c5StreamJoinIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutOpt = joinCutUs(graft.Tables.load(spark, sfDir, "events"))
    def side = splitStream(eventSplit(spark, sfDir, cutOpt))
    val joined = runStream(purchaseClickJoin(side, side), TempParquet, AtLeast(2),
      skipNoDataBatch = true)
    cutOpt.foreach { cut =>
      if (!straddling(joined, cut))
        throw new IllegalStateException(
          "no cross-batch pair in the join sink: stream-stream join state " +
            "was not carried across micro-batches")
    }
    joined.orderBy("p_id", "c_id")
  }

  /** c5_stream_join_outer_incr: the left-outer interval join under REAL
    * two-batch arrival — the sink must hold (a) a matched pair whose
    * sides arrived in DIFFERENT micro-batches (join row-buffer state
    * crossed the boundary) and (b) a null-matched purchase from batch 1
    * (the eviction predicate ran against buffered state under a
    * watermark that only existed because batch 2 started). Same oracle
    * as the single-batch twin: under in-order arrival the final
    * emission set is identical — an early-evicted purchase (p_ts below
    * the batch-1 watermark) can never match a later click anyway, since
    * a match needs c_ts <= p_ts but every batch-2 click has
    * c_ts > cut > watermark_1 > p_ts.
    */
  def c5StreamJoinOuterIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutOpt = joinCutUs(graft.Tables.load(spark, sfDir, "events"))
    def side = splitStream(eventSplit(spark, sfDir, cutOpt))
    val joined = runStream(purchaseClickJoinOuter(side, side), TempParquet, AtLeast(2))
    cutOpt.foreach { cut =>
      if (!straddling(joined, cut))
        throw new IllegalStateException(
          "no cross-batch pair in the outer-join sink: stream-stream join " +
            "state was not carried across micro-batches")
      val evictedEarly = joined.filter(
        col("c_id").isNull && unix_micros(col("p_ts")) <= cut)
        .limit(1).count()
      if (evictedEarly == 0)
        throw new IllegalStateException(
          "no null-matched batch-1 purchase in the outer-join sink: " +
            "watermark eviction did not run against cross-batch state")
    }
    joined.orderBy("p_id", "c_id")
  }

  /** Dedup-state horizon for the incremental dedup check (24 h): the
    * corpus has no duplicate payloads closer than ~5.6 h (sf0.1) /
    * ~24.8 h (sf0.01), so the single-batch twin's 2 h horizon leaves no
    * way to place a duplicate pair with its first copy still inside the
    * watermark when the second arrives.
    */
  private val DedupHorizonUs: Long = 24L * 3600L * 1000000L

  /** The same horizon as a Spark interval string, DERIVED from the
    * constant so the cut selection (dedupCutUs) and the operator's
    * watermark can never drift apart under a single-sided edit.
    */
  private val DedupHorizonInterval: String =
    s"${DedupHorizonUs / 3600000000L} hours"

  /** Cut point for the incremental dedup check: the midpoint of a
    * same-payload (user_id, event_type, value) occurrence pair closer
    * together than TWICE the dedup horizon — so after batch 1 the first
    * copy's dedup state is still unexpired (its event time ≥ watermark −
    * horizon) when the second copy arrives in batch 2, and the second
    * copy is dropped ONLY if that state survived the batch boundary.
    * Returns the cut plus the pair's key so the caller can assert the
    * drop; None when no such pair exists (sf0.001 has no duplicate
    * payloads at all) — the caller then runs cut-at-midpoint with the
    * assertion skipped (the oracle is cut-invariant by construction).
    */
  private[streaming] def dedupCutUs(ev: DataFrame,
      horizonUs: Long = DedupHorizonUs): Option[(Long, Long, String, Double)] = {
    val mid = midpoint(ev, unix_micros(col("ts")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"), col("value"))
      .orderBy(col("us"))
    val cut = ev
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") > col("us") &&
        col("nxt") - col("us") < lit(2L * horizonUs))
      .select(col("user_id"), col("event_type"), col("value"),
        (col("us") + (col("nxt") - col("us")) / 2L).cast("long").as("cutc"))
      .withColumn("d", abs(col("cutc") - lit(mid)))
      .orderBy(col("d"), col("cutc"))
      .limit(1).collect()
    cut.headOption.map(r =>
      (r.getLong(3), r.getLong(0), r.getString(1), r.getDouble(2)))
  }

  /** c5_stream_dedup_incr: dropDuplicatesWithinWatermark under REAL
    * incremental arrival — the FIFTH streaming-state family (dedup key
    * state), beyond the four the *_incr twins already cover. The cut
    * (see [[dedupCutUs]]) places a duplicate payload pair across the
    * file boundary with the first copy still inside the watermark
    * horizon: the batch-2 copy is dropped ONLY if the key's state
    * survived the batch boundary, which the query asserts (its
    * `n_emitted` must be 1, not 2). The sink is grouped to
    * (key, n_emitted) so any re-emission would change the hashed
    * result instead of being collapsed away.
    *
    * Oracle: every distinct key exactly once. The operator GUARANTEES
    * dedup within the horizon and MAY dedup beyond it (state eviction
    * is lazy, at end-of-batch with the batch's entry watermark —
    * verified empirically at sf0.1, where 29 keys whose state was
    * expiry-eligible at the batch-2 watermark were still deduplicated):
    * in a two-batch in-order run no state is evicted before the last
    * data batch, so nothing is ever re-admitted and n_emitted is 1
    * everywhere — which is exactly what makes the column a hard
    * cross-batch signal: a state store that failed to carry keys over
    * the boundary would re-emit every early/late duplicate as
    * n_emitted = 2 and break the hash.
    */
  def c5StreamDedupIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val pairOpt = dedupCutUs(graft.Tables.load(spark, sfDir, "events"))
    val stream = splitStream(eventSplit(spark, sfDir, pairOpt.map(_._1)))
    val sink = runStream(
      dedupWithinWatermark(stream, DedupHorizonInterval)
        .select(col("user_id"), col("event_type"), col("value")),
      TempParquet, AtLeast(2), skipNoDataBatch = true)
    val res = sink.groupBy(col("user_id"), col("event_type"), col("value"))
      .agg(count(lit(1)).as("n_emitted"))
    pairOpt.foreach { case (_, uid, etype, v) =>
      // headOption: an entirely-absent key (empty sink, key dropped) is
      // the same diagnosis as a re-emission — state/emission went wrong —
      // not a bare NoSuchElementException.
      val emitted = res.filter(col("user_id") === uid &&
        col("event_type") === etype && col("value") === v)
        .collect().headOption.map(_.getLong(3)).getOrElse(0L)
      if (emitted != 1L)
        throw new IllegalStateException(
          s"straddling duplicate emitted $emitted times: dedup state was " +
            "not carried across micro-batches")
    }
    res.orderBy("user_id", "event_type", "value")
  }

  /** Horizon for the restart-dedup check: LONGER THAN THE CORPUS SPAN
    * (90 days vs the corpus's ~1 month), so no dedup key ever expires.
    * The 24 h horizon is deliberately NOT reusable here: terminating
    * lifecycle A runs a no-data batch that advances the watermark and
    * EVICTS every key older than the horizon — lifecycle B then
    * legitimately re-admits those keys' late duplicates, which is
    * correct operator behavior but makes "every key exactly once" the
    * wrong oracle (it failed exactly this way at sf0.1, where duplicate
    * gaps are dense; sf0.01's sparse duplicates masked it). This check
    * exists to prove state SURVIVES the restart — eviction semantics
    * within a lifecycle are c5_stream_dedup_incr's job — so the horizon
    * is chosen to make eviction impossible and the oracle exact at any
    * SF: with state never expiring, a second emission of any key can
    * ONLY mean the store lost it across the stop/restart.
    */
  private val RestartDedupHorizonInterval: String = s"${90 * 24} hours"

  /** c5_stream_restart_dedup: DEDUP-KEY state recovered from a durable
    * checkpoint across a query stop/restart — completing the restart
    * matrix (window state: c5_stream_restart; custom state:
    * c5_stream_restart_state; join buffers: c5_stream_restart_join;
    * dedup keys: here). The cut (see [[dedupCutUs]]) places a duplicate
    * payload pair across the file boundary: lifecycle A emits the first
    * copy and stores its key; lifecycle B (fresh query object, same
    * checkpoint) sees only the late file and must DROP the second copy —
    * it can only know the key if the dedup state came back from disk,
    * which the query asserts (the straddling key must appear exactly
    * once in the union sink). The horizon outlives the corpus (see
    * [[RestartDedupHorizonInterval]]), so the oracle is exact at any
    * SF: every distinct key exactly once with n_emitted = 1 — a reset
    * state store would re-emit every early/late duplicate as
    * n_emitted = 2 and break the hash.
    */
  def c5StreamRestartDedup(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val pairOpt = dedupCutUs(graft.Tables.load(spark, sfDir, "events"))
    val split = eventSplit(spark, sfDir, pairOpt.map(_._1))
    val res = restartLifecycles(split,
        dedupWithinWatermark(splitStream(split), RestartDedupHorizonInterval)
          .select(col("user_id"), col("event_type"), col("value")),
        skipNoDataBatch = true)(_ => ())
      .groupBy(col("user_id"), col("event_type"), col("value"))
      .agg(count(lit(1)).as("n_emitted"))
    pairOpt.foreach { case (_, uid, etype, v) =>
      // headOption, as in c5StreamDedupIncr: 0 emissions is also a state
      // failure and deserves the diagnostic, not a NoSuchElementException.
      val emitted = res.filter(col("user_id") === uid &&
        col("event_type") === etype && col("value") === v)
        .collect().headOption.map(_.getLong(3)).getOrElse(0L)
      if (emitted != 1L)
        throw new IllegalStateException(
          s"straddling duplicate emitted $emitted times: dedup-key state " +
            "did not survive the stop/restart")
    }
    res.orderBy("user_id", "event_type", "value")
  }

  /** c5_stream_gapfill: the streaming gap-fill ([[gapfillDaily]]) under
    * REAL incremental arrival — a day whose events straddle the file cut
    * reaches the sink with its full count only if the per-type open-day
    * counts survived the micro-batch boundary, and days with no events
    * reach the sink as explicit zero rows via the event-time-timeout
    * path. Oracle: per-type zero-filled daily counts for each type's
    * days from its first event day through the last watermark-finalized
    * day (exact ms-truncated watermark arithmetic, replayed in SQL).
    */
  def c5StreamGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val stream = splitStream(eventSplit(spark, sfDir))
    runStream(
      gapfillDaily(spark, stream).toDF()
        .select(col("event_type"),
          expr("date_add(DATE '1970-01-01', CAST(day_idx AS INT))").as("day"),
          col("n_events")),
      MemorySink(OutputMode.Append()), AtLeast(2))
      .orderBy("event_type", "day")
  }

  private def anomalyOut(ds: org.apache.spark.sql.Dataset[AnomOut]): DataFrame =
    ds.toDF().select(col("user_id"),
      timestamp_seconds(col("hour_idx") * 3600L).as("hour"),
      col("cnt"), col("is_burst"))

  /** c5_stream_anomaly: the online burst detector through the real
    * streaming path (every watermark-finalized (user, hour) judged
    * against the user's prior finalized hours).
    */
  def c5StreamAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(anomalyOut(onlineAnomaly(spark, readEventsTable(spark, sfDir))),
      TempParquet, Exactly(1))
      .orderBy("user_id", "hour")
  }

  /** c5_stream_anomaly_incr: the online detector under REAL incremental
    * arrival (the chronological two-file split). The running
    * (nPrev, sumPrev) baseline must CARRY across the micro-batch
    * boundary: hours finalized in batch 2 are judged against a baseline
    * that includes batch-1 hours — a restarted state would judge them
    * against the second half alone and flip flags. Oracle identical to
    * the single-batch twin (in-order arrival, nothing late).
    */
  def c5StreamAnomalyIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(
      anomalyOut(onlineAnomaly(spark, splitStream(eventSplit(spark, sfDir)))),
      TempParquet, AtLeast(2))
      .orderBy("user_id", "hour")
  }

  /** Park the split's late file so a restart lifecycle sees only the
    * early half; restore it (and its order-bearing mtime) afterwards. If
    * the restore fails, the split dir is left without its late file,
    * which the memo's part-file check ([[memoSplit]]) rebuilds on the
    * next lookup instead of silently running on half the rows.
    */
  private def withParkedLate[T](dir: String)(body: => T): T = {
    val late = new java.io.File(dir, "01_late.parquet")
    val parked = new java.io.File(s"$dir.parked_01_late.parquet")
    val mtime = late.lastModified()
    if (!late.renameTo(parked))
      sys.error(s"could not park $late for the restart check")
    try body
    finally {
      if (!parked.renameTo(late))
        sys.error(s"could not restore $late; split dir is now incomplete")
      // rename preserves mtime on the same filesystem, but file ORDER is
      // this harness's correctness edge — re-assert it.
      if (late.lastModified() != mtime && !late.setLastModified(mtime))
        sys.error(s"could not restore mtime of $late")
    }
  }

  /** The crash-restart harness of every c5_stream_restart_* query: two
    * query lifecycles of `query` over `split`, sharing one DURABLE
    * checkpoint and one parquet sink. Lifecycle A sees only the early
    * file (the late file is parked outside the source dir) and
    * terminates; `between` checks A's sink — each caller asserts there
    * that the property B must recover is not yet visible, so its check
    * is not vacuous. Lifecycle B — a fresh query object on the same
    * checkpoint, as after a driver crash — sees the restored late file
    * and resumes from A's checkpoint: committed offsets (the early file
    * is NOT reprocessed — each lifecycle must run exactly one data
    * batch), the advanced watermark and the operator state all come back
    * from disk. Returns the union of both lifecycles' Append output,
    * read with the query's schema; the checkpoint and sink follow
    * [[withScratchSink]].
    */
  private def restartLifecycles(split: Split, query: => DataFrame,
      skipNoDataBatch: Boolean = false, rocksDb: Boolean = false)
      (between: DataFrame => Unit)(implicit spark: SparkSession): DataFrame =
    withScratchSink { sink =>
      def lifecycle() = runStream(query, sink, Exactly(1), skipNoDataBatch, rocksDb)
      between(withParkedLate(split.dir)(lifecycle()))
      lifecycle()
    }

  /** c5_stream_restart_join: stream-stream JOIN BUFFERS recovered from a
    * durable checkpoint across a full query stop and restart — the state
    * family c5_stream_join_incr verifies across micro-batches but never
    * across query LIFECYCLES (the remaining gap after c5_stream_restart
    * covered window state and c5_stream_restart_state custom state). The
    * cut (see [[joinCutUs]]) places a matched click/purchase pair across
    * the file boundary: lifecycle A sees only the early file, buffers
    * the click into join state, and stops; lifecycle B — a fresh query
    * object on the same checkpoint, as after a driver crash — sees only
    * the late file, and the pair reaches the sink ONLY if the buffered
    * click came back from disk (asserted: absent after A, present after
    * B). Oracle: the full batch interval join, identical to
    * c5_stream_join — the union of the two Append sinks must be the
    * complete join, which in-order arrival plus recovered buffers
    * guarantee (the c5_stream_join_incr eviction-soundness argument
    * applies unchanged across the restart: the recovered watermark can
    * only evict clicks already outside any batch-2 purchase's window).
    */
  /** c5_stream_restart_outer: LEFT-OUTER join state recovered across a
    * full query stop/restart — three distinct recovery properties, each
    * observable only in the outer form:
    *  1. the buffered unmatched rows come back (a cross-lifecycle match
    *     completes, as in c5_stream_restart_join);
    *  2. eviction runs against RECOVERED state (lifecycle B emits
    *     null-matched batch-1 purchases lifecycle A's lower watermark
    *     could not clear);
    *  3. the per-row MATCHED flag survives (asserted structurally: no
    *     p_id appears both matched and null-matched — a restart that
    *     lost the flag would re-emit lifecycle-A matches as phantom
    *     nulls once the watermark passed them).
    * Oracle = the same exact-microsecond batch replay as the live outer
    * twins; it matches only if all three held.
    */
  def c5StreamRestartJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutOpt = joinCutUs(graft.Tables.load(spark, sfDir, "events"))
    val split = eventSplit(spark, sfDir, cutOpt)
    def src = splitStream(split)
    def earlyNulls(sink: DataFrame, cut: Long): Long = sink
      .filter(col("c_id").isNull && unix_micros(col("p_ts")) <= cut).count()
    var nullsAfterA = Option.empty[Long]
    val sink = restartLifecycles(split, purchaseClickJoinOuter(src, src)) { a =>
      nullsAfterA = cutOpt.map { cut =>
        if (straddling(a, cut))
          throw new IllegalStateException(
            "the cut-straddling pair was emitted before the restart; " +
              "the recovery check would be vacuous")
        earlyNulls(a, cut)
      }
    }
    cutOpt.foreach { cut =>
      if (!straddling(sink, cut))
        throw new IllegalStateException(
          "no cut-straddling pair after restart: outer-join buffers " +
            "did not survive the stop/restart")
      if (nullsAfterA.exists(_ >= earlyNulls(sink, cut)))
        throw new IllegalStateException(
          "lifecycle B emitted no additional null-matched batch-1 " +
            "purchase: eviction did not run against recovered state")
    }
    val phantom = sink.groupBy(col("p_id"))
      .agg(max(when(col("c_id").isNull, 1).otherwise(0)).as("has_null"),
        max(when(col("c_id").isNotNull, 1).otherwise(0)).as("has_match"))
      .filter(col("has_null") === 1 && col("has_match") === 1)
      .limit(1).count()
    if (phantom != 0)
      throw new IllegalStateException(
        "a purchase appears both matched and null-matched: the matched " +
          "flag was lost across the restart (phantom outer row)")
    sink.orderBy("p_id", "c_id")
  }

  def c5StreamRestartJoin(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutOpt = joinCutUs(graft.Tables.load(spark, sfDir, "events"))
    val split = eventSplit(spark, sfDir, cutOpt)
    def src = splitStream(split)
    val sink = restartLifecycles(split, purchaseClickJoin(src, src),
        skipNoDataBatch = true) { a =>
      if (cutOpt.exists(straddling(a, _)))
        throw new IllegalStateException(
          "the cut-straddling pair was emitted before the restart; " +
            "the recovery check would be vacuous")
    }
    if (cutOpt.exists(!straddling(sink, _)))
      throw new IllegalStateException(
        "no cut-straddling pair after restart: stream-stream join " +
          "buffers did not survive the stop/restart")
    sink.orderBy("p_id", "c_id")
  }

  /** c5_stream_restart: windowed-aggregation state recovered from a
    * DURABLE CHECKPOINT across a full query STOP and RESTART — the
    * failure-recovery dimension the *_incr twins (one continuous query,
    * several micro-batches) never exercise. The two-file chronological
    * split is consumed by TWO separate query lifecycles sharing one
    * checkpoint directory: query A sees only the early file (the late
    * file is parked outside the source dir), emits the windows its
    * watermark finalizes, and terminates; the late file is restored and
    * query B — a fresh query object, as after a driver crash — resumes
    * from A's checkpoint: committed offsets (the early file is NOT
    * reprocessed — exactly 1 data batch is asserted per lifecycle),
    * the advanced watermark, and the open-window partial counts all
    * come back from disk. The union of the two Append sinks must equal
    * the c5_stream_tumbling_incr result: a window spanning the restart
    * reaches the sink with its FULL count only if the recovered state
    * still held the pre-restart partial count (a reset state would
    * emit the second half alone and break the hash); the query asserts
    * the cut-spanning window is emitted by the restarted lifecycle.
    */
  def c5StreamRestart(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutUs = midpoint(graft.Tables.load(spark, sfDir, "events"), unix_micros(col("ts")))
    val split = eventSplit(spark, sfDir)
    // the window containing the cut spans the restart: it must be ABSENT
    // from lifecycle A's committed output (still open in state) ...
    val cutWindowStartUs = Math.floorDiv(cutUs, 3600000000L) * 3600000000L
    def cutWindowRows(sink: DataFrame) = sink
      .filter(unix_micros(col("window_start")) === cutWindowStartUs)
      .limit(1).count()
    val sink = restartLifecycles(split, tumblingCounts(splitStream(split))) { a =>
      if (cutWindowRows(a) != 0)
        throw new IllegalStateException(
          "the cut-spanning window was already finalized before the restart; " +
            "the recovery check would be vacuous")
    }
    // ... and emitted by the RESTARTED lifecycle, with its full count
    // guaranteed by the oracle hash only if the recovered state held
    // the pre-restart half.
    if (cutWindowRows(sink) == 0)
      throw new IllegalStateException(
        "the cut-spanning window was not emitted after restart: " +
          "checkpointed window state did not survive the stop/restart")
    sink.orderBy("window_start", "event_type")
  }

  /** c5_stream_restart_state: CUSTOM state (flatMapGroupsWithState with
    * a user-defined case-class state) recovered from a durable
    * checkpoint across a query restart — a different state-store
    * serialization surface than [[c5StreamRestart]]'s built-in window
    * state: the OpenSession encoder round-trips through the checkpoint.
    * Same two-lifecycle harness; the cut (sessionCutUs) sits INSIDE a
    * session, so that session is open in custom state when lifecycle A
    * stops and must be EXTENDED (not restarted) by lifecycle B's rows —
    * it reaches the sink with its full event count only if the state
    * object came back from disk intact. Emission here is data-driven
    * (a session is emitted when a later event closes it), not
    * watermark-driven, so the two sinks' union is exactly the
    * single-lifecycle c5_stream_sessionize_state result.
    */
  def c5StreamRestartState(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutUs = sessionCutUs(graft.Tables.load(spark, sfDir, "events"))
    val split = eventSplit(spark, sfDir, Some(cutUs))
    val sink = restartLifecycles(split,
      sessionizeWithState(spark, splitStream(split)).toDF()
        .select("user_id", "session_start", "session_end", "n_events"))(_ => ())
    // the cut-spanning session must appear in the union CLOSED with a
    // start before the cut and its LAST EVENT after it (session_end
    // here is the last event time — the flatMapGroupsWithState shape,
    // no gap added) — it was open in custom state at the restart and
    // can only close (and emit) from lifecycle B, so its presence
    // proves the OpenSession object survived
    val spanning = sink
      .filter(unix_micros(col("session_start")) <= cutUs &&
        unix_micros(col("session_end")) > cutUs)
      .limit(1).count()
    if (spanning == 0)
      throw new IllegalStateException(
        "no cut-spanning session in the sink: custom flatMapGroupsWithState " +
          "state did not survive the stop/restart")
    sink.orderBy("user_id", "session_start")
  }

  /** c5_stream_restart_session: NATIVE session_window state recovered
    * from a durable checkpoint across a query stop/restart — a FIFTH
    * state-store surface beyond the restart matrix's four (tumbling
    * window state, flatMapGroupsWithState custom state, join buffers,
    * dedup keys): the built-in merging-session store keeps per-key LISTS
    * of open sessions and MERGES adjacent ones on arrival, a checkpoint
    * format none of the other four exercise (previously verified only
    * across micro-batches of one lifecycle, c5_stream_sessionize_incr).
    * The cut (see [[sessionCutUs]]) sits INSIDE a session: lifecycle A
    * sees only the early file, holds that session OPEN in the session
    * store, and stops — structurally, A's sink cannot contain any
    * session reaching past the cut (everything A finalized ended before
    * its watermark, max(early ts) − 2h < cut), which the query asserts.
    * Lifecycle B — a fresh query object on the same checkpoint — sees
    * only the late file and must EXTEND the recovered open session, not
    * restart it: the sink must gain a session STARTING at or before the
    * cut and ENDING after it (a reset store would emit a session starting
    * after the cut and break both the assertion and the oracle hash,
    * since the full-count row would be missing). Oracle: identical to
    * c5_stream_sessionize_incr — the union of the two Append sinks is
    * exactly the sessions finalized by the final watermark, with full
    * counts (in-order arrival; A's finalized sessions end > gap before
    * any batch-2 event, so no finalized session is ever re-opened).
    */
  def c5StreamRestartSession(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cutUs = sessionCutUs(graft.Tables.load(spark, sfDir, "events"))
    val split = eventSplit(spark, sfDir, Some(cutUs))
    // session_end is last event + gap, so "reaches past the cut" is
    // start ≤ cut < end; A's watermark bound makes this impossible pre-
    // restart and the recovered-and-extended session satisfies it after.
    def spanning(sink: DataFrame): Long = sink
      .filter(unix_micros(col("session_start")) <= cutUs &&
        unix_micros(col("session_end")) > cutUs)
      .limit(1).count()
    val sink = restartLifecycles(split, sessionCounts(splitStream(split))) { a =>
      if (spanning(a) != 0)
        throw new IllegalStateException(
          "a cut-spanning session was finalized before the restart; " +
            "the session-store recovery check would be vacuous")
    }
    if (spanning(sink) == 0)
      throw new IllegalStateException(
        "no cut-spanning session after restart: native session_window " +
          "state did not survive the stop/restart (or was restarted, " +
          "not extended)")
    sink.orderBy("user_id", "session_start")
  }

  /** c5_stream_tumbling: the streaming tumbling aggregation, driver-
    * checked against the same oracle shape as the batch twin.
    */
  def c5StreamTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(tumblingCounts(readEventsTable(spark, sfDir)),
      MemorySink(OutputMode.Complete()), Exactly(1))
      .orderBy("window_start", "event_type")
  }

  /** c5_stream_enrich: stream-STATIC enrichment join — the remaining
    * standard streaming join shape (c5_stream_join covers
    * stream-stream): each live event equi-joins a static per-user
    * profile snapshot (computed from the batch table) and the enriched
    * stream aggregates per (hour window, profile tier). Stream-static
    * equi joins are STATELESS — the static side is re-resolved each
    * micro-batch and broadcast; no join state ever accumulates, so the
    * plan runs forever at any stream length (the dimension-lookup
    * posture a 100 TB/day enrichment pipeline needs; a slowly-changing
    * dimension just swaps the snapshot between micro-batches).
    *
    * The tier rule is exact integer arithmetic (heavy iff
    * `n_total · n_users ≥ total_events`, i.e. at-or-above the mean,
    * cross-multiplied — no float threshold can flip the hash), and the
    * value sum goes through the exact decimal like every windowed twin.
    */
  def c5StreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val counts = graft.Tables.load(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_total"))
    val totals = counts.agg(count(lit(1)).as("nu"), sum("n_total").as("te"))
    val profile = counts.crossJoin(totals)
      .withColumn("tier",
        when(col("n_total") * col("nu") >= col("te"), "heavy").otherwise("light"))
      .select("user_id", "tier")
    val enriched = readEventsTable(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .join(broadcast(profile), "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_value"))
      .select(col("window.start").as("window_start"), col("tier"),
        col("n_events"), col("sum_value"))
    runStream(enriched, MemorySink(OutputMode.Complete()), Exactly(1))
      .orderBy("window_start", "tier")
  }

  /** c5_stream_sessionize: the native session_window operator under
    * streaming execution; oracle = gaps-and-islands sessions with
    * session_end = last event + gap.
    */
  def c5StreamSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(sessionCounts(readEventsTable(spark, sfDir)),
      MemorySink(OutputMode.Complete()), Exactly(1))
      .orderBy("user_id", "session_start")
  }

  /** c5_stream_sliding: the streaming sliding-window aggregation — same
    * oracle as the batch twin (two shifted tumbling bucketings).
    */
  def c5StreamSliding(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(slidingCounts(readEventsTable(spark, sfDir)),
      MemorySink(OutputMode.Complete()), Exactly(1))
      .orderBy("window_start")
  }

  /** c5_stream_user_stats: the mapGroupsWithState arbitrary-state surface
    * under real streaming execution. With the single AvailableNow data
    * batch, each user's state is updated once, so the Update-mode sink
    * holds exactly the final per-user stats — oracle = per-user count +
    * max ts in plain SQL.
    */
  def c5StreamUserStats(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userRunningStats(spark, readEventsTable(spark, sfDir)),
      MemorySink(OutputMode.Update()), Exactly(1))
      .orderBy("user_id")
  }

  /** c5_stream_tws: the transformWithState surface (Spark 4's typed
    * arbitrary-state API) under real streaming execution — per-user
    * MapState of per-type counts + ValueState last-seen time (see
    * [[UserTypeStatsProcessor]]), RocksDB state store (the provider the
    * API requires and a 100 TB deployment runs anyway). Oracle = the
    * per-(user, type) batch counts joined with the per-user max event
    * time.
    */
  def c5StreamTws(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userTypeStats(spark, readEventsTable(spark, sfDir)).toDF(),
      MemorySink(OutputMode.Update()), Exactly(1), rocksDb = true)
      .select(col("user_id"), col("event_type"), col("n_events"),
        timestamp_micros(col("last_us")).as("last_ts"))
      .orderBy("user_id", "event_type")
  }

  /** c5_stream_tws_incr: transformWithState state carry under REAL
    * incremental arrival — the MapState counters and the ValueState
    * last-seen time must cross the micro-batch boundary: a (user, type)
    * split across the halves reaches its full count in the Update-mode
    * sink only if batch 2 incremented the carried counter (a reset
    * state would leave max(n_events) at the second-half count and
    * hash-mismatch the full-table oracle), and every batch-2 emission
    * re-reports batch-1-only types straight from the carried MapState.
    */
  def c5StreamTwsIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userTypeStats(spark, splitStream(eventSplit(spark, sfDir))).toDF(),
      MemorySink(OutputMode.Update()), AtLeast(2), rocksDb = true)
      .groupBy("user_id", "event_type")
      .agg(max(col("n_events")).as("n_events"), max(col("last_us")).as("last_us"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        timestamp_micros(col("last_us")).as("last_ts"))
      .orderBy("user_id", "event_type")
  }

  /** Read-side fold shared by the streaming transition queries: the
    * Append sink holds one row per observed transition; the matrix
    * (counts + row-normalized probability) is the same O(|types|²)
    * aggregate as the batch c5_transitions, so the two share an oracle.
    */
  private def transitionMatrix(sink: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prev_type"))
    sink.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(w), 6))
      .orderBy("prev_type", "event_type")
  }

  /** c5_stream_transitions: the event-type transition matrix computed ON
    * THE STREAM — row-adjacency analytics no native streaming operator
    * expresses (see [[TransitionsProcessor]]): per-user ValueState
    * carries the last event across micro-batches, transitions append to
    * the sink as they are observed, the matrix is the read-side fold.
    * Oracle = the batch c5_transitions replay.
    */
  def c5StreamTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    transitionMatrix(runStream(
      userTransitions(spark, readEventsTable(spark, sfDir)).toDF(),
      TempParquet, Exactly(1), rocksDb = true))
  }

  /** c5_stream_transitions_incr: the transition spanning the micro-batch
    * boundary (a user's last batch-1 event → first batch-2 event) is
    * emitted by batch 2 USING THE CARRIED ValueState — a reset state
    * would silently drop exactly those transitions and hash-mismatch
    * the full-table oracle.
    */
  def c5StreamTransitionsIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    transitionMatrix(runStream(
      userTransitions(spark, splitStream(eventSplit(spark, sfDir))).toDF(),
      TempParquet, AtLeast(2), rocksDb = true))
  }

  /** c5_stream_pattern: consecutive view → click → purchase detection on
    * the stream (see [[PatternProcessor]]) — each hit appends
    * (user_id, completion ts) to the sink as it is observed. Oracle =
    * the batch double-lag replay.
    */
  def c5StreamPattern(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userPatternHits(spark, readEventsTable(spark, sfDir)).toDF(),
      TempParquet, Exactly(1), rocksDb = true)
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      .orderBy("user_id", "ts")
  }

  /** c5_stream_pattern_incr: a pattern instance SPLIT by the micro-batch
    * boundary (view/click in batch 1, purchase in batch 2) completes
    * only if the ListState buffer carried the first two events across
    * the boundary — a reset buffer silently drops exactly those hits
    * and hash-mismatches the full-table oracle.
    */
  def c5StreamPatternIncr(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userPatternHits(spark, splitStream(eventSplit(spark, sfDir))).toDF(),
      TempParquet, AtLeast(2), rocksDb = true)
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      .orderBy("user_id", "ts")
  }

  /** c5_stream_inactive: event-time-timer inactivity detection (see
    * [[InactivityProcessor]]) — users whose 6 h inactivity deadline the
    * final watermark (max event time − 2 h) has passed. The timer batch
    * is a ZERO-input micro-batch after the data batch: the emission is
    * watermark-driven, the thing only timers can do. Oracle replays the
    * deadline arithmetic in exact integer milliseconds (the engine's
    * ms-floor watermark convention, same as the c5_stream_anomaly
    * oracle).
    */
  def c5StreamInactive(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(userInactivity(spark, readEventsTable(spark, sfDir)).toDF(),
      MemorySink(OutputMode.Append()), Exactly(1), rocksDb = true)
      .select(col("user_id"), timestamp_micros(col("last_us")).as("last_ts"))
      .orderBy("user_id")
  }

  /** c5_stream_restart_tws: transformWithState TYPED state (MapState +
    * ValueState under the RocksDB multi-column-family checkpoint layout)
    * recovered from a durable checkpoint across a full query stop and
    * restart — the sixth state family joins the restart matrix. The cut
    * splits some (user, type)'s events across the two lifecycles:
    * lifecycle A sees only the early file and can emit at most the
    * early-half count for that pair; lifecycle B — a fresh query object
    * on the same checkpoint — sees only the late file and emits the pair
    * at its FULL count only if batch B incremented the MapState counter
    * recovered from disk (asserted: full count absent after A, present
    * after B). Oracle = the same full-table replay as c5_stream_tws; the
    * max-fold over the two lifecycles' Append sink matches it only with
    * intact recovery.
    */
  def c5StreamRestartTws(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = graft.Tables.load(spark, sfDir, "events")
    val cutUs = midpoint(ev, unix_micros(col("ts")))
    val span = ev.groupBy(col("user_id"), col("event_type"))
      .agg(sum(when(unix_micros(col("ts")) <= cutUs, 1L).otherwise(0L)).as("a"),
        sum(when(unix_micros(col("ts")) > cutUs, 1L).otherwise(0L)).as("b"))
      .filter(col("a") > 0 && col("b") > 0)
      .orderBy(col("user_id"), col("event_type"))
      .limit(1).collect()
    if (span.isEmpty)
      throw new IllegalStateException(
        "no (user, type) pair spans the cut; the recovery check would be vacuous")
    val (su, st) = (span(0).getLong(0), span(0).getString(1))
    val full = span(0).getLong(2) + span(0).getLong(3)
    val split = eventSplit(spark, sfDir)
    def fullCountRows(sink: DataFrame): Long = sink
      .filter(col("user_id") === su && col("event_type") === st &&
        col("n_events") === full)
      .limit(1).count()
    val sink = restartLifecycles(split,
        userTypeStats(spark, splitStream(split), OutputMode.Append()).toDF(),
        rocksDb = true) { a =>
      if (fullCountRows(a) != 0)
        throw new IllegalStateException(
          "the cut-spanning pair reached its full count before the restart; " +
            "the recovery check would be vacuous")
    }
    if (fullCountRows(sink) == 0)
      throw new IllegalStateException(
        "cut-spanning pair never reached its full count after restart: " +
          "transformWithState MapState did not survive the stop/restart")
    sink.groupBy("user_id", "event_type")
      .agg(max(col("n_events")).as("n_events"), max(col("last_us")).as("last_us"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        timestamp_micros(col("last_us")).as("last_ts"))
      .orderBy("user_id", "event_type")
  }

  /** c5_stream_sessionize_state: the flatMapGroupsWithState surface
    * (multi-row emission, explicit state lifecycle) under streaming
    * execution. Only CLOSED sessions are emitted — each user's last
    * session stays open in state — so the oracle is the batch
    * gaps-and-islands sessions minus each user's final session.
    */
  def c5StreamSessionizeState(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(sessionizeWithState(spark, readEventsTable(spark, sfDir)).toDF(),
      TempParquet, Exactly(1), skipNoDataBatch = true)
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  }

  /** c5_stream_join: the watermarked stream-stream interval join under
    * real streaming execution (both sides are independent file-source
    * streams of the same events table); oracle = the equivalent batch
    * interval join. Inner-join matches emit as soon as both rows are
    * buffered, so the single AvailableNow batch yields the full result.
    */
  def c5StreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(
      purchaseClickJoin(
        readEventsTable(spark, sfDir), readEventsTable(spark, sfDir)),
      TempParquet, Exactly(1), skipNoDataBatch = true)
      .orderBy("p_id", "c_id")
  }

  /** c5_stream_join_outer: the watermarked LEFT-OUTER stream-stream
    * interval join — the one stream-stream shape where a result row is
    * emitted by state EVICTION rather than by data (the null-matched
    * side appears only once the watermark proves no match can arrive).
    * Inner matches reproduce c5_stream_join; the added rows are the
    * watermark-cleared matchless purchases. Oracle = batch left join
    * with the eviction boundary replayed in exact integer microseconds
    * (see [[purchaseClickJoinOuter]]).
    */
  def c5StreamJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(
      purchaseClickJoinOuter(
        readEventsTable(spark, sfDir), readEventsTable(spark, sfDir)),
      TempParquet, Exactly(1))
      .orderBy("p_id", "c_id")
  }

  /** c5_stream_dedup: dropDuplicatesWithinWatermark over the event
    * payload columns; projected to the dedup key so the surviving-row
    * choice (arrival order) doesn't enter the result — oracle = batch
    * DISTINCT.
    */
  def c5StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runStream(
      dedupWithinWatermark(readEventsTable(spark, sfDir))
        .select(col("user_id"), col("event_type"), col("value")),
      TempParquet, Exactly(1), skipNoDataBatch = true)
      .orderBy("user_id", "event_type", "value")
  }

  /** Streaming MinHash-LSH NEAR-dup assignment — the ingest-time dedup
    * GATE over the documents stream (c5_stream_dedup is the exact-key
    * twin; this is the near-duplicate form the batch side runs as
    * c2_minhash_lsh): each arriving doc's 16 band buckets probe and
    * update per-bucket min-doc-id state (flatMapGroupsWithState keyed
    * on (band, bucket)), so an admission decision uses every doc that
    * arrived in this batch or earlier and is NEVER retracted — the
    * property an ingest gate must have (an admitted doc has already
    * been written downstream). With id-ordered arrival (the doc split
    * streams ids ascending; a production ingest assigns monotone ids)
    * the per-prefix decisions COINCIDE with the batch assignment — a
    * bucket's prefix min equals its global min once the prefix contains
    * the min, and id-ordered batches guarantee exactly that — which is
    * what makes the gate oracle-checkable end to end (oracle =
    * c2_minhash_lsh's SQL replay, banding and all). The cross-batch
    * state propagation this rests on is spec-pinned on buckets
    * straddling the cut (EventStreamSpec, plus the state-bound
    * telemetry spec: one state row per DISTINCT bucket). State: ONE
    * long per distinct (band, bucket) — the minimal dedup index,
    * O(corpus buckets) as any dedup identity index must be; at 100 TB
    * it lives in RocksDB (the provider c5_stream_restart_state runs on
    * record) and is exactly the state a batch-built index would
    * bootstrap. Per-task transient memory is one id array per
    * (bucket ∩ micro-batch) — a boilerplate mega-bucket is bounded by
    * the trigger's batch size (maxFilesPerTrigger / maxBytesPerTrigger),
    * the knob that already bounds every per-batch structure here.
    */
  final case class BucketMin(doc_id: Long, bucket_min: Long)

  def docNearDupMins(spark: SparkSession, docStream: DataFrame)
      : org.apache.spark.sql.Dataset[BucketMin] = {
    import spark.implicits._
    graft.dedup.MinHash.membershipsFromSets(docStream, col("doc_id"),
        graft.dedup.MinHash.tokenSet(col("text")), numHashes = 64, bands = 16)
      .select(col("doc_id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long"))
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[Long, BucketMin](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          // Batch granularity: every doc in this micro-batch sees the
          // bucket min over (prior batches ∪ this whole batch) — rows
          // of one batch arrive together, so intra-batch order carries
          // no information and must not affect the decision.
          val ids = rows.map(_._1).toArray
          val prior = state.getOption
          var m = prior.getOrElse(Long.MaxValue)
          var i = 0
          while (i < ids.length) { if (ids(i) < m) m = ids(i); i += 1 }
          // write state only when the min improved (or on first sight):
          // an unchanged put is pure write amplification in RocksDB
          if (!prior.contains(m)) state.update(m)
          val bm = m
          ids.iterator.map(BucketMin(_, bm))
      }
  }

  /** c5_stream_neardup: the per-doc assignment read from the gate's
    * Append sink — min over the doc's 16 emitted bucket mins (all in
    * the doc's own arrival batch), the c5_stream_topk lambda read-path
    * pattern. Sink is O(docs·bands) scalars, parquet (never a driver
    * memory sink).
    */
  def c5StreamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val perMember = runStream(
      docNearDupMins(spark, splitStream(docSplit(spark, sfDir))).toDF(),
      TempParquet, AtLeast(2), skipNoDataBatch = true)
    perMember.groupBy(col("doc_id"))
      .agg(min(col("bucket_min")).as("cluster_rep"))
      .withColumn("is_kept", col("doc_id") === col("cluster_rep"))
      .orderBy("doc_id")
  }

  /** c5_stream_restart_neardup: the near-dup gate's (band, bucket) min
    * state recovered from a DURABLE checkpoint across a full query stop
    * and restart — completing the restart matrix for the seventh state
    * family (window: c5_stream_restart; custom: c5_stream_restart_state;
    * tws: c5_stream_restart_tws; join buffers: c5_stream_restart_join /
    * _outer; dedup keys: c5_stream_restart_dedup; sessions:
    * c5_stream_restart_session; near-dup gate: here). Lifecycle A sees
    * only the early doc file (ids ≤ cut), stores each touched bucket's
    * min, and stops; lifecycle B — a fresh query object on the same
    * checkpoint, as after a driver crash — sees only the late file
    * (ids > cut). A late doc sharing a bucket with any early doc must be
    * assigned that bucket's EARLY min, which lifecycle B can only know
    * if the state came back from disk: without recovery every bucket_min
    * B emits would be > cut (B's input contains no early id). That is
    * asserted structurally (≥ 1 cut-straddling emission with
    * bucket_min ≤ cut < doc_id, and zero is also rejected as a vacuous
    * check — near-dup corpora always collide across the cut). Decisions
    * never retract across the restart: an admitted doc stays admitted.
    * Oracle: identical to c5_stream_neardup (id-ordered arrival makes
    * the per-prefix decisions coincide with the batch assignment — the
    * restart changes WHEN state is read back, not what it holds).
    */
  def c5StreamRestartNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val split = docSplit(spark, sfDir)
    val perMember = restartLifecycles(split,
      docNearDupMins(spark, splitStream(split)).toDF(), skipNoDataBatch = true)(_ => ())
    val cut = midpoint(graft.Tables.load(spark, sfDir, "documents"), col("doc_id"))
    val nRecovered = perMember
      .filter(col("doc_id") > cut && col("bucket_min") <= cut).count()
    if (nRecovered == 0L)
      throw new IllegalStateException(
        "no late doc was assigned an early bucket min: either the " +
          "recovered state was lost across the stop/restart or the check " +
          "is vacuous (no bucket straddles the cut)")
    perMember.groupBy(col("doc_id"))
      .agg(min(col("bucket_min")).as("cluster_rep"))
      .withColumn("is_kept", col("doc_id") === col("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Row shapes of the streaming semantic gate: per-candidate input to
    * the decision fold (nulls = no / below-threshold candidate, already
    * nulled by [[graft.queries.SimOps.semanticGateCandidates]]) and the
    * per-arrival decision it emits.
    */
  final case class SemCand(n_id: Long, b_id: Option[Long], cosine: Option[Double])
  final case class SemDecision(vec_id: Long, is_novel: Boolean,
      match_id: Option[Long], match_cosine: Option[Double])

  /** c5_stream_semantic: the EMBEDDING-level streaming admission gate —
    * the production ingest path c5_stream_neardup covers at the token
    * level: arriving vectors (the id-ordered two-file split of the
    * vec_id % 10 = 7 crawl slice, two data micro-batches) probe the
    * PERSISTED IVFADC index via STREAM-STATIC joins (nprobe nearest
    * stored coarse cells from the stored codebook; candidates from the
    * cell-pruned codes table, never a corpus embedding scan; exact-
    * cosine confirm on candidates only — the c2_incremental_semantic
    * machinery verbatim via [[graft.queries.SimOps.semanticGateCandidates]]),
    * then each arrival's decision — novel, or duplicate-of its best
    * match (highest cosine, smallest id) — is made IN-STREAM by a
    * flatMapGroupsWithState fold over its candidate rows (all in the
    * arrival's own micro-batch: they are produced from its row by
    * narrow ops and static joins). Decisions never retract: each key's
    * one-shot emission is pinned by a per-key decided flag — a key
    * reappearing would throw, not re-decide. Because decisions depend
    * only on the static index, any arrival order yields the batch
    * assignment — prefix consistency by construction — so the oracle is
    * the c2_incremental_semantic replay (stored codebook, probing,
    * confirm, best pick) bit-for-bit. Sink: O(arrivals) decision rows.
    * State: one boolean per arrival within the run — bounded by the
    * crawl slice, and only a harness-level guard (production would run
    * stateless Append; the flag exists to make never-retract an
    * asserted property instead of a claim).
    */
  def c5StreamSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    decideSemanticStream(sfDir)(src =>
      graft.queries.SimOps.semanticGateCandidates(spark, sfDir, src).as[SemCand])(
      _.n_id)(_.flatMap(r => for { b <- r.b_id; c <- r.cosine } yield (b, c)))
  }

  /** The streaming semantic gates' shared run: `candidates` over the
    * id-ordered two-file split of the vec_id % 10 = 7 slice, grouped per
    * arrival by `nId`, decided ONCE by a flatMapGroupsWithState fold
    * whose per-key flag is the never-retract guard (a key reappearing
    * throws, it is not re-decided), over the (b_id, cosine) pairs
    * `confirmed` keeps of the arrival's rows: the best pick is the
    * highest cosine, ties to the smallest id — an order-free fold
    * identical to the batch min(struct(-cosine, b_id)) — else novel.
    */
  private def decideSemanticStream[C](sfDir: String)(
      candidates: DataFrame => org.apache.spark.sql.Dataset[C])(nId: C => Long)(
      confirmed: Iterator[C] => Iterator[(Long, Double)])
      (implicit spark: SparkSession, enc: org.apache.spark.sql.Encoder[C]): DataFrame = {
    import spark.implicits._
    val src = splitStream(vecSplit(spark, sfDir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
    val decisions = candidates(src)
      .groupByKey(nId)
      .flatMapGroupsWithState[Boolean, SemDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (id, rows, state: GroupState[Boolean]) =>
          if (state.exists)
            throw new IllegalStateException(
              s"vector $id reached the gate twice: a decision would retract")
          state.update(true)
          var best: Option[(Double, Long)] = None
          confirmed(rows).foreach { case (b, c) =>
            if (best.forall(p => c > p._1 || (c == p._1 && b < p._2)))
              best = Some((c, b))
          }
          Iterator.single(SemDecision(id, best.isEmpty,
            best.map(_._2), best.map(_._1)))
      }
    runStream(decisions.toDF(), TempParquet, AtLeast(2), skipNoDataBatch = true)
      .orderBy("vec_id")
  }

  /** Per-candidate row shape of the BOUNDED streaming semantic gate:
    * `adc`/`b_id` are the true pre-rank values (the fold's truncation
    * sorts on them), `cosine` is already nulled below the threshold by
    * the shared builder. All-None rows are zero-candidate arrivals kept
    * alive by the builder's outer joins.
    */
  final case class SemTopcCand(n_id: Long, adc: Option[Double],
      b_id: Option[Long], cosine: Option[Double])

  /** c5_stream_semantic_topc: the BOUNDED embedding-level admission
    * gate — [[c5StreamSemantic]] with the exact-cosine confirm capped
    * at the ADC top-c candidates per arrival (the
    * [[graft.queries.SimOps.semanticTopcCandidates]] builder, shared
    * VERBATIM with the batch twin c2_incremental_semantic_topc): the
    * stored PQ codes pre-rank each probed cell's postings — stream-
    * static joins and narrow array ops only, no embedding scan — and
    * only ≤ nprobe·topc candidates per arrival reach the exact-cosine
    * confirm join, making the gate's per-arrival cost the ENGINE's
    * constant rather than the corpus's √n cell size (the one
    * super-linear decade of the unbounded family — BASELINE.md round
    * 16). The decision fold completes the contract exactly: global
    * top-`topc` by (adc, b_id) across the per-cell pre-cut rows (an
    * in-memory sort of ≤ nprobe·topc tuples), then the unbounded
    * twin's best pick (highest surviving cosine, smallest id).
    * Never-retract and prefix-consistency arguments are identical to
    * [[c5StreamSemantic]]; the oracle is the batch topc replay, which
    * hash-checks the ADC approximation itself.
    */
  def c5StreamSemanticTopc(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val topc = graft.queries.SimOps.IncSemTopC
    decideSemanticStream(sfDir)(src =>
      graft.queries.SimOps.semanticTopcCandidates(spark, sfDir, src).as[SemTopcCand])(
      _.n_id) { rows =>
      rows.flatMap(r => for { a <- r.adc; b <- r.b_id } yield (a, b, r.cosine))
        .toArray.sortBy(t => (t._1, t._2)).take(topc).iterator
        .flatMap { case (_, b, c) => c.map(b -> _) }
    }
  }

  /** Row shapes of the LIVE semantic gate's stateful stage: one input
    * row per (arrival × probed cell) — the [[graft.queries.SimOps
    * .semanticProbeFrame]] output plus the cell's STATIC pre-cut scored
    * array (`pos` 0 marks the arrival's assigned cell; `codes` are its
    * residual codes under that cell, exactly what an index insert would
    * store) — one state value per cell (the LIVE posting list: every
    * arrival's codes in its assigned cell, `subspaces` small ints each
    * — the minimal in-stream semantic index, the embedding twin of the
    * token gate's (band, bucket) min state), and one emitted row per
    * surviving candidate pair, static or live.
    */
  final case class LiveAdc(adc: Double, b_id: Long)
  final case class LiveProbeIn(n_id: Long, pos: Int, cell: Int,
      codes: Array[Int], emb: Array[Double], scored: Option[Seq[LiveAdc]])
  final case class LivePosting(id: Long, codes: Array[Int])
  final case class LivePair(n_id: Long, b_id: Long, adc: Double, live: Boolean)

  /** Live-tier ADC of one stored posting against an arrival's residual —
    * the state-side twin of the in-plan lookup-table read
    * `Σ_m tbls(m)(codes(m)-1)`: per subspace, the squared L2 distance of
    * the residual's sub-slice to the posting's codeword, summed in
    * ascending subspace order. Bit-identical to the expression path by
    * construction — the inner fold is [[graft.functions.CentroidDists]]'s
    * `d += (v_j - c_j)²` in the same j order, and the outer ascending-m
    * sum matches the table-read loop (spec-pinned on the real corpus in
    * EventStreamSpec). Recomputing ≈ sub mults per (posting, subspace)
    * beats shipping kSub·subspaces doubles per row through the stateful
    * shuffle whenever postings-per-cell < kSub — and the live cell lists
    * are O(arrivals/cells) while kSub is 256.
    */
  private[streaming] def liveAdcRaw(enc: Array[Double], codes: Array[Int],
      books: Array[Array[Array[Double]]], sub: Int): Double = {
    var a = 0.0
    var m = 0
    while (m < codes.length) {
      val cw = books(m)(codes(m) - 1)
      val off = m * sub
      // min-clamp like the in-plan twin (PqProbeEncImpl clamps to
      // min(sub, cw.length)): a shorter codeword truncates instead of
      // throwing from inside the stateful stage.
      val n = math.min(sub, cw.length)
      var d = 0.0
      var j = 0
      while (j < n) { val t = enc(off + j) - cw(j); d += t * t; j += 1 }
      a += d
      m += 1
    }
    a
  }

  /** Residual of an arrival vs its probed cell's coarse centroid — the
    * state-side twin of the in-plan `zip_with(v, coarse(cell), a - b)`
    * (same elementwise subtraction, same order).
    */
  private[streaming] def liveResidual(emb: Array[Double],
      cent: Array[Double]): Array[Double] = {
    // min-clamp like the in-plan twin (PqProbeEncImpl sizes the residual
    // at min(v.len, cent.len)): a shorter centroid truncates instead of
    // throwing from inside the stateful stage.
    val n = math.min(emb.length, cent.length)
    val enc = new Array[Double](n)
    var j = 0
    while (j < n) { enc(j) = emb(j) - cent(j); j += 1 }
    enc
  }

  /** Candidate-pair stage of c5_stream_semantic_live: per (arrival ×
    * probed cell), emit the cell's STATIC ADC top-c (stored corpus
    * postings — computed in-plan by the native AdcTopC over the
    * stream-static posting join, exactly the bounded gate's machinery)
    * AND the cell's LIVE ADC top-c — earlier arrivals assigned to this
    * cell, scored from flatMapGroupsWithState state through the same
    * ascending-subspace sum and HALF_UP round-6 as AdcTopCImpl (the
    * oracle replays both tiers through one arithmetic). State admission
    * is UNCONDITIONAL (every arrival's codes enter its assigned cell's
    * postings — the token gate's posture, where every doc's bucket
    * contributes to the (band, bucket) min): the within-stream dedup
    * contract assigns each arrival to its best EARLIER match whether or
    * not that match was itself novel, exactly as the batch minhash
    * families assign every cluster member to the min-id rep. An
    * admitted-only live set would need the cross-cell decision *inside*
    * each cell's state update — serializing all admission through one
    * global state owner, the anti-scale shape; per-cell keying keeps
    * the gate shuffle-parallel and the decision is derived downstream
    * (the c5_stream_neardup lambda read-path pattern).
    *
    * Prefix consistency: a live candidate for arrival i is any arrival
    * j < i (strictly — enforced by id-sorted in-batch processing and
    * insert-after-emit), and id-ordered arrival puts every j < i in
    * i's batch or earlier, so the stream emits exactly the batch
    * definition's pair set regardless of the file cut. Decisions never
    * retract: all of i's pairs (static: its own rows; live: j < i only)
    * are emitted in i's own micro-batch — later batches can never add
    * or remove a pair for i.
    */
  def semanticLivePairs(spark: SparkSession, sfDir: String,
      arrivals: DataFrame, topc: Int,
      nprobe: Int = graft.queries.SimOps.LiveNprobe)
      : org.apache.spark.sql.Dataset[LivePair] = {
    import spark.implicits._
    // Model constants for the state function (driver-side bounded
    // collect, closure-captured): the live tier recomputes each
    // posting's ADC from (arrival residual × codeword) directly —
    // shipping the raw 64-double embedding per row instead of the
    // kSub·subspaces-double lookup tables cuts the stateful shuffle's
    // row payload ~kSub·subspaces/dim (≈64× at 16×256) and drops the
    // boxed Seq[Seq[Double]] encoder from the hot path (guide §2.3:
    // shuffle keys and metadata, not payloads). The STATIC tier is
    // untouched: its tables stay in-plan, consumed by the native
    // AdcTopC before the shuffle.
    val (coarseArr, booksArr) =
      graft.queries.SimOps.scaledPqModelArrays(spark, sfDir)
    val subLen = coarseArr(0).length / booksArr.length
    val frame = graft.queries.SimOps
      .semanticProbeFrame(spark, sfDir, arrivals, nprobe,
        excludeMod = LiveSliceMod, excludeRem = LiveSliceRem)
      .withColumn("scored",
        graft.functions.AdcTopCExpr.adcTopC(col("cands"), col("tbls"), topc))
      .select(col("n_id"), col("pos"), col("cell"), col("codes"),
        col("n_emb").as("emb"), col("scored"))
      .as[LiveProbeIn]
    frame.groupByKey(_.cell)
      .flatMapGroupsWithState[Seq[LivePosting], LivePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (cell, rows, state: GroupState[Seq[LivePosting]]) =>
          val postings = scala.collection.mutable.ArrayBuffer
            .from(state.getOption.getOrElse(Seq.empty))
          // id order within the batch = arrival order (id-ordered
          // ingest); emit-before-insert keeps the candidate set
          // strictly j < i
          val batch = rows.toArray.sortBy(_.n_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[LivePair]
          val cent = coarseArr(cell - 1)
          batch.foreach { r =>
            r.scored.getOrElse(Seq.empty).foreach(s =>
              out += LivePair(r.n_id, s.b_id, s.adc, live = false))
            val enc = liveResidual(r.emb, cent)
            val live = postings.map { p =>
              (java.math.BigDecimal.valueOf(
                liveAdcRaw(enc, p.codes, booksArr, subLen))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
                p.id)
            }
            live.sortInPlaceBy(t => (t._1, t._2)).take(topc).foreach(t =>
              out += LivePair(r.n_id, t._2, t._1, live = true))
            if (r.pos == 0) postings += LivePosting(r.n_id, r.codes)
          }
          // write state only when this batch inserted something: a
          // probe-only group (no arrival ASSIGNED here) must not
          // materialize an empty state row — state rows stay exactly
          // the distinct assigned cells (spec-pinned), and an
          // unchanged put is pure write amplification in RocksDB
          if (postings.length != state.getOption.map(_.length).getOrElse(0))
            state.update(postings.toSeq)
          out.iterator
      }
  }

  /** Arrival slice of the live gate — one definition shared with the
    * oracle replay (see [[graft.queries.SimOps.LiveSliceMod]] for why
    * it differs from the static-index gates' 10/7).
    */
  private val LiveSliceMod = graft.queries.SimOps.LiveSliceMod
  private val LiveSliceRem = graft.queries.SimOps.LiveSliceRem

  /** c5_stream_semantic_live: the SELF-ADMITTING embedding-level
    * admission gate — the missing half of the c5_stream_neardup
    * contract at the embedding level (round-17 verdict ask #2). The
    * static-index gates (c5_stream_semantic, _topc) resolve arrivals
    * against the persisted index only: an arrival novel vs the corpus
    * never becomes a duplicate target for later arrivals. Here every
    * arrival's PQ codes ALSO enter bounded in-stream state keyed by its
    * assigned cell (the live index — `subspaces` bytes per arrival),
    * and each arrival resolves against corpus postings AND earlier
    * arrivals: per arrival, the global (adc, b_id) top-`topc` across
    * both tiers, exact-cosine confirm (both sides re-attached by id
    * from the embeddings table on the sink read side — the lambda
    * read-path), best surviving pick (highest cosine, smallest id),
    * novel iff none. The oracle replays both tiers in SQL (codebook →
    * codes → ADC → per-arrival global cut with `b_id < n_id` on the
    * live tier → confirm), so the live approximation itself is
    * hash-checked; id-ordered arrival makes the stream's per-prefix
    * pair set coincide with that batch definition (see
    * [[semanticLivePairs]]).
    *
    * Non-vacuity (asserted, not assumed): at least one LIVE pair whose
    * target arrived in batch 1 and whose arrival came in batch 2 must
    * survive the exact-cosine confirm — state genuinely crossed the
    * micro-batch boundary AND the live tier genuinely matters; zero is
    * an IllegalStateException, never a silently-static gate.
    */
  def c5StreamSemanticLive(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val topc = graft.queries.SimOps.IncSemTopC
    val threshold = graft.queries.SimOps.IncSemThreshold
    val src = splitStream(vecSplit(spark, sfDir, LiveSliceMod, LiveSliceRem))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
    val pairs = runStream(semanticLivePairs(spark, sfDir, src, topc).toDF(),
      TempParquet, AtLeast(2), skipNoDataBatch = true)
    // read side: global top-c cut over BOTH tiers, exact confirm, fold
    val base = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ranked = pairs
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("n_id"))
          .orderBy(col("adc").asc, col("b_id").asc)))
      .filter(col("rk") <= topc)
    val confirmed = ranked
      .join(base.select(col("vec_id").as("n_id"), col("v").as("n_emb")), "n_id")
      .join(base.select(col("vec_id").as("b_id"), col("v").as("b_emb")), "b_id")
      .withColumn("cosine",
        graft.queries.SimOps.cosine6(col("n_emb"), col("b_emb")))
      .filter(col("cosine") >= threshold)
      .select(col("n_id"), col("b_id"), col("cosine"), col("live"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = midpoint(vecSlice(spark, sfDir, LiveSliceMod, LiveSliceRem), col("vec_id"))
    val straddle = confirmed
      .filter(col("live") && col("b_id") <= cut && col("n_id") > cut).count()
    if (straddle == 0L)
      throw new IllegalStateException(
        "no batch-2 arrival live-matched a batch-1 arrival above the " +
          "threshold: either the cell state was lost across micro-batches " +
          "or the check is vacuous (no near-dup pair straddles the cut)")
    val best = confirmed.groupBy(col("n_id"))
      .agg(min(struct((-col("cosine")).as("nc"), col("b_id").as("bid"))).as("b"))
      .select(col("n_id").as("vec_id"), col("b.bid").as("match_id"),
        (-col("b.nc")).as("match_cosine"))
    val out = base.select(col("vec_id"))
      .filter(col("vec_id") % LiveSliceMod === LiveSliceRem)
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id").isNull.as("is_novel"),
        col("match_id"), col("match_cosine"))
      .orderBy("vec_id")
    graft.util.CacheScope.releaseAfterMaterialize(out, Seq(confirmed))
  }

  /** c5_stream_topk: per-window top-k event types over the STREAMING
    * hourly aggregation — the live-leaderboard serving composition: the
    * stream maintains the windowed counts (state bounded by the
    * watermark); the RANK runs on the sink read side, because Spark
    * (correctly) rejects cross-row rank windows inside a streaming plan
    * — a rank over an unfinalized window would retract. This is the
    * lambda read-path pattern: the expensive aggregation is streaming
    * and incremental, the top-k is a cheap query over the materialized
    * view. Oracle = batch hourly counts ranked.
    */
  def c5StreamTopK(spark: SparkSession, sfDir: String, k: Int = 2): DataFrame = {
    implicit val s: SparkSession = spark
    val counts = runStream(
      tumblingCounts(readEventsTable(spark, sfDir))
        .select("window_start", "event_type", "n_events"),
      MemorySink(OutputMode.Complete()), Exactly(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("window_start", "rk")
  }

  /** c5_stream_topk_incr: the same ranking over the Append-mode sink of
    * the two-batch incremental run — ranks are computed only over
    * watermark-FINALIZED windows (the sink never holds a partial count,
    * so a rank read from it can never retract; in-order arrival gives
    * finalized windows their full counts). Oracle = the finalized-window
    * filter of c5_stream_tumbling_incr plus the rank.
    */
  def c5StreamTopKIncr(spark: SparkSession, sfDir: String, k: Int = 2): DataFrame = {
    implicit val s: SparkSession = spark
    val counts = runStream(
      tumblingCounts(splitStream(eventSplit(spark, sfDir)))
        .select("window_start", "event_type", "n_events"),
      MemorySink(OutputMode.Append()), AtLeast(2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("window_start", "rk")
  }

  /** Oracles for the driver-checkable streaming queries (same tables,
    * DuckDB SQL).
    */
  private val anomalySql: String =
    "WITH u AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
      "wm AS (SELECT (CAST(floor(max(us) / 1000.0) AS BIGINT) - 7200000) " +
      "* 1000 AS wmus FROM u), " +
      "lh AS (SELECT CAST(floor((wmus - 1) / 3600000000.0) AS BIGINT) - 1 " +
      "AS lasth FROM wm), " +
      "hourly AS (SELECT user_id, CAST(floor(us / 3600000000.0) AS BIGINT) " +
      "AS h, count(*) AS cnt FROM u GROUP BY 1, 2), " +
      "fin AS (SELECT user_id, h, cnt FROM hourly, lh WHERE h <= lasth), " +
      "st AS (SELECT user_id, h, cnt, " +
      "CAST(row_number() OVER w - 1 AS BIGINT) AS n_prev, " +
      "CAST(COALESCE(sum(cnt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND 1 PRECEDING), 0) AS BIGINT) AS sum_prev " +
      "FROM fin WINDOW w AS (PARTITION BY user_id ORDER BY h)) " +
      "SELECT user_id, TIMESTAMP '1970-01-01' + h * INTERVAL 1 HOUR AS hour, " +
      "cnt, cnt * n_prev > 2 * sum_prev AS is_burst " +
      "FROM st ORDER BY user_id, hour"

  /** Shared replay for both left-outer join twins: batch left join with
    * the strictly-below microsecond eviction boundary.
    */
  private val outerJoinSql: String =
    "WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts " +
      "FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts " +
      "FROM events WHERE event_type = 'click'), " +
      "wm AS (SELECT least(" +
      "(SELECT CAST(floor(epoch_us(max(p_ts)) / 1000.0) AS BIGINT) FROM p), " +
      "(SELECT CAST(floor(epoch_us(max(c_ts)) / 1000.0) AS BIGINT) FROM c)) " +
      "- 7200000 AS wm_ms), " +
      "j AS (SELECT p_id, user_id, p_ts, c_id, c_ts " +
      "FROM p JOIN c ON p.user_id = c.c_user " +
      "AND c_ts >= p_ts - INTERVAL '6 hours' AND c_ts <= p_ts), " +
      "um AS (SELECT p.p_id, p.user_id, p.p_ts, " +
      "CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS TIMESTAMP) AS c_ts " +
      "FROM p, wm WHERE p.p_id NOT IN (SELECT p_id FROM j) " +
      "AND epoch_us(p.p_ts) < wm_ms * 1000) " +
      "SELECT * FROM j UNION ALL SELECT * FROM um ORDER BY p_id, c_id"

  private val transitionsSql: String =
    "WITH s AS (SELECT event_type, lag(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type " +
      "FROM events), " +
      "t AS (SELECT prev_type, event_type, count(*) AS n FROM s " +
      "WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
      "SELECT prev_type, event_type, n, " +
      "round(CAST(n AS DOUBLE) / CAST(sum(n) OVER " +
      "(PARTITION BY prev_type) AS DOUBLE), 6) AS p " +
      "FROM t ORDER BY prev_type, event_type"

  private val patternSql: String =
    "WITH s AS (SELECT user_id, ts, event_type, " +
      "lag(event_type, 1) OVER w AS l1, lag(event_type, 2) OVER w AS l2 " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT user_id, ts FROM s WHERE event_type = 'purchase' " +
      "AND l1 = 'click' AND l2 = 'view' ORDER BY user_id, ts"

  val oracle: Map[String, String] = Map(
    "c5_stream_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
        "count(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // Enrichment replay: profile tiers from exact integer counts, then
    // the same windowed aggregate over the joined stream.
    "c5_stream_enrich" ->
      ("WITH p AS (SELECT user_id, count(*) AS n_total FROM events GROUP BY user_id), " +
        "t AS (SELECT count(*) AS nu, CAST(sum(n_total) AS BIGINT) AS te FROM p), " +
        "pt AS (SELECT user_id, CASE WHEN n_total * nu >= te THEN 'heavy' " +
        "ELSE 'light' END AS tier FROM p, t) " +
        "SELECT date_trunc('hour', ts) AS window_start, tier, " +
        "count(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events JOIN pt USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"),
    "c5_stream_sessionize" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END " +
        "AS new_session FROM events WINDOW w AS " +
        "(PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
        "FROM flagged) " +
        "SELECT min(ts) AS session_start, " +
        "max(ts) + INTERVAL '30 minutes' AS session_end, " +
        "user_id, count(*) AS n_events " +
        "FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_start"),
    // Incremental twin: only windows finalized by the final watermark
    // (max ts − 2h) are in the Append-mode sink; arrival is in-order by
    // construction so finalized windows carry their full batch counts.
    // Restart twin: identical oracle to c5_stream_tumbling_incr — the
    // union of the two query lifecycles' Append sinks must hold exactly
    // the finalized windows with FULL counts, which requires the
    // pre-restart partial counts to come back from the checkpoint.
    "c5_stream_restart" ->
      ("WITH agg AS (SELECT date_trunc('hour', ts) AS window_start, " +
        "event_type, count(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2), " +
        "wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events) " +
        "SELECT window_start, event_type, n_events, sum_value FROM agg, wm " +
        "WHERE window_start + INTERVAL '1 hour' <= w ORDER BY 1, 2"),
    "c5_stream_topk" ->
      ("WITH agg AS (SELECT date_trunc('hour', ts) AS window_start, " +
        "event_type, count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "r AS (SELECT window_start, event_type, n_events, " +
        "CAST(row_number() OVER (PARTITION BY window_start " +
        "ORDER BY n_events DESC, event_type) AS INT) AS rk FROM agg) " +
        "SELECT window_start, event_type, n_events, rk FROM r " +
        "WHERE rk <= 2 ORDER BY window_start, rk"),
    "c5_stream_topk_incr" ->
      ("WITH agg AS (SELECT date_trunc('hour', ts) AS window_start, " +
        "event_type, count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events), " +
        "fin AS (SELECT window_start, event_type, n_events FROM agg, wm " +
        "WHERE window_start + INTERVAL '1 hour' <= w), " +
        "r AS (SELECT window_start, event_type, n_events, " +
        "CAST(row_number() OVER (PARTITION BY window_start " +
        "ORDER BY n_events DESC, event_type) AS INT) AS rk FROM fin) " +
        "SELECT window_start, event_type, n_events, rk FROM r " +
        "WHERE rk <= 2 ORDER BY window_start, rk"),
    "c5_stream_tumbling_incr" ->
      ("WITH agg AS (SELECT date_trunc('hour', ts) AS window_start, " +
        "event_type, count(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2), " +
        "wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events) " +
        "SELECT window_start, event_type, n_events, sum_value FROM agg, wm " +
        "WHERE window_start + INTERVAL '1 hour' <= w ORDER BY 1, 2"),
    // Incremental session twin: only sessions whose end (last event +
    // gap) the final watermark has passed are in the Append-mode sink;
    // counts are full (in-order two-batch arrival, nothing late).
    "c5_stream_sessionize_incr" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END " +
        "AS new_session FROM events WINDOW w AS " +
        "(PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
        "FROM flagged), " +
        "agg AS (SELECT min(ts) AS session_start, " +
        "max(ts) + INTERVAL '30 minutes' AS session_end, " +
        "user_id, count(*) AS n_events " +
        "FROM sess GROUP BY user_id, session_idx), " +
        "wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events) " +
        "SELECT session_start, session_end, user_id, n_events FROM agg, wm " +
        "WHERE session_end <= w ORDER BY user_id, session_start"),
    // Restart twin of the NATIVE session store: identical oracle to
    // c5_stream_sessionize_incr — the two lifecycles' Append sinks must
    // union to exactly the watermark-finalized sessions with FULL
    // counts, which requires the open-session list (with its pre-restart
    // partial count) to come back from the checkpoint.
    "c5_stream_restart_session" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END " +
        "AS new_session FROM events WINDOW w AS " +
        "(PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
        "FROM flagged), " +
        "agg AS (SELECT min(ts) AS session_start, " +
        "max(ts) + INTERVAL '30 minutes' AS session_end, " +
        "user_id, count(*) AS n_events " +
        "FROM sess GROUP BY user_id, session_idx), " +
        "wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM events) " +
        "SELECT session_start, session_end, user_id, n_events FROM agg, wm " +
        "WHERE session_end <= w ORDER BY user_id, session_start"),
    "c5_stream_dedup" ->
      ("SELECT DISTINCT user_id, event_type, value FROM events " +
        "ORDER BY user_id, event_type, value"),
    // Streaming near-dup gate: with id-ordered arrival the per-batch
    // admission decisions coincide with the batch MinHash-LSH
    // assignment (a bucket's prefix min equals its global min once the
    // prefix contains the min), so the oracle IS the c2_minhash_lsh
    // replay — banding, bucket mins, per-doc min, keep flag.
    "c5_stream_neardup" -> graft.queries.DedupOps.oracle("c2_minhash_lsh"),
    // Restart twin of the near-dup gate: identical oracle — recovered
    // (band, bucket) mins make the two-lifecycle run reproduce the
    // batch assignment; a reset store would reassign every late doc
    // a late cluster_rep and break the hash (plus the in-query
    // structural assert on cut-straddling emissions).
    "c5_stream_restart_neardup" -> graft.queries.DedupOps.oracle("c2_minhash_lsh"),
    // Incremental dedup twin: every distinct key exactly once — lazy
    // end-of-batch eviction means a two-batch in-order run never
    // re-admits a key (see c5StreamDedupIncr); a state store that
    // dropped keys at the batch boundary would re-emit straddling
    // duplicates as n_emitted = 2 and break the hash.
    "c5_stream_dedup_incr" ->
      ("SELECT user_id, event_type, value, CAST(1 AS BIGINT) AS n_emitted " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    // Restart twin of the dedup-key state family: identical oracle — a
    // state store that lost its keys at the restart would re-emit every
    // early/late duplicate as n_emitted = 2 and break the hash.
    "c5_stream_restart_dedup" ->
      ("SELECT user_id, event_type, value, CAST(1 AS BIGINT) AS n_emitted " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "c5_stream_sliding" ->
      ("SELECT window_start, count(*) AS n_events FROM (" +
        "SELECT unnest([time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start " +
        "FROM events) GROUP BY window_start ORDER BY window_start"),
    "c5_stream_user_stats" ->
      ("SELECT user_id, count(*) AS n_events, max(ts) AS last_ts " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    // transformWithState replay: per-(user, type) counts (the MapState)
    // joined with the per-user max event time (the ValueState). The
    // incremental twin shares it — the carried state must reproduce the
    // full-table answer despite two-batch arrival.
    "c5_stream_tws" ->
      ("WITH u AS (SELECT user_id, max(ts) AS last_ts FROM events " +
        "GROUP BY user_id) " +
        "SELECT e.user_id, e.event_type, count(*) AS n_events, u.last_ts " +
        "FROM events e JOIN u ON e.user_id = u.user_id " +
        "GROUP BY e.user_id, e.event_type, u.last_ts " +
        "ORDER BY e.user_id, e.event_type"),
    "c5_stream_tws_incr" ->
      ("WITH u AS (SELECT user_id, max(ts) AS last_ts FROM events " +
        "GROUP BY user_id) " +
        "SELECT e.user_id, e.event_type, count(*) AS n_events, u.last_ts " +
        "FROM events e JOIN u ON e.user_id = u.user_id " +
        "GROUP BY e.user_id, e.event_type, u.last_ts " +
        "ORDER BY e.user_id, e.event_type"),
    // Streaming transition matrix: identical replay to the batch
    // c5_transitions — the streamed adjacency fold must reproduce the
    // lag-window result (and the _incr twin despite two-batch arrival).
    "c5_stream_transitions" -> transitionsSql,
    "c5_stream_transitions_incr" -> transitionsSql,
    // Pattern replay: the double-lag window finds every consecutive
    // view -> click -> purchase triple; the streamed ListState buffer
    // must reproduce it exactly (incl. triples split across batches).
    "c5_stream_pattern" -> patternSql,
    "c5_stream_pattern_incr" -> patternSql,
    // Timer replay: the 6h deadline against the ms-floor watermark
    // (max event time - 2h), exact integer arithmetic.
    "c5_stream_inactive" ->
      ("WITH u AS (SELECT user_id, max(ts) AS last_ts FROM events " +
        "GROUP BY user_id), " +
        "wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000.0) AS BIGINT) " +
        "- 7200000 AS wm_ms FROM events) " +
        "SELECT user_id, last_ts FROM u, wm " +
        "WHERE CAST(floor(epoch_us(last_ts) / 1000.0) AS BIGINT) " +
        "+ 21600000 <= wm_ms ORDER BY user_id"),
    "c5_stream_restart_tws" ->
      ("WITH u AS (SELECT user_id, max(ts) AS last_ts FROM events " +
        "GROUP BY user_id) " +
        "SELECT e.user_id, e.event_type, count(*) AS n_events, u.last_ts " +
        "FROM events e JOIN u ON e.user_id = u.user_id " +
        "GROUP BY e.user_id, e.event_type, u.last_ts " +
        "ORDER BY e.user_id, e.event_type"),
    // Incremental twin: identical oracle — the final running counter
    // must equal the full count despite arriving in two batches.
    "c5_stream_user_stats_incr" ->
      ("SELECT user_id, count(*) AS n_events, max(ts) AS last_ts " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "c5_stream_join" ->
      ("SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, " +
        "c.event_id AS c_id, c.ts AS c_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id " +
        "AND c.ts >= p.ts - INTERVAL '6 hours' AND c.ts <= p.ts " +
        "ORDER BY p_id, c_id"),
    // Left-outer twin: inner rows identical; a matchless purchase emits
    // null-matched iff the final global watermark (min over both sides
    // of ms-floored max event time - 2h) is STRICTLY above it — replayed
    // in exact integer microseconds (boundary pinned by the spec's
    // micro-test). Purchases at or above the watermark stay in state.
    "c5_stream_join_outer" -> outerJoinSql,
    // Incremental twin: identical oracle — under in-order two-batch
    // arrival the final emission set matches the single-batch run (see
    // c5StreamJoinOuterIncr for why early eviction can't lose a match).
    "c5_stream_join_outer_incr" -> outerJoinSql,
    // Incremental twin: identical oracle — inner-join matches emit as
    // soon as both rows are buffered, in-order arrival never drops a
    // matchable row (see c5StreamJoinIncr), so the two-batch sink must
    // hold the complete batch join.
    "c5_stream_join_incr" ->
      ("SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, " +
        "c.event_id AS c_id, c.ts AS c_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id " +
        "AND c.ts >= p.ts - INTERVAL '6 hours' AND c.ts <= p.ts " +
        "ORDER BY p_id, c_id"),
    // Restart twin of the stream-stream join: identical oracle — the two
    // lifecycles' Append sinks must union to the complete batch join,
    // which requires the buffered early-side rows to come back from the
    // checkpoint (a reset buffer silently drops every cross-restart pair
    // and breaks the hash).
    "c5_stream_restart_join" ->
      ("SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, " +
        "c.event_id AS c_id, c.ts AS c_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id " +
        "AND c.ts >= p.ts - INTERVAL '6 hours' AND c.ts <= p.ts " +
        "ORDER BY p_id, c_id"),
    // Restart twin of the OUTER join: same exact-microsecond replay as
    // the live twins — it matches only if the buffered rows, the
    // eviction watermark, AND the per-row matched flags all came back
    // from the checkpoint (see c5StreamRestartJoinOuter).
    "c5_stream_restart_outer" -> outerJoinSql,
    // Streaming gap-fill: per-type zero-filled daily counts, restricted
    // to watermark-finalized days (day d final iff (d+1)·86400s ≤ wm; wm
    // is the engine's ms-truncated max-event-time − 2h, replayed exactly
    // in integer arithmetic). Each type's spine runs from ITS first
    // event day — per-key custom state cannot know about days before the
    // key existed.
    // Online-anomaly replay: finalized hours are those ≤ the engine's
    // final watermark (ms-truncated max ts − 2 h, exact integer µs);
    // the running baseline is a per-user window over PRIOR finalized
    // hours — row_number−1 and the preceding-rows sum — and the flag is
    // the same integer comparison the operator evaluates.
    "c5_stream_anomaly" -> anomalySql,
    "c5_stream_anomaly_incr" -> anomalySql,
    "c5_stream_gapfill" ->
      ("WITH u AS (SELECT event_type, epoch_us(ts) AS us FROM events), " +
        "wm AS (SELECT (CAST(floor(max(us) / 1000.0) AS BIGINT) - 7200000) " +
        "* 1000 AS wmus FROM u), " +
        "lf AS (SELECT CAST(floor((wmus - 1) / 86400000000.0) AS BIGINT) - 1 " +
        "AS lastday FROM wm), " +
        "daily AS (SELECT event_type, CAST(floor(us / 86400000000.0) AS BIGINT) " +
        "AS day_idx, count(*) AS n FROM u GROUP BY 1, 2), " +
        "t0 AS (SELECT event_type, min(day_idx) AS d0 FROM daily GROUP BY event_type), " +
        "spine AS (SELECT event_type, unnest(range(d0, lastday + 1)) AS day_idx " +
        "FROM t0, lf WHERE d0 <= lastday) " +
        "SELECT spine.event_type, DATE '1970-01-01' + CAST(spine.day_idx AS INT) " +
        "AS day, COALESCE(daily.n, 0) AS n_events " +
        "FROM spine LEFT JOIN daily USING (event_type, day_idx) " +
        "ORDER BY event_type, day"),
    // Restart twin of the custom-state sessionizer: identical oracle —
    // the two lifecycles' sinks must union to exactly the closed
    // sessions with FULL counts, which requires the OpenSession state
    // object to survive the checkpoint round-trip.
    "c5_stream_restart_state" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END " +
        "AS new_session FROM events WINDOW w AS " +
        "(PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
        "FROM flagged), " +
        "agg AS (SELECT user_id, session_idx, min(ts) AS session_start, " +
        "max(ts) AS session_end, count(*) AS n_events " +
        "FROM sess GROUP BY user_id, session_idx), " +
        "agg2 AS (SELECT *, max(session_idx) OVER (PARTITION BY user_id) " +
        "AS last_idx FROM agg) " +
        "SELECT user_id, session_start, session_end, n_events FROM agg2 " +
        "WHERE session_idx < last_idx ORDER BY user_id, session_start"),
    "c5_stream_sessionize_state" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END " +
        "AS new_session FROM events WINDOW w AS " +
        "(PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
        "FROM flagged), " +
        "agg AS (SELECT user_id, session_idx, min(ts) AS session_start, " +
        "max(ts) AS session_end, count(*) AS n_events " +
        "FROM sess GROUP BY user_id, session_idx), " +
        "agg2 AS (SELECT *, max(session_idx) OVER (PARTITION BY user_id) " +
        "AS last_idx FROM agg) " +
        "SELECT user_id, session_start, session_end, n_events FROM agg2 " +
        "WHERE session_idx < last_idx ORDER BY user_id, session_start")
  )

  /** Driver query registry (merged into SparkEntry.queries). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c5_stream_tumbling" -> (c5StreamTumbling _),
    "c5_stream_enrich" -> (c5StreamEnrich _),
    "c5_stream_topk" -> ((s: SparkSession, d: String) => c5StreamTopK(s, d)),
    "c5_stream_topk_incr" -> ((s: SparkSession, d: String) => c5StreamTopKIncr(s, d)),
    "c5_stream_tumbling_incr" -> (c5StreamTumblingIncr _),
    "c5_stream_sessionize_incr" -> (c5StreamSessionizeIncr _),
    "c5_stream_user_stats_incr" -> (c5StreamUserStatsIncr _),
    "c5_stream_sessionize" -> (c5StreamSessionize _),
    "c5_stream_dedup" -> (c5StreamDedup _),
    "c5_stream_neardup" -> (c5StreamNearDup _),
    "c5_stream_sliding" -> (c5StreamSliding _),
    "c5_stream_user_stats" -> (c5StreamUserStats _),
    "c5_stream_tws" -> (c5StreamTws _),
    "c5_stream_tws_incr" -> (c5StreamTwsIncr _),
    "c5_stream_restart_tws" -> (c5StreamRestartTws _),
    "c5_stream_transitions" -> (c5StreamTransitions _),
    "c5_stream_transitions_incr" -> (c5StreamTransitionsIncr _),
    "c5_stream_pattern" -> (c5StreamPattern _),
    "c5_stream_pattern_incr" -> (c5StreamPatternIncr _),
    "c5_stream_inactive" -> (c5StreamInactive _),
    "c5_stream_sessionize_state" -> (c5StreamSessionizeState _),
    "c5_stream_join" -> (c5StreamJoin _),
    "c5_stream_join_outer" -> (c5StreamJoinOuter _),
    "c5_stream_join_outer_incr" -> (c5StreamJoinOuterIncr _),
    "c5_stream_join_incr" -> (c5StreamJoinIncr _),
    "c5_stream_dedup_incr" -> (c5StreamDedupIncr _),
    "c5_stream_restart" -> (c5StreamRestart _),
    "c5_stream_restart_state" -> (c5StreamRestartState _),
    "c5_stream_restart_join" -> (c5StreamRestartJoin _),
    "c5_stream_restart_outer" -> (c5StreamRestartJoinOuter _),
    "c5_stream_restart_dedup" -> (c5StreamRestartDedup _),
    "c5_stream_restart_neardup" -> (c5StreamRestartNearDup _),
    "c5_stream_semantic" -> (c5StreamSemantic _),
    "c5_stream_semantic_topc" -> (c5StreamSemanticTopc _),
    "c5_stream_semantic_live" -> (c5StreamSemanticLive _),
    "c5_stream_restart_session" -> (c5StreamRestartSession _),
    "c5_stream_gapfill" -> (c5StreamGapfill _),
    "c5_stream_anomaly" -> (c5StreamAnomaly _),
    "c5_stream_anomaly_incr" -> (c5StreamAnomalyIncr _)
  )
}
