package graft.streaming

import graft.{SparkSuite, Tables}
import graft.queries.EventOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Top-level so Spark can derive an Encoder (inner classes capture the
  * suite instance and can't be encoded).
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class DocRow(doc_id: Long, text: String)

case class VecRow(vec_id: Long, embD: Seq[Double])

/** Structured Streaming twins must agree with the batch operators on the
  * same (fully-arrived) data.
  */
class EventStreamSpec extends SparkSuite {

  /** Run a streaming frame to a named in-memory sink until idle. */
  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Complete())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q
  }

  private def eventRows: Seq[Ev] = {
    import spark.implicits._
    Tables.load(spark, sf, "events")
      .limit(200)
      .as[Ev].collect().toSeq
  }

  test("streaming tumbling counts == batch tumbling counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(eventRows)
    val q = runToMemory(
      EventStream.tumblingCounts(mem.toDF()), "tumbling_test")
    try {
      val streamed = spark.table("tumbling_test")
        .select("window_start", "event_type", "n_events")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = eventRows.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows match batch gaps-and-islands sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(eventRows)
    val q = runToMemory(
      EventStream.sessionCounts(mem.toDF()), "session_test")
    try {
      val streamed = spark.table("session_test")
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

      // Batch sessions over the same 200 events (EventOps logic, inlined
      // over the limited subset).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = eventRows.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(eventRows)
    val q = runToMemory(
      EventStream.userRunningStats(spark, mem.toDF()), "state_test",
      org.apache.spark.sql.streaming.OutputMode.Update())
    try {
      val got = spark.table("state_test")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = eventRows.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits closed sessions matching batch sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(eventRows)
    val q = runToMemory(
      EventStream.sessionizeWithState(spark, mem.toDF()).toDF(), "fmgs_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      // compare at MICROsecond precision — the state op's session math is
      // epoch-micros exact (it must match the driver's batch oracle
      // bit-for-bit, and the corpus carries microsecond event times)
      def micros(t: Timestamp): Long =
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val closed = spark.table("fmgs_test").filter(col("closed"))
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), micros(r.getTimestamp(1)), r.getLong(2))).toSet
      // batch sessions over the same rows; every closed streaming session
      // (all but each user's last) must appear identically in batch.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = eventRows.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(unix_micros(min(col("ts"))).as("session_start"), count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(closed.subsetOf(batch),
        s"closed sessions not in batch: ${(closed -- batch).take(3)}")
      assert(closed.nonEmpty)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups payload repeats like batch distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventRows
    // Feed every event twice (same payload, same ts) — the stream must
    // emit each distinct (user_id, event_type, value) payload once.
    val mem = MemoryStream[Ev]
    mem.addData(rows ++ rows)
    val q = runToMemory(
      EventStream.dedupWithinWatermark(mem.toDF()), "dedup_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("dedup_test")
        .select("user_id", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val batch = rows.toDF()
        .select("user_id", "event_type", "value").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(streamed.length === batch.length) // no within-horizon repeats survive
      assert(streamed.toSet === batch.toSet)
    } finally q.stop()
  }

  test("incremental tumbling emits exactly the watermark-finalized windows") {
    // Two-file chronological split, maxFilesPerTrigger=1, Append mode:
    // the sink must hold the batch tumbling windows whose end <= final
    // watermark (max ts - 2h) — full counts (in-order arrival, no late
    // rows) — and withhold the still-open tail.
    val got = EventStream.queries("c5_stream_tumbling_incr")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val ev = Tables.load(spark, sf, "events")
    val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = maxTs - 2L * 3600L * 1000000L
    val all = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n_events"))
    val closed = all.filter(unix_micros(col("we")) <= wmUs)
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet
    val open = all.filter(unix_micros(col("we")) > wmUs).count()
    assert(got == closed)
    assert(open > 0, "fixture must leave open windows for this test to bite")
  }

  test("incremental sessionize emits watermark-closed sessions incl. cut-spanning ones") {
    val got = EventStream.queries("c5_stream_sessionize_incr")(spark, sf)
      .collect()
      .map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
      .toSet
    val ev = Tables.load(spark, sf, "events")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutUs = EventStream.sessionCutUs(ev)
    val wmUs = maxUs - 2L * 3600L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = ev
      .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - col("prev") >= 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("session_start"),
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getLong(3) + 1800000000L, r.getLong(4)))
    val closed = sessions.filter(_._3 <= wmUs)
      .map { case (u, st, endUs, n) =>
        val end = new java.sql.Timestamp(Math.floorDiv(endUs, 1000000L) * 1000L)
        end.setNanos((Math.floorMod(endUs, 1000000L) * 1000L).toInt)
        (u, st, end, n)
      }.toSet
    assert(got == closed)
    assert(sessions.exists(_._3 > wmUs), "fixture must leave open sessions")
    // the cut falls inside at least one session by construction
    // (sessionCutUs picks an intra-gap event pair): that session sat
    // open in state after batch 1 and was EXTENDED by batch 2 — the
    // cross-batch merge path this query exists to exercise
    assert(sessions.exists { case (_, st, endUs, _) =>
      val stUs = Math.floorDiv(st.getTime, 1000L) * 1000000L + st.getNanos / 1000L
      stUs <= cutUs && (endUs - 1800000000L) > cutUs
    }, "no session spans the file cut")
  }

  test("incremental user stats carry custom state across batches") {
    val ev = Tables.load(spark, sf, "events")
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cutUs = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    // the check only bites if some user has events in BOTH halves — a
    // restarted state would then report the second half alone
    val spanning = ev.groupBy("user_id")
      .agg(sum(when(unix_micros(col("ts")) <= cutUs, 1).otherwise(0)).as("a"),
        sum(when(unix_micros(col("ts")) > cutUs, 1).otherwise(0)).as("b"))
      .filter(col("a") > 0 && col("b") > 0).count()
    assert(spanning > 0, "fixture must have users on both sides of the cut")
    val got = EventStream.queries("c5_stream_user_stats_incr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = ev.groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("transformWithState per-(user,type) MapState counts match batch; state carries across batches") {
    val ev = Tables.load(spark, sf, "events")
    val want = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val lastWant = ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("l")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // single-batch surface
    val got = EventStream.queries("c5_stream_tws")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getTimestamp(3)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (n, lastTs)) =>
      assert(n == want(k), s"$k count")
      val us = Math.floorDiv(lastTs.getTime, 1000L) * 1000000L +
        lastTs.getNanos / 1000L
      assert(us == lastWant(k._1), s"$k last_ts")
    }
    // incremental twin: only bites if some (user, type) spans the cut —
    // a reset MapState would report the second half's count alone
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cutUs = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    val spanning = ev.groupBy("user_id", "event_type")
      .agg(sum(when(unix_micros(col("ts")) <= cutUs, 1).otherwise(0)).as("a"),
        sum(when(unix_micros(col("ts")) > cutUs, 1).otherwise(0)).as("b"))
      .filter(col("a") > 0 && col("b") > 0).count()
    assert(spanning > 0, "fixture must have (user, type) pairs on both sides of the cut")
    val gotIncr = EventStream.queries("c5_stream_tws_incr")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(gotIncr == want)
  }

  test("incremental stream-stream join carries buffered rows across batches") {
    val ev = Tables.load(spark, sf, "events")
    // the check only bites if a matched pair straddles the cut — the
    // query itself throws when the cut is defined but no cross-batch
    // pair reaches the sink, so a defined cut makes this a real test of
    // join-state retention
    val cut = EventStream.joinCutUs(ev)
    assert(cut.isDefined, "fixture must contain a click strictly before its purchase")
    val got = EventStream.queries("c5_stream_join_incr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val want = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("incremental dedup carries key state across batches (no re-emission)") {
    // sf0.001 has no duplicate payloads at all, so this check runs on
    // sf0.01 — the smallest fixture where a duplicate pair can straddle
    // the cut with its first copy inside the dedup horizon (the query
    // itself throws if that pair is emitted twice)
    val sf01 = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, sf01, "events")
    assert(EventStream.dedupCutUs(ev).isDefined,
      "sf0.01 fixture must contain a duplicate pair within twice the horizon")
    val got = EventStream.queries("c5_stream_dedup_incr")(spark, sf01).collect()
    assert(got.forall(_.getLong(3) == 1L),
      "a two-batch in-order run must never re-emit a key")
    assert(got.length ==
      ev.select("user_id", "event_type", "value").distinct().count())
  }

  test("checkpointed restart recovers windowed state across query lifecycles") {
    // c5StreamRestart asserts internally that the cut-spanning window
    // is absent before the restart and emitted after it; here we also
    // pin that the two-lifecycle union equals the single-lifecycle
    // incremental result — recovery must be invisible in the output
    val got = EventStream.queries("c5_stream_restart")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = EventStream.queries("c5_stream_tumbling_incr")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("checkpointed restart recovers CUSTOM flatMapGroupsWithState state") {
    // the query asserts internally that a session open at the restart
    // closes afterwards with a pre-cut start; here we also pin that the
    // two-lifecycle union equals the single-lifecycle result — custom
    // state recovery must be invisible in the output
    val got = EventStream.queries("c5_stream_restart_state")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val want = EventStream.queries("c5_stream_sessionize_state")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming transition matrix equals the batch lag-window matrix; prev-state carries the cut") {
    val want = EventOps.c5Transitions(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toSeq
    val got = EventStream.queries("c5_stream_transitions")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toSeq
    assert(got == want)
    // the incr twin only bites if some user's CONSECUTIVE pair straddles
    // the cut — batch 2 then emits that transition from the carried
    // ValueState; a reset state would drop it and shift the counts
    val ev = Tables.load(spark, sf, "events")
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cutUs = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val straddling = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us") <= cutUs && unix_micros(col("ts")) > cutUs)
      .count()
    assert(straddling > 0, "fixture must have a consecutive pair across the cut")
    val gotIncr = EventStream.queries("c5_stream_transitions_incr")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toSeq
    assert(gotIncr == want)
  }

  test("streaming CEP pattern hits equal the batch double-lag triples; buffer carries the cut") {
    val ev = Tables.load(spark, sf, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wantDf = ev
      .withColumn("l1", lag(col("event_type"), 1).over(w))
      .withColumn("l2", lag(col("event_type"), 2).over(w))
      .filter(col("event_type") === "purchase" &&
        col("l1") === "click" && col("l2") === "view")
      .select(col("user_id"), col("ts"))
    val want = wantDf.collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(want.nonEmpty, "fixture must contain the pattern")
    val got = EventStream.queries("c5_stream_pattern")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(got == want)
    val gotIncr = EventStream.queries("c5_stream_pattern_incr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(gotIncr == want)
  }

  test("timer-driven inactivity emits exactly the users the final watermark left behind") {
    val ev = Tables.load(spark, sf, "events")
    val wmMs = Math.floorDiv(
      ev.agg(max(unix_micros(col("ts")))).head().getLong(0), 1000L) - 7200000L
    val want = ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, us) => Math.floorDiv(us, 1000L) + 21600000L <= wmMs }
      .toMap
    assert(want.nonEmpty, "fixture must contain inactive users")
    val got = EventStream.c5StreamInactive(spark, sf).collect()
      .map { r =>
        val t = r.getTimestamp(1)
        (r.getLong(0),
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
      }.toMap
    assert(got == want)
  }

  test("checkpointed restart recovers transformWithState typed state (MapState + ValueState)") {
    // the query's internal guards prove the recovery itself (the
    // cut-spanning pair's full count is absent after lifecycle A,
    // present only after B); the spec asserts the recovered result
    // equals the batch ground truth
    val ev = Tables.load(spark, sf, "events")
    val want = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val got = EventStream.queries("c5_stream_restart_tws")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == want)
  }

  test("RocksDB state store: restart recovery is provider-invisible (the 100TB provider)") {
    // local[32]'s default HDFSBackedStateStore keeps every key's state
    // ON-HEAP — at production streaming-state volume the disk-backed
    // RocksDB provider is the configuration that actually ships. The
    // checkpoint-restart harness (custom flatMapGroupsWithState state —
    // the hardest family to recover) must produce byte-identical output
    // under it, across a checkpointed stop/restart, including state
    // files written by one provider lifecycle and read by the next.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val got = EventStream.queries("c5_stream_restart_state")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      val want = EventStream.queries("c5_stream_sessionize_state")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("checkpointed restart recovers stream-stream JOIN buffers") {
    // the query asserts internally that the cut-straddling pair is
    // absent before the restart and present after it; here we also pin
    // that the two-lifecycle union equals the full batch join — buffer
    // recovery must be invisible in the output
    val ev = Tables.load(spark, sf, "events")
    assert(EventStream.joinCutUs(ev).isDefined,
      "fixture must contain a click strictly before its purchase")
    val got = EventStream.queries("c5_stream_restart_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val want = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("checkpointed restart recovers NATIVE session_window state") {
    // c5StreamRestartSession asserts internally that no session reaches
    // past the cut before the restart and that one does afterwards
    // (extended, not restarted); here we also pin that the two-lifecycle
    // union equals the single-lifecycle incremental session result —
    // merging-session-store recovery must be invisible in the output
    val got = EventStream.queries("c5_stream_restart_session")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    val want = EventStream.queries("c5_stream_sessionize_incr")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("checkpointed restart recovers dedup-key state (no re-emission)") {
    // needs sf0.01 — the smallest fixture with a duplicate pair that can
    // straddle the cut inside the dedup horizon (the query itself throws
    // if the straddling duplicate is emitted twice after the restart)
    val sf01 = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, sf01, "events")
    assert(EventStream.dedupCutUs(ev).isDefined,
      "sf0.01 fixture must contain a duplicate pair within twice the horizon")
    val got = EventStream.queries("c5_stream_restart_dedup")(spark, sf01).collect()
    assert(got.forall(_.getLong(3) == 1L),
      "a restarted dedup must never re-emit a key")
    assert(got.length ==
      ev.select("user_id", "event_type", "value").distinct().count())
  }

  test("streaming gap-fill emits zero rows for empty days and full counts across the cut") {
    val DayUs = 86400000000L
    val ev = Tables.load(spark, sf, "events")
    val rows = ev.select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // replicate the operator's exact watermark arithmetic (ms-truncated)
    val wmUs = (Math.floorDiv(rows.map(_._2).max, 1000L) - 7200000L) * 1000L
    val lastDay = Math.floorDiv(wmUs - 1L, DayUs) - 1L
    val daily = rows.groupBy { case (t, us) => (t, Math.floorDiv(us, DayUs)) }
      .view.mapValues(_.length.toLong).toMap
    val want = daily.keys.groupBy(_._1).flatMap { case (t, keys) =>
      val d0 = keys.map(_._2).min
      (d0 to lastDay).map(d => (t, d, daily.getOrElse((t, d), 0L)))
    }.toSet
    val got = EventStream.c5StreamGapfill(spark, sf).collect()
      .map(r => (r.getString(0),
        r.getDate(1).toLocalDate.toEpochDay, r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // per-type spines are contiguous and end at the watermark boundary
    got.groupBy(_._1).foreach { case (t, s) =>
      val days = s.map(_._2).toSeq.sorted
      assert(days == (days.min to lastDay), s"$t spine not contiguous")
    }
  }

  test("online anomaly judges each hour against prior hours; baseline carries across batches") {
    val HourUs = 3600000000L
    val ev = Tables.load(spark, sf, "events")
    val rows = ev.select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // replicate the operator's exact watermark arithmetic (ms-truncated)
    val wmUs = (Math.floorDiv(rows.map(_._2).max, 1000L) - 7200000L) * 1000L
    val lastH = Math.floorDiv(wmUs - 1L, HourUs) - 1L
    val hourly = rows.groupBy { case (u, us) => (u, Math.floorDiv(us, HourUs)) }
      .view.mapValues(_.length.toLong).toMap
    val want = hourly.keys.groupBy(_._1).flatMap { case (u, keys) =>
      val hs = keys.map(_._2).filter(_ <= lastH).toSeq.sorted
      hs.zipWithIndex.map { case (h, i) =>
        val prior = hs.take(i).map(h2 => hourly((u, h2)))
        val cnt = hourly((u, h))
        (u, h, cnt, cnt * prior.length > 2L * prior.sum)
      }
    }.toSet
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 3600000L,
        r.getLong(2), r.getBoolean(3))).toSet
    val single = run(EventStream.queries("c5_stream_anomaly")(spark, sf))
    assert(single == want)
    assert(single.nonEmpty)
    // the incremental run must agree exactly — hours finalized in batch 2
    // judged against a baseline that includes batch-1 hours
    assert(run(EventStream.queries("c5_stream_anomaly_incr")(spark, sf)) == single)
  }

  test("streaming top-k ranks the streamed counts like the batch rank") {
    import org.apache.spark.sql.functions._
    val got = EventStream.queries("c5_stream_topk")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    val hourly = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = hourly.groupBy(_._1).toSeq.flatMap { case (h, rows) =>
      rows.sortBy { case (_, t, n) => (-n, t) }.take(2).zipWithIndex
        .map { case ((_, t, n), i) => (h, t, n, i + 1) }
    }.sortBy(r => (r._1.getTime, r._4))
    assert(got.toSeq == want)
    // the incremental form is the finalized-window subset, same ranks
    val incr = EventStream.queries("c5_stream_topk_incr")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(incr.nonEmpty)
    val wantSet = want.toSet
    assert(incr.forall(wantSet.contains),
      "incremental top-k produced a row the full rank does not contain")
    assert(incr.length < want.length,
      "watermark should hold back the last windows")
  }

  test("stream-static enrichment matches the batch join and stays stateless") {
    val got = EventStream.c5StreamEnrich(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.map(_._2).distinct.sorted.toSeq == Seq("heavy", "light"),
      "both profile tiers must appear on testdata")
    // batch re-derivation of the same enrichment
    val ev = Tables.load(spark, sf, "events")
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n_total"))
    val totals = counts.agg(count(lit(1)).as("nu"),
      org.apache.spark.sql.functions.sum("n_total").as("te"))
    val profile = counts.crossJoin(totals)
      .withColumn("tier", org.apache.spark.sql.functions.when(
        col("n_total") * col("nu") >= col("te"), "heavy").otherwise("light"))
      .select("user_id", "tier")
    val want = ev.join(profile, "user_id")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        org.apache.spark.sql.functions.expr(
          "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_value"))
      .orderBy("window_start", "tier").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
    // stateless join: the only stateful operator in the streaming plan is
    // the windowed aggregation — a stream-static join must add NO state
    // (progress reports exactly one stateful operator)
    val enriched = EventStream.readEventsTable(spark, sf)
      .withWatermark("ts", "2 hours")
      .join(org.apache.spark.sql.functions.broadcast(profile), "user_id")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n_events"))
    val q = enriched.writeStream.format("memory")
      .queryName("enrich_state_probe")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000L), "probe query did not finish")
      val ops = q.recentProgress.flatMap(p => Option(p.stateOperators)).flatten
        .map(_.operatorName).distinct
      assert(ops.toSeq == Seq("stateStoreSave"),
        s"expected only the aggregation's state operator, got: ${ops.toSeq}")
    } finally q.stop()
  }

  test("streaming state is O(keys): per-user operators hold at most ~users state rows") {
    import graft.streaming.EventStream
    val users = Tables.load(spark, sf, "events")
      .select(countDistinct(col("user_id"))).head().getLong(0)
    @volatile var maxRows = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          maxRows = math.max(maxRows, ops.map(_.numRowsTotal).sum)
      }
    }
    spark.streams.addListener(listener)
    try {
      def measure(key: String): Long = {
        maxRows = 0L
        EventStream.queries(key)(spark, sf).collect()
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        maxRows
      }
      // mapGroupsWithState running stats: exactly one state row per user
      val statsRows = measure("c5_stream_user_stats")
      assert(statsRows > 0L && statsRows <= users,
        s"user-stats state $statsRows rows exceeds $users distinct users")
      // transformWithState inactivity timers: one ValueState + one
      // re-armed timer per user — bounded by a small constant × users,
      // NEVER by events (the 100 TB growth mode this telemetry watches)
      val inactiveRows = measure("c5_stream_inactive")
      assert(inactiveRows > 0L && inactiveRows <= 4 * users,
        s"inactive-user state $inactiveRows rows not O(users=$users)")
      val nEvents = Tables.load(spark, sf, "events").count()
      assert(inactiveRows < nEvents,
        "state grew with events, not keys")
    } finally spark.streams.removeListener(listener)
  }

  test("dedup state holds DISTINCT in-horizon keys only: eviction bounds it below total keys and events") {
    // The gate corpus can't show this (its 24 h horizon covers the whole
    // corpus, so srows ≈ events there): a stream engineered so distinct
    // keys ≪ events AND the horizon ≪ the stream's time span must show
    // state bounded by keys-per-horizon — neither all events (dedup
    // collapses duplicates to one state row) nor all keys ever seen
    // (watermark eviction drops keys the horizon has passed). This is
    // the O(keys-in-horizon) bound the 100 TB forever-running claim
    // rests on.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val epochs = 8; val k = 25; val d = 8
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = for {
      e <- 0 until epochs; key <- 0 until k; dup <- 0 until d
    } yield Ev(
      event_id = ((e * k + key) * d + dup).toLong,
      // epochs 6 h apart — 3× the 2 h dedup horizon, so earlier epochs'
      // keys MUST evict; duplicates arrive seconds apart (in-horizon)
      ts = new Timestamp(base + e * 6L * 3600 * 1000 + dup * 1000L),
      user_id = (e * k + key).toLong, // fresh keys every epoch
      event_type = "view", value = 1.0, props = "{}")
    @volatile var maxRows = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          maxRows = math.max(maxRows, ops.map(_.numRowsTotal).sum)
      }
    }
    spark.streams.addListener(listener)
    val mem = MemoryStream[Ev]
    val q = graft.streaming.EventStream.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_state_bound")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      rows.grouped(k * d).foreach { epoch =>
        mem.addData(epoch); q.processAllAvailable()
      }
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      // every distinct payload emitted exactly once
      assert(spark.table("dedup_state_bound").count() == (epochs * k).toLong)
      assert(maxRows > 0L, "no state telemetry observed")
      // DISTINCT keys, not events: duplicates collapse to one state row
      assert(maxRows < (k * d).toLong,
        s"state $maxRows ≥ one epoch's events ${k * d} — dedup state is per-event")
      // IN-HORIZON keys, not all keys: eviction must cap the peak at the
      // keys of the few epochs the watermark lag keeps live (≤ 3 of 8)
      assert(maxRows <= 3L * k,
        s"state $maxRows exceeds 3 epochs of keys (${3 * k}) — eviction lagging")
      assert(maxRows < (epochs * k).toLong,
        s"state $maxRows accumulated every key ever seen — eviction dead")
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("batch sessionization query is internally consistent on testdata") {
    val s = EventOps.c5Sessionize(spark, sf).collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      assert(r.getLong(5) >= 0) // duration
      assert(r.getLong(2) >= 1) // n_events
    }
  }

  /** Pins the left-outer interval join's null-emission boundary that the
    * c5_stream_join_outer oracle replays: a matchless purchase emits iff
    * epoch_us(p_ts) < global_watermark_ms · 1000 — STRICTLY below, and at
    * MICROsecond granularity (a row exactly at the watermark, and one
    * 0.5 ms above it, both stay buffered). If a Spark upgrade changes the
    * eviction strictness, this fails before the oracle does.
    */
  test("left-outer interval join: null emission boundary is p_us < wm_ms * 1000") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(ms: Long, us: Long = 0): Timestamp = {
      val t = new Timestamp(ms)
      t.setNanos((((ms % 1000) * 1000 + us) * 1000).toInt)
      t
    }
    val T = 1704110400000L // 2024-01-01 12:00:00 UTC, whole second
    val W = T - 7200000L   // both sides' max ts = T -> global watermark
    def ev(id: Long, u: Long, typ: String, ts: Timestamp): Ev =
      Ev(id, ts, u, typ, 1.0, "{}")
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = EventStream.purchaseClickJoin(pMem.toDF(), cMem.toDF(), "left_outer")
      .writeStream.format("memory").queryName("oj_boundary")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // users 1-4 have NO clicks; only the watermark decides their fate.
      pMem.addData(Seq(
        ev(1, 1, "purchase", at(W - 1)),   // 1 ms below the watermark
        ev(2, 2, "purchase", at(W)),       // exactly at it
        ev(3, 3, "purchase", at(W + 1)),   // 1 ms above
        ev(4, 4, "purchase", at(W, 500)),  // 0.5 ms above (sub-ms probe)
        ev(5, 98, "purchase", at(T))))     // drives the left watermark
      cMem.addData(Seq(ev(100, 99, "click", at(T)))) // drives the right
      q.processAllAvailable()
      // Second batch with the SAME max event time: the watermark computed
      // from batch 1 is now in force but does not move further — eviction
      // runs against exactly W.
      cMem.addData(Seq(ev(101, 99, "click", at(T))))
      q.processAllAvailable()
      val got = spark.table("oj_boundary").filter(col("c_id").isNull)
        .select("p_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L), s"unexpected null-emission set: $got")
    } finally q.stop()
  }

  test("streaming left-outer interval join == batch replay with the eviction rule") {
    val got = EventStream.queries("c5_stream_join_outer")(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    val ev = Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val inner = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
        col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    val maxP = p.agg(max(unix_micros(col("p_ts")))).head().getLong(0)
    val maxC = c.agg(max(unix_micros(col("c_ts")))).head().getLong(0)
    val wmUs = (math.min(maxP / 1000L, maxC / 1000L) - 7200000L) * 1000L
    val matched = inner.map(_._1)
    val unmatched = p.select(col("p_id"), unix_micros(col("p_ts")).as("us"))
      .collect()
      .filter(r => !matched.contains(r.getLong(0)) && r.getLong(1) < wmUs)
      .map(r => (r.getLong(0), None: Option[Long])).toSet
    assert(unmatched.nonEmpty, "corpus yields no watermark-cleared matchless purchase")
    assert(got == inner ++ unmatched)
  }

  test("outer join: the two-file and restart arrivals equal the whole-table arrival") {
    // Pins the one outer-join builder at all three arrivals: each of the
    // split arrivals runs with its witness (a pair straddling the cut and
    // an early purchase evicted by the late watermark) and, after the
    // restart, the one-match-status invariant, then must land on the
    // single-batch result.
    def rows(key: String) = EventStream.queries(key)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val whole = rows("c5_stream_join_outer")
    assert(whole.exists(_._3.isEmpty) && whole.exists(_._3.isDefined),
      "fixture must yield matched and null-matched purchases")
    assert(rows("c5_stream_join_outer_incr") == whole)
    assert(rows("c5_stream_restart_outer") == whole)
  }

  test("a failed split write leaves no staging or source dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def splitDirs(): Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(n => n.startsWith("graft_incr_stage") || n.startsWith("graft_incr_src"))
      .toSet
    val before = splitDirs()
    val ev = Tables.load(spark, sf, "events")
    // the late half's write job fails at run time, after the early half
    // was written and moved into the source dir
    val failing = ev.withColumn("event_type",
      raise_error(lit("injected half-write failure")).cast("string"))
    val err = intercept[Exception](EventStream.writeOrderedSplitDir(ev, failing))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected half-write failure")),
      s"unexpected failure: $err")
    val left = splitDirs() -- before
    assert(left.isEmpty, s"split dirs left behind: $left")
  }

  test("stream neardup gate: cross-batch bucket state dedups a later near-dup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = EventStream.docNearDupMins(spark, mem.toDF())
      .writeStream.format("memory").queryName("neardup_state_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // Batch 1: the original (doc 1) and an unrelated doc (doc 5).
      mem.addData(Seq(DocRow(1L, "x y z"), DocRow(5L, "p q r s t")))
      q.processAllAvailable()
      // Batch 2: an exact near-dup of doc 1 arrives LATER — every one of
      // its 16 band buckets must resolve against batch-1 STATE (min = 1),
      // not just batch-2 rows; and an intra-batch dup pair (7, 9).
      mem.addData(Seq(DocRow(100L, "x y z"),
        DocRow(7L, "m n o u v"), DocRow(9L, "m n o u v")))
      q.processAllAvailable()
      val assign = spark.table("neardup_state_test")
        .groupBy("doc_id").agg(min(col("bucket_min")).as("rep"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(assign(1L) === 1L)
      assert(assign(5L) === 5L)
      assert(assign(100L) === 1L,  // the cross-batch property
        s"batch-2 near-dup resolved to ${assign(100L)}, not the batch-1 original")
      assert(assign(7L) === 7L && assign(9L) === 7L) // intra-batch pair
    } finally q.stop()
  }

  test("stream neardup gate state: one row per DISTINCT bucket, not per doc-band") {
    // The gate's 100 TB state claim (PLANS.md): one long per distinct
    // (band, bucket) — near-dups share buckets, so duplicated corpora
    // collapse instead of growing state by docs×bands. Unlike the
    // watermarked exact-dedup state this never evicts by design: it IS
    // the dedup identity index (the batch-built index a takedown would
    // compact), so the bound to pin is distinct-buckets, not a horizon.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = (0 until 10).map(i => s"alpha$i beta$i gamma$i delta$i")
    val docs = (0 until 20).map(i => DocRow(i.toLong, texts(i % 10)))
    val distinctBuckets = graft.dedup.MinHash.membershipsFromSets(
      docs.toDF(), col("doc_id"), graft.dedup.MinHash.tokenSet(col("text")),
      numHashes = 64, bands = 16)
      .select("band", "bucket").distinct().count()
    @volatile var maxRows = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          maxRows = math.max(maxRows, ops.map(_.numRowsTotal).sum)
      }
    }
    spark.streams.addListener(listener)
    val mem = MemoryStream[DocRow]
    val q = EventStream.docNearDupMins(spark, mem.toDF())
      .writeStream.format("memory").queryName("neardup_state_bound")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      docs.grouped(10).foreach { b => mem.addData(b); q.processAllAvailable() }
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
      // every (doc, band) membership emitted exactly once
      assert(spark.table("neardup_state_bound").count() === 20L * 16)
      assert(maxRows > 0L, "no state telemetry observed")
      assert(maxRows === distinctBuckets,
        s"state $maxRows != distinct buckets $distinctBuckets — " +
          "gate state is not the per-bucket index the scale claim pins")
      // and distinctly NOT docs×bands (the duplicates must collapse)
      assert(distinctBuckets < 20L * 16)
    } finally q.stop()
  }

  test("live semantic gate: cross-batch cell state matches a later twin arrival") {
    // The self-admitting contract's mechanism under controlled arrivals:
    // a batch-2 exact twin of a batch-1 arrival must live-match it FROM
    // STATE (the twin shares the original's probe list, and the
    // original's codes sit in its assigned cell's postings). Also pins
    // the strict j < i candidate order: no live pair may ever point
    // forward.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
      .orderBy("vec_id").limit(2)
      .as[VecRow].collect()
    val a = base(0)
    val b = base(1)
    val twin = VecRow(1000000002L, a.embD)
    val mem = MemoryStream[VecRow]
    val q = EventStream.semanticLivePairs(spark, sf, mem.toDF(),
        topc = graft.queries.SimOps.IncSemTopC)
      .toDF().writeStream.format("memory").queryName("live_state_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      mem.addData(Seq(a, b))
      q.processAllAvailable()
      mem.addData(Seq(twin))
      q.processAllAvailable()
      val pairs = spark.table("live_state_test")
      val livePairs = pairs.filter(col("live"))
        .select("n_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(livePairs.contains((twin.vec_id, a.vec_id)),
        s"batch-2 twin did not live-match the batch-1 original from " +
          s"state; live pairs: $livePairs")
      assert(pairs.filter(col("live") && col("b_id") >= col("n_id")).isEmpty,
        "a live pair points at itself or forward — the strict j < i " +
          "candidate order is broken")
    } finally q.stop()
  }

  test("live semantic gate state: one row per DISTINCT assigned cell") {
    // The live index's state bound: flatMapGroupsWithState keys on the
    // assigned cell, so state rows = distinct assigned cells among the
    // arrivals (bytes grow as O(arrivals · subspaces) posting ints —
    // the minimal semantic index), never rows per arrival × probe.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val arr = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
      .orderBy("vec_id").limit(40)
      .as[VecRow].collect()
    val expectedCells = graft.queries.SimOps.semanticProbeFrame(
        spark, sf, arr.toSeq.toDF("vec_id", "embD"),
        nprobe = graft.queries.SimOps.LiveNprobe,
        excludeMod = graft.queries.SimOps.LiveSliceMod,
        excludeRem = graft.queries.SimOps.LiveSliceRem)
      .filter(col("pos") === 0)
      .select("cell").distinct().count()
    @volatile var maxRows = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          maxRows = math.max(maxRows, ops.map(_.numRowsTotal).sum)
      }
    }
    spark.streams.addListener(listener)
    val mem = MemoryStream[VecRow]
    val q = EventStream.semanticLivePairs(spark, sf, mem.toDF(),
        topc = graft.queries.SimOps.IncSemTopC)
      .toDF().writeStream.format("memory").queryName("live_state_bound")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      arr.grouped(20).foreach { batch =>
        mem.addData(batch.toSeq)
        q.processAllAvailable()
      }
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
      assert(maxRows > 0L, "no state telemetry observed")
      assert(maxRows === expectedCells,
        s"state $maxRows != distinct assigned cells $expectedCells — " +
          "gate state is not the per-cell posting index the scale claim pins")
      assert(expectedCells < 40L,
        "arrivals spread over ≥ one cell each — the collapse is vacuous")
    } finally q.stop()
  }

  test("live-gate in-state ADC recompute is bit-identical to the in-plan tables") {
    // The round-18 optimization replaced the stateful stage's per-row
    // kSub·subspaces-double lookup tables with an in-state recompute
    // from the raw embedding + the broadcast model (liveResidual +
    // liveAdcRaw). The live tier's ADC values must stay EXACTLY the
    // doubles the table path produced (the oracle replays them through
    // one arithmetic): per (arrival × probed cell) row of the real
    // corpus frame, score every stored posting of that cell both ways
    // and assert raw-double equality — before any rounding, so even a
    // 1-ulp fold-order drift fails.
    val arrivals = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
      .orderBy("vec_id").limit(12)
    val frame = graft.queries.SimOps.semanticProbeFrame(
        spark, sf, arrivals, nprobe = graft.queries.SimOps.LiveNprobe,
        excludeMod = graft.queries.SimOps.LiveSliceMod,
        excludeRem = graft.queries.SimOps.LiveSliceRem)
      .filter(col("cands").isNotNull)
      .select(col("cell"), col("n_emb"), col("tbls"),
        expr("transform(cands, c -> c.codes)").as("postings"))
      .collect()
    assert(frame.nonEmpty, "no (arrival × cell) rows with postings")
    val (coarseArr, booksArr) =
      graft.queries.SimOps.scaledPqModelArrays(spark, sf)
    val subLen = coarseArr(0).length / booksArr.length
    var compared = 0L
    frame.foreach { r =>
      val cell = r.getInt(0)
      val emb = r.getSeq[Double](1).toArray
      val tbls = r.getSeq[scala.collection.Seq[Double]](2).map(_.toIndexedSeq)
      val enc = EventStream.liveResidual(emb, coarseArr(cell - 1))
      r.getSeq[scala.collection.Seq[Int]](3).foreach { codesSeq =>
        val codes = codesSeq.toArray
        var viaTables = 0.0
        var m = 0
        while (m < codes.length) {
          viaTables += tbls(m)(codes(m) - 1); m += 1
        }
        val recomputed = EventStream.liveAdcRaw(enc, codes, booksArr, subLen)
        assert(recomputed == viaTables,
          s"ADC drift: recomputed $recomputed != table read $viaTables " +
            s"(cell $cell, codes ${codes.mkString(",")})")
        compared += 1
      }
    }
    assert(compared > 100L, s"only $compared postings compared — vacuous")
  }

  test("c5_stream_neardup == batch c2_minhash_lsh assignment on the corpus") {
    // Id-ordered two-batch arrival makes the streamed per-prefix
    // decisions coincide with the batch assignment — the equality the
    // oracle reuse rests on. Run the REAL query (file split, two data
    // micro-batches, parquet sink, read-side fold) against the batch
    // machinery it claims to replay.
    val streamed = EventStream.queries("c5_stream_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val batch = graft.dedup.MinHash.dedupAssignments(
        Tables.load(spark, sf, "documents"), col("doc_id"), col("text"),
        numHashes = 64, bands = 16)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(streamed.length === batch.length)
    assert(streamed.sameElements(batch))
    // Non-vacuous: at least one admission decision actually crossed the
    // batch cut (a later doc resolved to an earlier-batch original).
    val ids = streamed.map(_._1)
    val cut = Math.floorDiv(ids.min + ids.max, 2L)
    assert(streamed.exists { case (id, rep, _) => id > cut && rep <= cut },
      "no duplicate pair straddles the id cut — the corpus no longer " +
        "exercises cross-batch state; engineer one or move the cut")
  }

  test("checkpointed restart recovers the near-dup gate's (band, bucket) min state") {
    // The query asserts internally that ≥1 late doc was assigned an
    // EARLY bucket min (impossible for lifecycle B without recovered
    // state — its input holds no early id) and rejects vacuity; here we
    // also pin that the two-lifecycle run equals the single-lifecycle
    // two-batch gate — recovery must be invisible in the assignment.
    val got = EventStream.queries("c5_stream_restart_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val want = EventStream.queries("c5_stream_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.nonEmpty)
    assert(got.sameElements(want))
  }

  test("c5_stream_semantic == batch c2_incremental_semantic decisions") {
    // Decisions depend only on the persisted index (stream-static
    // joins), so the two-batch streamed run must reproduce the batch
    // gate bit-for-bit — the prefix-consistency the oracle reuse rests
    // on. Also pin non-degeneracy: both decision kinds occur.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val got = EventStream.c5StreamSemantic(spark, sf).collect().map(key)
    val want = graft.queries.SimOps.c2IncrementalSemantic(spark, sf)
      .collect().map(key)
    assert(got.nonEmpty)
    assert(got.sameElements(want))
    assert(got.exists(_._2) && got.exists(!_._2),
      "degenerate corpus: all-novel or all-duplicate decisions")
  }

  test("skipping the no-data finalization batch leaves opted-in results identical") {
    // One representative per opted-in class (see withStreamConfs's
    // scaladoc): dedup-key state, stream-stream INNER join buffers, the
    // NoTimeout flatMapGroupsWithState gate, and the multi-batch
    // incremental dedup. Each runs with the skip active
    // (the default) and with the kill-switch forcing the finalizing
    // batch back on; the sinks must be identical — the no-data batch
    // only evicts state for these operators, it never emits.
    val key = "spark.graft.stream.skipNoDataBatches"
    val fams = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "dedup" -> EventStream.queries("c5_stream_dedup"),
      "join" -> EventStream.queries("c5_stream_join"),
      "session_state" -> EventStream.queries("c5_stream_sessionize_state"),
      "neardup" -> EventStream.queries("c5_stream_neardup"),
      "dedup_incr" -> EventStream.queries("c5_stream_dedup_incr"))
    fams.foreach { case (name, q) =>
      val skipped = q(spark, sf).collect().map(_.toString).sorted
      spark.conf.set(key, "false")
      try {
        val finalized = q(spark, sf).collect().map(_.toString).sorted
        assert(skipped.sameElements(finalized),
          s"$name: skipping the no-data batch changed the result " +
            s"(${finalized.length} vs ${skipped.length} rows)")
      } finally spark.conf.unset(key)
    }
  }

  test("state-store provider independence: RocksDB results == default-store results") {
    // One representative query per non-tws state family (tws is ALWAYS
    // RocksDB), each run under both providers in-process: windowed
    // aggregation state, dedup-key state, flatMapGroupsWithState
    // arbitrary state, and stream-stream join buffers. A provider-
    // dependent result (e.g. an iteration-order assumption that the
    // on-heap map satisfies and the sorted RocksDB layout does not)
    // breaks here, not only in a round's one-off RocksDB pass. The
    // full 34-query equivalence at sf0.01 is in BASELINE.md round 13.
    val fams = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "tumbling" -> EventStream.queries("c5_stream_tumbling"),
      "dedup" -> EventStream.queries("c5_stream_dedup"),
      "session_state" -> EventStream.queries("c5_stream_sessionize_state"),
      "join" -> EventStream.queries("c5_stream_join"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    fams.foreach { case (name, q) =>
      val base = q(spark, sf).collect().map(_.toString).sorted
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val rocks = q(spark, sf).collect().map(_.toString).sorted
        assert(rocks.sameElements(base),
          s"$name: RocksDB provider changed the result " +
            s"(${base.length} vs ${rocks.length} rows)")
      } finally spark.conf.unset(key)
    }
  }

  test("the streaming runner rejects a run with the wrong data-batch count") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val sink = EventStream.MemorySink(org.apache.spark.sql.streaming.OutputMode.Append())
    // the two-file split arrives as two data micro-batches: a
    // single-batch oracle must refuse it
    val split = EventStream.splitStream(EventStream.eventSplit(spark, sf))
    val exact = intercept[IllegalStateException] {
      EventStream.runStream(split.select("event_id"), sink, EventStream.Exactly(1))
    }
    assert(exact.getMessage.contains("ran 2 data micro-batches"), exact.getMessage)
    assert(exact.getMessage.contains("only valid for exactly 1"), exact.getMessage)
    // the single-file events table arrives as one: an incremental check
    // must refuse it
    val events = EventStream.readEventsTable(spark, sf)
    val atLeast = intercept[IllegalStateException] {
      EventStream.runStream(events.select("event_id"), sink, EventStream.AtLeast(2))
    }
    assert(atLeast.getMessage.contains("ran 1 data micro-batches"), atLeast.getMessage)
    assert(atLeast.getMessage.contains("verify incremental arrival (>= 2)"),
      atLeast.getMessage)
  }

  test("repeated restart checks leave no checkpoint and at most one sink dir") {
    // The lifecycles' checkpoint is deleted once lifecycle B has
    // terminated and their sink is swept when the next parquet sink is
    // created; the split is memoized, so after one warm-up run the graft*
    // temp entries may grow by the one live sink at most.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries(): Int = Option(tmp.list()).toSeq.flatten.count(_.startsWith("graft"))
    EventStream.queries("c5_stream_restart")(spark, sf).collect()
    val before = graftEntries()
    val results = (1 to 3).map(_ => EventStream.queries("c5_stream_restart")(spark, sf).collect().toSeq)
    assert(results.forall(_ == results.head) && results.head.nonEmpty)
    assert(graftEntries() - before <= 1,
      s"graft* temp entries grew from $before to ${graftEntries()}")
  }
}
