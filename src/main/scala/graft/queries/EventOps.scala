package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group C (time-series) — C5: windowing and sessionization over the
  * `events` table (SURVEY.md §2.3 C5).
  *
  * The reference is batch-only with no notion of time
  * (`/root/reference/src/tmapreduce/job.h:26-39` runs once to FINISHED);
  * these are the batch forms, and graft.streaming.EventStream reuses the
  * same window shapes under Structured Streaming with watermarks.
  *
  * Scale posture: every query shuffles exactly once on its natural key
  * (window bucket or user_id); sessionization is a window function over
  * user partitions — at 100 TB that is one hash shuffle on user_id, and
  * AQE handles hot users. Value sums go through exact decimals so the
  * DuckDB oracle matches bitwise (see Exact).
  */
object EventOps {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  private[graft] val sumValue =
    "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"

  /** The inactivity gap that closes a session, shared by the batch and
    * streaming sessionizers and their oracles.
    */
  private[graft] val SessionGapMinutes = 30
  private[graft] val SessionGapUs = SessionGapMinutes * 60000000L

  /** Gaps-and-islands sessions in DuckDB: `flagged` marks each event that
    * starts a session (first of its user, or a gap ≥ the session gap
    * after the previous one); `sess` numbers the sessions per user. The
    * one replay of every sessionizer here and in
    * graft.streaming.EventStream.
    */
  private[graft] val sessionCtes: String =
    "WITH flagged AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN lag(ts) OVER w IS NULL OR " +
      s"epoch_us(ts) - epoch_us(lag(ts) OVER w) >= $SessionGapUs THEN 1 ELSE 0 END " +
      "AS new_session FROM events WINDOW w AS " +
      "(PARTITION BY user_id ORDER BY ts, event_id)), " +
      "sess AS (SELECT user_id, ts, SUM(new_session) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx " +
      "FROM flagged)"

  /** C5a: tumbling 1-hour windows — event count, distinct users, exact
    * value sum per (window, event_type). Uses Spark's `window()` operator;
    * the oracle expresses the same bucketing with date_trunc.
    */
  def c5Tumbling(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.col(sumValue).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** C5b: sliding windows (1 hour, sliding 30 min) — each event lands in
    * 2 buckets; oracle = union of two shifted tumbling bucketings.
    */
  def c5Sliding(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .orderBy("window_start")

  /** C5c: sessionization — [[SessionGapMinutes]]-gap sessions per user via the classic
    * gaps-and-islands window plan (lag → new-session flag → running sum).
    * One shuffle on user_id; the same logic DuckDB can express, so this is
    * fully oracle-checked (unlike opaque session ids, session_idx is a
    * deterministic per-user ordinal).
    */
  def c5Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // Microsecond epochs (unix_micros / epoch_us) with integer division:
    // `cast(ts as long)` floors to seconds while DuckDB's epoch() keeps
    // fractions, which made second-level diffs disagree by one.
    val flagged = ev(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .divide(lit(1000000L)).cast("long")).as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  /** C5d: per-user event sequencing — previous event type and seconds
    * since it (lag analytics over the event stream).
    */
  def c5UserSeq(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("secs_since_prev",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .divide(lit(1000000L)).cast("long"))
      .select("event_id", "user_id", "event_type", "prev_type", "secs_since_prev")
      .orderBy("event_id")
  }

  /** C5e: AS-OF join — attribute each purchase to the same user's most
    * recent view/click at-or-before the purchase time. Spark has no
    * native as-of join; the scalable composition is the union + windowed
    * last_value trick: tag both sides, union, and carry the latest
    * right-side row forward within each user's time-ordered stream —
    * ONE shuffle on user_id, no range-join pair explosion (a naive
    * range join is O(|L|·|R|) per key; this is O((|L|+|R|) log)).
    * Right rows sort before left rows at equal ts so the match is
    * inclusive (ts_right <= ts_left), matching DuckDB's ASOF JOIN.
    */
  def c5AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val left = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        lit(0).as("is_right"), lit(null).cast("bigint").as("r_event_id"),
        lit(null).cast("timestamp").as("r_ts"))
    val right = e.filter(col("event_type").isin("view", "click"))
      .select(lit(null).cast("bigint").as("event_id"), col("user_id"), col("ts"),
        lit(1).as("is_right"), col("event_id").as("r_event_id"),
        col("ts").as("r_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_right").desc, col("r_event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("matched_event", last(col("r_event_id"), ignoreNulls = true).over(w))
      .withColumn("matched_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("matched_event"), col("matched_ts"))
      .orderBy("event_id")
  }

  /** C5f: conversion funnel — users who viewed, then clicked strictly
    * after their first view, then purchased strictly after that first
    * qualifying click. Each stage is one aggregate + one equi-join on
    * user_id (broadcast-sized stage tables at any corpus scale: one row
    * per surviving user); no window needed.
    */
  def c5Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val stages = Seq(("1_view", v), ("2_click_after_view", c), ("3_purchase_after_click", p))
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    }.reduce(_.unionByName(_)).orderBy("stage")
  }

  /** C5g: cohort retention — users cohorted by first-seen date; for each
    * (cohort, day-offset) cell, how many of the cohort's users were
    * active that day. The classic product-analytics matrix (funnel's
    * sibling). Two shuffles: the per-user min (partial agg) and the
    * final cell aggregate — the cohort table is one row per user, so the
    * join back is a plain equi-join AQE can handle at any scale.
    */
  def c5Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** C5i: gap-filled daily resample — per event_type daily counts with
    * MISSING days emitted as explicit zero rows over the corpus's full
    * date span (the resample/fill operator every monitoring or
    * feature-engineering pipeline needs; a plain groupBy silently skips
    * empty days and downstream averages/charts lie). The date spine is
    * one `sequence()` explode off the global min/max day cross-joined
    * with the distinct types — O(days × types) rows, trivially
    * broadcast — left-joined against the real daily aggregate, which
    * remains the only corpus-sized shuffle.
    */
  def c5Gapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(to_date(col("ts")).as("day"), col("event_type"))
    val daily = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val spine = e.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .crossJoin(e.select(col("event_type")).distinct())
    spine.join(daily, Seq("day", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .orderBy("day", "event_type")
  }

  /** C5j: burst / anomaly detection — per (user, hour) event counts
    * flagged where the hour's count exceeds 2× the user's mean hourly
    * rate (the ops-monitoring / abuse-detection shape: find the hours a
    * user's activity spiked). The FLAG is pure integer arithmetic
    * (`cnt · h > 2 · t` — no float threshold can hash-flip it); the
    * reported z-score is computed with one fixed expression tree
    * (double divisions + one IEEE sqrt, identical in the oracle) and
    * rounded to 6dp. Two shuffles — (user, hour) then user — both
    * partial aggregates; the stats join back is a plain equi-join on
    * user_id (one row per user, AQE-safe at any scale).
    */
  def c5Anomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = ev(spark, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy("user_id")
      .agg(count(lit(1)).as("h"), sum(col("cnt")).as("t"),
        sum(col("cnt") * col("cnt")).as("s2"))
    val mean = col("t").cast("double") / col("h")
    val variance = col("s2").cast("double") / col("h") - mean * mean
    hourly.join(stats, "user_id")
      .filter(col("cnt") * col("h") > col("t") * 2)
      .select(col("user_id"), col("hour"), col("cnt"),
        round(mean, 6).as("mean_cnt"),
        when(variance > 0,
          round((col("cnt") - mean) / sqrt(variance), 6)).as("z"))
      .orderBy("user_id", "hour")
  }

  /** C5k: semi-structured property extraction — the `props` column is
    * JSON text (the reference moves opaque string values end-to-end,
    * `/root/reference/src/tmapreduce/job.h:17-24`; any structure lives in
    * user code — here extraction is first-class). `get_json_object`
    * pulls `$.k` per event, and the aggregate profiles it per
    * (event_type, k-decade): count, sum, min/max, distinct users.
    * Scale: the JSON path evaluation is a narrow codegen'd projection
    * under the single partial+final aggregate shuffle — no UDF, no
    * re-parse per field (one path here; a multi-field profile would use
    * `from_json` once per row). Malformed/missing keys surface as the
    * explicit -1 bucket rather than engine-dependent NULL ordering.
    */
  def c5JsonExtract(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      // FLOOR-safe decade bucket: Spark `div` truncates toward zero
      // while DuckDB `//` floors, so a plain `k div 10` diverges on
      // negative k. Subtract the sign-safe positive mod first — the
      // quotient is then exact, so truncation and floor agree. The
      // subtraction itself underflows int64 for the partial lowest
      // decade (k ≤ MinValue+7: k − pmod(k,10) < MinValue, where Spark
      // wraps silently but DuckDB raises BIGINT overflow), so that
      // decade is special-cased to its closed-form bucket
      // floor(MinValue/10) = MinValue/10 − 1 in BOTH engines — the
      // arithmetic branch then provably never underflows for the ks
      // that reach it. The missing-key sentinel is Long.MinValue —
      // outside the reachable bucket range (min bucket is
      // MinValue/10 − 1 > MinValue), so null-k events can never
      // conflate with a real small-negative decade.
      .withColumn("k_bucket",
        coalesce(
          when(col("k") <= lit(Long.MinValue + 7L),
            lit(Long.MinValue / 10L - 1L))
            .otherwise(expr("(k - (((k % 10) + 10) % 10)) div 10")),
          lit(Long.MinValue)))
      .groupBy(col("event_type"), col("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "k_bucket")

  /** C5l: event-type transition matrix — the first-order Markov view of
    * user behavior (the sequence-mining aggregate every product or
    * curriculum pipeline derives before building session models): for
    * each ordered pair (prev_type → event_type) of consecutive events of
    * the same user, the transition count and row-normalized probability.
    * One shuffle on user_id for the lag window, then a partial+final
    * aggregate on the (prev, next) pair — the probability normalizer is
    * a window over the O(|types|²) aggregate, never over events. The
    * probability is one int64/int64 division rounded at 6dp — exact and
    * order-free, so the oracle matches bitwise.
    */
  def c5Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = ev(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
      .orderBy("prev_type", "event_type")
  }

  private val anomalyMean = "CAST(t AS DOUBLE)/h"
  private val anomalyVar =
    s"CAST(s2 AS DOUBLE)/h - ($anomalyMean)*($anomalyMean)"

  val oracle: Map[String, String] = Map(
    "c5_json_extract" ->
      ("WITH e AS (SELECT event_type, user_id, " +
        "CAST(props->>'k' AS BIGINT) AS k FROM events) " +
        "SELECT event_type, " +
        "COALESCE(CASE WHEN k <= (-9223372036854775807 - 1) + 7 " +
        "THEN -922337203685477581 " +
        "ELSE (k - (((k % 10) + 10) % 10)) // 10 END, " +
        "-9223372036854775807 - 1) AS k_bucket, " +
        "count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k, " +
        "min(k) AS min_k, max(k) AS max_k, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM e GROUP BY 1, 2 ORDER BY 1, 2"),
    "c5_transitions" ->
      ("WITH s AS (SELECT event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type " +
        "FROM events), " +
        "t AS (SELECT prev_type, event_type, count(*) AS n FROM s " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, event_type, n, " +
        "round(CAST(n AS DOUBLE) / CAST(sum(n) OVER " +
        "(PARTITION BY prev_type) AS DOUBLE), 6) AS p " +
        "FROM t ORDER BY prev_type, event_type"),
    "c5_anomaly" ->
      ("WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS hour, " +
        "count(*) AS cnt FROM events GROUP BY 1, 2), " +
        "st AS (SELECT user_id, count(*) AS h, " +
        "CAST(sum(cnt) AS BIGINT) AS t, CAST(sum(cnt*cnt) AS BIGINT) AS s2 " +
        "FROM hourly GROUP BY user_id) " +
        "SELECT hourly.user_id, hour, cnt, " +
        s"round($anomalyMean, 6) AS mean_cnt, " +
        s"CASE WHEN $anomalyVar > 0 THEN " +
        s"round((cnt - $anomalyMean)/sqrt($anomalyVar), 6) END AS z " +
        "FROM hourly JOIN st USING (user_id) " +
        "WHERE cnt*h > t*2 ORDER BY user_id, hour"),
    "c5_gapfill" ->
      ("WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events), " +
        "daily AS (SELECT day, event_type, count(*) AS n_events " +
        "FROM e GROUP BY day, event_type), " +
        "b AS (SELECT min(day) AS mn, max(day) AS mx FROM e), " +
        "spine AS (SELECT CAST(gs.d AS DATE) AS day, t.event_type " +
        "FROM b, LATERAL (SELECT unnest(generate_series(b.mn, b.mx, " +
        "INTERVAL 1 DAY)) AS d) gs " +
        "CROSS JOIN (SELECT DISTINCT event_type FROM e) t) " +
        "SELECT spine.day, spine.event_type, " +
        "COALESCE(daily.n_events, 0) AS n_events " +
        "FROM spine LEFT JOIN daily USING (day, event_type) " +
        "ORDER BY day, event_type"),
    "c5_retention" ->
      ("WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id) " +
        "SELECT cohort_day, " +
        "CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, " +
        "CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active " +
        "FROM d JOIN c ON d.user_id = c.user_id " +
        "GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"),
    "c5_funnel" ->
      ("WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e " +
        "JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e " +
        "JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT stage, n_users FROM (" +
        "SELECT '1_view' AS stage, count(*) AS n_users FROM v " +
        "UNION ALL SELECT '2_click_after_view', count(*) FROM c " +
        "UNION ALL SELECT '3_purchase_after_click', count(*) FROM p) " +
        "ORDER BY stage"),
    "c5_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
        "count(*) AS n_events, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        s"$sumValue AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "c5_sliding" ->
      // An event at t lands in the two 1-hour windows whose 30-min-aligned
      // starts satisfy s <= t < s+1h: floor30(t) and floor30(t)-30min.
      ("SELECT window_start, count(*) AS n_events FROM (" +
        "SELECT unnest([time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start " +
        "FROM events) GROUP BY window_start ORDER BY window_start"),
    "c5_sessionize" ->
      (s"$sessionCtes SELECT user_id, " +
        "CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events, " +
        "min(ts) AS session_start, max(ts) AS session_end, " +
        "CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS duration_sec " +
        "FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx"),
    "c5_asof_join" ->
      // DuckDB has a native ASOF JOIN; ts values are unique per user in
      // the corpus (verified), so the inclusive match is deterministic.
      ("SELECT l.event_id, l.user_id, l.ts, " +
        "r.event_id AS matched_event, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type IN ('view','click')) r " +
        "ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l.event_id"),
    "c5_user_seq" ->
      ("SELECT event_id, user_id, event_type, " +
        "lag(event_type) OVER w AS prev_type, " +
        "CAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS BIGINT) AS secs_since_prev " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY event_id")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c5_tumbling" -> (c5Tumbling _),
    "c5_sliding" -> (c5Sliding _),
    "c5_sessionize" -> (c5Sessionize _),
    "c5_user_seq" -> (c5UserSeq _),
    "c5_asof_join" -> (c5AsofJoin _),
    "c5_funnel" -> (c5Funnel _),
    "c5_retention" -> (c5Retention _),
    "c5_gapfill" -> (c5Gapfill _),
    "c5_anomaly" -> (c5Anomaly _),
    "c5_json_extract" -> (c5JsonExtract _),
    "c5_transitions" -> (c5Transitions _)
  )
}
