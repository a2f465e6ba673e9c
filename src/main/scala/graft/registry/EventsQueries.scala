package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.plans.Joins
import graft.scale.Events
import graft.streaming.Streams
import QueryHelpers._

/** Event-stream analytics ([[graft.scale.Events]]): sessions, windowed
  * aggregates, as-of and range joins, funnels, cohorts, time-series fits and
  * survival curves, with their streaming twins.
  */
object EventsQueries {

  // ---- scale: sliding-window aggregation (1h window / 30m slide) ---------
  private val slidingAggEvents = QuerySpec("sliding_agg_events", (s, dir) =>
    Events.slidingAgg(t(s, dir, "events"))
      .orderBy(col("win_start"), col("event_type")),
    """WITH e AS (
      |  SELECT event_type, value,
      |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) AS ep
      |  FROM events),
      |w AS (
      |  SELECT event_type, value,
      |    unnest([ (ep // 1800) * 1800 - 1800, (ep // 1800) * 1800 ])
      |      AS win_start
      |  FROM e)
      |SELECT win_start, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---- per-type daily trend: exact-integer least squares -----------------
  private val trendFitEvents = QuerySpec("trend_fit_events", (s, dir) =>
    Events.trendFit(t(s, dir, "events")).orderBy(col("event_type")),
    """WITH d AS (
      |  SELECT event_type,
      |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
      |    CAST(SUM(day * yc) AS BIGINT) AS sxy,
      |    CAST(SUM(day * day) AS BIGINT) AS sxx
      |  FROM d GROUP BY 1)
      |SELECT event_type, n AS n_days,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) / 100.0, 6)
      |    AS slope_per_day
      |FROM s ORDER BY event_type""".stripMargin)

  // ---- daily autocorrelation (periodicity signature, lags 1..7) ----------
  // trend asks "is it drifting?", seasonality "which hours?", ACF "does
  // today predict d days ahead?" — gap-filled so quiet days are zero
  // observations, not spliced-out gaps.
  private val acfEvents = QuerySpec("acf_events", (s, dir) =>
    Events.acf(t(s, dir, "events"), 7)
      .orderBy(col("event_type"), col("lag")),
    // gap-filled daily series (generate_series per type), lag self-join,
    // exact HUGEINT moments, the fixed-order sqrt ratio mirrored
    """WITH d AS (
      |  SELECT event_type,
      |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |  FROM d GROUP BY 1),
      |scaf AS (
      |  SELECT s.event_type, u.day
      |  FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS u(day)),
      |filled AS (
      |  SELECT sc.event_type, sc.day, COALESCE(d.yc, 0) AS yc
      |  FROM scaf sc
      |  LEFT JOIN d ON d.event_type = sc.event_type AND d.day = sc.day),
      |pairs AS (
      |  SELECT a.event_type, l.lag,
      |    CAST(a.yc AS HUGEINT) AS x, CAST(b.yc AS HUGEINT) AS y
      |  FROM filled a
      |  JOIN (SELECT UNNEST(range(1, 8)) AS lag) l ON TRUE
      |  JOIN filled b ON b.event_type = a.event_type
      |    AND b.day = a.day + l.lag),
      |m AS (
      |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
      |  CASE WHEN n_pairs * sxx - sx * sx > 0
      |        AND n_pairs * syy - sy * sy > 0 THEN
      |    ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
      |  END AS acf
      |FROM m ORDER BY event_type, lag""".stripMargin)

  // ---- CUSUM changepoint localization (WHEN did the level shift) ---------
  // psi/ks say "the distribution moved", trend says "how fast" — CUSUM
  // names the day: max-|Sₖ| over exact scaled mean-centered cumsums of
  // the per-type daily cent totals, earliest-day tiebreak.
  private val cusumChangepointEvents = QuerySpec("cusum_changepoint_events", (s, dir) =>
    Events.cusumChangepoint(t(s, dir, "events"))
      .orderBy(col("event_type")),
    // Sₖ = n·cumₖ − k·T exact integers; peak pick tie-breaks earliest day
    """WITH d AS (
      |  SELECT event_type,
      |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, day, yc,
      |    CAST(SUM(yc) OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS cum,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    CAST(SUM(yc) OVER (PARTITION BY event_type) AS BIGINT) AS t
      |  FROM d),
      |s AS (
      |  SELECT event_type, day, cum, k, n, t,
      |    abs(CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * t)
      |      AS sabs
      |  FROM c),
      |best AS (
      |  SELECT event_type, day, cum, k, n, t,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY sabs DESC, day) AS rk, sabs
      |  FROM s)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS cp_day,
      |  ROUND(CAST(sabs AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS cusum_peak,
      |  ROUND(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE), 6)
      |    AS mean_before,
      |  CASE WHEN n > k THEN
      |    ROUND(CAST(t - cum AS DOUBLE) / CAST(n - k AS DOUBLE), 6)
      |  END AS mean_after
      |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin)

  // ---- hour-of-day seasonality index --------------------------------------
  private val seasonalityEvents = QuerySpec("seasonality_events", (s, dir) =>
    Events.seasonalityIndex(t(s, dir, "events"))
      .orderBy(col("event_type"), col("hour")),
    // index = Σ_h·n_t / (n_h·Σ_t) — exact integer ratio, one division
    """WITH h AS (
      |  SELECT event_type,
      |    ((CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 3600) % 24
      |      AS hour,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sc
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(sc) AS BIGINT) AS st
      |  FROM h GROUP BY 1)
      |SELECT h.event_type, hour, n,
      |  ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_cents,
      |  ROUND(CAST(CAST(sc AS HUGEINT) * nt AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * st AS DOUBLE), 6) AS season_index
      |FROM h JOIN t USING (event_type)
      |ORDER BY event_type, hour""".stripMargin)

  // ---- Mann-Kendall trend test + Theil-Sen slope (per event type) --------
  // The outlier-immune member of the trend panel: S/var18 exact longs on
  // the daily dictionary, Sen slope = median pairwise slope via explicit
  // middle-rank picks. Same trendDaily state the trend/CUSUM/ACF share.
  private val mannKendallEvents = QuerySpec("mann_kendall_events", (s, dir) =>
    Events.mannKendall(t(s, dir, "events"))
      .orderBy(col("event_type")),
    // the pair θ-join, tie fold and explicit middle-rank median all live
    // on the (type, day) dictionary — same panel the trend/ACF oracles use
    """WITH d AS (
      |  SELECT event_type,
      |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, a.day AS di, a.yc AS yi,
      |    b.day AS dj, b.yc AS yj,
      |    CAST(b.yc - a.yc AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
      |      / 100.0 AS slope
      |  FROM d a
      |  JOIN d b ON b.event_type = a.event_type AND a.day < b.day),
      |s AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CASE WHEN yj > yi THEN 1 WHEN yj < yi THEN -1
      |      ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM p GROUP BY 1),
      |rk AS (
      |  SELECT event_type, slope, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY slope, di, dj) AS rn
      |  FROM p),
      |sen AS (
      |  SELECT r.event_type, ROUND(AVG(r.slope), 6) AS sen_slope
      |  FROM rk r JOIN s ON s.event_type = r.event_type
      |  WHERE r.rn = (s.n_pairs + 1) // 2 OR r.rn = s.n_pairs // 2 + 1
      |  GROUP BY 1),
      |t AS (
      |  SELECT event_type, yc, CAST(COUNT(*) AS BIGINT) AS t
      |  FROM d GROUP BY 1, 2),
      |ti AS (
      |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      |  FROM t GROUP BY 1),
      |vr AS (
      |  SELECT event_type, n,
      |    n * (n - 1) * (2 * n + 5) - tie18 AS var18
      |  FROM ti)
      |SELECT s.event_type, vr.n AS n_days, s.n_pairs, s.s_stat,
      |  vr.var18,
      |  ROUND(CAST(s.s_stat AS DOUBLE) / CAST(s.n_pairs AS DOUBLE), 6)
      |    AS tau,
      |  CASE WHEN vr.var18 > 0 THEN
      |    ROUND((CASE WHEN s.s_stat > 0 THEN
      |        CAST(s.s_stat AS DOUBLE) - 1.0
      |      WHEN s.s_stat < 0 THEN CAST(s.s_stat AS DOUBLE) + 1.0
      |      ELSE 0.0 END) / sqrt(CAST(vr.var18 AS DOUBLE) / 18.0), 6)
      |  END AS z,
      |  sen.sen_slope
      |FROM s
      |JOIN vr USING (event_type)
      |JOIN sen USING (event_type)
      |ORDER BY event_type""".stripMargin)

  // ---- per-user behavioral entropy ---------------------------------------
  private val userEntropyEvents = QuerySpec("user_entropy_events", (s, dir) =>
    Events.userEntropy(t(s, dir, "events"))
      .orderBy(col("user_id")),
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
      |    COUNT(*) AS n_types,
      |    SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS clnc
      |  FROM c GROUP BY user_id)
      |SELECT user_id, n_events, n_types,
      |  ROUND(LN(CAST(n_events AS DOUBLE))
      |    - clnc / CAST(n_events AS DOUBLE), 6) AS entropy
      |FROM u ORDER BY user_id""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: event sessionization (gap-based) ---------------------------
    QuerySpec("sessionize_events", (s, dir) =>
      Events.sessionize(t(s, dir, "events"), 1800L)
        .orderBy(col("user_id"), col("session_idx")),
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) AS ep
        |  FROM events),
        |l AS (
        |  SELECT *, LAG(ep) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ep
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ep) AS start_epoch, MAX(ep) AS end_epoch,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),

    // ---- streaming gap-based session windows in the CHECKED surface --------
    // session_window semantics are HALF-OPEN at µs precision: a new
    // session opens iff the inter-event gap is >= 30 min (the batch
    // lag-based sessionize uses strictly-greater at SECOND precision — a
    // deliberate pair of boundary semantics, each oracle-matched to its
    // operator). Complete mode: every session emits, matching the batch
    // ground truth over the full fixture.
    QuerySpec("streaming_session_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .groupBy(session_window(col("__ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sum_value"))
      Streams.runToMemory(s, agg, OutputMode.Complete())
        .orderBy(col("user_id"), col("start_us"))
    },
      // session_window's half-open µs rule: new session iff gap >= 30 min
      """WITH e AS (
        |  SELECT user_id, value, CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |l AS (
        |  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id,
        |  MIN(us) AS start_us,
        |  MAX(us) + 1800000000 AS end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin),

    // ---- APPEND-mode session windows: watermark-evicted sessions -----------
    // The session-shaped eviction story beside the hourly Append twin: a
    // session closes (emits once, state evicted) when the watermark
    // passes its end = last event + gap; the trailing open sessions are
    // withheld by design and the oracle applies the same integer cutoff.
    QuerySpec("streaming_session_append_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .withWatermark("__ts", "1 hour")
        .groupBy(session_window(col("__ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sum_value"))
      Streams.runToMemory(s, agg, OutputMode.Append())
        .orderBy(col("user_id"), col("start_us"))
    },
      // the Complete-mode session oracle + the watermark cutoff: only
      // sessions whose end precedes the ms-truncated watermark emit
      """WITH e AS (
        |  SELECT user_id, value, CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |wm AS (
        |  SELECT ((MAX(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
        |l AS (
        |  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (
        |  SELECT user_id,
        |    MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM g, wm WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin),

    // ---- scale: tumbling-window aggregation --------------------------------
    QuerySpec("hourly_agg_events", (s, dir) =>
      Events.hourlyAgg(t(s, dir, "events"))
        .orderBy(col("hour_epoch"), col("event_type")),
      """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- streaming in the CHECKED surface: hourly agg over a file stream ---
    // Structured Streaming over the events parquet (AvailableNow semantics
    // through processAllAvailable), Complete-mode memory sink; deterministic
    // columns only (streaming countDistinct is unsupported → omitted). Same
    // oracle math as hourly_agg_events.
    QuerySpec("streaming_hourly_agg_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = stream
        .groupBy(Events.hourEpoch(stream).as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      Streams.runToMemory(s, agg, OutputMode.Complete())
        .orderBy(col("hour_epoch"), col("event_type"))
    },
      """SELECT (CAST(EPOCH_US(date_trunc('hour', ts)) AS BIGINT) // 1000000)
        |    AS hour_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- APPEND-mode hourly agg: watermark-evicted event-time windows ------
    // The state-retention story a continuous 100 TB ingest needs: Complete
    // mode re-emits (and retains) every window forever; HERE the 1-hour
    // watermark finalizes each window once event time passes its end,
    // emits it exactly once, and EVICTS its state — steady-state memory is
    // the open-window frontier, not the stream's history. Only closed
    // windows appear: window end ≤ watermark = ms-truncated max event
    // time − 1 h (the trailing open windows are withheld by design; the
    // oracle applies the same integer cutoff).
    QuerySpec("streaming_hourly_append_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .withWatermark("__ts", "1 hour")
        .groupBy(window(col("__ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("n_events"), col("sum_value"))
      Streams.runToMemory(s, agg, OutputMode.Append())
        .orderBy(col("hour_epoch"), col("event_type"))
    },
      // Append-mode twin: only windows CLOSED by the watermark are emitted.
      // The cutoff replays Spark's integer watermark arithmetic exactly:
      // watermark µs = ((max event µs) // 1000 − 3600000) · 1000 (event-time
      // stats are ms-truncated), a window emits iff its end ≤ watermark.
      """WITH e AS (
        |  SELECT EPOCH_NS(ts) // 1000 AS us, event_type, value
        |  FROM events),
        |wm AS (
        |  SELECT ((MAX(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
        |w AS (
        |  SELECT us // 3600000000 AS h, event_type,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2)
        |SELECT h * 3600 AS hour_epoch, event_type, n_events, sum_value
        |FROM w, wm WHERE (h + 1) * 3600000000 <= wm_us
        |ORDER BY 1, 2""".stripMargin),

    slidingAggEvents,

    // ---- streaming sliding windows in the CHECKED surface ------------------
    QuerySpec("streaming_sliding_agg_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = stream
        .withColumn("__ts", Events.tsAsTimestamp(stream))
        .groupBy(window(col("__ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      Streams.runToMemory(s, agg, OutputMode.Complete())
        .orderBy(col("win_start"), col("event_type"))
    },
      // same math as sliding_agg_events — the streaming form must match it
      slidingAggEvents.oracle),

    // ---- scale: JSON property extraction + agg -----------------------------
    QuerySpec("json_props_events", (s, dir) =>
      Events.extractProps(t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("prop_k")).as("sum_k"),
          count(col("prop_k")).as("n_k"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- as-of join (union-sort, single shuffle): purchase ← last click ----
    // Times are epoch-µs: DuckDB timestamps are µs-precision, so the oracle
    // can only see µs — both engines compare/emit the same truncation.
    QuerySpec("asof_purchase_click_events", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          Events.epochMicros(e).as("pts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), Events.epochMicros(e).as("ts"), col("value"))
      Joins.asOfJoin(purchases, clicks, "user_id", "user_id",
          col("pts"), col("ts"), Seq("ts", "value"))
        .orderBy(col("event_id"))
    },
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.pts,
        |  c.ts AS asof_ts, c.value AS asof_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.pts
        |ORDER BY p.event_id""".stripMargin),

    trendFitEvents,

    // ---- STREAMING daily-trend twin (per-(type, day) cent totals as
    // Complete-mode state; the regression fold replays on drain) ------------
    QuerySpec("streaming_trend_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(s, daily, OutputMode.Complete())
      Events.trendFromDaily(drained).orderBy(col("event_type"))
    },
      // daily-trend twin: per-(type, day) cent-total state + regression
      // fold ≡ the batch fit (trendFromDaily ∘ trendDaily spec-pinned)
      trendFitEvents.oracle),

    acfEvents,

    // ---- STREAMING ACF (the SAME per-(type, day) state as the trend and
    // CUSUM twins — one more fold over already-proven state) ----------------
    QuerySpec("streaming_acf_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(s, daily, OutputMode.Complete())
      Events.acfFromDaily(drained, 7)
        .orderBy(col("event_type"), col("lag"))
    },
      // ACF twin: the SAME daily-total state, gap-fill + lag fold on drain
      acfEvents.oracle),

    cusumChangepointEvents,

    // ---- STREAMING CUSUM changepoint monitor (same daily-total state as
    // the trend twin; the peak-pick fold replays on drain) -------------------
    QuerySpec("streaming_cusum_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(s, daily, OutputMode.Complete())
      Events.cusumFromDaily(drained).orderBy(col("event_type"))
    },
      // CUSUM twin: the SAME daily-total state, peak-pick fold on drain
      cusumChangepointEvents.oracle),

    seasonalityEvents,

    // ---- STREAMING seasonality index ((type, hour) count state) -------------
    QuerySpec("streaming_seasonality_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val hourly = Events.hourlyCounts(stream)
      val drained = Streams.runToMemory(s, hourly, OutputMode.Complete())
      Events.seasonalityFromHourly(drained)
        .orderBy(col("event_type"), col("hour"))
    },
      // seasonality twin: (type, hour) count state + index fold
      seasonalityEvents.oracle),

    // ---- behavior model: first-order Markov transition matrix --------------
    QuerySpec("markov_transitions_events", (s, dir) =>
      Events.markovTransitions(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("next_type")),
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    CAST(EPOCH_US(ts) AS BIGINT) AS us
        |  FROM events),
        |st AS (
        |  SELECT
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM e),
        |c AS (
        |  SELECT prev_type, next_type, COUNT(*) AS n
        |  FROM st WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
        |    AS prob
        |FROM c ORDER BY prev_type, next_type""".stripMargin),

    // ---- key-less interval join via bucketization: clicks within 30 min of
    // an anchor purchase (bucket equi-join, then exact predicate) ------------
    QuerySpec("bucketed_range_join_events", (s, dir) => {
      // µs epoch keys on BOTH engines (Events.epochMicros handles every ts
      // representation the harness has shipped; DuckDB sees µs natively).
      val ev = t(s, dir, "events")
      val anchors = ev
        .filter(col("event_type") === "purchase" && col("user_id") % 97 === 0)
        .select(col("event_id").as("anchor_id"),
          Events.epochMicros(ev).as("win_start"),
          (Events.epochMicros(ev) + lit(1800L * 1000000L)).as("win_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          Events.epochMicros(ev).as("ts_us"), col("value"))
      Joins.bucketedRangeJoin(anchors, clicks,
          col("ts_us"), col("win_start"), col("win_end"),
          1800L * 1000000L)
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy(col("anchor_id"))
    },
      """WITH a AS (
        |  SELECT event_id AS anchor_id, epoch_us(ts) AS win_start,
        |    epoch_us(ts) + 1800 * 1000000 AS win_end
        |  FROM events WHERE event_type = 'purchase' AND user_id % 97 = 0),
        |c AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'click')
        |SELECT a.anchor_id, COUNT(*) AS n_clicks,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM a JOIN c ON c.ts_us >= a.win_start AND c.ts_us < a.win_end
        |GROUP BY a.anchor_id ORDER BY a.anchor_id""".stripMargin),

    // ---- gap-filled hourly series (spine join, zero-filled holes) ----------
    QuerySpec("gap_fill_events", (s, dir) =>
      Events.gapFilledHourly(t(s, dir, "events"), "purchase")
        .orderBy(col("hour")),
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 1000000 // 3600 AS hour, event_type, value
        |  FROM events),
        |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
        |spine AS (SELECT UNNEST(range(h0, h1 + 1)) AS hour FROM b),
        |c AS (
        |  SELECT hour, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY hour)
        |SELECT s.hour, COALESCE(c.n_events, 0) AS n_events,
        |  ROUND(COALESCE(c.sum_value, 0.0), 6) AS sum_value
        |FROM spine s LEFT JOIN c ON s.hour = c.hour
        |ORDER BY s.hour""".stripMargin),

    // ---- stage funnel: view → click → purchase by earliest-event order -----
    QuerySpec("funnel_events", (s, dir) =>
      Events.funnel(t(s, dir, "events"), Seq("view", "click", "purchase")),
      """WITH m AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view'
        |      THEN epoch_us(ts) // 1000000 END) AS t0,
        |    MIN(CASE WHEN event_type = 'click'
        |      THEN epoch_us(ts) // 1000000 END) AS t1,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) // 1000000 END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stage1,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t0 < t1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stage2,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t0 < t1 AND t1 < t2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stage3
        |FROM m""".stripMargin),

    // ---- cohort retention: first-activity day × day offset -----------------
    QuerySpec("cohort_retention_events", (s, dir) =>
      Events.cohortRetention(t(s, dir, "events"), 7)
        .orderBy(col("cohort_day"), col("offset")),
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT f.cohort_day, d.day - f.cohort_day AS "offset",
        |  COUNT(DISTINCT d.user_id) AS n_users
        |FROM d JOIN f ON d.user_id = f.user_id
        |WHERE d.day - f.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- full outer join: daily click vs purchase series aligned -----------
    QuerySpec("full_outer_join_events", (s, dir) => {
      val raw = t(s, dir, "events")
      val ev = raw.withColumn("__sec", Events.epochSeconds(raw))
        .withColumn("day", expr("__sec DIV 86400"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("day")).agg(count(lit(1)).as("n_clicks"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("day")).agg(count(lit(1)).as("n_purchases"))
      clicks.join(purchases, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("day"))
    },
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type
        |  FROM events),
        |c AS (SELECT day, COUNT(*) AS n_clicks FROM ev
        |  WHERE event_type = 'click' GROUP BY day),
        |p AS (SELECT day, COUNT(*) AS n_purchases FROM ev
        |  WHERE event_type = 'purchase' GROUP BY day)
        |SELECT COALESCE(c.day, p.day) AS day,
        |  COALESCE(c.n_clicks, 0) AS n_clicks,
        |  COALESCE(p.n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c.day = p.day
        |ORDER BY day""".stripMargin),

    // ---- SCD2 dimension build from a change feed (validity intervals) ------
    QuerySpec("scd2_orders", (s, dir) => {
      val changes = t(s, dir, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("day",
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400"))
      Events.scd2(changes, "o_custkey", "day", "o_orderkey",
          Seq("o_orderpriority"))
        .orderBy(col("o_custkey"), col("version"))
    },
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(EPOCH_US(o_orderdate) AS BIGINT) // 86400000000 AS day,
        |    o_orderkey, o_orderpriority
        |  FROM orders WHERE o_custkey % 100 = 0),
        |l AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, day
        |    ORDER BY o_orderkey DESC) AS rn
        |  FROM c),
        |v AS (
        |  SELECT o_custkey, day, o_orderpriority,
        |    ROW_NUMBER() OVER w AS version,
        |    LEAD(day) OVER w AS valid_to
        |  FROM l WHERE rn = 1
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day))
        |SELECT o_custkey, version, day AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current, o_orderpriority
        |FROM v ORDER BY o_custkey, version""".stripMargin),

    // ---- rolling z-score anomaly flags over the daily value series ---------
    QuerySpec("anomaly_zscore_events", (s, dir) =>
      Events.rollingAnomaly(t(s, dir, "events"), 7, 2.0)
        .orderBy(col("event_type"), col("day")),
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS day_value
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, day_value,
        |    COUNT(day_value) OVER f AS n,
        |    SUM(day_value) OVER f AS s1,
        |    SUM(CAST(CAST(day_value AS DECIMAL(18,2)) *
        |      CAST(day_value AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER f AS s2
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT event_type, day, day_value,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |      / (n - 1) AS var
        |  FROM w WHERE n >= 2),
        |z AS (
        |  SELECT *, CASE WHEN var > 0
        |    THEN (CAST(day_value AS DOUBLE) - mean) / SQRT(var) END AS zz
        |  FROM v)
        |SELECT event_type, day, CAST(day_value AS DOUBLE) AS day_value,
        |  ROUND(mean, 6) AS roll_mean, ROUND(zz, 6) AS z,
        |  (zz IS NOT NULL AND ABS(zz) > 2.0) AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin),

    // ---- adjacency sequence detection: click→purchase within 600 s ---------
    QuerySpec("sequence_detect_events", (s, dir) => {
      val e = t(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      e.withColumn("__sec", Events.epochSeconds(e))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .withColumn("prev_sec", lag(col("__sec"), 1).over(byUser))
        .filter(col("event_type") === "purchase" &&
          col("prev_type") === "click" &&
          col("__sec") - col("prev_sec") <= 600)
        .withColumn("day", expr("__sec DIV 86400"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sequences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    },
      """WITH o AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec,
        |    LAG(event_type) OVER w AS prev_type,
        |    LAG(epoch_us(ts) // 1000000) OVER w AS prev_sec
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT sec // 86400 AS day, COUNT(*) AS n_sequences,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM o
        |WHERE event_type = 'purchase' AND prev_type = 'click'
        |  AND sec - prev_sec <= 600
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- last-touch attribution: purchase revenue to latest prior click ----
    QuerySpec("attribution_events", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          Events.epochMicros(e).as("pts"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), Events.epochMicros(e).as("cts"),
          (get_json_object(col("props"), "$.k").cast("long") % 5)
            .as("campaign"))
      Joins.asOfJoin(purchases, clicks, "user_id", "user_id",
          col("pts"), col("cts"), Seq("campaign"))
        .groupBy(col("asof_campaign"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("attributed_revenue"))
        .orderBy(col("asof_campaign"))
    },
      """WITH p AS (
        |  SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS pts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS cts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS campaign
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.value, c.campaign
        |  FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts)
        |SELECT campaign AS asof_campaign, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS attributed_revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- stream-stream interval join in the CHECKED surface ----------------
    QuerySpec("streaming_join_events", (s, dir) => {
      // ONE file-stream source, both join sides derived from it (stream
      // self-join): halves the source listing/scan work vs two sources
      val st = Tables.stream(s, dir, "events")
      def side(etype: String, userAs: String, tsAs: String) =
        st.filter(col("event_type") === etype)
          .withColumn(tsAs, Events.tsAsTimestamp(st))
          .withWatermark(tsAs, "2 hours")
          .select(col("user_id").as(userAs), col(tsAs))
      val clicks = side("click", "c_user", "c_ts")
      val purchases = side("purchase", "p_user", "p_ts")
      val joined = purchases.join(clicks,
        expr("c_user = p_user AND " +
          "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
      Streams.runToMemory(s, joined)
        .withColumn("day", expr("CAST(p_ts AS LONG) DIV 86400"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_user")).as("n_users"))
        .orderBy(col("day"))
    },
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS cus FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS pus FROM events
        |  WHERE event_type = 'purchase')
        |SELECT pus // 1000000 // 86400 AS day, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p.user_id) AS n_users
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- streaming: stream-static broadcast enrichment join ----------------
    // The dimension-enrichment shape every event pipeline needs: a
    // micro-batch stream joined against a STATIC broadcast dim (no state
    // store, no watermark — the static side is re-broadcast per batch),
    // then a streaming aggregation. Batch-equivalent oracle: the same
    // join+agg over the full table.
    QuerySpec("streaming_enrich_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val dim = broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val enriched = stream
        .join(dim, stream("user_id") === dim("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      Streams.runToMemory(s, enriched, OutputMode.Complete())
        .orderBy(col("c_mktsegment"), col("event_type"))
    },
      """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- LOCF daily resample (carry the level, account the staleness) -----
    // gap_fill zero-fills (additive series); LOCF carries the last level
    // via an exact max-day theta-join on the trendDaily dictionary — no
    // window ordering, no IGNORE NULLS engine semantics.
    QuerySpec("locf_fill_events", (s, dir) =>
      Events.locfDaily(t(s, dir, "events"))
        .orderBy(col("event_type"), col("day")),
      // the spine replays as the acf scaffold; the carried value is the
      // exact max-observed-day pick, engine-neutral
      """WITH d AS (
        |  SELECT event_type,
        |    (CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
        |  FROM d GROUP BY 1),
        |scaf AS (
        |  SELECT s.event_type, u.day
        |  FROM span s, UNNEST(range(s.d0, s.d1 + 1)) AS u(day)),
        |lastd AS (
        |  SELECT sc.event_type, sc.day, MAX(d.day) AS lastday
        |  FROM scaf sc
        |  JOIN d ON d.event_type = sc.event_type AND d.day <= sc.day
        |  GROUP BY 1, 2)
        |SELECT l.event_type, l.day, d.yc,
        |  (l.day = l.lastday) AS observed,
        |  l.day - l.lastday AS staleness
        |FROM lastd l
        |JOIN d ON d.event_type = l.event_type AND d.day = l.lastday
        |ORDER BY l.event_type, l.day""".stripMargin),

    // ---- recency-weighted activity: EWMA over each user's last 8 events ----
    QuerySpec("ewma_events", (s, dir) =>
      Events.ewmaRecent(t(s, dir, "events"), 8)
        .orderBy(col("user_id")),
      // EWMA weights are exact longs 2^(7-age); only the numerator sum is FP
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) - 1 AS age
        |  FROM events),
        |w AS (
        |  SELECT user_id, value, age,
        |    CAST(1 AS BIGINT) << CAST(7 - age AS INT) AS w
        |  FROM r WHERE age < 8)
        |SELECT user_id, COUNT(*) AS n_used,
        |  ROUND(SUM(value * w) / CAST(SUM(w) AS BIGINT), 6) AS ewma,
        |  MAX(CASE WHEN age = 0 THEN value END) AS last_value
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- interval overlap join (temporal θ-join as a chunked equi-join) ----
    // Orders become intervals [orderdate, +(key mod 20) days]; queries =
    // every 499th order joined against the full corpus. The oracle brute-
    // forces the range predicate over all pairs, so a missed cross-chunk
    // neighbor is a correctness failure, not just a perf one.
    QuerySpec("interval_overlap_orders", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("sd"))
        .withColumn("ed", col("sd") + col("o_orderkey") % 20)
      Events.intervalOverlapJoin(o.filter(col("o_orderkey") % 499 === 0), o,
          "o_orderkey", "o_orderkey", "sd", "ed", 16L)
        .filter(col("l_id") =!= col("r_id"))
        .orderBy(col("l_id"), col("r_id"))
    },
      """WITH iv AS (
        |  SELECT o_orderkey AS id,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS s
        |  FROM orders),
        |iv2 AS (SELECT id, s, s + id % 20 AS e FROM iv)
        |SELECT a.id AS l_id, b.id AS r_id,
        |  CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS BIGINT)
        |    AS overlap_units
        |FROM iv2 a JOIN iv2 b
        |  ON a.id % 499 = 0 AND a.id <> b.id
        |  AND a.s <= b.e AND b.s <= a.e
        |ORDER BY l_id, r_id""".stripMargin),

    mannKendallEvents,

    // ---- STREAMING Mann-Kendall (same daily-total state as the trend/
    // CUSUM/ACF twins; the rank fold replays on drain) ------------------------
    QuerySpec("streaming_mann_kendall_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val daily = Events.trendDaily(stream)
      val drained = Streams.runToMemory(s, daily, OutputMode.Complete())
      Events.mannKendallFromDaily(drained).orderBy(col("event_type"))
    },
      // Mann-Kendall twin: the SAME daily-total state, rank fold on drain
      mannKendallEvents.oracle),

    // ---- Kaplan-Meier time-to-conversion curve ----------------------------
    // Time from each user's first event to their first high-value purchase
    // (value >= 150); users who never convert are right-censored at their
    // last event. Risk sets, events, censored counts, and the
    // product-limit estimator per whole-day duration.
    QuerySpec("kaplan_meier_events", (s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"),
          col("event_type") === "purchase" && col("value") >= 150.0)
        .orderBy(col("dur")),
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |pu AS (
        |  SELECT user_id, MIN(s) AS f, MAX(s) AS l,
        |    MIN(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN s END) AS c
        |  FROM sec GROUP BY user_id),
        |u AS (
        |  SELECT CASE WHEN c IS NOT NULL THEN (c - f) // 86400
        |    ELSE (l - f) // 86400 END AS dur,
        |    (c IS NOT NULL) AS ev
        |  FROM pu),
        |bd AS (
        |  SELECT dur, COUNT(*) FILTER (ev) AS n_event,
        |    COUNT(*) FILTER (NOT ev) AS n_censored
        |  FROM u GROUP BY dur),
        |tot AS (SELECT COUNT(*) AS n FROM u),
        |r AS (
        |  SELECT dur, n_event, n_censored,
        |    CAST(n - COALESCE(SUM(n_event + n_censored) OVER
        |      (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM bd, tot),
        |sv AS (
        |  SELECT dur, n_risk, n_event, n_censored,
        |    SUM(CASE WHEN n_event < n_risk THEN
        |        LN(CAST(n_risk - n_event AS DOUBLE) /
        |          CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER
        |      (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS lnsum
        |  FROM r)
        |SELECT dur, n_risk, n_event, n_censored,
        |  CASE WHEN n_event = n_risk THEN 0.0
        |    ELSE ROUND(EXP(lnsum), 6) END AS survival
        |FROM sv ORDER BY dur""".stripMargin),

    // ---- RFM user segmentation (breakpoint quintiles, no global sort) -----
    // Recency/frequency/monetary per user, scored 1-5 against corpus-wide
    // type-1 quintile breakpoints from the distributed-selection
    // percentile machinery — never a global NTILE sort.
    QuerySpec("rfm_events", (s, dir) =>
      Events.rfmSegments(t(s, dir, "events"))
        .orderBy(col("user_id")),
      // type-1 quantile breakpoints replayed with the Spark side's exact
      // integer rank (n*q + 999999) // 1000000 — no float ceil at boundaries
      """WITH sec AS (
        |  SELECT user_id, value, epoch_us(ts) // 1000000 AS s FROM events),
        |pu AS (
        |  SELECT user_id, MAX(s) AS l, COUNT(*) AS frequency,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS monetary_cents
        |  FROM sec GROUP BY user_id),
        |en AS (SELECT MAX(l) AS endd FROM pu),
        |u AS (
        |  SELECT user_id, (endd - l) // 86400 AS recency_days, frequency,
        |    monetary_cents
        |  FROM pu, en),
        |nn AS (SELECT COUNT(*) AS n FROM u),
        |rr AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT recency_days AS v FROM u)),
        |rb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS r20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS r40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS r60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS r80
        |  FROM rr, nn),
        |ff AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT frequency AS v FROM u)),
        |fb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS f20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS f40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS f60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS f80
        |  FROM ff, nn),
        |mm AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
        |  FROM (SELECT monetary_cents AS v FROM u)),
        |mb AS (
        |  SELECT
        |    MAX(CASE WHEN rn = (n*200000+999999)//1000000 THEN v END) AS m20,
        |    MAX(CASE WHEN rn = (n*400000+999999)//1000000 THEN v END) AS m40,
        |    MAX(CASE WHEN rn = (n*600000+999999)//1000000 THEN v END) AS m60,
        |    MAX(CASE WHEN rn = (n*800000+999999)//1000000 THEN v END) AS m80
        |  FROM mm, nn),
        |sc AS (
        |  SELECT u.*,
        |    CAST(1 + CAST(recency_days < r20 AS INT)
        |      + CAST(recency_days < r40 AS INT)
        |      + CAST(recency_days < r60 AS INT)
        |      + CAST(recency_days < r80 AS INT) AS BIGINT) AS r_score,
        |    CAST(1 + CAST(frequency > f20 AS INT)
        |      + CAST(frequency > f40 AS INT)
        |      + CAST(frequency > f60 AS INT)
        |      + CAST(frequency > f80 AS INT) AS BIGINT) AS f_score,
        |    CAST(1 + CAST(monetary_cents > m20 AS INT)
        |      + CAST(monetary_cents > m40 AS INT)
        |      + CAST(monetary_cents > m60 AS INT)
        |      + CAST(monetary_cents > m80 AS INT) AS BIGINT) AS m_score
        |  FROM u, rb, fb, mb)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc ORDER BY user_id""".stripMargin),

    userEntropyEvents,

    // ---- STREAMING per-user behavioral entropy ------------------------------
    // (user, type) count state (the k-anonymity class-size precedent);
    // the entropy fold replays on drain — shares the batch oracle.
    QuerySpec("streaming_user_entropy_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = Events.userTypeCounts(stream)
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Events.entropyFromCounts(drained).orderBy(col("user_id"))
    },
      // user-entropy twin: (user, type) count state + entropy fold
      userEntropyEvents.oracle),

    // ---- stratified Kaplan-Meier (one curve per assignment arm) -----------
    // Cohort = the user's assignment arm (user_id mod 3; the corpus's
    // acquisition weeks are degenerate — every user starts on day 0, so
    // an arm stratifier is the honest spread); windows partition by
    // cohort so strata never interleave.
    QuerySpec("kaplan_meier_cohort_events", (s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"),
          col("event_type") === "purchase" && col("value") >= 150.0,
          Some(col("user_id") % 3))
        .orderBy(col("cohort"), col("dur")),
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |pu AS (
        |  SELECT user_id, MIN(s) AS f, MAX(s) AS l,
        |    user_id % 3 AS cohort,
        |    MIN(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN s END) AS c
        |  FROM sec GROUP BY user_id),
        |u AS (
        |  SELECT cohort,
        |    CASE WHEN c IS NOT NULL THEN (c - f) // 86400
        |      ELSE (l - f) // 86400 END AS dur,
        |    (c IS NOT NULL) AS ev
        |  FROM pu),
        |bd AS (
        |  SELECT cohort, dur, COUNT(*) FILTER (ev) AS n_event,
        |    COUNT(*) FILTER (NOT ev) AS n_censored
        |  FROM u GROUP BY cohort, dur),
        |tot AS (SELECT cohort, COUNT(*) AS n FROM u GROUP BY cohort),
        |r AS (
        |  SELECT bd.cohort, dur, n_event, n_censored,
        |    CAST(n - COALESCE(SUM(n_event + n_censored) OVER
        |      (PARTITION BY bd.cohort ORDER BY dur
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM bd JOIN tot ON tot.cohort = bd.cohort),
        |sv AS (
        |  SELECT cohort, dur, n_risk, n_event, n_censored,
        |    SUM(CASE WHEN n_event < n_risk THEN
        |        LN(CAST(n_risk - n_event AS DOUBLE) /
        |          CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER
        |      (PARTITION BY cohort ORDER BY dur
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
        |  FROM r)
        |SELECT cohort, dur, n_risk, n_event, n_censored,
        |  CASE WHEN n_event = n_risk THEN 0.0
        |    ELSE ROUND(EXP(lnsum), 6) END AS survival
        |FROM sv ORDER BY cohort, dur""".stripMargin),

    // ---- CUPED variance reduction (Deng et al. WSDM'13) --------------------
    // Pre-period (days 1-15) per-user revenue predicts the outcome
    // period; the theta-adjusted metric keeps the estimand and removes
    // the variance X explains — the entire panel is an algebra over
    // exact decimal moment sums (no per-unit double ever summed).
    QuerySpec("cuped_events", (s, dir) =>
      Events.cuped(t(s, dir, "events"), 19738L),
      """WITH e AS (
        |  SELECT user_id, (user_id % 2 = 0) AS side,
        |    ((CAST(EPOCH_US(ts) AS BIGINT) // 1000000) // 86400
        |      < 19738) AS pre,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |u AS (
        |  SELECT user_id, side,
        |    CAST(SUM(CASE WHEN pre THEN c ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN NOT pre THEN c ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM e GROUP BY 1, 2),
        |g AS (
        |  SELECT
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(CAST(x AS HUGEINT)) FILTER (NOT side) AS DOUBLE)
        |      AS sxa,
        |    CAST(SUM(CAST(x AS HUGEINT)) FILTER (side) AS DOUBLE)
        |      AS sxb,
        |    CAST(SUM(CAST(y AS HUGEINT)) FILTER (NOT side) AS DOUBLE)
        |      AS sya,
        |    CAST(SUM(CAST(y AS HUGEINT)) FILTER (side) AS DOUBLE)
        |      AS syb,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (NOT side)
        |      AS DOUBLE) AS xxa,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (side) AS DOUBLE)
        |      AS xxb,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) FILTER (NOT side)
        |      AS DOUBLE) AS yya,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) FILTER (side) AS DOUBLE)
        |      AS yyb,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) FILTER (NOT side)
        |      AS DOUBLE) AS xya,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) FILTER (side) AS DOUBLE)
        |      AS xyb
        |  FROM u),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE)
        |      AS nb,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
        |    sxa + sxb AS sx, sya + syb AS sy,
        |    xxa + xxb AS sxx, xya + xyb AS sxy
        |  FROM g),
        |th AS (
        |  SELECT *, n * sxx - sx * sx AS thden,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
        |    sx / n AS xbar
        |  FROM d),
        |v AS (
        |  SELECT *,
        |    (yya - sya * sya / na) / (na - 1.0) AS vya,
        |    (yyb - syb * syb / nb) / (nb - 1.0) AS vyb,
        |    (xxa - sxa * sxa / na) / (na - 1.0) AS vxa,
        |    (xxb - sxb * sxb / nb) / (nb - 1.0) AS vxb,
        |    (xya - sxa * sya / na) / (na - 1.0) AS ca,
        |    (xyb - sxb * syb / nb) / (nb - 1.0) AS cb
        |  FROM th),
        |w AS (
        |  SELECT *,
        |    vya + theta * theta * vxa - 2.0 * theta * ca AS vaa,
        |    vyb + theta * theta * vxb - 2.0 * theta * cb AS vab,
        |    sya / na - theta * (sxa / na - xbar) AS maa,
        |    syb / nb - theta * (sxb / nb - xbar) AS mab,
        |    vya / na + vyb / nb AS seraw
        |  FROM v),
        |z AS (
        |  SELECT *, vaa / na + vab / nb AS seadj,
        |    (n_a >= 2 AND n_b >= 2) AS okraw,
        |    (n_a >= 2 AND n_b >= 2 AND thden > 0.0) AS oktheta
        |  FROM w)
        |SELECT n_a, n_b,
        |  CASE WHEN oktheta THEN ROUND(theta, 6) END AS theta,
        |  ROUND(sya / na, 6) AS mean_a, ROUND(syb / nb, 6) AS mean_b,
        |  CASE WHEN oktheta THEN ROUND(maa, 6) END AS mean_a_adj,
        |  CASE WHEN oktheta THEN ROUND(mab, 6) END AS mean_b_adj,
        |  CASE WHEN okraw AND seraw > 0.0 THEN
        |    ROUND((sya / na - syb / nb) / sqrt(seraw), 6) END AS t_raw,
        |  CASE WHEN oktheta AND seadj > 0.0 THEN
        |    ROUND((maa - mab) / sqrt(seadj), 6) END AS t_cuped,
        |  CASE WHEN oktheta AND seraw > 0.0 THEN
        |    ROUND(1.0 - seadj / seraw, 6) END AS var_reduction
        |FROM z""".stripMargin)
  )
}
