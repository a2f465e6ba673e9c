package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Event-time operators over the `events` table: tumbling windows,
  * gap-based sessionization, JSON property extraction.
  *
  * The harness parquet stores `ts` as INT64 TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), which `Tables.load` declares as TIMESTAMP_NTZ.
  * The operators take any DataFrame, so they also accept `ts` as
  * epoch-nanos LongType (how Spark surfaces TIMESTAMP(NANOS) parquet under
  * `spark.sql.legacy.parquet.nanosAsLong=true`). All operators work on exact
  * integer epoch math (`DIV` — never double division, which loses precision
  * above 2^53), and emit epoch seconds (bigint): deterministic, and
  * representation-agnostic across Spark (µs) and DuckDB (ns).
  */
object Events {

  private def isNanosLong(df: DataFrame): Boolean =
    df.schema("ts").dataType == LongType

  /** Epoch seconds of the event, exact. */
  def epochSeconds(df: DataFrame): Column =
    if (isNanosLong(df)) expr("ts DIV 1000000000")
    else unix_timestamp(col("ts"))

  /** Epoch seconds of the enclosing hour boundary. */
  def hourEpoch(df: DataFrame): Column =
    if (isNanosLong(df)) expr("(ts DIV 3600000000000) * 3600")
    else unix_timestamp(date_trunc("hour", col("ts")))

  /** A proper TimestampType view of ts (µs precision) for operators that
    * need one (session_window, watermarks, streaming). The harness has
    * shipped `ts` as nanos-long, µs TIMESTAMP_NTZ, and µs TIMESTAMP_LTZ
    * across corpus generations; watermarks and unix_micros demand LTZ, so
    * the non-long branch casts (identity for LTZ; session-tz — UTC in
    * every main — interpretation for NTZ, matching DuckDB's epoch_us view
    * of the same column).
    */
  def tsAsTimestamp(df: DataFrame): Column =
    if (isNanosLong(df)) timestamp_micros(expr("ts DIV 1000"))
    else col("ts").cast(TimestampType)

  /** Tumbling 1-hour window aggregation (equivalent to
    * `window($"ts", "1 hour")` for aligned windows, emitted as the hour's
    * epoch seconds → oracle-friendly). One hash-agg shuffle on
    * (hour, event_type).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(hourEpoch(events).as("hour_epoch"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapSeconds`. Classic
    * lag → boundary flag → running sum (all in one window shuffle on
    * user_id), then per-session aggregation.
    *
    * At 100 TB: the window and the groupBy share the user_id partitioning so
    * Catalyst reuses one exchange; skewed users are bounded by session count,
    * not event count, after the agg. Ordering uses the raw ns column when
    * available (full precision).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val withBoundary = events
      .withColumn("__ep", epochSeconds(events))
      .withColumn("__prev", lag(col("__ep"), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("__ep") - col("__prev") > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("__new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withBoundary
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__ep")).as("start_epoch"),
        max(col("__ep")).as("end_epoch"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Sliding event-time windows (batch form of the streaming sliding agg):
    * each event lands in window_len/slide windows; the generator fan-out is
    * the built-in `window()` function, emitted as window-start epoch seconds.
    */
  def slidingAgg(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .withColumn("__ts", tsAsTimestamp(events))
      .groupBy(window(col("__ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Built-in session_window variant (same semantics, Spark-native operator;
    * covered by unit tests — the lag-based form above is the oracle query).
    */
  def sessionizeNative(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("__ts", tsAsTimestamp(events))
      .groupBy(session_window(col("__ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** JSON props extraction: `props` is a JSON string column; pull typed
    * fields with get_json_object (codegen'd, no UDF).
    */
  def extractProps(events: DataFrame): DataFrame =
    events.withColumn("prop_k",
      get_json_object(col("props"), "$.k").cast("long"))

  /** Gap-filled hourly series for one event type: every hour in the
    * corpus's [min, max] hour range appears, zero-filled where no events
    * landed — the spine-join shape behind dashboards and window-complete
    * time-series features. The spine generates from a 1-row bounds
    * aggregate (`sequence` explode — thousands of rows, trivially
    * broadcast); the counts side is one keyed hash-agg. No driver loop.
    */
  def gapFilledHourly(events: DataFrame, eventType: String): DataFrame = {
    val withHour = events.withColumn("__sec", epochSeconds(events))
      .withColumn("hour", expr("__sec DIV 3600"))
    val counts = withHour.filter(col("event_type") === eventType)
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val spine = withHour.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hour"))
    spine.join(counts, Seq("hour"), "left")
      .select(col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(coalesce(col("sum_value"), lit(0.0)), 6).as("sum_value"))
  }

  /** Stage-completion funnel over first-occurrence ordering: a user
    * completes stage i when their earliest stage-i event is strictly later
    * than their earliest stage-(i−1) event. One groupBy(user) conditional-
    * min pass + one global roll-up — two shuffles total, no self-joins,
    * no per-stage scans (the min-per-stage trick keeps it a single scan
    * whatever the funnel depth).
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ts = epochSeconds(events)
    val mins = stages.zipWithIndex.map { case (st, i) =>
      min(when(col("event_type") === st, ts)).as(s"t$i")
    }
    val perUser = events.groupBy(col("user_id")).agg(mins.head, mins.tail: _*)
    val stageHit: Seq[Column] = stages.indices.map { i =>
      (0 until i).map(j => col(s"t$j") < col(s"t${j + 1}"))
        .foldLeft(col("t0").isNotNull)(_ && _)
    }
    val rollups = stageHit.zipWithIndex.map { case (hit, i) =>
      sum(when(hit, 1L).otherwise(0L)).as(s"n_stage${i + 1}")
    }
    perUser.agg(count(lit(1)).as("n_users"), rollups: _*)
  }

  /** Cohort retention: users grouped by first-activity day; for each
    * (cohort day, day offset ≤ maxOffset) the count of distinct cohort
    * members active that day. Two keyed shuffles (first-day agg on
    * user_id, retention agg on (cohort, offset)) + one equi-join on
    * user_id — the first-day table is the small side once users ≪ events.
    */
  def cohortRetention(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    val withDay = events.withColumn("__sec", epochSeconds(events))
      .select(col("user_id"), expr("__sec DIV 86400").as("day")).distinct()
    val firstDay = withDay.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    withDay.join(firstDay, Seq("user_id"))
      .withColumn("offset", col("day") - col("cohort_day"))
      .filter(col("offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** Rolling z-score anomaly detection over the daily value series of each
    * event type: a day is anomalous when its total deviates from the
    * trailing `lookback`-day mean by more than `threshold` sample standard
    * deviations.
    *
    * Determinism: the rolling mean/variance are derived from DECIMAL-exact
    * frame sums (sum and sum-of-squares over the preceding-rows frame), not
    * from the engine's floating `stddev` — double accumulation order inside
    * a window frame is engine-dependent, decimal addition is not. The final
    * ratio is the only double step, rounded to 6.
    *
    * One exchange: the daily agg and the window share the event_type hash
    * partitioning (series length is days, so state per key is tiny however
    * large the input).
    */
  def rollingAnomaly(events: DataFrame, lookback: Int = 7,
      threshold: Double = 2.0): DataFrame = {
    val daily = events
      .withColumn("__sec", epochSeconds(events))
      .withColumn("day", expr("__sec DIV 86400"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
    // RANGE (value-based) frame, not ROWS: on a gappy series a ROWS frame
    // would stretch "the trailing week" over arbitrarily old observations
    val frame = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-lookback, -1)
    val withStats = daily
      .withColumn("n", count(col("day_value")).over(frame))
      .withColumn("s1", sum(col("day_value")).over(frame))
      .withColumn("s2",
        sum((col("day_value") * col("day_value")).cast("decimal(38,4)"))
          .over(frame))
    // mean/var from exact sums; sample variance guard: need n >= 2
    withStats
      .filter(col("n") >= 2)
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("var",
        (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n")) /
          (col("n") - lit(1)))
      .withColumn("z",
        when(col("var") > 0,
          (col("day_value").cast("double") - col("mean")) / sqrt(col("var"))))
      .select(col("event_type"), col("day"),
        col("day_value").cast("double").as("day_value"),
        round(col("mean"), 6).as("roll_mean"),
        round(col("z"), 6).as("z"),
        (col("z").isNotNull && abs(col("z")) > threshold).as("is_anomaly"))
  }

  /** SCD Type-2 dimension build from a change feed: each (key, change-day)
    * pair becomes a dimension version valid from its day until the next
    * version's day (open-ended on the latest = the current row). Multiple
    * changes on one day collapse to the highest-sequence change (last write
    * wins within the grain).
    *
    * Shape: one dedup agg + one lead() window, both partitioned by the
    * dimension key — a single exchange end to end, no self-join. This is
    * the merge that keeps a 100 TB fact table joinable to point-in-time
    * dimension attributes (pair it with [[graft.plans.Joins.asOfJoin]] on
    * the fact side).
    */
  def scd2(changes: DataFrame, keyCol: String, dayCol: String,
      seqCol: String, attrCols: Seq[String]): DataFrame = {
    // attr columns as trailing tiebreakers: ties on (key, day, seq) must
    // still pick a partitioning-invariant winner (determinism contract)
    val byKeyDay = Window.partitionBy(col(keyCol), col(dayCol))
      .orderBy((col(seqCol).desc +: attrCols.map(c => col(c).desc)): _*)
    val latestPerDay = changes
      .withColumn("__rn", row_number().over(byKeyDay))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    latestPerDay
      // long, not int: DuckDB ROW_NUMBER is BIGINT and the driver compare
      // is dtype-strict
      .withColumn("version", row_number().over(byKey).cast("long"))
      .withColumn("valid_from", col(dayCol))
      .withColumn("valid_to", lead(col(dayCol), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .select((Seq(col(keyCol), col("version"), col("valid_from"),
        col("valid_to"), col("is_current")) ++ attrCols.map(col)): _*)
  }

  /** Epoch microseconds of the event, exact — the finest granularity both
    * engines share (DuckDB timestamps are µs; ns floor-divides losslessly).
    * FLOOR division, not Spark DIV's truncation toward zero: a pre-1970
    * nanos value that isn't µs-aligned must land on the same µs key as
    * DuckDB's floor-to-µs native storage (the `% 1000` correction costs
    * nothing post-1970, where the two divisions agree).
    */
  def epochMicros(df: DataFrame): Column =
    if (isNanosLong(df))
      expr("ts DIV 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")
    else unix_micros(col("ts").cast(TimestampType))

  /** Exponentially-weighted moving average of each user's LAST `lastN`
    * event values — the recency-weighted activity score behind engagement
    * ranking and churn features, where a plain mean over-credits stale
    * history. α is fixed at 1/2 and the weights are carried as the exact
    * INTEGER 2^(lastN−1−age) (a long shift, no libm pow anywhere): the
    * weight ratio is identical to 2^−age, the denominator sum is an exact
    * long, and the only FP freedom left is the numerator's summation
    * order, absorbed by the repo's 6-decimal rounding contract.
    *
    * ewma = Σ value·2^(N−1−age) / Σ 2^(N−1−age) over the newest `lastN`
    * events (age 0 = newest; ties on ts break by event_id,
    * newest-id-first to match the rank that selects the window).
    *
    * Scale: one window partitioned BY USER (bounded frame, parallel across
    * users) to rank recency, then a keyed hash-agg — no global window, no
    * state.
    */
  def ewmaRecent(events: DataFrame, lastN: Int = 8): DataFrame = {
    require(lastN >= 1 && lastN <= 62, s"ewmaRecent needs 1 <= lastN <= 62")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__us").desc, col("event_id").desc)
    events
      .withColumn("__us", epochMicros(events))
      .withColumn("__age", row_number().over(w) - 1)
      .filter(col("__age") < lastN)
      .withColumn("__w", expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST(${lastN - 1} - __age AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_used"),
        round(sum(col("value") * col("__w")) / sum(col("__w")), 6)
          .as("ewma"),
        max(when(col("__age") === 0, col("value"))).as("last_value"))
  }

  /** Per-group linear trend: the least-squares slope of the DAILY value
    * total against the epoch day, one row per event_type — "is this
    * activity growing and how fast", the metric behind alerting and
    * capacity curves.
    *
    * Exactness: daily totals are decimal-exact cents (long), days are
    * epoch-day longs, and all five regression sums are exact integer
    * arithmetic — the closing slope division is the only floating op
    * (same discipline as the Zipf fit; the classic cancellation danger in
    * n·Σxx − (Σx)² is gone because the subtraction is exact).
    *
    * Scale: two hash-aggs — (type, day) then (type) — both keyed, no
    * window, no collect.
    */
  def trendFit(events: DataFrame): DataFrame =
    trendFromDaily(trendDaily(events))

  /** [[trendFit]]'s state half: exact per-(type, epoch-day) cent totals —
    * ONE associative aggregation (decimal sums) over one scan, so it runs
    * unchanged as Complete-mode STREAMING state (the valueCounts /
    * welchMoments convention). The state is |types|·|days| rows —
    * dictionary-scale by construction.
    */
  def trendDaily(events: DataFrame): DataFrame = events
    .withColumn("__sec", epochSeconds(events))
    .selectExpr("event_type", "__sec DIV 86400 AS day", "value")
    .groupBy(col("event_type"), col("day"))
    .agg((sum(col("value").cast("decimal(18,2)")) * 100)
      .cast("long").as("yc"))

  /** The regression fold over [[trendDaily]]'s (drained) state — the
    * identical moment algebra [[trendFit]] composes, so
    * trendFromDaily ∘ trendDaily = trendFit (spec-pinned) and the
    * streaming twin shares the batch oracle verbatim.
    */
  def trendFromDaily(daily: DataFrame): DataFrame =
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("day")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("day") * col("yc")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col("event_type"), col("n").as("n_days"),
        // single-day groups have denominator 0: emit NULL explicitly —
        // Spark's 0.0/0.0 is NaN while DuckDB's divide-by-zero semantics
        // differ by version, so the guard is what keeps the two engines
        // hash-identical on degenerate groups
        round(when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            / 100.0), 6).as("slope_per_day"))

  /** First-order Markov transition matrix over per-user event streams:
    * for each (previous event_type → event_type) step, its count and the
    * row-normalized transition probability. The standard session-behavior
    * model (next-action prediction, bot detection by improbable chains,
    * funnel leak analysis).
    *
    * Ordering contract: steps are adjacent events per user ordered by
    * (epoch-µs, event_id) — both keys identical in any engine, so the
    * lag sequence is engine-invariant even when timestamps collide.
    *
    * Scale: one window shuffle keyed on user_id (user streams are the
    * natural partition; no global order), then one hash-agg on the
    * (prev, next) pair — |types|² rows out. The probability is a
    * window-free second agg on prev_type fanned back with a broadcast-size
    * join-free window over the tiny aggregated table.
    */
  /** Autocorrelation function of the daily value series, lags 1..maxLag —
    * the periodicity detector beside [[trendFit]] (trend asks "is it
    * drifting?", [[seasonalityIndex]] asks "which hours are hot?", ACF
    * asks "does today predict d days ahead?" — the weekly-cycle /
    * batch-cadence signature a pipeline-health monitor watches). Pearson r
    * between (y_d, y_{d+ℓ}) over the GAP-FILLED series (a quiet day is a
    * zero observation, not a missing one — skipping gaps would splice
    * non-adjacent days together and fake correlation).
    *
    * Determinism: exact decimal moment sums in one hash-agg per (type,
    * lag); the only floats are the final fixed-order ratio (mirrored by
    * the oracle), NULL when either side's variance is zero. Scale: one
    * corpus hash-agg to the (type, day) dictionary, the day scaffold and
    * lag explode live on that dictionary, the self-join keys on
    * (type, day).
    */
  def acf(events: DataFrame, maxLag: Int = 7): DataFrame =
    acfFromDaily(trendDaily(events), maxLag)

  /** The ACF fold over [[trendDaily]]'s (drained) state — the SAME
    * per-(type, day) cent totals the trend/CUSUM twins hold, so the
    * streaming twin is one more fold over already-proven state.
    * acfFromDaily ∘ trendDaily = [[acf]] by construction.
    */
  def acfFromDaily(daily0: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"bad maxLag $maxLag")
    val d = (c: Column) => c.cast("decimal(38,0)")
    // pin the day dictionary once: it feeds the span agg AND the scaffold
    // join (and a memory-sink view cannot self-join — the madFromCounts
    // rationale)
    val daily = daily0.localCheckpoint(true)
    val span = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
    val filled = span
      .select(col("event_type"),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("yc"))
      .localCheckpoint(true) // day dictionary; feeds both lag-join sides
    val lagged = filled
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("__dj", col("day") + col("lag"))
    val right = filled.select(col("event_type"),
      col("day").as("__dj"), col("yc").as("__y2"))
    val da = col("n_pairs") * col("__sxx") - col("__sx") * col("__sx")
    val db = col("n_pairs") * col("__syy") - col("__sy") * col("__sy")
    lagged.join(right, Seq("event_type", "__dj"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(d(col("yc"))).as("__sx"), sum(d(col("__y2"))).as("__sy"),
        sum(d(col("yc")) * d(col("__y2"))).as("__sxy"),
        sum(d(col("yc")) * d(col("yc"))).as("__sxx"),
        sum(d(col("__y2")) * d(col("__y2"))).as("__syy"))
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n_pairs"),
        when(da > 0 && db > 0,
          round((col("n_pairs") * col("__sxy") -
              col("__sx") * col("__sy")).cast("double") /
            (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
          .as("acf"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope over the daily value
    * series, per event type — the NONPARAMETRIC member of the trend
    * panel. [[trendFit]] answers "what is the least-squares slope?",
    * which one outlier day can own; Mann–Kendall (Mann 1945, Kendall
    * 1975) asks "do later days beat earlier days more often than
    * chance?" (a pure rank statement, outlier-immune) and Theil–Sen
    * (Sen 1968) prices the drift as the MEDIAN pairwise slope — the
    * standard pair for monitoring corpus-ingest volume drift where
    * one backfill day would wreck a regression.
    *
    * Exact-integer scheme: S = #concordant − #discordant and the
    * tie-corrected variance numerator var18 = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5) are exact longs on the daily panel; the only
    * floats are each pair's slope (one mirrored double division) and
    * the final z/tau ratios, rounded 6. The Sen median is the textbook
    * average of the two middle slopes (equal for odd pair counts),
    * picked by explicit row-number positions — no engine-specific
    * quantile semantics. z carries the standard ±1 continuity
    * correction; a tie-degenerate series (var18 = 0) emits NULL z.
    *
    * Scale shape: ONE corpus hash-agg to the (type, day) dictionary
    * ([[trendDaily]] — the state the trend/CUSUM/ACF twins already
    * hold), then everything — the pair θ-join, the tie fold, the
    * median pick — runs on that dictionary (|days|² pairs per type,
    * bounded by the calendar, never by corpus mass).
    */
  def mannKendall(events: DataFrame): DataFrame =
    mannKendallFromDaily(trendDaily(events))

  /** The Mann–Kendall / Theil–Sen fold over [[trendDaily]]'s (drained)
    * state — mannKendallFromDaily ∘ trendDaily = [[mannKendall]] by
    * construction (spec-pinned), so the streaming twin shares the batch
    * oracle verbatim.
    */
  def mannKendallFromDaily(daily0: DataFrame): DataFrame = {
    // the panel feeds both pair sides, the tie fold and the day count —
    // four consumers, so the pin is load-bearing (the acfFromDaily rule)
    val daily = daily0.localCheckpoint(true)
    val pairs = daily
      .select(col("event_type"), col("day").as("__di"),
        col("yc").as("__yi"))
      .join(daily.select(col("event_type"), col("day").as("__dj"),
        col("yc").as("__yj")), Seq("event_type"))
      .filter(col("__di") < col("__dj"))
      // slope in VALUE units/day (yc is cents): both divisions double,
      // fixed order, mirrored by the oracle bit-for-bit
      .withColumn("__slope",
        (col("__yj") - col("__yi")).cast("double") /
          (col("__dj") - col("__di")).cast("double") / 100.0)
      .localCheckpoint(true) // feeds the S fold AND the median pick
    val sStat = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__yj") > col("__yi"), 1L)
          .when(col("__yj") < col("__yi"), -1L).otherwise(0L))
          .as("s_stat"))
    // Sen median: explicit lower/upper middle positions over a total
    // order (slope ties broken by the pair's day coordinates)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__slope"), col("__di"), col("__dj"))
    val sen = pairs
      .withColumn("__rn", row_number().over(w))
      .join(sStat.select(col("event_type"), col("n_pairs").as("__m")),
        Seq("event_type"))
      .filter(col("__rn") === expr("(__m + 1) div 2") ||
        col("__rn") === expr("__m div 2 + 1"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("__slope")), 6).as("sen_slope"))
    val ties = daily.groupBy(col("event_type"), col("yc"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("__nd"), sum(col("__t")).as("__n"),
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5))
          .as("__tie18"))
    val zNum = when(col("s_stat") > 0, col("s_stat").cast("double") - 1.0)
      .when(col("s_stat") < 0, col("s_stat").cast("double") + 1.0)
      .otherwise(0.0)
    sStat.join(ties, Seq("event_type"))
      .withColumn("var18",
        col("__n") * (col("__n") - 1) * (col("__n") * 2 + 5) -
          col("__tie18"))
      .join(sen, Seq("event_type"))
      .select(col("event_type"), col("__n").as("n_days"), col("n_pairs"),
        col("s_stat"), col("var18"),
        round(col("s_stat").cast("double") /
          col("n_pairs").cast("double"), 6).as("tau"),
        when(col("var18") > 0,
          round(zNum / sqrt(col("var18").cast("double") / 18.0), 6))
          .as("z"),
        col("sen_slope"))
  }

  /** LOCF gap-fill — last-observation-carried-forward daily resample
    * with staleness accounting. The zero-fill spine (gap_fill /
    * [[acfFromDaily]]'s filled series) treats a quiet day as zero MASS —
    * right for additive series; LOCF treats it as a stale OBSERVATION —
    * right for level-like series (inventory, model version, price),
    * where the consumer needs the last known level AND how stale it is.
    *
    * Determinism: pure integer relational algebra — the carried value is
    * picked by an exact max-day θ-join, no window ordering, no IGNORE
    * NULLS engine semantics to disagree on. Scale: the spine, the
    * last-observed pick and the value join all live on the (type, day)
    * dictionary ([[trendDaily]]'s state — the trend/CUSUM/ACF/MK twin
    * family); the θ-join is |days|² per type, bounded by the calendar.
    *
    * @return (event_type, day, yc, observed, staleness) — yc the carried
    *         cent total, staleness = days since the carried observation
    */
  def locfDaily(events: DataFrame): DataFrame =
    locfFromDaily(trendDaily(events))

  /** The LOCF fold over [[trendDaily]]'s (drained) state —
    * locfFromDaily ∘ trendDaily = [[locfDaily]] (spec-pinned).
    */
  def locfFromDaily(daily0: DataFrame): DataFrame = {
    val daily = daily0.localCheckpoint(true) // span + obs-day + value join
    val span = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
    val spine = span.select(col("event_type"),
      explode(sequence(col("__d0"), col("__d1"))).as("day"))
    spine
      .join(daily.select(col("event_type"), col("day").as("__od")),
        Seq("event_type"))
      .filter(col("__od") <= col("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("__od")).as("__last"))
      .join(daily.select(col("event_type"), col("day").as("__last"),
        col("yc")), Seq("event_type", "__last"))
      .select(col("event_type"), col("day"), col("yc"),
        (col("day") === col("__last")).as("observed"),
        (col("day") - col("__last")).as("staleness"))
  }

  def markovTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("event_id"))
    val steps = events
      .withColumn("__us", epochMicros(events))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    // the aggregated table is |types|² rows — the normalizing window is
    // driver-cheap and stays in one stage
    val byPrev = Window.partitionBy(col("prev_type"))
    steps
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(byPrev), 6))
      .select(col("prev_type"), col("next_type"), col("n"), col("prob"))
  }

  /** Interval overlap join — the temporal θ-join ("which intervals
    * intersect?") behind campaign attribution, downtime blame, and
    * session-vs-window joins. A naive formulation is a cartesian with a
    * range predicate; this one is an EQUI-join on time chunks:
    *
    * each interval [s, e] (integer units, s ≤ e) explodes into the chunks
    * `s div chunk .. e div chunk` it touches; candidates meet on equal
    * chunk ids; the exact predicate filters; and the pair is kept ONLY in
    * the chunk containing max(s_a, s_b) — the intersection's start, which
    * both sides provably cover — so every true pair is emitted exactly
    * once with no `distinct` over the pair mass.
    *
    * Scale shape: replication factor is interval_span/chunk (bounded when
    * `chunk` tracks the typical span); the only shuffle keys on the chunk
    * id, so co-occurring intervals meet locally and nothing is all-pairs.
    * Per-chunk mass is the TRUE temporal density — a skewed hot window is
    * a data property (AQE skew-split applies), not a plan defect.
    *
    * Emits (left id, right id, overlap_units = min(e)-max(s), inclusive
    * bounds) for every intersecting pair.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      leftIdCol: String,
      rightIdCol: String,
      startCol: String,
      endCol: String,
      chunk: Long): DataFrame = {
    require(chunk > 0, "chunk must be positive")
    def chunked(df: DataFrame, idCol: String, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}_id"),
          col(startCol).cast("long").as(s"${p}_s"),
          col(endCol).cast("long").as(s"${p}_e"))
        .withColumn("__chunk", explode(sequence(
          expr(s"${p}_s div $chunk"), expr(s"${p}_e div $chunk"))))
    val l = chunked(left, leftIdCol, "l")
    val r = chunked(right, rightIdCol, "r")
    l.join(r, Seq("__chunk"))
      .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
      .filter(col("__chunk") ===
        expr(s"greatest(l_s, r_s) div $chunk"))
      .select(col("l_id"), col("r_id"),
        (least(col("l_e"), col("r_e")) -
          greatest(col("l_s"), col("r_s"))).as("overlap_units"))
  }

  /** Per-user behavioral entropy: Shannon entropy of each user's
    * event-type distribution — the diversity feature behind bot/engagement
    * scoring (a one-action bot scores 0; a uniform k-type user scores
    * ln k). Computed as ln(n) − (Σ c·ln c)/n from EXACT integer type
    * counts, so the only float freedom is the ≤ |types| per-user
    * summation order, absorbed by the repo's 6-decimal rounding contract.
    * Two hash-aggregates ((user, type) then user), user-mass output.
    */
  def userEntropy(events: DataFrame): DataFrame =
    entropyFromCounts(userTypeCounts(events))

  /** [[userEntropy]]'s state half: exact per-(user, type) counts — ONE
    * associative aggregation over one scan, legal Complete-mode STREAMING
    * state (the kAnonymityCounts class-size precedent: user×type keys,
    * user-dictionary scale).
    */
  def userTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("__c"))

  /** The entropy fold over [[userTypeCounts]]' (drained) state — the
    * identical algebra [[userEntropy]] composes, so
    * entropyFromCounts ∘ userTypeCounts = userEntropy (spec-pinned) and
    * the streaming twin shares the batch oracle verbatim.
    */
  def entropyFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("user_id"))
      .agg(sum(col("__c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("__c").cast("double") * log(col("__c").cast("double")))
          .as("__clnc"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double")) -
          col("__clnc") / col("n_events").cast("double"), 6)
          .as("entropy"))

  /** Hour-of-day seasonality index — the capacity/anomaly-baseline panel:
    * per (event_type, UTC hour), event count, mean value, and the index
    * vs the type's overall mean (1.0 = flat; a 2.3 at hour 9 is the
    * morning peak an alerting threshold must not fire on). The
    * decomposition [[trendFit]]'s residuals implicitly assume away.
    *
    * Determinism: the index is a ratio of two rational means —
    * (Σ_h/n_h)/(Σ_t/n_t) = Σ_h·n_t / (n_h·Σ_t) — computed from exact
    * integer cent sums in DECIMAL(38,0), one float division, round 6.
    *
    * Scale: one hash-agg to the (type, hour) dictionary (≤ 24·|types|
    * rows), totals folded back per type — dictionary-scale join only.
    */
  def seasonalityIndex(events: DataFrame): DataFrame =
    seasonalityFromHourly(hourlyCounts(events))

  /** [[seasonalityIndex]]'s state half: per-(type, UTC hour) counts and
    * exact cent sums — ONE associative aggregation, legal Complete-mode
    * streaming state (≤ 24·|types| keys).
    */
  def hourlyCounts(events: DataFrame): DataFrame = events
    .withColumn("__sec", epochSeconds(events))
    .selectExpr("event_type", "(__sec div 3600) % 24 AS hour", "value")
    .groupBy(col("event_type"), col("hour"))
    .agg(count(lit(1)).as("n"),
      sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("__sc"))

  /** The index fold over [[hourlyCounts]]' (drained) state —
    * seasonalityFromHourly ∘ hourlyCounts = [[seasonalityIndex]], so the
    * streaming twin shares the batch oracle verbatim.
    */
  def seasonalityFromHourly(hourly0: DataFrame): DataFrame = {
    val hourly = hourly0
      .localCheckpoint(true) // dictionary; feeds totals + the output join
    val tot = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("__nt"), sum(col("__sc")).as("__st"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    hourly.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        round(col("__sc").cast("double") / col("n").cast("double"), 6)
          .as("mean_cents"),
        round((d(col("__sc")) * d(col("__nt"))).cast("double") /
          (d(col("n")) * d(col("__st"))).cast("double"), 6)
          .as("season_index"))
  }

  /** RFM segmentation — the classic user-value decomposition: per user,
    * Recency (whole days since their last event, vs the corpus's last
    * event), Frequency (event count), Monetary (exact value cents), each
    * scored 1–5 against the corpus-wide quintile BREAKPOINTS, plus the
    * 3-digit segment code (r·100 + f·10 + m; 555 = best).
    *
    * Scores are value-vs-breakpoint, not exact-equal-count ntiles: a
    * global NTILE needs a full sort of the user table, while breakpoints
    * come from [[graft.metrics.Metrics.exactPercentiles]]'s distributed
    * selection (type-1 quantiles at 20/40/60/80%, exact integer ranks) and
    * broadcast as ONE row — the 100 TB-safe formulation, and the tie
    * semantics (equal metric ⇒ equal score) is arguably the right one for
    * segmentation anyway. F/M score = 1 + #(breakpoints strictly below the
    * value); R score = 1 + #(breakpoints strictly above), so fresher
    * users score higher. All comparisons are exact longs.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    import graft.metrics.Metrics
    val sec = epochSeconds(events)
    val perUser = events.groupBy(col("user_id"))
      .agg(max(sec).as("__last"), count(lit(1)).as("frequency"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("monetary_cents"))
    val end = perUser.agg(max(col("__last")).as("__end"))
    val users = perUser.crossJoin(broadcast(end))
      .select(col("user_id"),
        expr("(__end - __last) DIV 86400").as("recency_days"),
        col("frequency"), col("monetary_cents"))
      .localCheckpoint(true)
    val qs = Seq(200000L, 400000L, 600000L, 800000L)
    def bpRow(valCol: String, prefix: String): DataFrame =
      Metrics.exactPercentiles(users, valCol, qs)
        .agg(
          max(when(col("q") === 0.2, col("value"))).as(s"${prefix}20"),
          max(when(col("q") === 0.4, col("value"))).as(s"${prefix}40"),
          max(when(col("q") === 0.6, col("value"))).as(s"${prefix}60"),
          max(when(col("q") === 0.8, col("value"))).as(s"${prefix}80"))
    def above(v: Column, prefix: String): Column =
      (lit(1) + qs.indices.map(i =>
        when(v > col(s"$prefix${(i + 1) * 20}"), 1).otherwise(0))
        .reduce(_ + _)).cast("long")
    def below(v: Column, prefix: String): Column =
      (lit(1) + qs.indices.map(i =>
        when(v < col(s"$prefix${(i + 1) * 20}"), 1).otherwise(0))
        .reduce(_ + _)).cast("long")
    users
      .crossJoin(broadcast(bpRow("recency_days", "r")))
      .crossJoin(broadcast(bpRow("frequency", "f")))
      .crossJoin(broadcast(bpRow("monetary_cents", "m")))
      .withColumn("r_score", below(col("recency_days"), "r"))
      .withColumn("f_score", above(col("frequency"), "f"))
      .withColumn("m_score", above(col("monetary_cents"), "m"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"),
        col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"))
  }

  /** Kaplan–Meier time-to-event curve — the survival-analysis view of
    * conversion/churn: per user, the whole-day duration from their FIRST
    * event to their first event satisfying `eventPred` (converted,
    * event = true); users who never convert are right-CENSORED at their
    * last observed event — the distinction a naive conversion-rate curve
    * gets wrong (a user observed 2 days who hasn't converted says nothing
    * about day-10 conversion; dropping them biases the curve down, while
    * counting them as non-converters biases it up — KM handles exactly
    * this). For each duration d: risk set n(d) = users still under
    * observation at d, events e(d), and the product-limit estimator
    * S(d) = Π_{d' ≤ d} (1 − e(d')/n(d')).
    *
    * Determinism: risk sets and event counts are exact longs via one
    * cumulative window over the DISTINCT-duration table (day-range-
    * bounded, dictionary-scale); the product runs as exp∘Σln in ascending
    * duration order (the window's running order, identical in both
    * engines) with the repo's 6-decimal rounding absorbing libm ulp
    * noise. The only zero factor possible is a final row where the whole
    * remaining risk set converts — pinned to 0.0 explicitly (DuckDB
    * refuses ln(0), and both engines would otherwise ride on -inf
    * semantics).
    *
    * Scale: one (user) hash-agg over the corpus (the conditional min
    * shares the pass), then everything is distinct-duration-scale. Linear
    * at any corpus.
    */
  def kaplanMeier(
      events: DataFrame,
      eventPred: Column,
      cohort: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sec = epochSeconds(events)
    // cohort is any per-event expression whose per-user MIN defines the
    // user's stratum (e.g. week of first event) — one curve per cohort,
    // windows partitioned so the per-stratum products never interleave
    val perUser = events.groupBy(col("user_id"))
      .agg(min(sec).as("__first"), max(sec).as("__last"),
        min(when(eventPred, sec)).as("__conv"),
        min(cohort.getOrElse(lit(0L))).as("cohort"))
    val users = perUser
      .select(col("cohort"),
        when(col("__conv").isNotNull,
          expr("(__conv - __first) DIV 86400"))
          .otherwise(expr("(__last - __first) DIV 86400")).as("dur"),
        col("__conv").isNotNull.as("__ev"))
    val byDur = users.groupBy(col("cohort"), col("dur"))
      .agg(sum(when(col("__ev"), 1L).otherwise(0L)).as("n_event"),
        sum(when(col("__ev"), 0L).otherwise(1L)).as("n_censored"))
    val tot = users.groupBy(col("cohort")).agg(count(lit(1)).as("__n"))
    val wprev = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wcum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = byDur.join(broadcast(tot), Seq("cohort"))
      .withColumn("n_risk", col("__n") -
        coalesce(sum(col("n_event") + col("n_censored")).over(wprev),
          lit(0L)))
      .withColumn("__lnf",
        when(col("n_event") < col("n_risk"),
          log((col("n_risk") - col("n_event")).cast("double") /
            col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("survival",
        when(col("n_event") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(sum(col("__lnf")).over(wcum)), 6)))
    if (cohort.isDefined)
      curve.select(col("cohort"), col("dur"), col("n_risk"),
        col("n_event"), col("n_censored"), col("survival"))
    else
      curve.select(col("dur"), col("n_risk"), col("n_event"),
        col("n_censored"), col("survival"))
  }

  /** CUSUM changepoint localization over the per-type DAILY value series —
    * the drift panel's missing axis: [[graft.metrics.Metrics.psiDrift]] /
    * ksDrift ask "did the distribution move", trend_fit asks "how fast is
    * it moving"; CUSUM answers WHEN the level shifted (Page 1954; the
    * max-|CUSUM| argmax is the classic single-changepoint estimator —
    * alert triage reads it as "split the series here").
    *
    * Exact integer scheme: with daily cent totals y₁..yₙ (observed days,
    * day-ascending) and T = Σy, the mean-centered cumulative sum scaled
    * by n stays integral: Sₖ = n·(Σ_{i≤k} yᵢ) − k·T (DECIMAL(38,0)).
    * The peak pick max(|Sₖ|) tie-breaks to the EARLIEST day via a
    * max-struct (no window re-sort), so the changepoint is engine-exact;
    * the emitted magnitude/means are the only float ops, rounded 6.
    *
    * Scale shape: ONE corpus hash-agg to the (type, day) dictionary
    * ([[trendDaily]]); the cumulative/argmax run as windows over that
    * dictionary-scale state only — never a corpus-mass sort.
    *
    * @return per type: (event_type, n_days, cp_day — last day of the
    *         "before" regime, cusum_peak — max|Sₖ|/n in cents,
    *         mean_before, mean_after — cents/day; after-means NULL when
    *         the peak sits on the final day (constant series))
    */
  def cusumChangepoint(events: DataFrame): DataFrame =
    cusumFromDaily(trendDaily(events))

  /** The changepoint fold over [[trendDaily]]'s (drained) state — the
    * same state the trend twin holds, so the STREAMING changepoint
    * monitor is free: cusumFromDaily ∘ trendDaily = [[cusumChangepoint]]
    * (spec-pinned), oracle shared verbatim. All windows run over the
    * (type, day) dictionary only.
    */
  def cusumFromDaily(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("event_type"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    daily
      .withColumn("__cum", sum(col("yc")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("__n", count(lit(1)).over(wall))
      .withColumn("__t", sum(col("yc")).over(wall))
      .withColumn("__s",
        d(col("__n")) * d(col("__cum")) - d(col("__k")) * d(col("__t")))
      .withColumn("__abs", abs(col("__s")))
      .groupBy(col("event_type"))
      .agg(max(col("__n")).as("n_days"),
        max(col("__t")).as("__tt"),
        max(struct(col("__abs"), (-col("day")).as("__nd"),
          col("__cum").as("__c"), col("__k").as("__kk"))).as("__m"))
      .select(col("event_type"), col("n_days"),
        (-col("__m.__nd")).as("cp_day"),
        round(col("__m.__abs").cast("double") /
          col("n_days").cast("double"), 6).as("cusum_peak"),
        round(col("__m.__c").cast("double") /
          col("__m.__kk").cast("double"), 6).as("mean_before"),
        when(col("n_days") > col("__m.__kk"),
          round((col("__tt") - col("__m.__c")).cast("double") /
            (col("n_days") - col("__m.__kk")).cast("double"), 6))
          .as("mean_after"))
  }

  /** CUPED variance reduction for the A/B panel (Deng, Xu, Kohavi &
    * Walker, "Improving the Sensitivity of Online Controlled
    * Experiments by Utilizing Pre-Experiment Data", WSDM 2013 — the
    * industry-standard sensitivity lever): per experiment unit (user),
    * the pre-period metric X predicts the experiment-period metric Y,
    * and the adjusted metric Y − θ(X − X̄) with θ = cov(X,Y)/var(X)
    * removes the between-user variance X explains (reduction ≈ ρ²) —
    * same treatment-effect estimand, tighter t.
    *
    * Determinism: the ENTIRE panel is an algebra over exact moment
    * sums — per-unit X/Y are exact cent longs from one (user, side)
    * hash-agg, the per-side moments (n, Σx, Σy, Σx², Σy², Σxy) ride
    * decimal(38,0) conditional sums in ONE aggregate, and θ, the
    * adjusted means/variances (Var(Y−θX) = VarY + θ²VarX − 2θCovXY per
    * side — no per-unit double ever summed), both t statistics, and the
    * variance-reduction ratio are fixed-order doubles rounded 6. NULL
    * θ/cuped columns when pooled var(X) is 0 (no pre-period signal);
    * raw t follows the Welch convention (n ≥ 2 per side).
    *
    * Scale: one shuffle on the unit key, one map-side-combined 1-row
    * moment fold. Moment magnitudes stay exact through decimal(38,0);
    * the double conversion is exact below 2^53 (documented domain —
    * cents·cents sums at trillions of rows want a wider money unit).
    *
    * @param splitDay units' events strictly before this epoch day are
    *                 the pre-period X; the rest are the outcome Y
    */
  def cuped(df: DataFrame, splitDay: Long): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val day = if (isNanosLong(df)) expr("(ts DIV 1000000000) DIV 86400")
      else expr("unix_timestamp(ts) DIV 86400")
    val units = df.select(col("user_id"),
        (col("user_id") % 2 === 0).as("side"),
        (day < splitDay).as("pre"), cents.as("c"))
      .groupBy(col("user_id"), col("side"))
      .agg(sum(when(col("pre"), col("c")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("c")).otherwise(0L)).as("y"))
      .select(col("side"), col("x"), col("y"),
        (col("x").cast("decimal(38,0)") * col("x")).as("xx"),
        (col("y").cast("decimal(38,0)") * col("y")).as("yy"),
        (col("x").cast("decimal(38,0)") * col("y")).as("xy"))
    def sideSum(c: Column, a: Boolean): Column =
      sum(when(col("side") === !a, c)).cast("double")
    val g = units.agg(
      sum(when(col("side") === false, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("side") === true, 1L).otherwise(0L)).as("n_b"),
      sideSum(col("x"), a = true).as("sxa"),
      sideSum(col("x"), a = false).as("sxb"),
      sideSum(col("y"), a = true).as("sya"),
      sideSum(col("y"), a = false).as("syb"),
      sideSum(col("xx"), a = true).as("xxa"),
      sideSum(col("xx"), a = false).as("xxb"),
      sideSum(col("yy"), a = true).as("yya"),
      sideSum(col("yy"), a = false).as("yyb"),
      sideSum(col("xy"), a = true).as("xya"),
      sideSum(col("xy"), a = false).as("xyb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    val sx = col("sxa") + col("sxb")
    val sy = col("sya") + col("syb")
    val sxx = col("xxa") + col("xxb")
    val sxy = col("xya") + col("xyb")
    val thDen = n * sxx - sx * sx
    // guarded division: a covariate with zero variance (e.g. no
    // pre-period events at all) must yield NULL theta, not an ANSI
    // divide-by-zero — downstream cuped columns are when(okTheta)-masked
    val theta = when(thDen =!= 0.0, (n * sxy - sx * sy) / thDen)
    def va(s: String) = (col(s"yy$s") - col(s"sy$s") * col(s"sy$s") /
      (if (s == "a") na else nb)) / ((if (s == "a") na else nb) - 1.0)
    def vx(s: String) = (col(s"xx$s") - col(s"sx$s") * col(s"sx$s") /
      (if (s == "a") na else nb)) / ((if (s == "a") na else nb) - 1.0)
    def cxy(s: String) = (col(s"xy$s") - col(s"sx$s") * col(s"sy$s") /
      (if (s == "a") na else nb)) / ((if (s == "a") na else nb) - 1.0)
    def vAdj(s: String) =
      va(s) + theta * theta * vx(s) - lit(2.0) * theta * cxy(s)
    val xbar = sx / n
    def meanAdj(s: String) =
      col(s"sy$s") / (if (s == "a") na else nb) -
        theta * (col(s"sx$s") / (if (s == "a") na else nb) - xbar)
    val seRaw = va("a") / na + va("b") / nb
    val seAdj = vAdj("a") / na + vAdj("b") / nb
    val okRaw = col("n_a") >= 2L && col("n_b") >= 2L
    val okTheta = okRaw && thDen > 0.0
    g.select(col("n_a"), col("n_b"),
      when(okTheta, round(theta, 6)).as("theta"),
      round(col("sya") / na, 6).as("mean_a"),
      round(col("syb") / nb, 6).as("mean_b"),
      when(okTheta, round(meanAdj("a"), 6)).as("mean_a_adj"),
      when(okTheta, round(meanAdj("b"), 6)).as("mean_b_adj"),
      when(okRaw && seRaw > 0.0,
        round((col("sya") / na - col("syb") / nb) / sqrt(seRaw), 6))
        .as("t_raw"),
      when(okTheta && seAdj > 0.0,
        round((meanAdj("a") - meanAdj("b")) / sqrt(seAdj), 6))
        .as("t_cuped"),
      when(okTheta && seRaw > 0.0,
        round(lit(1.0) - seAdj / seRaw, 6)).as("var_reduction"))
  }
}
