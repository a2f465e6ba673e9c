package graft

import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch,
  Executors, TimeUnit}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.streaming.Streams
import graft.streaming.Streams.{SessionEvent, SessionOut}

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(sec: Long) = new Timestamp(sec * 1000L)

  test("windowedAgg aggregates per tumbling window and event type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t(0), 1, "click", 1.0), Ev(t(60), 2, "click", 2.0),
      Ev(t(120), 1, "buy", 10.0), Ev(t(3700), 1, "click", 4.0))
    val out = Streams.runToMemory(spark,
      Streams.windowedAgg(in.toDF(), window = "1 hour"),
      OutputMode.Complete)
    val rows = out
      .select(unix_timestamp($"window.start").as("w"), $"event_type",
        $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(rows === Set(
      (0L, "click", 2L, 3.0), (0L, "buy", 1L, 10.0),
      (3600L, "click", 1L, 4.0)))
  }

  test("runToMemory drops its sink view; the returned frame still collects") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(60), 2, "buy", 2.0))
    val out = Streams.runToMemory(spark, in.toDF().select($"user_id"))
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("stream_")), views.mkString(", "))
    assert(out.as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("Append-mode hourly agg: watermark emits exactly the closed " +
      "windows and EVICTS their state (final state = open frontier)") {
    import graft.io.Tables
    import graft.scale.Events
    val batch = Tables.load(spark, sf, "events")
    val stream = Tables.stream(spark, sf, "events")
    val agg = stream
      .withColumn("__ts", Events.tsAsTimestamp(stream))
      .withWatermark("__ts", "1 hour")
      .groupBy(window($"__ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".cast("long").as("h"), $"event_type",
        $"n_events")
    val q = agg.writeStream.format("memory").queryName("happend_spec")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // final state rows = windows NOT yet closed (the open frontier) —
    // closed windows were emitted once and their state evicted
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val emitted = spark.table("happend_spec")
      .as[(Long, String, Long)].collect().toSet
    // batch ground truth + the same integer watermark cutoff
    val all = Events.hourlyAgg(batch)
      .select($"hour_epoch", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    val maxUs = batch
      .select(max(unix_micros(Events.tsAsTimestamp(batch)))).as[Long].head()
    val wmUs = (maxUs / 1000 - 3600000L) * 1000L
    val closed = all.filter { case (h, _, _) => (h + 3600L) * 1000000L <= wmUs }
    assert(emitted === closed)
    assert(emitted.nonEmpty && emitted.size < all.size,
      "the open-window frontier must be withheld")
    assert(stateRows == (all.size - emitted.size).toLong,
      s"state must hold ONLY the open frontier " +
        s"(state=$stateRows, open=${all.size - emitted.size})")
  }

  test("Append-mode session windows: watermark emits exactly the closed " +
      "sessions and evicts their state") {
    import graft.io.Tables
    import graft.scale.Events
    val batch = Tables.load(spark, sf, "events")
    val stream = Tables.stream(spark, sf, "events")
    val agg = stream
      .withColumn("__ts", Events.tsAsTimestamp(stream))
      .withWatermark("__ts", "1 hour")
      .groupBy(session_window($"__ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"session_window.end").as("end_us"),
        $"n_events")
    val q = agg.writeStream.format("memory").queryName("sessapp_spec")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val emitted = spark.table("sessapp_spec")
      .as[(Long, Long, Long)].collect().toSet
    // ground truth: the Complete-mode twin (all sessions) + the cutoff
    val all = Streams.runToMemory(spark,
        stream.withColumn("__ts", Events.tsAsTimestamp(stream))
          .groupBy(session_window($"__ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            unix_micros($"session_window.end").as("end_us"), $"n_events"),
        OutputMode.Complete)
      .as[(Long, Long, Long)].collect().toSet
    val maxUs = batch
      .select(max(unix_micros(Events.tsAsTimestamp(batch)))).as[Long].head()
    val wmUs = (maxUs / 1000 - 3600000L) * 1000L
    val closed = all.filter(_._2 <= wmUs)
    assert(emitted === closed)
    assert(emitted.nonEmpty && emitted.size < all.size)
    assert(stateRows == (all.size - emitted.size).toLong,
      s"state must hold only open sessions " +
        s"(state=$stateRows, open=${all.size - emitted.size})")
  }

  test("dedupWithinWatermark drops repeated keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t(0), 1, "click", 1.0), Ev(t(10), 1, "click", 1.0),
      Ev(t(20), 2, "click", 2.0))
    val out = Streams.runToMemory(spark,
      Streams.dedupWithinWatermark(in.toDF(), Seq("user_id", "event_type")))
    assert(out.count() === 2)
    assert(out.select("user_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("sessionWindows closes sessions at the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // user 1: two events 10 min apart (one session), then one 2h later
    in.addData(
      Ev(t(0), 1, "click", 1.0), Ev(t(600), 1, "click", 2.0),
      Ev(t(7800), 1, "click", 3.0))
    // advance the watermark far enough to emit both sessions
    in.addData(Ev(t(100000), 9, "tick", 0.0))
    val out = Streams.runToMemory(spark,
      Streams.sessionWindows(in.toDF(), gap = "30 minutes"))
    val u1 = out.filter($"user_id" === 1)
      .select($"n_events", $"sum_value").as[(Long, Double)]
      .collect().toSet
    assert(u1 === Set((2L, 3.0), (1L, 3.0)))
  }

  test("file-stream over the real events table matches batch hourly counts") {
    import graft.io.Tables
    import graft.scale.Events
    val batch = Tables.load(spark, sf, "events")   // ts is TIMESTAMP_NTZ
    // file streams need a DIRECTORY source; stage the single parquet file
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamedRaw = spark.readStream
      .schema(batch.schema)
      .parquet(streamDir.toString)
    val streamed =
      streamedRaw.withColumn("ts_t", Events.tsAsTimestamp(streamedRaw))
    val agg = Streams.windowedAgg(streamed, tsCol = "ts_t",
      window = "1 hour", watermark = "2 hours")
    val out = Streams.runToMemory(spark, agg, OutputMode.Complete)
    val streamTotal = out.agg(sum("n_events")).as[Long].head()
    val batchTotal = batch.count()
    assert(streamTotal === batchTotal)
    // per-(hour, type) counts agree with the batch operator
    val batchAgg = Events.hourlyAgg(batch)
      .select($"hour_epoch", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    val streamAgg = out
      .select(unix_timestamp($"window.start").as("h"), $"event_type",
        $"n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(streamAgg === batchAgg)
  }

  test("streaming rolling-HLL state equals the batch register rollup") {
    // the Complete-mode max-agg state must reproduce the batch register
    // table exactly, so the windowed sketch columns agree row for row
    val stream = SparkEntry.queries("streaming_rolling_hll_events")(spark, sf)
      .select($"event_type", $"hour", $"n_zero_regs", $"harmonic_num",
        $"regs_digest", $"hll_est")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("rolling_hll_events")(spark, sf)
      .select($"event_type", $"hour", $"n_zero_regs", $"harmonic_num",
        $"regs_digest", $"hll_est")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(stream === batch)
  }

  test("streaming top-k heavy hitters equals the batch count ranking") {
    val stream = SparkEntry.queries("streaming_topk_events")(spark, sf)
      .select($"rk", $"user_id", $"n", $"share")
      .as[(Int, Long, Long, Double)].collect().toSet
    import graft.io.Tables
    val ev = Tables.load(spark, sf, "events")
    val batchCounts = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
    val tot = batchCounts.agg(sum($"n")).as[Long].head()
    val batch = graft.core.Bounded.withRank(
        batchCounts.orderBy($"n".desc, $"user_id").limit(20),
        Seq("n" -> true, "user_id" -> false), "rk")
      .select($"rk", $"user_id", $"n",
        round($"n".cast("double") / tot, 6).as("share"))
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(stream === batch)
  }

  test("stream-stream interval join: window bounds inclusive, outside-window dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t(1000), 1, "click", 0.0),    // exactly 1 h before -> kept (closed bound)
      Ev(t(4600), 1, "purchase", 1.0),
      Ev(t(100), 2, "click", 0.0),     // 3700 s before -> outside 1 h window
      Ev(t(3800), 2, "purchase", 1.0),
      Ev(t(5000), 3, "click", 0.0),    // click AFTER purchase -> dropped
      Ev(t(4000), 3, "purchase", 1.0),
      Ev(t(4000), 4, "click", 0.0),    // same instant -> kept (<= bound)
      Ev(t(4000), 4, "purchase", 1.0))
    val base = in.toDF()
    def side(et: String, u: String, tc: String) =
      base.filter($"event_type" === et)
        .withColumn(tc, $"ts")
        .withWatermark(tc, "2 hours")
        .select($"user_id".as(u), col(tc))
    val joined = side("purchase", "p_user", "p_ts").join(
      side("click", "c_user", "c_ts"),
      expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
    val out = Streams.runToMemory(spark, joined)
    val users = out.select($"p_user").as[Long].collect().sorted.toSeq
    assert(users === Seq(1L, 4L), s"unexpected join survivors: $users")
  }

  test("stream-static anti-join dedup matches the batch computation") {
    // the streaming_corpus_dedup shape on the real table: file-stream of
    // documents anti-joined against the static corpus fingerprints must
    // equal the same plan run fully in batch
    val docs = graft.io.Tables.load(spark, sf, "documents")
    val key = graft.scale.TextAnalysis.minShingleFingerprint(col("text"), 3)
    val corpusKeys = docs.filter(col("doc_id") % 10 < 8)
      .select(key.as("fp")).distinct()
    val batchResult = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("source"), key.as("fp"))
      .join(corpusKeys, Seq("fp"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = SparkEntry.queries("streaming_corpus_dedup_docs")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batchResult)
    assert(streamed.values.sum > 0, "anti-join dropped everything")
  }

  test("streaming Welch A/B state equals the batch panel") {
    val stream = SparkEntry.queries("streaming_ab_events")(spark, sf)
      .select($"event_type", $"n_a", $"n_b", $"mean_a", $"mean_b",
        $"t_stat", $"dof")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    import graft.io.Tables
    val batch = graft.metrics.Metrics.welchTTest(
        Tables.load(spark, sf, "events")
          .withColumn("side", $"user_id" % 2 === 0),
        "value", "side", Seq("event_type"))
      .select($"event_type", $"n_a", $"n_b", $"mean_a", $"mean_b",
        $"t_stat", $"dof")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSet
    assert(stream === batch)
  }

  test("streaming two-proportion state equals the batch panel") {
    val stream = SparkEntry.queries("streaming_proportion_events")(spark, sf)
      .select($"arm", $"n_a", $"n_b", $"k_a", $"k_b", $"p_a", $"p_b", $"z")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    import graft.io.Tables
    val units = Tables.load(spark, sf, "events")
      .select(($"user_id" % 3).as("arm"), ($"user_id" % 2 === 0).as("side"),
        ($"event_type" === "purchase" && $"value" >= 150.0).as("success"))
    val batch = graft.metrics.Metrics
      .proportionZTest(units, "success", "side", Seq("arm"))
      .select($"arm", $"n_a", $"n_b", $"k_a", $"k_b", $"p_a", $"p_b", $"z")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(stream === batch)
  }

  test("streaming g3 FD state equals the batch profiler") {
    import graft.io.Tables
    val fds = Seq(
      ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
      ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
      ("priority->status", Seq("o_orderpriority"), "o_orderstatus"))
    val stream = SparkEntry.queries("streaming_fd_violations_orders")(
        spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.metrics.Metrics.fdViolations(
        Tables.load(spark, sf, "orders"), fds)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(stream === batch)
  }

  test("streaming exact-percentile state equals the batch two-pass " +
      "selection (composition pinned incl. duplicate-heavy groups)") {
    import graft.io.Tables
    // composition identity on a duplicate-heavy hand fixture: the
    // dictionary fold must pick the SAME type-1 ranks as the two-pass
    val df = (Seq.fill(6)(("a", 10L)) ++ Seq(("a", 20L), ("a", 30L)) ++
      Seq(("b", 5L), ("b", 7L))).toDF("g", "v")
    val viaCounts = graft.metrics.Metrics.percentilesFromCounts(
        graft.metrics.Metrics.valueCounts(df, "v", Seq("g")),
        Seq(500000L, 900000L), Seq("g"))
      .as[(String, Double, Long)].collect().toSet
    val direct = graft.metrics.Metrics.exactPercentiles(df, "v",
        Seq(500000L, 900000L), Seq("g"))
      .as[(String, Double, Long)].collect().toSet
    assert(viaCounts === direct)
    assert(viaCounts === Set(("a", 0.5, 10L), ("a", 0.9, 30L),
      ("b", 0.5, 5L), ("b", 0.9, 7L)))
    val stream =
      SparkEntry.queries("streaming_percentiles_lineitem")(spark, sf)
        .as[(String, Double, Long)].collect().toSet
    val batch = SparkEntry.queries("percentiles_lineitem")(spark, sf)
      .as[(String, Double, Long)].collect().toSet
    assert(stream === batch)
  }

  test("bounded-state streaming percentiles: bucket-histogram narrowing " +
      "composition equals the batch two-pass; twin equals batch on the " +
      "corpus") {
    // narrow shift (1) forces multi-bucket histograms and duplicate-heavy
    // target buckets on the hand fixture
    val df = (Seq.fill(6)(("a", 10L)) ++ Seq(("a", 20L), ("a", 30L)) ++
      Seq(("b", 5L), ("b", 7L))).toDF("g", "v")
    val qs = Seq(500000L, 900000L)
    val targets = graft.metrics.Metrics.percentileTargets(
      graft.metrics.Metrics.bucketCounts(df, "v", Seq("g"), 1), qs, Seq("g"))
    // the narrowed pass only ever sees target-bucket rows; feeding the FULL
    // value counts is a superset, which the target join must ignore
    val viaNarrowed = graft.metrics.Metrics.percentilesFromNarrowedCounts(
        graft.metrics.Metrics.valueCounts(df, "v", Seq("g")), targets,
        Seq("g"), 1)
      .as[(String, Double, Long)].collect().toSet
    val direct = graft.metrics.Metrics.exactPercentiles(df, "v", qs,
        Seq("g"), 1)
      .as[(String, Double, Long)].collect().toSet
    assert(viaNarrowed === direct)
    assert(viaNarrowed === Set(("a", 0.5, 10L), ("a", 0.9, 30L),
      ("b", 0.5, 5L), ("b", 0.9, 7L)))
    // state bound: pass-1 state is the BUCKET dictionary, strictly coarser
    // than the value dictionary the single-pass twin holds
    val nBuckets = graft.metrics.Metrics.bucketCounts(
      df, "v", Seq("g"), 1).count()
    val nValues = graft.metrics.Metrics.valueCounts(
      df, "v", Seq("g")).count()
    assert(nBuckets <= nValues)
    val stream = SparkEntry.queries(
        "streaming_percentiles_bounded_lineitem")(spark, sf)
      .as[(String, Double, Long)].collect().toSet
    val batch = SparkEntry.queries("percentiles_lineitem")(spark, sf)
      .as[(String, Double, Long)].collect().toSet
    assert(stream === batch)
  }

  test("bounded-state streaming MAD (five bounded passes) equals the " +
      "batch panel and the value-dictionary twin") {
    val bounded = SparkEntry.queries("streaming_mad_bounded_events")(
        spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("mad_outliers_events")(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(bounded === batch)
  }

  test("streaming PSI state (frozen reference edges) equals the batch panel") {
    import graft.io.Tables
    val stream = SparkEntry.queries("streaming_psi_drift_orders")(spark, sf)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    val batch = graft.metrics.Metrics.psiDrift(
        Tables.load(spark, sf, "orders")
          .withColumn("cents",
            ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", $"o_orderkey" % 2 === 0),
        "cents", "side", 10)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.size == 10)   // the full bin scaffold
  }

  test("streaming k-anonymity state equals the batch panel") {
    import graft.io.Tables
    val stream =
      SparkEntry.queries("streaming_k_anonymity_customer")(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.metrics.Metrics.kAnonymity(
        Tables.load(spark, sf, "customer")
          .withColumn("bal_band",
            expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
              " div 100000")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), Seq(2, 5, 10))
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.size == 3)
  }

  test("streaming MAD-outlier state equals the batch panel") {
    import graft.io.Tables
    val stream =
      SparkEntry.queries("streaming_mad_outliers_events")(spark, sf)
        .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.metrics.Metrics.madOutliers(
        Tables.load(spark, sf, "events")
          .withColumn("cents",
            ($"value".cast("decimal(18,2)") * 100).cast("long")),
        "cents", Seq("event_type"), 3)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("streaming association-panel state equals the batch panel") {
    import graft.io.Tables
    val stream = SparkEntry.queries("streaming_assoc_orders")(spark, sf)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    val batch = graft.metrics.Metrics.assocPanel(
        Tables.load(spark, sf, "orders")
          .withColumn("mon", month($"o_orderdate"))
          .withColumn("band",
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as " +
              "bigint) div 5000000")),
        Seq(("priority_month", "o_orderpriority", "mon"),
          ("status_band", "o_orderstatus", "band"),
          ("status_priority", "o_orderstatus", "o_orderpriority")))
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(stream === batch)
    assert(stream.size == 3)
  }

  test("streaming daily-trend state equals the batch fit " +
      "(trendFromDaily ∘ trendDaily = trendFit, composition pinned)") {
    import graft.io.Tables
    val ev = Tables.load(spark, sf, "events")
    val viaDaily = graft.scale.Events.trendFromDaily(
        graft.scale.Events.trendDaily(ev))
      .as[(String, Long, Option[Double])].collect().toSet
    val direct = graft.scale.Events.trendFit(ev)
      .as[(String, Long, Option[Double])].collect().toSet
    assert(viaDaily === direct)
    val stream = SparkEntry.queries("streaming_trend_events")(spark, sf)
      .as[(String, Long, Option[Double])].collect().toSet
    assert(stream === direct)
    assert(stream.nonEmpty)
  }

  test("streaming CUSUM state equals the batch changepoint " +
      "(cusumFromDaily ∘ trendDaily pinned on the shared daily state)") {
    import graft.io.Tables
    val ev = Tables.load(spark, sf, "events")
    val viaDaily = graft.scale.Events.cusumFromDaily(
        graft.scale.Events.trendDaily(ev))
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().toSet
    val direct = graft.scale.Events.cusumChangepoint(ev)
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().toSet
    assert(viaDaily === direct)
    val stream = SparkEntry.queries("streaming_cusum_events")(spark, sf)
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().toSet
    assert(stream === direct)
    assert(stream.nonEmpty)
  }

  test("streaming user-entropy state equals the batch feature " +
      "(entropyFromCounts ∘ userTypeCounts pinned)") {
    import graft.io.Tables
    val ev = Tables.load(spark, sf, "events")
    val direct = graft.scale.Events.userEntropy(ev)
      .as[(Long, Long, Long, Double)].collect().toSet
    val stream =
      SparkEntry.queries("streaming_user_entropy_events")(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(stream === direct)
    assert(stream.nonEmpty)
  }

  test("streaming l-diversity state equals the batch panel") {
    val stream =
      SparkEntry.queries("streaming_l_diversity_customer")(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("l_diversity_customer")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.size == 3)
  }

  test("streaming skew-profile state equals the batch advisor " +
      "(skewFromSizes over the k-anonymity class-size state)") {
    val stream =
      SparkEntry.queries("streaming_skew_profile_events")(spark, sf)
        .as[(Long, Long, Long, Double, Double, Long, Long, Double, Long)]
        .collect().toSet
    val batch = SparkEntry.queries("skew_profile_events")(spark, sf)
      .as[(Long, Long, Long, Double, Double, Long, Long, Double, Long)]
      .collect().toSet
    assert(stream === batch)
    assert(stream.size == 1)
  }

  test("streaming seasonality / WOE / Pearson panel states equal their " +
      "batch folds") {
    val s1 = SparkEntry.queries("streaming_seasonality_events")(spark, sf)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val b1 = SparkEntry.queries("seasonality_events")(spark, sf)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(s1 === b1 && s1.nonEmpty)
    val s2 = SparkEntry.queries("streaming_woe_iv_events")(spark, sf)
      .as[(Option[Long], Long, Long, Long, Double, Double)]
      .collect().toSet
    val b2 = SparkEntry.queries("woe_iv_events")(spark, sf)
      .as[(Option[Long], Long, Long, Long, Double, Double)]
      .collect().toSet
    assert(s2 === b2 && s2.nonEmpty)
    val s3 =
      SparkEntry.queries("streaming_corr_matrix_lineitem")(spark, sf)
        .as[(String, Long, Option[Double])].collect().toSet
    val b3 = SparkEntry.queries("corr_matrix_lineitem")(spark, sf)
      .as[(String, Long, Option[Double])].collect().toSet
    assert(s3 === b3 && s3.size == 4)
  }

  test("streaming Benford state equals the batch panel") {
    import graft.io.Tables
    val stream = SparkEntry.queries("streaming_benford_orders")(spark, sf)
      .as[(String, Int, Long, Double, Double, Double)].collect().toSet
    val batch = graft.metrics.Metrics.benfordDigits(
        Tables.load(spark, sf, "orders")
          .select($"o_custkey",
            ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
              .as("price_cents")),
        Seq("o_custkey", "price_cents"))
      .as[(String, Int, Long, Double, Double, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.size == 18) // 2 columns × the full 1-9 digit scaffold
  }

  test("streaming embedding drift state equals the batch panel") {
    val stream =
      SparkEntry.queries("streaming_embedding_drift_embeddings")(spark, sf)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
        .collect().toSet
    import graft.io.Tables
    val batch = graft.scale.Similarity.embeddingDrift(
        Tables.load(spark, sf, "embeddings")
          .withColumn("side", $"vec_id" % 2 === 0),
        "embedding", "side")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("Complete-mode bounded-groups contract: every Complete streaming " +
      "query's key domain is dictionary-scale on the corpus") {
    // pins the contract documented on Streams.runToMemory: Complete mode
    // re-emits |groups| rows per micro-batch, so grouping domains must be
    // bounded — arms, event types, embedding dims, sketch registers, and
    // (for the top-k) a user population far below event mass
    import graft.io.Tables
    val ev = Tables.load(spark, sf, "events")
    val nEvents = ev.count()
    val arms = 3L // user_id % 3 — bounded by construction
    val eventTypes = ev.select($"event_type").distinct().count()
    val users = ev.select($"user_id").distinct().count()
    val dims = Tables.load(spark, sf, "embeddings")
      .select(size($"embedding")).as[Int].head().toLong
    assert(arms <= 3 && eventTypes < 100 && dims < 4096,
      "fixed-domain groups must stay dictionary-scale")
    assert(users * 10 <= nEvents,
      s"user-keyed Complete state ($users users) must sit far below " +
        s"event mass ($nEvents events) — unbounded keys need Append mode")
  }

  test("cappedSessions closes on gap and on event cap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    // user 1: 3 events within gap → capped at 3; user 2: gap-split
    in.addData(
      SessionEvent(1, 0, 1.0), SessionEvent(1, 10, 2.0), SessionEvent(1, 20, 3.0),
      SessionEvent(2, 0, 5.0), SessionEvent(2, 4000, 7.0))
    val out = Streams.runToMemory(spark,
      Streams.cappedSessions(in.toDS(), gapSeconds = 1800L, maxEvents = 3L).toDF())
    val rows = out.as[SessionOut].collect()
    val u1 = rows.filter(_.user_id == 1)
    assert(u1.length === 1 && u1.head.closed_by === "cap" &&
      u1.head.n_events === 3 && u1.head.sum_value === 6.0)
    val u2 = rows.filter(_.user_id == 2)
    assert(u2.length === 1 && u2.head.closed_by === "gap" &&
      u2.head.n_events === 1 && u2.head.sum_value === 5.0)
  }

  test("overlapping runToMemory drains run state at the cap and leave the " +
      "session's shuffle partitions unchanged") {
    import graft.io.Tables
    val key = "spark.sql.shuffle.partitions"
    val session = spark.newSession()
    session.conf.set(key, "12")
    val parts = new ConcurrentHashMap[UUID, Set[Long]]()
    val firstStarted = new CountDownLatch(1)
    val terminated = new CountDownLatch(2)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        firstStarted.countDown()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        parts.merge(e.progress.runId,
          e.progress.stateOperators.map(_.numShufflePartitions).toSet, _ ++ _)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    session.streams.addListener(listener)
    try {
      // the second, larger drain starts once the first is running, so it
      // ends last: a save/restore around each whole drain would leave the
      // session at the first drain's cap
      val pool = Executors.newFixedThreadPool(2)
      val drains = try {
        Seq(Seq("event_type"), Seq("user_id", "event_type")).map { keys =>
          pool.submit(new Callable[Long] {
            def call(): Long = {
              val counts = Tables.stream(session, sf, "events")
                .groupBy(keys.map(col): _*).count()
              if (keys.size > 1)
                assert(firstStarted.await(60, TimeUnit.SECONDS))
              Streams.runToMemory(session, counts, OutputMode.Complete).count()
            }
          })
        }.map(_.get(5, TimeUnit.MINUTES))
      } finally pool.shutdown()
      assert(drains.forall(_ > 0))
      assert(session.conf.get(key) === "12")
      // query-terminated events follow each query's progress events
      assert(terminated.await(60, TimeUnit.SECONDS))
      assert(parts.size === 2)
      parts.values.forEach(p => assert(p === Set(8L)))
    } finally session.streams.removeListener(listener)
  }
}
