package graft

import org.apache.spark.sql.functions._
import graft.metrics.Metrics

/** Metric-edge fixtures from FIXTURES.md §A5: case/whitespace-insensitive
  * match, ±0.021 tolerance incl. fractions, truncating zip, sign-dropping
  * regex, "Not excutable" sentinel, legacy-F1 denominator.
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  private def te(pred: String, gold: String): Boolean =
    Seq((pred, gold)).toDF("p", "g")
      .select(Metrics.tolerantEquals(col("p"), col("g")).as("r"))
      .as[Boolean].head()

  test("exact match is case/whitespace-insensitive") {
    assert(te("  Hello World ", "hello world"))
    assert(!te("hello", "world"))
  }

  test("numeric tolerance ±0.021") {
    assert(te("3.14", "3.15"))          // diff 0.01
    assert(te("val 3.14", "x 3.16"))    // diff 0.02
    assert(!te("3.14", "3.17"))         // diff 0.03
  }

  test("fractions decompose into two numbers (reference dead-code quirk)") {
    // The reference's fraction branch is unreachable: findall returns the
    // group, and branch 1 consumes the numerator, so "1/2" -> [1, 2] — it
    // does NOT equal 0.5 (verified against CPython; see Metrics scaladoc).
    assert(!te("1/2", "0.5"))
    assert(te("1/2", "1.0 2.0"))        // [1,2] vs [1,2]
    assert(te("3/8", "3/8") && !te("3/8", "2/8"))
  }

  test("sign is dropped by the reference regex (findall group semantics)") {
    // "-3.14" extracts 3.14 — faithful to utils.py:49 findall with group
    assert(te("-3.14", "3.14"))
  }

  test("truncating zip compares only up to the shorter list") {
    assert(te("1.0 2.0 3.0", "1.0 2.0"))   // extra pred numbers ignored
    assert(te("1.0", "1.0 99.0"))          // extra gold numbers ignored
  }

  test("no numbers on either side -> exact match only") {
    assert(!te("abc", "abd"))
    assert(!te("Not excutable", "yes"))   // the F2 sentinel never matches
  }

  test("nulls normalize to empty string") {
    val r = Seq((Option.empty[String], Option.empty[String]))
      .toDF("p", "g")
      .select(Metrics.tolerantEquals(col("p"), col("g")).as("r"))
      .as[Boolean].head()
    assert(r)   // "" == ""
  }

  test("native codegen expr agrees with the composed built-in formulation") {
    val cases = Seq(
      ("  Hello ", "hello"), ("a", "b"), ("3.14", "3.15"), ("3.14", "3.17"),
      ("1/2", "0.5"), ("1/2", "1.0 2.0"), ("-3.14", "3.14"),
      ("1.0 2.0 3.0", "1.0 2.0"), ("", ""), ("x 1.0", "y"),
      ("0.021", "0.042"), ("0.021", "0.0421"), ("nan", "nan"),
      ("12,5", "12.5"), ("v1.2.3", "1.2 3"), (".5", "0.5"))
    for (truncating <- Seq(true, false)) {
      val df = cases.toDF("p", "g")
      val both = df.select(
        Metrics.tolerantEquals(col("p"), col("g"), 0.021, truncating).as("a"),
        Metrics.tolerantEqualsColumns(col("p"), col("g"), 0.021, truncating).as("b"))
      val rows = both.as[(Boolean, Boolean)].collect()
      rows.zip(cases).foreach { case ((a, b), c) =>
        assert(a === b, s"native vs columns disagree on $c (truncating=$truncating)")
      }
    }
  }

  test("confusionMetrics counts + legacy F1 deflation") {
    val df = Seq(
      ("yes", "yes"),   // tp
      ("no", "yes"),    // fn
      ("no", "no"),     // tn
      ("yes", "no"),    // fp
      ("yes", "yes")    // tp
    ).toDF("pred", "gold")
    val m = Metrics.confusionMetrics(df, "pred", "gold").collect()(0)
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("fn") == 1)
    assert(m.getAs[Long]("tn") == 1 && m.getAs[Long]("fp") == 1)
    assert(m.getAs[Long]("crc") == 3 && m.getAs[Long]("total") == 5)
    val prec = m.getAs[Double]("prec")   // 2/3
    val rec = m.getAs[Double]("rec")     // 2/3
    // ratios are rounded to 6 decimals (oracle determinism rule)
    assert(math.abs(prec - 2.0 / 3) < 1e-6 && math.abs(rec - 2.0 / 3) < 1e-6)
    // p+r = 4/3 > 1 -> legacy == corrected here
    assert(math.abs(m.getAs[Double]("f1_legacy") - m.getAs[Double]("f1")) < 1e-6)
  }

  test("confusionMetricsWeighted over the class distribution equals the " +
    "row-level form") {
    val rows = Seq(
      ("yes", "yes"), ("no", "yes"), ("no", "no"), ("yes", "no"),
      ("yes", "yes"), ("no", "no"), ("no", "no"), ("yes", "yes"))
    def both(df: org.apache.spark.sql.DataFrame) = {
      val classes = df.groupBy($"pred", $"gold").agg(count(lit(1)).as("__w"))
      val a = Metrics.confusionMetrics(df, "pred", "gold")
      val b = Metrics.confusionMetricsWeighted(classes, "pred", "gold", "__w")
      assert(a.schema.fieldNames.toSeq === b.schema.fieldNames.toSeq)
      (a.collect()(0), b.collect()(0))
    }
    val (a, b) = both(rows.toDF("pred", "gold"))
    a.schema.fieldNames.foreach { f =>
      assert(a.getAs[Any](f) === b.getAs[Any](f), s"field $f diverges")
    }
    // empty input: the row-level total is a count (0), the weighted one a
    // sum (NULL); every other field agrees
    val (ea, eb) = both(Seq.empty[(String, String)].toDF("pred", "gold"))
    assert(ea.getAs[Long]("total") === 0L && eb.isNullAt(0))
    ea.schema.fieldNames.filter(_ != "total").foreach { f =>
      assert(ea.getAs[Any](f) === eb.getAs[Any](f), s"empty: field $f diverges")
    }
    assert(ea.getAs[Any]("crc") === null && ea.getAs[Double]("f1") === 0.0)
  }

  test("legacy F1 deflates when prec+rec < 1 (utils.py:127 quirk)") {
    val df = Seq(("yes", "yes"), ("yes", "no"), ("yes", "no"),
      ("no", "yes"), ("no", "yes")).toDF("pred", "gold")
    val m = Metrics.confusionMetrics(df, "pred", "gold").collect()(0)
    val p = m.getAs[Double]("prec")      // 1/3
    val r = m.getAs[Double]("rec")       // 1/3
    assert(p + r < 1.0)
    assert(math.abs(m.getAs[Double]("f1_legacy") - 2 * p * r) < 1e-6)
    assert(math.abs(m.getAs[Double]("f1") - 2 * p * r / (p + r)) < 1e-6)
  }

  test("exactCorrelation: perfect linear relation gives 1, inverse gives -1") {
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0),
      ("b", 1.0, 9.0), ("b", 2.0, 5.0), ("b", 3.0, 1.0)
    ).toDF("g", "x", "y")
    val got = Metrics.exactCorrelation(df, "g", "x", "y")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getAs[Double]("corr_xy"))).toSeq
    assert(got == Seq(("a", 1.0), ("b", -1.0)))
  }

  test("exactCorrelation is partition-invariant bit-for-bit") {
    val base = spark.range(0, 1000)
      .selectExpr("CAST(id % 7 AS STRING) AS g",
        "CAST(id % 13 AS DOUBLE) AS x",
        "CAST((id * id) % 31 AS DOUBLE) AS y")
    val one = Metrics.exactCorrelation(base.coalesce(1), "g", "x", "y")
      .orderBy("g").collect().toSeq
    val many = Metrics.exactCorrelation(base.repartition(17), "g", "x", "y")
      .orderBy("g").collect().toSeq
    assert(one == many)
  }

  test("quantileBin: quartile bins partition the group, ties fall low") {
    val df = (1 to 8).map(i => ("g", i.toDouble)).toDF("g", "v")
    val got = Metrics.quantileBin(df, "g", "v")
      .groupBy("bin").count().orderBy("bin")
      .as[(Int, Long)].collect().toSeq
    // quartiles of 1..8: q1=2.75, q2=4.5, q3=6.25 -> bins of 2 each
    assert(got == Seq((1, 2L), (2, 2L), (3, 2L), (4, 2L)))
  }

  test("profileColumns: exact nulls/distinct/min/max per column") {
    val df = Seq(
      (Some(1L), "b"), (Some(2L), "a"), (None, "a")
    ).toDF("k", "s")
    val got = Metrics.profileColumns(df, Seq("k", "s"))
      .orderBy("column_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq
    assert(got == Seq(
      ("k", 1L, 2L, "1", "2"),
      ("s", 0L, 2L, "a", "b")))
  }

  test("constraintViolations counts rule breaches in one pass") {
    val df = Seq(
      (Some(1L), 10.0), (Some(2L), -5.0), (None, 0.0), (Some(2L), 3.0)
    ).toDF("k", "v")
    val got = Metrics.constraintViolations(df, Seq(
        "nonpositive_v" -> (col("v") <= 0.0),
        "null_k" -> col("k").isNull))
      .unionByName(Metrics.uniquenessViolations(df, "k", "dup_k"))
      .orderBy("rule")
      .as[(String, Long)].collect().toSeq
    // dup_k: 4 rows, 3 distinct non-null... count_distinct skips nulls -> 4-2=2
    assert(got == Seq(("dup_k", 2L), ("nonpositive_v", 2L), ("null_k", 1L)))
  }

  test("aucExact: perfect separation, reversal, and random-chance scores") {
    // positives strictly above negatives -> AUC 1; reversed -> 0; all tied -> 0.5
    val perfect = Seq((10L, 1L), (9L, 1L), (2L, 0L), (1L, 0L)).toDF("s", "y")
    val rp = Metrics.aucExact(perfect, "s", "y").collect()(0)
    assert(rp.getAs[Long]("n_pos") == 2L && rp.getAs[Long]("n_neg") == 2L)
    assert(rp.getAs[Double]("auc") == 1.0)
    val reversed = Seq((1L, 1L), (2L, 1L), (9L, 0L), (10L, 0L)).toDF("s", "y")
    assert(Metrics.aucExact(reversed, "s", "y")
      .collect()(0).getAs[Double]("auc") == 0.0)
    val tied = Seq((5L, 1L), (5L, 1L), (5L, 0L), (5L, 0L)).toDF("s", "y")
    assert(Metrics.aucExact(tied, "s", "y")
      .collect()(0).getAs[Double]("auc") == 0.5)
  }

  test("aucExact: hand-computed ties + per-group split + degenerate group") {
    // group a: pos scores (3, 2), neg scores (2, 1).
    // pairs: (3>2)=1, (3>1)=1, (2=2)=0.5, (2>1)=1 -> U=3.5, P*N=4, AUC=0.875
    // group b: only positives -> undefined AUC (null)
    val df = Seq(
      ("a", 3L, 1L), ("a", 2L, 1L), ("a", 2L, 0L), ("a", 1L, 0L),
      ("b", 7L, 1L), ("b", 4L, 1L)).toDF("g", "s", "y")
    val rows = Metrics.aucExact(df, "s", "y", Seq("g"))
      .orderBy("g").collect()
    assert(rows(0).getAs[Long]("u2") == 7L)   // 2U = 7
    assert(rows(0).getAs[Double]("auc") == 0.875)
    assert(rows(1).getAs[Long]("n_neg") == 0L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("auc")))
  }

  test("rankingMetrics: hand-computed MRR/MAP/P@k/nDCG on two queries") {
    // q1 rel at ranks 1,3  -> rr = 1; ap = (1/1 + 2/3)/2 = 5/6;
    //   p@5 = 2/5; dcg = disc(1)+disc(3); idcg = disc(1)+disc(2)
    // q2 no relevant       -> all zeros
    val rows = (1 to 5).map(r => ("g", "q1", r.toLong,
        if (r == 1 || r == 3) 1L else 0L)) ++
      (1 to 5).map(r => ("g", "q2", r.toLong, 0L))
    val df = rows.toDF("g", "q", "rk", "rel")
    val got = Metrics.rankingMetrics(df, "q", "rk", "rel", Seq("g"), 5)
      .collect()(0)
    assert(got.getAs[Long]("n_queries") == 2L)
    // micro-unit ground truth, replicated here from first principles
    val disc = Metrics.discountMicro(5)
    val apMicro = (1000000L / 1 + 2000000L / 3) / 2   // per-query fold
    val ndcgMicro = (disc(0) + disc(2)) * 1000000L / (disc(0) + disc(1))
    assert(got.getAs[Double]("mrr") == (1000000L / 2) / 1e6)
    assert(got.getAs[Double]("map") ==
      math.floor((apMicro / 2).toDouble) / 1e6)
    assert(got.getAs[Double]("p_at_5") == (2000000L / 5 / 2) / 1e6)
    assert(got.getAs[Double]("ndcg_at_5") == (ndcgMicro / 2) / 1e6)
  }

  test("exactPercentiles: ties, cross-bucket targets, and multiple groups") {
    // group a: values 0..99 plus a heavy tie block at 50
    val vals = ((0L until 100L) ++ Seq.fill(50)(50L)).map(("a", _)) ++
      (0L until 10L).map(("b", _))
    val df = vals.toDF("g", "v")
    val got = Metrics.exactPercentiles(df, "v",
        Seq(500000L, 900000L), Seq("g"), bucketShift = 4)
      .orderBy(col("g"), col("q")).collect()
    // group a: n=150; p50 rank=75 -> sorted(0..49, 50×51, 51..99)[75]=50
    //          p90 rank=135 -> value 84 (135-101 = 34th of 51..99 -> 84)
    assert(got(0).getAs[Double]("q") == 0.5 && got(0).getAs[Long]("value") == 50L)
    assert(got(1).getAs[Double]("q") == 0.9 && got(1).getAs[Long]("value") == 84L)
    // group b: n=10; p50 rank=5 -> value 4; p90 rank=9 -> value 8
    assert(got(2).getAs[Long]("value") == 4L)
    assert(got(3).getAs[Long]("value") == 8L)
  }

  test("medianAbsoluteDeviation: known medians on a small group") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0))
      .toDF("g", "v")
    val r = Metrics.medianAbsoluteDeviation(df, "g", "v").collect()(0)
    // sorted values (1,2,3,100): median = 2.5; |v-med| = (1.5,0.5,0.5,97.5)
    // sorted -> (0.5,0.5,1.5,97.5): interpolated median = 1.0
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("median") == 2.5)
    assert(r.getAs[Double]("mad") == 1.0)
  }

  test("ksDrift: hand-computed supremum, incl. cross-bucket prefix sums") {
    // A = {1,2,3,4}, B = {3,4,5,6}: the ECDF gap peaks at v=2
    // (F_A=2/4, F_B=0) -> num = |2*4 - 0*4| = 8, ks = 0.5.
    // bucketShift=1 puts values in buckets {0,1,2,3}, so the supremum's
    // cumulative counts cross bucket boundaries — exercising the base
    // offsets, not just the within-bucket window.
    val df = (Seq(1L, 2L, 3L, 4L).map((_, false)) ++
      Seq(3L, 4L, 5L, 6L).map((_, true))).toDF("v", "side")
    val r = Metrics.ksDrift(df, "v", "side", 1).collect()(0)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[String]("ks_num") == "8")
    assert(r.getAs[Long]("at_value") == 2L)
    assert(r.getAs[Double]("ks") == 0.5)
    // identical samples -> zero drift, argmax = smallest observed value
    val same = (Seq(10L, 20L).map((_, false)) ++
      Seq(10L, 20L).map((_, true))).toDF("v", "side")
    val z = Metrics.ksDrift(same, "v", "side", 1).collect()(0)
    assert(z.getAs[String]("ks_num") == "0" &&
      z.getAs[Long]("at_value") == 10L && z.getAs[Double]("ks") == 0.0)
  }

  test("round-10 panels are partition-invariant: every statistic " +
      "identical under adversarial repartitioning (the structural guard " +
      "against summation-order dependence)") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { i =>
      (i, rnd.nextInt(50).toLong, rnd.nextInt(3).toLong,
        s"c${rnd.nextInt(4)}", s"g${rnd.nextInt(3)}")
    }
    def check(name: String)(op: DataFrame => DataFrame): Unit = {
      val base = rows.toDF("id", "x", "y", "p", "g")
      val a = op(base.repartition(1)).collect().toSeq
      val b = op(base.repartition(13, col("id"))).collect().toSeq
      assert(a === b, s"$name is partition-sensitive")
    }
    check("mannWhitneyU")(df => Metrics.mannWhitneyU(
      df.withColumn("s", col("y") === 0), "x", "s"))
    check("fleissKappa")(df => Metrics.fleissKappa(
      df.withColumn("r1", col("x") % 3).withColumn("r2", col("y"))
        .withColumn("r3", col("id") % 3), Seq("r1", "r2", "r3")))
    check("krippendorffAlpha")(df => Metrics.krippendorffAlpha(
      df.withColumn("r1", col("x") % 3)
        .withColumn("r2", when(col("id") % 7 === 0,
          lit(null).cast("long")).otherwise(col("y")))
        .withColumn("r3", col("id") % 3), Seq("r1", "r2", "r3")))
    check("powerAdvisor")(df =>
      Metrics.powerAdvisor(df, "x", Seq("g"), Seq(0.05)).orderBy("g"))
    check("brierPanel")(df => Metrics.brierPanel(
      df.withColumn("pn", col("x")).withColumn("pd", lit(50L))
        .withColumn("lbl", (col("y") === 0).cast("long")),
      "pn", "pd", "lbl", 10))
    check("bCubed")(df => graft.scale.Dedup.bCubed(df, "id", "p", "g"))
    check("adjustedRandIndex")(df =>
      graft.scale.Dedup.adjustedRandIndex(df, "id", "p", "g"))
    check("poissonBootstrap")(df =>
      graft.sample.Samplers.poissonBootstrap(df, "id", "x", 8))
    check("qqDrift")(df => Metrics.qqDrift(
      df.withColumn("s", col("y") === 0), "x", "s",
      Seq(250000L, 500000L, 750000L)).orderBy("q"))
  }

  test("round-12 panels are partition-invariant: every statistic " +
      "identical under adversarial repartitioning") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(12)
    val day = 86400L * 1000000000L
    val rows = (1L to 200L).map { i =>
      (i, rnd.nextInt(50).toLong, rnd.nextInt(3).toLong,
        s"g${rnd.nextInt(3)}",
        s"w${rnd.nextInt(30)} w${rnd.nextInt(30)} w${rnd.nextInt(30)}")
    }
    def check(name: String)(op: DataFrame => DataFrame): Unit = {
      val base = rows.toDF("id", "x", "y", "g", "text")
      val a = op(base.repartition(1)).collect().toSeq
      val b = op(base.repartition(13, col("id"))).collect().toSeq
      assert(a === b, s"$name is partition-sensitive")
    }
    check("sequentialAbTest")(df => Metrics.sequentialAbTest(
      df.withColumn("side", col("id") % 2 === 0), "x", "side", Seq("g"),
      minN = 2L).orderBy("g"))
    check("sequentialProportionTest")(df =>
      Metrics.sequentialProportionTest(
        df.withColumn("side", col("id") % 2 === 0)
          .withColumn("ok", col("y") === 0), "ok", "side", Seq("g"),
        minN = 2L).orderBy("g"))
    check("minDetectableEffect")(df => Metrics.minDetectableEffect(
      df.withColumn("side", col("id") % 2 === 0), "x", "side", Seq("g"))
      .orderBy("g"))
    check("cuped")(df => graft.scale.Events.cuped(
      df.select((col("id") % 10).as("user_id"),
        when(col("id") % 2 === 0, lit(0L)).otherwise(lit(20L * day))
          .as("ts"),
        col("x").cast("double").as("value")), 10L))
    check("conformalRegression")(df =>
      Metrics.conformalRegression(df, "id", "x", "y"))
    check("passAtK")(df => graft.scale.Eval.passAtK(
      df.withColumn("ok", col("y") === 0), "g", "ok", Seq(1, 3))
      .orderBy("g", "k"))
    check("jsDivergence")(df => graft.scale.TextAnalysis.jsDivergence(
      df.filter(col("id") % 2 === 0), df.filter(col("id") % 2 === 1),
      "text"))
    check("simpsonDiversity")(df => graft.scale.TextAnalysis
      .simpsonDiversity(df, "g", "text").orderBy("g"))
    check("rougeN")(df => graft.scale.Eval.rougeN(
      df.select(col("id"), expr("substr(text, 1, 7)").as("text")),
      df.select(col("id"), col("text")), "id", "text", 2).orderBy("id"))
    check("chrF")(df => graft.scale.Eval.chrF(
      df.select(col("id"), expr("substr(text, 1, 7)").as("text")),
      df.select(col("id"), col("text")), "id", "text", 3).orderBy("id"))
    check("imageQuality")(df => graft.scale.Multimodal.imageQuality(
      graft.scale.Multimodal.fromDocuments(
        df.select(col("id").as("doc_id"), col("text"))))
      .orderBy("doc_id"))
  }

  test("round-13 panels are partition-invariant: every statistic " +
      "identical under adversarial repartitioning") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(13)
    val rows = (1L to 200L).map { i =>
      (i, rnd.nextInt(50).toLong, rnd.nextInt(3).toLong,
        s"g${rnd.nextInt(3)}",
        s"w${rnd.nextInt(30)} w${rnd.nextInt(30)} w${rnd.nextInt(30)} " +
          s"w${rnd.nextInt(30)} w${rnd.nextInt(30)}")
    }
    def check(name: String)(op: DataFrame => DataFrame): Unit = {
      val base = rows.toDF("id", "x", "y", "g", "text")
      val a = op(base.repartition(1)).collect().toSeq
      val b = op(base.repartition(13, col("id"))).collect().toSeq
      assert(a === b, s"$name is partition-sensitive")
    }
    check("srmGuard")(df => Metrics.srmGuard(
      df.withColumn("side", col("id") % 3 === 0), "side", Seq("g"),
      minN = 2L).orderBy("g"))
    check("ratioMetricDelta")(df => Metrics.ratioMetricDelta(
      df.withColumn("side", col("id") % 2 === 0)
        .withColumn("yy", col("y") + 1L),
      "x", "yy", "side", Seq("g")).orderBy("g"))
    check("bleu")(df => graft.scale.Eval.bleu(
      df.select(col("id"), expr("substr(text, 1, 9)").as("text")),
      df.select(col("id"), col("text")), "id", "text").orderBy("id"))
    check("bleuCorpus")(df => graft.scale.Eval.bleuCorpus(
      df.select(col("id"), expr("substr(text, 1, 9)").as("text")),
      df.select(col("id"), col("text")), "id", "text"))
    check("urlDedup")(df => graft.scale.Dedup.urlDedup(
      df.select(col("id"), concat(lit("https://Example.com:443/p/"),
        (col("id") % 40).cast("string"), lit("?utm_source=x")).as("u")),
      "id", "u").orderBy("canonical_url"))
    check("lineDensityFilter")(df =>
      graft.scale.TextAnalysis.lineDensityFilter(
        df.select(col("id"),
          regexp_replace(col("text"), " ", "\n").as("t2")),
        "id", "t2", minTokens = 1).orderBy("id"))
  }

  test("brierPanel: hand-computed Murphy decomposition; the identity " +
      "brier = rel - res + unc holds on singleton bins; top edge clamps") {
    // p = .25/.75/1/0 with y = 0/1/1/0: brier = 2*(0.0625)/4 = 0.03125,
    // rel = 0.03125, res = 0.25, unc = 0.25 (identity checks out),
    // ece = 0.125, mce = 0.25; p = 1 clamps into bin 9
    val df = Seq((1L, 4L, 0L), (3L, 4L, 1L), (1L, 1L, 1L), (0L, 1L, 0L))
      .toDF("pn", "pd", "y")
    val r = Metrics.brierPanel(df, "pn", "pd", "y", 10).collect()(0)
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("brier") == 0.03125)
    assert(r.getAs[Double]("reliability") == 0.03125)
    assert(r.getAs[Double]("resolution") == 0.25)
    assert(r.getAs[Double]("uncertainty") == 0.25)
    assert(r.getAs[Double]("ece") == 0.125)
    assert(r.getAs[Double]("mce") == 0.25)
    // perfectly calibrated constant predictor: rel = res = 0,
    // brier = unc
    val flat = Seq((1L, 2L, 1L), (1L, 2L, 0L)).toDF("pn", "pd", "y")
    val f = Metrics.brierPanel(flat, "pn", "pd", "y", 10).collect()(0)
    assert(f.getAs[Double]("brier") == 0.25 &&
      f.getAs[Double]("reliability") == 0.0 &&
      f.getAs[Double]("resolution") == 0.0 &&
      f.getAs[Double]("uncertainty") == 0.25)
  }

  test("qqDrift: exact type-1 quantile pairs across sides") {
    // A = 1..10, B = 11..20: median rank ceil(5) -> 5 vs 15; p99 rank
    // ceil(9.9) = 10 -> 10 vs 20
    val df = ((1L to 10L).map((_, false)) ++ (11L to 20L).map((_, true)))
      .toDF("v", "side")
    val got = Metrics.qqDrift(df, "v", "side", Seq(500000L, 990000L))
      .orderBy("q").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0.5, 5L, 15L, 10L), (0.99, 10L, 20L, 10L)))
  }

  test("powerAdvisor: hand-computed size from measured variance; " +
      "degenerate groups emit NULL, never NaN") {
    // g: 10,20,30 -> mean 20, var 100; n/arm at 10% rel MDE =
    // ceil(2*100*(1.959964+0.841621)^2 / 4) = 393
    val df = Seq(("g", 10L), ("g", 20L), ("g", 30L),
      ("one", 7L), ("zero", -5L), ("zero", 5L)).toDF("grp", "x")
    val rows = Metrics.powerAdvisor(df, "x", Seq("grp"), Seq(0.1))
      .collect().map(r => (r.getString(0), r)).toMap
    val g = rows("g")
    assert(g.getAs[Long]("n") == 3L && g.getAs[Double]("mean") == 20.0)
    assert(g.getAs[Double]("variance") == 100.0)
    assert(g.getAs[Long]("n_per_arm") == 393L)
    // a single-row group cannot price variance
    val one = rows("one")
    assert(one.isNullAt(one.fieldIndex("variance")) &&
      one.isNullAt(one.fieldIndex("n_per_arm")))
    // a zero-mean metric has no relative effect to detect
    val zero = rows("zero")
    assert(zero.getAs[Double]("variance") == 50.0 &&
      zero.isNullAt(zero.fieldIndex("n_per_arm")))
  }

  test("fleissKappa: hand-computed 4-subject panel; perfect agreement, " +
      "uniform disagreement, degenerate single category; fold = panel") {
    // subjects (0,0,0),(0,0,1),(1,2,0),(2,2,2): A = 9+5+3+9 = 26, T = 12,
    // C = (6,2,4) -> S = 56; po = 14/24, pe = 56/144,
    // num = 12*14 - 2*56 = 56, den = 2*(144-56) = 176 -> kappa = 7/22
    val df = Seq((0, 0, 0), (0, 0, 1), (1, 2, 0), (2, 2, 2))
      .toDF("a", "b", "c")
    val r = Metrics.fleissKappa(df, Seq("a", "b", "c")).collect()(0)
    assert(r.getAs[Long]("n_subjects") == 4L &&
      r.getAs[Long]("n_raters") == 3L)
    assert(r.getAs[Double]("po") == 0.583333)
    assert(r.getAs[Double]("pe") == 0.388889)
    assert(r.getAs[String]("kappa_num") == "56" &&
      r.getAs[String]("kappa_den") == "176")
    assert(r.getAs[Double]("kappa") == 0.318182)
    // raters always agree across 2 categories: kappa = 1 exactly
    val perfect = Seq((0, 0, 0), (1, 1, 1)).toDF("a", "b", "c")
    assert(Metrics.fleissKappa(perfect, Seq("a", "b", "c"))
      .collect()(0).getAs[Double]("kappa") == 1.0)
    // every subject rated (0,1,2): po = 0, kappa = -1/2
    val disagree = Seq((0, 1, 2), (0, 1, 2)).toDF("a", "b", "c")
    val d = Metrics.fleissKappa(disagree, Seq("a", "b", "c")).collect()(0)
    assert(d.getAs[Double]("po") == 0.0 &&
      d.getAs[Double]("kappa") == -0.5)
    // single category everywhere: zero chance-corrected range -> NULL
    val mono = Seq((7, 7, 7), (7, 7, 7)).toDF("a", "b", "c")
    val m = Metrics.fleissKappa(mono, Seq("a", "b", "c")).collect()(0)
    assert(m.isNullAt(m.fieldIndex("kappa")))
    // composition: fold over the drained profile state = the panel
    assert(Metrics.fleissFromProfiles(
        Metrics.fleissProfileCounts(df, Seq("a", "b", "c")), 3)
      .collect().toSeq ===
      Metrics.fleissKappa(df, Seq("a", "b", "c")).collect().toSeq)
  }

  test("krippendorffAlpha: hand-computed coincidence algebra with " +
      "missing ratings; <2-rating units drop; perfect agreement = 1; " +
      "single-category degenerate NULL; same state as Fleiss") {
    // u1 (a,a,a), u2 (a,b,-), u3 (b,b,b), u4 (a,-,-): u4 drops (mu=1);
    // n_c = (a:4, b:4), n = 8, S_e = 64-32 = 32; S_o = 2/(2-1) = 2
    // (L=2 -> S'_o = 4); alpha = (32*2 - 7*4)/(32*2) = 36/64 = 0.5625
    val df = Seq[(Option[String], Option[String], Option[String])](
      (Some("a"), Some("a"), Some("a")),
      (Some("a"), Some("b"), None),
      (Some("b"), Some("b"), Some("b")),
      (Some("a"), None, None)).toDF("x", "y", "z")
    val r = Metrics.krippendorffAlpha(df, Seq("x", "y", "z")).collect()(0)
    assert(r.getAs[Long]("n_units") == 3L &&
      r.getAs[Long]("n_ratings") == 8L)
    assert(r.getAs[Double]("d_o") == 0.25)
    assert(r.getAs[Double]("d_e") == 0.571429)
    assert(r.getAs[String]("alpha_num") == "36" &&
      r.getAs[String]("alpha_den") == "64")
    assert(r.getAs[Double]("alpha") == 0.5625)
    // agreement across 2 categories with a missing slot: alpha = 1
    val perfect = Seq[(Option[String], Option[String], Option[String])](
      (Some("a"), Some("a"), None),
      (Some("b"), Some("b"), Some("b"))).toDF("x", "y", "z")
    assert(Metrics.krippendorffAlpha(perfect, Seq("x", "y", "z"))
      .collect()(0).getAs[Double]("alpha") == 1.0)
    // every kept rating in one category: S_e = 0 -> NULL alpha
    val mono = Seq[(Option[String], Option[String], Option[String])](
      (Some("a"), Some("a"), None)).toDF("x", "y", "z")
    val m = Metrics.krippendorffAlpha(mono, Seq("x", "y", "z")).collect()(0)
    assert(m.isNullAt(m.fieldIndex("alpha")))
    // composition over the SHARED Fleiss profile state
    assert(Metrics.krippendorffFromProfiles(
        Metrics.fleissProfileCounts(df, Seq("x", "y", "z")), 3)
      .collect().toSeq ===
      Metrics.krippendorffAlpha(df, Seq("x", "y", "z")).collect().toSeq)
  }

  test("mannWhitneyU: hand-computed doubled midranks with a tie; " +
      "degenerate inputs yield NULL z, never NaN") {
    // A = {1,2,3}, B = {2,4}: value 2 ties across sides (midrank 2.5,
    // r2 = 5), so 2R_A = 2 + 5 + 8 = 15, u2 = 15 - 3*4 = 3 (U_A = 1.5 =
    // one win (3>2) + half a tie), auc = 3/12 = 0.25, tie_t = 2^3-2 = 6,
    // var(2U) = 6/3 * (6 - 6/20) = 11.4, z = (3-6)/sqrt(11.4)
    val df = (Seq(1L, 2L, 3L).map((_, false)) ++
      Seq(2L, 4L).map((_, true))).toDF("v", "side")
    val r = Metrics.mannWhitneyU(df, "v", "side").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[String]("u2_a") == "3")
    assert(r.getAs[String]("tie_t") == "6")
    assert(r.getAs[Double]("auc") == 0.25)
    assert(r.getAs[Double]("z") == -0.888523)
    // every value tied across sides: exact no-dominance (auc = 1/2),
    // zero variance -> NULL z
    val tied = (Seq(5L, 5L).map((_, false)) ++ Seq(5L).map((_, true)))
      .toDF("v", "side")
    val t = Metrics.mannWhitneyU(tied, "v", "side").collect()(0)
    assert(t.getAs[String]("u2_a") == "2" && t.getAs[Double]("auc") == 0.5)
    assert(t.isNullAt(t.fieldIndex("z")))
    // one side empty: u2 = 0 exactly, effect size and z undefined
    val empty = Seq((1L, false), (2L, false)).toDF("v", "side")
    val e = Metrics.mannWhitneyU(empty, "v", "side").collect()(0)
    assert(e.getAs[Long]("n_b") == 0L && e.getAs[String]("u2_a") == "0")
    assert(e.isNullAt(e.fieldIndex("auc")) && e.isNullAt(e.fieldIndex("z")))
  }

  test("welchTTest: hand-computed t and Welch-Satterthwaite dof") {
    // group x: A={1,2,3} (mean 2, var 1), B={2,4,6} (mean 4, var 4)
    // sea=1/3, seb=4/3 -> t = -2/sqrt(5/3) = -1.549193,
    // dof = (5/3)^2 / ((1/9)/2 + (16/9)/2) = 450/153 = 2.941176
    // group y: B side has n=1 -> t/dof NULL, means still emitted
    val df = (Seq(1.0, 2.0, 3.0).map(v => ("x", false, v)) ++
      Seq(2.0, 4.0, 6.0).map(v => ("x", true, v)) ++
      Seq(("y", false, 5.0), ("y", false, 7.0), ("y", true, 9.0)))
      .toDF("g", "side", "value")
    val got = Metrics.welchTTest(df, "value", "side", Seq("g"))
      .orderBy("g").collect()
    val x = got(0)
    assert(x.getAs[Long]("n_a") == 3L && x.getAs[Long]("n_b") == 3L)
    assert(x.getAs[Double]("mean_a") == 2.0 && x.getAs[Double]("mean_b") == 4.0)
    assert(x.getAs[Double]("t_stat") == -1.549193)
    assert(x.getAs[Double]("dof") == 2.941176)
    val y = got(1)
    assert(y.getAs[Double]("mean_b") == 9.0)
    assert(y.isNullAt(y.fieldIndex("t_stat")) && y.isNullAt(y.fieldIndex("dof")))
  }

  test("sequentialAbTest: planted effect crosses, planted null holds at " +
      "p = 1, below-minN gates NULL, statistic matches a JVM replica") {
    // effect group g: sides shifted by 50; null group h: identical
    // multisets on both sides (delta exactly 0)
    val eff = (0 until 120).flatMap(i => Seq(
      ("g", false, 100.0 + (i % 5)), ("g", true, 50.0 + (i % 5))))
    val nul = (0 until 120).flatMap(i => Seq(
      ("h", false, 70.0 + (i % 7)), ("h", true, 70.0 + (i % 7))))
    val df = (eff ++ nul).toDF("grp", "side", "v")
    val out = Metrics.sequentialAbTest(df, "v", "side", Seq("grp"))
      .collect().map(r => r.getString(0) -> r).toMap

    // JVM replica of the fixed-order mSPRT expression for group g
    val av = (0 until 120).map(i => 100.0 + (i % 5))
    val bv = (0 until 120).map(i => 50.0 + (i % 5))
    val (na, nb) = (av.size.toDouble, bv.size.toDouble)
    val (sa, sb) = (av.sum, bv.sum)
    val (qa, qb) = (av.map(x => x * x).sum, bv.map(x => x * x).sum)
    val vv = ((qa - sa * sa / na) / (na - 1.0)) / na +
      ((qb - sb * sb / nb) / (nb - 1.0)) / nb
    val delta = sa / na - sb / nb
    val llr = 0.5 * math.log(vv / (vv + 25.0)) +
      delta * delta * 25.0 / (2.0 * vv * (vv + 25.0))
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val e = out("g")
    assert(e.getAs[Long]("n_a") === 120L && e.getAs[Long]("n_b") === 120L)
    assert(e.getAs[Double]("delta") === 50.0)
    assert(e.getAs[Double]("log_lr") === r6(llr))
    assert(e.getAs[Double]("p_always") ===
      r6(math.min(1.0, math.exp(-llr))))
    assert(e.getAs[Boolean]("reject"), "a 50-point shift must cross")

    // null: Λ = sqrt(V/(V+τ²)) < 1 ⇒ 1/Λ > 1 ⇒ always-valid p pins at 1
    val h = out("h")
    assert(h.getAs[Double]("delta") === 0.0)
    assert(h.getAs[Double]("p_always") === 1.0)
    assert(!h.getAs[Boolean]("reject"))

    // below minN: every statistic and the decision gate to NULL
    val gated = Metrics.sequentialAbTest(df, "v", "side", Seq("grp"),
      minN = 1000L).collect()
    assert(gated.forall(r => r.isNullAt(r.fieldIndex("log_lr")) &&
      r.isNullAt(r.fieldIndex("p_always")) &&
      r.isNullAt(r.fieldIndex("reject"))))
  }

  test("prCurve: hand-computed P/R/F1 at every distinct threshold, " +
      "partition-invariant") {
    // dict: 5 -> (2 rows, 1 pos), 3 -> (1, 1), 1 -> (2, 1); P = 3
    val df = Seq((5L, 1L), (5L, 0L), (3L, 1L), (1L, 0L), (1L, 1L))
      .toDF("score", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Metrics.prCurve(d, "score", "y").orderBy($"threshold".desc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val got = run(df)
    assert(got === Seq(
      (5L, 2L, 1L, 0.5, 0.333333, 0.4),
      (3L, 3L, 2L, 0.666667, 0.666667, 0.666667),
      (1L, 5L, 3L, 0.6, 1.0, 0.75)))
    assert(run(df.repartition(7)) === got)
    // the shipped operating point: argmax F1 = threshold 1 at 0.75
    val best = Metrics.bestF1Threshold(df, "score", "y").collect()(0)
    assert(best.getLong(0) === 1L && best.getAs[Double]("f1") === 0.75)
    // a fractional score column is REFUSED, not silently truncated
    // (truncation would merge distinct scores and break the
    // every-distinct-threshold contract)
    val frac = Seq((0.5, 1L), (0.4, 0L)).toDF("score", "y")
    val ex = intercept[IllegalArgumentException] {
      Metrics.prCurve(frac, "score", "y")
    }
    assert(ex.getMessage.contains("integral score column"))
  }

  test("benjaminiHochberg: hand-computed step-up adjusted p-values on " +
      "the textbook panel, NULL p excluded, partition-invariant") {
    // m = 8, alpha = .05. q_i = 8 p_i / i:
    //   .008 .032 .104 .082 .0672 .08 .084571 .205
    // suffix-min (adjusted p):
    //   .008 .032 .0672 .0672 .0672 .08 .084571 .205
    // -> exactly the two smallest p's are rejected (k* = 2)
    val ps = Seq(0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205)
    val df = ps.zipWithIndex.map { case (p, i) => (s"h$i", p) }
      .toDF("hyp", "p") unionByName
      Seq(("hnull", Option.empty[Double])).toDF("hyp", "p")
    def run(d: org.apache.spark.sql.DataFrame) =
      Metrics.benjaminiHochberg(d, Seq("hyp"), "p")
        .orderBy($"rank").collect()
    val got = run(df)
    assert(got.length === 8, "NULL p excluded from m and output")
    assert(got.map(_.getAs[Long]("rank")).toSeq === (1L to 8L))
    val wantAdj = Seq(0.008, 0.032, 0.0672, 0.0672, 0.0672, 0.08,
      0.084571, 0.205)
    assert(got.map(_.getAs[Double]("p_adj")).toSeq === wantAdj)
    assert(got.map(_.getAs[Boolean]("reject")).toSeq ===
      Seq(true, true, false, false, false, false, false, false))
    // adversarial repartitioning changes nothing (min has no
    // accumulation-order sensitivity; ranks come from the total order)
    assert(run(df.repartition(7)).map(_.toString).toSeq ===
      got.map(_.toString).toSeq)
    // every p equal at the boundary: q_i = p*m/i, suffix min is q_m = p
    // -> all adjusted to p, all rejected at alpha = p
    val flat = (1 to 5).map(i => (s"f$i", 0.05)).toDF("hyp", "p")
    val g2 = Metrics.benjaminiHochberg(flat, Seq("hyp"), "p")
      .collect()
    assert(g2.forall(_.getAs[Double]("p_adj") === 0.05) &&
      g2.forall(_.getAs[Boolean]("reject")))
  }

  test("onlineFdrLord: hand-walked wealth accounting — a rejection " +
      "re-funds later budgets, the fixed point equals the sequential " +
      "walk, NULL p excluded") {
    // alpha = 5/100, W0 = alpha/2. Nano-gamma G(j) = floor(1e9/(j(j+1))):
    //   G(1)=500000000 G(2)=166666666 G(3)=83333333 G(4)=50000000
    //   G(5)=33333333 G(6)=23809523 G(7)=17857142
    // Sequential walk (S_t in nano-units, alpha_t = 0.025*S*1e-9):
    //   t=1 S=G(1)           alpha=.0125     p=.01   REJECT (tau1=1)
    //   t=2 S=G(2)+G(1)      alpha=.01666..  p=.015  REJECT — but with
    //       NO wealth from t=1 it would be .00416 < p: the re-funding
    //       is what rejects it
    //   t=3 S=G(3)+G(2)+2G(1) alpha=.03125   p=.5    no
    //   t=4 S=G(4)+G(3)+2G(2) alpha=.0116666 p=.011  REJECT
    //   t=5 S=G(5)+G(4)+2(G(3)+G(1)) alpha=.03125 p=.04 no
    //   t=6 S=G(6)+G(5)+2(G(4)+G(2)) = 490476188 -> alpha=.012261905
    //       p=.0123 no (the just-above-budget boundary)
    //   t=7 S=G(7)+G(6)+2(G(5)+G(3)) alpha=.006875 p=.006 REJECT
    // Fixed point needs 5 monotone rounds: {1} {1,2} {1,2,4} {1,2,4,7}.
    val ps = Seq("a" -> 0.01, "b" -> 0.015, "c" -> 0.5, "d" -> 0.011,
      "e" -> 0.04, "f" -> 0.0123, "g" -> 0.006)
    val df = ps.map { case (h, p) => (h, Option(p)) }
      .toDF("hyp", "p") unionByName
      Seq(("zz", Option.empty[Double])).toDF("hyp", "p")
    def run(d: org.apache.spark.sql.DataFrame) =
      Metrics.onlineFdrLord(d, Seq("hyp"), "p").orderBy($"t").collect()
    val got = run(df)
    assert(got.length === 7, "NULL p excluded")
    assert(got.map(_.getAs[Long]("t")).toSeq === (1L to 7L))
    assert(got.map(_.getAs[Boolean]("reject")).toSeq ===
      Seq(true, true, false, true, false, false, true))
    val wantAlpha = Seq(0.0125, 0.016666667, 0.03125, 0.011666667,
      0.03125, 0.012261905, 0.006875)
    got.map(_.getAs[Double]("alpha_t")).zip(wantAlpha).foreach {
      case (a, w) => assert(math.abs(a - w) < 1e-9, s"alpha_t $a != $w")
    }
    // order-insensitive: adversarial repartitioning changes nothing
    // (integer budget sums, ranks from the total-order scaffold)
    assert(run(df.repartition(5)).map(_.toString).toSeq ===
      got.map(_.toString).toSeq)
    // no wealth, no rejections: every p above its unfunded budget
    val dull = Seq("a" -> 0.02, "b" -> 0.02, "c" -> 0.02)
      .map { case (h, p) => (h, Option(p)) }.toDF("hyp", "p")
    assert(run(dull).forall(!_.getAs[Boolean]("reject")))
    // reserved-name collision refused loudly
    val ex = intercept[IllegalArgumentException] {
      Metrics.onlineFdrLord(df.withColumnRenamed("hyp", "t"),
        Seq("t"), "p")
    }
    assert(ex.getMessage.contains("reserves"))
  }

  test("expectedCalibrationError: hand-computed bins, exact " +
      "|correct - conf-mass| ECE reduction, out-of-domain excluded") {
    // 2 bins. bin0 (s < .5): (.2,T) (.2,F) (.3,F) -> n=3 conf=.7 corr=1
    //   avg_conf=.233333 acc=.333333 gap=(1-.7)/3=.1
    // bin1: (.8,T) (.9,T) (.7,F) (1.0,T) -> n=4 conf=3.4 corr=3
    //   (1.0 lands in the TOP bin, not bin 2)
    //   avg_conf=.85 acc=.75 gap=(3-3.4)/4=-.1
    // ECE = (|1-.7|+|3-3.4|)/7 = .7/7 = .1; MCE = max(.3/3,.4/4) = .1
    val rows = Seq((0.2, true), (0.2, false), (0.3, false),
      (0.8, true), (0.9, true), (0.7, false), (1.0, true))
      .map { case (s, y) => ("g", Option(s), Option(y)) }
    val junk = Seq(("g", Option(1.5), Option(true)),
      ("g", Option.empty[Double], Option(true)),
      ("g", Option(0.4), Option.empty[Boolean]))
    val df = (rows ++ junk).toDF("grp", "s", "y")
    val got = Metrics.expectedCalibrationError(df, "s", "y", Seq("grp"), 2)
      .orderBy($"bin").collect()
    assert(got.length === 2)
    assert(got.map(_.getAs[Int]("bin")).toSeq === Seq(0, 1))
    assert(got.map(_.getAs[Long]("n")).toSeq === Seq(3L, 4L))
    assert(got.map(_.getAs[Double]("avg_conf")).toSeq ===
      Seq(0.233333, 0.85))
    assert(got.map(_.getAs[Double]("accuracy")).toSeq ===
      Seq(0.333333, 0.75))
    assert(got.map(_.getAs[Double]("gap")).toSeq === Seq(0.1, -0.1))
    assert(got.forall(_.getAs[Double]("ece") === 0.1))
    assert(got.forall(_.getAs[Double]("mce") === 0.1))
    // a perfectly calibrated table: every bin's conf mass = its correct
    // count -> ECE = 0 exactly
    val perfect = Seq((0.25, false), (0.25, false), (0.25, false),
      (0.25, true), (0.75, true), (0.75, true), (0.75, true),
      (0.75, false)).map { case (s, y) => ("g", s, y) }
      .toDF("grp", "s", "y")
    val p = Metrics.expectedCalibrationError(perfect, "s", "y",
      Seq("grp"), 2).collect()
    assert(p.forall(_.getAs[Double]("ece") === 0.0))
  }

  test("postStratifiedDelta: between-strata variance drops out — " +
      "hand-computed SE ratio; a starved stratum gates ps to NULL") {
    // strata s1 (values ~11) and s2 (~102), lift -1 inside each:
    //   s1: A (10,12) B (11,13); s2: A (100,104) B (101,105)
    // every cell variance: s1 var=2, s2 var=8 -> vk1 = 2/2+2/2 = 2,
    //   vk2 = 8/2+8/2 = 8; w_k = 4/8 each
    //   delta_ps = .5*(-1) + .5*(-1) = -1
    //   SE2_ps = .25*2*... = (4/8)^2*2 + (4/8)^2*8 = .5+2 = 2.5
    // unadjusted: A mean 56.5, B mean 57.5, both var 8291/3
    //   SE2_u = 2*(8291/3)/4 = 1381.8333...
    val df = Seq(
      ("g", "s1", false, 10.0), ("g", "s1", false, 12.0),
      ("g", "s1", true, 11.0), ("g", "s1", true, 13.0),
      ("g", "s2", false, 100.0), ("g", "s2", false, 104.0),
      ("g", "s2", true, 101.0), ("g", "s2", true, 105.0))
      .toDF("grp", "st", "side", "v")
    val got = Metrics.postStratifiedDelta(df, "v", "side", "st",
      Seq("grp")).collect().head
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got.getAs[Long]("n_a") === 4L &&
      got.getAs[Long]("n_b") === 4L &&
      got.getAs[Long]("n_strata") === 2L)
    assert(got.getAs[Double]("delta") === -1.0)
    assert(got.getAs[Double]("delta_ps") === -1.0)
    val se2u = 2.0 * (8291.0 / 3.0) / 4.0
    assert(got.getAs[Double]("se") === r6(math.sqrt(se2u)))
    assert(got.getAs[Double]("se_ps") === r6(math.sqrt(2.5)))
    assert(got.getAs[Double]("z_ps") === r6(-1.0 / math.sqrt(2.5)))
    val wantVr = java.math.BigDecimal.valueOf((1.0 - 2.5 / se2u) * 100.0)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got.getAs[Double]("var_reduction_pct") === wantVr)
    // a stratum missing one side entirely -> whole ps panel NULL, the
    // unadjusted columns still report
    val starved = df unionByName
      Seq(("g", "s3", false, 50.0), ("g", "s3", false, 51.0))
        .toDF("grp", "st", "side", "v")
    val g2 = Metrics.postStratifiedDelta(starved, "v", "side", "st",
      Seq("grp")).collect().head
    assert(g2.isNullAt(g2.fieldIndex("delta_ps")) &&
      g2.isNullAt(g2.fieldIndex("se_ps")) &&
      g2.isNullAt(g2.fieldIndex("var_reduction_pct")))
    assert(!g2.isNullAt(g2.fieldIndex("delta")))
  }

  test("ratioMetricDelta: hand-computed delta-method variance, z on the " +
      "planted ratio fixture; zero-variance and sumY=0 sides gate NULL") {
    // side A units (x, y): (10,2), (20,3), (0,1) -> R_a = 30/6 = 5
    //   var_x = 100, var_y = 1, cov = 10, ybar = 2
    //   Var(R_a) = (100 - 2*5*10 + 25*1) / (3*4) = 25/12
    // side B units: (9,3), (3,1), (6,2) -> R_b = 18/6 = 3, x = 3y
    //   exactly -> Var(R_b) = 0
    // z = (5-3)/sqrt(25/12)
    val df = (Seq((10.0, 2.0), (20.0, 3.0), (0.0, 1.0))
        .map { case (x, y) => ("g", false, x, y) } ++
      Seq((9.0, 3.0), (3.0, 1.0), (6.0, 2.0))
        .map { case (x, y) => ("g", true, x, y) })
      .toDF("grp", "side", "x", "y")
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val got = Metrics.ratioMetricDelta(df, "x", "y", "side", Seq("grp"))
      .collect()(0)
    assert(got.getAs[Double]("r_a") === 5.0 &&
      got.getAs[Double]("r_b") === 3.0 &&
      got.getAs[Double]("delta") === 2.0)
    val se = math.sqrt(25.0 / 12.0)
    assert(got.getAs[Double]("se_delta") === r6(se))
    assert(got.getAs[Double]("z") === r6(2.0 / se))
    // both sides exactly proportional -> total variance 0 -> NULL se/z
    val flat = Metrics.ratioMetricDelta(
      Seq(("g", false, 2.0, 1.0), ("g", false, 4.0, 2.0),
        ("g", true, 3.0, 1.0), ("g", true, 6.0, 2.0))
        .toDF("grp", "side", "x", "y"),
      "x", "y", "side", Seq("grp")).collect()(0)
    assert(flat.getAs[Double]("r_a") === 2.0 &&
      flat.getAs[Double]("r_b") === 3.0)
    assert(flat.isNullAt(flat.fieldIndex("se_delta")) &&
      flat.isNullAt(flat.fieldIndex("z")))
    // a sumY = 0 side: its ratio, delta, se, z all NULL
    val zy = Metrics.ratioMetricDelta(
      Seq(("g", false, 2.0, 0.0), ("g", false, 4.0, 0.0),
        ("g", true, 3.0, 1.0), ("g", true, 6.0, 2.0))
        .toDF("grp", "side", "x", "y"),
      "x", "y", "side", Seq("grp")).collect()(0)
    assert(zy.isNullAt(zy.fieldIndex("r_a")) &&
      zy.getAs[Double]("r_b") === 3.0 &&
      zy.isNullAt(zy.fieldIndex("delta")) &&
      zy.isNullAt(zy.fieldIndex("z")))
    // composition: FromMoments over Moments = the one-shot operator
    val via = Metrics.ratioDeltaFromMoments(
      Metrics.ratioDeltaMoments(df, "x", "y", "side", Seq("grp")),
      Seq("grp")).collect()(0)
    assert(via.toString === got.toString)
    // NULL-side rows are excluded from n_a AND the moment sums (counting
    // them into n_a while the conditional sums skip them would corrupt
    // the side-A variance)
    val withNull = df unionByName
      Seq(("g", Option.empty[Boolean], 7.0, 7.0))
        .toDF("grp", "side", "x", "y")
    assert(Metrics.ratioMetricDelta(withNull, "x", "y", "side", Seq("grp"))
      .collect()(0).toString === got.toString)
  }

  test("quantileTreatmentEffect: planted +5 location shift read exactly " +
      "at P50/P90 (type-1 picks), ties covered, minN gate, composition, " +
      "partition invariance") {
    // control units 1..10 with values 1..10, treatment units 11..20 with
    // values 6..15 (a pure +5 shift):
    //   P50: t = ceil(0.5*10) = 5 -> q_a = 5, q_b = 10, delta = 5
    //   P90: t = ceil(0.9*10) = 9 -> q_a = 9, q_b = 14, delta = 5
    val df = ((1L to 10L).map(i => ("g", false, i.toDouble, i)) ++
      (1L to 10L).map(i => ("g", true, i + 5.0, i + 10L)))
      .toDF("grp", "side", "v", "unit")
    def run(d: org.apache.spark.sql.DataFrame) =
      Metrics.quantileTreatmentEffect(d, "v", "side", "unit", Seq("grp"))
        .orderBy($"quantile").collect()
    val got = run(df)
    assert(got.map(_.getAs[Double]("quantile")).toSeq === Seq(0.5, 0.9))
    val p50 = got(0); val p90 = got(1)
    assert(p50.getAs[Long]("n_a") === 10L && p50.getAs[Long]("n_b") === 10L)
    assert(p50.getAs[Double]("q_a") === 5.0 &&
      p50.getAs[Double]("q_b") === 10.0 &&
      p50.getAs[Double]("delta") === 5.0)
    assert(p90.getAs[Double]("q_a") === 9.0 &&
      p90.getAs[Double]("q_b") === 14.0 &&
      p90.getAs[Double]("delta") === 5.0)
    // the replicate panel exists and is internally consistent
    got.foreach { r =>
      val nr = r.getAs[Long]("n_reps")
      assert(nr >= 1L && nr <= 32L)
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ci_hi"))
      assert(!r.isNullAt(r.fieldIndex("boot_se")))
    }
    // adversarial repartitioning changes nothing (dictionary counts are
    // exact; picks are rank lookups; the panel folds micro-quantized)
    assert(run(df.repartition(7, $"unit")).map(_.toString).toSeq ===
      got.map(_.toString).toSeq)
    // ties: control [1,1,1,2], treatment [1,2,2,2] -> P50 t=2 covers the
    // v=1 run on control (cum 3 >= 2) and the v=2 run on treatment
    val ties = (Seq(1.0, 1.0, 1.0, 2.0).zipWithIndex.map { case (v, i) =>
        ("g", false, v, i.toLong) } ++
      Seq(1.0, 2.0, 2.0, 2.0).zipWithIndex.map { case (v, i) =>
        ("g", true, v, i + 100L) })
      .toDF("grp", "side", "v", "unit")
    val tg = Metrics.quantileTreatmentEffect(ties, "v", "side", "unit",
      Seq("grp"), quantiles = Seq((1, 2))).collect()(0)
    assert(tg.getAs[Double]("q_a") === 1.0 &&
      tg.getAs[Double]("q_b") === 2.0 &&
      tg.getAs[Double]("delta") === 1.0)
    // below-minN side: point quantiles still reported, delta and the
    // whole panel gate to NULL
    val tiny = Seq(("g", false, 1.0, 1L), ("g", true, 2.0, 2L))
      .toDF("grp", "side", "v", "unit")
    val tn = Metrics.quantileTreatmentEffect(tiny, "v", "side", "unit",
      Seq("grp"), quantiles = Seq((1, 2))).collect()(0)
    assert(tn.getAs[Double]("q_a") === 1.0 &&
      tn.getAs[Double]("q_b") === 2.0)
    assert(tn.isNullAt(tn.fieldIndex("delta")) &&
      tn.isNullAt(tn.fieldIndex("n_reps")) &&
      tn.isNullAt(tn.fieldIndex("boot_se")))
    // NULL side/value rows are excluded, never counted into a side
    val withNulls = df unionByName
      Seq(("g", Option.empty[Boolean], Option(99.0), 50L),
        ("g", Option(true), Option.empty[Double], 51L))
        .toDF("grp", "side", "v", "unit")
    assert(run(withNulls).map(_.toString).toSeq === got.map(_.toString).toSeq)
    // composition: FromCounts over ReplicateCounts = the one-shot op
    val via = Metrics.qteFromCounts(
      Metrics.qteReplicateCounts(df, "v", "side", "unit", Seq("grp"), 32),
      Seq("grp"), Seq((1, 2), (9, 10)))
      .orderBy($"quantile").collect()
    assert(via.map(_.toString).toSeq === got.map(_.toString).toSeq)
  }

  test("srmGuard: planted 70/30 mismatch flagged, healthy 51/49 split " +
      "passes, below-minN group gates to NULL, declared 3:1 ratio exact") {
    // bad: 700/300 on a 50/50 design -> E = 500 each,
    //   chi2 = 200^2/500 + 200^2/500 = 160.0 -> srm (>> 10.827566)
    // ok:  510/490 -> chi2 = 10^2/500 * 2 = 0.4 -> no srm
    // tiny: 6/4 -> n = 10 < minN -> chi2/srm NULL
    val rows =
      Seq.fill(700)(("bad", false)) ++ Seq.fill(300)(("bad", true)) ++
      Seq.fill(510)(("ok", false)) ++ Seq.fill(490)(("ok", true)) ++
      Seq.fill(6)(("tiny", false)) ++ Seq.fill(4)(("tiny", true))
    val df = rows.toDF("grp", "side")
    val got = Metrics.srmGuard(df, "side", Seq("grp"))
      .orderBy($"grp").collect()
    val bad = got(0)
    assert(bad.getAs[Long]("n_a") === 700L &&
      bad.getAs[Double]("expected_a") === 500.0 &&
      bad.getAs[Double]("chi2") === 160.0 &&
      bad.getAs[Boolean]("srm"))
    val ok = got(1)
    assert(ok.getAs[Double]("chi2") === 0.4 && !ok.getAs[Boolean]("srm"))
    val tiny = got(2)
    assert(tiny.isNullAt(tiny.fieldIndex("chi2")) &&
      tiny.isNullAt(tiny.fieldIndex("srm")), "below minN -> NULL gate")
    // declared 3:1 design hit exactly: E_a = 300, E_b = 100, chi2 = 0
    val r31 = Metrics.srmGuard(
      (Seq.fill(300)(("g", false)) ++ Seq.fill(100)(("g", true)))
        .toDF("grp", "side"),
      "side", Seq("grp"), ratioA = 3L, ratioB = 1L).collect()(0)
    assert(r31.getAs[Double]("expected_a") === 300.0 &&
      r31.getAs[Double]("chi2") === 0.0 && !r31.getAs[Boolean]("srm"))
    // composition: srmFromCounts over srmCounts = srmGuard by construction
    val viaCounts = Metrics.srmFromCounts(
      Metrics.srmCounts(df, "side", Seq("grp")), Seq("grp"))
      .orderBy($"grp").collect()
    assert(viaCounts.map(_.toString).toSeq === got.map(_.toString).toSeq)
    // NULL-side rows are excluded (the oracle's COUNT FILTER semantics),
    // never silently counted into side A
    val withNull = df unionByName
      Seq(("bad", Option.empty[Boolean])).toDF("grp", "side")
    assert(Metrics.srmGuard(withNull, "side", Seq("grp"))
      .orderBy($"grp").collect().map(_.toString).toSeq ===
      got.map(_.toString).toSeq)
  }

  test("minDetectableEffect: hand-computed MDE on the Welch fixture, " +
      "NULL on a one-observation side") {
    // group x: A={1,2,3} (var 1), B={2,4,6} (var 4) -> V = 1/3 + 4/3,
    // SE = sqrt(5/3); pooled mean = 3
    val df = (Seq(1.0, 2.0, 3.0).map(v => ("x", false, v)) ++
      Seq(2.0, 4.0, 6.0).map(v => ("x", true, v)) ++
      Seq(("y", false, 5.0), ("y", false, 7.0), ("y", true, 9.0)))
      .toDF("g", "side", "value")
    val got = Metrics.minDetectableEffect(df, "value", "side", Seq("g"))
      .orderBy("g").collect()
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val se = math.sqrt(5.0 / 3.0)
    val x = got(0)
    assert(x.getAs[Double]("se_diff") === r6(se))
    assert(x.getAs[Double]("mde_abs") === r6(2.801585 * se))
    assert(x.getAs[Double]("mde_rel") === r6(2.801585 * se / 3.0))
    val y = got(1)
    assert(y.isNullAt(y.fieldIndex("se_diff")) &&
      y.isNullAt(y.fieldIndex("mde_abs")) &&
      y.isNullAt(y.fieldIndex("mde_rel")))
  }

  test("sequentialProportionTest: planted rate shift crosses, equal " +
      "rates pin at p = 1, JVM replica of the Wald-variance statistic") {
    // effect arm g: a converts 60/120, b converts 12/120; null arm h:
    // both sides 30/120
    val rows =
      (0 until 120).map(i => ("g", false, i % 2 == 0)) ++
      (0 until 120).map(i => ("g", true, i % 10 == 0)) ++
      (0 until 120).map(i => ("h", false, i % 4 == 0)) ++
      (0 until 120).map(i => ("h", true, i % 4 == 0))
    val df = rows.toDF("arm", "side", "success")
    val out = Metrics.sequentialProportionTest(df, "success", "side",
      Seq("arm")).collect().map(r => r.getString(0) -> r).toMap
    val (pa, pb) = (60.0 / 120, 12.0 / 120)
    val vv = pa * (1.0 - pa) / 120 + pb * (1.0 - pb) / 120
    val d = pa - pb
    val llr = 0.5 * math.log(vv / (vv + 0.01)) +
      d * d * 0.01 / (2.0 * vv * (vv + 0.01))
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val e = out("g")
    assert(e.getAs[Long]("k_a") === 60L && e.getAs[Long]("k_b") === 12L)
    assert(e.getAs[Double]("log_lr") === r6(llr))
    assert(e.getAs[Boolean]("reject"), "a 40-point rate shift must cross")
    val h = out("h")
    assert(h.getAs[Double]("delta") === 0.0)
    assert(h.getAs[Double]("p_always") === 1.0)
    assert(!h.getAs[Boolean]("reject"))
    val gated = Metrics.sequentialProportionTest(df, "success", "side",
      Seq("arm"), minN = 1000L).collect()
    assert(gated.forall(r => r.isNullAt(r.fieldIndex("p_always"))))
  }

  test("conformalRegression: exact finite-sample rank over the residual " +
      "dictionary, measured holdout coverage, hand-computed via a JVM " +
      "md5 split replica") {
    // actual = 2i, pred = i -> residual = i: the md5(:crg) split lands
    // 22 ids in calibration, k = ceil(23*0.9) = 21 -> q_hat = the
    // 21st-smallest calibration id = 92; two holdout ids exceed it ->
    // coverage 27/29 = 0.931034 (>= the 0.9 target, as guaranteed)
    val df = (0 until 100).map(i => (i.toLong, 2L * i, i.toLong))
      .toDF("id", "actual", "pred")
    val got = Metrics.conformalRegression(df, "id", "actual", "pred")
      .collect()(0)
    def sp(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:crg".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 4
    }
    val cal = (0L until 100L).filter(sp(_) == 2L)
    val hold = (0L until 100L).filter(sp(_) == 3L)
    val k = ((cal.size + 1) * 9 + 9) / 10
    val q = cal.sorted.apply(k.toInt - 1)
    assert(got.getAs[Long]("n_cal") === cal.size)
    assert(got.getAs[Long]("k_rank") === k)
    assert(got.getAs[Long]("q_hat") === q && q === 92L)
    assert(got.getAs[Long]("n_test") === hold.size)
    assert(got.getAs[Long]("n_covered") === hold.count(_ <= q))
    assert(got.getAs[Double]("coverage") === 0.931034)
    assert(got.getAs[Double]("coverage") >= got.getAs[Double]("target"))
    assert(got.getAs[Long]("interval_width") === 2 * q)
  }

  test("proportionZTest: hand-computed pooled z and degenerate NULL") {
    // group g: A 2/4 vs B 1/4 -> pooled 3/8, vv = .375*.625*.5,
    // z = 0.25/sqrt(vv) = 0.730297; group h: all success -> vv 0 -> NULL z
    val df = (Seq(true, true, false, false).map(s => ("g", false, s)) ++
      Seq(true, false, false, false).map(s => ("g", true, s)) ++
      Seq(("h", false, true), ("h", true, true)))
      .toDF("grp", "side", "success")
    val got = Metrics.proportionZTest(df, "success", "side", Seq("grp"))
      .orderBy("grp").collect()
    val g = got(0)
    assert(g.getAs[Long]("n_a") == 4L && g.getAs[Long]("k_a") == 2L)
    assert(g.getAs[Double]("p_a") == 0.5 && g.getAs[Double]("p_b") == 0.25)
    assert(g.getAs[Double]("z") == 0.730297)
    val h = got(1)
    assert(h.getAs[Double]("p_a") == 1.0 && h.isNullAt(h.fieldIndex("z")))
  }

  test("tokenDrift: hand-computed 2x2 chi-square and tie order") {
    import graft.scale.TextAnalysis
    // side A: "x x y", side B: "y z z"
    // x: [2,1;0,3] -> chi2 = 6^2*6/(3*3*2*4) = 3.0; z symmetric -> 3.0;
    // y: ad=bc -> 0. Tie at 3.0 breaks on token asc: x before z.
    val df = Seq(("x x y", false), ("y z z", true)).toDF("text", "side")
    val got = TextAnalysis.tokenDrift(df, "text", "side", 3)
      .orderBy("rk").collect()
    assert(got.map(_.getAs[String]("token")).toSeq == Seq("x", "z", "y"))
    assert(got(0).getAs[Double]("chi2") == 3.0)
    assert(got(1).getAs[Double]("chi2") == 3.0)
    assert(got(2).getAs[Double]("chi2") == 0.0)
    assert(got(0).getAs[Long]("k_a") == 2L && got(0).getAs[Long]("k_b") == 0L)
  }

  test("fdViolations: hand-computed g3, NULL as an ordinary value") {
    // lhs->rhs over 8 rows.
    //  group a:    rhs {1:2, 2:1}   n=3 keep=2 -> 1 violation
    //  group b:    rhs {null:2}     n=2 keep=2 -> 0 (null is A value)
    //  group null: rhs {1:1, 2:2}   n=3 keep=2 -> 1 (null lhs groups)
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), Some(1)), (Some("a"), Some(2)),
      (Some("b"), None), (Some("b"), None),
      (None, Some(1)), (None, Some(2)), (None, Some(2))
    ).toDF("lhs", "rhs")
    val got = Metrics.fdViolations(df, Seq(("lhs->rhs", Seq("lhs"), "rhs")))
      .collect().head
    assert(got.getString(0) == "lhs->rhs")
    assert(got.getLong(1) == 3L)       // n_groups
    assert(got.getLong(2) == 8L)       // n_rows
    assert(got.getLong(3) == 2L)       // violating_groups
    assert(got.getLong(4) == 2L)       // violations
    assert(got.getDouble(5) == 0.25)   // g3 = 2/8
  }

  test("spearmanCorr: hand-computed tie-averaged ranks; perfect monotone " +
      "= 1.0; constant column = NULL rho") {
    // a=[1,2,2,3], b=[10,20,20,5]: doubled avg ranks x=[2,5,5,8],
    // y=[4,7,7,2]; n=4 sx=sy=20 sxx=syy=118 sxy=94
    // rho = (4·94−400)/√((472−400)(472−400)) = −24/72 = −1/3
    val df = Seq((1L, 10L), (2L, 20L), (2L, 20L), (3L, 5L)).toDF("a", "b")
    val got = Metrics.spearmanCorr(df, "a", "b").collect().head
    assert(got.getLong(0) == 4L && got.getDouble(1) == -0.333333)
    // monotone (nonlinear) map: ranks identical -> exactly 1.0
    val mono = Seq((1L, 1L), (2L, 8L), (3L, 27L), (10L, 1000L))
      .toDF("a", "b")
    assert(Metrics.spearmanCorr(mono, "a", "b")
      .collect().head.getDouble(1) == 1.0)
    // zero rank variance -> NULL, not NaN
    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("a", "b")
    assert(Metrics.spearmanCorr(const, "a", "b").collect().head.isNullAt(1))
  }

  test("round-11 panels are partition-invariant: every statistic " +
      "identical under adversarial repartitioning") {
    import org.apache.spark.sql.DataFrame
    import graft.scale.{Multimodal, Preference, TextAnalysis}
    val rnd = new scala.util.Random(11)
    val rows = (1L to 200L).map { i =>
      (i, rnd.nextInt(50).toLong, rnd.nextInt(3).toLong,
        s"g${rnd.nextInt(3)}",
        (0 until (rnd.nextInt(12) + 1)).map(j => s"w${(i + j) % 37}")
          .mkString(" "))
    }
    def check(name: String)(op: DataFrame => DataFrame): Unit = {
      val base = rows.toDF("id", "x", "y", "g", "text")
      val a = op(base.repartition(1)).collect().toSeq
        .map(_.toSeq).sortBy(_.mkString("|"))
      val b = op(base.repartition(13, col("id"))).collect().toSeq
        .map(_.toSeq).sortBy(_.mkString("|"))
      assert(a === b, s"$name is partition-sensitive")
    }
    check("kendallTauB")(df =>
      Metrics.kendallTauB(df, "x", "y", Seq("g")))
    check("vocabRichness")(df => TextAnalysis.vocabRichness(df, "text"))
    check("bfdPack")(df => TextAnalysis.bfdPack(df, "text", 16))
    check("bfdPackManifest")(df =>
      TextAnalysis.bfdPackManifest(df, "id", "text", 16))
    check("unigramEncode")(df => TextAnalysis.unigramEncode(
      df.filter(col("id") % 5 =!= 0), df.filter(col("id") % 5 === 0),
      "g", "text", 2, 4, 1, 0.5, 24))
    check("copelandPanel")(df => Preference.copelandPanel(
      df.withColumn("pa", col("x") % 5)
        .withColumn("pb", col("id") % 5)
        .withColumn("oc", (col("y") % 3).cast("int")),
      "pa", "pb", "oc"))
    check("videoDupPairs")(df => Multimodal.videoDupPairs(
      Multimodal.fromDocuments(df
        .select((col("id") * 3 + 2).as("doc_id"), col("text")))))
    check("isotonicCalibration")(df => Metrics.isotonicCalibration(
      df.withColumn("pn", col("x") + 1).withColumn("pd", lit(51L))
        .withColumn("yy", (col("y") === 0).cast("long")),
      "pn", "pd", "yy", 5))
    check("phoneticBlockPairs")(df =>
      graft.scale.Dedup.phoneticBlockPairs(df, "text", 2))
  }

  test("isotonicCalibration: hand-pooled PAV fixture — violating bins " +
      "merge to the pooled fraction, order restored, mass preserved") {
    // nBins = 4; bins 0/1/2 with raw rates 0.8 / 0.2 / 0.6: PAV pools
    // the (0.8, 0.2) violation to 5/10, leaves 3/5
    val rows =
      Seq.fill(4)((1L, 8L, 1L)) ++ Seq.fill(1)((1L, 8L, 0L)) ++
      Seq.fill(1)((3L, 8L, 1L)) ++ Seq.fill(4)((3L, 8L, 0L)) ++
      Seq.fill(3)((5L, 8L, 1L)) ++ Seq.fill(2)((5L, 8L, 0L))
    val got = Metrics.isotonicCalibration(
        rows.toDF("pn", "pd", "y"), "pn", "pd", "y", 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toSeq
    assert(got === Seq(
      (0L, 5L, 4L, 0.8, 5L, 10L, 0.5),
      (1L, 5L, 1L, 0.2, 5L, 10L, 0.5),
      (2L, 5L, 3L, 0.6, 3L, 5L, 0.6)))
    // structural invariants: non-decreasing fit, exact mass preserved
    val fracs = got.map(g => BigDecimal(g._5) / BigDecimal(g._6))
    assert(fracs == fracs.sorted)
    assert(got.map(g => BigDecimal(g._2) * BigDecimal(g._5) /
      BigDecimal(g._6)).sum == BigDecimal(got.map(_._3).sum))
  }

  test("kendallTauB: hand-counted concordant/discordant pairs with tie " +
      "margins; perfect orders = ±1; constant margin = NULL") {
    // (1,1),(2,2),(3,3): C=3 D=0 no ties -> tau = 1
    val up = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L))
      .toDF("grp", "x", "y")
    val g1 = Metrics.kendallTauB(up, "x", "y", Seq("grp")).collect().head
    assert((g1.getLong(2), g1.getLong(3), g1.getDouble(7)) ===
      ((3L, 0L, 1.0)))
    // reversed -> -1
    val down = Seq(("g", 1L, 3L), ("g", 2L, 2L), ("g", 3L, 1L))
      .toDF("grp", "x", "y")
    assert(Metrics.kendallTauB(down, "x", "y", Seq("grp"))
      .collect().head.getDouble(7) == -1.0)
    // ties on both margins: x=[1,1,2] y=[1,2,2] -> C=1 D=0 Tx=Ty=1 n0=3
    // tau-b = 1/sqrt(2*2) = 0.5
    val tied = Seq(("g", 1L, 1L), ("g", 1L, 2L), ("g", 2L, 2L))
      .toDF("grp", "x", "y")
    val g3 = Metrics.kendallTauB(tied, "x", "y", Seq("grp")).collect().head
    assert((g3.getLong(1), g3.getLong(2), g3.getLong(3), g3.getLong(4),
      g3.getLong(5), g3.getLong(6), g3.getDouble(7)) ===
      ((3L, 1L, 0L, 1L, 1L, 3L, 0.5)))
    // constant x margin: zero denominator -> NULL tau, counts intact
    val const = Seq(("g", 5L, 1L), ("g", 5L, 2L)).toDF("grp", "x", "y")
    val g4 = Metrics.kendallTauB(const, "x", "y", Seq("grp")).collect().head
    assert(g4.isNullAt(7) && g4.getLong(2) == 0L)
  }

  test("kAnonymity: hand-computed class sizes (1, 3, 10) across k = 2/5/10; " +
      "NULL quasi value is its own class") {
    val df = (Seq.fill(1)("a") ++ Seq.fill(3)("b") ++ Seq.fill(10)("c"))
      .map(Option(_)).toDF("g")
    val got = Metrics.kAnonymity(df, Seq("g"), Seq(2, 5, 10))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (2L, 3L, 14L, 1L, 1L, 1L, 0.071429),
      (5L, 3L, 14L, 1L, 2L, 4L, 0.285714),
      (10L, 3L, 14L, 1L, 2L, 4L, 0.285714)))
    // a NULL quasi value groups as its own equivalence class
    val withNull = df.union(Seq(Option.empty[String]).toDF("g"))
    val n = Metrics.kAnonymity(withNull, Seq("g"), Seq(2))
      .collect().head
    assert(n.getLong(1) == 4L && n.getLong(4) == 2L && n.getLong(5) == 2L)
  }

  test("psiDrift: hand-computed 2-bin panel — reference median edge, " +
      "Laplace-smoothed contributions, empty current bin kept") {
    // ref = [1,2,3,4]: rank ceil(4·0.5)=2 -> edge 2; bins: v<=2 | v>2
    //   ref counts (2, 2), nr=4; cur = [3,3,4]: counts (0, 3), nc=3
    // frac_ref (0.5, 0.5); frac_cur (0, 1)
    // smoothed p (add-1 / add-2): pr=(3/6, 3/6), pc=(1/5, 4/5)
    //   contrib0 = (0.2-0.5)·ln(0.2/0.5) = 0.3·ln 2.5  = 0.274887
    //   contrib1 = (0.8-0.5)·ln(0.8/0.5) = 0.3·ln 1.6  = 0.141001
    val df = (Seq(1L, 2L, 3L, 4L).map((_, false)) ++
      Seq(3L, 3L, 4L).map((_, true))).toDF("v", "s")
    val got = Metrics.psiDrift(df, "v", "s", 2)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (0L, 2L, 0L, 0.5, 0.0, 0.274887),
      (1L, 2L, 3L, 0.5, 1.0, 0.141001)))
  }

  test("psiDrift: identical sides produce (near-)zero contributions and " +
      "NULLs are excluded") {
    val vals = (1L to 40L) ++ Seq.empty
    val df = (vals.map(v => (Some(v), false)) ++
      vals.map(v => (Some(v), true)) ++
      Seq((Option.empty[Long], false), (Option.empty[Long], true)))
      .toDF("v", "s")
    val got = Metrics.psiDrift(df, "v", "s", 10).collect()
    assert(got.length == 10)
    assert(got.map(_.getLong(1)).sum == 40L)   // NULL rows not counted
    assert(got.map(_.getLong(2)).sum == 40L)
    // same counts both sides with equal n -> smoothed p identical -> 0.0
    got.foreach(r => assert(r.getDouble(5) == 0.0))
  }

  test("madOutliers: hand-computed Hampel panel; the outlier cannot hide " +
      "itself; even-n type-1 medians") {
    // group a: [1,2,3,4,100] -> median (rank ceil(5/2)=3) = 3;
    //   |x-3| = [2,1,0,1,97] -> MAD = 1; flags: 97 > 3·1 -> exactly the
    //   planted row (the mean/σ rule on this data flags NOTHING: mean=22,
    //   σ≈39, z(100)≈2 < 3 — the robustness point)
    // group b: [1,2,3,4] -> type-1 median = 2; |x-2|=[1,0,1,2] -> MAD=1;
    //   no flag (max dev 2 ≤ 3)
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("a", _)) ++
      Seq(1L, 2L, 3L, 4L).map(("b", _))).toDF("g", "v")
    val got = Metrics.madOutliers(df, "v", Seq("g"), 3)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 5L, 3L, 1L, 1L, 0.2),
      ("b", 4L, 2L, 1L, 0L, 0.0)))
  }

  test("benfordDigits: exact digit binning (zero/NULL out, negatives by " +
      "magnitude), hand-computed chi-square contributions, and the full " +
      "1-9 scaffold — a digit a column entirely avoids contributes n·e") {
    // col a: [10, 1, 19, 2, 0]  -> digits 1,1,1,2 (zero excluded), n=4
    //   P(1)=log10(2)=0.30103: chi(1) = (3-4·0.30103)²/(4·0.30103)
    //   digits 3-9 never occur -> n_obs=0 rows with chi = 4·P(d): the
    //   avoided-digit fabrication signal the round-8 panel silently
    //   dropped (its per-column Σ chi2 was understated by 2.09 here)
    // col b: [-200, 3, null]    -> digits 2,3 (magnitude; null excluded)
    val df = Seq(
      (Some(10L), Some(-200L)), (Some(1L), Some(3L)),
      (Some(19L), None), (Some(2L), None), (Some(0L), None)
    ).toDF("a", "b")
    val got = Metrics.benfordDigits(df, Seq("a", "b"))
      .orderBy("column", "digit").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 1, 3L, 0.75, 0.30103, 2.678458),
      ("a", 2, 1L, 0.25, 0.176091, 0.124083),
      ("a", 3, 0L, 0.0, 0.124939, 0.499755),
      ("a", 4, 0L, 0.0, 0.09691, 0.38764),
      ("a", 5, 0L, 0.0, 0.079181, 0.316725),
      ("a", 6, 0L, 0.0, 0.066947, 0.267787),
      ("a", 7, 0L, 0.0, 0.057992, 0.231968),
      ("a", 8, 0L, 0.0, 0.051153, 0.20461),
      ("a", 9, 0L, 0.0, 0.045757, 0.18303),
      ("b", 1, 0L, 0.0, 0.30103, 0.60206),
      ("b", 2, 1L, 0.5, 0.176091, 1.191619),
      ("b", 3, 1L, 0.5, 0.124939, 2.251839),
      ("b", 4, 0L, 0.0, 0.09691, 0.19382),
      ("b", 5, 0L, 0.0, 0.079181, 0.158362),
      ("b", 6, 0L, 0.0, 0.066947, 0.133894),
      ("b", 7, 0L, 0.0, 0.057992, 0.115984),
      ("b", 8, 0L, 0.0, 0.051153, 0.102305),
      ("b", 9, 0L, 0.0, 0.045757, 0.091515)))
    // benfordFromCounts ∘ benfordCounts = benfordDigits (the streaming
    // twin's composition contract, the fdCounts convention)
    assert(Metrics.benfordFromCounts(Metrics.benfordCounts(df,
        Seq("a", "b")))
      .orderBy("column", "digit").collect().toSeq ==
      Metrics.benfordDigits(df, Seq("a", "b"))
        .orderBy("column", "digit").collect().toSeq)
  }

  test("madOutliers: NULL values are excluded from n, both medians, and " +
      "the flags") {
    // with the 3 nulls counted, group a's median rank would shift and n
    // would inflate to 8 while the nulls never flag; the round-9 contract
    // drops them up front — identical output to the null-free fixture
    val withNulls = (Seq(1L, 2L, 3L, 4L, 100L).map(v => ("a", Some(v))) ++
      Seq[(String, Option[Long])](("a", None), ("a", None), ("a", None)))
      .toDF("g", "v")
    val got = Metrics.madOutliers(withNulls, "v", Seq("g"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("a", 5L, 3L, 1L, 1L, 0.2)))
  }

  test("fdCounts/fdFromCounts composition equals fdViolations — incl. " +
      "NULL keys and the null-vs-'null'-string distinction") {
    // adversarial fixture: a real NULL and the literal string "null" in
    // the same column must land in DIFFERENT groups (the \u0002 marker),
    // and multi-column lhs keys must not collide across the separator
    val df = Seq(
      (Some("a"), Some("x"), Some(1)), (Some("a"), Some("x"), Some(2)),
      (Some("null"), None, None), (None, Some("x"), None),
      (None, Some("x"), Some(1)), (Some("a"), None, Some(1))
    ).toDF("c1", "c2", "c3")
    val fds = Seq(
      ("c1->c3", Seq("c1"), "c3"),
      ("pair->c3", Seq("c1", "c2"), "c3"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("fd").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(canon(Metrics.fdFromCounts(Metrics.fdCounts(df, fds))) ==
      canon(Metrics.fdViolations(df, fds)))
    // and the state relation really is one row per (fd, lhs, rhs) class
    val st = Metrics.fdCounts(df, fds)
    assert(st.count() ==
      st.select("fd", "__lk", "__rk").distinct().count())
  }

  test("fdCounts key encoding is injective on separator-poisoned values: " +
      "('a\\u0001vb','c') and ('a','b\\u0001vc') stay distinct groups") {
    // the round-8 encoding concatenated unescaped values, so these two
    // 2-column lhs tuples both serialized to va\u0001vb\u0001vc and
    // merged; with value-level escaping they cannot collide
    val df = Seq(
      ("a\u0001vb", "c", 1), ("a\u0001vb", "c", 2),
      ("a", "b\u0001vc", 1), ("a", "b\u0001vc", 1)
    ).toDF("c1", "c2", "c3")
    val fds = Seq(("pair->c3", Seq("c1", "c2"), "c3"))
    // two lhs groups of 2 rows: group 1 holds rhs {1, 2} (1 violation),
    // group 2 holds rhs {1: 2} (none) -> merged they would read as one
    // 4-row group with keep=2 -> 2 violations
    val got = Metrics.fdViolations(df, fds).collect().head
    assert(got.getLong(1) == 2L)     // n_groups
    assert(got.getLong(2) == 4L)     // n_rows
    assert(got.getLong(3) == 1L)     // violating_groups
    assert(got.getLong(4) == 1L)     // violations
    // and the raw state shows 3 distinct (lhs, rhs) classes
    assert(Metrics.fdCounts(df, fds).count() == 3L)
  }

  test("fdViolations: exact FD yields zero mass; multi-column lhs") {
    val df = Seq(
      ("x", 1, "p"), ("x", 1, "p"), ("x", 2, "q"), ("y", 1, "r"))
      .toDF("c1", "c2", "c3")
    val got = Metrics.fdViolations(df, Seq(
        ("pair->c3", Seq("c1", "c2"), "c3"),   // (c1,c2) determines c3
        ("c1->c3", Seq("c1"), "c3")))          // x maps to {p:2, q:1}
      .orderBy("fd")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("c1->c3", 1L, 1L, 0.25),
      ("pair->c3", 0L, 0L, 0.0)))
  }

  test("madFromCounts ∘ valueCounts = madOutliers — incl. two values " +
      "folding onto ONE deviation (the dictionary must re-aggregate)") {
    // group a: [1,1,1,5,9,9] -> rank ceil(6/2)=3 -> median 1;
    //   devs [0,0,0,4,8,8] -> MAD 0; flags: adv > 0 -> 3 -> frac 0.5
    // group b: [3,5,7,7] -> type-1 median 5; devs [2,0,2,2]: values 3
    //   AND 7 both land on deviation 2 — the deviation dictionary holds
    //   {0:1, 2:3}, rank 2 -> MAD 2; no flag (max dev 2 ≤ 6)
    val df = (Seq(1L, 1L, 1L, 5L, 9L, 9L).map(("a", _)) ++
      Seq(3L, 5L, 7L, 7L).map(("b", _))).toDF("g", "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val viaCounts = canon(Metrics.madFromCounts(
      Metrics.valueCounts(df, "v", Seq("g")), Seq("g"), 3))
    assert(viaCounts == Seq(
      ("a", 6L, 1L, 0L, 3L, 0.5),
      ("b", 4L, 5L, 2L, 0L, 0.0)))
    assert(viaCounts == canon(Metrics.madOutliers(df, "v", Seq("g"), 3)))
  }

  test("cohensKappa: hand-computed chance-corrected agreement; NULL and " +
      "the string 'null' are distinct categories") {
    // a: [x,x,y,y,x,y,NULL,NULL], b: [x,y,y,x,x,y,'null',NULL]
    // diag = 5 (both (x,x) twice, (y,y) twice, (NULL,NULL) once — the
    // (NULL,'null') row must NOT count), n = 8 -> po = 0.625
    // marginals: a{x:3,y:3,N:2}, b{x:3,y:3,null:1,N:1} ->
    // S = 3·3 + 3·3 + 2·1 = 20 -> pe = 20/64 = 0.3125
    // kappa = (5·8 − 20)/(64 − 20) = 20/44 = 0.454545
    val df = Seq(
      (Some("x"), Some("x")), (Some("x"), Some("y")),
      (Some("y"), Some("y")), (Some("y"), Some("x")),
      (Some("x"), Some("x")), (Some("y"), Some("y")),
      (None, Some("null")), (None, None)
    ).toDF("a", "b")
    val got = Metrics.cohensKappa(df, "a", "b").collect().head
    assert((got.getLong(0), got.getDouble(1), got.getDouble(2),
      got.getDouble(3)) == ((8L, 0.625, 0.3125, 0.454545)))
  }

  test("cohensKappa: kappa is NULL when chance agreement is total " +
      "(both raters constant)") {
    val df = Seq(("k", "k"), ("k", "k")).toDF("a", "b")
    val got = Metrics.cohensKappa(df, "a", "b").collect().head
    assert(got.getLong(0) == 2L && got.getDouble(1) == 1.0 &&
      got.getDouble(2) == 1.0 && got.isNullAt(3))
  }

  test("assocPanel: hand-computed chi2 / Cramér's V / MI on dependent, " +
      "independent, and zero-cell tables — one scan for all pairs") {
    // pair dep  (x, y1): perfect 2×2 dependence -> chi2 = n = 4, V = 1,
    //   MI = 1 bit
    // pair ind  (x, y2): uniform 2×2 independence -> chi2 = 0, V = 0,
    //   MI = 0
    // pair zero (x, y3): cells (a,1):3 (a,2):1 (b,2):2 — the (b,1) zero
    //   cell enters via the closed form: chi2 = 0.5+0.5+1+1 = 3,
    //   V = sqrt(3/6) = 0.707107, MI = 0.5·log2(1.5) − 1/6 + 1/3
    val df = Seq(
      ("a", 1, 1), ("a", 1, 2), ("b", 2, 1), ("b", 2, 2),
      ("a", 1, 1), ("a", 1, 2), ("b", 2, 1), ("b", 2, 2)
    ).toDF("x", "y1", "y2")
    val dfz = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 2), ("b", 2),
      ("b", 2)).toDF("x", "y")
    val got = Metrics.assocPanel(df, Seq(
        ("dep", "x", "y1"), ("ind", "x", "y2")))
      .orderBy("pair").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(got.toSeq == Seq(
      ("dep", 8L, 2L, 2L, 1L, 8.0, 1.0, 1.0),
      ("ind", 8L, 2L, 2L, 1L, 0.0, 0.0, 0.0)))
    val z = Metrics.assocPanel(dfz, Seq(("zero", "x", "y"))).collect().head
    assert((z.getLong(1), z.getLong(2), z.getLong(3), z.getLong(4)) ==
      ((6L, 2L, 2L, 1L)))
    assert(z.getDouble(5) == 3.0)
    assert(z.getDouble(6) == 0.707107)
    assert(z.getDouble(7) == 0.459148)
  }

  test("assocPanel: single-level side -> chi2 0, Cramér's V NULL, MI 0; " +
      "NULL is a category distinct from the string 'null'") {
    val one = Seq(("k", 1), ("k", 2), ("k", 2)).toDF("x", "y")
    val g1 = Metrics.assocPanel(one, Seq(("p", "x", "y"))).collect().head
    assert(g1.getLong(2) == 1L && g1.getLong(4) == 0L &&
      g1.getDouble(5) == 0.0 && g1.isNullAt(6) && g1.getDouble(7) == 0.0)
    val nn = Seq((Some("null"), 1), (None, 2), (None, 2))
      .toDF("x", "y")
    val g2 = Metrics.assocPanel(nn, Seq(("p", "x", "y"))).collect().head
    assert(g2.getLong(2) == 2L) // NULL and "null" stay separate levels
  }

  test("panel invariants hold on seeded random data: skew bounds, kappa " +
      "range, chi2/V/MI bounds") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(400)((rnd.nextInt(40).toLong,
      s"c${rnd.nextInt(5)}", s"r${rnd.nextInt(4)}"))
    val df = rows.toDF("k", "a", "b")
    val sp = Metrics.skewProfile(df, Seq("k"), 16).collect().head
    val (nRows, nKeys, maxMass) =
      (sp.getLong(0), sp.getLong(1), sp.getLong(2))
    assert(nRows == 400L && nKeys <= 40L && maxMass <= nRows)
    assert(sp.getDouble(3) >= 1.0 / nKeys - 1e-9)        // max_share
    assert(sp.getDouble(4) >= sp.getDouble(3) - 1e-9)    // top10 >= max
    assert(sp.getLong(5) <= sp.getLong(6) &&
      sp.getLong(6) <= maxMass)                          // p50 <= p99
    assert(sp.getDouble(7) >= 0.0 && sp.getDouble(7) < 1.0) // gini
    assert(sp.getLong(8) >= 1L)                          // salt
    val ck = Metrics.cohensKappa(df, "a", "b").collect().head
    assert(ck.getDouble(1) >= 0.0 && ck.getDouble(1) <= 1.0)
    assert(ck.getDouble(2) >= 0.0 && ck.getDouble(2) <= 1.0)
    assert(ck.isNullAt(3) || ck.getDouble(3) <= 1.0)
    val ap = Metrics.assocPanel(df, Seq(("ab", "a", "b"))).collect().head
    assert(ap.getDouble(5) >= -1e-6)                     // chi2
    assert(ap.getDouble(6) >= -1e-6 && ap.getDouble(6) <= 1.0 + 1e-6)
    val miCap = math.min(math.log(ap.getLong(2).toDouble),
      math.log(ap.getLong(3).toDouble)) / math.log(2.0)
    assert(ap.getDouble(7) >= -1e-6 && ap.getDouble(7) <= miCap + 1e-6)
  }

  test("lDiversity: homogeneous classes flagged below every l; " +
      "hand-computed risk masses") {
    // class A: sensitive [1,1,1] (l=1), B: [1,2] (l=2), C: [1,2,3] (l=3)
    // l=2 -> {A}: 1 class / 3 rows; l=3 -> {A,B}: 2 classes / 5 rows
    val df = (Seq(1L, 1L, 1L).map(("A", _)) ++ Seq(1L, 2L).map(("B", _)) ++
      Seq(1L, 2L, 3L).map(("C", _))).toDF("q", "s")
    val got = Metrics.lDiversity(df, Seq("q"), "s", Seq(2, 3))
      .orderBy("l").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (2L, 3L, 8L, 1L, 1L, 3L, 0.375),
      (3L, 3L, 8L, 1L, 2L, 5L, 0.625)))
    // composition: fold over the cell state = the one-shot panel
    assert(Metrics.lDiversityFromCounts(
        Metrics.lDiversityCounts(df, Seq("q"), "s"), Seq(2, 3))
      .orderBy("l").collect().toSeq ==
      Metrics.lDiversity(df, Seq("q"), "s", Seq(2, 3))
        .orderBy("l").collect().toSeq)
  }

  test("tCloseness: hand-computed ordered EMDs (0.375 / 0.125 / 22/48) " +
      "and per-t risk masses; composition equals the one-shot panel") {
    // global over s: g(1)=4, g(2)=2, g(3)=2, n=8, m=3
    // A [1,1,1]: D = 12, 6, 0  -> num 18, den 3*8*2 = 48, emd 0.375
    // B [1,2]:   D = 0, 4, 0   -> num 4,  den 32,       emd 0.125
    // C [2,3,3]: D = -12,-10,0 -> num 22, den 48,       emd 0.458333
    val df = (Seq(1L, 1L, 1L).map(("A", _)) ++ Seq(1L, 2L).map(("B", _)) ++
      Seq(2L, 3L, 3L).map(("C", _))).toDF("q", "s")
    val got = Metrics.tCloseness(df, Seq("q"), "s", Seq(150000L, 400000L))
      .orderBy("t").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (0.15, 3L, 8L, 0.458333, 2L, 6L, 0.75),    // A + C exceed 0.15
      (0.4, 3L, 8L, 0.458333, 1L, 3L, 0.375)))   // only C exceeds 0.4
    // composition: fold over the cell state = the one-shot panel
    assert(Metrics.tClosenessFromCounts(
        Metrics.tClosenessCounts(df, Seq("q"), "s"), Seq(150000L, 400000L))
      .orderBy("t").collect().toSeq ==
      Metrics.tCloseness(df, Seq("q"), "s", Seq(150000L, 400000L))
        .orderBy("t").collect().toSeq)
  }

  test("tCloseness: NULL sensitive values carry their cell mass (classes " +
      "identical to the global distribution score EMD 0)") {
    val df = Seq(("A", Some(1L)), ("A", None), ("B", Some(1L)), ("B", None))
      .toDF("q", "s")
    val got = Metrics.tCloseness(df, Seq("q"), "s", Seq(150000L))
      .collect().map(r => (r.getDouble(3), r.getLong(4))).toSeq
    // a dropped null cell would read c(null)=0 -> spurious positive EMD
    assert(got == Seq((0.0, 0L)))
  }

  test("conformanceProfile: match/violation/NULL accounting per rule in " +
      "one scan; all-NULL column yields NULL rate") {
    val df = Seq(
      (Some("Customer#1"), Option.empty[String]),
      (Some("Customer#22"), None), (Some("bogus"), None), (None, None)
    ).toDF("name", "dead")
    val got = Metrics.conformanceProfile(df, Seq(
        ("name_format", "name", "^Customer#[0-9]+$"),
        ("dead_any", "dead", "^.*$")))
      .orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(got.toSeq == Seq(
      ("dead_any", 4L, 4L, 0L, 0L, None),
      ("name_format", 4L, 1L, 2L, 1L, Some(0.333333))))
  }

  test("corrMatrix: one scan for all pairs — perfect ±1, zero-variance " +
      "NULL, per-pair NULL exclusion") {
    val df = Seq(
      (1.0, Some(2.0), 3.0, 5.0), (2.0, Some(4.0), 2.0, 5.0),
      (3.0, Some(6.0), 1.0, 5.0), (4.0, None, 0.0, 5.0)
    ).toDF("x", "y", "z", "w")
    val got = Metrics.corrMatrix(df, Seq(
        ("a_xy", "x", "y"), ("b_xz", "x", "z"), ("c_xw", "x", "w")))
      .orderBy("pair").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq(
      ("a_xy", 3L, Some(1.0)),    // NULL-y row excluded for this pair only
      ("b_xz", 4L, Some(-1.0)),
      ("c_xw", 4L, None)))        // zero variance -> NULL, never NaN
  }

  test("woeIv: hand-computed Laplace-smoothed WOE and IV contributions") {
    // bin a: 3 pos / 1 neg, bin b: 1 pos / 3 neg; P = Q = 4, K = 2:
    // gf_a = 3.5/5 = 0.7, bf_a = 1.5/5 = 0.3 -> woe = ln(7/3) = 0.847298,
    // iv = 0.4·ln(7/3) = 0.338919; bin b is the mirror image
    val df = (Seq.fill(3)(("a", true)) ++ Seq(("a", false)) ++
      Seq(("b", true)) ++ Seq.fill(3)(("b", false))).toDF("bin", "y")
    val got = Metrics.woeIv(df, "y", "bin").orderBy("bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 4L, 3L, 1L, 0.847298, 0.338919),
      ("b", 4L, 1L, 3L, -0.847298, 0.338919)))
  }

  test("effectiveSampleSize: uniform weights -> ESS = n; one dominant " +
      "weight collapses it (hand-computed Kish)") {
    val uni = Seq(5L, 5L, 5L, 5L).map(Tuple1(_)).toDF("w")
    val u = Metrics.effectiveSampleSize(uni, "w").collect().head
    assert(u.getLong(0) == 4L && u.getDouble(2) == 4.0 &&
      u.getDouble(3) == 1.0 && u.getDouble(4) == 0.25)
    // weights [97, 1, 1, 1]: sw = 100, sww = 9412 -> ESS = 10000/9412
    val dom = Seq(97L, 1L, 1L, 1L).map(Tuple1(_)).toDF("w")
    val d = Metrics.effectiveSampleSize(dom, "w").collect().head
    assert(d.getDouble(2) == 1.062473 && d.getDouble(4) == 0.97)
  }

  test("round-9 panels are total on EMPTY input: no throw, sane shapes") {
    val e0 = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.StringType))))
    // cell-dictionary ops collapse to zero rows
    assert(Metrics.assocPanel(e0, Seq(("p", "a", "b"))).count() == 0L)
    assert(Metrics.keyCandidates(e0, Seq(("k", Seq("k")))).count() == 0L)
    assert(Metrics.conformanceProfile(e0,
      Seq(("r", "a", "^x$"))).count() == 0L)
    assert(Metrics.corrMatrix(e0, Seq(("p", "k", "k"))).count() == 0L)
    assert(Metrics.woeIv(e0, "a", "b").count() == 0L)
    assert(Metrics.lDiversity(e0, Seq("a"), "b", Seq(2)).count() == 0L)
    assert(Metrics.joinability(e0, Seq("a"), e0, Seq("b")).count() == 0L)
    // 1-row reports stay 1-row with NULL/zero stats, never a throw
    assert(Metrics.effectiveSampleSize(e0, "k").count() == 1L)
    assert(Metrics.cohensKappa(e0, "a", "b").count() == 1L)
    assert(graft.scale.Skew.joinCardinality(e0, "k", e0, "k")
      .count() == 1L)
    assert(Metrics.riProfile(Seq(("e", e0, "k", e0, "k"))).count() == 1L)
    assert(graft.scale.Dedup.survivorship(e0, "k",
      Seq(("a", "mode"))).count() == 0L)
    assert(graft.scale.Dedup.blockingQuality(
      e0.select(col("k").as("id_a"), col("k").as("id_b")),
      e0.select(col("k").as("id_a"), col("k").as("id_b")), e0)
      .count() == 1L)
    assert(Metrics.skewProfile(e0, Seq("k"), 8).count() <= 1L)
  }

  test("joinability: exact value-set overlaps, string-compared across " +
      "types, NULLs never join, zero-overlap pairs absent") {
    val l = Seq((Some(1L), "x"), (Some(2L), "y"), (Some(3L), "x"),
      (None, "y")).toDF("id", "tag")
    // right-side ids are STRINGS — the int 2 and the string "2" must join
    val r = Seq(("2", "y"), ("3", "z"), ("4", "y")).toDF("rid", "tag2")
    val got = Metrics.joinability(l, Seq("id", "tag"), r,
        Seq("rid", "tag2"))
      .orderBy("col_a", "col_b").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5), x.getDouble(6),
        x.getDouble(7)))
    assert(got.toSeq == Seq(
      ("id", "rid", 3L, 3L, 2L, 0.666667, 0.666667, 0.5),
      ("tag", "tag2", 2L, 2L, 1L, 0.5, 0.5, 0.333333)))
  }

  test("riProfile: orphans, NULL FKs, and unreferenced parents counted " +
      "exactly; NULL FK excluded from the orphan-rate denominator") {
    // child keys [1,1,2,3,NULL], parent keys [1,2,4]:
    // orphans = the key-3 row (1 row, 1 key), null_fk = 1,
    // rate = 1/(5−1) = 0.25, parents 3 with key 4 unreferenced
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("k")
    val parent = Seq(1L, 2L, 4L).map(Tuple1(_)).toDF("p")
    val got = Metrics.riProfile(Seq(("e", child, "k", parent, "p")))
      .collect().head
    assert((got.getString(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getDouble(5), got.getLong(6),
      got.getLong(7)) == (("e", 5L, 1L, 1L, 1L, 0.25, 3L, 1L)))
    // all-NULL child FK -> rate undefined (NULL), not 0/0
    val allNull = Seq[Option[Long]](None, None).toDF("k")
    val g2 = Metrics.riProfile(Seq(("n", allNull, "k", parent, "p")))
      .collect().head
    assert(g2.getLong(2) == 2L && g2.isNullAt(5))
  }

  test("keyCandidates: exact duplicate masses per combo; NULL and the " +
      "string 'null' stay distinct tuples; composite key detected") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("a")), (3L, Some("b")), (3L, Some("c")),
      (4L, None), (4L, Some("null"))
    ).toDF("id", "g")
    val got = graft.metrics.Metrics.keyCandidates(df, Seq(
        ("id", Seq("id")), ("g", Seq("g")), ("pair", Seq("id", "g"))))
      .orderBy("combo").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    assert(got.toSeq == Seq(
      ("g", 6L, 5L, 1L, 2L, 0.833333, false),
      ("id", 6L, 4L, 2L, 2L, 0.666667, false),
      ("pair", 6L, 6L, 0L, 1L, 1.0, true)))
  }

  test("skewProfile: hand-computed mass histogram — gini over runs, " +
      "top-10 take, type-1 percentile picks, ceil salt factor") {
    // 12 keys: ten of mass 1, two of mass 5 -> n_rows 20
    // top10 = 5 + 5 + 8·1 = 18 -> 0.9; p50: rank 6 of ascending masses
    // -> 1; p99: rank 12 -> 5; gini: 2Σi·x = 2(55 + 11·5 + 12·5) = 340,
    // (K+1)T = 260, KT = 240 -> 80/240 = 0.333333
    // salt at 8 partitions: ceil(5·8/20) = 2
    val rows = (1L to 10L).map(k => (k, 1)) ++ Seq((11L, 5), (12L, 5))
    val df = rows.toDF("k", "m")
      .withColumn("i", explode(sequence(lit(1), col("m"))))
      .select("k", "i")
    val got = Metrics.skewProfile(df, Seq("k"), 8).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((20L, 12L, 5L)))
    assert(got.getDouble(3) == 0.25)
    assert(got.getDouble(4) == 0.9)
    assert((got.getLong(5), got.getLong(6)) == ((1L, 5L)))
    assert(got.getDouble(7) == 0.333333)
    assert(got.getLong(8) == 2L)
  }
}
