package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tolerant-equality + confusion-matrix metrics (SURVEY.md §2.5 G4, §2.7 F4).
  *
  * Everything here is pure Catalyst expressions (no UDFs): the reference's
  * per-row Python loop (`utils/utils.py:83-128`) becomes one shuffle-free
  * partial aggregation + a 1-row final — the plan Spark picks is a single
  * HashAggregate pair, which is what we want at 100 TB.
  */
object Metrics {

  /** The reference's numeric regex (`utils/utils.py:49`):
    * `[-+]?([0-9]*\.?[0-9]+|[0-9]+/[0-9]+)`.
    * Python `re.findall` with one group returns the GROUP matches — i.e. the
    * sign is dropped. Faithful: we extract group 1.
    */
  val NumberPattern: String = "[-+]?([0-9]*\\.?[0-9]+|[0-9]+/[0-9]+)"

  /** `pred.strip().lower()` normalization with None→"" (`utils/utils.py:88-95`).
    * The trim set covers the control-whitespace characters Python's
    * `.strip()` and Java's `String.trim` (used by the codegen
    * [[TolerantEqualsExpr]] path) remove — Spark's bare `trim` strips ASCII
    * spaces only, which would make this reference-form path disagree with
    * the native path on \n-padded labels (e.g. the P6 impute label quirk).
    */
  def normalize(c: Column): Column =
    lower(trim(coalesce(c.cast("string"), lit("")), " \t\n\r\f\u000B"))

  /** F4 — extract all numbers from a string as an array<double>. Sign
    * dropped (see [[NumberPattern]]).
    *
    * Faithful-quirk note: the reference's fraction-evaluation branch
    * (`utils/utils.py:52-58`) is DEAD CODE — in its regex the first
    * alternation branch consumes the numerator of "a/b", so `findall`
    * returns ["a","b"] and no match ever contains "/" (verified against
    * CPython). Java regex alternation behaves identically, so this
    * implementation reproduces the reference exactly: fractions decompose
    * into two numbers. The `contains("/")` branch is kept for structural
    * fidelity.
    */
  def extractNumbers(c: Column): Column = {
    val matches = regexp_extract_all(c, lit(NumberPattern), lit(1))
    transform(matches, m =>
      when(m.contains("/"),
        element_at(split(m, "/"), 1).cast("double") /
          element_at(split(m, "/"), 2).cast("double"))
        .otherwise(m.cast("double")))
  }

  /** F4 — pairwise |a-b| <= tol with TRUNCATING zip semantics: the reference
    * compares only up to the shorter list (`zip` at `utils/utils.py:32`).
    * Set `truncating=false` for the corrected equal-length-required mode.
    */
  def withinTolerance(
      a: Column,
      b: Column,
      tol: Double = 0.021,
      truncating: Boolean = true): Column = {
    val n = least(size(a), size(b))
    val (as_, bs) =
      if (truncating) (slice(a, lit(1), n), slice(b, lit(1), n)) else (a, b)
    val lenOk = if (truncating) lit(true) else size(a) === size(b)
    lenOk && forall(zip_with(as_, bs, (x, y) => abs(x - y) <= tol), p => p)
  }

  /** F4 — the reference's row-level correctness predicate
    * (`utils/utils.py:104-107` + `64-80`): case/whitespace-insensitive exact
    * match, OR both sides contain numbers and all pairs are within tolerance.
    *
    * Default path is the native codegen'd [[TolerantEqualsExpr]] (one regex
    * pass per side, stays in whole-stage codegen — ~20× the composed
    * built-in form on 600k rows). [[tolerantEqualsColumns]] keeps the
    * pure-built-in formulation; MetricsSpec asserts they agree.
    */
  def tolerantEquals(
      pred: Column,
      gold: Column,
      tol: Double = 0.021,
      truncating: Boolean = true): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(TolerantEqualsExpr(
      ColumnBridge.expression(pred.cast("string")),
      ColumnBridge.expression(gold.cast("string")),
      tol, truncating))
  }

  /** F4 via composed built-in expressions only (reference formulation). */
  def tolerantEqualsColumns(
      pred: Column,
      gold: Column,
      tol: Double = 0.021,
      truncating: Boolean = true): Column = {
    val p = normalize(pred)
    val g = normalize(gold)
    val np = extractNumbers(p)
    val ng = extractNumbers(g)
    (p === g) ||
      (size(np) > 0 && size(ng) > 0 && withinTolerance(np, ng, tol, truncating))
  }

  /** G4 — one-pass confusion-matrix aggregation (`utils/utils.py:83-128`):
    * counts tp/tn/fp/fn/crc/total where crc = [[tolerantEquals]] and the gold
    * label gates tp/fn ("yes") vs tn/fp ("no"). Emits both the reference's
    * legacy F1 (`2pr/max(1,p+r)`, `utils.py:127` — deflating whenever p+r<1)
    * and the corrected F1.
    *
    * All counts are exact integers; the derived ratios are double divisions of
    * identical integers, rounded to 6 decimals per the repo determinism rule
    * (SURVEY §5.3) so both engines emit bit-identical doubles. F1 variants are
    * computed from the ROUNDED prec/rec — oracles mirror that order exactly.
    */
  def confusionMetrics(
      df: DataFrame,
      predCol: String,
      goldCol: String,
      tol: Double = 0.021,
      truncating: Boolean = true): DataFrame =
    confusion(df, predCol, goldCol, None, tol, truncating)

  /** [[confusionMetrics]] over a PRE-AGGREGATED (pred, gold, weight)
    * class-distribution table — the 100 TB shape for massive pair
    * relations: the caller reduces its rows to distinct (pred, gold)
    * classes with counts (one codegen hash-agg with map-side partials),
    * and the tolerant-equality expression — regex extraction per
    * evaluation, the cost term at pair mass — runs once per CLASS instead
    * of once per row. Identical output to row-level [[confusionMetrics]]
    * because crc depends only on the (pred, gold) values — except on an
    * empty input, where `total` is NULL here (a sum) and 0 there (a count).
    */
  def confusionMetricsWeighted(
      classes: DataFrame,
      predCol: String,
      goldCol: String,
      weightCol: String,
      tol: Double = 0.021,
      truncating: Boolean = true): DataFrame =
    confusion(classes, predCol, goldCol, Some(col(weightCol)), tol, truncating)

  /** The one G4 body: every row counts `weight`, or 1 when there is none. */
  private def confusion(
      df: DataFrame,
      predCol: String,
      goldCol: String,
      weight: Option[Column],
      tol: Double,
      truncating: Boolean): DataFrame = {
    val crc = tolerantEquals(col(predCol), col(goldCol), tol, truncating)
    val g = normalize(col(goldCol))
    // row-level total stays a count: 0, not a sum's NULL, on an empty input
    val (total, w) = weight match {
      case Some(c) => (sum(c), c)
      case None    => (count(lit(1)), lit(1L))
    }
    val cnt = (p: Column) => sum(when(p, w).otherwise(0L))
    df.agg(
        total.as("total"),
        cnt(crc).as("crc"),
        cnt(g === "yes" && crc).as("tp"),
        cnt(g === "yes" && !crc).as("fn"),
        cnt(g === "no" && crc).as("tn"),
        cnt(g === "no" && !crc).as("fp"))
      .withColumn("prec", round(
        col("tp").cast("double") / greatest(lit(1L), col("tp") + col("fp")), 6))
      .withColumn("rec", round(
        col("tp").cast("double") / greatest(lit(1L), col("tp") + col("fn")), 6))
      .withColumn("acc", round(col("crc").cast("double") / col("total"), 6))
      .withColumn("f1_legacy", round(
        lit(2.0) * col("prec") * col("rec") /
          greatest(lit(1.0), col("prec") + col("rec")), 6))
      .withColumn("f1", round(
        when(col("prec") + col("rec") > 0.0,
          lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))
          .otherwise(lit(0.0)), 6))
  }

  /** Pearson correlation per group from EXACT decimal co-moment sums.
    * Spark's built-in `corr` streams floating co-moments whose merge order
    * depends on partitioning — the last ulps are not reproducible across
    * cluster layouts. Accumulating Σx, Σy, Σx², Σy², Σxy as decimals is
    * exact and order-free; the closed-form combination is then ONE fixed
    * double expression, bit-identical on any partitioning and in the
    * oracle engine. Same single partial+final hash-agg shuffle as `corr`.
    */
  def exactCorrelation(
      df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,2)")
    val y = col(yCol).cast("decimal(18,2)")
    val nD = col("n").cast("double")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * x).cast("decimal(38,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(38,4)")).cast("double").as("syy"),
        sum((x * y).cast("decimal(38,4)")).cast("double").as("sxy"))
      .select(col(groupCol), col("n"),
        round((nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
            sqrt(nD * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"))
  }

  /** Robust dispersion per group: median and median-absolute-deviation via
    * two exact interpolated-percentile passes (median first, then the
    * median of |x − median|). Two keyed hash-agg shuffles + one equi-join
    * on the group key — no global sort; each group's percentile is a
    * per-reducer sort of that group's values only.
    */
  def medianAbsoluteDeviation(
      df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valCol, 0.5D)").as("med"))
    df.join(med, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(min(col("med")), 6).as("median"),
        round(expr(s"percentile(abs($valCol - med), 0.5D)"), 6).as("mad"))
  }

  /** Scale-path quantile binning: assign each row the quartile bin of its
    * group via BROADCAST percentile boundaries + a shuffle-free comparison
    * projection. This is the 100 TB alternative to `ntile()` over a
    * low-cardinality partition key — NTILE needs a total sort of each
    * group through one task per group, while here only the tiny boundary
    * table (one row per group) moves, and bin assignment is a codegen'd
    * per-row expression. Boundary semantics: bin = 1 + Σ (x > q_k) —
    * rows equal to a boundary fall in the lower bin (NTILE splits ties by
    * rank instead, so counts can differ by the tie mass; same bins when
    * values at boundaries are distinct).
    */
  def quantileBin(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val qs = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valCol, 0.25D)").as("q1"),
      expr(s"percentile($valCol, 0.5D)").as("q2"),
      expr(s"percentile($valCol, 0.75D)").as("q3"))
    df.join(broadcast(qs), Seq(groupCol))
      .withColumn("bin",
        lit(1) + (col(valCol) > col("q1")).cast("int") +
          (col(valCol) > col("q2")).cast("int") +
          (col(valCol) > col("q3")).cast("int"))
      .drop("q1", "q2", "q3")
  }

  /** Column-profile summary (the data-validation `describe` analog):
    * one pass computing null count, exact distinct count, and min/max per
    * requested column, unpivoted to one row per column via `stack`. All
    * stats are exact (distinct via expand — one shuffle); min/max emitted
    * as strings so heterogeneous column types share one output schema.
    * Restrict to string/integer columns for oracle use — float→string
    * formatting is not portable across engines.
    */
  /** Declarative data-quality gate: each rule is (name, violation
    * predicate); the result is one row per rule with its exact violation
    * count — the expectations check run before a corpus enters training.
    * All rules evaluate in ONE scan/aggregate pass however many there are
    * (conditional sums share the same partial-agg state), then unpivot via
    * `stack`. Row-local rules only; for uniqueness use
    * [[uniquenessViolations]] (needs a distinct aggregate).
    */
  def constraintViolations(
      df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"__v$i")
    }
    val stacked = rules.zipWithIndex
      .map { case ((n, _), i) => s"'$n', __v$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${rules.size}, $stacked) AS (rule, n_violations)")
  }

  /** Duplicate-key mass for a uniqueness expectation: rows − distinct keys
    * (0 ⇔ the column is unique). One expand-based distinct aggregate.
    */
  def uniquenessViolations(df: DataFrame, keyCol: String, ruleName: String): DataFrame =
    df.agg((count(lit(1)) - count_distinct(col(keyCol))).as("n_violations"))
      .select(lit(ruleName).as("rule"), col("n_violations"))

  /** Exact ROC-AUC per group via the Mann–Whitney U statistic, computed
    * entirely from the AGGREGATED score table — the classifier-evaluation
    * step of a quality-gate pipeline (grade the learned gate without
    * materializing per-pair comparisons).
    *
    * Scale shape: one hash-aggregate collapses the corpus to
    * (group, score, n_pos, n_neg); the tie-corrected rank sum then needs,
    * per distinct score, the negative mass STRICTLY BELOW it — computed as
    * a broadcast θ-join over the aggregated table, whose cardinality is
    * bounded by the score RANGE (an integer score over bounded-length
    * documents), not the corpus size. Nothing touches the data plane
    * twice; no global window; no pair materialization over rows.
    *
    * Exactness: with P positives and N negatives,
    *   U = Σ_s n_pos(s)·(neg_below(s) + n_neg(s)/2)
    * so 2U = Σ_s n_pos(s)·(2·neg_below(s) + n_neg(s)) stays an exact long
    * (u2 below), and AUC = u2 / (2·P·N) is emitted 6-decimal-rounded.
    * Groups with no positives or no negatives yield NULL auc (undefined).
    *
    * Requires `scoreCol` non-null and `labelCol` ∈ {0,1} (cast to long).
    */
  def aucExact(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val gcols = groupCols.map(col)
    val aggKeys = gcols :+ col(scoreCol).as("__s")
    val agg = df
      .groupBy(aggKeys: _*)
      .agg(sum(col(labelCol).cast("long")).as("__np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("__nn"))
    val rightCols =
      groupCols.map(c => col(c).as(s"__r_$c")) ++
        Seq(col("__s").as("__s2"), col("__nn").as("__nn2"))
    val right = broadcast(agg.select(rightCols: _*))
    val joinCond = groupCols
      .map(c => col(c) === col(s"__r_$c"))
      .foldLeft(col("__s2") < col("__s"))(_ && _)
    val withBelow = agg.join(right, joinCond, "left")
      .groupBy((gcols ++ Seq(col("__s"), col("__np"), col("__nn"))): _*)
      .agg(coalesce(sum(col("__nn2")), lit(0L)).as("__nb"))
    withBelow
      .groupBy(gcols: _*)
      .agg(sum(col("__np")).as("n_pos"),
        sum(col("__nn")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__nb") + col("__nn"))).as("u2"))
      .select((gcols ++ Seq(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))): _*)
  }

  /** Per-rank DCG discount 1/log2(rank+1) in integer micro-units, and its
    * running sum (the ideal-DCG lookup). Integerizing the discounts makes
    * every DCG sum an exact long — associative, partition-order-free, and
    * replayable bit-for-bit by an oracle that interpolates THESE constants
    * (the generated SQL embeds the same values, so a libm log2 ULP
    * difference between JVMs/engines can never surface).
    */
  def discountMicro(k: Int): Array[Long] =
    (1 to k).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0)))).toArray

  def idealDcgMicro(k: Int): Array[Long] =
    discountMicro(k).scanLeft(0L)(_ + _).tail

  /** Ranking-evaluation metrics at cutoff `k` over a ranked candidate table
    * — the retrieval-eval step of an embedding pipeline (grade an ANN /
    * retrieval system against labeled relevance). Input rows:
    * (groupCols…, queryCol, rankCol 1-based within query, relCol ∈ {0,1});
    * the list per query is the system's top-k (all metrics are the @k
    * variants over the provided list). Emits per group the macro averages
    * over its queries: MRR, MAP, precision@k, nDCG@k, each 6-decimal.
    *
    * Exactness: every per-query statistic is computed in integer
    * micro-units with floor division — reciprocal rank (1e6 div first_rel),
    * precision (rel_k·1e6 div k), AP (Σ over relevant rows of
    * (cum_rel·1e6 div rank), div n_rel), nDCG (dcg·1e6 div idcg with the
    * [[discountMicro]] table) — so per-query values are exact longs, the
    * macro SUM is associative (no float reassociation across partitions),
    * and the macro mean floor-divides in micro-units BEFORE the one double
    * division by 1e6 — the rounded value is ~exactly a 6-decimal number,
    * never at a half-boundary where decimal-string (Spark) and binary
    * (DuckDB) rounding of the same double disagree.
    *
    * Scale shape: one window partitioned BY QUERY (frames bounded at k
    * rows, parallel across queries), one hash-aggregate per query, one per
    * group — no global window, no pair mass, nothing collected.
    */
  def rankingMetrics(
      ranked: DataFrame,
      queryCol: String,
      rankCol: String,
      relCol: String,
      groupCols: Seq[String] = Seq.empty,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val disc = discountMicro(k)
    val ideal = idealDcgMicro(k)
    val discArr = array(disc.map(lit): _*)
    val idealArr = array(ideal.map(lit): _*)
    val gcols = groupCols.map(col)
    val rows = ranked
      .select((gcols ++ Seq(col(queryCol).as("__q"),
        col(rankCol).cast("long").as("__rk"),
        col(relCol).cast("long").as("__rel"))): _*)
      .withColumn("__cum", sum(col("__rel")).over(
        Window.partitionBy(col("__q")).orderBy(col("__rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perq = rows
      .groupBy((gcols :+ col("__q")): _*)
      .agg(
        sum(col("__rel")).as("__nrel"),
        min(when(col("__rel") === 1L, col("__rk"))).as("__first"),
        sum(when(col("__rel") === 1L && col("__rk") <= k,
          element_at(discArr, col("__rk").cast("int"))).otherwise(0L))
          .as("__dcgm"),
        sum(when(col("__rel") === 1L,
          expr("(__cum * 1000000) div __rk")).otherwise(0L)).as("__apnum"))
      .withColumn("__rrm",
        when(col("__first").isNotNull, expr("1000000 div __first"))
          .otherwise(0L))
      .withColumn("__pm", expr(s"(__nrel * 1000000) div $k"))
      .withColumn("__apm",
        when(col("__nrel") > 0L, expr("__apnum div __nrel")).otherwise(0L))
      .withColumn("__idcgm",
        when(col("__nrel") > 0L,
          element_at(idealArr, least(col("__nrel"), lit(k.toLong)).cast("int")))
          .otherwise(0L))
      .withColumn("__ndcgm",
        when(col("__idcgm") > 0L, expr("(__dcgm * 1000000) div __idcgm"))
          .otherwise(0L))
    // Macro mean in integer micro-units too: sum_micro div n, THEN one
    // double division by 1e6. A plain sum/(n·1e6) can land exactly on a
    // 6th-decimal half-boundary (e.g. 2071042/4e6 = .5177605), where
    // Spark's round (BigDecimal.valueOf → shortest decimal repr → HALF_UP)
    // and an engine rounding the raw binary double disagree; a floored
    // integer mean is ~exactly a 6-decimal value, never at a boundary.
    def mean(c: String): Column =
      round(expr(s"sum($c) div count(1)").cast("double") / 1e6, 6)
    perq.groupBy(gcols: _*)
      .agg(
        count(lit(1L)).as("n_queries"),
        mean("__rrm").as("mrr"),
        mean("__apm").as("map"),
        mean("__pm").as(s"p_at_$k"),
        mean("__ndcgm").as(s"ndcg_at_$k"))
  }

  /** Exact per-group percentiles of a non-negative integer column WITHOUT a
    * global sort — the distributed-selection shape that survives 100 TB,
    * where "sort the column and index into it" cannot.
    *
    * Two passes: (1) a hash-aggregate histogram over value buckets
    * (`value >> bucketShift` — at most range/2^shift rows cross the
    * exchange per group), a per-group window over that SMALL table locates,
    * for each requested quantile, the bucket holding the target order
    * statistic and the offset within it; (2) only rows landing in a target
    * bucket (≈ n/buckets of the data) are re-read, and a window partitioned
    * by (group, quantile) picks the offset-th smallest. The value of the
    * offset-th smallest under duplicate values is well-defined regardless
    * of tie order, so row_number over ties cannot diverge.
    *
    * Quantiles are passed in micro-units (`qMicro`, e.g. 500000 = p50);
    * the target rank is ceil(n·q) computed entirely in integer arithmetic
    * (type-1 / lower quantile: smallest v with |{x ≤ v}| ≥ ceil(n·q)) —
    * no double multiply whose rounding could shift the rank by one.
    */
  def exactPercentiles(
      df: DataFrame,
      valCol: String,
      qMicro: Seq[Long],
      groupCols: Seq[String] = Seq.empty,
      bucketShift: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val base = df.select((gcols ++ Seq(
      col(valCol).cast("long").as("__v"))): _*)
      .withColumn("__b", shiftright(col("__v"), bucketShift))
    val hist0 = base.groupBy((gcols :+ col("__b")): _*)
      .agg(count(lit(1L)).as("__cnt"))
    // grouped: per-group windows are partitioned (parallel across groups).
    // UNGROUPED: the bucket histogram's prefix sum runs through the
    // range-partitioned scaffold instead of a global window — the bucket
    // table is value-domain-scale and must never funnel through one task.
    val hist =
      if (groupCols.isEmpty) {
        val tot = hist0.agg(sum(col("__cnt")).as("__n"))
        graft.sample.Samplers
          .globalCumSum(hist0, Seq("__b"), "__cnt", cumCol = "__cum")
          .crossJoin(broadcast(tot))
      } else {
        val wcum = Window.partitionBy(gcols: _*).orderBy(col("__b"))
        val wall = Window.partitionBy(gcols: _*)
        hist0
          .withColumn("__cum", sum(col("__cnt")).over(
            wcum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("__n", sum(col("__cnt")).over(wall))
      }
    val qs = qMicro.map(q => struct(lit(q).as("__qm")))
    val targets = hist
      .withColumn("__q", explode(array(qs: _*)))
      .select((gcols ++ Seq(col("__b"), col("__cnt"), col("__cum"),
        col("__q.__qm").as("__qm"),
        expr("(__n * __q.__qm + 999999) div 1000000").as("__rank"))): _*)
      .filter(col("__rank") > col("__cum") - col("__cnt") &&
        col("__rank") <= col("__cum"))
      .select((gcols ++ Seq(col("__b"), col("__qm"),
        (col("__rank") - (col("__cum") - col("__cnt"))).as("__off"))): _*)
    val joinKeys = groupCols :+ "__b"
    val wpick = Window
      .partitionBy((gcols :+ col("__qm")): _*).orderBy(col("__v"))
    base.join(broadcast(targets), joinKeys)
      .withColumn("__rn", row_number().over(wpick))
      .filter(col("__rn") === col("__off"))
      .select((gcols ++ Seq(
        round(col("__qm").cast("double") / 1e6, 6).as("q"),
        col("__v").as("value"))): _*)
  }

  /** SPLIT-CONFORMAL regression interval — the numeric companion to the
    * classifier's conformal row (Vovk; Papadopoulos et al. 2002): for
    * ANY fixed point predictor, the k-th smallest calibration |residual|
    * with k = ⌈(n_cal+1)·target⌉ yields the interval ŷ ± q̂ whose
    * finite-sample marginal coverage is ≥ target on exchangeable data —
    * no distributional assumption on the residuals at all. Coverage is
    * then MEASURED on a disjoint holdout (the guarantee as a number).
    *
    * Split: md5(id:crg) mod 4 → {0,1} reserved for fitting the
    * predictor (the caller's job — here the predictor is a declared
    * fixed function, the valid degenerate case), 2 calibration, 3
    * holdout. Residuals are exact longs; q̂ is one order statistic over
    * the residual value dictionary (hash-agg → range-partitioned
    * cumulative count → MIN over qualifying rows — NULL when
    * k > n_cal). Scale: one scan, one dictionary fold, one 1-row
    * coverage aggregate.
    *
    * @return one row: (n_cal, k_rank, q_hat, n_test, n_covered,
    *         coverage, target, interval_width = 2·q̂)
    */
  def conformalRegression(
      df: DataFrame,
      idCol: String,
      actualCol: String,
      predCol: String,
      targetNum: Int = 9,
      targetDen: Int = 10): DataFrame = {
    require(targetNum > 0 && targetDen > targetNum,
      s"target must be a proper fraction, got $targetNum/$targetDen")
    val split = pmod(graft.scale.HashExprs.md5PrefixLong(
      concat(col(idCol).cast("string"), lit(":crg")).cast("binary"), 15),
      lit(4L))
    val r = df.select(col(idCol),
        abs(col(actualCol).cast("long") - col(predCol).cast("long"))
          .as("resid"),
        split.as("__sp"))
      .localCheckpoint(true) // calibration + holdout consumers
    val cal = r.filter(col("__sp") === 2L)
    val hold = r.filter(col("__sp") === 3L)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val kExpr = s"((n_cal + 1) * $targetNum + ${targetDen - 1}) " +
      s"div $targetDen"
    val dict = cal.groupBy(col("resid")).agg(count(lit(1)).as("__cnt"))
    val qhat = graft.sample.Samplers
      .globalCumSum(dict, Seq("resid"), "__cnt")
      .crossJoin(broadcast(nCal))
      .withColumn("k_rank", expr(kExpr))
      .filter(col("__cum") >= col("k_rank"))
      .agg(min(col("resid")).as("q_hat"))
    val kOf = nCal.withColumn("k_rank", expr(kExpr))
    hold.crossJoin(broadcast(qhat)).crossJoin(broadcast(kOf))
      .agg(min(col("n_cal")).as("n_cal"),
        min(col("k_rank")).as("k_rank"),
        min(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(col("resid") <= col("q_hat"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("k_rank"), col("q_hat"), col("n_test"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"),
        lit(targetNum.toDouble / targetDen).as("target"),
        (lit(2L) * col("q_hat")).as("interval_width"))
  }

  /** [[exactPercentiles]]' state half for the STREAMING twin: per-(group,
    * value) counts — ONE associative aggregation, so it runs unchanged as
    * Complete-mode streaming state. State scale is the per-group VALUE
    * DICTIONARY — declared precondition: suited to bounded-domain metrics
    * (cents, counts, durations), not open-ended measures; the batch
    * two-pass selection has no such bound and remains the batch path.
    * NULL values keep their row (a null-valued group contributes to n and
    * sorts first — [[exactPercentiles]]' own semantics, preserved so the
    * composition is exact).
    */
  def valueCounts(
      df: DataFrame,
      valCol: String,
      groupCols: Seq[String] = Seq.empty): DataFrame =
    df.select((groupCols.map(col) :+
        col(valCol).cast("long").as("__v")): _*)
      .groupBy((groupCols.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__cnt"))

  /** Exact type-1 rank selection replayed from [[valueCounts]]' (drained)
    * state: per-group running totals over the value dictionary (fold-side
    * scale), the SAME rank arithmetic as [[exactPercentiles]]
    * (rank = (n·q + 999999) div 1e6), picking the value whose cumulative
    * count first reaches the rank. percentilesFromCounts ∘ valueCounts =
    * exactPercentiles (spec-pinned), so the streaming twin shares the
    * batch oracle verbatim.
    */
  def percentilesFromCounts(
      counts: DataFrame,
      qMicro: Seq[Long],
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val wcum = Window.partitionBy(gcols: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(gcols: _*)
    val qs = qMicro.map(q => struct(lit(q).as("__qm")))
    counts
      .withColumn("__cum", sum(col("__cnt")).over(wcum))
      .withColumn("__n", sum(col("__cnt")).over(wall))
      .withColumn("__q", explode(array(qs: _*)))
      .select((gcols ++ Seq(col("__v"), col("__cnt"), col("__cum"),
        col("__q.__qm").as("__qm"),
        expr("(__n * __q.__qm + 999999) div 1000000").as("__rank"))): _*)
      .filter(col("__rank") > col("__cum") - col("__cnt") &&
        col("__rank") <= col("__cum"))
      .select((gcols ++ Seq(
        round(col("__qm").cast("double") / 1e6, 6).as("q"),
        col("__v").as("value"))): _*)
  }

  /** BOUNDED-state streaming percentiles, pass 1 of 2: per-(group,
    * high-bit bucket) counts — [[exactPercentiles]]' histogram half as
    * Complete-mode streaming state. State is O(values-range / 2^shift)
    * per group (the BUCKET dictionary, not the value dictionary), which
    * removes [[valueCounts]]' bounded-domain precondition: an unbounded-
    * domain 100 TB stream holds 2^(64−shift) buckets at absolute worst
    * and range/2^shift in practice — the same guarantee the batch
    * two-pass selection runs on.
    */
  def bucketCounts(
      df: DataFrame,
      valCol: String,
      groupCols: Seq[String] = Seq.empty,
      bucketShift: Int = 12): DataFrame =
    df.select((groupCols.map(col) :+
        shiftright(col(valCol).cast("long"), bucketShift).as("__b")): _*)
      .groupBy((groupCols.map(col) :+ col("__b")): _*)
      .agg(count(lit(1)).as("__cnt"))

  /** The narrowing fold over [[bucketCounts]]' (drained) bucket table:
    * for each quantile, the bucket holding its type-1 target rank and the
    * offset within that bucket — [[exactPercentiles]]' target block
    * replayed on the dictionary (same integer rank arithmetic). Output is
    * (group…, __b, __qm, __off), |groups|·|quantiles| rows.
    */
  def percentileTargets(
      bcounts: DataFrame,
      qMicro: Seq[Long],
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    // ungrouped would build an UNPARTITIONED window over the bucket
    // table — route that case through exactPercentiles' globalCumSum
    // scaffold instead of funneling it through one task
    require(groupCols.nonEmpty,
      "percentileTargets needs groupCols; ungrouped callers must use " +
        "exactPercentiles' globalCumSum branch")
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val wcum = Window.partitionBy(gcols: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(gcols: _*)
    val qs = qMicro.map(q => struct(lit(q).as("__qm")))
    bcounts
      .withColumn("__cum", sum(col("__cnt")).over(wcum))
      .withColumn("__n", sum(col("__cnt")).over(wall))
      .withColumn("__q", explode(array(qs: _*)))
      .select((gcols ++ Seq(col("__b"), col("__cnt"), col("__cum"),
        col("__q.__qm").as("__qm"),
        expr("(__n * __q.__qm + 999999) div 1000000").as("__rank"))): _*)
      .filter(col("__rank") > col("__cum") - col("__cnt") &&
        col("__rank") <= col("__cum"))
      .select((gcols ++ Seq(col("__b"), col("__qm"),
        (col("__rank") - (col("__cum") - col("__cnt"))).as("__off"))): _*)
  }

  /** BOUNDED-state streaming percentiles, final fold: the offset-th
    * smallest value inside each target bucket, picked from pass 2's
    * NARROWED value counts (a [[valueCounts]] aggregation over only the
    * rows whose bucket is a target — ≈ n/2^shift of the stream, the same
    * mass the batch second pass re-reads). The pick replays
    * [[percentilesFromCounts]]' cumulative-count convention inside the
    * bucket. percentilesFromNarrowedCounts ∘ (narrowed valueCounts ×
    * percentileTargets ∘ bucketCounts) = [[exactPercentiles]]
    * (spec-pinned), so the streaming twin shares the batch oracle
    * verbatim. Bucket joins are plain equi-joins — a NULL bucket (NULL
    * values) drops out of the pick exactly as in the batch second pass.
    */
  def percentilesFromNarrowedCounts(
      vcounts: DataFrame,
      targets: DataFrame,
      groupCols: Seq[String] = Seq.empty,
      bucketShift: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val wpick = Window
      .partitionBy((gcols :+ col("__qm")): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vcounts
      .withColumn("__b", shiftright(col("__v"), bucketShift))
      .join(broadcast(targets), groupCols :+ "__b")
      .withColumn("__cum", sum(col("__cnt")).over(wpick))
      .filter(col("__off") > col("__cum") - col("__cnt") &&
        col("__off") <= col("__cum"))
      .select((gcols ++ Seq(
        round(col("__qm").cast("double") / 1e6, 6).as("q"),
        col("__v").as("value"))): _*)
  }

  /** Robust per-group outlier panel: median / MAD (median absolute
    * deviation) by DISTRIBUTED SELECTION and the |x − med| > k·MAD flag —
    * the robust complement to the mean/σ z-score (one fat-finger row
    * shifts mean AND σ and hides itself; the median/MAD pair has a 50%
    * breakdown point — Hampel's rule, the data-cleaning standard).
    * [[medianAbsoluteDeviation]] is the interpolated small-group form
    * (its `percentile` agg buffers each group inside one aggregation
    * buffer); THIS is the 100 TB path — no group ever materializes, and
    * it adds the flag counts.
    *
    * Three linear passes, never a global sort: (1) per-group median via
    * [[exactPercentiles]]' bucket-histogram selection (type-1 rank
    * ceil(n/2) — both medians exact LONGS, so every comparison is integer
    * math); (2) the same machinery over |x − median|; (3) one conditional
    * hash-agg counting flags. The median/MAD tables are group-dictionary
    * scale and ride broadcast joins.
    *
    * @param k flag threshold: |x − median| > k·MAD (k=3 ≈ Hampel)
    * @return per group: (group…, n, median, mad, n_outliers,
    *         outlier_frac) — frac rounded 6. NULL values of `valCol` are
    *         excluded from n, both medians, and the flags.
    */
  def madOutliers(
      df: DataFrame,
      valCol: String,
      groupCols: Seq[String],
      k: Int = 3,
      bucketShift: Int = 12): DataFrame = {
    require(k >= 1, s"bad MAD multiplier $k")
    val gcols = groupCols.map(col)
    // NULL values are dropped up front (round-9 fix): they would form a
    // shiftright-null bucket that sorts differently across engines
    // (Spark nulls-first vs SQL nulls-last), shifting the selected median
    // rank, and they would inflate n while never flagging as outliers.
    val base = df.filter(col(valCol).isNotNull)
    val med = exactPercentiles(base, valCol, Seq(500000L), groupCols,
        bucketShift)
      .select((gcols :+ col("value").as("__med")): _*)
    val dev = base.select((gcols :+ col(valCol).cast("long").as("__v")): _*)
      .join(broadcast(med), groupCols)
      .withColumn("__adv", abs(col("__v") - col("__med")))
    val mad = exactPercentiles(dev, "__adv", Seq(500000L), groupCols,
        bucketShift)
      .select((gcols :+ col("value").as("__mad")): _*)
    dev.join(broadcast(mad), groupCols)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        max(col("__med")).as("median"),
        max(col("__mad")).as("mad"),
        sum(when(col("__adv") > col("__mad") * k, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n"), 6))
  }

  /** Isotonic calibration (pool-adjacent-violators) over probability
    * bins — the FIX beside [[brierPanel]]'s measurement: the optimal
    * monotone recalibration map (Zadrozny & Elkan KDD'02 brought PAV to
    * classifier calibration). Computed by the exact MINIMAX closed form
    * (Robertson-Wright-Dykstra 1988, §1.2): over present bins in score
    * order with prefix weights/positives,
    *   fitted(i) = max_{j ≤ i} min_{k ≥ i} (SY_k − SY_{j−1}) / (W_k − W_{j−1})
    * — every candidate a ratio of exact longs, min/max decided by
    * CROSS-MULTIPLIED comparisons (no float ever orders anything; the
    * emitted rate is one rounded division per bin). Identical to
    * sequential PAV pooling, but order-free and replayable.
    *
    * Scale shape: one corpus hash-agg to the ≤ nBins dictionary; prefix
    * sums ride the range-partitioned scaffold; the (i, j, k) interval
    * relation and its two dominance anti-joins are nBins³-bounded (the
    * declared calibration-bin precondition — nBins is 10-100, never
    * corpus-scale).
    *
    * @return per present bin: (bin, w, sy, raw_rate, iso_num, iso_den,
    *         iso_rate) — iso_num/iso_den the exact pooled fraction;
    *         iso_rate non-decreasing in bin by construction.
    */
  def isotonicCalibration(
      df: DataFrame,
      pNumCol: String,
      pDenCol: String,
      yCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"bad bin count $nBins")
    val bins = df.filter(col(pDenCol) > 0)
      .select(least(expr(s"($pNumCol * $nBins) div $pDenCol"),
        lit(nBins - 1L)).as("bin"), col(yCol).cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("__y")).as("sy"))
    val ps = graft.sample.Samplers
      .globalCumSums(bins, Seq("bin"), Seq("w", "sy"), Seq("cw", "cy"))
      .localCheckpoint(true)
    val iv = ps.select(col("bin").as("jb"), (col("cw") - col("w")).as("pw"),
        (col("cy") - col("sy")).as("py"))
      .join(ps.select(col("bin").as("kb"), col("cw"), col("cy")),
        col("kb") >= col("jb"))
      .select(col("jb"), col("kb"), (col("cy") - col("py")).as("nm"),
        (col("cw") - col("pw")).as("dn"))
    val cand = ps.select(col("bin").as("i"))
      .join(iv, col("jb") <= col("i") && col("kb") >= col("i"))
      .localCheckpoint(true) // both sides of two dominance anti-joins
    // inner min over k (per i, jb): drop rows some k' strictly beats
    val minK = cand.join(
      cand.select(col("i").as("i2"), col("jb").as("jb2"),
        col("kb").as("kb2"), col("nm").as("nm2"), col("dn").as("dn2")),
      col("i2") === col("i") && col("jb2") === col("jb") &&
        (col("nm2") * col("dn") < col("nm") * col("dn2") ||
          (col("nm2") * col("dn") === col("nm") * col("dn2") &&
            col("kb2") < col("kb"))),
      "left_anti")
    // outer max over j (per i): keep the dominant fraction
    val fit = minK.join(
      minK.select(col("i").as("i2"), col("jb").as("jb2"),
        col("nm").as("nm2"), col("dn").as("dn2")),
      col("i2") === col("i") &&
        (col("nm2") * col("dn") > col("nm") * col("dn2") ||
          (col("nm2") * col("dn") === col("nm") * col("dn2") &&
            col("jb2") < col("jb"))),
      "left_anti")
    ps.join(fit.select(col("i").as("bin"), col("nm").as("iso_num"),
        col("dn").as("iso_den")), Seq("bin"))
      .select(col("bin"), col("w"), col("sy"),
        round(col("sy").cast("double") / col("w").cast("double"), 6)
          .as("raw_rate"),
        col("iso_num"), col("iso_den"),
        round(col("iso_num").cast("double") / col("iso_den").cast("double"),
          6).as("iso_rate"))
  }

  /** Kendall τ-b between two BANDED integer metrics, per group — the
    * concordance view beside [[spearmanCorr]]'s rank correlation: τ-b
    * counts concordant vs discordant PAIRS with the standard tie
    * correction (Kendall 1945),
    *   τ-b = (C − D) / sqrt((n0 − T_x)(n0 − T_y)),
    * n0 = n(n−1)/2, T_x/T_y = pairs tied on each margin. Robust to any
    * monotone banding and the usual choice when both axes are coarse
    * ordinal scales (quality tiers, price bands, star ratings).
    *
    * Exactness + scale: ONE corpus hash-agg to the (group, x, y)
    * contingency dictionary; C and D are exact long sums over the
    * dictionary ⋈ dictionary self-join keyed on the group (the declared
    * BANDED-inputs precondition — the pair mass is |dict|² per group, so
    * callers band continuous metrics first; the corpus itself is never
    * self-joined). Ties come from the two marginal dictionaries. The
    * only float is the final mirrored τ expression; NULL when a margin
    * is constant (zero denominator).
    */
  def kendallTauB(
      df: DataFrame,
      xCol: String,
      yCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "kendallTauB is grouped; pass a literal group for the global form")
    kendallTauFromCounts(
      df.groupBy(groupCols.map(col) :+ col(xCol).cast("long").as("__x") :+
          col(yCol).cast("long").as("__y"): _*)
        .agg(count(lit(1)).as("__n")),
      "__x", "__y", "__n", groupCols)
  }

  /** The tau-b fold over a drained/batch (groups…, x, y, n) contingency
    * dictionary — kendallTauFromCounts ∘ cell-counts = kendallTauB by
    * construction (the streaming-twin rule: the cell counts are
    * associative Complete-mode state).
    */
  def kendallTauFromCounts(
      counts: DataFrame,
      xCol: String,
      yCol: String,
      nCol: String,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val ct = counts
      .select(g ++ Seq(col(xCol).as("__x"), col(yCol).as("__y"),
        col(nCol).as("__n")): _*)
      .localCheckpoint(true) // referenced by cd (twice), margins, totals
    val bSide = ct.select(groupCols.map(c => col(c).as(s"__gb_$c")) ++
      Seq(col("__x").as("__xb"), col("__y").as("__yb"),
        col("__n").as("__nb")): _*)
    val cd = ct.join(bSide,
        groupCols.map(c => col(c) === col(s"__gb_$c")).reduce(_ && _) &&
          col("__xb") > col("__x"))
      .groupBy(g: _*)
      .agg(sum(when(col("__yb") > col("__y"), col("__n") * col("__nb"))
          .otherwise(0L)).as("conc"),
        sum(when(col("__yb") < col("__y"), col("__n") * col("__nb"))
          .otherwise(0L)).as("disc"))
    def tiePairs(axis: String, out: String) = ct
      .groupBy(g :+ col(axis): _*).agg(sum(col("__n")).as("__m"))
      .groupBy(g: _*)
      .agg(sum(expr("__m * (__m - 1) div 2")).as(out))
    val tx = tiePairs("__x", "t_x")
    val ty = tiePairs("__y", "t_y")
    val nn = ct.groupBy(g: _*).agg(sum(col("__n")).as("n"))
    nn.join(tx, groupCols).join(ty, groupCols)
      .join(cd, groupCols, "left")
      .select(g ++ Seq(col("n"),
        coalesce(col("conc"), lit(0L)).as("concordant"),
        coalesce(col("disc"), lit(0L)).as("discordant"),
        col("t_x"), col("t_y"),
        expr("n * (n - 1) div 2").as("n0"),
        when(expr("n * (n - 1) div 2") > col("t_x") &&
            expr("n * (n - 1) div 2") > col("t_y"),
          round((coalesce(col("conc"), lit(0L)) -
              coalesce(col("disc"), lit(0L))).cast("double") /
            sqrt((expr("n * (n - 1) div 2") - col("t_x")).cast("double") *
              (expr("n * (n - 1) div 2") - col("t_y")).cast("double")), 6))
          .as("tau_b")): _*)
  }


  /** Exact Spearman rank correlation between two numeric columns — the
    * monotone-association QA check (Pearson sees only LINEAR association;
    * quality signals are routinely monotone-but-curved, and Spearman on
    * ranks is the standard "do these two signals agree on ordering"
    * number for signal-vs-signal validation).
    *
    * Exact-integer scheme: fractional average ranks (the standard tie
    * treatment) stay integers by DOUBLING — r2(v) = 2·cum_before(v) +
    * cnt(v) + 1 — and correlation is scale-invariant, so Spearman over r2
    * equals Spearman over the textbook ranks. All sums accumulate as
    * DECIMAL(38,0) (the [[ksDrift]] overflow rule); the only floats are
    * the final mirrored moment expression.
    *
    * Scale shape: per column, one value-count hash-agg + a prefix sum
    * through the range-partitioned scaffold (never a global window) +
    * one equi-join of the corpus against its value-dictionary rank table;
    * then ONE moment aggregation. NULL pairs are excluded (either side).
    *
    * @return one row: (n, rho) — rho rounded 6; NULL when either column
    *         is constant (zero rank variance)
    */
  def spearmanCorr(
      df: DataFrame,
      colA: String,
      colB: String): DataFrame = {
    // NOT spread (measured r15): parallelizing the pinned base made the
    // row SLOWER (3.5 → ~4.7 s min at sf0.1/local[32]) — the near-unique
    // rank dictionaries reduce nothing map-side, so the round-robin
    // exchange + 32-block checkpoint is pure added cost against the
    // already-shuffle-bound rank joins
    val base = df.select(col(colA).cast("long").as("__a"),
        col(colB).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .localCheckpoint(true)   // feeds both rank dictionaries + the join
    def rank2(c: String): DataFrame =
      graft.sample.Samplers.globalCumSum(
          base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c")),
          Seq("__v"), "__c", cumCol = "__cum")
        .select(col("__v"),
          (lit(2L) * col("__cum") - col("__c") + 1L).as(s"__r$c"))
    val ranked = base
      .join(rank2("__a").withColumnRenamed("__v", "__a"), Seq("__a"))
      .join(rank2("__b").withColumnRenamed("__v", "__b"), Seq("__b"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val s = ranked.agg(
      count(lit(1)).as("n"),
      sum(d(col("__r__a"))).as("__sx"),
      sum(d(col("__r__b"))).as("__sy"),
      sum(d(col("__r__a")) * d(col("__r__a"))).as("__sxx"),
      sum(d(col("__r__b")) * d(col("__r__b"))).as("__syy"),
      sum(d(col("__r__a")) * d(col("__r__b"))).as("__sxy"))
    val dd = (c: String) => col(c).cast("double")
    val num = dd("n") * dd("__sxy") - dd("__sx") * dd("__sy")
    val den = sqrt((dd("n") * dd("__sxx") - dd("__sx") * dd("__sx")) *
      (dd("n") * dd("__syy") - dd("__sy") * dd("__sy")))
    s.select(col("n"),
      when(den > 0.0, round(num / den, 6)).as("rho"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic — the corpus-
    * snapshot QA check: did the distribution of a numeric column move
    * between two samples (old vs new crawl, side A vs side B)?
    * KS = max over observed values v of |F_A(v) − F_B(v)|, computed
    * EXACTLY (no binning approximation in the statistic itself) via the
    * cross-multiplied integer form |cumA·n_B − cumB·n_A|, so two engines
    * can agree bit-for-bit.
    *
    * Distributed shape — the supremum needs a full prefix sum over sorted
    * values, but never a global sort: values bucket by their high bits
    * (same scheme as [[exactPercentiles]]); per-bucket totals roll into
    * base offsets through a window over the BUCKET table (value-range/2^s
    * rows, dictionary-scale); the per-value cumulative then runs inside
    * each bucket only (bounded partitions). Products are DECIMAL(38,0) —
    * petabyte-scale row counts cannot overflow them.
    *
    * One output row: sample sizes, the exact integer numerator, the
    * smallest value attaining the supremum, and the 6-decimal statistic.
    */
  def ksDrift(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      bucketShift: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(valCol).cast("long").as("__v"),
        col(sideCol).cast("boolean").as("__s"))
      .withColumn("__b", shiftright(col("__v"), bucketShift))
    val vals = base.groupBy(col("__b"), col("__v"))
      .agg(sum(when(col("__s"), 0L).otherwise(1L)).as("__ca"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("__cb"))
      .localCheckpoint(true)
    // exclusive prefix totals per bucket WITHOUT any global window:
    // inclusive running totals from the range-partitioned scaffold,
    // minus the bucket's own total (first bucket → base 0)
    val buckets = graft.sample.Samplers.globalCumSums(
        vals.groupBy(col("__b"))
          .agg(sum(col("__ca")).as("__ta"), sum(col("__cb")).as("__tb")),
        Seq("__b"), Seq("__ta", "__tb"), Seq("__cta", "__ctb"))
      .select(col("__b"),
        (col("__cta") - col("__ta")).as("__basea"),
        (col("__ctb") - col("__tb")).as("__baseb"))
    val wv = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = base.agg(
      sum(when(col("__s"), 0L).otherwise(1L)).as("n_a"),
      sum(when(col("__s"), 1L).otherwise(0L)).as("n_b"))
    val diffs = vals.join(broadcast(buckets), Seq("__b"))
      .withColumn("__cuma", col("__basea") + sum(col("__ca")).over(wv))
      .withColumn("__cumb", col("__baseb") + sum(col("__cb")).over(wv))
      .crossJoin(broadcast(tot))
      .withColumn("__diff",
        abs(col("__cuma").cast("decimal(38,0)") * col("n_b") -
          col("__cumb").cast("decimal(38,0)") * col("n_a"))
          .cast("decimal(38,0)"))
    val mx = diffs.agg(max(col("__diff")).as("ks_num"))
    diffs.crossJoin(broadcast(mx))
      .filter(col("__diff") === col("ks_num"))
      .groupBy(col("n_a"), col("n_b"), col("ks_num"))
      .agg(min(col("__v")).as("at_value"))
      // the exact numerator travels as a STRING: DECIMAL(38,0) survives
      // petabyte counts in the engine, but pandas narrows wide decimals to
      // float64 on the oracle bridge — digits compare exactly, floats don't
      .select(col("n_a"), col("n_b"),
        col("ks_num").cast("string").as("ks_num"), col("at_value"),
        round(col("ks_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("ks"))
  }

  /** Exact Mann–Whitney U rank-sum test — [[ksDrift]]'s sibling in the
    * two-sample drift panel: KS asks "where does the CDF gap peak?",
    * Mann–Whitney asks "does one side stochastically dominate?" (the
    * standard nonparametric A/B answer when the metric is heavy-tailed
    * and a t-test's mean is the wrong summary). Also the exact
    * common-language effect size: U/(n_a·n_b) IS P(A > B) + ½P(A = B) —
    * the ROC-AUC of the value against the side label.
    *
    * Exact-integer scheme: fractional midranks stay integers by DOUBLING
    * (the [[spearmanCorr]] r2 trick): r2(v) = 2·cum(v) − cnt(v) + 1, so
    * u2 = 2·U_A = Σ_v cntA(v)·r2(v) − n_a(n_a+1) is an exact
    * DECIMAL(38,0), as is the tie term T = Σ_t (t³ − t) (petabyte-safe
    * up to ~4·10¹² rows per tied value). The only floats are the final
    * mirrored z (tie-corrected variance, no continuity correction — the
    * large-sample form) and the effect size, rounded 6. A degenerate
    * input (one side empty, or every value tied) emits NULL z.
    *
    * Scale shape: ONE value-count hash-agg, one prefix sum through the
    * range-partitioned scaffold ([[graft.sample.Samplers.globalCumSum]],
    * never a global window), then ONE fold — unlike Spearman there is no
    * join back to the corpus: every statistic lives on the value
    * dictionary. Side A = rows where `sideCol` is false ([[ksDrift]]'s
    * orientation). NULL values or sides are excluded.
    */
  def mannWhitneyU(
      df: DataFrame,
      valCol: String,
      sideCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val vals = df.select(col(valCol).cast("long").as("__v"),
        col(sideCol).cast("boolean").as("__s"))
      .filter(col("__v").isNotNull && col("__s").isNotNull)
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__s"), 0L).otherwise(1L)).as("__ca"))
    val ranked = graft.sample.Samplers.globalCumSum(
        vals, Seq("__v"), "__c", cumCol = "__cum")
      .withColumn("__r2", lit(2L) * col("__cum") - col("__c") + 1L)
    val s = ranked.agg(
      sum(col("__ca")).as("n_a"),
      sum(col("__c") - col("__ca")).as("n_b"),
      sum(d(col("__ca")) * d(col("__r2"))).as("__ra2"),
      sum(d(col("__c")) * d(col("__c")) * d(col("__c")) - d(col("__c")))
        .as("tie_t"))
    val dd = (c: String) => col(c).cast("double")
    val n = dd("n_a") + dd("n_b")
    val varU2 = dd("n_a") * dd("n_b") / 3.0 *
      ((n + 1.0) - dd("tie_t") / (n * (n - 1.0)))
    s.withColumn("u2_a",
        (col("__ra2") - d(col("n_a")) * d(col("n_a") + 1L))
          .cast("decimal(38,0)"))
      .select(col("n_a"), col("n_b"),
        // exact integers travel as STRINGS (the ksDrift pandas-bridge rule)
        col("u2_a").cast("string").as("u2_a"),
        col("tie_t").cast("string").as("tie_t"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(dd("u2_a") / (lit(2.0) * dd("n_a") * dd("n_b")), 6))
          .as("auc"),
        when(varU2 > 0.0,
          round((dd("u2_a") - dd("n_a") * dd("n_b")) / sqrt(varU2), 6))
          .as("z"))
  }

  /** Brier-score decomposition + calibration-error panel (Murphy 1973;
    * Naeini/Guo ECE) — the one-row report card for a probabilistic
    * quality classifier: BRIER (mean squared error of the probability),
    * its Murphy decomposition over score bins — RELIABILITY (how far the
    * bin's mean prediction sits from its observed rate — the part
    * recalibration can remove), RESOLUTION (how much the bins separate
    * the base rate — the part that is real signal), UNCERTAINTY
    * (ȳ(1−ȳ), the no-skill floor) — plus ECE/MCE (the bin-weighted mean
    * / max |confidence − accuracy| gaps the model-card convention
    * reports). The calibration-curve query shows the curve; this panel
    * is its scalar summary.
    *
    * Determinism: the probability arrives as an exact RATIONAL
    * (pNum/pDen — e.g. hashedLinearScore's integer weight sums), so the
    * bin id is exact integer math ((pNum·bins) div pDen, top edge
    * clamped); the per-row double p and every fold are fixed-shape
    * mirrored expressions, rounded 6. Rows with pDen ≤ 0 or NULL y are
    * excluded.
    *
    * Scale shape: ONE corpus hash-agg to the bin dictionary (plus the
    * corpus-level moment sums riding the same aggregate via grouping on
    * the bin id); every decomposition term folds on ≤ nBins rows.
    */
  def brierPanel(
      df: DataFrame,
      pNumCol: String,
      pDenCol: String,
      yCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"bad nBins $nBins")
    val dd = (c: Column) => c.cast("double")
    val base = df.select(col(pNumCol).cast("long").as("__pn"),
        col(pDenCol).cast("long").as("__pd"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__pd") > 0L && col("__y").isNotNull)
      // loud precondition (house style): a probability outside [0,1]
      // (pn < 0 or pn > pd) would otherwise mint negative/extra bins
      // that silently distort the ECE/reliability weights
      .withColumn("__pn",
        when(col("__pn") >= 0L && col("__pn") <= col("__pd"), col("__pn"))
          .otherwise(raise_error(concat(lit("brierPanel: probability " +
            "outside [0,1]: pn="), col("__pn").cast("string"),
            lit(" pd="), col("__pd").cast("string")))))
      .withColumn("__p", dd(col("__pn")) / dd(col("__pd")))
      .withColumn("__bin",
        least(expr(s"(__pn * $nBins) div __pd"), lit(nBins - 1L)))
    val bins = base.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__nb"),
        sum(col("__y")).as("__yb"),
        sum(col("__p")).as("__pb"),
        sum((col("__p") - dd(col("__y"))) *
          (col("__p") - dd(col("__y")))).as("__sq"))
      .localCheckpoint(true) // the total fold + the per-bin folds
    val tot = bins.agg(sum(col("__nb")).as("n"),
      sum(col("__yb")).as("__ysum"), sum(col("__sq")).as("__sqsum"))
    val ybar = dd(col("__ysum")) / dd(col("n"))
    val gap = col("__pb") / dd(col("__nb")) - dd(col("__yb")) / dd(col("__nb"))
    val binFolds = bins.crossJoin(broadcast(tot))
      .select(col("n"), col("__ysum"), col("__sqsum"),
        (dd(col("__nb")) * gap * gap).as("__rel"),
        (dd(col("__nb")) *
          (dd(col("__yb")) / dd(col("__nb")) - ybar) *
          (dd(col("__yb")) / dd(col("__nb")) - ybar)).as("__res"),
        (dd(col("__nb")) * abs(gap)).as("__ece"),
        abs(gap).as("__gap"))
      .groupBy(col("n"), col("__ysum"), col("__sqsum"))
      .agg(sum(col("__rel")).as("__relsum"),
        sum(col("__res")).as("__ressum"),
        sum(col("__ece")).as("__ecesum"),
        max(col("__gap")).as("__mce"))
    binFolds.select(col("n"),
      round(col("__sqsum") / dd(col("n")), 6).as("brier"),
      round(col("__relsum") / dd(col("n")), 6).as("reliability"),
      round(col("__ressum") / dd(col("n")), 6).as("resolution"),
      round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"),
      round(col("__ecesum") / dd(col("n")), 6).as("ece"),
      round(col("__mce"), 6).as("mce"))
  }

  /** QQ drift table — side-by-side EXACT quantiles of a numeric column
    * across two samples, at declared probability levels. The third view
    * of the drift triad: [[ksDrift]] locates the supremum CDF gap,
    * PSI bins the mass shift, QQ answers "what does each distribution
    * actually look like at p = 0.1 … 0.99" — the table an on-call reader
    * pastes into an incident doc. Exact type-1 selection via
    * [[exactPercentiles]] grouped by side (bucket histograms + per-side
    * windows — value-domain-scale, never a corpus sort); the only float
    * is the probability label itself.
    *
    * @return one row per level: (q, value_a, value_b, diff) — side A =
    *         sideCol false (the [[ksDrift]] orientation)
    */
  def qqDrift(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      qMicro: Seq[Long]): DataFrame = {
    val base = df.select(col(valCol).cast("long").as("__v"),
        col(sideCol).cast("boolean").as("__s"))
      .filter(col("__v").isNotNull && col("__s").isNotNull)
    val p = exactPercentiles(base, "__v", qMicro, Seq("__s"))
      .localCheckpoint(true) // both side filters read it
    // INNER join to mirror the oracle: a degenerate one-sided input
    // (zero rows on a side) yields zero QQ rows, never NULL-padded ones
    p.filter(!col("__s"))
      .select(col("q"), col("value").as("value_a"))
      .join(p.filter(col("__s"))
        .select(col("q"), col("value").as("value_b")), Seq("q"))
      .withColumn("diff", col("value_b") - col("value_a"))
  }

  /** Two-arm experiment power advisor — the "how long must this A/B
    * run" planning table, sized from the metric's MEASURED variance (the
    * [[graft.scale.Skew.joinCardinality]] advisor discipline: price the
    * job from one aggregate before paying for it). Per group and
    * relative minimum-detectable-effect δ: the classic two-sample
    * normal-approximation size n/arm = 2σ²(z_{α/2}+z_β)²/(δμ)², at
    * α = 0.05 two-sided and power 0.8 — the z constants are literals
    * mirrored into the oracle, so both engines compute the identical
    * double before the ceil.
    *
    * Exact scheme: (n, Σx, Σx²) accumulate as DECIMAL(38,0) on cent
    * values; the sample-variance numerator n·Σx² − (Σx)² and denominator
    * n(n−1) are exact; mean/variance/size are the only floats, mirrored
    * fixed-shape. Groups with n < 2 or mean 0 emit NULL size.
    *
    * Scale shape: ONE corpus hash-agg to the group moment table; the
    * δ scaffold explodes on that dictionary.
    */
  def powerAdvisor(
      df: DataFrame,
      valCol: String,
      groupCols: Seq[String],
      mdes: Seq[Double]): DataFrame = {
    require(mdes.nonEmpty, "powerAdvisor needs at least one effect size")
    val gcols = groupCols.map(col)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val m = df
      .select((gcols :+ col(valCol).cast("long").as("__x")): _*)
      .filter(col("__x").isNotNull)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(d(col("__x"))).as("__sx"),
        sum(d(col("__x")) * d(col("__x"))).as("__sxx"))
    val dd = (c: Column) => c.cast("double")
    val mean = dd(col("__sx")) / dd(col("n"))
    val variance = dd(d(col("n")) * col("__sxx") -
      col("__sx") * col("__sx")) / (dd(col("n")) * (dd(col("n")) - 1.0))
    val k = (lit(1.959964) + lit(0.841621)) * (lit(1.959964) + lit(0.841621))
    m.withColumn("mde", explode(array(mdes.map(lit(_)): _*)))
      .select((gcols ++ Seq(col("n"), round(mean, 6).as("mean"),
        when(col("n") > 1, round(variance, 6)).as("variance"),
        col("mde"),
        when(col("n") > 1 && mean =!= 0.0,
          ceil(lit(2.0) * variance * k /
            ((col("mde") * mean) * (col("mde") * mean))))
          .as("n_per_arm"))): _*)
  }

  /** k-anonymity risk panel over a quasi-identifier column set (Sweeney
    * 2002) — the privacy/governance QA screen a corpus with user-derived
    * tabular data ships before release: rows whose quasi-identifier
    * combination is shared by fewer than k individuals are re-identifiable
    * by linkage. Per requested k: how many equivalence classes and rows sit
    * below it; globally: the dataset's achieved k-anonymity (the minimum
    * class size).
    *
    * Scale shape: ONE hash-aggregate keyed on a 32-byte md5 fingerprint of
    * the quasi struct (the [[graft.scale.Dedup.exact]] discipline — the
    * exchange never carries raw quasi values), then a |ks|-way explode over
    * the CLASS table (dictionary-scale) and a 1-row broadcast of the
    * totals. NULL quasi values are ordinary values (to_json's null-field
    * omission keeps the encoding injective for a fixed column set).
    *
    * @param ks thresholds to report, e.g. Seq(2, 5, 10)
    * @return one row per k: (k, n_classes, n_rows, min_class_size,
    *         risk_classes, risk_rows, risk_frac) — frac rounded 6
    */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[String],
      ks: Seq[Int]): DataFrame =
    kAnonymityFromCounts(kAnonymityCounts(df, quasiCols), ks)

  /** [[kAnonymity]]'s state half: per-equivalence-class sizes keyed on
    * the md5 quasi fingerprint — ONE associative aggregation over one
    * scan, so it runs unchanged as Complete-mode STREAMING state (the
    * fdCounts / benfordCounts convention): the live-ingest deployment is
    * exactly this, re-identification risk of the data accumulated so far.
    */
  def kAnonymityCounts(df: DataFrame, quasiCols: Seq[String]): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    df.groupBy(md5(to_json(struct(quasiCols.map(col): _*))).as("__cls"))
      .agg(count(lit(1)).as("__sz"))
  }

  /** The panel fold over [[kAnonymityCounts]]' (drained) class table —
    * all class-dictionary scale. kAnonymityFromCounts ∘ kAnonymityCounts
    * = [[kAnonymity]] by construction, so the streaming twin shares the
    * batch oracle verbatim.
    */
  def kAnonymityFromCounts(cls: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 2), s"bad k list $ks")
    val tot = cls.agg(count(lit(1)).as("n_classes"),
      sum(col("__sz")).as("n_rows"), min(col("__sz")).as("min_class_size"))
    cls
      .select(explode(array(ks.map(k => lit(k)): _*)).as("k"), col("__sz"))
      .groupBy(col("k"))
      .agg(sum(when(col("__sz") < col("k"), 1L).otherwise(0L))
          .as("risk_classes"),
        sum(when(col("__sz") < col("k"), col("__sz")).otherwise(0L))
          .as("risk_rows"))
      .crossJoin(broadcast(tot))
      .select(col("k").cast("long").as("k"), col("n_classes"),
        col("n_rows"), col("min_class_size"), col("risk_classes"),
        col("risk_rows"),
        round(col("risk_rows").cast("double") /
          col("n_rows").cast("double"), 6).as("risk_frac"))
  }

  /** l-diversity panel (Machanavajjhala 2006) — the re-identification
    * screen one rung past [[kAnonymity]]: a class can be k-anonymous yet
    * leak everything when all k members share the SENSITIVE value
    * (homogeneity attack). Per l: classes whose sensitive-value diversity
    * falls below l and the row mass at risk.
    *
    * @return per l: (l, n_classes, n_rows, min_diversity, risk_classes,
    *         risk_rows, risk_frac — round 6)
    */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      ls: Seq[Int]): DataFrame =
    lDiversityFromCounts(lDiversityCounts(df, quasiCols, sensitiveCol), ls)

  /** [[lDiversity]]'s state half: per-(class, sensitive-value) counts on
    * md5 fingerprints — ONE associative aggregation over one scan (the
    * [[kAnonymityCounts]] convention), legal Complete-mode streaming
    * state.
    */
  def lDiversityCounts(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    df.groupBy(md5(to_json(struct(quasiCols.map(col): _*))).as("__cls"),
        md5(to_json(struct(col(sensitiveCol)))).as("__sv"))
      .agg(count(lit(1)).as("__c"))
  }

  /** The panel fold over [[lDiversityCounts]]' (drained) cell table —
    * class-dictionary scale throughout. lDiversityFromCounts ∘
    * lDiversityCounts = [[lDiversity]] by construction, so the streaming
    * twin shares the batch oracle verbatim.
    */
  def lDiversityFromCounts(cells: DataFrame, ls: Seq[Int]): DataFrame = {
    require(ls.nonEmpty && ls.forall(_ >= 2), s"bad l list $ls")
    val cls = cells.groupBy(col("__cls"))
      .agg(count(lit(1)).as("__l"), sum(col("__c")).as("__sz"))
      .localCheckpoint(true) // class dictionary; feeds totals + the panel
    val tot = cls.agg(count(lit(1)).as("n_classes"),
      sum(col("__sz")).as("n_rows"), min(col("__l")).as("min_diversity"))
    cls
      .select(explode(array(ls.map(l => lit(l)): _*)).as("l"),
        col("__l"), col("__sz"))
      .groupBy(col("l"))
      .agg(sum(when(col("__l") < col("l"), 1L).otherwise(0L))
          .as("risk_classes"),
        sum(when(col("__l") < col("l"), col("__sz")).otherwise(0L))
          .as("risk_rows"))
      .crossJoin(broadcast(tot))
      .select(col("l").cast("long").as("l"), col("n_classes"),
        col("n_rows"), col("min_diversity"), col("risk_classes"),
        col("risk_rows"),
        round(col("risk_rows").cast("double") /
          col("n_rows").cast("double"), 6).as("risk_frac"))
  }

  /** t-closeness panel (Li et al. ICDE'07) — the third rung of the
    * privacy ladder after [[kAnonymity]] and [[lDiversity]]: a class can
    * be l-diverse yet still leak when its sensitive-value DISTRIBUTION
    * skews far from the table's (skewness attack — "diverse, but 90%
    * positive"). Per class, the Earth Mover's Distance between the
    * class's distribution over an ORDERED sensitive attribute and the
    * global one; per threshold t, the classes (and row mass) whose EMD
    * exceeds t.
    *
    * Ordered EMD with unit ground distance over m ordered values is the
    * mean absolute cumulative difference (Li'07 §4.2):
    * EMD = Σ_{i=1}^{m−1} |Σ_{j≤i} (p_j − q_j)| / (m−1). House
    * exact-integer discipline: with class cell counts c_j (size sz) and
    * global counts g_j (size n), p_j − q_j = (c_j·n − g_j·sz)/(sz·n), so
    * the cumulative differences D_i = Σ_{j≤i}(c_j·n − g_j·sz) are exact
    * integers (decimal-summed — sz·n alone is ~10¹⁰ at sf0.1) and the
    * threshold test is the cross-multiplied integer comparison
    * Σ|D_i| · tMicro' vs tMicro · sz·n·(m−1) — no float enters until the
    * reported emd is rounded.
    *
    * Scale shape: ONE cell hash-aggregate over the corpus
    * ([[tClosenessCounts]]), then everything folds on dictionaries: the
    * global value dictionary (m rows, 1-row-broadcast totals), the class
    * dictionary, and the class × value scaffold (|classes|·m rows — both
    * factors dictionary-scale by construction; classes missing a value
    * still contribute p_j = 0 mass, which the scaffold makes explicit).
    * NULL sensitive values are ordinary domain values (sort first, the
    * [[exactPercentiles]] null rule).
    *
    * @param tsMicro thresholds in micro-units (150000 = t 0.15)
    * @return per t: (t, n_classes, n_rows, max_emd, risk_classes,
    *         risk_rows, risk_frac) — t/max_emd/risk_frac rounded 6
    */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      tsMicro: Seq[Long]): DataFrame =
    tClosenessFromCounts(tClosenessCounts(df, quasiCols, sensitiveCol),
      tsMicro)

  /** [[tCloseness]]' state half: per-(class fingerprint, ordered
    * sensitive value) counts — ONE associative aggregation over one scan
    * (the [[lDiversityCounts]] convention, except the sensitive value
    * stays a raw LONG: EMD needs its order, so it must not be
    * fingerprinted). Legal Complete-mode streaming state at
    * (class × value)-dictionary scale.
    */
  def tClosenessCounts(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns")
    df.groupBy(md5(to_json(struct(quasiCols.map(col): _*))).as("__cls"),
        col(sensitiveCol).cast("long").as("__sv"))
      .agg(count(lit(1)).as("__c"))
  }

  /** The panel fold over [[tClosenessCounts]]' (drained) cell table —
    * dictionary-scale throughout. tClosenessFromCounts ∘ tClosenessCounts
    * = [[tCloseness]] by construction, so the streaming twin shares the
    * batch oracle verbatim.
    */
  def tClosenessFromCounts(
      cells: DataFrame,
      tsMicro: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tsMicro.nonEmpty && tsMicro.forall(t => t > 0 && t < 1000000L),
      s"bad t list $tsMicro")
    val dec = "decimal(38,0)"
    // the cell table is referenced three times below (value dictionary,
    // class dictionary, cell lookup) — pin it once; it is
    // (class × value)-dictionary scale
    val cellsP = cells.localCheckpoint(true)
    // global value dictionary: per-value mass g, corpus n, domain size m
    val gdict = cellsP.groupBy(col("__sv"))
      .agg(sum(col("__c")).cast(dec).as("__g"))
    val gtot = gdict.agg(sum(col("__g")).cast(dec).as("__n"),
      count(lit(1)).as("__m"))
    // class dictionary
    val cls = cellsP.groupBy(col("__cls"))
      .agg(sum(col("__c")).cast(dec).as("__sz"))
    // class × value scaffold (explicit zero cells), cumulative integer
    // difference D_i per class in sensitive-value order
    val wcum = Window.partitionBy(col("__cls")).orderBy(col("__sv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // scaffold ⟕ cells on a null-safe serialized value key (the
    // welch/proportion convention — a NULL sensitive value is an ordinary
    // domain value and must carry its cell mass through the equi-join);
    // renamed join keys keep the three cell-derived branches' attribute
    // ids disjoint (self-join disambiguation)
    val cellsK = cellsP.select(col("__cls").as("__cls2"),
      coalesce(col("__sv").cast("string"), lit("∅")).as("__k2"),
      col("__c"))
    val emd = cls.crossJoin(broadcast(gdict))
      .withColumn("__k",
        coalesce(col("__sv").cast("string"), lit("∅")))
      .join(cellsK, col("__cls") === col("__cls2") &&
        col("__k") === col("__k2"), "left")
      .drop("__cls2", "__k2")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(gtot))
      .withColumn("__d", sum((col("__c").cast(dec) * col("__n") -
        col("__g") * col("__sz")).cast(dec)).over(wcum))
      .groupBy(col("__cls"))
      // D_m ≡ 0 exactly (both sides sum to sz·n), so summing ALL |D_i|
      // equals the i < m sum the formula names
      .agg(sum(abs(col("__d"))).cast(dec).as("__num"),
        first(col("__sz")).as("__sz"), first(col("__n")).as("__n"),
        first(col("__m")).as("__m"))
      // denominator sz·n·(m−1); m = 1 means a single-valued domain —
      // every class matches the global distribution exactly (num ≡ 0)
      .withColumn("__den",
        (col("__sz") * col("__n") *
          greatest(col("__m") - 1, lit(1)).cast(dec)).cast(dec))
      .localCheckpoint(true) // class dictionary; feeds totals + the panel
    val tot = emd.agg(count(lit(1)).as("n_classes"),
      sum(col("__sz")).cast("long").as("n_rows"),
      round(max(col("__num").cast("double") /
        col("__den").cast("double")), 6).as("max_emd"))
    emd
      .select(explode(array(tsMicro.map(t => lit(t)): _*)).as("__t"),
        col("__num"), col("__den"), col("__sz"))
      // emd > t  ⇔  num · 1e6 > tMicro · den  (exact integer form)
      .withColumn("__risk",
        col("__num") * lit(1000000L).cast("decimal(38,0)") >
          col("__t").cast("decimal(38,0)") * col("__den"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__risk"), 1L).otherwise(0L)).as("risk_classes"),
        sum(when(col("__risk"), col("__sz").cast("long")).otherwise(0L))
          .as("risk_rows"))
      .crossJoin(broadcast(tot))
      .select(round(col("__t").cast("double") / 1e6, 6).as("t"),
        col("n_classes"), col("n_rows"), col("max_emd"),
        col("risk_classes"), col("risk_rows"),
        round(col("risk_rows").cast("double") /
          col("n_rows").cast("double"), 6).as("risk_frac"))
  }

  /** Population Stability Index drift panel — the model-monitoring
    * standard beside [[ksDrift]] (KS detects ANY distributional move and
    * saturates on huge samples; PSI localizes WHERE the mass moved and is
    * the credit-risk/ML-ops reporting convention, rule-of-thumb 0.1/0.25
    * action bands on the total). Reference-side (sideCol = false) exact
    * quantile edges define `bins` equal-population bins; both sides bin
    * against those edges; per bin, PSI's contribution is
    * (p_cur − p_ref)·ln(p_cur/p_ref) with add-one/add-`bins` Laplace
    * smoothing (the classic form divides by zero the moment a bin empties
    * — exactly the strong-drift case the panel exists to flag; smoothing
    * keeps every contribution finite and deterministic). `frac_*` report
    * the RAW unsmoothed fractions; Σ psi_contrib is the statistic.
    *
    * Determinism: edges are exact longs from [[exactPercentiles]] (type-1
    * rank ceil(n·q), no interpolation); bin assignment is pure integer
    * comparison (value > edge, duplicates among edges kept — an edge tie
    * just leaves its bin empty on both engines); the only floats are the
    * final mirrored ratio/ln expressions over exact integers (the
    * [[benfordDigits]] convention). Every bin 0..bins−1 is emitted even at
    * zero counts — the scaffold lesson of benford's zero-digit fix.
    *
    * Scale shape: two linear selection passes over the reference side
    * (bucket histogram + rank pick, never a global sort), ONE pass over
    * the full input for the bin counts (edges ride a 1-row broadcast),
    * and a dictionary-scale fold (bins rows). NULL values are excluded
    * up front on both sides (the [[madOutliers]] rule).
    *
    * @param sideCol boolean column: false = reference, true = current
    * @return (bin, n_ref, n_cur, frac_ref, frac_cur, psi_contrib) — one
    *         row per bin, fracs and contribution rounded 6
    */
  def psiDrift(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      bins: Int = 10,
      bucketShift: Int = 12): DataFrame = {
    require(bins >= 2, s"bad bin count $bins")
    val base = df
      .select(col(valCol).cast("long").as("__v"),
        col(sideCol).cast("boolean").as("__s"))
      .filter(col("__v").isNotNull)
    val edges = exactPercentiles(base.filter(!col("__s")), "__v",
        (1 until bins).map(i => i * 1000000L / bins), Seq.empty, bucketShift)
      .agg(array_sort(collect_list(struct(col("q"), col("value"))))
        .as("__qe"))
      // HOF on ONE bins-length array on a 1-row frame — not the hot path
      .select(transform(col("__qe"), e => e.getField("value")).as("__e"))
    val bin = (1 until bins)
      .map(i => when(col("__v") > element_at(col("__e"), i), 1).otherwise(0))
      .reduce(_ + _)
    val counts = base.crossJoin(broadcast(edges))
      .select(bin.as("bin"), col("__s"))
      .groupBy(col("bin"))
      .agg(sum(when(!col("__s"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("n_cur"))
    psiFromCounts(counts, bins)
  }

  /** [[psiDrift]]'s state half for the STREAMING twin: per-bin ref/cur
    * counts against FROZEN edge literals — one associative aggregation
    * (bins rows of state), so it runs unchanged as Complete-mode streaming
    * state. Frozen edges are not a compromise: production drift monitors
    * pin the reference quantile edges when the reference snapshot is
    * blessed and bin live traffic against them. The batch path derives
    * the same edges in-plan; with `edges` = those values,
    * [[psiFromCounts]] ∘ psiBinCounts = [[psiDrift]] (spec-pinned).
    */
  def psiBinCounts(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      edges: Seq[Long]): DataFrame = {
    require(edges.nonEmpty, "no bin edges")
    val base = df
      .select(col(valCol).cast("long").as("__v"),
        col(sideCol).cast("boolean").as("__s"))
      .filter(col("__v").isNotNull)
    val bin = edges.map(e => when(col("__v") > e, 1).otherwise(0))
      .reduce(_ + _)
    base.select(bin.as("bin"), col("__s"))
      .groupBy(col("bin"))
      .agg(sum(when(!col("__s"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("n_cur"))
  }

  /** The panel fold over the (drained) per-bin counts: totals, the full
    * 0..bins−1 scaffold, smoothing, contribution — all dictionary-scale,
    * the counts frame referenced exactly once (map collapse + scaffold
    * explode, no join-back).
    */
  def psiFromCounts(counts: DataFrame, bins: Int): DataFrame = {
    val pr = (col("n_ref") + 1).cast("double") /
      (col("__nr") + bins).cast("double")
    val pc = (col("n_cur") + 1).cast("double") /
      (col("__nc") + bins).cast("double")
    counts
      .agg(sum(col("n_ref")).as("__nr"), sum(col("n_cur")).as("__nc"),
        map_from_entries(collect_list(struct(col("bin"),
          struct(col("n_ref"), col("n_cur"))))).as("__m"))
      .select(col("__nr"), col("__nc"), col("__m"),
        explode(sequence(lit(0), lit(bins - 1))).as("bin"))
      .withColumn("n_ref", coalesce(
        element_at(col("__m"), col("bin")).getField("n_ref"), lit(0L)))
      .withColumn("n_cur", coalesce(
        element_at(col("__m"), col("bin")).getField("n_cur"), lit(0L)))
      .select(col("bin").cast("long").as("bin"), col("n_ref"), col("n_cur"),
        round(col("n_ref").cast("double") / col("__nr").cast("double"), 6)
          .as("frac_ref"),
        round(col("n_cur").cast("double") / col("__nc").cast("double"), 6)
          .as("frac_cur"),
        round((pc - pr) * (log(pc) - log(pr)), 6).as("psi_contrib"))
  }

  /** Per-group Welch two-sample t-test — the A/B significance panel: for
    * each group, sample sizes, means, and the unequal-variance t statistic
    * with its Welch–Satterthwaite degrees of freedom. The companion to
    * [[ksDrift]] (KS asks "did the distribution move?", Welch asks "did
    * the MEAN move, and is the gap larger than the noise?").
    *
    * Determinism: all moments come from exact DECIMAL sums in ONE
    * conditional hash-aggregate (Σv and Σv² per side share the pass —
    * the trial_stats convention); the t/dof formulas are fixed-order
    * double expressions rounded to 6 decimals. Groups where either side
    * has n < 2 emit NULL t/dof (no variance estimate exists).
    *
    * Scale: one map-side-combined hash-aggregate, |groups| output rows.
    */
  def welchTTest(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame =
    welchFromMoments(
      welchMoments(df, valCol, sideCol, groupCols), groupCols)

  /** The conditional exact-decimal moment aggregate feeding
    * [[welchFromMoments]] — split out because the six sums are
    * associative/commutative, i.e. legal Structured Streaming
    * Complete-mode state: a stream maintains THIS, and the t/dof algebra
    * runs over the drained (|groups|-row) state table.
    */
  def welchMoments(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame = {
    val dec = col(valCol).cast("decimal(18,2)")
    val sq = (dec * dec).cast("decimal(38,4)")
    val side = col(sideCol).cast("boolean")
    df.groupBy(groupCols.map(col): _*).agg(
      sum(when(side, 0L).otherwise(1L)).as("n_a"),
      sum(when(side, 1L).otherwise(0L)).as("n_b"),
      sum(when(!side, dec)).cast("double").as("__sa"),
      sum(when(side, dec)).cast("double").as("__sb"),
      sum(when(!side, sq)).cast("double").as("__qa"),
      sum(when(side, sq)).cast("double").as("__qb"))
  }

  /** Welch t/dof algebra over a [[welchMoments]] table. */
  def welchFromMoments(
      g: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val va = (col("__qa") - col("__sa") * col("__sa") / na) / (na - 1.0)
    val vb = (col("__qb") - col("__sb") * col("__sb") / nb) / (nb - 1.0)
    val sea = va / na
    val seb = vb / nb
    g.withColumn("mean_a", round(col("__sa") / na, 6))
      .withColumn("mean_b", round(col("__sb") / nb, 6))
      .withColumn("t_stat",
        when(col("n_a") >= 2 && col("n_b") >= 2,
          round((col("__sa") / na - col("__sb") / nb) /
            sqrt(sea + seb), 6)))
      .withColumn("dof",
        when(col("n_a") >= 2 && col("n_b") >= 2,
          round((sea + seb) * (sea + seb) /
            (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("t_stat"), col("dof"))): _*)
  }

  /** Always-valid SEQUENTIAL A/B test — the mixture-mSPRT of Johari,
    * Koomen, Pekelis & Walsh ("Peeking at A/B Tests", KDD'17) over the
    * same [[welchMoments]] associative state the fixed-horizon panel
    * uses. The streaming Welch twin invites CONTINUOUS monitoring, which
    * its t statistic does not license (peeking inflates type-I error
    * without bound); the mSPRT's mixture likelihood ratio against a
    * N(0, τ²) effect prior,
    *   Λ_n = sqrt(V/(V+τ²)) · exp(Δ² τ² / (2V(V+τ²))),
    *   Δ = mean_a − mean_b,  V = s²_a/n_a + s²_b/n_b,
    * is a test martingale under H₀, so p_n = min(1, 1/Λ_n) is valid at
    * EVERY intermediate drain simultaneously (optional stopping is free
    * — the production guardrail shape for a streaming panel). This
    * reports the statistic of the drained state: log_lr = ln Λ_n and
    * the always-valid p, with reject decided on the ROUNDED p (both
    * engines compare the identical 6-decimal double — no raw
    * float-boundary flapping).
    *
    * NULL gate: below `minN` observations on either side (the normal
    * approximation needs mass; Johari et al. run the same guard), or
    * when V ≤ 0 (a constant-valued side has no variance estimate), the
    * three statistics and the decision are NULL — never a division by
    * zero or ln(0).
    *
    * Determinism: moments are exact decimal sums (ONE conditional
    * hash-aggregate — associative, legal Complete-mode streaming
    * state); the statistic is a fixed-order double expression over
    * them, rounded to 6 (ln/exp/sqrt on identical doubles — the
    * BM25/perplexity oracle precedent). Scale: |groups| output rows
    * from one map-side-combined hash-agg; no join, no window.
    */
  def sequentialAbTest(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      groupCols: Seq[String],
      tau: Double = 5.0,
      alpha: Double = 0.05,
      minN: Long = 100L): DataFrame =
    sequentialAbFromMoments(
      welchMoments(df, valCol, sideCol, groupCols), groupCols, tau, alpha,
      minN)

  /** The mSPRT algebra over a drained [[welchMoments]] table — split out
    * so the streaming twin shares the batch oracle verbatim.
    */
  def sequentialAbFromMoments(
      g: DataFrame,
      groupCols: Seq[String],
      tau: Double = 5.0,
      alpha: Double = 0.05,
      minN: Long = 100L): DataFrame = {
    require(tau > 0.0 && alpha > 0.0 && alpha < 1.0 && minN >= 2L,
      s"bad mSPRT params tau=$tau alpha=$alpha minN=$minN")
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val va = (col("__qa") - col("__sa") * col("__sa") / na) / (na - 1.0)
    val vb = (col("__qb") - col("__sb") * col("__sb") / nb) / (nb - 1.0)
    val vv = va / na + vb / nb
    val t2 = lit(tau * tau)
    val delta = col("__sa") / na - col("__sb") / nb
    val ok = col("n_a") >= minN && col("n_b") >= minN && vv > 0.0
    val llr = lit(0.5) * log(vv / (vv + t2)) +
      delta * delta * t2 / (lit(2.0) * vv * (vv + t2))
    g.withColumn("mean_a", round(col("__sa") / na, 6))
      .withColumn("mean_b", round(col("__sb") / nb, 6))
      .withColumn("delta", round(delta, 6))
      .withColumn("log_lr", when(ok, round(llr, 6)))
      .withColumn("p_always",
        when(ok, round(least(lit(1.0), exp(-llr)), 6)))
      .withColumn("reject", when(ok, col("p_always") < alpha))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("delta"), col("log_lr"),
        col("p_always"), col("reject"))): _*)
  }

  /** Precision-recall sweep over every observed score threshold — the
    * operating-curve view the single-threshold confusion matrix hides
    * (Davis & Goadrich, ICML'06 on PR vs ROC for imbalanced labels —
    * exactly the quality-classifier regime): predict positive iff
    * score ≥ t for each DISTINCT observed score t, and report the
    * confusion mass and P/R/F1 at every t in one pass.
    *
    * Exact construction: (score → n, n_pos) dictionary in one
    * hash-agg; TP and predicted-positive counts are inclusive running
    * sums in DESCENDING score order through the range-partitioned
    * cumulative scaffold (no single-partition window); precision =
    * tp/cum_n, recall = tp/P, and F1 = 2·tp/(cum_n + P) — the last an
    * exact integer ratio, so no compounding of rounded intermediates.
    * Scale: dictionary-sized output, one corpus hash-agg + one
    * dictionary range pass.
    *
    * The score column must be an INTEGRAL type (the exact-long
    * thresholds are the determinism contract — a fractional score
    * would silently truncate and merge distinct scores, breaking the
    * "every distinct observed score" promise); quantize fractional
    * scores to longs at the call site first.
    */
  def prCurve(
      df: DataFrame,
      scoreCol: String,
      yCol: String): DataFrame = {
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(df.schema(scoreCol).dataType),
      s"prCurve needs an integral score column, got " +
        s"${df.schema(scoreCol).dataType.simpleString} for '$scoreCol' — " +
        "quantize fractional scores to longs first")
    val dict = df.select(col(scoreCol).cast("long").as("threshold"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__npos"))
      .withColumn("__negs", -col("threshold"))
    val cum = graft.sample.Samplers.globalCumSums(dict, Seq("__negs"),
      Seq("__n", "__npos"), Seq("n_predicted_pos", "tp"))
    val tot = dict.agg(sum(col("__npos")).as("__pos"))
    cum.crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_predicted_pos"), col("tp"),
        round(col("tp").cast("double") / col("n_predicted_pos"), 6)
          .as("prec"),
        when(col("__pos") > 0L,
          round(col("tp").cast("double") / col("__pos"), 6)).as("rec"),
        round((lit(2L) * col("tp")).cast("double") /
          (col("n_predicted_pos") + col("__pos")), 6).as("f1"))
  }

  /** The operating point a deployment actually ships: the threshold
    * maximizing the 6-decimal F1 on the [[prCurve]] sweep (ties break
    * to the SMALLEST threshold — the more permissive gate), as one
    * TakeOrdered over the dictionary-sized curve.
    */
  def bestF1Threshold(
      df: DataFrame,
      scoreCol: String,
      yCol: String): DataFrame =
    prCurve(df, scoreCol, yCol)
      .orderBy(col("f1").desc, col("threshold"))
      .limit(1)

  /** Minimum detectable effect at the CURRENT sample sizes — the
    * experiment-planning row beside the A/B panel (the standard
    * two-sample power identity: MDE = (z_{1−α/2} + z_{power})·SE(Δ),
    * here α = 0.05 two-sided and 80% power, so the multiplier is
    * 1.959964 + 0.841621 = 2.801585 — fixed literals, both engines
    * multiply the same constants). An experimenter reads this BEFORE
    * peeking at Δ: effects smaller than mde_abs are invisible at this
    * traffic, and mde_rel says how long to keep collecting.
    *
    * Same determinism/scale contract as [[welchFromMoments]]: one
    * conditional hash-aggregate, fixed-order double algebra rounded 6,
    * NULL below two observations per side or on zero variance.
    */
  def minDetectableEffect(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame =
    minDetectableEffectFromMoments(
      welchMoments(df, valCol, sideCol, groupCols), groupCols)

  /** The MDE algebra over a drained [[welchMoments]] table. */
  def minDetectableEffectFromMoments(
      g: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val va = (col("__qa") - col("__sa") * col("__sa") / na) / (na - 1.0)
    val vb = (col("__qb") - col("__sb") * col("__sb") / nb) / (nb - 1.0)
    val vv = va / na + vb / nb
    val ok = col("n_a") >= 2L && col("n_b") >= 2L && vv > 0.0
    // the SUMMED literal, not a runtime sum: 1.959964 + 0.841621 in
    // binary double is 1 ulp off the parsed 2.801585 the oracle uses
    val mult = lit(2.801585)
    val pooledMean = (col("__sa") + col("__sb")) / (na + nb)
    g.withColumn("mean_a", round(col("__sa") / na, 6))
      .withColumn("mean_b", round(col("__sb") / nb, 6))
      .withColumn("se_diff", when(ok, round(sqrt(vv), 6)))
      .withColumn("mde_abs", when(ok, round(mult * sqrt(vv), 6)))
      .withColumn("mde_rel",
        when(ok && pooledMean =!= 0.0,
          round(mult * sqrt(vv) / pooledMean, 6)))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("se_diff"), col("mde_abs"),
        col("mde_rel"))): _*)
  }

  /** Always-valid SEQUENTIAL two-proportion test — the conversion-rate
    * half of the mSPRT panel ([[sequentialAbTest]] covers means): the
    * same N(0, τ²)-mixture likelihood ratio over the normal
    * approximation of the rate difference, with V the Wald variance
    * p̂_a(1−p̂_a)/n_a + p̂_b(1−p̂_b)/n_b from the four exact
    * [[proportionMoments]] counts. Valid at every intermediate drain of
    * the streaming twin (the whole point — a conversion dashboard is
    * watched continuously); τ defaults to 0.1 (a rate-scale effect
    * prior). NULL below `minN` per side or when V ≤ 0 (degenerate
    * all-success/all-failure sides); reject decided on the rounded
    * 6-decimal p.
    */
  def sequentialProportionTest(
      df: DataFrame,
      successCol: String,
      sideCol: String,
      groupCols: Seq[String],
      tau: Double = 0.1,
      alpha: Double = 0.05,
      minN: Long = 100L): DataFrame =
    sequentialProportionFromMoments(
      proportionMoments(df, successCol, sideCol, groupCols), groupCols,
      tau, alpha, minN)

  /** The mSPRT algebra over a drained [[proportionMoments]] table. */
  def sequentialProportionFromMoments(
      g: DataFrame,
      groupCols: Seq[String],
      tau: Double = 0.1,
      alpha: Double = 0.05,
      minN: Long = 100L): DataFrame = {
    require(tau > 0.0 && alpha > 0.0 && alpha < 1.0 && minN >= 1L,
      s"bad mSPRT params tau=$tau alpha=$alpha minN=$minN")
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("k_a").cast("double") / na
    val pb = col("k_b").cast("double") / nb
    val vv = pa * (lit(1.0) - pa) / na + pb * (lit(1.0) - pb) / nb
    val t2 = lit(tau * tau)
    val delta = pa - pb
    val ok = col("n_a") >= minN && col("n_b") >= minN && vv > 0.0
    val llr = lit(0.5) * log(vv / (vv + t2)) +
      delta * delta * t2 / (lit(2.0) * vv * (vv + t2))
    g.withColumn("p_a", round(pa, 6))
      .withColumn("p_b", round(pb, 6))
      .withColumn("delta", round(delta, 6))
      .withColumn("log_lr", when(ok, round(llr, 6)))
      .withColumn("p_always",
        when(ok, round(least(lit(1.0), exp(-llr)), 6)))
      .withColumn("reject", when(ok, col("p_always") < alpha))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("k_a"), col("k_b"), col("p_a"), col("p_b"), col("delta"),
        col("log_lr"), col("p_always"), col("reject"))): _*)
  }

  /** Two-proportion z-test per group — the conversion-rate half of the
    * A/B panel ([[welchTTest]] covers means): for each group, the share
    * of side-A vs side-B UNITS satisfying the success predicate, and the
    * pooled-variance z statistic
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ pooled.
    * `df` must be one row per (unit, group) with a boolean success column
    * — the caller aggregates to units first (e.g. "user converted in this
    * group") so n counts units, not events.
    *
    * All counts exact longs from one conditional hash-aggregate; z is a
    * fixed-order double rounded to 6; NULL when either side is empty or
    * the pooled variance is 0 (all-success/all-failure).
    */
  def proportionZTest(
      df: DataFrame,
      successCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame =
    proportionFromMoments(
      proportionMoments(df, successCol, sideCol, groupCols), groupCols)

  /** The associative half of [[proportionZTest]] — four exact conditional
    * long sums per group. Batch aggregate = legal Complete-mode streaming
    * state (micro-batch-order-free), the same split as
    * [[welchMoments]]/[[welchFromMoments]]: the streaming twin drains this
    * state table and runs [[proportionFromMoments]] over it, sharing the
    * batch oracle verbatim.
    */
  def proportionMoments(
      df: DataFrame,
      successCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val succ = col(successCol).cast("boolean")
    df.groupBy(groupCols.map(col): _*).agg(
      sum(when(side, 0L).otherwise(1L)).as("n_a"),
      sum(when(side, 1L).otherwise(0L)).as("n_b"),
      sum(when(!side && succ, 1L).otherwise(0L)).as("k_a"),
      sum(when(side && succ, 1L).otherwise(0L)).as("k_b"))
  }

  /** The z algebra over a drained [[proportionMoments]] table — fixed-order
    * double expressions rounded to 6, NULL on empty sides / zero pooled
    * variance.
    */
  def proportionFromMoments(
      g: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("k_a").cast("double") / na
    val pb = col("k_b").cast("double") / nb
    val pp = (col("k_a") + col("k_b")).cast("double") / (na + nb)
    val vv = pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)
    g.withColumn("p_a", when(col("n_a") >= 1, round(pa, 6)))
      .withColumn("p_b", when(col("n_b") >= 1, round(pb, 6)))
      .withColumn("z",
        when(col("n_a") >= 1 && col("n_b") >= 1 && vv > 0.0,
          round((pa - pb) / sqrt(vv), 6)))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("k_a"), col("k_b"), col("p_a"), col("p_b"), col("z"))): _*)
  }

  /** Sample-ratio-mismatch (SRM) guard — the validity gate every A/B
    * readout silently assumes (Fabijan et al., "Diagnosing Sample Ratio
    * Mismatch in Online Controlled Experiments", KDD 2019): a Pearson
    * chi-square on the ASSIGNMENT counts against the declared design
    * ratio. A broken randomizer/logging path skews n_a:n_b long before
    * it biases any metric, and every downstream statistic
    * ([[sequentialAbTest]], [[cuped]]-adjusted deltas, [[minDetectableEffect]])
    * is built on the assumption this test passes. Per group, with
    * E_s = n·r_s/(r_a+r_b):
    *   χ² = (n_a−E_a)²/E_a + (n_b−E_b)²/E_b   (df = 1)
    * flagged at the α = 0.001 critical literal 10.827566 — the
    * deliberately strict SRM convention (a false SRM alarm kills a
    * healthy experiment, so the industry tests at 0.001, not 0.05).
    *
    * Determinism: counts are exact longs from one conditional
    * hash-aggregate; E and χ² are ONE fixed-order double expression
    * (multiply by the ratio literal, then divide by the ratio-sum
    * literal; a-term plus b-term), rounded to 6 — and the decision
    * compares the ROUNDED χ² to the literal, so both engines flag
    * identically. NULL χ²/flag below `minN` total units (the honest
    * too-early answer, matching the mSPRT panel).
    */
  def srmGuard(
      df: DataFrame,
      sideCol: String,
      groupCols: Seq[String],
      ratioA: Long = 1L,
      ratioB: Long = 1L,
      minN: Long = 100L): DataFrame =
    srmFromCounts(srmCounts(df, sideCol, groupCols), groupCols,
      ratioA, ratioB, minN)

  /** The associative half of [[srmGuard]] — two exact conditional long
    * sums per group, legal Complete-mode streaming state; the streaming
    * twin drains this and runs [[srmFromCounts]], sharing the batch
    * oracle verbatim.
    */
  def srmCounts(
      df: DataFrame,
      sideCol: String,
      groupCols: Seq[String]): DataFrame = {
    val side = col(sideCol).cast("boolean")
    // NULL-side rows are excluded (never silently counted into a side) —
    // the COUNT(*) FILTER (side)/(NOT side) convention the oracle uses
    df.filter(side.isNotNull)
      .groupBy(groupCols.map(col): _*).agg(
        sum(when(side, 0L).otherwise(1L)).as("n_a"),
        sum(when(side, 1L).otherwise(0L)).as("n_b"))
  }

  /** The chi-square algebra over a drained [[srmCounts]] table. */
  def srmFromCounts(
      g: DataFrame,
      groupCols: Seq[String],
      ratioA: Long = 1L,
      ratioB: Long = 1L,
      minN: Long = 100L): DataFrame = {
    require(ratioA >= 1L && ratioB >= 1L && minN >= 1L,
      s"bad SRM params ratioA=$ratioA ratioB=$ratioB minN=$minN")
    val crit = 10.827566 // chi-square df=1 upper-0.001 critical value
    val n = col("n_a") + col("n_b")
    val rab = (ratioA + ratioB).toDouble
    val ea = n.cast("double") * lit(ratioA.toDouble) / lit(rab)
    val eb = n.cast("double") * lit(ratioB.toDouble) / lit(rab)
    val da = col("n_a").cast("double") - ea
    val db = col("n_b").cast("double") - eb
    val chi2 = da * da / ea + db * db / eb
    val ok = n >= minN
    g.withColumn("expected_a", round(ea, 6))
      .withColumn("chi2", when(ok, round(chi2, 6)))
      .withColumn("srm", when(ok, col("chi2") > lit(crit)))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("expected_a"), col("chi2"), col("srm"))): _*)
  }

  /** Delta-method inference for RATIO metrics (Deng, Knoblich & Lu,
    * "Applying the Delta Method in Metric Analytics", KDD 2018) — the
    * missing third leg of the A/B panel beside means ([[welchTTest]])
    * and proportions ([[proportionZTest]]): most production metrics are
    * ratios of unit-level sums (revenue per click, items per order),
    *   R = ΣX / ΣY,
    * and a naive t-test on per-unit x/y is WRONG (undefined on y = 0
    * units and mis-weighted elsewhere). The delta method gives
    *   Var(R) ≈ (s²_x − 2R·s_xy + R²·s²_y) / (n · ȳ²)
    * per side from the unit-level (co)variances, then the usual
    * two-sample z on Δ = R_a − R_b. `df` must be one row per
    * (unit, group) — the caller aggregates events to the randomization
    * unit first, exactly the [[proportionZTest]] unit contract.
    *
    * Determinism: six exact decimal moment sums per side in ONE
    * conditional hash-aggregate ([[welchMoments]]' pattern — x, y as
    * decimal(18,2), squares/cross as decimal(38,4) — associative,
    * legal Complete-mode streaming state); the algebra is a fixed-order
    * double expression rounded to 6, with the decision on the ROUNDED
    * z. NULL gates: a side below `minN` units, ΣY = 0 (the ratio is
    * undefined), or a non-positive variance estimate.
    */
  def ratioMetricDelta(
      df: DataFrame,
      xCol: String,
      yCol: String,
      sideCol: String,
      groupCols: Seq[String],
      minN: Long = 2L): DataFrame =
    ratioDeltaFromMoments(
      ratioDeltaMoments(df, xCol, yCol, sideCol, groupCols),
      groupCols, minN)

  /** The associative half of [[ratioMetricDelta]]: per group, counts and
    * exact decimal Σx, Σy, Σx², Σy², Σxy per side — the streaming twin
    * drains this and runs [[ratioDeltaFromMoments]], sharing the batch
    * oracle verbatim.
    */
  def ratioDeltaMoments(
      df: DataFrame,
      xCol: String,
      yCol: String,
      sideCol: String,
      groupCols: Seq[String]): DataFrame = {
    val x = col(xCol).cast("decimal(18,2)")
    val y = col(yCol).cast("decimal(18,2)")
    val side = col(sideCol).cast("boolean")
    def m(c: Column) = c.cast("decimal(38,4)")
    // NULL-side rows excluded (the srmCounts convention): counting them
    // into n_a while the conditional sums skip them would corrupt the
    // side-A moments
    df.filter(side.isNotNull)
      .groupBy(groupCols.map(col): _*).agg(
      sum(when(side, 0L).otherwise(1L)).as("n_a"),
      sum(when(side, 1L).otherwise(0L)).as("n_b"),
      sum(when(!side, x)).cast("double").as("__sxa"),
      sum(when(side, x)).cast("double").as("__sxb"),
      sum(when(!side, y)).cast("double").as("__sya"),
      sum(when(side, y)).cast("double").as("__syb"),
      sum(when(!side, m(x * x))).cast("double").as("__qxa"),
      sum(when(side, m(x * x))).cast("double").as("__qxb"),
      sum(when(!side, m(y * y))).cast("double").as("__qya"),
      sum(when(side, m(y * y))).cast("double").as("__qyb"),
      sum(when(!side, m(x * y))).cast("double").as("__pxa"),
      sum(when(side, m(x * y))).cast("double").as("__pxb"))
  }

  /** The delta-method z algebra over a drained [[ratioDeltaMoments]]
    * table.
    */
  def ratioDeltaFromMoments(
      g: DataFrame,
      groupCols: Seq[String],
      minN: Long = 2L): DataFrame = {
    require(minN >= 2L, s"delta method needs minN >= 2, got $minN")
    def varOf(n: Column, s: Column, q: Column) =
      (q - s * s / n) / (n - lit(1.0))
    def covOf(n: Column, sx: Column, sy: Column, p: Column) =
      (p - sx * sy / n) / (n - lit(1.0))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ra = col("__sxa") / col("__sya")
    val rb = col("__sxb") / col("__syb")
    def varR(n: Column, s: Column, sy: Column, qx: Column, qy: Column,
        p: Column, r: Column) = {
      val ybar = sy / n
      (varOf(n, s, qx) - lit(2.0) * r * covOf(n, s, sy, p) +
        r * r * varOf(n, sy, qy)) / (n * ybar * ybar)
    }
    val va = varR(na, col("__sxa"), col("__sya"), col("__qxa"),
      col("__qya"), col("__pxa"), ra)
    val vb = varR(nb, col("__sxb"), col("__syb"), col("__qxb"),
      col("__qyb"), col("__pxb"), rb)
    val ok = col("n_a") >= minN && col("n_b") >= minN &&
      col("__sya") =!= 0.0 && col("__syb") =!= 0.0 &&
      when(col("__sya") =!= 0.0 && col("__syb") =!= 0.0,
        va + vb > 0.0).otherwise(false)
    g.withColumn("r_a",
        when(col("__sya") =!= 0.0, round(ra, 6)))
      .withColumn("r_b",
        when(col("__syb") =!= 0.0, round(rb, 6)))
      .withColumn("delta",
        when(col("__sya") =!= 0.0 && col("__syb") =!= 0.0,
          round(ra - rb, 6)))
      .withColumn("se_delta", when(ok, round(sqrt(va + vb), 6)))
      .withColumn("z", when(ok, round((ra - rb) / sqrt(va + vb), 6)))
      .select((groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("r_a"), col("r_b"), col("delta"), col("se_delta"),
        col("z"))): _*)
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg, JRSS-B
    * 1995) — the multiple-testing guard the A/B panel family needs the
    * moment it tests MANY segments/metrics at once (at α = 0.05, a
    * 40-segment dashboard with no real effects still "wins" two
    * segments by chance; BH bounds the expected FALSE-DISCOVERY share
    * of the rejected set at α). One row per hypothesis in, the same
    * rows out with: the global p-rank, the step-up adjusted p-value
    *   p_adj(i) = min_{j ≥ i} min(1, m·p_(j)/j)
    * and the decision (reject ⟺ rounded p_adj ≤ α — both engines
    * compare the identical 6-decimal double). Rows with NULL p are
    * excluded from m and from the output (they were never tested).
    *
    * Scale shape: ranks come from the [[graft.sample.Samplers.globalRowNumber]]
    * range-partition scaffold over the (p, id) total order, and the
    * suffix-min runs the SAME two-phase trick with min in place of sum
    * (per-partition minima to the driver — numPartitions values — then
    * a within-partition descending running min + the broadcast suffix
    * of the following partitions' minima). No single-partition window;
    * min is order-insensitive, so no float-summation-order hazard
    * exists anywhere in the procedure.
    */
  def benjaminiHochberg(
      df: DataFrame,
      idCols: Seq[String],
      pCol: String,
      alpha: Double = 0.05,
      numPartitions: Int = 32): DataFrame = {
    require(idCols.nonEmpty && alpha > 0.0 && alpha < 1.0,
      s"bad BH params idCols=$idCols alpha=$alpha")
    // the output/scratch names are fixed — a colliding id column would
    // fail ambiguously downstream, so refuse it loudly here
    val reserved = Set("rank", "p_adj", "reject", "__p", "__q", "__pid")
    require(idCols.forall(c => !reserved.contains(c)),
      s"benjaminiHochberg reserves $reserved; rename the colliding id " +
        s"column in $idCols")
    // the suffix-min map is embedded as a plan LITERAL (one double per
    // partition) — numPartitions is O(plan size), so keep it panel-scale
    require(numPartitions >= 1 && numPartitions <= 4096,
      s"numPartitions is embedded as a plan literal; got $numPartitions")
    val base = df
      .select(idCols.map(col) :+ col(pCol).cast("double").as("__p"): _*)
      .filter(col("__p").isNotNull)
    val (ranked, m) = graft.sample.Samplers.globalRowNumberWithTotal(
      base, "__p" +: idCols, numPartitions, "rank")
    val q = least(lit(1.0),
      lit(m.toDouble) * col("__p") / col("rank"))
    val withQ = ranked.withColumn("__q", q)
      .repartitionByRange(numPartitions, col("rank"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val mins = withQ.groupBy(col("__pid"))
      .agg(min(col("__q")).as("__mn")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // min of the partitions AFTER each pid (identity 1.0 — q ≤ 1)
    val sufMap = {
      var acc = 1.0
      val buf = scala.collection.mutable.Map[Int, Double]()
      for (pid <- (numPartitions - 1) to 0 by -1) {
        buf(pid) = acc
        acc = math.min(acc, mins.getOrElse(pid, 1.0))
      }
      buf.toMap
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("rank").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withQ
      .withColumn("__padj", least(min(col("__q")).over(w),
        coalesce(element_at(typedLit(sufMap), col("__pid")), lit(1.0))))
      .select(idCols.map(col) :+ col("__p").as(pCol) :+ col("rank") :+
        round(col("__padj"), 6).as("p_adj") :+
        (round(col("__padj"), 6) <= lit(alpha)).as("reject"): _*)
  }

  /** LORD++ online FDR control (Javanmard & Montanari, Ann. Stat. 2018;
    * Ramdas, Yang, Wainwright & Jordan, NIPS 2017) — the ONLINE
    * companion to [[benjaminiHochberg]]: BH needs the full p-vector, but
    * the always-valid mSPRT panel ([[sequentialAbTest]]) emits hypotheses
    * CONTINUOUSLY, and reading each at level α inflates the false-
    * discovery rate exactly the way BH exists to prevent. LORD assigns
    * hypothesis t (in the DECLARED arrival order = ascending `idCols`)
    * the budget
    *   α_t = γ_t·W₀ + (α−W₀)·γ_{t−τ₁} + α·Σ_{j≥2, τ_j<t} γ_{t−τ_j}
    * with W₀ = α/2 and τ_j the j-th rejection time — the generalized
    * alpha-investing WEALTH accounting in its closed γ-sum form (a
    * rejection at τ earns wealth that is re-spent over the future as the
    * decaying stream γ_{t−τ}). The declared schedule is
    * γ_j = 1/(j·(j+1)): nonincreasing and Σ_{j≥1} γ_j = 1 exactly (the
    * telescoping sum), the LORD validity conditions.
    *
    * EXACT INTEGER algebra (the house fixed-order discipline): γ is
    * nano-quantized as G(j) = ⌊10⁹/(j(j+1))⌋ (Σ G ≤ 10⁹, so the
    * procedure only gets CONSERVATIVE — FDR control needs Σγ ≤ 1, not
    * equality), the budget in units of (α/2)·10⁻⁹ is the long sum
    *   S_t = G(t) + G(t−τ₁) + 2·Σ_{j≥2} G(t−τ_j),
    * and with α = alphaNum/alphaDen and micro-quantized p
    * (P6 = round(10⁶·p), matching the 6-decimal rounding the p-emitting
    * panels already apply) the decision is the pure integer comparison
    *   reject ⟺ P6·2000·alphaDen ≤ alphaNum·S_t
    * — order-insensitive; no float-summation hazard anywhere.
    *
    * The sequential recursion (α_t depends on prior rejections, which
    * depend on THEIR α's) is computed as a MONOTONE FIXED POINT: start
    * with no rejections, compute every S_t in one distributed pass,
    * collect the rejected arrival ranks, repeat until stable. Adding a
    * rejection only raises later budgets (every γ term is ≥ 0, and when
    * a new earlier rejection becomes τ₁ the old first rejection's weight
    * is PROMOTED from α/2 to α), so the iterates grow monotonically and
    * the least fixed point equals the true sequential LORD answer
    * (induction over t: the prefix decisions agree). Rounds ≤
    * rejections + 1; in practice a handful.
    *
    * Scale shape: arrival ranks come from the
    * [[graft.sample.Samplers.globalRowNumber]] range scaffold (no
    * single-partition window); each fixed-point round is ONE distributed
    * filter over the checkpointed (t, P6) dictionary with the current
    * rejection times embedded as plan literals (the [[benjaminiHochberg]]
    * suffix-map discipline — the rejection set is panel-sized by
    * contract, required ≤ 4096, and only rank longs ever reach the
    * driver). Rows with NULL p were never tested and are excluded.
    */
  def onlineFdrLord(
      df: DataFrame,
      idCols: Seq[String],
      pCol: String,
      alphaNum: Int = 5,
      alphaDen: Int = 100,
      numPartitions: Int = 32): DataFrame = {
    require(idCols.nonEmpty && alphaNum >= 1 && alphaDen > alphaNum &&
      alphaDen <= 1000000,
      s"bad LORD params alpha=$alphaNum/$alphaDen idCols=$idCols")
    val reserved = Set("t", "alpha_t", "reject", "__p", "__p6")
    require(idCols.forall(c => !reserved.contains(c)),
      s"onlineFdrLord reserves $reserved; rename the colliding id " +
        s"column in $idCols")
    val base = df
      .select(idCols.map(col) :+ col(pCol).cast("double").as("__p"): _*)
      .filter(col("__p").isNotNull)
    val ranked = graft.sample.Samplers
      .globalRowNumber(base, idCols, numPartitions, "t")
      .withColumn("__p6", round(col("__p") * lit(1e6), 0).cast("long"))
      .localCheckpoint(true)
    // G(j) = floor(1e9 / (j·(j+1))): one double division of exact
    // integer-valued operands + floor — bit-identical in both engines
    def g(j: Column): Column =
      floor(lit(1.0e9) / (j * (j + lit(1L))).cast("double")).cast("long")
    // S_t against a FIXED rejection set (ascending plan literals)
    def budget(taus: Seq[Long]): Column = {
      val first = taus.headOption.map(t1 =>
        when(col("t") > lit(t1), g(col("t") - lit(t1)))
          .otherwise(lit(0L))).getOrElse(lit(0L))
      val rest = taus.drop(1).map(tj =>
        when(col("t") > lit(tj), lit(2L) * g(col("t") - lit(tj)))
          .otherwise(lit(0L)))
      (g(col("t")) +: first +: rest).reduce(_ + _)
    }
    def rejectsOf(taus: Seq[Long]): Array[Long] =
      ranked
        .filter(col("__p6") * lit(2000L * alphaDen) <=
          lit(alphaNum.toLong) * budget(taus))
        .select(col("t")).collect().map(_.getLong(0)).sorted
    var taus = Array.empty[Long]
    var stable = false
    while (!stable) {
      val next = rejectsOf(taus)
      require(next.length <= 4096,
        s"${next.length} rejections exceed the panel-scale plan-literal " +
          "contract (4096)")
      if (next.sameElements(taus)) stable = true else taus = next
    }
    val s = budget(taus.toSeq)
    ranked.select(idCols.map(col) :+ col("__p").as(pCol) :+ col("t") :+
      round(s.cast("double") *
        lit(alphaNum.toDouble / (2.0 * alphaDen) / 1.0e9), 9)
        .as("alpha_t") :+
      (col("__p6") * lit(2000L * alphaDen) <= lit(alphaNum.toLong) * s)
        .as("reject"): _*)
  }

  /** Reliability-diagram bins + expected calibration error (Naeini,
    * Cooper & Hauskrecht AAAI'15; Guo et al. ICML'17) — the calibration
    * readout every scored classifier/judge pipeline is audited with:
    * does a 0.9-confidence prediction come true 90% of the time? Scores
    * bin into `bins` equal-width confidence buckets
    * (bin = min(⌊score·B⌋, B−1), so 1.0 lands in the top bin), and each
    * (group, bin) row reports count, mean confidence, empirical
    * accuracy, and the signed gap; the per-group summary column is
    *   ECE = Σ_b (n_b/N)·|acc_b − conf̄_b|
    * which reduces EXACTLY to Σ_b |correct_b − Σconf_b| / N — one
    * absolute difference of a long count and an exact decimal sum per
    * bin, summed and divided once: no per-bin float division enters the
    * statistic, so there is no summation-order hazard anywhere
    * (the [[benjaminiHochberg]] order-insensitivity discipline). The
    * max absolute gap (maximum calibration error, MCE) rides along.
    *
    * Scores are micro-quantized (round 6, then decimal) before summing —
    * the house money-sum convention. Rows with NULL score/label or a
    * score outside [0, 1] are EXCLUDED (never silently clamped into a
    * boundary bin); a pipeline emitting out-of-domain confidences should
    * hear about it from [[constraintViolations]], not have it laundered
    * here.
    *
    * Scale shape: ONE conditional hash-aggregate to the (group, bin)
    * dictionary — exact long/decimal sums, legal Complete-mode streaming
    * state via [[calibrationBinCounts]] — then dictionary-scale algebra
    * and one group-level hash-agg for the ECE/MCE join-back.
    */
  def expectedCalibrationError(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      groupCols: Seq[String],
      bins: Int = 10): DataFrame =
    eceFromBinCounts(
      calibrationBinCounts(df, scoreCol, labelCol, groupCols, bins),
      groupCols)

  /** The associative half of [[expectedCalibrationError]]: per (group,
    * bin) long counts + exact decimal confidence mass.
    */
  def calibrationBinCounts(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      groupCols: Seq[String],
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bad bin count $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    df.filter(s.isNotNull && y.isNotNull && s >= 0.0 && s <= 1.0)
      .select(groupCols.map(col) ++ Seq(
        least(floor(s * lit(bins)).cast("int"), lit(bins - 1)).as("bin"),
        round(s, 6).cast("decimal(18,6)").as("__c"),
        when(y, 1L).otherwise(0L).as("__y")): _*)
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__y")).as("__correct"),
        sum(col("__c")).as("__conf"))
  }

  /** The reliability/ECE algebra over a (drained)
    * [[calibrationBinCounts]] dictionary.
    */
  def eceFromBinCounts(
      bc: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val nd = col("n").cast("double")
    val gap = (col("__correct").cast("decimal(38,6)") - col("__conf"))
    // group-partitioned windows over the (group, bin) DICTIONARY — at
    // most `bins` rows per partition, and no self-join (a drained
    // memory-sink lineage cannot dedup conflicting references)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    bc
      .withColumn("avg_conf",
        round(col("__conf").cast("double") / nd, 6))
      .withColumn("accuracy",
        round(col("__correct").cast("double") / nd, 6))
      .withColumn("gap", round(gap.cast("double") / nd, 6))
      .withColumn("ece", round(sum(abs(gap)).over(w).cast("double") /
        sum(col("n")).over(w).cast("double"), 6))
      .withColumn("mce",
        round(max(abs(gap).cast("double") / nd).over(w), 6))
      .select(groupCols.map(col) ++ Seq(col("bin"), col("n"),
        col("avg_conf"), col("accuracy"), col("gap"), col("ece"),
        col("mce")): _*)
  }

  /** Post-stratified treatment-effect estimate (Miratrix, Sekhon & Yu,
    * JRSS-B 2013; the experimentation-platform companion to
    * [[graft.scale.Events.cuped]]) — variance reduction from a
    * CATEGORICAL pre-treatment covariate where CUPED wants a numeric
    * one: re-weight per-stratum mean differences by the POOLED stratum
    * shares,
    *   Δ_ps = Σ_k w_k·(mean_a,k − mean_b,k),   w_k = n_k / N,
    *   SE²_ps = Σ_k w_k²·(s²_a,k/n_a,k + s²_b,k/n_b,k),
    * so between-strata variance drops out of the comparison. Reported
    * beside the UNADJUSTED Welch delta/SE from the SAME moment sums
    * (strata moments add — no second scan), plus
    * `var_reduction_pct` = 1 − SE²_ps/SE²_unadj, the number that says
    * whether stratifying was worth it.
    *
    * Determinism: per-(group, stratum, side) moments are exact decimal
    * sums in ONE conditional hash-agg ([[welchMoments]] with the stratum
    * in the key); the cross-strata weighted sums micro-quantize each
    * stratum's contribution (Δ_k at 10⁻⁶, the variance term at 10⁻¹²)
    * and sum LONGS-in-decimal — order-insensitive, the
    * [[quantileTreatmentEffect]] boot_se discipline.
    *
    * NULL gate: a stratum below `minN` on EITHER side gates the whole
    * group's post-stratified columns to NULL (the estimator needs every
    * stratum estimable — silently dropping a stratum would change the
    * estimand); the unadjusted columns still report when the group-level
    * sides have mass.
    */
  def postStratifiedDelta(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      stratumCol: String,
      groupCols: Seq[String],
      minN: Long = 2L): DataFrame =
    postStratFromMoments(
      postStratMoments(df, valCol, sideCol, stratumCol, groupCols),
      groupCols, minN)

  /** The associative half of [[postStratifiedDelta]]: per (group,
    * stratum, side) counts + exact DECIMAL value/square sums — legal
    * Complete-mode streaming state (the group-level roll-up must sum
    * exactly; a double sum across strata would be partition-order-
    * sensitive, so doubles only appear per stratum or after the final
    * exact sums).
    */
  def postStratMoments(
      df: DataFrame,
      valCol: String,
      sideCol: String,
      stratumCol: String,
      groupCols: Seq[String]): DataFrame = {
    val decV = col(valCol).cast("decimal(18,2)")
    val sqV = (decV * decV).cast("decimal(38,4)")
    val side = col(sideCol).cast("boolean")
    df.filter(side.isNotNull)
      .groupBy((groupCols :+ stratumCol).map(col): _*).agg(
        sum(when(side, 0L).otherwise(1L)).as("n_a"),
        sum(when(side, 1L).otherwise(0L)).as("n_b"),
        sum(when(!side, decV)).cast("decimal(38,2)").as("__sa"),
        sum(when(side, decV)).cast("decimal(38,2)").as("__sb"),
        sum(when(!side, sqV)).cast("decimal(38,4)").as("__qa"),
        sum(when(side, sqV)).cast("decimal(38,4)").as("__qb"))
  }

  /** The post-stratification algebra over a (drained)
    * [[postStratMoments]] table — shared verbatim by the batch query and
    * the streaming twin.
    */
  def postStratFromMoments(
      m: DataFrame,
      groupCols: Seq[String],
      minN: Long = 2L): DataFrame = {
    require(minN >= 2L, s"bad minN $minN")
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val saD = col("__sa").cast("double")
    val sbD = col("__sb").cast("double")
    val qaD = col("__qa").cast("double")
    val qbD = col("__qb").cast("double")
    val va = (qaD - saD * saD / na) / (na - 1.0)
    val vb = (qbD - sbD * sbD / nb) / (nb - 1.0)
    val dk = saD / na - sbD / nb
    val vk = va / na + vb / nb
    val nk = col("n_a") + col("n_b")
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val strat = m.select(groupCols.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      col("__sa"), col("__sb"), col("__qa"), col("__qb"),
      nk.as("__nk"),
      (col("n_a") >= minN && col("n_b") >= minN).as("__ok"),
      // micro-quantized per-stratum contributions, weighted by exact
      // integer stratum mass BEFORE the single final division
      (dec38(round(dk * lit(1e6), 0)) * dec38(nk)).as("__dq"),
      (dec38(round(vk * lit(1e12), 0)) * dec38(nk) * dec38(nk))
        .as("__vq")): _*)
    val g = strat.groupBy(groupCols.map(col): _*).agg(
      sum(col("n_a")).as("n_a"),
      sum(col("n_b")).as("n_b"),
      count(lit(1)).as("n_strata"),
      min(col("__ok")).as("__allok"),
      sum(col("__nk")).as("__n"),
      sum(col("__dq")).as("__dsum"),
      sum(col("__vq")).as("__vsum"),
      sum(col("__sa")).cast("decimal(38,2)").as("__gsa"),
      sum(col("__sb")).cast("decimal(38,2)").as("__gsb"),
      sum(col("__qa")).cast("decimal(38,4)").as("__gqa"),
      sum(col("__qb")).cast("decimal(38,4)").as("__gqb"))
    val gna = col("n_a").cast("double")
    val gnb = col("n_b").cast("double")
    val gsa = col("__gsa").cast("double")
    val gsb = col("__gsb").cast("double")
    val gva = (col("__gqa").cast("double") - gsa * gsa / gna) /
      (gna - 1.0)
    val gvb = (col("__gqb").cast("double") - gsb * gsb / gnb) /
      (gnb - 1.0)
    val seU2 = gva / gna + gvb / gnb
    val nD = col("__n").cast("double")
    val dPs = col("__dsum").cast("double") / lit(1e6) / nD
    val sePs2 = col("__vsum").cast("double") / lit(1e12) / (nD * nD)
    val okU = col("n_a") >= minN && col("n_b") >= minN &&
      when(col("n_a") >= minN && col("n_b") >= minN, seU2 > 0.0)
        .otherwise(false)
    val okPs = col("__allok") && when(col("__allok"), sePs2 > 0.0)
      .otherwise(false)
    g.withColumn("delta", when(okU, round(gsa / gna - gsb / gnb, 6)))
      .withColumn("se", when(okU, round(sqrt(seU2), 6)))
      .withColumn("delta_ps", when(okPs, round(dPs, 6)))
      .withColumn("se_ps", when(okPs, round(sqrt(sePs2), 6)))
      .withColumn("z_ps", when(okPs, round(dPs / sqrt(sePs2), 6)))
      .withColumn("var_reduction_pct", when(okPs && okU,
        round((lit(1.0) - sePs2 / seU2) * lit(100.0), 4)))
      .select(groupCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("n_strata"), col("delta"), col("se"), col("delta_ps"),
        col("se_ps"), col("z_ps"), col("var_reduction_pct")): _*)
  }

  /** Quantile treatment effect with a Poisson-bootstrap CI — the
    * heavy-tail leg of the A/B panel beside means ([[welchTTest]]),
    * proportions ([[proportionZTest]]) and ratios ([[ratioMetricDelta]]):
    * latency and revenue metrics are READ at P50/P90, where a mean test
    * answers the wrong question (one whale moves the mean, not the
    * median), so the readout is
    *   Δ_p = Q_p(treatment) − Q_p(control)
    * at declared probabilities p, with a bootstrap envelope because the
    * sampling distribution of a quantile difference has no clean closed
    * form.
    *
    * Quantiles are type-1 (inverse CDF) over the exact per-(group, side)
    * VALUE DICTIONARY: target rank t = ceil(p·n) as pure integer math
    * ((num·n + den − 1) div den — the [[graft.scale.Sketches.kllQuantiles]]
    * convention), answered by the dictionary row covering rank t of the
    * cumulative count. The CI is the ONE-SCAN Poisson bootstrap
    * (Chamandy 2012; the [[graft.sample.Samplers.bootstrapRatioSums]]
    * machinery): every unit draws a deterministic Poisson(1) multiplicity
    * per replicate from 16-bit md5-digest windows through the shared
    * [[graft.sample.Samplers.PoissonCdf16]] ladder, each replicate's
    * reweighted dictionary yields its own Q_p per side, and the per-
    * replicate deltas give the envelope (min/max across replicates — the
    * [[graft.scale.Eval.bleuPairedBootstrap]] convention), the
    * micro-quantized moment-form boot_se, and nothing else: the decision
    * surface is the CI, read as "does it cover 0".
    *
    * Scale shape: ONE corpus scan explodes (reps + 1) weights per unit
    * (rep −1 carries weight 1 — the point estimate rides the same
    * dictionary job) and hash-aggregates to the per-(group, side, rep)
    * value dictionaries with map-side combine; the rank windows run
    * per-(group, side, rep) partition at DICTIONARY scale (the
    * kllQuantilesBy discipline — callers with an unbounded value domain
    * quantize values first, exactly as they would for the KLL sketch).
    * NULL gates: a side below `minN` units gates delta and the whole
    * replicate panel to NULL; a replicate that loses a side entirely
    * drops (n_reps reports coverage).
    *
    * Determinism: dictionary counts are exact long sums; quantile values
    * are SELECTED input doubles (never computed); deltas round to 6 and
    * every panel statistic folds over micro-quantized exact decimals.
    */
  def quantileTreatmentEffect(
      df: DataFrame,
      valueCol: String,
      sideCol: String,
      unitCol: String,
      groupCols: Seq[String],
      quantiles: Seq[(Int, Int)] = Seq((1, 2), (9, 10)),
      reps: Int = 32,
      minN: Long = 2L): DataFrame =
    qteFromCounts(
      qteReplicateCounts(df, valueCol, sideCol, unitCol, groupCols, reps),
      groupCols, quantiles, minN)

  /** The associative half of [[quantileTreatmentEffect]]: the per-(group,
    * side, replicate) value dictionaries — exact long count sums, so the
    * whole thing is legal Complete-mode streaming state (each arriving
    * unit adds its deterministic per-replicate Poisson weights); the
    * streaming twin drains this and runs [[qteFromCounts]], sharing the
    * batch oracle verbatim. Replicate −1 is the unweighted point
    * dictionary.
    */
  def qteReplicateCounts(
      df: DataFrame,
      valueCol: String,
      sideCol: String,
      unitCol: String,
      groupCols: Seq[String],
      reps: Int): DataFrame = {
    require(reps >= 2 && reps <= 64, s"bad reps $reps")
    val nDigests = (reps + 2) / 3
    def digestCol(c: Int): Column =
      graft.scale.HashExprs.md5PrefixLong(
        concat(col(unitCol).cast("string"), lit(":c" + c)).cast("binary"),
        15)
    // EXPLODE FIRST, one weight per exploded row: materializing all
    // `reps` weights before the explode (an array of weight structs)
    // builds a reps×|ladder| when-tree in ONE projection — big enough
    // to blow past JIT/codegen budgets and dominate the operator (this
    // exact shape measured ~4× slower at reps = 32). Exploding the bare
    // replicate index and extracting the SINGLE digest window per row
    // keeps the projection ladder-sized; the drawn values are identical
    // (same digest windows, same CDF ladder), so the oracle is untouched.
    val u16 = expr("shiftright(element_at(__hs, " +
      "cast(__rep div 3 as int) + 1), cast((__rep % 3) * 16 as int)) " +
      "& 65535")
    val drawn = graft.sample.Samplers.PoissonCdf16.zipWithIndex
      .foldRight(lit(8L): Column) { case ((t, k), acc) =>
        when(u16 < t, k.toLong).otherwise(acc)
      }
    // spread the digest+explode+ladder pipeline across cores — per-row
    // md5 digests and (reps+1) exploded ladder rows dominate, and the
    // single-row-group corpus scans as ONE task otherwise (Tables.spread;
    // on the streaming twin it repartitions the micro-batch for the same
    // reason — the map stage otherwise inherits the 1-task file split)
    graft.io.Tables.spread(
        df.filter(col(sideCol).isNotNull && col(valueCol).isNotNull))
      .select(groupCols.map(col) ++ Seq(
        col(sideCol).cast("boolean").as("__side"),
        col(valueCol).cast("double").as("__v"),
        array((0 until nDigests).map(digestCol): _*).as("__hs")): _*)
      .select(groupCols.map(col) ++ Seq(col("__side"), col("__v"),
        col("__hs"),
        explode(sequence(lit(-1), lit(reps - 1))).as("__rep")): _*)
      .withColumn("__w",
        when(col("__rep") === -1, lit(1L)).otherwise(drawn))
      .filter(col("__w") > 0L)
      .groupBy(groupCols.map(col) ++
        Seq(col("__side"), col("__rep"), col("__v")): _*)
      .agg(sum(col("__w")).as("__c"))
  }

  /** The quantile-pick + delta-panel algebra over a (drained)
    * [[qteReplicateCounts]] dictionary table.
    */
  def qteFromCounts(
      vc: DataFrame,
      groupCols: Seq[String],
      quantiles: Seq[(Int, Int)],
      minN: Long = 2L): DataFrame = {
    require(quantiles.nonEmpty, "declare at least one quantile")
    quantiles.foreach { case (num, den) =>
      require(num >= 1 && num < den, s"bad quantile $num/$den") }
    require(minN >= 1L, s"bad minN $minN")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = groupCols.map(col)
    val part = g ++ Seq(col("__side"), col("__rep"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*)
    val qlits = array(quantiles.map { case (num, den) =>
      struct(lit(num).as("num"), lit(den).as("den")) }: _*)
    val picked = vc
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(g ++ Seq(col("__side"), col("__rep"), col("__v"),
        col("__c"), col("__cum"), col("__n"),
        explode(qlits).as("__q")): _*)
      .withColumn("__t",
        expr("(__q.num * __n + __q.den - 1) div __q.den"))
      .filter(col("__cum") - col("__c") < col("__t") &&
        col("__cum") >= col("__t"))
      .select(g ++ Seq(col("__q.num").as("__num"),
        col("__q.den").as("__den"), col("__side"), col("__rep"),
        col("__v").as("__qv"), col("__n")): _*)
      // |groups|·|quantiles|·2·(reps+1) rows; referenced by BOTH the
      // point pivot and the replicate panel — pin it once (also the
      // self-join dedup a memory-sink lineage can't do on its own)
      .localCheckpoint(true)
    val keyNames = groupCols ++ Seq("__num", "__den")
    val key = keyNames.map(col)
    val point = picked.filter(col("__rep") === -1)
      .groupBy(key: _*)
      .agg(
        max(when(!col("__side"), col("__n"))).as("n_a"),
        max(when(col("__side"), col("__n"))).as("n_b"),
        max(when(!col("__side"), col("__qv"))).as("q_a"),
        max(when(col("__side"), col("__qv"))).as("q_b"))
    val repD = picked.filter(col("__rep") >= 0)
      .groupBy(key :+ col("__rep"): _*)
      .agg(max(when(!col("__side"), col("__qv"))).as("__qa"),
        max(when(col("__side"), col("__qv"))).as("__qb"))
      .filter(col("__qa").isNotNull && col("__qb").isNotNull)
      .select(key :+ round(col("__qb") - col("__qa"), 6).as("__d"): _*)
      .withColumn("__qz", dec(round(col("__d") * lit(1e6), 0)))
    val panel = repD.groupBy(key: _*)
      .agg(count(lit(1)).as("n_reps"),
        sum(col("__qz")).as("__sq"),
        sum(col("__qz") * col("__qz")).as("__sqq"),
        round(min(col("__d")), 6).as("ci_lo"),
        round(max(col("__d")), 6).as("ci_hi"))
      .withColumn("boot_se", when(col("n_reps") > 1L, round(
        sqrt((dec(col("n_reps")) * col("__sqq") -
          col("__sq") * col("__sq")).cast("double") /
          (col("n_reps").cast("double") *
            (col("n_reps").cast("double") - lit(1.0)))) / 1e6, 6)))
    val ok = col("n_a") >= minN && col("n_b") >= minN
    point.join(panel, keyNames, "left")
      .withColumn("delta", when(ok, round(col("q_b") - col("q_a"), 6)))
      .select(g ++ Seq(
        round(col("__num").cast("double") / col("__den"), 4)
          .as("quantile"),
        col("n_a"), col("n_b"), col("q_a"), col("q_b"), col("delta"),
        when(ok, col("n_reps")).as("n_reps"),
        when(ok, col("boot_se")).as("boot_se"),
        when(ok, col("ci_lo")).as("ci_lo"),
        when(ok, col("ci_hi")).as("ci_hi")): _*)
  }

  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val stacked = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stacked) AS " +
        "(column_name, n_null, n_distinct, min_val, max_val)")
  }

  /** Approximate functional-dependency profiling: for each candidate FD
    * `lhs → rhs`, the g3 violation measure (Kivinen & Mannila 1995, the
    * measure TANE mines against) — the minimum fraction of rows to delete
    * so the FD holds exactly. The schema-level companion to the cell-level
    * error detection the wrangler pipeline runs (reference scope:
    * fast_ai_wrangler's error-detection task flags cell outliers; FD
    * profiling tells you WHICH column rules the data almost satisfies, the
    * standard data-cleaning precursor).
    *
    * ONE corpus scan for ALL candidate FDs: each row explodes into |fds|
    * (fd, lhs-key, rhs-key) structs (the [[benfordDigits]] shape), then
    * one hash-aggregate on (fd, lhs, rhs), one on (fd, lhs) (sum + max of
    * the value counts), one per-fd fold — corpus-linear, partial-agg
    * friendly, no window/join. A real profiling run declares DOZENS of
    * candidate rules; |fds| scans vs one is the whole job at 100 TB
    * (the round-8 per-FD `unionByName`-of-projections form paid exactly
    * that). A group violates iff it holds >1 distinct rhs value; its
    * violation mass is (group size − majority-value count). NULL is an
    * ordinary value on both sides (the [[fdCounts]] key encoding keeps it
    * distinct from the string "null", matching SQL GROUP BY semantics).
    *
    * @param fds (name, lhs columns, rhs column) per candidate dependency
    * @return one row per FD: n_groups, n_rows, violating_groups,
    *         violations, g3 = violations / n_rows (round 6)
    */
  def fdViolations(
      df: DataFrame,
      fds: Seq[(String, Seq[String], String)]): DataFrame =
    fdFromCounts(fdCounts(df, fds))

  /** Benford first-significant-digit panel — the classic numeric-column
    * QA/forensics screen (Benford 1938; Nigrini's audit standard):
    * naturally-generated magnitudes follow P(d) = log10(1 + 1/d), while
    * fabricated, uniform-synthetic, or truncated columns do not. Per
    * (column, digit): observed count/fraction, the Benford expectation,
    * and the chi-square contribution — Σ contrib per column is the test
    * statistic.
    *
    * Digit extraction is exact string math on LONG-cast values (first
    * char of the base-10 magnitude — no float log10 whose boundary
    * rounding could misbin 999.999…), zeros and NULLs excluded. One
    * explode (|cols| rows per input row) + two hash-aggs + a broadcast
    * totals join — linear, no window. Every (column, digit ∈ 1–9) cell is
    * emitted even at n_obs = 0 (a literal digit scaffold left-joins the
    * observed counts): a column that entirely AVOIDS a digit is the
    * strongest fabrication signal the panel exists to catch, and its
    * chi-square contribution is the full n·e — omitting the row would
    * understate the per-column statistic exactly then (round-9 fix).
    *
    * @param df  pre-projected frame: every column in `cols` must cast to
    *            long losslessly (callers convert money to cents first)
    * @return (column, digit, n_obs, frac, benford, chi2_contrib)
    */
  def benfordDigits(df: DataFrame, cols: Seq[String]): DataFrame =
    benfordFromCounts(benfordCounts(df, cols))

  /** [[benfordDigits]]' state half: the per-(column, first-digit)
    * observation counts — ONE associative aggregation over one scan, so
    * it runs unchanged as Complete-mode STREAMING state (the fdCounts /
    * welchMoments convention). Columns with no qualifying value in a
    * batch simply have no rows yet; [[benfordFromCounts]] scaffolds the
    * missing digits of OBSERVED columns at fold time.
    */
  def benfordCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("long").as("__v"))): _*))
        .as("s"))
      .select(col("s.column").as("column"), col("s.__v").as("__v"))
      .filter(col("__v").isNotNull && col("__v") =!= 0L)
      .withColumn("digit",
        substring(abs(col("__v")).cast("string"), 1, 1).cast("int"))
      .groupBy(col("column"), col("digit"))
      .agg(count(lit(1)).as("n_obs"))
  }

  /** The panel fold over [[benfordCounts]]' (drained) state: per-column
    * totals, a literal 1–9 digit scaffold (so zero-occurrence digits
    * surface with chi2_contrib = n·e), expectation and chi-square — all
    * dictionary-scale (9·|cols| rows). The state frame is referenced
    * exactly ONCE (digits collapse into a per-column map, the scaffold
    * explodes against it) — a totals-join-back shape would re-execute the
    * counts subtree and its corpus scan twice. benfordFromCounts ∘
    * benfordCounts = benfordDigits by construction, so the streaming twin
    * shares the batch oracle verbatim.
    */
  def benfordFromCounts(counts: DataFrame): DataFrame = {
    // expected fraction as the ln-ratio form (mirrored verbatim by the
    // oracle so both engines share the double to the last bit that the
    // 6-decimal round could ever see)
    val e = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    counts.groupBy(col("column"))
      .agg(sum("n_obs").as("__n"),
        map_from_entries(collect_list(struct(col("digit"), col("n_obs"))))
          .as("__m"))
      .select(col("column"), col("__n"), col("__m"),
        explode(sequence(lit(1), lit(9))).as("digit"))
      .withColumn("n_obs",
        coalesce(element_at(col("__m"), col("digit")), lit(0L)))
      .withColumn("frac",
        round(col("n_obs").cast("double") / col("__n"), 6))
      .withColumn("benford", round(e, 6))
      .withColumn("chi2_contrib", round(
        pow(col("n_obs") - col("__n") * e, 2) / (col("__n") * e), 6))
      .select(col("column"), col("digit"), col("n_obs"), col("frac"),
        col("benford"), col("chi2_contrib"))
  }

  /** [[fdViolations]] split for the STREAMING twin: the only corpus-mass
    * state — per-(fd, lhs-key, rhs-key) counts — as ONE associative
    * aggregation over ONE scan of the input — each row explodes into
    * |fds| (fd, lhs-key, rhs-key) structs (the [[benfordDigits]] shape) —
    * so it runs unchanged as Complete-mode streaming state (the
    * welchMoments / proportionMoments convention), and a profiling run
    * declaring dozens of candidate rules still reads the corpus once.
    * Keys serialize null-safely AND injectively: \u0001-joined, each
    * value "v"-prefixed with NULL as a \u0002N marker, and the
    * separator/marker chars ESCAPED inside values (\u0002 → \u0002e,
    * \u0001 → \u0002s) — so multi-column keys cannot collide even when
    * values contain the control chars, and the string "null" and the
    * value NULL stay distinct groups. Any injective encoding yields the
    * same counts, which is all the fold reads.
    */
  def fdCounts(
      df: DataFrame,
      fds: Seq[(String, Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty, "no candidate FDs given")
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(c.cast("string"),
        "\u0002", "\u0002e"), "\u0001", "\u0002s")
    def key(cols: Seq[String]): Column = concat_ws("\u0001",
      cols.map(c => when(col(c).isNull, lit("\u0002N"))
        .otherwise(concat(lit("v"), esc(col(c))))): _*)
    df.select(explode(array(fds.map { case (name, lhs, rhs) =>
        struct(lit(name).as("fd"), key(lhs).as("__lk"),
          key(Seq(rhs)).as("__rk"))
      }: _*)).as("s"))
      .select(col("s.fd").as("fd"), col("s.__lk").as("__lk"),
        col("s.__rk").as("__rk"))
      .groupBy(col("fd"), col("__lk"), col("__rk"))
      .agg(count(lit(1)).as("__c"))
  }

  /** The per-lhs fold over [[fdCounts]]' (drained) state — the identical
    * algebra [[fdViolations]] fuses inline, so
    * fdFromCounts ∘ fdCounts = fdViolations on any frame (spec-pinned),
    * and the streaming twin shares the batch oracle verbatim.
    */
  def fdFromCounts(counts: DataFrame): DataFrame =
    counts.groupBy(col("fd"), col("__lk"))
      .agg(sum(col("__c")).as("__n"), max(col("__c")).as("__keep"))
      .groupBy(col("fd"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__n")).as("n_rows"),
        sum(when(col("__n") > col("__keep"), 1L).otherwise(0L))
          .as("violating_groups"),
        sum(col("__n") - col("__keep")).as("violations"))
      .select(col("fd"), col("n_groups"), col("n_rows"),
        col("violating_groups"), col("violations"),
        round(col("violations").cast("double") / col("n_rows"), 6)
          .as("g3"))

  /** [[madOutliers]] replayed from [[valueCounts]]' (drained) per-(group,
    * value) state — the robust-outlier panel's STREAMING fold half: median
    * and MAD by the [[percentilesFromCounts]] rank pick (the identical
    * type-1 arithmetic [[exactPercentiles]] selects with), the deviation
    * distribution DERIVED from the value dictionary (|v − median| carries
    * the value's count; two values can fold onto one deviation, so the
    * deviation dictionary re-aggregates), and the Hampel flag counts read
    * off the deviation dictionary. Every frame here is fold-side
    * dictionary scale — the per-(group, value) counts are the only
    * corpus-mass object and they live in the streaming state store.
    * madFromCounts ∘ [[valueCounts]] = [[madOutliers]] (spec-pinned), so
    * the streaming twin shares the batch oracle verbatim. Callers filter
    * NULL values BEFORE the state aggregation (the batch operator's
    * non-null contract).
    */
  def madFromCounts(
      counts: DataFrame,
      groupCols: Seq[String],
      k: Int = 3): DataFrame = {
    require(k >= 1, s"bad MAD multiplier $k")
    val gcols = groupCols.map(col)
    // pin the dictionary once: it feeds the median branch AND the
    // deviation join (without this the state subtree executes per branch,
    // and a memory-sink view cannot even self-join)
    val c = counts.localCheckpoint(true)
    val med = percentilesFromCounts(c, Seq(500000L), groupCols)
      .select((gcols :+ col("value").as("__med")): _*)
    val dev = c.join(broadcast(med), groupCols)
      .select((gcols ++ Seq(abs(col("__v") - col("__med")).as("__adv"),
        col("__cnt"), col("__med"))): _*)
    val devCounts = dev
      .groupBy((gcols :+ col("__adv").as("__v")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
    val mad = percentilesFromCounts(devCounts, Seq(500000L), groupCols)
      .select((gcols :+ col("value").as("__mad")): _*)
    dev.join(broadcast(mad), groupCols)
      .groupBy(gcols: _*)
      .agg(sum(col("__cnt")).as("n"),
        max(col("__med")).as("median"),
        max(col("__mad")).as("mad"),
        sum(when(col("__adv") > col("__mad") * k, col("__cnt"))
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n"), 6))
  }

  /** Single-column categorical key with NULL kept distinct from the
    * string "null" — the [[fdCounts]] marker convention without the
    * separator machinery (one value, nothing to escape): NULL → \u0002N,
    * value v → "v" + v.
    */
  private def catKey(c: Column): Column =
    when(c.isNull, lit("\u0002N"))
      .otherwise(concat(lit("v"), c.cast("string")))

  /** Categorical-association panel: for each declared column PAIR, the
    * full contingency-table battery — chi-square statistic, degrees of
    * freedom, Cramér's V, and mutual information in bits — the schema-
    * profiling step that tells a curation run which metadata columns are
    * redundant (V ≈ 1: drop one), which are independent (V ≈ 0: both
    * carry signal), and how many bits one predicts of the other (the MI
    * a stratified-sampling or leakage audit reads).
    *
    * ONE corpus scan for ALL pairs: each row explodes into |pairs|
    * (pair, a-key, b-key) structs — the [[fdCounts]] shape — then one
    * hash-aggregate to cell counts; marginals, totals, and the statistics
    * run on the cell dictionary. Zero cells are handled in CLOSED FORM,
    * no scaffold: Σ over all R×C cells of the expected mass e equals n,
    * so χ² = Σ_observed((o·n − ra·cb)²/(n·ra·cb) − ra·cb/n) + n, and
    * zero cells contribute exactly nothing to MI. Levels are OBSERVED
    * distinct values per side (an unobserved category is indistinguishable
    * from a nonexistent one).
    *
    * Determinism across engines: each cell's contribution is one
    * fixed-order double expression (mirrored verbatim by the oracle, the
    * [[benfordFromCounts]] ln-ratio discipline), then cast to
    * DECIMAL(38,12) and summed EXACTLY — decimal addition is associative,
    * so partial-aggregation order cannot move the 6th decimal the way a
    * raw double Σ could.
    *
    * @param pairs (name, columnA, columnB) per declared pair
    * @return per pair: (pair, n, r_levels, c_levels, dof, chi2,
    *         cramers_v, mi_bits) — cramers_v NULL when either side has a
    *         single level (no association is defined), rounds to 6
    */
  def assocPanel(
      df: DataFrame,
      pairs: Seq[(String, String, String)]): DataFrame =
    assocFromCounts(assocCounts(df, pairs))

  /** [[assocPanel]]'s state half: per-(pair, a, b) cell counts as ONE
    * associative aggregation over ONE scan of the input — legal
    * Complete-mode streaming state (the fdCounts / benfordCounts
    * convention), so the streaming twin shares the batch oracle verbatim.
    */
  def assocCounts(
      df: DataFrame,
      pairs: Seq[(String, String, String)]): DataFrame = {
    require(pairs.nonEmpty, "no column pairs given")
    df.select(explode(array(pairs.map { case (name, a, b) =>
        struct(lit(name).as("pair"), catKey(col(a)).as("__ak"),
          catKey(col(b)).as("__bk"))
      }: _*)).as("s"))
      .select(col("s.pair").as("pair"), col("s.__ak").as("__ak"),
        col("s.__bk").as("__bk"))
      .groupBy(col("pair"), col("__ak"), col("__bk"))
      .agg(count(lit(1)).as("__c"))
  }

  /** The panel fold over [[assocCounts]]' (drained) cell state: marginals
    * and totals by two dictionary-scale hash-aggs, broadcast back onto the
    * cells, one decimal-summed pass for χ² and MI. assocFromCounts ∘
    * assocCounts = [[assocPanel]] by construction.
    */
  def assocFromCounts(counts: DataFrame): DataFrame = {
    // pin the cell dictionary once: it feeds both marginals and the final
    // join (without this the corpus-scan state subtree executes 3×, and a
    // memory-sink view cannot even self-join)
    val c = counts.localCheckpoint(true)
    val ra = c.groupBy(col("pair"), col("__ak"))
      .agg(sum(col("__c")).as("__ra"))
    val cb = c.groupBy(col("pair"), col("__bk"))
      .agg(sum(col("__c")).as("__cb"))
    val tot = ra.groupBy(col("pair"))
      .agg(sum(col("__ra")).as("__n"), count(lit(1)).as("r_levels"))
      .join(cb.groupBy(col("pair")).agg(count(lit(1)).as("c_levels")),
        Seq("pair"))
    // per-cell doubles in one FIXED order (mirrored verbatim by the
    // oracle), summed exactly as DECIMAL(38,12)
    val o = col("__c").cast("double")
    val nn = col("__n").cast("double")
    val rc = col("__ra").cast("double") * col("__cb").cast("double")
    val on = o * nn
    val chiCell = (on - rc) * (on - rc) / (nn * rc) - rc / nn
    val miCell = (o / nn) * ((log(on) - log(rc)) / log(lit(2.0)))
    val minSide = least(col("r_levels"), col("c_levels"))
    c
      .join(broadcast(ra), Seq("pair", "__ak"))
      .join(broadcast(cb), Seq("pair", "__bk"))
      .join(broadcast(tot), Seq("pair"))
      .groupBy(col("pair"))
      .agg(max(col("__n")).as("n"),
        max(col("r_levels")).as("r_levels"),
        max(col("c_levels")).as("c_levels"),
        sum(chiCell.cast("decimal(38,12)")).as("__chi"),
        sum(miCell.cast("decimal(38,12)")).as("__mi"))
      .select(col("pair"), col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        round(col("__chi").cast("double") + col("n").cast("double"), 6)
          .as("chi2"),
        when(minSide > 1, round(sqrt(
          (col("__chi").cast("double") + col("n").cast("double")) /
            (col("n") * (minSide - 1)).cast("double")), 6))
          .as("cramers_v"),
        round(col("__mi").cast("double"), 6).as("mi_bits"))
  }

  /** Cohen's kappa inter-annotator agreement — the label-quality gate for
    * any human- or model-annotated training set: observed agreement
    * corrected for the agreement two INDEPENDENT raters with these
    * marginals would reach by chance (two raters who both say "good" 95%
    * of the time agree 90.5% by luck alone; raw agreement is a vanity
    * number exactly when classes are imbalanced).
    *
    * Exact integer algebra end-to-end: with diag = Σ_k c_kk and
    * S = Σ_k ra_k·cb_k, kappa = (po − pe)/(1 − pe) cross-multiplies to
    * (diag·n − S)/(n² − S) — both sides DECIMAL(38,0), one float division
    * at the end (NULL when n² = S, i.e. chance agreement is total and
    * kappa is undefined). NULL labels are categories (the [[fdCounts]]
    * marker, distinct from the string "null").
    *
    * Scale shape: ONE corpus hash-agg to the (group, a, b) cell
    * dictionary; marginals, the pe join (on the shared category space),
    * and the fold all run at dictionary scale.
    *
    * @return per group: (group…, n, po, pe, kappa) — rounded 6
    */
  def cohensKappa(
      df: DataFrame,
      colA: String,
      colB: String,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val gcols = groupCols.map(col)
    val cells = df
      .select((gcols ++ Seq(catKey(col(colA)).as("__ak"),
        catKey(col(colB)).as("__bk"))): _*)
      .groupBy((gcols ++ Seq(col("__ak"), col("__bk"))): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // dictionary-scale; feeds base + both marginals
    val ra = cells.groupBy((gcols :+ col("__ak").as("__k")): _*)
      .agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy((gcols :+ col("__bk").as("__k")): _*)
      .agg(sum(col("__c")).as("__cb"))
    // inner join: a category one rater never uses contributes ra·cb = 0
    val pe = ra.join(cb, groupCols :+ "__k")
      .groupBy(gcols: _*)
      .agg(sum(col("__ra").cast("decimal(38,0)") * col("__cb"))
        .as("__sumrc"))
    val base = cells.groupBy(gcols: _*)
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__ak") === col("__bk"), col("__c")).otherwise(0L))
          .as("__diag"))
    val joined =
      if (groupCols.isEmpty) base.crossJoin(broadcast(pe))
      // left: disjoint rater vocabularies → empty pe group → S = 0
      else base.join(broadcast(pe), groupCols, "left")
    val d = (c: Column) => c.cast("decimal(38,0)")
    val s = coalesce(col("__sumrc"), lit(0L).cast("decimal(38,0)"))
    val n2 = d(col("n")) * d(col("n"))
    joined.select((gcols ++ Seq(col("n"),
      round(col("__diag").cast("double") / col("n"), 6).as("po"),
      round(s.cast("double") /
        (col("n").cast("double") * col("n").cast("double")), 6).as("pe"),
      when(n2 > s, round((d(col("__diag")) * d(col("n")) - s).cast("double") /
        (n2 - s).cast("double"), 6)).as("kappa"))): _*)
  }

  /** Fleiss' kappa (Fleiss, Psych. Bull. 1971) — chance-corrected
    * agreement among m ≥ 2 raters. [[cohensKappa]] is the two-rater
    * form; Fleiss is the LLM-JUDGE-ENSEMBLE form: m deterministic judges
    * each assign one category per subject, and the panel asks how far
    * their agreement beats the chance implied by the POOLED category
    * prevalence — the acceptance gate before trusting a judge ensemble's
    * majority vote as a label source.
    *
    * Exact-integer scheme: with N subjects, T = N·m total ratings,
    * A = Σ_i Σ_j n_ij² (per-subject category-count squares — for fixed m
    * a pure expression: m + 2·#agreeing-pairs), S = Σ_j C_j² over the
    * pooled category totals: P̄o = (A−T)/(T(m−1)), P̄e = S/T², and
    * κ = (T(A−T) − (m−1)·S) / ((m−1)·(T² − S)). Numerator and
    * denominator are exact DECIMAL(38,0) and travel as strings (the
    * [[ksDrift]] bridge rule); the only floats are the final mirrored
    * ratios, rounded 6. κ is NULL when every rating lands in one
    * category (zero chance-corrected range).
    *
    * Scale shape: ONE corpus hash-agg to the joint rating-PROFILE
    * dictionary (≤ |cats|^m rows — [[cohensKappa]]'s cells discipline
    * with m keys); the A fold is row-wise on that dictionary, C_j is one
    * explode over it. NULL ratings are ordinary categories ([[catKey]]).
    */
  def fleissKappa(df: DataFrame, raterCols: Seq[String]): DataFrame =
    fleissFromProfiles(fleissProfileCounts(df, raterCols), raterCols.size)

  /** [[fleissKappa]]'s state half: per-rating-profile counts — ONE
    * associative aggregation over one scan (the kAnonymityCounts
    * convention), so it runs unchanged as Complete-mode STREAMING state;
    * the panel fold replays on the drained dictionary.
    */
  def fleissProfileCounts(df: DataFrame, raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2, "fleissKappa needs at least 2 raters")
    val rs = raterCols.indices.map(i => s"__r$i")
    df.select(raterCols.zip(rs).map { case (c, r) =>
        catKey(col(c)).as(r) }: _*)
      .groupBy(rs.map(col): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** The κ fold over [[fleissProfileCounts]]' (drained) state —
    * fleissFromProfiles ∘ fleissProfileCounts = [[fleissKappa]] by
    * construction (spec-pinned), so the streaming twin shares the batch
    * oracle verbatim. `m` = number of rater columns in the state.
    */
  def fleissFromProfiles(prof0: DataFrame, m: Int): DataFrame = {
    val rs = (0 until m).map(i => s"__r$i")
    // dictionary-scale; feeds the A fold AND the category explode
    val prof = prof0.localCheckpoint(true)
    val eqPairs = (for { i <- 0 until m; j <- (i + 1) until m } yield
      when(col(rs(i)) === col(rs(j)), 1L).otherwise(0L))
      .reduce(_ + _)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val a = prof.agg(
      sum(col("__c")).as("n_subjects"),
      sum(d(col("__c")) * d(eqPairs * 2L + m.toLong)).as("__a"))
    val s = prof
      .select(explode(array(rs.map(col): _*)).as("__k"), col("__c"))
      .groupBy(col("__k")).agg(sum(col("__c")).as("__cj"))
      .agg(sum(d(col("__cj")) * d(col("__cj"))).as("__s"))
    val dd = (c: Column) => c.cast("double")
    a.crossJoin(broadcast(s))
      .withColumn("__t", d(col("n_subjects")) * m.toLong)
      .withColumn("kappa_num",
        (col("__t") * (col("__a") - col("__t")) -
          col("__s") * (m - 1).toLong).cast("decimal(38,0)"))
      .withColumn("kappa_den",
        ((col("__t") * col("__t") - col("__s")) * (m - 1).toLong)
          .cast("decimal(38,0)"))
      .select(col("n_subjects"), lit(m.toLong).as("n_raters"),
        round(dd(col("__a") - col("__t")) /
          (dd(col("__t")) * lit((m - 1).toDouble)), 6).as("po"),
        round(dd(col("__s")) / (dd(col("__t")) * dd(col("__t"))), 6)
          .as("pe"),
        col("kappa_num").cast("string").as("kappa_num"),
        col("kappa_den").cast("string").as("kappa_den"),
        when(col("kappa_den") =!= 0,
          round(dd(col("kappa_num")) / dd(col("kappa_den")), 6))
          .as("kappa"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 1970; the
    * content-analysis standard) — [[fleissKappa]]'s MISSING-TOLERANT
    * sibling: Fleiss needs every rater to rate every subject; real judge
    * ensembles time out, abstain, and get sampled, and α is the
    * agreement coefficient defined for exactly that — units keep
    * whatever ratings they have, units with fewer than two are dropped,
    * and both observed and expected disagreement come from the
    * coincidence matrix the remaining ratings span.
    *
    * Exact-integer scheme: per unit u with m_u ≥ 2 ratings, the
    * coincidence contribution is 1/(m_u−1) per ordered rating pair —
    * fractional, so everything scales by L = lcm(1..m−1):
    * S'_o = Σ_u 2·(#disagreeing unordered pairs)·(L/(m_u−1)) is an exact
    * integer, category marginals n_c are plain rating counts, and
    * α = 1 − (n−1)·S_o/S_e (S_e = n² − Σ_c n_c²) becomes
    * num = S_e·L − (n−1)·S'_o over den = S_e·L — both exact
    * DECIMAL(38,0), travelling as strings (the [[ksDrift]] rule). The
    * only floats are the mirrored D_o/D_e/α ratios, rounded 6. α is
    * NULL when S_e = 0 (every kept rating in one category).
    *
    * Scale shape: the SAME joint rating-profile dictionary
    * [[fleissProfileCounts]] produces (ONE corpus hash-agg; the missing
    * sentinel is just another profile key) — so the streaming twin
    * shares Fleiss' state; the m_u/disagreement folds are row-wise
    * expressions on that dictionary, the marginals one explode over it.
    */
  def krippendorffAlpha(df: DataFrame, raterCols: Seq[String]): DataFrame =
    krippendorffFromProfiles(fleissProfileCounts(df, raterCols),
      raterCols.size)

  /** The α fold over [[fleissProfileCounts]]' (drained) state —
    * krippendorffFromProfiles ∘ fleissProfileCounts =
    * [[krippendorffAlpha]] by construction (spec-pinned). NULL ratings
    * arrive as the catKey sentinel and are treated as MISSING here
    * (Fleiss' fold treats them as a category — the two panels answer
    * different questions from the same state).
    */
  def krippendorffFromProfiles(prof0: DataFrame, m: Int): DataFrame = {
    val rs = (0 until m).map(i => s"__r$i")
    val L = (1 until m).map(BigInt(_)).reduce((a, b) => a * b / a.gcd(b))
      .toLong
    val prof = prof0.localCheckpoint(true) // feeds the S_o fold + explode
    val miss = (r: String) => col(r) === lit("\u0002N")
    val mu = rs.map(r => when(miss(r), 0L).otherwise(1L)).reduce(_ + _)
    val disagree = (for { i <- 0 until m; j <- (i + 1) until m } yield
      when(!miss(rs(i)) && !miss(rs(j)) && col(rs(i)) =!= col(rs(j)), 1L)
        .otherwise(0L)).reduce(_ + _)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val included = prof.withColumn("__mu", mu).filter(col("__mu") >= 2L)
      .localCheckpoint(true) // S_o fold + marginal explode
    val so = included.agg(
      count(lit(1)).as("__nprof"),
      sum(col("__c")).as("n_units"),
      sum(d(col("__c")) * d(disagree * 2L) *
        d(expr(s"${L}L div (__mu - 1)"))).as("__so"))
    val marg = included
      .select(explode(array(rs.map(col): _*)).as("__k"), col("__c"),
        col("__mu"))
      .filter(col("__k") =!= lit("\u0002N"))
      .groupBy(col("__k")).agg(sum(col("__c")).as("__nc"))
      .agg(sum(col("__nc")).as("n_ratings"),
        sum(d(col("__nc")) * d(col("__nc"))).as("__snc2"))
    val dd = (c: Column) => c.cast("double")
    so.crossJoin(broadcast(marg))
      .withColumn("__se",
        (d(col("n_ratings")) * d(col("n_ratings")) - col("__snc2"))
          .cast("decimal(38,0)"))
      .withColumn("alpha_num",
        (col("__se") * L - (d(col("n_ratings")) - 1L) * col("__so"))
          .cast("decimal(38,0)"))
      .withColumn("alpha_den", (col("__se") * L).cast("decimal(38,0)"))
      .select(col("n_units"), col("n_ratings"),
        round(dd(col("__so")) / (lit(L.toDouble) * dd(col("n_ratings"))),
          6).as("d_o"),
        round(dd(col("__se")) /
          (dd(col("n_ratings")) * (dd(col("n_ratings")) - 1.0)), 6)
          .as("d_e"),
        col("alpha_num").cast("string").as("alpha_num"),
        col("alpha_den").cast("string").as("alpha_den"),
        when(col("alpha_den") =!= 0,
          round(dd(col("alpha_num")) / dd(col("alpha_den")), 6))
          .as("alpha"))
  }

  /** Join/groupBy-key skew profiler — the pre-flight shuffle advisor a
    * 100 TB run consults BEFORE committing to a partitioning: the key-mass
    * distribution (max share, top-10 share, exact median/p99 key mass, the
    * Gini concentration index) and the salt factor that would level the
    * hottest key against an average partition's load
    * (ceil(max_mass · partitions / n_rows) — the subkey count AQE-style
    * salting needs so no reducer holds more than ~an average share).
    *
    * Two collapses before any non-linear step: corpus → per-key mass (ONE
    * hash-agg, key-dictionary scale) → mass histogram (counts-of-counts,
    * typically tiny). Gini runs EXACTLY on the histogram: over runs of c
    * keys sharing mass m starting above s keys, 2·Σ i·x_i =
    * Σ m·(2·c·s + c·(c+1)) in DECIMAL(38,0) via the range-partitioned
    * prefix-sum scaffold (never a corpus-scale window); ties need no
    * tie-break — any ordering of equal values yields the same sum. The
    * top-10 mass reads off the same cumulative (take min(c, 10 − keys
    * above) from each run), and p50/p99 key mass reuse
    * [[percentilesFromCounts]]' type-1 rank pick.
    *
    * NULL keys group like SQL GROUP BY (one NULL key); a join would drop
    * them, so a fat NULL group showing up here is itself a finding.
    *
    * @param partitions the shuffle parallelism the salt factor is sized
    *                   against (spark.sql.shuffle.partitions of the target
    *                   job)
    * @return ONE row: (n_rows, n_keys, max_mass, max_share, top10_share,
    *         p50_mass, p99_mass, gini, salt_factor) — shares rounded 6
    */
  def skewProfile(
      df: DataFrame,
      keyCols: Seq[String],
      partitions: Int): DataFrame = {
    require(keyCols.nonEmpty, "no key columns given")
    skewFromSizes(kAnonymityCounts(df, keyCols), partitions)
  }

  /** The skew fold over [[kAnonymityCounts]]' (drained) per-key class
    * sizes — the SAME state relation the k-anonymity twin holds, so the
    * STREAMING skew monitor is free: skewFromSizes ∘ kAnonymityCounts =
    * [[skewProfile]] (the key fingerprint is injective, so the mass
    * multiset is identical), and the twin shares the batch oracle
    * verbatim. Everything below the first collapse is histogram-scale.
    */
  def skewFromSizes(cls: DataFrame, partitions: Int): DataFrame = {
    require(partitions >= 1, s"bad partition count $partitions")
    val mc = cls.groupBy(col("__sz").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true) // histogram scale; feeds cum + pct + totals
    val cum = graft.sample.Samplers.globalCumSum(mc, Seq("__v"), "__cnt",
      cumCol = "__ck")
    val t0 = mc.agg(sum(col("__cnt")).as("__k"),
      sum(col("__v").cast("decimal(38,0)") * col("__cnt")).as("__t"),
      max(col("__v")).as("max_mass"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val below = col("__ck") - col("__cnt")
    val take = greatest(lit(0L),
      least(col("__cnt"), lit(10L) - (col("__k") - col("__ck"))))
    val t1 = cum.crossJoin(broadcast(t0))
      .agg(max(col("__k")).as("n_keys"),
        max(col("__t")).as("__t"),
        max(col("max_mass")).as("max_mass"),
        sum(d(col("__v")) * (lit(2) * d(col("__cnt")) * d(below) +
          d(col("__cnt")) * (d(col("__cnt")) + 1))).as("__g2"),
        sum(d(col("__v")) * d(take)).as("__top10"))
    val pct = percentilesFromCounts(mc, Seq(500000L, 990000L))
      .agg(max(when(col("q") === 0.5, col("value"))).as("p50_mass"),
        max(when(col("q") === 0.99, col("value"))).as("p99_mass"))
    t1.crossJoin(broadcast(pct))
      .withColumn("n_rows", col("__t").cast("long"))
      .select(col("n_rows"), col("n_keys"), col("max_mass"),
        round(col("max_mass").cast("double") / col("n_rows").cast("double"),
          6).as("max_share"),
        round(col("__top10").cast("double") / col("n_rows").cast("double"),
          6).as("top10_share"),
        col("p50_mass"), col("p99_mass"),
        round((col("__g2") - (d(col("n_keys")) + 1) * col("__t"))
          .cast("double") /
          (d(col("n_keys")) * col("__t")).cast("double"), 6).as("gini"),
        expr(s"(max_mass * $partitions + n_rows - 1) div n_rows")
          .as("salt_factor"))
  }

  /** Effective sample size of an importance-weight column — the
    * degenerate-weights alarm for every weighted-selection scheme
    * ([[graft.scale.TextAnalysis]]'s DSIR/DoReMi/temperature weights):
    * ESS = (Σw)²/Σw² (Kish). ESS ≈ n means the weights are nearly
    * uniform (the reweighting does nothing); ESS ≪ n means a handful of
    * rows dominate — the selection is really sampling a tiny corpus and
    * variance explodes. max_w_share names how bad the worst row is.
    *
    * Exactness: weights enter as integer micro-units (the caller's
    * contract — the repo's weight producers are exact integers or
    * micro-quantized); Σw and Σw² accumulate as DECIMAL(38,0), so the
    * two closing divisions are the only float ops (round 6).
    *
    * @return ONE row: (n, sum_w, ess, ess_frac, max_w_share)
    */
  def effectiveSampleSize(df: DataFrame, weightCol: String): DataFrame = {
    val w = col(weightCol).cast("decimal(38,0)")
    df.filter(col(weightCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(w).as("__sw"), sum(w * w).as("__sww"),
        max(w).as("__mx"))
      .select(col("n"), col("__sw").cast("long").as("sum_w"),
        when(col("__sww") > 0, round(
          (col("__sw").cast("double") * col("__sw").cast("double")) /
            col("__sww").cast("double"), 6)).as("ess"),
        when(col("__sww") > 0, round(
          (col("__sw").cast("double") * col("__sw").cast("double")) /
            col("__sww").cast("double") / col("n").cast("double"), 6))
          .as("ess_frac"),
        when(col("__sw") > 0, round(
          col("__mx").cast("double") / col("__sw").cast("double"), 6))
          .as("max_w_share"))
  }

  /** Joinability / FK-candidate discovery (the Aurum-style profiler) —
    * the DISCOVERY complement to [[riProfile]] (which audits DECLARED
    * edges): for every column pair between two tables, the exact
    * value-set overlap — containment both ways and Jaccard. A high
    * child→parent containment is the "this joins cleanly" signal; the
    * pair list is how you find the edge to declare in the first place.
    *
    * Semantics: values compare as STRINGS (cross-type joinability — an
    * int 5 and a string "5" do join after a cast, which is what the
    * profiler must surface); NULLs never join and are excluded; only
    * pairs sharing ≥1 value appear (it is a candidate report).
    *
    * Scale shape: per table, one explode to (column, value) + one
    * DISTINCT (column-dictionary mass); one value-keyed equi-join whose
    * per-value fan-out is bounded by |colsA|·|colsB|; dictionary-scale
    * rollups. Corpora never meet row-to-row.
    *
    * @return per overlapping pair: (col_a, col_b, n_a, n_b, n_common,
    *         containment_a — |∩|/n_a, containment_b, jaccard) round 6
    */
  def joinability(
      left: DataFrame,
      leftCols: Seq[String],
      right: DataFrame,
      rightCols: Seq[String]): DataFrame = {
    require(leftCols.nonEmpty && rightCols.nonEmpty, "no columns given")
    def dict(df: DataFrame, cols: Seq[String], side: String): DataFrame =
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as(side), col(c).cast("string").as("__v"))): _*))
          .as("s"))
        .select(col(s"s.$side").as(side), col("s.__v").as("__v"))
        .filter(col("__v").isNotNull)
        .distinct()
        .localCheckpoint(true) // feeds its per-column count + the join
    val va = dict(left, leftCols, "col_a")
    val vb = dict(right, rightCols, "col_b")
    val na = va.groupBy(col("col_a")).agg(count(lit(1)).as("n_a"))
    val nb = vb.groupBy(col("col_b")).agg(count(lit(1)).as("n_b"))
    va.join(vb, Seq("__v"))
      .groupBy(col("col_a"), col("col_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(na), Seq("col_a"))
      .join(broadcast(nb), Seq("col_b"))
      .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") / col("n_a").cast("double"),
          6).as("containment_a"),
        round(col("n_common").cast("double") / col("n_b").cast("double"),
          6).as("containment_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Candidate-key discovery — the uniqueness profile that decides which
    * column combos can serve as join/partition/dedup keys: for each
    * declared combo, row count, distinct-tuple count, duplicate mass, the
    * largest duplicate class, and the exact uniqueness ratio (TANE-family
    * key mining's measure; `is_key` iff every tuple is unique). The
    * planning companion to [[fdViolations]] (keys are the FDs with an
    * empty rhs) and [[skewProfile]] (a failed key's max_group is the skew
    * you would shuffle on).
    *
    * ONE corpus scan for ALL combos: each row explodes into |combos|
    * (combo, tuple-key) structs — the [[fdCounts]] shape and its injective
    * null-safe key encoding (NULL distinct from "null", separator-poison
    * safe) — then one hash-agg to tuple classes, one per-combo fold.
    *
    * @param combos (name, columns) per candidate key
    * @return per combo: (combo, n_rows, n_distinct, duplicates,
    *         max_group, uniqueness — round 6, is_key)
    */
  /** Format-conformance profiler — the regex-validity panel behind schema
    * contracts: for each declared (rule, column, pattern), how many rows
    * are NULL, match, or violate. The drift alarm for stringly-typed
    * feeds (an upstream format change shows up here before it corrupts a
    * parse downstream). ONE corpus scan for ALL rules (the fd explode
    * shape); the match evaluates inside the explode struct, so each rule
    * costs one regex per row, no per-rule pass.
    *
    * Patterns must be ANCHORED (`^...$`): both Spark's `rlike` and the
    * oracle's `regexp_matches` are find-anywhere, and anchoring is also
    * what keeps the two regex dialects on their common portable subset.
    *
    * @param rules (name, column, anchored Java-compatible regex)
    * @return per rule: (rule, n_rows, n_null, n_match, n_violation,
    *         violation_rate — of non-null rows, round 6, NULL when the
    *         column is all-NULL)
    */
  def conformanceProfile(
      df: DataFrame,
      rules: Seq[(String, String, String)]): DataFrame = {
    require(rules.nonEmpty, "no conformance rules given")
    df.select(explode(array(rules.map { case (name, c, pattern) =>
        struct(lit(name).as("rule"), col(c).isNull.as("__nl"),
          col(c).cast("string").rlike(pattern).as("__ok"))
      }: _*)).as("s"))
      .select(col("s.rule").as("rule"), col("s.__nl").as("__nl"),
        col("s.__ok").as("__ok"))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__nl"), 1L).otherwise(0L)).as("n_null"),
        sum(when(!col("__nl") && col("__ok"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col("rule"), col("n_rows"), col("n_null"), col("n_match"),
        (col("n_rows") - col("n_null") - col("n_match"))
          .as("n_violation"),
        when(col("n_rows") - col("n_null") > 0,
          round((col("n_rows") - col("n_null") - col("n_match"))
            .cast("double") /
            (col("n_rows") - col("n_null")).cast("double"), 6))
          .as("violation_rate"))
  }

  /** Multi-pair Pearson panel — [[exactCorrelation]] generalized the way
    * [[assocPanel]] generalizes the single chi-square: ALL declared
    * numeric column pairs share ONE corpus scan (per-row explode into
    * pair structs), each pair's moments accumulating as exact decimals
    * (the [[exactCorrelation]] scheme — the n·Σxx − (Σx)² cancellation
    * happens on exact sums, never floats). Rows where either side is
    * NULL are excluded per pair. Zero-variance pairs emit NULL (not NaN).
    *
    * @param pairs (name, xColumn, yColumn) per declared pair
    * @return per pair: (pair, n, pearson — round 6)
    */
  def corrMatrix(
      df: DataFrame,
      pairs: Seq[(String, String, String)]): DataFrame =
    corrFromMoments(corrMoments(df, pairs))

  /** [[corrMatrix]]'s state half: per-pair EXACT decimal moments from one
    * scan — decimal sums are associative, so this runs unchanged as
    * Complete-mode streaming state (|pairs| keys).
    */
  def corrMoments(
      df: DataFrame,
      pairs: Seq[(String, String, String)]): DataFrame = {
    require(pairs.nonEmpty, "no column pairs given")
    // spread the moment projection: the |pairs|× explode and the six
    // exact-decimal products/sums per pair would otherwise run on the
    // single-task corpus scan (batch) or single-task micro-batch map
    // (streaming twin) — Tables.spread rationale; projected narrow first
    // so only the pair columns cross the round-robin exchange
    val need = pairs.flatMap { case (_, xc, yc) => Seq(xc, yc) }.distinct
    graft.io.Tables.spread(df.select(need.map(col): _*))
      .select(explode(array(pairs.map { case (name, xc, yc) =>
        struct(lit(name).as("pair"),
          col(xc).cast("decimal(18,2)").as("__x"),
          col(yc).cast("decimal(18,2)").as("__y"))
      }: _*)).as("s"))
      .select(col("s.pair").as("pair"), col("s.__x").as("__x"),
        col("s.__y").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__dsx"),
        sum(col("__y")).as("__dsy"),
        sum((col("__x") * col("__x")).cast("decimal(38,4)")).as("__dsxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,4)")).as("__dsyy"),
        sum((col("__x") * col("__y")).cast("decimal(38,4)")).as("__dsxy"))
  }

  /** The Pearson fold over [[corrMoments]]' (drained) exact-decimal
    * state — corrFromMoments ∘ corrMoments = [[corrMatrix]], so the
    * streaming twin shares the batch oracle verbatim (the cast to double
    * happens here, AFTER the exact sums, in both paths).
    */
  def corrFromMoments(moments: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    val varx = nD * col("sxx") - col("sx") * col("sx")
    val vary = nD * col("syy") - col("sy") * col("sy")
    moments
      .select(col("pair"), col("n"),
        col("__dsx").cast("double").as("sx"),
        col("__dsy").cast("double").as("sy"),
        col("__dsxx").cast("double").as("sxx"),
        col("__dsyy").cast("double").as("syy"),
        col("__dsxy").cast("double").as("sxy"))
      .select(col("pair"), col("n"),
        when(varx > 0.0 && vary > 0.0,
          round((nD * col("sxy") - col("sx") * col("sy")) /
            (sqrt(varx) * sqrt(vary)), 6)).as("pearson"))
  }

  /** Weight-of-evidence / information-value panel (Siddiqi's credit-
    * scoring standard) — the feature-evaluation step before training any
    * quality classifier: per bin of a candidate feature, how strongly the
    * bin separates positives from negatives (WOE, log-odds vs the
    * marginal) and its contribution to the feature's total IV
    * (Σ iv_contrib; < 0.02 = useless feature, > 0.5 = suspiciously
    * strong — the leakage smell). The supervised companion to
    * [[assocPanel]]'s unsupervised MI.
    *
    * Laplace-smoothed (+0.5 per cell, +0.5·|bins| per margin) so empty
    * sides stay finite — the standard adjusted WOE. Counts are exact
    * longs from ONE conditional hash-agg; the smoothed fractions are one
    * mirrored fixed-order double expression each, rounded 6. A NULL bin
    * is a real bin (the missing-value bucket carries signal in every
    * credit model).
    *
    * @return per bin: (bin, n, n_pos, n_neg, woe, iv_contrib)
    */
  def woeIv(df: DataFrame, labelCol: String, binCol: String): DataFrame =
    woeFromCounts(woeBinCounts(df, labelCol, binCol))

  /** [[woeIv]]'s state half: per-bin positive/negative counts — ONE
    * conditional associative aggregation, legal Complete-mode streaming
    * state (bin-dictionary keys).
    */
  def woeBinCounts(
      df: DataFrame, labelCol: String, binCol: String): DataFrame = df
    .select(col(binCol).as("bin"),
      col(labelCol).cast("boolean").as("__y"))
    .groupBy(col("bin"))
    .agg(count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(!col("__y") || col("__y").isNull, 1L).otherwise(0L))
        .as("n_neg"))

  /** The smoothed-WOE fold over [[woeBinCounts]]' (drained) state —
    * woeFromCounts ∘ woeBinCounts = [[woeIv]], so the streaming twin
    * shares the batch oracle verbatim.
    */
  def woeFromCounts(cells0: DataFrame): DataFrame = {
    val cells = cells0
      .localCheckpoint(true) // bin dictionary; feeds totals + output
    val tot = cells.agg(sum(col("n_pos")).as("__p"),
      sum(col("n_neg")).as("__q"), count(lit(1)).as("__k"))
    val gf = (col("n_pos").cast("double") + 0.5) /
      (col("__p").cast("double") + lit(0.5) * col("__k").cast("double"))
    val bf = (col("n_neg").cast("double") + 0.5) /
      (col("__q").cast("double") + lit(0.5) * col("__k").cast("double"))
    cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        round(log(gf / bf), 6).as("woe"),
        round((gf - bf) * log(gf / bf), 6).as("iv_contrib"))
  }

  /** Referential-integrity profiler — the cross-table companion to
    * [[keyCandidates]]: for each declared FK edge, how many child rows
    * point at a missing parent (orphans — the joins that silently drop
    * rows), how many carry a NULL FK (legal in SQL, excluded from orphan
    * mass), and how many parent keys nothing references (the dead
    * dimension rows a pruning pass could drop). The pre-flight audit for
    * any star-schema pipeline: a nonzero orphan rate means every inner
    * join downstream is quietly deleting data.
    *
    * Per edge: one hash-agg per side to the key dictionaries, ONE
    * full-outer dictionary join — child/parent corpora are scanned once
    * each and never meet row-to-row. Edges union at the 1-row panel
    * level (control-plane union, the constraints convention).
    *
    * @param fks (name, child, childKey, parent, parentKey) per edge
    * @return per edge: (fk, n_child, null_fk_rows, orphan_rows,
    *         orphan_keys, orphan_rate — of non-null child rows, round 6,
    *         NULL when no non-null child rows, parent_keys,
    *         unreferenced_parent_keys)
    */
  def riProfile(
      fks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    fks.map { case (name, child, childKey, parent, parentKey) =>
      val ch = child.groupBy(col(childKey).as("__k"))
        .agg(count(lit(1)).as("__c"))
      val pk = parent.select(col(parentKey).as("__k"))
        .filter(col("__k").isNotNull).distinct()
        .withColumn("__p", lit(1))
      ch.join(pk, Seq("__k"), "full_outer")
        .agg(
          sum(when(col("__c").isNotNull, col("__c")).otherwise(0L))
            .as("n_child"),
          sum(when(col("__k").isNull, col("__c")).otherwise(0L))
            .as("null_fk_rows"),
          sum(when(col("__k").isNotNull && col("__p").isNull, col("__c"))
            .otherwise(0L)).as("orphan_rows"),
          sum(when(col("__k").isNotNull && col("__p").isNull, 1L)
            .otherwise(0L)).as("orphan_keys"),
          sum(when(col("__p").isNotNull, 1L).otherwise(0L))
            .as("parent_keys"),
          sum(when(col("__p").isNotNull && col("__c").isNull, 1L)
            .otherwise(0L)).as("unreferenced_parent_keys"))
        .select(lit(name).as("fk"), col("n_child"), col("null_fk_rows"),
          col("orphan_rows"), col("orphan_keys"),
          when(col("n_child") - col("null_fk_rows") > 0,
            round(col("orphan_rows").cast("double") /
              (col("n_child") - col("null_fk_rows")).cast("double"), 6))
            .as("orphan_rate"),
          col("parent_keys"), col("unreferenced_parent_keys"))
    }.reduce(_ unionByName _)

  def keyCandidates(
      df: DataFrame,
      combos: Seq[(String, Seq[String])]): DataFrame = {
    require(combos.nonEmpty, "no candidate keys given")
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(c.cast("string"),
        "\u0002", "\u0002e"), "\u0001", "\u0002s")
    def key(cols: Seq[String]): Column = concat_ws("\u0001",
      cols.map(c => when(col(c).isNull, lit("\u0002N"))
        .otherwise(concat(lit("v"), esc(col(c))))): _*)
    df.select(explode(array(combos.map { case (name, cols) =>
        struct(lit(name).as("combo"), key(cols).as("__k"))
      }: _*)).as("s"))
      .select(col("s.combo").as("combo"), col("s.__k").as("__k"))
      .groupBy(col("combo"), col("__k"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("combo"))
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") - 1).as("duplicates"),
        max(col("__c")).as("max_group"))
      .select(col("combo"), col("n_rows"), col("n_distinct"),
        col("duplicates"), col("max_group"),
        round(col("n_distinct").cast("double") /
          col("n_rows").cast("double"), 6).as("uniqueness"),
        (col("max_group") === 1L).as("is_key"))
  }
}
