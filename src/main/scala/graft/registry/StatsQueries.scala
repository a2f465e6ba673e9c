package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.metrics.Metrics
import graft.scale.{Baskets, TextAnalysis}
import graft.streaming.Streams
import QueryHelpers._

/** Statistics and data quality ([[graft.metrics.Metrics]], sketches, skew,
  * baskets): profiles, constraints, drift and A/B tests, quantiles, privacy
  * panels and the streaming twins whose drained state folds into the batch
  * answer.
  */
object StatsQueries {

  /** The standard quantile probe set of the KLL sketch queries. */
  private val kllProbes: Seq[(Int, Int)] =
    Seq((1, 100), (5, 100), (10, 100), (25, 100), (50, 100), (75, 100),
      (90, 100), (95, 100), (99, 100))

  /** Three deterministic quality "judges" over documents — the demo
    * rater ensemble the Fleiss-kappa panel grades: length class,
    * token-count class, lexical-diversity class (exact cross-multiplied
    * thresholds, no float ratios), all on the shared lo/mid/hi scale.
    */
  private def qualityRaters(df: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    df.withColumn("__nt", size(toks))
      .withColumn("__nd", size(array_distinct(toks)))
      .withColumn("r_len",
        when(col("n_chars") < 200, "lo")
          .when(col("n_chars") < 800, "mid").otherwise("hi"))
      .withColumn("r_tok",
        when(col("__nt") < 40, "lo")
          .when(col("__nt") < 160, "mid").otherwise("hi"))
      .withColumn("r_div",
        when(col("__nd") * 10 < col("__nt") * 5, "lo")
          .when(col("__nd") * 10 < col("__nt") * 8, "mid")
          .otherwise("hi"))
  }

  /** Exact-percentile oracle: the DEFINITION (rank = ceil(n·q) in integer
    * arithmetic, value = rank-th smallest) via a plain window — DuckDB can
    * afford the full per-group sort the Spark side exists to avoid.
    */
  private def percentilesOracle(qMicro: Seq[Long]): String = {
    val vals = qMicro.map(q => s"($q)").mkString(", ")
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag, v,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM b),
       |q AS (SELECT qm FROM (VALUES $vals) t(qm))
       |SELECT l_returnflag, round(qm / 1000000.0, 6) AS q, v AS value
       |FROM r JOIN q ON rn = (n * qm + 999999) // 1000000
       |ORDER BY l_returnflag, q""".stripMargin
  }

  /** Quantile-treatment-effect replay: the (b − 1)-indexed Poisson
    * ladder (b = 0 is the unweighted point replicate) reweights the
    * per-(type, side, rep) value dictionaries; type-1 quantile = the
    * dictionary row covering rank ceil(p·n) (pure integer target), then
    * the same pivot/delta/micro-quantized-panel algebra as the Spark
    * side, gates on n_a/n_b >= 2.
    */
  private def quantileEffectOracleSql(reps: Int): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    val w = {
      val u = "((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)" +
        " || ':c' || CAST((b - 1) // 3 AS VARCHAR)), 1, 15)) AS BIGINT)" +
        " >> CAST(((b - 1) % 3) * 16 AS INT)) & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    s"""WITH u AS (
       |  SELECT event_type, (user_id % 2 = 0) AS side, value AS v,
       |    event_id
       |  FROM events WHERE value IS NOT NULL),
       |wts AS (
       |  SELECT event_type, side, v, CAST(b - 1 AS INT) AS rep,
       |    CASE WHEN b = 0 THEN 1 ELSE $w END AS w
       |  FROM u, UNNEST(range(0, ${reps + 1})) AS t(b)),
       |vc AS MATERIALIZED (
       |  SELECT event_type, side, rep, v, CAST(SUM(w) AS BIGINT) AS c
       |  FROM wts WHERE w > 0 GROUP BY 1, 2, 3, 4),
       |cum AS (
       |  SELECT *,
       |    CAST(SUM(c) OVER (PARTITION BY event_type, side, rep
       |      ORDER BY v) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type, side, rep)
       |      AS BIGINT) AS n
       |  FROM vc),
       |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS q(num, den)),
       |pick AS (
       |  SELECT event_type, num, den, side, rep, v AS qv, n
       |  FROM cum, qs
       |  WHERE cum - c < (num * n + den - 1) // den
       |    AND cum >= (num * n + den - 1) // den),
       |pt AS (
       |  SELECT event_type, num, den,
       |    MAX(CASE WHEN NOT side THEN n END) AS n_a,
       |    MAX(CASE WHEN side THEN n END) AS n_b,
       |    MAX(CASE WHEN NOT side THEN qv END) AS q_a,
       |    MAX(CASE WHEN side THEN qv END) AS q_b
       |  FROM pick WHERE rep = -1 GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT event_type, num, den, rep,
       |    MAX(CASE WHEN NOT side THEN qv END) AS qa,
       |    MAX(CASE WHEN side THEN qv END) AS qb
       |  FROM pick WHERE rep >= 0 GROUP BY 1, 2, 3, 4),
       |rd AS (
       |  SELECT event_type, num, den, d,
       |    CAST(ROUND(d * 1e6) AS HUGEINT) AS q
       |  FROM (SELECT event_type, num, den, ROUND(qb - qa, 6) AS d
       |        FROM pr WHERE qa IS NOT NULL AND qb IS NOT NULL)),
       |panel AS (
       |  SELECT event_type, num, den,
       |    CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CASE WHEN COUNT(*) > 1 THEN
       |      ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |        - SUM(q) * SUM(q) AS DOUBLE)
       |        / (CAST(COUNT(*) AS DOUBLE)
       |           * (CAST(COUNT(*) AS DOUBLE) - 1.0))) / 1e6, 6)
       |    END AS boot_se,
       |    ROUND(MIN(d), 6) AS ci_lo, ROUND(MAX(d), 6) AS ci_hi
       |  FROM rd GROUP BY 1, 2, 3)
       |SELECT pt.event_type,
       |  ROUND(CAST(num AS DOUBLE) / den, 4) AS quantile,
       |  n_a, n_b, q_a, q_b,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ROUND(q_b - q_a, 6) END
       |    AS delta,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN n_reps END AS n_reps,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN boot_se END AS boot_se,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ci_lo END AS ci_lo,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ci_hi END AS ci_hi
       |FROM pt LEFT JOIN panel USING (event_type, num, den)
       |ORDER BY event_type, quantile""".stripMargin
  }

  /** PR-sweep replay core (no final ordering) — shared by the full
    * curve and the best-F1 operating-point oracle.
    */
  private def prCurveOracleCore: String =
        """WITH toks AS (
          |  SELECT doc_id,
          |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> len(x) > 0)) AS tok
          |  FROM documents),
          |w AS (
          |  SELECT doc_id,
          |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
          |      % 1024) * 2654435761) % 2001 - 1000 AS w
          |  FROM toks),
          |sc AS (
          |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
          |  FROM w GROUP BY doc_id),
          |lab AS (
          |  SELECT doc_id,
          |    CAST(list_contains(list_filter(string_split_regex(
          |      lower(text), '\s+'), x -> len(x) > 0), 'spark')
          |      AS BIGINT) AS y
          |  FROM documents),
          |j AS (SELECT s.score, l.y FROM sc s JOIN lab l USING (doc_id)),
          |d AS (
          |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
          |    CAST(SUM(y) AS BIGINT) AS npos
          |  FROM j GROUP BY score),
          |c AS (
          |  SELECT score, n, npos,
          |    CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
          |    CAST(SUM(npos) OVER (ORDER BY score DESC) AS BIGINT) AS tp
          |  FROM d),
          |t AS (SELECT CAST(SUM(npos) AS BIGINT) AS pos FROM d)
          |SELECT score AS threshold, cum_n AS n_predicted_pos, tp,
          |  ROUND(CAST(tp AS DOUBLE) / cum_n, 6) AS prec,
          |  CASE WHEN pos > 0 THEN ROUND(CAST(tp AS DOUBLE) / pos, 6)
          |    END AS rec,
          |  ROUND(CAST(2 * tp AS DOUBLE) / (cum_n + pos), 6) AS f1
          |FROM c, t""".stripMargin

  /** Deterministic KLL sketch replay: value dictionary + cumulative count,
    * the md5-bit tournament descent as a list_reduce fold, the bounded
    * block explode landing each survivor rank in its covering dictionary
    * row, and the capped type-1 picks — mirrors
    * [[graft.scale.Sketches.kllFromCounts]] term for term (k = 1024).
    */
  private def kllOracle: String = {
    val probes = kllProbes.map { case (n, d) => s"($n,$d)" }.mkString(",")
    s"""WITH vc AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |    AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1),
       |cm AS (SELECT v, c,
       |  CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vc),
       |m2 AS (
       |  SELECT n, lev, CAST(1 AS BIGINT) << lev AS p2 FROM (
       |    SELECT n, (SELECT MIN(l) FROM range(0, 41) t(l)
       |      WHERE m.n <= 1024 * (CAST(1 AS BIGINT) << l)) AS lev
       |    FROM (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc) m)),
       |sv AS (
       |  SELECT s.b, s.r, s.v FROM (
       |    SELECT cm.v, cm.c, cm.cum, u.b,
       |      list_reduce(
       |        list_prepend(u.b, list_reverse(
       |          list_filter(range(1, 41), i -> i <= m2.lev))),
       |        (acc, l) -> acc * 2 +
       |          CAST(('0x' || substr(md5(CAST(l AS VARCHAR) || ':' ||
       |            CAST(acc AS VARCHAR)), 1, 1)) AS BIGINT) % 2) AS r
       |    FROM cm, m2,
       |      UNNEST(range((cm.cum - cm.c) // m2.p2,
       |        (cm.cum - 1) // m2.p2 + 1)) AS u(b)) s
       |  WHERE s.r >= s.cum - s.c AND s.r < s.cum),
       |mx AS (SELECT MAX(b) AS maxb FROM sv),
       |pk AS (
       |  SELECT q_num, q_den, m2.n, CAST(m2.lev AS BIGINT) AS levels,
       |    m2.p2, (q_num * m2.n + q_den - 1) // q_den - 1 AS t,
       |    ((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2 > mx.maxb
       |      AS capped,
       |    LEAST(((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2,
       |      mx.maxb) AS b
       |  FROM (VALUES $probes) q(q_num, q_den), m2, mx)
       |SELECT pk.q_num, pk.q_den, pk.n, pk.levels, pk.t AS target_rank,
       |  sv.r AS surv_rank, sv.v AS est_value,
       |  CAST(abs(sv.r - pk.t) AS BIGINT) AS rank_err,
       |  CAST(CASE WHEN pk.capped THEN 2 * pk.p2 - 1 ELSE pk.p2 - 1 END
       |    AS BIGINT) AS err_bound
       |FROM pk JOIN sv USING (b)
       |ORDER BY q_num""".stripMargin
  }

  /** Per-group KLL replay: [[kllOracle]] with every stage PARTITIONED by
    * the group and the tournament fold evaluated once per (group, block).
    */
  private def kllByOracle: String = {
    val probes = kllProbes.map { case (n, d) => s"($n,$d)" }.mkString(",")
    s"""WITH vc AS (
       |  SELECT l_returnflag AS g,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cm AS (SELECT g, v, c,
       |  CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
       |  FROM vc),
       |m2 AS (
       |  SELECT g, n, lev, CAST(1 AS BIGINT) << lev AS p2 FROM (
       |    SELECT g, n, (SELECT MIN(l) FROM range(0, 41) t(l)
       |      WHERE m.n <= 1024 * (CAST(1 AS BIGINT) << l)) AS lev
       |    FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM vc
       |      GROUP BY 1) m)),
       |rk AS (
       |  SELECT g, b,
       |    list_reduce(
       |      list_prepend(b, list_reverse(
       |        list_filter(range(1, 41), i -> i <= lev))),
       |      (acc, l) -> acc * 2 +
       |        CAST(('0x' || substr(md5(CAST(l AS VARCHAR) || ':' ||
       |          CAST(acc AS VARCHAR)), 1, 1)) AS BIGINT) % 2) AS r
       |  FROM (SELECT m2.g, m2.lev, u.b FROM m2,
       |    UNNEST(range(0, (m2.n + m2.p2 - 1) // m2.p2)) AS u(b))),
       |sv AS (
       |  SELECT c0.g, c0.b, rk.r, c0.v FROM (
       |    SELECT cm.g, cm.v, cm.c, cm.cum, u.b
       |    FROM cm JOIN m2 USING (g),
       |      UNNEST(range((cm.cum - cm.c) // m2.p2,
       |        (cm.cum - 1) // m2.p2 + 1)) AS u(b)) c0
       |  JOIN rk ON rk.g = c0.g AND rk.b = c0.b
       |  WHERE rk.r >= c0.cum - c0.c AND rk.r < c0.cum),
       |mx AS (SELECT g, MAX(b) AS maxb FROM sv GROUP BY 1),
       |pk AS (
       |  SELECT q_num, q_den, m2.g, m2.n, CAST(m2.lev AS BIGINT) AS levels,
       |    m2.p2, (q_num * m2.n + q_den - 1) // q_den - 1 AS t,
       |    ((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2 > mx.maxb
       |      AS capped,
       |    LEAST(((q_num * m2.n + q_den - 1) // q_den - 1) // m2.p2,
       |      mx.maxb) AS b
       |  FROM (VALUES $probes) q(q_num, q_den), m2 JOIN mx USING (g))
       |SELECT pk.g AS l_returnflag, pk.q_num, pk.q_den, pk.n, pk.levels,
       |  pk.t AS target_rank, sv.r AS surv_rank, sv.v AS est_value,
       |  CAST(abs(sv.r - pk.t) AS BIGINT) AS rank_err,
       |  CAST(CASE WHEN pk.capped THEN 2 * pk.p2 - 1 ELSE pk.p2 - 1 END
       |    AS BIGINT) AS err_bound
       |FROM pk JOIN sv ON sv.g = pk.g AND sv.b = pk.b
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- l-diversity panel (homogeneity-attack screen) ----------------------
  // Quasi (nation, segment) classes scored by the diversity of their
  // sensitive balance band — k-anonymous classes can still leak when
  // every member shares the sensitive value.
  private val lDiversityCustomer = QuerySpec("l_diversity_customer", (s, dir) =>
    graft.metrics.Metrics.lDiversity(t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", Seq(2, 3, 5))
      .orderBy(col("l")),
    // the md5 class/sensitive fingerprints are internal — the oracle
    // groups raw tuples (GROUP BY is null-safe in both engines)
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      // 100000 AS band
      |  FROM customer),
      |cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(COUNT(DISTINCT band) AS BIGINT) AS l,
      |    CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM b GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(sz) AS BIGINT) AS n_rows,
      |  CAST(MIN(l) AS BIGINT) AS min_diversity FROM cls),
      |panel AS (
      |  SELECT u.lv AS l,
      |    CAST(SUM(CASE WHEN cls.l < u.lv THEN 1 ELSE 0 END) AS BIGINT)
      |      AS risk_classes,
      |    CAST(SUM(CASE WHEN cls.l < u.lv THEN sz ELSE 0 END) AS BIGINT)
      |      AS risk_rows
      |  FROM cls, UNNEST([2, 3, 5]) AS u(lv) GROUP BY 1)
      |SELECT CAST(l AS BIGINT) AS l, n_classes, n_rows, min_diversity,
      |  risk_classes, risk_rows,
      |  ROUND(CAST(risk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |    AS risk_frac
      |FROM panel, tot ORDER BY l""".stripMargin)

  // ---- t-closeness panel (skewness-attack screen) -------------------------
  // The third privacy rung: per (nation, segment) class, the ordered EMD
  // between its balance-band distribution and the table's — l-diverse
  // classes still leak when their sensitive DISTRIBUTION skews far from
  // the global one. Exact-integer cumulative differences, cross-
  // multiplied threshold tests (t = 0.15 / 0.25 / 0.5).
  private val tClosenessCustomer = QuerySpec("t_closeness_customer", (s, dir) =>
    graft.metrics.Metrics.tCloseness(t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band",
      Seq(150000L, 250000L, 500000L))
      .orderBy(col("t")),
    // ordered EMD replayed in HUGEINT: the cumulative-difference sum over
    // the class x value scaffold, thresholds in cross-multiplied integer
    // form (the Spark side's exact arithmetic, mirrored)
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      // 100000 AS sv
      |  FROM customer),
      |cells AS (
      |  SELECT c_nationkey, c_mktsegment, sv,
      |    CAST(COUNT(*) AS HUGEINT) AS c
      |  FROM b GROUP BY 1, 2, 3),
      |gd AS (SELECT sv, CAST(SUM(c) AS HUGEINT) AS g
      |  FROM cells GROUP BY 1),
      |gtot AS (SELECT CAST(SUM(g) AS HUGEINT) AS n,
      |  CAST(COUNT(*) AS HUGEINT) AS m FROM gd),
      |cls AS (SELECT c_nationkey, c_mktsegment,
      |  CAST(SUM(c) AS HUGEINT) AS sz FROM cells GROUP BY 1, 2),
      |scaf AS (
      |  SELECT cls.c_nationkey, cls.c_mktsegment, gd.sv, gd.g,
      |    cls.sz, COALESCE(cells.c, 0) AS c
      |  FROM cls CROSS JOIN gd
      |  LEFT JOIN cells
      |    ON cells.c_nationkey IS NOT DISTINCT FROM cls.c_nationkey
      |    AND cells.c_mktsegment IS NOT DISTINCT FROM cls.c_mktsegment
      |    AND cells.sv IS NOT DISTINCT FROM gd.sv),
      |cum AS (
      |  SELECT c_nationkey, c_mktsegment, sz,
      |    SUM(c * n - g * sz) OVER (
      |      PARTITION BY c_nationkey, c_mktsegment ORDER BY sv) AS d
      |  FROM scaf, gtot),
      |emd AS (
      |  SELECT c_nationkey, c_mktsegment, MAX(sz) AS sz,
      |    SUM(ABS(d)) AS num
      |  FROM cum GROUP BY 1, 2),
      |emd2 AS (
      |  SELECT sz, num,
      |    sz * n * (CASE WHEN m > 1 THEN m - 1 ELSE 1 END) AS den
      |  FROM emd, gtot),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(sz) AS BIGINT) AS n_rows,
      |  ROUND(MAX(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
      |    AS max_emd FROM emd2),
      |panel AS (
      |  SELECT u.tm,
      |    CAST(SUM(CASE WHEN num * 1000000 > u.tm * den
      |      THEN 1 ELSE 0 END) AS BIGINT) AS risk_classes,
      |    CAST(SUM(CASE WHEN num * 1000000 > u.tm * den
      |      THEN sz ELSE 0 END) AS BIGINT) AS risk_rows
      |  FROM emd2, UNNEST([150000, 250000, 500000]) AS u(tm)
      |  GROUP BY 1)
      |SELECT ROUND(CAST(tm AS DOUBLE) / 1e6, 6) AS t, n_classes,
      |  n_rows, max_emd, risk_classes, risk_rows,
      |  ROUND(CAST(risk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |    AS risk_frac
      |FROM panel, tot ORDER BY t""".stripMargin)

  // ---- multi-pair Pearson panel (one scan for the numeric matrix) --------
  private val corrMatrixLineitem = QuerySpec("corr_matrix_lineitem", (s, dir) =>
    graft.metrics.Metrics.corrMatrix(t(s, dir, "lineitem"), Seq(
        ("qty_price", "l_quantity", "l_extendedprice"),
        ("qty_discount", "l_quantity", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax")))
      .orderBy(col("pair")),
    // per-pair NULL exclusion, exact decimal moments, the corr_lineitem
    // formula mirrored per pair
    """WITH u AS (
      |  SELECT 'qty_price' AS pair,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem
      |  UNION ALL SELECT 'qty_discount',
      |    CAST(l_quantity AS DECIMAL(18,2)),
      |    CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT 'price_tax',
      |    CAST(l_extendedprice AS DECIMAL(18,2)),
      |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT 'discount_tax',
      |    CAST(l_discount AS DECIMAL(18,2)),
      |    CAST(l_tax AS DECIMAL(18,2)) FROM lineitem),
      |s AS (
      |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
      |  FROM u WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY pair)
      |SELECT pair, n,
      |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
      |      AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
      |    ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |      (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |       SQRT(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
      |  END AS pearson
      |FROM s ORDER BY pair""".stripMargin)

  // ---- WOE / information-value feature panel ------------------------------
  // Value-band bins scored against the high-value-purchase label —
  // which bins separate, and the leakage smell if one separates too
  // well. NULL value rows form the missing-value bin.
  private val woeIvEvents = QuerySpec("woe_iv_events", (s, dir) =>
    graft.metrics.Metrics.woeIv(t(s, dir, "events")
        .withColumn("label",
          col("event_type") === "purchase" && col("value") >= 150.0)
        .withColumn("bin",
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
            " div 5000")),
      "label", "bin")
      .orderBy(col("bin")),
    // Laplace-smoothed adjusted WOE; fractions mirrored verbatim
    """WITH b AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    // 5000 AS bin,
      |    (event_type = 'purchase' AND value >= 150.0) AS y
      |  FROM events),
      |cells AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |  FROM b GROUP BY bin),
      |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
      |  CAST(SUM(n_neg) AS BIGINT) AS q,
      |  CAST(COUNT(*) AS BIGINT) AS k FROM cells),
      |f AS (
      |  SELECT bin, n, n_pos, n_neg,
      |    (CAST(n_pos AS DOUBLE) + 0.5)
      |      / (CAST(p AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS gf,
      |    (CAST(n_neg AS DOUBLE) + 0.5)
      |      / (CAST(q AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS bf
      |  FROM cells, tot)
      |SELECT bin, n, n_pos, n_neg,
      |  ROUND(ln(gf / bf), 6) AS woe,
      |  ROUND((gf - bf) * ln(gf / bf), 6) AS iv_contrib
      |FROM f ORDER BY bin""".stripMargin)

  // ---- profiling: approximate functional dependencies --------------------
  // g3 violation mass for three candidate column rules on orders — the
  // schema-rule profiling that precedes cell-level error detection.
  private val fdViolationsOrders = QuerySpec("fd_violations_orders", (s, dir) => {
    val o = t(s, dir, "orders")
    Metrics.fdViolations(o, Seq(
        ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
        ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
        ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
      .orderBy(col("fd"))
  },
    // g3 replay: per-(lhs,rhs) counts, per-lhs sum+max, one fold per FD —
    // NULL grouped as an ordinary value (SQL GROUP BY semantics).
    """WITH
      |g1 AS (
      |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
      |    SELECT o_custkey, o_orderpriority, COUNT(*) AS c
      |    FROM orders GROUP BY 1, 2) GROUP BY o_custkey),
      |g2 AS (
      |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
      |    SELECT o_orderdate, o_orderstatus, COUNT(*) AS c
      |    FROM orders GROUP BY 1, 2) GROUP BY o_orderdate),
      |g3t AS (
      |  SELECT SUM(c) AS n, MAX(c) AS keep FROM (
      |    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c
      |    FROM orders GROUP BY 1, 2) GROUP BY o_orderpriority),
      |f AS (
      |  SELECT 'custkey->priority' AS fd,
      |    CAST(COUNT(*) AS BIGINT) AS n_groups,
      |    CAST(SUM(n) AS BIGINT) AS n_rows,
      |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_groups,
      |    CAST(SUM(n - keep) AS BIGINT) AS violations,
      |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6) AS g3
      |  FROM g1
      |  UNION ALL
      |  SELECT 'orderdate->status',
      |    CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
      |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(n - keep) AS BIGINT),
      |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6)
      |  FROM g2
      |  UNION ALL
      |  SELECT 'priority->status',
      |    CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
      |    CAST(SUM(CASE WHEN n > keep THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(n - keep) AS BIGINT),
      |    ROUND(CAST(SUM(n - keep) AS DOUBLE) / SUM(n), 6)
      |  FROM g3t)
      |SELECT * FROM f ORDER BY fd""".stripMargin)

  // ---- QA: Benford first-digit panel over orders -------------------------
  // The numeric-column forensics screen: price cents vs the Benford
  // curve, plus the (deliberately) uniform custkey column — which the
  // panel flags hard, exactly its purpose on synthetic/fabricated data.
  private val benfordOrders = QuerySpec("benford_orders", (s, dir) =>
    graft.metrics.Metrics.benfordDigits(
        t(s, dir, "orders").select(col("o_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents")),
        Seq("o_custkey", "price_cents"))
      .orderBy(col("column"), col("digit")),
    // Benford replay: exact string digit extraction, the same ln-ratio
    // expectation expression verbatim, chi-square contributions on the
    // unrounded expectation.
    """WITH base AS (
      |  SELECT 'o_custkey' AS col, o_custkey AS v FROM orders
      |  UNION ALL
      |  SELECT 'price_cents',
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |  FROM orders),
      |f AS (
      |  SELECT col, CAST(substr(CAST(abs(v) AS VARCHAR), 1, 1) AS INT)
      |    AS digit
      |  FROM base WHERE v IS NOT NULL AND v <> 0),
      |c AS (
      |  SELECT col, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      |  FROM f GROUP BY 1, 2),
      |t AS (SELECT col, CAST(SUM(n_obs) AS BIGINT) AS n FROM c GROUP BY 1),
      |sc AS (
      |  SELECT t.col, t.n, CAST(d.digit AS INT) AS digit,
      |    COALESCE(c.n_obs, 0) AS n_obs
      |  FROM t CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
      |  LEFT JOIN c ON c.col = t.col AND c.digit = d.digit)
      |SELECT sc.col AS "column", sc.digit, CAST(sc.n_obs AS BIGINT) AS n_obs,
      |  ROUND(CAST(sc.n_obs AS DOUBLE) / sc.n, 6) AS frac,
      |  ROUND(ln(1 + 1.0 / sc.digit) / ln(10), 6) AS benford,
      |  ROUND(power(sc.n_obs - sc.n * (ln(1 + 1.0 / sc.digit) / ln(10)), 2)
      |    / (sc.n * (ln(1 + 1.0 / sc.digit) / ln(10))), 6) AS chi2_contrib
      |FROM sc ORDER BY 1, 2""".stripMargin)

  // ---- QA: robust median/MAD outlier panel per event type ----------------
  // Hampel's rule (|x − median| > 3·MAD) with both medians by
  // distributed selection — the robust complement to anomaly_zscore
  // (a fat-finger row shifts mean AND σ and hides itself; it cannot
  // shift the median/MAD pair).
  private val madOutliersEvents = QuerySpec("mad_outliers_events", (s, dir) =>
    graft.metrics.Metrics.madOutliers(
        t(s, dir, "events").withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long")),
        "cents", Seq("event_type"), 3)
      .orderBy(col("event_type")),
    // MAD replay: the exactPercentiles rank convention — type-1 order
    // statistic at rank (n·500000 + 999999) div 1e6 = ceil(n/2) — for
    // both medians; all comparisons exact longs.
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |medr AS (
      |  SELECT event_type, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM b),
      |med AS (
      |  SELECT event_type, v AS med FROM medr
      |  WHERE rn = (n * 500000 + 999999) // 1000000),
      |d AS (
      |  SELECT b.event_type, b.v, abs(b.v - med.med) AS adv, med.med
      |  FROM b JOIN med USING (event_type)),
      |madr AS (
      |  SELECT event_type, adv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM d),
      |mad AS (
      |  SELECT event_type, adv AS mad FROM madr
      |  WHERE rn = (n * 500000 + 999999) // 1000000)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(d.med) AS BIGINT) AS median,
      |  CAST(MAX(mad.mad) AS BIGINT) AS mad,
      |  CAST(SUM(CASE WHEN d.adv > mad.mad * 3 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  ROUND(CAST(SUM(CASE WHEN d.adv > mad.mad * 3 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS outlier_frac
      |FROM d JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---- categorical-association panel (chi2 / Cramér's V / MI) ------------
  // Which metadata columns are redundant vs independent: three declared
  // pairs share ONE corpus scan (the fdCounts explode shape); zero cells
  // are closed-form, cell contributions sum as exact decimals.
  private val assocPanelOrders = QuerySpec("assoc_panel_orders", (s, dir) =>
    graft.metrics.Metrics.assocPanel(t(s, dir, "orders")
        .withColumn("mon", month(col("o_orderdate")))
        .withColumn("band",
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
            " div 5000000")),
      Seq(("priority_month", "o_orderpriority", "mon"),
        ("status_band", "o_orderstatus", "band"),
        ("status_priority", "o_orderstatus", "o_orderpriority")))
      .orderBy(col("pair")),
    // cell contributions are ONE fixed-order double expression mirrored
    // verbatim from the Scala side, summed exactly as DECIMAL(38,12) —
    // partial-agg order cannot move the 6th decimal
    """WITH src AS (
      |  SELECT
      |    CASE WHEN o_orderstatus IS NULL THEN 'N'
      |      ELSE 'v' || o_orderstatus END AS k_st,
      |    CASE WHEN o_orderpriority IS NULL THEN 'N'
      |      ELSE 'v' || o_orderpriority END AS k_pr,
      |    CASE WHEN o_orderdate IS NULL THEN 'N'
      |      ELSE 'v' || CAST(month(o_orderdate) AS VARCHAR) END AS k_mon,
      |    CASE WHEN o_totalprice IS NULL THEN 'N'
      |      ELSE 'v' || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |        * 100 AS BIGINT) // 5000000 AS VARCHAR) END AS k_band
      |  FROM orders),
      |cells AS (
      |  SELECT pair, ak, bk, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT 'priority_month' AS pair, k_pr AS ak, k_mon AS bk
      |    FROM src
      |    UNION ALL SELECT 'status_band', k_st, k_band FROM src
      |    UNION ALL SELECT 'status_priority', k_st, k_pr FROM src)
      |  GROUP BY 1, 2, 3),
      |ra AS (SELECT pair, ak, CAST(SUM(c) AS BIGINT) AS ra
      |  FROM cells GROUP BY 1, 2),
      |cb AS (SELECT pair, bk, CAST(SUM(c) AS BIGINT) AS cb
      |  FROM cells GROUP BY 1, 2),
      |tot AS (SELECT pair, CAST(SUM(ra) AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS r_levels FROM ra GROUP BY 1),
      |totc AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_levels
      |  FROM cb GROUP BY 1),
      |j AS (
      |  SELECT cells.pair, n, r_levels, c_levels,
      |    CAST(c AS DOUBLE) AS od, CAST(n AS DOUBLE) AS nd,
      |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) AS rcd
      |  FROM cells JOIN ra USING (pair, ak) JOIN cb USING (pair, bk)
      |  JOIN tot USING (pair) JOIN totc USING (pair)),
      |terms AS (
      |  SELECT pair, n, r_levels, c_levels,
      |    SUM(CAST((od * nd - rcd) * (od * nd - rcd) / (nd * rcd)
      |      - rcd / nd AS DECIMAL(38,12))) AS chid,
      |    SUM(CAST((od / nd) * ((ln(od * nd) - ln(rcd)) / ln(2))
      |      AS DECIMAL(38,12))) AS mid
      |  FROM j GROUP BY 1, 2, 3, 4)
      |SELECT pair, n, r_levels, c_levels,
      |  (r_levels - 1) * (c_levels - 1) AS dof,
      |  ROUND(CAST(chid AS DOUBLE) + CAST(n AS DOUBLE), 6) AS chi2,
      |  CASE WHEN LEAST(r_levels, c_levels) > 1 THEN
      |    ROUND(sqrt((CAST(chid AS DOUBLE) + CAST(n AS DOUBLE))
      |      / CAST(n * (LEAST(r_levels, c_levels) - 1) AS DOUBLE)), 6)
      |  END AS cramers_v,
      |  ROUND(CAST(mid AS DOUBLE), 6) AS mi_bits
      |FROM terms ORDER BY pair""".stripMargin)

  // ---- join-key skew profiler (pre-flight shuffle advisor) ---------------
  // The key-mass distribution of user_id — the column every sessionize/
  // RFM/attribution job shuffles on: max/top-10 share, exact p50/p99 key
  // mass, Gini concentration, and the salt factor that levels the
  // hottest key against an average partition at 32-way parallelism.
  private val skewProfileEvents = QuerySpec("skew_profile_events", (s, dir) =>
    graft.metrics.Metrics.skewProfile(t(s, dir, "events"),
      Seq("user_id"), 32),
    // gini over runs of equal masses: 2·Σ i·x = Σ m·(2·c·below + c·(c+1));
    // exact integers end-to-end, one float division per output stat
    """WITH km AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM events GROUP BY user_id),
      |mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM km GROUP BY m),
      |cum AS (SELECT m, c,
      |  CAST(SUM(c) OVER (ORDER BY m) AS BIGINT) AS ck FROM mc),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS k,
      |  CAST(SUM(m * c) AS BIGINT) AS t,
      |  CAST(MAX(m) AS BIGINT) AS mx FROM mc),
      |agg AS (SELECT
      |    SUM(CAST(m AS HUGEINT) * (2 * c * (ck - c) + c * (c + 1)))
      |      AS g2,
      |    SUM(CAST(m AS HUGEINT)
      |      * GREATEST(0, LEAST(c, 10 - (k - ck)))) AS top10
      |  FROM cum, tot),
      |pct AS (SELECT
      |    MAX(CASE WHEN (k * 500000 + 999999) // 1000000 > ck - c
      |      AND (k * 500000 + 999999) // 1000000 <= ck THEN m END)
      |      AS p50,
      |    MAX(CASE WHEN (k * 990000 + 999999) // 1000000 > ck - c
      |      AND (k * 990000 + 999999) // 1000000 <= ck THEN m END)
      |      AS p99
      |  FROM cum, tot)
      |SELECT t AS n_rows, k AS n_keys, mx AS max_mass,
      |  ROUND(CAST(mx AS DOUBLE) / CAST(t AS DOUBLE), 6) AS max_share,
      |  ROUND(CAST(top10 AS DOUBLE) / CAST(t AS DOUBLE), 6)
      |    AS top10_share,
      |  p50 AS p50_mass, p99 AS p99_mass,
      |  ROUND(CAST(g2 - (k + 1) * CAST(t AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(k AS HUGEINT) * t AS DOUBLE), 6) AS gini,
      |  (mx * 32 + t - 1) // t AS salt_factor
      |FROM tot, agg, pct""".stripMargin)

  // ---- multi-rater agreement: Fleiss' kappa over 3 quality judges --------
  // The LLM-judge-ensemble acceptance gate: does the panel agree beyond
  // the chance implied by pooled category prevalence? Exact profile-
  // dictionary fold; kappa_num/den travel as exact decimal strings.
  private val fleissKappaDocs = QuerySpec("fleiss_kappa_docs", (s, dir) =>
    Metrics.fleissKappa(qualityRaters(t(s, dir, "documents")),
      Seq("r_len", "r_tok", "r_div")),
    // the rating-profile dictionary replays as one GROUP BY over the three
    // CASE raters; A = sum c*(3 + 2*#equal-pairs); exact num/den as strings
    """WITH base AS (
      |  SELECT n_chars,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0)) AS nt,
      |    len(list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0))) AS nd
      |  FROM documents),
      |r AS (
      |  SELECT
      |    CASE WHEN n_chars < 200 THEN 'lo'
      |      WHEN n_chars < 800 THEN 'mid' ELSE 'hi' END AS r0,
      |    CASE WHEN nt < 40 THEN 'lo'
      |      WHEN nt < 160 THEN 'mid' ELSE 'hi' END AS r1,
      |    CASE WHEN nd * 10 < nt * 5 THEN 'lo'
      |      WHEN nd * 10 < nt * 8 THEN 'mid' ELSE 'hi' END AS r2
      |  FROM base),
      |prof AS (
      |  SELECT r0, r1, r2, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM r GROUP BY 1, 2, 3),
      |a AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_subjects,
      |    SUM(CAST(c AS HUGEINT) * (3 + 2 * (CAST(r0 = r1 AS INT) +
      |      CAST(r0 = r2 AS INT) + CAST(r1 = r2 AS INT)))) AS a
      |  FROM prof),
      |cj AS (
      |  SELECT k, CAST(SUM(c) AS BIGINT) AS cj FROM (
      |    SELECT r0 AS k, c FROM prof
      |    UNION ALL SELECT r1, c FROM prof
      |    UNION ALL SELECT r2, c FROM prof)
      |  GROUP BY 1),
      |ss AS (SELECT SUM(CAST(cj AS HUGEINT) * cj) AS s FROM cj),
      |f AS (
      |  SELECT n_subjects, CAST(n_subjects AS HUGEINT) * 3 AS t,
      |    a.a, ss.s
      |  FROM a, ss),
      |g AS (
      |  SELECT n_subjects, t, a, s,
      |    t * (a - t) - s * 2 AS kappa_num,
      |    (t * t - s) * 2 AS kappa_den
      |  FROM f)
      |SELECT n_subjects, CAST(3 AS BIGINT) AS n_raters,
      |  ROUND(CAST(a - t AS DOUBLE) / (CAST(t AS DOUBLE) * 2.0), 6)
      |    AS po,
      |  ROUND(CAST(s AS DOUBLE) /
      |    (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS pe,
      |  CAST(kappa_num AS VARCHAR) AS kappa_num,
      |  CAST(kappa_den AS VARCHAR) AS kappa_den,
      |  CASE WHEN kappa_den <> 0 THEN
      |    ROUND(CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE), 6)
      |  END AS kappa
      |FROM g""".stripMargin)

  // ---- exact per-group percentiles by distributed selection --------------
  // p50/p90/p99 of the line-item price in exact cents, per return flag —
  // located via a bucket histogram + a narrowed second pass, never a
  // global sort (see Metrics.exactPercentiles).
  private val percentilesLineitem = QuerySpec("percentiles_lineitem", (s, dir) => {
    val l = t(s, dir, "lineitem").withColumn("cents",
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
    Metrics.exactPercentiles(l, "cents",
        Seq(500000L, 900000L, 990000L), Seq("l_returnflag"), 12)
      .orderBy(col("l_returnflag"), col("q"))
  },
    percentilesOracle(
      Seq(500000L, 900000L, 990000L)))

  // ---- deterministic KLL-shaped quantile sketch (guaranteed rank err) ----
  // md5-bit tournament compaction over the value dictionary: k=1024 ->
  // L = ceil(log2(n/k)) levels, every pick's |surv_rank - target| is
  // emitted exact beside its 2^L - 1 worst-case guarantee (adversarial-
  // input deterministic, unlike the sampling-error sample_quantiles).
  private val kllQuantilesLineitem = QuerySpec("kll_quantiles_lineitem", (s, dir) =>
    graft.scale.Sketches.kllQuantiles(
        t(s, dir, "lineitem").withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")),
        "cents", 1024, kllProbes)
      .orderBy(col("q_num")),
    // deterministic KLL sketch: dictionary + tournament-descent fold
    kllOracle)

  // ---- per-group KLL sketch (the grouped form of the family) -------------
  private val kllQuantilesByFlagLineitem = QuerySpec("kll_quantiles_by_flag_lineitem", (s, dir) =>
    graft.scale.Sketches.kllQuantilesBy(
        t(s, dir, "lineitem").withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")),
        "cents", Seq("l_returnflag"), 1024, kllProbes)
      .orderBy(col("l_returnflag"), col("q_num")),
    kllByOracle)

  // ---- Kendall tau-b concordance between two banded metrics --------------
  // Price band (cents div 1e6) vs quantity per return flag: exact C/D
  // pair masses over the contingency dictionary self-join, marginal tie
  // correction, the mirrored tau the only float.
  private val kendallTauLineitem = QuerySpec("kendall_tau_lineitem", (s, dir) =>
    Metrics.kendallTauB(t(s, dir, "lineitem")
        .withColumn("price_band",
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
            "AS BIGINT) div 1000000"))
        .withColumn("qty", col("l_quantity").cast("long")),
      "price_band", "qty", Seq("l_returnflag"))
      .orderBy(col("l_returnflag")),
    // Kendall tau-b: contingency-dictionary self-join + tie margins
    // Kendall tau-b replay — shared by the batch query and its
    // Complete-mode contingency-state streaming twin.
    """WITH ct AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) // 1000000 AS x,
      |    CAST(l_quantity AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2, 3),
      |cd AS (
      |  SELECT a.g,
      |    CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END)
      |      AS BIGINT) AS conc,
      |    CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END)
      |      AS BIGINT) AS disc
      |  FROM ct a JOIN ct b ON a.g = b.g AND b.x > a.x
      |  GROUP BY 1),
      |tx AS (
      |  SELECT g, CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS t_x FROM (
      |    SELECT g, x, CAST(SUM(n) AS BIGINT) AS m FROM ct
      |    GROUP BY 1, 2) GROUP BY 1),
      |ty AS (
      |  SELECT g, CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS t_y FROM (
      |    SELECT g, y, CAST(SUM(n) AS BIGINT) AS m FROM ct
      |    GROUP BY 1, 2) GROUP BY 1),
      |nn AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n FROM ct GROUP BY 1)
      |SELECT nn.g AS l_returnflag, nn.n,
      |  COALESCE(cd.conc, 0) AS concordant,
      |  COALESCE(cd.disc, 0) AS discordant,
      |  tx.t_x, ty.t_y, n * (n - 1) // 2 AS n0,
      |  CASE WHEN n * (n - 1) // 2 > tx.t_x
      |      AND n * (n - 1) // 2 > ty.t_y THEN
      |    ROUND(CAST(COALESCE(cd.conc, 0) - COALESCE(cd.disc, 0)
      |        AS DOUBLE) /
      |      sqrt(CAST(n * (n - 1) // 2 - tx.t_x AS DOUBLE) *
      |        CAST(n * (n - 1) // 2 - ty.t_y AS DOUBLE)), 6) END
      |    AS tau_b
      |FROM nn JOIN tx USING (g) JOIN ty USING (g)
      |LEFT JOIN cd USING (g)
      |ORDER BY 1""".stripMargin)

  // ---- k-anonymity quasi-identifier risk panel ----------------------------
  private val kAnonymityCustomer = QuerySpec("k_anonymity_customer", (s, dir) =>
    Metrics.kAnonymity(t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000")),
      Seq("c_nationkey", "c_mktsegment", "bal_band"), Seq(2, 5, 10))
      .orderBy(col("k")),
    // classes replay as a plain GROUP BY on the raw quasi columns (the md5
    // fingerprint is a shuffle-width detail, not a semantic)
    """WITH q AS (
      |  SELECT c_nationkey AS a, c_mktsegment AS b,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
      |      AS c
      |  FROM customer),
      |cls AS (
      |  SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM q GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |    CAST(SUM(sz) AS BIGINT) AS n_rows,
      |    CAST(MIN(sz) AS BIGINT) AS min_class_size
      |  FROM cls)
      |SELECT CAST(u.k AS BIGINT) AS k, t.n_classes, t.n_rows,
      |  t.min_class_size,
      |  CAST(COUNT(*) FILTER (cls.sz < u.k) AS BIGINT) AS risk_classes,
      |  CAST(COALESCE(SUM(sz) FILTER (cls.sz < u.k), 0) AS BIGINT)
      |    AS risk_rows,
      |  ROUND(CAST(COALESCE(SUM(sz) FILTER (cls.sz < u.k), 0) AS DOUBLE)
      |    / CAST(t.n_rows AS DOUBLE), 6) AS risk_frac
      |FROM cls, UNNEST([2, 5, 10]) AS u(k), tot t
      |GROUP BY u.k, t.n_classes, t.n_rows, t.min_class_size
      |ORDER BY k""".stripMargin)

  // ---- PSI drift panel (where the distribution mass moved) ---------------
  private val psiDriftOrders = QuerySpec("psi_drift_orders", (s, dir) =>
    Metrics.psiDrift(t(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("side", col("o_orderkey") % 2 === 0),
      "cents", "side", 10)
      .orderBy(col("bin")),
    // reference deciles via the exactPercentiles rank convention
    // (rank = (n*q + 999999) // 1e6); smoothing/float expressions mirror
    // psiDrift verbatim (the benford bit-parity rule)
    """WITH b AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS v, (o_orderkey % 2 = 0) AS s
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |refr AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM b WHERE NOT s),
      |edges AS (
      |  SELECT u.i AS i, r.v AS e
      |  FROM UNNEST(range(1, 10)) AS u(i) JOIN refr r
      |    ON r.rn = (r.n * (u.i * 100000) + 999999) // 1000000),
      |binned AS (
      |  SELECT b.v, b.s,
      |    (SELECT COUNT(*) FROM edges e WHERE b.v > e.e) AS bin
      |  FROM b),
      |cnt AS (
      |  SELECT bin, CAST(COUNT(*) FILTER (NOT s) AS BIGINT) AS n_ref,
      |    CAST(COUNT(*) FILTER (s) AS BIGINT) AS n_cur
      |  FROM binned GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n_ref) AS BIGINT) AS nr,
      |    CAST(SUM(n_cur) AS BIGINT) AS nc FROM cnt),
      |f AS (
      |  SELECT u.i AS bin, COALESCE(c.n_ref, 0) AS n_ref,
      |    COALESCE(c.n_cur, 0) AS n_cur, t.nr, t.nc
      |  FROM UNNEST(range(0, 10)) AS u(i)
      |  LEFT JOIN cnt c ON c.bin = u.i CROSS JOIN tot t)
      |SELECT bin, n_ref, n_cur,
      |  ROUND(CAST(n_ref AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS frac_ref,
      |  ROUND(CAST(n_cur AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS frac_cur,
      |  ROUND((CAST(n_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE)
      |       - CAST(n_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
      |    * (ln(CAST(n_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
      |       - ln(CAST(n_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))),
      |    6) AS psi_contrib
      |FROM f ORDER BY bin""".stripMargin)

  // ---- Welch two-sample t-test per event type ---------------------------
  // Did the mean event value move between the even- and odd-user halves?
  // Exact decimal moments in one conditional hash-agg; t and
  // Welch-Satterthwaite dof as fixed-order doubles.
  private val abTestEvents = QuerySpec("ab_test_events", (s, dir) =>
    Metrics.welchTTest(t(s, dir, "events")
        .withColumn("side", col("user_id") % 2 === 0),
      "value", "side", Seq("event_type"))
      .orderBy(col("event_type")),
    """WITH s AS (
      |  SELECT event_type, (user_id % 2 = 0) AS side,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
      |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qa,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qb
      |  FROM s GROUP BY event_type),
      |d AS (
      |  SELECT event_type, n_a, n_b, sa, sb, qa, qb,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qa - sa * sa / na) / (na - 1.0)) / na AS sea,
      |    ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS seb
      |  FROM d)
      |SELECT event_type, n_a, n_b,
      |  ROUND(sa / na, 6) AS mean_a,
      |  ROUND(sb / nb, 6) AS mean_b,
      |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
      |    ROUND((sa / na - sb / nb) / sqrt(sea + seb), 6) END AS t_stat,
      |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
      |    ROUND((sea + seb) * (sea + seb) /
      |      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)
      |    END AS dof
      |FROM v ORDER BY event_type""".stripMargin)

  // ---- ALWAYS-VALID sequential A/B test (mixture-mSPRT) -----------------
  // The continuous-monitoring companion the fixed-horizon Welch panel
  // lacks: Λ over the same six-moment state, p = min(1, 1/Λ) valid at
  // every intermediate drain (Johari et al. KDD'17). Same side/group
  // fabric as ab_test_events.
  private val sequentialAbEvents = QuerySpec("sequential_ab_events", (s, dir) =>
    Metrics.sequentialAbTest(t(s, dir, "events")
        .withColumn("side", col("user_id") % 2 === 0),
      "value", "side", Seq("event_type"))
      .orderBy(col("event_type")),
    // Mixture-mSPRT replay (τ = 5, α = 0.05, minN = 100): the ab_test
    // moment CTEs, then the fixed-order mixture statistic — shared by the
    // batch query and the streaming twin (the drained Complete-mode state
    // IS the batch aggregate).
    """WITH s AS (
      |  SELECT event_type, (user_id % 2 = 0) AS side,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
      |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qa,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qb
      |  FROM s GROUP BY event_type),
      |d AS (
      |  SELECT event_type, n_a, n_b, sa, sb, qa, qb,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qa - sa * sa / na) / (na - 1.0)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
      |    sa / na - sb / nb AS delta
      |  FROM d),
      |st AS (
      |  SELECT *,
      |    0.5 * ln(vv / (vv + 25.0))
      |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM v),
      |p AS (
      |  SELECT event_type, n_a, n_b,
      |    ROUND(sa / na, 6) AS mean_a, ROUND(sb / nb, 6) AS mean_b,
      |    ROUND(delta, 6) AS delta,
      |    CASE WHEN ok THEN ROUND(llr, 6) END AS log_lr,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END
      |      AS p_always
      |  FROM st)
      |SELECT event_type, n_a, n_b, mean_a, mean_b, delta, log_lr,
      |  p_always, p_always < 0.05 AS reject
      |FROM p ORDER BY event_type""".stripMargin)

  // ---- sample-ratio-mismatch guard (assignment-count chi-square) ---------
  // The FIRST check a real A/B platform runs: Pearson chi-square of
  // the n_a:n_b assignment counts against the declared 50/50 design
  // at the strict alpha=0.001 SRM literal (Fabijan KDD'19) — the
  // validity gate the whole mSPRT/CUPED/MDE panel silently assumes.
  private val srmGuardEvents = QuerySpec("srm_guard_events", (s, dir) =>
    Metrics.srmGuard(
      t(s, dir, "events").select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side")),
      "side", Seq("arm"))
      .orderBy(col("arm")),
    // SRM chi-square replay: two conditional counts per arm, expected
    // halves via the same multiply-then-divide literal order, a-term +
    // b-term, rounded 6; the flag compares the ROUNDED chi2 to the
    // alpha=0.001 df=1 literal so both engines decide identically.
    """WITH s AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    CAST(COUNT(*) FILTER (NOT side) AS BIGINT) AS n_a,
      |    CAST(COUNT(*) FILTER (side) AS BIGINT) AS n_b
      |  FROM s GROUP BY arm),
      |d AS (
      |  SELECT arm, n_a, n_b, n_a + n_b AS n,
      |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS ea,
      |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS eb
      |  FROM g),
      |c AS (
      |  SELECT arm, n_a, n_b, n, ea,
      |    ROUND((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
      |        / ea
      |      + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
      |        / eb, 6) AS x2
      |  FROM d)
      |SELECT arm, n_a, n_b, ROUND(ea, 6) AS expected_a,
      |  CASE WHEN n >= 100 THEN x2 END AS chi2,
      |  CASE WHEN n >= 100 THEN x2 > 10.827566 END AS srm
      |FROM c ORDER BY arm""".stripMargin)

  // ---- LORD online FDR over the arriving segment stream -------------------
  // The ONLINE companion to fdr_bh_events: hypotheses arrive in the
  // declared (event_type, segment) order, each spends the LORD++
  // wealth budget alpha_t (gamma_j = 1/(j(j+1)) schedule, W0 = alpha/2),
  // and a rejection re-injects wealth over the future. Two segments
  // per event type carry a planted +40 lift on side B, so the early
  // rejections are real and the later null segments face budgets that
  // reflect the earned wealth. Exact integer decision (nano-gamma sums
  // vs micro-p), monotone fixed-point evaluation of the sequential
  // recursion.
  private val onlineFdrEvents = QuerySpec("online_fdr_events", (s, dir) => {
    val tests = Metrics.sequentialAbTest(
      t(s, dir, "events").select(col("event_type"),
        (col("user_id") % 7).as("segment"),
        (col("user_id") % 2 === 0).as("side"),
        (col("value") + when((col("user_id") % 7) < 2 &&
          col("user_id") % 2 === 0, lit(40.0))
          .otherwise(lit(0.0))).as("value")),
      "value", "side", Seq("event_type", "segment"))
    Metrics.onlineFdrLord(tests, Seq("event_type", "segment"),
      "p_always")
      .orderBy(col("event_type"), col("segment"))
  },
    // LORD++ online-FDR replay: the mSPRT p-stream over the planted-lift
    // segment panel (arrival order = (event_type, segment)), then the
    // SEQUENTIAL wealth walk as a recursive CTE carrying the rejection-
    // time list — exact integer decision (nano-gamma budget sums vs
    // micro-quantized p), matching [[graft.metrics.Metrics.onlineFdrLord]]'s
    // monotone fixed point term for term. Shared by the batch query and
    // the streaming twin.
    """WITH RECURSIVE s AS (
      |  SELECT event_type, user_id % 7 AS segment,
      |    (user_id % 2 = 0) AS side,
      |    CAST(value + (CASE WHEN user_id % 7 < 2 AND user_id % 2 = 0
      |      THEN 40.0 ELSE 0.0 END) AS DECIMAL(18,2)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type, segment,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
      |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qa,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qb
      |  FROM s GROUP BY event_type, segment),
      |d AS (
      |  SELECT event_type, segment, n_a, n_b, sa, sb, qa, qb,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qa - sa * sa / na) / (na - 1.0)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
      |    sa / na - sb / nb AS delta
      |  FROM d),
      |st AS (
      |  SELECT *,
      |    0.5 * ln(vv / (vv + 25.0))
      |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM v),
      |h AS (
      |  SELECT event_type, segment,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END AS p
      |  FROM st),
      |hh AS (SELECT * FROM h WHERE p IS NOT NULL),
      |r AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (ORDER BY event_type, segment)
      |      AS BIGINT) AS t
      |  FROM hh),
      |walk(t, taus) AS (
      |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
      |  UNION ALL
      |  SELECT r.t,
      |    CASE WHEN CAST(ROUND(r.p * 1000000.0) AS BIGINT) * 200000
      |      <= 5 * (
      |        CAST(FLOOR(1000000000.0 /
      |          CAST(r.t * (r.t + 1) AS DOUBLE)) AS BIGINT)
      |        + COALESCE(CAST(FLOOR(1000000000.0 /
      |            CAST((r.t - w.taus[1]) * (r.t - w.taus[1] + 1)
      |              AS DOUBLE)) AS BIGINT), 0)
      |        + COALESCE(2 * list_sum(list_transform(w.taus[2:],
      |            tau -> CAST(FLOOR(1000000000.0 /
      |              CAST((r.t - tau) * (r.t - tau + 1) AS DOUBLE))
      |              AS BIGINT))), 0))
      |    THEN list_append(w.taus, r.t) ELSE w.taus END
      |  FROM walk w JOIN r ON r.t = w.t + 1),
      |fin AS (SELECT taus FROM walk ORDER BY t DESC LIMIT 1),
      |ft AS (
      |  SELECT r.*, list_filter(fin.taus, tau -> tau < r.t) AS fl
      |  FROM r, fin),
      |b AS (
      |  SELECT *,
      |    CAST(FLOOR(1000000000.0 / CAST(t * (t + 1) AS DOUBLE))
      |      AS BIGINT)
      |    + COALESCE(CAST(FLOOR(1000000000.0 /
      |        CAST((t - fl[1]) * (t - fl[1] + 1) AS DOUBLE))
      |        AS BIGINT), 0)
      |    + COALESCE(2 * list_sum(list_transform(fl[2:],
      |        tau -> CAST(FLOOR(1000000000.0 /
      |          CAST((t - tau) * (t - tau + 1) AS DOUBLE))
      |          AS BIGINT))), 0) AS sbudget
      |  FROM ft)
      |SELECT event_type, segment, p AS p_always, t,
      |  ROUND(CAST(sbudget AS DOUBLE)
      |    * (5.0 / (2.0 * 100.0) / 1000000000.0), 9) AS alpha_t,
      |  CAST(ROUND(p * 1000000.0) AS BIGINT) * 200000 <= 5 * sbudget
      |    AS reject
      |FROM b ORDER BY event_type, segment""".stripMargin)

  // ---- delta-method ratio-metric z-test (Deng et al. KDD'18) -------------
  // Revenue-per-click per arm: most production metrics are ratios of
  // unit sums, where a naive per-unit t-test is wrong (undefined on
  // y=0 units, mis-weighted elsewhere). Six exact decimal moments per
  // side in one hash-agg, then the delta-method variance.
  private val ratioDeltaEvents = QuerySpec("ratio_delta_events", (s, dir) =>
    Metrics.ratioMetricDelta(
      t(s, dir, "events").select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).as("x"),
        when(col("event_type") === "click", lit(1.0))
          .otherwise(lit(0.0)).as("y")),
      "x", "y", "side", Seq("arm"))
      .orderBy(col("arm")),
    // Delta-method ratio-metric replay: six exact decimal moment sums
    // per side (the welch-moments casting discipline), then the
    // Var(R) = (s²x − 2R·sxy + R²·s²y)/(n·ȳ²) algebra in the identical
    // operation order, NULL-gated on side mass / ΣY = 0 / non-positive
    // variance, decisions on rounded doubles.
    """WITH u AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side,
      |    CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |      AS DECIMAL(18,2)) AS x,
      |    CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |      AS DECIMAL(18,2)) AS y
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    CAST(COUNT(*) FILTER (NOT side) AS BIGINT) AS n_a,
      |    CAST(COUNT(*) FILTER (side) AS BIGINT) AS n_b,
      |    CAST(SUM(x) FILTER (NOT side) AS DOUBLE) AS sxa,
      |    CAST(SUM(x) FILTER (side) AS DOUBLE) AS sxb,
      |    CAST(SUM(y) FILTER (NOT side) AS DOUBLE) AS sya,
      |    CAST(SUM(y) FILTER (side) AS DOUBLE) AS syb,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qxa,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qxb,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS qya,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS qyb,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) FILTER (NOT side)
      |      AS DOUBLE) AS pxa,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) FILTER (side)
      |      AS DOUBLE) AS pxb
      |  FROM u GROUP BY arm),
      |a AS (
      |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    sxa / sya AS ra, sxb / syb AS rb
      |  FROM g),
      |v AS (
      |  SELECT *,
      |    ((qxa - sxa * sxa / na) / (na - 1.0)
      |      - 2.0 * ra * ((pxa - sxa * sya / na) / (na - 1.0))
      |      + ra * ra * ((qya - sya * sya / na) / (na - 1.0)))
      |      / (na * (sya / na) * (sya / na)) AS va,
      |    ((qxb - sxb * sxb / nb) / (nb - 1.0)
      |      - 2.0 * rb * ((pxb - sxb * syb / nb) / (nb - 1.0))
      |      + rb * rb * ((qyb - syb * syb / nb) / (nb - 1.0)))
      |      / (nb * (syb / nb) * (syb / nb)) AS vb
      |  FROM a),
      |z AS (
      |  SELECT *, (n_a >= 2 AND n_b >= 2 AND sya <> 0.0 AND syb <> 0.0
      |    AND va + vb > 0.0) AS ok
      |  FROM v)
      |SELECT arm, n_a, n_b,
      |  CASE WHEN sya <> 0.0 THEN ROUND(ra, 6) END AS r_a,
      |  CASE WHEN syb <> 0.0 THEN ROUND(rb, 6) END AS r_b,
      |  CASE WHEN sya <> 0.0 AND syb <> 0.0 THEN ROUND(ra - rb, 6) END
      |    AS delta,
      |  CASE WHEN ok THEN ROUND(sqrt(va + vb), 6) END AS se_delta,
      |  CASE WHEN ok THEN ROUND((ra - rb) / sqrt(va + vb), 6) END AS z
      |FROM z ORDER BY arm""".stripMargin)

  // ---- reliability diagram + expected calibration error ------------------
  // The calibration audit every scored classifier/judge pipeline gets:
  // 10 equal-width confidence bins per event type, per-bin mean
  // confidence vs empirical accuracy, ECE as the exact
  // sum|correct_b - conf-mass_b|/N reduction (no per-bin float
  // division in the statistic), MCE alongside. The planted fixture is
  // a flat-0.6-accuracy scorer whose confidence sweeps [0,1] — textbook
  // overconfidence above 0.6, underconfidence below.
  private val calibrationEvents = QuerySpec("calibration_events", (s, dir) =>
    Metrics.expectedCalibrationError(
      t(s, dir, "events").select(col("event_type"),
        ((col("event_id") % 97) / lit(96.0)).as("score"),
        (col("user_id") % 5 < 3).as("correct")),
      "score", "correct", Seq("event_type"))
      .orderBy(col("event_type"), col("bin")),
    // Reliability-bin + ECE replay: 10 equal-width confidence bins per
    // event type over the flat-0.6-accuracy sweep fixture; ECE/MCE from
    // the exact |correct − conf-mass| decimal reduction — shared by the
    // batch query and the streaming twin.
    """WITH c AS (
      |  SELECT event_type,
      |    (event_id % 97) / 96.0 AS s,
      |    (user_id % 5 < 3) AS y
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin,
      |    CAST(ROUND(s, 6) AS DECIMAL(18,6)) AS c6,
      |    CASE WHEN y THEN 1 ELSE 0 END AS yy
      |  FROM c WHERE s IS NOT NULL AND y IS NOT NULL
      |    AND s >= 0.0 AND s <= 1.0),
      |g AS (
      |  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(yy) AS BIGINT) AS corr,
      |    CAST(SUM(c6) AS DECIMAL(38,6)) AS conf
      |  FROM b GROUP BY event_type, bin),
      |p AS (
      |  SELECT event_type, bin, n,
      |    ROUND(CAST(conf AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS avg_conf,
      |    ROUND(CAST(corr AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS accuracy,
      |    ROUND(CAST(CAST(corr AS DECIMAL(38,6)) - conf AS DOUBLE)
      |      / CAST(n AS DOUBLE), 6) AS gap,
      |    ABS(CAST(corr AS DECIMAL(38,6)) - conf) AS agap
      |  FROM g),
      |su AS (
      |  SELECT event_type,
      |    ROUND(CAST(SUM(agap) AS DOUBLE)
      |      / CAST(SUM(n) AS DOUBLE), 6) AS ece,
      |    ROUND(MAX(CAST(agap AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |      AS mce
      |  FROM p GROUP BY event_type)
      |SELECT p.event_type, p.bin, p.n, p.avg_conf, p.accuracy, p.gap,
      |  su.ece, su.mce
      |FROM p JOIN su ON p.event_type = su.event_type
      |ORDER BY p.event_type, p.bin""".stripMargin)

  // ---- post-stratified treatment effect (variance reduction) -------------
  // Stratify the per-arm A/B readout by event_type (the categorical
  // pre-treatment covariate): between-type value variance drops out
  // of the comparison, and var_reduction_pct SAYS how much the
  // stratification bought. Planted +2 lift on side B; exact decimal
  // moments per (arm, stratum, side), micro-quantized cross-strata
  // sums — order-insensitive end to end.
  private val postStratEvents = QuerySpec("post_strat_events", (s, dir) =>
    Metrics.postStratifiedDelta(
      t(s, dir, "events").select((col("user_id") % 3).as("arm"),
        col("event_type"),
        (col("user_id") % 2 === 0).as("side"),
        (col("value") + when(col("user_id") % 2 === 0, lit(2.0))
          .otherwise(lit(0.0))).as("value")),
      "value", "side", "event_type", Seq("arm"))
      .orderBy(col("arm")),
    // Post-stratification replay (stratum-keyed decimal moments,
    // micro-quantized cross-strata roll-up) over the planted +2-lift
    // fixture - shared by the batch query and the streaming twin.
    """WITH s AS (
          |  SELECT user_id % 3 AS arm, event_type AS st,
          |    (user_id % 2 = 0) AS side,
          |    CAST(value + (CASE WHEN user_id % 2 = 0 THEN 2.0
          |      ELSE 0.0 END) AS DECIMAL(18,2)) AS v
          |  FROM events),
          |m AS (
          |  SELECT arm, st,
          |    COUNT(*) FILTER (NOT side) AS n_a,
          |    COUNT(*) FILTER (side) AS n_b,
          |    CAST(SUM(v) FILTER (NOT side) AS DECIMAL(38,2)) AS sa,
          |    CAST(SUM(v) FILTER (side) AS DECIMAL(38,2)) AS sb,
          |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
          |      AS DECIMAL(38,4)) AS qa,
          |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
          |      AS DECIMAL(38,4)) AS qb
          |  FROM s GROUP BY arm, st),
          |k AS (
          |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
          |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
          |    CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd,
          |    n_a + n_b AS nk
          |  FROM m),
          |t AS (
          |  SELECT *,
          |    (qad - sad * sad / na) / (na - 1.0) AS va,
          |    (qbd - sbd * sbd / nb) / (nb - 1.0) AS vb,
          |    sad / na - sbd / nb AS dk
          |  FROM k),
          |q AS (
          |  SELECT arm, n_a, n_b, nk, sa, sb, qa, qb,
          |    (n_a >= 2 AND n_b >= 2) AS ok,
          |    CAST(ROUND(dk * 1e6) AS DECIMAL(38,0)) * nk AS dq,
          |    CAST(ROUND((va / na + vb / nb) * 1e12) AS DECIMAL(38,0))
          |      * nk * nk AS vq
          |  FROM t),
          |g AS (
          |  SELECT arm,
          |    CAST(SUM(n_a) AS BIGINT) AS n_a,
          |    CAST(SUM(n_b) AS BIGINT) AS n_b,
          |    COUNT(*) AS n_strata, MIN(ok) AS allok,
          |    CAST(SUM(nk) AS DOUBLE) AS nn,
          |    CAST(SUM(dq) AS DOUBLE) AS dsum,
          |    CAST(SUM(vq) AS DOUBLE) AS vsum,
          |    CAST(CAST(SUM(sa) AS DECIMAL(38,2)) AS DOUBLE) AS gsa,
          |    CAST(CAST(SUM(sb) AS DECIMAL(38,2)) AS DOUBLE) AS gsb,
          |    CAST(CAST(SUM(qa) AS DECIMAL(38,4)) AS DOUBLE) AS gqa,
          |    CAST(CAST(SUM(qb) AS DECIMAL(38,4)) AS DOUBLE) AS gqb
          |  FROM q GROUP BY arm),
          |f AS (
          |  SELECT *,
          |    CAST(n_a AS DOUBLE) AS gna, CAST(n_b AS DOUBLE) AS gnb,
          |    dsum / 1e6 / nn AS dps,
          |    vsum / 1e12 / (nn * nn) AS seps2
          |  FROM g),
          |f2 AS (
          |  SELECT *,
          |    (gqa - gsa * gsa / gna) / (gna - 1.0) / gna
          |      + (gqb - gsb * gsb / gnb) / (gnb - 1.0) / gnb AS seu2
          |  FROM f),
          |f3 AS (
          |  SELECT *,
          |    (n_a >= 2 AND n_b >= 2 AND seu2 > 0.0) AS oku,
          |    (allok AND seps2 > 0.0) AS okps
          |  FROM f2)
          |SELECT arm, n_a, n_b, n_strata,
          |  CASE WHEN oku THEN ROUND(gsa / gna - gsb / gnb, 6) END
          |    AS delta,
          |  CASE WHEN oku THEN ROUND(sqrt(seu2), 6) END AS se,
          |  CASE WHEN okps THEN ROUND(dps, 6) END AS delta_ps,
          |  CASE WHEN okps THEN ROUND(sqrt(seps2), 6) END AS se_ps,
          |  CASE WHEN okps THEN ROUND(dps / sqrt(seps2), 6) END AS z_ps,
          |  CASE WHEN okps AND oku
          |    THEN ROUND((1.0 - seps2 / seu2) * 100.0, 4) END
          |    AS var_reduction_pct
          |FROM f3 ORDER BY arm""".stripMargin)

  // ---- ALWAYS-VALID sequential two-proportion test ------------------------
  // The conversion-rate mSPRT (sequential_ab covers means): same
  // event-level fabric as the streaming proportions twin, so the
  // statistic is licensed at every drain of a conversion dashboard.
  private val sequentialProportionEvents = QuerySpec("sequential_proportion_events", (s, dir) =>
    Metrics.sequentialProportionTest(
      t(s, dir, "events").select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        (col("event_type") === "purchase" && col("value") >= 150.0)
          .as("success")),
      "success", "side", Seq("arm"))
      .orderBy(col("arm")),
    // Conversion-rate mSPRT replay (τ = 0.1, α = 0.05, minN = 100): the
    // event-level four-count moments, then the fixed-order mixture
    // statistic on the Wald rate variance — shared by the batch query
    // and the streaming twin.
    """WITH u AS (
      |  SELECT user_id % 3 AS arm, (user_id % 2 = 0) AS side,
      |    (event_type = 'purchase' AND value >= 150.0) AS success
      |  FROM events),
      |g AS (
      |  SELECT arm,
      |    COUNT(*) FILTER (NOT side) AS n_a,
      |    COUNT(*) FILTER (side) AS n_b,
      |    COUNT(*) FILTER (NOT side AND success) AS k_a,
      |    COUNT(*) FILTER (side AND success) AS k_b
      |  FROM u GROUP BY arm),
      |v AS (
      |  SELECT arm, n_a, n_b, k_a, k_b,
      |    CAST(k_a AS DOUBLE) / n_a AS pa,
      |    CAST(k_b AS DOUBLE) / n_b AS pb
      |  FROM g),
      |w AS (
      |  SELECT *, pa * (1.0 - pa) / n_a + pb * (1.0 - pb) / n_b AS vv,
      |    pa - pb AS delta
      |  FROM v),
      |st AS (
      |  SELECT *, 0.5 * ln(vv / (vv + 0.01))
      |    + delta * delta * 0.01 / (2.0 * vv * (vv + 0.01)) AS llr,
      |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
      |  FROM w),
      |p AS (
      |  SELECT arm, n_a, n_b, k_a, k_b, ROUND(pa, 6) AS p_a,
      |    ROUND(pb, 6) AS p_b, ROUND(delta, 6) AS delta,
      |    CASE WHEN ok THEN ROUND(llr, 6) END AS log_lr,
      |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END
      |      AS p_always
      |  FROM st)
      |SELECT arm, n_a, n_b, k_a, k_b, p_a, p_b, delta, log_lr,
      |  p_always, p_always < 0.05 AS reject
      |FROM p ORDER BY arm""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- G4 confusion-matrix metrics (one-pass conditional agg) -----------
    QuerySpec("confusion_metrics_events", (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("gold",
          when(col("value") > 100.0, "yes").otherwise("no"))
        .withColumn("pred",
          when(col("event_type").isin("error", "purchase"), "yes")
            .otherwise("no"))
      Metrics.confusionMetrics(e, "pred", "gold")
    },
      """WITH lab AS (
        |  SELECT CASE WHEN value > 100.0 THEN 'yes' ELSE 'no' END AS gold,
        |    CASE WHEN event_type IN ('error','purchase') THEN 'yes' ELSE 'no' END AS pred
        |  FROM events),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab),
        |p AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM p""".stripMargin),

    // ---- F4 tolerant numeric equality (full extract→compare pipeline) -----
    QuerySpec("tolerant_equality_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val delta = (col("l_linenumber") % 5).cast("double") * 0.01
      val pred = concat(lit("qty "),
        (col("l_quantity") + delta).cast("string"))
      val gold = concat(lit("qty "), col("l_quantity").cast("string"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  (l_linenumber % 5) IN (0, 1, 2) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- F4 fraction parsing path -----------------------------------------
    QuerySpec("tolerant_fraction_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val pred = concat((col("l_partkey") % 7).cast("string"), lit("/8"))
      val gold = concat((col("l_suppkey") % 7).cast("string"), lit("/8"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          Metrics.tolerantEquals(pred, gold).as("crc"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  (l_partkey % 7) = (l_suppkey % 7) AS crc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- ML eval: Brier decomposition + ECE/MCE of the hashed classifier ---
    // The scalar report card over the calibration curve: probability =
    // exact rational (w_sum + 1000n)/(2000n); Murphy terms fold on the
    // 10-bin dictionary.
    QuerySpec("brier_panel_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.brierPanel(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
    },
      // the classifier replay (calibration_docs' CTEs) + the Murphy folds
      // over the 10-bin dictionary, every shape mirrored
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w) AS BIGINT) AS w_sum
        |  FROM w GROUP BY doc_id),
        |lab AS (
        |  SELECT s.w_sum + 1000 * s.n_tokens AS pn,
        |    2000 * s.n_tokens AS pd,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
        |  WHERE 2000 * s.n_tokens > 0),
        |pb AS (
        |  SELECT LEAST((pn * 10) // pd, 9) AS bin,
        |    CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) AS p, y
        |  FROM lab),
        |bins AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(y) AS BIGINT) AS yb, SUM(p) AS pbs,
        |    SUM((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))) AS sq
        |  FROM pb GROUP BY bin),
        |tot AS (
        |  SELECT CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(yb) AS BIGINT) AS ysum, SUM(sq) AS sqsum
        |  FROM bins),
        |f AS (
        |  SELECT t.n, t.ysum, t.sqsum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * (b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))
        |      * (b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS relsum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
        |        - CAST(t.ysum AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
        |        - CAST(t.ysum AS DOUBLE) / CAST(t.n AS DOUBLE))) AS ressum,
        |    SUM(CAST(b.nb AS DOUBLE)
        |      * abs(b.pbs / CAST(b.nb AS DOUBLE)
        |        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS ecesum,
        |    MAX(abs(b.pbs / CAST(b.nb AS DOUBLE)
        |      - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))) AS mce
        |  FROM bins b, tot t GROUP BY t.n, t.ysum, t.sqsum)
        |SELECT n,
        |  ROUND(sqsum / CAST(n AS DOUBLE), 6) AS brier,
        |  ROUND(relsum / CAST(n AS DOUBLE), 6) AS reliability,
        |  ROUND(ressum / CAST(n AS DOUBLE), 6) AS resolution,
        |  ROUND((CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (1.0 - CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS uncertainty,
        |  ROUND(ecesum / CAST(n AS DOUBLE), 6) AS ece,
        |  ROUND(mce, 6) AS mce
        |FROM f""".stripMargin),

    // ---- isotonic calibration (PAV, exact minimax form) --------------------
    // The FIX beside the brier/ECE measurement: the optimal monotone
    // recalibration map over the same probability bins — fractions
    // ordered by cross-multiplication, nothing float-ordered.
    QuerySpec("isotonic_calibration_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Metrics.isotonicCalibration(
        TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
          .withColumn("pnum", col("w_sum") + lit(1000L) * col("n_tokens"))
          .withColumn("pden", lit(2000L) * col("n_tokens")),
        "pnum", "pden", "y", 10)
        .orderBy(col("bin"))
    },
      // PAV replay: same score/label prefix as brier; minimax fractions
      // ordered by cross-multiplied NOT EXISTS dominance
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w) AS BIGINT) AS w_sum
        |  FROM w GROUP BY doc_id),
        |lab AS (
        |  SELECT s.w_sum + 1000 * s.n_tokens AS pn,
        |    2000 * s.n_tokens AS pd,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
        |  WHERE 2000 * s.n_tokens > 0),
        |bn AS (SELECT LEAST((pn * 10) // pd, 9) AS bin, y FROM lab),
        |bb AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS w,
        |    CAST(SUM(y) AS BIGINT) AS sy
        |  FROM bn GROUP BY 1),
        |ps AS (
        |  SELECT bin, w, sy,
        |    CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
        |    CAST(SUM(sy) OVER (ORDER BY bin) AS BIGINT) AS cy
        |  FROM bb),
        |iv AS (
        |  SELECT j.bin AS jb, k.bin AS kb,
        |    k.cy - (j.cy - j.sy) AS nm, k.cw - (j.cw - j.w) AS dn
        |  FROM ps j JOIN ps k ON k.bin >= j.bin),
        |cand AS (
        |  SELECT i.bin AS i, iv.jb, iv.kb, iv.nm, iv.dn
        |  FROM ps i JOIN iv ON iv.jb <= i.bin AND iv.kb >= i.bin),
        |mink AS (
        |  SELECT * FROM cand a WHERE NOT EXISTS (
        |    SELECT 1 FROM cand b WHERE b.i = a.i AND b.jb = a.jb
        |      AND (b.nm * a.dn < a.nm * b.dn
        |        OR (b.nm * a.dn = a.nm * b.dn AND b.kb < a.kb)))),
        |fit AS (
        |  SELECT * FROM mink a WHERE NOT EXISTS (
        |    SELECT 1 FROM mink b WHERE b.i = a.i
        |      AND (b.nm * a.dn > a.nm * b.dn
        |        OR (b.nm * a.dn = a.nm * b.dn AND b.jb < a.jb))))
        |SELECT ps.bin, ps.w, ps.sy,
        |  ROUND(CAST(ps.sy AS DOUBLE) / CAST(ps.w AS DOUBLE), 6)
        |    AS raw_rate,
        |  fit.nm AS iso_num, fit.dn AS iso_den,
        |  ROUND(CAST(fit.nm AS DOUBLE) / CAST(fit.dn AS DOUBLE), 6)
        |    AS iso_rate
        |FROM ps JOIN fit ON fit.i = ps.bin
        |ORDER BY ps.bin""".stripMargin),

    // ---- bounded-state mergeable distinct sketch (KMV / bottom-k) ----------
    // The deterministic counterpart of approx_count_distinct: state is the
    // 64 smallest distinct md5-prefix hashes per group (constant-width
    // map-side partials, merge-order-independent), so unlike HLL the oracle
    // replays kth/estimate EXACTLY — no tolerance flags.
    QuerySpec("kmv_distinct_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.kmvDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_sketch"),
          col("kmv_kth"), col("kmv_est"))
        .orderBy(col("event_type"))
    },
      // deterministic KMV: k=64 smallest distinct 15-hex md5-prefix hashes
      // per group, replayed with a window over distinct hashes. Estimate is
      // exact-integer 63·2^60 div kth in HUGEINT — DuckDB's // on DECIMAL
      // ROUNDS the quotient (measured: 144.92 → 145) while // on integer
      // types truncates like Spark's div/BigInteger.divide; 63·2^60
      // overflows BIGINT, so int128 it is. Below-k groups report exact size.
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_sketch, MAX(hv) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |d AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.n_users, s.n_sketch,
        |  s.kth AS kmv_kth,
        |  CAST(CASE WHEN s.n_sketch < 64 THEN s.n_sketch
        |    ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |      // GREATEST(s.kth, 1) END AS BIGINT) AS kmv_est
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin),

    // ---- KMV sketch as STREAMING aggregation state -------------------------
    // The bounded-distinct-count production shape: the typed KMV aggregator
    // runs inside a streaming groupBy, so the state store holds ≤64 longs
    // per group however long the stream runs (vs dropDuplicates state that
    // grows with the distinct count). Merge-order invariance (SketchesSpec)
    // is what makes the result micro-batch-schedule-independent — the
    // oracle is the same window-over-distinct-hashes SQL as the batch query.
    QuerySpec("streaming_kmv_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val agg = udaf(graft.scale.Sketches.kmvAggregator(64),
        org.apache.spark.sql.Encoders.scalaLong)
      val sk = stream
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
        .groupBy(col("event_type")).agg(agg(col("__h")).as("__kmv"))
        .select(col("event_type"),
          col("__kmv.nSketch").cast("long").as("n_sketch"),
          col("__kmv.kth").as("kmv_kth"),
          col("__kmv.estimate").as("kmv_est"))
      Streams.runToMemory(s, sk, OutputMode.Complete())
        .orderBy(col("event_type"))
    },
      // streaming KMV == batch KMV (merge-order invariance): same replay as
      // kmv_distinct_events, without the exact companion column
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_sketch, MAX(hv) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT event_type, n_sketch, kth AS kmv_kth,
        |  CAST(CASE WHEN n_sketch < 64 THEN n_sketch
        |    ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |      // GREATEST(kth, 1) END AS BIGINT) AS kmv_est
        |FROM s ORDER BY 1""".stripMargin),

    // ---- HLL distinct sketch (exactly-replayable registers) ----------------
    // The constant-state counterpart of kmv_distinct_events with O(1)
    // reduce: 64 byte registers per group, merged by elementwise max.
    // Registers are an exact function of the input SET (bucket + leading-
    // zero rank of the md5-prefix hash), so n_zero_regs / harmonic_num /
    // regs_digest are exact integers the oracle replays, and the final
    // alpha·m²·2^R/num estimate (with linear-counting small-range branch)
    // is one fixed-order double expression over them. Exact countDistinct
    // rides along for accuracy eyeballing.
    QuerySpec("hll_distinct_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val hashed = ev.withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15))
      graft.scale.Sketches.hllDistinct(hashed, Seq("event_type"), col("__h"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_zero_regs"),
          col("harmonic_num"), col("regs_digest"), col("hll_est"))
        .orderBy(col("event_type"))
    },
      // HLL: bucket = hash mod 64; rho = leading zeros of the remaining
      // 54-bit word + 1 (= 55 − bit-length, computed via the binary-format
      // string — exact integer string op in both engines); registers are
      // per-bucket MAX. Estimate arithmetic mirrors Sketches.hllDistinct
      // token for token.
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |f AS (
        |  SELECT e.event_type, g.bucket, COALESCE(r.rho, 0) AS reg
        |  FROM (SELECT DISTINCT event_type FROM events) e
        |  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS bucket) g
        |  LEFT JOIN r ON r.event_type = e.event_type AND r.bucket = g.bucket),
        |s AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - reg)) AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * reg) AS BIGINT) AS regs_digest
        |  FROM f GROUP BY 1),
        |d AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.n_users, s.n_zero_regs, s.harmonic_num,
        |  s.regs_digest,
        |  CAST(CASE WHEN s.n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(s.harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(s.n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(s.harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM d JOIN s USING (event_type) ORDER BY 1""".stripMargin),

    // ---- HLL as STREAMING aggregation state --------------------------------
    // Register max-merge is associative/commutative/idempotent, so the
    // streaming Complete-mode state is the same 64-byte register table the
    // batch build produces — the oracle replays it verbatim.
    QuerySpec("streaming_hll_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val hashed = stream.withColumn("__h",
        graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val sk = graft.scale.Sketches.hllDistinct(
        hashed, Seq("event_type"), col("__h"))
      Streams.runToMemory(s, sk, OutputMode.Complete())
        .orderBy(col("event_type"))
    },
      // streaming HLL == batch HLL (register max is merge-order-free)
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |f AS (
        |  SELECT e.event_type, g.bucket, COALESCE(r.rho, 0) AS reg
        |  FROM (SELECT DISTINCT event_type FROM events) e
        |  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS bucket) g
        |  LEFT JOIN r ON r.event_type = e.event_type AND r.bucket = g.bucket),
        |s AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - reg)) AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * reg) AS BIGINT) AS regs_digest
        |  FROM f GROUP BY 1)
        |SELECT event_type, n_zero_regs, harmonic_num, regs_digest,
        |  CAST(CASE WHEN n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s ORDER BY 1""".stripMargin),

    // ---- sliding-window distinct via mergeable HLL registers ---------------
    // Distinct users in the trailing 4 hours, per (event_type, hour) — the
    // sketch-ALGEBRA payoff: the raw events are scanned once into per-hour
    // register tables; every window is a register-max union of 4 tiny
    // rows-per-bucket slices (see Sketches.hllRollingDistinct). The exact
    // recount rides along as the accuracy companion (it pays the per-window
    // rescan the sketch exists to avoid).
    QuerySpec("rolling_hll_events", (s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .withColumn("__es", graft.scale.Events.epochSeconds(ev0))
        .withColumn("hour", expr("__es DIV 3600"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val sk = graft.scale.Sketches.hllRollingDistinct(
          ev, Seq("event_type"), col("hour"), col("__h"), 4)
        .withColumnRenamed("tb", "hour")
      val du = ev.select(col("event_type"), col("hour"), col("user_id"))
        .distinct()
      // equi-ized trailing window (the hllRollupWindows rewrite): expand
      // each (type, hour, user) to the 4 anchor hours it can serve and
      // hash-agg, instead of the group-equality + hour-range join (a
      // per-type cartesian); left_semi keeps only anchors that exist
      val anchors = du.select(col("event_type").as("a_t"),
        col("hour").as("a_h")).distinct()
      val exact = du
        .select(col("event_type"),
          explode(sequence(col("hour"), col("hour") + lit(3L)))
            .as("hour"),
          col("user_id"))
        .join(anchors, col("event_type") === col("a_t") &&
          col("hour") === col("a_h"), "left_semi")
        .groupBy(col("event_type"), col("hour"))
        .agg(countDistinct(col("user_id")).as("n_users_4h"))
      sk.join(exact, Seq("event_type", "hour"))
        .select(col("event_type"), col("hour"), col("n_users_4h"),
          col("n_zero_regs"), col("harmonic_num"), col("regs_digest"),
          col("hll_est"))
        .orderBy(col("event_type"), col("hour"))
    },
      // rolling HLL: per-hour registers range-joined 4-wide, absent buckets
      // contribute 2^56 to the harmonic numerator; same estimate text as
      // hll_distinct_events
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hour, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2, 3),
        |a AS (SELECT DISTINCT event_type, hour FROM r),
        |roll AS (
        |  SELECT a.event_type, a.hour, r.bucket, MAX(r.rho) AS rho
        |  FROM a JOIN r ON r.event_type = a.event_type
        |    AND r.hour > a.hour - 4 AND r.hour <= a.hour
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT event_type, hour,
        |    CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - rho))
        |      + (64 - COUNT(*)) * 72057594037927936 AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * rho) AS BIGINT) AS regs_digest
        |  FROM roll GROUP BY 1, 2),
        |du AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour, user_id
        |  FROM events),
        |ex AS (
        |  SELECT a.event_type, a.hour,
        |    COUNT(DISTINCT d.user_id) AS n_users_4h
        |  FROM (SELECT DISTINCT event_type, hour FROM du) a
        |  JOIN du d ON d.event_type = a.event_type
        |    AND d.hour > a.hour - 4 AND d.hour <= a.hour
        |  GROUP BY 1, 2)
        |SELECT s.event_type, s.hour, ex.n_users_4h, s.n_zero_regs,
        |  s.harmonic_num, s.regs_digest,
        |  CAST(CASE WHEN s.n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(s.harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(s.n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(s.harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s JOIN ex USING (event_type, hour)
        |ORDER BY event_type, hour""".stripMargin),

    // ---- rolling-window HLL over the event STREAM --------------------------
    // The streaming twin of rolling_hll_events: the stream maintains the
    // per-(event_type, hour, bucket) register maxes as Complete-mode
    // aggregation state (one long per register — bounded, merge-order-free,
    // so the result is micro-batch-schedule-independent), and the
    // trailing-4h window union runs as sketch algebra over that tiny state
    // table after the stream drains. The oracle replays the identical
    // register table + rollup from the batch view of the same rows.
    QuerySpec("streaming_rolling_hll_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val ev = stream
        .withColumn("__es", graft.scale.Events.epochSeconds(stream))
        .withColumn("hour", expr("__es DIV 3600"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("user_id").cast("string").cast("binary"), 15))
      val regs = graft.scale.Sketches
        .hllRegisterRows(ev, Seq("event_type"), col("hour"), col("__h"))
        .groupBy(col("event_type"), col("tb"), col("bucket"))
        .agg(max(col("rho")).as("rho"))
      val state = Streams.runToMemory(s, regs, OutputMode.Complete())
      graft.scale.Sketches.hllRollupWindows(state, Seq("event_type"), 4)
        .withColumnRenamed("tb", "hour")
        .orderBy(col("event_type"), col("hour"))
    },
      // streaming rolling HLL == batch rolling HLL (register max is
      // merge-order-free, so the Complete-mode state equals the batch
      // register table): the rolling_hll_events replay minus its exact
      // recount companion
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hour,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hour, hv % 64 AS bucket,
        |    MAX(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - length(format('{:b}', hv // 64)) END) AS rho
        |  FROM h GROUP BY 1, 2, 3),
        |a AS (SELECT DISTINCT event_type, hour FROM r),
        |roll AS (
        |  SELECT a.event_type, a.hour, r.bucket, MAX(r.rho) AS rho
        |  FROM a JOIN r ON r.event_type = a.event_type
        |    AND r.hour > a.hour - 4 AND r.hour <= a.hour
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT event_type, hour,
        |    CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << (56 - rho))
        |      + (64 - COUNT(*)) * 72057594037927936 AS BIGINT)
        |      AS harmonic_num,
        |    CAST(SUM((bucket + 1) * rho) AS BIGINT) AS regs_digest
        |  FROM roll GROUP BY 1, 2)
        |SELECT event_type, hour, n_zero_regs, harmonic_num, regs_digest,
        |  CAST(CASE WHEN n_zero_regs > 0 AND
        |      2.0925986477216114E20
        |        / CAST(harmonic_num AS DOUBLE) <= 160.0
        |    THEN ROUND(64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE)))
        |    ELSE ROUND(2.0925986477216114E20
        |      / CAST(harmonic_num AS DOUBLE)) END AS BIGINT) AS hll_est
        |FROM s ORDER BY event_type, hour""".stripMargin),

    // ---- KMV set-operation estimates (theta-sketch shape) ------------------
    // Per event_type: user-set overlap of two event slices (A = event_id
    // not ≡ 0 mod 3, B = even event_id) from 64-long sketches only — the
    // cross-corpus-overlap question at 100 TB without an exact distinct
    // join. Exact companions ride along; every sketch output is
    // exact-integer and replayed verbatim by the oracle.
    QuerySpec("kmv_setops_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val h = graft.scale.HashExprs.md5PrefixLong(
        col("user_id").cast("string").cast("binary"), 15)
      val a = ev.filter(col("event_id") % 3 =!= 0).withColumn("__h", h)
      val b = ev.filter(col("event_id") % 2 === 0).withColumn("__h", h)
      val sketch = graft.scale.Sketches.kmvSetEstimate(
        a, b, Seq("event_type"), col("__h"))
      val flags = ev.groupBy(col("event_type"), col("user_id")).agg(
        max(when(col("event_id") % 3 =!= 0, 1L).otherwise(0L)).as("ia"),
        max(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("ib"))
      val exact = flags.groupBy(col("event_type")).agg(
        sum(col("ia")).as("n_a"), sum(col("ib")).as("n_b"),
        sum(when(col("ia") === 1L || col("ib") === 1L, 1L).otherwise(0L))
          .as("n_union"),
        sum(when(col("ia") === 1L && col("ib") === 1L, 1L).otherwise(0L))
          .as("n_inter"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("n_union"),
          col("n_inter"), col("n_both"), col("est_union"),
          col("est_intersect"))
        .orderBy(col("event_type"))
    },
      // KMV set ops: the A/B sketches are the k smallest hashes of each
      // slice's user set; a union-sketch member's slice membership is its
      // per-user flag (rank-in-slice ≤ rank-in-union ≤ k, so sketch
      // membership ⟺ set membership — see Sketches.kmvSetEstimate). SUMs
      // CAST to BIGINT (DuckDB SUM(INTEGER) widens to HUGEINT).
      """WITH f AS (
        |  SELECT event_type, user_id,
        |    MAX(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ib
        |  FROM events GROUP BY 1, 2),
        |ex AS (
        |  SELECT event_type,
        |    CAST(SUM(ia) AS BIGINT) AS n_a,
        |    CAST(SUM(ib) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN ia = 1 OR ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_union,
        |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inter
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT event_type, ia, ib,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
        |      CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |        AS BIGINT)) AS rn,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM f WHERE ia = 1 OR ib = 1),
        |u AS (
        |  SELECT event_type, COUNT(*) AS nu, MAX(hv) AS kthu,
        |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |est AS (
        |  SELECT event_type, nu, n_both,
        |    CAST(CASE WHEN nu < 64 THEN nu
        |      ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |        // GREATEST(kthu, 1) END AS BIGINT) AS est_union
        |  FROM u)
        |SELECT ex.event_type, ex.n_a, ex.n_b, ex.n_union, ex.n_inter,
        |  est.n_both, est.est_union,
        |  CAST(CASE WHEN est.nu < 64 THEN est.n_both
        |    ELSE (CAST(est.n_both AS HUGEINT) * est.est_union)
        |      // est.nu END AS BIGINT) AS est_intersect
        |FROM ex JOIN est USING (event_type) ORDER BY 1""".stripMargin),

    // ---- corpus-overlap matrix from per-source KMV sketches ----------------
    // Pairwise vocabulary union/intersection estimates between EVERY two
    // sources, from one 64-long sketch per source: the "which sources
    // duplicate each other" pre-dedup diagnostic. The corpus is scanned
    // once (sketch build); the 20×19/2 pair matrix is array math on ≤128
    // longs per pair — never a data-mass term.
    QuerySpec("kmv_source_overlap_docs", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("__w"))
        .withColumn("__h", graft.scale.HashExprs.md5PrefixLong(
          col("__w").cast("binary"), 15))
      graft.scale.Sketches.kmvPairwiseOverlap(words, "source", col("__h"))
        .orderBy(col("g_a"), col("g_b"))
    },
      // pairwise overlap: per-source bottom-64 word-hash sketches; per pair,
      // the union sketch is the 64 smallest of the two sketches' union and
      // membership flags come from each side's sketch (rank containment) —
      // same HUGEINT floor-div arithmetic as the other KMV oracles
      """WITH w AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        |  FROM (SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS tok
        |    FROM documents)),
        |rk AS (
        |  SELECT source, hv,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM w),
        |sk AS (SELECT source, hv FROM rk WHERE rn <= 64),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (
        |  SELECT a.source AS g_a, b.source AS g_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |pu AS (
        |  SELECT p.g_a, p.g_b, s.hv FROM pairs p
        |    JOIN sk s ON s.source = p.g_a
        |  UNION
        |  SELECT p.g_a, p.g_b, s.hv FROM pairs p
        |    JOIN sk s ON s.source = p.g_b),
        |r AS (
        |  SELECT g_a, g_b, hv,
        |    ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn
        |  FROM pu),
        |m AS (
        |  SELECT r.g_a, r.g_b, r.hv,
        |    MAX(CASE WHEN s.source = r.g_a THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN s.source = r.g_b THEN 1 ELSE 0 END) AS ib
        |  FROM r JOIN sk s ON s.hv = r.hv
        |    AND s.source IN (r.g_a, r.g_b)
        |  WHERE r.rn <= 64 GROUP BY 1, 2, 3),
        |us AS (
        |  SELECT g_a, g_b, COUNT(*) AS nu, MAX(hv) AS kthu
        |  FROM r WHERE rn <= 64 GROUP BY 1, 2),
        |nb AS (
        |  SELECT g_a, g_b, CAST(SUM(ia * ib) AS BIGINT) AS n_both
        |  FROM m GROUP BY 1, 2),
        |est AS (
        |  SELECT us.g_a, us.g_b, us.nu, nb.n_both,
        |    CAST(CASE WHEN us.nu < 64 THEN us.nu
        |      ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
        |        // GREATEST(us.kthu, 1) END AS BIGINT) AS est_union
        |  FROM us JOIN nb USING (g_a, g_b))
        |SELECT g_a, g_b, n_both, est_union,
        |  CAST(CASE WHEN nu < 64 THEN n_both
        |    ELSE (CAST(n_both AS HUGEINT) * est_union)
        |      // nu END AS BIGINT) AS est_intersect
        |FROM est ORDER BY 1, 2""".stripMargin),

    // ---- count-min frequency sketch over the event stream ------------------
    // Build a 4×512 CMS of per-user event counts (the sketch is a 2048-row
    // count table — constant size at any input mass, mergeable by summing
    // counters), then point-estimate the exact top-15 users. CMS placement
    // is md5-deterministic, so est and overcount replay exactly; est ≥
    // exact is the structural guarantee (asserted in SketchesSpec).
    QuerySpec("cms_counts_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val sketch = graft.scale.Sketches.cmsBuild(ev, col("user_id"))
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(15)
      graft.scale.Sketches.cmsEstimate(sketch, top, "user_id")
        .join(top, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cms_est"),
          (col("cms_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("user_id"))
    },
      // CMS replay: row j's bucket for key x = md5-prefix("j:x") % 512 in
      // both engines; top-15 tie-break (count desc, user_id) is total order
      """WITH c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1),
        |top AS (
        |  SELECT user_id, n_exact FROM c
        |  ORDER BY n_exact DESC, user_id LIMIT 15),
        |d AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
        |sk AS (
        |  SELECT d.j,
        |    CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512
        |      AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events e CROSS JOIN d GROUP BY 1, 2),
        |est AS (
        |  SELECT t.user_id, MIN(sk.cnt) AS cms_est
        |  FROM top t CROSS JOIN d
        |  JOIN sk ON sk.j = d.j AND sk.bucket =
        |    CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |      CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512
        |  GROUP BY 1)
        |SELECT t.user_id, t.n_exact, e.cms_est,
        |  e.cms_est - t.n_exact AS overcount
        |FROM top t JOIN est e USING (user_id)
        |ORDER BY t.n_exact DESC, t.user_id""".stripMargin),

    // ---- CMS as STREAMING aggregation state --------------------------------
    // The frequency-sketch counterpart of streaming_kmv_events: cmsBuild's
    // hash-agg runs as a streaming groupBy, so the state store holds the
    // fixed 4×512 counter table however long the stream runs — bounded-
    // memory heavy-hitter tracking. Counter addition is merge-order-free,
    // so the batch sketch-table oracle replays the result exactly.
    QuerySpec("streaming_cms_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val sk = graft.scale.Sketches.cmsBuild(stream, col("user_id"))
      Streams.runToMemory(s, sk, OutputMode.Complete())
        .orderBy(col("j"), col("bucket"))
    },
      // streaming CMS == batch CMS (counter addition is merge-order-free):
      // the sketch table itself is the checked output
      """SELECT d.j,
        |  CAST(('0x' || substring(md5(CAST(d.j AS VARCHAR) || ':' ||
        |    CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events e CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- skew: salted two-phase aggregation (5 hot keys spread over salt
    // buckets; result is salt-independent → plain GROUP BY oracle) -----------
    QuerySpec("salted_agg_events", (s, dir) =>
      graft.scale.Skew.saltedCountSum(
          t(s, dir, "events"), Seq("event_type"), "value", 16,
          Seq(col("event_id")))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- heavy-hitter key diagnostic (decides when salting pays) -----------
    QuerySpec("heavy_hitters_events", (s, dir) =>
      graft.scale.Skew.heavyHitters(
        t(s, dir, "events"), Seq("user_id", "event_type"), 25),
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, event_type, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share
        |FROM c, t ORDER BY cnt DESC, user_id, event_type LIMIT 25""".stripMargin),

    // ---- streaming top-k heavy hitters (Complete-mode count state) ---------
    // The streaming twin of heavy_hitters_events: per-key counts as
    // streaming aggregation state (one long per key in the state store),
    // the top-k + share read runs over the drained state table.
    QuerySpec("streaming_topk_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = stream.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val state = Streams.runToMemory(s, counts, OutputMode.Complete())
      val tot = state.agg(sum(col("n")).as("__tot"))
      graft.core.Bounded.withRank(
          state.crossJoin(broadcast(tot))
            .orderBy(col("n").desc, col("user_id"))
            .limit(20),
          Seq("n" -> true, "user_id" -> false), "rk")
        .select(col("rk"), col("user_id"), col("n"),
          round(col("n").cast("double") / col("__tot"), 6).as("share"))
    },
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
        |    user_id, n
        |  FROM c)
        |SELECT rk, user_id, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
        |FROM r, tot WHERE rk <= 20 ORDER BY rk""".stripMargin),

    lDiversityCustomer,

    // ---- STREAMING l-diversity ((class, sensitive) cell state) -------------
    QuerySpec("streaming_l_diversity_customer", (s, dir) => {
      val stream = Tables.stream(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = graft.metrics.Metrics.lDiversityCounts(stream,
        Seq("c_nationkey", "c_mktsegment"), "bal_band")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.lDiversityFromCounts(drained, Seq(2, 3, 5))
        .orderBy(col("l"))
    },
      // l-diversity twin: (class, sensitive) cell state + panel fold
      lDiversityCustomer.oracle),

    tClosenessCustomer,

    // ---- STREAMING t-closeness ((class, ordered sensitive) cell state) -----
    QuerySpec("streaming_t_closeness_customer", (s, dir) => {
      val stream = Tables.stream(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = graft.metrics.Metrics.tClosenessCounts(stream,
        Seq("c_nationkey", "c_mktsegment"), "bal_band")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.tClosenessFromCounts(drained,
          Seq(150000L, 250000L, 500000L))
        .orderBy(col("t"))
    },
      // t-closeness twin: (class, ordered sensitive) cell state + EMD fold
      tClosenessCustomer.oracle),

    // ---- format-conformance profile (regex validity panel) -----------------
    // Two real contracts plus one deliberately failing rule so violation
    // accounting is exercised non-zero; anchored portable patterns only.
    QuerySpec("conformance_customer", (s, dir) =>
      graft.metrics.Metrics.conformanceProfile(t(s, dir, "customer"), Seq(
          ("name_format", "c_name", "^Customer#[0-9]+$"),
          ("segment_enum", "c_mktsegment",
            "^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$"),
          ("name_digits_only", "c_name", "^[0-9]+$")))
        .orderBy(col("rule")),
      // anchored patterns keep rlike/regexp_matches on the shared subset
      """WITH u AS (
        |  SELECT 'name_format' AS rule, c_name IS NULL AS nl,
        |    regexp_matches(CAST(c_name AS VARCHAR),
        |      '^Customer#[0-9]+$') AS ok
        |  FROM customer
        |  UNION ALL
        |  SELECT 'segment_enum', c_mktsegment IS NULL,
        |    regexp_matches(CAST(c_mktsegment AS VARCHAR),
        |      '^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$')
        |  FROM customer
        |  UNION ALL
        |  SELECT 'name_digits_only', c_name IS NULL,
        |    regexp_matches(CAST(c_name AS VARCHAR), '^[0-9]+$')
        |  FROM customer)
        |SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN nl THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violation,
        |  CASE WHEN COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END) > 0
        |    THEN ROUND(CAST(COUNT(*)
        |        - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT nl AND ok THEN 1 ELSE 0 END)
        |        AS DOUBLE)
        |      / CAST(COUNT(*) - SUM(CASE WHEN nl THEN 1 ELSE 0 END)
        |        AS DOUBLE), 6)
        |  END AS violation_rate
        |FROM u GROUP BY rule ORDER BY rule""".stripMargin),

    corrMatrixLineitem,

    // ---- STREAMING Pearson panel (exact decimal-moment state) ---------------
    QuerySpec("streaming_corr_matrix_lineitem", (s, dir) => {
      val stream = Tables.stream(s, dir, "lineitem")
      val moments = graft.metrics.Metrics.corrMoments(stream, Seq(
        ("qty_price", "l_quantity", "l_extendedprice"),
        ("qty_discount", "l_quantity", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax")))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      graft.metrics.Metrics.corrFromMoments(drained).orderBy(col("pair"))
    },
      // Pearson twin: exact decimal-moment state + fold (cast after sums)
      corrMatrixLineitem.oracle),

    woeIvEvents,

    // ---- STREAMING WOE/IV panel (bin-count state) ---------------------------
    QuerySpec("streaming_woe_iv_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
        .withColumn("label",
          col("event_type") === "purchase" && col("value") >= 150.0)
        .withColumn("bin",
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
            " div 5000"))
      val counts = graft.metrics.Metrics.woeBinCounts(stream, "label",
        "bin")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.woeFromCounts(drained).orderBy(col("bin"))
    },
      // WOE twin: bin-count state + smoothed fold
      woeIvEvents.oracle),

    // ---- effective sample size of selection weights -------------------------
    // Kish ESS over length-proportional weights — the degenerate-weights
    // alarm a DSIR/temperature reweighting run reads before training.
    QuerySpec("ess_weights_docs", (s, dir) =>
      graft.metrics.Metrics.effectiveSampleSize(
        t(s, dir, "documents"), "n_chars"),
      """WITH b AS (
        |  SELECT CAST(n_chars AS HUGEINT) AS w FROM documents
        |  WHERE n_chars IS NOT NULL),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(w) AS sw, SUM(w * w) AS sww, MAX(w) AS mx FROM b)
        |SELECT n, CAST(sw AS BIGINT) AS sum_w,
        |  CASE WHEN sww > 0 THEN
        |    ROUND((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
        |      / CAST(sww AS DOUBLE), 6) END AS ess,
        |  CASE WHEN sww > 0 THEN
        |    ROUND((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
        |      / CAST(sww AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |  END AS ess_frac,
        |  CASE WHEN sw > 0 THEN
        |    ROUND(CAST(mx AS DOUBLE) / CAST(sw AS DOUBLE), 6)
        |  END AS max_w_share
        |FROM s""".stripMargin),

    // ---- joinability discovery (which column pairs CAN join) ---------------
    // Value-overlap between orders and customer columns — the FK edge
    // riProfile audits is the one this report discovers.
    QuerySpec("joinability_orders_customer", (s, dir) =>
      graft.metrics.Metrics.joinability(
          t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"),
          t(s, dir, "customer"),
          Seq("c_custkey", "c_nationkey", "c_mktsegment"))
        .orderBy(col("col_a"), col("col_b")),
      // values compare as strings (cross-type joinability is the point);
      // only pairs with >=1 shared value appear
      """WITH va AS (
        |  SELECT DISTINCT col_a, v FROM (
        |    SELECT 'o_orderkey' AS col_a,
        |      CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |    UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |    FROM orders
        |    UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |    UNION ALL SELECT 'o_orderpriority', o_orderpriority
        |    FROM orders) u WHERE v IS NOT NULL),
        |vb AS (
        |  SELECT DISTINCT col_b, v FROM (
        |    SELECT 'c_custkey' AS col_b,
        |      CAST(c_custkey AS VARCHAR) AS v FROM customer
        |    UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
        |    FROM customer
        |    UNION ALL SELECT 'c_mktsegment', c_mktsegment
        |    FROM customer) u WHERE v IS NOT NULL),
        |na AS (SELECT col_a, CAST(COUNT(*) AS BIGINT) AS n_a
        |  FROM va GROUP BY 1),
        |nb AS (SELECT col_b, CAST(COUNT(*) AS BIGINT) AS n_b
        |  FROM vb GROUP BY 1),
        |j AS (
        |  SELECT col_a, col_b, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM va JOIN vb USING (v) GROUP BY 1, 2)
        |SELECT col_a, col_b, n_a, n_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |    AS containment_a,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |    AS containment_b,
        |  ROUND(CAST(n_common AS DOUBLE)
        |    / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
        |FROM j JOIN na USING (col_a) JOIN nb USING (col_b)
        |ORDER BY col_a, col_b""".stripMargin),

    // ---- referential-integrity profile (the silent-join-loss audit) --------
    // Two real FK edges plus one deliberately broken edge (active-customer
    // subset as parent, every-11th FK nulled) so orphan and null-FK
    // accounting is exercised, not just asserted zero.
    QuerySpec("ri_profile_orders", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nullable = ord.withColumn("ck",
        when(col("o_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
      graft.metrics.Metrics.riProfile(Seq(
          ("orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
          ("custkey->customer", ord, "o_custkey", cust, "c_custkey"),
          ("nullable->active_customer", nullable, "ck",
            cust.filter(col("c_custkey") % 7 =!= 0), "c_custkey")))
        .orderBy(col("fk"))
    },
      // orphan = non-null child key missing from the parent key set;
      // NULL FKs legal (excluded from the rate's denominator)
      """WITH e1c AS (
        |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |e1p AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderkey IS NOT NULL),
        |e2c AS (
        |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |e2p AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_custkey IS NOT NULL),
        |e3c AS (
        |  SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
        |    ELSE o_custkey END AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |e3p AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_custkey % 7 <> 0 AND c_custkey IS NOT NULL),
        |panel AS (
        |  SELECT 'orderkey->orders' AS fk, ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM e1c ch LEFT JOIN e1p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'orderkey->orders', p.k, NULL, 1
        |  FROM e1p p WHERE p.k NOT IN (SELECT k FROM e1c WHERE k IS NOT NULL)
        |  UNION ALL
        |  SELECT 'custkey->customer', ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END
        |  FROM e2c ch LEFT JOIN e2p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'custkey->customer', p.k, NULL, 1
        |  FROM e2p p WHERE p.k NOT IN (SELECT k FROM e2c WHERE k IS NOT NULL)
        |  UNION ALL
        |  SELECT 'nullable->active_customer', ch.k, ch.c,
        |    CASE WHEN p.k IS NULL THEN 0 ELSE 1 END
        |  FROM e3c ch LEFT JOIN e3p p ON ch.k = p.k
        |  UNION ALL
        |  SELECT 'nullable->active_customer', p.k, NULL, 1
        |  FROM e3p p WHERE p.k NOT IN (SELECT k FROM e3c WHERE k IS NOT NULL))
        |SELECT fk,
        |  CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS n_child,
        |  CAST(SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) AS BIGINT)
        |    AS null_fk_rows,
        |  CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 THEN c ELSE 0 END)
        |    AS BIGINT) AS orphan_rows,
        |  CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 AND c IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS orphan_keys,
        |  CASE WHEN SUM(COALESCE(c, 0))
        |      - SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) > 0 THEN
        |    ROUND(CAST(SUM(CASE WHEN k IS NOT NULL AND hit = 0 THEN c
        |        ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(COALESCE(c, 0))
        |        - SUM(CASE WHEN k IS NULL THEN c ELSE 0 END) AS DOUBLE), 6)
        |  END AS orphan_rate,
        |  CAST(SUM(hit) AS BIGINT) AS parent_keys,
        |  CAST(SUM(CASE WHEN hit = 1 AND c IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS unreferenced_parent_keys
        |FROM panel GROUP BY fk ORDER BY fk""".stripMargin),

    // ---- candidate-key discovery (uniqueness profiling) --------------------
    // Which combos can key a join/partition/dedup: one scan for all four
    // declared candidates (the fd explode shape), exact duplicate masses.
    QuerySpec("key_candidates_orders", (s, dir) =>
      graft.metrics.Metrics.keyCandidates(t(s, dir, "orders"), Seq(
          ("orderkey", Seq("o_orderkey")),
          ("custkey", Seq("o_custkey")),
          ("cust_date", Seq("o_custkey", "o_orderdate")),
          ("status_priority", Seq("o_orderstatus", "o_orderpriority"))))
        .orderBy(col("combo")),
      // one scan for all combos; GROUP BY is null-safe in both engines, so
      // the SQL groups raw tuples while Spark groups the injective encoding
      """WITH u AS (
        |  SELECT 'orderkey' AS combo, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY o_orderkey
        |  UNION ALL
        |  SELECT 'custkey', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_custkey
        |  UNION ALL
        |  SELECT 'cust_date', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |  UNION ALL
        |  SELECT 'status_priority', CAST(COUNT(*) AS BIGINT)
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |SELECT combo, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(c - 1) AS BIGINT) AS duplicates,
        |  CAST(MAX(c) AS BIGINT) AS max_group,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS uniqueness,
        |  MAX(c) = 1 AS is_key
        |FROM u GROUP BY combo ORDER BY combo""".stripMargin),

    // ---- exact join-cardinality pricing (the pre-join advisor) -------------
    // The l_partkey SELF-join priced without running it: Σ c² from one
    // histogram — the number that decides whether basket-pair generation
    // needs a cap/salt before the shuffle.
    QuerySpec("join_cardinality_lineitem", (s, dir) =>
      graft.scale.Skew.joinCardinality(
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "lineitem"), "l_partkey"),
      // Σ_k cA(k)·cB(k) from the key histograms — the join priced without
      // the join; NULL keys count in table sizes but never join
      """WITH ca AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |cb AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |la AS (SELECT CAST(SUM(c) AS BIGINT) AS n_left,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys_left FROM ca),
        |lb AS (SELECT CAST(SUM(c) AS BIGINT) AS n_right,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys_right FROM cb),
        |j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_common,
        |  CAST(SUM(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS join_rows,
        |  CAST(MAX(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT)
        |    AS max_key_rows
        |  FROM ca JOIN cb USING (k))
        |SELECT n_left, n_right, n_keys_left, n_keys_right, n_keys_common,
        |  join_rows, max_key_rows,
        |  ROUND(CAST(max_key_rows AS DOUBLE) / CAST(join_rows AS DOUBLE),
        |    6) AS max_key_share,
        |  ROUND(CAST(join_rows AS DOUBLE) / CAST(n_left AS DOUBLE), 6)
        |    AS fanout_left
        |FROM j, la, lb""".stripMargin),

    // ---- exact-sums Pearson correlation per group (order-free decimals) ----
    QuerySpec("corr_lineitem", (s, dir) =>
      Metrics.exactCorrelation(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag")),
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |     SQRT(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_xy
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // ---- robust stats: median + median-absolute-deviation per group --------
    QuerySpec("mad_orders", (s, dir) =>
      Metrics.medianAbsoluteDeviation(
          t(s, dir, "orders"), "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus")),
      """WITH m AS (
        |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o.o_orderstatus, COUNT(*) AS n,
        |  ROUND(MIN(m.med), 6) AS median,
        |  ROUND(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 6) AS mad
        |FROM orders o JOIN m ON o.o_orderstatus = m.o_orderstatus
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),

    // ---- scale-path quantile binning (broadcast boundaries, no per-group
    // global sort — the 100 TB alternative to the ntile query) ---------------
    QuerySpec("quantile_bin_orders", (s, dir) =>
      Metrics.quantileBin(t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin")),
      """WITH q AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.5) AS q2,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o.o_orderpriority,
        |  1 + CAST(o.o_totalprice > q.q1 AS INT)
        |    + CAST(o.o_totalprice > q.q2 AS INT)
        |    + CAST(o.o_totalprice > q.q3 AS INT) AS bin,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- data-validation column profile (one pass + stack unpivot) ---------
    QuerySpec("profile_customer", (s, dir) =>
      Metrics.profileColumns(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy(col("column_name")),
      """SELECT * FROM (
        |  SELECT 'c_custkey' AS column_name,
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    COUNT(DISTINCT c_custkey) AS n_distinct,
        |    CAST(MIN(c_custkey) AS VARCHAR) AS min_val,
        |    CAST(MAX(c_custkey) AS VARCHAR) AS max_val
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name',
        |    CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_name), MIN(c_name), MAX(c_name)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey',
        |    CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_nationkey),
        |    CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment',
        |    CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT c_mktsegment), MIN(c_mktsegment), MAX(c_mktsegment)
        |  FROM customer)
        |ORDER BY column_name""".stripMargin),

    // ---- data-quality expectations: one-pass rule violation counts ---------
    QuerySpec("constraints_orders", (s, dir) => {
      val orders = t(s, dir, "orders")
      val rowRules = Metrics.constraintViolations(orders, Seq(
        "nonpositive_price" -> (col("o_totalprice") <= 0.0),
        "null_custkey" -> col("o_custkey").isNull,
        "unknown_priority" -> !col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "null_orderdate" -> col("o_orderdate").isNull))
      rowRules
        .unionByName(
          Metrics.uniquenessViolations(orders, "o_orderkey", "dup_orderkey"))
        .orderBy(col("rule"))
    },
      """SELECT * FROM (
        |  SELECT 'dup_orderkey' AS rule,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
        |  UNION ALL SELECT 'nonpositive_price',
        |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'null_custkey',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'unknown_priority',
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
        |      '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL SELECT 'null_orderdate',
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders)
        |ORDER BY rule""".stripMargin),

    // ---- precision-recall operating curve of the quality gate --------------
    // P/R/F1 at EVERY distinct hashed-linear score threshold (predict
    // positive iff w_sum >= t) against the contains-'spark' label — the
    // imbalanced-label view the single-threshold confusion matrix hides.
    QuerySpec("pr_curve_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.prCurve(scored, "w_sum", "y")
        .orderBy(col("threshold").desc)
    },
      s"$prCurveOracleCore ORDER BY threshold DESC"),

    // ---- best-F1 operating point of the quality gate ------------------------
    // The threshold a deployment ships: argmax of the 6-decimal F1 over
    // the PR sweep, ties to the smallest (most permissive) threshold.
    QuerySpec("best_f1_threshold_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("y")), Seq("doc_id"))
      Metrics.bestF1Threshold(scored, "w_sum", "y")
    },
      s"SELECT * FROM ($prCurveOracleCore) ORDER BY f1 DESC, threshold LIMIT 1"),

    // ---- SPLIT-CONFORMAL regression interval (numeric coverage row) --------
    // Fixed declared predictor n_chars ≈ 6·n_tokens (the mean-word-length
    // prior); the conformal interval pred ± q_hat needs NO residual
    // distribution assumption — k = ceil((n_cal+1)*0.9)-th smallest
    // calibration |residual|, coverage measured on the disjoint holdout.
    QuerySpec("conformal_regression_docs", (s, dir) =>
      Metrics.conformalRegression(
        t(s, dir, "documents")
          .withColumn("pred",
            TextAnalysis.tokenCount(col("text")).cast("long") * 6L),
        "doc_id", "n_chars", "pred"),
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    6 * len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS pred,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |      || ':crg'), 1, 15)) AS BIGINT) % 4 AS sp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, sp, ABS(n_chars - pred) AS resid FROM b),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM r
        |  WHERE sp = 2),
        |kk AS (SELECT n_cal,
        |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
        |qq AS (
        |  SELECT MIN(resid) AS q_hat FROM (
        |    SELECT resid, CAST(SUM(cnt) OVER (ORDER BY resid)
        |      AS BIGINT) AS cum
        |    FROM (SELECT resid, CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM r WHERE sp = 2 GROUP BY resid)) c, kk
        |  WHERE c.cum >= kk.k_rank)
        |SELECT MIN(kk.n_cal) AS n_cal, MIN(kk.k_rank) AS k_rank,
        |  MIN(qq.q_hat) AS q_hat,
        |  CAST(COUNT(h.doc_id) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN h.resid <= qq.q_hat THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  ROUND(CAST(SUM(CASE WHEN h.resid <= qq.q_hat THEN 1 ELSE 0
        |    END) AS DOUBLE) / COUNT(h.doc_id), 6) AS coverage,
        |  0.9 AS target,
        |  2 * MIN(qq.q_hat) AS interval_width
        |FROM (SELECT * FROM r WHERE sp = 3) h, kk, qq""".stripMargin),

    fdViolationsOrders,

    // ---- STREAMING g3 FD drift -------------------------------------------
    // fd_violations' streaming twin (the welch/proportion/drift
    // convention): the per-(fd, lhs, rhs) count table — the ONLY
    // corpus-mass state — runs as one Complete-mode aggregation over the
    // union of key-serialized projections; the per-lhs fold runs over
    // the drained state. Oracle = the batch fd_violations SQL verbatim.
    QuerySpec("streaming_fd_violations_orders", (s, dir) => {
      val stream = Tables.stream(s, dir, "orders")
      val counts = graft.metrics.Metrics.fdCounts(stream, Seq(
        ("custkey->priority", Seq("o_custkey"), "o_orderpriority"),
        ("orderdate->status", Seq("o_orderdate"), "o_orderstatus"),
        ("priority->status", Seq("o_orderpriority"), "o_orderstatus")))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.fdFromCounts(drained).orderBy(col("fd"))
    },
      // the g3 fold over the drained count state = the batch fdViolations
      // algebra (spec-pinned composition) — same SQL
      fdViolationsOrders.oracle),

    benfordOrders,

    // ---- STREAMING Benford first-digit forensics ---------------------------
    // benford_orders' streaming twin (the fd/welch/proportion
    // convention): the per-(column, first-digit) counts — the ONLY
    // corpus-mass state, associative — run as one Complete-mode
    // aggregation; the panel fold (totals, digit scaffold, chi-square)
    // runs over the drained state. Oracle = the batch SQL verbatim.
    QuerySpec("streaming_benford_orders", (s, dir) => {
      val stream = Tables.stream(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents"))
      val counts = graft.metrics.Metrics.benfordCounts(stream,
        Seq("o_custkey", "price_cents"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.benfordFromCounts(drained)
        .orderBy(col("column"), col("digit"))
    },
      // the Benford fold over the drained digit-count state = the batch
      // panel algebra (spec-pinned composition) — same SQL
      benfordOrders.oracle),

    madOutliersEvents,

    // ---- STREAMING robust median/MAD outlier panel --------------------------
    // per-(group, value) counts as Complete-mode state (the exact-
    // percentile twin's state shape); median, MAD, and the Hampel flags
    // replay on the drained value dictionary — exact, shares the batch
    // oracle verbatim. NULLs are filtered BEFORE the state agg (the batch
    // operator's non-null contract).
    QuerySpec("streaming_mad_outliers_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val counts = graft.metrics.Metrics.valueCounts(stream, "cents",
        Seq("event_type"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.madFromCounts(drained, Seq("event_type"), 3)
        .orderBy(col("event_type"))
    },
      // MAD twin: value-dictionary state + median/MAD rank-pick fold ≡
      // the batch panel (madFromCounts ∘ valueCounts spec-pinned)
      madOutliersEvents.oracle),

    // ---- BOUNDED-state streaming MAD (five bounded passes) -----------------
    // Closes the value-dictionary precondition class entirely: median and
    // MAD each run the two-pass bucket narrowing (bucket-histogram state,
    // then a stream-static narrowed pass), and the flag pass holds one
    // counter row per group — five bounded-state streaming queries where
    // the single-pass twin holds the whole value dictionary. Exact: every
    // piece's composition with the batch selection is spec-pinned.
    QuerySpec("streaming_mad_bounded_events", (s, dir) => {
      import graft.metrics.Metrics
      def stream = Tables.stream(s, dir, "events")
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val g = Seq("event_type")
      def drain(df: DataFrame) =
        Streams.runToMemory(s, df, OutputMode.Complete())
      // median: bucket-histogram state + narrowed value-count state
      val hist1 = drain(Metrics.bucketCounts(stream, "cents", g, 12))
      val t1 = Metrics.percentileTargets(hist1, Seq(500000L), g)
        .localCheckpoint(true)
      val n1 = stream.withColumn("__b", shiftright(col("cents"), 12))
        .join(broadcast(t1.select(col("event_type"), col("__b")).distinct()),
          Seq("event_type", "__b"))
      val med = Metrics.percentilesFromNarrowedCounts(
          drain(Metrics.valueCounts(n1, "cents", g)), t1, g, 12)
        .select(col("event_type"), col("value").as("__med"))
        .localCheckpoint(true)
      // MAD: the same two bounded passes over |x − median|
      def devStream = stream.join(broadcast(med), g)
        .withColumn("__adv", abs(col("cents") - col("__med")))
      val hist2 = drain(Metrics.bucketCounts(devStream, "__adv", g, 12))
      val t2 = Metrics.percentileTargets(hist2, Seq(500000L), g)
        .localCheckpoint(true)
      val n2 = devStream.withColumn("__b", shiftright(col("__adv"), 12))
        .join(broadcast(t2.select(col("event_type"), col("__b")).distinct()),
          Seq("event_type", "__b"))
      val mad = Metrics.percentilesFromNarrowedCounts(
          drain(Metrics.valueCounts(n2, "__adv", g)), t2, g, 12)
        .select(col("event_type"), col("value").as("__mad"))
        .localCheckpoint(true)
      // flags: ONE counter row per group as state
      val mm = med.join(mad, g).localCheckpoint(true)
      val flags = stream.join(broadcast(mm), g)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("__med")).as("median"), max(col("__mad")).as("mad"),
          sum(when(abs(col("cents") - col("__med")) > col("__mad") * 3, 1L)
            .otherwise(0L)).as("n_outliers"))
      drain(flags)
        .withColumn("outlier_frac",
          round(col("n_outliers").cast("double") / col("n"), 6))
        .orderBy(col("event_type"))
    },
      // BOUNDED MAD twin: five bounded-state passes ≡ the same batch panel
      madOutliersEvents.oracle),

    assocPanelOrders,

    // ---- STREAMING association panel (cell-count state, panel fold) --------
    QuerySpec("streaming_assoc_orders", (s, dir) => {
      val stream = Tables.stream(s, dir, "orders")
        .withColumn("mon", month(col("o_orderdate")))
        .withColumn("band",
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
            " div 5000000"))
      val counts = graft.metrics.Metrics.assocCounts(stream,
        Seq(("priority_month", "o_orderpriority", "mon"),
          ("status_band", "o_orderstatus", "band"),
          ("status_priority", "o_orderstatus", "o_orderpriority")))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.metrics.Metrics.assocFromCounts(drained).orderBy(col("pair"))
    },
      // association twin: cell-count state + panel fold ≡ the batch panel
      assocPanelOrders.oracle),

    // ---- Cohen's kappa inter-annotator agreement ---------------------------
    // Two deterministic "annotators" of the same value-band property (the
    // second reads a ±$10 perturbed value) — chance-corrected agreement
    // per event type; the exact cross-multiplied (diag·n − S)/(n² − S).
    QuerySpec("cohens_kappa_events", (s, dir) =>
      graft.metrics.Metrics.cohensKappa(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("rater_a",
            when(col("cents") >= 15000, "hi")
              .when(col("cents") >= 5000, "mid").otherwise("lo"))
          .withColumn("pert",
            col("cents") + (col("event_id") % 21 - 10) * 100)
          .withColumn("rater_b",
            when(col("pert") >= 15000, "hi")
              .when(col("pert") >= 5000, "mid").otherwise("lo")),
        "rater_a", "rater_b", Seq("event_type"))
        .orderBy(col("event_type")),
      // kappa cross-multiplies to exact integers: (diag·n − S)/(n² − S)
      """WITH src AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    event_id
        |  FROM events),
        |r AS (
        |  SELECT event_type,
        |    CASE WHEN cents >= 15000 THEN 'vhi'
        |      WHEN cents >= 5000 THEN 'vmid' ELSE 'vlo' END AS a,
        |    CASE WHEN cents + (event_id % 21 - 10) * 100 >= 15000 THEN 'vhi'
        |      WHEN cents + (event_id % 21 - 10) * 100 >= 5000 THEN 'vmid'
        |      ELSE 'vlo' END AS b
        |  FROM src),
        |cells AS (SELECT event_type, a, b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3),
        |ra AS (SELECT event_type, a AS k, CAST(SUM(c) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |cb AS (SELECT event_type, b AS k, CAST(SUM(c) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |pe AS (SELECT event_type, SUM(CAST(ra AS HUGEINT) * cb) AS sumrc
        |  FROM ra JOIN cb USING (event_type, k) GROUP BY 1),
        |base AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
        |  FROM cells GROUP BY 1),
        |f AS (SELECT base.event_type, n, diag,
        |  COALESCE(sumrc, 0) AS s
        |  FROM base LEFT JOIN pe USING (event_type))
        |SELECT event_type, n,
        |  ROUND(CAST(diag AS DOUBLE) / n, 6) AS po,
        |  ROUND(CAST(s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  CASE WHEN CAST(n AS HUGEINT) * n > s THEN
        |    ROUND(CAST(CAST(diag AS HUGEINT) * n - s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE), 6)
        |  END AS kappa
        |FROM f ORDER BY event_type""".stripMargin),

    skewProfileEvents,

    // ---- STREAMING join-key skew monitor (per-key class-size state — the
    // k-anonymity state relation; the histogram/gini fold replays on
    // drain) — watch the hot key grow as ingest accumulates ------------------
    QuerySpec("streaming_skew_profile_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val cls = graft.metrics.Metrics.kAnonymityCounts(stream,
        Seq("user_id"))
      val drained = Streams.runToMemory(s, cls, OutputMode.Complete())
      graft.metrics.Metrics.skewFromSizes(drained, 32)
    },
      // skew twin: the k-anonymity class-size state + histogram fold
      skewProfileEvents.oracle),

    fleissKappaDocs,

    // ---- STREAMING Fleiss' kappa (rating-profile counts as Complete-mode
    // state — the kAnonymityCounts shape; the kappa fold replays on drain) ---
    QuerySpec("streaming_fleiss_kappa_docs", (s, dir) => {
      val stream = Tables.stream(s, dir, "documents")
      val prof = Metrics.fleissProfileCounts(qualityRaters(stream),
        Seq("r_len", "r_tok", "r_div"))
      val drained = Streams.runToMemory(s, prof, OutputMode.Complete())
      Metrics.fleissFromProfiles(drained, 3)
    },
      // Fleiss twin: rating-profile count state + kappa fold on drain
      fleissKappaDocs.oracle),

    // ---- multi-rater agreement under MISSINGNESS: Krippendorff's alpha ----
    // Two judges abstain on deterministic slices (%11 / %7 — the timeout/
    // sampling shape); units keep whatever ratings remain, <2 drop. Same
    // profile state as Fleiss, the missing-tolerant fold.
    QuerySpec("krippendorff_docs", (s, dir) =>
      Metrics.krippendorffAlpha(
        qualityRaters(t(s, dir, "documents"))
          .withColumn("r_tok",
            when(col("doc_id") % 11 === 0, lit(null).cast("string"))
              .otherwise(col("r_tok")))
          .withColumn("r_div",
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("r_div"))),
        Seq("r_len", "r_tok", "r_div")),
      // unit-wise m_u/disagreement expressions, L = lcm(1..m-1) = 2 scales
      // the coincidence fractions to exact integers; <2-rating units drop
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS nt,
        |    len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS nd
        |  FROM documents),
        |r AS (
        |  SELECT
        |    CASE WHEN n_chars < 200 THEN 'lo'
        |      WHEN n_chars < 800 THEN 'mid' ELSE 'hi' END AS r0,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL
        |      WHEN nt < 40 THEN 'lo'
        |      WHEN nt < 160 THEN 'mid' ELSE 'hi' END AS r1,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |      WHEN nd * 10 < nt * 5 THEN 'lo'
        |      WHEN nd * 10 < nt * 8 THEN 'mid' ELSE 'hi' END AS r2
        |  FROM base),
        |u AS (
        |  SELECT r0, r1, r2,
        |    CAST(r0 IS NOT NULL AS INT) + CAST(r1 IS NOT NULL AS INT)
        |      + CAST(r2 IS NOT NULL AS INT) AS mu,
        |    CASE WHEN r0 IS NOT NULL AND r1 IS NOT NULL AND r0 <> r1
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN r0 IS NOT NULL AND r2 IS NOT NULL AND r0 <> r2
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND r1 <> r2
        |      THEN 1 ELSE 0 END AS dis
        |  FROM r),
        |inc AS (SELECT * FROM u WHERE mu >= 2),
        |so AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(CAST(2 * dis AS HUGEINT) * (2 // (mu - 1))) AS so
        |  FROM inc),
        |marg AS (
        |  SELECT CAST(SUM(nc) AS BIGINT) AS n_ratings,
        |    SUM(CAST(nc AS HUGEINT) * nc) AS snc2
        |  FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS nc FROM (
        |      SELECT r0 AS k FROM inc WHERE r0 IS NOT NULL
        |      UNION ALL SELECT r1 FROM inc WHERE r1 IS NOT NULL
        |      UNION ALL SELECT r2 FROM inc WHERE r2 IS NOT NULL)
        |    GROUP BY k)),
        |f AS (
        |  SELECT n_units, n_ratings, so,
        |    CAST(n_ratings AS HUGEINT) * n_ratings - snc2 AS se
        |  FROM so, marg),
        |g AS (
        |  SELECT n_units, n_ratings, so, se,
        |    se * 2 - (CAST(n_ratings AS HUGEINT) - 1) * so AS alpha_num,
        |    se * 2 AS alpha_den
        |  FROM f)
        |SELECT n_units, n_ratings,
        |  ROUND(CAST(so AS DOUBLE) / (2.0 * CAST(n_ratings AS DOUBLE)), 6)
        |    AS d_o,
        |  ROUND(CAST(se AS DOUBLE) / (CAST(n_ratings AS DOUBLE)
        |    * (CAST(n_ratings AS DOUBLE) - 1.0)), 6) AS d_e,
        |  CAST(alpha_num AS VARCHAR) AS alpha_num,
        |  CAST(alpha_den AS VARCHAR) AS alpha_den,
        |  CASE WHEN alpha_den <> 0 THEN
        |    ROUND(CAST(alpha_num AS DOUBLE) / CAST(alpha_den AS DOUBLE), 6)
        |  END AS alpha
        |FROM g""".stripMargin),

    // ---- composite: CCNet-style per-language perplexity bucketing ----------
    // Score every document against the corpus's own unigram LM, then split
    // each language into head/upper/lower/tail quartile buckets by score —
    // the filtering shape CCNet runs with a KenLM. Buckets come from the
    // broadcast-quantile join ([[Metrics.quantileBin]]), never a global
    // ntile window.
    QuerySpec("perplexity_buckets_docs", (s, dir) => {
      val scored = TextAnalysis
        .unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
      Metrics.quantileBin(scored, "lang", "avg_logprob")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("avg_logprob")), 6).as("min_score"),
          round(max(col("avg_logprob")), 6).as("max_score"))
        .orderBy(col("lang"), col("bin"))
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
        |sc AS (
        |  SELECT t.doc_id, d.lang,
        |    ROUND(AVG(ln(CAST(tf AS DOUBLE) / total)), 6) AS s
        |  FROM tok t JOIN freq USING (token) CROSS JOIN tot
        |  JOIN documents d ON d.doc_id = t.doc_id
        |  GROUP BY t.doc_id, d.lang),
        |q AS (
        |  SELECT lang, quantile_cont(s, 0.25) AS q1, quantile_cont(s, 0.5) AS q2,
        |    quantile_cont(s, 0.75) AS q3
        |  FROM sc GROUP BY lang)
        |SELECT sc.lang,
        |  1 + CAST(sc.s > q.q1 AS INT) + CAST(sc.s > q.q2 AS INT)
        |    + CAST(sc.s > q.q3 AS INT) AS bin,
        |  COUNT(*) AS n_docs,
        |  ROUND(MIN(sc.s), 6) AS min_score,
        |  ROUND(MAX(sc.s), 6) AS max_score
        |FROM sc JOIN q ON sc.lang = q.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- exact per-language ROC-AUC of the quality gate --------------------
    // Mann–Whitney U over the AGGREGATED (lang, score) table — scores are
    // the exact-long w_sum of the hashed linear gate, label = the same
    // text-derived target the classifier-training queries use, so this is
    // the evaluation step of that family. No per-pair materialization.
    QuerySpec("auc_scores_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs
        .select(col("doc_id"), col("lang"),
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long").as("label"))
        .join(TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("w_sum")), Seq("doc_id"))
      Metrics.aucExact(labeled, "w_sum", "label", Seq("lang"))
        .orderBy(col("lang"))
    },
      // exact Mann–Whitney AUC from the aggregated (lang, score) table; the
      // θ-join LEFT JOIN accumulates strictly-below negative mass per score
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks),
        |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY 1),
        |lab AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN list_contains(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> len(x) > 0),
        |      'spark') THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |agg AS (
        |  SELECT l.lang, sc.s,
        |    CAST(SUM(l.label) AS BIGINT) AS np,
        |    CAST(SUM(1 - l.label) AS BIGINT) AS nn
        |  FROM lab l JOIN sc USING (doc_id) GROUP BY 1, 2),
        |wb AS (
        |  SELECT a.lang, a.s, a.np, a.nn,
        |    CAST(COALESCE(SUM(b.nn), 0) AS BIGINT) AS nb
        |  FROM agg a LEFT JOIN agg b ON b.lang = a.lang AND b.s < a.s
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * (2 * nb + nn)) AS BIGINT) AS u2,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    ROUND(CAST(SUM(np * (2 * nb + nn)) AS DOUBLE)
        |      / (2.0 * SUM(np) * SUM(nn)), 6) END AS auc
        |FROM wb GROUP BY lang ORDER BY lang""".stripMargin),

    percentilesLineitem,

    // ---- STREAMING exact percentiles, BOUNDED state (two-pass) -------------
    // exactPercentiles' two-pass selection with each pass's aggregation as
    // Complete-mode streaming state: pass 1 accumulates the high-bit
    // BUCKET histogram (O(range/2^12) state per group — no value
    // dictionary), its drained fold names each quantile's target (bucket,
    // offset); pass 2 re-streams the source narrowed to target buckets
    // (a stream-static broadcast join; ≈ n/2^12 of the mass, the same
    // fraction the batch second pass re-reads) and accumulates value
    // counts only there. Exact, unbounded-domain safe — the state bound
    // is the batch operator's own, not a domain precondition.
    QuerySpec("streaming_percentiles_bounded_lineitem", (s, dir) => {
      def stream = Tables.stream(s, dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val qs = Seq(500000L, 900000L, 990000L)
      val b1 = Metrics.bucketCounts(stream, "cents", Seq("l_returnflag"), 12)
      val hist = Streams.runToMemory(s, b1, OutputMode.Complete())
      // |groups|·|quantiles| rows; referenced twice (bucket filter + pick)
      val targets = Metrics.percentileTargets(hist, qs, Seq("l_returnflag"))
        .localCheckpoint(true)
      val tb = targets.select(col("l_returnflag"), col("__b")).distinct()
      val narrowed = stream
        .withColumn("__b", shiftright(col("cents"), 12))
        .join(broadcast(tb), Seq("l_returnflag", "__b"))
      val v2 = Metrics.valueCounts(narrowed, "cents", Seq("l_returnflag"))
      val picks = Streams.runToMemory(s, v2, OutputMode.Complete())
      Metrics.percentilesFromNarrowedCounts(picks, targets,
          Seq("l_returnflag"), 12)
        .orderBy(col("l_returnflag"), col("q"))
    },
      // bounded-state twin: bucket-histogram state + narrowed second pass
      // ≡ the batch two-pass selection (composition spec-pinned) — same SQL
      percentilesLineitem.oracle),

    // ---- STREAMING exact percentiles (value-dictionary state) --------------
    // per-(group, value) counts as Complete-mode state; the type-1 rank
    // pick replays on the drained dictionary — exact and single-pass, for
    // bounded-domain metrics (cents, counts, durations) where the value
    // dictionary is itself dictionary-scale; the two-pass BOUNDED twin
    // above is the unbounded-domain deployment
    QuerySpec("streaming_percentiles_lineitem", (s, dir) => {
      val stream = Tables.stream(s, dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = Metrics.valueCounts(stream, "cents", Seq("l_returnflag"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.percentilesFromCounts(drained,
          Seq(500000L, 900000L, 990000L), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"), col("q"))
    },
      // exact-percentile twin: value-dictionary state + rank-pick fold —
      // same generated SQL as percentiles_lineitem
      percentilesLineitem.oracle),

    kllQuantilesLineitem,

    // ---- STREAMING KLL sketch (value-dictionary Complete-mode state) -------
    // The pre-compaction state is the associative (value, count) monoid —
    // micro-batch-order-free — and the deterministic compaction + picks
    // fold on the drained dictionary (the streaming_percentiles shape;
    // same bounded-domain caveat, same batch oracle verbatim).
    QuerySpec("streaming_kll_quantiles_lineitem", (s, dir) => {
      val stream = Tables.stream(s, dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = stream.groupBy(col("cents").as("v"))
        .agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Sketches.kllFromCounts(drained, 1024, kllProbes)
        .orderBy(col("q_num"))
    },
      // KLL twin: the (value, count) Complete-mode state is the batch
      // dictionary (associative monoid) — same SQL verbatim
      kllQuantilesLineitem.oracle),

    kllQuantilesByFlagLineitem,

    // ---- STREAMING per-group KLL (per-group value-dictionary state) --------
    QuerySpec("streaming_kll_quantiles_by_flag_lineitem", (s, dir) => {
      val stream = Tables.stream(s, dir, "lineitem")
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      val counts = stream
        .groupBy(col("l_returnflag"), col("cents").as("v"))
        .agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Sketches.kllFromCountsBy(drained, Seq("l_returnflag"),
          1024, kllProbes)
        .orderBy(col("l_returnflag"), col("q_num"))
    },
      // grouped KLL twin: per-group (value, count) Complete-mode state
      kllQuantilesByFlagLineitem.oracle),

    // ---- Spearman rank correlation (monotone association) ------------------
    QuerySpec("spearman_lineitem", (s, dir) =>
      Metrics.spearmanCorr(t(s, dir, "lineitem")
          .withColumn("cents",
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long"))
          .withColumn("qty", col("l_quantity").cast("long")),
        "cents", "qty"),
      // doubled average ranks (2·cum_before + cnt + 1) keep fractional tie
      // ranks integral; moment expression mirrors spearmanCorr verbatim
      """WITH b AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS a,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |ca AS (SELECT a AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |ra AS (
        |  SELECT v, 2 * (SUM(c) OVER (ORDER BY v)) - c + 1 AS r FROM ca),
        |cb AS (SELECT q AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |rb AS (
        |  SELECT v, 2 * (SUM(c) OVER (ORDER BY v)) - c + 1 AS r FROM cb),
        |j AS (
        |  SELECT CAST(ra.r AS DECIMAL(38,0)) AS x,
        |    CAST(rb.r AS DECIMAL(38,0)) AS y
        |  FROM b JOIN ra ON b.a = ra.v JOIN rb ON b.q = rb.v),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0.0
        |  THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM s""".stripMargin),

    kendallTauLineitem,

    // ---- STREAMING Kendall tau-b (contingency cells as Complete state) ----
    QuerySpec("streaming_kendall_tau_lineitem", (s, dir) => {
      val stream = Tables.stream(s, dir, "lineitem")
        .withColumn("x", expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 1000000"))
        .withColumn("y", col("l_quantity").cast("long"))
      val counts = stream.groupBy(col("l_returnflag"), col("x"), col("y"))
        .agg(count(lit(1)).as("n"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.kendallTauFromCounts(drained, "x", "y", "n",
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },
      // tau-b twin: contingency cells as Complete-mode state, fold on
      // drain (FromCounts ∘ cell-counts spec-pinned) — batch SQL verbatim
      kendallTauLineitem.oracle),

    // ---- exact two-sample KS drift (distributed prefix sum, no sort) ------
    // Did the price distribution move between the even- and odd-key halves?
    // The supremum is exact (cross-multiplied integer form); prefix sums
    // run bucket-local with window-free base offsets from the bucket table.
    QuerySpec("ks_drift_orders", (s, dir) =>
      Metrics.ksDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side"),
      // single-node replay of the exact KS supremum: one plain window prefix
      // sum (the bucketed two-pass structure is a distribution detail — the
      // statistic is bucket-independent)
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v, (o_orderkey % 2 = 0) AS s
        |  FROM orders),
        |tot AS (
        |  SELECT COUNT(*) FILTER (NOT s) AS n_a,
        |    COUNT(*) FILTER (s) AS n_b FROM v),
        |g AS (
        |  SELECT v, COUNT(*) FILTER (NOT s) AS ca,
        |    COUNT(*) FILTER (s) AS cb
        |  FROM v GROUP BY v),
        |c AS (
        |  SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb FROM g),
        |d AS (
        |  SELECT v, abs(cuma * n_b - cumb * n_a) AS diff FROM c, tot),
        |m AS (SELECT MAX(diff) AS ks_num FROM d)
        |SELECT t.n_a, t.n_b, CAST(m.ks_num AS VARCHAR) AS ks_num,
        |  MIN(d.v) AS at_value,
        |  ROUND(CAST(m.ks_num AS DOUBLE) /
        |    (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)), 6) AS ks
        |FROM d, m, tot t WHERE d.diff = m.ks_num
        |GROUP BY t.n_a, t.n_b, m.ks_num""".stripMargin),

    // ---- exact Mann-Whitney U rank-sum (nonparametric two-sample drift) ----
    // Does purchase-event value stochastically dominate the rest? Doubled
    // midranks keep U exact; auc IS P(purchase > other) + half-ties; the
    // whole statistic lives on the value dictionary (no corpus join-back).
    QuerySpec("mann_whitney_events", (s, dir) =>
      Metrics.mannWhitneyU(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("event_type") === "purchase"),
        "cents", "side"),
      // doubled midranks via one cumulative over the value dictionary; the
      // exact integers travel as strings (the ks_drift pandas-bridge rule)
      """WITH v AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    (event_type = 'purchase') AS s
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (
        |  SELECT v, CAST(COUNT(*) AS HUGEINT) AS c,
        |    CAST(COUNT(*) FILTER (NOT s) AS HUGEINT) AS ca
        |  FROM v GROUP BY v),
        |r AS (
        |  SELECT v, c, ca, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS r2
        |  FROM g),
        |m AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(c - ca) AS BIGINT) AS n_b,
        |    SUM(ca * r2) AS ra2, SUM(c * c * c - c) AS tie_t
        |  FROM r),
        |u AS (
        |  SELECT n_a, n_b, tie_t,
        |    ra2 - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn
        |  FROM m),
        |w AS (
        |  SELECT n_a, n_b, tie_t, u2, nn,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0 *
        |      ((nn + 1.0) - CAST(tie_t AS DOUBLE) / (nn * (nn - 1.0)))
        |      AS var2
        |  FROM u)
        |SELECT n_a, n_b, CAST(u2 AS VARCHAR) AS u2_a,
        |  CAST(tie_t AS VARCHAR) AS tie_t,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ROUND(CAST(u2 AS DOUBLE) /
        |      (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |  END AS auc,
        |  CASE WHEN var2 > 0 THEN
        |    ROUND((CAST(u2 AS DOUBLE) -
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / sqrt(var2), 6)
        |  END AS z
        |FROM w""".stripMargin),

    // ---- QQ drift table: exact quantile pairs across the two halves -------
    // The incident-doc view of the drift triad (KS locates the sup, PSI
    // bins the mass, QQ shows the levels). Type-1 selection per side.
    QuerySpec("qq_drift_orders", (s, dir) =>
      Metrics.qqDrift(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("side", col("o_orderkey") % 2 === 0),
        "cents", "side",
        Seq(100000L, 250000L, 500000L, 750000L, 900000L, 990000L))
        .orderBy(col("q")),
      // per-side type-1 rank picks with the exactPercentiles rank rule
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v, (o_orderkey % 2 = 0) AS s
        |  FROM orders),
        |n AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |q AS (SELECT UNNEST([100000, 250000, 500000, 750000, 900000,
        |  990000]) AS qm),
        |r AS (SELECT n.s, q.qm,
        |  (n.n * q.qm + 999999) // 1000000 AS rk FROM n, q),
        |w AS (SELECT s, v,
        |  ROW_NUMBER() OVER (PARTITION BY s ORDER BY v) AS rn FROM v),
        |sel AS (
        |  SELECT r.s, r.qm, MIN(w.v) AS value
        |  FROM r JOIN w ON w.s = r.s AND w.rn = r.rk
        |  GROUP BY 1, 2)
        |SELECT ROUND(CAST(a.qm AS DOUBLE) / 1e6, 6) AS q,
        |  a.value AS value_a, b.value AS value_b,
        |  b.value - a.value AS diff
        |FROM (SELECT * FROM sel WHERE NOT s) a
        |JOIN (SELECT * FROM sel WHERE s) b USING (qm)
        |ORDER BY q""".stripMargin),

    // ---- two-arm experiment power advisor ----------------------------------
    // "How many users per arm before this A/B can detect a 1/2/5% move"
    // priced from the metric's measured variance — one moment hash-agg.
    QuerySpec("power_advisor_events", (s, dir) =>
      Metrics.powerAdvisor(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long")),
        "cents", Seq("event_type"), Seq(0.01, 0.02, 0.05))
        .orderBy(col("event_type"), col("mde")),
      // moment hash-agg + delta scaffold; the z constants are literals in
      // both engines so the pre-ceil double is identical
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1),
        |e AS (SELECT m.*, UNNEST([0.01, 0.02, 0.05]) AS mde FROM m),
        |c AS (
        |  SELECT event_type, n, mde,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_
        |  FROM e)
        |SELECT event_type, n, ROUND(mean_, 6) AS mean,
        |  CASE WHEN n > 1 THEN ROUND(var_, 6) END AS variance, mde,
        |  CASE WHEN n > 1 AND mean_ <> 0.0 THEN
        |    CAST(CEIL(2.0 * var_ * ((1.959964 + 0.841621)
        |      * (1.959964 + 0.841621))
        |      / ((mde * mean_) * (mde * mean_))) AS BIGINT)
        |  END AS n_per_arm
        |FROM c ORDER BY event_type, mde""".stripMargin),

    kAnonymityCustomer,

    // ---- STREAMING k-anonymity (re-identification risk of the accumulated
    // stream; class-size state, Complete mode, panel fold on drain) ----------
    QuerySpec("streaming_k_anonymity_customer", (s, dir) => {
      val stream = Tables.stream(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000"))
      val counts = Metrics.kAnonymityCounts(stream,
        Seq("c_nationkey", "c_mktsegment", "bal_band"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.kAnonymityFromCounts(drained, Seq(2, 5, 10))
        .orderBy(col("k"))
    },
      // k-anonymity twin: class-count state + drained fold ≡ the batch
      // panel, so the oracle is the batch SQL verbatim
      kAnonymityCustomer.oracle),

    psiDriftOrders,

    // ---- STREAMING PSI drift (frozen reference edges, live binning) --------
    // the production monitoring shape: reference decile edges are pinned
    // from the blessed snapshot (a bins-1-long bounded collect — control
    // plane), the stream bins both sides as Complete-mode state, the panel
    // folds on drain; ≡ the batch panel, oracle shared verbatim
    QuerySpec("streaming_psi_drift_orders", (s, dir) => {
      val batch = t(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("side", col("o_orderkey") % 2 === 0)
      val edges = Metrics.exactPercentiles(
          batch.filter(!col("side")).select(col("cents"))
            .filter(col("cents").isNotNull),
          "cents", (1 until 10).map(i => i * 100000L))
        .orderBy(col("q")).select(col("value"))
        .collect().map(_.getLong(0)).toSeq
      val stream = Tables.stream(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("side", col("o_orderkey") % 2 === 0)
      val counts = Metrics.psiBinCounts(stream, "cents", "side", edges)
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.psiFromCounts(drained, 10).orderBy(col("bin"))
    },
      // PSI twin: frozen-edge bin counts + drained fold ≡ the batch panel
      psiDriftOrders.oracle),

    abTestEvents,

    // ---- STREAMING Welch A/B panel ----------------------------------------
    // The six conditional decimal moments are associative sums — legal
    // Complete-mode streaming state; the t/dof algebra runs over the
    // drained |groups|-row state table. Oracle = the batch ab_test SQL
    // (the state IS the batch aggregate, micro-batch-order-free).
    QuerySpec("streaming_ab_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.welchFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    },
      // the streaming panel's Complete-mode state IS the batch moment
      // aggregate (associative sums, micro-batch-order-free) — same SQL
      abTestEvents.oracle),

    sequentialAbEvents,

    // ---- STREAMING always-valid sequential A/B ----------------------------
    // The op the mSPRT exists for: the moments are Complete-mode state and
    // the mixture statistic is licensed at EVERY drain — the twin shares
    // the batch oracle verbatim (state = batch aggregate).
    QuerySpec("streaming_sequential_ab_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val moments = Metrics.welchMoments(
        stream.withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.sequentialAbFromMoments(drained, Seq("event_type"))
        .orderBy(col("event_type"))
    },
      sequentialAbEvents.oracle),

    // ---- market-basket frequent pairs (A-priori level 2) ------------------
    // Part pairs co-ordered in >= 2 orders, with support and exact
    // cross-multiplied lift; pair mass is per-basket C(size,2), never
    // corpus^2.
    QuerySpec("basket_pairs_lineitem", (s, dir) =>
      Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", 2)
        .orderBy(col("item_a"), col("item_b")),
      """WITH ti AS (
        |  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item
        |  FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT txn) AS nt FROM ti),
        |ic AS (SELECT item, COUNT(*) AS cnt FROM ti GROUP BY item),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
        |  FROM ti a JOIN ti b ON a.txn = b.txn AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |  ia.cnt AS n_a, ib.cnt AS n_b,
        |  ROUND(CAST(p.n_ab AS DOUBLE) / nt, 6) AS support,
        |  ROUND(CAST(p.n_ab * nt AS DOUBLE)
        |    / CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
        |FROM p JOIN ic ia ON ia.item = p.item_a
        |JOIN ic ib ON ib.item = p.item_b, n
        |ORDER BY item_a, item_b""".stripMargin),

    // ---- ABC / Pareto revenue classification ------------------------------
    // Parts ranked by exact revenue cents; A while the cumulative share
    // stays within 80%, B within 95%, C beyond — boundaries decided by
    // integer cross-multiplication, never a float share.
    QuerySpec("abc_analysis_lineitem", (s, dir) =>
      Baskets.abcAnalysis(t(s, dir, "lineitem"),
          "l_partkey", "l_extendedprice")
        .orderBy(col("rank")),
      """WITH rev AS (
        |  SELECT l_partkey AS item,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t FROM rev),
        |r AS (
        |  SELECT item, revenue_cents,
        |    ROW_NUMBER() OVER
        |      (ORDER BY revenue_cents DESC, item) AS rank,
        |    CAST(SUM(revenue_cents) OVER
        |      (ORDER BY revenue_cents DESC, item
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT item, revenue_cents, rank, cum_cents,
        |  ROUND(CAST(cum_cents AS DOUBLE) / t, 6) AS cum_share,
        |  CASE WHEN cum_cents * 100 <= t * 80 THEN 'A'
        |    WHEN cum_cents * 100 <= t * 95 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM r, tot ORDER BY rank""".stripMargin),

    // ---- two-proportion z-test per arm (conversion-rate A/B) --------------
    // Unit = user, success = any purchase >= 150, side = even/odd user,
    // stratified by arm — the proportions half of the A/B panel
    // (ab_test_events covers means).
    QuerySpec("proportion_test_events", (s, dir) => {
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= 150.0, 1L).otherwise(0L)).as("__s"))
        .select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side"),
          (col("__s") === 1L).as("success"))
      Metrics.proportionZTest(units, "success", "side", Seq("arm"))
        .orderBy(col("arm"))
    },
      """WITH sec AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS s
        |  FROM events),
        |u AS (
        |  SELECT user_id, user_id % 3 AS arm,
        |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150
        |      THEN 1 ELSE 0 END) AS sc
        |  FROM sec GROUP BY user_id),
        |g AS (
        |  SELECT arm,
        |    COUNT(*) FILTER (user_id % 2 <> 0) AS n_a,
        |    COUNT(*) FILTER (user_id % 2 = 0) AS n_b,
        |    COUNT(*) FILTER (user_id % 2 <> 0 AND sc = 1) AS k_a,
        |    COUNT(*) FILTER (user_id % 2 = 0 AND sc = 1) AS k_b
        |  FROM u GROUP BY arm),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |    CAST(k_a + k_b AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM g),
        |v AS (
        |  SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) AS vv FROM d)
        |SELECT arm, n_a, n_b, k_a, k_b,
        |  CASE WHEN n_a >= 1 THEN ROUND(pa, 6) END AS p_a,
        |  CASE WHEN n_b >= 1 THEN ROUND(pb, 6) END AS p_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND vv > 0.0
        |    THEN ROUND((pa - pb) / sqrt(vv), 6) END AS z
        |FROM v ORDER BY arm""".stripMargin
),

    // ---- STREAMING two-proportion panel ------------------------------------
    // Event-level twin of the proportions test (chained user-level
    // aggregation is not legal streaming state): the four conditional
    // count moments are associative sums — Complete-mode state — and the
    // z algebra runs over the drained |arms|-row table. Unit = event,
    // success = qualifying purchase, side = even/odd user, group = arm.
    QuerySpec("streaming_proportion_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        (col("event_type") === "purchase" && col("value") >= 150.0)
          .as("success"))
      val moments =
        Metrics.proportionMoments(units, "success", "side", Seq("arm"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.proportionFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      // event-level proportions twin — no user-level pre-aggregation
      // (chained streaming aggs are illegal), so its oracle is its own
      """WITH u AS (
        |  SELECT user_id % 3 AS arm,
        |    (user_id % 2 = 0) AS side,
        |    (event_type = 'purchase' AND value >= 150.0) AS success
        |  FROM events),
        |g AS (
        |  SELECT arm,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    COUNT(*) FILTER (NOT side AND success) AS k_a,
        |    COUNT(*) FILTER (side AND success) AS k_b
        |  FROM u GROUP BY arm),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |    CAST(k_a + k_b AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM g),
        |v AS (
        |  SELECT *, pp * (1.0 - pp) * (1.0 / na + 1.0 / nb) AS vv FROM d)
        |SELECT arm, n_a, n_b, k_a, k_b,
        |  CASE WHEN n_a >= 1 THEN ROUND(pa, 6) END AS p_a,
        |  CASE WHEN n_b >= 1 THEN ROUND(pb, 6) END AS p_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND vv > 0.0
        |    THEN ROUND((pa - pb) / sqrt(vv), 6) END AS z
        |FROM v ORDER BY arm""".stripMargin),

    // ---- minimum detectable effect at current traffic ----------------------
    // The planning row an experimenter reads BEFORE peeking at the
    // delta: MDE = 2.801585 * SE(delta) (alpha .05 two-sided, 80%
    // power), absolute and relative to the pooled mean.
    QuerySpec("mde_events", (s, dir) =>
      Metrics.minDetectableEffect(t(s, dir, "events")
          .withColumn("side", col("user_id") % 2 === 0),
        "value", "side", Seq("event_type"))
        .orderBy(col("event_type")),
      """WITH s AS (
        |  SELECT event_type, (user_id % 2 = 0) AS side,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
        |      AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
        |      AS DOUBLE) AS qb
        |  FROM s GROUP BY event_type),
        |d AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE)
        |    AS nb
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((qa - sa * sa / na) / (na - 1.0)) / na
        |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
        |    (sa + sb) / (na + nb) AS pm
        |  FROM d),
        |z AS (
        |  SELECT *, (n_a >= 2 AND n_b >= 2 AND vv > 0.0) AS ok
        |  FROM v)
        |SELECT event_type, n_a, n_b,
        |  ROUND(sa / na, 6) AS mean_a, ROUND(sb / nb, 6) AS mean_b,
        |  CASE WHEN ok THEN ROUND(sqrt(vv), 6) END AS se_diff,
        |  CASE WHEN ok THEN ROUND(2.801585 * sqrt(vv), 6) END
        |    AS mde_abs,
        |  CASE WHEN ok AND pm <> 0.0 THEN
        |    ROUND(2.801585 * sqrt(vv) / pm, 6) END AS mde_rel
        |FROM z ORDER BY event_type""".stripMargin),

    srmGuardEvents,

    // ---- STREAMING SRM guard (the two assignment counts as state) ----------
    QuerySpec("streaming_srm_guard_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = Metrics.srmCounts(
        stream.select((col("user_id") % 3).as("arm"),
          (col("user_id") % 2 === 0).as("side")),
        "side", Seq("arm"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.srmFromCounts(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      srmGuardEvents.oracle),

    // ---- Benjamini-Hochberg FDR over a segment dashboard -------------------
    // 35 always-valid p-values (mSPRT per event_type x user-mod-7
    // segment) through the step-up FDR control: global p-rank via the
    // range scaffold, adjusted p as the two-phase suffix min, reject
    // on the rounded adjusted p. The multiple-testing guard every
    // many-segment dashboard needs.
    QuerySpec("fdr_bh_events", (s, dir) => {
      val tests = Metrics.sequentialAbTest(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 7).as("segment"),
          (col("user_id") % 2 === 0).as("side"), col("value")),
        "value", "side", Seq("event_type", "segment"))
      Metrics.benjaminiHochberg(tests, Seq("event_type", "segment"),
        "p_always")
        .orderBy(col("event_type"), col("segment"))
    },
      // BH FDR: the mSPRT p panel per (event_type, segment), then the
      // textbook step-up — rank over (p, ids), q = min(1, m*p/i),
      // adjusted p as the descending running min, reject on rounded
      """WITH s AS (
        |  SELECT event_type, user_id % 7 AS segment,
        |    (user_id % 2 = 0) AS side,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type, segment,
        |    COUNT(*) FILTER (NOT side) AS n_a,
        |    COUNT(*) FILTER (side) AS n_b,
        |    CAST(SUM(v) FILTER (NOT side) AS DOUBLE) AS sa,
        |    CAST(SUM(v) FILTER (side) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (NOT side)
        |      AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(v * v AS DECIMAL(38,4))) FILTER (side)
        |      AS DOUBLE) AS qb
        |  FROM s GROUP BY event_type, segment),
        |d AS (
        |  SELECT event_type, segment, n_a, n_b, sa, sb, qa, qb,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((qa - sa * sa / na) / (na - 1.0)) / na
        |      + ((qb - sb * sb / nb) / (nb - 1.0)) / nb AS vv,
        |    sa / na - sb / nb AS delta
        |  FROM d),
        |st AS (
        |  SELECT *,
        |    0.5 * ln(vv / (vv + 25.0))
        |      + delta * delta * 25.0 / (2.0 * vv * (vv + 25.0)) AS llr,
        |    (n_a >= 100 AND n_b >= 100 AND vv > 0.0) AS ok
        |  FROM v),
        |h AS (
        |  SELECT event_type, segment,
        |    CASE WHEN ok THEN ROUND(LEAST(1.0, exp(-llr)), 6) END AS p
        |  FROM st),
        |hh AS (SELECT * FROM h WHERE p IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p, event_type, segment)
        |      AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM hh),
        |q AS (
        |  SELECT *, LEAST(1.0, CAST(m AS DOUBLE) * p / rank) AS qv
        |  FROM r),
        |a AS (
        |  SELECT *, MIN(qv) OVER (ORDER BY rank DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
        |  FROM q)
        |SELECT event_type, segment, p AS p_always, rank,
        |  ROUND(padj, 6) AS p_adj, ROUND(padj, 6) <= 0.05 AS reject
        |FROM a ORDER BY event_type, segment""".stripMargin),

    onlineFdrEvents,

    // ---- STREAMING LORD twin (the welch moment sums as state) --------------
    // The shape online FDR exists for: the mSPRT panel drained from a
    // stream, then the LORD walk over the drained hypothesis dictionary
    // — welchMoments / sequentialAbFromMoments / onlineFdrLord shared
    // with the batch path verbatim.
    QuerySpec("streaming_online_fdr_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val units = stream.select(col("event_type"),
        (col("user_id") % 7).as("segment"),
        (col("user_id") % 2 === 0).as("side"),
        (col("value") + when((col("user_id") % 7) < 2 &&
          col("user_id") % 2 === 0, lit(40.0))
          .otherwise(lit(0.0))).as("value"))
      val moments = Metrics.welchMoments(units, "value", "side",
        Seq("event_type", "segment"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.onlineFdrLord(
        Metrics.sequentialAbFromMoments(drained,
          Seq("event_type", "segment")),
        Seq("event_type", "segment"), "p_always")
        .orderBy(col("event_type"), col("segment"))
    },
      onlineFdrEvents.oracle),

    ratioDeltaEvents,

    // ---- STREAMING ratio-metric twin (the 12 moment sums as state) ---------
    QuerySpec("streaming_ratio_delta_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).as("x"),
        when(col("event_type") === "click", lit(1.0))
          .otherwise(lit(0.0)).as("y"))
      val moments =
        Metrics.ratioDeltaMoments(units, "x", "y", "side", Seq("arm"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.ratioDeltaFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      ratioDeltaEvents.oracle),

    // ---- quantile treatment effect with Poisson-bootstrap CI ---------------
    // The heavy-tail leg of the A/B panel: P50/P90 deltas per event
    // type (latency/revenue metrics are READ at quantiles, where the
    // mean test answers the wrong question). Type-1 quantiles over the
    // per-(type, side, rep) value dictionaries; CI from the one-scan
    // Poisson replicate machinery.
    QuerySpec("quantile_effect_events", (s, dir) =>
      Metrics.quantileTreatmentEffect(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          col("value"), col("event_id")),
        "value", "side", "event_id", Seq("event_type"))
        .orderBy(col("event_type"), col("quantile")),
      quantileEffectOracleSql(32)),

    // ---- STREAMING QTE twin (the replicate value dictionaries as state) ----
    QuerySpec("streaming_quantile_effect_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      // the twin PROVES the replicate dictionary is legal Complete-mode
      // state; it runs 8 replicates (the batch panel runs 32) because
      // the state the memory sink re-emits per drain is (reps+1)× the
      // value dictionary — the mechanism is identical, the drain mass
      // is a quarter
      val counts = Metrics.qteReplicateCounts(
        stream.select(col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          col("value"), col("event_id")),
        "value", "side", "event_id", Seq("event_type"), 8)
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.qteFromCounts(drained, Seq("event_type"),
        Seq((1, 2), (9, 10)))
        .orderBy(col("event_type"), col("quantile"))
    },
      quantileEffectOracleSql(8)),

    calibrationEvents,

    // ---- STREAMING calibration twin (bin counts as state) -------------------
    QuerySpec("streaming_calibration_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = Metrics.calibrationBinCounts(
        stream.select(col("event_type"),
          ((col("event_id") % 97) / lit(96.0)).as("score"),
          (col("user_id") % 5 < 3).as("correct")),
        "score", "correct", Seq("event_type"), 10)
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      Metrics.eceFromBinCounts(drained, Seq("event_type"))
        .orderBy(col("event_type"), col("bin"))
    },
      calibrationEvents.oracle),

    postStratEvents,

    // ---- STREAMING post-stratification twin (stratum moments as state) -----
    QuerySpec("streaming_post_strat_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val moments = Metrics.postStratMoments(
        stream.select((col("user_id") % 3).as("arm"),
          col("event_type"),
          (col("user_id") % 2 === 0).as("side"),
          (col("value") + when(col("user_id") % 2 === 0, lit(2.0))
            .otherwise(lit(0.0))).as("value")),
        "value", "side", "event_type", Seq("arm"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.postStratFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      postStratEvents.oracle),

    sequentialProportionEvents,

    // ---- STREAMING sequential two-proportion (same four-count state) -------
    QuerySpec("streaming_sequential_proportion_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val units = stream.select((col("user_id") % 3).as("arm"),
        (col("user_id") % 2 === 0).as("side"),
        (col("event_type") === "purchase" && col("value") >= 150.0)
          .as("success"))
      val moments =
        Metrics.proportionMoments(units, "success", "side", Seq("arm"))
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Metrics.sequentialProportionFromMoments(drained, Seq("arm"))
        .orderBy(col("arm"))
    },
      sequentialProportionEvents.oracle)
  )
}
