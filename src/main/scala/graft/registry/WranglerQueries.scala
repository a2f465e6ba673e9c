package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.{Readers, Tables}
import graft.metrics.Metrics
import graft.plans.{Joins, SerializeResplitRule}
import graft.sample.Samplers
import graft.scale.{Dedup, TextAnalysis}
import graft.serialize.Serialize
import graft.streaming.Streams
import graft.tasks.Wrangler
import graft.transform.TransformProgram
import QueryHelpers._

/** The paper's wrangling pipelines and the relational surface: keyed and
  * simple serialization, entity matching, error detection, imputation,
  * synthesized transforms, samplers and Poisson-bootstrap intervals,
  * file-format round trips, layout, and the TPC-H queries with the plain
  * Spark SQL shapes (windows, grouping sets, semi/anti joins) that call no
  * graft operator.
  */
object WranglerQueries {

  /** TPC-H Q1-shaped rollup: scan → filter-free agg → sort. Exercises
    * parquet scan, partial+final hash agg, decimal-exact sums.
    */
  private[graft] def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        discountedRevenue.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Morton interleave of the low 10 bits of x and y as portable SQL bit
    * ops — mirrors [[graft.io.ZOrder.zValue]] term for term.
    */
  private val zInterleaveSql: String =
    (0 until 10).map(i =>
      s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  /** Mechanically generated Poisson-bootstrap replay: per replicate b,
    * the weight CASE ladder over the SAME [[graft.sample.Samplers
    * .PoissonCdf]] literals (interpolated as decimal text), the 2B sums
    * in one materialized aggregate, replicates unrolled by UNION ALL in
    * replicate order so the double folds accumulate in the same order
    * the engine's explode emits.
    */
  private def bootstrapOracleSql(reps: Int): String =
    bootstrapOracleSqlFor(reps, "orders", "o_orderkey",
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
      "CAST(1 AS BIGINT)", "mean")

  private def bootstrapRatioOracleSql(reps: Int): String =
    bootstrapOracleSqlFor(reps, "events", "event_id",
      "CASE WHEN event_type = 'purchase' THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END",
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)", "ratio")

  /** The bootstrap replay, parameterized over table / id / numerator /
    * denominator expressions (the mean form is den = 1): same integer
    * CDF ladder, same window arithmetic, replicates unrolled by UNION
    * ALL against the one materialized aggregate.
    */
  private def bootstrapOracleSqlFor(reps: Int, table: String,
      idExpr: String, numExpr: String, denExpr: String,
      label: String): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    def w(b: Int): String = {
      val u = s"((CAST(('0x' || substring(md5(CAST(id AS VARCHAR)" +
        s" || ':c${b / 3}'), 1, 15)) AS BIGINT) >> ${(b % 3) * 16})" +
        " & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    val sums = (0 until reps).map { b =>
      s"SUM(CAST(xn AS HUGEINT) * ${w(b)}) AS wn$b, " +
        s"SUM(CAST(xd AS HUGEINT) * ${w(b)}) AS wd$b"
    }.mkString(",\n    ")
    val union = (0 until reps).map { b =>
      s"SELECT n, sn, sd, wn$b AS wn, wd$b AS wd FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT $idExpr AS id, $numExpr AS xn, $denExpr AS xd
       |  FROM $table
       |  WHERE $numExpr IS NOT NULL AND $denExpr IS NOT NULL),
       |a AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(xn AS HUGEINT)) AS sn, SUM(CAST(xd AS HUGEINT)) AS sd,
       |    $sums
       |  FROM v),
       |r AS (
       |  $union),
       |m AS (
       |  SELECT n, sn, sd, CAST(wn AS DOUBLE) / CAST(wd AS DOUBLE) AS m,
       |    CAST(ROUND(CAST(wn AS DOUBLE) / CAST(wd AS DOUBLE) * 1e6)
       |      AS HUGEINT) AS q
       |  FROM r WHERE wd > 0)
       |SELECT n,
       |  ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6) AS $label,
       |  CAST(COUNT(*) AS BIGINT) AS reps,
       |  ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |    - SUM(q) * SUM(q) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0)))
       |    / 1e6, 6) AS boot_se,
       |  ROUND(MIN(m), 6) AS ci_lo, ROUND(MAX(m), 6) AS ci_hi
       |FROM m GROUP BY n, sn, sd""".stripMargin
  }

  // ---- JSONL source/sink round trip (LLM-corpus interchange format) ------
  // Writes the documents table as JSONL (distributed sink), reads it back
  // schema-first, and checks full row fidelity against the parquet
  // original (text via md5 to keep rows narrow). JSON escaping must be
  // lossless for this to hash-match.
  private val jsonlRoundtripDocs = QuerySpec("jsonl_roundtrip_docs", (s, dir) => {
    val docs = t(s, dir, "documents")
    val out = freshFixtureDir("graft_jsonl").toString
    docs.write.mode("overwrite").json(out)
    Readers.jsonl(s, out, Some(docs.schema))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy(col("doc_id"))
  },
    """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---- ONE-SCAN Poisson bootstrap: SE + envelope for the corpus mean ----
  // All 32 replicates accumulate as 64 associative sums in a single
  // pass (the bootstrap that distributes); every multiplicity is an
  // md5 draw through the literal Poisson(1) CDF ladder.
  private val bootstrapCiOrders = QuerySpec("bootstrap_ci_orders", (s, dir) =>
    Samplers.poissonBootstrap(t(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
      "o_orderkey", "cents", 32),
    bootstrapOracleSql(32))

  val specs: Seq[QuerySpec] = Seq(
    // ---- flagship scan+agg+sort -------------------------------------------
    QuerySpec("q1_pricing_summary", (s, dir) => pricingSummary(s, dir),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- P1 keyed serialization (customer) --------------------------------
    QuerySpec("serialize_keyed_customer", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_mktsegment" -> "c_mktsegment")).as("text"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_mktsegment: ' || c_mktsegment AS text
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- P2 simple serialization (part) -----------------------------------
    QuerySpec("serialize_simple_part", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          Serialize.serializeSimple(
            Seq("p_name", "p_brand", "p_type", "p_size")).as("text"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey,
        |  p_name || '^' || p_brand || '^' || p_type || '^' || p_size AS text
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- J1+P3+P4 blocked-pair join + merged A/B serialization ------------
    // lineitem plays the labels table (ltable=part, rtable=supplier);
    // both dims broadcast (SURVEY §2.3 J1 scale note).
    QuerySpec("em_blocked_pairs", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = broadcast(t(s, dir, "part"))
      val supp = broadcast(t(s, dir, "supplier"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          Serialize.serializeMergedAB(
            Seq(col("p_name"), col("p_brand"), col("p_size")),
            Seq(col("s_name"), col("s_nationkey"),
              col("s_acctbal").cast("decimal(18,2)"))).as("text"),
          Serialize.yesNoLabel(
            when(col("l_returnflag") === "R", 1).otherwise(0)).as("label_str"))
      // no presentation sort: 600k output rows at sf0.1 — a trailing global
      // orderBy would be the single most expensive stage of the query, and
      // the driver compare is order-insensitive (it sorts rows itself).
      // Convention: small outputs keep ORDER BY for inspectability; the
      // >=50k-row outputs drop it (same for the other lineitem-wide tails).
    },
      """SELECT l.l_orderkey, l.l_linenumber,
        |  'A: ' || p.p_name || '; ' || p.p_brand || '; ' || p.p_size
        |    || '; ' || 'B: ' || s.s_name || '; ' || s.s_nationkey || '; '
        |    || CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  CASE WHEN l.l_returnflag = 'R' THEN 'Yes' ELSE 'No' END AS label_str
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),

    // ---- P1+P6+P8 imputation serialization (customer, target=mktsegment) --
    QuerySpec("impute_serialize_customer", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("c_acctbal_d", col("c_acctbal").cast("decimal(18,2)"))
        .select(col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_nationkey" -> "c_nationkey",
            "c_acctbal_d" -> "c_acctbal")).as("text"),
          Serialize.imputeLabel(col("c_mktsegment")).as("label_str"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  'c_name: ' || c_name || ' ^ c_nationkey: ' || c_nationkey
        |    || ' ^ c_acctbal: ' || CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS text,
        |  c_mktsegment || chr(10) AS label_str
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- P5+P7 error-detection labels (events as the dirty table) ---------
    QuerySpec("error_detection_labels", (s, dir) =>
      t(s, dir, "events")
        .withColumn("is_clean",
          when(col("event_type") =!= "error", 1).otherwise(0))
        .select(col("event_id"), col("props").as("text"),
          Serialize.invertedCleanLabel(col("is_clean")).as("label_str")),
      """SELECT event_id, props AS text,
        |  CASE WHEN event_type <> 'error' THEN 'no' ELSE 'yes' END AS label_str
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- A3 class-balanced downsample (deterministic variant) -------------
    QuerySpec("class_balanced_orders", (s, dir) =>
      Samplers.classBalancedDeterministic(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
          "o_orderstatus", "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy(col("o_orderkey")),
      """WITH m AS (
        |  SELECT MIN(cnt) AS m FROM (
        |    SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus)),
        |r AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM r, m WHERE r.rn <= m.m ORDER BY o_orderkey""".stripMargin),

    // ---- A2 stratified sample (deterministic variant) ---------------------
    QuerySpec("stratified_sample_docs", (s, dir) =>
      Samplers.stratifiedDeterministic(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", 20)
        .orderBy(col("doc_id")),
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin),

    // ---- A6 positional split (test side) ----------------------------------
    QuerySpec("positional_split_docs", (s, dir) => {
      val (_, test) = Samplers.positionalSplit(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", 3)
      test.orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn > 3 ORDER BY doc_id""".stripMargin),

    // ---- A5 head-fraction limit (parallel two-phase global rank — no
    // single-partition window stage) -----------------------------------------
    QuerySpec("head_fraction_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Samplers.headFractionOrdered(
          li, Seq("l_orderkey", "l_linenumber"), 0.1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """WITH tot AS (SELECT COUNT(*) AS total FROM lineitem),
        |r AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        |FROM r, tot WHERE r.rn <= FLOOR(tot.total * 0.1)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- deterministic hash-ish sample (shuffle-free, pruning-friendly) ----
    QuerySpec("modulo_sample_lineitem", (s, dir) =>
      Samplers.moduloSample(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey"),
          "l_orderkey", 10, 3)
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_orderkey % 10 = 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- T1 top-k ---------------------------------------------------------
    QuerySpec("topk_orders", (s, dir) =>
      Samplers.topK(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice").desc, col("o_orderkey"), 10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- G1-G3 grouped aggregation stats ----------------------------------
    QuerySpec("group_stats_docs", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang")),
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- full TPC-H Q1 shape: filtered scan (pushdown) + avg columns -------
    QuerySpec("q1_full_pricing", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          discountedRevenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- grouping sets (beyond rollup/cube: explicit set list) -------------
    QuerySpec("grouping_sets_events", (s, dir) => {
      val e = t(s, dir, "events")
      // (event_type) and (user_bucket) marginals in one pass
      e.groupBy(col("event_type"), (col("user_id") % 5).as("user_bucket"))
        .agg(count(lit(1)).as("n"))
        .cube(col("event_type"), col("user_bucket"))
        .agg(sum(col("n")).as("n"))
        .filter(grouping(col("event_type")) + grouping(col("user_bucket")) === 1)
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("user_bucket").cast("string"), lit("ALL"))
            .as("user_bucket"),
          col("n"))
        .orderBy(col("event_type"), col("user_bucket"))
    },
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(user_bucket AS VARCHAR), 'ALL') AS user_bucket,
        |  COUNT(*) AS n
        |FROM (SELECT event_type, user_id % 5 AS user_bucket FROM events)
        |GROUP BY GROUPING SETS ((event_type), (user_bucket))
        |ORDER BY 1, 2""".stripMargin),

    // ---- TPC-H Q3 shape: 3-way join, pushed filters, top-10 by revenue -----
    // customer filter and both date filters push into the parquet scans;
    // orders⋈lineitem is the fact-fact shuffle join, customer broadcasts.
    QuerySpec("q3_shipping_priority", (s, dir) => {
      val cust = broadcast(t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400")
            .as("o_day"),
          col("o_orderpriority"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l.l_orderkey,
        |  (CAST(EPOCH_US(o.o_orderdate) AS BIGINT) // 86400000000) AS o_day,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // ---- TPC-H Q5 shape: 6-way join, dims broadcast, region-filtered -------
    QuerySpec("q5_local_supplier", (s, dir) => {
      val region = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val nation = broadcast(t(s, dir, "nation"))
      val supp = broadcast(t(s, dir, "supplier"))
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),

    // ---- TPC-H Q6 shape: pure pushed-filter scan + single aggregate --------
    QuerySpec("q6_forecast_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines")),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ---- TPC-H Q18 shape: having-filtered fact agg semi-joined back --------
    // big-quantity orders: aggregate lineitem per order, HAVING over the
    // sum, then join orders+customer for the report — the agg output is the
    // small side and broadcasts back against the fact tables.
    QuerySpec("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .filter(col("sum_qty") > lit(150).cast("decimal(18,2)"))
      t(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("o_totalprice"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(20)
    },
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  CAST(b.sum_qty AS DOUBLE) AS sum_qty
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin),

    // ---- window range frame: trailing 7-day spend per customer -------------
    QuerySpec("range_frame_orders", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("day",
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-7L, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("spend_7d"))
        .orderBy(col("o_orderkey"))
    },
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(EPOCH(o_orderdate) AS BIGINT) // 86400 AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
        |FROM o ORDER BY o_orderkey""".stripMargin),

    // ---- §2.8 ranking/analytic windows (rank, lag, running frame sum) ------
    QuerySpec("window_analytics_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          row_number().over(w).as("rn"),
          lag(col("o_totalprice").cast("decimal(18,2)"), 1).over(w)
            .cast("double").as("prev_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(wf)
            .cast("double").as("run_sum"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin),

    // ---- §2.3 semi join (customers with ≥1 finished order) -----------------
    QuerySpec("semi_join_customers", (s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // ---- §2.3 anti join (dedup-against-seen shape) -------------------------
    QuerySpec("anti_join_customers", (s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(f, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // ---- grouping-set family: rollup ---------------------------------------
    QuerySpec("rollup_revenue_lineitem", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- set ops: except + intersect ---------------------------------------
    QuerySpec("set_ops_docs", (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      d.except(d.filter(col("doc_id") % 7 === 0))
        .intersect(d.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM (
        |  (SELECT doc_id FROM documents
        |   EXCEPT
        |   SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        |  INTERSECT
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin),

    // ---- J3 entity-matching similarity predicates (PPJoin candidates) ------
    // The fixed-cardinality (p_brand, p_size) blocking self-join is RETIRED
    // (r3+r5 verdicts): its within-block pair mass grows quadratically with
    // the corpus. Candidates now come from the exact prefix-filter generator
    // (Dedup.ppjoinPairs) at a CANDIDATE threshold 0.3 strictly below the
    // 0.5 decision threshold, so both predicate classes survive — pairs in
    // [0.3, 0.5) score "No", pairs ≥ 0.5 score "Yes" — and candidate mass
    // tracks true near-match mass, not block population. No blocking key
    // means the pair universe is the full all-pairs jaccard ≥ 0.3 relation,
    // which the oracle replays brute-force.
    QuerySpec("em_similarity_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      // Name-level collapse: candidate generation (Dedup.ppjoinPairs) and
      // BOTH similarity scores run on the name DICTIONARY (names repeat
      // massively — 64 distinct at sf0.1); part-id pairs then materialize
      // by pure member-list expansion (two explodes) with the scores
      // already attached. The expanded relation — 46.9M rows at sf0.1,
      // the true answer mass at threshold 0.3 — is never joined,
      // shuffled, or distinct'd: profiled, every join/distinct touching
      // it cost 5-10 s each, while bare expansion is ~4 s. Correct
      // because a pair's jaccard AND lev_sim are functions of its two
      // NAMES: same-name pairs are the diagonal branch (both scores 1.0),
      // cross-name pairs carry their name pair's scores.
      val members = p.groupBy(col("p_name"))
        .agg(sort_array(collect_list(col("id"))).as("ids"),
          min(col("id")).as("nid"),
          // toks is a function of p_name — first() is deterministic here
          first(col("toks")).as("toks"))
      // ... and so are round(jaccard) and the Yes/No decision — ALL
      // per-pair expressions evaluate once per NAME pair (448 rows at
      // sf0.1); the pair-mass stage is two explodes + least/greatest over
      // finished columns (profiled: evaluating round+CASE per expanded
      // row instead cost ~12 s of the query).
      val npRaw = Dedup.ppjoinPairs(
        members.select(col("nid"), col("toks")), "nid", "toks", 0.3)
      val withLev = npRaw
        .join(members.select(col("nid").as("id_a"), col("p_name").as("__na")),
          Seq("id_a"))
        .join(members.select(col("nid").as("id_b"), col("p_name").as("__nb")),
          Seq("id_b"))
        .select(col("id_a").as("nid_a"), col("id_b").as("nid_b"),
          round(col("jaccard"), 6).as("jaccard_sim"),
          round(Wrangler.levenshteinSim(col("__na"), col("__nb")), 6)
            .as("lev_sim"),
          when(col("jaccard") >= 0.5, "Yes").otherwise("No").as("pred"))
      val cross = withLev
        .join(broadcast(members.select(col("nid").as("nid_a"),
          col("ids").as("ids_a"))), Seq("nid_a"))
        .join(broadcast(members.select(col("nid").as("nid_b"),
          col("ids").as("ids_b"))), Seq("nid_b"))
        .select(explode(col("ids_a")).as("ia"), col("ids_b"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
        .select(col("ia"), explode(col("ids_b")).as("ib"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"),
          col("jaccard_sim"), col("lev_sim"), col("pred"))
      val intra = members
        .filter(size(col("ids")) > 1)
        .select(col("ids"))
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          lit(1.0).as("jaccard_sim"), lit(1.0).as("lev_sim"),
          lit("Yes").as("pred"))
      cross.unionByName(intra)
    },
      // The prefix-filter candidate generator is EXACT, so the oracle is the
      // brute-force all-pairs relation thresholded at the 0.3 candidate
      // threshold — no blocking key anywhere; pred thresholds at 0.5 inside.
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |pairs AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) AS sim,
        |    1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
        |      / GREATEST(length(a.p_name), length(b.p_name)) AS lev_sim
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, ROUND(sim, 6) AS jaccard_sim,
        |  ROUND(lev_sim, 6) AS lev_sim,
        |  CASE WHEN sim >= 0.5 THEN 'Yes' ELSE 'No' END AS pred
        |FROM pairs WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin),

    // ---- J3+G4 EM task end-to-end: PPJoin candidates → similarity
    // predicate → one-pass confusion metrics (gold = same p_type proxy).
    // Same retirement of the (p_brand, p_size) block as em_similarity_part:
    // the candidate universe is the exact all-pairs jaccard ≥ 0.3 relation,
    // pred thresholds at 0.5 within it.
    QuerySpec("em_end_to_end_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"), col("p_type"))
      // Dictionary-scale evaluation: the (pred, gold) CLASS COUNTS of the
      // all-pairs ≥ 0.3 relation are computed WITHOUT materializing a
      // single pair. pred is a function of the name pair (jaccard over
      // token sets); gold counts come from per-name TYPE HISTOGRAMS —
      // for a cross-name pair, gold-yes = Σ_t cnt_a(t)·cnt_b(t) (a
      // histogram dot product over the tiny (name, type) table), and for
      // the same-name diagonal, gold-yes = Σ_t C(cnt_t, 2). The pair mass
      // (46.9M rows at sf0.1, unbounded at 100 TB under hot names) never
      // exists anywhere in the plan; the tolerant-equality confusion
      // expression then runs once per (pred, gold) class
      // (Metrics.confusionMetricsWeighted) — identical output to the
      // row-level form, exact integers throughout.
      val names = p.groupBy(col("p_name"))
        .agg(min(col("id")).as("nid"), first(col("toks")).as("toks"),
          count(lit(1)).as("n"))
      val hist = p.groupBy(col("p_name"), col("p_type"))
        .agg(count(lit(1)).as("cnt"))
        .join(names.select(col("p_name"), col("nid")), Seq("p_name"))
        .select(col("nid"), col("p_type"), col("cnt"))
      val np = Dedup
        .ppjoinPairs(names.select(col("nid"), col("toks")),
          "nid", "toks", 0.3)
        .select(col("id_a").as("nid_a"), col("id_b").as("nid_b"),
          when(col("jaccard") >= 0.5, "yes").otherwise("no").as("pred"))
      val gy = np.select(col("nid_a"), col("nid_b"))
        .join(hist.select(col("nid").as("nid_a"), col("p_type"),
          col("cnt").as("__ca")), Seq("nid_a"))
        .join(hist.select(col("nid").as("nid_b"), col("p_type"),
          col("cnt").as("__cb")), Seq("nid_b", "p_type"))
        .groupBy(col("nid_a"), col("nid_b"))
        .agg(sum(col("__ca") * col("__cb")).as("gold_yes"))
      val sizes = names.select(col("nid"), col("n"))
      val crossCls = np
        .join(sizes.select(col("nid").as("nid_a"), col("n").as("__na")),
          Seq("nid_a"))
        .join(sizes.select(col("nid").as("nid_b"), col("n").as("__nb")),
          Seq("nid_b"))
        .join(gy, Seq("nid_a", "nid_b"), "left")
        .select(col("pred"),
          coalesce(col("gold_yes"), lit(0L)).as("gold_yes"),
          (col("__na") * col("__nb") - coalesce(col("gold_yes"), lit(0L)))
            .as("gold_no"))
      val intraCls = hist
        .groupBy(col("nid"))
        .agg(sum(expr("cnt * (cnt - 1) DIV 2")).as("gold_yes"))
        .join(sizes, Seq("nid"))
        .select(lit("yes").as("pred"), col("gold_yes"),
          (expr("n * (n - 1) DIV 2") - col("gold_yes")).as("gold_no"))
      val classes = crossCls.unionByName(intraCls)
        .select(col("pred"), explode(array(
          struct(lit("yes").as("gold"), col("gold_yes").as("w")),
          struct(lit("no").as("gold"), col("gold_no").as("w"))))
          .as("g"))
        .select(col("pred"), col("g.gold").as("gold"), col("g.w").as("w"))
        .groupBy(col("pred"), col("gold")).agg(sum(col("w")).as("__w"))
      Metrics.confusionMetricsWeighted(classes, "pred", "gold", "__w")
    },
      """WITH p AS (
        |  SELECT p_partkey, p_type,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |lab AS (
        |  SELECT
        |    CASE WHEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      THEN 'yes' ELSE 'no' END AS pred,
        |    CASE WHEN a.p_type = b.p_type THEN 'yes' ELSE 'no' END AS gold
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.3),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab),
        |pr AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM pr""".stripMargin),

    // ---- J3 scale path: PPJoin prefix-filter EM candidate generation -------
    // Same above-threshold pair semantics as em_similarity_part but with NO
    // blocking key: candidates come from a rarest-token prefix inverted
    // index (exact — no false negatives), so the pair set is the FULL
    // all-pairs `jaccard >= 0.5` relation, not just the within-(brand,size)
    // subset, and candidate mass tracks true near-match mass instead of
    // growing quadratically with block population.
    QuerySpec("em_similarity_ppjoin_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"),
          col("p_name"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      val pairs = Dedup.ppjoinPairs(p, "id", "toks", 0.5)
      val names = p.select(col("id"), col("p_name"))
      val joined = pairs
        .join(names.select(col("id").as("id_a"), col("p_name").as("name_a")),
          Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("p_name").as("name_b")),
          Seq("id_b"))
      // Levenshtein once per DISTINCT name pair, not once per matched id
      // pair: the corpus repeats names massively (64 distinct at sf0.1 vs
      // ~3M matched pairs), and per-pair edit distance dominated the query
      // 10:1. The distinct name-pair table is dictionary-scale → broadcast.
      val nameSim = joined.select(col("name_a"), col("name_b")).distinct()
        .withColumn("lev_sim",
          round(Wrangler.levenshteinSim(col("name_a"), col("name_b")), 6))
      // No presentation sort: the output is pair-mass-sized (~3M rows at
      // sf0.1) and the oracle comparison sorts rows itself; a global sort
      // here is a pure range-shuffle tax on the largest column of the plan.
      joined
        .join(broadcast(nameSim), Seq("name_a", "name_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard_sim"), col("lev_sim"))
    },
      // The prefix-filter join is EXACT, so the oracle is the brute-force
      // all-pairs relation thresholded at 0.5 — no blocking key anywhere.
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |pairs AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) AS sim,
        |    1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
        |      / GREATEST(length(a.p_name), length(b.p_name)) AS lev_sim
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, ROUND(sim, 6) AS jaccard_sim,
        |  ROUND(lev_sim, 6) AS lev_sim
        |FROM pairs WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin),

    // ---- imputation via learned dictionary (broadcast mode-map) ------------
    QuerySpec("impute_dict_customer", (s, dir) => {
      val c = t(s, dir, "customer")
      Wrangler.imputeByDict(
          c.filter(col("c_custkey") % 10 =!= 0),
          c.filter(col("c_custkey") % 10 === 0),
          "c_nationkey", "c_mktsegment")
        .select(col("c_custkey"), col("pred"))
        .orderBy(col("c_custkey"))
    },
      """WITH train AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        |test AS (SELECT * FROM customer WHERE c_custkey % 10 = 0),
        |cnt AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM train GROUP BY 1, 2),
        |dict AS (
        |  SELECT c_nationkey, c_mktsegment FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, c_mktsegment) AS rn FROM cnt)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT c_mktsegment FROM train GROUP BY 1
        |  ORDER BY COUNT(*) DESC, c_mktsegment LIMIT 1)
        |SELECT t.c_custkey,
        |  COALESCE(d.c_mktsegment, (SELECT c_mktsegment FROM g)) AS pred
        |FROM test t LEFT JOIN dict d ON t.c_nationkey = d.c_nationkey
        |ORDER BY t.c_custkey""".stripMargin),

    // ---- error detection vs broadcast vocabulary ---------------------------
    QuerySpec("error_detect_vocab_part", (s, dir) => {
      val p = t(s, dir, "part")
      val dirty = p.filter(col("p_partkey") % 10 === 0)
        .withColumn("val",
          when(col("p_partkey") % 50 === 0, concat(col("p_type"), lit("_xx")))
            .otherwise(col("p_type")))
        .select("p_partkey", "val")
      val vocab = p.filter(col("p_partkey") % 10 =!= 0)
        .select(col("p_type").as("val"))
      Wrangler.errorDetectByVocab(dirty, vocab, "val")
        .select(col("p_partkey"), col("pred"))
        .orderBy(col("p_partkey"))
    },
      """WITH vocab AS (
        |  SELECT DISTINCT p_type AS val FROM part WHERE p_partkey % 10 <> 0),
        |test AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx' ELSE p_type END AS val
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT t.p_partkey,
        |  CASE WHEN v.val IS NULL THEN 'yes' ELSE 'no' END AS pred
        |FROM test t LEFT JOIN vocab v ON t.val = v.val
        |ORDER BY t.p_partkey""".stripMargin),

    // ---- S3+P5/P7+T2+detector+G4: error-detection task end-to-end ----------
    // Reproduces the reference's split-directory layout (run_wrangler.py:
    // 121-135 + data_utils.py:288-305): one per-column CSV per split dir,
    // target column parsed from the filename token; the S3 sweep reads
    // train+test dirs, T2 co-sorts the (train, test, instruction) triples,
    // a vocabulary detector (trained on the clean train rows) predicts per
    // task, and G4 emits per-target confusion metrics. The CSV fixture
    // derives deterministically from `part`, so DuckDB can reproduce the
    // metrics straight from the parquet table.
    QuerySpec("error_detection_end_to_end_part", (s, dir) => {
      val p = t(s, dir, "part")
      val targets = Seq("pbrand" -> "p_brand", "ptype" -> "p_type")
      val root = freshFixtureDir("errdet_splits")
      val trainDir =
        java.nio.file.Files.createDirectory(root.resolve("train_splits_single"))
      val testDir =
        java.nio.file.Files.createDirectory(root.resolve("test_splits_single"))
      def dump(where: java.nio.file.Path, colName: String,
          rows: Seq[String]): Unit = {
        val content = (s"rowkey,$colName,is_clean" +: rows).mkString("\n")
        java.nio.file.Files.write(where.resolve(s"table_split_$colName.csv"),
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      targets.foreach { case (colName, src) =>
        val test = p.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey").cast("long").as("k"),
            when(col("p_partkey") % 50 === 0, concat(col(src), lit("_xx")))
              .otherwise(col(src)).as("v"),
            when(col("p_partkey") % 50 === 0, lit(0)).otherwise(lit(1)).as("c"))
          .orderBy(col("k")).collect()
          .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getInt(2)}").toSeq
        val train = p.filter(col("p_partkey") % 10 =!= 0)
          .select(col("p_partkey").cast("long").as("k"), col(src).as("v"))
          .orderBy(col("k")).collect()
          .map(r => s"${r.getLong(0)},${r.getString(1)},1").toSeq
        dump(testDir, colName, test)
        dump(trainDir, colName, train)
      }
      val trainTasks = Readers.errorDetectionDir(s, trainDir.toString)
      val testTasks = Readers.errorDetectionDir(s, testDir.toString)
      val (trainAligned, testAligned, _) = Samplers.coSort3(
        trainTasks.map(x => (x._1, x._2)), testTasks.map(x => (x._1, x._2)),
        trainTasks.map(_._3))
      trainAligned.zip(testAligned).map {
        case ((colName, trainDf), (_, testDf)) =>
          val vocab = trainDf.filter(col("label_str") === "no").select("text")
          val applied = Wrangler.errorDetectByVocab(testDf, vocab, "text")
          Metrics.confusionMetrics(applied, "pred", "label_str")
            .withColumn("target", lit(colName))
      }.reduce(_ unionByName _).orderBy(col("target"))
    },
      // Oracle recomputes the error-detection pipeline straight from `part`
      // (the CSV split-dir round-trip on the Spark side is value-preserving).
      """WITH t1 AS (
        |  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_brand || '_xx'
        |    ELSE p_brand END AS val,
        |    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
        |  FROM part WHERE p_partkey % 10 = 0),
        |v1 AS (SELECT DISTINCT p_brand AS w FROM part WHERE p_partkey % 10 <> 0),
        |t2 AS (
        |  SELECT CASE WHEN p_partkey % 50 = 0 THEN p_type || '_xx'
        |    ELSE p_type END AS val,
        |    CASE WHEN p_partkey % 50 = 0 THEN 'yes' ELSE 'no' END AS gold
        |  FROM part WHERE p_partkey % 10 = 0),
        |v2 AS (SELECT DISTINCT p_type AS w FROM part WHERE p_partkey % 10 <> 0),
        |lab AS (
        |  SELECT 'pbrand' AS target,
        |    CASE WHEN v1.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
        |  FROM t1 LEFT JOIN v1 ON t1.val = v1.w
        |  UNION ALL
        |  SELECT 'ptype' AS target,
        |    CASE WHEN v2.w IS NULL THEN 'yes' ELSE 'no' END AS pred, gold
        |  FROM t2 LEFT JOIN v2 ON t2.val = v2.w),
        |c AS (
        |  SELECT target, COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS crc,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN gold = 'yes' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN gold = 'no' AND pred <> gold THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM lab GROUP BY target),
        |p AS (
        |  SELECT *,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fp), 6) AS prec,
        |    ROUND(CAST(tp AS DOUBLE) / GREATEST(1, tp + fn), 6) AS rec,
        |    ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc
        |  FROM c)
        |SELECT target, total, crc, tp, fn, tn, fp, prec, rec, acc,
        |  ROUND(2.0 * prec * rec / GREATEST(1.0, prec + rec), 6) AS f1_legacy,
        |  ROUND(CASE WHEN prec + rec > 0.0
        |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
        |FROM p ORDER BY target""".stripMargin),

    // ---- imputation task end-to-end: learned dict → apply → G4 metrics -----
    QuerySpec("impute_end_to_end_customer", (s, dir) => {
      val c = t(s, dir, "customer")
      val applied = Wrangler.imputeByDict(
        c.filter(col("c_custkey") % 10 =!= 0),
        c.filter(col("c_custkey") % 10 === 0),
        "c_nationkey", "c_mktsegment")
      Metrics.confusionMetrics(
        applied.withColumn("gold", col("c_mktsegment")), "pred", "gold")
    },
      """WITH train AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        |test AS (SELECT * FROM customer WHERE c_custkey % 10 = 0),
        |cnt AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM train GROUP BY 1, 2),
        |dict AS (
        |  SELECT c_nationkey, c_mktsegment FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, c_mktsegment) AS rn FROM cnt)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT c_mktsegment FROM train GROUP BY 1
        |  ORDER BY COUNT(*) DESC, c_mktsegment LIMIT 1),
        |pred AS (
        |  SELECT COALESCE(d.c_mktsegment, (SELECT c_mktsegment FROM g)) AS pred,
        |    t.c_mktsegment AS gold
        |  FROM test t LEFT JOIN dict d ON t.c_nationkey = d.c_nationkey),
        |c AS (
        |  SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN lower(trim(pred)) = lower(trim(gold))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS crc
        |  FROM pred)
        |SELECT total, crc,
        |  CAST(0 AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fn,
        |  CAST(0 AS BIGINT) AS tn, CAST(0 AS BIGINT) AS fp,
        |  0.0 AS prec, 0.0 AS rec,
        |  ROUND(CAST(crc AS DOUBLE) / total, 6) AS acc,
        |  0.0 AS f1_legacy, 0.0 AS f1
        |FROM c""".stripMargin),

    // ---- transformation task end-to-end: synthesize → apply → G4 metrics ---
    QuerySpec("transform_end_to_end_part", (s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      Metrics.confusionMetrics(applied, "pred", "label_str")
    },
      """WITH te AS (
        |  SELECT p_partkey FROM (
        |    SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_partkey) AS rn
        |    FROM part) WHERE rn > 3),
        |c AS (SELECT COUNT(*) AS total FROM te)
        |SELECT total, total AS crc,
        |  CAST(0 AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fn,
        |  CAST(0 AS BIGINT) AS tn, CAST(0 AS BIGINT) AS fp,
        |  0.0 AS prec, 0.0 AS rec, 1.0 AS acc,
        |  0.0 AS f1_legacy, 0.0 AS f1
        |FROM c""".stripMargin),

    // ---- V1-V5+F2 end-to-end program synthesis + distributed apply ---------
    // Deterministic: demos (first 3 parts by key) admit exactly UpperCase
    // from the RuleSynthesizer candidate order.
    QuerySpec("synthesize_transform_part", (s, dir) => {
      val data = t(s, dir, "part").select(col("p_partkey"),
        col("p_name").as("text"), upper(col("p_name")).as("label_str"))
      val (_, applied) = Wrangler.runTransformation(data, "p_partkey", None)
      applied.select(col("p_partkey"), col("pred")).orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, upper(p_name) AS pred FROM (
        |  SELECT p_partkey, p_name,
        |    ROW_NUMBER() OVER (ORDER BY p_partkey) AS rn FROM part)
        |WHERE rn > 3 ORDER BY p_partkey""".stripMargin),

    // ---- §4 custom rule: serialize→re-split round trip collapses -----------
    // P2-serializes three part columns then applies the synthesized
    // SplitIndex program — the exact build-a-string-then-reparse shape the
    // reference's prompts teach. With SerializeResplitRule registered, the
    // optimized plan reads `p_brand` directly (RuleSpec asserts the collapse;
    // the oracle checks the values). The rule lives in a DEDICATED child
    // session (`newSession`: same SparkContext + catalog state isolation),
    // never the shared one — round-2 registered it into the shared session's
    // `experimental.extraOptimizations`, which made every later query in the
    // run pay the rule's pattern match over its plan.
    QuerySpec("resplit_rewrite_part", (s, dir) => {
      val ruled = s.newSession()
      ruled.experimental.extraOptimizations = Seq(SerializeResplitRule)
      val prog = TransformProgram.SplitIndex("^", 1)
      t(ruled, dir, "part")
        .withColumn("text",
          Serialize.serializeSimple(Seq("p_name", "p_brand", "p_type")))
        .select(col("p_partkey"), prog.toColumn(col("text")).as("pred"))
        .orderBy(col("p_partkey"))
    },
      // The rewrite is semantics-preserving: the oracle is simply the column
      // the collapsed plan reads directly.
      """SELECT p_partkey, p_brand AS pred
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- F1 transform program as a column expression (unit conversion) -----
    QuerySpec("transform_affine_lineitem", (s, dir) => {
      val prog = TransformProgram.AffineNumber(1.8, 32.0, 1) // °C → °F
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          prog.toColumn(col("l_quantity").cast("string")).as("pred"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(l_quantity * 1.8 + 32, 1) AS VARCHAR) AS pred
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- F6 geo/calendar DSL family: deg↔DMS + fixed-zone shift ------------
    // Inputs are built from exact integers via identical printf formats in
    // both engines, so the only doubles are the conversion arithmetic —
    // identical IEEE ops on identical inputs.
    QuerySpec("transform_geo_part", (s, dir) => {
      val toDms = TransformProgram.DegToDms(1)
      val toDeg = TransformProgram.DmsToDeg(6)
      val shift = TransformProgram.FixedZoneShift(
        "yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm", 330)
      val hijri = TransformProgram.GregorianToHijri()
      val p = t(s, dir, "part")
        .withColumn("deg_in",
          format_string("%d.%04d", col("p_partkey") % 90,
            col("p_partkey") % 10000))
        .withColumn("ts_in",
          format_string("%04d-%02d-%02d %02d:%02d:00",
            lit(1995) + col("p_partkey") % 3,
            lit(1) + col("p_partkey") % 12,
            lit(1) + col("p_partkey") % 28,
            col("p_partkey") % 24, col("p_partkey") % 60))
        .withColumn("date_in",
          format_string("%04d-%02d-%02d",
            lit(1990) + col("p_partkey") % 60,
            lit(1) + col("p_partkey") % 12,
            lit(1) + col("p_partkey") % 28))
      p.select(col("p_partkey"),
          toDms.toColumn(col("deg_in")).as("dms"),
          toDeg.toColumn(toDms.toColumn(col("deg_in"))).as("deg_roundtrip"),
          shift.toColumn(col("ts_in")).as("shifted"),
          hijri.toColumn(col("date_in")).as("hijri"))
        .orderBy(col("p_partkey"))
    },
      // deg→DMS→deg + fixed-zone shift replay: the same IEEE double ops on
      // the same printf-built inputs; the DMS seconds string round-trips
      // exactly (shortest double representation), so the reconstruction uses
      // the numeric components directly.
      """WITH base AS (
        |  SELECT p_partkey,
        |    CAST(printf('%d.%04d', p_partkey % 90, p_partkey % 10000)
        |      AS DOUBLE) AS v,
        |    printf('%04d-%02d-%02d %02d:%02d:00',
        |      1995 + p_partkey % 3, 1 + p_partkey % 12, 1 + p_partkey % 28,
        |      p_partkey % 24, p_partkey % 60) AS ts_in,
        |    1990 + p_partkey % 60 AS gy, 1 + p_partkey % 12 AS gm,
        |    1 + p_partkey % 28 AS gd
        |  FROM part),
        |dms AS (
        |  SELECT p_partkey, v, ts_in, gy, gm, gd,
        |    CAST(FLOOR(v) AS BIGINT) AS d,
        |    CAST(FLOOR((v - FLOOR(v)) * 60) AS BIGINT) AS m,
        |    ROUND(((v - FLOOR(v)) * 60 - FLOOR((v - FLOOR(v)) * 60)) * 60, 1)
        |      AS sec
        |  FROM base),
        |hj1 AS (
        |  SELECT *, (14 - gm) // 12 AS ha FROM dms),
        |hj2 AS (
        |  SELECT *, gd + ((gm + ha*12 - 3) * 153 + 2) // 5
        |    + (gy + 4800 - ha) * 365 + (gy + 4800 - ha) // 4
        |    - (gy + 4800 - ha) // 100 + (gy + 4800 - ha) // 400 - 32045
        |    AS jdn
        |  FROM hj1),
        |hj3 AS (SELECT *, jdn - 1948440 + 10632 AS l0 FROM hj2),
        |hj4 AS (SELECT *, (l0 - 1) // 10631 AS n FROM hj3),
        |hj5 AS (SELECT *, l0 - n * 10631 + 354 AS l1 FROM hj4),
        |hj6 AS (
        |  SELECT *, ((10985 - l1) // 5316) * ((l1 * 50) // 17719)
        |    + (l1 // 5670) * ((l1 * 43) // 15238) AS hj
        |  FROM hj5),
        |hj7 AS (
        |  SELECT *, l1 - ((30 - hj) // 15) * ((hj * 17719) // 50)
        |    - (hj // 16) * ((hj * 15238) // 43) + 29 AS l2
        |  FROM hj6),
        |hj8 AS (
        |  SELECT *, n * 30 + hj - 30 AS hy, (l2 * 24) // 709 AS hm
        |  FROM hj7)
        |SELECT p_partkey,
        |  CAST(d AS VARCHAR) || '°' || CAST(m AS VARCHAR) || '''' ||
        |    CAST(sec AS VARCHAR) || '"' AS dms,
        |  CAST(ROUND(d + m / 60.0 + sec / 3600.0, 6) AS VARCHAR)
        |    AS deg_roundtrip,
        |  strftime(strptime(ts_in, '%Y-%m-%d %H:%M:%S')
        |    + INTERVAL 330 MINUTE, '%d/%m/%Y %H:%M') AS shifted,
        |  printf('%04d-%02d-%02d', hy, hm, l2 - (hm * 709) // 24) AS hijri
        |FROM hj8 ORDER BY p_partkey""".stripMargin),

    // ---- F6 geo envelope: geodesic distance (haversine DSL node) -----------
    // Coordinate pairs synthesized from p_partkey with INTEGER printf so
    // both engines build byte-identical input strings; the node parses and
    // computes the identical double formula (see HaversineKm).
    QuerySpec("transform_haversine_part", (s, dir) => {
      val hv = TransformProgram.HaversineKm(3)
      val p = t(s, dir, "part")
        .withColumn("pair_in",
          format_string("%d.%02d,%d.%02d -> %d.%02d,%d.%02d",
            col("p_partkey") % 80, col("p_partkey") % 100,
            col("p_partkey") % 170, (col("p_partkey") * 7) % 100,
            (col("p_partkey") * 3) % 80, (col("p_partkey") * 13) % 100,
            (col("p_partkey") * 11) % 170, (col("p_partkey") * 17) % 100))
      p.select(col("p_partkey"), col("pair_in"),
          hv.toColumn(col("pair_in")).as("dist_km"))
        .orderBy(col("p_partkey"))
    },
      // Haversine: the oracle re-parses the pair string with the same regex
      // and runs the same fixed-order double formula (pi()/libm trig agree
      // bit-for-bit with the JVM on this platform — the ln/exp contract
      // every scored query already relies on; ROUND(.,3) is the guard).
      """WITH base AS (
        |  SELECT p_partkey,
        |    printf('%d.%02d,%d.%02d -> %d.%02d,%d.%02d',
        |      p_partkey % 80, p_partkey % 100,
        |      p_partkey % 170, (p_partkey * 7) % 100,
        |      (p_partkey * 3) % 80, (p_partkey * 13) % 100,
        |      (p_partkey * 11) % 170, (p_partkey * 17) % 100) AS pair_in
        |  FROM part),
        |px AS (
        |  SELECT p_partkey, pair_in,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 1) AS DOUBLE)
        |      * pi() / 180.0 AS la1,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 2) AS DOUBLE)
        |      * pi() / 180.0 AS lo1,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 3) AS DOUBLE)
        |      * pi() / 180.0 AS la2,
        |    CAST(regexp_extract(pair_in,
        |      '(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)\s*->\s*(-?[0-9]+\.?[0-9]*)\s*,\s*(-?[0-9]+\.?[0-9]*)', 4) AS DOUBLE)
        |      * pi() / 180.0 AS lo2
        |  FROM base),
        |h AS (
        |  SELECT p_partkey, pair_in,
        |    power(sin((la2 - la1) / 2), 2)
        |      + cos(la1) * cos(la2) * power(sin((lo2 - lo1) / 2), 2) AS hh
        |  FROM px)
        |SELECT p_partkey, pair_in,
        |  CAST(ROUND(asin(sqrt(least(1.0, hh))) * 12742.0176, 3) AS VARCHAR) AS dist_km
        |FROM h ORDER BY p_partkey""".stripMargin),

    // ---- F1 tier-2 escape hatch: opaque closure behind a ScalaUDF ----------
    // A program the closed DSL can't express (reverse + conditional throw),
    // with the reference's per-row try/except semantics: the throwing rows
    // surface as the "Not excutable" sentinel (function_generator.py:143-147).
    QuerySpec("transform_opaque_part", (s, dir) => {
      val prog = TransformProgram.Chain(Seq(
        TransformProgram.TrimWs,
        TransformProgram.OpaqueFn("rev_upper_mod7", { v =>
          if (v.length % 7 == 0) throw new IllegalArgumentException("mod7")
          else v.reverse.toUpperCase
        })))
      Wrangler.applyProgram(
          t(s, dir, "part").select(col("p_partkey"), col("p_name")),
          prog, "p_name")
        .select(col("p_partkey"), col("pred"))
        .orderBy(col("p_partkey"))
    },
      // Opaque-UDF semantics replayed declaratively: trim, then either the
      // reverse-upper transform or the sentinel where the closure throws
      // (length divisible by 7 after trim).
      """SELECT p_partkey,
        |  CASE WHEN length(trim(p_name)) % 7 = 0 THEN 'Not excutable'
        |       ELSE upper(reverse(trim(p_name))) END AS pred
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- layout: small-file compaction round trip ---------------------------
    // THE operational problem at 100 TB: a table fragmented into thousands
    // of small files (one per micro-batch/task) read-amplifies every scan.
    // Write the corpus as 64 shards, compact to ceil(n/200) by row count,
    // and prove bit fidelity via an order-invariant row checksum computed
    // on both layouts (oracle computes the same checksum from the source
    // table — all three must agree).
    QuerySpec("compaction_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = freshFixtureDir("graft_compact").toString
      val small = s"$base/small"; val packed = s"$base/packed"
      docs.repartition(64).write.mode("overwrite").parquet(small)
      val readSmall = s.read.parquet(small)
      val n = readSmall.count()
      val target = ((n + 199L) / 200L).toInt
      readSmall.repartition(target).write.mode("overwrite").parquet(packed)
      // unresolved column expression — binds to whichever layout it
      // aggregates over
      val checksum: Column = sum(Samplers.hashDraw32(
        concat_ws("|", col("doc_id").cast("string"), col("lang"),
          col("source"), col("n_chars").cast("string"),
          md5(col("text").cast("binary")))))
      // the oracle checks DATA fidelity (row count + content checksums
      // across the rewrite); the file-count layout expectation
      // (64 small → ceil(n/200) packed) is a property of the WRITER, which
      // DuckDB can't observe — it is asserted in LayoutSpec's compaction
      // test, so a writer-behavior change fails the spec with a layout
      // message instead of masquerading as an operator wrong-answer here
      s.read.parquet(packed).agg(checksum.as("checksum_packed"))
        .crossJoin(readSmall.agg(checksum.as("checksum_small"),
          count(lit(1)).as("n_rows")))
        .select(col("n_rows"), col("checksum_small"), col("checksum_packed"))
    },
      """WITH cs AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source
        |        || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text)),
        |      1, 8)) AS BIGINT)) AS BIGINT) AS checksum
        |  FROM documents)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows,
        |  checksum AS checksum_small, checksum AS checksum_packed
        |FROM cs""".stripMargin),

    jsonlRoundtripDocs,

    // ---- ORC source/sink round trip (second columnar format) ---------------
    QuerySpec("orc_roundtrip_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_orc").toString
      docs.write.mode("overwrite").orc(out)
      s.read.schema(docs.schema).orc(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      jsonlRoundtripDocs.oracle),

    // ---- hive-partitioned layout: write by lang, read one partition --------
    // The partition filter must prune at the directory level (LayoutSpec
    // asserts the pruned plan); the oracle checks the data survives the
    // partitioned round trip exactly.
    QuerySpec("partitioned_layout_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_part").toString
      docs.write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin),

    // ---- pivot (explicit value list → deterministic columns) ---------------
    QuerySpec("pivot_events", (s, dir) =>
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy(col("user_bucket")),
      """SELECT user_id % 10 AS user_bucket,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- cube over event_type × high-value flag ----------------------------
    // rollup nulls project to 'ALL': nullable booleans stringify differently
    // in the two engines' pandas bridges ('None' vs NaN) — a checker
    // artifact, not semantics — so the output carries no nulls.
    QuerySpec("cube_events", (s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"),
          (col("value") > 100.0).as("high_value"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("high_value").cast("string"), lit("ALL"))
            .as("high_value"),
          col("n"))
        .orderBy(col("event_type"), col("high_value")),
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(CAST(value > 100.0 AS VARCHAR), 'ALL') AS high_value,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY CUBE(event_type, value > 100.0)
        |ORDER BY 1, 2""".stripMargin),

    // ---- sketches: approx distinct + approx percentiles (rows-only check:
    // sketch internals are engine-specific by design) ------------------------
    // The sketches themselves are engine-specific (HLL++ register layout,
    // quantile-summary compression order), so their raw values can't be
    // oracle-compared — and percentile_approx isn't even stable across
    // partitionings. What IS deterministic: each sketch's documented error
    // CONTRACT. The query emits exact companions plus boolean in-bound
    // flags — hll within 3×rsd of the exact distinct; each approx
    // percentile's rank interval [count(<v), count(<=v)]/n intersecting
    // q ± (1/accuracy + slack) — computed by joining the 5-row sketch
    // output back over the data (one extra broadcast-join scan). The
    // oracle pins the flags to TRUE: a sketch drifting out of contract
    // flips a flag and fails the hash compare.
    QuerySpec("approx_stats_events", (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"), col("user_id"), col("value"))
      val sk = ev.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id")).as("__au"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("__p50"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("__p99"),
        countDistinct(col("user_id")).as("n_users"),
        count(col("value")).as("n_vals"))
      val n = col("n_vals").cast("double")
      ev.join(broadcast(sk), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          first(col("n_users")).as("n_users"),
          first(col("n_vals")).as("n_vals"),
          (abs(first(col("__au")) - first(col("n_users"))) <=
            first(col("n_users")) * 0.15).as("hll_ok"),
          (sum(when(col("value") < col("__p50"), 1L).otherwise(0L)) <=
            first(n) * 0.51 &&
           sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)) >=
            first(n) * 0.49).as("p50_ok"),
          (sum(when(col("value") < col("__p99"), 1L).otherwise(0L)) <=
            first(n) * 1.0 &&
           sum(when(col("value") <= col("__p99"), 1L).otherwise(0L)) >=
            first(n) * 0.98).as("p99_ok"))
        .orderBy(col("event_type"))
    },
      // exact companions + sketch-contract flags; the Spark side computes the
      // flags from its own sketches, the oracle pins them TRUE (see the query
      // comment) — an out-of-contract sketch fails the hash compare
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(value) AS n_vals,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Neyman optimal allocation (survey-sampling design) -----------------
    // 1000 samples split across order-priority strata by N_h·σ_h —
    // big AND variable strata deserve samples; largest-remainder
    // integerization with declared tiebreaks.
    QuerySpec("neyman_alloc_orders", (s, dir) =>
      graft.sample.Samplers.neymanAllocation(t(s, dir, "orders")
          .withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
        "o_orderpriority", "cents", 1000L)
        .orderBy(col("stratum")),
      // mirrored doubles throughout; weight mass as exact DECIMAL(38,6);
      // largest-remainder ranks tie-broken on the stratum key
      """WITH b AS (
        |  SELECT o_orderpriority AS stratum,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |s AS (
        |  SELECT COALESCE(CAST(stratum AS VARCHAR), 'NULL') AS stratum,
        |    CAST(COUNT(*) AS BIGINT) AS n_h,
        |    SUM(CAST(v AS HUGEINT)) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv
        |  FROM b GROUP BY 1),
        |w AS (
        |  SELECT stratum, n_h,
        |    sqrt(GREATEST(
        |      CAST(CAST(n_h AS HUGEINT) * svv - sv * sv AS DOUBLE)
        |        / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE)), 0.0))
        |      AS sd
        |  FROM s),
        |ww AS (SELECT *, CAST(n_h AS DOUBLE) * sd AS wt FROM w),
        |tot AS (SELECT SUM(CAST(wt AS DECIMAL(38,6))) AS sw FROM ww),
        |r AS (
        |  SELECT stratum, n_h, sd,
        |    CASE WHEN sw > 0 THEN 1000.0 * wt / CAST(sw AS DOUBLE)
        |      ELSE 0.0 END AS share, sw
        |  FROM ww, tot),
        |f AS (
        |  SELECT *, CAST(FLOOR(share) AS BIGINT) AS fl,
        |    share - FLOOR(share) AS frac
        |  FROM r),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, stratum ASC)
        |    AS rnk, (SELECT 1000 - SUM(fl) FROM f) AS l
        |  FROM f)
        |SELECT stratum, n_h, ROUND(sd, 6) AS sd,
        |  CAST(fl + CASE WHEN sw > 0 AND rnk <= l THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  fl + CASE WHEN sw > 0 AND rnk <= l THEN 1 ELSE 0 END > n_h
        |    AS over_allocated
        |FROM rk ORDER BY stratum""".stripMargin),

    // ---- deletion propagation: aggregate maintenance under erasure ---------
    // The right-to-be-forgotten shape: instead of rescanning the corpus
    // after deleting a user set, aggregate the DELETED rows and subtract —
    // counts as longs, money as exact decimals, so after = before − deleted
    // holds bit-exactly. At 100 TB the deleted slice is ~0.1% of the scan.
    QuerySpec("deletion_propagation_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val before = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_before"),
          sum(col("value").cast("decimal(18,2)")).as("__sb"))
      val del = ev.filter(col("user_id") % 97 === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_deleted"),
          sum(col("value").cast("decimal(18,2)")).as("__sd"))
      before.join(del, Seq("event_type"), "left_outer")
        .select(col("event_type"), col("n_before"),
          coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
          (col("n_before") - coalesce(col("n_deleted"), lit(0L)))
            .as("n_after"),
          round((col("__sb")
            - coalesce(col("__sd"), lit(0).cast("decimal(18,2)")))
            .cast("double"), 6).as("sum_after"))
        .orderBy(col("event_type"))
    },
      """WITH b AS (
        |  SELECT event_type, COUNT(*) AS n_before,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sb
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT event_type, COUNT(*) AS n_deleted,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sd
        |  FROM events WHERE user_id % 97 = 0 GROUP BY 1)
        |SELECT b.event_type, CAST(b.n_before AS BIGINT) AS n_before,
        |  CAST(COALESCE(d.n_deleted, 0) AS BIGINT) AS n_deleted,
        |  CAST(b.n_before - COALESCE(d.n_deleted, 0) AS BIGINT) AS n_after,
        |  ROUND(CAST(b.sb - COALESCE(d.sd, 0) AS DOUBLE), 6) AS sum_after
        |FROM b LEFT JOIN d ON b.event_type = d.event_type
        |ORDER BY b.event_type""".stripMargin),

    // ---- robust aggregates: per-group winsorized sums -----------------------
    // Clip values to the group's [p05, p95] before summing — the standard
    // outlier guard before training-metric aggregation. Boundary table is
    // one row per group, broadcast back (quantileBin's shape); sums are
    // decimal-exact. The values are whole cents, so the bounds are rounded
    // to cents first as round(p·100)/100 (half away from zero on the IEEE
    // product, the same in DuckDB): casting an off-cent bound such as
    // 150.02499999999998 straight to DECIMAL rounds it to 150.02 here and
    // to 150.03 in DuckDB.
    QuerySpec("winsorize_events", (s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.05D)").as("p05"),
        expr("percentile(value, 0.95D)").as("p95"))
      def cents(c: Column): Column = round(c * 100) / 100
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("__cv", least(greatest(col("value"), cents(col("p05"))),
          cents(col("p95"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("p05")), 6).as("p05"),
          round(min(col("p95")), 6).as("p95"),
          round(dsum(col("value")), 6).as("sum_raw"),
          round(dsum(col("__cv")), 6).as("sum_clipped"))
        .orderBy(col("event_type"))
    },
      """WITH bounds AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, e.value,
        |    LEAST(GREATEST(e.value, round(b.p05 * 100) / 100),
        |      round(b.p95 * 100) / 100) AS cv, b.p05, b.p95
        |  FROM events e JOIN bounds b ON e.event_type = b.event_type)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(MIN(p05), 6) AS p05, ROUND(MIN(p95), 6) AS p95,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS sum_raw,
        |  ROUND(CAST(SUM(CAST(cv AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS sum_clipped
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- composite training-data pipeline: quality filter → exact dedup →
    // stratified per-lang sample (the 100 TB preprocessing shape) ------------
    QuerySpec("training_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextAnalysis.qualityFeatures(docs, "text")
        .filter(col("n_tokens") >= 5 && col("distinct_ratio") >= 0.3)
      val deduped = q.withColumn("__rn",
          row_number().over(Window.partitionBy(col("text"))
            .orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
      Samplers.stratifiedDeterministic(
          deduped.select("doc_id", "lang", "n_tokens"), "lang", "doc_id", 50)
        .orderBy(col("doc_id"))
    },
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> len(x) > 0))) AS DOUBLE)
        |      / GREATEST(1, len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0))) AS distinct_ratio
        |  FROM documents),
        |f AS (SELECT * FROM q WHERE n_tokens >= 5 AND distinct_ratio >= 0.3),
        |d AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS drn
        |  FROM f),
        |dd AS (SELECT doc_id, lang, n_tokens FROM d WHERE drn = 1),
        |st AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS srn
        |  FROM dd)
        |SELECT doc_id, lang, n_tokens FROM st WHERE srn <= 50
        |ORDER BY doc_id""".stripMargin),

    // ---- G5 trial mean/std from exact decimal sums -------------------------
    QuerySpec("trial_stats_orders", (s, dir) => {
      val dec = col("o_totalprice").cast("decimal(18,2)")
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_trials"),
          sum(dec).cast("double").as("sum_price"),
          sum((dec * dec).cast("decimal(38,4)")).cast("double").as("sum_sq"))
        .select(col("o_orderstatus"), col("n_trials"),
          round(col("sum_price") / col("n_trials"), 6).as("mean_price"),
          round(sqrt(col("sum_sq") / col("n_trials") -
            (col("sum_price") / col("n_trials")) *
            (col("sum_price") / col("n_trials"))), 6).as("std_price"))
        .orderBy(col("o_orderstatus"))
    },
      """WITH s AS (
        |  SELECT o_orderstatus, COUNT(*) AS n_trials,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
        |      AS DOUBLE) AS sum_sq
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n_trials,
        |  ROUND(sum_price / n_trials, 6) AS mean_price,
        |  ROUND(SQRT(sum_sq / n_trials -
        |    (sum_price / n_trials) * (sum_price / n_trials)), 6) AS std_price
        |FROM s ORDER BY o_orderstatus""".stripMargin),

    // ---- deterministic k-fold split (md5 mod k — shuffle-free projection) --
    QuerySpec("kfold_split_orders", (s, dir) =>
      Samplers.kfoldAssign(t(s, dir, "orders"), "o_orderkey", 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("fold")),
      """WITH f AS (
        |  SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 5 AS INT) AS fold,
        |    o_totalprice
        |  FROM orders)
        |SELECT fold, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin),

    // ---- exact interpolated percentiles per group (sort-based agg) ---------
    // (renamed from percentiles_lineitem, which wave 2's
    // distributed-selection query silently shadowed in the Map — a
    // duplicate key keeps only the last entry)
    QuerySpec("percentile_interp_lineitem", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25D)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5D)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75D)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- NTILE quantile binning per group (partitioned window) -------------
    QuerySpec("ntile_binning_orders", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bin", ntile(4).over(
          Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("bin")),
      """WITH b AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    NTILE(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS bin
        |  FROM orders)
        |SELECT o_orderpriority, bin, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY o_orderpriority, bin
        |ORDER BY o_orderpriority, bin""".stripMargin),

    // ---- keyed range join: lineitems shipped within 30 days of the order ---
    QuerySpec("range_join_lineitem", (s, dir) => {
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").as("win_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("win_end"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      Joins.rangeJoin(orders, li, "o_orderkey", "l_orderkey",
          col("l_shipdate"), col("win_start"), col("win_end"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_shipped_30d"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o.o_orderpriority, COUNT(*) AS n_shipped_30d,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders o JOIN lineitem l
        |  ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),

    // ---- fixed-width histogram (shuffle only carries bin ids) --------------
    QuerySpec("histogram_orders", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 6).as("min_price"),
          round(max(col("o_totalprice")), 6).as("max_price"))
        .orderBy(col("bin")),
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_orders,
        |  ROUND(MIN(o_totalprice), 6) AS min_price,
        |  ROUND(MAX(o_totalprice), 6) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- ranking-family windows: rank / dense_rank / percent_rank /
    // cume_dist (tie-free ordering via unique key tiebreak) ------------------
    QuerySpec("rank_family_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy(col("o_orderpriority"), col("rnk"))
    },
      """WITH r AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        |    ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |    ROUND(CUME_DIST() OVER w, 6) AS cdist
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey))
        |SELECT * FROM r WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderpriority, rnk""".stripMargin),

    // ---- CDC-style upsert compaction: latest version per key wins ----------
    QuerySpec("upsert_merge_orders", (s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), lit(0).as("version"))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit(1).as("version"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      base.unionByName(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
        |    THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- z-order layout: per-file min/max envelopes on BOTH dimensions -----
    QuerySpec("zorder_stats_orders", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", col("o_custkey") % 1024)
        .withColumn("y",
          expr("(CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) DIV 86400) % 1024"))
      graft.io.ZOrder.fileStats(o, col("x"), col("y"), 10, 4)
        .orderBy(col("file_id"))
    },
      s"""WITH d AS (
        |  SELECT o_custkey % 1024 AS x,
        |    (CAST(EPOCH_US(o_orderdate) AS BIGINT) // 86400000000) % 1024 AS y
        |  FROM orders),
        |z AS (SELECT x, y, $zInterleaveSql AS zv FROM d)
        |SELECT zv >> 16 AS file_id, COUNT(*) AS n_rows,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin),

    // ---- quality-proportional (weighted Bernoulli) corpus sampling ---------
    QuerySpec("weighted_sample_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      val mx = d.agg(max(col("n_tokens")).as("max_tokens"))
      val withW = d.crossJoin(broadcast(mx))
        .withColumn("w",
          col("n_tokens").cast("double") / col("max_tokens"))
      Samplers.weightedBernoulli(withW, "doc_id", "w")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"))
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (SELECT MAX(n_tokens) AS max_tokens FROM d),
        |k AS (
        |  SELECT source, n_tokens FROM d, m
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS DOUBLE) / 4294967296.0
        |    < CAST(n_tokens AS DOUBLE) / max_tokens)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin),

    // ---- snapshot diff: added/deleted/changed/unchanged between versions ---
    QuerySpec("snapshot_diff_orders", (s, dir) => {
      val snapA = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val snapB = snapA.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 500.0)
            .otherwise(col("o_totalprice")))
        .unionByName(snapA.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice")))
      Joins.snapshotDiff(snapA, snapB, Seq("o_orderkey"), Seq("o_totalprice"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(abs(coalesce(col("new_o_totalprice"), lit(0.0)) -
            coalesce(col("old_o_totalprice"), lit(0.0)))).as("sum_abs_delta"))
        .orderBy(col("status"))
    },
      """WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 11 = 0),
        |j AS (
        |  SELECT a.o_orderkey AS ak, b.o_orderkey AS bk,
        |    a.o_totalprice AS oldp, b.o_totalprice AS newp
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
        |c AS (
        |  SELECT CASE WHEN bk IS NULL THEN 'deleted'
        |    WHEN ak IS NULL THEN 'added'
        |    WHEN oldp IS DISTINCT FROM newp THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |    ABS(COALESCE(newp, 0.0) - COALESCE(oldp, 0.0)) AS delta
        |  FROM j)
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS sum_abs_delta
        |FROM c GROUP BY status ORDER BY status""".stripMargin),

    // ---- group-wise top-n: longest documents per language ------------------
    QuerySpec("topn_per_group_docs", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("lang"), col("rn"))
    },
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rn FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin),

    // ---- percentile-threshold quality gate: keep docs above corpus p75 -----
    QuerySpec("quality_threshold_docs", (s, dir) => {
      val d = t(s, dir, "documents")
      val thr = d.agg(expr("percentile(n_chars, 0.75D)").as("thr"))
      d.crossJoin(broadcast(thr))
        .filter(col("n_chars").cast("double") >= col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_chars"))
        .orderBy(col("lang"))
    },
      """WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS thr FROM documents)
        |SELECT lang, COUNT(*) AS n_kept, MIN(n_chars) AS min_chars
        |FROM documents, t WHERE CAST(n_chars AS DOUBLE) >= thr
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- few-shot prompt packing: first-k serialized examples per group ----
    // (the reference's V1 prompt-formulation step, distributed: examples
    // collect per group and order deterministically — collect_list alone is
    // partition-order-dependent; sort_array over (key, text) structs pins it)
    QuerySpec("prompt_pack_customer", (s, dir) => {
      val ser = t(s, dir, "customer")
        .select((col("c_nationkey") % 5).cast("long").as("grp"),
          col("c_custkey"),
          Serialize.serializeKeyed(Seq(
            "c_name" -> "c_name", "c_mktsegment" -> "c_mktsegment"))
            .as("txt"))
      // bound the collect buffer BEFORE aggregating: rank-filter to the 3
      // winners per group first (collect_list of a whole group is the
      // unbounded top-n anti-pattern; the buffer here never exceeds 3 rows)
      val byGrp = Window.partitionBy(col("grp")).orderBy(col("c_custkey"))
      val packs = ser
        .withColumn("rn", row_number().over(byGrp))
        .filter(col("rn") <= 3)
        .groupBy(col("grp"))
        .agg(concat_ws("\n\n",
          transform(
            sort_array(collect_list(struct(col("c_custkey"), col("txt")))),
            e => e.getField("txt"))).as("prompt"))
      val counts = ser.groupBy(col("grp")).agg(count(lit(1)).as("n_rows"))
      packs.join(counts, Seq("grp")).orderBy(col("grp"))
    },
      """WITH s AS (
        |  SELECT CAST(c_nationkey % 5 AS BIGINT) AS grp, c_custkey,
        |    'c_name: ' || c_name || ' ^ c_mktsegment: ' || c_mktsegment AS txt
        |  FROM customer),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c_custkey)
        |    AS rn
        |  FROM s),
        |p AS (
        |  SELECT grp, string_agg(txt, chr(10) || chr(10) ORDER BY c_custkey)
        |    AS prompt
        |  FROM r WHERE rn <= 3 GROUP BY grp),
        |n AS (SELECT grp, COUNT(*) AS n_rows FROM s GROUP BY grp)
        |SELECT p.grp, p.prompt, n.n_rows FROM p JOIN n ON p.grp = n.grp
        |ORDER BY p.grp""".stripMargin),

    // ---- TPC-H Q10 shape: top customers by returned-goods revenue ----------
    QuerySpec("q10_returned_items", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val cust = broadcast(t(s, dir, "customer"))
      val nat = broadcast(t(s, dir, "nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // ---- schema evolution: mergeSchema read over batches with added cols ---
    // batch 1 writes the original columns; batch 2 adds a quality column.
    // mergeSchema unions the file schemas; old rows surface null quality —
    // the append-only column-add path every long-lived 100 TB table needs
    QuerySpec("schema_evolution_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = freshFixtureDir("graft_evo").toString
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/batch=1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") >= 100).as("long_doc"))
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("lang"),
          coalesce(col("long_doc"), lit(false)).as("long_doc_filled"),
          col("long_doc").isNull.as("pre_evo"))
        .groupBy(col("lang"), col("long_doc_filled").as("long_doc"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pre_evo"), 1L).otherwise(0L)).as("n_pre_evolution"))
        .orderBy(col("lang"), col("long_doc"))
    },
      """WITH m AS (
        |  SELECT lang, FALSE AS long_doc, TRUE AS pre_evo
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars >= 100 AS long_doc, FALSE AS pre_evo
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT lang, long_doc, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pre_evo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pre_evolution
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- TPC-H Q7 shape: bilateral trade volume between two nations --------
    QuerySpec("q7_volume_shipping", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = broadcast(t(s, dir, "customer"))
      val supp = broadcast(t(s, dir, "supplier"))
      val nat = t(s, dir, "nation")
      val n1 = broadcast(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation")))
      val n2 = broadcast(nat.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(
          (col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(discountedRevenue.as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |   OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ---- order-invariant table checksum (migration/replica verification) ---
    // sum of 32-bit md5 row digests: commutative, so any partitioning or
    // row order produces the same value — the cheap way to prove two copies
    // of a 100 TB table identical without sorting either
    QuerySpec("table_checksum_orders", (s, dir) => {
      val repr = concat_ws("|",
        col("o_orderkey").cast("string"),
        coalesce(col("o_custkey").cast("string"), lit("<null>")),
        coalesce(col("o_orderstatus"), lit("<null>")),
        coalesce(col("o_totalprice").cast("decimal(18,2)").cast("string"),
          lit("<null>")),
        coalesce(expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG)")
          .cast("string"), lit("<null>")),
        coalesce(col("o_orderpriority"), lit("<null>")))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(Samplers.hashDraw32(repr)).as("checksum"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(('0x' || substr(md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' ||
        |    COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
        |    COALESCE(o_orderstatus, '<null>') || '|' ||
        |    COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      '<null>') || '|' ||
        |    COALESCE(CAST(CAST(EPOCH_US(o_orderdate) AS BIGINT) // 1000000
        |      AS VARCHAR), '<null>') || '|' ||
        |    COALESCE(o_orderpriority, '<null>')), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS checksum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q4 shape: EXISTS → semi join with a non-equi conjunct -------
    // Orders in a quarter having at least one line shipped after the order
    // date. The EXISTS decorrelates to a LEFT SEMI join whose condition
    // carries the correlated l_shipdate > o_orderdate predicate; the date
    // filter prunes the orders side before the shuffle.
    QuerySpec("q4_priority_count", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-04-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q11 shape: HAVING against a scalar over the same agg --------
    // Parts whose discounted revenue exceeds 1.5× the mean per-part share.
    // Exact everywhere: per-line revenue is decimal(18,2)·decimal(18,4) → 6
    // decimal places, summed exactly and carried as integer micro-units
    // (longs), so the threshold comparison 2·rev·n_parts > 3·total is pure
    // integer math in both engines. (Long micro-units hold to ~SF100; past
    // that, widen to decimal or rescale.) The 1-row total broadcasts back
    // over the per-part aggregate — two shuffles total (both keyed on
    // l_partkey, reused).
    QuerySpec("q11_part_concentration", (s, dir) => {
      val revDec = sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .cast("decimal(28,6)"))
      val perPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg((revDec.cast("decimal(28,6)") * 1000000).cast("long")
          .as("rev_micro"),
          count(lit(1)).as("n_lines"))
      val tot = perPart.agg(sum(col("rev_micro")).as("tot_micro"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(tot))
        .filter(col("rev_micro") * col("n_parts") * 2 > col("tot_micro") * 3)
        .select(col("l_partkey"),
          round(col("rev_micro").cast("double") / 1e6, 6).as("revenue"),
          col("n_lines"))
        .orderBy(col("l_partkey"))
    },
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS rev_micro,
        |    COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev_micro) AS BIGINT) AS tot_micro,
        |  COUNT(*) AS n_parts FROM pp)
        |SELECT l_partkey, ROUND(CAST(rev_micro AS DOUBLE) / 1e6, 6) AS revenue,
        |  n_lines
        |FROM pp CROSS JOIN t
        |WHERE rev_micro * n_parts * 2 > tot_micro * 3
        |ORDER BY l_partkey""".stripMargin),

    // ---- TPC-H Q14 shape: conditional-aggregate ratio over a dim join ------
    // Promo revenue share for one ship month. sum(CASE WHEN promo) / sum —
    // both sums decimal-exact; the single division is the only double step.
    QuerySpec("q14_promo_revenue", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100).cast("double") *
            sum(when(col("p_type") === "PROMO", rev)).cast("double") /
            sum(rev).cast("double"), 6).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT
        |  ROUND(CAST(100 AS DOUBLE) *
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS DOUBLE), 6) AS promo_pct,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin),

    // ---- TPC-H Q15 shape: argmax via scalar-max broadcast ------------------
    // Top revenue supplier for a quarter. The per-supplier aggregate stays
    // decimal so the rev = max(rev) equality is exact (a double tie-compare
    // would be engine-dependent); the 1-row max and the supplier dim
    // broadcast — no second shuffle after the supplier agg.
    QuerySpec("q15_top_supplier", (s, dir) => {
      val r = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .as("rev_dec"))
      val mx = r.agg(max(col("rev_dec")).as("max_rev"))
      r.crossJoin(broadcast(mx))
        .filter(col("rev_dec") === col("max_rev"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("rev_dec").cast("double"), 6).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |      AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT MAX(rev) AS m FROM r)
        |SELECT s_suppkey, s_name, ROUND(CAST(rev AS DOUBLE), 6) AS total_revenue
        |FROM r CROSS JOIN mx
        |JOIN supplier ON r.l_suppkey = s_suppkey
        |WHERE r.rev = mx.m
        |ORDER BY s_suppkey""".stripMargin),

    // ---- TPC-H Q17 shape: correlated avg → grouped-agg join decorrelation --
    // Revenue from lines whose quantity is under half their part's average.
    // qty < avg/2 cross-multiplies to 2·qty·n < Σqty — exact longs (the
    // quantities are integral), no double avg on the comparison path. The
    // per-part aggregate joins back on l_partkey (broadcast at these SFs;
    // at 100 TB AQE turns it into a co-partitioned shuffle join on the same
    // key the aggregate already produced).
    QuerySpec("q17_small_qty_revenue", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_li"))
      l.join(broadcast(perPart), col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * col("n_li") * 2 < col("sum_qty"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("total_price"))
    },
      """WITH pa AS (
        |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |    COUNT(*) AS n_li
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * n_li * 2 < sum_qty""".stripMargin),

    // ---- TPC-H Q19 shape: disjunctive multi-column join predicate ----------
    // Three OR'ed (brand, size-range, quantity-range) triples. The p_size
    // bounds push to the part scan and the quantity bounds to the lineitem
    // scan (union of the ranges); the residual disjunction evaluates inside
    // the broadcast join's codegen stage.
    QuerySpec("q19_disjunctive_revenue", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"))
      def m(brand: String, sMax: Int, qMin: Int, qMax: Int): Column =
        col("p_brand") === brand && col("p_size").between(1, sMax) &&
          col("l_quantity").between(qMin, qMax)
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey") &&
          (m("Brand#12", 5, 1, 11) || m("Brand#23", 10, 10, 20) ||
            m("Brand#34", 15, 20, 30)))
        .agg(discountedRevenue.as("revenue"), count(lit(1)).as("n_lines"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ---- TPC-H Q22 shape: scalar-avg gate + anti join ----------------------
    // Dormant rich customers: above-average balance (avg over positive
    // balances) with no order since 2000. The average gate is exact:
    // bal·n > total in decimal — no double avg on the comparison path.
    // The recent-orders key set anti-joins (broadcast: it only shrinks with
    // the date filter; at TB scale the anti join shuffles on custkey).
    QuerySpec("q22_dormant_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val gate = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("tot"),
          count(lit(1)).as("n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(gate))
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          dsum(col("c_acctbal")).as("total_acctbal"))
        .orderBy(col("c_nationkey"))
    },
      """WITH gate AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot, COUNT(*) AS n
        |  FROM customer WHERE c_acctbal > 0),
        |recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |SELECT c_nationkey, COUNT(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer CROSS JOIN gate
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q2 shape: regional min-cost supplier (argmin decorrelation) -
    // partsupp is absent from the corpus, so lineitem's (part, supplier)
    // pairs play the supply catalog and the min line price plays supply
    // cost. Argmin without a window: per-pair min, per-part min, equality
    // join back on the exact decimal, min-suppkey tie-break (same
    // decorrelation as q15). EUROPE suppliers resolve through a broadcast
    // semi-join chain, so the fact scan shuffles only on its group keys.
    QuerySpec("q2_min_cost_supplier", (s, dir) => {
      val eurSupp = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey")))
      val pc = t(s, dir, "lineitem")
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("cost"))
      val mc = pc.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("cost")).as("mcost"))
      pc.join(mc, col("l_partkey") === col("mk") &&
            col("cost") === col("mcost"))
        .groupBy(col("l_partkey"), col("cost"))
        .agg(min(col("l_suppkey")).as("best_suppkey"))
        .join(broadcast(t(s, dir, "part").filter(col("p_size") <= 5)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("best_suppkey"),
          round(col("cost").cast("double"), 6).as("min_cost"))
        .orderBy(col("p_partkey"))
    },
      """WITH eur AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |pc AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eur)
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS mk, MIN(cost) AS mcost FROM pc GROUP BY 1),
        |best AS (
        |  SELECT pc.l_partkey, pc.cost, MIN(pc.l_suppkey) AS best_suppkey
        |  FROM pc JOIN mc ON pc.l_partkey = mc.mk AND pc.cost = mc.mcost
        |  GROUP BY 1, 2)
        |SELECT p_partkey, p_brand, best_suppkey,
        |  ROUND(CAST(cost AS DOUBLE), 6) AS min_cost
        |FROM best JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |ORDER BY p_partkey""".stripMargin),

    // ---- TPC-H Q8 shape: national market share within a regional market ----
    // Numerator and denominator accumulate as exact decimal micro-units in
    // ONE conditional aggregation pass; the share is a single double
    // division of two exact longs. Customer-region membership is a
    // broadcast semi-join on orders (never widens the fact rows); supplier
    // nation is a broadcast dim join.
    QuerySpec("q8_market_share", (s, dir) => {
      val amerCust = broadcast(
        t(s, dir, "customer")
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region").filter(col("r_name") === "AMERICA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey")))
      val suppNat = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(amerCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      val volume = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,4)") -
          col("l_discount").cast("decimal(18,4)"))).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_3", volume)
            .otherwise(lit(0).cast("decimal(28,6)"))).cast("decimal(28,6)")
            * 1000000).cast("long").as("nation_micro"),
          (sum(volume).cast("decimal(28,6)") * 1000000)
            .cast("long").as("total_micro"))
        .select(col("o_year"),
          round(col("nation_micro").cast("double") /
            col("total_micro").cast("double"), 6).as("mkt_share"),
          round(col("total_micro").cast("double") / 1e6, 6)
            .as("total_volume"))
        .orderBy(col("o_year"))
    },
      """WITH amer AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'),
        |f AS (
        |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      AS vol,
        |    n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE o_custkey IN (SELECT c_custkey FROM amer)
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |a AS (
        |  SELECT o_year,
        |    CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(28,6)) * 1000000
        |      AS BIGINT) AS nation_micro,
        |    CAST(CAST(SUM(vol) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
        |      AS total_micro
        |  FROM f GROUP BY 1)
        |SELECT o_year,
        |  ROUND(CAST(nation_micro AS DOUBLE) / CAST(total_micro AS DOUBLE), 6)
        |    AS mkt_share,
        |  ROUND(CAST(total_micro AS DOUBLE) / 1e6, 6) AS total_volume
        |FROM a ORDER BY o_year""".stripMargin),

    // ---- TPC-H Q9 shape: product profit by supplier nation and year --------
    // Profit = revenue − imputed supply cost (retailprice·qty/2 — partsupp
    // has no analog in the corpus), every term exact decimal before the
    // one grouped sum. Part filter prunes the fact early through a
    // broadcast join; only orderkey→year requires the fact-fact shuffle.
    QuerySpec("q9_product_profit", (s, dir) => {
      val redParts = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice")))
      val suppNat = broadcast(
        t(s, dir, "supplier")
          .join(t(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation")))
      val profit = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)"))).cast("decimal(28,6)") -
        (col("p_retailprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)") *
          lit(0.5).cast("decimal(18,2)")).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(profit).cast("double").as("profit"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year"))
    },
      """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      AS DECIMAL(28,6)) -
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(0.5 AS DECIMAL(18,2)) AS DECIMAL(28,6))
        |  ) AS DOUBLE) AS profit,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- TPC-H Q12 shape: late-shipment priority counts --------------------
    // No l_shipmode/commitdate in the corpus: "late" = shipped more than
    // 60 days after the order date, mode proxied by l_linestatus. The
    // two-branch CASE aggregation is the Q12 signature; one fact-fact
    // shuffle join, conditional sums share one partial-agg pass.
    QuerySpec("q12_late_shipment_priority", (s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAY"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- TPC-H Q13 shape: customer order-count distribution ----------------
    // Pre-aggregate orders per customer FIRST (shuffle carries one row per
    // customer, not per order), then the left-outer join against the
    // customer dim and a second tiny aggregation over the counts. The
    // nulls-become-zero outer-join histogram is the Q13 signature.
    QuerySpec("q13_customer_distribution", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH pc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  WHERE o_orderpriority <> '5-LOW' GROUP BY 1),
        |cc AS (
        |  SELECT COALESCE(n_orders, 0) AS c_count
        |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM cc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- TPC-H Q16 shape: supplier count by part attribute -----------------
    // Distinct-supplier counts per (brand, type, size) with a broadcast
    // anti-join blacklist (negative-balance suppliers) — lineitem plays
    // partsupp as the part↔supplier link. Anti + dim joins broadcast;
    // the only shuffle is the final distinct aggregation on its group keys.
    QuerySpec("q16_supplier_part_types", (s, dir) => {
      val badSupp = broadcast(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
      val parts = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          !col("p_type").startsWith("MEDIUM") && col("p_size") <= 9)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size <= 9
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ---- TPC-H Q20 shape: suppliers holding a dominant part share ----------
    // Nested semi-join ladder: small-part filter → per-(part,supplier)
    // 1996 quantity → per-part total → pairs with share > 1/2 (exact
    // decimal compare) → ASIA suppliers that own one. Every membership
    // test is a semi-join, never a fact-widening inner join.
    QuerySpec("q20_promotion_suppliers", (s, dir) => {
      val smallParts = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("small%")).select(col("p_partkey")))
      val ps = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("pair_qty"))
      val tot = ps.groupBy(col("l_partkey").as("tk"))
        .agg(sum(col("pair_qty")).as("part_qty"))
      val dominant = ps.join(tot,
          col("l_partkey") === col("tk") &&
            col("pair_qty") * 2 > col("part_qty"))
        .select(col("l_suppkey"))
      val asiaNat = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey")))
      t(s, dir, "supplier")
        .join(asiaNat, col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT l_partkey AS tk, SUM(pair_qty) AS part_qty
        |  FROM ps GROUP BY 1),
        |dominant AS (
        |  SELECT DISTINCT l_suppkey FROM ps
        |  JOIN tot ON l_partkey = tk AND pair_qty * 2 > part_qty)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA')
        |  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
        |ORDER BY s_suppkey""".stripMargin),

    // ---- TPC-H Q21 shape: sole-late supplier in multi-supplier orders ------
    // The EXISTS / NOT-EXISTS pair decorrelates into one per-order
    // aggregation (supplier count + late-supplier count) joined back to the
    // per-(order,supplier) late flags — two hash aggregations sharing the
    // l_orderkey exchange instead of two correlated self-join probes.
    // "Late" = shipped >90 days after the order date (no receipt/commit
    // dates in the corpus).
    QuerySpec("q21_waiting_suppliers", (s, dir) => {
      val ordF = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val perPair = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((col("l_shipdate") >
          expr("o_orderdate + INTERVAL 90 DAY")).cast("int")).as("supp_late"))
      val perOrder = perPair.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("n_supps"),
          sum(col("supp_late")).as("n_late_supps"))
      perPair
        .join(perOrder, col("l_orderkey") === col("ok") &&
          col("supp_late") === 1 && col("n_supps") > 1 &&
          col("n_late_supps") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    },
      """WITH pp AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INT))
        |      AS supp_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |po AS (
        |  SELECT l_orderkey AS ok, COUNT(*) AS n_supps,
        |    SUM(supp_late) AS n_late_supps
        |  FROM pp GROUP BY 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM pp
        |JOIN po ON l_orderkey = ok
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE supp_late = 1 AND n_supps > 1 AND n_late_supps = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey""".stripMargin),

    // ---- EM blocking: sorted-neighborhood candidates -----------------------
    // The fixed-pair-budget blocking scheme beside PPJoin: sort parts by
    // lowercased name, window 8 — candidate mass is n·7 by construction.
    // Each candidate pair scores the usual token-jaccard decision.
    QuerySpec("em_snm_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"),
          lower(col("p_name")).as("key"),
          Wrangler.emTokens(col("p_name")).as("toks"))
      val names = p.select(col("id"), col("toks"))
      Dedup.snmPairs(p.select(col("id"), col("key")), "id", "key", 8)
        .join(names.select(col("id").as("id_a"), col("toks").as("__ka")),
          Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("toks").as("__kb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("rank_dist"),
          round(Wrangler.tokenJaccardArrays(col("__ka"), col("__kb")), 6)
            .as("jaccard_sim"))
        .withColumn("pred",
          when(col("jaccard_sim") >= 0.5, "Yes").otherwise("No"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // SNM replay: the rank is a plain ROW_NUMBER over (key, id) — the
      // bucket join is pure plumbing, so the oracle states the semantics
      // directly as a rank-distance self-join.
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_name,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))), 6)
        |      AS jaccard_sim
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7)
        |SELECT id_a, id_b, rank_dist, jaccard_sim,
        |  CASE WHEN jaccard_sim >= 0.5 THEN 'Yes' ELSE 'No' END AS pred
        |FROM pairs ORDER BY id_a, id_b""".stripMargin),

    // ---- composite: selection pipeline (gate → dedup → DSIR → split) -------
    // The round-5 curation DAG: quality gate, exact-dedup to canonical
    // representatives, DSIR importance selection of the 100 most
    // target-like docs, deterministic hash split. Every stage is the
    // already-verified operator; the composite checks they COMPOSE
    // (the DSIR LMs here are built over the gated+deduped corpus, not the
    // raw table — the oracle replays that ordering exactly).
    QuerySpec("selection_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = docs.filter(TextAnalysis.tokenCount(col("text")) >= 5)
      val reps = Dedup.exact(gated, Seq("text"), "doc_id").select("doc_id")
      val surviving = gated.join(reps, Seq("doc_id"), "left_semi")
      TextAnalysis
        .dsirSelect(surviving, "doc_id", "text", col("lang") === "en",
          1024, 100)
        .withColumn("split",
          when(Samplers.uniformDraw(col("doc_id")) < 0.2, "test")
            .otherwise("train"))
        .select(col("sel_rank"), col("doc_id"), col("n_tokens"),
          col("gumbel_key"), col("split"))
        .orderBy(col("sel_rank"))
    },
      // selection pipeline: the dsir CTE chain re-rooted on the gated +
      // deduped survivor set, split via the 8-hex md5 draw
      """WITH gated AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) >= 5),
        |reps AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text),
        |surv AS (SELECT g.* FROM gated g JOIN reps r USING (doc_id)),
        |tok AS (
        |  SELECT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM surv),
        |tb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM tok),
        |lm AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_cnt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_cnt
        |  FROM tb GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(r_cnt) AS BIGINT) AS r_tot,
        |    CAST(SUM(t_cnt) AS BIGINT) AS t_tot
        |  FROM lm),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    SUM(ln(t_cnt + 1) + ln(r_tot + 1024)
        |      - ln(r_cnt + 1) - ln(t_tot + 1024)) AS logw_raw
        |  FROM tb JOIN lm USING (b) CROSS JOIN tot
        |  GROUP BY 1),
        |g AS (
        |  SELECT doc_id, n_tokens,
        |    ROUND(logw_raw - ln(-ln(
        |      (CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        |        1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0)), 6)
        |      AS gumbel_key
        |  FROM sc),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id)
        |    AS sel_rank, doc_id, n_tokens, gumbel_key
        |  FROM g)
        |SELECT sel_rank, doc_id, n_tokens, gumbel_key,
        |  CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) / 4294967296.0 < 0.2
        |    THEN 'test' ELSE 'train' END AS split
        |FROM r WHERE sel_rank <= 100 ORDER BY sel_rank""".stripMargin),

    // ---- exact-k weighted sample without replacement (A-ES reservoir) ------
    QuerySpec("weighted_reservoir_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("w", greatest(col("n_tokens"), lit(1L)))
      Samplers.weightedReservoir(d, "doc_id", "w", 40)
        .select(col("sel_rank"), col("doc_id"), col("n_tokens"), col("res_key"))
    },
      // A-ES reservoir: key = ln(u)/w with u the salted md5 dyadic rational,
      // top-40 by 9-decimal-rounded key (doc_id tiebreak)
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    ROUND(ln((CAST(('0x' || substr(md5('res:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |        / 4294967296.0)
        |      / GREATEST(n_tokens, 1), 9) AS res_key
        |  FROM d),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY res_key DESC, doc_id)
        |      AS sel_rank, doc_id, n_tokens, res_key
        |  FROM k)
        |SELECT sel_rank, doc_id, n_tokens, res_key FROM r
        |WHERE sel_rank <= 40 ORDER BY sel_rank""".stripMargin),

    // ---- curriculum schedule: difficulty buckets drained round-robin -------
    QuerySpec("curriculum_order_docs", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bucket",
          least(floor(col("n_chars") / 200), lit(5L)).cast("long"))
      Samplers.curriculumInterleave(d, "doc_id", "bucket", 120)
        .select(col("position"), col("round_idx"), col("bucket"), col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    LEAST(CAST(floor(n_chars / 200.0) AS BIGINT), 5) AS bucket
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY
        |      CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)),
        |        1, 8)) AS BIGINT), doc_id) AS round_idx
        |  FROM d),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY round_idx, bucket, doc_id)
        |      AS position, round_idx, bucket, doc_id
        |  FROM w)
        |SELECT position, round_idx, bucket, doc_id FROM r
        |WHERE position <= 120 ORDER BY position""".stripMargin),

    // ---- priority sampling (DLT) with unbiased-total estimator -------------
    // k=500 orders weighted by price; τ-threshold contributions sum to an
    // unbiased estimate of the exact corpus total carried alongside.
    QuerySpec("priority_sample_orders", (s, dir) =>
      graft.sample.Samplers.prioritySample(
          t(s, dir, "orders").withColumn("cents",
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")),
          "o_orderkey", "cents", 500)
        .orderBy(col("sel_rank")),
      // DLT priorities replayed as exact integers (w·2^32 // (md5 draw + 1)),
      // global rank, τ from row k+1, HUGEINT contribution sums
      """WITH base AS (
        |  SELECT o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pr AS (
        |  SELECT id, w,
        |    (w * 4294967296) //
        |      (CAST(('0x' || substr(md5('ps:' || CAST(id AS VARCHAR)),
        |        1, 8)) AS BIGINT) + 1) AS p
        |  FROM base),
        |top AS (
        |  SELECT id, w, p, ROW_NUMBER() OVER (ORDER BY p DESC, id) AS rk
        |  FROM pr),
        |tau AS (SELECT COALESCE(MAX(CASE WHEN rk = 501 THEN p END), 0)
        |  AS tau FROM top),
        |ex AS (SELECT CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT) AS exact
        |  FROM base),
        |sel AS (
        |  SELECT t.rk, t.id, t.w, t.p,
        |    GREATEST(CAST(t.w AS HUGEINT), CAST(tau AS HUGEINT)) AS c
        |  FROM top t, tau WHERE t.rk <= 500),
        |es AS (SELECT CAST(SUM(c) AS HUGEINT) AS estn FROM sel)
        |SELECT s.rk AS sel_rank, s.id AS o_orderkey, s.w AS weight,
        |  s.p AS priority,
        |  CAST(s.c AS VARCHAR) AS contrib,
        |  CAST(es.estn AS VARCHAR) AS est_total,
        |  CAST(ex.exact AS BIGINT) AS exact_total,
        |  CAST((es.estn - ex.exact) * 1000000 // ex.exact AS BIGINT)
        |    AS rel_err_micro
        |FROM sel s, es, ex
        |ORDER BY sel_rank""".stripMargin),

    // ---- bounded-state sample quantiles with exact rank-error grade --------
    // O(k)-state estimator beside the exact two-pass selection: per return
    // flag, type-1 quantiles of the k=1000-row deterministic md5 bottom-k
    // sample, each estimate graded with its exact corpus rank.
    QuerySpec("sample_quantiles_lineitem", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .withColumn("rid", concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string")))
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      graft.sample.Samplers.sampleQuantiles(l, "rid", "cents",
          Seq(250000L, 500000L, 900000L), Seq("l_returnflag"), 1000, 50000L)
        .orderBy(col("l_returnflag"), col("q"))
    },
      // md5 bottom-k sample + type-1 sample quantiles + exact rank grade,
      // all replayed: the draw is the md5PrefixLong convention, the cut and
      // every rank is integer arithmetic
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR) AS id,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem),
        |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |drawn AS (
        |  SELECT b.g, b.id, b.v, c.n,
        |    CAST(('0x' || substr(md5('sq:' || b.id), 1, 8)) AS BIGINT)
        |      AS draw
        |  FROM base b JOIN cnt c USING (g)),
        |capped AS (
        |  SELECT * FROM drawn WHERE draw < (17179869184 * 1000) // n),
        |samp AS (
        |  SELECT g, v FROM (
        |    SELECT g, v,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY draw, id) AS rn
        |    FROM capped) WHERE rn <= 1000),
        |vc AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM samp GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS ks
        |  FROM vc),
        |est AS (
        |  SELECT g, u.qm, v AS est FROM cum,
        |    UNNEST([250000, 500000, 900000]) AS u(qm)
        |  WHERE (ks * u.qm + 999999) // 1000000 > cum - c
        |    AND (ks * u.qm + 999999) // 1000000 <= cum),
        |tr AS (
        |  SELECT b.g, e.qm, MAX(e.est) AS est,
        |    CAST(SUM(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END) AS BIGINT)
        |      AS true_rank
        |  FROM base b JOIN est e ON b.g = e.g
        |  GROUP BY 1, 2),
        |ks2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_sample
        |  FROM samp GROUP BY 1)
        |SELECT t.g AS l_returnflag,
        |  ROUND(CAST(t.qm AS DOUBLE) / 1e6, 6) AS q,
        |  c.n, k.k_sample, t.est AS est_value,
        |  (c.n * t.qm + 999999) // 1000000 AS target_rank,
        |  t.true_rank,
        |  CAST((t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    // c.n AS BIGINT) AS rank_err_micro,
        |  abs(t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    <= 50000 * c.n AS within_bound
        |FROM tr t JOIN cnt c USING (g) JOIN ks2 k USING (g)
        |ORDER BY l_returnflag, q""".stripMargin),

    // ---- STREAMING sample quantiles (bottom-k aggregator state) ------------
    // The live-stream form of the O(k) estimator: a typed bottom-k
    // aggregator holds the k smallest (draw, id) triples per group as
    // Complete-mode state (k rows, period — no cut needed: the buffer IS
    // the bound), the est fold runs on the drained sample, and the grade
    // runs as a second bounded pass (|groups|·|q| counter rows).
    QuerySpec("streaming_sample_quantiles_lineitem", (s, dir) => {
      import graft.sample.Samplers
      def stream = Tables.stream(s, dir, "lineitem")
        .withColumn("rid", concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string")))
        .withColumn("cents",
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      val g = Seq("l_returnflag")
      val qs = Seq(250000L, 500000L, 900000L)
      def drain(df: DataFrame) =
        Streams.runToMemory(s, df, OutputMode.Complete())
      val bk = udaf(Samplers.bottomKSampleAggregator(1000),
        org.apache.spark.sql.Encoders.product[(Long, String, Long)])
      val sampled = stream
        .withColumn("__draw",
          Samplers.hashDraw32(concat(lit("sq:"), col("rid"))))
        .groupBy(col("l_returnflag"))
        .agg(bk(col("__draw"), col("rid"), col("cents")).as("__s"))
      val sample = drain(sampled)
        .select(col("l_returnflag"), explode(col("__s.vals")).as("__v"))
        .localCheckpoint(true) // feeds kcnt + the sample value counts
      val kcnt = sample.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("__k"))
      val est = Samplers.sampleQuantileEsts(
          sample.groupBy(col("l_returnflag"), col("__v"))
            .agg(count(lit(1)).as("__cnt")),
          qs, g)
        .localCheckpoint(true) // |groups|·|q| rows; feeds the grade pass
      val graded = drain(Samplers.gradeEstimates(
        stream.select(col("l_returnflag"), col("cents").as("__v")),
        est, g))
      Samplers.sampleQuantilesReport(graded, kcnt, g, 50000L)
        .orderBy(col("l_returnflag"), col("q"))
    },
      // the aggregator holds the TRUE bottom-k (no threshold cut), so the
      // replay ranks over all draws directly; everything else is the batch
      // sample-quantile replay verbatim
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR) AS id,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM lineitem),
        |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |drawn AS (
        |  SELECT g, id, v,
        |    CAST(('0x' || substr(md5('sq:' || id), 1, 8)) AS BIGINT)
        |      AS draw
        |  FROM base),
        |samp AS (
        |  SELECT g, v FROM (
        |    SELECT g, v,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY draw, id) AS rn
        |    FROM drawn) WHERE rn <= 1000),
        |vc AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM samp GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS ks
        |  FROM vc),
        |est AS (
        |  SELECT g, u.qm, v AS est FROM cum,
        |    UNNEST([250000, 500000, 900000]) AS u(qm)
        |  WHERE (ks * u.qm + 999999) // 1000000 > cum - c
        |    AND (ks * u.qm + 999999) // 1000000 <= cum),
        |tr AS (
        |  SELECT b.g, e.qm, MAX(e.est) AS est,
        |    CAST(SUM(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END) AS BIGINT)
        |      AS true_rank
        |  FROM base b JOIN est e ON b.g = e.g
        |  GROUP BY 1, 2),
        |ks2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_sample
        |  FROM samp GROUP BY 1)
        |SELECT t.g AS l_returnflag,
        |  ROUND(CAST(t.qm AS DOUBLE) / 1e6, 6) AS q,
        |  c.n, k.k_sample, t.est AS est_value,
        |  (c.n * t.qm + 999999) // 1000000 AS target_rank,
        |  t.true_rank,
        |  CAST((t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    // c.n AS BIGINT) AS rank_err_micro,
        |  abs(t.true_rank - (c.n * t.qm + 999999) // 1000000) * 1000000
        |    <= 50000 * c.n AS within_bound
        |FROM tr t JOIN cnt c USING (g) JOIN ks2 k USING (g)
        |ORDER BY l_returnflag, q""".stripMargin),

    bootstrapCiOrders,

    // ---- STREAMING bootstrap: the 2B-sum state as Complete-mode agg --------
    // A continuously-maintained CI over the ingest: every state column is
    // an associative sum; the summary fold replays on drain.
    QuerySpec("streaming_bootstrap_ci_orders", (s, dir) => {
      val stream = Tables.stream(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("__den1", lit(1L))
      val sums = Samplers.bootstrapRatioSums(stream, "o_orderkey",
        "cents", "__den1", 32)
      val drained = Streams.runToMemory(s, sums, OutputMode.Complete())
      Samplers.bootstrapFromSums(drained, 32, "mean")
    },
      // bootstrap twin: the 2B-sum state is associative, fold on drain
      bootstrapCiOrders.oracle),

    // ---- Poisson bootstrap for a RATIO metric (value share) ---------------
    // Revenue share of purchase events with its bootstrap envelope: both
    // numerator and denominator resample together per replicate — the
    // per-row-ratio bootstrap would weight rows equally, this one does
    // not.
    QuerySpec("bootstrap_ratio_events", (s, dir) =>
      Samplers.poissonBootstrapRatio(t(s, dir, "events")
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .withColumn("pnum",
            when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)),
        "event_id", "pnum", "cents", 32),
      bootstrapRatioOracleSql(32))
  )
}
