package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.metrics.Metrics
import graft.scale.{Geo, Similarity, TextAnalysis}
import graft.streaming.Streams
import QueryHelpers._

/** Vector similarity over the embeddings ([[graft.scale.Similarity]]):
  * exact and approximate top-k, quantized codes, clustering, diversity
  * selection, retrieval evaluation, embedding drift and the geo radius join.
  */
object SimilarityQueries {

  /** Matryoshka-recall oracle: per truncation dim, the sliced-vector
    * quantized-cosine top-k joined against full-dim ground truth, recall
    * in integer micro-units (mirrors [[graft.scale.Similarity
    * .matryoshkaRecall]]'s floor-division discipline).
    */
  private def matryoshkaOracle(dims: Seq[Int], k: Int, qMod: Int): String = {
    val vcols = dims.map(d =>
      s"""list_transform(embedding[1:$d],
         |      x -> round(CAST(x AS DOUBLE) * 1000)) AS v$d""".stripMargin)
      .mkString(",\n    ")
    val full = dims.max
    val blocks = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  round((SUM(rm) // COUNT(*)) / 1000000.0, 6) AS recall_at_$k
         |FROM (
         |  SELECT a.query_id,
         |    (SUM(CASE WHEN e.cand_id IS NULL THEN 0 ELSE 1 END)
         |      * 1000000) // $k AS rm
         |  FROM (
         |    SELECT query_id, cand_id FROM (
         |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |        ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |          list_dot_product(q.v$d, c.v$d)
         |            / sqrt(list_dot_product(q.v$d, q.v$d)
         |                   * list_dot_product(c.v$d, c.v$d)) DESC,
         |          c.vec_id) AS rk
         |      FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id % $qMod = 0) WHERE rk <= $k) a
         |  LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |  GROUP BY a.query_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    $vcols
       |  FROM embeddings),
       |exact AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v$full, c.v$full)
       |          / sqrt(list_dot_product(q.v$full, q.v$full)
       |                 * list_dot_product(c.v$full, c.v$full)) DESC,
       |        c.vec_id) AS rk
       |    FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % $qMod = 0) WHERE rk <= $k)
       |SELECT * FROM ($blocks) ORDER BY dim""".stripMargin
  }

  /** Ranking-eval oracle: replays the brute-force quantized-cosine top-k,
    * label-match relevance, and the micro-unit metric arithmetic of
    * [[graft.metrics.Metrics.rankingMetrics]]. The DCG discount table is
    * interpolated FROM the Scala constants (`Metrics.discountMicro`), so
    * both engines share the identical integers and no libm difference can
    * surface; `//` mirrors Spark's `div` (floor division, all operands
    * non-negative).
    */
  private def rankingEvalOracle(k: Int, qMod: Int): String = {
    val disc = graft.metrics.Metrics.discountMicro(k)
    val ideal = graft.metrics.Metrics.idealDcgMicro(k)
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    val idealCase = ideal.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    s"""WITH qv AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid,
       |    CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
       |    list_dot_product(q.v, c.v)
       |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
       |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id % $qMod = 0),
       |topk AS (
       |  SELECT qid, qlabel, rel, rk FROM (
       |    SELECT qid, qlabel, rel,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rk
       |    FROM pairs) WHERE rk <= $k),
       |cums AS (
       |  SELECT qid, qlabel, rel, rk,
       |    SUM(rel) OVER (PARTITION BY qid ORDER BY rk) AS cum
       |  FROM topk),
       |perq AS (
       |  SELECT qid, qlabel,
       |    CAST(SUM(rel) AS BIGINT) AS nrel,
       |    MIN(CASE WHEN rel = 1 THEN rk END) AS firstr,
       |    CAST(SUM(CASE WHEN rel = 1 THEN
       |      (CASE rk $discCase ELSE 0 END) ELSE 0 END) AS BIGINT) AS dcgm,
       |    CAST(SUM(CASE WHEN rel = 1 THEN (cum * 1000000) // rk
       |      ELSE 0 END) AS BIGINT) AS apnum
       |  FROM cums GROUP BY qid, qlabel),
       |m AS (
       |  SELECT qlabel,
       |    CASE WHEN firstr IS NULL THEN 0 ELSE 1000000 // firstr END AS rrm,
       |    (nrel * 1000000) // $k AS pm,
       |    CASE WHEN nrel = 0 THEN 0 ELSE apnum // nrel END AS apm,
       |    CASE WHEN nrel = 0 THEN 0 ELSE (dcgm * 1000000)
       |      // (CASE LEAST(nrel, $k) $idealCase ELSE 1 END) END AS ndcgm
       |  FROM perq)
       |SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  round((SUM(rrm) // COUNT(*)) / 1000000.0, 6) AS mrr,
       |  round((SUM(apm) // COUNT(*)) / 1000000.0, 6) AS map,
       |  round((SUM(pm) // COUNT(*)) / 1000000.0, 6) AS p_at_$k,
       |  round((SUM(ndcgm) // COUNT(*)) / 1000000.0, 6) AS ndcg_at_$k
       |FROM m GROUP BY qlabel ORDER BY qlabel""".stripMargin
  }

  /** Mechanically unrolled greedy MMR oracle (same idiom as
    * [[kcenterOracleSql]]): round 1 picks by pure relevance (min d2 to the
    * query), later rounds argmax the exact-long marginal score dm − dq,
    * ties on ascending vec_id.
    */
  private def mmrOracleSql(queryId: Long, k: Int): String = {
    def dist(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
      |  FROM embeddings)""".stripMargin
    ctes += s"q0 AS (SELECT v FROM qv WHERE vec_id = $queryId)"
    ctes += s"""cand AS (
      |  SELECT q.vec_id, q.v, ${dist("q", "z")} AS dq
      |  FROM qv q, q0 z WHERE q.vec_id <> $queryId)""".stripMargin
    ctes += "c1 AS (\n  SELECT vec_id, v, dq FROM cand" +
      "\n  ORDER BY dq, vec_id LIMIT 1)"
    ctes += s"""d1 AS (
      |  SELECT c.vec_id, c.v, c.dq, ${dist("c", "s")} AS dm
      |  FROM cand c, c1 s WHERE c.vec_id <> s.vec_id)""".stripMargin
    for (r <- 2 to k) {
      ctes += s"c$r AS (\n  SELECT vec_id, v, dq, dm FROM d${r - 1}" +
        s"\n  ORDER BY (dm - dq) DESC, vec_id LIMIT 1)"
      if (r < k)
        ctes += s"d$r AS (\n  SELECT d.vec_id, d.v, d.dq," +
          s" LEAST(d.dm, ${dist("d", "s")}) AS dm" +
          s"\n  FROM d${r - 1} d, c$r s WHERE d.vec_id <> s.vec_id)"
    }
    val sel = (s"SELECT 1 AS sel_round, vec_id AS sel_id," +
      s" CAST(dq AS BIGINT) AS d2_query, CAST(NULL AS BIGINT) AS d2_sel" +
      s" FROM c1") +: (2 to k).map(r =>
      s"SELECT $r AS sel_round, vec_id AS sel_id," +
        s" CAST(dq AS BIGINT) AS d2_query, CAST(dm AS BIGINT) AS d2_sel" +
        s" FROM c$r")
    "WITH " + ctes.mkString(",\n") + "\n" +
      sel.mkString("\nUNION ALL\n") + "\nORDER BY sel_round"
  }

  /** Mechanically unrolled greedy k-center oracle: one (pick, re-min) CTE
    * pair per round — the oracle replays the ALGORITHM (greedy argmax
    * chain) because the k-center result is defined by it. All distances
    * are integer sums over the quantized vectors, so every argmax
    * comparison is exact; ties fall to ascending vec_id like the Spark
    * side.
    */
  private def kcenterOracleSql(k: Int): String = {
    def dist(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
      |  FROM embeddings)""".stripMargin
    ctes += """c1 AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS obj
      |  FROM qv ORDER BY obj DESC, vec_id LIMIT 1)""".stripMargin
    ctes += s"""d1 AS (
      |  SELECT q.vec_id, q.v, ${dist("q", "c")} AS dm
      |  FROM qv q, c1 c WHERE q.vec_id <> c.vec_id)""".stripMargin
    for (r <- 2 to k) {
      ctes += s"c$r AS (\n  SELECT vec_id, v, dm AS obj FROM d${r - 1}" +
        s"\n  ORDER BY dm DESC, vec_id LIMIT 1)"
      if (r < k)
        ctes += s"d$r AS (\n  SELECT d.vec_id, d.v," +
          s" LEAST(d.dm, ${dist("d", "c")}) AS dm" +
          s"\n  FROM d${r - 1} d, c$r c WHERE d.vec_id <> c.vec_id)"
    }
    val sel = (1 to k).map(r =>
        s"SELECT $r AS sel_round, vec_id AS sel_id," +
          s" CAST(obj AS BIGINT) AS obj FROM c$r")
      .mkString("\nUNION ALL\n")
    "WITH " + ctes.mkString(",\n") + "\n" + sel + "\nORDER BY sel_round"
  }

  // ---- embedding-space drift per dimension ------------------------------
  // WHERE in the embedding space do the two corpus halves diverge? Exact
  // quantized sums per (dim, side), mean shift per dimension.
  private val embeddingDriftEmbeddings = QuerySpec("embedding_drift_embeddings", (s, dir) =>
    Similarity.embeddingDrift(t(s, dir, "embeddings")
        .withColumn("side", col("vec_id") % 2 === 0),
      "embedding", "side")
      .orderBy(col("dim")),
    """WITH q AS (
      |  SELECT (vec_id % 2 = 0) AS s, i AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
      |      AS qv
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |g AS (
      |  SELECT CAST(dim AS BIGINT) AS dim,
      |    COUNT(*) FILTER (NOT s) AS n_a,
      |    COUNT(*) FILTER (s) AS n_b,
      |    CAST(COALESCE(SUM(qv) FILTER (NOT s), 0) AS BIGINT) AS sum_a_q,
      |    CAST(COALESCE(SUM(qv) FILTER (s), 0) AS BIGINT) AS sum_b_q
      |  FROM q GROUP BY dim)
      |SELECT dim, n_a, n_b, sum_a_q, sum_b_q,
      |  ROUND(CAST(sum_a_q AS DOUBLE) / n_a, 6) AS mean_a_q,
      |  ROUND(CAST(sum_b_q AS DOUBLE) / n_b, 6) AS mean_b_q,
      |  ROUND(CAST(sum_b_q AS DOUBLE) / n_b
      |    - CAST(sum_a_q AS DOUBLE) / n_a, 6) AS shift_q
      |FROM g ORDER BY dim""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: brute-force cosine top-k (quantized, oracle-exact) --------
    QuerySpec("ann_topk_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |r AS (
        |  SELECT query_id, cand_id, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS rk
        |  FROM pairs)
        |SELECT query_id, cand_id, rk, ROUND(cs, 6) AS cos_sim
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin),

    // ---- scale: 1-bit binary quantization, Hamming shortlist + rerank ------
    QuerySpec("bq_topk_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bqTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", 10, 40)
        .orderBy(col("query_id"), col("rk"))
    },
      """WITH sig AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, 33), i ->
        |      CASE WHEN embedding[i] > 0
        |        THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))
        |      AS BIGINT) AS sig_lo,
        |    CAST(list_sum(list_transform(range(33, 65), i ->
        |      CASE WHEN embedding[i] > 0
        |        THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END))
        |      AS BIGINT) AS sig_hi
        |  FROM embeddings),
        |ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(bit_count(xor(c.sig_lo, q.sig_lo))
        |      + bit_count(xor(c.sig_hi, q.sig_hi)) AS BIGINT) AS hamming
        |  FROM sig q JOIN sig c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |short AS (
        |  SELECT query_id, cand_id, hamming FROM (
        |    SELECT query_id, cand_id, hamming,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY hamming, cand_id) AS hrk
        |    FROM ham) WHERE hrk <= 40),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |rer AS (
        |  SELECT s.query_id, s.cand_id, s.hamming,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM short s
        |  JOIN qv c ON c.vec_id = s.cand_id
        |  JOIN qv q ON q.vec_id = s.query_id)
        |SELECT query_id, cand_id, rk, hamming, ROUND(cs, 6) AS cos_sim
        |FROM (
        |  SELECT query_id, cand_id, hamming, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, cand_id) AS rk
        |  FROM rer) WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin),

    // ---- scale: ANN recall@k — IVF result graded against exact top-k -------
    QuerySpec("ann_recall_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.ivfTopK(q, e, "vec_id", "embedding", 10, 100),
          10)
        .orderBy(col("query_id"))
    },
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |ep AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |exact AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM ep) WHERE rk <= 10),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |ap AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q
        |  JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |  JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |  JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id),
        |approx AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM ap) WHERE rk <= 10),
        |h AS (
        |  SELECT a.query_id,
        |    CASE WHEN e.cand_id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM approx a LEFT JOIN exact e
        |    ON a.query_id = e.query_id AND a.cand_id = e.cand_id),
        |g AS (
        |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx,
        |    CAST(SUM(hit) AS BIGINT) AS n_hit
        |  FROM h GROUP BY query_id)
        |SELECT qs.query_id,
        |  CAST(COALESCE(g.n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(g.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(g.n_hit, 0) AS DOUBLE)
        |    / LEAST(10.0, qs.n_exact), 6) AS recall
        |FROM (SELECT query_id, CAST(COUNT(*) AS DOUBLE) AS n_exact
        |      FROM exact GROUP BY query_id) qs
        |LEFT JOIN g ON qs.query_id = g.query_id
        |ORDER BY qs.query_id""".stripMargin),

    // ---- index quality beyond recall: rank-biased overlap -------------------
    // Same exact-vs-IVF comparison as ann_recall, but depth-weighted:
    // right neighbors in the wrong ORDER score below a nailed head.
    QuerySpec("rbo_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.rankBiasedOverlap(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.ivfTopK(q, e, "vec_id", "embedding", 10, 100),
          10)
        .orderBy(col("query_id"))
    },
      // exact and IVF rankings composed, per-item depth fold, decimal-
      // summed p^(d-1)/d terms, scaffold-folded weight mass
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT query_id, cand_id, rk FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        list_dot_product(q.v, c.v)
        |          / sqrt(list_dot_product(q.v, q.v)
        |            * list_dot_product(c.v, c.v)) AS cs
        |      FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id < 5))
        |  WHERE rk <= 10),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |ap AS (
        |  SELECT query_id, cand_id, rk FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |        list_dot_product(q.v, c.v)
        |          / sqrt(list_dot_product(q.v, q.v)
        |            * list_dot_product(c.v, c.v)) AS cs
        |      FROM qv q
        |      JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |      JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |      JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id))
        |  WHERE rk <= 10),
        |common AS (
        |  SELECT ex.query_id, ex.cand_id,
        |    GREATEST(ex.rk, ap.rk) AS m
        |  FROM ex JOIN ap USING (query_id, cand_id)),
        |num AS (
        |  SELECT query_id,
        |    CAST(COUNT(DISTINCT cand_id) AS BIGINT) AS n_common,
        |    SUM(CAST(pow(0.9, d - 1) / d AS DECIMAL(38,12))) AS nm
        |  FROM common, UNNEST(range(1, 11)) AS u(d)
        |  WHERE d >= m GROUP BY query_id),
        |den AS (
        |  SELECT SUM(CAST(pow(0.9, d - 1) AS DECIMAL(38,12))) AS dn
        |  FROM UNNEST(range(1, 11)) AS u(d))
        |SELECT q.query_id,
        |  COALESCE(n_common, 0) AS n_common,
        |  ROUND(CAST(COALESCE(nm, 0) AS DOUBLE) / CAST(dn AS DOUBLE), 6)
        |    AS rbo
        |FROM (SELECT DISTINCT query_id FROM ex) q
        |LEFT JOIN num USING (query_id), den
        |ORDER BY query_id""".stripMargin),

    // ---- scale: one Lloyd iteration, oracle-exact (quantized L2 argmin) ----
    // Assignment by exact-integer squared L2 over quantized vectors (native
    // l2Sq kernel), deterministic ties → lowest centroid; centroid update as
    // exact integer sums per (centroid, dim) → rounded mean. The
    // k-means/IVF training loop's single step, DuckDB-checkable.
    // ---- cluster-balanced (√-mass quota) selection --------------------------
    QuerySpec("cluster_balanced_embeddings", (s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val cents = vecs.filter(col("vec_id") < 4)
        .select(col("vec_id").as("centroid_id"),
          Similarity.quantize(col("embedding")).as("centv"))
      Similarity.clusterBalancedSelect(vecs, cents,
          "vec_id", "embedding", 300L)
        .orderBy(col("cluster"), col("sel_rank"))
    },
      // kmeans_assign's argmin replay + temperature_mix's √-quota/md5-pick
      // replay with the cluster as the domain
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id < 4),
        |d AS (
        |  SELECT q.vec_id, c.centroid_id,
        |    (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        |  FROM d),
        |asg AS (SELECT vec_id, centroid_id AS cluster FROM a WHERE rk = 1),
        |c2 AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY 1),
        |w AS (
        |  SELECT cluster, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
        |    AS wq
        |  FROM c2),
        |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
        |qt AS (SELECT cluster, (300 * wq) // tw AS quota FROM w CROSS JOIN tot),
        |r AS (
        |  SELECT cluster, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
        |  FROM asg)
        |SELECT r.vec_id, r.cluster, CAST(r.rnk AS BIGINT) AS sel_rank
        |FROM r JOIN qt ON r.cluster = qt.cluster AND r.rnk <= qt.quota
        |ORDER BY r.cluster, sel_rank""".stripMargin),

    QuerySpec("kmeans_assign_embeddings", (s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").as("__id"),
          Similarity.quantize(col("embedding")).as("__v"))
      val cents = vecs.filter(col("__id") < 4)
        .select(col("__id").as("centroid_id"), col("__v").as("centv"))
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("__d2"), col("centroid_id"))
      val assigned = vecs.crossJoin(broadcast(cents))
        .withColumn("__d2", Similarity.l2Sq(col("__v"), col("centv")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
      assigned
        .select(col("centroid_id"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .select(col("centroid_id"), col("pos"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("m"))
        .orderBy(col("centroid_id"), col("pos"))
    },
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id < 4),
        |d AS (
        |  SELECT q.vec_id, c.centroid_id,
        |    (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        |  FROM d),
        |asg AS (SELECT vec_id, centroid_id FROM a WHERE rk = 1),
        |ex AS (
        |  SELECT s.centroid_id, CAST(i - 1 AS INT) AS pos, qv.v[i] AS x
        |  FROM asg s JOIN qv ON qv.vec_id = s.vec_id,
        |    UNNEST(range(1, len(qv.v) + 1)) AS u(i))
        |SELECT centroid_id, pos, COUNT(*) AS n,
        |  ROUND(CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS m
        |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- scale: embedding near-dup pairs (sign-LSH blocked) ----------------
    QuerySpec("cosine_near_dup_embeddings", (s, dir) =>
      Similarity.cosineNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", 0.4, 8)
        .orderBy(col("id_a"), col("id_b")),
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |blocked AS (
        |  SELECT vec_id, v,
        |    array_to_string(list_transform([1,2,3,4,5,6,7,8],
        |      i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS block
        |  FROM qv),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cs
        |  FROM blocked a JOIN blocked b
        |    ON a.block = b.block AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cs, 6) AS cos_sim
        |FROM pairs WHERE cs >= 0.4 ORDER BY id_a, id_b""".stripMargin),

    // ---- scale: DBSCAN density clusters over embedding cosine ---------------
    // Cores/borders/noise over the sign-LSH-blocked eps-graph; cluster
    // labels = min member id via the CC machinery.
    QuerySpec("dbscan_embeddings", (s, dir) =>
      Similarity.dbscanClusters(
          t(s, dir, "embeddings"), "vec_id", "embedding", 0.15, 3)
        .orderBy(col("id")),
      // the near-dup blocking replicated at eps 0.15; core = deg >= 3;
      // CC label = min reachable core id; border = min core-neighbor label
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
        |      AS v
        |  FROM embeddings),
        |blocked AS (
        |  SELECT vec_id, v,
        |    array_to_string(list_transform([1,2,3,4,5,6,7,8],
        |      i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '')
        |      AS block
        |  FROM qv),
        |prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM blocked a JOIN blocked b
        |    ON a.block = b.block AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |    / sqrt(list_dot_product(a.v, a.v)
        |      * list_dot_product(b.v, b.v)) >= 0.15),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION ALL SELECT id_b, id_a FROM prs),
        |core AS (
        |  SELECT src AS id FROM e GROUP BY src HAVING COUNT(*) >= 3),
        |ce AS (
        |  SELECT e.src, e.dst FROM e
        |  JOIN core c1 ON e.src = c1.id JOIN core c2 ON e.dst = c2.id),
        |reach(a, b) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT r.a, ce.dst FROM reach r JOIN ce ON r.b = ce.src),
        |cl AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
        |border AS (
        |  SELECT e.src AS id, MIN(cl.cluster) AS cluster
        |  FROM e JOIN core c2 ON e.dst = c2.id JOIN cl ON cl.id = e.dst
        |  WHERE e.src NOT IN (SELECT id FROM core)
        |  GROUP BY e.src)
        |SELECT id, cluster, 'core' AS role FROM cl
        |UNION ALL SELECT id, cluster, 'border' FROM border
        |ORDER BY id""".stripMargin),

    // ---- ANN scale path: IVF (assign → invert → probe own cell) ------------
    QuerySpec("ivf_topk_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", 5, 100)
        .orderBy(col("query_id"), col("rk"))
    },
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT q.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.centv)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS crk
        |    FROM qv q, cents c)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, a1.centroid_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q
        |  JOIN asn a1 ON q.vec_id = a1.vec_id AND q.vec_id < 5
        |  JOIN asn a2 ON a2.centroid_id = a1.centroid_id
        |  JOIN qv c ON c.vec_id = a2.vec_id AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, centroid_id, cand_id, cs,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, cand_id) AS rk
        |  FROM pairs)
        |SELECT query_id, centroid_id, cand_id, rk, ROUND(cs, 6) AS cos_sim
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),

    // ---- scale: IVF-PQ asymmetric-distance search (the 100 TB config) ------
    QuerySpec("ivfpq_topk_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },
      // IVF-PQ replay: coarse assign (exact long L2², low-cell ties), PQ
      // codebook = subvectors of ids < 16 over 4 subspaces of 16 dims, codes
      // by per-subspace argmin, 2-probe search, ADC = sum of the 4 per-
      // subspace table entries — every number an exact integer.
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT c.vec_id, ct.cell, c.v,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, s.sub,
        |    list_slice(b.v, s.sub*16+1, s.sub*16+16) AS bsv
        |  FROM qv b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, s.sub,
        |    list_slice(cc.v, s.sub*16+1, s.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, s.sub, list_slice(v, s.sub*16+1, s.sub*16+16) AS qsv
        |  FROM qs CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |dtab AS (
        |  SELECT q.qid, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, cd.cell,
        |    CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2, 3)
        |SELECT query_id, cell, cand_id, rk, adc FROM (
        |  SELECT qid AS query_id, cell, cand AS cand_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |  FROM adc)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin),

    // ---- scale: IVF-PQ recall@k vs the exact-L2 ground truth ---------------
    // Same-metric grading: PQ approximates L2², so the ground truth is the
    // exact-L2 top-k, not the cosine one ann_recall uses for IVF-cosine.
    QuerySpec("ivfpq_recall_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10),
          Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 10),
          10)
        .orderBy(col("query_id"))
    },
      // Exact-L2 ground truth vs the same IVF-PQ result as above; recall per
      // recallAtK's contract (denominator = min(k, per-query exact size)).
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT c.vec_id, ct.cell, c.v,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, s.sub,
        |    list_slice(b.v, s.sub*16+1, s.sub*16+16) AS bsv
        |  FROM qv b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, s.sub,
        |    list_slice(cc.v, s.sub*16+1, s.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, s.sub, list_slice(v, s.sub*16+1, s.sub*16+16) AS qsv
        |  FROM qs CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) s),
        |dtab AS (
        |  SELECT q.qid, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2),
        |approx AS (
        |  SELECT qid, cand FROM (
        |    SELECT qid, cand,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |    FROM adc)
        |  WHERE rk <= 10),
        |exact AS (
        |  SELECT qid, cand FROM (
        |    SELECT q.qid, c.vec_id AS cand,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
        |    FROM qs q CROSS JOIN qv c
        |    WHERE c.vec_id <> q.qid)
        |  WHERE rk <= 10),
        |hits AS (
        |  SELECT a.qid, COUNT(*) AS n_approx,
        |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM approx a
        |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
        |  GROUP BY 1),
        |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ex_n.qid AS query_id,
        |  CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / LEAST(10, n_exact), 6)
        |    AS recall
        |FROM ex_n LEFT JOIN hits ON hits.qid = ex_n.qid
        |ORDER BY query_id""".stripMargin),

    // ---- scale: OPQ (variance-balanced allocation) vs plain IVF-PQ ---------
    // Both indexes graded on the SAME shortlist budget against the same
    // exact-L2 ground truth (permutation preserves L2, so the truth is
    // shared); the snake-dealt layout spreads the variance budget across
    // subspaces where the contiguous split concentrates it.
    QuerySpec("opq_recall_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10)
      val perm = Similarity.opqPermutation(e, "embedding", 4, 64)
      val er = Similarity.opqApply(e, "embedding", perm, 64)
      val qr = er.filter(col("vec_id") < 5)
      val pq = Similarity.recallAtK(exact,
          Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 10), 10)
        .select(col("query_id"), col("n_hit").as("n_hit_pq"),
          col("recall").as("recall_pq"))
      val opq = Similarity.recallAtK(exact,
          Similarity.ivfPqTopK(qr, er, "vec_id", "embedding", 10), 10)
        .select(col("query_id"), col("n_hit").as("n_hit_opq"),
          col("recall").as("recall_opq"))
      pq.join(opq, Seq("query_id")).orderBy(col("query_id"))
    },
      // ivfpq_recall's full ADC replay instantiated TWICE — once over the
      // raw vectors, once over the variance-ranked snake-permuted ones
      // (perm replays opqPermutation's exact-integer rank arithmetic);
      // exact-L2 ground truth is shared (permutation preserves L2)
      {
          // the IVF-PQ pipeline over vector CTE `src`, CTE names suffixed `s`
          def pipe(src: String, s: String): String =
            s"""cents$s AS (SELECT vec_id AS cell, v AS centv FROM $src WHERE vec_id % 100 = 0),
               |ccell$s AS (
               |  SELECT vec_id, cell, v FROM (
               |    SELECT c.vec_id, ct.cell, c.v,
               |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
               |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
               |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
               |    FROM $src c CROSS JOIN cents$s ct)
               |  WHERE rk = 1),
               |book$s AS (
               |  SELECT b.vec_id AS code, sb.sub,
               |    list_slice(b.v, sb.sub*16+1, sb.sub*16+16) AS bsv
               |  FROM $src b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb
               |  WHERE b.vec_id < 16),
               |csub$s AS (
               |  SELECT cc.vec_id, cc.cell, sb.sub,
               |    list_slice(cc.v, sb.sub*16+1, sb.sub*16+16) AS sv
               |  FROM ccell$s cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
               |codes$s AS (
               |  SELECT vec_id, cell, sub, code FROM (
               |    SELECT c.vec_id, c.cell, c.sub, k.code,
               |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
               |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
               |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
               |    FROM csub$s c JOIN book$s k ON k.sub = c.sub)
               |  WHERE rk = 1),
               |qs$s AS (SELECT vec_id AS qid, v FROM $src WHERE vec_id < 5),
               |probes$s AS (
               |  SELECT qid, cell FROM (
               |    SELECT q.qid, ct.cell,
               |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
               |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
               |    FROM qs$s q CROSS JOIN cents$s ct)
               |  WHERE rk <= 2),
               |qsub$s AS (
               |  SELECT qid, sb.sub, list_slice(v, sb.sub*16+1, sb.sub*16+16) AS qsv
               |  FROM qs$s CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
               |dtab$s AS (
               |  SELECT q.qid, k.sub, k.code,
               |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
               |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
               |  FROM qsub$s q JOIN book$s k ON k.sub = q.sub),
               |adc$s AS (
               |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
               |  FROM probes$s p
               |  JOIN codes$s cd ON cd.cell = p.cell
               |  JOIN dtab$s d ON d.qid = p.qid AND d.sub = cd.sub AND d.code = cd.code
               |  WHERE cd.vec_id <> p.qid
               |  GROUP BY 1, 2),
               |approx$s AS (
               |  SELECT qid, cand FROM (
               |    SELECT qid, cand,
               |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
               |    FROM adc$s)
               |  WHERE rk <= 10),
               |hits$s AS (
               |  SELECT a.qid, COUNT(*) AS n_approx,
               |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               |      AS n_hit
               |  FROM approx$s a
               |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
               |  GROUP BY 1)""".stripMargin
          s"""WITH qv AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             |  FROM embeddings),
             |st AS (
             |  SELECT i AS olddim, CAST(COUNT(*) AS HUGEINT) AS n,
             |    CAST(SUM(x) AS HUGEINT) AS s,
             |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
             |  FROM (SELECT v[i] AS x, i
             |        FROM qv, UNNEST(range(1, 65)) AS u(i))
             |  GROUP BY 1),
             |pr AS (
             |  SELECT olddim, CAST(ROW_NUMBER() OVER (
             |    ORDER BY (n * ss - s * s) DESC, olddim) - 1 AS BIGINT) AS r0
             |  FROM st),
             |perm AS (
             |  SELECT olddim,
             |    (CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4
             |          ELSE 3 - (r0 % 4) END) * 16 + (r0 // 4) + 1 AS newpos
             |  FROM pr),
             |rv AS (
             |  SELECT vec_id, list(x ORDER BY newpos) AS v
             |  FROM (SELECT q.vec_id, p.newpos, q.v[p.olddim] AS x
             |        FROM qv q, perm p)
             |  GROUP BY 1),
             |exact AS (
             |  SELECT qid, cand FROM (
             |    SELECT q.vec_id AS qid, c.vec_id AS cand,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
             |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
             |    FROM qv q CROSS JOIN qv c
             |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
             |  WHERE rk <= 10),
             |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1),
             |${pipe("qv", "_p")},
             |${pipe("rv", "_o")}
             |SELECT ex_n.qid AS query_id,
             |  CAST(COALESCE(hp.n_hit, 0) AS BIGINT) AS n_hit_pq,
             |  ROUND(CAST(COALESCE(hp.n_hit, 0) AS DOUBLE)
             |    / LEAST(10, n_exact), 6) AS recall_pq,
             |  CAST(COALESCE(ho.n_hit, 0) AS BIGINT) AS n_hit_opq,
             |  ROUND(CAST(COALESCE(ho.n_hit, 0) AS DOUBLE)
             |    / LEAST(10, n_exact), 6) AS recall_opq
             |FROM ex_n
             |LEFT JOIN hits_p hp ON hp.qid = ex_n.qid
             |LEFT JOIN hits_o ho ON ho.qid = ex_n.qid
             |ORDER BY query_id""".stripMargin
        }),

    // ---- scale: RESIDUAL-encoding IVF-PQ recall (IVFADC proper) ------------
    // The codebook describes within-cell displacement instead of re-
    // describing each cell's centroid offset — the real billion-scale
    // index layout; graded against the same exact-L2 ground truth.
    QuerySpec("ivfpq_residual_recall_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopKL2(q, e, "vec_id", "embedding", 10),
          Similarity.ivfPqResidualTopK(q, e, "vec_id", "embedding", 10),
          10)
        .orderBy(col("query_id"))
    },
      // the ivfpq_recall replay with residual encoding: ccell/probes keep
      // the centroid and subtract it (integer lists), the codebook holds
      // residual subvectors of ids < 16, and the ADC table keys on
      // (query, probed cell)
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS centv FROM qv WHERE vec_id % 100 = 0),
        |ccell AS (
        |  SELECT vec_id, cell, rv FROM (
        |    SELECT c.vec_id, ct.cell,
        |      list_transform(range(1, 65), i -> c.v[i] - ct.centv[i]) AS rv,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
        |        (SELECT SUM((c.v[i]-ct.centv[i])*(c.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qv c CROSS JOIN cents ct)
        |  WHERE rk = 1),
        |book AS (
        |  SELECT b.vec_id AS code, sb.sub,
        |    list_slice(b.rv, sb.sub*16+1, sb.sub*16+16) AS bsv
        |  FROM ccell b CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb
        |  WHERE b.vec_id < 16),
        |csub AS (
        |  SELECT cc.vec_id, cc.cell, sb.sub,
        |    list_slice(cc.rv, sb.sub*16+1, sb.sub*16+16) AS sv
        |  FROM ccell cc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
        |codes AS (
        |  SELECT vec_id, cell, sub, code FROM (
        |    SELECT c.vec_id, c.cell, c.sub, k.code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub ORDER BY
        |        (SELECT SUM((c.sv[i]-k.bsv[i])*(c.sv[i]-k.bsv[i]))
        |         FROM UNNEST(range(1, 17)) AS u(i)), k.code) AS rk
        |    FROM csub c JOIN book k ON k.sub = c.sub)
        |  WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, v FROM qv WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cell, rq FROM (
        |    SELECT q.qid, ct.cell,
        |      list_transform(range(1, 65), i -> q.v[i] - ct.centv[i]) AS rq,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-ct.centv[i])*(q.v[i]-ct.centv[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), ct.cell) AS rk
        |    FROM qs q CROSS JOIN cents ct)
        |  WHERE rk <= 2),
        |qsub AS (
        |  SELECT qid, cell, sb.sub,
        |    list_slice(rq, sb.sub*16+1, sb.sub*16+16) AS qsv
        |  FROM probes CROSS JOIN (SELECT UNNEST(range(0, 4)) AS sub) sb),
        |dtab AS (
        |  SELECT q.qid, q.cell, k.sub, k.code,
        |    (SELECT SUM((q.qsv[i]-k.bsv[i])*(q.qsv[i]-k.bsv[i]))
        |     FROM UNNEST(range(1, 17)) AS u(i)) AS d2
        |  FROM qsub q JOIN book k ON k.sub = q.sub),
        |adc AS (
        |  SELECT p.qid, cd.vec_id AS cand, CAST(SUM(d.d2) AS BIGINT) AS adc
        |  FROM probes p
        |  JOIN codes cd ON cd.cell = p.cell
        |  JOIN dtab d ON d.qid = p.qid AND d.cell = p.cell
        |    AND d.sub = cd.sub AND d.code = cd.code
        |  WHERE cd.vec_id <> p.qid
        |  GROUP BY 1, 2),
        |approx AS (
        |  SELECT qid, cand FROM (
        |    SELECT qid, cand,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cand) AS rk
        |    FROM adc)
        |  WHERE rk <= 10),
        |exact AS (
        |  SELECT qid, cand FROM (
        |    SELECT q.qid, c.vec_id AS cand,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        |        (SELECT SUM((q.v[i]-c.v[i])*(q.v[i]-c.v[i]))
        |         FROM UNNEST(range(1, 65)) AS u(i)), c.vec_id) AS rk
        |    FROM qs q CROSS JOIN qv c
        |    WHERE c.vec_id <> q.qid)
        |  WHERE rk <= 10),
        |hits AS (
        |  SELECT a.qid, COUNT(*) AS n_approx,
        |    CAST(SUM(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM approx a
        |  LEFT JOIN exact e ON e.qid = a.qid AND e.cand = a.cand
        |  GROUP BY 1),
        |ex_n AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ex_n.qid AS query_id,
        |  CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / LEAST(10, n_exact), 6)
        |    AS recall
        |FROM ex_n LEFT JOIN hits ON hits.qid = ex_n.qid
        |ORDER BY query_id""".stripMargin),

    // ---- hybrid retrieval: reciprocal-rank fusion (BM25 + embedding) ------
    // The production hybrid-search default: fuse the lexical top-50 and
    // the cosine top-50 (query = vec 0) by sum 1/(60+rank) — ranks cross
    // lists, scores never do, so no calibration step exists to get wrong.
    QuerySpec("rrf_hybrid_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val lex = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          Seq("join", "vector", "stream"), 50)
        .select(col("doc_id"), col("score"))
      val vec = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
          "vec_id", "embedding", 50)
        .select(col("cand_id").as("doc_id"), col("cos_sim").as("score"))
      Similarity.rrfFuse(Seq(("lex", lex), ("vec", vec)), "doc_id", "score")
        .orderBy(col("rk"))
    },
      // both rankers replay verbatim (BM25 rational-idf top-50, quantized
      // cosine top-50 for query vec 0), then rank -> fuse -> rounded top-20;
      // selection by unrounded score, fusion ranks on the ROUNDED score —
      // both mirrored exactly
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(t, x -> x = 'join')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(t, x -> x = 'vector')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(t, x -> x = 'stream')) AS BIGINT) AS tf2
        |  FROM tok),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_dl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |s AS (
        |  SELECT doc_id, dl, tf0, tf1, tf2, n_docs, df0, df1, df2,
        |    CAST(total_dl AS DOUBLE) / n_docs AS avgdl
        |  FROM d, g),
        |sc AS (
        |  SELECT doc_id, ROUND(
        |    ((CAST(n_docs AS DOUBLE) - df0 + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |      * (CAST(tf0 AS DOUBLE) * 2.25) / (CAST(tf0 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |      * (CAST(tf1 AS DOUBLE) * 2.25) / (CAST(tf1 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df2 + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
        |      * (CAST(tf2 AS DOUBLE) * 2.25) / (CAST(tf2 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |    AS score
        |  FROM s),
        |lex AS (SELECT doc_id, score FROM sc WHERE score > 0
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |lexr AS (SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r
        |  FROM lex),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |vp AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id = 0),
        |vec0 AS (SELECT doc_id, ROUND(cs, 6) AS score FROM vp
        |  ORDER BY cs DESC, doc_id LIMIT 50),
        |vecr AS (SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r
        |  FROM vec0),
        |u AS (SELECT doc_id, 'lex' AS l, r FROM lexr
        |  UNION ALL SELECT doc_id, 'vec', r FROM vecr),
        |f AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
        |    MAX(CASE WHEN l = 'lex' THEN r END) AS rank_lex,
        |    MAX(CASE WHEN l = 'vec' THEN r END) AS rank_vec
        |  FROM u GROUP BY doc_id),
        |f2 AS (
        |  SELECT doc_id, n_lists, rank_lex, rank_vec,
        |    ROUND(COALESCE(1.0 / (60.0 + CAST(rank_lex AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(rank_vec AS DOUBLE)), 0.0), 6)
        |      AS rrf
        |  FROM f),
        |top AS (SELECT * FROM f2 ORDER BY rrf DESC, doc_id LIMIT 20)
        |SELECT doc_id, n_lists, rank_lex, rank_vec, rrf,
        |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk
        |FROM top ORDER BY rk""".stripMargin),

    // ---- SQ8 embedding compression: per-dimension codes + error -----------
    QuerySpec("sq8_embeddings", (s, dir) =>
      Similarity.sq8Stats(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("pos")),
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT CAST(i - 1 AS INT) AS pos, v[i] AS xq
        |  FROM qv, UNNEST(range(1, len(v) + 1)) AS u(i)),
        |r AS (SELECT pos, MIN(xq) AS minq, MAX(xq) AS maxq FROM e GROUP BY pos),
        |c AS (
        |  SELECT e.pos, e.xq, r.minq, r.maxq,
        |    CASE WHEN r.maxq > r.minq
        |      THEN ((e.xq - r.minq) * 255) // (r.maxq - r.minq)
        |      ELSE 0 END AS code
        |  FROM e JOIN r ON e.pos = r.pos),
        |x AS (
        |  SELECT pos, minq, maxq,
        |    CASE WHEN maxq > minq
        |      THEN ABS(510 * (xq - minq) - (2 * code + 1) * (maxq - minq))
        |      ELSE 0 END AS err_num
        |  FROM c)
        |SELECT pos, COUNT(*) AS n, MAX(minq) AS minq, MAX(maxq) AS maxq,
        |  CAST(SUM(err_num) AS BIGINT) AS sum_err_num,
        |  ROUND(CAST(CAST(SUM(err_num) AS BIGINT) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(510.0 AS DOUBLE)), 6) AS avg_err
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin),

    // ---- product-quantization codes: per-subspace codebook assignment ------
    QuerySpec("pq_codes_embeddings", (s, dir) =>
      Similarity.pqAssign(t(s, dir, "embeddings"), "vec_id", "embedding", 4, 4)
        .orderBy(col("sub"), col("code")),
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, CAST(s AS INT) AS sub,
        |    v[(s*16+1):(s*16+16)] AS sv
        |  FROM qv, UNNEST(range(0, 4)) AS t(s)),
        |cents AS (
        |  SELECT vec_id AS cent_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
        |d AS (
        |  SELECT a.vec_id, a.sub, c.cent_id,
        |    (SELECT SUM((a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))
        |     FROM UNNEST(range(1, len(a.sv) + 1)) AS u(i)) AS d2
        |  FROM subs a JOIN cents c ON a.sub = c.sub),
        |r AS (
        |  SELECT vec_id, sub, cent_id, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY d2, cent_id) AS rk
        |  FROM d)
        |SELECT sub, cent_id AS code, COUNT(*) AS n,
        |  ROUND(CAST(CAST(SUM(d2) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS avg_d2
        |FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- embeddings: margin-based bitext mining ----------------------------
    // Artetxe-Schwenk ratio-margin pairing of the even-id side against the
    // odd-id side, k=4 neighborhoods — the parallel-corpus mining shape.
    QuerySpec("bitext_margin_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bitextMarginMine(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 4)
        .orderBy(col("src_id"))
    },
      // Margin replay: exact micro-long cosine, top-4 neighborhoods per
      // side, ratio margin, argmax per source — every number integer
      // algebra until the final rounded divisions.
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |pairs AS (
        |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
        |    CAST(round(CAST(list_dot_product(s.v, t.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(s.v, s.v) AS DOUBLE)
        |             * CAST(list_dot_product(t.v, t.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS c
        |  FROM qv s JOIN qv t
        |    ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
        |sa AS (
        |  SELECT src_id, CAST(SUM(c) AS BIGINT) AS s_a,
        |    CAST(COUNT(*) AS BIGINT) AS n_a FROM (
        |    SELECT src_id, c, ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY c DESC, tgt_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY src_id),
        |sb AS (
        |  SELECT tgt_id, CAST(SUM(c) AS BIGINT) AS s_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_b FROM (
        |    SELECT tgt_id, c, ROW_NUMBER() OVER (PARTITION BY tgt_id
        |      ORDER BY c DESC, src_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY tgt_id),
        |scored AS (
        |  SELECT p.src_id, p.tgt_id, p.c,
        |    CASE WHEN sa.s_a * sb.n_b + sb.s_b * sa.n_a > 0
        |      THEN ROUND(2.0 * p.c * sa.n_a * sb.n_b
        |        / CAST(sa.s_a * sb.n_b + sb.s_b * sa.n_a AS DOUBLE), 6)
        |    END AS margin
        |  FROM pairs p
        |  JOIN sa ON sa.src_id = p.src_id
        |  JOIN sb ON sb.tgt_id = p.tgt_id),
        |best AS (
        |  SELECT src_id, tgt_id, c, margin,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC NULLS LAST, tgt_id) AS b
        |  FROM scored)
        |SELECT src_id, tgt_id, ROUND(CAST(c AS DOUBLE) / 1e6, 6) AS cos_sim,
        |  margin
        |FROM best WHERE b = 1 ORDER BY src_id""".stripMargin),

    // ---- embeddings: bitext mining, IVF cell-probe scale path --------------
    // The 100 TB variant of the brute query above: candidates from the
    // shared-centroid cell join (mod-50 rem-1 picks 10 tgt-side
    // centroids, sources probe their top 3 cells), margins over
    // candidates only — ~30% of brute's pair mass here, |src|·|tgt|·
    // nprobe/cells in general. Brute stays beside it as the documented
    // exact baseline — the ann_topk/ivf_topk convention.
    QuerySpec("bitext_margin_ivf_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bitextMarginIvf(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 4, 3, 50, 1)
        .orderBy(col("src_id"))
    },
      // IVF bitext replay: shared-centroid assignment (ivf_topk's shape),
      // cell equi-join candidates, then the same margin algebra as the
      // brute oracle above — margins computed within the candidate set.
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 2 = 1 AND vec_id % 50 = 1),
        |sass AS (
        |  SELECT vec_id AS src_id, centroid_id, v FROM (
        |    SELECT q.vec_id, c.centroid_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(list_dot_product(q.v, c.centv) AS DOUBLE)
        |          / sqrt(CAST(list_dot_product(q.v, q.v) AS DOUBLE)
        |                 * CAST(list_dot_product(c.centv, c.centv) AS DOUBLE))
        |          DESC, c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c WHERE q.vec_id % 2 = 0)
        |  WHERE crk <= 3),
        |tass AS (
        |  SELECT vec_id AS tgt_id, centroid_id, v FROM (
        |    SELECT q.vec_id, c.centroid_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(list_dot_product(q.v, c.centv) AS DOUBLE)
        |          / sqrt(CAST(list_dot_product(q.v, q.v) AS DOUBLE)
        |                 * CAST(list_dot_product(c.centv, c.centv) AS DOUBLE))
        |          DESC, c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c WHERE q.vec_id % 2 = 1)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT s.src_id, t.tgt_id, s.centroid_id,
        |    CAST(round(CAST(list_dot_product(s.v, t.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(s.v, s.v) AS DOUBLE)
        |             * CAST(list_dot_product(t.v, t.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS c
        |  FROM sass s JOIN tass t ON s.centroid_id = t.centroid_id),
        |sa AS (
        |  SELECT src_id, CAST(SUM(c) AS BIGINT) AS s_a,
        |    CAST(COUNT(*) AS BIGINT) AS n_a FROM (
        |    SELECT src_id, c, ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY c DESC, tgt_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY src_id),
        |sb AS (
        |  SELECT tgt_id, CAST(SUM(c) AS BIGINT) AS s_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_b FROM (
        |    SELECT tgt_id, c, ROW_NUMBER() OVER (PARTITION BY tgt_id
        |      ORDER BY c DESC, src_id) AS rk FROM pairs)
        |  WHERE rk <= 4 GROUP BY tgt_id),
        |scored AS (
        |  SELECT p.src_id, p.centroid_id, p.tgt_id, p.c,
        |    CASE WHEN sa.s_a * sb.n_b + sb.s_b * sa.n_a > 0
        |      THEN ROUND(2.0 * p.c * sa.n_a * sb.n_b
        |        / CAST(sa.s_a * sb.n_b + sb.s_b * sa.n_a AS DOUBLE), 6)
        |    END AS margin
        |  FROM pairs p
        |  JOIN sa ON sa.src_id = p.src_id
        |  JOIN sb ON sb.tgt_id = p.tgt_id),
        |best AS (
        |  SELECT src_id, centroid_id, tgt_id, c, margin,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC NULLS LAST, tgt_id) AS b
        |  FROM scored)
        |SELECT src_id, centroid_id, tgt_id,
        |  ROUND(CAST(c AS DOUBLE) / 1e6, 6) AS cos_sim, margin
        |FROM best WHERE b = 1 ORDER BY src_id""".stripMargin),

    // ---- scale: SemDeDup cluster-scoped semantic dedup ---------------------
    QuerySpec("semdedup_embeddings", (s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
        .orderBy(col("vec_id")),
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |coarse AS (
        |  SELECT vec_id AS coarse_id, v AS coarsev FROM qv
        |  ORDER BY vec_id LIMIT 32),
        |vasn AS (
        |  SELECT vec_id, coarse_id, v FROM (
        |    SELECT q.vec_id, c.coarse_id, q.v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.coarsev)
        |          / sqrt(list_dot_product(q.v, q.v)
        |                 * list_dot_product(c.coarsev, c.coarsev)) DESC,
        |        c.coarse_id) AS crk
        |    FROM qv q, coarse c)
        |  WHERE crk = 1),
        |cents AS (
        |  SELECT coarse_id, vec_id AS centroid_id, v AS centv
        |  FROM vasn WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, centroid_id, v FROM (
        |    SELECT a.vec_id, c.centroid_id, a.v,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, c.centv)
        |          / sqrt(list_dot_product(a.v, a.v)
        |                 * list_dot_product(c.centv, c.centv)) DESC,
        |        c.centroid_id) AS frk
        |    FROM vasn a JOIN cents c ON a.coarse_id = c.coarse_id)
        |  WHERE frk = 1),
        |pairs AS (
        |  SELECT a.centroid_id, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
        |      AS cs
        |  FROM asn a JOIN asn b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
        |SELECT id_b AS vec_id, centroid_id, COUNT(*) AS n_dups,
        |  ROUND(MAX(cs), 6) AS max_sim
        |FROM pairs WHERE cs >= 0.3
        |GROUP BY centroid_id, id_b
        |ORDER BY vec_id""".stripMargin),

    // ---- one-pass Gram/covariance sufficient statistic ---------------------
    // Flat-triangle aggregator: one d·(d+1)/2-long partial per partition
    // crosses the exchange (see Similarity.gramMatrix) — the PCA/whitening
    // input without corpus×d² explode mass.
    QuerySpec("gram_matrix_embeddings", (s, dir) =>
      Similarity.gramMatrix(t(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j")),
      // Gram matrix: the oracle replays the RESULT via the quadratic
      // explode+self-join form the Spark side deliberately avoids — fine in
      // DuckDB at sf0.01, which is exactly why the aggregator exists at scale
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM qv, UNNEST(range(1, 65)) AS u(i)),
        |n AS (SELECT COUNT(*) AS n FROM qv),
        |s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sum_x FROM e GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS gram
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT g.i, g.j, n.n, sa.sum_x AS sum_i, sb.sum_x AS sum_j, g.gram
        |FROM g CROSS JOIN n
        |JOIN s sa ON sa.i = g.i
        |JOIN s sb ON sb.i = g.j
        |ORDER BY g.i, g.j""".stripMargin),

    // ---- distributed-PCA composite: Gram pass → driver eigensolve ----------
    // Iterative float math is not SQL-replayable, so the query emits the
    // CONTRACT instead (Similarity.pcaChecked, the approx_stats trick):
    // exact integer-unit trace/Frobenius companions DuckDB recomputes from
    // the same gram relation, plus boolean flags (Σλ = trace, Σλ² = ‖C‖²_F,
    // λ₁ ≥ max diag, PSD, descending, monotone cum_ratio) the oracle pins
    // to TRUE. Raw eigenvalues remain available via Similarity.pcaFromGram
    // and are spec-asserted (ScaleSpec planted-variance recovery).
    QuerySpec("pca_variance_embeddings", (s, dir) =>
      Similarity.pcaChecked(
          Similarity.gramMatrix(t(s, dir, "embeddings"), "embedding"), 8)
        .orderBy(col("pc")),
      // PCA contract replay: the exact integer-unit trace and Frobenius
      // companions from the SAME gram relation as gram_matrix_embeddings
      // (sums fit HUGEINT; emitted as exact digit VARCHARs — the pandas
      // bridge degrades wide DECIMALs to float64), flags pinned TRUE — a
      // drifting eigensolve flips one and fails the hash compare.
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM qv, UNNEST(range(1, 65)) AS u(i)),
        |n AS (SELECT COUNT(*) AS n FROM qv),
        |s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sum_x FROM e GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS gram
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2),
        |cq AS (
        |  SELECT g.i, g.j,
        |    CAST(g.gram AS HUGEINT) * n.n
        |      - CAST(sa.sum_x AS HUGEINT) * sb.sum_x AS c
        |  FROM g CROSS JOIN n
        |  JOIN s sa ON sa.i = g.i
        |  JOIN s sb ON sb.i = g.j),
        |comp AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS VARCHAR)
        |      AS trace_q,
        |    CAST(SUM(c * c * (CASE WHEN i = j THEN 1 ELSE 2 END))
        |      AS VARCHAR) AS frob_q
        |  FROM cq)
        |SELECT CAST(t.pc AS INT) AS pc, n.n, 64 AS d,
        |  comp.trace_q, comp.frob_q,
        |  TRUE AS sum_eq_trace_ok, TRUE AS frob_eq_sumsq_ok,
        |  TRUE AS top_ge_maxdiag_ok, TRUE AS psd_ok,
        |  TRUE AS descending_ok, TRUE AS cum_monotone_ok
        |FROM range(1, 9) t(pc) CROSS JOIN n CROSS JOIN comp
        |ORDER BY pc""".stripMargin),

    // ---- greedy k-center diverse selection ---------------------------------
    // Farthest-first traversal over quantized embeddings: 8 rounds, each a
    // map-only scan + 1-row TakeOrdered (see Similarity.kcenterSelect).
    QuerySpec("kcenter_select_embeddings", (s, dir) =>
      Similarity.kcenterSelect(
          t(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .orderBy(col("sel_round")),
      // k-center: the greedy argmax chain unrolled as one CTE per round —
      // generated programmatically (see kcenterOracleSql); all-integer
      // distances so every comparison is exact.
      kcenterOracleSql(8)),

    // ---- nearest-centroid (Rocchio) classifier confusion matrix ------------
    QuerySpec("centroid_classify_embeddings", (s, dir) =>
      Similarity.nearestCentroidConfusion(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("label"), col("pred_label")),
      // per-label centroid components are floor(1024·Σx / n) — exact integers
      // in both engines (kmeans_assign discipline); argmin over exact long L2²
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, i, qv.v[i] AS x
        |  FROM qv, UNNEST(range(1, len(v) + 1)) AS u(i)),
        |cm AS (
        |  SELECT label AS clabel, i,
        |    CAST(FLOOR(CAST(CAST(SUM(x) AS BIGINT) * 1024 AS DOUBLE)
        |      / COUNT(*)) AS BIGINT) AS m
        |  FROM ex GROUP BY 1, 2),
        |cents AS (SELECT clabel, list(m ORDER BY i) AS cv FROM cm GROUP BY 1),
        |d AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |    (SELECT SUM((q.v[i]*1024 - c.cv[i]) * (q.v[i]*1024 - c.cv[i]))
        |     FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)) AS d2
        |  FROM qv q CROSS JOIN cents c),
        |a AS (
        |  SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rk
        |  FROM d)
        |SELECT label, clabel AS pred_label, COUNT(*) AS n
        |FROM a WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- hard-negative mining (IVF-cell-blocked contrastive pairs) ---------
    QuerySpec("hard_negatives_embeddings", (s, dir) =>
      Similarity.hardNegatives(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("vec_id")),
      // same cell-assignment walk as semdedup, then the per-anchor nearest
      // OTHER-label candidate within the cell — exact long L2², id tiebreak
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS centv FROM qv
        |  WHERE vec_id % 100 = 0),
        |asn AS (
        |  SELECT vec_id, label, v, centroid_id FROM (
        |    SELECT q.vec_id, q.label, q.v, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        (SELECT SUM((q.v[i] - c.centv[i]) * (q.v[i] - c.centv[i]))
        |         FROM UNNEST(range(1, len(q.v) + 1)) AS u(i)),
        |        c.centroid_id) AS crk
        |    FROM qv q CROSS JOIN cents c)
        |  WHERE crk = 1),
        |pairs AS (
        |  SELECT a.vec_id, a.label, b.vec_id AS neg_id,
        |    b.label AS neg_label,
        |    (SELECT SUM((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))
        |     FROM UNNEST(range(1, len(a.v) + 1)) AS u(i)) AS d2
        |  FROM asn a JOIN asn b
        |    ON a.centroid_id = b.centroid_id AND a.label <> b.label),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d2, neg_id, neg_label) AS rk
        |  FROM pairs)
        |SELECT vec_id, label, neg_id, neg_label, CAST(d2 AS BIGINT) AS d2
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    // ---- MMR diverse retrieval (relevance/redundancy greedy, λ = 1/2) ------
    QuerySpec("mmr_select_embeddings", (s, dir) =>
      Similarity.mmrSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
          0L, 8)
        .orderBy(col("sel_round")),
      mmrOracleSql(0L, 8)),

    // ---- grid-blocked geo radius join (spatial neighbor search) ------------
    // Deterministic lattice coordinates derived from p_partkey (0.05°
    // steps, lat ∈ [-30, 30) so the 1.5° cell spans ≥ 100 km on both axes
    // everywhere); queries = every 50th part. The oracle brute-forces the
    // same predicate over all pairs, so a grid cell-coverage bug (a missed
    // cross-cell neighbor) is a correctness failure, not just a perf one.
    QuerySpec("geo_radius_part", (s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey"),
        (((col("p_partkey") * 13) % 1200).cast("double") / 20.0 - 30.0).as("lat"),
        (((col("p_partkey") * 7) % 7200).cast("double") / 20.0 - 180.0).as("lon"))
      Geo.gridRadiusJoin(p.filter(col("p_partkey") % 50 === 0), p,
          "p_partkey", "lat", "lon", 100.0, 1.5)
        .orderBy(col("query_id"), col("point_id"))
    },
      // brute-force radius predicate over ALL pairs — a grid coverage bug in
      // the Spark plan (missed cross-cell neighbor) fails this oracle
      """WITH pts AS (
        |  SELECT p_partkey,
        |    CAST((p_partkey * 13) % 1200 AS DOUBLE) / 20.0 - 30.0 AS lat,
        |    CAST((p_partkey * 7) % 7200 AS DOUBLE) / 20.0 - 180.0 AS lon
        |  FROM part),
        |q AS (SELECT * FROM pts WHERE p_partkey % 50 = 0),
        |d AS (
        |  SELECT q.p_partkey AS query_id, p.p_partkey AS point_id,
        |    sin(((p.lat - q.lat) * (pi() / 180.0)) / 2.0) AS s_lat,
        |    sin(((p.lon - q.lon) * (pi() / 180.0)) / 2.0) AS s_lon,
        |    cos(q.lat * (pi() / 180.0)) AS c1,
        |    cos(p.lat * (pi() / 180.0)) AS c2
        |  FROM q JOIN pts p ON p.p_partkey <> q.p_partkey),
        |h AS (
        |  SELECT query_id, point_id,
        |    ROUND(asin(sqrt(least(1.0,
        |      s_lat * s_lat + c1 * c2 * (s_lon * s_lon)))) * 12742.0176, 3)
        |      AS dist_km
        |  FROM d)
        |SELECT query_id, point_id, dist_km FROM h
        |WHERE dist_km <= 100.0
        |ORDER BY query_id, point_id""".stripMargin),

    // ---- retrieval eval: macro MRR / MAP / P@10 / nDCG@10 per label --------
    // Grades the brute-force retriever against label-match relevance: the
    // ranked lists are exact top-10 cosine, rel = (query label == candidate
    // label), macro-averaged per query label. All per-query statistics in
    // integer micro-units (see Metrics.rankingMetrics) so the macro sums
    // are associative and the oracle replays them exactly.
    QuerySpec("ranking_eval_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(
          e.filter(col("vec_id") % 20 === 0), e, "vec_id", "embedding", 10)
        .join(e.select(col("vec_id").as("query_id"), col("label").as("qlabel")),
          Seq("query_id"))
        .join(e.select(col("vec_id").as("cand_id"), col("label").as("clabel")),
          Seq("cand_id"))
        .withColumn("rel", (col("qlabel") === col("clabel")).cast("long"))
      Metrics.rankingMetrics(ranked, "query_id", "rk", "rel", Seq("qlabel"), 10)
        .withColumnRenamed("qlabel", "label")
        .orderBy(col("label"))
    },
      rankingEvalOracle(10, 20)),

    // ---- Matryoshka truncation sweep: recall@10 per prefix dimension -------
    // How much retrieval quality survives truncating embeddings to their
    // first 8/16/32/64 components — the serving-cost curve for MRL-style
    // embeddings. dim=64 is the full vector (recall 1.0 by construction,
    // an in-data sanity row).
    QuerySpec("matryoshka_recall_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaRecall(e.filter(col("vec_id") % 20 === 0), e,
          "vec_id", "embedding", Seq(8, 16, 32, 64), 10)
        .orderBy(col("dim"))
    },
      matryoshkaOracle(Seq(8, 16, 32, 64), 10, 20)),

    // ---- mutual-kNN clustering over embeddings ----------------------------
    // Reciprocated top-3 cosine edges -> connected components: the
    // graph-clustering view of the corpus (semantic topic grouping). The
    // kNN generator is pluggable; brute force here keeps the oracle exact.
    QuerySpec("knn_clusters_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      Similarity.mutualKnnClusters(e,
          Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3),
          "vec_id")
        .orderBy(col("vec_id"))
    },
      // exact brute-force kNN (same quantized cosine as ann_topk), mutual
      // filter, recursive-reachability components (the CC oracle contract:
      // describe components, not the algorithm)
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
        |      AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_dot_product(q.v, c.v)
        |      / sqrt(list_dot_product(q.v, q.v)
        |        * list_dot_product(c.v, c.v)) AS cs
        |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id),
        |knn AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cs DESC, cand_id) AS rk
        |    FROM pairs) WHERE rk <= 3),
        |mut AS (
        |  SELECT a.query_id AS id_a, a.cand_id AS id_b
        |  FROM knn a JOIN knn b
        |    ON b.query_id = a.cand_id AND b.cand_id = a.query_id
        |  WHERE a.query_id < a.cand_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM mut
        |  UNION SELECT id_b, id_a FROM mut),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM embeddings WHERE vec_id % 2 = 0
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS vec_id, MIN(b) AS cluster_rep FROM reach
        |  GROUP BY a),
        |sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM cl
        |  GROUP BY cluster_rep)
        |SELECT cl.vec_id, cl.cluster_rep, sz.cluster_size
        |FROM cl JOIN sz USING (cluster_rep) ORDER BY cl.vec_id""".stripMargin),

    embeddingDriftEmbeddings,

    // ---- STREAMING per-dimension embedding drift ---------------------------
    // The drift panel's third streaming twin (after Welch and the
    // proportions test): a stateless posexplode feeds one per-dim
    // conditional-sum aggregate — Complete-mode state, d rows — and the
    // mean/shift algebra runs over the drained table. Oracle = the batch
    // embedding_drift SQL verbatim (state IS the batch aggregate).
    QuerySpec("streaming_embedding_drift_embeddings", (s, dir) => {
      val stream = Tables.stream(s, dir, "embeddings")
      val moments = Similarity.embeddingDriftMoments(
        stream.withColumn("side", col("vec_id") % 2 === 0),
        "embedding", "side")
      val drained = Streams.runToMemory(s, moments, OutputMode.Complete())
      Similarity.embeddingDriftFromMoments(drained)
        .orderBy(col("dim"))
    },
      embeddingDriftEmbeddings.oracle)
  )
}
