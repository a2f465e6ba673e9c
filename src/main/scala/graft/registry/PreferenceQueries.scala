package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.scale.TextAnalysis
import graft.streaming.Streams
import QueryHelpers._

/** Preference aggregation and generation evaluation
  * ([[graft.scale.Preference]], [[graft.scale.Eval]]): Bradley-Terry and its
  * relatives over arena matches, pass@k, and the WER/CER/ROUGE/chrF/BLEU
  * scores.
  */
object PreferenceQueries {

  /** Arena-match fabrication shared by the preference queries (batch and
    * streaming): players from event_id, outcome keyed on user_id % 10
    * (0 tie, 1..6 lower index wins, 7..9 higher).
    */
  private def arenaMatches(df: DataFrame): DataFrame =
    df.select(col("event_id").as("mid"),
        expr("event_id % 12").as("pa"),
        expr("(event_id div 12) % 12").as("pb"),
        expr("user_id % 10").as("ock"))
      .withColumn("oc",
        when(col("ock") === 0, lit(2))
          .when(col("ock") <= 6,
            when(col("pa") < col("pb"), lit(0)).otherwise(lit(1)))
          .otherwise(
            when(col("pa") > col("pb"), lit(0)).otherwise(lit(1))))

  /** Arena 3-way-race fabrication (the listwise sibling of
    * [[arenaMatches]]): three distinct players from event_id digit
    * groups, finish order keyed on user_id % 10 — 0..4 the id-ascending
    * order (lower index = stronger), 5..9 one of the five other
    * permutations each.
    */
  private def arenaRaces(df: DataFrame): DataFrame =
    df.select(expr("event_id % 12").as("x"),
        expr("(event_id div 12) % 12").as("y"),
        expr("(event_id div 144) % 12").as("z"),
        expr("user_id % 10").as("k"))
      .filter(col("x") =!= col("y") && col("x") =!= col("z") &&
        col("y") =!= col("z"))
      .withColumn("a", least(col("x"), col("y"), col("z")))
      .withColumn("c", greatest(col("x"), col("y"), col("z")))
      .withColumn("b",
        col("x") + col("y") + col("z") - col("a") - col("c"))
      .selectExpr(
        "CASE WHEN k <= 5 THEN a WHEN k <= 7 THEN b ELSE c END AS f",
        "CASE WHEN k <= 4 THEN b WHEN k = 5 THEN c WHEN k = 6 THEN a " +
          "WHEN k = 7 THEN c WHEN k = 8 THEN a ELSE b END AS s",
        "CASE WHEN k <= 4 THEN c WHEN k = 5 THEN b WHEN k = 6 THEN c " +
          "WHEN k = 7 THEN a WHEN k = 8 THEN b ELSE a END AS t3")

  /** BLEU-4 replay: per n = 1..4, the rouge2-oracle gram construction
    * (ragged concat_ws over possibly-NULL positional indexes) on both
    * sides, clipped overlap + candidate gram mass per (doc, n), then the
    * fixed-order p_n/BP/geomean algebra — quotients first, logs summed
    * left-to-right, divide by 4.0, BP last, round 6. `corpus = true`
    * sums the exact counts over segments before the identical algebra.
    */
  private def bleuOracleSql(corpus: Boolean): String = {
    val maxN = 4
    def gramCtes(side: String, src: String): String =
      (1 to maxN).map { n =>
        val cols = (0 until n).map(j =>
          if (j == 0) "t[CAST(i AS INT)]"
          else s"t[CAST(i + $j AS INT)]").mkString(", ")
        s""",
           |${side}g$n AS (
           |  SELECT doc_id, concat_ws(' ', $cols) AS g
           |  FROM $src,
           |    UNNEST(range(1, GREATEST(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
           |${side}c$n AS (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM ${side}g$n GROUP BY 1, 2)""".stripMargin
      }.mkString
    val perN = (1 to maxN).map { n =>
      s""",
         |ct$n AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ct
         |  FROM cc$n GROUP BY 1),
         |ov$n AS (
         |  SELECT r.doc_id, CAST(SUM(LEAST(r.cnt, c.cnt)) AS BIGINT) AS ov
         |  FROM rc$n r JOIN cc$n c ON c.doc_id = r.doc_id AND c.g = r.g
         |  GROUP BY 1)""".stripMargin
    }.mkString
    val joins = (1 to maxN).map(n =>
      s"  JOIN ct$n ON ct$n.doc_id = lens.doc_id\n" +
        s"  LEFT JOIN ov$n ON ov$n.doc_id = lens.doc_id").mkString("\n")
    val ctCols = (1 to maxN).map(n =>
      s"    ct$n.ct AS ct_$n, COALESCE(ov$n.ov, 0) AS ov_$n")
      .mkString(",\n")
    val head =
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> len(x) > 0) AS t
         |  FROM documents${
           if (corpus) "\n  WHERE doc_id % 5 = 0" else ""}),
         |candt AS (SELECT doc_id, t[1:12] AS t FROM toks)${
           gramCtes("r", "toks")}${gramCtes("c", "candt")}$perN,
         |lens AS (
         |  SELECT c.doc_id, CAST(len(c.t) AS BIGINT) AS clen,
         |    CAST(len(r.t) AS BIGINT) AS rlen
         |  FROM candt c JOIN toks r ON r.doc_id = c.doc_id),
         |pern AS (
         |  SELECT lens.doc_id, lens.clen, lens.rlen,
         |$ctCols
         |  FROM lens
         |$joins)""".stripMargin
    def algebra(src: String): String = {
      val lnSum = (1 to maxN).map(n =>
        s"ln(CAST(ov_$n AS DOUBLE) / ct_$n)").mkString(" + ")
      val anyZero = (1 to maxN).map(n => s"ov_$n = 0").mkString(" OR ")
      val pCols = (1 to maxN).map(n =>
        s"  ROUND(CAST(ov_$n AS DOUBLE) / ct_$n, 6) AS p_$n")
        .mkString(",\n")
      val bpExpr = "CASE WHEN cand_len >= ref_len THEN 1.0 " +
        "ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END"
      s"""SELECT ${if (corpus) "n_segments, " else "doc_id, "}cand_len, ref_len,
         |$pCols,
         |  CASE WHEN cand_len = 0 THEN NULL
         |    ELSE ROUND($bpExpr, 6) END AS bp,
         |  CASE WHEN cand_len = 0 THEN NULL
         |    WHEN $anyZero THEN 0.0
         |    ELSE ROUND(($bpExpr) *
         |      exp(($lnSum) / 4.0), 6) END AS bleu
         |FROM $src""".stripMargin
    }
    if (!corpus)
      s"""$head
         |${algebra(
          "(SELECT doc_id, clen AS cand_len, rlen AS ref_len, " +
            (1 to maxN).flatMap(n => Seq(s"ct_$n", s"ov_$n"))
              .mkString(", ") + " FROM pern)")}
         |ORDER BY doc_id""".stripMargin
    else {
      val sums = (1 to maxN).flatMap(n => Seq(
        s"CAST(SUM(ct_$n) AS BIGINT) AS ct_$n",
        s"CAST(SUM(ov_$n) AS BIGINT) AS ov_$n")).mkString(",\n    ")
      s"""$head,
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
         |    CAST(SUM(clen) AS BIGINT) AS cand_len,
         |    CAST(SUM(rlen) AS BIGINT) AS ref_len,
         |    $sums
         |  FROM pern)
         |${algebra("tot")}""".stripMargin
    }
  }

  /** Paired-bootstrap BLEU replay: per-segment exact count rows for BOTH
    * candidate prefixes against the shared reference (the bleuOracleSql
    * gram machinery, two candidate sides), then the Poisson(1) ladder
    * evaluated with the REPLICATE AS A COLUMN (UNNEST(range(reps)) —
    * digest index b//3, window shift (b%3)·16, the same PoissonCdf16
    * literals), weighted sums per replicate, and the identical
    * BP·geomean algebra per side. Decisions on rounded deltas; SE in
    * micro-quantized exact integers.
    */
  private def bleuPairedBootstrapOracleSql(reps: Int): String = {
    val maxN = 4
    val cdf = graft.sample.Samplers.PoissonCdf16
    def gramCtes(side: String, src: String): String =
      (1 to maxN).map { n =>
        val cols = (0 until n).map(j =>
          if (j == 0) "t[CAST(i AS INT)]"
          else s"t[CAST(i + $j AS INT)]").mkString(", ")
        s""",
           |${side}g$n AS (
           |  SELECT doc_id, concat_ws(' ', $cols) AS g
           |  FROM $src,
           |    UNNEST(range(1, GREATEST(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
           |${side}c$n AS MATERIALIZED (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM ${side}g$n GROUP BY 1, 2)""".stripMargin
      }.mkString
    def perN(side: String): String = (1 to maxN).map { n =>
      s""",
         |${side}ct$n AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ct
         |  FROM ${side}c$n GROUP BY 1),
         |${side}ov$n AS (
         |  SELECT r.doc_id, CAST(SUM(LEAST(r.cnt, c.cnt)) AS BIGINT) AS ov
         |  FROM rc$n r JOIN ${side}c$n c
         |    ON c.doc_id = r.doc_id AND c.g = r.g
         |  GROUP BY 1)""".stripMargin
    }.mkString
    val joins = Seq("a", "b").flatMap(s => (1 to maxN).map(n =>
      s"  JOIN ${s}ct$n ON ${s}ct$n.doc_id = lens.doc_id\n" +
        s"  LEFT JOIN ${s}ov$n ON ${s}ov$n.doc_id = lens.doc_id"))
      .mkString("\n")
    val cntCols = Seq("a", "b").flatMap(s => (1 to maxN).map(n =>
      s"    ${s}ct$n.ct AS ${s}_ct_$n, " +
        s"COALESCE(${s}ov$n.ov, 0) AS ${s}_ov_$n")).mkString(",\n")
    val cnts = Seq("ref_len", "a_cand_len", "b_cand_len") ++
      Seq("a", "b").flatMap(s =>
        (1 to maxN).flatMap(n => Seq(s"${s}_ct_$n", s"${s}_ov_$n")))
    val w = {
      val u = "((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)" +
        " || ':c' || CAST(b // 3 AS VARCHAR)), 1, 15)) AS BIGINT)" +
        " >> CAST((b % 3) * 16 AS INT)) & 65535)"
      cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
        s"CASE WHEN $u < $t THEN $k ELSE $acc END"
      }
    }
    def algebra(p: String): String = {
      val lnSum = (1 to maxN).map(n =>
        s"ln(CAST(${p}ov_$n AS DOUBLE) / ${p}ct_$n)").mkString(" + ")
      val anyZero = (1 to maxN).map(n => s"${p}ov_$n = 0").mkString(" OR ")
      val bp = s"CASE WHEN ${p}cand_len >= ref_len THEN 1.0 " +
        s"ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / ${p}cand_len) END"
      s"""CASE WHEN ${p}cand_len = 0 THEN NULL
         |    WHEN $anyZero THEN 0.0
         |    ELSE ROUND(($bp) * exp(($lnSum) / 4.0), 6) END""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS t
       |  FROM documents WHERE doc_id % 5 = 0),
       |candta AS (SELECT doc_id, t[1:12] AS t FROM toks),
       |candtb AS (SELECT doc_id, t[1:6] AS t FROM toks)${
         gramCtes("r", "toks")}${gramCtes("a", "candta")}${
         gramCtes("b", "candtb")}${perN("a")}${perN("b")},
       |lens AS (
       |  SELECT r.doc_id, CAST(len(r.t) AS BIGINT) AS ref_len,
       |    CAST(len(a.t) AS BIGINT) AS a_cand_len,
       |    CAST(len(b.t) AS BIGINT) AS b_cand_len
       |  FROM toks r
       |  JOIN candta a ON a.doc_id = r.doc_id
       |  JOIN candtb b ON b.doc_id = r.doc_id),
       |pern AS MATERIALIZED (
       |  SELECT lens.doc_id, ref_len, a_cand_len, b_cand_len,
       |$cntCols
       |  FROM lens
       |$joins),
       |pt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    ${cnts.map(c => s"CAST(SUM($c) AS BIGINT) AS $c")
           .mkString(",\n    ")}
       |  FROM pern),
       |point AS (
       |  SELECT n_segments, ${algebra("a_")} AS bleu_a,
       |    ${algebra("b_")} AS bleu_b
       |  FROM pt),
       |wts AS (
       |  SELECT pern.*, b AS rep, $w AS w
       |  FROM pern, UNNEST(range(0, $reps)) AS u(b)),
       |rs AS (
       |  SELECT rep,
       |    ${cnts.map(c => s"CAST(SUM($c * w) AS BIGINT) AS $c")
           .mkString(",\n    ")}
       |  FROM wts WHERE w > 0 GROUP BY rep),
       |rb AS (
       |  SELECT rep, ${algebra("a_")} AS ba, ${algebra("b_")} AS bb
       |  FROM rs),
       |rd AS (
       |  SELECT d, CAST(ROUND(d * 1e6) AS BIGINT) AS q
       |  FROM (SELECT ROUND(ba - bb, 6) AS d FROM rb
       |        WHERE ba IS NOT NULL AND bb IS NOT NULL)),
       |panel AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CASE WHEN COUNT(*) > 1 THEN
       |      ROUND(sqrt(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(q * q)
       |        - SUM(q) * SUM(q) AS DOUBLE)
       |        / (CAST(COUNT(*) AS DOUBLE)
       |           * (CAST(COUNT(*) AS DOUBLE) - 1.0))) / 1e6, 6)
       |    END AS boot_se,
       |    ROUND(MIN(d), 6) AS ci_lo, ROUND(MAX(d), 6) AS ci_hi,
       |    CASE WHEN COUNT(*) > 0 THEN
       |      ROUND(SUM(CASE WHEN d > 0 THEN 1.0 WHEN d = 0 THEN 0.5
       |        ELSE 0.0 END) / COUNT(*), 6) END AS p_a_gt_b
       |  FROM rd)
       |SELECT n_segments, bleu_a, bleu_b,
       |  ROUND(bleu_a - bleu_b, 6) AS delta,
       |  n_reps, boot_se, ci_lo, ci_hi, p_a_gt_b
       |FROM point, panel""".stripMargin
  }

  /** The arena-match fabrication + (lo, hi) pair-count dictionary shared
    * by the Bradley-Terry and Copeland oracles.
    */
  private val btPairCtes: String =
    """WITH m AS (
      |  SELECT event_id AS mid, event_id % 12 AS pa,
      |    (event_id // 12) % 12 AS pb, user_id % 10 AS ock
      |  FROM events WHERE event_id % 12 <> (event_id // 12) % 12),
      |pr AS (
      |  SELECT LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi,
      |    CAST(2 * COUNT(*) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN ock = 0 THEN 1
      |      WHEN ock <= 6 THEN 2 ELSE 0 END) AS BIGINT) AS w2lo
      |  FROM m GROUP BY 1, 2)""".stripMargin

  /** Bootstrapped Bradley-Terry replay: per-(match, replicate) Poisson
    * weights through the shared 16-bit CDF ladder (long format — the
    * replicate is DATA, so the MM rounds run once, grouped by rep), the
    * keyed MM chain, the per-player moment SE + envelope fold, and the
    * plain point fit joined on — mirrors
    * [[graft.scale.Preference.bradleyTerryBootstrap]] term for term.
    */
  private def bradleyTerryBootOracle(reps: Int, rounds: Int): String = {
    val cdf = graft.sample.Samplers.PoissonCdf16
    val u = "((CAST(('0x' || substring(md5(CAST(mid AS VARCHAR) || " +
      "':c' || CAST(b.b // 3 AS VARCHAR)), 1, 15)) AS BIGINT) >> " +
      "((b.b % 3) * 16)) & 65535)"
    val ladder = cdf.zipWithIndex.foldRight("8") { case ((t, k), acc) =>
      s"CASE WHEN $u < $t THEN $k ELSE $acc END"
    }
    val perRound = (1 to rounds).map { r =>
      s"""wt$r AS (
         |  SELECT rep, player, CAST(SUM(tt) AS BIGINT) AS t FROM (
         |    SELECT wp.rep, wp.lo AS player,
         |      CAST(CAST(wp.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT) AS tt
         |    FROM wp JOIN ws${r - 1} sl
         |      ON sl.rep = wp.rep AND sl.player = wp.lo
         |    JOIN ws${r - 1} sh
         |      ON sh.rep = wp.rep AND sh.player = wp.hi
         |    UNION ALL
         |    SELECT wp.rep, wp.hi, CAST(CAST(wp.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT)
         |    FROM wp JOIN ws${r - 1} sl
         |      ON sl.rep = wp.rep AND sl.player = wp.lo
         |    JOIN ws${r - 1} sh
         |      ON sh.rep = wp.rep AND sh.player = wp.hi)
         |  GROUP BY 1, 2),
         |wr$r AS (
         |  SELECT wpp.rep, wpp.player, GREATEST(
         |    (wpp.wins2 * 1000000) // GREATEST(wt$r.t // 1000000, 1), 1)
         |    AS praw
         |  FROM wpp JOIN wt$r
         |    ON wt$r.rep = wpp.rep AND wt$r.player = wpp.player),
         |ws$r AS (
         |  SELECT wr$r.rep, wr$r.player, GREATEST(
         |    (wr$r.praw * 1000000) // GREATEST(nn$r.s // nn$r.n, 1), 1)
         |    AS p
         |  FROM wr$r JOIN (SELECT rep, CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM wr$r GROUP BY 1) nn$r
         |    ON nn$r.rep = wr$r.rep)""".stripMargin
    }.mkString(",\n")
    s"""$btPairCtes,
       |mw AS (
       |  SELECT LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi,
       |    CASE WHEN ock = 0 THEN 1 WHEN ock <= 6 THEN 2 ELSE 0 END
       |      AS w2l,
       |    b.b AS rep, $ladder AS w
       |  FROM m, UNNEST(range(0, $reps)) AS b(b)),
       |wp AS (
       |  SELECT rep, lo, hi, CAST(SUM(2 * w) AS BIGINT) AS n2,
       |    CAST(SUM(w2l * w) AS BIGINT) AS w2lo
       |  FROM mw GROUP BY 1, 2, 3 HAVING SUM(w) > 0),
       |wpp AS (
       |  SELECT rep, player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT rep, lo AS player, n2, w2lo AS w2 FROM wp
       |    UNION ALL SELECT rep, hi, n2, n2 - w2lo FROM wp)
       |  GROUP BY 1, 2),
       |ws0 AS (SELECT rep, player, CAST(1000000 AS BIGINT) AS p FROM wpp),
       |$perRound,
       |se AS (
       |  SELECT player, CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CAST(SUM(p) AS BIGINT) AS sq, CAST(SUM(p * p) AS BIGINT) AS sqq,
       |    CAST(MIN(p) AS BIGINT) AS ci_lo_micro,
       |    CAST(MAX(p) AS BIGINT) AS ci_hi_micro
       |  FROM ws$rounds GROUP BY 1),
       |pp AS (
       |  SELECT player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT lo AS player, n2, w2lo AS w2 FROM pr
       |    UNION ALL SELECT hi, n2, n2 - w2lo FROM pr)
       |  GROUP BY 1),
       |s0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM pp),
       |${btMmRoundsSql(rounds)}
       |SELECT pp.player, pp.games2, pp.wins2, s$rounds.p AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(s$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo,
       |  se.n_reps,
       |  CASE WHEN se.n_reps > 1 THEN
       |    ROUND(sqrt(CAST(se.n_reps * se.sqq - se.sq * se.sq AS DOUBLE)
       |      / (CAST(se.n_reps AS DOUBLE)
       |        * (CAST(se.n_reps AS DOUBLE) - 1.0))) / 1e6, 6) END
       |    AS boot_se,
       |  se.ci_lo_micro, se.ci_hi_micro
       |FROM pp JOIN s$rounds USING (player)
       |LEFT JOIN se USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin
  }

  /** Plackett-Luce replay: race fabrication, the ordered-triple pattern
    * dictionary, and unrolled two-stage MM rounds (suffix members as a
    * CASE list UNNEST) — mirrors
    * [[graft.scale.Preference.plackettLuceMicro]] term for term.
    */
  private def plackettLuceOracle(rounds: Int): String = {
    val mem = "CASE WHEN stage = 0 THEN [f, s, t3] ELSE [s, t3] END"
    val perRound = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT f, s, t3, cnt, stage,
         |    CAST(CAST(cnt AS HUGEINT) * 1000000000000 // ssum AS BIGINT) AS term FROM (
         |    SELECT sg.f, sg.s, sg.t3, sg.cnt, sg.stage,
         |      CAST(SUM(p.p) AS BIGINT) AS ssum
         |    FROM sg, UNNEST(CASE WHEN sg.stage = 0
         |      THEN [sg.f, sg.s, sg.t3] ELSE [sg.s, sg.t3] END) AS u(m)
         |    JOIN ps${r - 1} p ON p.player = u.m
         |    GROUP BY 1, 2, 3, 4, 5)),
         |tm$r AS (
         |  SELECT u.m AS player, CAST(SUM(term) AS BIGINT) AS t
         |  FROM d$r, UNNEST($mem) AS u(m)
         |  GROUP BY 1),
         |pr$r AS (
         |  SELECT w.player, GREATEST((w.n_chosen * 1000000) //
         |    GREATEST(tm$r.t // 1000000, 1), 1) AS praw
         |  FROM w JOIN tm$r USING (player)),
         |ps$r AS (
         |  SELECT player, GREATEST((praw * 1000000) //
         |    GREATEST(nn.s // nn.n, 1), 1) AS p
         |  FROM pr$r, (SELECT CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM pr$r) nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH rr AS (
       |  SELECT event_id % 12 AS x, (event_id // 12) % 12 AS y,
       |    (event_id // 144) % 12 AS z, user_id % 10 AS k
       |  FROM events
       |  WHERE event_id % 12 <> (event_id // 12) % 12
       |    AND event_id % 12 <> (event_id // 144) % 12
       |    AND (event_id // 12) % 12 <> (event_id // 144) % 12),
       |ro AS (
       |  SELECT LEAST(x, y, z) AS a, GREATEST(x, y, z) AS c,
       |    x + y + z - LEAST(x, y, z) - GREATEST(x, y, z) AS b, k
       |  FROM rr),
       |races AS (
       |  SELECT
       |    CASE WHEN k <= 5 THEN a WHEN k <= 7 THEN b ELSE c END AS f,
       |    CASE WHEN k <= 4 THEN b WHEN k = 5 THEN c WHEN k = 6 THEN a
       |      WHEN k = 7 THEN c WHEN k = 8 THEN a ELSE b END AS s,
       |    CASE WHEN k <= 4 THEN c WHEN k = 5 THEN b WHEN k = 6 THEN c
       |      WHEN k = 7 THEN a WHEN k = 8 THEN b ELSE a END AS t3
       |  FROM ro),
       |rc AS (
       |  SELECT f, s, t3, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM races GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT player, CAST(SUM(ca) AS BIGINT) AS n_races,
       |    CAST(SUM(cw) AS BIGINT) AS n_chosen
       |  FROM (
       |    SELECT f AS player, cnt AS cw, cnt AS ca FROM rc
       |    UNION ALL SELECT s, cnt, cnt FROM rc
       |    UNION ALL SELECT t3, CAST(0 AS BIGINT), cnt FROM rc)
       |  GROUP BY 1),
       |sg AS (SELECT f, s, t3, cnt, st.stage
       |  FROM rc, UNNEST([0, 1]) AS st(stage)),
       |ps0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM w),
       |$perRound
       |SELECT w.player, w.n_races, w.n_chosen, ps$rounds.p
       |  AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(ps$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo
       |FROM w JOIN ps$rounds USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin
  }

  /** The ungrouped MM-round CTEs (t/r/s) shared by the plain and
    * bootstrap Bradley-Terry oracles.
    */
  private def btMmRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""t$r AS (
         |  SELECT player, CAST(SUM(tt) AS BIGINT) AS t FROM (
         |    SELECT pr.lo AS player,
         |      CAST(CAST(pr.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT) AS tt
         |    FROM pr JOIN s${r - 1} sl ON sl.player = pr.lo
         |    JOIN s${r - 1} sh ON sh.player = pr.hi
         |    UNION ALL
         |    SELECT pr.hi, CAST(CAST(pr.n2 AS HUGEINT) * 1000000000000 // (sl.p + sh.p) AS BIGINT)
         |    FROM pr JOIN s${r - 1} sl ON sl.player = pr.lo
         |    JOIN s${r - 1} sh ON sh.player = pr.hi)
         |  GROUP BY 1),
         |r$r AS (
         |  SELECT pp.player, GREATEST(
         |    (pp.wins2 * 1000000) // GREATEST(t$r.t // 1000000, 1), 1) AS praw
         |  FROM pp JOIN t$r USING (player)),
         |s$r AS (
         |  SELECT player, GREATEST(
         |    (praw * 1000000) // GREATEST(nn.s // nn.n, 1), 1) AS p
         |  FROM r$r, (SELECT CAST(SUM(praw) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM r$r) nn)""".stripMargin
    }.mkString(",\n")

  /** Rank Centrality replay: the shared pair dictionary → ordered edge
    * relation → integer transition dictionary (win share over max
    * degree) → unrolled lazy-walk rounds — mirrors
    * [[graft.scale.Preference.rankCentralityMicro]] term for term.
    */
  private def rankCentralityOracle(rounds: Int): String = {
    val perRound = (1 to rounds).map { r =>
      s"""in$r AS (
         |  SELECT pe.dst AS player,
         |    CAST(SUM((pi.pi * pe.p_micro) // 1000000) AS BIGINT)
         |      AS inflow
         |  FROM pe JOIN pi${r - 1} pi ON pi.player = pe.src
         |  GROUP BY 1),
         |pi$r AS (
         |  SELECT p.player,
         |    (p.pi * resid.resid) // 1000000
         |      + COALESCE(in$r.inflow, 0) AS pi
         |  FROM pi${r - 1} p JOIN resid USING (player)
         |  LEFT JOIN in$r USING (player))""".stripMargin
    }.mkString(",\n")
    s"""$btPairCtes,
       |e AS (
       |  SELECT lo AS src, hi AS dst, n2 - w2lo AS w2, n2 FROM pr
       |  UNION ALL SELECT hi, lo, w2lo, n2 FROM pr),
       |deg AS (
       |  SELECT src AS player, CAST(COUNT(*) AS BIGINT) AS n_opponents
       |  FROM e GROUP BY 1),
       |dm AS (SELECT CAST(MAX(n_opponents) AS BIGINT) AS dmax FROM deg),
       |pe AS (
       |  SELECT src, dst, (w2 * 1000000) // (n2 * dm.dmax) AS p_micro
       |  FROM e, dm),
       |resid AS (
       |  SELECT src AS player,
       |    1000000 - CAST(SUM(p_micro) AS BIGINT) AS resid
       |  FROM pe GROUP BY 1),
       |pi0 AS (SELECT player, CAST(1000000 AS BIGINT) AS pi FROM deg),
       |$perRound
       |SELECT deg.player, deg.n_opponents, pi$rounds.pi AS pi_micro
       |FROM deg JOIN pi$rounds USING (player)
       |ORDER BY pi_micro DESC, player""".stripMargin
  }

  /** Bradley-Terry MM replay: the pagerank unrolled-round convention over
    * the (lo, hi) pair dictionary — each round one tt join, one denominator
    * union-agg, the floored Praw pick, and the mean-1e6 renormalization,
    * all in DuckDB `//` integer division (mirrors
    * [[graft.scale.Preference.bradleyTerryMicro]] term for term).
    */
  private def bradleyTerryOracle(rounds: Int): String =
    s"""$btPairCtes,
       |pp AS (
       |  SELECT player, CAST(SUM(n2) AS BIGINT) AS games2,
       |    CAST(SUM(w2) AS BIGINT) AS wins2
       |  FROM (
       |    SELECT lo AS player, n2, w2lo AS w2 FROM pr
       |    UNION ALL SELECT hi, n2, n2 - w2lo FROM pr)
       |  GROUP BY 1),
       |s0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM pp),
       |${btMmRoundsSql(rounds)}
       |SELECT pp.player, pp.games2, pp.wins2, s$rounds.p AS strength_micro,
       |  ROUND(1500.0 + 400.0 * ln(CAST(s$rounds.p AS DOUBLE) / 1e6)
       |    / ln(10.0), 6) AS elo
       |FROM pp JOIN s$rounds USING (player)
       |ORDER BY strength_micro DESC, player""".stripMargin

  // ---- preference fitting: Bradley-Terry MM rounds + Elo-style report ----
  // Arena-style matches fabricated from events: players a = event_id % 12,
  // b = (event_id div 12) % 12 (a = b dropped), outcome keyed on
  // user_id % 10 — 0 tie, 1..6 the LOWER index wins, 7..9 the higher, so
  // player 0 is strongest and the fit recovers a skill gradient. Three
  // exact-integer MM rounds over the (lo, hi) pair dictionary
  // (Preference.bradleyTerryMicro); elo the only (rounded) float.
  private val bradleyTerryEvents = QuerySpec("bradley_terry_events", (s, dir) =>
    graft.scale.Preference.bradleyTerryMicro(
      arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
      .orderBy(col("strength_micro").desc, col("player")),
    // Bradley-Terry: MM rounds unrolled (the pagerank convention)
    bradleyTerryOracle(3))

  // ---- Condorcet / Copeland head-to-head panel ---------------------------
  // The non-parametric companion to the BT fit on the SAME matches:
  // majority graph per pair, Copeland score = h2h wins - losses,
  // is_condorcet flags a player beating every opponent faced.
  private val copelandEvents = QuerySpec("copeland_events", (s, dir) =>
    graft.scale.Preference.copelandPanel(
      arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
      .orderBy(col("copeland").desc, col("player")),
    // Copeland/Condorcet: majority-graph fold on the same dictionary
    // Copeland / Condorcet panel replay over the shared pair dictionary.
    s"""$btPairCtes,
       |sides AS (
       |  SELECT lo AS player,
       |    CASE WHEN w2lo * 2 > n2 THEN 1 ELSE 0 END AS w,
       |    CASE WHEN w2lo * 2 = n2 THEN 1 ELSE 0 END AS t
       |  FROM pr
       |  UNION ALL
       |  SELECT hi,
       |    CASE WHEN (n2 - w2lo) * 2 > n2 THEN 1 ELSE 0 END,
       |    CASE WHEN w2lo * 2 = n2 THEN 1 ELSE 0 END
       |  FROM pr)
       |SELECT player, CAST(COUNT(*) AS BIGINT) AS n_opponents,
       |  CAST(SUM(w) AS BIGINT) AS h2h_wins,
       |  CAST(SUM(t) AS BIGINT) AS h2h_ties,
       |  CAST(COUNT(*) - SUM(w) - SUM(t) AS BIGINT) AS h2h_losses,
       |  CAST(SUM(w) * 2 + SUM(t) - COUNT(*) AS BIGINT) AS copeland,
       |  SUM(w) = COUNT(*) AS is_condorcet
       |FROM sides GROUP BY player
       |ORDER BY copeland DESC, player""".stripMargin)

  // ---- Rank Centrality spectral preference fit ---------------------------
  // The random-walk cross-check on the SAME matches: stationary mass of
  // the win-fraction chain (Negahban-Oh-Shah), exact micro-longs over
  // the shared pair dictionary — robust where BT's count-weighted
  // likelihood over-trusts replayed pairs.
  private val rankCentralityEvents = QuerySpec("rank_centrality_events", (s, dir) =>
    graft.scale.Preference.rankCentralityMicro(
      arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", 3)
      .orderBy(col("pi_micro").desc, col("player")),
    rankCentralityOracle(3))

  // ---- Plackett-Luce listwise fit (3-way rankings) -----------------------
  // The k-way generalization of the BT fit: two choice stages per race,
  // exact-integer MM rounds over the ordered-triple pattern dictionary.
  private val plackettLuceEvents = QuerySpec("plackett_luce_events", (s, dir) =>
    graft.scale.Preference.plackettLuceMicro(
      arenaRaces(t(s, dir, "events")), "f", "s", "t3", 3)
      .orderBy(col("strength_micro").desc, col("player")),
    // Plackett-Luce: two-stage MM rounds over the triple dictionary
    plackettLuceOracle(3))

  // ---- unbiased pass@k over sampled verdicts (Chen et al. 2021) ----------
  // Per task (event_id % 97) with n samples and c passes: pass@k =
  // 1 - prod_{i<k}(n-c-i)/(n-i), left-folded so both engines multiply
  // identical doubles; 1.0 when every size-k draw must pass, NULL
  // below k samples.
  private val passAtKEvents = QuerySpec("pass_at_k_events", (s, dir) =>
    graft.scale.Eval.passAtK(
      t(s, dir, "events").select((col("event_id") % 97).as("task"),
        (col("event_type") === "purchase" && col("value") >= 120.0)
          .as("ok")),
      "task", "ok", Seq(1, 5, 10))
      .orderBy(col("task"), col("k")),
    // pass@k replay — shared by the batch query and the streaming
    // twin (the drained per-task counts ARE the batch dictionary).
    """WITH s AS (
      |  SELECT event_id % 97 AS task,
      |    CASE WHEN event_type = 'purchase' AND value >= 120.0
      |      THEN 1 ELSE 0 END AS ok
      |  FROM events),
      |t AS (
      |  SELECT task, CAST(COUNT(*) AS BIGINT) AS n_samples,
      |    CAST(SUM(ok) AS BIGINT) AS n_correct
      |  FROM s GROUP BY task),
      |k AS (SELECT UNNEST([1, 5, 10]) AS k)
      |SELECT task, n_samples, n_correct, CAST(k.k AS INT) AS k,
      |  CASE WHEN n_samples < k.k THEN NULL
      |       WHEN n_samples - n_correct < k.k THEN 1.0
      |       ELSE ROUND(1.0 - list_reduce(
      |         list_prepend(CAST(1.0 AS DOUBLE),
      |           list_transform(range(0, k.k), i ->
      |             CAST(n_samples - n_correct - i AS DOUBLE)
      |               / (n_samples - i))),
      |         (acc, x) -> acc * x), 6) END AS pass_at_k
      |FROM t, k ORDER BY task, k""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    bradleyTerryEvents,

    // ---- STREAMING Bradley-Terry (pair-count dictionary as Complete-mode
    // state; the MM fold replays on drain — fromPairs ∘ pairCounts is the
    // batch fit by construction, so the oracle is the batch SQL verbatim) --
    QuerySpec("streaming_bradley_terry_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Preference.bradleyTerryFromPairs(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    },
      // preference twins: the pair-count dictionary is associative
      // Complete-mode state; the drained folds ARE the batch operators
      // (fromPairs ∘ pairCounts spec-pinned) — batch SQL verbatim
      bradleyTerryEvents.oracle),

    // ---- BOOTSTRAPPED Bradley-Terry (per-player SE + envelope) -------------
    // The leaderboard op with uncertainty: 32 Poisson(1) match-resampled
    // keyed MM fits in ONE dictionary-scale job (the one-scan bootstrap
    // composed with the rep-keyed fit), moment SE + exact envelope per
    // player beside the point fit.
    QuerySpec("bootstrap_bradley_terry_events", (s, dir) =>
      graft.scale.Preference.bradleyTerryBootstrap(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc", "mid", 32, 3)
        .orderBy(col("strength_micro").desc, col("player")),
      // bootstrap BT: long-format Poisson weights, rep-keyed MM chain
      bradleyTerryBootOracle(32, 3)),

    copelandEvents,

    // ---- STREAMING Copeland (the SAME pair-count state, majority fold) ----
    QuerySpec("streaming_copeland_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Preference.copelandFromPairs(drained)
        .orderBy(col("copeland").desc, col("player"))
    },
      copelandEvents.oracle),

    rankCentralityEvents,

    // ---- STREAMING Rank Centrality (the SAME pair-count state) -------------
    // The preference-family twin convention: the associative pair
    // dictionary is Complete-mode state; the walk runs over the drained
    // table and shares the batch oracle verbatim.
    QuerySpec("streaming_rank_centrality_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = graft.scale.Preference.pairCounts(
        arenaMatches(stream), "pa", "pb", "oc")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Preference.rankCentralityFromPairs(drained, 3)
        .orderBy(col("pi_micro").desc, col("player"))
    },
      rankCentralityEvents.oracle),

    plackettLuceEvents,

    // ---- STREAMING Plackett-Luce (pattern dictionary as Complete state) ---
    QuerySpec("streaming_plackett_luce_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = graft.scale.Preference.raceCounts(
        arenaRaces(stream), "f", "s", "t3")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Preference.plackettLuceFromCounts(drained, 3)
        .orderBy(col("strength_micro").desc, col("player"))
    },
      // PL twin: the pattern dictionary is associative Complete state
      plackettLuceEvents.oracle),

    // ---- pairwise win-rate matrix (the leaderboard's second table) --------
    QuerySpec("winrate_matrix_events", (s, dir) =>
      graft.scale.Preference.pairCounts(
          arenaMatches(t(s, dir, "events")), "pa", "pb", "oc")
        .select(col("lo"), col("hi"), col("n2"), col("w2lo"),
          round(col("w2lo").cast("double") / col("n2").cast("double"), 6)
            .as("winrate_lo"))
        .orderBy(col("lo"), col("hi")),
      // pairwise win-rate matrix over the shared pair dictionary
      s"""$btPairCtes
         |SELECT lo, hi, n2, w2lo,
         |  ROUND(CAST(w2lo AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
         |    AS winrate_lo
         |FROM pr ORDER BY lo, hi""".stripMargin),

    // ---- majority-graph transitivity (cyclic-triad census) -----------------
    // Rock-paper-scissors triads among decided head-to-heads — the "is
    // there a consistent ranking at all" gate before publishing a BT or
    // Copeland ladder (Kendall & Babington Smith 1940).
    QuerySpec("majority_cycles_events", (s, dir) =>
      graft.scale.Preference.majorityCycles(
        arenaMatches(t(s, dir, "events")), "pa", "pb", "oc"),
      // majority-cycle triad census over the decided pair dictionary
      s"""$btPairCtes,
         |dec AS (
         |  SELECT lo, hi,
         |    CASE WHEN w2lo * 2 > n2 THEN lo ELSE hi END AS src,
         |    CASE WHEN w2lo * 2 > n2 THEN hi ELSE lo END AS dst
         |  FROM pr WHERE w2lo * 2 <> n2),
         |cyc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic
         |  FROM dec e1 JOIN dec e2 ON e2.src = e1.dst
         |  JOIN dec e3 ON e3.src = e2.dst AND e3.dst = e1.src
         |  WHERE e1.src < e1.dst AND e1.src < e2.dst),
         |res AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_resolved
         |  FROM dec u1 JOIN dec u2 ON u2.lo = u1.hi
         |  JOIN dec u3 ON u3.lo = u1.lo AND u3.hi = u2.hi),
         |np AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_players
         |  FROM (SELECT lo AS p FROM pr UNION ALL SELECT hi FROM pr)),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_decided_pairs
         |  FROM dec)
         |SELECT np.n_players, nd.n_decided_pairs,
         |  res.n_resolved AS n_resolved_triads,
         |  cyc.n_cyclic AS n_cyclic_triads,
         |  CASE WHEN res.n_resolved > 0 THEN
         |    ROUND(CAST(cyc.n_cyclic AS DOUBLE) /
         |      CAST(res.n_resolved AS DOUBLE), 6) END AS cyclic_rate
         |FROM np, nd, res, cyc""".stripMargin),

    passAtKEvents,

    // ---- STREAMING pass@k (per-task counts as Complete-mode state) ---------
    QuerySpec("streaming_pass_at_k_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val counts = graft.scale.Eval.passAtKCounts(
        stream.select((col("event_id") % 97).as("task"),
          (col("event_type") === "purchase" && col("value") >= 120.0)
            .as("ok")),
        "task", "ok")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      graft.scale.Eval.passAtKFromCounts(drained, Seq(1, 5, 10))
        .orderBy(col("task"), col("k"))
    },
      passAtKEvents.oracle),

    // ---- word error rate of a perturbed transcript vs its reference --------
    // Every 7th token miscalled 'xxx' (the deterministic ASR-noise
    // fixture); token-level levenshtein via the per-pair relabeling
    // encode (distance is invariant under any bijective relabeling).
    QuerySpec("wer_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), expr(
          "CASE WHEN size(tk) = 0 THEN '' ELSE concat_ws(' ', " +
            "transform(sequence(1, size(tk)), i -> CASE WHEN i % 7 = 0 " +
            "THEN 'xxx' ELSE element_at(tk, i) END)) END").as("text"))
      graft.scale.Eval.wer(cand,
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // WER: the same 7th-token perturbation, per-pair relabeling
      // encode into the private-use plane (any bijection gives the
      // identical distance), same empty-ref / >254-vocab NULL gates
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS rt
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, list_transform(range(1, len(rt) + 1), i ->
        |    CASE WHEN i % 7 = 0 THEN 'xxx'
        |      ELSE rt[CAST(i AS INT)] END) AS ck
        |  FROM toks),
        |p AS (
        |  SELECT t.doc_id, t.rt, c.ck,
        |    list_distinct(list_concat(t.rt, c.ck)) AS v
        |  FROM toks t JOIN cand c ON c.doc_id = t.doc_id),
        |e AS (
        |  SELECT doc_id,
        |    CAST(len(rt) AS BIGINT) AS n_ref_tokens,
        |    CAST(len(ck) AS BIGINT) AS n_cand_tokens,
        |    CASE WHEN len(rt) = 0 THEN NULL
        |      WHEN len(v) > 254 THEN NULL
        |      ELSE CAST(levenshtein(
        |        array_to_string(list_transform(ck, t ->
        |          chr(CAST(57344 + list_position(v, t) AS INT))), ''),
        |        array_to_string(list_transform(rt, t ->
        |          chr(CAST(57344 + list_position(v, t) AS INT))), ''))
        |        AS BIGINT)
        |    END AS edit_distance
        |  FROM p)
        |SELECT doc_id, n_ref_tokens, n_cand_tokens, edit_distance,
        |  CASE WHEN edit_distance IS NOT NULL THEN
        |    ROUND(CAST(edit_distance AS DOUBLE) / n_ref_tokens, 6)
        |  END AS wer
        |FROM e ORDER BY doc_id""".stripMargin),

    // ---- character error rate of the same perturbed transcript -------------
    // WER's tokenization-free companion (the OCR convention): plain
    // levenshtein on the lowercased texts over reference chars. Both
    // sides truncate to the first 120 chars — CER's domain is
    // utterance-scale transcripts, and the O(|c|*|r|) distance on full
    // document pairs would cost quadratic char mass for no extra
    // coverage (the langid bounded-prefix discipline). The truncation is
    // DECLARED IN THE OUTPUT SURFACE: the score column is cer_first120,
    // not cer — a bounded-prefix CER diverges from full-text CER tools
    // (the chrF declared-variant discipline).
    QuerySpec("cer_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), expr(
          "substring(CASE WHEN size(tk) = 0 THEN '' ELSE concat_ws(' ', " +
            "transform(sequence(1, size(tk)), i -> CASE WHEN i % 7 = 0 " +
            "THEN 'xxx' ELSE element_at(tk, i) END)) END, 1, 120)")
          .as("text"))
      graft.scale.Eval.cer(cand,
        docs.select(col("doc_id"),
          substring(col("text"), 1, 120).as("text")),
        "doc_id", "text")
        .withColumnRenamed("cer", "cer_first120")
        .orderBy(col("doc_id"))
    },
      // CER: plain codepoint levenshtein on the lowercased pair texts,
      // both sides truncated to the first 120 chars (utterance scale)
      """WITH toks AS (
        |  SELECT doc_id, substring(text, 1, 120) AS rtx,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS rt
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id,
        |    substring(array_to_string(list_transform(
        |      range(1, len(rt) + 1), i ->
        |      CASE WHEN i % 7 = 0 THEN 'xxx'
        |        ELSE rt[CAST(i AS INT)] END), ' '), 1, 120) AS ct
        |  FROM toks),
        |e AS (
        |  SELECT t.doc_id,
        |    CAST(length(lower(t.rtx)) AS BIGINT) AS n_ref_chars,
        |    CAST(length(lower(c.ct)) AS BIGINT) AS n_cand_chars,
        |    CAST(levenshtein(lower(c.ct), lower(t.rtx)) AS BIGINT)
        |      AS edit_distance
        |  FROM toks t JOIN cand c ON c.doc_id = t.doc_id)
        |SELECT doc_id, n_ref_chars, n_cand_chars, edit_distance,
        |  CASE WHEN n_ref_chars > 0 THEN
        |    ROUND(CAST(edit_distance AS DOUBLE) / n_ref_chars, 6)
        |  END AS cer_first120
        |FROM e ORDER BY doc_id""".stripMargin),

    // ---- ROUGE-2 recall of a truncated candidate vs its reference ----------
    // Clipped-multiset bigram overlap over reference mass (Lin 2004);
    // candidate = the doc's first 12 tokens (the deterministic
    // "summary"), reference = the full text — keyed dictionaries + ONE
    // (key, gram) equi-join, never pair mass.
    QuerySpec("rouge2_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.rougeN(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text", 2)
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |refg AS (
        |  SELECT doc_id,
        |    concat_ws(' ', t[CAST(i AS INT)], t[CAST(i + 1 AS INT)])
        |      AS g
        |  FROM toks,
        |    UNNEST(range(1, GREATEST(len(t) - 1, 1) + 1)) AS u(i)),
        |refc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rc
        |  FROM refg GROUP BY 1, 2),
        |candt AS (SELECT doc_id, t[1:12] AS t FROM toks),
        |cg AS (
        |  SELECT doc_id,
        |    concat_ws(' ', t[CAST(i AS INT)], t[CAST(i + 1 AS INT)])
        |      AS g
        |  FROM candt,
        |    UNNEST(range(1, GREATEST(len(t) - 1, 1) + 1)) AS u(i)),
        |cc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM cg GROUP BY 1, 2),
        |rt AS (
        |  SELECT doc_id, CAST(SUM(rc) AS BIGINT) AS n_ref_grams
        |  FROM refc GROUP BY 1),
        |ov AS (
        |  SELECT r.doc_id,
        |    CAST(SUM(LEAST(r.rc, c.cn)) AS BIGINT) AS n_overlap
        |  FROM refc r JOIN cc c ON c.doc_id = r.doc_id AND c.g = r.g
        |  GROUP BY 1)
        |SELECT rt.doc_id, rt.n_ref_grams,
        |  COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  CASE WHEN rt.n_ref_grams > 0 THEN
        |    ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
        |      / rt.n_ref_grams, 6) END AS rouge_2
        |FROM rt LEFT JOIN ov USING (doc_id)
        |ORDER BY rt.doc_id""".stripMargin),

    // ---- chrF of the truncated candidate vs its reference ------------------
    // Character-6-gram F2 (Popović WMT'15) — tokenization-free eval
    // beside rouge2_docs; same keyed-dictionary construction, clipped
    // multiset overlap, P AND R.
    QuerySpec("chrf_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.chrF(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t,
        |    lower(text) AS rt
        |  FROM documents),
        |candt AS (
        |  SELECT doc_id, array_to_string(t[1:12], ' ') AS ct
        |  FROM toks),
        |rg AS (
        |  SELECT doc_id, substring(rt, CAST(i AS INT), 6) AS g
        |  FROM toks,
        |    UNNEST(range(1, GREATEST(len(rt) - 5, 1) + 1)) AS u(i)),
        |rc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rcn
        |  FROM rg GROUP BY 1, 2),
        |cg AS (
        |  SELECT doc_id, substring(ct, CAST(i AS INT), 6) AS g
        |  FROM candt,
        |    UNNEST(range(1, GREATEST(len(ct) - 5, 1) + 1)) AS u(i)),
        |cc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS ccn
        |  FROM cg GROUP BY 1, 2),
        |tt AS (
        |  SELECT r.doc_id, r.nr, c.nc FROM
        |    (SELECT doc_id, CAST(SUM(rcn) AS BIGINT) AS nr FROM rc
        |     GROUP BY 1) r
        |  LEFT JOIN (SELECT doc_id, CAST(SUM(ccn) AS BIGINT) AS nc
        |             FROM cc GROUP BY 1) c USING (doc_id)),
        |ov AS (
        |  SELECT r.doc_id,
        |    CAST(SUM(LEAST(r.rcn, c.ccn)) AS BIGINT) AS nov
        |  FROM rc r JOIN cc c ON c.doc_id = r.doc_id AND c.g = r.g
        |  GROUP BY 1),
        |pr AS (
        |  SELECT tt.doc_id, tt.nr, tt.nc, COALESCE(ov.nov, 0) AS nov,
        |    CAST(COALESCE(ov.nov, 0) AS DOUBLE) / tt.nc AS p,
        |    CAST(COALESCE(ov.nov, 0) AS DOUBLE) / tt.nr AS r
        |  FROM tt LEFT JOIN ov USING (doc_id))
        |SELECT doc_id, nr AS n_ref_grams, nc AS n_cand_grams,
        |  nov AS n_overlap,
        |  ROUND(p, 6) AS chr_p, ROUND(r, 6) AS chr_r,
        |  CASE WHEN nov > 0 THEN ROUND(5.0 * p * r / (4.0 * p + r), 6)
        |    ELSE 0.0 END AS chrf
        |FROM pr ORDER BY doc_id""".stripMargin),

    // ---- BLEU-4 of the truncated candidate vs its reference ----------------
    // Clipped modified precisions n=1..4 + brevity penalty (Papineni
    // ACL'02) — the remaining canonical generation metric beside
    // ROUGE/chrF; one (key, n, gram) dictionary per side, ONE keyed
    // equi-join, conditional-sum pivot.
    QuerySpec("bleu_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Eval.bleu(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      bleuOracleSql(corpus = false)),

    // ---- corpus-level BLEU-4 (summed counts, then the same algebra) --------
    // The Papineni corpus statistic — overlaps/masses/lengths sum over
    // segments BEFORE the precision quotients (not a mean of segment
    // BLEUs, which over-rewards short segments); one diagnostic row.
    // Runs on the doc_id % 5 = 0 segment stratum: the statistic is the
    // deliverable, and re-gramming the full corpus would duplicate
    // bleu_docs' by-construction 4-gram mass in the suite.
    QuerySpec("bleu_corpus_docs", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      graft.scale.Eval.bleuCorpus(
        docs.select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
            .as("text")),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    },
      bleuOracleSql(corpus = true)),

    // ---- paired bootstrap: is system A's corpus BLEU significantly above
    // B's? (Koehn EMNLP'04) -----------------------------------------------
    // System A = the 12-token-prefix candidate, system B = the 6-token
    // prefix (worse by construction — half the mass, a far harsher
    // brevity penalty); 32 Poisson(1) segment resamples recompute BOTH
    // corpus BLEUs per replicate from the SAME draw over the summed
    // per-segment exact counts. Same doc_id % 5 stratum as
    // bleu_corpus_docs (the statistic is the deliverable; full-corpus
    // re-gramming would triple the suite's 4-gram mass).
    QuerySpec("bleu_paired_bootstrap_docs", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      def prefix(k: Int) = docs.select(col("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, k))
          .as("text"))
      graft.scale.Eval.bleuPairedBootstrap(
        prefix(12), prefix(6),
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
    },
      bleuPairedBootstrapOracleSql(32))
  )
}
