package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.scale.{Dedup, TextAnalysis}
import graft.streaming.Streams
import QueryHelpers._

/** Text operators over the documents ([[graft.scale.TextAnalysis]]):
  * quality and language signals, tokenizer training and encoding, packing,
  * n-gram and vocabulary statistics, mixing, the curation pipeline and its
  * ledger, retrieval and the hashed linear classifier.
  */
object TextQueries {

  /** The unigram-LM trainer replay up to the final piece table: every CTE
    * through `p$rounds` / `tv$rounds`, with `docWhere` filtering the
    * training corpus (empty = all documents). Shared by the trainer oracle
    * and the encode oracle (which trains on the %5<>0 split).
    */
  private def unigramTrainCtes(rounds: Int, docWhere: String): String = {
    val NEG = "CAST(-1125899906842624 AS BIGINT)"
    val MaxLen = 24
    def sc(rel: String, cnt: String, tv: String): String =
      s"CAST(round(ln(CAST($cnt + 1 AS DOUBLE) / " +
        s"CAST($tv.tot + $tv.v AS DOUBLE)) * 1e6) AS BIGINT)"
    def dp(name: String, r: Int, fromEnd: Boolean): String = {
      val start = (k: Int) =>
        if (fromEnd) s"len(f.w) - f.j"
        else s"f.j + ${2 - k}"
      val base =
        s"""$name${r}_0 AS MATERIALIZED (
           |  SELECT w, 0 AS j, CAST(0 AS BIGINT) AS b0,
           |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2
           |  FROM words)""".stripMargin
      val levels = (1 to MaxLen).map { j =>
        val joins = (1 to 3).map { k =>
          s"  LEFT JOIN sm$r s$k ON f.j >= ${k - 1} " +
            s"AND s$k.p = substr(f.w, ${start(k)}, $k)"
        }
        val cands = (1 to 3).map { k =>
          val b = k match { case 1 => "f.b0" case 2 => "f.b1"
            case _ => "f.b2" }
          val c = s"COALESCE($b + s$k.sc, $NEG)"
          if (k == 1) c
          else s"CASE WHEN f.j >= ${k - 1} THEN $c ELSE $NEG END"
        }
        s"""$name${r}_$j AS MATERIALIZED (
           |  SELECT f.w, f.j + 1 AS j, greatest(${cands.mkString(",\n    ")}) AS b0,
           |    f.b0 AS b1, f.b1 AS b2
           |  FROM $name${r}_${j - 1} f
           |${joins.mkString("\n")}
           |  WHERE f.j < len(f.w))""".stripMargin
      }
      val union = (0 to MaxLen)
        .map(j => s"SELECT * FROM $name${r}_$j").mkString("\n  UNION ALL ")
      ((base +: levels) :+ s"$name$r AS MATERIALIZED (\n  $union)")
        .mkString(",\n")
    }
    val perRound = (0 until rounds).map { r =>
      s"""tv$r AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM p$r),
         |sm$r AS MATERIALIZED (
         |  SELECT pp.p, ${sc("pp", "pp.cnt", "t")} AS sc
         |  FROM p$r pp, tv$r t),
         |${dp("fwd", r, fromEnd = false)},
         |${dp("bwd", r, fromEnd = true)},
         |occ$r AS MATERIALIZED (
         |  SELECT sm.p AS p, CAST(SUM(wd.freq) AS BIGINT) AS cnt
         |  FROM words wd,
         |    UNNEST(range(0, len(wd.w))) AS pi(i),
         |    UNNEST(range(1, 4)) AS pk(k),
         |    fwd$r fi, bwd$r bi, fwd$r fn, sm$r sm
         |  WHERE pk.k <= len(wd.w) - pi.i
         |    AND fi.w = wd.w AND fi.j = pi.i
         |    AND bi.w = wd.w AND bi.j = len(wd.w) - (pi.i + pk.k)
         |    AND fn.w = wd.w AND fn.j = len(wd.w)
         |    AND sm.p = substr(wd.w, CAST(pi.i + 1 AS INT), CAST(pk.k AS INT))
         |    AND fi.b0 + sm.sc + bi.b0 = fn.b0
         |  GROUP BY 1),
         |pc$r AS MATERIALIZED (
         |  SELECT p0.p, COALESCE(o.cnt, 0) AS cnt
         |  FROM (SELECT p FROM p$r) p0 LEFT JOIN occ$r o USING (p)),
         |pm$r AS MATERIALIZED (
         |  SELECT p, cnt, ROW_NUMBER() OVER (ORDER BY cnt, p) AS rk,
         |    COUNT(*) OVER () AS nm
         |  FROM pc$r WHERE len(p) >= 2),
         |p${r + 1} AS MATERIALIZED (
         |  SELECT p, cnt FROM pc$r WHERE len(p) = 1
         |  UNION ALL
         |  SELECT p, cnt FROM pm$r
         |  WHERE rk > CAST(FLOOR(0.25 * nm) AS BIGINT))""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w FROM documents $docWhere)
       |  WHERE len(w) <= 24 AND len(w) >= 1 GROUP BY w),
       |subs AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(k AS INT)) AS p,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM words,
       |    UNNEST(range(1, len(w) + 1)) AS a(i),
       |    UNNEST(range(1, 4)) AS b(k)
       |  WHERE k <= len(w) - i + 1
       |  GROUP BY 1),
       |p0 AS MATERIALIZED (
       |  SELECT p, cnt FROM subs WHERE len(p) = 1
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, p) AS rk
       |    FROM subs WHERE len(p) >= 2) WHERE rk <= 40),
       |$perRound,
       |tv$rounds AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
       |  CAST(COUNT(*) AS BIGINT) AS v FROM p$rounds)""".stripMargin
  }

  /** Oracle generator for [[TextAnalysis.unigramLmTrain]] at
    * maxPieceLen=3, seedSize=40, pruneFrac=0.25, maxWordLen=24: the
    * forward/backward max-plus Viterbi DPs replay as UNROLLED chained
    * CTEs — one level per word position (24 = the trainer's word-length
    * cap), each carrying the last 3 best scores, all MATERIALIZED.
    * Deliberately NOT `WITH RECURSIVE`: DuckDB 1.0.0 evaluates the
    * recursive form by re-inlining each round's whole upstream chain per
    * recursive row (1550 s at sf0.01), and adding MATERIALIZED to ANY
    * sibling CTE of the recursive members silently changes the result
    * (every occ count collapses to 0). The unrolled plain-CTE form is
    * both correct and ~1 s. All arithmetic is exact longs except the
    * shared micro-rounded ln score expression.
    */
  private def unigramLmOracle(rounds: Int): String =
    s"""${unigramTrainCtes(rounds, "")}
       |SELECT pr.p AS piece, pr.cnt AS n_count,
       |  CAST(round(ln(CAST(pr.cnt + 1 AS DOUBLE) /
       |    CAST(t.tot + t.v AS DOUBLE)) * 1e6) AS BIGINT) AS logp_micro
       |FROM p$rounds pr, tv$rounds t ORDER BY piece""".stripMargin

  /** Unigram-LM Viterbi ENCODE replay: the trainer CTEs on the %5<>0 split,
    * a combined (score·1024 − 1) step table with the add-one <unk> mass for
    * unseen characters, an unrolled forward max-plus DP over the held-out
    * word dictionary (the trainer's level idiom, forward only), and the
    * per-source token-mass fold — mirrors
    * [[graft.scale.TextAnalysis.unigramEncode]] term for term.
    */
  private def unigramEncodeOracle(rounds: Int): String = {
    val NEG = "CAST(-1125899906842624 AS BIGINT)"
    val MaxLen = 24
    val levels = (1 to MaxLen).map { j =>
      s"""e_$j AS MATERIALIZED (
         |  SELECT f.w, f.j + 1 AS j, greatest(
         |    f.b0 + COALESCE(s1.step, u.step),
         |    CASE WHEN f.j >= 1 THEN COALESCE(f.b1 + s2.step, $NEG)
         |      ELSE $NEG END,
         |    CASE WHEN f.j >= 2 THEN COALESCE(f.b2 + s3.step, $NEG)
         |      ELSE $NEG END) AS b0,
         |    f.b0 AS b1, f.b1 AS b2
         |  FROM e_${j - 1} f
         |  LEFT JOIN sme s1 ON s1.p = substr(f.w, f.j + 1, 1)
         |  LEFT JOIN sme s2 ON f.j >= 1 AND s2.p = substr(f.w, f.j, 2)
         |  LEFT JOIN sme s3 ON f.j >= 2 AND s3.p = substr(f.w, f.j - 1, 3)
         |  CROSS JOIN unkv u
         |  WHERE f.j < len(f.w))""".stripMargin
    }.mkString(",\n")
    val union = (0 to MaxLen).map(j => s"SELECT * FROM e_$j")
      .mkString("\n  UNION ALL ")
    s"""${unigramTrainCtes(rounds, "WHERE doc_id % 5 <> 0")},
       |sme AS MATERIALIZED (
       |  SELECT pp.p, CAST(round(ln(CAST(pp.cnt + 1 AS DOUBLE) /
       |    CAST(t.tot + t.v AS DOUBLE)) * 1e6) AS BIGINT) * 1024 - 1 AS step
       |  FROM p$rounds pp, tv$rounds t),
       |unkv AS MATERIALIZED (
       |  SELECT CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1e6)
       |    AS BIGINT) * 1024 - 1 AS step
       |  FROM tv$rounds),
       |hw AS MATERIALIZED (
       |  SELECT g, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT source AS g,
       |      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |        x -> len(x) > 0)) AS w
       |    FROM documents WHERE doc_id % 5 = 0)
       |  WHERE len(w) <= 24 AND len(w) >= 1 GROUP BY 1, 2),
       |e_0 AS MATERIALIZED (
       |  SELECT w, 0 AS j, CAST(0 AS BIGINT) AS b0,
       |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2
       |  FROM (SELECT DISTINCT w FROM hw)),
       |$levels,
       |eb AS MATERIALIZED (
       |  SELECT w, (-b0) % 1024 AS toks FROM (
       |  $union) WHERE j = len(w))
       |SELECT hw.g AS source, CAST(SUM(hw.cnt) AS BIGINT) AS n_words,
       |  CAST(SUM(hw.cnt * eb.toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(hw.cnt * len(hw.w)) AS BIGINT) AS n_chars
       |FROM hw JOIN eb USING (w) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Shared CTE prefix of the curation-ledger oracles: the
    * curation_pipeline_docs replay chain with per-stage drop attribution
    * (`led` = one row per input document in its unique (stage, reason)
    * class — the same algebra [[graft.scale.Curation.ledger]] runs).
    */
  private val curationLedgerCte: String =
    """WITH tok AS (
      |  SELECT doc_id, source, text,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n_tokens
      |  FROM tok),
      |q AS (SELECT * FROM b WHERE n_tokens >= 20),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY md5(array_to_string(t, ' '))
      |    ORDER BY doc_id) AS rn
      |  FROM q),
      |d AS (SELECT * FROM r WHERE rn = 1),
      |corp AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
      |evsh AS (
      |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
      |    COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM tok, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)
      |  WHERE doc_id % 20 = 0),
      |csh AS (
      |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
      |    COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM corp, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
      |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN evsh USING (sh)),
      |clean AS (
      |  SELECT * FROM corp
      |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      |u2 AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
      |  THEN source END) AS n_unw FROM clean),
      |r2 AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM clean),
      |mixed AS (
      |  SELECT r2.doc_id, r2.source, r2.n_tokens FROM r2, u2
      |  WHERE r2.rnk <= CASE WHEN r2.source = 'src0'
      |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 200.0) AS BIGINT)
      |    WHEN r2.source = 'src1'
      |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 200.0) AS BIGINT)
      |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
      |      GREATEST(CAST(u2.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE)))
      |      * 200.0) AS BIGINT) END),
      |led AS (
      |  SELECT doc_id, CAST(1 AS INT) AS stage_idx, 'quality' AS stage,
      |    'too_short' AS reason, n_tokens
      |  FROM b WHERE n_tokens < 20
      |  UNION ALL
      |  SELECT doc_id, 2, 'dedup', 'exact_duplicate', n_tokens
      |  FROM r WHERE rn > 1
      |  UNION ALL
      |  SELECT doc_id, 3, 'decontaminate', 'eval_holdout', n_tokens
      |  FROM d WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, 'decontaminate', 'contaminated', n_tokens
      |  FROM corp WHERE doc_id IN (SELECT doc_id FROM bad)
      |  UNION ALL
      |  SELECT doc_id, 4, 'mix', 'over_quota', n_tokens
      |  FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM mixed)
      |  UNION ALL
      |  SELECT doc_id, 5, 'kept', 'kept', n_tokens FROM mixed)""".stripMargin

  /** The unrolled exact-integer perceptron epochs shared by every
    * hashed-linear-trainer oracle: each round scores against w_{k-1}
    * over CTEs named `lab`(doc_id, y) and `ft`(doc_id, b, cnt), takes
    * the class-balanced quantized gradient, and emits w_k — the SQL
    * replica of [[graft.scale.TextAnalysis.trainHashedLinearFromFeatures]].
    */
  private def trainerEpochCtes(epochs: Int): String =
    (1 to epochs).map { k =>
      s""",
         |s$k AS MATERIALIZED (
         |  SELECT l.doc_id, l.y,
         |    CAST(COALESCE(SUM(f.cnt * wp.w), 0) AS BIGINT) AS score
         |  FROM lab l
         |  LEFT JOIN ft f ON f.doc_id = l.doc_id
         |  LEFT JOIN w${k - 1} wp ON wp.b = f.b
         |  GROUP BY 1, 2),
         |e$k AS MATERIALIZED (SELECT doc_id, y,
         |  y - CASE WHEN score > 0 THEN 1 ELSE 0 END AS err FROM s$k),
         |n$k AS MATERIALIZED (
         |  SELECT CAST(SUM(CASE WHEN err = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS npe,
         |    CAST(SUM(CASE WHEN err = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nne
         |  FROM e$k),
         |g$k AS MATERIALIZED (
         |  SELECT f.b,
         |    CAST(SUM(CASE WHEN e.err = 1 THEN f.cnt ELSE 0 END) AS BIGINT)
         |      AS pg,
         |    CAST(SUM(CASE WHEN e.err = -1 THEN f.cnt ELSE 0 END) AS BIGINT)
         |      AS ng
         |  FROM ft f JOIN e$k e ON e.doc_id = f.doc_id
         |  WHERE e.err <> 0 GROUP BY f.b),
         |w$k AS MATERIALIZED (
         |  SELECT wp.b, wp.w +
         |    ((CASE WHEN n.npe > 0 THEN (1000 * COALESCE(g.pg, 0)) // n.npe
         |        ELSE 0 END -
         |      CASE WHEN n.nne > 0 THEN (1000 * COALESCE(g.ng, 0)) // n.nne
         |        ELSE 0 END) // $k) AS w
         |  FROM w${k - 1} wp
         |  LEFT JOIN g$k g ON g.b = wp.b
         |  CROSS JOIN n$k n)""".stripMargin
    }.mkString

  /** Trained + heuristic language-ID accuracy replay: the SAME planted
    * multilingual fixture (per-doc language by doc_id % 5, its marker
    * tokens kept under a per-(doc, marker) md5 %3 dropout, prefixed to
    * the body text), the SAME md5(doc:li) %4 split, the char-3-gram
    * bucket features of the first 120 lowered chars through the shared
    * [[trainerEpochCtes]], and the [[graft.scale.TextAnalysis.languageId]]
    * marker-argmax (with its larger-lang tiebreak) binary-ized against
    * the same held-out quarter.
    */
  private def langidTrainedOracleSql(epochs: Int): String = {
    val markerExprs = graft.scale.TextAnalysis.LangMarkers.flatMap {
      case (lang, ms) => ms.zipWithIndex.map { case (m, j) =>
        s"CASE WHEN plang = '$lang' AND CAST(('0x' || " +
          s"substring(md5(CAST(doc_id AS VARCHAR) || ':mk:$lang:$j'), " +
          s"1, 15)) AS BIGINT) % 3 > 0 THEN '$m' END"
      }
    }.mkString(",\n      ")
    val scoreCols = graft.scale.TextAnalysis.LangMarkers.map {
      case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(tk, x -> x IN ($lst))) AS s_$lang"
    }.mkString(",\n    ")
    val head =
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ['en', 'es', 'de', 'fr', 'zh'][CAST(doc_id % 5 AS INT) + 1]
         |      AS plang
         |  FROM documents),
         |tx AS MATERIALIZED (
         |  SELECT doc_id, plang,
         |    concat_ws(' ',
         |      $markerExprs,
         |      text) AS t2
         |  FROM base),
         |spl AS MATERIALIZED (
         |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
         |    AS VARCHAR) || ':li'), 1, 15)) AS BIGINT) % 4 AS sp
         |  FROM base),
         |lab AS MATERIALIZED (
         |  SELECT t.doc_id, CAST(t.plang = 'en' AS BIGINT) AS y
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id WHERE s.sp <= 2),
         |sub AS MATERIALIZED (
         |  SELECT t.doc_id, s.sp, substring(lower(t.t2), 1, 120) AS ss
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id),
         |gr AS MATERIALIZED (
         |  SELECT doc_id, sp, substring(ss, CAST(i AS INT), 3) AS g
         |  FROM sub,
         |    UNNEST(range(1, GREATEST(length(ss) - 2, 1) + 1)) AS u(i)),
         |ft AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024
         |      AS b,
         |    CAST(1 AS BIGINT) AS cnt
         |  FROM gr WHERE sp <= 2 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM lab),
         |w0 AS MATERIALIZED (
         |  SELECT CAST(UNNEST(range(0, 1025)) AS BIGINT) AS b,
         |    CAST(0 AS BIGINT) AS w)""".stripMargin
    val tail =
      s""",
         |hx AS MATERIALIZED (
         |  SELECT t.doc_id, CAST(t.plang = 'en' AS BIGINT) AS y,
         |    list_filter(string_split_regex(lower(t.t2), '\\s+'),
         |      x -> len(x) > 0) AS tk
         |  FROM tx t JOIN spl s ON s.doc_id = t.doc_id WHERE s.sp = 3),
         |hsc AS (
         |  SELECT doc_id, y,
         |    $scoreCols
         |  FROM hx),
         |hp AS (
         |  SELECT doc_id, y,
         |    CASE WHEN gmax = 0 THEN 0
         |      WHEN s_zh = gmax THEN 0
         |      WHEN s_fr = gmax THEN 0
         |      WHEN s_es = gmax THEN 0
         |      WHEN s_en = gmax THEN 1
         |      ELSE 0 END AS h
         |  FROM (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax
         |        FROM hsc)),
         |fts AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024
         |      AS b,
         |    CAST(1 AS BIGINT) AS cnt
         |  FROM gr WHERE sp = 3 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM hx),
         |sct AS MATERIALIZED (
         |  SELECT x.doc_id,
         |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
         |  FROM hx x
         |  LEFT JOIN fts f ON f.doc_id = x.doc_id
         |  LEFT JOIN w$epochs wf ON wf.b = f.b
         |  GROUP BY 1),
         |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
         |SELECT MIN(ntr.n_train) AS n_train,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN (CASE WHEN s.score > 0 THEN 1 ELSE 0 END)
         |    = p.y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN (CASE WHEN s.score > 0 THEN 1
         |    ELSE 0 END) = p.y THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS accuracy,
         |  CAST(SUM(CASE WHEN p.h = p.y THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct_heuristic,
         |  ROUND(CAST(SUM(CASE WHEN p.h = p.y THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS heuristic_accuracy
         |FROM hp p JOIN sct s ON s.doc_id = p.doc_id
         |CROSS JOIN ntr""".stripMargin
    s"$head${trainerEpochCtes(epochs)}$tail"
  }

  /** Mechanically unrolled perceptron-training oracle (same unroll idiom as
    * [[bpeTrainOracle]]): per epoch, a (scores → errors → gradient → new
    * weights) CTE quartet over the hashed features, starting from the zero
    * vector. `calibration = false` emits the per-epoch log;
    * `calibration = true` emits the exact-integer calibration curve of the
    * final weights (bound B = max|w| from the replayed weight table).
    */
  private def classifierTrainOracle(
      epochs: Int, mode: String): String = {
    // conformal/mondrian modes train on the md5(doc_id:cf) % 4 <= 1
    // split only; the other modes train on the whole corpus (empty
    // filter)
    val f =
      if (mode == "conformal" || mode == "mondrian")
        "\n  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)" +
          " || ':cf'), 1, 15)) AS BIGINT) % 4 <= 1"
      else ""
    val head =
      """WITH lab AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(list_contains(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0), 'spark') AS BIGINT) AS y
        |  FROM documents__F__),
        |toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents__F__),
        |ft AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024 AS b,
        |    CAST(1 AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2
        |  UNION ALL
        |  SELECT doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM documents__F__),
        |w0 AS MATERIALIZED (SELECT CAST(UNNEST(range(0, 1025)) AS BIGINT) AS b,
        |  CAST(0 AS BIGINT) AS w)""".stripMargin.replace("__F__", f)
    val epochCtes = trainerEpochCtes(epochs)
    val tail =
      if (mode == "train") {
        val unions = (1 to epochs).map { k =>
          s"""SELECT CAST($k AS INT) AS epoch,
             |  CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             |  CAST(SUM(CASE WHEN err = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_err,
             |  CAST(SUM(CASE WHEN err = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_err,
             |  ROUND(CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS accuracy,
             |  (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w$k) AS w_abs_sum
             |FROM e$k""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"\nSELECT * FROM (\n$unions\n) ORDER BY epoch"
      } else if (mode == "conformal") {
        // score the NON-train splits with the final weights, take the
        // exact k = ceil((n_cal+1)*9/10) order statistic of calibration
        // nonconformity, measure holdout coverage + set size. Constants
        // fold through MIN (no GROUP BY), so an empty holdout still
        // yields the one diagnostic row — mirroring the Spark agg.
        s""",
           |spl AS MATERIALIZED (
           |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
           |    AS VARCHAR) || ':cf'), 1, 15)) AS BIGINT) % 4 AS sp
           |  FROM documents),
           |labA AS MATERIALIZED (
           |  SELECT d.doc_id, s.sp,
           |    CAST(list_contains(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0), 'spark')
           |      AS BIGINT) AS y
           |  FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |  WHERE s.sp >= 2),
           |ftA AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           |      % 1024 AS b,
           |    CAST(1 AS BIGINT) AS cnt
           |  FROM (
           |    SELECT d.doc_id, unnest(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0)) AS tok
           |    FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |    WHERE s.sp >= 2)
           |  GROUP BY 1, 2
           |  UNION ALL
           |  SELECT l.doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
           |  FROM labA l),
           |scA AS MATERIALIZED (
           |  SELECT l.doc_id, l.y, l.sp,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
           |  FROM labA l
           |  LEFT JOIN ftA f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2, 3),
           |al AS MATERIALIZED (
           |  SELECT doc_id, sp, score, (1 - 2 * y) * score AS alpha
           |  FROM scA),
           |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM al
           |  WHERE sp = 2),
           |kk AS (SELECT n_cal,
           |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
           |qq AS (
           |  SELECT MIN(alpha) AS q_hat FROM (
           |    SELECT alpha, CAST(SUM(cnt) OVER (ORDER BY alpha)
           |      AS BIGINT) AS cum
           |    FROM (SELECT alpha, CAST(COUNT(*) AS BIGINT) AS cnt
           |          FROM al WHERE sp = 2 GROUP BY alpha)) c, kk
           |  WHERE c.cum >= kk.k_rank),
           |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
           |SELECT MIN(ntr.n_train) AS n_train, MIN(kk.n_cal) AS n_cal,
           |  MIN(kk.k_rank) AS k_rank, MIN(qq.q_hat) AS q_hat,
           |  CAST(COUNT(h.doc_id) AS BIGINT) AS n_test,
           |  CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_covered,
           |  ROUND(CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0
           |    END) AS DOUBLE) / COUNT(h.doc_id), 6) AS coverage,
           |  0.9 AS target,
           |  ROUND(CAST(SUM((CASE WHEN -h.score <= qq.q_hat THEN 1
           |      ELSE 0 END) +
           |    (CASE WHEN h.score <= qq.q_hat THEN 1 ELSE 0 END))
           |    AS DOUBLE) / COUNT(h.doc_id), 6) AS avg_set_size
           |FROM (SELECT * FROM al WHERE sp = 3) h, ntr, kk, qq""".stripMargin
      } else if (mode == "mondrian") {
        // per-class quantile: the same non-train scoring, but the rank
        // runs WITHIN each true class (PARTITION BY y over the
        // calibration alpha dictionary) and coverage is measured per
        // holdout class; a class with k > n_cal reports NULL q_hat and
        // NULL coverage
        s""",
           |spl AS MATERIALIZED (
           |  SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id
           |    AS VARCHAR) || ':cf'), 1, 15)) AS BIGINT) % 4 AS sp
           |  FROM documents),
           |labA AS MATERIALIZED (
           |  SELECT d.doc_id, s.sp,
           |    CAST(list_contains(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0), 'spark')
           |      AS BIGINT) AS y
           |  FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |  WHERE s.sp >= 2),
           |ftA AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           |      % 1024 AS b,
           |    CAST(1 AS BIGINT) AS cnt
           |  FROM (
           |    SELECT d.doc_id, unnest(list_filter(string_split_regex(
           |      lower(d.text), '\\s+'), x -> len(x) > 0)) AS tok
           |    FROM documents d JOIN spl s ON s.doc_id = d.doc_id
           |    WHERE s.sp >= 2)
           |  GROUP BY 1, 2
           |  UNION ALL
           |  SELECT l.doc_id, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
           |  FROM labA l),
           |scA AS MATERIALIZED (
           |  SELECT l.doc_id, l.y, l.sp,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score
           |  FROM labA l
           |  LEFT JOIN ftA f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2, 3),
           |al AS MATERIALIZED (
           |  SELECT doc_id, y, sp, (1 - 2 * y) * score AS alpha
           |  FROM scA),
           |nc AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_cal
           |  FROM al WHERE sp = 2 GROUP BY y),
           |kk AS (SELECT y, n_cal,
           |  ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM nc),
           |qq AS (
           |  SELECT c.y, MIN(c.alpha) AS q_hat FROM (
           |    SELECT y, alpha, CAST(SUM(cnt) OVER (PARTITION BY y
           |      ORDER BY alpha) AS BIGINT) AS cum
           |    FROM (SELECT y, alpha, CAST(COUNT(*) AS BIGINT) AS cnt
           |          FROM al WHERE sp = 2 GROUP BY y, alpha)) c
           |  JOIN kk ON kk.y = c.y
           |  WHERE c.cum >= kk.k_rank GROUP BY c.y),
           |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM lab)
           |SELECT h.y, MIN(ntr.n_train) AS n_train,
           |  MIN(kk.n_cal) AS n_cal, MIN(kk.k_rank) AS k_rank,
           |  MIN(qq.q_hat) AS q_hat,
           |  CAST(COUNT(*) AS BIGINT) AS n_test,
           |  CASE WHEN MIN(qq.q_hat) IS NOT NULL THEN
           |    CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1 ELSE 0 END)
           |      AS BIGINT) END AS n_covered,
           |  CASE WHEN MIN(qq.q_hat) IS NOT NULL THEN
           |    ROUND(CAST(SUM(CASE WHEN h.alpha <= qq.q_hat THEN 1
           |      ELSE 0 END) AS DOUBLE) / COUNT(*), 6) END AS coverage,
           |  0.9 AS target
           |FROM (SELECT * FROM al WHERE sp = 3) h
           |LEFT JOIN kk ON kk.y = h.y
           |LEFT JOIN qq ON qq.y = h.y
           |CROSS JOIN ntr
           |GROUP BY h.y ORDER BY h.y""".stripMargin
      } else {
        s""",
           |bnd AS MATERIALIZED (SELECT GREATEST(CAST(1 AS BIGINT), MAX(ABS(w))) AS bv
           |  FROM w$epochs),
           |sc AS MATERIALIZED (
           |  SELECT l.doc_id, l.y,
           |    CAST(COALESCE(SUM(f.cnt * wf.w), 0) AS BIGINT) AS score,
           |    CAST(COALESCE(SUM(f.cnt), 0) AS BIGINT) AS n_feats
           |  FROM lab l
           |  LEFT JOIN ft f ON f.doc_id = l.doc_id
           |  LEFT JOIN w$epochs wf ON wf.b = f.b
           |  GROUP BY 1, 2),
           |binned AS MATERIALIZED (
           |  SELECT ((score + bv * n_feats) * 10) // (2 * bv * n_feats + 1)
           |    AS bin, y, score, n_feats
           |  FROM sc CROSS JOIN bnd)
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           |  CASE WHEN SUM(n_feats) > 0
           |    THEN ROUND(CAST(SUM(score) AS DOUBLE) / SUM(n_feats), 6)
           |  END AS mean_score,
           |  CAST(SUM(y) AS BIGINT) AS n_pos,
           |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
           |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
      }
    s"$head$epochCtes$tail"
  }

  /** Mechanically unrolled N-round BPE-trainer oracle: DuckDB has no
    * iterate-with-aggregation construct, so each round is its own CTE
    * triple (pair counts → arg-max pair → merged vocab state), chained
    * exactly like the Spark loop in [[TextAnalysis.bpeTrain]] — same
    * U+0001-delimited symbol state, same literal `replace`, same
    * (count desc, pair asc) tiebreak.
    */
  private def bpeTrainOracle(rounds: Int): String = {
    val head =
      """WITH v1 AS (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val next =
        if (r < rounds)
          s""",
             |v${r + 1} AS (
             |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
             |    chr(1) || l || r2 || chr(1)) AS s, freq
             |  FROM v$r CROSS JOIN t$r)""".stripMargin
        else ""
      s""",
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |  GROUP BY l, r2 ORDER BY c DESC, l, r2 LIMIT 1)$next""".stripMargin
    }.mkString
    val unions = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, l AS sym_l, r2 AS sym_r, " +
        s"l || r2 AS merged, c AS n_occurrences FROM t$r"
    }.mkString("\nUNION ALL\n")
    s"$head$roundCtes\nSELECT * FROM (\n$unions\n) ORDER BY round"
  }

  /** Shared CTE chain of the BPE-application oracles: trained merges →
    * word→token-count dict → per-`groupCol` encode counts (`enc(g,
    * n_words, n_tokens, n_chars)`).
    */
  private def bpeEncCtes(rounds: Int, groupCol: String): String = {
    val head =
      """WITH v1 AS (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |  GROUP BY l, r2 ORDER BY c DESC, l, r2 LIMIT 1),
         |v${r + 1} AS (
         |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
         |    chr(1) || l || r2 || chr(1)) AS s, freq
         |  FROM v$r CROSS JOIN t$r)""".stripMargin
    }.mkString
    val tail =
      s""",
         |dict AS (
         |  SELECT replace(s, chr(1), '') AS w,
         |    CAST(len(list_filter(string_split(s, chr(1)), x -> len(x) > 0))
         |      AS BIGINT) AS nt
         |  FROM v${rounds + 1}),
         |wd AS (
         |  SELECT $groupCol AS g,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents),
         |enc AS (
         |  SELECT wd.g, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(d.nt) AS BIGINT) AS n_tokens,
         |    CAST(SUM(len(wd.w)) AS BIGINT) AS n_chars
         |  FROM wd JOIN dict d ON wd.w = d.w
         |  WHERE NOT contains(wd.w, chr(1))
         |  GROUP BY 1)""".stripMargin
    s"$head$roundCtes$tail"
  }

  /** Encode oracle: the same unrolled trainer CTEs as [[bpeTrainOracle]]
    * but carrying the vocabulary state through the LAST merge (v_{N+1}),
    * then the final vocab becomes the word → token-count dictionary and
    * per-source mass is one join of exploded words against it — the exact
    * SQL mirror of [[TextAnalysis.bpeEncode]].
    */
  private def bpeEncodeOracle(rounds: Int): String =
    s"""${bpeEncCtes(rounds, "source")}
       |SELECT g AS source, n_words, n_tokens, n_chars
       |FROM enc ORDER BY 1""".stripMargin

  /** WordPiece-trainer CTE chain: the BPE chain with each round's
    * arg-max over the exact quantized likelihood gain — per round a
    * symbol-count CTE joins the pair counts and gain_q =
    * floor(c·1e12/(cl·cr)) rides HUGEINT (mirrors
    * [[TextAnalysis.wordpieceTrainWithVocab]] term for term, including
    * the (gain desc, count desc, pair asc) tiebreak).
    */
  private def wordpieceCtes(rounds: Int): String = {
    val head =
      """WITH v1 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
        |    freq
        |  FROM (
        |    SELECT w, COUNT(*) AS freq
        |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> len(x) > 0)) AS w FROM documents)
        |    WHERE NOT contains(w, chr(1))
        |    GROUP BY w))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |sc$r AS (
         |  SELECT sym, CAST(SUM(freq) AS BIGINT) AS sc FROM (
         |    SELECT unnest(list_filter(string_split(s, chr(1)),
         |      x -> len(x) > 0)) AS sym, freq
         |    FROM v$r)
         |  GROUP BY sym),
         |p$r AS (
         |  SELECT list_extract(sy, CAST(i AS INT)) AS l,
         |    list_extract(sy, CAST(i + 1 AS INT)) AS r2, freq
         |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> len(x) > 0)
         |          AS sy, freq FROM v$r),
         |    UNNEST(range(1, len(sy))) AS u(i)),
         |t$r AS (
         |  SELECT pc.l, pc.r2, pc.c,
         |    CAST(CAST(pc.c AS HUGEINT) * 1000000000000
         |      // (CAST(a.sc AS HUGEINT) * b.sc) AS BIGINT) AS gain_q
         |  FROM (SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM p$r
         |        GROUP BY l, r2) pc
         |  JOIN sc$r a ON a.sym = pc.l
         |  JOIN sc$r b ON b.sym = pc.r2
         |  ORDER BY gain_q DESC, pc.c DESC, pc.l, pc.r2 LIMIT 1),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT replace(s, chr(1) || l || chr(1) || chr(1) || r2 || chr(1),
         |    chr(1) || l || r2 || chr(1)) AS s, freq
         |  FROM v$r CROSS JOIN t$r)""".stripMargin
    }.mkString
    s"$head$roundCtes"
  }

  private def wordpieceTrainOracle(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, l AS sym_l, r2 AS sym_r, " +
        s"l || r2 AS merged, c AS n_occurrences, gain_q FROM t$r"
    }.mkString("\nUNION ALL\n")
    s"${wordpieceCtes(rounds)}\nSELECT * FROM (\n$unions\n) ORDER BY round"
  }

  private def wordpieceEncodeOracle(rounds: Int): String =
    s"""${wordpieceCtes(rounds)},
       |dict AS (
       |  SELECT replace(s, chr(1), '') AS w,
       |    CAST(len(list_filter(string_split(s, chr(1)), x -> len(x) > 0))
       |      AS BIGINT) AS nt
       |  FROM v${rounds + 1}),
       |wd AS (
       |  SELECT source AS g,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT wd.g, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(d.nt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(len(wd.w)) AS BIGINT) AS n_chars
       |  FROM wd JOIN dict d ON wd.w = d.w
       |  WHERE NOT contains(wd.w, chr(1))
       |  GROUP BY 1)
       |SELECT g AS source, n_words, n_tokens, n_chars
       |FROM enc ORDER BY 1""".stripMargin

  // ratio/relative-fertility float expressions mirror
  // TextAnalysis.tokenizerFertility verbatim (the benford bit-parity rule)
  private def tokenizerFertilityOracle(rounds: Int): String =
    s"""${bpeEncCtes(rounds, "lang")},
       |tot AS (
       |  SELECT CAST(SUM(n_words) AS BIGINT) AS tw,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tt FROM enc)
       |SELECT g AS lang, n_words, n_tokens, n_chars,
       |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
       |    AS fertility,
       |  ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS chars_per_token,
       |  ROUND((CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE))
       |    / (CAST(tt AS DOUBLE) / CAST(tw AS DOUBLE)), 6)
       |    AS fertility_rel
       |FROM enc, tot ORDER BY lang""".stripMargin

  /** Per-order n-gram CTEs (the `repetition_docs` ragged-edge idiom
    * generalized: concat t[i] with COALESCE'd successors, so docs shorter
    * than n contribute one whole-token-list gram), unioned long-format —
    * the SQL mirror of [[TextAnalysis.gopherRepetition]].
    */
  private def gopherRepetitionOracle(minN: Int, maxN: Int): String = {
    val head =
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents)""".stripMargin
    val perN = (minN to maxN).map { n =>
      val tail = (1 until n)
        .map(j => s"COALESCE(' ' || t[i+$j], '')").mkString(", ")
      s""",
         |g$n AS (
         |  SELECT doc_id, concat(t[i], $tail) AS g
         |  FROM toks,
         |    UNNEST(range(1, greatest(len(t) - ${n - 1}, 1) + 1)) AS u(i)),
         |c$n AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g$n GROUP BY 1, 2),
         |a$n AS (
         |  SELECT doc_id, CAST($n AS INT) AS n,
         |    CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
         |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         |    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS dup_cnt
         |  FROM c$n GROUP BY 1)""".stripMargin
    }.mkString
    val unions = (minN to maxN).map(n => s"SELECT * FROM a$n")
      .mkString("\nUNION ALL\n")
    s"$head$perN\nSELECT * FROM (\n$unions\n) ORDER BY doc_id, n"
  }

  // ---- Jensen-Shannon lexical drift between corpus halves ----------------
  // Symmetric, bounded, defined on disjoint vocabularies; add-one
  // smoothing over the union vocabulary, per-token KL terms quantized
  // to exact 1e12 micro-longs so the fold is associative.
  private val jsDivergenceDocs = QuerySpec("js_divergence_docs", (s, dir) => {
    val docs = t(s, dir, "documents")
    TextAnalysis.jsDivergence(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") =!= "en"), "text")
  },
    // Jensen-Shannon drift replay — shared by the batch query and
    // the streaming twin (the drained Complete-mode (tok, ca, cb)
    // state IS the batch dictionary).
    """WITH tk AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ina,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0)) AS tok
      |  FROM documents),
      |d AS (
      |  SELECT tok, CAST(SUM(ina) AS BIGINT) AS ca,
      |    CAST(SUM(1 - ina) AS BIGINT) AS cb
      |  FROM tk GROUP BY tok),
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
      |    CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM d),
      |p AS (
      |  SELECT v, na, nb,
      |    CAST(ca + 1 AS DOUBLE) / (na + v) AS pa,
      |    CAST(cb + 1 AS DOUBLE) / (nb + v) AS pb,
      |    (CAST(ca + 1 AS DOUBLE) / (na + v)
      |      + CAST(cb + 1 AS DOUBLE) / (nb + v)) / 2.0 AS m
      |  FROM d, t),
      |q AS (
      |  SELECT v, na, nb,
      |    CAST(ROUND(pa * ln(pa / m) * 1e12) AS BIGINT) AS ta,
      |    CAST(ROUND(pb * ln(pb / m) * 1e12) AS BIGINT) AS tb
      |  FROM p)
      |SELECT v AS n_vocab, na AS n_tokens_a, nb AS n_tokens_b,
      |  CAST(SUM(ta) AS BIGINT) AS kl_a_micro,
      |  CAST(SUM(tb) AS BIGINT) AS kl_b_micro,
      |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2e12, 6) AS jsd
      |FROM q GROUP BY 1, 2, 3""".stripMargin)

  // ---- vocabulary richness: Chao1 + Good-Turing unseen mass -------------
  // Species-richness view of the token distribution: singleton/doubleton
  // tail -> chao1 lower bound on total vocabulary and the Good-Turing
  // probability the next token is new — exact micro-longs from the
  // frequency-of-frequencies dictionary.
  private val vocabRichnessDocs = QuerySpec("vocab_richness_docs", (s, dir) =>
    TextAnalysis.vocabRichness(t(s, dir, "documents"), "text"),
    // vocab richness: frequency-of-frequencies fold, floored micro
    // Vocabulary-richness replay — shared with its token-dictionary-
    // state streaming twin.
    """WITH tok AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\s+'), x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY 1),
      |ag AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM tok)
      |SELECT n_tokens, vocab, f1, f2,
      |  vocab * 1000000 + (f1 * (f1 - 1)) // (2 * (f2 + 1)) * 1000000
      |    + ((f1 * (f1 - 1)) % (2 * (f2 + 1))) * 1000000
      |      // (2 * (f2 + 1)) AS chao1_micro,
      |  (f1 * 1000000) // n_tokens AS gt_unseen_micro
      |FROM ag""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: text quality features -------------------------------------
    QuerySpec("quality_docs", (s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio",
          "stopword_ratio")
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id, length(text) AS nc,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / GREATEST(1, len(t)) AS distinct_ratio,
        |  CAST(len(list_filter(t, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from'))) AS DOUBLE)
        |    / GREATEST(1, len(t)) AS stopword_ratio
        |FROM q ORDER BY doc_id""".stripMargin),

    // ---- scale: language-ID heuristic --------------------------------------
    QuerySpec("lang_id_docs", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang", "pred_lang")
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(t, x -> x IN ('the','a','and','of','order','fast','small'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('el','la','los','de','que','por'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','la','les','et','que','pour'))) AS s_fr,
        |    len(list_filter(t, x -> x IN ('de5','shi4','bu4'))) AS s_zh
        |  FROM q),
        |g AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax FROM sc)
        |SELECT doc_id, lang,
        |  CASE WHEN gmax = 0 THEN 'unknown'
        |    WHEN s_zh = gmax THEN 'zh'
        |    WHEN s_fr = gmax THEN 'fr'
        |    WHEN s_es = gmax THEN 'es'
        |    WHEN s_en = gmax THEN 'en'
        |    ELSE 'de' END AS pred_lang
        |FROM g ORDER BY doc_id""".stripMargin),

    // ---- scale: document fingerprints --------------------------------------
    QuerySpec("fingerprint_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.minShingleFingerprint(col("text"), 3).as("min_shingle_fp"))
        .orderBy(col("doc_id")),
      """WITH q AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM q, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |msf AS (SELECT doc_id, MIN(md5(sh)) AS min_shingle_fp FROM sh GROUP BY doc_id)
        |SELECT q.doc_id, md5(array_to_string(t, ' ')) AS fp, msf.min_shingle_fp
        |FROM q JOIN msf ON q.doc_id = msf.doc_id
        |ORDER BY q.doc_id""".stripMargin),

    // ---- scale: token counting ---------------------------------------------
    QuerySpec("token_count_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          size(TextAnalysis.regexTokens(col("text"))).as("n_re_tokens"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- scale: concat-and-chunk sequence packing ---------------------------
    // The GPT pretraining manifest: documents laid end-to-end in doc_id
    // order, the token stream cut into 256-token context windows, one
    // row per (chunk, doc piece) with offsets. One globalCumSum scaffold
    // pass + a narrow per-doc sequence() explode — output mass is
    // corpus tokens / 256 + one row per doc.
    QuerySpec("pack_sequences_docs", (s, dir) =>
      TextAnalysis.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 256L)
        .orderBy(col("chunk_id"), col("chunk_offset")),
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, nt,
        |    CAST(SUM(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM n WHERE nt > 0),
        |p AS (
        |  SELECT doc_id, nt, cum, cum - nt AS st,
        |    UNNEST(range(CAST((cum - nt) // 256 AS BIGINT),
        |      CAST((cum - 1) // 256 + 1 AS BIGINT))) AS chunk_id
        |  FROM c),
        |q AS (
        |  SELECT chunk_id, doc_id,
        |    GREATEST(st, chunk_id * 256) AS ps,
        |    LEAST(cum, (chunk_id + 1) * 256) AS pe, st
        |  FROM p)
        |SELECT chunk_id, doc_id, ps - st AS doc_offset,
        |  ps - chunk_id * 256 AS chunk_offset, pe - ps AS piece_len
        |FROM q ORDER BY chunk_id, chunk_offset""".stripMargin),

    // ---- ML eval: calibration curve of the hashed linear classifier --------
    // Decile-ish bins by EXACT integer math on (w_sum, n_tokens) — never
    // float bin edges, and the +1000·n offset keeps the dividend
    // non-negative so truncating (Spark DIV) and flooring (DuckDB //)
    // integer division agree.
    QuerySpec("calibration_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
        .withColumn("bin",
          expr("((w_sum + 1000 * n_tokens) * 10) DIV (2001 * n_tokens)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("w_sum")).as("__tw"), sum(col("n_tokens")).as("__tt"),
          sum(col("y")).as("n_pos"))
        .select(col("bin"), col("n"),
          round(col("__tw").cast("double") / col("__tt"), 6)
            .as("mean_score"),
          col("n_pos"),
          round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
        .orderBy(col("bin"))
    },
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
        |  SELECT s.doc_id, s.n_tokens, s.w_sum,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id),
        |b AS (
        |  SELECT ((w_sum + 1000 * n_tokens) * 10) // (2001 * n_tokens)
        |    AS bin, n_tokens, w_sum, y
        |  FROM lab)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(w_sum) AS DOUBLE) / SUM(n_tokens), 6) AS mean_score,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // ---- batching: padding waste, arrival vs length-sorted batches ---------
    QuerySpec("padding_waste_docs", (s, dir) =>
      TextAnalysis.paddingWaste(t(s, dir, "documents"), "doc_id", "text", 32)
        .orderBy(col("strategy")),
      """WITH lens AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0))
        |    AS BIGINT) AS n_tokens
        |  FROM documents),
        |srt AS (
        |  SELECT n_tokens,
        |    (ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1) // 32 AS batch
        |  FROM lens),
        |arr AS (
        |  SELECT n_tokens,
        |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        |  FROM lens),
        |bs AS (
        |  SELECT 'length_sorted' AS strategy, batch, MAX(n_tokens) AS mx,
        |    SUM(n_tokens) AS sm, COUNT(*) AS c
        |  FROM srt GROUP BY batch
        |  UNION ALL
        |  SELECT 'arrival', batch, MAX(n_tokens), SUM(n_tokens), COUNT(*)
        |  FROM arr GROUP BY batch)
        |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |  CAST(SUM(mx * c) AS BIGINT) AS padded_tokens,
        |  CAST(SUM(sm) AS BIGINT) AS real_tokens,
        |  ROUND(CAST(SUM(mx * c) - SUM(sm) AS DOUBLE)
        |    / CAST(SUM(mx * c) AS DOUBLE), 6) AS waste_frac
        |FROM bs GROUP BY strategy ORDER BY strategy""".stripMargin),

    // ---- corpus statistics: Zipf-law fit over token frequencies ------------
    QuerySpec("zipf_fit_docs", (s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", 100),
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        |top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 100),
        |q AS (
        |  SELECT
        |    CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
        |      AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS ly
        |  FROM top),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
        |    CAST(SUM(lx * ly) AS BIGINT) AS sxy,
        |    CAST(SUM(lx * lx) AS BIGINT) AS sxx
        |  FROM q)
        |SELECT n AS n_terms,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0))
        |      * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1e6, 6) AS intercept
        |FROM s""".stripMargin),

    // ---- corpus statistics: n-gram diversity (distinct-1/2/3 ratios) -------
    QuerySpec("ngram_diversity_docs", (s, dir) =>
      TextAnalysis.ngramDiversity(t(s, dir, "documents"), "text", 3)
        .orderBy(col("n")),
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT 1 AS n, COALESCE(t[i], '') AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t), 1) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT 2 AS n,
        |    concat(COALESCE(t[i], ''), COALESCE(' ' || t[i+1], '')) AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT 3 AS n,
        |    concat(COALESCE(t[i], ''), COALESCE(' ' || t[i+1], ''),
        |           COALESCE(' ' || t[i+2], '')) AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
        |cnt AS (SELECT n, g, COUNT(*) AS c FROM grams GROUP BY n, g)
        |SELECT n, CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |  COUNT(*) AS distinct_ngrams,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS distinct_ratio
        |FROM cnt GROUP BY n ORDER BY n""".stripMargin),

    // ---- corpus statistics: vocabulary coverage curve (tokenizer budget) ---
    QuerySpec("vocab_coverage_docs", (s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", 200)
        .orderBy(col("rank")),
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        |top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 200)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |    AS rank,
        |  token, freq,
        |  ROUND(CAST(SUM(freq) OVER (ORDER BY freq DESC, token) AS DOUBLE)
        |    / CAST((SELECT SUM(freq) FROM cnt) AS DOUBLE), 6) AS coverage
        |FROM top ORDER BY rank""".stripMargin),

    // ---- corpus statistics: top-k tokens (explode → count → topk) ----------
    QuerySpec("top_tokens_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20),
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // ---- scale: token-budget shard packing (parallel global cumsum) --------
    QuerySpec("shard_pack_docs", (s, dir) =>
      TextAnalysis.packIntoShards(t(s, dir, "documents"), "doc_id", "text", 1000L)
        .select(col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy(col("doc_id")),
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, (cum - n_tokens) // 1000 AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- BFD sequence packing into fixed context windows -------------------
    // Whole-document packing with power-of-two length buckets: best-fit-
    // decreasing is optimal for divisor-chain sizes (Coffman-Garey-Johnson
    // 1987) and collapses to bins = ceil(volume/C) — exact rounding +
    // tail waste, vs the doc-splitting greedy (shard_pack) and the batch
    // padding account (padding_waste).
    QuerySpec("sequence_pack_docs", (s, dir) =>
      TextAnalysis.bfdPack(t(s, dir, "documents"), "text", 256)
        .orderBy(col("kind"), col("bucket_len")),
      // BFD sequence packing: the divisible-sizes closed form
      """WITH tk AS (
        |  SELECT LEAST(CAST(len(list_filter(string_split_regex(
        |    lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT), 256) AS tl
        |  FROM documents),
        |bk AS (
        |  SELECT tl, CAST(1 AS BIGINT) << list_min(list_filter(
        |    range(0, 9), j -> tl <= CAST(1 AS BIGINT) << j)) AS bl
        |  FROM tk WHERE tl >= 1),
        |agg AS (
        |  SELECT bl AS bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tl) AS BIGINT) AS sum_tokens,
        |    CAST(COUNT(*) * bl AS BIGINT) AS bucket_tokens
        |  FROM bk GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |    CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(SUM(bucket_tokens) AS BIGINT) AS bucket_tokens
        |  FROM agg)
        |SELECT 'bucket' AS kind, bucket_len, n_docs, sum_tokens,
        |  bucket_tokens, bucket_tokens - sum_tokens AS round_waste,
        |  CAST(NULL AS BIGINT) AS n_bins,
        |  CAST(NULL AS BIGINT) AS tail_waste
        |FROM agg
        |UNION ALL
        |SELECT 'total', NULL, n_docs, sum_tokens, bucket_tokens,
        |  bucket_tokens - sum_tokens, (bucket_tokens + 255) // 256,
        |  ((bucket_tokens + 255) // 256) * 256 - bucket_tokens
        |FROM tot
        |ORDER BY kind, bucket_len""".stripMargin),

    // ---- BFD packing MANIFEST (the doc -> window assignment) ---------------
    // Contiguous volume layout in (bucket desc, id) order realizes the
    // same BFD packing per-document: divisor-chain buckets mean no doc
    // ever straddles a C-cut (see TextAnalysis.bfdPackManifest proof).
    QuerySpec("sequence_pack_manifest_docs", (s, dir) =>
      TextAnalysis.bfdPackManifest(t(s, dir, "documents"), "doc_id",
          "text", 256)
        .orderBy(col("doc_id")),
      // BFD manifest: cumulative volume in (bucket desc, id) order
      """WITH tk AS (
        |  SELECT doc_id, LEAST(CAST(len(list_filter(string_split_regex(
        |    lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT), 256)
        |    AS tl
        |  FROM documents),
        |bk AS (
        |  SELECT doc_id, tl, CAST(1 AS BIGINT) << list_min(list_filter(
        |    range(0, 9), j -> tl <= CAST(1 AS BIGINT) << j)) AS bl
        |  FROM tk WHERE tl >= 1),
        |cm AS (
        |  SELECT doc_id, tl, bl,
        |    CAST(SUM(bl) OVER (ORDER BY bl DESC, doc_id) AS BIGINT) - bl
        |      AS v
        |  FROM bk)
        |SELECT doc_id, tl AS n_tokens, bl AS bucket_len,
        |  v // 256 AS window_id, v % 256 AS window_off
        |FROM cm ORDER BY doc_id""".stripMargin),

    // ---- shard release manifest (per-shard stats + content checksums) ------
    QuerySpec("shard_manifest_docs", (s, dir) =>
      TextAnalysis.shardManifest(t(s, dir, "documents"), "doc_id", "text",
          1000L)
        .orderBy(col("shard_id")),
      // manifest: shard assignment replays shard_pack's running-sum floor
      // division; the checksum is the table_checksum 8-hex-draw convention
      // over "doc_id|md5(text)"
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tokens) // 1000 AS shard_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
        |  CAST(SUM(CAST(('0x' || substr(md5(
        |    CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS content_checksum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- scale: Flesch readability panel ------------------------------------
    QuerySpec("readability_docs", (s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // vowel-group syllables (floor 1), [.!?]+ sentence runs (floor 1),
      // formula floats mirror TextAnalysis.readability verbatim
      """WITH base AS (
        |  SELECT doc_id,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(t) AS w FROM base),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))
        |      AS BIGINT) AS n_syll
        |  FROM w GROUP BY 1)
        |SELECT b.doc_id, CAST(b.ns AS BIGINT) AS n_sentences,
        |  COALESCE(a.n_words, 0) AS n_words,
        |  COALESCE(a.n_syll, 0) AS n_syllables,
        |  CASE WHEN COALESCE(a.n_words, 0) > 0
        |    THEN ROUND(206.835
        |      - 1.015 * (CAST(a.n_words AS DOUBLE) / CAST(b.ns AS DOUBLE))
        |      - 84.6 * (CAST(a.n_syll AS DOUBLE)
        |        / CAST(a.n_words AS DOUBLE)), 6)
        |  END AS flesch
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // ---- scale: script / writing-system ID ---------------------------------
    // deterministic multi-script garnish per doc_id residue (the pii_scrub
    // synthetic-span precedent) so every class exercises at any sf
    QuerySpec("script_id_docs", (s, dir) =>
      TextAnalysis.scriptId(t(s, dir, "documents")
          .withColumn("tx", concat(col("text"),
            when(col("doc_id") % 5 === 1, lit(" привет мир"))
              .when(col("doc_id") % 5 === 2, lit(" 你好 世界"))
              .when(col("doc_id") % 5 === 3, lit(" αβγ δε"))
              .when(col("doc_id") % 5 === 4, lit(" 0123 456789"))
              .otherwise(lit("")))),
        "doc_id", "tx")
        .orderBy(col("doc_id")),
      // explicit codepoint ranges mirror ScriptRanges; argmax tiebreak =
      // (count DESC, name DESC), the array_max-over-structs semantics
      {
          val ranges = Seq(
            "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
            "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
            "greek" -> "[\\x{0370}-\\x{03FF}]",
            "arabic" -> "[\\x{0600}-\\x{06FF}]",
            "hebrew" -> "[\\x{0590}-\\x{05FF}]",
            "devanagari" -> "[\\x{0900}-\\x{097F}]",
            "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]",
            "hangul" -> "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]",
            "digit" -> "[0-9]")
          val cnts = ranges.map { case (n, re) =>
            s"len(tx) - len(regexp_replace(tx, '$re', '', 'g')) AS n_$n"
          }.mkString(",\n    ")
          val unions = ranges.map { case (n, _) =>
            s"SELECT doc_id, n_$n AS s, '$n' AS l FROM c"
          }.mkString("\n  UNION ALL ")
          val outCols = ranges.map { case (n, _) => s"c.n_$n" }.mkString(", ")
          s"""WITH base AS (
             |  SELECT doc_id, text ||
             |    CASE doc_id % 5
             |      WHEN 1 THEN ' привет мир'
             |      WHEN 2 THEN ' 你好 世界'
             |      WHEN 3 THEN ' αβγ δε'
             |      WHEN 4 THEN ' 0123 456789'
             |      ELSE '' END AS tx
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, len(tx) AS n_chars,
             |    $cnts
             |  FROM base),
             |u AS (
             |  $unions),
             |rk AS (
             |  SELECT doc_id, s, l,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY s DESC, l DESC) AS rk,
             |    SUM(s) OVER (PARTITION BY doc_id) AS tot
             |  FROM u)
             |SELECT c.doc_id, c.n_chars, $outCols,
             |  CASE WHEN r.s > 0 THEN r.l ELSE 'unknown' END AS script,
             |  ROUND(CASE WHEN r.tot > 0 THEN CAST(r.s AS DOUBLE) / r.tot
             |    ELSE 0.0 END, 6) AS script_frac
             |FROM c JOIN rk r ON c.doc_id = r.doc_id AND r.rk = 1
             |ORDER BY c.doc_id""".stripMargin
        }),

    // ---- scale: repetition quality signal (top-bigram fraction) ------------
    QuerySpec("repetition_docs", (s, dir) =>
      TextAnalysis.repetitionScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, concat(t[i], COALESCE(' ' || t[i+1], '')) AS bg
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)),
        |c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
        |a AS (
        |  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
        |    CAST(SUM(cnt) AS BIGINT) AS n_bigrams
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, top_bigram_n, n_bigrams,
        |  ROUND(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
        |FROM a ORDER BY doc_id""".stripMargin),

    // ---- scale: corpus-frequency rarity score ------------------------------
    QuerySpec("corpus_freq_docs", (s, dir) =>
      TextAnalysis.corpusFrequencyScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(CAST(SUM(f.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_tok_freq
        |FROM tok t JOIN freq f ON t.tok = f.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ---- scale: PII scrubbing (synthetic spans injected deterministically) -
    QuerySpec("pii_scrub_docs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(
            col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234"))).as("clean_text"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.com or 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234',
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- scale: checksum-validated PII detection (Luhn + IBAN mod-97) -----
    // Precision upgrade over the shape-only scrub: injected valid/invalid
    // card and IBAN spans per doc_id residue (plus too-short/too-long
    // digit-run decoys) — only checksum-passing candidates flag.
    QuerySpec("pii_luhn_docs", (s, dir) =>
      TextAnalysis.piiChecksums(
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 7 === 1,
                lit(" card 4532015112830366 ok"))
                .when(col("doc_id") % 7 === 2,
                  lit(" card 4532015112830367 bad"))
                .when(col("doc_id") % 7 === 3,
                  lit(" pay GB82WEST12345698765432 now"))
                .when(col("doc_id") % 7 === 4,
                  lit(" pay GB82WEST12345698765431 now"))
                .when(col("doc_id") % 7 === 5,
                  lit(" n 123456789012 x 12345678901234567890"))
                .otherwise(lit(""))).as("tx")),
        "doc_id", "tx")
        .orderBy(col("doc_id"), col("kind"), col("token")),
      // Luhn is a SUM of independent per-position terms (list_sum); the
      // IBAN mod-97 is a seeded sequential fold (list_prepend + list_reduce
      // — DuckDB's reduce seeds from the first element)
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 1 THEN ' card 4532015112830366 ok'
        |         WHEN doc_id % 7 = 2 THEN ' card 4532015112830367 bad'
        |         WHEN doc_id % 7 = 3 THEN ' pay GB82WEST12345698765432 now'
        |         WHEN doc_id % 7 = 4 THEN ' pay GB82WEST12345698765431 now'
        |         WHEN doc_id % 7 = 5
        |           THEN ' n 123456789012 x 12345678901234567890'
        |         ELSE '' END AS tx
        |  FROM documents),
        |cards AS (
        |  SELECT doc_id, unnest(regexp_extract_all(tx, '[0-9]+')) AS token
        |  FROM d),
        |cardv AS (
        |  SELECT doc_id, 'card' AS kind, token,
        |    CAST(list_sum(list_transform(range(1, len(token) + 1), j ->
        |      CASE WHEN (len(token) - j) % 2 = 1 THEN
        |        CASE WHEN ascii(substring(token, CAST(j AS INT), 1))
        |            - 48 >= 5
        |          THEN 2 * (ascii(substring(token, CAST(j AS INT), 1))
        |            - 48) - 9
        |          ELSE 2 * (ascii(substring(token, CAST(j AS INT), 1))
        |            - 48) END
        |      ELSE ascii(substring(token, CAST(j AS INT), 1)) - 48 END))
        |      AS BIGINT) % 10 = 0 AS valid
        |  FROM cards WHERE len(token) BETWEEN 13 AND 19),
        |ib AS (
        |  SELECT doc_id, unnest(regexp_extract_all(tx, '[A-Z0-9]+'))
        |    AS token
        |  FROM d),
        |ibr AS (
        |  SELECT doc_id, token,
        |    substring(token, 5) || substring(token, 1, 4) AS re
        |  FROM ib
        |  WHERE regexp_matches(token, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$')),
        |ibv AS (
        |  SELECT doc_id, 'iban' AS kind, token,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(re) + 1), j ->
        |        CASE WHEN ascii(substring(re, CAST(j AS INT), 1)) >= 65
        |          THEN CAST(ascii(substring(re, CAST(j AS INT), 1)) - 55
        |            AS BIGINT)
        |          ELSE CAST(ascii(substring(re, CAST(j AS INT), 1)) - 48
        |            AS BIGINT) END)),
        |      (acc, c) -> CASE WHEN c < 10 THEN (acc * 10 + c) % 97
        |        ELSE (acc * 100 + c) % 97 END) = 1 AS valid
        |  FROM ibr)
        |SELECT doc_id, kind, token, valid FROM (
        |  SELECT * FROM cardv UNION ALL SELECT * FROM ibv)
        |ORDER BY doc_id, kind, token""".stripMargin),

    // ---- Gopher repetition rule family (quality screens) -------------------
    QuerySpec("gopher_repetition_docs", (s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("n")),
      gopherRepetitionOracle(2, 6)),

    // ---- scale: TF·rarity top-terms per document (log-free tf-idf) ---------
    QuerySpec("tfidf_top_terms_docs", (s, dir) =>
      TextAnalysis.rarityTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rk")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |dt AS (
        |  SELECT doc_id, t[i] AS term, COUNT(*) AS tf
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
        |  GROUP BY doc_id, t[i]),
        |dfreq AS (SELECT term, COUNT(*) AS df_cnt FROM dt GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT dt.doc_id, dt.term, dt.tf, dfreq.df_cnt,
        |    ROUND(CAST(dt.tf * n.n_docs AS DOUBLE) / dfreq.df_cnt, 6) AS score
        |  FROM dt JOIN dfreq USING (term) CROSS JOIN n),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df_cnt AS BIGINT) AS df_cnt, score
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // ---- corpus bigram conditional stats (collocation mining) --------------
    QuerySpec("bigram_stats_docs", (s, dir) =>
      TextAnalysis.bigramStats(t(s, dir, "documents"), "text", 20),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bg0 AS (
        |  SELECT concat(t[i], COALESCE(' ' || t[i+1], '')) AS bg
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)),
        |bg AS (
        |  SELECT bg, string_split(bg, ' ')[1] AS w1 FROM bg0
        |  WHERE len(string_split(bg, ' ')) = 2),
        |c AS (SELECT bg, w1, COUNT(*) AS cnt FROM bg GROUP BY bg, w1),
        |l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_cnt FROM c GROUP BY w1)
        |SELECT c.bg, c.cnt, l.w1_cnt,
        |  ROUND(CAST(c.cnt AS DOUBLE) / l.w1_cnt, 6) AS p_cond
        |FROM c JOIN l ON c.w1 = l.w1
        |ORDER BY c.cnt DESC, c.bg LIMIT 20""".stripMargin),

    // ---- BPE first-merge pair statistics (tokenizer training step) ---------
    QuerySpec("bpe_merge_docs", (s, dir) =>
      TextAnalysis.bpeMergeStats(t(s, dir, "documents"), "text", 20),
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS w
        |  FROM documents),
        |wf AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM wf, UNNEST(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin),

    // ---- full iterative BPE trainer: 8 merge rounds over the vocab ---------
    // ---- tokenizer training: unigram-LM (SentencePiece) EM-pruning --------
    // Kudo ACL'18 beside the BPE trainer: seed substring vocab, 2 hard-EM
    // rounds of optimal-path counting (exact micro-long max-plus Viterbi,
    // tie-inclusive) with 25% multi-char pruning per round; single chars
    // never pruned (see TextAnalysis.unigramLmTrain).
    QuerySpec("unigram_lm_train_docs", (s, dir) =>
      TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
          3, 40, 2, 0.25, 24)
        .orderBy(col("piece")),
      // the unigram-LM trainer replay: recursive-CTE Viterbi DPs
      unigramLmOracle(2)),

    QuerySpec("bpe_train_docs", (s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round")),
      bpeTrainOracle(8)),

    // ---- tokenizer APPLICATION: encode the corpus with the trained BPE -----
    // The merge table is never applied per document: the trainer's final
    // vocabulary becomes a word → token-count dictionary and encoding is
    // one equi-join of exploded words against it. Per-source token mass =
    // the number a shard-packing/budgeting pass actually consumes.
    QuerySpec("bpe_encode_docs", (s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source")),
      bpeEncodeOracle(8)),

    // ---- WordPiece trainer (likelihood-gain merges — the BERT tokenizer) ---
    // The BPE loop with score(a,b) = count(ab)/(count(a)·count(b)) as the
    // exact quantized gain_q = floor(c·1e12/(cl·cr)) — a frequent pair of
    // independently-common symbols loses to a rarer better-than-predicted
    // one. Closes the third tokenizer family (BPE ✓, unigram ✓).
    QuerySpec("wordpiece_train_docs", (s, dir) =>
      TextAnalysis.wordpieceTrain(t(s, dir, "documents"), "text", 8)
        .orderBy(col("round")),
      wordpieceTrainOracle(8)),

    // ---- WordPiece APPLICATION (the bpe_encode dictionary-join shape) ------
    QuerySpec("wordpiece_encode_docs", (s, dir) =>
      TextAnalysis.wordpieceEncode(
          t(s, dir, "documents"), "source", "text", 8)
        .orderBy(col("source")),
      wordpieceEncodeOracle(8)),

    // ---- unigram-LM Viterbi ENCODE (the SentencePiece serving path) --------
    // Train the unigram vocab on the %5<>0 split, segment the HELD-OUT
    // %5=0 docs by max-plus Viterbi (ties -> fewest pieces; unseen chars
    // at the add-one <unk> mass), report per-source token mass — closes
    // the train/encode asymmetry with bpe_encode_docs.
    QuerySpec("unigram_encode_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.unigramEncode(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "source", "text", 3, 40, 2)
        .orderBy(col("source"))
    },
      // the encode half: train CTEs on the %5<>0 split + forward Viterbi
      unigramEncodeOracle(2)),

    // ---- tokenizer fertility / multilingual-fairness panel ------------------
    QuerySpec("tokenizer_fertility_docs", (s, dir) =>
      TextAnalysis.tokenizerFertility(
          t(s, dir, "documents"), "lang", "text", 8)
        .orderBy(col("lang")),
      tokenizerFertilityOracle(8)),

    // ---- overlapping passage windows (retrieval chunking, stride<size) -----
    QuerySpec("passage_windows_docs", (s, dir) =>
      TextAnalysis.passageWindows(t(s, dir, "documents"), "doc_id", "text", 8, 4)
        .orderBy(col("doc_id"), col("win_idx")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i,
        |    array_to_string(t[(i*4+1):(i*4+8)], ' ') AS passage
        |  FROM toks, UNNEST(range(0,
        |    CAST(ceil((greatest(len(t) - 7, 1) - 1) / 4.0) AS INT) + 1)) AS u(i))
        |SELECT doc_id, CAST(i + 1 AS BIGINT) AS win_idx, passage
        |FROM w ORDER BY doc_id, win_idx""".stripMargin),

    // ---- domain-mixture resampling toward a target corpus composition ------
    QuerySpec("domain_mix_docs", (s, dir) => {
      val kept = TextAnalysis.domainMix(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__quota")).as("quota"), count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      """WITH r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents),
        |u AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM documents),
        |q AS (
        |  SELECT source,
        |    CASE WHEN source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 400.0) AS BIGINT)
        |    WHEN source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 400.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(n_unw AS DOUBLE), CAST(1.0 AS DOUBLE))) * 400.0)
        |      AS BIGINT) END AS quota
        |  FROM (SELECT DISTINCT source FROM documents), u)
        |SELECT r.source, MAX(q.quota) AS quota, COUNT(*) AS n_kept
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rnk <= q.quota
        |GROUP BY r.source ORDER BY r.source""".stripMargin),

    // ---- temperature-based domain resampling (mC4/XLM-R balancing) ---------
    QuerySpec("temperature_mix_docs", (s, dir) => {
      val kept = TextAnalysis.temperatureMix(
        t(s, dir, "documents"), "source", "doc_id", 400L)
      kept.groupBy(col("source"))
        .agg(max(col("__n")).as("n_total"),
          max(col("__quota")).as("quota"),
          count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      // integer-exact quotas over quantized sqrt weights (sqrt is IEEE
      // correctly rounded -> identical doubles in both engines; everything
      // after the floor is BIGINT arithmetic)
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY source),
        |w AS (
        |  SELECT source, n,
        |    CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |  FROM c),
        |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
        |q AS (
        |  SELECT source, n, (400 * wq) // tw AS quota
        |  FROM w CROSS JOIN tot),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents WHERE source IS NOT NULL)
        |SELECT q.source, CAST(q.n AS BIGINT) AS n_total,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM r JOIN q ON r.source = q.source AND r.rnk <= q.quota
        |GROUP BY q.source, q.n, q.quota
        |ORDER BY q.source""".stripMargin),

    // ---- per-source data-card ("datasheet") summary -------------------------
    QuerySpec("data_card_docs", (s, dir) =>
      TextAnalysis.dataCard(t(s, dir, "documents"), "source", "text", "lang")
        .orderBy(col("source")),
      """WITH tok AS (
        |  SELECT source, lang, len(text) AS n_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS n_toks
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  quantile_cont(n_chars, 0.5) AS p50_chars
        |FROM tok GROUP BY source ORDER BY source""".stripMargin),

    // ---- FLAGSHIP composite: the full LLM-corpus curation pipeline ---------
    // quality gate → exact dedup (fingerprint) → benchmark decontamination
    // → domain mixing → token-budget shard packing, ending in per-shard
    // stats. Every stage is an oracle-proven operator; the composition is
    // the end-to-end DAG a 100 TB pretraining-data build runs.
    QuerySpec("curation_pipeline_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      // 1. quality: at least 20 tokens
      val quality = docs
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens") >= 20)
      // 2. exact dedup: keep the min doc_id per normalized-text fingerprint
      val byFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = quality
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("rn", row_number().over(byFp))
        .filter(col("rn") === 1).drop("rn", "fp")
      // 3. decontaminate against the eval slice (doc_id % 20 == 0)
      val corpus = deduped.filter(col("doc_id") % 20 =!= 0)
      val flags = Dedup.decontaminate(corpus,
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 3)
      val clean = corpus.join(
        flags.filter(!col("contaminated")).select("doc_id"), Seq("doc_id"))
      // 4. domain mixing toward the target composition
      val mixed = TextAnalysis.domainMix(clean, "source", "doc_id",
        Map("src0" -> 0.25, "src1" -> 0.125), 200L)
      // 5. shard packing at a 500-token budget → per-shard stats
      TextAnalysis.packIntoShards(mixed, "doc_id", "text", 500L)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("shard_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM tok WHERE len(t) >= 20),
        |d AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY md5(array_to_string(t, ' '))
        |      ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |corp AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
        |evsh AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM tok, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)
        |  WHERE doc_id % 20 = 0),
        |csh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM corp, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN evsh USING (sh)),
        |clean AS (
        |  SELECT * FROM corp
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |u2 AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM clean),
        |r2 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM clean),
        |mixed AS (
        |  SELECT r2.doc_id, r2.source, r2.n_tokens FROM r2, u2
        |  WHERE r2.rnk <= CASE WHEN r2.source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 200.0) AS BIGINT)
        |    WHEN r2.source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 200.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(u2.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE)))
        |      * 200.0) AS BIGINT) END),
        |packed AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM mixed)
        |SELECT (cum - n_tokens) // 500 AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- curation drop-reason ledger (the pipeline's audit artifact) -------
    // Per-document provenance through the five-stage DAG above: which
    // gate dropped each doc and why — every doc in exactly one (stage,
    // reason) class. The audit table every real 100 TB curation run
    // ships beside the kept corpus; the composite itself discards it.
    QuerySpec("curation_ledger_docs", (s, dir) =>
      graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id", "text",
          "source", 20, 20, Map("src0" -> 0.25, "src1" -> 0.125), 200L)
        .orderBy(col("doc_id")),
      // the ledger replays the pipeline's own CTE chain, emitting the stage
      // attribution instead of the shard stats — every doc exactly one row
      (curationLedgerCte +
        """
          |SELECT doc_id, stage_idx, stage, reason, n_tokens
          |FROM led ORDER BY doc_id""".stripMargin)),

    // ---- curation ledger: per-stage mass roll-up ---------------------------
    // The report table: documents and token mass per (stage, reason).
    QuerySpec("curation_ledger_mass_docs", (s, dir) =>
      graft.scale.Curation.ledgerMass(
          graft.scale.Curation.ledger(t(s, dir, "documents"), "doc_id",
            "text", "source", 20, 20,
            Map("src0" -> 0.25, "src1" -> 0.125), 200L))
        .orderBy(col("stage_idx"), col("reason")),
      (curationLedgerCte +
        """
          |SELECT stage_idx, stage, reason,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          |FROM led GROUP BY 1, 2, 3 ORDER BY stage_idx, reason""".stripMargin)),

    // ---- domain up-sampling with replacement to exact quotas ---------------
    QuerySpec("domain_upsample_docs", (s, dir) => {
      val up = TextAnalysis.domainUpsample(t(s, dir, "documents"),
        "source", "doc_id", Map("src0" -> 0.25, "src1" -> 0.125), 1000L)
      up.groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          countDistinct(col("doc_id")).as("n_source_rows"),
          max(col("__quota")).as("quota"))
        .orderBy(col("source"))
    },
      """WITH r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents),
        |u AS (SELECT COUNT(DISTINCT CASE WHEN source NOT IN ('src0', 'src1')
        |  THEN source END) AS n_unw FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |q AS (
        |  SELECT c.source, c.n,
        |    CASE WHEN c.source = 'src0'
        |      THEN CAST(FLOOR(CAST(0.25 AS DOUBLE) * 1000.0) AS BIGINT)
        |    WHEN c.source = 'src1'
        |      THEN CAST(FLOOR(CAST(0.125 AS DOUBLE) * 1000.0) AS BIGINT)
        |    ELSE CAST(FLOOR((CAST(0.625 AS DOUBLE) /
        |      GREATEST(CAST(u.n_unw AS DOUBLE), CAST(1.0 AS DOUBLE))) * 1000.0)
        |      AS BIGINT) END AS quota
        |  FROM c, u),
        |x AS (
        |  SELECT r.source, r.doc_id,
        |    (q.quota // q.n) + CASE WHEN r.rnk <= q.quota % q.n
        |      THEN 1 ELSE 0 END AS nrep
        |  FROM r JOIN q ON r.source = q.source),
        |e AS (
        |  SELECT source, doc_id FROM x,
        |    UNNEST(range(CAST(GREATEST(nrep, 0) AS BIGINT))) AS t(i))
        |SELECT source, COUNT(*) AS n_emitted,
        |  COUNT(DISTINCT doc_id) AS n_source_rows,
        |  MAX(q2.quota) AS quota
        |FROM e JOIN (SELECT source, quota FROM q) q2 USING (source)
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- BM25-weighted retrieval over a fixed query-term set ---------------
    QuerySpec("bm25_search_docs", (s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("join", "vector", "stream"), 20),
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
        |  SELECT doc_id, dl, ROUND(
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
        |  FROM s)
        |SELECT doc_id, dl, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // ---- RAG composite: passage chunks → passage-grain BM25 → top-k --------
    QuerySpec("rag_retrieve_docs", (s, dir) =>
      TextAnalysis.ragRetrieve(t(s, dir, "documents"), "doc_id", "text",
        8, 4, Seq("merge", "window"), 15),
      // passage windows (size 8, stride 4) then the same BM25 form at passage
      // grain — corpus stats computed over passages, like a passage index
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(i + 1 AS BIGINT) AS win_idx,
        |    t[(i*4+1):(i*4+8)] AS pt
        |  FROM toks, UNNEST(range(0,
        |    CAST(ceil((greatest(len(t) - 7, 1) - 1) / 4.0) AS INT) + 1)) AS u(i)),
        |d AS (
        |  SELECT doc_id, win_idx, array_to_string(pt, ' ') AS passage,
        |    CAST(len(pt) AS BIGINT) AS dl,
        |    CAST(len(list_filter(pt, x -> x = 'merge')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(pt, x -> x = 'window')) AS BIGINT) AS tf1
        |  FROM w),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_dl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
        |  FROM d),
        |s AS (
        |  SELECT d.*, n_docs, df0, df1,
        |    CAST(total_dl AS DOUBLE) / n_docs AS avgdl
        |  FROM d, g),
        |sc AS (
        |  SELECT doc_id, win_idx, dl, passage, ROUND(
        |    ((CAST(n_docs AS DOUBLE) - df0 + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |      * (CAST(tf0 AS DOUBLE) * 2.25) / (CAST(tf0 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |    + ((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |      * (CAST(tf1 AS DOUBLE) * 2.25) / (CAST(tf1 AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |    AS score
        |  FROM s)
        |SELECT doc_id, win_idx, dl, score, passage FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id, win_idx LIMIT 15""".stripMargin),

    // ---- classifier TRAINING: exact-integer batch perceptron ---------------
    // Per-epoch log of the distributed training loop (gradient = keyed
    // aggregation over hashed features; driver holds only the 1024-long
    // weight vector). Label: the document contains the token 'spark' — a
    // text-derivable target (the synthetic corpus draws every lang's text
    // from ONE vocabulary, so metadata labels like lang are independent of
    // the features and unlearnable by construction). Every update is exact
    // long arithmetic, so DuckDB replays all five epochs bit-for-bit.
    QuerySpec("classifier_train_docs", (s, dir) =>
      TextAnalysis.trainHashedLinear(t(s, dir, "documents"), "doc_id",
          "text",
          array_contains(TextAnalysis.tokens(col("text")), "spark")
            .cast("long"))._1
        .orderBy(col("epoch")),
      classifierTrainOracle(8, "train")),

    // ---- calibration curve of the TRAINED classifier -----------------------
    // calibration_docs machinery over learned weights: exact-integer bins
    // from the known bound B = max|w|.
    QuerySpec("classifier_calibration_trained_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val label =
        array_contains(TextAnalysis.tokens(col("text")), "spark").cast("long")
      val w = TextAnalysis.trainHashedLinear(docs, "doc_id", "text", label)._2
      TextAnalysis.trainedCalibration(docs, "doc_id", "text", label, w)
        .orderBy(col("bin"))
    },
      classifierTrainOracle(8, "calibration")),

    // ---- SPLIT-CONFORMAL coverage for the trained classifier ---------------
    // Train on the md5 %4<=1 split, exact k = ceil((n_cal+1)*0.9) order
    // statistic of calibration nonconformity (the +1 IS the finite-sample
    // guarantee), coverage + prediction-set size measured on the disjoint
    // holdout — the calibrated-confidence row the classifier family lacked.
    QuerySpec("conformal_classifier_docs", (s, dir) =>
      TextAnalysis.conformalClassifier(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long")),
      classifierTrainOracle(8, "conformal")),

    // ---- TRAINED language-ID with a measured accuracy grade ----------------
    // Planted multilingual fixture: each doc gets a language by
    // doc_id % 5 and that language's marker tokens (under a per-marker
    // md5 dropout) prefixed to its body text. The char-3-gram perceptron
    // trains on the md5 %4<=2 split and is graded on the held-out
    // quarter SIDE BY SIDE with the marker heuristic — whose en markers
    // ('the', 'a', ...) saturate in every body text, the exact
    // weakness a trained gate fixes.
    QuerySpec("langid_trained_docs", (s, dir) => {
      val plang = expr("element_at(array('en', 'es', 'de', 'fr', 'zh'), " +
        "CAST(doc_id % 5 AS INT) + 1)")
      val markerCols = TextAnalysis.LangMarkers.flatMap {
        case (lang, ms) => ms.zipWithIndex.map { case (m, j) =>
          when(col("plang") === lang &&
            pmod(graft.scale.HashExprs.md5PrefixLong(
              concat(col("doc_id").cast("string"),
                lit(s":mk:$lang:$j")).cast("binary"), 15),
              lit(3L)) > 0L, lit(m))
        }
      }
      val fx = t(s, dir, "documents")
        .select(col("doc_id"), plang.as("plang"), col("text"))
        .select(col("doc_id"), col("plang"),
          concat_ws(" ", markerCols :+ col("text"): _*).as("text"))
      val withPred = TextAnalysis.languageId(fx, "text")
      TextAnalysis.langIdTrained(withPred, "doc_id", "text",
        col("plang") === "en", col("pred_lang") === "en")
    },
      langidTrainedOracleSql(4)),

    // ---- MONDRIAN (class-conditional) conformal coverage -------------------
    // Per-class q_hat with each class's own exact finite-sample rank +
    // per-class MEASURED holdout coverage — marginal conformal can
    // over-cover the majority and under-cover the minority class, the
    // exact skewed-class regime of a quality gate.
    QuerySpec("conformal_mondrian_docs", (s, dir) =>
      TextAnalysis.conformalMondrian(t(s, dir, "documents"), "doc_id",
        "text",
        array_contains(TextAnalysis.tokens(col("text")), "spark")
          .cast("long"))
        .orderBy(col("y")),
      classifierTrainOracle(8, "mondrian")),

    // ---- hashed-feature linear quality classifier (fastText-style gate) ----
    QuerySpec("classifier_score_docs", (s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // same 60-bit md5 token hash simhash uses; bucket→weight is the Knuth
      // multiplicative mix onto [-1000, 1000] — all BIGINT math in both engines
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
        |      * 2654435761) % 2001 - 1000 AS w
        |  FROM toks)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(w) AS BIGINT) AS w_sum,
        |  ROUND(CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS score,
        |  CAST(SUM(w) AS BIGINT) > 0 AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    jsDivergenceDocs,

    // ---- STREAMING Jensen-Shannon lexical drift -----------------------------
    // The per-token side counts are two associative sums — Complete-mode
    // state at vocab-dictionary scale (the vocab_richness twin's class);
    // the quantized fold runs over the drained table, batch oracle
    // verbatim.
    QuerySpec("streaming_js_divergence_docs", (s, dir) => {
      val stream = Tables.stream(s, dir, "documents")
      val counts = TextAnalysis.jsDivergenceCounts(
        stream, "text", col("lang") === "en")
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      TextAnalysis.jsDivergenceFromCounts(drained)
    },
      // the twin drains the same (tok, ca, cb) Complete-mode state —
      // one oracle serves both
      jsDivergenceDocs.oracle),

    // ---- Simpson diversity / concentration per source ----------------------
    // Exact collision probability of two drawn tokens + the effective
    // type count — the evenness gate that flags template spam.
    QuerySpec("simpson_docs", (s, dir) =>
      TextAnalysis.simpsonDiversity(t(s, dir, "documents"), "source",
        "text")
        .orderBy(col("source")),
      """WITH c AS (
        |  SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source AS g,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT g AS source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CASE WHEN SUM(c) >= 2 THEN
        |    ROUND(CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE) /
        |      (CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1)), 6) END AS simpson,
        |  CASE WHEN SUM(c) >= 2 AND SUM(CAST(c AS HUGEINT) * (c - 1)) > 0
        |    THEN ROUND((CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1)) /
        |      CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE), 6)
        |    END AS inv_simpson
        |FROM c GROUP BY g ORDER BY g""".stripMargin),

    // ---- cross-corpus n-gram overlap (diversity / contamination metric) ----
    QuerySpec("ngram_overlap_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramOverlap(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", 3)
    },
      // same 3-shingle construction as the jaccard oracle, per language side;
      // |intersection| of two DISTINCT sets = inner-join row count
      """WITH ta AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE lang <> 'en'),
        |sa AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS s
        |  FROM ta, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |sb AS (
        |  SELECT DISTINCT concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS s
        |  FROM tb, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |c AS (
        |  SELECT (SELECT COUNT(*) FROM sa) AS n_a,
        |    (SELECT COUNT(*) FROM sb) AS n_b,
        |    (SELECT COUNT(*) FROM sa JOIN sb ON sa.s = sb.s) AS n_common)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / n_a, 6) AS overlap_a,
        |  ROUND(CAST(n_common AS DOUBLE) / n_b, 6) AS overlap_b
        |FROM c""".stripMargin),

    // ---- inverted index: per-token document frequency + posting head -------
    QuerySpec("inverted_index_docs", (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("token"))
      // collect_list skips nulls, so ranking first bounds the posting
      // buffer at 5 ids per token — a stopword token would otherwise
      // accumulate a corpus-sized array before the slice; the window and
      // the agg share the token exchange
      val byTok = Window.partitionBy(col("token")).orderBy(col("doc_id"))
      tok.withColumn("rn", row_number().over(byTok))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(
              sort_array(collect_list(when(col("rn") <= 5, col("doc_id")))),
              x => x.cast("string"))).as("postings_head"))
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    },
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |r AS (
        |  SELECT token, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM tok),
        |g AS (
        |  SELECT token, COUNT(*) AS df,
        |    string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |      ',' ORDER BY doc_id) AS postings_head
        |  FROM r GROUP BY token)
        |SELECT token, df, postings_head FROM g
        |ORDER BY df DESC, token LIMIT 20""".stripMargin),

    // ---- text: multi-phrase dictionary tagging -----------------------------
    // FlashText-shape taxonomy tagging: eight query-plan phrases (1-3
    // tokens) matched corpus-wide in ONE tokenize + broadcast join pass.
    QuerySpec("keyword_tags_docs", (s, dir) =>
      TextAnalysis.tagKeywords(t(s, dir, "documents"), "doc_id", "text",
          Seq("hash join", "table scan", "sort merge join", "slow query",
            "data stream", "vector", "fast filter", "group agg"))
        .orderBy(col("doc_id"), col("phrase")),
      // FlashText replay: phrase_search_docs' anchor algebra generalized to
      // a dictionary relation — slot-index join, count-distinct gate.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |dict(phrase, idx, tok, plen) AS (VALUES
        |  ('hash join', 0, 'hash', 2), ('hash join', 1, 'join', 2),
        |  ('table scan', 0, 'table', 2), ('table scan', 1, 'scan', 2),
        |  ('sort merge join', 0, 'sort', 3),
        |  ('sort merge join', 1, 'merge', 3),
        |  ('sort merge join', 2, 'join', 3),
        |  ('slow query', 0, 'slow', 2), ('slow query', 1, 'query', 2),
        |  ('data stream', 0, 'data', 2), ('data stream', 1, 'stream', 2),
        |  ('vector', 0, 'vector', 1),
        |  ('fast filter', 0, 'fast', 2), ('fast filter', 1, 'filter', 2),
        |  ('group agg', 0, 'group', 2), ('group agg', 1, 'agg', 2)),
        |anch AS (
        |  SELECT pos.doc_id, dict.phrase, dict.plen,
        |    pos.p - dict.idx AS anchor,
        |    COUNT(DISTINCT dict.idx) AS slots
        |  FROM pos JOIN dict ON pos.w = dict.tok
        |  WHERE pos.p - dict.idx >= 0
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM anch WHERE slots = plen
        |GROUP BY doc_id, phrase ORDER BY doc_id, phrase""".stripMargin),

    // ---- corpus quality: unigram-LM mean log-probability per doc -----------
    QuerySpec("unigram_logprob_docs", (s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(ln(CAST(tf AS DOUBLE) / total)), 6) AS avg_logprob
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: per-doc character entropy (gibberish filter) ------
    // Shannon entropy over exact per-char counts — base64/binary payloads
    // approach the 6-bit ceiling, template spam approaches 0.
    QuerySpec("char_entropy_docs", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ch WHERE len(c) > 0 GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS clc
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  ROUND(log2(CAST(n_chars AS DOUBLE)) - clc / n_chars, 6)
        |    AS entropy_bits
        |FROM agg ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: bigram-LM perplexity per doc ----------------------
    // Add-one-smoothed corpus bigram model, transductive scoring — the
    // KenLM-shaped CCNet bucket signal one rung above unigram_logprob.
    QuerySpec("bigram_perplexity_docs", (s, dir) =>
      TextAnalysis.bigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
        |bf AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM bi GROUP BY 1, 2),
        |uf AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uf),
        |sc AS (
        |  SELECT b.doc_id,
        |    ln(CAST(bf.c12 + 1 AS DOUBLE) / (uf.c1 + v.v)) AS lp
        |  FROM bi b
        |  JOIN bf ON bf.w1 = b.w1 AND bf.w2 = b.w2
        |  JOIN uf ON uf.w1 = b.w1, v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(-AVG(lp), 6) AS cross_entropy,
        |  ROUND(exp(-AVG(lp)), 6) AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- corpus quality: stupid-backoff trigram LM (split form) ------------
    // Counts from the doc_id%5!=0 train slice; held-out docs score through
    // the tri -> bi -> add-1-unigram backoff chain with per-level hit
    // counts (novel phrasing vs novel vocabulary, as exact integers).
    QuerySpec("stupid_backoff_docs", (s, dir) =>
      TextAnalysis.stupidBackoffScore(t(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 5 =!= 0)
        .orderBy(col("doc_id")),
      // backoff levels replay as CASE over left-join hits; a trigram hit
      // implies its (w1,w2) bigram, a (w2,w3) hit implies the w2 unigram —
      // the chain never divides by NULL
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t,
        |    (doc_id % 5 <> 0) AS train
        |  FROM documents),
        |uf AS (
        |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM toks WHERE train) GROUP BY 1),
        |bf AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |  WHERE train GROUP BY 1, 2),
        |tf AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3,
        |    CAST(COUNT(*) AS BIGINT) AS c3
        |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        |  WHERE train GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM uf),
        |sc AS (
        |  SELECT s.doc_id, tf.c3, b12.c2 AS c12, b23.c2 AS c23,
        |    u2.c1 AS cu2, u3.c1 AS cu3, tot.n, tot.v
        |  FROM (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        |    WHERE NOT train) s
        |  LEFT JOIN tf ON tf.w1 = s.w1 AND tf.w2 = s.w2 AND tf.w3 = s.w3
        |  LEFT JOIN bf b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
        |  LEFT JOIN bf b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
        |  LEFT JOIN uf u2 ON u2.w1 = s.w2
        |  LEFT JOIN uf u3 ON u3.w1 = s.w3, tot),
        |lp AS (
        |  SELECT doc_id, c3, c23,
        |    CASE WHEN c3 IS NOT NULL THEN
        |        ln(CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE))
        |      WHEN c23 IS NOT NULL THEN
        |        ln(0.4 * CAST(c23 AS DOUBLE) / CAST(cu2 AS DOUBLE))
        |      ELSE ln(0.4 * 0.4 * CAST(COALESCE(cu3, 0) + 1 AS DOUBLE)
        |        / CAST(n + v AS DOUBLE)) END AS lp
        |  FROM sc)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tri_hits,
        |  CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
        |  CAST(SUM(CASE WHEN c3 IS NULL AND c23 IS NULL THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
        |  ROUND(-AVG(lp), 6) AS cross_entropy
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- mixing: UniMax budget allocation across languages -----------------
    // 60k-token budget, 3-epoch cap per language: low-resource langs hit
    // the cap, the rest split the remainder evenly (exact integer
    // waterfall — see TextAnalysis.unimaxAllocate).
    QuerySpec("unimax_mix_docs", (s, dir) =>
      TextAnalysis.unimaxAllocate(t(s, dir, "documents"), "lang", "text",
          60000L, 3)
        .orderBy(col("domain")),
      // UniMax waterfall replay: capped iff cap·(D−rk+1) ≤ B − below (a
      // prefix of the capacity sort); the first uncapped rank fixes the
      // level; leftover mod tokens go one each to the first uncapped ranks.
      """WITH dom AS (
        |  SELECT COALESCE(lang, chr(2) || 'NULL') AS domain,
        |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT domain, n_tokens, n_tokens * 3 AS cap_tokens,
        |    ROW_NUMBER() OVER (ORDER BY n_tokens * 3, domain) AS rk,
        |    COUNT(*) OVER () AS d,
        |    COALESCE(SUM(n_tokens * 3) OVER (ORDER BY n_tokens * 3, domain
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM dom),
        |f AS (
        |  SELECT *, cap_tokens * (d - rk + 1) <= 60000 - below AS capped
        |  FROM r),
        |lvl AS (SELECT MIN(rk) AS m, MIN(below) AS sb FROM f WHERE NOT capped),
        |alloc AS (
        |  SELECT f.domain, f.n_tokens, f.cap_tokens,
        |    CASE WHEN f.capped OR lvl.m IS NULL THEN f.cap_tokens
        |      ELSE (60000 - lvl.sb) // (f.d - lvl.m + 1)
        |        + CASE WHEN f.rk - lvl.m <
        |            (60000 - lvl.sb) % (f.d - lvl.m + 1)
        |          THEN 1 ELSE 0 END
        |    END AS alloc_tokens
        |  FROM f, lvl)
        |SELECT domain, n_tokens, cap_tokens,
        |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
        |  ROUND(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6) AS epochs
        |FROM alloc ORDER BY domain""".stripMargin),

    // ---- DSIR importance-resampling data selection -------------------------
    // Target = English docs; every doc scored by the hashed-unigram
    // importance ratio and sampled without replacement via deterministic
    // Gumbel top-k (see TextAnalysis.dsirSelect). LM tables are 1024 rows
    // regardless of corpus mass; selection is a TakeOrdered.
    QuerySpec("dsir_select_docs", (s, dir) =>
      TextAnalysis.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("sel_rank")),
      // DSIR: hashed-unigram bucket LMs with add-1 smoothing; per-token log
      // ratio as four fixed-order lns of exact integers; Gumbel key from the
      // md5 'dsir:<id>' hash; ranks compare 6-decimal-rounded keys.
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id,  lang,
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
        |  SELECT doc_id, n_tokens, ROUND(logw_raw, 6) AS logw,
        |    ROUND(logw_raw - ln(-ln(
        |      (CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        |        1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0)), 6)
        |      AS gumbel_key
        |  FROM sc),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id)
        |    AS sel_rank, doc_id, n_tokens, logw, gumbel_key
        |  FROM g)
        |SELECT sel_rank, doc_id, n_tokens, logw, gumbel_key FROM r
        |WHERE sel_rank <= 50 ORDER BY sel_rank""".stripMargin),

    // ---- DoReMi-style domain reweighting -----------------------------------
    // Excess unigram cross-entropy per source vs its own-domain reference
    // LM, one exponentiated-gradient step from uniform, uniform-smoothed
    // (see TextAnalysis.doremiWeights).
    QuerySpec("doremi_weights_docs", (s, dir) =>
      TextAnalysis.doremiWeights(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain")),
      // DoReMi: per-(domain,token) count table drives both cross-entropies;
      // the softmax reads the 6-decimal-rounded excess, mirroring
      // TextAnalysis.doremiWeights token for token.
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |ndt AS (
        |  SELECT domain, token, CAST(COUNT(*) AS BIGINT) AS n_dt
        |  FROM tok GROUP BY 1, 2),
        |nt AS (SELECT token, CAST(SUM(n_dt) AS BIGINT) AS n_t
        |  FROM ndt GROUP BY 1),
        |tc AS (SELECT CAST(SUM(n_t) AS BIGINT) AS t_c FROM nt),
        |td AS (SELECT domain, CAST(SUM(n_dt) AS BIGINT) AS t_d
        |  FROM ndt GROUP BY 1),
        |nd AS (SELECT source AS domain, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |pd AS (
        |  SELECT n.domain,
        |    CAST(SUM(n.n_dt) AS BIGINT) AS n_tokens,
        |    ROUND((-SUM(CAST(n.n_dt AS DOUBLE) * (ln(t.n_t) - ln(c.t_c))))
        |      / CAST(SUM(n.n_dt) AS DOUBLE), 6) AS loss_corpus,
        |    ROUND((-SUM(CAST(n.n_dt AS DOUBLE) * (ln(n.n_dt) - ln(d.t_d))))
        |      / CAST(SUM(n.n_dt) AS DOUBLE), 6) AS loss_self
        |  FROM ndt n JOIN nt t USING (token) JOIN td d USING (domain)
        |  CROSS JOIN tc c
        |  GROUP BY 1),
        |ex AS (
        |  SELECT *, GREATEST(0.0, loss_corpus - loss_self) AS excess_raw,
        |    exp(1.0 * GREATEST(0.0, loss_corpus - loss_self)) AS uw
        |  FROM pd),
        |s AS (SELECT SUM(uw) AS su, COUNT(*) AS ndom FROM ex)
        |SELECT e.domain, nd.n_docs, e.n_tokens, e.loss_corpus, e.loss_self,
        |  ROUND(e.excess_raw, 6) AS excess,
        |  ROUND((1.0 - 0.1) * (e.uw / s.su) + 0.1 / s.ndom, 6) AS weight
        |FROM ex e CROSS JOIN s JOIN nd USING (domain)
        |ORDER BY domain""".stripMargin),

    // ---- per-source distribution drift: entropy / KL / JS vs corpus --------
    QuerySpec("domain_divergence_docs", (s, dir) =>
      TextAnalysis.domainDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy(col("domain")),
      // smoothed unigram entropy / KL / JS per source over the vocabulary-
      // complete grid; every ln takes exact-integer-derived args
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |ndt AS (
        |  SELECT domain, token, CAST(COUNT(*) AS BIGINT) AS n_dt
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(SUM(n_dt) AS BIGINT) AS n_t
        |  FROM ndt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_corpus,
        |  CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
        |dt AS (SELECT domain, CAST(SUM(n_dt) AS BIGINT) AS n_dom
        |  FROM ndt GROUP BY 1),
        |nd AS (SELECT source AS domain, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |grid AS (
        |  SELECT d.domain, v.token, v.n_t, d.n_dom, t.n_corpus, t.v_size,
        |    COALESCE(n.n_dt, 0) AS c_d
        |  FROM vocab v CROSS JOIN dt d
        |  LEFT JOIN ndt n ON n.domain = d.domain AND n.token = v.token
        |  CROSS JOIN tot t),
        |cell AS (
        |  SELECT domain, n_dom, v_size,
        |    CAST(c_d + 1 AS DOUBLE) / CAST(n_dom + v_size AS DOUBLE) AS p,
        |    CAST(n_t + 1 AS DOUBLE) / CAST(n_corpus + v_size AS DOUBLE) AS q,
        |    ln(c_d + 1) - ln(n_dom + v_size) AS lp,
        |    ln(n_t + 1) - ln(n_corpus + v_size) AS lq
        |  FROM grid),
        |c2 AS (SELECT *, ln(p + q) - ln(2.0) AS lm FROM cell),
        |agg AS (
        |  SELECT domain, MAX(n_dom) AS n_tokens, MAX(v_size) AS vocab_size,
        |    ROUND(-SUM(p * lp), 6) AS entropy,
        |    ROUND(SUM(p * (lp - lq)), 6) AS kl_vs_corpus,
        |    ROUND(SUM((p * (lp - lm) + q * (lq - lm)) / 2.0), 6) AS js_vs_corpus
        |  FROM c2 GROUP BY 1)
        |SELECT a.domain, nd.n_docs, a.n_tokens, a.vocab_size, a.entropy,
        |  a.kl_vs_corpus, a.js_vs_corpus
        |FROM agg a JOIN nd USING (domain) ORDER BY a.domain""".stripMargin),

    // ---- collocation mining: top bigram PMI (count-floored) ----------------
    QuerySpec("pmi_pairs_docs", (s, dir) =>
      TextAnalysis.pmiTopPairs(t(s, dir, "documents"), "text", 5L, 50),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
        |bic AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS T,
        |    CAST(SUM(GREATEST(len(t) - 1, 0)) AS BIGINT) AS B
        |  FROM toks)
        |SELECT w1 || ' ' || w2 AS bg, cnt, u1.c AS c1, u2.c AS c2,
        |  round(ln((CAST(cnt AS DOUBLE) * T * T)
        |    / (CAST(B AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM bic JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2, tot
        |ORDER BY pmi DESC, bg LIMIT 50""".stripMargin),

    // ---- positional-index phrase search ------------------------------------
    // Exact token-sequence search via anchor voting over a single-pass
    // positional posting list ("slow hash batch" is a recurring corpus
    // trigram at every sf).
    QuerySpec("phrase_search_docs", (s, dir) =>
      TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          "slow hash batch")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[i] AS w
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |hits AS (
        |  SELECT a0.doc_id, a0.p AS anchor
        |  FROM pos a0
        |  JOIN pos a1 ON a1.doc_id = a0.doc_id AND a1.p = a0.p + 1
        |    AND a1.w = 'hash'
        |  JOIN pos a2 ON a2.doc_id = a0.doc_id AND a2.p = a0.p + 2
        |    AND a2.w = 'batch'
        |  WHERE a0.w = 'slow')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(anchor) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- RAG chunking: sliding token windows, narrow hash rows -------------
    // 64-token windows, stride 48 (16-token overlap); the chunk table
    // carries offsets + md5 content identity, never the chunk text.
    QuerySpec("chunk_docs", (s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          64, 48)
        .orderBy(col("doc_id"), col("chunk_idx")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |    CAST(i * 48 AS BIGINT) AS chunk_start,
        |    t[(i*48 + 1):(i*48 + 64)] AS ck
        |  FROM toks, UNNEST(range(0,
        |    1 + (GREATEST(0, len(t) - 64) + 47) // 48)) AS u(i))
        |SELECT doc_id, chunk_idx, chunk_start,
        |  CAST(len(ck) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ck, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // ---- blocklist scrub report (C4/Dolma bad-words stage) -----------------
    // The blocklist rides a relation (broadcast token equi-join, never a
    // 10^4-term alternation regex); flag docs where >10% of tokens hit.
    QuerySpec("blocklist_docs", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow", "broken", "spam", "junk")
        .toDF("term")
      TextAnalysis.blocklistFilter(t(s, dir, "documents"),
          "doc_id", "text", terms, 100000L)
        .orderBy(col("doc_id"))
    },
      // house tokens convention; hits via a list containment over the
      // 4-term dictionary; every doc scaffolds (zero-hit rows included)
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN t IN ('slow', 'broken', 'spam', 'junk')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |    CAST(COUNT(DISTINCT CASE WHEN t IN
        |      ('slow', 'broken', 'spam', 'junk') THEN t END) AS BIGINT)
        |      AS n_terms
        |  FROM toks GROUP BY 1)
        |SELECT d.doc_id, COALESCE(h.n_tokens, 0) AS n_tokens,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_terms, 0) AS n_terms,
        |  CASE WHEN COALESCE(h.n_tokens, 0) > 0 THEN
        |    ROUND(CAST(h.n_hits AS DOUBLE) / CAST(h.n_tokens AS DOUBLE), 6)
        |  END AS hit_frac,
        |  COALESCE(h.n_hits, 0) > 0 AND
        |    COALESCE(h.n_hits, 0) * 1000000 >
        |      100000 * COALESCE(h.n_tokens, 0) AS flagged
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ---- chi-square token drift (which tokens moved between corpora) ------
    // English vs non-English halves of the corpus: the top-25 tokens by the
    // 2x2 chi-square — the drift panel that NAMES the movers, complementing
    // domain_divergence's distribution-level scores.
    QuerySpec("token_drift_docs", (s, dir) =>
      TextAnalysis.tokenDrift(t(s, dir, "documents")
          .withColumn("side", col("lang") === "en"),
        "text", "side", 25),
      """WITH toks AS (
        |  SELECT (lang = 'en') AS s,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token, COUNT(*) FILTER (NOT s) AS k_a,
        |    COUNT(*) FILTER (s) AS k_b
        |  FROM toks GROUP BY token),
        |tot AS (SELECT SUM(k_a) AS na, SUM(k_b) AS nb FROM counts),
        |chi AS (
        |  SELECT token, k_a, k_b,
        |    CASE WHEN (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) *
        |        CAST(k_a + k_b AS DOUBLE) *
        |        CAST(na + nb - k_a - k_b AS DOUBLE)) > 0
        |      THEN ROUND(
        |        ((CAST(k_a AS DOUBLE) * CAST(nb - k_b AS DOUBLE)
        |            - CAST(na - k_a AS DOUBLE) * CAST(k_b AS DOUBLE))
        |          * (CAST(k_a AS DOUBLE) * CAST(nb - k_b AS DOUBLE)
        |            - CAST(na - k_a AS DOUBLE) * CAST(k_b AS DOUBLE))
        |          * CAST(na + nb AS DOUBLE))
        |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |          * CAST(k_a + k_b AS DOUBLE)
        |          * CAST(na + nb - k_a - k_b AS DOUBLE)), 6)
        |      ELSE 0.0 END AS chi2
        |  FROM counts, tot),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY chi2 DESC, token) AS rk,
        |    token, k_a, k_b, chi2
        |  FROM chi)
        |SELECT rk, token, k_a, k_b, chi2 FROM r WHERE rk <= 25
        |ORDER BY rk""".stripMargin),

    // ---- language-ID confusion matrix (prediction quality panel) ----------
    // The n-gram lang-ID's predictions vs the labeled lang column: per
    // (true, predicted) cell count + within-class recall share.
    QuerySpec("langid_confusion_docs", (s, dir) => {
      val p = TextAnalysis.languageId(t(s, dir, "documents"), "text")
      val m = p.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      m.join(tot, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("__t"), 6)
            .as("recall_share"))
        .orderBy(col("lang"), col("pred_lang"))
    },
      // the lang_id_docs prediction CTE, aggregated to the confusion matrix
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(t, x -> x IN ('the','a','and','of','order','fast','small'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('el','la','los','de','que','por'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','la','les','et','que','pour'))) AS s_fr,
        |    len(list_filter(t, x -> x IN ('de5','shi4','bu4'))) AS s_zh
        |  FROM q),
        |g AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS gmax FROM sc),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN gmax = 0 THEN 'unknown'
        |      WHEN s_zh = gmax THEN 'zh'
        |      WHEN s_fr = gmax THEN 'fr'
        |      WHEN s_es = gmax THEN 'es'
        |      WHEN s_en = gmax THEN 'en'
        |      ELSE 'de' END AS pred_lang
        |  FROM g),
        |m AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |tt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM m GROUP BY lang)
        |SELECT m.lang, m.pred_lang, m.n,
        |  ROUND(CAST(m.n AS DOUBLE) / tt.t, 6) AS recall_share
        |FROM m JOIN tt ON tt.lang = m.lang
        |ORDER BY m.lang, m.pred_lang""".stripMargin),

    // ---- Heaps'-law vocabulary-growth curve --------------------------------
    // Cumulative distinct types vs cumulative tokens over doc-order
    // buckets — the dedup-health / tokenizer-budget curve.
    QuerySpec("heaps_law_docs", (s, dir) =>
      TextAnalysis.heapsLaw(t(s, dir, "documents"), "doc_id", "text", 50)
        .orderBy(col("bucket")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(t) AS token FROM toks),
        |pb AS (
        |  SELECT doc_id // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS ntok,
        |    COUNT(DISTINCT doc_id) AS n_docs
        |  FROM occ GROUP BY 1),
        |ft AS (
        |  SELECT token, MIN(doc_id) // 50 AS fb FROM occ GROUP BY token),
        |nv AS (SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS vnew
        |  FROM ft GROUP BY fb)
        |SELECT pb.bucket, pb.n_docs,
        |  CAST(SUM(pb.ntok) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS tokens_cum,
        |  CAST(SUM(COALESCE(nv.vnew, 0)) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_cum
        |FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
        |ORDER BY pb.bucket""".stripMargin),

    vocabRichnessDocs,

    // ---- STREAMING vocabulary richness (token dictionary as state) --------
    QuerySpec("streaming_vocab_richness_docs", (s, dir) => {
      val stream = Tables.stream(s, dir, "documents")
      val counts = stream
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val drained = Streams.runToMemory(s, counts, OutputMode.Complete())
      TextAnalysis.vocabRichnessFromCounts(drained)
    },
      // richness twin: vocab-bounded token dictionary state, same fold
      vocabRichnessDocs.oracle),

    // ---- line-density boilerplate filter ------------------------------------
    // jusText-class intra-doc gate: docs become 8-token lines plus
    // deterministic planted boilerplate (a link-dense nav line on
    // doc_id % 3, a too-short "click here" on doc_id % 4); keep a line
    // iff >= 4 tokens AND link density <= 1/5 (exact integer compare).
    // Per doc: kept/dropped line counts + token keep-mass.
    // (boilerplate_docs is the complementary CROSS-doc C4 df-rule scrub.)
    QuerySpec("line_density_docs", (s, dir) => {
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat_ws("\n", TextAnalysis.wordChunks(col("text"), 8)),
          when(col("doc_id") % 3 === 0,
            lit("home | about | http://site.example/nav www.example.com")),
          when(col("doc_id") % 4 === 0, lit("click here"))).as("text"))
      TextAnalysis.lineDensityFilter(lined, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // sequential (mSPRT) conversion test + its twin share one oracle
      // line-density boilerplate: same 8-token chunking + planted lines,
      // same exact-integer keep rule (nt >= 4 AND nl*5 <= nt*1)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(list_transform(
        |      range(0, GREATEST(CAST(ceil(len(t) / 8.0) AS INT), 1)),
        |      i -> array_to_string(
        |        t[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')),
        |      chr(10)),
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'home | about | http://site.example/nav www.example.com'
        |      END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'click here' END) AS text
        |  FROM toks),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM lined),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(lt) AS BIGINT) AS nt,
        |    CAST(len(list_filter(lt, x -> contains(x, '://')
        |      OR starts_with(x, 'www.'))) AS BIGINT) AS nl,
        |    CAST(len(list_filter(lt, x -> list_contains(['the', 'a',
        |      'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'that',
        |      'for', 'on', 'with', 'as', 'at', 'by', 'from'], x)))
        |      AS BIGINT) AS ns
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(line), '\s+'),
        |        x -> len(x) > 0) AS lt
        |    FROM lines)),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_lines,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN nt >= 4 AND nl * 5 <= nt * 1
        |      THEN nt ELSE 0 END) AS BIGINT) AS n_kept_tokens,
        |    CAST(SUM(ns) AS BIGINT) AS n_stop
        |  FROM m GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_kept_lines, n_dropped_lines,
        |  n_tokens, n_kept_tokens, n_stop,
        |  CASE WHEN n_tokens > 0 THEN
        |    ROUND(CAST(n_kept_tokens AS DOUBLE) / n_tokens, 6)
        |  END AS keep_mass
        |FROM agg ORDER BY doc_id""".stripMargin)
  )
}
