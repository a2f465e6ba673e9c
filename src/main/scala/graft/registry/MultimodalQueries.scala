package graft
package registry

import org.apache.spark.sql.functions._

import graft.scale.{Dedup, Multimodal}
import QueryHelpers._

/** Multimodal curation over stub-decoded media ([[graft.scale.Multimodal]]):
  * perceptual hashes, image quality, audio and video near-duplicates.
  */
object MultimodalQueries {

  /** Shared px→agg CTE chain of the two image-quality oracles. */
  private def imageQualityAggCtes: String = {
    // 1-based grid indices of the 3x3 Laplacian stencil at interior cell
    // k in 0..35 (gy = k//6+1, gx = k%6+1, row-major 8-wide)
    val c = "(k // 6 + 1) * 8 + k % 6 + 2"
    val n = "(k // 6) * 8 + k % 6 + 2"
    val s2 = "(k // 6 + 2) * 8 + k % 6 + 2"
    val w = "(k // 6 + 1) * 8 + k % 6 + 1"
    val e = "(k // 6 + 1) * 8 + k % 6 + 3"
    val lap = s"(4 * p[$c] - p[$n] - p[$s2] - p[$w] - p[$e])"
    s"""WITH px AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), k ->
       |      CAST(('0x' || substring(
       |        md5(text || ':' || CAST(k // 16 AS VARCHAR)),
       |        (k % 16) * 2 + 1, 2)) AS BIGINT)) AS p
       |  FROM documents WHERE doc_id % 3 = 0),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(list_sum(p) AS BIGINT) AS sum_px,
       |    CAST(list_sum(list_transform(p, x -> x * x)) AS BIGINT)
       |      AS sumsq_px,
       |    CAST(list_sum(list_transform(range(0, 36), k ->
       |      $lap)) AS BIGINT) AS lap_sum,
       |    CAST(list_sum(list_transform(range(0, 36), k ->
       |      $lap * $lap)) AS BIGINT) AS lap_sumsq,
       |    CAST(len(list_filter(p, x -> x <= 25)) AS INT) AS n_dark,
       |    CAST(len(list_filter(p, x -> x >= 230)) AS INT) AS n_bright
       |  FROM px)""".stripMargin
  }

  /** DCT-pHash oracle: replays [[graft.scale.Multimodal.dctPhash]] over
    * the stub-decoded grid entirely in SQL — the grid is four chained
    * VARCHAR md5s (hex-pair bytes), the DCT multiplies the IDENTICAL
    * quantized cosine table (interpolated from the Scala constant, so the
    * two engines cannot drift), the 60 AC coefficients threshold at their
    * lower median (list_sort[30] = 30th smallest), and the banding /
    * hamming verify matches the Spark plan bit for bit. All arithmetic is
    * exact integers: pixel ≤ 255, table entry ≤ 1024, coefficient ≤
    * 1.7e10 — nothing approaches BIGINT range.
    */
  private def phashOracleSql: String = {
    val table = graft.scale.Multimodal.cosQ.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000000, text FROM documents
       |  WHERE doc_id % 97 = 0),
       |px AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), k ->
       |      CAST(('0x' || substring(
       |        md5(text || ':' || CAST(k // 16 AS VARCHAR)),
       |        (k % 16) * 2 + 1, 2)) AS BIGINT)) AS p
       |  FROM corpus),
       |cf AS (
       |  SELECT doc_id,
       |    list_transform(range(1, 61), j ->
       |      list_sum(list_transform(range(0, 64), k ->
       |        p[k + 1] * ct.t[(j // 8) * 8 + (k // 8) + 1]
       |                 * ct.t[(j % 8) * 8 + (k % 8) + 1]))) AS cs
       |  FROM px CROSS JOIN (SELECT [$table] AS t) ct),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(1, 61), i ->
       |      CASE WHEN cs[i] > list_sort(cs)[30]
       |        THEN CAST(1 AS BIGINT) << (i - 1)
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM cf),
       |b AS (
       |  SELECT doc_id, sig, d.band,
       |    (sig >> (d.band * 15)) & 32767 AS bkey
       |  FROM sig CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) d),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
       |    a.sig AS sig_a, bb.sig AS sig_b
       |  FROM b a JOIN b bb
       |    ON a.band = bb.band AND a.bkey = bb.bkey
       |      AND a.doc_id < bb.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared CTE chain of the video near-dup oracles: echoed corpus ->
    * frame signatures -> shot segmentation -> shot-key MinHash bands ->
    * exact-Jaccard-gated pairs (`gp`). WITH RECURSIVE so the clusters
    * oracle can append its reachability CTE.
    */
  private val videoDupCtes: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999999, text FROM documents
      |  WHERE doc_id % 13 = 0),
      |vid AS (
      |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
      |  FROM corpus WHERE doc_id % 3 = 2),
      |fr AS (
      |  SELECT doc_id, CAST(f AS INT) AS f,
      |    CAST(('0x' || substring(md5(text || CAST(f AS VARCHAR)),
      |      1, 2)) AS INT) AS sig
      |  FROM vid, UNNEST(range(0, n_frames)) AS u(f)),
      |bd AS (
      |  SELECT doc_id, f, sig,
      |    CASE WHEN f > 0 AND abs(sig - lag(sig) OVER w) > 64
      |      THEN 1 ELSE 0 END AS brk
      |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
      |sh AS (
      |  SELECT doc_id, f, sig, SUM(brk) OVER
      |    (PARTITION BY doc_id ORDER BY f) AS shot_id
      |  FROM bd),
      |ks0 AS (
      |  SELECT doc_id, STRING_AGG(CAST(sig AS VARCHAR), '-'
      |    ORDER BY f) AS shot_key
      |  FROM sh GROUP BY doc_id, shot_id),
      |ks AS (SELECT DISTINCT doc_id, shot_key FROM ks0),
      |mh AS (
      |  SELECT doc_id, s,
      |    MIN(md5(CAST(s AS VARCHAR) || ':' || shot_key)) AS h
      |  FROM ks, UNNEST(range(0, 8)) AS su(s)
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, s // 2 AS band,
      |    MIN(CASE WHEN s % 2 = 0 THEN h END) ||
      |    MIN(CASE WHEN s % 2 = 1 THEN h END) AS bkey
      |  FROM mh GROUP BY doc_id, s // 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey
      |      AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ks GROUP BY 1),
      |iv AS (
      |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM cand c JOIN ks ka ON ka.doc_id = c.id_a
      |  JOIN ks kb ON kb.doc_id = c.id_b
      |    AND kb.shot_key = ka.shot_key
      |  GROUP BY 1, 2),
      |gp AS (
      |  SELECT iv.id_a, iv.id_b, sa.n AS n_a, sb.n AS n_b, iv.n_common
      |  FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
      |  JOIN sz sb ON sb.doc_id = iv.id_b
      |  WHERE iv.n_common * 2 >= sa.n + sb.n - iv.n_common)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal: binary payload + stub decode (mapPartitions batch) ----
    QuerySpec("multimodal_features_docs", (s, dir) => {
      val mm = Multimodal.decodeFeatures(
        Multimodal.fromDocuments(t(s, dir, "documents")))
      mm.select(col("doc_id"), col("kind"), col("n_bytes"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS f0,
        |  CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS f1,
        |  CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS f2,
        |  CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- audio screening panel over the codec seam -------------------------
    // Real RIFF/PCM16 payloads decode for real (incl. stereo downmix);
    // the text corpus flows through the md5 stub waveform. mapPartitions
    // emits exact integers only; RMS/silence are mirrored expressions.
    QuerySpec("audio_stats_docs", (s, dir) =>
      Multimodal.audioStats(
        Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("doc_id")),
      // the md5 stub waveform replays like the pHash grid (VARCHAR md5 over
      // the text payload, ':a<chunk>' salts); the folds are the real algebra
      """WITH aud AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |sm AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 256), k ->
        |      CAST(('0x' || substring(
        |        md5(text || ':a' || CAST(k // 16 AS VARCHAR)),
        |        (k % 16) * 2 + 1, 2)) AS BIGINT) - 128) AS s
        |  FROM aud),
        |st AS (
        |  SELECT doc_id,
        |    CAST(len(s) AS INT) AS n_samples,
        |    CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
        |    CAST(list_sum(list_transform(range(1, 256), i ->
        |      CASE WHEN s[i] * s[i + 1] < 0 THEN 1 ELSE 0 END)) AS INT)
        |      AS zero_crossings,
        |    list_sum(list_transform(s, x -> x * x)) AS sumsq,
        |    list_sum(list_transform(s, x ->
        |      CASE WHEN abs(x) <= 4 THEN 1 ELSE 0 END)) AS nsil
        |  FROM sm)
        |SELECT doc_id, n_samples, peak, zero_crossings,
        |  ROUND(sqrt(CAST(sumsq AS DOUBLE) / CAST(n_samples AS DOUBLE)), 6)
        |    AS rms,
        |  ROUND(CAST(nsil AS DOUBLE) / CAST(n_samples AS DOUBLE), 6)
        |    AS silence_frac
        |FROM st ORDER BY doc_id""".stripMargin),

    // ---- multimodal: frame sampling over video payloads --------------------
    QuerySpec("frame_sample_docs", (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.fromDocuments(t(s, dir, "documents")), stride = 5)
        .orderBy(col("doc_id"), col("frame")),
      // video kind ⇔ doc_id % 3 = 2 (fromDocuments' kind array); signature =
      // first md5 byte of payload ++ frame-index-as-string, unsigned
      """WITH v AS (
        |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, CAST(f AS INT) AS frame,
        |  CAST(('0x' || substr(md5(text || CAST(f AS VARCHAR)), 1, 2)) AS INT)
        |    AS signature
        |FROM v, UNNEST(range(0, n_frames, 5)) AS u(f)
        |ORDER BY doc_id, frame""".stripMargin),

    // ---- media near-dup: perceptual-signature multi-band Hamming LSH -------
    // The LAION-style image-dedup shape over the fabricated media table:
    // REAL 60-bit DCT pHash (integer 8×8 DCT-II + median threshold,
    // Multimodal.dctPhash; only the pixel DECODE is the codec-seam stub)
    // → 4×15-bit band bucket join (complete for hamming ≤ 3 by
    // pigeonhole, linear candidate mass) → exact bit_count(xor) verify.
    QuerySpec("phash_pairs_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // deterministic duplicate injection (every 97th doc re-ingested under
      // a shifted id — the re-crawled-image situation), so the pair output
      // is non-empty at every SF: sf0.01 has no natural byte-identical docs
      val echo = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      val media = graft.scale.Multimodal.fromDocuments(docs.unionByName(echo))
      graft.scale.Multimodal.phashPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    },
      // pHash pairs: full replay of the DCT perceptual hash — payload =
      // utf-8 text bytes, so the stub decode's md5-chained 8×8 grid is
      // VARCHAR md5 over (text || ':chunk'); the DCT is exact integer
      // arithmetic against the SAME quantized cosine table the Spark side
      // uses (interpolated below); bands are bit slices, verify is
      // bit_count(xor)
      phashOracleSql),

    // ---- image-quality screening panel (blur / exposure, real pixels) -----
    // The LAION-style pre-fingerprint curation gate: variance-of-Laplacian
    // sharpness + brightness/contrast/extreme-pixel exposure screens over
    // the decoded 8×8 gray grid (real decode for recognized payloads; the
    // md5 stub grid here, so DuckDB replays every long exactly).
    QuerySpec("image_quality_docs", (s, dir) =>
      Multimodal.imageQuality(
          Multimodal.fromDocuments(
            t(s, dir, "documents").select(col("doc_id"), col("text"))))
        .orderBy(col("doc_id")),
      // Image-quality panel replay: the phash oracle's md5 stub-grid CTE
      // (documents are text payloads, so every grid replays in VARCHAR md5),
      // then the exact long sums — Laplacian response per interior cell as
      // explicit 1-based list indexing — and the same fixed-order float
      // expressions as [[graft.scale.Multimodal.imageQuality]].
      s"""$imageQualityAggCtes
         |SELECT doc_id, sum_px, sumsq_px, lap_sum, lap_sumsq, n_dark,
         |  n_bright,
         |  ROUND(CAST(sum_px AS DOUBLE) / 64.0, 6) AS brightness,
         |  ROUND(sqrt(CAST(64 * sumsq_px - sum_px * sum_px AS DOUBLE)
         |    / 4096.0), 6) AS contrast,
         |  ROUND(CAST(36 * lap_sumsq - lap_sum * lap_sum AS DOUBLE)
         |    / 1296.0, 6) AS blur_var,
         |  ROUND(CAST(n_dark AS DOUBLE) / 64.0, 6) AS dark_frac,
         |  ROUND(CAST(n_bright AS DOUBLE) / 64.0, 6) AS bright_frac
         |FROM agg ORDER BY doc_id""".stripMargin),

    // ---- image-quality GATE roll-up (the curation keep/drop accounting) ---
    // The LAION-gate decision folded to corpus accounting: blurry =
    // Laplacian variance < 100 (decided on the exact integer moment
    // 36·Σl²−(Σl)² < 129600 — no float compare), dark/bright = more than
    // half the grid clipped. Conditions counted independently; kept =
    // none of the three.
    QuerySpec("image_quality_gate_docs", (s, dir) =>
      Multimodal.imageQuality(
          Multimodal.fromDocuments(
            t(s, dir, "documents").select(col("doc_id"), col("text"))))
        .select(
          (lit(36L) * col("lap_sumsq") - col("lap_sum") * col("lap_sum")
            < 129600L).as("blurry"),
          (col("n_dark") > 32).as("dk"),
          (col("n_bright") > 32).as("br"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("blurry").cast("long")).as("n_blurry"),
          sum(col("dk").cast("long")).as("n_dark_heavy"),
          sum(col("br").cast("long")).as("n_bright_heavy"),
          sum((!col("blurry") && !col("dk") && !col("br")).cast("long"))
            .as("n_kept"))
        .withColumn("kept_frac",
          round(col("n_kept").cast("double") / col("n_images"), 6)),
      s"""$imageQualityAggCtes,
         |g AS (
         |  SELECT
         |    36 * lap_sumsq - lap_sum * lap_sum < 129600 AS blurry,
         |    n_dark > 32 AS dk, n_bright > 32 AS br
         |  FROM agg)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(CASE WHEN blurry THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_blurry,
         |  CAST(SUM(CASE WHEN dk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dark_heavy,
         |  CAST(SUM(CASE WHEN br THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bright_heavy,
         |  CAST(SUM(CASE WHEN NOT blurry AND NOT dk AND NOT br THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_kept,
         |  ROUND(CAST(SUM(CASE WHEN NOT blurry AND NOT dk AND NOT br
         |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS kept_frac
         |FROM g""".stripMargin),

    // ---- audio near-dup pairs (energy-delta fingerprint, banded) ----------
    // Re-ingested clips (every 97th doc, id shifted by a multiple of 3 so
    // the kind survives) collide at hamming 0; banding is complete for
    // hamming <= 3, verify is exact bit_count.
    QuerySpec("audio_dup_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      Multimodal.audioDupPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    },
      // stub waveform -> frame energies -> delta-sign bits -> banded join;
      // the clone shift is a multiple of 3 so kinds survive the re-ingest
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 999999999, text FROM documents
        |  WHERE doc_id % 97 = 0),
        |aud AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 1),
        |sm AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 256), k ->
        |      CAST(('0x' || substring(
        |        md5(text || ':a' || CAST(k // 16 AS VARCHAR)),
        |        (k % 16) * 2 + 1, 2)) AS BIGINT) - 128) AS s
        |  FROM aud),
        |en AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 32), f ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        CAST(s[f * 8 + i] AS BIGINT) * s[f * 8 + i]))) AS e
        |  FROM sm),
        |sg AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 31), b ->
        |      CASE WHEN e[b + 2] > e[b + 1]
        |        THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS sig
        |  FROM en),
        |b AS (
        |  SELECT doc_id, sig, d.band, (sig >> (d.band * 8)) & 255 AS bkey
        |  FROM sg CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) d),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
        |    a.sig AS sig_a, bb.sig AS sig_b
        |  FROM b a JOIN b bb
        |    ON a.band = bb.band AND a.bkey = bb.bkey
        |      AND a.doc_id < bb.doc_id)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY 1, 2""".stripMargin),

    // ---- video near-dup pairs (shot-signature sets, MinHash + exact J) ----
    // Re-ingested clips (every 13th doc — 13 = 1 mod 3 so the video kind
    // survives; id +999999999 shifts n_frames mod 30, so the echo is a
    // RE-CUT of the same clip): shot-key sets -> 8-draw MinHash, 4 bands
    // of 2 -> exact set-Jaccard verify at the integer 2|∩| >= |∪| gate.
    QuerySpec("video_dup_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      Multimodal.videoDupPairs(media)
        .orderBy(col("id_a"), col("id_b"))
    },
      // video near-dup: shot segmentation (lag + cumulative breaks) ->
      // shot-key MinHash bands -> exact set-Jaccard verify
      s"""$videoDupCtes
        |SELECT id_a, id_b, n_a, n_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) /
        |    CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
        |FROM gp ORDER BY 1, 2""".stripMargin),

    // ---- video near-dup CLUSTERS (pairs -> connected components) ----------
    // Closes the video loop the way the text side does (minhash ->
    // dup_clusters): videoDupPairs edges + every video as a node ->
    // pointer-jumped label propagation -> (doc_id, cluster_rep).
    QuerySpec("video_dup_clusters_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      val pairs = Multimodal.videoDupPairs(media)
        .select(col("id_a"), col("id_b"))
      val nodes = media.filter(col("meta.kind") === "video")
        .select(col("doc_id"))
      Dedup.duplicateClusters(nodes, pairs, "doc_id")
        .orderBy(col("doc_id"))
    },
      // video clusters: the gated pairs + the dup_clusters reach pattern
      s"""$videoDupCtes,
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM gp
        |  UNION SELECT id_b, id_a FROM gp),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM vid
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src)
        |SELECT a AS doc_id, MIN(b) AS cluster_rep
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),

    // ---- video near-dup RECALL vs the planted truth -------------------------
    // The opq_recall discipline for the video LSH path: exact shot-set
    // Jaccard on the planted echo pairs, gate subset, measured recall of
    // the banded-MinHash candidates.
    QuerySpec("video_dup_recall_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val echo = docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(999999999L))
      val media = Multimodal.fromDocuments(docs.unionByName(echo))
      val planted = docs
        .filter(col("doc_id") % 13 === 0 && col("doc_id") % 3 === 2)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + lit(999999999L)).as("id_b"))
      Multimodal.videoDupRecall(media, planted)
    },
      // video recall grade: exact Jaccard of planted pairs vs gp hits
      s"""$videoDupCtes,
        |pl AS (
        |  SELECT doc_id AS id_a, doc_id + 999999999 AS id_b
        |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 3 = 2),
        |ti AS (
        |  SELECT pl.id_a, pl.id_b, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM pl JOIN ks ka ON ka.doc_id = pl.id_a
        |  JOIN ks kb ON kb.doc_id = pl.id_b
        |    AND kb.shot_key = ka.shot_key
        |  GROUP BY 1, 2),
        |tv AS (
        |  SELECT pl.id_a, pl.id_b, sa.n AS n_a, sb.n AS n_b,
        |    COALESCE(ti.nc, 0) AS nc
        |  FROM pl JOIN sz sa ON sa.doc_id = pl.id_a
        |  JOIN sz sb ON sb.doc_id = pl.id_b
        |  LEFT JOIN ti ON ti.id_a = pl.id_a AND ti.id_b = pl.id_b),
        |tg AS (SELECT id_a, id_b,
        |  (nc * 2 >= n_a + n_b - nc) AS above FROM tv),
        |fj AS (
        |  SELECT tg.above,
        |    CASE WHEN gp.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM tg LEFT JOIN gp
        |    ON gp.id_a = tg.id_a AND gp.id_b = tg.id_b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |  CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above_gate,
        |  CAST(SUM(CASE WHEN above THEN hit ELSE 0 END) AS BIGINT)
        |    AS n_recovered,
        |  CASE WHEN SUM(CASE WHEN above THEN 1 ELSE 0 END) > 0 THEN
        |    ROUND(CAST(SUM(CASE WHEN above THEN hit ELSE 0 END)
        |        AS DOUBLE) /
        |      CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS DOUBLE), 6)
        |    END AS recall
        |FROM fj""".stripMargin),

    // ---- video shot-boundary screening -------------------------------------
    // Frame-difference detector over the seam signatures; per-row state
    // bounded by n_frames, no frame explosion, no shuffle.
    QuerySpec("shot_bounds_docs", (s, dir) =>
      Multimodal.shotBoundaries(
        Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("doc_id")),
      // per-video signature walk replays as a list fold; 1 + boundary count
      """WITH vid AS (
        |  SELECT doc_id, text, CAST(doc_id % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |sg AS (
        |  SELECT doc_id, n_frames,
        |    list_transform(range(0, n_frames), f ->
        |      CAST(('0x' || substring(md5(text || CAST(f AS VARCHAR)),
        |        1, 2)) AS INT)) AS sig
        |  FROM vid)
        |SELECT doc_id, n_frames,
        |  CAST(1 + COALESCE(list_sum(list_transform(range(1, n_frames),
        |    f -> CASE WHEN abs(sig[f + 1] - sig[f]) > 64
        |      THEN 1 ELSE 0 END)), 0) AS INT) AS n_shots
        |FROM sg ORDER BY doc_id""".stripMargin),

    // ---- multimodal: CLIP-score cross-modal alignment filter ---------------
    // The LAION curation gate: even-id embeddings play the caption side,
    // their odd-id successors the image side (pair_id = vec_id div 2);
    // keep iff micro-long cosine >= 0.28 — a keyed 1:1 join, no pair
    // explosion (see Multimodal.alignmentScore).
    QuerySpec("clip_align_embeddings", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Multimodal.alignmentScore(
          e.filter(col("vec_id") % 2 === 0)
            .select(expr("vec_id div 2").as("pair_id"), col("embedding")),
          e.filter(col("vec_id") % 2 === 1)
            .select(expr("vec_id div 2").as("pair_id"), col("embedding")),
          "pair_id", "embedding", 280000L)
        .orderBy(col("pair_id"))
    },
      // CLIP-align replay: the bitext micro-long cosine convention — exact
      // integer dots on round(x*1000) vectors, one double division, one
      // round to micro — so the threshold decision cannot flap
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |t AS (SELECT vec_id // 2 AS pair_id, v FROM qv WHERE vec_id % 2 = 0),
        |i AS (SELECT vec_id // 2 AS pair_id, v FROM qv WHERE vec_id % 2 = 1),
        |sc AS (
        |  SELECT t.pair_id,
        |    CAST(round(CAST(list_dot_product(t.v, i.v) AS DOUBLE)
        |      / sqrt(CAST(list_dot_product(t.v, t.v) AS DOUBLE)
        |             * CAST(list_dot_product(i.v, i.v) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS cos_micro
        |  FROM t JOIN i USING (pair_id))
        |SELECT pair_id, cos_micro, cos_micro >= 280000 AS aligned
        |FROM sc ORDER BY pair_id""".stripMargin)
  )
}
