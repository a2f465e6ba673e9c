package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.scale.{Dedup, TextAnalysis}
import graft.streaming.Streams
import graft.tasks.Wrangler
import QueryHelpers._

/** Near-duplicate detection and entity resolution ([[graft.scale.Dedup]]):
  * exact, MinHash, SimHash and containment dedup, duplicate clusters,
  * decontamination, Fellegi-Sunter matching and the clustering scores.
  */
object DedupQueries {

  /** The planted benchmark set of the semantic-decontamination queries:
    * vec_id % 7 = 0 items are PARAPHRASES — the corpus embedding's
    * 1e-3-quantized integers jittered by (vec_id + i) % 5 − 2 milli-units
    * and divided back, so both engines recover exactly v_i + j_i after
    * quantization (no float-boundary flap; cosine to the source stays
    * ≈ 1). vec_id % 7 = 3 items are NOVEL — the reversed vector,
    * decorrelated from every corpus embedding (must not flag at 0.95).
    */
  private def semanticBench(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 7 === 0 || col("vec_id") % 7 === 3)
      .select(col("vec_id").as("bench_id"), expr(
        """CASE WHEN vec_id % 7 = 0 THEN
          |  transform(sequence(1, size(embedding)), i ->
          |    (round(CAST(element_at(embedding, i) AS DOUBLE) * 1000)
          |     + CAST((vec_id + i) % 5 - 2 AS DOUBLE)) / 1000.0D)
          |ELSE transform(sequence(1, size(embedding)), i ->
          |  CAST(element_at(embedding, size(embedding) - i + 1)
          |    AS DOUBLE))
          |END""".stripMargin).as("embedding"))

  /** Shared candidate relation of the two Fellegi-Sunter queries: SNM
    * blocking (lowercased name, window 8) over part, each pair carrying
    * its field-agreement booleans + the p_type gold label.
    */
  private def fsPairs(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    // tokens materialized ONCE per row before the pair join (emTokens'
    // documented rule) — per-pair tokenization re-splits each name
    // window−1 times
    val attrs = p.select(col("p_partkey").cast("long").as("id"),
      Wrangler.emTokens(col("p_name")).as("toks"),
      col("p_brand"), col("p_type"), col("p_size"))
    Dedup.snmPairs(
        p.select(col("p_partkey").cast("long").as("id"),
          lower(col("p_name")).as("key")),
        "id", "key", 8)
      .join(attrs.select(col("id").as("id_a"), col("toks").as("__ka"),
        col("p_brand").as("__ba"), col("p_type").as("__ta"),
        col("p_size").as("__sa")), Seq("id_a"))
      .join(attrs.select(col("id").as("id_b"), col("toks").as("__kb"),
        col("p_brand").as("__bb"), col("p_type").as("__tb"),
        col("p_size").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__ba") === col("__bb")).as("brand_eq"),
        (abs(col("__sa") - col("__sb")) <= 1).as("size_close"),
        (Wrangler.tokenJaccardArrays(col("__ka"), col("__kb")) >= 0.5)
          .as("name_sim"),
        (col("__ta") === col("__tb")).as("gold"))
  }

  /** Per-domain crawl-panel replay: the url_dedup canonicalization chain,
    * then host extraction and the SAME suffix ladder the Spark side runs,
    * generated from the one [[graft.scale.Dedup.PublicSuffixes]] list
    * (longest-label-first order; host = suffix gates NULL; IPv4 and the
    * wildcard fallback included), then one hash-agg per domain.
    */
  private def domainStatsOracleSql: String = {
    val ordered = graft.scale.Dedup.PublicSuffixes.distinct
      .sortBy(s => (-s.count(_ == '.'), -s.length, s))
    val ladder = ordered.map { sfx =>
      val esc = sfx.replace(".", "\\.")
      s"      WHEN host = '$sfx' THEN NULL\n" +
        s"      WHEN ends_with(host, '.$sfx')\n" +
        s"        THEN regexp_extract(host, '([^.]+\\.$esc)$$', 1)"
    }.mkString("\n")
    val head =
      """WITH u0 AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS mass,
        |    CASE CAST(doc_id % 8 AS INT)
        |      WHEN 0 THEN 'https://WWW.Example.CO.UK/art/'
        |        || CAST(doc_id // 24 AS VARCHAR) || '?utm_source=x'
        |      WHEN 1 THEN 'https://news.example.co.uk/art/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 2 THEN 'https://Alice.GitHub.IO/proj/'
        |        || CAST(doc_id // 24 AS VARCHAR) || '#readme'
        |      WHEN 3 THEN 'https://a.b.github.io/x/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 4 THEN 'http://data.example.org:8080/d?id='
        |        || CAST(doc_id % 3 AS VARCHAR)
        |      WHEN 5 THEN 'https://one.two.example.ai/e/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |      WHEN 6 THEN 'http://192.168.0.1/admin'
        |      ELSE 'https://weird.example.zz/f/'
        |        || CAST(doc_id // 24 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id, mass, trim(url) AS tu,
        |    regexp_replace(trim(url), '#.*$', '') AS nf
        |  FROM u0),
        |c1 AS (
        |  SELECT doc_id, mass, tu, nf,
        |    regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS auth
        |  FROM c0),
        |c2 AS (
        |  SELECT doc_id, mass, tu, auth,
        |    substring(nf, length(auth) + 1) AS rest
        |  FROM c1),
        |c3 AS (
        |  SELECT doc_id, mass, tu, auth,
        |    regexp_replace(regexp_replace(lower(auth),
        |      '^(https://[^:/?#]*):443$', '\1'),
        |      '^(http://[^:/?#]*):80$', '\1') AS authc,
        |    regexp_replace(rest, '\?.*$', '') AS path,
        |    CASE WHEN contains(rest, '?')
        |      THEN regexp_replace(rest, '^[^?]*\?', '')
        |      ELSE '' END AS q
        |  FROM c2),
        |c4 AS (
        |  SELECT doc_id, mass, tu, auth, authc,
        |    regexp_replace(path, '/$', '') AS path2,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      p -> len(p) > 0 AND NOT (starts_with(p, 'utm_')
        |        OR p = 'gclid' OR starts_with(p, 'gclid=')
        |        OR p = 'fbclid' OR starts_with(p, 'fbclid=')
        |        OR p = 'msclkid' OR starts_with(p, 'msclkid=')
        |        OR p = 'ref' OR starts_with(p, 'ref='))), '&') AS q2
        |  FROM c3),
        |canon AS (
        |  SELECT doc_id, mass,
        |    CASE WHEN length(auth) > 0 THEN authc || path2 ||
        |      (CASE WHEN length(q2) > 0 THEN '?' || q2 ELSE '' END)
        |    ELSE tu END AS cu
        |  FROM c4),
        |h0 AS (
        |  SELECT doc_id, mass, cu,
        |    regexp_replace(regexp_replace(lower(regexp_extract(trim(cu),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |      '^.*@', ''), ':[0-9]*$', '') AS host
        |  FROM canon),
        |d0 AS (
        |  SELECT doc_id, mass, cu,
        |    NULLIF(CASE
        |      WHEN length(host) = 0 THEN NULL
        |      WHEN regexp_matches(host, '^[0-9]+(\.[0-9]+){3}$')
        |        THEN host""".stripMargin
    val tail =
      """      WHEN regexp_matches(host, '[^.]\.[^.]+$')
        |        THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |      ELSE NULL END, '') AS domain
        |  FROM h0)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT md5(cu)) AS BIGINT) AS n_pages,
        |  CAST(SUM(mass) AS BIGINT) AS mass,
        |  ROUND(1.0 - CAST(COUNT(DISTINCT md5(cu)) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_share
        |FROM d0 GROUP BY domain ORDER BY domain""".stripMargin
    head + "\n" + ladder + "\n" + tail
  }

  /** Semantic-decontamination replay core (through the within-cell
    * cosine hits) — shared by the flagged-doc detail and the measured
    * recall oracles. Benchmark vectors are rebuilt from the QUANTIZED
    * corpus integers (v_i + (vec_id+i)%5 − 2 for paraphrases, the
    * reversed list for novels) — exactly what Spark's quantize recovers
    * from the fixture's /1000.0 floats. Same 1-probe corpus / 2-probe
    * bench cell walk, exact-double dots (integer-valued, < 2^53).
    */
  private def semanticDecontamOracleCore: String =
    """WITH qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
      |      AS v
      |  FROM embeddings),
      |bench AS (
      |  SELECT vec_id AS bench_id,
      |    CASE WHEN vec_id % 7 = 0 THEN
      |      list_transform(range(1, len(v) + 1),
      |        i -> v[i] + CAST((vec_id + i) % 5 - 2 AS DOUBLE))
      |    ELSE list_reverse(v) END AS bv
      |  FROM qv WHERE vec_id % 7 = 0 OR vec_id % 7 = 3),
      |cents AS (
      |  SELECT vec_id AS centroid_id, v AS centv FROM qv
      |  WHERE vec_id % 100 = 0),
      |casn AS (
      |  SELECT corpus_id, cv, centroid_id FROM (
      |    SELECT q.vec_id AS corpus_id, q.v AS cv, c.centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(q.v, c.centv)
      |          / sqrt(list_dot_product(q.v, q.v)
      |                 * list_dot_product(c.centv, c.centv)) DESC,
      |        c.centroid_id) AS rk
      |    FROM qv q, cents c)
      |  WHERE rk = 1),
      |basn AS (
      |  SELECT centroid_id, bench_id, bv FROM (
      |    SELECT b.bench_id, c.centroid_id, b.bv,
      |      ROW_NUMBER() OVER (PARTITION BY b.bench_id ORDER BY
      |        list_dot_product(b.bv, c.centv)
      |          / sqrt(list_dot_product(b.bv, b.bv)
      |                 * list_dot_product(c.centv, c.centv)) DESC,
      |        c.centroid_id) AS rk
      |    FROM bench b, cents c)
      |  WHERE rk <= 2),
      |hits AS (
      |  SELECT corpus_id, bench_id, cs FROM (
      |    SELECT a.corpus_id, b.bench_id,
      |      list_dot_product(a.cv, b.bv)
      |        / sqrt(list_dot_product(a.cv, a.cv)
      |               * list_dot_product(b.bv, b.bv)) AS cs
      |    FROM casn a JOIN basn b ON b.centroid_id = a.centroid_id)
      |  WHERE cs >= 0.95)""".stripMargin

  // ---- scale: LSH pairs → connected components → dedup clusters ----------
  private val dupClustersDocs = QuerySpec("dup_clusters_docs", (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.duplicateClusters(docs,
        Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
      .orderBy(col("doc_id"))
  },
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
      |mh AS (
      |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
      |  FROM sh, UNNEST(range(0, 8)) AS su(s)
      |  GROUP BY doc_id, s),
      |bands AS (
      |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
      |  FROM mh GROUP BY doc_id, s // 2),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |  WHERE a.doc_id < b.doc_id),
      |e AS (
      |  SELECT id_a AS src, id_b AS dst FROM prs
      |  UNION SELECT id_b, id_a FROM prs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src)
      |SELECT a AS doc_id, MIN(b) AS cluster_rep
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin)

  // ---- scale: benchmark decontamination (shared n-gram flag) -------------
  private val decontaminateDocs = QuerySpec("decontaminate_docs", (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", 3)
      .orderBy(col("doc_id"))
  },
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
      |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
      |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
      |hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_shared
      |  FROM sh s JOIN ev ON s.sh = ev.sh
      |  WHERE s.doc_id % 20 <> 0
      |  GROUP BY s.doc_id)
      |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
      |  COALESCE(h.n_shared, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
      |LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: exact dedup -----------------------------------------------
    QuerySpec("dedup_exact_docs", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "n_dups")
        .orderBy(col("doc_id")),
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),

    // ---- scale: MinHash signatures + LSH banding --------------------------
    QuerySpec("minhash_bands_docs", (s, dir) =>
      Dedup.lshBands(
          Dedup.minhashSignatures(
            t(s, dir, "documents"), "doc_id", "text", 8, 3),
          "doc_id", 8, 2)
        .orderBy(col("doc_id"), col("band")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s)
        |SELECT doc_id, s // 2 AS band,
        |  STRING_AGG(h, '' ORDER BY s) AS band_key
        |FROM mh GROUP BY doc_id, s // 2
        |ORDER BY doc_id, band""".stripMargin),

    // ---- scale: LSH candidate pairs ---------------------------------------
    QuerySpec("minhash_pairs_docs", (s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text", 8, 2, 3)
        .orderBy(col("id_a"), col("id_b")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_key = b.band_key
        |WHERE a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- scale: incremental batch-vs-corpus dedup (exact + LSH screens) ----
    QuerySpec("incremental_dedup_docs", (s, dir) =>
      Dedup.incrementalDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |cfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8),
        |cbk AS (SELECT DISTINCT band, band_key FROM bands
        |        WHERE doc_id % 10 < 8),
        |inc AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 >= 8),
        |ex AS (SELECT DISTINCT doc_id FROM inc
        |       WHERE fp IN (SELECT fp FROM cfp)),
        |nr AS (SELECT DISTINCT b.doc_id
        |       FROM bands b JOIN cbk c
        |         ON b.band = c.band AND b.band_key = c.band_key
        |       WHERE b.doc_id % 10 >= 8)
        |SELECT i.doc_id,
        |  (ex.doc_id IS NOT NULL) AS dup_exact,
        |  (nr.doc_id IS NOT NULL) AS dup_near,
        |  (ex.doc_id IS NULL AND nr.doc_id IS NULL) AS kept
        |FROM inc i
        |LEFT JOIN ex ON i.doc_id = ex.doc_id
        |LEFT JOIN nr ON i.doc_id = nr.doc_id
        |ORDER BY i.doc_id""".stripMargin),

    // ---- streaming dedup in the CHECKED surface: dropDuplicates state ------
    // ---- streaming: incoming stream deduped against a static corpus --------
    // The streaming face of incremental dedup: the micro-batch stream of
    // new docs anti-joins (stream-static, no state store) the corpus's
    // min-shingle fingerprint set; survivors aggregate per source. The
    // static side is re-broadcast per batch — at scale it would be a
    // bucketed table the join prunes against instead.
    QuerySpec("streaming_corpus_dedup_docs", (s, dir) => {
      val batch = t(s, dir, "documents")
      val stream = Tables.stream(s, dir, "documents")
      val key = TextAnalysis.minShingleFingerprint(col("text"), 3)
      val corpusKeys = batch.filter(col("doc_id") % 10 < 8)
        .select(key.as("fp")).distinct()
      val kept = stream.filter(col("doc_id") % 10 >= 8)
        .select(col("source"), key.as("fp"))
        .join(corpusKeys, Seq("fp"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      Streams.runToMemory(s, kept, OutputMode.Complete())
        .orderBy(col("source"))
    },
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keys AS (
        |  SELECT doc_id, source, MIN(md5(sh)) AS fp
        |  FROM sh GROUP BY doc_id, source),
        |ck AS (SELECT DISTINCT fp FROM keys WHERE doc_id % 10 < 8),
        |inc AS (SELECT doc_id, source, fp FROM keys WHERE doc_id % 10 >= 8)
        |SELECT source, COUNT(*) AS n_kept
        |FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.fp = i.fp)
        |GROUP BY source ORDER BY source""".stripMargin),

    dupClustersDocs,

    // ---- scale: same clusters via large-star/small-star contraction --------
    // The extreme-diameter CC path (Kiveris et al. SOCC'14) over the same
    // LSH pairs — identical output contract, so it shares the recursive-SQL
    // oracle with dup_clusters_docs (the oracle describes components, not
    // the algorithm).
    QuerySpec("dup_clusters_star_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.connectedComponentsStar(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
        .orderBy(col("doc_id"))
    },
      dupClustersDocs.oracle),

    // ---- dedup impact report: component-size distribution -------------------
    // How the duplicate mass is shaped: many pairs vs few giant templates
    // decide whether keep-one dedup or boilerplate scrubbing is the fix.
    QuerySpec("component_sizes_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sizes = Dedup.duplicateClusters(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("sz"))
        .localCheckpoint(true) // cluster dictionary; feeds totals + panel
      val tot = sizes.agg(sum(col("sz")).as("__n"))
      sizes.groupBy(col("sz").as("size"))
        .agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot))
        .select(col("size"), col("n_components"),
          (col("size") * col("n_components")).as("n_docs"),
          round((col("size") * col("n_components")).cast("double") /
            col("__n").cast("double"), 6).as("doc_share"))
        .orderBy(col("size"))
    },
      // the dup_clusters CC rolled up to the component-size distribution
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS rep FROM reach GROUP BY a),
        |szs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM cl GROUP BY rep),
        |tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM szs)
        |SELECT sz AS size, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(CAST(sz * COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS doc_share
        |FROM szs, tot GROUP BY sz, n ORDER BY size""".stripMargin),

    // ---- scale: intra-document repeated-sentence removal -------------------
    QuerySpec("sentence_dedup_docs", (s, dir) =>
      Dedup.dedupSentences(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH s AS (
        |  SELECT doc_id, u.p, l[u.p] AS s
        |  FROM (SELECT doc_id, string_split(text, '. ') AS l FROM documents),
        |    UNNEST(range(1, len(l) + 1)) AS u(p)),
        |f AS (
        |  SELECT doc_id, s, MIN(p) AS p, COUNT(*) AS n
        |  FROM s GROUP BY doc_id, s)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_sentences,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  md5(STRING_AGG(s, '. ' ORDER BY p)) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- scale: dedup-threshold tuning curve -------------------------------
    QuerySpec("dedup_threshold_sweep_docs", (s, dir) =>
      Dedup.dedupThresholdSweep(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("threshold")),
      // integer sweep over minimum match counts — threshold m/8 is an exact
      // dyadic; same minhash/band CTEs as the accuracy oracle
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |mcount AS (
        |  SELECT c.id_a, c.id_b,
        |    SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS m
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.id_a
        |  JOIN mh mb ON mb.doc_id = c.id_b AND mb.s = ma.s
        |  GROUP BY c.id_a, c.id_b),
        |sw AS (
        |  SELECT u.t, id_a, id_b
        |  FROM mcount, UNNEST(range(1, 9)) AS u(t)
        |  WHERE m >= u.t),
        |pa AS (SELECT t, COUNT(*) AS n_pairs FROM sw GROUP BY t),
        |da AS (
        |  SELECT t, COUNT(DISTINCT d) AS n_docs FROM (
        |    SELECT t, id_a AS d FROM sw
        |    UNION ALL SELECT t, id_b AS d FROM sw)
        |  GROUP BY t),
        |grid AS (SELECT t FROM UNNEST(range(1, 9)) AS g(t))
        |SELECT CAST(t AS DOUBLE) / 8 AS threshold,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
        |FROM grid LEFT JOIN pa USING (t) LEFT JOIN da USING (t)
        |ORDER BY threshold""".stripMargin),

    // ---- scale: leakage-safe split (clusters are the assignment unit) ------
    QuerySpec("leakage_split_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.leakageSafeSplit(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id", 0.2)
        .orderBy(col("doc_id"))
    },
      // same component construction as dup_clusters_docs; split = md5-uniform
      // draw on the cluster representative (the kfold/uniformDraw convention)
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (
        |  SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a)
        |SELECT doc_id, cluster_rep,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)),
        |      1, 8)) AS BIGINT) / 4294967296.0 < 0.2
        |    THEN 'test' ELSE 'train' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin),

    // ---- leakage-safe k-fold cross-validation assignment -------------------
    // Every near-dup cluster lands whole in one of 5 folds (salted hash of
    // the cluster representative) — no fold validates on a near-duplicate
    // of another fold's training data, and membership is content-stable
    // under corpus growth.
    QuerySpec("kfold_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.kFoldSplit(docs,
          Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id", 5)
        .orderBy(col("doc_id"))
    },
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''),
        |    COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band,
        |    STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (
        |  SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a)
        |SELECT doc_id, cluster_rep,
        |  CAST(('0x' || substr(md5('fold:' || CAST(cluster_rep AS VARCHAR)),
        |    1, 8)) AS BIGINT) % 5 AS fold
        |FROM cl ORDER BY doc_id""".stripMargin),

    // ---- scale: n-gram Jaccard near-dup pairs -----------------------------
    QuerySpec("jaccard_pairs_docs", (s, dir) =>
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text", 3, 0.2, 100)
        .select(col("id_a"), col("id_b"), col("n_common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- LSH tuning advisor: expected recall of (b=4, r=2) on THIS
    // corpus's near-dup pair population, per similarity decile -------------
    QuerySpec("lsh_tuning_docs", (s, dir) =>
      Dedup.lshRecallEstimate(
          Dedup.ngramJaccardPairs(
            t(s, dir, "documents"), "doc_id", "text", 3, 0.2, 100),
          4, 2)
        .orderBy(col("bucket")),
      // the jaccard pair population folded through the (b, r) S-curve
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |prs AS (
        |  SELECT ROUND(CAST(n_common AS DOUBLE)
        |    / (sa.sz + sb.sz - n_common), 6) AS s
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / (sa.sz + sb.sz - n_common) >= 0.2),
        |pd AS (
        |  SELECT CAST(FLOOR(s * 10) AS BIGINT) AS bucket,
        |    CAST(1.0 - pow(1.0 - pow(s, 2), 4) AS DECIMAL(38,12)) AS p
        |  FROM prs)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(p) AS DOUBLE), 6) AS expected_detected,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS expected_recall
        |FROM pd GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ---- scale: SimHash near-dup pairs (oracle: DuckDB '0x..' hex cast) ---
    QuerySpec("simhash_pairs_docs", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 20, 8)
        .orderBy(col("id_a"), col("id_b")),
      // SimHash: 60-bit sig from the first 15 md5 hex chars per token
      // (DuckDB parses '0x…' string casts to BIGINT — same value Spark gets
      // from conv(…,16,10)); bit votes, pack, block on top 8 bits, Hamming≤20.
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |v AS (
        |  SELECT doc_id, j,
        |    CAST(SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
        |  FROM h, UNNEST(range(0, 60)) AS u(j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
        |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        |  FROM v GROUP BY doc_id),
        |b AS (SELECT doc_id, sig, sig >> 52 AS block FROM sig)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, c.sig)) AS INT) AS hamming
        |FROM b a JOIN b c ON a.block = c.block AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.sig, c.sig)) <= 20
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- canonical-representative dedup (keep best per group) -------------
    QuerySpec("dedup_keep_best_docs", (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("doc_id", "source", "n_chars")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // ---- dedup diagnostic: duplication exposed by canonical-form choice ----
    // The synthetic corpus has zero byte-identical dups, so to give the
    // before/after diagnostic a real signal the query injects re-punctuated
    // copies of every 7th doc (the classic boilerplate-suffix case): raw
    // dedup must NOT catch them, normalized dedup must.
    QuerySpec("norm_dedup_gain_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 1000000L,
          concat(col("text"), lit(" !!")).as("text"))
      Dedup.normalizationGain(docs.union(variants), "text")
    },
      """WITH aug AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT text || ' !!' FROM documents WHERE doc_id % 7 = 0),
        |h AS (
        |  SELECT md5(text) AS raw_h,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS norm_h
        |  FROM aug)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT raw_h) AS BIGINT) AS n_raw_dups,
        |  CAST(COUNT(*) - COUNT(DISTINCT norm_h) AS BIGINT) AS n_norm_dups,
        |  CAST(COUNT(DISTINCT raw_h) - COUNT(DISTINCT norm_h) AS BIGINT)
        |    AS gain
        |FROM h""".stripMargin),

    // ---- dedup QA: MinHash estimate vs exact Jaccard on LSH candidates -----
    QuerySpec("minhash_accuracy_docs", (s, dir) =>
      Dedup.minhashAccuracy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS DOUBLE) / 8
        |      AS est_sim
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.id_a
        |  JOIN mh mb ON mb.doc_id = c.id_b AND mb.s = ma.s
        |  GROUP BY c.id_a, c.id_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT e.id_a, e.id_b, ROUND(e.est_sim, 6) AS est_sim,
        |  ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |    / CAST(sa.sz + sb.sz - COALESCE(i.n_inter, 0) AS DOUBLE), 6)
        |    AS exact_jaccard,
        |  ROUND(ABS(e.est_sim
        |    - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |      / CAST(sa.sz + sb.sz - COALESCE(i.n_inter, 0) AS DOUBLE)), 6)
        |    AS abs_err
        |FROM est e
        |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        |JOIN sizes sa ON sa.doc_id = e.id_a
        |JOIN sizes sb ON sb.doc_id = e.id_b
        |ORDER BY e.id_a, e.id_b""".stripMargin),

    // ---- scale: passage-level cross-corpus dedup + reassembly --------------
    QuerySpec("passage_dedup_docs", (s, dir) =>
      Dedup.passageDedup(t(s, dir, "documents"), "doc_id", "text", 10)
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
        |  FROM toks,
        |    UNNEST(range(0, greatest(CAST(ceil(len(t)/10.0) AS INT), 1))) AS u(i)),
        |rn AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
        |    ORDER BY doc_id, pos) AS r
        |  FROM ch),
        |surv AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM rn WHERE r = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  COALESCE(s.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN surv s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    decontaminateDocs,

    // ---- scale: FUZZY (MinHash-LSH) decontamination -------------------------
    QuerySpec("decontaminate_fuzzy_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateFuzzy(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", 8, 2, 3, 600000L)
        .orderBy(col("doc_id"))
    },
      // same mh/bands replay as minhash_pairs_docs, bipartite corpus×eval
      // candidate join, est = component-agreement fraction in exact micros
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS cid, e.doc_id AS eid
        |  FROM bands c JOIN bands e
        |    ON c.band = e.band AND c.band_key = e.band_key
        |  WHERE c.doc_id % 20 <> 0 AND e.doc_id % 20 = 0),
        |agr AS (
        |  SELECT cd.cid, cd.eid,
        |    CAST(SUM(CASE WHEN cm.h = em.h THEN 1 ELSE 0 END) * 1000000 // 8
        |      AS BIGINT) AS est
        |  FROM cand cd
        |  JOIN mh cm ON cm.doc_id = cd.cid
        |  JOIN mh em ON em.doc_id = cd.eid AND em.s = cm.s
        |  GROUP BY cd.cid, cd.eid),
        |best AS (
        |  SELECT cid, eid, est, ROW_NUMBER() OVER (
        |    PARTITION BY cid ORDER BY est DESC, eid) AS rk
        |  FROM agr)
        |SELECT d.doc_id, b.eid AS match_id,
        |  COALESCE(b.est, 0) AS est_jaccard_micro,
        |  COALESCE(b.est, 0) >= 600000 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.cid = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ---- scale: SEMANTIC (embedding-space) decontamination ------------------
    // The paraphrase gate the lexical passes above miss: benchmark =
    // planted PARAPHRASE vectors (vec_id % 7 = 0 — the corpus vector
    // jittered by <= 2 milli-units per dim: same meaning-point in
    // embedding space, ZERO lexical trace for any n-gram pass to find)
    // plus novel items (vec_id % 7 = 3 — the REVERSED vector,
    // decorrelated: must NOT flag). IVF cell-probe walk, cosine >= 0.95
    // within cells only.
    QuerySpec("decontaminate_semantic_docs", (s, dir) =>
      Dedup.decontaminateSemantic(t(s, dir, "embeddings"),
          semanticBench(t(s, dir, "embeddings")),
          "vec_id", "bench_id", "embedding", 0.95)
        .orderBy(col("corpus_id")),
      s"""$semanticDecontamOracleCore,
         |sel AS (
         |  SELECT corpus_id, bench_id, cs,
         |    ROW_NUMBER() OVER (PARTITION BY corpus_id
         |      ORDER BY cs DESC, bench_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY corpus_id) AS nh,
         |    MAX(cs) OVER (PARTITION BY corpus_id) AS mx
         |  FROM hits)
         |SELECT corpus_id, CAST(nh AS BIGINT) AS n_bench_hits,
         |  bench_id AS top_bench_id, ROUND(mx, 6) AS max_sim
         |FROM sel WHERE rk = 1 ORDER BY corpus_id""".stripMargin),

    // ---- MEASURED recall of the semantic pass against the planted truth ----
    // The phonetic_blocking_quality discipline: the planted paraphrases
    // ARE the ground truth, so recall is a measurement, not an
    // assertion — n_planted_flagged / n_planted, with the non-planted
    // flag count beside it (reversed novel items must contribute 0).
    QuerySpec("decontaminate_semantic_recall_docs", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val flagged = Dedup.decontaminateSemantic(emb, semanticBench(emb),
        "vec_id", "bench_id", "embedding", 0.95)
      val hits = flagged.agg(
        count(lit(1)).as("n_flagged"),
        sum(when(col("corpus_id") % 7 === 0, 1L).otherwise(0L))
          .as("n_planted_flagged"))
      emb.agg(count(lit(1)).as("n_corpus"),
          sum(when(col("vec_id") % 7 === 0, 1L).otherwise(0L))
            .as("n_planted"))
        .crossJoin(hits)
        .withColumn("recall", when(col("n_planted") > 0L,
          round(col("n_planted_flagged").cast("double") /
            col("n_planted").cast("double"), 6)))
    },
      s"""$semanticDecontamOracleCore,
         |f AS (SELECT corpus_id FROM hits GROUP BY corpus_id),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged,
         |    CAST(SUM(CASE WHEN corpus_id % 7 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_planted_flagged
         |  FROM f),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |    CAST(SUM(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_planted
         |  FROM embeddings)
         |SELECT n_corpus, n_planted, n_flagged, n_planted_flagged,
         |  CASE WHEN n_planted > 0 THEN
         |    ROUND(CAST(n_planted_flagged AS DOUBLE)
         |      / CAST(n_planted AS DOUBLE), 6) END AS recall
         |FROM tot, agg""".stripMargin),

    // ---- per-benchmark contamination report (the release-audit table) -------
    // Three synthetic benchmarks carved from the eval slice; one band-
    // gated MinHash pass audits all of them, char mass as the reported
    // overlap weight.
    QuerySpec("contamination_report_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0)
            .withColumn("benchmark",
              concat(lit("bench_"), (col("doc_id") % 3).cast("string"))),
          "doc_id", "text", "benchmark", "n_chars", 8, 2, 3, 600000L)
        .orderBy(col("benchmark"))
    },
      // same mh/bands/agr replay as decontaminate_fuzzy_docs; benchmark
      // labels join the eval side, per-(benchmark, doc) best estimate,
      // zero-overlap benchmarks scaffolded via the eval-dictionary left join
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |cand AS (
        |  SELECT DISTINCT c.doc_id AS cid, e.doc_id AS eid
        |  FROM bands c JOIN bands e
        |    ON c.band = e.band AND c.band_key = e.band_key
        |  WHERE c.doc_id % 20 <> 0 AND e.doc_id % 20 = 0),
        |agr AS (
        |  SELECT cd.cid, cd.eid,
        |    CAST(SUM(CASE WHEN cm.h = em.h THEN 1 ELSE 0 END) * 1000000 // 8
        |      AS BIGINT) AS est
        |  FROM cand cd
        |  JOIN mh cm ON cm.doc_id = cd.cid
        |  JOIN mh em ON em.doc_id = cd.eid AND em.s = cm.s
        |  GROUP BY cd.cid, cd.eid),
        |bench AS (
        |  SELECT doc_id AS eid,
        |    'bench_' || CAST(doc_id % 3 AS VARCHAR) AS benchmark
        |  FROM documents WHERE doc_id % 20 = 0),
        |corp AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS mass
        |  FROM documents WHERE doc_id % 20 <> 0),
        |ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |  CAST(SUM(mass) AS BIGINT) AS mc FROM corp),
        |flags AS (
        |  SELECT b.benchmark, a.cid, MAX(a.est) AS best
        |  FROM agr a JOIN bench b ON a.eid = b.eid
        |  GROUP BY 1, 2),
        |hit AS (
        |  SELECT benchmark, CAST(COUNT(*) AS BIGINT) AS n_contaminated,
        |    CAST(SUM(c.mass) AS BIGINT) AS mass_contaminated
        |  FROM flags f JOIN corp c ON c.doc_id = f.cid
        |  WHERE f.best >= 600000 GROUP BY 1),
        |evtot AS (
        |  SELECT benchmark, CAST(COUNT(*) AS BIGINT) AS n_eval
        |  FROM bench GROUP BY 1)
        |SELECT e.benchmark, e.n_eval,
        |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
        |  COALESCE(h.mass_contaminated, 0) AS mass_contaminated,
        |  ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
        |    / CAST(nc AS DOUBLE), 6) AS frac_docs,
        |  ROUND(CAST(COALESCE(h.mass_contaminated, 0) AS DOUBLE)
        |    / CAST(mc AS DOUBLE), 6) AS frac_mass
        |FROM evtot e LEFT JOIN hit h USING (benchmark), ctot
        |ORDER BY e.benchmark""".stripMargin),

    // ---- blocking-quality eval (pair completeness / reduction ratio) -------
    // (brand, size)-equality blocking scored against a same-(type, size)
    // gold standard: what the blocker recalls vs what it prunes of the
    // n(n-1)/2 comparison space.
    QuerySpec("blocking_quality_part", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_brand"),
          col("p_type"), col("p_size"))
      val cand = p.select(col("id").as("id_a"), col("p_brand"),
          col("p_size"))
        .join(p.select(col("id").as("id_b"), col("p_brand"),
          col("p_size")), Seq("p_brand", "p_size"))
        .filter(col("id_a") < col("id_b"))
      val gold = p.select(col("id").as("id_a"), col("p_type"),
          col("p_size"))
        .join(p.select(col("id").as("id_b"), col("p_type"),
          col("p_size")), Seq("p_type", "p_size"))
        .filter(col("id_a") < col("id_b"))
      Dedup.blockingQuality(cand, gold, p)
    },
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM part),
        |cand AS (
        |  SELECT DISTINCT a.p_partkey AS i, b.p_partkey AS j
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey),
        |gold AS (
        |  SELECT DISTINCT a.p_partkey AS i, b.p_partkey AS j
        |  FROM part a JOIN part b
        |    ON a.p_type = b.p_type AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM cand JOIN gold USING (i, j))
        |SELECT nr AS n_records, n_cand, n_gold, n_hit,
        |  CASE WHEN n_gold > 0 THEN
        |    ROUND(CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE), 6)
        |  END AS pair_completeness,
        |  CASE WHEN nr > 1 THEN
        |    ROUND(1.0 - CAST(n_cand AS DOUBLE)
        |      / CAST(CAST(nr AS HUGEINT) * (nr - 1) / 2 AS DOUBLE), 6)
        |  END AS reduction_ratio
        |FROM n, c, g, h""".stripMargin),

    // ---- golden-record survivorship (the merge AFTER entity resolution) ----
    // Deterministic demo clusters (custkey div 3 as the resolved dup
    // groups): per cluster, name survives by LONGEST, segment by MODE —
    // field-level composition where dedup_keep_best keeps whole rows.
    QuerySpec("survivorship_customer", (s, dir) =>
      Dedup.survivorship(t(s, dir, "customer")
          .withColumn("cluster", expr("c_custkey div 3")),
        "cluster",
        Seq(("c_name", "longest"), ("c_mktsegment", "mode")))
        .orderBy(col("cluster"), col("field")),
      // mode tie → smallest value, longest tie → largest value (declared)
      """WITH base AS (
        |  SELECT c_custkey // 3 AS cluster, c_name, c_mktsegment
        |  FROM customer),
        |mem AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM base GROUP BY 1),
        |cells AS (
        |  SELECT cluster, field, rule, v, COUNT(*) AS c FROM (
        |    SELECT cluster, 'c_name' AS field, 'longest' AS rule,
        |      CAST(c_name AS VARCHAR) AS v FROM base
        |    UNION ALL
        |    SELECT cluster, 'c_mktsegment', 'mode', c_mktsegment
        |    FROM base) u
        |  WHERE v IS NOT NULL GROUP BY 1, 2, 3, 4),
        |pm AS (SELECT cluster, field, rule, v,
        |    ROW_NUMBER() OVER (PARTITION BY cluster, field
        |      ORDER BY c DESC, v ASC) AS rk
        |  FROM cells WHERE rule = 'mode'),
        |pl AS (SELECT cluster, field, rule, v,
        |    ROW_NUMBER() OVER (PARTITION BY cluster, field
        |      ORDER BY len(v) DESC, v DESC) AS rk
        |  FROM cells WHERE rule = 'longest')
        |SELECT p.cluster, n_members, field, rule, survivor FROM (
        |  SELECT cluster, field, rule, v AS survivor FROM pm WHERE rk = 1
        |  UNION ALL
        |  SELECT cluster, field, rule, v FROM pl WHERE rk = 1) p
        |JOIN mem ON mem.cluster = p.cluster
        |ORDER BY p.cluster, field""".stripMargin),

    // ---- scale: bloom-prefiltered decontamination (same output as exact) ---
    QuerySpec("decontaminate_bloom_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    },
      decontaminateDocs.oracle),

    // ---- entity-resolution eval: B-cubed vs the exact-dup gold -------------
    // Grade the MinHash-LSH clustering per ITEM against byte-identical
    // text as gold: precision drops when LSH merges non-copies, recall
    // when true copies land in different clusters.
    QuerySpec("bcubed_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Dedup.duplicateClusters(docs,
        Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
      Dedup.bCubed(
        docs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("gold"))
          .join(pred, Seq("doc_id")),
        "doc_id", "cluster_rep", "gold")
    },
      // the predicted partition replays as the dup_clusters recursive
      // reachability; gold = byte-identical text; B-cubed folds on the
      // (pred, gold) contingency dictionary
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS p FROM reach GROUP BY a),
        |j AS (SELECT cl.doc_id, cl.p, d.text AS gl
        |  FROM cl JOIN documents d USING (doc_id)),
        |cells AS (SELECT p, gl, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |ps AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred_clusters,
        |    CAST(SUM(np) AS BIGINT) AS n_items,
        |    SUM(CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)) AS psum
        |  FROM (SELECT p, SUM(n) AS np, SUM(CAST(n AS HUGEINT) * n) AS sp
        |    FROM cells GROUP BY p)),
        |gs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_gold_classes,
        |    SUM(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) AS rsum
        |  FROM (SELECT gl, SUM(n) AS ng, SUM(CAST(n AS HUGEINT) * n) AS sg
        |    FROM cells GROUP BY gl))
        |SELECT n_items, n_pred_clusters, n_gold_classes,
        |  ROUND(psum / CAST(n_items AS DOUBLE), 6) AS "precision",
        |  ROUND(rsum / CAST(n_items AS DOUBLE), 6) AS recall,
        |  CASE WHEN psum / CAST(n_items AS DOUBLE)
        |      + rsum / CAST(n_items AS DOUBLE) > 0 THEN
        |    ROUND(2.0 * (psum / CAST(n_items AS DOUBLE))
        |      * (rsum / CAST(n_items AS DOUBLE))
        |      / (psum / CAST(n_items AS DOUBLE)
        |        + rsum / CAST(n_items AS DOUBLE)), 6)
        |  END AS f1
        |FROM ps, gs""".stripMargin),

    // ---- entity-resolution eval #2: Adjusted Rand Index --------------------
    // The pair-counting, chance-corrected axis beside bcubed's per-item
    // axis — same contingency dictionary, exact pair-count sums.
    QuerySpec("ari_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Dedup.duplicateClusters(docs,
        Dedup.minhashLsh(docs, "doc_id", "text", 8, 2, 3), "doc_id")
      Dedup.adjustedRandIndex(
        docs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("gold"))
          .join(pred, Seq("doc_id")),
        "doc_id", "cluster_rep", "gold")
    },
      // same recursive predicted partition as bcubed; ARI's pair counts
      // fold exactly on the contingency, the final ratio in doubles
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |mh AS (
        |  SELECT doc_id, s, MIN(md5(s::VARCHAR || ':' || sh)) AS h
        |  FROM sh, UNNEST(range(0, 8)) AS su(s)
        |  GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 2 AS band, STRING_AGG(h, '' ORDER BY s) AS band_key
        |  FROM mh GROUP BY doc_id, s // 2),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |  WHERE a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
        |cl AS (SELECT a AS doc_id, MIN(b) AS p FROM reach GROUP BY a),
        |j AS (SELECT cl.doc_id, cl.p, d.text AS gl
        |  FROM cl JOIN documents d USING (doc_id)),
        |cells AS (SELECT p, gl, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM j GROUP BY 1, 2),
        |sij AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_items,
        |    SUM(n * (n - 1) // 2) AS sij
        |  FROM cells),
        |sa AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred_clusters,
        |    SUM(a * (a - 1) // 2) AS sa
        |  FROM (SELECT p, SUM(n) AS a FROM cells GROUP BY p)),
        |sb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_gold_classes,
        |    SUM(b * (b - 1) // 2) AS sb
        |  FROM (SELECT gl, SUM(n) AS b FROM cells GROUP BY gl)),
        |f AS (
        |  SELECT n_items, n_pred_clusters, n_gold_classes, sij, sa, sb,
        |    CAST(n_items AS HUGEINT) * (n_items - 1) // 2 AS t
        |  FROM sij, sa, sb)
        |SELECT n_items, n_pred_clusters, n_gold_classes,
        |  CAST(sij AS VARCHAR) AS s_pairs_both,
        |  CAST(sa AS VARCHAR) AS s_pairs_pred,
        |  CAST(sb AS VARCHAR) AS s_pairs_gold,
        |  CASE WHEN CAST(t AS DOUBLE) * (CAST(sa AS DOUBLE)
        |      + CAST(sb AS DOUBLE))
        |      - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) <> 0.0 THEN
        |    ROUND((2.0 * CAST(t AS DOUBLE) * CAST(sij AS DOUBLE)
        |      - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |      / (CAST(t AS DOUBLE) * (CAST(sa AS DOUBLE)
        |        + CAST(sb AS DOUBLE))
        |        - 2.0 * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6)
        |  END AS ari
        |FROM f""".stripMargin),

    QuerySpec("streaming_dedup_events", (s, dir) => {
      val stream = Tables.stream(s, dir, "events")
      val deduped = stream
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct_users"))
      Streams.runToMemory(s, deduped, OutputMode.Complete())
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- EM: Fellegi-Sunter scoring over SNM candidates --------------------
    // The principled record-linkage decision layer on the blocking
    // family: brand equality / size-within-1 / name-Jaccard agreement
    // fields, p_type equality as gold, add-1/add-2 smoothed m/u weights.
    QuerySpec("em_fs_part", (s, dir) => {
      Dedup.fellegiSunterScore(fsPairs(s, dir),
          Seq("brand_eq", "size_close", "name_sim"), "gold")
        .orderBy(col("id_a"), col("id_b"))
    },
      // Fellegi-Sunter replay: SNM candidates (rank-distance self-join),
      // conditional-sum stats, smoothed m/u ratios, the same fixed-shape
      // div-div-div-ln per field; decision on the UNROUNDED sum.
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_brand, p_type,
        |    p_size,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, p_brand, p_type, p_size, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pr AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.p_brand = b.p_brand AS brand_eq,
        |    abs(a.p_size - b.p_size) <= 1 AS size_close,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      AS name_sim,
        |    a.p_type = b.p_type AS gold
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7),
        |st AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS am1,
        |    CAST(SUM(CASE WHEN NOT gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS au1,
        |    CAST(SUM(CASE WHEN gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS am2,
        |    CAST(SUM(CASE WHEN NOT gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS au2,
        |    CAST(SUM(CASE WHEN gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS am3,
        |    CAST(SUM(CASE WHEN NOT gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS au3
        |  FROM pr),
        |sc AS (
        |  SELECT pr.*,
        |    (CASE WHEN brand_eq
        |       THEN ln((CAST(am1 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au1 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am1 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au1 + 1 AS DOUBLE) / (nu + 2))) END
        |     + CASE WHEN size_close
        |       THEN ln((CAST(am2 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au2 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am2 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au2 + 1 AS DOUBLE) / (nu + 2))) END
        |     + CASE WHEN name_sim
        |       THEN ln((CAST(am3 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(au3 + 1 AS DOUBLE) / (nu + 2)))
        |       ELSE ln((CAST(nm - am3 + 1 AS DOUBLE) / (nm + 2))
        |               / (CAST(nu - au3 + 1 AS DOUBLE) / (nu + 2))) END)
        |      AS s
        |  FROM pr, st)
        |SELECT id_a, id_b, brand_eq, size_close, name_sim, gold,
        |  ROUND(s, 6) AS score, s > 0 AS decision
        |FROM sc ORDER BY id_a, id_b""".stripMargin),

    // ---- EM: the Fellegi-Sunter weight table itself ------------------------
    // Which comparison fields discriminate: per-field m/u and the
    // agree/disagree log-weights from the same candidate relation.
    QuerySpec("em_fs_weights_part", (s, dir) => {
      Dedup.fellegiSunterWeights(fsPairs(s, dir),
          Seq("brand_eq", "size_close", "name_sim"), "gold")
        .orderBy(col("field"))
    },
      """WITH p AS (
        |  SELECT p_partkey AS id, lower(p_name) AS k, p_brand, p_type,
        |    p_size,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(p_name), '\s+|;\s*'),
        |      x -> len(x) > 0)) AS toks
        |  FROM part),
        |r AS (
        |  SELECT id, p_brand, p_type, p_size, toks,
        |    ROW_NUMBER() OVER (ORDER BY k, id) AS rn
        |  FROM p),
        |pr AS (
        |  SELECT a.p_brand = b.p_brand AS brand_eq,
        |    abs(a.p_size - b.p_size) <= 1 AS size_close,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        |      AS name_sim,
        |    a.p_type = b.p_type AS gold
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 7),
        |st AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS am1,
        |    CAST(SUM(CASE WHEN NOT gold AND brand_eq THEN 1 ELSE 0 END) AS BIGINT) AS au1,
        |    CAST(SUM(CASE WHEN gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS am2,
        |    CAST(SUM(CASE WHEN NOT gold AND size_close THEN 1 ELSE 0 END) AS BIGINT) AS au2,
        |    CAST(SUM(CASE WHEN gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS am3,
        |    CAST(SUM(CASE WHEN NOT gold AND name_sim THEN 1 ELSE 0 END) AS BIGINT) AS au3
        |  FROM pr)
        |SELECT * FROM (
        |  SELECT 'brand_eq' AS field, nm AS n_match, nu AS n_unmatch,
        |    am1 AS agree_match, au1 AS agree_unmatch,
        |    ROUND(CAST(am1 + 1 AS DOUBLE) / (nm + 2), 6) AS m,
        |    ROUND(CAST(au1 + 1 AS DOUBLE) / (nu + 2), 6) AS u,
        |    ROUND(ln((CAST(am1 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au1 + 1 AS DOUBLE) / (nu + 2))), 6) AS w_agree,
        |    ROUND(ln((CAST(nm - am1 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au1 + 1 AS DOUBLE) / (nu + 2))), 6) AS w_disagree
        |  FROM st
        |  UNION ALL
        |  SELECT 'size_close', nm, nu, am2, au2,
        |    ROUND(CAST(am2 + 1 AS DOUBLE) / (nm + 2), 6),
        |    ROUND(CAST(au2 + 1 AS DOUBLE) / (nu + 2), 6),
        |    ROUND(ln((CAST(am2 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au2 + 1 AS DOUBLE) / (nu + 2))), 6),
        |    ROUND(ln((CAST(nm - am2 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au2 + 1 AS DOUBLE) / (nu + 2))), 6)
        |  FROM st
        |  UNION ALL
        |  SELECT 'name_sim', nm, nu, am3, au3,
        |    ROUND(CAST(am3 + 1 AS DOUBLE) / (nm + 2), 6),
        |    ROUND(CAST(au3 + 1 AS DOUBLE) / (nu + 2), 6),
        |    ROUND(ln((CAST(am3 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(au3 + 1 AS DOUBLE) / (nu + 2))), 6),
        |    ROUND(ln((CAST(nm - am3 + 1 AS DOUBLE) / (nm + 2))
        |      / (CAST(nu - au3 + 1 AS DOUBLE) / (nu + 2))), 6)
        |  FROM st)
        |ORDER BY field""".stripMargin),

    // ---- scale: exact-substring duplication (char k-gram index) ------------
    QuerySpec("substring_dup_docs", (s, dir) =>
      Dedup.substringDupPairs(t(s, dir, "documents"), "doc_id", "text", 48, 100)
        .orderBy(col("id_a"), col("id_b")),
      """WITH w AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(md5(substr(text, CAST(i AS INT), 48)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents,
        |    UNNEST(range(1, GREATEST(len(text) - 47, 1) + 1)) AS u(i)
        |  WHERE i = 1 OR substr(text, CAST(i - 1 AS INT), 1) = ' '),
        |keep AS (
        |  SELECT h FROM w GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 100)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM w a
        |JOIN keep ON keep.h = a.h
        |JOIN w b ON b.h = a.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- doc-in-doc containment near-dup pairs (asymmetric Jaccard) --------
    QuerySpec("containment_dup_docs", (s, dir) =>
      Dedup.ngramContainmentPairs(
          t(s, dir, "documents"), "doc_id", "text", 3, 0.6, 100)
        .orderBy(col("id_a"), col("id_b")),
      // containment: same df-cut shingle universe as jaccard_pairs_docs,
      // asymmetric n_common/|A| and n_common/|B|, keep if either ≥ 0.6
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, concat(t[i], COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
        |f AS (SELECT s.* FROM sh s JOIN keep k ON s.sh = k.sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / sa.sz, 6) AS cont_ab,
        |  ROUND(CAST(n_common AS DOUBLE) / sb.sz, 6) AS cont_ba
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.sz,
        |  CAST(n_common AS DOUBLE) / sb.sz) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- winnowing (MOSS) fingerprint match pairs --------------------------
    QuerySpec("winnow_matches_docs", (s, dir) =>
      Dedup.winnowMatches(t(s, dir, "documents"), "doc_id", "text",
          3, 4, 2L, 100)
        .orderBy(col("id_a"), col("id_b")),
      // winnowing: windowed MIN over the positional gram hashes, full
      // windows only; fingerprint = the distinct minima SET per doc
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substring(md5(concat(t[i],
        |      COALESCE(' ' || t[i+1], ''), COALESCE(' ' || t[i+2], ''))),
        |      1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |wm AS (
        |  SELECT doc_id, h,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM grams),
        |fps AS (SELECT DISTINCT doc_id, wmin AS h FROM wm
        |  WHERE cnt = LEAST(4, n)),
        |keep AS (SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= 100),
        |f AS (SELECT fps.* FROM fps JOIN keep USING (h)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM p WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin),

    // ---- one-permutation MinHash near-dup pairs (exact-verified) -----------
    // ONE md5 per shingle (vs numHashes in the classic family): hash space
    // split into 16 bins, per-bin minima banded 4-wide, candidates exact-
    // verified by distinct-shingle Jaccard >= 0.5 over the pair list only.
    QuerySpec("oph_pairs_docs", (s, dir) =>
      Dedup.ophMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
          16, 4, 3, 0.5)
        .orderBy(col("id_a"), col("id_b")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat(t[i], COALESCE(' ' || t[i+1], ''),
        |      COALESCE(' ' || t[i+2], '')) AS sh
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
        |hb AS (
        |  SELECT doc_id, sh, md5(sh) AS h,
        |    CAST(('0x' || substr(md5(sh), 1, 6)) AS BIGINT) % 16 AS bucket
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, bucket, MIN(h) AS mh FROM hb GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, bucket // 4 AS band,
        |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket)
        |      AS band_key
        |  FROM sig GROUP BY doc_id, bucket // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |  ROUND(CAST(n_common AS DOUBLE)
        |    / (sa.sz + sb.sz - n_common), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- phonetic blocking (surname-Soundex block + exact lev verify) -----
    // The Newcombe blocking key beside q-gram/SNM/LSH: last-token
    // phonetic code blocks, full-name Levenshtein <= 2 verify, at
    // distinct-name dictionary scale.
    QuerySpec("phonetic_block_part", (s, dir) =>
      Dedup.phoneticBlockPairs(t(s, dir, "part"), "p_name", 2)
        .orderBy(col("code"), col("name_a"), col("name_b")),
      // phonetic blocking: surname-code blocks + levenshtein verify
      """WITH names AS (
        |  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1),
        |k0 AS (
        |  SELECT name, n, regexp_replace(upper(string_split(name, ' ')[-1]),
        |      '[^A-Z]', '', 'g') AS key
        |  FROM names),
        |k1 AS (
        |  SELECT name, n, key,
        |    translate(key[2:], 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
        |      '00000000111122222222334556') AS m
        |  FROM k0),
        |k2 AS (
        |  SELECT name, n,
        |    key[1:1] || rpad(substring(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(m,
        |        '0{2,}','0','g'),'1{2,}','1','g'),'2{2,}','2','g'),
        |        '3{2,}','3','g'),'4{2,}','4','g'),'5{2,}','5','g'),
        |        '6{2,}','6','g'), '0', '', 'g'), 1, 3), 3, '0') AS code
        |  FROM k1)
        |SELECT a.code, a.name AS name_a, b.name AS name_b,
        |  a.n AS n_a, b.n AS n_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS lev
        |FROM k2 a JOIN k2 b ON a.code = b.code AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2, 3""".stripMargin),

    // ---- phonetic blocking QUALITY vs exact lev<=2 ground truth ------------
    // Grades the new blocking the way blocking_quality grades the
    // brand/size blocks: candidates = same-code name pairs, gold = the
    // exact brute-force lev<=2 pairs over the distinct-NAME dictionary
    // (the declared exact baseline — dictionary-scale, never corpus).
    QuerySpec("phonetic_blocking_quality_part", (s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name"))
        .distinct()
        .withColumn("code", Dedup.phoneticCode(
          element_at(split(col("name"), " "), -1)))
        .localCheckpoint(true)
      val cand = names.select(col("code"), col("name").as("id_a"))
        .join(names.select(col("code"), col("name").as("id_b")),
          Seq("code"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val gold = names.select(col("name").as("id_a"))
        .crossJoin(names.select(col("name").as("id_b")))
        .filter(col("id_a") < col("id_b") &&
          levenshtein(col("id_a"), col("id_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      Dedup.blockingQuality(cand, gold, names.select(col("name")))
    },
      // phonetic blocking quality: same-code candidates vs brute gold
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        |k0 AS (
        |  SELECT name, regexp_replace(upper(string_split(name, ' ')[-1]),
        |      '[^A-Z]', '', 'g') AS key
        |  FROM names),
        |k1 AS (
        |  SELECT name, key,
        |    translate(key[2:], 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
        |      '00000000111122222222334556') AS m
        |  FROM k0),
        |k2 AS (
        |  SELECT name,
        |    key[1:1] || rpad(substring(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(m,
        |        '0{2,}','0','g'),'1{2,}','1','g'),'2{2,}','2','g'),
        |        '3{2,}','3','g'),'4{2,}','4','g'),'5{2,}','5','g'),
        |        '6{2,}','6','g'), '0', '', 'g'), 1, 3), 3, '0') AS code
        |  FROM k1),
        |nr0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM names),
        |cand AS (
        |  SELECT a.name AS i, b.name AS j
        |  FROM k2 a JOIN k2 b ON a.code = b.code AND a.name < b.name),
        |gold AS (
        |  SELECT a.name AS i, b.name AS j
        |  FROM names a JOIN names b ON a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM cand JOIN gold USING (i, j))
        |SELECT nr AS n_records, n_cand, n_gold, n_hit,
        |  CASE WHEN n_gold > 0 THEN
        |    ROUND(CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE), 6)
        |  END AS pair_completeness,
        |  CASE WHEN nr > 1 THEN
        |    ROUND(1.0 - CAST(n_cand AS DOUBLE)
        |      / CAST(CAST(nr AS HUGEINT) * (nr - 1) / 2 AS DOUBLE), 6)
        |  END AS reduction_ratio
        |FROM nr0, c, g, h""".stripMargin),

    // ---- edit-distance similarity self-join (Ed-Join prefix filtering) ----
    // Every part pair within Levenshtein distance 2 of each other's name,
    // with the exact distance. The oracle brute-forces the distance
    // predicate over all distinct-name pairs (collapse to distinct names is
    // an algebraic identity — the distance depends only on the strings), so
    // a q-gram filter that over-prunes is a correctness failure.
    QuerySpec("edit_pairs_part", (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "part"), "p_partkey", "p_name", 2)
        .orderBy(col("id_a"), col("id_b")),
      // brute force over all DISTINCT-name pairs (distance depends only on
      // the strings), expanded back to id pairs — a prefix-filter false
      // negative in the Spark plan fails this oracle
      """WITH d AS (SELECT DISTINCT p_name FROM part),
        |np AS (
        |  SELECT a.p_name AS na, b.p_name AS nb,
        |    CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |  FROM d a JOIN d b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2)
        |SELECT LEAST(x.p_partkey, y.p_partkey) AS id_a,
        |  GREATEST(x.p_partkey, y.p_partkey) AS id_b, np.dist
        |FROM np JOIN part x ON x.p_name = np.na
        |JOIN part y ON y.p_name = np.nb
        |UNION ALL
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(0 AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- corpus-frequency boilerplate scrub (C4 line-dedup rule) ----------
    // Chunks occurring in >= 3 distinct docs are template noise; EVERY
    // occurrence is removed (passage_dedup_docs keeps first occurrences —
    // this is the complementary df rule).
    QuerySpec("boilerplate_docs", (s, dir) =>
      Dedup.boilerplateScrub(t(s, dir, "documents"), "doc_id", "text", 5, 3)
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(t[(i*5+1):(i*5+5)], ' ') AS chunk
        |  FROM toks,
        |    UNNEST(range(0, greatest(CAST(ceil(len(t)/5.0) AS INT), 1))) AS u(i)),
        |hot AS (
        |  SELECT md5(chunk) AS h FROM ch
        |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT * FROM ch WHERE md5(chunk) NOT IN (SELECT h FROM hot)),
        |surv AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  COALESCE(s.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN surv s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // ---- URL canonicalization + URL-level dedup ----------------------------
    // The crawl pipeline's FIRST dedup pass: case-shuffled hosts,
    // default ports, fragments, and tracking params collapse to one
    // canonical key, then one hash-agg picks the min-id representative.
    // Five deterministic messy variants per page derive from doc_id
    // (the planted-fixture pattern); variants 0-3 canonicalize
    // together, variant 4 (http + a KEPT id param) stays distinct.
    QuerySpec("url_dedup_docs", (s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"), expr(
        """CASE CAST(doc_id % 5 AS INT)
          |  WHEN 0 THEN concat('HTTPS://Example.COM:443/page/',
          |    CAST(doc_id div 5 AS STRING), '/')
          |  WHEN 1 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '#section-2')
          |  WHEN 2 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '?utm_source=feed&fbclid=abc')
          |  WHEN 3 THEN concat('https://example.com/page/',
          |    CAST(doc_id div 5 AS STRING), '/?ref=home')
          |  ELSE concat('http://example.com:80/page/',
          |    CAST(doc_id div 5 AS STRING), '?id=7')
          |END""".stripMargin).as("url"))
      Dedup.urlDedup(urls, "doc_id", "url")
        .orderBy(col("canonical_url"))
    },
      // url dedup: the same messy-variant construction, the same six
      // declared canonicalization rules as expression mirrors, one
      // GROUP BY on the canonical key
      """WITH u0 AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'HTTPS://Example.COM:443/page/'
        |        || CAST(doc_id // 5 AS VARCHAR) || '/'
        |      WHEN 1 THEN 'https://example.com/page/'
        |        || CAST(doc_id // 5 AS VARCHAR) || '#section-2'
        |      WHEN 2 THEN 'https://example.com/page/'
        |        || CAST(doc_id // 5 AS VARCHAR)
        |        || '?utm_source=feed&fbclid=abc'
        |      WHEN 3 THEN 'https://example.com/page/'
        |        || CAST(doc_id // 5 AS VARCHAR) || '/?ref=home'
        |      ELSE 'http://example.com:80/page/'
        |        || CAST(doc_id // 5 AS VARCHAR) || '?id=7'
        |    END AS url
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id, trim(url) AS tu,
        |    regexp_replace(trim(url), '#.*$', '') AS nf
        |  FROM u0),
        |c1 AS (
        |  SELECT doc_id, tu, nf,
        |    regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS auth
        |  FROM c0),
        |c2 AS (
        |  SELECT doc_id, tu, auth,
        |    substring(nf, length(auth) + 1) AS rest
        |  FROM c1),
        |c3 AS (
        |  SELECT doc_id, tu, auth,
        |    regexp_replace(regexp_replace(lower(auth),
        |      '^(https://[^:/?#]*):443$', '\1'),
        |      '^(http://[^:/?#]*):80$', '\1') AS authc,
        |    regexp_replace(rest, '\?.*$', '') AS path,
        |    CASE WHEN contains(rest, '?')
        |      THEN regexp_replace(rest, '^[^?]*\?', '')
        |      ELSE '' END AS q
        |  FROM c2),
        |c4 AS (
        |  SELECT doc_id, tu, auth, authc,
        |    regexp_replace(path, '/$', '') AS path2,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      p -> len(p) > 0 AND NOT (starts_with(p, 'utm_')
        |        OR p = 'gclid' OR starts_with(p, 'gclid=')
        |        OR p = 'fbclid' OR starts_with(p, 'fbclid=')
        |        OR p = 'msclkid' OR starts_with(p, 'msclkid=')
        |        OR p = 'ref' OR starts_with(p, 'ref='))), '&') AS q2
        |  FROM c3),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN length(auth) > 0 THEN authc || path2 ||
        |      (CASE WHEN length(q2) > 0 THEN '?' || q2 ELSE '' END)
        |    ELSE tu END AS canonical_url
        |  FROM c4)
        |SELECT canonical_url,
        |  CAST(MIN(doc_id) AS BIGINT) AS rep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin),

    // ---- per-domain crawl-health panel (registrable domain / eTLD+1) -------
    // Crawl pipelines budget, cap, and report by eTLD+1, not host or
    // TLD: eight deterministic host variants exercise the two-label
    // suffix match (co.uk), the PSL private registries (each
    // *.github.io user is its own domain), a non-default port, an IPv4
    // literal, and the wildcard fallback (.zz); per domain: doc count,
    // distinct canonical pages, content mass, refetch share.
    QuerySpec("domain_stats_docs", (s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("mass"), expr(
        """CASE CAST(doc_id % 8 AS INT)
          |  WHEN 0 THEN concat('https://WWW.Example.CO.UK/art/',
          |    CAST(doc_id div 24 AS STRING), '?utm_source=x')
          |  WHEN 1 THEN concat('https://news.example.co.uk/art/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 2 THEN concat('https://Alice.GitHub.IO/proj/',
          |    CAST(doc_id div 24 AS STRING), '#readme')
          |  WHEN 3 THEN concat('https://a.b.github.io/x/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 4 THEN concat('http://data.example.org:8080/d?id=',
          |    CAST(doc_id % 3 AS STRING))
          |  WHEN 5 THEN concat('https://one.two.example.ai/e/',
          |    CAST(doc_id div 24 AS STRING))
          |  WHEN 6 THEN 'http://192.168.0.1/admin'
          |  ELSE concat('https://weird.example.zz/f/',
          |    CAST(doc_id div 24 AS STRING))
          |END""".stripMargin).as("url"))
      Dedup.domainStats(urls, "doc_id", "url", "mass")
        .orderBy(col("domain"))
    },
      domainStatsOracleSql)
  )
}
