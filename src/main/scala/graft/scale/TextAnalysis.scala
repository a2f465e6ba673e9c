package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (builder-prompt
  * first-class components): token counting, quality scoring, language ID,
  * document fingerprinting. All pure column expressions — shuffle-free,
  * codegen'd, linear scans at 100 TB.
  *
  * Determinism: every score is an integer count or a ratio of integers, and
  * every hash is md5 — reproducible bit-for-bit in the DuckDB oracle.
  */
object TextAnalysis {

  /** Word tokens (lowercased, split on whitespace runs, empties dropped). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Blocklist scrub report — the C4/Dolma "bad words" stage: per doc,
    * how many tokens hit the blocklist, how many DISTINCT blocklist terms
    * appear, and the hit fraction against a declared removal threshold.
    * The blocklist is a RELATION, not a regex: real lists run to 10⁴+
    * terms, where one alternation regex is quadratic-compile noise but a
    * token equi-join is one broadcast (or, for huge lists, an ordinary
    * keyed join — same plan shape, Spark picks by size). Token identity
    * is the house lowercase-whitespace [[tokens]] convention.
    *
    * Every doc emits a row (zero-hit docs report 0/0/0/false — the
    * scaffold rule); empty docs report n_tokens 0 and NULL hit_frac.
    *
    * @param fracMicro flag threshold in micro-units of the token count
    *        (e.g. 100000 = flag when >10% of tokens are blocklisted);
    *        docs with ANY hit and n_hits·1e6 > fracMicro·n_tokens flag
    * @return per doc: (idCol, n_tokens, n_hits, n_terms, hit_frac r6,
    *         flagged)
    */
  def blocklistFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: DataFrame,
      fracMicro: Long = 100000L): DataFrame = {
    require(fracMicro >= 0L && fracMicro <= 1000000L,
      s"bad threshold $fracMicro")
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("__t"))
    val dict = terms.select(lower(col(terms.columns.head)).as("__t"),
      lit(1).as("__hit")).distinct()
    val hits = toks.join(broadcast(dict), Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        // distinct blocklist terms seen — bounded by the blocklist size
        size(array_distinct(collect_list(when(col("__hit").isNotNull,
          col("__t"))))).as("n_terms"))
    df.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_hits"))
      .na.fill(0, Seq("n_terms"))
      .select(col(idCol), col("n_tokens"), col("n_hits"),
        col("n_terms").cast("long").as("n_terms"),
        when(col("n_tokens") > 0,
          round(col("n_hits").cast("double") /
            col("n_tokens").cast("double"), 6)).as("hit_frac"),
        (col("n_hits") > 0 &&
          col("n_hits") * 1000000L > lit(fracMicro) * col("n_tokens"))
          .as("flagged"))
  }

  /** Regex word tokens — the "BPE-ish" variant: alnum runs. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Quality-scoring feature set: emits (n_chars, n_tokens, n_distinct,
    * distinct_ratio, avg_token_len, stopword_ratio, punct_ratio).
    * Ratios are double divisions of exact integer counts.
    */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from")

  /** Line-density boilerplate filter — the jusText/trafilatura-class
    * INTRA-document gate a crawl pipeline runs before any quality
    * scoring ([[Dedup.boilerplateScrub]] is the complementary
    * CROSS-document repeated-chunk scrub): split on newlines, measure
    * each line, keep it iff
    *   n_tokens ≥ `minTokens`  AND  n_link·`linkDen` ≤ n_tokens·`linkNum`
    * (link density ≤ linkNum/linkDen as an EXACT integer comparison —
    * no float threshold to disagree on). A "link token" contains `://`
    * or starts with `www.` — nav bars, share buttons, and footer menus
    * are short and link-dense, body prose is neither (the jusText
    * heuristic). Stopword occurrences ([[Stopwords]]) are reported per
    * doc as the density diagnostic, not gated on.
    *
    * Per doc: n_lines, kept/dropped line counts, total + kept token
    * mass, n_stop, keep_mass = kept/total (round 6, NULL on a
    * token-less doc).
    *
    * Scale shape: ONE explode of per-line metric structs (the line
    * lambda binds its token array once and the Generate boundary
    * materializes the struct, so nothing re-tokenizes), then one
    * hash-aggregate on the doc key — corpus-linear, partial-agg
    * friendly, no window/join/driver state.
    */
  def lineDensityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 4,
      linkNum: Int = 1,
      linkDen: Int = 5): DataFrame = {
    require(minTokens >= 0 && linkNum >= 0 && linkDen >= 1,
      s"bad lineDensityFilter params $minTokens $linkNum/$linkDen")
    val perLine = df.select(col(idCol), explode(transform(
      split(col(textCol), "\n"), line =>
        element_at(transform(array(
          filter(split(lower(line), "\\s+"), x => length(x) > 0)), t =>
          struct(
            size(t).cast("long").as("nt"),
            size(filter(t, x => x.contains("://") ||
              startswith(x, lit("www.")))).cast("long").as("nl"),
            size(filter(t, x =>
              array_contains(lit(Stopwords.toArray), x)))
              .cast("long").as("ns"))), 1))).as("m"))
    val keep = col("m.nt") >= minTokens.toLong &&
      col("m.nl") * lit(linkDen.toLong) <=
        col("m.nt") * lit(linkNum.toLong)
    perLine.groupBy(col(idCol)).agg(
        count(lit(1)).as("n_lines"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept_lines"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped_lines"),
        sum(col("m.nt")).as("n_tokens"),
        sum(when(keep, col("m.nt")).otherwise(0L)).as("n_kept_tokens"),
        sum(col("m.ns")).as("n_stop"))
      .withColumn("keep_mass", when(col("n_tokens") > 0L,
        round(col("n_kept_tokens").cast("double") / col("n_tokens"), 6)))
  }

  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val stop = lit(Stopwords.toArray)
    df.withColumn("n_chars_calc", length(col(textCol)).cast("long"))
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_distinct", size(array_distinct(t)).cast("long"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / greatest(lit(1L), col("n_tokens")))
      .withColumn("avg_token_len",
        // exact: sum of token lengths (whitespace runs / padding would
        // inflate a chars-minus-separators estimate)
        aggregate(transform(t, x => length(x).cast("long")), lit(0L),
          (acc, x) => acc + x).cast("double") /
          greatest(lit(1L), col("n_tokens")))
      .withColumn("n_stop",
        size(filter(t, x => array_contains(stop, x))).cast("long"))
      .withColumn("stopword_ratio",
        col("n_stop").cast("double") / greatest(lit(1L), col("n_tokens")))
  }

  /** Language-ID heuristic: score each candidate language by marker-token
    * hits; argmax with deterministic tiebreak (marker profiles are fixed —
    * an n-gram/stopword-profile classifier in the spirit of langid tools,
    * kept closed-vocabulary so it is oracle-reproducible).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "order", "fast", "small"),
    "es" -> Seq("el", "la", "los", "de", "que", "por"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "que", "pour"),
    "zh" -> Seq("de5", "shi4", "bu4"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(markers.toArray), t)))

  def languageId(df: DataFrame, textCol: String): DataFrame = {
    // Everything — tokenize, the 5 marker scans, argmax, tiebreak — happens
    // inside one singleton-array lambda chain, so the tokenization and the
    // score array each evaluate exactly ONCE per row. The previous
    // per-language withColumn formulation let projection collapse re-inline
    // the `tokens(text)` subtree into every score column and the argmax
    // struct (≈10 tokenizations/row after inlining — measured 3.8 s at
    // sf0.1; this shape is ~1 s). Argmax by (score, then lexicographically
    // larger lang) via array_max over (s, l) structs; score 0 → "unknown".
    val pred = element_at(
      transform(array(tokens(col(textCol))), toks => {
        val best = array_max(array(LangMarkers.map { case (lang, markers) =>
          struct(
            size(filter(toks, t => array_contains(lit(markers.toArray), t)))
              .as("s"),
            lit(lang).as("l"))
        }: _*))
        element_at(transform(array(best), b =>
          when(b.getField("s") > 0, b.getField("l")).otherwise("unknown")), 1)
      }),
      1)
    df.withColumn("pred_lang", pred)
  }

  /** Binary hashed CHARACTER-n-gram feature rows — the language-ID
    * feature map (char grams carry orthography and function-word
    * morphology that token buckets miss — the fastText langid feature
    * class), following [[hashedBinaryFeatures]]' presence + bias-bucket
    * contract so it trains through [[trainHashedLinearFromFeatures]]
    * unchanged. Grams run over the first `maxChars` chars of the
    * lowercased text (language identity is decided in the first line —
    * bounding the prefix bounds the feature mass per doc regardless of
    * document length, the property that keeps the trainer corpus-linear
    * at 100 TB); the house ragged convention covers shorter texts.
    */
  def hashedCharGramFeatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxChars: Int = 120,
      nBuckets: Int = 1024): DataFrame = {
    require(n >= 1 && maxChars >= n && nBuckets > 0,
      s"bad char-gram params n=$n maxChars=$maxChars nBuckets=$nBuckets")
    df.select(col(idCol),
        substring(lower(col(textCol)), 1, maxChars).as("__s"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, greatest(length(__s) - ${n - 1}, 1)), " +
          s"i -> substr(__s, i, $n))")).as("g"))
      .withColumn("b", pmod(
        HashExprs.md5PrefixLong(col("g").cast("binary"), 15),
        lit(nBuckets.toLong)))
      .groupBy(col(idCol), col("b")).agg(lit(1L).as("cnt"))
      .unionByName(df.select(col(idCol),
        lit(nBuckets.toLong).as("b"), lit(1L).as("cnt")))
  }

  /** TRAINED language-ID with a MEASURED accuracy grade against the
    * [[languageId]] marker heuristic — the fastText-class gate every
    * multilingual corpus pipeline applies, graded the way the engine
    * grades its blocking keys (candidates vs ground truth, not vibes):
    * train the exact-integer perceptron on [[hashedCharGramFeatures]]
    * over a deterministic md5(doc:li) % 4 split (0-2 train, 3 test),
    * score the held-out quarter, and report trained vs heuristic
    * accuracy side by side on the SAME held-out rows.
    *
    * `isTarget` is the true binary label (is the target language — the
    * standard one-vs-rest gate form); `heuristicIsTarget` is the marker
    * heuristic's call for the same rows. One diagnostic row: (n_train,
    * n_test, n_correct, accuracy, n_correct_heuristic,
    * heuristic_accuracy).
    *
    * Scale: the trainer's per-epoch keyed aggregations over the train
    * split's bounded-prefix gram features; test scoring is one feature
    * hash-agg + broadcast weight map; the grade is a 1-row fold.
    */
  def langIdTrained(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, heuristicIsTarget: Column,
      epochs: Int = 4, nBuckets: Int = 1024): DataFrame = {
    val split = pmod(HashExprs.md5PrefixLong(
      concat(col(idCol).cast("string"), lit(":li")).cast("binary"), 15),
      lit(4L))
    val base = df.withColumn("__sp", split)
      .withColumn("__y", isTarget.cast("long"))
      .withColumn("__h", heuristicIsTarget.cast("long"))
      .localCheckpoint(true)
    val train = base.filter(col("__sp") <= 2L)
    val test = base.filter(col("__sp") === 3L)
    val (_, w) = trainHashedLinearFromFeatures(
      hashedCharGramFeatures(train, idCol, textCol,
        nBuckets = nBuckets).localCheckpoint(true),
      train.select(col(idCol), col("__y").as("y")),
      idCol, epochs, nBuckets)
    val scored = hashedCharGramFeatures(test, idCol, textCol,
        nBuckets = nBuckets)
      .withColumn("wv", bucketWeight(w.toIndexedSeq, col("b")))
      .groupBy(col(idCol)).agg(sum(col("cnt") * col("wv")).as("score"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    test.select(col(idCol), col("__y"), col("__h"))
      .join(scored, Seq(idCol), "left")
      .withColumn("__pred",
        (coalesce(col("score"), lit(0L)) > 0L).cast("long"))
      .crossJoin(broadcast(nTrain))
      .agg(min(col("n_train")).as("n_train"),
        count(lit(1)).as("n_test"),
        sum(when(col("__pred") === col("__y"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("__h") === col("__y"), 1L).otherwise(0L))
          .as("n_correct_heuristic"))
      .select(col("n_train"), col("n_test"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test"), 6)
          .as("accuracy"),
        col("n_correct_heuristic"),
        round(col("n_correct_heuristic").cast("double") / col("n_test"),
          6).as("heuristic_accuracy"))
  }

  /** Writing-system classes as EXPLICIT BMP codepoint ranges — no \p{...}
    * property classes, whose tables differ across regex engines/Unicode
    * versions; a literal range means the same characters in Java regex and
    * RE2, so the oracle replays exactly. Supplementary-plane characters
    * fall outside every range (they count toward n_chars only — as UTF-16
    * units on the Spark side, the engine-wide char-op convention shared
    * with the char-entropy op).
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\u00C0-\u024F]",
    "cyrillic" -> "[\u0400-\u04FF]",
    "greek" -> "[\u0370-\u03FF]",
    "arabic" -> "[\u0600-\u06FF]",
    "hebrew" -> "[\u0590-\u05FF]",
    "devanagari" -> "[\u0900-\u097F]",
    "cjk" -> "[\u4E00-\u9FFF\u3040-\u30FF]",
    "hangul" -> "[\uAC00-\uD7AF\u1100-\u11FF]",
    "digit" -> "[0-9]")

  /** Script / writing-system identification — the multilingual-curation
    * complement to [[languageId]] (marker stopwords separate languages
    * WITHIN a script; mixing Cyrillic into a Latin corpus, or detecting
    * mojibake/transliteration spam, needs the character level). Per doc:
    * per-script character counts, the dominant script (argmax, ties to the
    * lexicographically larger name — the [[languageId]] tiebreak), and its
    * share of all script-classified characters; no script hit → "unknown".
    *
    * Scale shape: PURE MAP — one length + |scripts| codegen'd
    * regexp_replace strip-counts per row, no explode, no shuffle, no agg;
    * the ideal 100 TB profile (reads each document once, emits one row).
    */
  def scriptId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = ScriptRanges.map { case (n, re) =>
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), re, ""))).cast("long")
        .as(s"n_$n")
    }
    val tot = ScriptRanges.map { case (n, _) => col(s"n_$n") }
      .reduce(_ + _)
    val best = array_max(array(ScriptRanges.map { case (n, _) =>
      struct(col(s"n_$n").as("s"), lit(n).as("l"))
    }: _*))
    df.select(col(idCol) +:
        length(col(textCol)).cast("long").as("n_chars") +: counts: _*)
      .withColumn("__tot", tot)
      .withColumn("__best", best)
      .withColumn("script",
        when(col("__best.s") > 0L, col("__best.l")).otherwise("unknown"))
      .withColumn("script_frac",
        round(when(col("__tot") > 0L,
          col("__best.s").cast("double") / col("__tot").cast("double"))
          .otherwise(lit(0.0)), 6))
      .drop("__tot", "__best")
  }

  /** Fixed-size word chunks ("passages"): tokens grouped k at a time, last
    * chunk ragged. Chunk count = floor((n-1)/k)+1 (one empty chunk for an
    * empty doc, so no document is dropped). Same singleton-array lambda
    * binding as [[Shingles.wordShingles]] (HOF rebind pitfall).
    */
  def wordChunks(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), t => {
        val n = size(t)
        val numChunks = greatest(ceil(n.cast("double") / k).cast("int"), lit(1))
        transform(sequence(lit(0), numChunks - 1),
          i => concat_ws(" ", slice(t, i * k + 1, lit(k))))
      }),
      1)

  /** Word n-grams WITHOUT dedup (every occurrence, for frequency-sensitive
    * scores — [[Shingles.wordShingles]] is the distinct variant). Docs
    * shorter than n yield one ragged n-gram of the whole token list.
    */
  def wordNgrams(text: Column, n: Int): Column =
    element_at(
      transform(array(tokens(text)), t => {
        val sz = size(t)
        transform(sequence(lit(1), greatest(sz - (n - 1), lit(1))),
          i => concat_ws(" ",
            (0 until n).map(j =>
              when(i + j <= sz, element_at(t, (i + j).cast("int")))): _*))
      }),
      1)

  /** Repetition scoring (the "fraction of n-grams in the most common
    * n-gram" quality signal): per document, the share of bigram occurrences
    * taken by its single most frequent bigram. High values flag boilerplate
    * / degenerate repetition. One explode + two hash-aggs, keyed per doc.
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol),
      explode(wordNgrams(col(textCol), 2)).as("bg"))
    bg.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(max(col("cnt")).as("top_bigram_n"),
        sum(col("cnt")).as("n_bigrams"))
      .select(col(idCol), col("top_bigram_n"), col("n_bigrams"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
  }

  /** Gopher-style repetition rule family (Rae et al. 2021 Table A1,
    * arXiv:2112.11446): per document and n-gram order n, (a) the occurrence
    * count of the single most frequent n-gram (Gopher's "fraction in most
    * common n-gram" screens, n = 2..4 there) and (b) the total occurrence
    * mass of ALL duplicated n-grams (the "fraction in duplicated n-grams"
    * screens). Emitted LONG-format as exact integers — (doc_id, n,
    * n_ngrams, top_cnt, dup_cnt) — the caller thresholds ratios; counting
    * token-gram occurrences rather than characters is the documented
    * deviation (tokens are this corpus's unit everywhere else).
    *
    * Shape: one explode + two hash-aggs per order, all orders unioned into
    * one DAG — (maxN - minN + 1) linear scans, each keyed per doc (no
    * cross-doc shuffle beyond the per-doc agg).
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      minN: Int = 2, maxN: Int = 6): DataFrame = {
    require(2 <= minN && minN <= maxN, s"bad n-gram range [$minN,$maxN]")
    (minN to maxN).map { n =>
      df.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col(idCol))
        .agg(sum(col("cnt")).as("n_ngrams"),
          max(col("cnt")).as("top_cnt"),
          sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_cnt"))
        .select(col(idCol), lit(n).as("n"), col("n_ngrams"),
          col("top_cnt"), col("dup_cnt"))
    }.reduce(_ unionByName _)
  }

  /** Corpus-frequency score: average corpus-wide occurrence count of a
    * document's tokens (including repeats) — a cheap rarity/quality signal
    * (low = rare-token-heavy doc) that needs no trained model and no
    * transcendental math (oracle-exact: ratio of exact integers).
    * Two hash-aggs + one equi-join on token; at 100 TB the frequency table
    * shuffles on token (or broadcasts if the vocabulary is bounded).
    */
  def corpusFrequencyScore(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Pre-aggregate to (doc, token) multiplicities before the frequency
    // join: the join then carries distinct per-doc tokens (≤ vocabulary ×
    // docs) instead of every occurrence, and the corpus frequency table
    // derives from the same aggregate — Σ ct·cnt ≡ Σ over occurrences.
    val docTok = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("ct"))
    val freq = docTok.groupBy(col("tok")).agg(sum(col("ct")).as("cnt"))
    docTok.join(freq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("ct")).as("n_tokens"),
        sum(col("ct") * col("cnt")).as("freq_sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("freq_sum").cast("double") / col("n_tokens"), 6)
          .as("avg_tok_freq"))
  }

  /** TF-IDF-style top-k salient terms per document, with a rational rarity
    * weight instead of a logarithm: score = tf · N / df (N = corpus doc
    * count, df = docs containing the term). Rank order is identical to
    * tf·idf under any monotone idf, but every score is a ratio of exact
    * integers — reproducible bit-for-bit in the oracle, no transcendental
    * math. Plan: one explode + two hash-aggs keyed on (doc, term) / term,
    * one equi-join on term, one per-doc window — every stage keyed and
    * partition-parallel at 100 TB (the df table shuffles on term, or
    * broadcasts when the vocabulary is bounded).
    */
  def rarityTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docTok = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = docTok.groupBy(col("term"))
      .agg(count(lit(1)).as("df_cnt"))
    val nDocs = df.agg(count_distinct(col(idCol)).as("n_docs"))
    val scored = docTok
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round((col("tf") * col("n_docs")).cast("double") / col("df_cnt"), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"),
        col("df_cnt"), col("score"))
  }

  /** Token-budget shard packing: assign documents (in `idCol` order) to
    * training shards greedily so each shard holds ~`budgetTokens` tokens —
    * the sharding step before tokenize-and-concat in a pretraining pipeline.
    * shard_id = floor(tokens_before_this_doc / budget); a shard can exceed
    * the budget by at most one document (greedy semantics, deterministic).
    * The running total uses [[graft.sample.Samplers.globalCumSum]] — the
    * parallel two-phase form, no single-partition window at any scale.
    */
  def packIntoShards(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    val withTokens = df.withColumn("n_tokens",
      tokenCount(col(textCol)).cast("long"))
    graft.sample.Samplers
      .globalCumSum(withTokens, Seq(idCol), "n_tokens")
      .withColumn("shard_id",
        floor((col("__cum") - col("n_tokens")) / lit(budgetTokens)))
      .drop("__cum")
  }

  /** Release manifest for a token-budget-packed corpus export: per shard,
    * row count, exact token mass, the id range, and an order-independent
    * content checksum (sum of per-doc md5 draws over "id|text-fingerprint",
    * the [[graft.sample.Samplers.hashDraw32]] convention `table_checksum`
    * uses) — what a data release ships beside its shards so a consumer
    * verifies transfer integrity without re-reading the source. Composes
    * [[packIntoShards]] (parallel global cumsum) with one per-shard
    * hash-agg; at 100 TB the manifest is |shards| rows.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    val packed = packIntoShards(df, idCol, textCol, budgetTokens)
    val repr = concat_ws("|", col(idCol).cast("string"),
      md5(col(textCol).cast("binary")))
    packed.groupBy(col("shard_id")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col(idCol)).as("first_id"),
      max(col(idCol)).as("last_id"),
      sum(graft.sample.Samplers.hashDraw32(repr)).as("content_checksum"))
  }

  /** Best-fit-decreasing sequence packing into fixed context windows —
    * the training-efficiency op beside the greedy packers
    * ([[packIntoShards]] = arrival-order cumsum that splits documents;
    * [[paddingWaste]] = batch padding accounting): pack WHOLE documents
    * into `contextLen`-token windows with exact waste accounting.
    *
    * Lengths are bucketed UP to powers of two (truncated at contextLen,
    * which must itself be a power of two). With divisor-chain item sizes,
    * best-fit-decreasing is OPTIMAL for the bucketed instance (Coffman,
    * Garey & Johnson, "Bin packing with divisible item sizes", J.
    * Complexity 3(4) 1987) and collapses to a CLOSED FORM: processing
    * sizes descending, at most one bin is ever partially filled (every
    * open remainder is a multiple of the current size, and best-fit
    * drains it before opening a bin), so
    *   bins = ceil(Σ bucketed / contextLen)
    * exactly — no sequential simulation, no global sort. The two waste
    * terms are separated exactly: per-bucket rounding waste
    * (Σ bucketed − Σ true) and the single tail (bins·C − Σ bucketed).
    *
    * Scale shape: one token-count scan + ONE hash-aggregate to the
    * ≤ log2(contextLen)+1 bucket dictionary; the totals are a fold of
    * that dictionary. Zero-token documents occupy no window and are
    * dropped from every tally.
    *
    * Output: one row per bucket (kind='bucket'; n_bins/tail_waste NULL)
    * plus the kind='total' roll-up carrying the bin count and tail.
    */
  def bfdPack(
      df: DataFrame,
      textCol: String,
      contextLen: Int = 2048): DataFrame = {
    require(contextLen >= 1 && (contextLen & (contextLen - 1)) == 0,
      s"contextLen must be a power of two, got $contextLen")
    val maxJ = java.lang.Integer.numberOfTrailingZeros(contextLen)
    val bk = df
      .select(least(tokenCount(col(textCol)).cast("long"),
        lit(contextLen.toLong)).as("tl"))
      .filter(col("tl") >= 1)
      .withColumn("bl", expr(
        s"shiftleft(CAST(1 AS BIGINT), array_min(filter(sequence(0, " +
          s"$maxJ), j -> tl <= shiftleft(CAST(1 AS BIGINT), j))))"))
    val agg = bk.groupBy(col("bl").as("bucket_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tl")).as("sum_tokens"))
      .withColumn("bucket_tokens", col("n_docs") * col("bucket_len"))
      .localCheckpoint(true)
    val tot = agg.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("sum_tokens")).as("sum_tokens"),
      sum(col("bucket_tokens")).as("bucket_tokens"))
    val c = contextLen.toLong
    agg.select(lit("bucket").as("kind"), col("bucket_len"), col("n_docs"),
        col("sum_tokens"), col("bucket_tokens"),
        (col("bucket_tokens") - col("sum_tokens")).as("round_waste"),
        lit(null).cast("long").as("n_bins"),
        lit(null).cast("long").as("tail_waste"))
      .unionByName(tot.select(lit("total").as("kind"),
        lit(null).cast("long").as("bucket_len"), col("n_docs"),
        col("sum_tokens"), col("bucket_tokens"),
        (col("bucket_tokens") - col("sum_tokens")).as("round_waste"),
        expr(s"(bucket_tokens + ${c - 1}) div $c").as("n_bins"),
        (expr(s"(bucket_tokens + ${c - 1}) div $c") * c -
          col("bucket_tokens")).as("tail_waste")))
  }

  /** The per-document ASSIGNMENT behind [[bfdPack]] — the manifest a
    * trainer actually consumes: (doc, window_id, offset) for the same
    * best-fit-decreasing packing, computed distributively.
    *
    * Why this equals BFD exactly: lay the bucketed documents out
    * contiguously in (bucket_len DESC, id) order and cut every
    * `contextLen` volume units. Every prior document's bucket is a
    * larger-or-equal power of two, so each document's start offset v is
    * a multiple of its own bucket_len; contextLen is too, hence
    * v mod C ≤ C − bucket_len and NO document straddles a cut — the
    * layout realizes bins = ceil(volume/C), which [[bfdPack]] proves is
    * the BFD bin count. window_id = v div C, offset = v mod C.
    *
    * Scale shape: one token-count scan + the range-partitioned prefix-sum
    * scaffold ([[graft.sample.Samplers.globalCumSum]] — no single-task
    * window), then pure projection. The one global exchange is the
    * (bucket desc, id) range partition.
    */
  def bfdPackManifest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      contextLen: Int = 2048): DataFrame = {
    require(contextLen >= 1 && (contextLen & (contextLen - 1)) == 0,
      s"contextLen must be a power of two, got $contextLen")
    val maxJ = java.lang.Integer.numberOfTrailingZeros(contextLen)
    val c = contextLen.toLong
    val bk = df
      .select(col(idCol), least(tokenCount(col(textCol)).cast("long"),
        lit(c)).as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .withColumn("bucket_len", expr(
        s"shiftleft(CAST(1 AS BIGINT), array_min(filter(sequence(0, " +
          s"$maxJ), j -> n_tokens <= shiftleft(CAST(1 AS BIGINT), j))))"))
      .withColumn("__nbl", -col("bucket_len"))
    graft.sample.Samplers
      .globalCumSum(bk, Seq("__nbl", idCol), "bucket_len")
      .select(col(idCol), col("n_tokens"), col("bucket_len"),
        expr(s"(__cum - bucket_len) div $c").as("window_id"),
        expr(s"(__cum - bucket_len) % $c").as("window_off"))
  }

  /** Corpus-level bigram conditional statistics: for each bigram "w1 w2",
    * its corpus count and P(w2|w1) = count(w1 w2)/count(w1 ·) as an exact
    * integer ratio — the co-occurrence table behind language-model-ish
    * phrase scoring and collocation mining. One explode + two hash-aggs +
    * one equi-join, everything keyed on the bigram / left token; top-k by
    * count keeps the output bounded (TakeOrderedAndProject, no global sort).
    */
  def bigramStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    // Bigrams as zipped token-array slices (arrays_zip + slice are
    // codegen'd) rather than building "w1 w2" strings inside an interpreted
    // HOF lambda and re-splitting them — and the left-word totals come from
    // a window over the aggregated bigram table (one extra keyed exchange
    // over a vocab²-bounded table) instead of a self-join that recomputes
    // the full explode lineage twice. Measured 12.6 s → ~1 s at sf0.1.
    val t = tokens(col(textCol))
    val n1 = greatest(size(t) - 1, lit(0))
    val pair = arrays_zip(slice(t, lit(1), n1).as("w1"),
      slice(t, lit(2), n1).as("w2"))
    val counts = df.select(explode(pair).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("w1"))
    counts
      .withColumn("w1_cnt", sum(col("cnt")).over(w))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bg"), col("cnt"),
        col("w1_cnt"),
        round(col("cnt").cast("double") / col("w1_cnt"), 6).as("p_cond"))
      .orderBy(col("cnt").desc, col("bg"))
      .limit(k)
  }

  /** Overlapping passage windows for retrieval pipelines: token windows of
    * `size` with `stride` (< size ⇒ overlap), emitted as
    * (id, win_idx, passage). Windows start at token 1, 1+stride, …, and the
    * last window begins at or before max(n−size+1, 1), so every token is
    * covered and short docs yield one ragged window. Pure per-row expansion
    * (explode of a transform over a bound token array) — shuffle-free,
    * linear at any scale.
    */
  def passageWindows(
      df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size > 0, "size and stride must be positive")
    val wins = element_at(
      transform(array(tokens(col(textCol))), t => {
        val n = org.apache.spark.sql.functions.size(t)
        val lastStart = greatest(n - (size - 1), lit(1))
        val nw = ceil((lastStart.cast("double") - 1) / stride).cast("int") + 1
        transform(sequence(lit(0), nw - 1), i =>
          struct((i + 1).as("win_idx"),
            concat_ws(" ", slice(t, i * stride + 1, lit(size))).as("passage")))
      }),
      1)
    df.select(col(idCol), explode(wins).as("w"))
      .select(col(idCol),
        col("w.win_idx").cast("long").as("win_idx"),
        col("w.passage").as("passage"))
  }

  /** PII scrubbing: redact email-shaped and phone-shaped spans (the
    * pre-training hygiene pass). Portable regexes (no lookaround, no \b;
    * `(?i)` case-insensitivity works in both Java regex and DuckDB's RE2 —
    * without it, Mixed-Case emails would sail through unredacted) so the
    * DuckDB oracle replays them byte-identically; extend the pattern list
    * per jurisdiction. Pure projection — shuffle-free at any scale.
    */
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** CHECKSUM-validated PII detection — the precision upgrade over
    * [[scrubPii]]'s shape-only regexes: a 16-digit run is only a payment
    * card if its Luhn check digit holds (ISO/IEC 7812), and an
    * IBAN-shaped token only an account number if its mod-97 remainder is
    * 1 (ISO 13616) — pure integer digit folds that cut the
    * false-positive rate of a scrub pass by orders of magnitude (random
    * digit runs pass Luhn 1 in 10 and mod-97 1 in 97).
    *
    * Candidates are MAXIMAL runs (digits for cards, [A-Z0-9] for IBANs —
    * maximal-run extraction + length/shape filters instead of bounded
    * quantifiers, because RE2 has no word-boundary/lookaround and a
    * bounded match could split a longer run): digit runs of 13–19 for
    * cards; [A-Z]{2}[0-9]{2}[A-Z0-9]{11,30} for IBANs. Both checksums
    * are exact integer folds over per-character codes (Luhn is a SUM of
    * independent per-position terms — order-free; mod-97 is a short
    * sequential fold seeded at 0), mirrored by the oracle via
    * list_sum / seeded list_reduce. The interpreted HOF lambdas run per
    * CANDIDATE (a regex-filtered, tens-of-chars string), never per
    * corpus row — the engine-wide HOF discipline.
    *
    * Scale: one extract + explode per kind, shuffle-free projection —
    * linear at any corpus size.
    *
    * @return (idCol, kind 'card'|'iban', token, valid) per candidate
    */
  def piiChecksums(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // per-position Luhn term: digit at j (1-based from the left) doubles
    // when its 0-based position from the RIGHT is odd; 2d-9 folds the
    // double's digit sum. The total is a plain sum -> order-free.
    val luhnValid = expr(
      "aggregate(sequence(1, length(token)), 0L, (acc, j) -> acc + " +
        "CASE WHEN (length(token) - j) % 2 = 1 THEN " +
        "  CASE WHEN ascii(substr(token, j, 1)) - 48 >= 5 " +
        "    THEN 2 * (ascii(substr(token, j, 1)) - 48) - 9 " +
        "    ELSE 2 * (ascii(substr(token, j, 1)) - 48) END " +
        "ELSE ascii(substr(token, j, 1)) - 48 END) % 10 = 0")
    // ISO 13616: move the country+check head to the tail, map letters to
    // 10..35, incremental mod so the accumulator never leaves [0, 96]
    val ibanValid = expr(
      "aggregate(transform(sequence(1, length(__re)), j -> " +
        "  CASE WHEN ascii(substr(__re, j, 1)) >= 65 " +
        "    THEN ascii(substr(__re, j, 1)) - 55 " +
        "    ELSE ascii(substr(__re, j, 1)) - 48 END), 0L, (acc, c) -> " +
        "CASE WHEN c < 10 THEN (acc * 10 + c) % 97 " +
        "ELSE (acc * 100 + c) % 97 END) = 1")
    val cards = df
      .select(col(idCol),
        explode(expr(s"regexp_extract_all($textCol, '[0-9]+', 0)"))
          .as("token"))
      .filter(length(col("token")).between(13, 19))
      .select(col(idCol), lit("card").as("kind"), col("token"),
        luhnValid.as("valid"))
    val ibans = df
      .select(col(idCol),
        explode(expr(s"regexp_extract_all($textCol, '[A-Z0-9]+', 0)"))
          .as("token"))
      .filter(col("token").rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$"))
      .withColumn("__re",
        concat(expr("substr(token, 5)"), expr("substr(token, 1, 4)")))
      .select(col(idCol), lit("iban").as("kind"), col("token"),
        ibanValid.as("valid"))
    cards.unionByName(ibans)
  }

  /** Padding-waste analysis for fixed-size batch packing: batches of
    * `batchSize` docs pad every member to the batch max token count, so
    * waste = Σ(batch_max·batch_size − batch_sum). Compares ARRIVAL order
    * (batch by id) against LENGTH-SORTED order — the length-bucketing
    * argument every inference/training batcher makes, quantified on the
    * actual corpus.
    *
    * Scale: token counts are one scan; both rankings use
    * [[graft.sample.Samplers.globalRowNumber]] (range-partition +
    * per-partition rank + broadcast offsets) — no single-partition window
    * anywhere, the repo's standing rule for global order.
    */
  def paddingWaste(
      df: DataFrame,
      idCol: String,
      textCol: String,
      batchSize: Int = 32): DataFrame = {
    // one narrow (id, len) relation, two ranking consumers
    val lens = df.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    def waste(strategy: String, ordered: DataFrame): DataFrame =
      ordered
        .withColumn("batch", expr(s"(__rn - 1) DIV $batchSize"))
        .groupBy(col("batch"))
        .agg(max(col("n_tokens")).as("mx"),
          sum(col("n_tokens")).as("sm"), count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("mx") * col("c")).as("padded_tokens"),
          sum(col("sm")).as("real_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("padded_tokens"), col("real_tokens"),
          round((col("padded_tokens") - col("real_tokens")).cast("double")
            / col("padded_tokens").cast("double"), 6).as("waste_frac"))
    val byLen = graft.sample.Samplers.globalRowNumber(
      lens, Seq("n_tokens", idCol))
    val byId = graft.sample.Samplers.globalRowNumber(lens, Seq(idCol))
    waste("length_sorted", byLen).union(waste("arrival", byId))
  }

  /** Vocabulary-richness panel from the frequency-of-frequencies
    * dictionary — the species-richness view beside [[heapsLaw]]'s growth
    * curve: how much vocabulary the corpus has NOT yet seen.
    *   - chao1 (Chao 1984, bias-corrected form): V + f1(f1−1)/(2(f2+1)),
    *     the lower-bound estimate of total vocabulary including unseen
    *     types (f1 = singleton types, f2 = doubleton; the +1 keeps the
    *     f2 = 0 corpus well-defined).
    *   - Good-Turing unseen mass (Good 1953): f1/N — the probability the
    *     next token is a NEW type, the classic smoothing mass.
    * A duplicate-heavy corpus collapses f1 (chao1 ≈ V, unseen mass ≈ 0);
    * a healthy crawl keeps a fat singleton tail — a one-row distributional
    * gate beside the per-doc quality scores.
    *
    * Exact integers: both estimates emitted as floored micro-longs; the
    * chao1 extra term computes quotient and remainder separately so
    * nothing overflows below f1 ≈ 3e9 singleton types (documented domain;
    * at that vocabulary the corpus is past 100 TB).
    *
    * Scale: one explode + token hash-agg (map-side combine) + one 1-row
    * fold. No join, no window.
    */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame =
    vocabRichnessFromCounts(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))

  /** The richness fold over a drained/batch (w, c) token dictionary —
    * vocabRichnessFromCounts ∘ token-counts = vocabRichness by
    * construction (the streaming-twin rule; the dictionary is genuinely
    * vocab-bounded state).
    */
  def vocabRichnessFromCounts(tok: DataFrame): DataFrame =
    tok.agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum((col("c") === 1).cast("long")).as("f1"),
        sum((col("c") === 2).cast("long")).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        expr("vocab * 1000000L + (f1 * (f1 - 1)) div (2 * (f2 + 1)) " +
          "* 1000000L + ((f1 * (f1 - 1)) % (2 * (f2 + 1))) * 1000000L " +
          "div (2 * (f2 + 1))").as("chao1_micro"),
        expr("(f1 * 1000000L) div n_tokens").as("gt_unseen_micro"))

  /** Zipf-law fit over the corpus token-frequency distribution: the
    * least-squares slope of ln(freq) against ln(rank) over the top-R
    * terms. Natural text sits near slope −1; a corpus that drifts far off
    * (template spam → shallow, mass-duplication → steep head) fails the
    * distributional health check — this is a standard corpus-level
    * quality gate next to the per-doc ones.
    *
    * Determinism: ranks and frequencies are exact longs; their logs are
    * quantized to 1e-6 (ln of the same integer is the same double in any
    * libm at this precision — the unigram-LM precedent), and the
    * regression sums over the quantized longs are exact integer
    * arithmetic. Only the final slope/intercept division is floating.
    *
    * Scale: one explode + hash-agg for counts, then top-R via
    * TakeOrderedAndProject (driver-bounded at R rows); the regression
    * runs on R rows. No global sort, no wide window.
    */
  /** Heaps'-law vocabulary-growth curve: cumulative distinct-type count
    * vs cumulative token count over the corpus in document order (doc-id
    * buckets of `bucketDocs`). THE corpus-health curve behind tokenizer
    * budgeting and dedup QA — a deduplicated corpus grows vocabulary along
    * V ≈ k·N^β (β ≈ 0.5); a duplicate-heavy one flattens early.
    *
    * Exactness: "new types in bucket b" = tokens whose FIRST occurrence
    * (min doc id, then integer-div bucket) lands in b — one (token)
    * hash-aggregate; token mass per bucket is a second aggregate over the
    * same explode. Cumulative sums run over the BUCKET table
    * (corpus/bucketDocs rows, dictionary-scale window). All exact longs.
    */
  def heapsLaw(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bucketDocs: Int = 50): DataFrame = {
    val tok = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("token"))
      .localCheckpoint(true)
    val perBucket = tok
      .groupBy(expr(s"__id DIV $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("__ntok"),
        countDistinct(col("__id")).as("__ndoc"))
    val newTypes = tok.groupBy(col("token"))
      .agg(min(col("__id")).as("__first"))
      .groupBy(expr(s"__first DIV $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("__vnew"))
    // running totals via the range-partitioned scaffold — the bucket
    // table grows linearly with the corpus (docs / bucketDocs rows), so
    // it must never funnel through a single-partition window
    graft.sample.Samplers.globalCumSums(
        perBucket.join(newTypes, Seq("bucket"), "left")
          .withColumn("__vn", coalesce(col("__vnew"), lit(0L))),
        Seq("bucket"), Seq("__ntok", "__vn"), Seq("tokens_cum", "vocab_cum"))
      .select(col("bucket"), col("__ndoc").as("n_docs"),
        col("tokens_cum"), col("vocab_cum"))
  }

  def zipfFit(df: DataFrame, textCol: String, topR: Int = 100): DataFrame = {
    val top = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(topR)
      // ≤ topR rows, consumed twice by the rank self-join below
      .localCheckpoint(true)
    // rank via predecessor-count over the ≤ topR-row frame (broadcast
    // nested-loop on a bounded set) — no global-window stage at all
    val ranked = top.join(
        top.select(col("token").as("t2"), col("freq").as("f2")),
        col("f2") > col("freq") ||
          (col("f2") === col("freq") && col("t2") < col("token")),
        "left")
      .groupBy(col("token"), col("freq"))
      .agg((count(col("t2")) + 1).as("rank"))
    val q = ranked
      .select(
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("lx"),
        round(log(col("freq").cast("double")) * 1e6).cast("long").as("ly"))
    // topR=1 (or an all-one-rank degenerate corpus) zeroes the denominator:
    // guard to NULL on both engines (Spark would emit NaN, DuckDB's
    // divide-by-zero varies by version — same hazard as Events.trendFit)
    val denom = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = when(denom =!= 0.0,
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / denom)
    q.agg(count(lit(1)).as("n"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      .select(col("n").as("n_terms"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double") / 1e6, 6).as("intercept"))
  }

  /** Vocabulary coverage curve: for the top-V corpus terms by frequency —
    * rank, term, count, and the cumulative fraction of ALL token
    * occurrences covered by ranks 1..r. The tokenizer-budget analytic: how
    * large a vocabulary buys what corpus coverage (the knee of this curve
    * is where BPE merges stop paying), and a drift check between corpus
    * snapshots.
    *
    * Scale: one explode + hash-agg for counts (map-side partials), top-V
    * via TakeOrderedAndProject; rank AND cumulative sum come from one
    * predecessor-or-equal join over the bounded V-row frame (broadcast
    * nested-loop) — no global window anywhere.
    */
  def vocabCoverage(df: DataFrame, textCol: String, topV: Int = 200)
      : DataFrame = {
    val counts = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      // feeds both the corpus total and the top-V selection
      .localCheckpoint(true)
    val total = counts.agg(sum(col("freq")).as("total_tokens"))
    val top = counts.orderBy(col("freq").desc, col("token")).limit(topV)
      .localCheckpoint(true)
    // b precedes-or-equals a in (freq desc, token) order; the self match
    // makes count() the 1-based rank and sum(f2) the inclusive cumulative
    val ranked = top.join(
        top.select(col("token").as("t2"), col("freq").as("f2")),
        col("f2") > col("freq") ||
          (col("f2") === col("freq") && col("t2") <= col("token")))
      .groupBy(col("token"), col("freq"))
      .agg(count(lit(1)).as("rank"), sum(col("f2")).as("cum_freq"))
    ranked.crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq"),
        round(col("cum_freq").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
  }

  /** Temperature-based domain resampling — the multilingual/multi-source
    * balancing rule of mC4/XLM-R-style corpus construction: sampling mass
    * per domain ∝ n_d^τ for temperature τ ∈ (0, 1], down-weighting head
    * domains and up-weighting the tail relative to natural shares (τ=1 =
    * natural, τ→0 = uniform). Complements [[domainMix]] (explicit quotas):
    * here the quotas are DERIVED from the counts and one scalar.
    *
    * Engine parity: quotas are computed in exact integer arithmetic over
    * QUANTIZED weights — w_d = floor(n_d^τ · 1e6) as a long, quota_d =
    * (targetSize · w_d) div Σw — so the only floating step is n_d^τ
    * itself. For τ=0.5 that is `sqrt`, which IEEE 754 requires to be
    * correctly rounded: bit-identical in any engine, hence
    * oracle-checkable. (General τ goes through pow, whose last-ulp
    * behavior is libm-specific — fine operationally, not oracle-safe;
    * the checked query pins τ=0.5.) Selection within a domain is the
    * deterministic md5 rank order, as in [[domainMix]].
    */
  def temperatureMix(
      df: DataFrame, domainCol: String, idCol: String,
      targetSize: Long, tau: Double = 0.5): DataFrame = {
    val dfd = df.filter(col(domainCol).isNotNull)
    val counts = dfd.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
    val powed =
      if (tau == 0.5) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), tau)
    val weights = counts
      .withColumn("__wq", floor(powed * 1e6).cast("long"))
    val total = weights.agg(sum(col("__wq")).as("__tw"))
    // DECIMAL(38,0) product: targetSize·w_d multiplies two longs (wq ≈
    // 1e6·n^τ), which overflows signed 64-bit at real corpus scales (e.g.
    // targetSize 1e10 × wq 1e12) and would silently corrupt quotas. 38-digit
    // decimal holds any long×long product exactly; `div` still returns the
    // exact integer quotient as a long.
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("__quota",
        expr(s"(CAST($targetSize AS DECIMAL(38,0)) * __wq) div __tw"))
      .select(col(domainCol), col("__n"), col("__quota"))
    val byDomain = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    dfd.join(broadcast(quotas), Seq(domainCol))
      .withColumn("__rank", row_number().over(byDomain).cast("long"))
      .filter(col("__rank") <= col("__quota"))
  }

  /** Per-source data-card aggregate — the "datasheet" summary row a corpus
    * release publishes per slice (Gebru et al., "Datasheets for Datasets"):
    * document count, exact token and character mass, language spread, and
    * the exact interpolated median document length. One grouped pass plus
    * the sort-based exact percentile; every number is deterministic
    * (integer masses; the median interpolates between integers).
    */
  def dataCard(
      df: DataFrame, sourceCol: String, textCol: String, langCol: String)
      : DataFrame =
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        expr(s"percentile(length($textCol), 0.5)").as("p50_chars"))

  /** BPE merge-pair statistics — the pair-counting step of byte-pair-
    * encoding tokenizer training (Sennrich/Haddow/Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL'16): count
    * adjacent character-pair occurrences across the corpus, weighted by
    * word frequency; the top pair is BPE's first merge, and re-running
    * after each merge is the full training loop.
    *
    * The distributed shape is the whole point: the corpus first compresses
    * to its VOCABULARY (one hash-agg — at 100 TB that's the |corpus| →
    * |vocab| collapse, typically 6+ orders of magnitude), and only then do
    * character positions explode — the explode mass is |vocab|·word_len,
    * independent of corpus size. Pair counts are a second hash-agg over
    * the weighted pairs; top-k is TakeOrderedAndProject. Deterministic
    * tiebreak (count desc, pair asc), exact long counts.
    */
  def bpeMergeStats(df: DataFrame, textCol: String, topK: Int = 20)
      : DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("__i"),
        col("w"))
      .select(col("w").substr(col("__i"), lit(2)).as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(topK)
  }

  /** Full iterative BPE training — the N-round merge loop [[bpeMergeStats]]
    * is one step of (Sennrich et al. 2016, arXiv:1508.07909). Each round:
    * count adjacent symbol pairs over the collapsed VOCABULARY weighted by
    * word frequency, take the arg-max pair (count desc, pair asc —
    * deterministic), and rewrite every vocabulary entry merging that pair's
    * non-overlapping left-to-right occurrences.
    *
    * Scale shape: the corpus collapses to its vocabulary ONCE (the only
    * corpus-size-dependent job); every round after that works on |vocab|
    * rows — explode mass |vocab|·word_len per round, independent of corpus
    * size. Per round: one hash-agg + a 1-row TakeOrdered to the driver (the
    * driver holds only the merge table) + one projection; the vocab state
    * is localCheckpoint'd so plans stay flat across rounds.
    *
    * Symbol state rides a \u0001-delimited string (`⟨S⟩a⟨S⟩⟨S⟩b⟨S⟩`), so the
    * merge rewrite is a single literal string replacement with unambiguous
    * symbol boundaries — the identical operation replays in DuckDB's
    * `replace`, making the whole trainer oracle-checkable. Words containing
    * the sentinel character are excluded (guard, not a real token).
    *
    * Returns the merge table: (round, sym_l, sym_r, merged, n_occurrences).
    * Stops early when no pair remains (fully merged vocabulary).
    */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int = 8): DataFrame =
    bpeTrainWithVocab(df, textCol, rounds)._1

  /** [[bpeTrain]] plus the FINAL merged-vocabulary state — the input the
    * encode path ([[bpeEncode]]) needs: (merge table, vocab of
    * (delimited-symbol string `s`, word freq) after the last merge).
    */
  def bpeTrainWithVocab(df: DataFrame, textCol: String, rounds: Int = 8)
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val SENT = "\u0001"
    var vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(!col("w").contains(SENT))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", SENT + "$1" + SENT).as("s"),
        col("freq"))
      .localCheckpoint(true)
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = vocab
        .select(col("freq"),
          filter(split(col("s"), SENT), x => length(x) > 0).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> " +
            "named_struct('l', element_at(sy, i), 'r', element_at(sy, i + 1)))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r2"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r2"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, l + rr, c))
        // literal (non-regex) semantics via quoted pattern/replacement:
        // tokens may contain regex metacharacters
        vocab = vocab.select(
          regexp_replace(col("s"),
            lit(java.util.regex.Pattern.quote(
              SENT + l + SENT + SENT + rr + SENT)),
            lit(java.util.regex.Matcher.quoteReplacement(
              SENT + l + rr + SENT))).as("s"),
          col("freq"))
          .localCheckpoint(true)
        r += 1
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("round", "sym_l", "sym_r", "merged", "n_occurrences"),
      vocab)
  }

  /** WordPiece tokenizer TRAINING — the third production subword trainer
    * beside BPE and unigram-LM (Schuster & Nakajima, "Japanese and Korean
    * voice search", ICASSP 2012; the BERT tokenizer): the SAME iterative
    * merge loop as [[bpeTrainWithVocab]], but each round merges the pair
    * maximizing the LIKELIHOOD GAIN of a unigram LM over the segmented
    * corpus — score(a,b) = count(ab) / (count(a)·count(b)) — instead of
    * the raw pair count. A frequent-but-expected pair (two independently
    * common symbols) loses to a rarer pair whose co-occurrence beats its
    * unigram prediction; that is the entire BPE/WordPiece difference.
    *
    * Determinism: the gain is compared as the QUANTIZED exact integer
    * gain_q = floor(c_ab·1e12 / (c_a·c_b)) — always ≤ 1e12 since
    * c_ab ≤ min(c_a, c_b), so the quotient fits a long at ANY corpus
    * size; the dividend/divisor products ride decimal(38,0)/HUGEINT so
    * nothing wraps — with the total tiebreak (gain desc, pair count
    * desc, pair asc). Scale shape is the BPE trainer's: the corpus
    * collapses to its vocabulary ONCE; every round is two |vocab|-scale
    * hash-aggs (symbol counts + pair counts), one dictionary join, a
    * 1-row TakeOrdered, and one literal rewrite.
    *
    * Returns (merge table (round, sym_l, sym_r, merged, n_occurrences,
    * gain_q), final vocab state) — the encode input, like BPE's.
    */
  def wordpieceTrainWithVocab(df: DataFrame, textCol: String,
      rounds: Int = 8): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val SENT = "\u0001"
    var vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(!col("w").contains(SENT))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", SENT + "$1" + SENT).as("s"),
        col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable
      .ArrayBuffer[(Int, String, String, String, Long, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // symbol sequences reused by BOTH aggregations this round
      val syms = vocab
        .select(col("freq"),
          filter(split(col("s"), SENT), x => length(x) > 0).as("sy"))
        .localCheckpoint(true)
      val symCounts = syms
        .select(col("freq"), explode(col("sy")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("sc"))
      val top = syms
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> " +
            "named_struct('l', element_at(sy, i), 'r', element_at(sy, i + 1)))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r2"))
        .agg(sum(col("freq")).as("c"))
        .join(symCounts.select(col("sym").as("l"), col("sc").as("cl")),
          Seq("l"))
        .join(symCounts.select(col("sym").as("r2"), col("sc").as("cr")),
          Seq("r2"))
        .withColumn("gain_q", expr(
          "CAST(CAST(c AS DECIMAL(38,0)) * 1000000000000 div " +
            "(CAST(cl AS DECIMAL(38,0)) * cr) AS BIGINT)"))
        .orderBy(col("gain_q").desc, col("c").desc, col("l"), col("r2"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, c, g) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r2"), top(0).getAs[Long]("c"),
          top(0).getAs[Long]("gain_q"))
        merges += ((r, l, rr, l + rr, c, g))
        vocab = vocab.select(
          regexp_replace(col("s"),
            lit(java.util.regex.Pattern.quote(
              SENT + l + SENT + SENT + rr + SENT)),
            lit(java.util.regex.Matcher.quoteReplacement(
              SENT + l + rr + SENT))).as("s"),
          col("freq"))
          .localCheckpoint(true)
        r += 1
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("round", "sym_l", "sym_r", "merged",
      "n_occurrences", "gain_q"), vocab)
  }

  /** [[wordpieceTrainWithVocab]]'s merge table alone. */
  def wordpieceTrain(df: DataFrame, textCol: String,
      rounds: Int = 8): DataFrame =
    wordpieceTrainWithVocab(df, textCol, rounds)._1

  /** WordPiece tokenizer APPLICATION — [[bpeEncode]]'s discipline over
    * the wordpiece-trained vocabulary: the final merge-applied vocab
    * becomes a word → piece-count dictionary and encoding the corpus is
    * ONE equi-join of exploded words against it. Corpus-mass work is the
    * split + join; the trainer stays |vocab|-bound. Per group: n_words,
    * n_tokens (= words + ##-continuation pieces), n_chars.
    */
  def wordpieceEncode(df: DataFrame, groupCol: String, textCol: String,
      rounds: Int = 8): DataFrame =
    wordpieceEncodeWithVocab(df, groupCol, textCol,
      wordpieceTrainWithVocab(df, textCol, rounds)._2)

  /** [[wordpieceEncode]] with an ALREADY-TRAINED vocab state (the
    * second [[wordpieceTrainWithVocab]] return) -- a caller holding the
    * trainer output encodes without re-running the merge rounds (the
    * trainer is collect-driven, so the one-arg form re-executes it
    * eagerly per call).
    */
  def wordpieceEncodeWithVocab(df: DataFrame, groupCol: String,
      textCol: String, vocab: DataFrame): DataFrame = {
    val SENT = "\u0001"
    val dict = vocab.select(
      regexp_replace(col("s"), SENT, "").as("__w"),
      size(filter(split(col("s"), SENT), x => length(x) > 0))
        .cast("long").as("__nt"))
    graft.io.Tables.spread(df.select(col(groupCol), col(textCol)))
      .select(col(groupCol), explode(tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(SENT))
      .join(dict, Seq("__w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nt")).as("n_tokens"),
        sum(length(col("__w")).cast("long")).as("n_chars"))
  }

  /** Tokenizer APPLICATION at corpus scale: encode every document with the
    * trained BPE merges and report per-group token mass. The merge table
    * is never applied per document — the final vocabulary (|vocab| rows,
    * already merge-applied by the trainer) becomes a word → token-count
    * dictionary, and encoding the corpus is ONE equi-join of exploded
    * words against it. Work on the corpus is the split + join; everything
    * merge-related is |vocab|-bound (the trainer's own scale shape).
    * Output per group: n_words, n_tokens, n_chars — exact longs (the
    * bytes-per-token ratio is the caller's division).
    */
  def bpeEncode(df: DataFrame, groupCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val SENT = "\u0001"
    val (_, vocab) = bpeTrainWithVocab(df, textCol, rounds)
    val dict = vocab.select(
      regexp_replace(col("s"), SENT, "").as("__w"),
      size(filter(split(col("s"), SENT), x => length(x) > 0))
        .cast("long").as("__nt"))
    graft.io.Tables.spread(df.select(col(groupCol), col(textCol)))
      .select(col(groupCol), explode(tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(SENT))
      .join(dict, Seq("__w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nt")).as("n_tokens"),
        sum(length(col("__w")).cast("long")).as("n_chars"))
  }

  /** Flesch reading-ease panel — the classic readability quality signal
    * beside the length/punct/stopword ratios (CCNet/Dolma-style pipelines
    * gate on readability-adjacent heuristics; Flesch 1948 is the
    * reporting standard). Declared deterministic heuristics so any engine
    * replays exactly:
    *   - words: whitespace tokens (the engine-wide tokenizer)
    *   - syllables(word): count of [aeiouy]+ vowel GROUPS in the
    *     lowercased word, floor 1 — the standard cheap approximation
    *   - sentences: count of [.!?]+ runs in the raw text, floor 1
    *   - flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words),
    *     NULL for word-less docs (not NaN), rounded 6; all inputs exact
    *     integers, the formula the only float (mirrored verbatim).
    *
    * Scale shape: one map-side sentence count carried through ONE explode
    * + ONE per-doc hash-aggregate (corpus-token-scale, map-side partials)
    * — no join, no window.
    */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = graft.io.Tables.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .cast("long").as("__ns"),
        explode_outer(tokens(col(textCol))).as("__w"))
    val agg = base.groupBy(col(idCol))
      .agg(max(col("__ns")).as("n_sentences"),
        sum(when(col("__w").isNotNull, 1L).otherwise(0L)).as("n_words"),
        sum(when(col("__w").isNotNull,
          greatest(regexp_count(col("__w"), lit("[aeiouy]+")), lit(1))
            .cast("long")).otherwise(0L)).as("n_syllables"))
    agg.select(col(idCol), col("n_sentences"), col("n_words"),
      col("n_syllables"),
      when(col("n_words") > 0L,
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 6)).as("flesch"))
  }

  /** Tokenizer fertility / fairness panel — the standard multilingual
    * tokenizer evaluation (fertility = tokens per word; a domain or
    * language whose fertility runs far above the corpus mean pays more
    * context budget per sentence — the "tokenizer premium" the NLLB/
    * multilingual-LM literature tracks): encode the corpus with the
    * trained BPE merges ([[bpeEncode]]'s dictionary join, corpus work =
    * one split + one equi-join) and report, per group, token mass plus
    * fertility, chars-per-token, and fertility RELATIVE to the whole
    * corpus (1.0 = average; the fairness number).
    *
    * Scale shape: [[bpeEncode]]'s (vocab-bound trainer + one corpus join +
    * one hash-agg) plus a 1-row broadcast of corpus totals — nothing new
    * shuffles.
    */
  def tokenizerFertility(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      rounds: Int = 8): DataFrame = {
    val enc = bpeEncode(df, groupCol, textCol, rounds)
    val tot = enc.agg(sum(col("n_words")).as("__tw"),
      sum(col("n_tokens")).as("__tt"))
    val fert = col("n_tokens").cast("double") / col("n_words").cast("double")
    enc.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_words"), col("n_tokens"), col("n_chars"),
        round(fert, 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 6).as("chars_per_token"),
        round(fert /
          (col("__tt").cast("double") / col("__tw").cast("double")), 6)
          .as("fertility_rel"))
  }

  /** Raw (non-distinct) word n-grams — same bound-lambda idiom and
    * short-doc semantics as [[Shingles.wordShingles]] (a doc with < n
    * tokens yields one n-gram of its whole token list), but keeping every
    * occurrence: diversity ratios need totals, not sets.
    */
  private def rawNgrams(text: Column, n: Int): Column =
    element_at(
      transform(array(tokens(text)), t => {
        val sz = size(t)
        transform(sequence(lit(1), greatest(sz - (n - 1), lit(1))),
          i => concat_ws(" ",
            (0 until n).map(j =>
              when(i + j <= sz, element_at(t, (i + j).cast("int")))): _*))
      }), 1)

  /** Corpus n-gram diversity (distinct-n): for n = 1..maxN, the total
    * n-gram occurrences, the number of distinct n-grams, and their ratio.
    * distinct-1 is the classic type-token ratio; distinct-2/3 are the
    * standard diversity gates for synthetic/model-generated corpora (mass
    * duplication and templated spam crater them long before exact dedup
    * fires). Complements the within-doc [[repetitionSignal]] and the
    * cross-corpus n-gram overlap.
    *
    * Scale: ONE scan — each doc emits its 1..maxN-grams tagged with n from
    * a single flattened projection; then two keyed hash-aggregations
    * ((n, gram) counts → per-n totals), both with map-side partials. No
    * count-distinct expand, no join, no window.
    */
  def ngramDiversity(df: DataFrame, textCol: String, maxN: Int = 3)
      : DataFrame = {
    val tagged = (1 to maxN).map(n =>
      transform(rawNgrams(col(textCol), n),
        g => struct(lit(n).as("n"), g.as("g"))))
    df.select(explode(flatten(array(tagged: _*))).as("x"))
      .select(col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("n"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(sum(col("c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double")
          / col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
  }

  /** Aggressive dedup normalization: lowercase, collapse every non-
    * alphanumeric run to one space, trim. The CCNet/Dolma-style canonical
    * form — exact dedup over it catches re-punctuated / re-cased copies
    * that raw-byte dedup misses.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * The distributed analog of a rolling-hash fingerprint; md5 keeps it
    * engine-portable.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)).cast("binary"))

  /** Winnowing-style shingle fingerprint: the lexicographic min md5 over
    * word k-shingles — robust to local edits, used as a cheap near-dup key.
    */
  def minShingleFingerprint(text: Column, k: Int = 3): Column =
    array_min(transform(Shingles.wordShingles(text, k), s => md5(s.cast("binary"))))

  /** BM25 retrieval scoring for a FIXED query-term set, top-k by score.
    *
    * Because the query terms are a small compile-time list, per-term tf is a
    * pure column expression (`size(filter(tokens, _ == term))`) — no
    * explode, no per-doc shuffle; the scan stays linear and codegen'd. The
    * corpus constants (N, avg doc length, per-term document frequency) come
    * from ONE single-row aggregate that broadcasts back over the scan — two
    * jobs total at any corpus size.
    *
    * Determinism: the classic BM25 idf is log((N−df+0.5)/(df+0.5)); `log`
    * is the one step whose last ulp can differ across math libraries, so the
    * oracle-checked form uses the RATIONAL idf (N−df+0.5)/(df+0.5) — the
    * same monotone document-frequency weighting (identical ranking for a
    * single-term query; for multi-term it weights rare terms more
    * aggressively), built from IEEE ops both engines execute identically.
    * Terms are summed in fixed list order.
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      // defaults are FP-exact (k1+1 = 2.25, 1−b = 0.25): the oracle writes
      // the same constants as SQL literals and both engines must parse to
      // the identical double
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    // bind the token array once per row; per-term tf reads the bound array
    val perDoc = df.withColumn("__t", tokens(col(textCol)))
      .select(
        (col(idCol) +: size(col("__t")).cast("long").as("dl") +:
          queryTerms.zipWithIndex.map { case (term, i) =>
            size(filter(col("__t"), x => x === term)).cast("long").as(s"tf$i")
          }): _*)
    val constAggs =
      count(lit(1)).cast("long").as("n_docs") +:
        sum(col("dl")).cast("long").as("total_dl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("long")
            .as(s"df$i"))
    val consts = perDoc.agg(constAggs.head, constAggs.tail: _*)
    val scored = perDoc.crossJoin(broadcast(consts))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs"))
    val termScores = queryTerms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    }
    scored
      .withColumn("score", round(termScores.reduceLeft(_ + _), 6))
      .filter(col("score") > 0)
      .select(col(idCol), col("dl"), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Domain up-sampling WITH replacement to exact per-domain quotas — the
    * oversampling half of corpus mixing ([[domainMix]] is the down-sampling
    * half): a rare high-quality domain gets each row repeated
    * quota DIV n times, and the (quota % n) rows lowest by (md5(id), id)
    * get one extra copy, so the emitted count equals the quota EXACTLY —
    * deterministic, partition-invariant, no rand.
    *
    * Shape: one tiny per-domain count agg broadcast back, one rank window
    * keyed on the domain, one `explode(array_repeat(...))` fan-out — the
    * standard with-replacement trick (SURVEY §2.4 A2), linear in output
    * size at any scale.
    */
  def domainUpsample(
      df: DataFrame, domainCol: String, idCol: String,
      weights: Map[String, Double], targetSize: Long): DataFrame = {
    val known = weights.values.sum
    require(known <= 1.0 + 1e-9, s"weights sum over 1: $known")
    val dfd = df.filter(col(domainCol).isNotNull)
    val wExpr = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (dom, w)) =>
        when(col(domainCol) === dom, lit(w)).otherwise(acc)
    }
    val nUnweighted = dfd
      .agg(count_distinct(
        when(!col(domainCol).isin(weights.keys.toSeq: _*), col(domainCol)))
        .as("n_unw"))
    val counts = dfd.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
    val byDomain = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    dfd.crossJoin(broadcast(nUnweighted))
      .join(broadcast(counts), Seq(domainCol))
      .withColumn("__w",
        coalesce(wExpr,
          lit(math.max(0.0, 1.0 - known)) /
            greatest(col("n_unw").cast("double"), lit(1.0))))
      .withColumn("__quota",
        floor(col("__w") * lit(targetSize.toDouble)).cast("long"))
      .withColumn("__rank", row_number().over(byDomain).cast("long"))
      .withColumn("__nrep",
        expr("__quota DIV __n") +
          when(col("__rank") <= col("__quota") % col("__n"), 1L)
            .otherwise(0L))
      .withColumn("__rep",
        explode(array_repeat(lit(1), greatest(col("__nrep"), lit(0L))
          .cast("int"))))
      .drop("n_unw", "__w", "__n", "__rep")
  }

  /** Domain-mixture resampling: down-sample each domain toward a target
    * corpus composition — the "data mixing" step of LLM pre-training
    * (e.g. cap web crawl at x%, keep all of the rare high-quality domain).
    *
    * Per domain, quota = floor(weight × targetSize) (missing weight ⇒ the
    * uniform share of the residual mass), and the kept rows are the quota
    * lowest by (md5(id), id) — a deterministic uniform draw, cluster-size
    * invariant, reproducible in any engine with md5. The rank window is
    * PARTITIONED by domain (never global), so the shuffle is one exchange
    * keyed on the domain column; skew is bounded by the largest domain,
    * which salting handles if one domain dominates ([[graft.scale.Skew]]).
    *
    * Returns the kept rows with their domain rank (callers aggregate or
    * write). Exact-size guarantee: output per domain = min(quota, n_domain).
    */
  def domainMix(
      df: DataFrame, domainCol: String, idCol: String,
      weights: Map[String, Double], targetSize: Long): DataFrame = {
    val known = weights.values.sum
    require(known <= 1.0 + 1e-9, s"weights sum over 1: $known")
    // mixing requires a domain: NULL-domain rows are excluded (they are
    // invisible to the distinct-count below, so giving them a residual
    // quota would over-allocate the target mass; callers coalesce to a
    // sentinel domain first if they want them sampled)
    val dfd = df.filter(col(domainCol).isNotNull)
    val wExpr = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (dom, w)) =>
        when(col(domainCol) === dom, lit(w)).otherwise(acc)
    }
    val byDomain = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    // residual mass shared uniformly over unweighted domains, counted from
    // a single-row distinct-count aggregate (broadcast back over the scan);
    // count domains NOT in the weight map, not |domains|−|weights| — a
    // weighted domain absent from the data must not shift residual shares
    val nUnweighted = dfd
      .agg(count_distinct(
        when(!col(domainCol).isin(weights.keys.toSeq: _*), col(domainCol)))
        .as("n_unw"))
    dfd.crossJoin(broadcast(nUnweighted))
      .withColumn("__w",
        coalesce(wExpr,
          lit(math.max(0.0, 1.0 - known)) /
            greatest(col("n_unw").cast("double"), lit(1.0))))
      .withColumn("__quota",
        floor(col("__w") * lit(targetSize.toDouble)).cast("long"))
      .withColumn("__rank", row_number().over(byDomain).cast("long"))
      .filter(col("__rank") <= col("__quota"))
      .drop("n_unw", "__w")
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram model — the cheapest useful "LM perplexity" quality proxy
    * (CCNet-style filtering uses a real KenLM; the pipeline shape is
    * identical: score every document against a language model, then
    * threshold/bucket on the score). More negative ⇒ rarer tokens.
    *
    * Two passes over the exploded tokens: (1) vocabulary frequencies via
    * hash-agg on token; (2) join tokens back to their frequency and average
    * ln(tf/total) per document. The join is keyed on token — the build side
    * is one row per vocabulary entry, so Zipf-hot tokens skew only the
    * probe side, which AQE's skew-join split handles; the vocabulary is NOT
    * broadcast because at corpus scale it is ~10⁸ entries. The 1-row total
    * broadcasts.
    *
    * Determinism: tf and total are exact longs; ln and the mean are the
    * only double steps, rounded to 6 (sub-1e-12 summation-order noise).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = freq.agg(sum(col("tf")).cast("double").as("total"))
    tok.join(freq, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("tf").cast("double") / col("total"))), 6)
          .as("avg_logprob"))
  }

  /** Hashed-feature linear text classifier — the distributed shape of a
    * fastText-style quality filter (score = mean of per-token weights from a
    * hashed embedding table; CCNet / Llama-era pipelines gate documents on
    * exactly this kind of cheap linear model). The "model" here is a
    * deterministic weight function of the hash bucket (a Knuth
    * multiplicative mix onto [-1000, 1000] milli-units) so the oracle can
    * replay it bit-for-bit; a real deployment broadcasts a trained
    * weight array and looks weights up by the same bucket id.
    *
    * Plan: explode → md5-bucket projection (codegen) → one hash-agg keyed on
    * the document — map-side partials, no join, no window. Linear at 100 TB.
    * Integer weight sums are exact longs; the mean is the only double step.
    */
  def hashedLinearScore(
      df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    // 60-bit token hash (15 md5 hex chars — same portable form simhash
    // uses), via the codegen digest-prefix expression
    val h = HashExprs.md5PrefixLong(col("tok").cast("binary"), 15)
    val bucket = pmod(h, lit(nBuckets.toLong))
    val w = pmod(bucket * lit(2654435761L), lit(2001L)) - lit(1000L)
    tok
      .withColumn("__w", w)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__w")).as("w_sum"))
      .select(col(idCol), col("n_tokens"), col("w_sum"),
        round(col("w_sum").cast("double") / col("n_tokens"), 6).as("score"),
        (col("w_sum") > 0L).as("keep"))
  }

  /** Distributed TRAINING for the hashed-feature linear quality gate —
    * [[hashedLinearScore]] scores with a fixed weight function; this is the
    * missing learning loop. A batch perceptron over hashed token-count
    * features, kept exactly replayable:
    *  - every quantity is an exact long: features are bucket counts, the
    *    score is Σ cnt·w[b], the error is y − [score > 0] ∈ {−1,0,1}, and
    *    the per-bucket gradient Σ err·cnt adds straight into the weights —
    *    no float step anywhere in the update;
    *  - the driver holds ONLY the weight vector (nBuckets longs) and ships
    *    it each epoch as one literal map — the corpus-sized work (feature
    *    build, scoring, gradient) is all keyed aggregation: two shuffles
    *    per epoch (doc key, bucket key), no window, no pair join;
    *  - features are built once and localCheckpoint'd; epochs reuse them.
    *
    * Returns (per-epoch training log, final weights). Log rows: metrics of
    * the weights ENTERING the epoch (so epoch 1 describes the zero model)
    * plus `w_abs_sum`, the post-update Σ|w| — a checksum the DuckDB replay
    * must reproduce exactly.
    */
  /** Binary hashed feature rows (doc, bucket, 1) + a per-doc BIAS feature at
    * bucket `nBuckets`: presence features give every example comparable
    * update mass (count features let long docs dominate the batch
    * gradient), and the bias bucket lets the model learn a threshold —
    * without it, a class-imbalanced corpus is unseparable by any
    * through-the-origin score. Shared by training and trained scoring.
    */
  private def hashedBinaryFeatures(
      df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val bucket = pmod(
      HashExprs.md5PrefixLong(col("tok").cast("binary"), 15),
      lit(nBuckets.toLong))
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("b", bucket)
      .groupBy(col(idCol), col("b")).agg(lit(1L).as("cnt"))
      .unionByName(df.select(col(idCol),
        lit(nBuckets.toLong).as("b"), lit(1L).as("cnt")))
  }

  def trainHashedLinear(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      epochs: Int = 8, nBuckets: Int = 1024): (DataFrame, Array[Long]) =
    trainHashedLinearFromFeatures(
      // NOT repartitioned by doc before the checkpoint (probed r15,
      // OPTIMIZATION_r15.md §8b): under AQE the checkpoint's LogicalRDD reports
      // UnknownPartitioning, so a pre-checkpoint hash partitioning is
      // INVISIBLE to the per-epoch groupBy(doc) planner — the epoch
      // exchange stays either way and the repartition only adds a
      // build-time shuffle. The feats table is also bucket-bounded
      // (≤ nBuckets+1 rows per doc), so the per-epoch exchange is far
      // from the epoch's cost even at scale.
      hashedBinaryFeatures(df, idCol, textCol, nBuckets)
        .localCheckpoint(true),
      df.select(col(idCol), label.as("y")).localCheckpoint(true),
      idCol, epochs, nBuckets)

  /** Weight lookup for a dense bucket id: buckets are 0..nBuckets by
    * construction (pmod + the bias bucket), so the weight table ships as
    * an ARRAY literal with O(1) positional indexing — `element_at` on a
    * MAP literal linear-scans its ~1k keys per feature row (maps carry
    * no key order Catalyst can exploit), which was the trainer family's
    * single hottest expression (measured r15). `get` (0-based) rather
    * than the 1-based `element_at` because get stays NULL-on-invalid
    * under ANSI mode — with the coalesce it reproduces the map form's
    * weight-0 answer exactly even for an out-of-contract bucket id.
    */
  private def bucketWeight(w: Seq[Long], b: Column): Column =
    coalesce(get(typedLit(w), b.cast("int")), lit(0L))

  /** The epoch loop of [[trainHashedLinear]] over an ALREADY-BUILT
    * feature table (idCol, b, cnt) — every feature map that follows the
    * binary-presence + bias-bucket contract (token buckets, char-gram
    * buckets) trains through the same exact-integer perceptron.
    *
    * CONTRACT (not re-verified per call — verifying would cost a corpus
    * job per train): `feats` must carry EXACTLY ONE bias row
    * (b = nBuckets, cnt = 1) per labeled doc and `labels.y` must be
    * non-null 0/1. The per-epoch metrics (n_pos_err/n_neg_err/accuracy)
    * and the class-balanced gradient scaling are read off the bias
    * bucket's gradient row; a feature map that violates the contract (a
    * labeled doc absent from feats, duplicate ids inflating cnt, null
    * labels) silently counts those docs as correct and mis-scales the
    * gradient. Both in-repo feature builders ([[hashedBinaryFeatures]],
    * the langid char-gram map) satisfy it by construction.
    */
  def trainHashedLinearFromFeatures(
      feats: DataFrame, labels: DataFrame, idCol: String,
      epochs: Int, nBuckets: Int): (DataFrame, Array[Long]) = {
    require(epochs >= 1 && nBuckets > 0, "need epochs >= 1, nBuckets > 0")
    val spark = feats.sparkSession
    val K = 1000L   // gradient quantization (milli-units per class share)
    val w = Array.fill(nBuckets + 1)(0L)   // + the bias bucket
    val log = scala.collection.mutable
      .ArrayBuffer[(Int, Long, Long, Long, Double, Long)]()
    // n is epoch-invariant — ONE count job up front, not one per epoch
    val n = labels.count()
    for (epoch <- 1 to epochs) {
      // toIndexedSeq snapshots the mutable weight array before this
      // epoch's literal is built (the array is updated after the collect)
      val scores = feats
        .withColumn("wv", bucketWeight(w.toIndexedSeq, col("b")))
        .groupBy(col(idCol)).agg(sum(col("cnt") * col("wv")).as("score"))
      // the bias feature guarantees every doc (even token-less) has rows,
      // but keep the left-join guard for robustness
      val errs = labels.join(scores, Seq(idCol), "left")
        .select(col(idCol), col("y"),
          (col("y") - when(coalesce(col("score"), lit(0L)) > 0L, 1L)
            .otherwise(0L)).as("err"))
      // CLASS-BALANCED batch gradient: each error class contributes its
      // per-bucket presence share scaled to K, so a 3:1 class imbalance
      // can't freeze the model at the majority prediction (the plain batch
      // gradient provably stalls there: the minority class's total mass
      // under a decaying step never cancels the majority's head start —
      // observed as accuracy pinned at the base rate for every schedule).
      // Harmonic damping g/epoch: steps shrink but Σ1/k diverges, so the
      // model can keep moving as far as it needs. All divisions truncate
      // toward zero — DuckDB's // semantics (-3 // 2 = -1, verified).
      //
      // ONE action per epoch: the bias bucket (b = nBuckets, cnt = 1 on
      // EVERY doc — the feature-map contract) makes the gradient row at b
      // carry the per-class error counts — pg(bias) = n_pos_err,
      // ng(bias) = n_neg_err — so the former separate metrics job (and
      // the errs checkpoint that fed it twice) are free rides on the
      // gradient collect: 3 jobs/epoch → 1 (measured ~2× on the
      // trainer-bound queries at sf0.1). errs feeds exactly one consumer
      // now, so nothing re-executes without the checkpoint.
      val grad = feats.join(errs.filter(col("err") =!= 0L), Seq(idCol))
        .groupBy(col("b")).agg(
          sum(when(col("err") === 1L, col("cnt")).otherwise(0L)).as("pg"),
          sum(when(col("err") === -1L, col("cnt")).otherwise(0L)).as("ng"))
        .collect()
      val bias = grad.find(_.getLong(0) == nBuckets.toLong)
      val npe = bias.map(_.getLong(1)).getOrElse(0L)
      val nne = bias.map(_.getLong(2)).getOrElse(0L)
      grad.foreach { r =>
        val g = (if (npe > 0) K * r.getLong(1) / npe else 0L) -
          (if (nne > 0) K * r.getLong(2) / nne else 0L)
        w(r.getLong(0).toInt) += g / epoch
      }
      val nCorrect = n - npe - nne
      val acc = java.math.BigDecimal
        .valueOf(nCorrect.toDouble / n)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      log += ((epoch, nCorrect, npe, nne, acc, w.map(math.abs).sum))
    }
    import spark.implicits._
    (log.toSeq.toDF("epoch", "n_correct", "n_pos_err", "n_neg_err",
      "accuracy", "w_abs_sum"), w)
  }

  /** Score + exact-integer calibration bins for a TRAINED weight vector
    * (the [[trainHashedLinear]] output) — the calibration_docs machinery
    * re-used for a learned model: bin edges come from the known weight
    * bound B = max|w| (dividend offset keeps it non-negative, so Spark's
    * truncating DIV and DuckDB's flooring // agree), never from float
    * quantiles.
    */
  def trainedCalibration(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      weights: Array[Long], nBuckets: Int = 1024): DataFrame = {
    val bound =
      math.max(1L, if (weights.isEmpty) 1L else weights.map(math.abs).max)
    // same binary-presence + bias feature map the trainer used — scoring
    // with a different feature map than training would be a silent bug
    val scored = hashedBinaryFeatures(df, idCol, textCol, nBuckets)
      .withColumn("wv", bucketWeight(weights.toIndexedSeq, col("b")))
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * col("wv")).as("score"),
        sum(col("cnt")).as("n_feats"))
    df.select(col(idCol), label.as("y"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("y"),
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"))
      .withColumn("bin",
        expr(s"((score + $bound * n_feats) * 10) DIV " +
          s"(2 * $bound * n_feats + 1)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("score")).as("__ts"), sum(col("n_feats")).as("__tt"),
        sum(col("y")).as("n_pos"))
      .select(col("bin"), col("n"),
        when(col("__tt") > 0L,
          round(col("__ts").cast("double") / col("__tt"), 6))
          .as("mean_score"),
        col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
  }

  /** SPLIT-CONFORMAL prediction for the trained quality classifier — the
    * finite-sample coverage guarantee the classifier family lacked
    * (Vovk et al., "Algorithmic Learning in a Random World", 2005;
    * Papadopoulos et al. 2002's inductive/split form): train on a
    * deterministic md5 split, take the k-th smallest calibration
    * NONCONFORMITY score with k = ⌈(n_cal+1)·target⌉ (the exact
    * finite-sample rank — NOT ⌈n·q⌉; the +1 is what buys the marginal
    * guarantee P(covered) ≥ target for exchangeable data), and MEASURE
    * the achieved coverage on a disjoint holdout. Nonconformity of a
    * labeled doc is (1−2y)·score — the signed margin against the true
    * class, exact long. The prediction SET at q̂ contains class 1 iff
    * −score ≤ q̂ and class 0 iff score ≤ q̂; avg_set_size reports its
    * efficiency (a set size near 2 means the guarantee is vacuous).
    *
    * Split: md5(doc_id:cf) mod 4 → {0,1} train, 2 calibration, 3
    * holdout — deterministic, engine-replayable, disjoint by
    * construction. The calibration quantile is the exactPercentiles
    * discipline reduced to one order statistic: value-dictionary
    * hash-agg → range-partitioned cumulative count → first value whose
    * cumulative count reaches k (one TakeOrdered over the dictionary;
    * NULL — not a dropped row — when k > n_cal, the honest
    * too-little-calibration-data answer).
    *
    * Scale: the trainer's per-epoch keyed aggregations on the train
    * split; scoring is one feature hash-agg per split; the quantile is
    * dictionary-scale; coverage is one 1-row fold. No window over data
    * mass, no driver-side data-plane state.
    *
    * @return one row: (n_train, n_cal, k_rank, q_hat, n_test,
    *         n_covered, coverage, target, avg_set_size)
    */
  def conformalClassifier(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      targetNum: Int = 9, targetDen: Int = 10,
      epochs: Int = 8, nBuckets: Int = 1024): DataFrame = {
    require(targetNum > 0 && targetDen > targetNum,
      s"target must be a proper fraction, got $targetNum/$targetDen")
    val split = pmod(HashExprs.md5PrefixLong(
      concat(col(idCol).cast("string"), lit(":cf")).cast("binary"), 15),
      lit(4L))
    val base = df.withColumn("__sp", split).localCheckpoint(true)
    val train = base.filter(col("__sp") <= 1L)
    val (_, w) = trainHashedLinear(train, idCol, textCol, label, epochs,
      nBuckets)
    def alphaOf(part: DataFrame): DataFrame = {
      val scored = hashedBinaryFeatures(part, idCol, textCol, nBuckets)
        .withColumn("wv", bucketWeight(w.toIndexedSeq, col("b")))
        .groupBy(col(idCol)).agg(sum(col("cnt") * col("wv")).as("score"))
      part.select(col(idCol), label.as("y"))
        .join(scored, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("score"), lit(0L)).as("score"),
          col("y"))
        .withColumn("alpha",
          (lit(1L) - lit(2L) * col("y")) * col("score"))
    }
    val cal = alphaOf(base.filter(col("__sp") === 2L)).localCheckpoint(true)
    val hold = alphaOf(base.filter(col("__sp") === 3L))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val dict = cal.groupBy(col("alpha")).agg(count(lit(1)).as("__cnt"))
    val qhat = graft.sample.Samplers
      .globalCumSum(dict, Seq("alpha"), "__cnt")
      .crossJoin(broadcast(nCal))
      .withColumn("k_rank",
        expr(s"((n_cal + 1) * $targetNum + ${targetDen - 1}) " +
          s"div $targetDen"))
      .filter(col("__cum") >= col("k_rank"))
      // MIN over the qualifying dictionary rows: always one row, NULL
      // q_hat when the rank exceeds the calibration mass (k > n_cal)
      .agg(min(col("alpha")).as("q_hat"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val kOf = nCal.withColumn("k_rank",
      expr(s"((n_cal + 1) * $targetNum + ${targetDen - 1}) " +
        s"div $targetDen"))
    hold.crossJoin(broadcast(qhat)).crossJoin(broadcast(kOf))
      .crossJoin(broadcast(nTrain))
      .agg(min(col("n_train")).as("n_train"),
        min(col("n_cal")).as("n_cal"),
        min(col("k_rank")).as("k_rank"),
        min(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(col("alpha") <= col("q_hat"), 1L).otherwise(0L))
          .as("n_covered"),
        sum(when(-col("score") <= col("q_hat"), 1L).otherwise(0L) +
          when(col("score") <= col("q_hat"), 1L).otherwise(0L))
          .as("__set"))
      .select(col("n_train"), col("n_cal"), col("k_rank"), col("q_hat"),
        col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"),
        lit(targetNum.toDouble / targetDen).as("target"),
        round(col("__set").cast("double") / col("n_test"), 6)
          .as("avg_set_size"))
  }

  /** MONDRIAN (class-conditional) split-conformal prediction — the
    * [[conformalClassifier]] guarantee strengthened to hold PER CLASS
    * (Vovk et al. 2005 §4.5's Mondrian taxonomy at the label level):
    * marginal conformal can hit 90% overall by over-covering the
    * majority class and under-covering the minority — exactly the
    * skewed-class regime a quality gate runs in. Here the calibration
    * nonconformity quantile q̂_y is taken WITHIN each true class with
    * its own exact finite-sample rank k_y = ⌈(n_cal,y + 1)·target⌉,
    * and holdout coverage is MEASURED per class.
    *
    * Same trainer, same md5(doc_id:cf) % 4 split, same α = (1−2y)·score
    * as the marginal form. The per-class quantile reuses the
    * globalCumSum scaffold over the (y, α) order: the range shuffle
    * carries the whole dictionary, and the within-class cumulative is
    * the global cumulative minus the preceding classes' calibration
    * mass (an exact 2-row broadcast fold) — no per-class window over
    * data mass, no skew funnel on the 2-value class key. A class whose
    * k exceeds its calibration mass reports NULL q̂ (and NULL coverage)
    * — the honest too-little-minority-data answer.
    *
    * @return one row per class: (y, n_train, n_cal, k_rank, q_hat,
    *         n_test, n_covered, coverage, target)
    */
  def conformalMondrian(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      targetNum: Int = 9, targetDen: Int = 10,
      epochs: Int = 8, nBuckets: Int = 1024): DataFrame = {
    require(targetNum > 0 && targetDen > targetNum,
      s"target must be a proper fraction, got $targetNum/$targetDen")
    val split = pmod(HashExprs.md5PrefixLong(
      concat(col(idCol).cast("string"), lit(":cf")).cast("binary"), 15),
      lit(4L))
    val base = df.withColumn("__sp", split).localCheckpoint(true)
    val train = base.filter(col("__sp") <= 1L)
    val (_, w) = trainHashedLinear(train, idCol, textCol, label, epochs,
      nBuckets)
    def alphaOf(part: DataFrame): DataFrame = {
      val scored = hashedBinaryFeatures(part, idCol, textCol, nBuckets)
        .withColumn("wv", bucketWeight(w.toIndexedSeq, col("b")))
        .groupBy(col(idCol)).agg(sum(col("cnt") * col("wv")).as("score"))
      part.select(col(idCol), label.as("y"))
        .join(scored, Seq(idCol), "left")
        .select(col(idCol), col("y"),
          coalesce(col("score"), lit(0L)).as("score"))
        .withColumn("alpha",
          (lit(1L) - lit(2L) * col("y")) * col("score"))
    }
    val cal = alphaOf(base.filter(col("__sp") === 2L)).localCheckpoint(true)
    val hold = alphaOf(base.filter(col("__sp") === 3L))
    val classCal = cal.groupBy(col("y")).agg(count(lit(1)).as("n_cal"))
      .withColumn("k_rank",
        expr(s"((n_cal + 1) * $targetNum + ${targetDen - 1}) " +
          s"div $targetDen"))
    // preceding-class calibration mass: within-class cum = global cum
    // over the (y, alpha) range order minus this offset (2-row fold)
    val offsets = classCal.select(col("y"))
      .join(classCal.select(col("y").as("__y2"), col("n_cal").as("__m")),
        col("__y2") < col("y"), "left")
      .groupBy(col("y"))
      .agg(coalesce(sum(col("__m")), lit(0L)).as("__prev"))
    val dict = cal.groupBy(col("y"), col("alpha"))
      .agg(count(lit(1)).as("__cnt"))
    val qhat = graft.sample.Samplers
      .globalCumSum(dict, Seq("y", "alpha"), "__cnt")
      .join(broadcast(offsets), Seq("y"))
      .join(broadcast(classCal), Seq("y"))
      .filter(col("__cum") - col("__prev") >= col("k_rank"))
      .groupBy(col("y")).agg(min(col("alpha")).as("q_hat"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    hold.join(broadcast(classCal), Seq("y"), "left")
      .join(broadcast(qhat), Seq("y"), "left")
      .crossJoin(broadcast(nTrain))
      .groupBy(col("y"))
      .agg(min(col("n_train")).as("n_train"),
        min(col("n_cal")).as("n_cal"),
        min(col("k_rank")).as("k_rank"),
        min(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(col("alpha") <= col("q_hat"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("y"), col("n_train"), col("n_cal"), col("k_rank"),
        col("q_hat"), col("n_test"),
        when(col("q_hat").isNotNull, col("n_covered")).as("n_covered"),
        when(col("q_hat").isNotNull,
          round(col("n_covered").cast("double") / col("n_test"), 6))
          .as("coverage"),
        lit(targetNum.toDouble / targetDen).as("target"))
  }

  /** Jensen-Shannon divergence between two corpora's token
    * distributions — the LEXICAL drift gate (symmetric, bounded by ln 2,
    * defined even on disjoint vocabularies — everything KL alone is
    * not): with add-one smoothing over the UNION vocabulary,
    *   JSD = ½·KL(P‖M) + ½·KL(Q‖M),  M = (P+Q)/2.
    * A crawl snapshot drifting from the reference corpus moves this
    * number before any per-doc quality score does.
    *
    * Determinism (the zipf-fit quantization pattern): each token's KL
    * term p·ln(p/m) quantizes to round(term·1e12) — an exact long per
    * dictionary row, so the corpus fold is an ASSOCIATIVE long sum
    * (partition-invariant, engine-replayable); total quantization error
    * ≤ V·5e-13, invisible at the 6-decimal output. Smoothed
    * probabilities are fixed-order doubles of exact long counts.
    *
    * Scale: ONE tagged-union hash-agg to the (token, c_a, c_b)
    * dictionary (the ngramOverlap single-shuffle shape), a 1-row total
    * broadcast, one dictionary projection + fold.
    */
  def jsDivergence(
      a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    jsDivergenceFromCounts(jsDivergenceCounts(
      a.select(col(textCol), lit(true).as("__ina"))
        .unionByName(b.select(col(textCol), lit(false).as("__ina"))),
      textCol, col("__ina")))

  /** The one corpus-mass job of [[jsDivergence]]: tagged doc stream →
    * per-token (ca, cb) side counts — TWO associative sums, i.e. legal
    * Complete-mode streaming state (vocab-dictionary-scale, the
    * vocab_richness twin's declared state class). The streaming twin
    * drains this and runs [[jsDivergenceFromCounts]], sharing the batch
    * oracle verbatim.
    */
  def jsDivergenceCounts(
      df: DataFrame, textCol: String, inA: org.apache.spark.sql.Column)
      : DataFrame =
    df.select(inA.cast("boolean").as("__a"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))

  /** The quantized fold over a drained/batch (tok, ca, cb) dictionary —
    * jsDivergenceFromCounts ∘ jsDivergenceCounts = jsDivergence by
    * construction (the streaming-twin rule).
    */
  def jsDivergenceFromCounts(dict: DataFrame): DataFrame = {
    val tot = dict.agg(count(lit(1)).as("v"),
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = (col("ca") + 1).cast("double") /
      (col("na") + col("v")).cast("double")
    val pb = (col("cb") + 1).cast("double") /
      (col("nb") + col("v")).cast("double")
    val m = (pa + pb) / 2.0
    dict.crossJoin(broadcast(tot))
      .select(col("v"), col("na"), col("nb"),
        round(pa * log(pa / m) * 1e12).cast("long").as("__ta"),
        round(pb * log(pb / m) * 1e12).cast("long").as("__tb"))
      .groupBy(col("v"), col("na"), col("nb"))
      .agg(sum(col("__ta")).as("kl_a_micro"),
        sum(col("__tb")).as("kl_b_micro"))
      .select(col("v").as("n_vocab"), col("na").as("n_tokens_a"),
        col("nb").as("n_tokens_b"), col("kl_a_micro"),
        col("kl_b_micro"),
        round((col("kl_a_micro") + col("kl_b_micro")).cast("double")
          / 2e12, 6).as("jsd"))
  }

  /** Simpson concentration / diversity panel per group — the
    * species-evenness gate beside [[vocabRichness]]'s unseen-mass view
    * (Simpson, Nature 1949): D = Σ c(c−1) / (N(N−1)) is the EXACT
    * probability two tokens drawn without replacement are the same
    * type; 1/D is the effective number of equally-common types. A
    * template-spam source shows high D (few types dominate) long
    * before its mean quality score moves.
    *
    * Exact integers end to end: Σ c(c−1) rides decimal(38,0); the two
    * reported floats are one division each, rounded 6 — NULL on
    * sub-2-token groups. One explode + two hash-aggs, dictionary-scale
    * everything after the token collapse.
    */
  def simpsonDiversity(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("g"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c").cast("decimal(38,0)") * (col("c") - 1))).as("__ss"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        when(col("n_tokens") >= 2L,
          round(col("__ss").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens") - 1L).cast("double")), 6)).as("simpson"),
        when(col("n_tokens") >= 2L && col("__ss") > 0,
          round((col("n_tokens").cast("double") *
            (col("n_tokens") - 1L).cast("double")) /
            col("__ss").cast("double"), 6)).as("inv_simpson"))
  }

  /** Cross-corpus n-gram overlap — the corpus-level diversity /
    * contamination metric (what share of corpus A's distinct k-shingles
    * also occur in corpus B, and vice versa): the aggregate form of
    * benchmark decontamination, and the standard check that generated or
    * newly-crawled data isn't just re-serving the existing corpus.
    *
    * Plan: per-side distinct shingle sets (explode + hash-agg), one
    * full-outer equi-join on the shingle, one 1-row aggregate. Both sides
    * shuffle once on the shingle key — linear at 100 TB, no pair work.
    */
  def ngramOverlap(
      a: DataFrame, b: DataFrame, textCol: String, k: Int): DataFrame = {
    // one tagged union + one groupBy on the shingle key (max(in_a/in_b)
    // per shingle = set membership) — a single shuffle, vs per-side
    // distincts plus a full-outer join
    def side(df: DataFrame, inA: Boolean) =
      df.select(explode(Shingles.wordShingles(col(textCol), k)).as("s"))
        .select(col("s"), lit(if (inA) 1L else 0L).as("in_a"),
          lit(if (inA) 0L else 1L).as("in_b"))
    side(a, inA = true).unionAll(side(b, inA = false))
      .groupBy(col("s"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .agg(sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
        sum(col("in_a") * col("in_b")).as("n_common"))
      .select(col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") / col("n_a"), 6).as("overlap_a"),
        round(col("n_common").cast("double") / col("n_b"), 6).as("overlap_b"))
  }

  /** RAG retrieval composite: overlapping passage windows → BM25 score per
    * passage against a fixed query → global top-k passages. The
    * chunk-then-retrieve shape of a retrieval-augmented-generation corpus
    * build: [[passageWindows]] provides the chunks, the scorer is the same
    * rational-idf BM25 as [[bm25TopK]] but at passage grain (corpus stats —
    * n/avgdl/df — are computed over PASSAGES, as a passage index would).
    *
    * Plan: one explode (windows, materialized once — the stats agg and the
    * scorer both consume it), one 1-row stats agg broadcast back, one
    * TakeOrderedAndProject for the top-k — no global sort, no pair joins;
    * everything before the top-k is a linear scan at 100 TB.
    */
  def ragRetrieve(
      df: DataFrame, idCol: String, textCol: String,
      winSize: Int, stride: Int, queryTerms: Seq[String], k: Int,
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "ragRetrieve needs at least one query term")
    val passages = passageWindows(df, idCol, textCol, winSize, stride)
    val pt = passages.withColumn("__t", tokens(col("passage")))
      .select(
        (col(idCol) +: col("win_idx") +: col("passage") +:
          size(col("__t")).cast("long").as("dl") +:
          queryTerms.zipWithIndex.map { case (term, i) =>
            size(filter(col("__t"), x => x === term)).cast("long").as(s"tf$i")
          }): _*)
      // two consumers (corpus-stats agg + scored projection) — without the
      // eager checkpoint the window explode executes twice
      .localCheckpoint(true)
    val constAggs =
      count(lit(1)).cast("long").as("n_docs") +:
        sum(col("dl")).cast("long").as("total_dl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("long")
            .as(s"df$i"))
    val consts = pt.agg(constAggs.head, constAggs.tail: _*)
    val scored = pt.crossJoin(broadcast(consts))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
    val termScores = queryTerms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl").cast("double") / col("avgdl"))))
    }
    scored
      .withColumn("score", round(termScores.reduceLeft(_ + _), 6))
      .filter(col("score") > 0)
      .select(col(idCol), col("win_idx"), col("dl"), col("score"),
        col("passage"))
      .orderBy(col("score").desc, col(idCol), col("win_idx"))
      .limit(k)
  }

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * NeurIPS 2023): score every raw document by how target-like its hashed
    * bag-of-words is, then draw a without-replacement sample of `topK`
    * docs proportionally to the importance weights via Gumbel top-k.
    *
    * Model: unigram bucket LMs with add-1 smoothing over `buckets` hashed
    * features (md5-prefix mod buckets — the repo's portable hash, so the
    * oracle replays bucket placement exactly).
    *   log w(doc) = Σ_tokens ln( (t_b+1)·(R+B) / ((r_b+1)·(T+B)) )
    * with t/r the target/raw bucket counts and T/R their totals. The Gumbel
    * key is log w − ln(−ln(u)) with u = (h+0.5)/2^60 from a per-doc md5
    * hash — deterministic "randomness", so selection is reproducible and
    * engine-independent.
    *
    * Scale story: the two LM tables are `buckets` rows each however large
    * the corpus (hash-agg with map-side partials), broadcast onto the token
    * stream; per-doc scoring is one groupBy(doc); selection is a top-k —
    * TakeOrdered, no global sort. Doubles appear only in the final ln/sum;
    * ranks compare 6-decimal-rounded keys so reassociation noise cannot
    * reorder the pick (ties fall back to doc_id).
    *
    * Reference anchor: selection-style corpus filtering is the reference's
    * data-curation concern (the sampling family in utils/data_utils.py:20-61);
    * this is the published importance-resampling form of it at corpus scale.
    */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 1024, topK: Int = 50): DataFrame = {
    val b = buckets
    val tok = df.select(col(idCol), isTarget.as("__tgt"),
        explode(tokens(col(textCol))).as("__token"))
      .withColumn("__b", pmod(
        HashExprs.md5PrefixLong(col("__token").cast("binary"), 15),
        lit(b.toLong)))
    // bucket LMs: `b` rows each, corpus-size-independent
    val rawLm = tok.groupBy(col("__b")).agg(count(lit(1)).as("r_cnt"))
    val tgtLm = tok.filter(col("__tgt"))
      .groupBy(col("__b")).agg(count(lit(1)).as("t_cnt"))
    val lm = rawLm.join(tgtLm, Seq("__b"), "left")
      .select(col("__b"), col("r_cnt"),
        coalesce(col("t_cnt"), lit(0L)).as("t_cnt"))
    val totals = lm.agg(sum(col("r_cnt")).as("r_tot"),
      sum(col("t_cnt")).as("t_tot"))
    // four lns of exact integers (each < 2^53 even at 100 TB token mass):
    // each per-token __lr is bit-identical across engines. The per-doc
    // sum(__lr) accumulates in partition/row order, so its pre-rounding
    // double is NOT bit-fixed — the repo's actual cross-engine contract is
    // that 6-decimal rounding (below) absorbs reassociation noise, the
    // same contract every ln/exp query here relies on
    val scored = tok.join(broadcast(lm), Seq("__b"))
      .crossJoin(broadcast(totals))
      .withColumn("__lr",
        log(col("t_cnt") + 1) + log(col("r_tot") + b) -
          log(col("r_cnt") + 1) - log(col("t_tot") + b))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr")).as("__logw"))
    val gumbel = scored.withColumn("__u",
        (HashExprs.md5PrefixLong(
          concat(lit("dsir:"), col(idCol).cast("string")).cast("binary"), 15)
          .cast("double") + lit(0.5)) / lit(1152921504606846976.0))
      .withColumn("__key", col("__logw") - log(-log(col("__u"))))
      .withColumn("logw", round(col("__logw"), 6))
      .withColumn("gumbel_key", round(col("__key"), 6))
    graft.core.Bounded.withRank(
        gumbel.orderBy(col("gumbel_key").desc, col(idCol)).limit(topK),
        Seq("gumbel_key" -> true, idCol -> false), "sel_rank")
      .select(col("sel_rank"), col(idCol), col("n_tokens"),
        col("logw"), col("gumbel_key"))
  }

  /** DoReMi-style domain reweighting (Xie et al., NeurIPS 2023): upweight
    * the domains a shared model serves WORST relative to a domain-specific
    * reference. The published method trains proxy models; the engine-native
    * deterministic proxy here is unigram cross-entropy — per domain d:
    *   loss_corpus(d) = mean −ln p_corpus(token)   (shared-model loss)
    *   loss_self(d)   = mean −ln p_domain(token)   (reference-model loss)
    *   excess(d)      = max(0, loss_corpus − loss_self)
    * and one exponentiated-gradient step from uniform weights:
    *   weight(d) ∝ exp(eta·excess(d)), then smoothed with the uniform
    *   mixture (1−smooth)·w + smooth/|D| exactly as the paper's Algorithm 1.
    *
    * Scale story: everything derives from the (domain, token) count table —
    * one hash-agg over the exploded corpus (map-side partials), then
    * domain-level reductions over that table; the final softmax touches
    * |D| rows. No token-level join back to the corpus, no window over the
    * data plane. Doubles appear only in ln/÷ over exact counts with
    * fixed-order expressions; every emitted float is 6-decimal-rounded, and
    * the softmax reads the ROUNDED excess so engine noise cannot compound.
    */
  def doremiWeights(df: DataFrame, domainCol: String, textCol: String,
      eta: Double = 1.0, smooth: Double = 0.1): DataFrame = {
    require(smooth >= 0 && smooth <= 1, s"smooth in [0,1], got $smooth")
    val (etaL, smoothL) = (eta.toString, smooth.toString)
    val tok = df.select(col(domainCol).as("domain"),
      explode(tokens(col(textCol))).as("token"))
    val ndt = tok.groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("n_dt"))
    val nt = ndt.groupBy(col("token")).agg(sum(col("n_dt")).as("n_t"))
    val totC = nt.agg(sum(col("n_t")).as("t_c"))
    val totD = ndt.groupBy(col("domain")).agg(sum(col("n_dt")).as("t_d"))
    val nDocs = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val perDomain = ndt.join(nt, Seq("token"))
      .join(broadcast(totD), Seq("domain"))
      .crossJoin(broadcast(totC))
      .groupBy(col("domain"))
      .agg(sum(col("n_dt")).as("n_tokens"),
        round((-sum(col("n_dt").cast("double") *
            (log(col("n_t")) - log(col("t_c"))))) /
          sum(col("n_dt")).cast("double"), 6).as("loss_corpus"),
        round((-sum(col("n_dt").cast("double") *
            (log(col("n_dt")) - log(col("t_d"))))) /
          sum(col("n_dt")).cast("double"), 6).as("loss_self"))
      .withColumn("excess",
        greatest(lit(0.0), col("loss_corpus") - col("loss_self")))
      .withColumn("__u", expr(s"exp($etaL * excess)"))
    val norm = perDomain.agg(sum(col("__u")).as("__su"),
      count(lit(1)).as("__ndom"))
    perDomain.crossJoin(broadcast(norm))
      .join(nDocs, Seq("domain"))
      .withColumn("weight", expr(
        s"ROUND((1.0 - $smoothL) * (__u / __su) + $smoothL / __ndom, 6)"))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        col("loss_corpus"), col("loss_self"),
        round(col("excess"), 6).as("excess"), col("weight"))
  }

  /** Chi-square token drift — which tokens moved most between two corpus
    * snapshots (side A vs side B)? Per token, the 2×2 contingency test
    * [k_A, N_A−k_A; k_B, N_B−k_B]:
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)),  N = N_A + N_B,
    * the keyword-extraction / drift-monitoring statistic (Dunning-style
    * corpus comparison via its χ² cousin). Complements
    * [[domainDivergence]]: that scores DISTRIBUTIONS, this names the
    * individual tokens responsible.
    *
    * Determinism: all four cells are exact integer token counts; χ² is
    * ONE fixed-order double expression rounded to 6 decimals; rank order
    * is (χ² desc, token asc) so rounding ties break textually. Tokens
    * whose complement column is empty (a single-token corpus) would zero a
    * marginal — χ² is pinned to 0 there instead of NaN.
    *
    * Scale: one explode → one (token) hash-aggregate with map-side
    * partials (conditional sums share one pass), a 1-row totals broadcast,
    * and a TakeOrderedAndProject for the top-k — never a global sort.
    */
  def tokenDrift(
      df: DataFrame,
      textCol: String,
      sideCol: String,
      topK: Int): DataFrame = {
    val tok = df.select(col(sideCol).cast("boolean").as("__s"),
      explode(tokens(col(textCol))).as("token"))
    val counts = tok.groupBy(col("token"))
      .agg(sum(when(col("__s"), 0L).otherwise(1L)).as("k_a"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("k_b"))
      .localCheckpoint(true)
    val tot = counts.agg(sum(col("k_a")).as("__na"),
      sum(col("k_b")).as("__nb"))
    val top = counts.crossJoin(broadcast(tot))
      .withColumn("chi2", {
        val a = col("k_a").cast("double")
        val b = (col("__na") - col("k_a")).cast("double")
        val c = col("k_b").cast("double")
        val d = (col("__nb") - col("k_b")).cast("double")
        val n = (col("__na") + col("__nb")).cast("double")
        val colB = (col("__na") + col("__nb") - col("k_a") - col("k_b"))
          .cast("double")
        val num = (a * d - b * c) * (a * d - b * c) * n
        val den = col("__na").cast("double") * col("__nb").cast("double") *
          (col("k_a") + col("k_b")).cast("double") * colB
        when(den > 0.0, round(num / den, 6)).otherwise(lit(0.0))
      })
      .select(col("token"), col("k_a"), col("k_b"), col("chi2"))
      .orderBy(col("chi2").desc, col("token"))
      .limit(topK)
    graft.core.Bounded.withRank(top,
        Seq("chi2" -> true, "token" -> false), "rk")
      .withColumn("rk", col("rk").cast("long"))
      .select(col("rk"), col("token"), col("k_a"), col("k_b"), col("chi2"))
  }

  /** Per-domain distribution drift vs the corpus: smoothed unigram entropy,
    * KL(P_domain ‖ P_corpus), and Jensen–Shannon divergence — the
    * data-mixture monitoring panel (is a source drifting from the blend?
    * how much does each domain's token distribution deviate?). DoReMi
    * reads cross-entropy off the same counts; this emits the
    * divergence-family view a pipeline dashboards per snapshot.
    *
    * Distributions are add-1 smoothed over the CORPUS vocabulary V, so
    * every domain is supported on the same event set and KL is finite:
    *   p_d(t) = (c_d(t)+1)/(N_d+V),  q(t) = (c(t)+1)/(N+V).
    *
    * Scale shape: one hash-agg to the (domain, token) table; the
    * vocabulary-complete grid is vocab ⋈ broadcast(domain totals) — |V|·|D|
    * rows where |D| is the (small) domain count, keyed on the token, never
    * on the corpus; per-domain reduction ends on |D| rows. Every ln takes
    * exact-integer-derived rationals; sums carry the repo's 6-decimal
    * rounding contract (reassociation noise absorbed by rounding).
    */
  def domainDivergence(
      df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(domainCol).as("domain"),
      explode(tokens(col(textCol))).as("token"))
    val ndt = tok.groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("n_dt"))
    val vocab = ndt.groupBy(col("token")).agg(sum(col("n_dt")).as("n_t"))
    val totals = vocab.agg(sum(col("n_t")).as("n_corpus"),
      count(lit(1)).as("v_size"))
    val domTotals = ndt.groupBy(col("domain"))
      .agg(sum(col("n_dt")).as("n_dom"))
    val nDocs = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    // vocabulary-complete grid: every (domain, token) cell, zero-filled
    val grid = vocab.crossJoin(broadcast(domTotals))
      .join(ndt, Seq("domain", "token"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("c_d", coalesce(col("n_dt"), lit(0L)))
    // smoothed masses: p = (c_d+1)/(n_dom+V), q = (n_t+1)/(n_corpus+V)
    val cell = grid
      .withColumn("p", (col("c_d") + 1).cast("double") /
        (col("n_dom") + col("v_size")).cast("double"))
      .withColumn("q", (col("n_t") + 1).cast("double") /
        (col("n_corpus") + col("v_size")).cast("double"))
      .withColumn("lp", log(col("c_d") + 1) - log(col("n_dom") + col("v_size")))
      .withColumn("lq", log(col("n_t") + 1) - log(col("n_corpus") + col("v_size")))
      .withColumn("lm", log(col("p") + col("q")) - log(lit(2.0)))
    cell.groupBy(col("domain"))
      .agg(
        max(col("n_dom")).as("n_tokens"),
        max(col("v_size")).as("vocab_size"),
        round(-sum(col("p") * col("lp")), 6).as("entropy"),
        round(sum(col("p") * (col("lp") - col("lq"))), 6).as("kl_vs_corpus"),
        round(sum(
          (col("p") * (col("lp") - col("lm")) +
            col("q") * (col("lq") - col("lm"))) / 2.0), 6).as("js_vs_corpus"))
      .join(nDocs, Seq("domain"))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        col("vocab_size"), col("entropy"), col("kl_vs_corpus"),
        col("js_vs_corpus"))
  }

  /** Top-k bigram PMI — collocation mining: pointwise mutual information
    * log(p(w1 w2) / (p(w1)·p(w2))) over corpus bigram/unigram counts,
    * count-floored at `minCount` (PMI without a floor surfaces hapax
    * noise). The standard first pass of phrase-vocabulary induction
    * (word2vec-style phrase joining).
    *
    * Scale shape: bigrams via the codegen'd zipped-slice explode (same
    * kernel as [[bigramStats]]); two keyed joins attach unigram masses by
    * WORD (no broadcast of the vocabulary — it can be huge); the two
    * 1-row totals cross the plan as broadcast scalars. PMI is one
    * fixed-order double expression over exact longs, so both engines
    * compute the identical value (left-assoc products, one ln).
    */
  def pmiTopPairs(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    val t = tokens(col(textCol))
    val n1 = greatest(size(t) - 1, lit(0))
    val pair = arrays_zip(slice(t, lit(1), n1).as("w1"),
      slice(t, lit(2), n1).as("w2"))
    val bi = df.select(explode(pair).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val uni = df.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tots = df.select(
      sum(size(t)).as("__T"),
      sum(greatest(size(t) - 1, lit(0))).as("__B"))
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tots))
      .withColumn("pmi", round(
        log((col("cnt").cast("double") * col("__T") * col("__T")) /
          (col("__B").cast("double") * col("c1") * col("c2"))), 6))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bg"),
        col("cnt"), col("c1"), col("c2"), col("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(k)
  }

  /** Positional-index phrase search: which documents contain the exact
    * token sequence, how often, and where first. The inverted-index
    * phrase-query plan: ONE pass positional postings restricted to the
    * phrase's tokens, each occurrence voting for the anchor position
    * (pos − offset) of every phrase slot it could fill; an anchor with all
    * |phrase| distinct slots is a match. Handles repeated words in the
    * phrase (each occurrence emits one vote per slot it matches).
    *
    * Scale shape: the token filter prunes the explode output before
    * anything shuffles; the only exchanges key on (doc, anchor) then doc.
    * No m-way self-join, no text reconstruction.
    */
  def phraseSearch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      phrase: String): DataFrame = {
    val ph = phrase.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    require(ph.nonEmpty, "phrase must contain at least one token")
    val m = ph.length
    val offsetsFor = ph.distinct.map(w =>
      w -> ph.zipWithIndex.collect { case (`w`, i) => i })
    val offArr = offsetsFor.foldLeft(lit(null).cast("array<int>")) {
      case (acc, (w, offs)) =>
        when(col("__w") === w, array(offs.map(lit): _*)).otherwise(acc)
    }
    df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("__p", "__w")))
      .filter(col("__w").isin(ph.distinct: _*))
      .withColumn("__off", explode(offArr))
      .select(col(idCol), (col("__p") - col("__off")).as("__anchor"),
        col("__off"))
      .filter(col("__anchor") >= 0)
      .groupBy(col(idCol), col("__anchor"))
      .agg(count_distinct(col("__off")).as("__slots"))
      .filter(col("__slots") === m)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__anchor")).cast("long").as("first_pos"))
  }

  /** Multi-phrase dictionary tagging — [[phraseSearch]] generalized from
    * one phrase to a DICTIONARY of phrases in a single pass (the
    * FlashText/Aho-Corasick shape: taxonomy tagging, topic routing,
    * blocklist screening over a training corpus). One tokenize + ONE
    * broadcast equi-join on the token + one two-level aggregate serves
    * every phrase simultaneously — running [[phraseSearch]] per phrase
    * would re-tokenize and re-shuffle the corpus |dict| times.
    *
    * Mechanics: the dictionary explodes to (phrase, slot-index, token)
    * rows; a corpus token matching any dictionary token proposes the
    * anchor position `pos − idx`, and an anchor where every slot of a
    * phrase is proposed (count-distinct = phrase length) is a match —
    * exactly [[phraseSearch]]'s anchor algebra, keyed by phrase. Corpus
    * tokens matching NO dictionary token drop out at the (broadcast) join,
    * so the aggregate state is dictionary-hit-scale, not corpus-scale.
    *
    * @return (id, phrase, n_matches, first_pos) — docs × phrases with at
    *         least one match.
    */
  def tagKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty phrase dictionary")
    val spark = df.sparkSession
    import spark.implicits._
    val dict = phrases.flatMap { p =>
      val ts = p.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      require(ts.nonEmpty, s"phrase '$p' has no tokens")
      ts.zipWithIndex.map { case (w, i) => (p, i, w, ts.length) }
    }.toDF("phrase", "__idx", "__tok", "__plen")
    df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("__p", "__w")))
      .join(broadcast(dict), col("__w") === col("__tok"))
      .select(col(idCol), col("phrase"), col("__plen"),
        (col("__p") - col("__idx")).as("__anchor"), col("__idx"))
      .filter(col("__anchor") >= 0)
      .groupBy(col(idCol), col("phrase"), col("__plen"), col("__anchor"))
      .agg(count_distinct(col("__idx")).as("__slots"))
      .filter(col("__slots") === col("__plen"))
      .groupBy(col(idCol), col("phrase"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__anchor")).cast("long").as("first_pos"))
  }

  /** Sliding-window document chunking — the RAG/context-packing splitter:
    * token windows of `window` tokens advancing by `stride` (overlap =
    * window − stride), last window truncated, every document emitting at
    * least one chunk. Rows are (id, chunk_idx, chunk_start, n_chunk_tokens,
    * chunk_md5) — the chunk TEXT itself stays out of the result (narrow
    * rows; the md5 is the content identity downstream dedup/indexing
    * keys on, same rationale as the fingerprint queries).
    *
    * Chunk count: 1 + ceil(max(0, n − window) / stride), computed with
    * non-negative integer arithmetic only (a signed floor-vs-truncate `div`
    * on n < window would diverge between engines).
    *
    * Scale shape: generate + slice + hash stay in ONE codegen stage — the
    * token array is duplicated per chunk only inside the stage's row
    * buffer and never crosses an exchange; the shuffled output is the
    * narrow hash row. Output mass ≈ input × window/stride.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        expr(s"(greatest(0L, __n - $window) + ${stride - 1}) div $stride"))))
      .withColumn("chunk_start", col("chunk_idx") * stride)
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        size(slice(col("__t"), (col("chunk_start") + 1).cast("int"),
          lit(window))).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("__t"),
          (col("chunk_start") + 1).cast("int"), lit(window)))
          .cast("binary")).as("chunk_md5"))
  }

  /** Per-document character-level Shannon entropy — the CCNet-family
    * gibberish filter ([[qualityFeatures]]' missing member): encrypted /
    * base64 / binary-ish payloads sit near the 6-bit ceiling, natural
    * language near 4.2 bits, template spam ("aaaa…") near 0. Works on
    * code points (Spark `split("")` and the oracle's `string_split('')`
    * agree on the corpus contract).
    *
    * H = log2(n) − (Σ c·log2 c)/n over exact per-char counts c — the
    * only float steps are the two log2 calls and the final division,
    * rounded to 6 (the [[unigramLogProb]] determinism convention).
    *
    * Scale shape: one explode (|chars| rows) → hash-agg keyed (id, char)
    * with map-side partials (per-doc alphabets are small, so partials
    * collapse hard) → hash-agg keyed id. No join, no window — linear.
    * Empty documents have no rows (no chars → entropy undefined).
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .filter(length(col("__ch")) > 0)
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("__c").cast("double") * log2(col("__c").cast("double")))
          .as("__clc"))
      .select(col(idCol), col("n_chars"), col("n_distinct_chars"),
        round(log2(col("n_chars").cast("double")) -
          col("__clc") / col("n_chars"), 6).as("entropy_bits"))

  /** Per-document perplexity under an add-one-smoothed corpus BIGRAM LM —
    * the KenLM-shaped quality signal one rung above [[unigramLogProb]]
    * (perplexity filtering à la CCNet buckets documents by LM surprise;
    * a bigram model already separates fluent text from shuffled tokens,
    * which a unigram model cannot). Transductive by design: the corpus
    * being scored is the corpus the counts come from, like
    * [[corpusFrequencyScore]].
    *
    * p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), V = distinct-unigram count:
    * all-integer numerators/denominators, so the only float steps are the
    * per-bigram ln and the final mean/exp, rounded to 6.
    *
    * Scale shape: bigram relation = one explode + self-shifted zip (the
    * [[bigramStats]] pair generator); counts are two hash-aggs (the
    * bigram table is vocab²-bounded, the PMI-family contract); scoring
    * joins doc bigrams to the count tables ON THE BIGRAM KEY — corpus
    * mass flows through keyed equi-joins only. Docs with < 2 tokens have
    * no bigrams and are absent.
    */
  def bigramPerplexity(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val bi = toks
      .select(col(idCol), posexplode(slice(col("__t"), lit(1),
        greatest(size(col("__t")) - 1, lit(0)))).as(Seq("__i", "w1")),
        col("__t"))
      .select(col(idCol), col("w1"),
        element_at(col("__t"), col("__i") + 2).as("w2"))
    val uniFreq = df
      .select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    val vocab = uniFreq.agg(count(lit(1)).as("__v"))
    val biFreq = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__c12"))
    bi.join(biFreq, Seq("w1", "w2"))
      .join(uniFreq, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp", log((col("__c12") + 1).cast("double") /
        (col("__c1") + col("__v")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("__lp")), 6).as("cross_entropy"),
        round(exp(-avg(col("__lp"))), 6).as("perplexity"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al., EMNLP 2007 §3) —
    * the web-scale fluency score CCNet-shaped pipelines attach before
    * perplexity filtering: n-gram counts come from a TRAIN slice and
    * held-out docs score against them with the non-normalized backoff
    * chain S(w3|w1w2) = c(w1w2w3)/c(w1w2); else α·c(w2w3)/c(w2); else
    * α²·(c(w3)+1)/(N+V). The unigram floor is add-1-smoothed (the
    * [[bigramPerplexity]] convention) so an unseen word scores finitely
    * where Brants' raw c/N would ln(0). [[bigramPerplexity]] is
    * transductive (scores its own counts, backoff never fires); this is
    * the SPLIT form — backoff fires exactly on truly unseen n-grams.
    *
    * All numerators/denominators are exact longs; the only floats are
    * the per-trigram α-weighted ratio + ln (mirrored by the oracle) and
    * the final mean, rounded 6. Docs with < 3 tokens have no trigrams
    * and are absent. Per-doc backoff-level counts ride along as exact
    * integers — the observable that says WHY a doc scored low (novel
    * phrasing backs off to bigrams; novel vocabulary to the floor).
    *
    * Scale shape: count tables are three hash-aggs over the train slice
    * (vocab-bounded — the PMI-family contract); scoring joins held-out
    * trigrams to the tables ON THEIR KEYS, so corpus mass flows through
    * keyed equi-joins only; totals are a 1-row broadcast. A trigram hit
    * implies its (w1,w2) bigram exists, a (w2,w3) bigram hit implies the
    * w2 unigram exists — the backoff CASE never divides by NULL.
    */
  def stupidBackoffScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      trainPred: Column,
      alpha: Double = 0.4): DataFrame = {
    // feeds the three count tables AND the scored side
    val base = df.select(col(idCol), tokens(col(textCol)).as("__t"),
        trainPred.as("__train"))
      .localCheckpoint(true)
    val train = base.filter(col("__train"))
    def ngrams(src: DataFrame, n: Int, keep: Seq[Column]): DataFrame = {
      val g = src.select((keep :+ posexplode(slice(col("__t"), lit(1),
          greatest(size(col("__t")) - (n - 1), lit(0))))
        .as(Seq("__i", "w1"))) :+ col("__t"): _*)
      (2 to n).foldLeft(g) { (acc, k) =>
        acc.withColumn(s"w$k", element_at(col("__t"), col("__i") + k))
      }.drop("__t", "__i")
    }
    val uni = train.select(explode(col("__t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
      .localCheckpoint(true) // totals + two scoring joins
    val bi = ngrams(train, 2, Seq.empty)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
      .localCheckpoint(true) // two scoring joins (as c12 and c23)
    val tri = ngrams(train, 3, Seq.empty)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("__c3"))
    val tot = uni.agg(sum(col("__c1")).as("__n"),
      count(lit(1)).as("__v"))
    val a = lit(alpha)
    val lp = when(col("__c3").isNotNull,
        log(col("__c3").cast("double") / col("__c12").cast("double")))
      .when(col("__c23").isNotNull,
        log(a * col("__c23").cast("double") /
          col("__cu2").cast("double")))
      .otherwise(log(a * a *
        (coalesce(col("__cu3"), lit(0L)) + 1L).cast("double") /
        (col("__n") + col("__v")).cast("double")))
    ngrams(base.filter(!col("__train")), 3, Seq(col(idCol)))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("__c2").as("__c12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("__c2").as("__c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w1").as("w2"), col("__c1").as("__cu2")),
        Seq("w2"), "left")
      .join(uni.select(col("w1").as("w3"), col("__c1").as("__cu3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("__c3").isNotNull, 1L).otherwise(0L))
          .as("n_tri_hits"),
        sum(when(col("__c3").isNull && col("__c23").isNotNull, 1L)
          .otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("__c3").isNull && col("__c23").isNull, 1L)
          .otherwise(0L)).as("n_uni_backoffs"),
        round(-avg(lp), 6).as("cross_entropy"))
  }

  /** UniMax budget allocation (Chung et al., ICLR 2023): split a total
    * token budget across domains as UNIFORMLY as possible subject to a
    * per-domain epoch cap — the principled fix for temperature sampling's
    * low-resource over-repetition ([[temperatureMix]]'s neighbor; UniMax
    * never repeats a domain more than `maxEpochs` times, temperature
    * can). Exact integer waterfall: domains sorted by capacity ascending,
    * every domain whose cap fits under the current uniform water level
    * takes its cap; the remaining budget splits evenly over the rest,
    * with the `mod` leftover given one token each to the first uncapped
    * domains in sort order — every allocation an exact long, fully
    * SQL-replayable.
    *
    * Scale shape: ONE corpus hash-agg (domain → token sum); everything
    * after runs on the dictionary-scale domain table through
    * [[graft.core.Bounded.withRank]] + a broadcast cumulative self-join —
    * no corpus-mass sort, no global window.
    *
    * @return (domain, n_tokens, cap_tokens, alloc_tokens, epochs) —
    *         epochs = alloc/n_tokens rounded 6, ≤ maxEpochs always.
    */
  def unimaxAllocate(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      budget: Long,
      maxEpochs: Int): DataFrame = {
    require(budget > 0L, s"bad budget $budget")
    require(maxEpochs >= 1, s"bad epoch cap $maxEpochs")
    // NULL domains group under the \u0002NULL sentinel (the fdCounts
    // marker convention — \u0002 cannot appear in a sane domain label) and
    // compete for budget like any domain: unlabeled slices are real corpus
    // mass a mixing plan must account for, and without the coalesce the
    // null-domain group would trip Bounded.withRank's non-null require and
    // abort the whole allocation (round-9 fix).
    val dom = df
      .groupBy(coalesce(col(domainCol).cast("string"), lit("\u0002NULL"))
        .as("domain"))
      .agg(sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val ranked = graft.core.Bounded.withRank(dom,
      Seq(("cap_tokens", false), ("domain", false)), "__rk")
    // S_{i-1} (cap mass strictly below rank i) and D via one broadcast
    // self-join on the bounded domain table
    val marked = ranked.select(col("__rk").as("__rj"),
      col("cap_tokens").as("__cj"))
    val cum = ranked
      .join(broadcast(marked), col("__rj") < col("__rk"), "left")
      .groupBy(col("domain"), col("n_tokens"), col("cap_tokens"),
        col("__rk"))
      .agg(coalesce(sum(col("__cj")), lit(0L)).as("__below"))
    val d = dom.agg(count(lit(1)).as("__d"))
    // rank i is CAPPED iff cap_i·(D−i+1) ≤ B − S_{i−1} (its cap fits the
    // uniform share of what's left); monotone in i, so "capped" is a
    // prefix of the sort — the first uncapped rank m fixes the level
    val flagged = cum.crossJoin(broadcast(d))
      .withColumn("__capped",
        col("cap_tokens") * (col("__d") - col("__rk") + 1) <=
          lit(budget) - col("__below"))
    val level = flagged.filter(!col("__capped"))
      .groupBy()
      .agg(min(col("__rk")).as("__m"), min(col("__below")).as("__sb"))
    // no uncapped domain → level frame is empty → left join keeps nulls
    // and every domain takes its cap (budget exceeds total capacity)
    flagged.join(broadcast(level), col("__rk") >= col("__m"), "left")
      .withColumn("__nunc", col("__d") - col("__m") + 1)
      .withColumn("__r", lit(budget) - col("__sb"))
      .withColumn("alloc_tokens",
        when(col("__capped") || col("__m").isNull, col("cap_tokens"))
          .otherwise(expr("__r div __nunc") +
            when(col("__rk") - col("__m") < col("__r") % col("__nunc"), 1L)
              .otherwise(0L)))
      .select(col("domain"), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 6)
          .as("epochs"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer — the EM-pruning
    * subword learner of Kudo, "Subword Regularization" (ACL 2018), the
    * second of the two standard tokenizer trainers beside [[bpeTrain]].
    * Seed a large candidate-piece vocabulary, alternate (E) count piece
    * usage under the current model's best segmentations with (M)
    * re-estimated piece probabilities, and PRUNE the least-useful pieces
    * each round.
    *
    * Deterministic variant, declared precisely so any engine can replay
    * it bit-for-bit:
    *  - Seed: every single character (always retained — the segmentation
    *    fallback, as in SentencePiece) plus the top `seedSize` multi-char
    *    substrings of length ≤ `maxPieceLen` by corpus occurrence count
    *    (count desc, piece asc).
    *  - Scores are EXACT micro-longs: sc(p) = round(ln((cnt_p + 1) /
    *    (total + V)) · 1e6) — add-one smoothing, every ln a ratio of
    *    positive integers (the bigram-LM convention), so the max-plus DP
    *    below is pure integer arithmetic.
    *  - E-step (hard-EM on optimal paths): per word, forward and backward
    *    max-plus Viterbi over positions; a piece occurrence (i, k) counts
    *    (weighted by word freq) iff fwd(i) + sc + bwd(i+k) = fwd(n), i.e.
    *    iff it lies on AT LEAST ONE optimal segmentation — tie-inclusive
    *    counting is the deterministic closure of Viterbi counting (no
    *    backtrace, no tiebreak rule to replicate).
    *  - M-step + prune: counts become the new model; the
    *    floor(pruneFrac·|multi|) multi-char pieces with the smallest
    *    (count, piece) are dropped; single chars never are.
    *  - `rounds` is the declared semantics (fixed EM depth, the
    *    [[bpeTrain]] / labelPropagation convention).
    *
    * Scale shape: the corpus collapses to its word dictionary ONCE (the
    * only corpus-mass job — the [[bpeTrain]] collapse discipline); every
    * round after runs on |vocab| words × word_len × `maxPieceLen`
    * explode mass, independent of corpus size. The piece model
    * (dictionary-scale) rides ONE broadcast map column into the DP
    * higher-order functions — no driver loop over words, no window over
    * anything corpus-sized; pruning ranks via [[graft.core.Bounded]] on
    * the piece table. Words longer than `maxWordLen` are excluded from
    * ESTIMATION (the SentencePiece length-guard: unbroken URL/base64
    * junk would dominate DP cost while contributing no reusable pieces;
    * they still segment at apply time via the single-char fallback).
    *
    * @return the trained model: (piece, n_count, logp_micro) — expected
    *         count after the final E-step and the micro-long log-prob
    *         re-estimated from it.
    */
  def unigramLmTrain(
      df: DataFrame,
      textCol: String,
      maxPieceLen: Int = 3,
      seedSize: Int = 40,
      rounds: Int = 2,
      pruneFrac: Double = 0.25,
      maxWordLen: Int = 24): DataFrame = {
    require(maxPieceLen >= 2, s"bad piece length $maxPieceLen")
    require(rounds >= 1, s"bad round count $rounds")
    require(pruneFrac >= 0.0 && pruneFrac < 1.0, s"bad prune $pruneFrac")
    val NEG = "-1125899906842624" // -2^50: -inf that cannot overflow a sum

    // the one corpus-mass job: corpus -> word dictionary
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen && length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)

    // seed counts: all substrings up to maxPieceLen, occurrence-weighted
    val subs = words.select(col("freq"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(1, least($maxPieceLen, length(w) - i + 1)), " +
          s"k -> substr(w, i, k))))")).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
    var pieces = subs.filter(length(col("p")) === 1)
      .unionByName(subs.filter(length(col("p")) >= 2)
        .orderBy(col("cnt").desc, col("p")).limit(seedSize))
      .localCheckpoint(true)

    // micro-long add-one score column over a piece table + its totals
    def scoresOf(p: DataFrame): DataFrame = {
      val tot = p.agg(sum(col("cnt")).as("__tot"),
        count(lit(1)).as("__v"))
      p.crossJoin(broadcast(tot))
        .withColumn("sc", round(log((col("cnt") + 1).cast("double") /
          (col("__tot") + col("__v")).cast("double")) * 1e6).cast("long"))
        .select(col("p"), col("cnt"), col("sc"))
    }

    // max-plus candidate: acc(idx) + sc(substr(start, k)), guarded
    def dpStep(idxFromEnd: Boolean): String = {
      val cands = (1 to maxPieceLen).map { k =>
        val start = if (idxFromEnd) s"length(w) - j + 1" else s"j - $k + 1"
        s"CASE WHEN j >= $k THEN coalesce(element_at(acc, j - $k + 1) + " +
          s"element_at(__m, substr(w, $start, $k)), ${NEG}L) " +
          s"ELSE ${NEG}L END"
      }
      s"aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)), " +
        s"(acc, j) -> concat(acc, array(greatest(${cands.mkString(", ")}))))"
    }

    var r = 0
    while (r < rounds) {
      val smap = scoresOf(pieces)
        .agg(map_from_entries(collect_list(struct(col("p"), col("sc"))))
          .as("__m"))
      // fwd(j) at array slot j+1; bwd(j) at slot length(w)-j+1
      val dp = words.crossJoin(broadcast(smap))
        .withColumn("fwd", expr(dpStep(idxFromEnd = false)))
        .withColumn("bwd", expr(dpStep(idxFromEnd = true)))
      val occ = dp.select(col("freq"), explode(expr(
          s"""filter(flatten(transform(sequence(0, length(w) - 1), i ->
             |  transform(sequence(1, least($maxPieceLen, length(w) - i)),
             |    k -> CASE WHEN
             |      element_at(__m, substr(w, i + 1, k)) IS NOT NULL AND
             |      element_at(fwd, i + 1) +
             |        element_at(__m, substr(w, i + 1, k)) +
             |        element_at(bwd, length(w) - (i + k) + 1) =
             |        element_at(fwd, length(w) + 1)
             |    THEN substr(w, i + 1, k) END))),
             |  x -> x IS NOT NULL)""".stripMargin)).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      val counted = pieces.select(col("p")).join(occ, Seq("p"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val multi = counted.filter(length(col("p")) >= 2)
      val nM = multi.agg(count(lit(1)).as("__nm"))
      val kept = graft.core.Bounded
        .withRank(multi, Seq(("cnt", false), ("p", false)), "__rk")
        .crossJoin(broadcast(nM))
        .filter(col("__rk") >
          floor(lit(pruneFrac) * col("__nm")).cast("long"))
        .select(col("p"), col("cnt"))
      pieces = counted.filter(length(col("p")) === 1)
        .unionByName(kept)
        .localCheckpoint(true)
      r += 1
    }
    scoresOf(pieces).select(col("p").as("piece"),
      col("cnt").as("n_count"), col("sc").as("logp_micro"))
  }

  /** Unigram-LM Viterbi ENCODE — the serving half the trainer above was
    * missing (SentencePiece's EncodeAsPieces): apply a trained piece
    * vocabulary to held-out documents by max-plus Viterbi segmentation and
    * report per-group token mass, closing the train→encode asymmetry with
    * [[bpeEncode]] (bpe had both halves; unigram only train).
    *
    * Segmentation objective: maximize total piece log-probability; ties
    * broken toward FEWER pieces. Both objectives ride ONE long per DP
    * cell — step(piece) = logp_micro·1024 − 1, so greatest() compares
    * (score, −count) lexicographically: scores differ by ≥ 1 micro-unit ⇒
    * 1024·Δscore dominates the ≤ maxWordLen(24) < 1024 count term. The
    * optimal piece count unpacks as (−best) mod 1024 (best < 0 always:
    * every step is a negative log). Characters absent from the vocabulary
    * (held-out docs see unseen chars; the trainer keeps only TRAIN chars)
    * score at the add-one unseen mass ln(1/(tot+v)) — the <unk> piece —
    * so every word segments and nothing is silently dropped.
    *
    * Scale shape: the trainer's discipline — held-out corpus collapses to
    * the (group, word) dictionary in ONE hash-agg; the Viterbi DP runs
    * once per DISTINCT word against a broadcast piece map; one join back
    * to the dictionary and one per-group fold. No corpus-mass DP, no
    * window, no driver-side state.
    */
  def unigramEncode(
      train: DataFrame,
      encode: DataFrame,
      groupCol: String,
      textCol: String,
      maxPieceLen: Int = 3,
      seedSize: Int = 40,
      rounds: Int = 2,
      pruneFrac: Double = 0.25,
      maxWordLen: Int = 24): DataFrame = {
    val NEG = "-1125899906842624"
    // trained vocab — referenced twice (score map + unk mass): eager cut
    val pieces = unigramLmTrain(train, textCol, maxPieceLen, seedSize,
      rounds, pruneFrac, maxWordLen).localCheckpoint(true)
    val tv = pieces.agg(sum(col("n_count")).as("__tot"),
      count(lit(1)).as("__v"))
    val smap = pieces
      .agg(map_from_entries(collect_list(struct(col("piece"),
        (col("logp_micro") * 1024 - 1).as("step")))).as("__m"))
    val consts = smap.crossJoin(tv)
      .withColumn("__unk",
        round(log(lit(1.0) / (col("__tot") + col("__v")).cast("double"))
          * 1e6).cast("long") * 1024 - 1)
    val hw = encode
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen && length(col("w")) >= 1)
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cands = (1 to maxPieceLen).map { k =>
      val sub = s"substr(w, j - $k + 1, $k)"
      if (k == 1)
        s"element_at(acc, j) + coalesce(element_at(__m, $sub), __unk)"
      else
        s"CASE WHEN j >= $k THEN coalesce(element_at(acc, j - $k + 1) + " +
          s"element_at(__m, $sub), ${NEG}L) ELSE ${NEG}L END"
    }
    val dp = hw.select(col("w")).distinct()
      .crossJoin(broadcast(consts))
      .withColumn("best", expr(
        s"element_at(aggregate(sequence(1, length(w)), " +
          s"array(CAST(0 AS BIGINT)), (acc, j) -> concat(acc, " +
          s"array(greatest(${cands.mkString(", ")})))), length(w) + 1)"))
      .select(col("w"), expr("(-best) % 1024").as("toks"))
    hw.join(dp, Seq("w"))
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("toks")).as("n_tokens"),
        sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"))
      .select(col("g").as(groupCol), col("n_words"), col("n_tokens"),
        col("n_chars"))
  }

  /** Concat-and-chunk sequence packing — the GPT pretraining convention
    * (Brown et al. 2020 §2.3; every major pretraining pipeline since):
    * documents are laid end-to-end in a DECLARED total order (ascending
    * `idCol`) and the token stream is cut into fixed `contextLen`
    * windows, so no context is padded and a document crossing a window
    * boundary is SPLIT across consecutive chunks. Completes the packing
    * family: [[packIntoShards]] assigns whole docs to variable-mass
    * shards by start position (no splits, no offsets) and
    * [[bfdPackManifest]] packs whole docs with padding; neither can
    * RECONSTRUCT a fixed-length training context — this manifest can.
    * The output is one row per (chunk, document piece):
    *   chunk_id      window index (token position div contextLen),
    *   doc_offset    first token of the piece within ITS document,
    *   chunk_offset  first token of the piece within its chunk,
    *   piece_len     tokens contributed.
    * Chunk `chunk_id`'s rows ordered by `chunk_offset` reconstruct it
    * exactly; a trainer shards by `chunk_id` and never sees padding
    * except the final partial window. Zero-token documents contribute
    * nothing and are excluded (they have no position on the stream).
    *
    * Scale shape: the stream positions come from ONE
    * [[graft.sample.Samplers.globalCumSum]] range-scaffold pass (no
    * single-partition window), then a narrow per-doc `sequence()`
    * explode — a document spanning k windows emits exactly k rows, so
    * output mass = corpus token mass / contextLen + one row per doc:
    * corpus-linear by construction, at 100 TB as at 60 k rows. Pure
    * integer algebra throughout (div/greatest/least on longs) — nothing
    * to round, nothing order-sensitive.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      contextLen: Long,
      numPartitions: Int = 32): DataFrame = {
    require(contextLen >= 1L, s"bad contextLen $contextLen")
    val base = df
      .select(col(idCol), col(nTokensCol).cast("long").as("__n"))
      .filter(col("__n") > 0L)
    val cum = graft.sample.Samplers
      .globalCumSum(base, Seq(idCol), "__n", numPartitions, "__cum")
    cum
      .withColumn("__start", col("__cum") - col("__n"))
      .withColumn("chunk_id",
        explode(sequence(expr("__start div " + contextLen),
          expr("(__cum - 1) div " + contextLen))))
      .withColumn("__ps",
        greatest(col("__start"), col("chunk_id") * lit(contextLen)))
      .withColumn("__pe", least(col("__cum"),
        (col("chunk_id") + 1L) * lit(contextLen)))
      .select(col("chunk_id"), col(idCol),
        (col("__ps") - col("__start")).as("doc_offset"),
        (col("__ps") - col("chunk_id") * lit(contextLen))
          .as("chunk_offset"),
        (col("__pe") - col("__ps")).as("piece_len"))
  }
}

/** Word k-shingling shared by fingerprinting / MinHash / Jaccard. */
object Shingles {
  import TextAnalysis.tokens

  /** Array of word k-shingles ("w1 w2 w3"). Short docs (< k tokens) yield a
    * single shingle of the whole token list, so no document is dropped.
    *
    * Perf note: higher-order-function lambdas evaluate interpreted, and a
    * lambda body that references a full expression subtree re-evaluates that
    * subtree on EVERY element access. Binding the token array as a lambda
    * variable (the singleton-array `transform` below) forces one evaluation
    * per row; `element_at` then reads a materialized array. This is a ~100×
    * difference at sf0.1 (24 s → sub-second for the shingle explode).
    */
  def wordShingles(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), t => {
        val n = size(t)
        array_distinct(
          transform(sequence(lit(1), greatest(n - (k - 1), lit(1))),
            i => concat_ws(" ",
              (0 until k).map(j =>
                when(i + j <= n, element_at(t, (i + j).cast("int")))): _*)))
      }),
      1)

  /** [[wordShingles]] WITHOUT the distinct: the full positional k-gram
    * sequence (element i = the shingle starting at token i), for operators
    * that need document ORDER — winnowing windows, positional diffing.
    * Short docs (< k tokens) yield the single whole-list shingle.
    */
  def positionalShingles(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), t => {
        val n = size(t)
        transform(sequence(lit(1), greatest(n - (k - 1), lit(1))),
          i => concat_ws(" ",
            (0 until k).map(j =>
              when(i + j <= n, element_at(t, (i + j).cast("int")))): _*))
      }),
      1)

}
