package graft.tasks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TaskKind, WranglerConfig}
import graft.transform._

/** The four wrangling pipelines wired end-to-end (SURVEY §3.1), mirroring
  * `run_wrangler.py` control flow: read → sample demos (collect k rows to
  * the driver — tiny by design) → synthesize a program → apply it to the
  * test split as a COLUMN EXPRESSION (F2, with error-capture sentinel) →
  * one-pass confusion metrics (G4).
  *
  * The reference applies a Python function row-by-row in a driver loop; here
  * the learned program executes inside whole-stage codegen on executors —
  * the per-row cost the paper's O(1)-LLM-calls thesis amortizes goes to
  * zero-interpreter native execution, and the apply stage is shuffle-free.
  */
object Wrangler {

  /** F2 — per-row apply with error capture: the reference wraps each call in
    * try/except → "Not excutable" (`function_generator.py:143-147`). Column
    * expressions don't throw under non-ANSI evaluation — failures surface as
    * NULL — so the sentinel substitutes for null predictions.
    */
  def applyProgram(df: DataFrame, prog: TransformProgram,
      inCol: String = "text"): DataFrame =
    df.withColumn("pred",
      coalesce(prog.toColumn(col(inCol)), lit("Not excutable")))

  /** Data-transformation task end-to-end on a canonical (text, label_str)
    * dataset with an explicit order column for the A6 split.
    */
  def runTransformation(
      data: DataFrame,
      orderCol: String,
      instruction: Option[String],
      cfg: WranglerConfig = WranglerConfig.default): (TransformProgram, DataFrame) = {
    val (trainDf, testDf) = graft.sample.Samplers.positionalSplit(data, orderCol, cfg.k)
    val train = trainDf.select("text", "label_str").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val trials = Validation.trialLoop(RuleSynthesizer, instruction, train,
      Seq.empty, cfg)
    val prog = WranglerMain.selectPrograms(
      TaskKind.DataTransformation, trials, 1).head
    (prog, applyProgram(testDf, prog))
  }

  // ---------------------------------------------------------------------
  // Entity matching (J3): pair-level similarity predicates — the programs
  // the reference's prompts mandate (Jaccard/Levenshtein with threshold,
  // promptsTemplate.py:30-48) as column expressions over the A/B halves.
  // ---------------------------------------------------------------------

  /** Distinct lowercase tokens of a string column. Materialize this BEFORE a
    * pair join (one tokenization per row, not per pair).
    */
  def emTokens(a: Column): Column =
    array_distinct(filter(split(lower(a), "\\s+|;\\s*"), t => length(t) > 0))

  /** Jaccard over two precomputed distinct-token arrays. */
  def tokenJaccardArrays(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb))
    val uni = size(array_union(ta, tb))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  /** Token-set Jaccard between two string columns. */
  def tokenJaccard(a: Column, b: Column): Column =
    tokenJaccardArrays(emTokens(a), emTokens(b))

  /** Normalized Levenshtein similarity (1 - dist/maxlen). */
  def levenshteinSim(a: Column, b: Column): Column = {
    val d = levenshtein(lower(a), lower(b)).cast("double")
    val m = greatest(length(a), length(b)).cast("double")
    when(m === 0, 1.0).otherwise(lit(1.0) - d / m)
  }

  /** EM predicate: similarity >= theta → "Yes"/"No". */
  def emPredict(pairs: DataFrame, aCol: String, bCol: String,
      theta: Double, useJaccard: Boolean = true): DataFrame = {
    val sim = if (useJaccard) tokenJaccard(col(aCol), col(bCol))
      else levenshteinSim(col(aCol), col(bCol))
    pairs.withColumn("sim", sim)
      .withColumn("pred", when(col("sim") >= theta, "Yes").otherwise("No"))
  }

  /** Fit theta on collected demos by grid search (driver-side, mirrors the
    * LLM picking a threshold from examples). Deterministic: smallest theta
    * of the best-accuracy grid point.
    */
  def fitEmThreshold(demos: Seq[(Double, String)],
      grid: Seq[Double] = (1 to 19).map(_ * 0.05)): Double =
    grid.map { th =>
      val acc = demos.count { case (sim, gold) =>
        (if (sim >= th) "yes" else "no") == gold.trim.toLowerCase
      }.toDouble / math.max(demos.size, 1)
      (th, acc)
    }.maxBy { case (th, acc) => (acc, -th) }._1

  // ---------------------------------------------------------------------
  // Error detection: spell-distance vs a broadcast vocabulary (the prompt
  // envelope's SpellChecker analog): a value is an error iff it is not in
  // (resp. not within edit distance 1 of) the clean-training vocabulary.
  // ---------------------------------------------------------------------

  /** Vocabulary membership check via broadcast left-semi join; emits
    * pred = "yes" (is error) when the value is NOT in vocab.
    */
  def errorDetectByVocab(test: DataFrame, vocab: DataFrame,
      valueCol: String = "text"): DataFrame = {
    val v = vocab.select(col(valueCol).as("__vocab_val")).distinct()
    test.join(broadcast(v), col(valueCol) === col("__vocab_val"), "left")
      .withColumn("pred", when(col("__vocab_val").isNull, "yes").otherwise("no"))
      .drop("__vocab_val")
  }

  /** Edit-distance-1 variant: error iff no vocab word within Levenshtein
    * distance ≤ maxDist. Broadcast the (small) vocab and take the min
    * distance per ROW — keyed on a synthetic row id, so duplicate test
    * rows survive (grouping by value columns would collapse them and
    * shrink the prediction set vs the test split, corrupting the metrics).
    * An empty vocabulary marks every row an error instead of emptying the
    * output through the crossJoin. The 100 TB path blocks on first-char or
    * length-bucket before the distance (see [[errorDetectSymSpell]]).
    */
  def errorDetectBySpellDistance(test: DataFrame, vocab: DataFrame,
      valueCol: String = "text", maxDist: Int = 1): DataFrame = {
    val v = vocab.select(col(valueCol).as("__vw")).distinct()
    if (v.isEmpty) return test.withColumn("pred", lit("yes"))
    val withId = test.withColumn("__row", monotonically_increasing_id())
    val mind = withId.select(col("__row"), col(valueCol))
      .crossJoin(broadcast(v))
      .withColumn("__d", levenshtein(lower(col(valueCol)), lower(col("__vw"))))
      .groupBy(col("__row")).agg(min(col("__d")).as("__mind"))
    withId.join(mind, Seq("__row"))
      .withColumn("pred", when(col("__mind") > maxDist, "yes").otherwise("no"))
      .drop("__row", "__mind")
  }

  /** Deletion variants of a string column: the word itself plus every
    * single-character deletion (SymSpell neighborhood for edit distance 1).
    */
  def deletionVariants(w: Column): Column = {
    val dels = transform(sequence(lit(1), greatest(length(w), lit(1))),
      i => concat(
        w.substr(lit(1), (i - 1).cast("int")),
        w.substr((i + 1).cast("int"), length(w))))
    array_distinct(concat(array(w), dels))
  }

  /** SymSpell-style error detection at scale: instead of a crossJoin against
    * the vocabulary, both sides explode their deletion neighborhoods and
    * equi-join on the variant — candidate pairs then verify with a real
    * Levenshtein ≤ maxDist. Join fan-out is O(word_length) per row and the
    * join is a plain shuffle/broadcast hash join — the 100 TB shape
    * (`errorDetectBySpellDistance`'s crossJoin is the small-vocab fallback).
    * Supports maxDist=1 (deletion depth 1 on both sides reaches all
    * distance-1 edits: substitution/insertion/deletion/transposition-adjacent
    * candidates all share a variant).
    */
  def errorDetectSymSpell(test: DataFrame, vocab: DataFrame,
      valueCol: String = "text", keyCol: String = "text"): DataFrame = {
    val v = vocab.select(lower(col(valueCol)).as("__vw")).distinct()
    val vVar = v.select(col("__vw"),
      explode(deletionVariants(col("__vw"))).as("__var"))
    val tVar = test
      .withColumn("__tw", lower(col(valueCol)))
      .select(col(keyCol).as("__key"), col("__tw"),
        explode(deletionVariants(col("__tw"))).as("__var"))
    val candidates = tVar.join(vVar, Seq("__var"))
      .filter(levenshtein(col("__tw"), col("__vw")) <= 1)
      .select(col("__key")).distinct()
      .withColumn("__ok", lit(1))
    // no broadcast hint: `candidates` scales with DISTINCT test keys, which
    // is unbounded at corpus scale — let AQE broadcast it only when it
    // measures small; otherwise this is a plain shuffle join on the key
    test.join(candidates,
        test(keyCol) === candidates("__key"), "left")
      .withColumn("pred", when(col("__ok").isNull, "yes").otherwise("no"))
      .drop("__key", "__ok")
  }

  // ---------------------------------------------------------------------
  // Imputation: learned dictionary from a predictor column → target, via
  // broadcast join (the scalable form of DictLookup for big dictionaries).
  // ---------------------------------------------------------------------

  /** Learn mode(target) per predictor value on train, apply to test via
    * broadcast join; falls back to the global mode. Deterministic tiebreak:
    * (count desc, value asc).
    */
  def imputeByDict(train: DataFrame, test: DataFrame,
      predictorCol: String, targetCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = train.groupBy(col(predictorCol), col(targetCol)).count()
    val w = Window.partitionBy(col(predictorCol))
      .orderBy(col("count").desc, col(targetCol))
    val dict = counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(predictorCol).as("__pk"), col(targetCol).as("__pv"))
    val globalMode = train.groupBy(col(targetCol)).count()
      .orderBy(col("count").desc, col(targetCol))
      .select(targetCol).limit(1)
    val g = globalMode.collect().headOption.map(_.getString(0)).orNull
    test.join(broadcast(dict), col(predictorCol) === col("__pk"), "left")
      .withColumn("pred", coalesce(col("__pv"), lit(g)))
      .drop("__pk", "__pv")
  }
}
