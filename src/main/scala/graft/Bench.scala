package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

object Bench {
  /** Failed query -> (exception class, first message line) of its first
    * failure.
    */
  type Errors = mutable.Map[String, (String, String)]

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    val errors: Errors = mutable.TreeMap()
    val warmupSec = warmUp(spark, sfDir, errors)

    // Deterministic name order (Map iteration order is arbitrary).
    // INTERLEAVED median-of-N passes: the full sorted list runs N times
    // end-to-end (A,B,C,…,A,B,C,… — never A,A,A,B,B,B), so a host-
    // interference band hitting one wall-clock window inflates at most one
    // sample of each affected query and the per-query MEDIAN discards it.
    // Rounds 1-3 all showed contiguous alphabetical bands at 3-34× in
    // driver captures (e.g. a plain rollup at 42.9 s vs 1.25 s local) that
    // cost a round of analysis each time; medians kill the phantom.
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    // local iteration aid (never set by the driver): bench only the named
    // queries — the tool for adjudicating a single query's movement
    // against a control commit on identical host state
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n))).sorted
    val samples = names.map(n => n ->
      mutable.ArrayBuffer[Double]()).toMap
    for (_ <- 1 to passes; n <- names)
      samples(n) += run(spark, sfDir, n, errors)
    def median(v: Seq[Double]): Double = { val s = v.sorted; s(s.size / 2) }
    val results = names.map(n => n -> median(samples(n).toSeq))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qmins = names.map(n => s"\"" + n + "\":" + samples(n).min)
      .mkString("{", ",", "}")
    val errs = errors.keys.map(n => s"\"$n\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // min-pass total beside the median total: a mid-suite host stall
    // inflates 2-of-3 medians of whichever queries it straddles but
    // almost never all three passes, so value_min is the stall-immune
    // code-vs-code headline (the r12 driver capture burned adjudication
    // on exactly this — 17.26 s median / 2.74 s min on untouched code)
    val totalMin = names.map(n => samples(n).min).sum
    val full = s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","passes":$passes,"warmup_sec":$warmupSec,"errors":$errs,"errors_detail":${errorsDetail(errors)},"queries":$qs,"queries_min":$qmins,"sf":"$sfDir"}"""
    // The full per-query map (~6 KB for 166 queries) goes to a known file:
    // a consumer that captures only the TAIL of stdout truncates the long
    // line mid-JSON (both prior rounds' bench records show `parsed: null`
    // with a cut-off tail). stdout still gets the full line for humans,
    // then — LAST, so it is what a tail capture sees intact — a compact
    // summary line with the slowest queries inline and a pointer to the
    // full file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    println(full)
    val slowest = results.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"warmup_sec":$warmupSec,"n_queries":${results.size},"errors":$errs,"slowest":$slowest,"queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Times registry query `name` over the corpus in `sfDir` and returns its
    * wall seconds. A failure is recorded in `errors`, not just swallowed: a
    * broken query returns in milliseconds and would otherwise read as a
    * speedup.
    */
  def run(spark: SparkSession, sfDir: String, name: String,
      errors: Errors): Double = {
    val t0 = System.nanoTime()
    // noop sink: forces full evaluation of every output column (a bare
    // count() would let Catalyst prune projection-only work away).
    try SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) =>
      val firstLine = Option(e.getMessage)
        .flatMap(_.linesIterator.nextOption()).getOrElse("")
      errors.getOrElseUpdate(name, (e.getClass.getName, firstLine))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // Free this query's localCheckpoint blocks before the next query:
    // 166 queries share one block manager, and accumulated
    // MEMORY_AND_DISK checkpoint RDDs from earlier queries degrade
    // later ones through eviction/GC pressure — the r01/r02 bench
    // captures showed exactly the alphabetical-tail slowdown that
    // predicts. Unpersist is async (non-blocking) and the finished
    // query's frames are unreachable, so nothing re-reads the blocks.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sec
  }

  // Warm-up: absorb JVM/classloader/codegen/parquet-footer start-up cost
  // so per-query timings reflect steady state rather than whichever query
  // happens to run first (~20 s of one-time cost otherwise lands on it).
  // Mixed shapes: scan+agg, window, broadcast join+concat, regex transform.
  private val warmup = Seq("q1_full_pricing", "window_analytics_orders",
    "em_blocked_pairs", "transform_affine_lineitem")

  /** Runs the warm-up list once over `sfDir`; returns its seconds. */
  def warmUp(spark: SparkSession, sfDir: String, errors: Errors): Double = {
    // fail loudly if a warm-up query is renamed/removed — run() swallows
    // per-query errors, which would silently skip warm-up and land the
    // one-time JVM/codegen cost on the first measured query
    warmup.foreach(n => require(SparkEntry.queries.contains(n),
      s"warm-up query '$n' missing from SparkEntry.queries"))
    val t0 = System.nanoTime()
    warmup.foreach(run(spark, sfDir, _, errors))
    (System.nanoTime() - t0) / 1e9
  }

  /** The `errors_detail` JSON object: name -> {"class", "message"}. */
  def errorsDetail(errors: Iterable[(String, (String, String))]): String =
    errors.map { case (n, (cls, msg)) =>
      s"${Verify.jsonString(n)}:{\"class\":${Verify.jsonString(cls)}," +
        s"\"message\":${Verify.jsonString(msg)}}"
    }.mkString("{", ",", "}")
}
