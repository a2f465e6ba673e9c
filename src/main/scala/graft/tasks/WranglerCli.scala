package graft.tasks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TaskKind, TaskRegistry, WranglerConfig}
import graft.io.Readers
import graft.sample.Samplers

/** Command-line entry point for the four-task wrangling pipeline — the
  * engine's analog of the reference's `run_wrangler.py` argparse surface
  * (`run_wrangler.py:61-112`) over `WranglerMain.runAllSplits`.
  *
  * Flags (reference defaults preserved):
  *   --data_dir DIR          required; basename routes the task via
  *                           TaskRegistry (the `contants.py:11-30` analog)
  *   --output_dir DIR        default "outputs" (metrics.json + learned_funcs.json)
  *   --k N                   demos per prompt (default 3)
  *   --d N                   supervision hold-out size (default 100)
  *   --num_iter N            sampling iterations (default 1)
  *   --num_run N             cap test rows evaluated; -1 = all (default)
  *   --num_trials N          trial-loop count (default 1)
  *   --seed N                default 1234
  *   --sep_tok S             attr:val separator (default "^")
  *   --nan_tok S             null replacement (default "nan")
  *   --class_balanced        downsample train to the min class count (A3)
  *   --max_train_samples F   head-fraction cap on train, a FRACTION ≤ 1.0
  *                           (the reference's misnamed `limit_train_samples`
  *                           quirk, `data_utils.py:358-367`); -1 = off
  *
  * Per-task dataset layouts (`read_raw_data_simple`, `data_utils.py:249-311`):
  *  - entity_matching:  tableA.csv tableB.csv train.csv [test.csv]
  *  - data_imputation:  valid.csv test.csv — the reference reads its TRAIN
  *    split from valid.csv (`data_utils.py:280`); quirk kept
  *  - error_detection:  train_splits_single/ + test_splits_single/ dirs of
  *    per-column CSVs, aligned 3-way by sorted instruction (T2)
  *  - data_transformation: directory of tab-pair files, first k lines of
  *    each file → train (A6 threshold split)
  */
object WranglerCli {

  final case class Args(
      dataDir: String = "",
      outputDir: String = "outputs",
      k: Int = 3,
      d: Int = 100,
      numIter: Int = 1,
      numRun: Int = -1,
      numTrials: Int = 1,
      seed: Long = 1234L,
      sepTok: String = "^",
      nanTok: String = "nan",
      classBalanced: Boolean = false,
      maxTrainSamples: Double = -1.0)

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--data_dir" :: v :: t          => loop(a.copy(dataDir = v), t)
      case "--output_dir" :: v :: t        => loop(a.copy(outputDir = v), t)
      case "--k" :: v :: t                 => loop(a.copy(k = v.toInt), t)
      case "--d" :: v :: t                 => loop(a.copy(d = v.toInt), t)
      case "--num_iter" :: v :: t          => loop(a.copy(numIter = v.toInt), t)
      case "--num_run" :: v :: t           => loop(a.copy(numRun = v.toInt), t)
      case "--num_trials" :: v :: t        => loop(a.copy(numTrials = v.toInt), t)
      case "--seed" :: v :: t              => loop(a.copy(seed = v.toLong), t)
      case "--sep_tok" :: v :: t           => loop(a.copy(sepTok = v), t)
      case "--nan_tok" :: v :: t           => loop(a.copy(nanTok = v), t)
      case "--class_balanced" :: t         => loop(a.copy(classBalanced = true), t)
      case "--max_train_samples" :: v :: t =>
        loop(a.copy(maxTrainSamples = v.toDouble), t)
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown flag: $other")
    }
    val a = loop(Args(), argv.toList)
    require(a.dataDir.nonEmpty, "--data_dir is required")
    a
  }

  /** Build the pre-split task list for one dataset directory. */
  def readTasks(spark: SparkSession, a: Args): Seq[WranglerMain.SplitInput] = {
    val name = new java.io.File(a.dataDir).getName
    val kind = TaskRegistry.taskFor(name)
    def csvIn(f: String): DataFrame = Readers.csv(spark, s"${a.dataDir}/$f")
    kind match {
      case TaskKind.EntityMatching =>
        val tableA = csvIn("tableA.csv")
        val tableB = csvIn("tableB.csv")
        def pairs(f: String) =
          Readers.blockedPairs(csvIn(f), tableA, tableB, "; ", "N/A")
        Seq(WranglerMain.SplitInput(name, kind,
          pairs("train.csv"), pairs("test.csv"),
          Readers.instruction(s"${a.dataDir}/instruction.txt")))
      case TaskKind.DataImputation =>
        val target = TaskRegistry.imputeCol(name)
        def imp(f: String) =
          Readers.imputation(csvIn(f), target, a.sepTok, a.nanTok)
        // reference quirk kept: the train split reads valid.csv
        // (`data_utils.py:280` passes valid_file for "train")
        Seq(WranglerMain.SplitInput(name, kind,
          imp("valid.csv"), imp("test.csv"),
          Readers.instruction(s"${a.dataDir}/instruction.txt")))
      case TaskKind.ErrorDetection =>
        val train = Readers.errorDetectionDir(
          spark, s"${a.dataDir}/train_splits_single")
        val test = Readers.errorDetectionDir(
          spark, s"${a.dataDir}/test_splits_single")
        // T2 3-way co-sort by instruction so per-column splits stay matched
        val (trAligned, teAligned, instrs) = Samplers.coSort3(
          train.map(_._2), test.map(_._2), train.map(_._3))
        trAligned.zip(teAligned).zip(instrs).zipWithIndex.map {
          case (((tr, te), instr), i) =>
            WranglerMain.SplitInput(s"${name}_$i", kind, tr, te, Some(instr))
        }
      case TaskKind.DataTransformation =>
        val dir = new java.io.File(a.dataDir)
        val files = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).map(_.getName).sorted.toSeq
        files.map { f =>
          val (df, instr) =
            Readers.transformationPairs(spark, s"${a.dataDir}/$f")
          val (tr, te) = Readers.splitTrainTest(df, a.k)
          WranglerMain.SplitInput(s"${name}_$f", kind, tr, te, instr)
        }
    }
  }

  /** Apply the train/test caps the reference applies after reading:
    * class balancing (A3), head-fraction train cap (A5), num_run test cap.
    */
  def applyCaps(in: WranglerMain.SplitInput, a: Args)
      : WranglerMain.SplitInput = {
    val balanced =
      if (a.classBalanced)
        Samplers.classBalanced(in.train, "label_str", a.seed)
      else in.train
    val capped =
      if (a.maxTrainSamples >= 0)
        Samplers.headFraction(balanced, a.maxTrainSamples)
      else balanced
    // --num_run caps the evaluated test rows. An unordered limit(n) is
    // partitioning/plan-dependent — WHICH rows get evaluated (and thus the
    // reported metrics) would vary across cluster layouts. The canonical
    // split frame carries no file-line index, so order on the content key:
    // not the reference's byte order, but reproducible on any layout.
    // orderBy+limit executes as TakeOrderedAndProject — no global sort.
    val test =
      if (a.numRun >= 0)
        in.test.orderBy(col("text"), col("label_str")).limit(a.numRun)
      else in.test
    in.copy(train = capped, test = test)
  }

  def run(spark: SparkSession, a: Args)
      : (Seq[WranglerMain.TaskResult], Map[String, Double]) = {
    val cfg = WranglerConfig(
      sepTok = a.sepTok, nanTok = a.nanTok, k = a.k, d = a.d,
      seed = a.seed, numTrials = a.numTrials, numIter = a.numIter)
    // synthesizer selection is env-driven (GRAFT_SYNTHESIZER=rule|transport);
    // the transport path picks the per-task prompt template by kind
    WranglerMain.runAllSplits(
      spark, readTasks(spark, a).map(applyCaps(_, a)), a.outputDir, cfg,
      graft.transform.Synthesizers.forTask())
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // runs inside an existing session unchanged (tests); standalone runs
    // get a local session sized by the environment
    val spark = graft.Session.local(graft.Session.cpus)
    val (results, metrics) = run(spark, a)
    println(s"[wrangler] ${results.size} tasks -> ${a.outputDir}/metrics.json")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[wrangler] $k%-28s $v%.4f")
    }
  }
}
