package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.io.Tables
import graft.transform.{RuleSynthesizer, Validation}
import graft.core.WranglerConfig

/** The benchmark's JVM side: one SparkSession, a closed loop with one
  * client over a workload's queries, and a recorder of what Spark did.
  *
  * It reaches the engine only through public calls: the builders in
  * `SparkEntry.queries`, `queryExecution.executedPlan` for planning, the
  * `noop` sink for execution, listeners it registers itself, and direct
  * calls to `Tables.load` and `Validation.trialLoop`. It measures and
  * records; `run.py` turns the record into metrics.
  *
  * Usage: Harness <plan file> <data dir> <out dir>
  *
  * The plan file holds `key=value` lines: `traced` (one 0 or 1 per pass),
  * `cores`, `warmup` (comma-separated query names), `members` (the
  * workload's queries in check order), `tables` (for the load probe),
  * `stream_probe` (empty, or a streaming query drained once with the
  * recorder attached when any pass is traced), `setup_only` (1: stop after
  * the set-up) and one `pass=` line per pass order. Every pass runs; the
  * recorder is attached during the traced ones.
  *
  * The output check runs every member once, after set-up and before the
  * timed passes (so it also warms them), writing one parquet directory per
  * member under `<out dir>/check`. The record goes to `<out dir>/raw.json`.
  */
object Harness {

  private val mapper = new ObjectMapper()

  /** `trialLoop` calls per round of the synthesis probe. */
  val SynthReps = 200

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the listener events' `time` fields. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used so far, on all its threads: the driver,
    * the local executor's task threads, GC and the JIT. Unlike wall time it
    * does not grow when the host lends the cores to someone else. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list[A](xs: Iterable[A]): JList[A] = new JList[A](xs.asJavaCollection)

  /** The sink Bench times: forces every output column, writes nothing. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Frees what a finished query left persisted (localCheckpoints, caches),
    * as Bench does between queries. */
  def freePersisted(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  def main(args: Array[String]): Unit = {
    val Array(planFile, dataDir, outDir) = args
    val lines = Files.readAllLines(Paths.get(planFile)).asScala.toSeq
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }
    def one(k: String): String = lines.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"plan file lacks '$k'"))
    def names(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val tracedPass = one("traced").split(",").map(_.trim == "1").toSeq
    val traced = tracedPass.contains(true)
    val cores = one("cores")
    val warmup = names(one("warmup"))
    val members = names(one("members"))
    val tables = names(one("tables"))
    val streamProbe = names(one("stream_probe")).headOption
    val setupOnly = lines.exists(_ == ("setup_only" -> "1"))
    val passOrders = lines.collect { case ("pass", v) => names(v) }

    // Fail fast when a name is missing from the registry, as Bench does for
    // its warm-up list: a rename must not silently shrink a workload.
    val registry = SparkEntry.queries
    (warmup ++ members ++ passOrders.flatten ++ streamProbe).distinct.foreach(n =>
      require(registry.contains(n), s"query '$n' missing from SparkEntry.queries"))
    passOrders.foreach(p => require(p.sorted == members.sorted,
      "every pass must run each member exactly once"))
    require(tracedPass.size == passOrders.size, "one traced flag per pass")

    val out = Files.createDirectories(Paths.get(outDir))
    val record = obj()

    // ---- set-up: session creation plus warm-up, timed from JVM start -------
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // The JVM is fresh, so this is the set-up a user pays: JVM start, class
    // loading and first code generation included. `setup_s` is the median
    // of this and of the set-ups of `setup_only` JVMs.
    val spark = newSession()
    warmup.foreach { n => sink(registry(n)(spark, dataDir)); freePersisted(spark) }
    record.put("setup_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    record.put("setup_cpu_s", cpuS())
    if (setupOnly) {
      // Nothing else runs in this JVM; ending it without stopping Spark
      // saves the run a second or so. `run.py` removes its directories.
      mapper.writeValue(out.resolve("raw.json").toFile, record)
      Runtime.getRuntime.halt(0)
    }

    // ---- output check, outside the timed passes ----------------------------
    val checkDir = out.resolve("check")
    val checks = new JList[Any]()
    for (n <- members) {
      val err = try {
        registry(n)(spark, dataDir).write.mode("overwrite")
          .parquet(checkDir.resolve(n).toString)
        null
      } catch { case e: Exception => describe(e) }
      freePersisted(spark)
      checks.add(obj("name" -> n, "error" -> err))
    }
    record.put("check", checks)
    val oracle = SparkEntry.oracleSql
    record.put("oracle_sql", obj(members.flatMap(n => oracle.get(n).map(n -> _)): _*))

    // ---- timed passes ------------------------------------------------------
    val recorder = new Recorder
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val passes = new JList[Any]()
    for (p <- passOrders.indices) {
      val tracePass = tracedPass(p)
      if (tracePass) recorder.attach(spark)
      val gc0 = gcMs()
      val c0 = cpuS()
      val pt0 = nowMs()
      val qs = new JList[Any]()
      for (n <- passOrders(p)) qs.add(runQuery(spark, registry(n), n, dataDir, tracePass))
      val pt1 = nowMs()
      val c1 = cpuS()
      val gc1 = gcMs()
      if (tracePass) recorder.detach(spark)
      passes.add(obj("traced" -> tracePass, "t0" -> pt0, "t1" -> pt1,
        "cpu_s" -> (c1 - c0), "gc_s" -> (gc1 - gc0) / 1e3, "queries" -> qs))
    }
    record.put("passes", passes)
    record.put("peak_rss_mb", peakRssMb())
    record.put("heap_retained_mb", heapRetainedMb())

    if (traced) {
      // One drain of a light streaming query outside the passes, so that
      // the stream layer is measured in the traced run of a workload that
      // has no streaming member.
      val stream = streamProbe.map { n =>
        recorder.attach(spark)
        val st0 = nowMs()
        sink(registry(n)(spark, dataDir))
        val st1 = nowMs()
        recorder.detach(spark)
        freePersisted(spark)
        obj("name" -> n, "t0" -> st0, "t1" -> st1)
      }.orNull
      record.put("probes", obj(
        "io_load_s" -> loadProbe(spark, dataDir, tables),
        "synth_s" -> synthProbe(spark, dataDir),
        "stream" -> stream))
      record.put("jobs", recorder.jobsJson())
      record.put("batches", recorder.batchesJson())
    }

    mapper.writeValue(out.resolve("raw.json").toFile, record)
    spark.stop()
  }

  /** One closed-loop query: builder call, planning, sink, then freeing what
    * it persisted. Phase boundaries are epoch milliseconds; `t_end` closes
    * the query's span. A failure is recorded with its phase. */
  def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      name: String, dataDir: String, traced: Boolean): JMap[String, Any] = {
    val q = obj("name" -> name)
    var phase = "build"
    q.put("cpu0", cpuS())
    q.put("t0", nowMs())
    try {
      val df = fn(spark, dataDir)
      q.put("t_built", nowMs())
      phase = "plan"
      df.queryExecution.executedPlan
      q.put("t_planned", nowMs())
      phase = "exec"
      sink(df)
    } catch {
      case e: Exception => q.put("error", s"$phase: ${describe(e)}")
    }
    q.put("t_done", nowMs())
    q.put("cpu1", cpuS())
    if (traced) {
      // What the query left persisted (localCheckpoints and caches), read
      // before it is freed.
      val sc = spark.sparkContext
      q.put("checkpoints", sc.getPersistentRDDs.size)
      q.put("checkpoint_bytes",
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
    }
    freePersisted(spark)
    q.put("t_end", nowMs())
    q
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  /** Direct `Tables.load` of the workload's tables: the seconds of each of
    * three rounds, where a round loads every table once. */
  def loadProbe(spark: SparkSession, dataDir: String, tables: Seq[String]): JList[Double] =
    list((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(Tables.load(spark, dataDir, _))
      (System.nanoTime() - t0) / 1e9
    })

  /** Direct `trialLoop` on the k=3 demonstrations the transformation
    * queries draw (the first three parts by key, name → upper-cased name):
    * seconds per call, for each of five rounds of `SynthReps` calls. */
  def synthProbe(spark: SparkSession, dataDir: String): JList[Double] = {
    val demos = Tables.load(spark, dataDir, "part").orderBy("p_partkey")
      .select("p_name").head(3).map(r => (r.getString(0), r.getString(0).toUpperCase)).toSeq
    val cfg = WranglerConfig()
    list((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      for (_ <- 1 to SynthReps) Validation.trialLoop(RuleSynthesizer, None, demos, Seq.empty, cfg)
      (System.nanoTime() - t0) / 1e9 / SynthReps
    })
  }

  /** Heap still in use after a full collection, in MB: what the passes
    * left reachable (caches, registries, persisted blocks). */
  def heapRetainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
