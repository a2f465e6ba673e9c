package graft.tools

import scala.util.control.NonFatal

import graft.Session

/** Dev tool: dump `.explain("formatted")` of named queries to files —
  * the plans/r14/<query>_{before,after}.txt evidence the optimization
  * rounds commit. Run:
  * `sbt "runMain graft.tools.ExplainDump <outDir> <suffix> q1 q2 ..."`
  * on a `local[SPARK_GRAFT_CPUS]` session (default: every core).
  * Streaming queries (readStream lineages) cannot be explained without
  * starting them; for those the tool writes the physical plan of the
  * BATCH result table lineage instead (post-drain fold), which is what
  * changes when the fold changes — state-shape claims for the streaming
  * half are covered by the batch twin sharing the same builder.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <q>...")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"[explain] wrote ${n}_$suffix.txt (${plan.length} chars)")
      } catch {
        case NonFatal(e) =>
          println(s"[explain] $n FAILED: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(200))
      }
    }
    spark.stop()
  }
}
