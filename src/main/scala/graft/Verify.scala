package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver always passes two args (full dump); the filter is a local
    // iteration aid — check_oracle.py only compares dirs that exist.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(",").map(_.trim).toSet))
      case _ => throw new IllegalArgumentException(
        "usage: graft.Verify <sfDir> <outDir> [comma-separated query names]")
    }
    val spark = Session.local(Session.cpus)
    // Clean the output dir FIRST: a stale per-query directory from a
    // previous run would otherwise be validated as if current — a broken
    // query could false-PASS against yesterday's output.
    rm(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    var failures = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failures ::= name
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // bound block-manager growth across the 167-query sweep (same
      // rationale as Bench: finished queries' checkpoint blocks are dead)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.sorted.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Deletes a file or a directory tree. */
  private[graft] def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make json.load of
  // oracle_sql.json fail and silently zero the correctness check.
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
