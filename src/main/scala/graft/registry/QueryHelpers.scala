package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** The helpers that builders of several families share. */
object QueryHelpers {

  private[registry] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Money-safe exact sum: cast to decimal, sum exactly, emit double. */
  private[registry] def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** TPC-H discounted revenue Σ extendedprice·(1−discount), decimal-exact
    * (one definition — six query shapes share it, so a precision change
    * cannot silently diverge per query).
    */
  private[registry] def discountedRevenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  /** Root for filesystem fixtures written by round-trip queries (CSV split
    * dirs, JSONL dumps); recursively deleted at JVM exit so repeated
    * bench/verify runs can't accumulate unbounded /tmp usage. Deletion must
    * be deferred to exit — the returned DataFrames read these paths lazily
    * at execution time.
    */
  private lazy val fixturesRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_fixtures")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  private[registry] def freshFixtureDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(fixturesRoot, prefix)
}
