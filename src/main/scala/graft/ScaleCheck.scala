package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Scaling check over the query registry: writes N key-shifted replicas of
  * the corpus into a temporary directory, times each named registry query
  * over the 1× corpus and over the N× one, and prints the time ratio next
  * to the data ratio. A ratio well above N flags a scaling cliff (quadratic
  * candidate generation, single-partition funnel, a full `collect()`); ~N or
  * below means the query parallelizes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE_N=8 \
  *   sbt "runMain graft.ScaleCheck [query ...]"   (default: every query)
  */
object ScaleCheck {

  /** Key shift between copies. It must exceed every key plus the
    * 10,000,000 node offset the trade-graph queries add to customer keys
    * (`pagerank_trade_orders` and its siblings): with a 10,000,000 shift,
    * customer c of copy i would be the same node as supplier c of copy
    * i + 1, chaining the copies into one graph. A multiple of 10,000,000,
    * so a key's residue modulo any divisor of it is the same in every copy.
    */
  private[graft] val width = 1000000000L

  /** The BIGINT primary and foreign keys of each replicated table. Shifting
    * all of them by the same `i × width` keeps every join inside copy i.
    * `region` and `nation` (INT keys) are not replicated.
    */
  private[graft] val keys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  require(keys.keySet ++ Set("region", "nation") == Tables.names.toSet,
    "every corpus table but region and nation needs its keys listed")

  /** Copy `i ≥ 1` of `table`: keys shifted by `i × width`. Every token of
    * a document gets a copy-distinct prefix, making the copies' shingle
    * spaces disjoint, so the N× corpus holds N independent replicas of the
    * base near-dup structure; without it copies share shingles and the
    * near-dup PAIR mass grows ~N² (total mass duplication), a data
    * property rather than the scaling being measured. Every word of a part
    * name gets a 3-fold copy tag as a suffix (`s1s1s1`), for the same
    * reason: the name-similarity queries would otherwise match each name
    * to its N − 1 twins. The tag keeps copies at least 3 edits apart (above
    * the edit-distance queries' threshold of 2), and as a suffix it keeps
    * `LIKE 'small%'` matching in every copy. Embeddings are rotated by `i`
    * components: norms and within-copy geometry are kept, cross-copy
    * cosines collapse to noise.
    */
  private def shifted(df: DataFrame, table: String, i: Int): DataFrame = {
    val keyed = keys(table).foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(i * width)))
    table match {
      case "documents" => keyed.withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), w => concat(lit(s"c$i"), w))))
      case "part" => keyed.withColumn("p_name", concat_ws(" ",
        transform(split(col("p_name"), " "), w => concat(w, lit(s"s$i" * 3)))))
      case "embeddings" => keyed.withColumn("embedding", expr(
        s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
          s"slice(embedding, 1, $i))"))
      case _ => keyed
    }
  }

  /** Writes the N× corpus of `sfDir` into `outDir`: `region` and `nation`
    * as copies of their base files, every other table as a directory
    * `<table>.parquet` of N files, one per copy. Copy 0 is the base file
    * itself, so the 1× data sits byte-identical inside the N× data.
    */
  def writeReplicas(spark: SparkSession, sfDir: String, n: Int,
      outDir: String): Unit = {
    require(n >= 2, s"SPARK_GRAFT_SCALE_N must be at least 2, got $n")
    Tables.names.foreach { table =>
      val src = Paths.get(sfDir, s"$table.parquet")
      val dst = Paths.get(outDir, s"$table.parquet")
      if (!keys.contains(table)) Files.copy(src, dst)
      else {
        val base = Tables.load(spark, sfDir, table)
        // one write per copy: a union of single-partition inputs would be
        // planned as ONE partition, i.e. one file holding every copy
        for (i <- 1 until n) shifted(base, table, i).coalesce(1)
          .write.mode("append").parquet(dst.toString)
        Files.copy(src, dst.resolve("part-copy0.parquet"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "8").toInt
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(q => require(SparkEntry.queries.contains(q),
      s"unknown query '$q'"))
    val bigDir = Files.createTempDirectory("graft_scalecheck")
    sys.addShutdownHook(Verify.rm(bigDir.toFile))
    val spark = Session.local(Session.cpus)
    writeReplicas(spark, sfDir, n, bigDir.toString)

    val errors1, errorsN: Bench.Errors = mutable.TreeMap()
    Bench.warmUp(spark, sfDir, errors1)
    val results = names.map { q =>
      val t1 = Bench.run(spark, sfDir, q, errors1)
      val tn = Bench.run(spark, bigDir.toString, q, errorsN)
      val ratio = tn / t1
      println(f"[scalecheck] $q%-40s 1x=$t1%6.2fs  ${n}x=$tn%6.2fs  " +
        f"ratio=$ratio%5.2f (data ${n}x)")
      (q, t1, tn, ratio)
    }
    val qs = results.map { case (k, a, b, r) =>
      s"""\"$k\":{\"t1\":$a,\"tn\":$b,\"ratio\":$r}"""
    }.mkString("{", ",", "}")
    val detail = Bench.errorsDetail(
      errors1 ++ errorsN.map { case (k, v) => s"$k@${n}x" -> v })
    println(s"""{"metric":"scalecheck","n":$n,"cases":$qs,"errors_detail":$detail,"sf":"$sfDir"}""")
    spark.stop()
  }
}
