package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ListMap

/** Harness parquet corpus loader (TESTDATA.md). */
object Tables {
  /** The declared schema of every corpus table, in load order. Each is
    * exactly what Spark infers from the table's parquet footer (TablesSpec
    * pins this at every scale factor), so a load needs no footer-reading
    * inference job. The timestamp columns are stored as INT64
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TIMESTAMP_NTZ.
    */
  private val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  val names: Seq[String] = schemas.keys.toSeq

  private def schema(name: String): StructType = schemas.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown table '$name'; known tables: ${names.mkString(", ")}"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(name)).parquet(s"$sfDir/$name.parquet")

  /** The same table as a file stream, read with the declared schema. The
    * path is a glob, not the bare file: a FileStreamSource requires its
    * basePath to be a directory.
    */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.readStream.schema(schema(name)).parquet(s"$sfDir/$name*.parquet")

  /** Spread a COMPUTE-DENSE pipeline input across the session's cores.
    *
    * The harness corpus is one parquet file with one row group per table,
    * and parquet cannot split a row group — so the scan stage of every
    * operator (tokenization, gram explodes, per-row digests, levenshtein,
    * media decode, map-side partial aggregation) runs as a SINGLE task
    * however many cores the session has. Guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read."
    *
    * Deliberately an OPERATOR-level helper, not a loader default: the
    * round-robin exchange buys its cost back only where per-row compute
    * dominates (measured at sf0.1/local[32]: the chrF gram-dictionary job
    * 5.8 s → 1.1 s, the bootstrap digest+ladder aggregation 6.2 s →
    * 3.3 s), while queries made of many dictionary-scale jobs LOSE to the
    * extra per-task overhead (the 8-epoch trainer family measured +0.12 s
    * per added partition per query) — so only the measured compute-dense
    * pipelines call it. Scale-adaptive and a no-op whenever the input
    * already has enough partitions (a real multi-file corpus at scale
    * never pays it). Round-robin is deterministic under retries (Spark's
    * sort-before-repartition); every caller is row-order-insensitive.
    */
  def spread(df: DataFrame): DataFrame = {
    // A streaming input cannot be probed for partition count, but its
    // micro-batch MAP stage inherits the source's file split — ONE task
    // for the single-file harness stream — so the compute-dense work
    // every spread caller puts above the scan (digest ladders, replicate
    // explodes, partial aggregation) would run single-core per batch.
    // Repartition unconditionally: spread callers are by contract
    // compute-dense, so the per-batch round-robin of (projected, narrow)
    // batch rows prices in. Measured at sf0.1/local[32]:
    // streaming_bootstrap_ci_orders 5.8 → ~2.5 s, streaming_quantile_
    // effect_events 5.5 → ~3.5 s. State semantics unchanged (associative
    // exact-integer partial sums; the keyed state exchange still follows).
    if (df.isStreaming)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // SCAN-LEVEL ONLY: probing the partition count via .rdd is safe (and
      // job-free) only when the plan has no Exchange — with one, AQE
      // materializes every upstream shuffle/broadcast stage as REAL jobs
      // just to answer getNumPartitions, and the repartition then re-plans
      // and re-executes them (double work, observed r14 advice). An input
      // that already carries an exchange is distributed BY that exchange
      // (reduce side ≥ shuffle.partitions tasks, or a broadcast probe side
      // that the caller should spread BEFORE the join) — return it
      // untouched rather than pay the probe.
      val hasExchange = df.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      if (hasExchange) df
      else if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target)
    }
  }
}
