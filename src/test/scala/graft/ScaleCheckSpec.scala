package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll

import graft.io.Tables
import graft.streaming.Streams

/** The N× replica corpus ScaleCheck times the registry over. N = 3: with 2
  * copies, one file per copy cannot be told from one file holding every
  * shifted copy.
  */
class ScaleCheckSpec extends SparkSpec with BeforeAndAfterAll {
  private val n = 3
  private val root = Files.createTempDirectory("graft_replicas")
  override def afterAll(): Unit = Verify.rm(root.toFile)

  private lazy val dir: String = {
    val d = root.resolve("corpus").toString
    Files.createDirectory(Paths.get(d))
    ScaleCheck.writeReplicas(spark, sf, n, d)
    d
  }
  private def base(t: String) = Tables.load(spark, sf, t)
  private def big(t: String) = Tables.load(spark, dir, t)
  private def same(a: DataFrame, b: DataFrame) =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  /** The copy index of each row: its first key divided by the shift. */
  private def copyIdx(t: String) =
    (col(ScaleCheck.keys(t).head) / ScaleCheck.width).cast("int")
  private def copyOf(t: String, i: Int) = big(t).filter(copyIdx(t) === i)

  /** The data files of a replica table (a region or nation copy is one). */
  private def parquetFiles(t: String): Seq[String] = {
    val p = Paths.get(dir, s"$t.parquet")
    if (!Files.isDirectory(p)) Seq(p.toString)
    else Files.list(p).toArray.toSeq.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/."))
  }

  test("each replicated table holds N copies, one file per copy") {
    for (t <- ScaleCheck.keys.keys) {
      val rows = base(t).count()
      assert(big(t).count() == n * rows, t)
      val files = parquetFiles(t)
      assert(files.size == n, s"$t: $files")
      for (f <- files) {
        val df = spark.read.parquet(f)
        assert(df.count() == rows && df.select(copyIdx(t)).distinct().count()
          == 1, f)
      }
    }
    for (t <- Seq("region", "nation")) assert(same(big(t), base(t)), t)
  }

  test("copy 0 equals the base; the copies' key sets are disjoint") {
    for (t <- ScaleCheck.keys.keys) {
      assert(same(copyOf(t, 0), base(t)), t)
      // a shift is a bijection, so N× distinct keys means no key is shared
      for (k <- ScaleCheck.keys(t))
        assert(big(t).select(k).distinct().count() ==
          n * base(t).select(k).distinct().count(), s"$t.$k")
    }
  }

  test("the orders-lineitem join on order key matches N x the base rows") {
    def joined(load: String => DataFrame) = load("orders")
      .join(load("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .count()
    val b = joined(base)
    assert(b > 0 && joined(big) == n * b)
  }

  test("salted documents share no token with copy 0; norms are kept") {
    def toks(i: Int) = copyOf("documents", i)
      .select(explode(split(col("text"), " ")).as("tok")).distinct()
    // a rotation permutes each vector's components: the sorted components,
    // and so the squared norm, match the base row exactly
    val sorted = array_sort(col("embedding"))
    val normSq = aggregate(sorted, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    def vecs(i: Int, tag: String) = copyOf("embeddings", i).select(
      (col("vec_id") - i * ScaleCheck.width).as("vec_id"),
      col("embedding").as(s"e$tag"), sorted.as(s"s$tag"), normSq.as(s"n$tag"))
    for (i <- 1 until n) {
      assert(toks(i).intersect(toks(0)).isEmpty, i)
      val pairs = vecs(0, "0").join(vecs(i, "i"), "vec_id")
      assert(pairs.count() == base("embeddings").count())
      assert(pairs.filter(col("s0") =!= col("si") || col("n0") =!= col("ni"))
        .isEmpty, i)
      assert(!pairs.filter(col("e0") =!= col("ei")).isEmpty, i)
    }
  }

  test("part names of different copies stay apart; LIKE 'small%' keeps N x") {
    def names(i: Int) = copyOf("part", i).select(
      (col("p_partkey") - i * ScaleCheck.width).as("k"),
      col("p_name").as(s"n$i"),
      graft.tasks.Wrangler.emTokens(col("p_name")).as(s"t$i"))
    for (i <- 0 until n; j <- i + 1 until n) {
      val pairs = names(i).join(names(j), "k")
      assert(pairs.count() == base("part").count())
      assert(pairs.filter(levenshtein(col(s"n$i"), col(s"n$j")) < 3 ||
        size(array_intersect(col(s"t$i"), col(s"t$j"))) > 0).isEmpty, (i, j))
    }
    def small(load: String => DataFrame) =
      load("part").filter(col("p_name").like("small%")).count()
    assert(small(base) > 0 && small(big) == n * small(base))
  }

  test("the trade graph of N copies is N disjoint graphs") {
    // the queries offset customer nodes by 10,000,000; a smaller shift
    // would make a customer of one copy a supplier node of the next
    def edges(d: String) = Tables.load(spark, d, "lineitem")
      .join(Tables.load(spark, d, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey")).distinct().count()
    def nodes(d: String) =
      SparkEntry.queries("pagerank_trade_orders")(spark, d).count()
    assert(edges(sf) > 0 && edges(dir) == n * edges(sf))
    assert(nodes(sf) > 0 && nodes(dir) == n * nodes(sf))
  }

  test("every replica file carries the declared schema") {
    for (t <- Tables.names; f <- parquetFiles(t))
      assert(spark.read.parquet(f).schema == big(t).schema, f)
  }

  test("a streaming twin drains the replica directory via Tables.stream") {
    val events = base("events").count()
    val streamed = SparkEntry.queries("streaming_cms_events")(spark, dir)
    assert(same(streamed,
      graft.scale.Sketches.cmsBuild(big("events"), col("user_id"))))
    assert(streamed.filter(col("j") === 0).agg(sum(col("cnt"))).head()
      .getLong(0) == n * events)
    val drained = Streams.runToMemory(spark,
      Tables.stream(spark, dir, "events").groupBy().count(),
      OutputMode.Complete())
    assert(drained.head().getLong(0) == n * events)
  }

  test("fewer than 2 copies is rejected") {
    val e = intercept[IllegalArgumentException](ScaleCheck.writeReplicas(
      spark, sf, 1, root.toString))
    assert(e.getMessage.contains("SPARK_GRAFT_SCALE_N"))
  }
}
