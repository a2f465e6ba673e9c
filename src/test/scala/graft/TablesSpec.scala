package graft

import graft.io.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class TablesSpec extends SparkSpec {
  private val testdata = new java.io.File(sf).getParent
  private val corpora = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"$testdata/$s") :+ "perfbench/corpus/sf0.01"

  test("declared schemas equal the parquet footers at every scale factor") {
    for (dir <- corpora; name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables.load(spark, dir, name).schema === inferred, s"$dir/$name")
    }
  }

  test("loading all ten tables starts no Spark job; unknown names fail fast") {
    val group = s"tables-load-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("sentinel") == "1") sentinelSeen.countDown()
            else jobs.incrementAndGet()
          }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables.load job count")
      Tables.names.foreach(Tables.load(spark, sf, _))
      // Listener events arrive in order, so once this job's start is seen,
      // every job the loads started has been counted.
      sc.setLocalProperty("sentinel", "1")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS))
      assert(jobs.get === 0)
    } finally {
      sc.setLocalProperty("sentinel", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val e = intercept[IllegalArgumentException](
      Tables.load(spark, sf, "lineitems"))
    assert(e.getMessage.contains("lineitems"))
    Tables.names.foreach(n => assert(e.getMessage.contains(n)))
  }

  test("loading events leaves nanosAsLong unset in the session") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    Tables.load(spark, sf, "events")
    assert(spark.conf.getAll.get(key).isEmpty)
  }
}
