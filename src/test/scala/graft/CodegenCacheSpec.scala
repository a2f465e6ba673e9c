package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's JVM-wide cache of compiled generated classes holds the whole
  * working set of a benchmark pass, so a repeated pass compiles none of
  * its classes again. The cache size comes from
  * `-Dspark.sql.codegen.cache.maxEntries` in build.sbt's `javaOptions`; at
  * Spark's default of 100 entries every pass recompiled part of its code.
  */
class CodegenCacheSpec extends SparkSpec {

  // the benchmark's `wrangle` workload
  private val members = Seq("serialize_keyed_customer",
    "serialize_simple_part", "prompt_pack_customer",
    "impute_end_to_end_customer", "error_detect_vocab_part",
    "em_blocked_pairs", "synthesize_transform_part",
    "transform_end_to_end_part", "tolerant_fraction_lineitem",
    "jsonl_roundtrip_docs", "q3_shipping_priority")

  test("the codegen cache size comes from the JVM options") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
  }

  test("a second pass over the wrangle queries recompiles no class") {
    // CodeGenerator logs the source of every class it compiles, that is of
    // every cache miss, at DEBUG.
    val sources = mutable.ArrayBuffer[String]()
    val capture = new AbstractAppender("codegen-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) sources.synchronized {
          sources += e.getMessage.getFormattedMessage
        }
    }
    val logger = LogManager.getLogger(classOf[CodeGenerator[_, _]].getName)
      .asInstanceOf[Logger]
    val level = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    logger.setAdditive(false)
    logger.setLevel(Level.DEBUG)
    val errors: Bench.Errors = mutable.TreeMap()
    def pass(): Seq[String] = {
      val from = sources.synchronized(sources.size)
      members.foreach(Bench.run(spark, sf, _, errors))
      sources.synchronized(sources.drop(from).toSeq)
    }
    val (first, second) =
      try (pass().toSet, pass())
      finally {
        logger.removeAppender(capture)
        logger.setAdditive(true)
        logger.setLevel(level)
        capture.stop()
      }
    assert(errors.isEmpty, errors)
    // Under adaptive execution a pass may number its codegen stages
    // differently from the last one, which makes a new class; a class the
    // first pass compiled must be a cache hit.
    val recompiled = second.count(first.contains)
    assert(recompiled === 0,
      s"of ${second.size} compiles in the second pass, $recompiled repeat " +
        s"one of the first pass's ${first.size}")
  }
}
