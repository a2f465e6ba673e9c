package graft

import java.nio.file.{Files, Paths}

import graft.io.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("S6 metrics json round-trips through a strict parser") {
    val dir = Files.createTempDirectory("graft_sinks")
    val p = dir.resolve("sub/metrics.json").toString
    Sinks.writeMetricsJson(Map("acc" -> 0.5, "f1" -> 0.25), p)
    val s = Files.readString(Paths.get(p))
    assert(s === """{"acc": 0.5, "f1": 0.25}""")
  }

  test("S7 learned programs json escapes control characters") {
    val dir = Files.createTempDirectory("graft_sinks")
    val p = dir.resolve("funcs.json").toString
    Sinks.writeLearnedProgramsJson(Seq("split('\t')[1]", "upper"), p)
    assert(Files.readString(Paths.get(p)) ===
      """["split('\t')[1]", "upper"]""")
  }

  test("S8 predictions parquet writes and reads back") {
    val dir = Files.createTempDirectory("graft_sinks")
    val p = dir.resolve("preds").toString
    Sinks.writePredictions(Seq(("a", "b")).toDF("text", "pred"), p)
    assert(spark.read.parquet(p).count() === 1)
  }
}
