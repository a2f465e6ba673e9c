package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.tasks.WranglerCli

/** End-to-end CLI coverage: fixture dataset directories in each of the four
  * reference layouts (`data_utils.py:249-311`), driven through
  * `WranglerCli.main` exactly as a user would — asserting the S6/S7 sink
  * files land with the expected content.
  */
class WranglerCliSpec extends SparkSpec {

  // main() runs inside a live session unchanged: build the shared one
  // before any test calls main, so main never builds its own
  private val shared = spark

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    ()
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def metricsJson(outDir: String): String =
    Files.readString(Paths.get(s"$outDir/metrics.json"))

  test("data_transformation dataset end-to-end through main()") {
    val base = tmp("graft_cli")
    // dataset basename must be a TaskRegistry key → data_transformation
    val dataDir = s"$base/stackoverflow"
    write(s"$dataDir/upper.txt",
      (1 to 20).map(i => s"item $i\t\tITEM $i").mkString("\n"))
    write(s"$dataDir/tagged.txt",
      "//uppercase the input\n" +
        (1 to 15).map(i => s"row $i\t\tROW $i").mkString("\n"))
    val out = s"$base/out"
    WranglerCli.main(Array(
      "--data_dir", dataDir, "--output_dir", out, "--k", "3",
      "--num_trials", "1", "--seed", "7"))
    val m = metricsJson(out)
    assert(m.contains("global_acc"), s"missing global metrics: $m")
    assert(m.contains("stackoverflow_upper.txt_acc"), s"missing task metrics: $m")
    assert(m.contains("acc_mean") && m.contains("acc_std"))
    // UpperCase is in the deterministic candidate set → both tasks solve
    assert(m.contains("\"global_acc\": 1.0"), s"expected perfect acc: $m")
    val funcs = Files.readString(Paths.get(s"$out/learned_funcs.json"))
    assert(funcs.contains("upper"), s"expected learned uppercase: $funcs")
  }

  test("entity_matching dataset layout routes and runs") {
    val base = tmp("graft_cli")
    val dataDir = s"$base/Beer"
    write(s"$dataDir/tableA.csv",
      "id,name\n" + (1 to 10).map(i => s"$i,brew $i").mkString("\n"))
    write(s"$dataDir/tableB.csv",
      "id,name\n" + (1 to 10).map(i => s"$i,brew $i lager").mkString("\n"))
    write(s"$dataDir/train.csv",
      "ltable_id,rtable_id,label\n" +
        (1 to 8).map(i => s"$i,$i,${i % 2}").mkString("\n"))
    write(s"$dataDir/test.csv",
      "ltable_id,rtable_id,label\n" +
        (3 to 10).map(i => s"$i,${11 - i},${i % 2}").mkString("\n"))
    val out = s"$base/out"
    WranglerCli.main(Array("--data_dir", dataDir, "--output_dir", out))
    val m = metricsJson(out)
    assert(m.contains("Beer_acc"), s"missing EM task metrics: $m")
    assert(Files.exists(Paths.get(s"$out/learned_funcs.json")))
  }

  test("data_imputation layout reads train from valid.csv (reference quirk)") {
    val base = tmp("graft_cli")
    val dataDir = s"$base/Restaurant"
    def rows(n: Int) = "id,name,city\n" +
      (1 to n).map(i => s"$i,place $i,metropolis").mkString("\n")
    write(s"$dataDir/valid.csv", rows(12))
    write(s"$dataDir/test.csv", rows(8))
    val out = s"$base/out"
    WranglerCli.main(Array("--data_dir", dataDir, "--output_dir", out))
    val m = metricsJson(out)
    assert(m.contains("Restaurant_acc"), s"missing imputation metrics: $m")
  }

  test("error_detection split directories co-sort and run per column") {
    val base = tmp("graft_cli")
    val dataDir = s"$base/Adult"
    def file(n: Int, clean: Int => Boolean) =
      "state,is_clean\n" +
        (1 to n).map(i => s"texas$i,${if (clean(i)) 1 else 0}").mkString("\n")
    write(s"$dataDir/train_splits_single/adult_split_state.csv",
      file(10, _ => true))
    write(s"$dataDir/test_splits_single/adult_split_state.csv",
      file(6, _ % 2 == 0))
    val out = s"$base/out"
    WranglerCli.main(Array("--data_dir", dataDir, "--output_dir", out))
    val m = metricsJson(out)
    assert(m.contains("Adult_0_acc"), s"missing error-detection metrics: $m")
  }

  test("caps: class_balanced + max_train_samples + num_run flags apply") {
    val base = tmp("graft_cli")
    val dataDir = s"$base/headcase"
    write(s"$dataDir/pairs.txt",
      (1 to 30).map(i => s"v $i\t\tV $i").mkString("\n"))
    val out = s"$base/out"
    WranglerCli.main(Array(
      "--data_dir", dataDir, "--output_dir", out,
      "--max_train_samples", "0.5", "--num_run", "10"))
    val m = metricsJson(out)
    // num_run caps the evaluated test rows: total = tp+tn+fp+fn = 10
    assert(m.contains("headcase_pairs.txt_total\": 10.0"),
      s"num_run cap not applied: $m")
  }

  test("main runs inside the active session without changing its confs") {
    val session = shared.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "7")
    val previous = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    try {
      val base = tmp("graft_cli")
      val dataDir = s"$base/headcase"
      write(s"$dataDir/pairs.txt",
        (1 to 12).map(i => s"v $i\t\tV $i").mkString("\n"))
      WranglerCli.main(Array(
        "--data_dir", dataDir, "--output_dir", s"$base/out"))
      assert(session.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally previous.fold(SparkSession.clearActiveSession())(
      SparkSession.setActiveSession)
  }

  test("parse rejects unknown flags and requires data_dir") {
    intercept[IllegalArgumentException](WranglerCli.parse(Array("--nope", "1")))
    intercept[IllegalArgumentException](WranglerCli.parse(Array("--k", "3")))
  }
}
