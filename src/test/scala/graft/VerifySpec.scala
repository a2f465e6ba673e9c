package graft

import java.nio.file.Files

class VerifySpec extends SparkSpec {
  test("a wrong argument count fails with the usage line") {
    val out = Files.createTempDirectory("graft_verify")
    val marker = Files.writeString(out.resolve("keep"), "")
    for (args <- Seq(Array.empty[String], Array(sf),
        Array(sf, out.toString, "q1_pricing_summary", "extra"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.startsWith("usage: graft.Verify"))
    }
    // rejected before the output directory is cleaned
    assert(Files.exists(marker))
  }
}
