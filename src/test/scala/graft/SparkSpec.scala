package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
}

trait SparkSpec extends AnyFunSuite {
  // Building the session makes it active only on the FIRST thread to
  // force the shared lazy val; suites running on other pool threads would
  // otherwise plan with getActiveSession = None, and any plan constructed
  // outside withActive (e.g. eager localCheckpoint's resetMetrics over
  // GenerateExec) NPEs on SparkPlan.session. Pin the active session on
  // whichever thread runs this suite.
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    SparkSession.setActiveSession(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
