package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the engine's own session shape
  * (SessionDefaults) at the plan-pin width, so PlanPinSpec regenerates
  * plans in the shape `tools.Probe plans` pinned them. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = SessionDefaults.local(tools.Probe.PinWidth)
}
