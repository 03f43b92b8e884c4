package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one per test JVM), built with
  * the engine's recommended config so the specs run what the mains run
  * (4 shuffle partitions, UTC, the 1000-class codegen cache). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
}
