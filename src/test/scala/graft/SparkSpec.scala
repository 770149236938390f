package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the whole suite run (one JVM-wide session —
  * per-suite sessions would pay context startup repeatedly and can collide
  * on the driver port).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val fixtures = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  protected def spark: SparkSession = SparkSpec.spark
  protected def fixtures: String = SparkSpec.fixtures
}
