package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-mutable state beyond
  * Functions.registerAll, which is idempotent).
  */
object SparkSpec {
  lazy val spark: SparkSession = Engine.session(4)
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
