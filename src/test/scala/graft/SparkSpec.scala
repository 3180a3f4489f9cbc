package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own session
  * ([[GraftSession]]), one per JVM; suites grab the active one if it exists.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf0001 = "/root/testdata/sf0.001"
}
