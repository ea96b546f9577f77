package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate dedups across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("graft-test", 4)

  lazy val sf0001 = "/root/testdata/sf0.001"
}
