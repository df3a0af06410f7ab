package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt forks one test JVM; getOrCreate
  * reuses the session across suites): the Bench/Verify settings
  * ([[Session]]) on a fixed 4 slots, so results do not depend on the box. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    graft.functions.GraftFunctions.register(s)
    s
  }

  val sf: String = "/root/testdata/sf0.001"
}
