package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazily built). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** Four cores whatever the box: layout assertions pin 4 partitions. */
  lazy val session: SparkSession = Session.local(4)
}
