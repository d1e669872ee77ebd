package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast). Four threads whatever the host: PLANS.md and the specs
  * pin partition counts.
  */
object SparkSpec {
  lazy val spark: SparkSession = graft.core.Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
