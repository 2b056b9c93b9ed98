package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

/** Every suite shares one local session, built by the engine's own
  * factory: the tests run under the same configuration as Bench and
  * Verify, whichever suite happens to start the JVM's session. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
}

object SparkSuite {
  lazy val spark: SparkSession = Graft.session("graft-test", cores = 4)
}
