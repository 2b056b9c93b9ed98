package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft
import graft.tools.QueryTrace

/** Every suite shares one local session, built by the engine's own
  * factory: the tests run under the same configuration as Bench and
  * Verify, whichever suite happens to start the JVM's session. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
}

object SparkSuite {
  lazy val spark: SparkSession = Graft.session("graft-test", cores = 4)
}

/** Spark jobs started on the shared session, keyed by job group: a
  * test runs code under a fresh group and reads how many jobs it ran
  * (building a query should run none). */
object JobCounter {

  /** The value of `body` and the number of Spark jobs it started. */
  def count[T](body: => T): (T, Int) = {
    val sc = SparkSuite.spark.sparkContext
    val trace = QueryTrace.of(sc)
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "counted by JobCounter")
    val value = try body finally sc.clearJobGroup()
    val window = trace.snapshotAndReset()
    assert(window.drained, "listener bus not drained")
    (value, window.jobs.getOrElse(group, 0))
  }
}
