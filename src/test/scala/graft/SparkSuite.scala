package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

/** Spark jobs started on the shared session, keyed by job group: a
  * test runs code under a fresh group and reads how many jobs it ran
  * (building a query should run none). */
object JobCounter {

  private val jobs = new ConcurrentHashMap[String, Integer]

  private lazy val listener: Unit = SparkSuite.spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobs.merge(g, 1, (a, b) => a + b))
  })

  /** The value of `body` and the number of Spark jobs it started. */
  def count[T](body: => T): (T, Int) = {
    listener
    val sc = SparkSuite.spark.sparkContext
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "counted by JobCounter")
    val value = try body finally sc.clearJobGroup()
    org.apache.spark.graft.GraftSparkHooks.drainListenerBus(sc)
    (value, Option(jobs.remove(group)).fold(0)(_.intValue))
  }
}
