package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException

import graft.SparkSuite
import graft.tools.QueryTrace

/** `Pin`, the engine's one way to materialise an intermediate: it keeps
  * its source's rows, runs one job named after it, fails loudly once
  * its blocks are gone, and no other file in `src/main` pins. */
class PinSpec extends SparkSuite {

  test("a pin has its source's rows and runs one job, named after it, while the query is built") {
    val sc = spark.sparkContext
    val trace = QueryTrace.of(sc)
    sc.setCallSite("caller")
    trace.snapshotAndReset()
    sc.setJobGroup("pin-spec", "PinSpec")
    val source = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 7 % 13 AS v")
    val pinned = try Pin(source, "spec.range") finally sc.clearJobGroup()
    val w = trace.snapshotAndReset()
    assert(w.drained)
    assert(w.jobs === Map("pin-spec" -> 1))
    assert(w.stages.map(_.name) === Seq("pin spec.range"))
    assert(sc.getLocalProperty("callSite.short") === "caller")
    sc.clearCallSite()

    assert(pinned.collect().map(_.toString).sorted.toSeq ===
      source.collect().map(_.toString).sorted.toSeq)
  }

  test("a pin whose blocks are lost fails with Spark's checkpoint-block error") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = Pin(spark.range(0, 1000, 1, 4).toDF(), "spec.lost")
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(added.size === 1)
    assert(pinned.count() === 1000L)
    added.values.foreach(_.unpersist(blocking = true))
    val e = intercept[SparkException](pinned.count())
    assert(e.getMessage.contains("Checkpoint block") && e.getMessage.contains("not found"), e.getMessage)
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    finally s.close()
  }

  test("only core/Pin.scala and graph/Superstep.scala pin or cache in src/main") {
    // Superstep's persist/checkpoint is loop state its own `finally`
    // releases, not a pin
    val pin = ("localCheckpoint" + "\\(|\\.persist\\((StorageLevel\\.\\w+)?\\)|\\.cache" + "\\(\\)").r
    val pinning = scalaFiles("src/main")
      .filter(p => pin.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(pinning === Seq("src/main/scala/graft/core/Pin.scala",
      "src/main/scala/graft/graph/Superstep.scala"))
  }
}
