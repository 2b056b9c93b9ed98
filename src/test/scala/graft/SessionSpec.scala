package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session definition: `Graft.session` is the only place that
  * builds a session, so the oracle (Verify), the bench and the tests
  * run under the same configuration. */
class SessionSpec extends SparkSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("only core/Graft.scala calls the session builder") {
    val builders = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => Files.readString(p).contains("SparkSession" + ".builder"))
      .map(_.toString)
    assert(builders === Seq("src/main/scala/graft/core/Graft.scala"))
  }

  test("Bench and Verify build the same session") {
    val call = """Graft\.session\(([^)]*)\)""".r
    def args(main: String): Seq[String] =
      call.findAllMatchIn(Files.readString(Paths.get(s"src/main/scala/graft/$main.scala")))
        .map(_.group(1)).toList
    assert(args("Bench") === Seq("cores = cpus"))
    assert(args("Verify") === args("Bench"))
  }

  test("Bench and Verify take their core count from Graft.envCpus") {
    for (main <- Seq("Bench", "Verify")) {
      val src = Files.readString(Paths.get(s"src/main/scala/graft/$main.scala"))
      assert(src.contains("val cpus = graft.core.Graft.envCpus"), main)
      assert(!src.contains("SPARK_GRAFT_CPUS"), s"$main parses SPARK_GRAFT_CPUS itself")
    }
  }

  test("the shared test session carries Graft.session's defaults") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(spark.conf.get("spark.graphx.pregel.checkpointInterval").toInt > 0)
    assert(spark.sparkContext.master === "local[4]")
  }
}
