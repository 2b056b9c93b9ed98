package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.types.TimestampNTZType

import graft.{JobCounter, SparkSuite}
import graft.core.Graft

class TableAccessSpec extends SparkSuite {

  /** A scale factor's directory and its table names. */
  private def tables(sf: String): (String, Seq[String]) = {
    val dir = s"/root/testdata/$sf"
    (dir, new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq)
  }

  test("rowCount reads the parquet footers' count of every table") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val (dir, names) = tables(sf)
      assert(names.contains("supplier"))
      for (n <- names)
        assert(Graft.rowCount(spark, dir, n) === Graft.table(spark, dir, n).count(), s"$sf/$n")
    }
  }

  test("table reads, from a parquet footer, the schema Spark infers for every table") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val (dir, names) = tables(sf)
      assert(names.contains("events"))
      for (n <- names)
        assert(Graft.table(spark, dir, n).schema === spark.read.parquet(s"$dir/$n.parquet").schema, s"$sf/$n")
      assert(Graft.table(spark, dir, "events").schema("ts").dataType === TimestampNTZType, sf)
    }
  }

  test("building a table runs no Spark job") {
    val (dir, names) = tables("sf0.01")
    // the check sees the schema-inference job of a bare parquet read
    assert(JobCounter.count(spark.read.parquet(s"$dir/lineitem.parquet"))._2 === 1)
    for (n <- names)
      assert(JobCounter.count(Graft.table(spark, dir, n))._2 === 0, n)
  }

  test("events reads a TIMESTAMP_NTZ ts and a nanos-Long ts as the same epoch nanos") {
    // the test tables store ts as TIMESTAMP(MICROS), not adjusted to
    // UTC: TIMESTAMP_NTZ under every session, nanosAsLong or not
    val base = "/root/testdata/sf0.001"
    assert(spark.read.parquet(s"$base/events.parquet").schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(IntervalsQ.events(spark, base).schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val nanos = 1704067201234567000L // 2024-01-01 00:00:01.234567 UTC
    def tsOf(select: String): Long = {
      val dir = Files.createTempDirectory("events_ts").toString
      spark.sql(s"SELECT 1L AS event_id, $select AS ts").write.parquet(s"$dir/events.parquet")
      assert(Graft.table(spark, dir, "events").schema ===
        spark.read.parquet(s"$dir/events.parquet").schema, select)
      IntervalsQ.events(spark, dir).select("ts").head().getLong(0)
    }
    assert(tsOf("TIMESTAMP_NTZ'2024-01-01 00:00:01.234567'") === nanos)
    assert(tsOf(s"${nanos}L") === nanos)
  }
}
