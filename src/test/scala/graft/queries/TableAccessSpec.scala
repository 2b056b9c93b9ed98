package graft.queries

import java.nio.file.Files

import graft.SparkSuite
import graft.core.Graft

class TableAccessSpec extends SparkSuite {

  test("rowCount reads the parquet footers' count of every table") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val names = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).sorted.toSeq
      assert(names.contains("supplier"))
      for (n <- names)
        assert(Graft.rowCount(spark, dir, n) === Graft.table(spark, dir, n).count(), s"$sf/$n")
    }
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
      IntervalsQ.events(spark, dir).select("ts").head().getLong(0)
    }
    assert(tsOf("TIMESTAMP_NTZ'2024-01-01 00:00:01.234567'") === nanos)
    assert(tsOf(s"${nanos}L") === nanos)
  }
}
