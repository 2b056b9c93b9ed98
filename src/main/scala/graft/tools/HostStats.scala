package graft.tools

/** /proc readers + a direct disk-throughput probe: with `QueryTrace`'s
  * task metrics they tell a contended host (wall up with io-wait or
  * load, CPU flat) from an engine regression (CPU, GC or spill up).
  * All best-effort: any read failure yields -1 rather than aborting
  * the bench.
  */
object HostStats {
  private def readFile(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case _: Throwable => None }

  /** 1-minute load average. */
  def load1(): Double =
    readFile("/proc/loadavg").flatMap(_.split("\\s+").headOption)
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** MemAvailable in MiB. */
  def memAvailMb(): Long =
    readFile("/proc/meminfo").flatMap(_.linesIterator
        .find(_.startsWith("MemAvailable")))
      .flatMap(_.split("\\s+").lift(1)).flatMap(_.toLongOption)
      .map(_ / 1024L).getOrElse(-1L)

  /** (iowait jiffies, total jiffies) from the aggregate cpu line —
    * sample before/after an interval and diff to get the io-wait
    * fraction OF THAT INTERVAL.
    */
  def cpuJiffies(): (Long, Long) =
    readFile("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { line =>
        val f = line.split("\\s+").drop(1).flatMap(_.toLongOption)
        (f.lift(4).getOrElse(0L), f.sum)
      }.getOrElse((0L, 0L))

  /** Sequential write throughput (MB/s) at `dir`: 64 MiB in 4 MiB
    * chunks, fsync'd, deleted. Direct evidence for/against the
    * "contended disk" hypothesis — spill, shuffle files, and streaming
    * state commits all pay this rate.
    */
  def writeMbs(dir: String, totalMb: Int = 64): Double = {
    val f = java.nio.file.Paths.get(dir,
      s".graft_iobench_${java.util.UUID.randomUUID}")
    try {
      val buf = java.nio.ByteBuffer.allocate(4 * 1024 * 1024)
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val t0 = System.nanoTime()
      try {
        var written = 0
        while (written < totalMb) {
          buf.clear(); ch.write(buf); written += 4
        }
        ch.force(true)
      } finally ch.close()
      val s = (System.nanoTime() - t0) / 1e9
      if (s > 0) totalMb / s else -1.0
    } catch { case _: Throwable => -1.0 }
    finally { try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () } }
  }
}
