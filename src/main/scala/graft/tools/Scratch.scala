package graft.tools

/** Fast local scratch placement. Shuffle files, spill, and RDD
  * checkpoints default to `java.io.tmpdir` — a DISK, and on a
  * contended host their write+fsync latency becomes the dominant
  * term of exactly the queries whose 100 TB behavior matters most
  * (the r7 driver bench: c-family 10–27×, st8 5.5× — all
  * shuffle/state/checkpoint-heavy; the r8 instrumented runs measured
  * the whole 166-query suite writing only ~180 MB of shuffle at
  * sf0.1). tmpfs (/dev/shm) makes those writes memory-speed and
  * contention-immune; with a free-space guard it is strictly better
  * for a single-host bench. Cluster deployments size real local SSDs
  * instead — this helper is local-mode plumbing, not engine design.
  */
object Scratch {

  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach { d =>
        try {
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () }; () })
        } catch { case _: Throwable => () }
      }
    }))
  }

  /** Removes `dir` recursively at JVM exit (if it exists by then). */
  def removeAtExit(dir: String): Unit = {
    hook
    dirs.add(java.nio.file.Paths.get(dir))
  }

  /** Whether `removeAtExit` registered `dir`. */
  private[graft] def removedAtExit(dir: String): Boolean =
    dirs.contains(java.nio.file.Paths.get(dir))

  /** /dev/shm when present and writable, else the JVM temp dir. */
  def fastLocalBase: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      shm.toString
    else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }

  /** A fresh tmpfs-backed scratch directory, or None when /dev/shm is
    * absent/unwritable or has less than `minFreeBytes` usable space
    * (tmpfs pages compete with the JVM for RAM — the guard keeps a
    * misconfigured host from swapping instead of spilling). Removed
    * recursively at JVM exit.
    */
  def tmpfsDir(prefix: String,
               minFreeBytes: Long = 16L * 1024 * 1024 * 1024): Option[String] =
    try {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          java.nio.file.Files.getFileStore(shm).getUsableSpace > minFreeBytes) {
        val d = java.nio.file.Files.createTempDirectory(shm, prefix)
        removeAtExit(d.toString)
        Some(d.toString)
      } else None
    } catch { case _: Throwable => None }
}
