package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Scratch placement: the guards, not the speed — a wrong answer
  * here silently moves shuffle/spill/checkpoints somewhere that
  * fills RAM or doesn't exist.
  */
class ScratchSpec extends AnyFunSuite {

  test("fastLocalBase is an existing writable directory") {
    val p = java.nio.file.Paths.get(Scratch.fastLocalBase)
    assert(java.nio.file.Files.isDirectory(p))
    assert(java.nio.file.Files.isWritable(p))
  }

  test("tmpfsDir yields a fresh writable dir under /dev/shm, or None") {
    Scratch.tmpfsDir("graft_spec_") match {
      case Some(d) =>
        val p = java.nio.file.Paths.get(d)
        assert(p.startsWith("/dev/shm"))
        assert(java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p))
      case None =>
        // legitimate only when /dev/shm is absent/unwritable/small
        val shm = java.nio.file.Paths.get("/dev/shm")
        assert(!java.nio.file.Files.isDirectory(shm) ||
          !java.nio.file.Files.isWritable(shm) ||
          java.nio.file.Files.getFileStore(shm).getUsableSpace <= 16L * 1024 * 1024 * 1024)
    }
  }

  test("an absurd free-space floor yields None") {
    assert(Scratch.tmpfsDir("graft_spec_", Long.MaxValue).isEmpty)
  }

  test("a streaming scratchCheckpoint dir lies under fastLocalBase and is removed at exit") {
    val d = graft.streaming.StreamOps.scratchCheckpoint("scratch_spec")
    val p = java.nio.file.Paths.get(d)
    assert(java.nio.file.Files.isDirectory(p))
    assert(p.getParent === java.nio.file.Paths.get(Scratch.fastLocalBase))
    assert(Scratch.removedAtExit(d))
  }
}
