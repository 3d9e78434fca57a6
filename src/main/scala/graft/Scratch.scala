package graft

import java.nio.file.{Files, Path}

/** Per-JVM scratch space that is actually reclaimed: every `dir()` lives
  * under one session root which a shutdown hook deletes recursively, so
  * repeated Verify/Bench/test invocations no longer leak temp directories
  * into java.io.tmpdir (and a result DataFrame that stays lazily bound to
  * a scratch path remains readable for the whole JVM lifetime — deletion
  * happens strictly at exit, never mid-query). */
object Scratch {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** a fresh scratch directory, reclaimed at JVM exit */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** best-effort recursive delete (exit path: never throws) */
  def deleteRecursively(p: Path): Unit =
    try graft.table.GraftTable.deleteTree(p, bestEffort = true) catch { case _: Exception => () }
}
