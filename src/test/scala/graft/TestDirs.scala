package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch directories for specs. Each lives under the per-JVM
  * [[queries.Workspace.root]], whose shutdown hook removes it when the
  * forked test JVM exits, so a suite run leaves nothing behind. */
object TestDirs {
  /** A new, empty directory named after `prefix`. */
  def tempDir(prefix: String): Path =
    Files.createDirectories(Paths.get(queries.Workspace.fresh(prefix)))
}
