package graft

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Replacing a small text file so that a crash at any point leaves either
  * the old content or the new, and the new content is on disk before the
  * rename publishes it: stage a temp beside the target, write it, force it
  * (`getFD.sync`), then rename it over the target atomically. Without the
  * force, a power loss after the rename could leave the target naming
  * content that never reached the disk. The directory entry itself is not
  * forced. A failed write deletes the temp and leaves the target as it
  * was. */
object DurableFile {
  def replace(target: File, lines: IterableOnce[String]): Unit = {
    val tmp = File.createTempFile(target.getName + "-", ".inprogress",
      target.getAbsoluteFile.getParentFile)
    try {
      val out = new FileOutputStream(tmp)
      try {
        val w = new OutputStreamWriter(out, StandardCharsets.UTF_8)
        lines.iterator.foreach { l => w.write(l); w.write("\n") }
        w.flush()
        out.getFD.sync()
      } finally out.close()
      Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case t: Throwable =>
        tmp.delete()
        throw t
    }
  }
}
