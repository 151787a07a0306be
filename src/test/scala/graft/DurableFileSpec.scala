package graft

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tempDir

/** [[DurableFile.replace]]: new content in place, no staged temp left
  * behind, and a failed write leaves the old file as it was. (A power loss
  * between the force and the rename cannot be produced in-process.) */
class DurableFileSpec extends AnyFunSuite {

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)

  test("replace writes the new content and leaves no temp file") {
    val dir = tempDir("durable_ok").toFile
    val target = new File(dir, "_manifest")
    DurableFile.replace(target, Seq("old"))
    DurableFile.replace(target, Seq("#committed:1", "seg-a.rlog", "ütf"))
    assert(read(target) == "#committed:1\nseg-a.rlog\nütf\n")
    assert(dir.list().toSeq == Seq("_manifest"))
  }

  test("a failed write leaves the old target intact and no temp file") {
    val dir = tempDir("durable_fail").toFile
    val target = new File(dir, "deposits.jsonl")
    DurableFile.replace(target, Seq("line 1", "line 2"))
    val failing = Iterator("new 1") ++
      Iterator.single(()).map[String](_ => throw new IOException("disk full"))
    val e = intercept[IOException](DurableFile.replace(target, failing))
    assert(e.getMessage == "disk full")
    assert(read(target) == "line 1\nline 2\n")
    assert(dir.list().toSeq == Seq("deposits.jsonl"))
  }
}
