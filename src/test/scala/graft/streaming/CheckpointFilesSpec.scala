package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.TimedDeposit
import graft.TestDirs.tempDir

/** The engine's checkpoint file manager ([[CheckpointFiles]]): which of
  * Spark's managers it picks, and that a streaming query on a local
  * checkpoint starts no process to write or rename its files. */
class CheckpointFilesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("the local file systems count as local, HDFS does not") {
    assert(CheckpointFiles.isLocal(new LocalFileSystem))
    assert(CheckpointFiles.isLocal(new RawLocalFileSystem))
    assert(CheckpointFiles.isLocal(FileSystem.getLocal(new Configuration())))
    assert(!CheckpointFiles.isLocal(new DistributedFileSystem))
  }

  test("the session's checkpoints get CheckpointFiles, on the file-system manager locally") {
    val dir = new Path(tempDir("graft_ckpt_fm").toUri)
    CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf()) match {
      case fm: CheckpointFiles =>
        assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.delegate)
      case other => fail(s"the session's checkpoint file manager is ${other.getClass.getName}")
    }
  }

  test("an atomic write replaces an existing local file and its checksum") {
    val dir = tempDir("graft_ckpt_overwrite")
    val file = new Path(dir.resolve("2.changelog").toUri)
    val fm = CheckpointFileManager.create(file.getParent, spark.sessionState.newHadoopConf())
    def write(bytes: Array[Byte], overwrite: Boolean): Unit = {
      val out = fm.createAtomic(file, overwrite)
      out.write(bytes)
      out.close()
    }
    def read(in: java.io.InputStream): Seq[Byte] = try in.readAllBytes().toSeq finally in.close()
    write(Array[Byte](1, 2, 3), overwrite = false)
    write(Array[Byte](4, 5), overwrite = true)
    assert(read(fm.open(file)) == Seq[Byte](4, 5))
    // The .crc moved with the file: a checksum-verifying read agrees.
    assert(read(FileSystem.getLocal(new Configuration()).open(file)) == Seq[Byte](4, 5))
    assert(dir.toFile.list().toSet == Set("2.changelog", ".2.changelog.crc"))
  }

  /** Command name (first token, no directory) and stack frames
    * (`Class.method`) of a `jdk.ProcessStart` event. */
  private def started(e: RecordedEvent): (String, Seq[String]) = {
    val cmd = e.getString("command").trim.split("\\s+").head.split('/').last
    val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    (cmd, frames)
  }

  test("a local checkpoint starts no process per rename") {
    val ckpt = tempDir("graft_ckpt_fork").toString
    val input = MemoryStream[TimedDeposit]
    val q = DepositStreams.detector(spark, input.toDS())
      .writeStream.format("memory").queryName("ckpt_fork")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def batch(i: Int): Unit = {
      input.addData((1 to 20).map(k => TimedDeposit(s"w${k % 5}", 700.0, 1000L + 10 * i, 100L * i + k)))
      q.processAllAvailable()
    }
    val jfr = tempDir("graft_ckpt_fork").resolve("process_starts.jfr")
    val rec = new Recording()
    try {
      batch(0) // warm-up: the first batch creates the checkpoint layout
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      (1 to 3).foreach(batch)
      // A process started on purpose: the recording sees process starts.
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
    } finally {
      rec.close()
      q.stop()
    }
    val events = RecordingFile.readAllEvents(jfr).asScala.toSeq.map(started)
    Files.delete(jfr)
    assert(events.exists(_._1 == "true"), s"no process start among ${events.size} events")
    val readlinks = events.filter(_._1 == "readlink")
    assert(readlinks.size == 0, s"readlink processes, first: ${readlinks.headOption}")
    val renames = events.filter(_._2.exists(_.endsWith(".renameTempFile")))
    assert(renames.size == 0, s"processes started by renameTempFile, first: ${renames.headOption}")
    // Nor a chmod: CheckpointFiles.RawFiles sets each new file's mode in
    // this process.
    val fromManager = events.filter(_._2.exists(_.contains("CheckpointFileManager")))
    assert(fromManager.size == 0,
      s"processes started by the checkpoint manager, first: ${fromManager.headOption}")
  }

  test("a local checkpoint write on an interrupted thread completes and keeps the interrupt") {
    val dir = tempDir("graft_ckpt_interrupt")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())
    Thread.currentThread().interrupt()
    val kept = try {
      val out = fm.createAtomic(new Path(dir.resolve("sub").resolve("0").toUri), overwriteIfPossible = false)
      out.write(Array[Byte](7))
      out.close()
      Thread.currentThread().isInterrupted
    } finally Thread.interrupted() // the next test runs on this thread
    assert(kept, "the write dropped the thread's interrupt")
    val file = dir.resolve("sub").resolve("0")
    assert(Files.readAllBytes(file).toSeq == Seq[Byte](7))
    // Hadoop's default file mode 0666 under its default umask 022.
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == "rw-r--r--")
  }
}
