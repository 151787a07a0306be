package graft.streaming

import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkSpec}
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.TestDirs.tempDir

/** State-store OPERATIONAL edges — the production lifecycle behaviors a
  * 100-TB streaming deployment leans on beyond plain recovery
  * (CheckpointRecoverySpec):
  *
  *  - RocksDB CHANGELOG checkpointing (the incremental-commit mode that
  *    replaces full-snapshot uploads with per-batch deltas — the engine's
  *    session default, GraftSession.stateStore): state must survive a
  *    restart under it, the checkpoint must contain changelog files
  *    proving the mode engaged, and a checkpoint written in snapshot mode
  *    must resume under it.
  *  - The engine's checkpoint file manager (CheckpointFiles) resumes a
  *    checkpoint written through Spark's default one, including the
  *    overwrite of a re-run batch's changelog.
  *  - Stateful shuffle partitioning is FIXED AT FIRST CHECKPOINT: Spark
  *    keys state-store directories by partition id, so a later session
  *    with a different spark.sql.shuffle.partitions must keep running at
  *    the checkpointed width (documented constraint; re-scaling state
  *    means a new checkpoint + replay, which is why the engine sizes
  *    stream partitioning for target scale UP FRONT).
  */
class StateStoreOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeBatch(in: String, rows: Seq[TimedDeposit]): Unit =
    rows.toDS().repartition(1).write.mode("append").parquet(in)

  /** Runs the detector over everything in `in` and returns the ids of
    * the batches it ran. Batch `n` writes its verdicts to `out/batch=n`:
    * appended, so a replay shows as a duplicate, or, with `mode`
    * "overwrite", replacing a re-run batch's earlier output (an idempotent
    * sink). */
  private def runDetectorOnce(in: String, out: String, ckpt: String,
                              mode: String = "append"): Seq[Long] = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val deposits = spark.readStream
      .schema("walletId STRING, amount DOUBLE, tsUnix LONG, seq LONG")
      .parquet(in).as[TimedDeposit]
    val q = DepositStreams.detector(spark, deposits)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[KeyedFlagEvent], id: Long) =>
        batch.write.mode(mode).parquet(s"$out/batch=$id")
        ran.add(id): Unit
      }
      .start()
    q.processAllAvailable()
    q.stop()
    ran.asScala.toSeq
  }

  /** Every `.changelog` file under the checkpoint's state directory. */
  private def changelogs(ckpt: String): Seq[java.io.File] = {
    def find(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(find)
      else if (f.getName.endsWith(".changelog")) Seq(f) else Seq.empty
    find(new java.io.File(s"$ckpt/state"))
  }

  /** The snapshot-mode recovery semantics: no replay, and the open window
    * carried across incarnations (11,000 >= threshold). */
  private def assertCarriedWindow(out: String): Unit = {
    val events = spark.read.parquet(out).as[KeyedFlagEvent]
      .collect().sortBy(_.seq).toSeq
    assert(events.map(_.seq) == Seq(1L, 2L))
    assert(events.map(_.flagRemoved) == Seq(true, false))
  }

  test("changelog checkpointing: state survives restart and changelogs are written") {
    val root = tempDir("graft_ckpt_cl").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    // No conf set here: the session default (GraftSession.stateStore) must
    // engage the mode.
    writeBatch(in, Seq(TimedDeposit("w1", 6000.0, 1000L, 1L)))
    runDetectorOnce(in, out, ckpt)
    writeBatch(in, Seq(TimedDeposit("w1", 5000.0, 1060L, 2L)))
    runDetectorOnce(in, out, ckpt)
    assertCarriedWindow(out)
    // The mode actually engaged: per-batch .changelog files exist under
    // the state store (snapshot-only mode writes .zip/.snapshot instead).
    assert(changelogs(ckpt).nonEmpty,
      s"no .changelog files under $ckpt/state — changelog mode did not engage")
  }

  test("a checkpoint written in snapshot mode resumes in changelog mode") {
    // The deploy path of every existing processor checkpoint: written
    // before the engine turned changelog checkpointing on, restarted after.
    val root = tempDir("graft_ckpt_upgrade").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    writeBatch(in, Seq(TimedDeposit("w1", 6000.0, 1000L, 1L)))
    spark.conf.set(key, "false")
    try runDetectorOnce(in, out, ckpt)
    finally spark.conf.set(key, GraftSession.stateStore(key))
    assert(changelogs(ckpt).isEmpty, "snapshot mode wrote .changelog files")
    writeBatch(in, Seq(TimedDeposit("w1", 5000.0, 1060L, 2L)))
    runDetectorOnce(in, out, ckpt)
    assertCarriedWindow(out)
    assert(changelogs(ckpt).nonEmpty,
      s"no .changelog files under $ckpt/state after the restart in changelog mode")
  }

  test("a checkpoint written through Spark's default file manager resumes, overwriting a re-run batch's changelog") {
    // The deploy path of every existing checkpoint: written before the
    // engine set its own checkpoint file manager, restarted after, with
    // the last batch re-run because its commit never landed.
    val root = tempDir("graft_ckpt_fm_upgrade").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    writeBatch(in, Seq(TimedDeposit("w1", 6000.0, 1000L, 1L)))
    spark.conf.unset(key)
    try {
      assert(CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
        .isInstanceOf[FileContextBasedCheckpointFileManager])
      assert(runDetectorOnce(in, out, ckpt, "overwrite") == Seq(0L))
      writeBatch(in, Seq(TimedDeposit("w1", 5000.0, 1060L, 2L)))
      assert(runDetectorOnce(in, out, ckpt, "overwrite") == Seq(1L))
    } finally spark.conf.set(key, GraftSession.stateStore(key))
    // Batch 1 committed state version 2; without its commit entry the
    // restart runs it again and rewrites every partition's 2.changelog.
    val rewritten = changelogs(ckpt).filter(_.getName == "2.changelog").map(_.toPath)
    assert(rewritten.size == spark.conf.get("spark.sql.shuffle.partitions").toInt, rewritten)
    def crc(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")
    def inode(f: JPath): AnyRef = Files.getAttribute(f, "unix:ino")
    val before = rewritten.map(f => (inode(f), inode(crc(f))))
    Files.delete(java.nio.file.Paths.get(s"$ckpt/commits/1"))
    assert(runDetectorOnce(in, out, ckpt, "overwrite") == Seq(1L))
    assertCarriedWindow(out)
    // Each changelog and its .crc were replaced, and the new file reads
    // back through the local file system's checksum verification.
    val local = FileSystem.getLocal(new Configuration())
    rewritten.zip(before).foreach { case (f, (fileIno, crcIno)) =>
      assert(inode(f) != fileIno && inode(crc(f)) != crcIno, s"$f was not rewritten")
      val read = local.open(new Path(f.toUri))
      try assert(read.readAllBytes().toSeq == Files.readAllBytes(f).toSeq)
      finally read.close()
    }
  }

  test("stateful shuffle partitioning is pinned by the first checkpoint") {
    val root = tempDir("graft_ckpt_rescale").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      writeBatch(in, Seq(TimedDeposit("w1", 6000.0, 1000L, 1L)))
      runDetectorOnce(in, out, ckpt)
      // Operator "re-scales" the session to 8 and restarts from the same
      // checkpoint: Spark must keep the stateful query at the
      // checkpointed width, NOT adopt the new conf (state is keyed by
      // partition id; silently re-hashing would orphan every row).
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      writeBatch(in, Seq(TimedDeposit("w1", 5000.0, 1060L, 2L)))
      runDetectorOnce(in, out, ckpt)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // Results are correct (the restart found every key's state where the
    // ORIGINAL partitioning put it)...
    assertCarriedWindow(out)
    // ...and the store stayed at width 4: operator 0's state directory
    // has exactly partitions 0..3, none were added for the new conf.
    val parts = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .map(_.getName).toSet
    assert(parts == Set("0", "1", "2", "3"),
      s"state partition dirs changed after conf rescale: $parts")
  }
}
