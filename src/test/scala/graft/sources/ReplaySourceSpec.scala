package graft.sources

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.replay.{ReplayLog, ReplayScan}
import graft.TestDirs.tempDir

/** The `graft-replay` DataSource V2 connector: frame round trip,
  * filter pushdown REACHING the custom scan (not just accepted by the
  * builder), segment pruning from name-carried bounds, column pruning
  * down to the envelope, and log-recovery behavior on a torn tail. */
class ReplaySourceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 40 deposits, offsets 1..40, ts 1000..1390, wallets w0..w3.
  private def sample = (1L to 40L).map { i =>
    (i, 1000L + (i - 1) * 10, s"w${i % 4}", i * 1.5)
  }.toDF("offset", "ts_unix", "wallet_id", "amount")

  private def writeLog(dir: String, nSegments: Int = 4): Unit =
    ReplayLog.writeSegments(sample, dir, nSegments)

  private def scanOf(df: org.apache.spark.sql.DataFrame): ReplayScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[ReplayScan]

  test("full read round-trips every frame through the proto value") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val back = spark.read.format("graft-replay").load(dir)
    assert(back.schema.fieldNames.toSeq ==
      Seq("offset", "ts_unix", "wallet_id", "amount"))
    val got = back.as[(Long, Long, String, Double)].collect().toSet
    val want = sample.as[(Long, Long, String, Double)].collect().toSet
    assert(got == want)
  }

  test("offset range filter is pushed to the scan AND prunes segments") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("offset") >= 31L)
    val scan = scanOf(df)
    assert(scan.description().contains("GreaterThanOrEqual(offset,31)"),
      s"filter not pushed: ${scan.description()}")
    // 4 range-partitioned segments over offsets 1..40: >= 31 keeps 1.
    assert(scan.totalSegments == 4)
    assert(scan.plannedSegments.size < scan.totalSegments,
      s"no segments pruned: ${scan.description()}")
    // And the pushed filter is APPLIED (pushdown contract), rows exact.
    assert(df.agg(count(lit(1)), min(col("offset"))).head() ==
      org.apache.spark.sql.Row(10L, 31L))
  }

  test("ts_unix bounds prune by the name-carried time index") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("ts_unix") < 1100L) // first 10 frames
    val scan = scanOf(df)
    assert(scan.plannedSegments.size < scan.totalSegments)
    assert(df.count() == 10L)
  }

  test("wallet_id equality is pushed and applied per frame") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("wallet_id") === "w1")
    val scan = scanOf(df)
    assert(scan.description().contains("EqualTo(wallet_id,w1)"))
    assert(df.count() == 10L)
  }

  test("column pruning reaches the reader schema (envelope-only read)") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir).select(col("offset"))
    val scan = scanOf(df)
    assert(scan.readSchema().fieldNames.toSeq == Seq("offset"),
      s"read schema not pruned: ${scan.readSchema()}")
    assert(df.as[Long].collect().sorted.toSeq == (1L to 40L))
  }

  test("unsupported filters stay Spark-side and results are exact") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("amount") > 30.0) // amount predicates are not pushed
    val scan = scanOf(df)
    // The IsNotNull guard IS absorbed (trivially true per frame); the
    // comparison itself must stay Spark-side.
    assert(!scan.description().contains("GreaterThan(amount"),
      s"amount predicate must not be pushed: ${scan.description()}")
    assert(df.count() == sample.where(col("amount") > 30.0).count())
  }

  test("a torn trailing frame truncates to the last complete record") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 1)
    val seg = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(ReplayLog.Extension)).head
    val full = seg.length()
    val ch = new java.io.RandomAccessFile(seg, "rw")
    ch.setLength(full - 5) // cut into the final frame
    ch.close()
    val frames = ReplayLog.readSegment(seg.getPath, decodeValue = true).toVector
    assert(frames.size == 39, s"expected 39 complete frames, got ${frames.size}")
    assert(frames.map(_.offset) == (1L to 39L).toVector)
  }

  test("streaming read: one segment per trigger, content equals the batch read") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 4)
    val cp = tempDir("replay_cp").toString
    val q = spark.readStream.format("graft-replay")
      .option("maxSegmentsPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("replay_stream")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 4,
        s"expected 4 one-segment micro-batches, got $dataBatches")
      val got = spark.table("replay_stream")
        .as[(Long, Long, String, Double)].collect().toSet
      assert(got == sample.as[(Long, Long, String, Double)].collect().toSet)
    } finally {
      q.stop(); spark.catalog.dropTempView("replay_stream")
    }
  }

  test("streaming restart resumes after the committed offset (no reprocessing)") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 4)
    val cp = tempDir("replay_cp2").toString
    val out = tempDir("replay_out").toString
    // File sink (memory sink cannot recover from a checkpoint): rows land
    // exactly once across the two incarnations of the query.
    def start() = spark.readStream.format("graft-replay")
      .option("maxSegmentsPerTrigger", "1").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 40L)
    // Fresh query over the same checkpoint: the log is fully committed,
    // so the restarted stream admits NOTHING new and the sink count is
    // unchanged — resume-after-commit, not reprocess.
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(out).count() == 40L,
        "restart reprocessed committed offsets")
    } finally q2.stop()
  }

  test("V2 write path: append publishes at job commit, overwrite truncates") {
    val dir = tempDir("replay_spec").toString
    sample.repartitionByRange(4, col("offset"))
      .sortWithinPartitions(col("offset"))
      .write.format("graft-replay").mode("append").save(dir)
    assert(ReplayLog.segments(dir).size == 4)
    val back = spark.read.format("graft-replay").load(dir)
    assert(back.count() == 40L)
    // Append again: the log grows (append-only semantics).
    sample.limit(5).write.format("graft-replay").mode("append").save(dir)
    assert(spark.read.format("graft-replay").load(dir).count() == 45L)
    // Overwrite: old segments truncated at commit, only the new write
    // remains.
    sample.limit(7).write.format("graft-replay").mode("overwrite").save(dir)
    assert(spark.read.format("graft-replay").load(dir).count() == 7L)
    // A write with the wrong schema is refused loudly.
    intercept[Exception] {
      sample.withColumnRenamed("amount", "amt")
        .write.format("graft-replay").mode("append").save(dir)
    }
    // Re-appending offsets the log already holds (same segment bounds)
    // is a loud collision, not a silent replace.
    val e = intercept[Exception] {
      sample.limit(7).write.format("graft-replay").mode("append").save(dir)
    }
    assert(e.getMessage != null)
  }

  test("limit pushdown reaches the reader (scan stops early, result exact)") {
    val dir = tempDir("replay_spec").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir).limit(3)
    val scan = scanOf(df)
    assert(scan.description().contains("PushedLimit: 3"),
      s"limit not pushed: ${scan.description()}")
    assert(df.count() == 3L)
    // Pushdown is partial by contract: combined with a filter the global
    // result is still exact.
    val df2 = spark.read.format("graft-replay").load(dir)
      .where(col("wallet_id") === "w2").limit(2)
    assert(df2.as[(Long, Long, String, Double)].collect().length == 2)
  }

  test("manifest is the commit point: unlisted strays are invisible, " +
    "a listed-but-missing segment fails loudly") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 2)
    assert(new java.io.File(dir, ReplayLog.ManifestName).isFile)
    // A stray .rlog (crash between segment rename and manifest replace)
    // is ignored by reads — the old layout stays the truth.
    val stray = new java.io.File(dir,
      ReplayLog.segmentName(900, 999, 0, 0))
    val w = new java.io.FileOutputStream(stray); w.write(1); w.close()
    assert(ReplayLog.segments(dir).size == 2)
    assert(spark.read.format("graft-replay").load(dir).count() == 40L)
    // A manifest entry whose file vanished is a broken log.
    val listed = new java.io.File(ReplayLog.segments(dir).head.path)
    assert(listed.delete())
    intercept[IllegalStateException] { ReplayLog.segments(dir) }
  }

  test("segment compaction: fewer files, identical content, bounds kept") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 8)
    assert(ReplayLog.segments(dir).size == 8)
    val (before, after) = ReplayLog.compactSegments(spark, dir, target = 2)
    assert(before == 8 && after == 2, s"compaction $before -> $after")
    val got = spark.read.format("graft-replay").load(dir)
      .as[(Long, Long, String, Double)].collect().toSet
    assert(got == sample.as[(Long, Long, String, Double)].collect().toSet)
    // Pruning still works on the compacted layout.
    val scan = scanOf(spark.read.format("graft-replay").load(dir)
      .where(col("offset") >= 31L))
    assert(scan.plannedSegments.size == 1 && scan.totalSegments == 2)
  }

  test("segment names are unparseable -> loud failure, not partial read") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 1)
    val seg = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(ReplayLog.Extension)).head
    assert(seg.renameTo(new java.io.File(dir, "garbage.rlog")))
    intercept[IllegalStateException] { ReplayLog.segments(dir) }
  }

  test("snapshots: every commit is time-travel readable; overwrite retains " +
    "history until expireSnapshots reclaims it") {
    val dir = tempDir("replay_spec").toString
    // v1: first 20 offsets. v2: append the rest. v3: compaction overwrite.
    ReplayLog.writeSegments(sample.where(col("offset") <= 20L), dir, 2)
    ReplayLog.writeSegments(sample.where(col("offset") > 20L), dir, 2)
    ReplayLog.compactSegments(spark, dir, target = 1)
    assert(ReplayLog.versions(dir) == Seq(1L, 2L, 3L))
    def readV(v: Long) = spark.read.format("graft-replay")
      .option("asOfVersion", v.toString).load(dir)
    // Time travel: v1 sees only the genesis write; v2 the pre-compaction
    // layout with full content; current == v3 == v2's content.
    assert(readV(1).count() == 20L)
    assert(readV(1).agg(max(col("offset"))).head().getLong(0) == 20L)
    assert(readV(2).count() == 40L)
    assert(spark.read.format("graft-replay").load(dir).count() == 40L)
    // The compaction's retirees are still on disk (4 files + 1 compacted).
    def rlogs = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(ReplayLog.Extension))
    assert(rlogs == 5, s"expected retained retirees, found $rlogs files")
    // Pushdown composes with time travel: an offset predicate on the v1
    // read prunes within the SNAPSHOT's segment set.
    val scan = scanOf(readV(1).where(col("offset") >= 11L))
    assert(scan.totalSegments == 2 && scan.plannedSegments.size == 1,
      scan.description())
    assert(scan.description().contains("asOfVersion=1"))
    // VACUUM: keep only the latest snapshot; the retirees are reclaimed,
    // expired versions fail loudly, the current read is untouched.
    val (expired, dropped) = ReplayLog.expireSnapshots(dir, keepLast = 1)
    assert(expired == 2 && dropped == 4, s"expire ($expired, $dropped)")
    assert(rlogs == 1)
    val e = intercept[IllegalArgumentException] { readV(1).count() }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("no snapshot"))
    assert(spark.read.format("graft-replay").load(dir).count() == 40L)
  }

  test("an overwrite reproducing identical bounds cannot mutate snapshot history") {
    val dir = tempDir("replay_spec").toString; writeLog(dir) // v1: 4 segments, offsets 1..40
    val origSum = sample.agg(sum(col("amount"))).head().getDouble(0)
    // Same offsets/ts, DIFFERENT content: the corrected-overwrite shape.
    // Bare bounds names would collide with v1's files — the commit must
    // publish under -g generation names, never replace referenced files.
    sample.withColumn("amount", col("amount") * 2)
      .repartitionByRange(4, col("offset"))
      .sortWithinPartitions(col("offset"))
      .write.format("graft-replay").mode("overwrite").save(dir)
    val cur = spark.read.format("graft-replay").load(dir)
    assert(cur.agg(sum(col("amount"))).head().getDouble(0) == origSum * 2)
    val v1 = spark.read.format("graft-replay")
      .option("asOfVersion", "1").load(dir)
    assert(v1.agg(sum(col("amount"))).head().getDouble(0) == origSum,
      "time travel to v1 must still serve the ORIGINAL content")
    assert(ReplayLog.segments(dir)
      .forall(s => new java.io.File(s.path).getName.contains("-g")),
      "colliding overwrite segments must carry generation names")
  }

  test("snapshot chain heals a crash between commit and snapshot write") {
    val dir = tempDir("replay_spec").toString
    ReplayLog.writeSegments(sample.where(col("offset") <= 20L), dir, 1)
    ReplayLog.writeSegments(sample
      .where(col("offset") > 20L && col("offset") <= 30L), dir, 1)
    // Simulate the crash window: the v2 commit happened (_manifest
    // replaced) but its snapshot file was lost.
    assert(new java.io.File(dir,
      ReplayLog.versionFileName(2L)).delete())
    // The next commit heals first: the current (second-commit) content
    // is re-recorded — refilling the gap as v2, since numbering follows
    // the highest surviving snapshot — BEFORE the new state publishes as
    // v3. No committed state is lost and chronology holds.
    ReplayLog.writeSegments(sample.where(col("offset") > 30L), dir, 1)
    assert(ReplayLog.versions(dir) == Seq(1L, 2L, 3L))
    assert(spark.read.format("graft-replay")
      .option("asOfVersion", "2").load(dir).count() == 30L)
    assert(spark.read.format("graft-replay")
      .option("asOfVersion", "3").load(dir).count() == 40L)
  }

  test("time travel is read-only and batch-only; unknown versions fail loudly") {
    val dir = tempDir("replay_spec").toString; writeLog(dir, nSegments = 2)
    val e1 = intercept[Exception] {
      sample.limit(3).write.format("graft-replay")
        .option("asOfVersion", "1").mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage) ++: chain(x.getCause))
    assert(chain(e1).exists(_.contains("time-travel")), chain(e1).mkString(" | "))
    val e2 = intercept[Exception] {
      spark.readStream.format("graft-replay")
        .option("asOfVersion", "1").load(dir)
        .writeStream.format("memory").queryName("tt_stream")
        .option("checkpointLocation", tempDir("replay_spec").toString).start()
        .processAllAvailable()
    }
    assert(e2.getMessage != null)
    val e3 = intercept[IllegalArgumentException] {
      spark.read.format("graft-replay")
        .option("asOfVersion", "99").load(dir).count()
    }
    assert(e3.getMessage.contains("no snapshot v99"))
  }
}
