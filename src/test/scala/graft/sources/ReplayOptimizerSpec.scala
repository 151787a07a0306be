package graft.sources

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.replay.{ReplayAggScan, ReplayLog, ReplayScan,
  ReplaySegmentCommit, ReplayStreamingWrite}
import graft.TestDirs.tempDir

/** Round-16 optimizer/sink integration of the `graft-replay` connector:
  * runtime (DPP-analog) segment filtering, partial aggregate pushdown
  * answered from segment metadata, and the epoch-idempotent V2
  * streaming sink. */
class ReplayOptimizerSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Same corpus as ReplaySourceSpec: offsets 1..40 in 4 range segments.
  private def sample = (1L to 40L).map { i =>
    (i, 1000L + (i - 1) * 10, s"w${i % 4}", i * 1.5)
  }.toDF("offset", "ts_unix", "wallet_id", "amount")

  private def writeLog(dir: String, nSegments: Int = 4): Unit =
    ReplayLog.writeSegments(sample, dir, nSegments)

  private def scanOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get

  test("runtime join-key filter reaches the scan and re-prunes segments") {
    val dir = tempDir("replay_opt").toString; writeLog(dir)
    // The dim's predicate must be on a NON-key column: a key predicate
    // (k >= 31) would be inferred onto offset statically by constraint
    // propagation, pre-pruning the scan and leaving nothing dynamic.
    // Here the surviving keys {33, 37} are only discoverable by RUNNING
    // the dim filter — exactly DPP's territory. The dim side must also
    // be a filtered FILE scan: a filter over a local relation
    // constant-folds away and DPP sees no selective predicate.
    val dimPath = tempDir("replay_dim").toString
    sample.where(col("offset") >= 31L)
      .select(col("offset").as("k"), col("wallet_id").as("w"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("w") === "w1")
    val fact = spark.read.format("graft-replay").load(dir)
    val joined = fact.join(dim, fact("offset") === dim("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("total"))
    // collect(), not head(): head() wraps a LIMIT in a fresh
    // QueryExecution whose re-optimization builds a NEW scan instance —
    // the one below would then never see the runtime selection.
    val row = joined.collect().head
    // Exact result first (runtime filtering must never change semantics):
    // offsets 33 and 37 are the w1 members of 31..40.
    assert(row == org.apache.spark.sql.Row(2L, (33 + 37) * 1.5))
    // And the runtime filter actually reached the custom scan: both
    // surviving keys live in the last of the four range segments.
    val scan = scanOf(joined).asInstanceOf[ReplayScan]
    assert(scan.runtimeSelection.contains((1, 4)),
      s"runtime re-prune did not fire or kept the wrong segments: " +
        s"${scan.runtimeSelection}")
  }

  test("count/min/max push down as per-segment partials (no frame decode)") {
    val dir = tempDir("replay_opt").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .agg(count(lit(1)).as("n"),
        min(col("offset")).as("min_off"), max(col("offset")).as("max_off"),
        min(col("ts_unix")).as("min_ts"), max(col("ts_unix")).as("max_ts"))
    val scan = scanOf(df)
    assert(scan.isInstanceOf[ReplayAggScan],
      s"aggregate was not pushed: ${scan.description()}")
    assert(scan.description().contains("PushedAggregates"))
    assert(df.head() == org.apache.spark.sql.Row(40L, 1L, 40L, 1000L, 1390L))
  }

  test("bare count() uses the pushed-aggregate path") {
    val dir = tempDir("replay_opt").toString; writeLog(dir)
    assert(spark.read.format("graft-replay").load(dir).count() == 40L)
  }

  test("aggregate pushdown declines under pushed data filters") {
    val dir = tempDir("replay_opt").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("offset") >= 31L)
      .agg(count(lit(1)).as("n"), min(col("offset")).as("min_off"))
    // Bounds describe the unfiltered segment — the agg must stay
    // Spark-side and the result exact.
    assert(scanOf(df).isInstanceOf[ReplayScan])
    assert(df.head() == org.apache.spark.sql.Row(10L, 31L))
  }

  test("aggregate over an empty log returns count 0 and null bounds") {
    val dir = tempDir("replay_opt").toString // no segments at all
    val df = spark.read.format("graft-replay").load(dir)
      .agg(count(lit(1)).as("n"), min(col("offset")).as("min_off"))
    val row = df.head()
    assert(row.getLong(0) == 0L)
    assert(row.isNullAt(1))
  }

  test("streaming V2 sink round-trips through the commit protocol") {
    val src = tempDir("replay_opt").toString; writeLog(src)
    val out = tempDir("replay_sink").toString
    val cp = tempDir("replay_sink_cp").toString
    val q = spark.readStream.format("graft-replay")
      .option("maxSegmentsPerTrigger", "1").load(src)
      .writeStream.format("graft-replay")
      .option("checkpointLocation", cp).start(out)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format("graft-replay").load(out)
      .as[(Long, Long, String, Double)].collect().toSet
    assert(got == sample.as[(Long, Long, String, Double)].collect().toSet)
    // The manifest carries the epoch ledger (idempotence record).
    val manifest = scala.io.Source.fromFile(
      new java.io.File(out, "_manifest"), "UTF-8").getLines().toVector
    assert(manifest.exists(_.startsWith("#epoch:")),
      s"no epoch ledger in manifest: $manifest")
  }

  test("a replayed epoch publishes nothing twice (restart idempotence)") {
    val src = tempDir("replay_opt").toString; writeLog(src)
    val out = tempDir("replay_sink2").toString
    val cp = tempDir("replay_sink2_cp").toString
    def start() = spark.readStream.format("graft-replay")
      .option("maxSegmentsPerTrigger", "1").load(src)
      .writeStream.format("graft-replay")
      .option("checkpointLocation", cp).start(out)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // Force Spark to re-run the last micro-batch: drop the final entry
    // of ITS commit log, so on restart the engine replays that epoch
    // against a sink that has already published it.
    val commits = new java.io.File(cp, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val last = commits.last
    // Hadoop's local FS keeps a .<name>.crc companion; leaving it behind
    // makes the re-written commit file collide on the checksum rename.
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(last.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.format("graft-replay").load(out)
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(got.size == 40, s"replayed epoch duplicated rows: ${got.size}")
    assert(got.toSet == sample.as[(Long, Long, String, Double)].collect().toSet)
  }

  test("direct double-commit of one epoch drops the second stage") {
    val out = tempDir("replay_sink3").toString
    def staged(offset: Long): ReplaySegmentCommit = {
      val df = Seq((offset, 1000L + offset, "w0", 1.0))
        .toDF("offset", "ts_unix", "wallet_id", "amount")
      // Stage a real frame file via the batch writer's format by writing
      // a one-segment log elsewhere and moving its segment to a temp.
      val tmpLog = tempDir("replay_stage").toString
      ReplayLog.writeSegments(df, tmpLog, 1)
      val seg = new java.io.File(tmpLog).listFiles()
        .filter(_.getName.endsWith(ReplayLog.Extension)).head
      val tmp = java.io.File.createTempFile("seg-", ".inprogress",
        new java.io.File(out))
      java.nio.file.Files.move(seg.toPath, tmp.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ReplaySegmentCommit(tmp.getPath, offset, offset,
        1000L + offset, 1000L + offset)
    }
    new java.io.File(out).mkdirs()
    val sink = new ReplayStreamingWrite(out, queryId = "q-test")
    sink.commit(0L, Array(staged(1L)))
    assert(ReplayLog.segments(out).size == 1)
    // Same epoch again (the replay case): second stage must be dropped,
    // not published, and its temp removed.
    val dup = staged(1L)
    sink.commit(0L, Array(dup))
    assert(ReplayLog.segments(out).size == 1)
    assert(!new java.io.File(dup.tmpPath).exists())
    // The NEXT epoch publishes normally.
    sink.commit(1L, Array(staged(2L)))
    assert(ReplayLog.segments(out).size == 2)
  }

  test("offset top-n prunes to n segments and results are exact") {
    val dir = tempDir("replay_opt").toString; writeLog(dir) // 4 disjoint range segments
    val df = spark.read.format("graft-replay").load(dir)
      .orderBy(col("offset").desc).limit(3)
    val scan = scanOf(df).asInstanceOf[ReplayScan]
    assert(scan.description().contains("PushedTopN: ORDER BY offset DESC LIMIT 3"),
      s"top-n not pushed: ${scan.description()}")
    // Disjoint ranges + DESC 3 → only the highest-bound 3 segments planned.
    assert(scan.toBatch.planInputPartitions().length == 3)
    assert(df.as[(Long, Long, String, Double)].collect().map(_._1).toSeq ==
      Seq(40L, 39L, 38L))
    // ASC with a filter: exact under combined pushdowns.
    val asc = spark.read.format("graft-replay").load(dir)
      .where(col("wallet_id") === "w1")
      .orderBy(col("offset")).limit(2)
    assert(asc.as[(Long, Long, String, Double)].collect().map(_._1).toSeq ==
      Seq(1L, 5L))
  }

  test("top-n under a per-frame filter disables the segment cut (sparse key)") {
    // "w_rare" exists ONLY at offsets 39-40 (last segment). With the
    // wallet filter pushed AND fully consumed, a naive n-segment cut for
    // ORDER BY offset ASC LIMIT 1 would read only segment 1, find zero
    // matches, and return EMPTY instead of offset 39 — the bug class
    // this test exists for. The cut must fire only on filterless reads.
    val dir = tempDir("replay_opt").toString
    val docs = (1L to 40L).map { i =>
      (i, 1000L + (i - 1) * 10, if (i >= 39) "w_rare" else s"w${i % 4}", i * 1.5)
    }.toDF("offset", "ts_unix", "wallet_id", "amount")
    ReplayLog.writeSegments(docs, dir, 4)
    val df = spark.read.format("graft-replay").load(dir)
      .where(col("wallet_id") === "w_rare")
      .orderBy(col("offset")).limit(1)
    val scan = scanOf(df).asInstanceOf[ReplayScan]
    assert(!scan.description().contains("segment cut"),
      s"cut must not fire under a per-frame filter: ${scan.description()}")
    assert(scan.toBatch.planInputPartitions().length == 4)
    assert(df.as[(Long, Long, String, Double)].collect().map(_._1).toSeq ==
      Seq(39L))
  }

  test("ts top-n keeps all segments (overlap-safe) but bounds the emit") {
    val dir = tempDir("replay_opt").toString; writeLog(dir)
    val df = spark.read.format("graft-replay").load(dir)
      .orderBy(col("ts_unix").desc).limit(2)
    val scan = scanOf(df).asInstanceOf[ReplayScan]
    assert(scan.description().contains("PushedTopN: ORDER BY ts_unix DESC LIMIT 2"))
    // ts name bounds are not range-partitioned → no file-level cut.
    assert(scan.toBatch.planInputPartitions().length == 4)
    assert(df.as[(Long, Long, String, Double)].collect().map(_._2).toSeq ==
      Seq(1390L, 1380L))
  }

  test("_segment metadata column reports frame provenance") {
    val dir = tempDir("replay_opt").toString; writeLog(dir) // 4 disjoint range segments
    val df = spark.read.format("graft-replay").load(dir)
      .select(col("offset"), col("_segment"))
    // One segment name per disjoint offset quartile; offsets 1..10 in
    // the first, 31..40 in the last.
    val rows = df.as[(Long, String)].collect()
    assert(rows.length == 40)
    val bySeg = rows.groupBy(_._2)
    assert(bySeg.size == 4, s"expected 4 segments, got ${bySeg.keys}")
    bySeg.values.foreach { g =>
      assert(g.length == 10)
      assert(g.map(_._1).max - g.map(_._1).min == 9, "segment not a range")
    }
    assert(rows.forall(_._2.endsWith(".rlog")))
    // Not selected -> not produced (metadata columns ride pruning).
    assert(!spark.read.format("graft-replay").load(dir)
      .schema.fieldNames.contains("_segment"))
  }

  test("the writer rejects null columns loudly") {
    val dir = tempDir("replay_opt").toString
    val withNull = Seq((Some(1L), 1000L, Option.empty[String], 1.0),
      (Some(2L), 1010L, Some("w1"), 2.0))
      .toDF("offset", "ts_unix", "wallet_id", "amount")
    val e = intercept[org.apache.spark.SparkException] {
      withNull.write.format("graft-replay").mode("append").save(dir)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("does not accept null columns")),
      s"unexpected failure: ${messages(e)}")
  }
}
