package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.replay.ReplayLog
import graft.TestDirs.tempDir

/** DELETE FROM on replay logs: copy-on-write with bounds-planned I/O
  * (untouched segments keep their files, covered segments drop with
  * zero I/O, partial segments rewrite under -g names), pre-delete
  * snapshots immutable until expiry, truncate as a metadata operation. */
class ReplayDeleteSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val root = tempDir("replay_del").toString
  private val cat = "graft_del_test"
  spark.conf.set(s"spark.sql.catalog.$cat",
    "graft.sources.replay.ReplayCatalog")
  spark.conf.set(s"spark.sql.catalog.$cat.root", root)

  private def sample(lo: Long, hi: Long) = (lo to hi).map { i =>
    (i, 1000L + i * 10, s"w${i % 4}", i * 1.5)
  }.toDF("offset", "ts_unix", "wallet_id", "amount")

  private def rlogs(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(ReplayLog.Extension)).map(_.getName).toSet

  test("retention cut: covered segments drop with zero I/O, one boundary rewrite") {
    val dir = s"$root/ret"
    ReplayLog.writeSegments(sample(1, 40), dir, 4) // segments 1-10,11-20,21-30,31-40
    val before = rlogs(dir)
    spark.sql(s"DELETE FROM $cat.ret WHERE offset < 25")
    val live = ReplayLog.segments(dir)
    // 21-30 is the only partial segment: 1-10 and 11-20 dropped from the
    // manifest (files retained for the snapshot), 31-40 untouched (SAME
    // file name — no rewrite), 25-30 republished under a -g name.
    assert(live.map(l => (l.baseOffset, l.lastOffset)).toSet ==
      Set((25L, 30L), (31L, 40L)))
    val liveNames = live.map(s => new java.io.File(s.path).getName).toSet
    assert(liveNames.exists(n => n.contains("-g") && n.contains("00000025")),
      s"boundary rewrite missing: $liveNames")
    assert(liveNames.exists(n => !n.contains("-g") && before.contains(n)),
      "untouched segment was rewritten")
    // All original files still on disk (pre-delete snapshot references them).
    assert(before.subsetOf(rlogs(dir)))
    assert(spark.table(s"$cat.ret").count() == 16L)
    // Time travel to the pre-delete snapshot still sees all 40 frames.
    val vs = ReplayLog.versions(dir)
    assert(spark.read.format("graft-replay")
      .option("asOfVersion", (vs.last - 1).toString).load(dir).count() == 40L)
    // Expiry is the erasure point: dropped + replaced originals reclaimed.
    ReplayLog.expireSnapshots(dir, keepLast = 1)
    assert(rlogs(dir) == liveNames)
  }

  test("interior wallet delete rewrites every segment under fresh -g names") {
    val dir = s"$root/gdpr"
    ReplayLog.writeSegments(sample(1, 20), dir, 2)
    val before = rlogs(dir)
    spark.sql(s"DELETE FROM $cat.gdpr WHERE wallet_id = 'w1'")
    // w1 = offsets 1,5,9,13,17 — 5 frames gone from the live table.
    assert(spark.table(s"$cat.gdpr").count() == 15L)
    assert(spark.table(s"$cat.gdpr")
      .where(col("wallet_id") === "w1").count() == 0L)
    // Every live segment is a -g rewrite (bounds may coincide with the
    // originals — the generation is what keeps history intact).
    val liveNames = ReplayLog.segments(dir)
      .map(s => new java.io.File(s.path).getName)
    assert(liveNames.forall(_.contains("-g")), liveNames.mkString(","))
    assert(before.subsetOf(rlogs(dir)))
    // The pre-delete snapshot still serves the wallet.
    val vs = ReplayLog.versions(dir)
    assert(spark.read.format("graft-replay")
      .option("asOfVersion", (vs.last - 1).toString).load(dir)
      .where(col("wallet_id") === "w1").count() == 5L)
  }

  test("bare DELETE (truncate) is metadata-only; delete-all-by-bounds empties") {
    val dir = s"$root/trunc"
    ReplayLog.writeSegments(sample(1, 10), dir, 2)
    spark.sql(s"DELETE FROM $cat.trunc WHERE offset >= 1")
    assert(spark.table(s"$cat.trunc").count() == 0L)
    assert(ReplayLog.segments(dir).isEmpty)
    // Files retained for the snapshot; a new append restarts the log.
    assert(rlogs(dir).nonEmpty)
    sample(11, 15).repartition(1).createOrReplaceTempView("del_src")
    spark.sql(s"INSERT INTO $cat.trunc SELECT * FROM del_src")
    assert(spark.table(s"$cat.trunc").count() == 5L)
  }

  test("untranslatable predicates are refused, not half-applied") {
    val dir = s"$root/ref"
    ReplayLog.writeSegments(sample(1, 10), dir, 1)
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.ref WHERE amount > 5.0")
    }
    assert(e.getMessage != null)
    assert(spark.table(s"$cat.ref").count() == 10L)
  }
}
