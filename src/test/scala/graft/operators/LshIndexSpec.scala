package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables
import graft.TestDirs.tempDir

/** Round-8 incremental-dedup index lifecycle (the LSH analog of
  * IvfIndexSpec): building persists a corpus-sized parquet index table
  * with the source content fingerprint; probing a new batch from the
  * artifact reproduces the inline two-sided path exactly; a stale
  * artifact (historical corpus changed since build) is REFUSED, not
  * silently probed. Also pins the asymmetry contract: no pair has both
  * sides in the batch or both in history.
  */
class LshIndexSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def split(df: org.apache.spark.sql.DataFrame) =
    (df.filter(col("doc_id") % 5 =!= 0), df.filter(col("doc_id") % 5 === 0))

  test("served-from-artifact probe equals the inline incremental path") {
    val docs = Tables.documents(spark, dir)
    val (hist, batch) = split(docs)
    val path = tempDir("graft_lsh_index_spec").toString + "/idx"
    Dedup.writeLshIndex(hist, path)
    val served = Dedup.lshServedPairs(hist, batch, path)
      .orderBy(col("new_id"), col("dup_of")).collect().toSeq
    val inline = Dedup.incrementalLshPairs(hist, batch)
      .orderBy(col("new_id"), col("dup_of")).collect().toSeq
    assert(served.nonEmpty)
    assert(served == inline)
    // Asymmetry: every pair is (batch doc, historical doc).
    served.foreach { r =>
      assert(r.getLong(0) % 5 == 0, s"new_id ${r.getLong(0)} not from the batch")
      assert(r.getLong(1) % 5 != 0, s"dup_of ${r.getLong(1)} not historical")
    }
  }

  test("compaction folds a batch without re-shingling and serves identically") {
    val docs = Tables.documents(spark, dir)
    val hist0 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4)
    val fold = docs.filter(col("doc_id") % 5 === 4)
    val (histFull, batch) = split(docs)
    val root = tempDir("graft_lshc_spec").toString
    Dedup.writeLshIndex(hist0, s"$root/seed")
    Dedup.compactLshIndex(hist0, fold, s"$root/seed", s"$root/merged")
    // The compacted artifact serves the FULL history fingerprint...
    val served = Dedup.lshServedPairs(histFull, batch, s"$root/merged")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ...and returns exactly what a from-scratch full-history index does.
    Dedup.writeLshIndex(histFull, s"$root/full")
    val fromScratch = Dedup.lshServedPairs(histFull, batch, s"$root/full")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == fromScratch)
    // Compacting against a mismatched history is refused.
    val ex = intercept[IllegalStateException] {
      Dedup.compactLshIndex(histFull, fold, s"$root/seed", s"$root/bad")
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("a stale index (historical corpus changed) is refused at serve time") {
    val docs = Tables.documents(spark, dir)
    val (hist, batch) = split(docs)
    val path = tempDir("graft_lsh_index_spec").toString + "/idx"
    Dedup.writeLshIndex(hist, path)
    val changed = hist.filter(col("doc_id") =!= 1)
    val e = intercept[IllegalStateException] {
      Dedup.lshServedPairs(changed, batch, path).collect()
    }
    assert(e.getMessage.contains("stale"))
  }
}
