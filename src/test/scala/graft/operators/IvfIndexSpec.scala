package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables
import graft.TestDirs.tempDir

/** Round-7 IVF index lifecycle: training persists a parquet artifact with
  * the source content fingerprint as metadata; serving from the artifact
  * reproduces the in-process path exactly; a stale artifact (source
  * changed since build) is REFUSED, not silently served.
  */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("served-from-artifact IVF equals the in-process trained path") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val path = tempDir("graft_ivfidx_spec").toString + "/idx"
    Similarity.writeIvfIndex(emb, nCells = 16, iters = 3, path)
    val served = Similarity.ivfTopKServed(emb, q, k = 3, nProbe = 2, path)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val direct = Similarity.ivfTopK(emb, q, k = 3, nCells = 16, nProbe = 2,
        trainIters = 3)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(served.nonEmpty)
    assert(served == direct)
  }

  test("a stale index (different source content) is refused at serve time") {
    val emb = Tables.embeddings(spark, dir)
    val path = tempDir("graft_ivfidx_spec").toString + "/idx"
    Similarity.writeIvfIndex(emb, nCells = 16, iters = 1, path)
    // Same schema, different content: the fingerprint must mismatch.
    val changed = emb.filter(col("vec_id") >= 1)
    val e = intercept[IllegalStateException] {
      Similarity.ivfTopKServed(changed, changed.filter(col("vec_id") < 10),
        k = 3, nProbe = 2, path).collect()
    }
    assert(e.getMessage.contains("stale"))
  }
}
