package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables
import graft.TestDirs.tempDir

/** Round-13 one-pass sweep kernel: `ivfRecallSweep` computes the
  * recall-vs-probe-width curve by probing ONCE at max(width) and deriving
  * every width by cell-rank filter — this spec pins that each width's row
  * set is value-identical to the naive per-width path (serve at that
  * nProbe, join ground truth, aggregate), for both the in-corpus
  * (self-excluding) and external-query (cross-modal) variants.
  */
class RecallSweepSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def naiveWidth(emb: org.apache.spark.sql.DataFrame,
                         qs: org.apache.spark.sql.DataFrame,
                         bf: org.apache.spark.sql.DataFrame,
                         p: Int, path: String,
                         crossModal: Boolean): Seq[(Long, Long, Long)] = {
    val ivf =
      (if (crossModal) Similarity.ivfCrossModalTopK(emb, qs, k = 3, nProbe = p, path)
       else Similarity.ivfTopKServed(emb, qs, k = 3, nProbe = p, path))
        .select(col("qid"), col("nid"), lit(1).as("hit"))
    bf.join(ivf, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hit"))
      .select(lit(p.toLong).as("n_probe"), col("qid"), col("n_hit"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
  }

  test("sweep kernel == per-width serve path (in-corpus, self-excluding)") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 8)
    val path = tempDir("graft_sweep_spec").toString + "/idx"
    Similarity.writeIvfIndex(emb, nCells = 8, iters = 2, path)
    val bf = Similarity.bruteForceTopK(emb, qs, k = 3)
      .select(col("qid"), col("nid"))
    val probes = Seq(1, 2, 4)
    val sweep = Similarity.ivfRecallSweep(emb, qs, bf, k = 3, probes, path,
        selfExclude = true, queriesInCorpus = true)
      .select(col("n_probe"), col("qid"), col("n_hit"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
    val naive = probes.flatMap(p => naiveWidth(emb, qs, bf, p, path,
      crossModal = false)).sorted
    assert(sweep.nonEmpty)
    assert(sweep == naive)
  }

  test("sweep kernel == per-width serve path (external queries, no exclusion)") {
    val emb = Tables.embeddings(spark, dir)
    val img = graft.multimodal.Multimodal.alignedImageEmbeddings(emb)
      .filter(col("vec_id") < 8)
    val path = tempDir("graft_sweep_spec").toString + "/idx"
    Similarity.writeIvfIndex(emb, nCells = 8, iters = 2, path)
    val bf = Similarity.crossModalExactTopK(emb, img, k = 3)
      .select(col("qid"), col("nid"))
    val probes = Seq(1, 2, 4)
    val sweep = Similarity.ivfRecallSweep(emb, img, bf, k = 3, probes, path,
        selfExclude = false, queriesInCorpus = false)
      .select(col("n_probe"), col("qid"), col("n_hit"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
    val naive = probes.flatMap(p => naiveWidth(emb, img, bf, p, path,
      crossModal = true)).sorted
    assert(sweep.nonEmpty)
    assert(sweep == naive)
  }
}
