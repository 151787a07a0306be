package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The shared exact-ground-truth artifact rests on the RANK-PREFIX
  * argument: the eval rows read one persisted k=5 ranking and take
  * `rank <= k'` prefixes, so that filter must be row-identical to running
  * the brute force directly at k'. The ranking's tie-break (cosine desc,
  * nid) is total, which is what makes the prefix exact — this spec pins
  * it for both metrics so a future tie-break change cannot silently skew
  * every recall/MRR row at once. */
class GroundTruthSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Deterministic small corpus: 40 vectors, dim 6, planted structure
  // (id and id+20 are near-identical so top-1 is never trivially self).
  private def corpus = (0L until 40L).map { i =>
    val base = (0 until 6).map(j =>
      math.sin((i % 20) * 1.7 + j * 0.9) + (if (i >= 20) 0.01 * j else 0.0))
    (i, base.map(_.toFloat).toArray, (i % 3).toInt)
  }.toDF("vec_id", "embedding", "label")

  test("cos rank<=k prefix of k=5 equals a direct k-run (k=1, 3)") {
    val emb = corpus
    val qs = emb.filter(col("vec_id") < 5)
    val full = Similarity.bruteForceTopK(emb, qs, k = 5)
    for (k <- Seq(1, 3)) {
      val direct = Similarity.bruteForceTopK(emb, qs, k = k)
        .select("qid", "rank", "nid", "cosine").collect().toSet
      val prefix = full.where(col("rank") <= k)
        .select("qid", "rank", "nid", "cosine").collect().toSet
      assert(prefix == direct, s"cos prefix k=$k diverged")
    }
  }

  test("l2 rank<=k prefix of k=3 equals a direct k-run (k=1)") {
    val emb = corpus
    val qs = emb.filter(col("vec_id") < 5)
    val full = Similarity.bruteForceL2TopK(emb, qs, k = 3)
    val direct = Similarity.bruteForceL2TopK(emb, qs, k = 1)
      .drop("dist").collect().toSet
    val prefix = full.where(col("rank") <= 1)
      .drop("dist").collect().toSet
    assert(prefix == direct)
  }

  test("exactGroundTruth artifact round-trips the direct ranking") {
    // In-memory frames bypass the disk tier (empty inputFiles → fp
    // recompute, no listing); the contract under test is values, not
    // the cache path (IndexReadThroughSpec covers that).
    val emb = corpus
    val qs = emb.filter(col("vec_id") < 5)
    val art = Similarity.exactGroundTruth(emb, k = 5, metric = "cos",
      params = "spec-q5")(qs)
    val direct = Similarity.bruteForceTopK(emb, qs, k = 5)
    assert(art.select("qid", "rank", "nid", "cosine").collect().toSet ==
      direct.select("qid", "rank", "nid", "cosine").collect().toSet)
  }
}
