package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables
import graft.TestDirs.tempDir

/** k-means-trained IVF: determinism of the seeded Lloyd trainer and the
  * recall@3 / probe-cost tradeoff on a query set disjoint from the seeds
  * (vec_id 10-39 — the first 16 ids seed the centroids, so querying them
  * would flatter recall).
  *
  * The embeddings table is near-uniform random 64-dim (max pairwise cosine
  * ~0.51, no planted neighbors), which CAPS what any cell-partitioned ANN
  * can reach at fixed probe cost: exact top-3 neighbors of a random vector
  * are spread across cells, so recall at nProbe=2/16 sits near 50%
  * regardless of centroid quality (see PERF.md for the measured sweep).
  * The assertions pin the deterministic measured values as floors: trained
  * ≥ untrained at equal probe cost, both well above the 2/16 = 12.5%
  * random-assignment baseline.
  */
class IvfKmeansSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def topkIds(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("seeded Lloyd training is deterministic run-to-run") {
    val emb = Tables.embeddings(spark, dir)
    def centroids() = Similarity.trainIvfCentroids(emb, nCells = 16, iters = 3)
      .select(col("cid"), col("cv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(centroids() == centroids())
  }

  test("training moves centroids off their seeds") {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val trained = Similarity.trainIvfCentroids(emb, nCells = 16, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // Every surviving cell's centroid is a multi-vector mean, not its seed.
    assert(trained.nonEmpty)
    assert(trained.forall { case (cid, cv) => seeds(cid) != cv })
  }

  test("incremental ingest: batch vectors are searchable without retrain; stale index refused") {
    val emb = Tables.embeddings(spark, dir)
    val hist = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    val queries = emb.filter(col("vec_id") < 20)
    val path = tempDir("ivf_inc_spec")
      .resolve("idx").toString
    Similarity.writeIvfIndex(hist, nCells = 16, iters = 2, path = path)
    val merged = Similarity.ivfTopKIncremental(hist, batch, queries,
      k = 3, nProbe = 2, indexPath = path)
    val batchHits = merged.filter(col("nid") % 10 >= 8).count()
    // The delta segment is genuinely probed: newly ingested vectors show up
    // as neighbors even though the index was never retrained on them.
    assert(batchHits > 0, "no batch vector ever surfaced as a neighbor")
    assert(merged.groupBy(col("qid")).count().collect().forall(_.getLong(1) <= 3))
    // An index trained on a DIFFERENT corpus slice must be refused, not
    // silently served: the staleness check compares against the history fp.
    val ex = intercept[IllegalStateException] {
      Similarity.ivfTopKIncremental(batch, hist, queries, k = 3, nProbe = 2,
        indexPath = path).count()
    }
    assert(ex.getMessage.contains("stale"))
    // COMPACTION is invisible in results: folding the delta into the index
    // and serving the merged artifact returns exactly the incremental
    // serve's rows (same centroids, same merged corpus).
    val cPath = path + "_compacted"
    Similarity.compactIvfIndex(hist, batch, path, cPath)
    val served = Similarity.ivfTopKServed(emb, queries, k = 3, nProbe = 2,
      indexPath = cPath)
    assert(served.collect().toSet == merged.collect().toSet)
  }

  test("recall@3 at equal probe cost: trained >= untrained, both >> random") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
    val exact = topkIds(Similarity.bruteForceTopK(emb, queries, 3))
    val untrained = topkIds(Similarity.ivfTopK(emb, queries, 3, 16, 2, trainIters = 0))
    val trained = topkIds(Similarity.ivfTopK(emb, queries, 3, 16, 2, trainIters = 3))
    val uHits = (untrained intersect exact).size
    val tHits = (trained intersect exact).size
    assert(exact.size == 90)
    assert(tHits >= uHits)          // measured: 48 vs 42
    assert(tHits >= 45)             // deterministic floor (measured 48)
    assert(uHits > 90 * 2 / 16)     // both far above the random baseline
  }
}
