package graft.operators

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSpec}

/** Pins the read-through contract of the served-index queries: every
  * serve probes the persisted parquet index by its recorded fingerprint,
  * so a second serve must re-discover the artifact and NOT rebuild it —
  * the artifact files' mtimes are the witness (a rebuild rewrites them).
  * For the trained-model tier
  * (IVF centroids, PQ/residual codebooks, encoded code tables), the
  * witness is the IndexCache forensics counters: after the in-JVM model
  * LRU is cleared, a re-serve must resolve every model from the disk tier
  * (`.disk`) with zero retrains (`.train`) and zero re-encodes
  * (`.build`). */
class IndexReadThroughSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def artifactState(root: File): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).map(f => f.getPath -> f.lastModified()).toMap
  }

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  /** The named index dirs under the one artifact root whose names start
    * with `prefix` (named indexes are keyed by sf dir, not fingerprint).
    * Every serve runs their read-through probe, so a second serve is the
    * cache-clear case. */
  private def namedIndexDirs(prefix: String): Seq[File] =
    Option(new File(IndexCache.root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))

  test("sim_ivf_served survives a forced cache clear without retraining") {
    val first = run("sim_ivf_served")
    // The artifact root is deterministic across processes.
    val idxDirs = namedIndexDirs("ivf_")
    assert(idxDirs.nonEmpty, "no IVF index dir under the artifact root")
    val before = idxDirs.flatMap(artifactState).toMap
    assert(before.nonEmpty, "no IVF artifact persisted")

    val second = run("sim_ivf_served")

    val after = idxDirs.flatMap(artifactState).toMap
    assert(after == before,
      "cache clear triggered an index rebuild (artifact files changed)")
    assert(second == first, "served results changed across the cache clear")
  }

  test("dedup_lsh_served survives a forced cache clear without re-shingling") {
    val first = run("dedup_lsh_served")
    val idxDirs = namedIndexDirs("lsh_")
    assert(idxDirs.nonEmpty, "no LSH index dir under the artifact root")
    val before = idxDirs.flatMap(artifactState).toMap
    assert(before.nonEmpty, "no LSH artifact persisted")

    val second = run("dedup_lsh_served")

    val after = idxDirs.flatMap(artifactState).toMap
    assert(after == before,
      "cache clear triggered an index rebuild (artifact files changed)")
    assert(second == first, "served results changed across the cache clear")
  }

  /** Counter deltas of `body` for counters matching `pred`. */
  private def deltas(pred: String => Boolean)(body: => Unit): Map[String, Long] = {
    val before = IndexCache.forensicsSnapshot
    body
    IndexCache.forensicsSnapshot.flatMap { case (k, v) =>
      val d = v - before.getOrElse(k, 0L)
      if (d != 0 && pred(k)) Some(k -> d) else None
    }
  }

  test("IVF-PQ models and code tables resolve from the disk tier after a model-cache clear") {
    // Build everything once (cold or disk — either is fine).
    val first = run("sim_ivfpq_rerank")
    val firstRes = run("sim_ivfpq_residual")

    // Simulate a fresh process: in-JVM model LRU gone, artifacts on disk.
    Similarity.invalidateModelCache()
    val d = deltas(k => k.startsWith("ivf") || k.startsWith("pq")) {
      assert(run("sim_ivfpq_rerank") == first,
        "ivfpq results changed across the model-cache clear")
      assert(run("sim_ivfpq_residual") == firstRes,
        "residual ivfpq results changed across the model-cache clear")
    }
    val trained = d.filter { case (k, _) => k.endsWith(".train") }
    val rebuilt = d.filter { case (k, _) => k.endsWith(".build") }
    assert(trained.isEmpty, s"model-cache clear retrained models: $trained")
    assert(rebuilt.isEmpty, s"model-cache clear re-encoded code tables: $rebuilt")
    assert(d.exists { case (k, v) => k.endsWith(".disk") && v > 0 },
      s"expected at least one disk-tier resolve, got: $d")
  }

  test("pq codes artifact is shared between sim_pq_topk and sim_pq_rerank") {
    run("sim_pq_topk") // ensures the pq_codes artifact exists
    val d = deltas(_.startsWith("pq_codes")) { run("sim_pq_rerank") }
    assert(d.getOrElse("pq_codes.build", 0L) == 0L,
      s"sim_pq_rerank re-encoded the shared pq_codes artifact: $d")
  }

  test("served bigram LM equals the trained path and serves from artifacts") {
    val trained = run("corpus_bigram_nll").sorted
    run("corpus_nll_served") // cold: builds or disk-resolves the artifacts
    val d = deltas(_.startsWith("bigram_")) {
      assert(run("corpus_nll_served").sorted == trained,
        "served LM scoring diverged from the trained path")
    }
    assert(d.getOrElse("bigram_lm.build", 0L) == 0L &&
      d.getOrElse("bigram_uni.build", 0L) == 0L,
      s"warm re-serve rebuilt the LM artifacts: $d")
  }
}
