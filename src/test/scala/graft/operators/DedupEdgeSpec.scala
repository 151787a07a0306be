package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** Degenerate-document behavior: docs with < 3 tokens have EMPTY shingle
  * sets, so every minhash row is null and all such docs collide into the
  * md5("") band bucket — the verify stage must still reject them (their
  * jaccard is 0/0 → NaN, which fails any threshold) rather than emit
  * false-positive pairs or crash. */
class DedupEdgeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, Long)*) =
    rows.toDF("doc_id", "text", "n_chars")

  test("short and empty docs produce no minhash pairs and no crash") {
    val d = docs(
      (1L, "one two", 7L),          // 2 tokens -> no shingles
      (2L, "tiny", 4L),             // 1 token
      (3L, "", 0L),                 // empty
      (4L, "a b c d e f g h", 15L)) // real shingles, but unique
    assert(Dedup.minhashLshPairs(d).count() == 0)
  }

  test("identical real docs still pair at jaccard 1.0 alongside degenerate ones") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      (1L, text, text.length.toLong),
      (2L, text, text.length.toLong),
      (3L, "x", 1L))
    val pairs = Dedup.minhashLshPairs(d)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("ngram jaccard is likewise immune to empty shingle sets") {
    val d = docs((1L, "one two", 7L), (2L, "uno dos", 7L))
    assert(Dedup.ngramJaccardPairs(d).count() == 0)
  }

  /** The two candidate strategies (length-band bucket join vs df-ordered
    * prefix filter) are both lossless for the thresholded output, so
    * forcing either via the cutover must give IDENTICAL pairs — on real
    * near-dups, disjoint docs, and degenerate (empty-shingle) docs.
    */
  test("banded and prefix-filtered candidates produce identical jaccard pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      (1L, base, base.length.toLong),
      (2L, base + " extra", (base.length + 6).toLong),    // near-dup of 1
      (3L, "completely different words appear in this one", 46L),
      (4L, "one two", 7L),                                // degenerate
      (5L, base.replace("quick", "slow"), base.length.toLong))
    def run(cutover: Long) = Seq(
      Dedup.ngramJaccardPairs(d, prefixCutover = cutover),
      Dedup.charJaccardPairs(d, prefixCutover = cutover))
      .map(_.as[(Long, Long, Double)].collect().toSeq.sorted)
    val Seq(ngramBanded, charBanded) = run(Long.MaxValue) // always banded
    val Seq(ngramPrefix, charPrefix) = run(0L)            // always prefix
    assert(ngramBanded == ngramPrefix)
    assert(charBanded == charPrefix)
    assert(ngramBanded.nonEmpty || charBanded.nonEmpty) // not vacuous
  }

  /** Exact-boundary Jaccard J = t: the pair must be KEPT (verify predicate
    * is ≥), by BOTH candidate strategies. This is the case the float
    * prefix bounds can silently drop: with t = 0.4 and |A| = 5 shingles,
    * 0.4·5 = 2.0000000000000004 in doubles, so an unguarded ceil
    * over-tightens ⌈t·|A|⌉ (and the PPJoin required-overlap
    * ⌈(|A|+|B|)·t/(1+t)⌉ = ⌈4.0…⌉) by 1 and the prefix path prunes a pair
    * the banded path keeps. Construction: word-3-gram sets with
    * |A| = 5, |B| = 9, |A∩B| = 4 → J = 4/10 = t exactly.
    */
  test("pair at exactly J = threshold is kept by both candidate strategies") {
    val shared = "sun sea sky sand stone star"              // 6 shared tokens → 4 shared trigrams
    val a = s"zebra $shared"                                // 7 tokens → 5 trigrams
    val b = s"bat bee bird boar bull $shared"               // 11 tokens → 9 trigrams
    val d = docs((1L, a, 50L), (2L, b, 50L))
    def run(cutover: Long) =
      Dedup.ngramJaccardPairs(d, maxDiff = 10, threshold = 0.4, prefixCutover = cutover)
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val banded = run(Long.MaxValue)
    val prefix = run(0L)
    assert(banded == Seq((1L, 2L, 0.4)), s"banded strategy dropped the J = t pair: $banded")
    assert(prefix == Seq((1L, 2L, 0.4)), s"prefix strategy dropped the J = t pair: $prefix")
  }

  /** File-backed corpora route the per-document derived tables (shingle
    * sets, prefix postings, simhash signatures, normalized edit prefixes)
    * through the IndexCache read-through — the COLD build, the WARM
    * artifact serve, and the in-memory inline path must all produce
    * identical pairs. cutover 0 forces the prefix branch so the cached
    * prefix index is exercised too (it only runs at smoke scale
    * otherwise). */
  test("file-backed corpora serve identical pairs through the index artifacts") {
    // Salt the corpus per run: the artifact fingerprint is content-derived
    // and the IndexCache root persists in /tmp across JVMs, so a fixed
    // fixture would serve a WARM artifact on every run after the first and
    // the cold-build leg below would silently stop exercising the
    // build+publish path.
    val salt = java.util.UUID.randomUUID().toString.take(8)
    val base = s"the quick brown fox $salt jumps over the lazy dog again and again"
    val d = docs(
      (1L, base, base.length.toLong),
      (2L, base + " extra", (base.length + 6).toLong),
      (3L, s"completely different words appear in this one $salt", 55L),
      (5L, base.replace("quick", "slow"), base.length.toLong))
    val dir = tempDir("dedup_rt").toString
    d.write.mode("overwrite").parquet(dir)
    val f = spark.read.parquet(dir)
    try {
    def charPairs(src: org.apache.spark.sql.DataFrame) =
      Dedup.charJaccardPairs(src, prefixCutover = 0L)
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val inline = charPairs(d)
    val cold = charPairs(f) // builds char8_shingles + char8_prefix_idx
    val warm = charPairs(f) // serves both artifacts
    assert(inline.nonEmpty)
    assert(cold == inline)
    assert(warm == inline)
    def simPairs(src: org.apache.spark.sql.DataFrame) =
      Dedup.simhashPairs(Dedup.simhashIndex(src))
        .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(simPairs(f) == simPairs(d))
    def edPairs(src: org.apache.spark.sql.DataFrame) =
      Dedup.editDistancePairs(src)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(edPairs(f) == edPairs(d))
    } finally {
      val root = new java.io.File(dir)
      Option(root.listFiles()).foreach(_.foreach(_.delete()))
      root.delete() // per-run artifacts stay in the IndexCache root (tiny)
    }
  }

  // Semantic dedup threshold extremes: > 1 can never fire (cosine ≤ 1, and
  // grid-rounding keeps equal vectors at exactly 1.0), so everything is
  // kept; ≤ -1 marks every pair similar, so exactly the min id of each
  // cluster survives.
  test("semanticDedup keeps all at threshold > 1 and one per cluster at -1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")

    val all = Dedup.semanticDedup(emb, k = 2, threshold = 1.1)
      .as[(Long, Long, Boolean)].collect()
    assert(all.forall(_._3), s"threshold > 1 must keep everything: ${all.toSeq}")

    val one = Dedup.semanticDedup(emb, k = 2, threshold = -1.0)
      .as[(Long, Long, Boolean)].collect()
    val keptPerCluster = one.groupBy(_._2).map { case (c, rows) =>
      c -> rows.filter(_._3).map(_._1).toSeq
    }
    assert(keptPerCluster.values.forall(_.size == 1))
    // The keeper is always the cluster's minimum vec_id.
    keptPerCluster.foreach { case (c, kept) =>
      val members = one.filter(_._2 == c).map(_._1)
      assert(kept.head == members.min)
    }
  }
}
