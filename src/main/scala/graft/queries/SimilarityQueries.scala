package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.operators.{IndexCache, Similarity}
import graft.sources.Tables

/** Similarity search over the `embeddings` table: exact brute-force cosine
  * top-k (baseline) and sign-bucket LSH top-k (the scale path). Oracles
  * mirror the arithmetic exactly (double-widened dot products, round-6
  * cosine, id tie-break).
  */
object SimilarityQueries {

  /** BUILD step of the IVF index lifecycle: train once per sf dir and
    * persist the centroid table as a named parquet index under
    * [[IndexCache.root]]; every serve reads the artifact (and
    * staleness-checks its recorded fingerprint). Each call runs the
    * read-through probe (the artifact's recorded fingerprint against the
    * live corpus — driver metadata once memoized) and retrains only when
    * the artifact is absent or stale. */
  private def ivfIndexFor(s: SparkSession, d: String): String =
    IndexCache.namedIndex(s"ivf_$d")(Similarity.ivfIndexFresh(s, _, emb(s, d)))(
      Similarity.writeIvfIndex(emb(s, d), nCells = 16, iters = 3, _))

  /** Build step closing the ingest loop: COMPACT the history index + the
    * batch delta into a merged index artifact (history cells reused from
    * the artifact, only the batch assigned — see
    * [[Similarity.compactIvfIndex]]); serving then probes the merged
    * artifact with zero assignment work. */
  private def ivfCompactedIndexFor(s: SparkSession, d: String): String = {
    val e = emb(s, d)
    IndexCache.namedIndex(s"ivfc_$d")(Similarity.ivfIndexFresh(s, _, e))(
      Similarity.compactIvfIndex(e.filter(col("vec_id") % 10 < 8),
        e.filter(col("vec_id") % 10 >= 8), ivfHistIndexFor(s, d), _))
  }

  /** Build step for the INCREMENTAL-ingest scenario: an index trained on
    * the history subset only (vec_id % 10 < 8) — the state a continuously
    * ingesting deployment is in between centroid refreshes. */
  private def ivfHistIndexFor(s: SparkSession, d: String): String = {
    val hist = emb(s, d).filter(col("vec_id") % 10 < 8)
    IndexCache.namedIndex(s"ivfh_$d")(Similarity.ivfIndexFresh(s, _, hist))(
      Similarity.writeIvfIndex(hist, nCells = 16, iters = 2, _))
  }

  /** The embeddings table WITHOUT [[Tables.embeddings]]'s parallelism
    * repartition: every ANN kernel here is either followed by its own
    * shuffle (rank/ADC aggregation re-spreads the work) or map-side
    * against a broadcast model, so the up-front `repartition(32)` would
    * only add one full-table exchange per scan — and these queries scan
    * the table 2–5 times each. At real scale the source is already
    * many-way partitioned and the two loaders are identical. */
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** The cross-modal family's shared inputs as read-through artifacts
    * (keyed by corpus fingerprint): the synthetic image-side query table
    * and the brute-force ground truth. All four mm_crossmodal_* rows read
    * these instead of re-deriving the perturbation and re-scoring the
    * exact scan per query — same sharing the ivf_cells artifact already
    * gives the probe side (forensics shows xmodal_*.disk on warm draws). */
  private def xmodalQueries(s: SparkSession, d: String) = {
    val embT = emb(s, d)
    Similarity.crossModalQueryIndex(embT, "md5grid-n10")(
      graft.multimodal.Multimodal.alignedImageEmbeddings(embT)
        .filter(col("vec_id") < 10))
  }

  private def xmodalGroundTruth(s: SparkSession, d: String) =
    Similarity.crossModalGroundTruth(emb(s, d), k = 3,
      params = "md5grid-n10")(xmodalQueries(s, d))

  /** The text-side exact ground truths (vec_id < 10 query set) at the
    * max k any eval row needs; consumers take their rank prefix. The
    * artifact is built at a FIXED k (the max below), so a larger request
    * would silently receive a truncated prefix labeled as the exact
    * top-k — the requires enforce the rank-prefix contract at the call
    * site instead of assuming it. Raising the cap means raising the
    * artifact k AND re-keying its params (see the artifact playbook). */
  private[queries] def exactCosGt(s: SparkSession, d: String, k: Int) = {
    require(k <= 5, s"exactCosGt artifact is built at k=5; requested k=$k " +
      "would be a truncated prefix mislabeled as exact top-k")
    Similarity.exactGroundTruth(emb(s, d), k = 5, metric = "cos",
      params = "q10")(emb(s, d).filter(col("vec_id") < 10))
      .where(col("rank") <= k)
  }

  private def exactL2Gt(s: SparkSession, d: String, k: Int) = {
    require(k <= 3, s"exactL2Gt artifact is built at k=3; requested k=$k " +
      "would be a truncated prefix mislabeled as exact top-k")
    Similarity.exactGroundTruth(emb(s, d), k = 3, metric = "l2",
      params = "q10")(emb(s, d).filter(col("vec_id") < 10))
      .where(col("rank") <= k)
  }

  /** Each embedding as a DOUBLE list `v`, in CTE `name`. */
  private[queries] def embCte(name: String): String =
    s"$name AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  /** The dot product of lists `a` and `b` (lambda variable `i`). */
  private[queries] def dotSql(a: String, b: String, i: String = "i"): String =
    s"list_sum(list_transform(range(1, len($a) + 1), $i -> $a[$i] * $b[$i]))"

  /** The cosine of lists `a` and `b`, whose norms are `na` and `nb`, on
    * the 6-dp grid every cosine oracle ranks by. */
  private[queries] def cosineSql(a: String, b: String, na: String, nb: String,
                                 i: String = "i"): String =
    s"ROUND(${dotSql(a, b, i)} / ($na * $nb), 6)"

  /** The squared L2 distance of lists `a` and `b` on the 6-dp grid. */
  private def l2Sql(a: String, b: String, i: String = "i"): String =
    s"ROUND(list_sum(list_transform(range(1, len($a) + 1), $i -> ($a[$i] - $b[$i]) * ($a[$i] - $b[$i]))), 6)"

  /** Embeddings `e` and their norms: `n` (vec_id, v, `nrm`). */
  private[queries] def vectorNormsCte(e: String, n: String, nrm: String): String =
    s"${embCte(e)}, $n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS $nrm FROM $e)"

  private val normsCte = vectorNormsCte("e", "n", "nrm")

  /** The query vectors (vec_id < `nQueries`) as `q` (qid, qv, qn). */
  private def queriesCte(nQueries: Int): String =
    s"q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $nQueries)"

  /** `name`: every (query, other vector) pair of `q` × `n` with its cosine
    * as column `score`. */
  private def bruteScoredCte(name: String, score: String): String =
    s"$name AS (SELECT qid, c.vec_id AS nid, ${cosineSql("qv", "c.v", "qn", "c.nrm")} " +
      s"AS $score FROM q, n c WHERE c.vec_id != qid)"

  /** Each query's neighbors by cosine, ties to the lower id. */
  private val cosineRankSql =
    "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid)"

  /** `name`: the (qid, nid, cosine) rows of `from`, ranked `rank`. */
  private[queries] def rankedCte(name: String, from: String): String =
    s"$name AS (SELECT qid, nid, cosine, $cosineRankSql AS rank FROM $from)"

  /** `name`: the `cols` of the rows of `from` whose cosine rank `r`
    * satisfies `keep`. */
  private def topCte(name: String, cols: String, from: String, keep: String,
                     r: String = "rnk"): String =
    s"$name AS (SELECT $cols FROM (SELECT qid, nid, $cosineRankSql AS $r FROM $from) WHERE $r $keep)"

  /** The exact cosine ground truth: `bfs` scores every (query vec_id <
    * `nQueries`, other vector) pair of `n`, and `name` keeps the `cols` of
    * the ranks that `keep` admits. */
  private def exactCosSql(nQueries: Int, name: String, cols: String, keep: String): String =
    "bfs AS (SELECT q.vec_id AS qid, c.vec_id AS nid, " +
      s"${cosineSql("q.v", "c.v", "q.nrm", "c.nrm")} AS cosine " +
      s"FROM n q, n c WHERE q.vec_id < $nQueries AND c.vec_id != q.vec_id), " +
      topCte(name, cols, "bfs", keep)

  /** recall@k per query: the hits of `hits` against the ground truth `bf`,
    * from the select list on. */
  private def recallSql(hits: String, k: Int): String =
    s"bf.qid, CAST(COUNT($hits.hit) AS BIGINT) AS n_hit, " +
      s"ROUND(COUNT($hits.hit) / $k.0, 4) AS recall " +
      s"FROM bf LEFT JOIN $hits USING (qid, nid) GROUP BY bf.qid"

  /** The 4-bit sign bucket of vector `v`. */
  private[queries] val signBucketSql = (1 to 4).map(i =>
    s"(CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** The vectors of `n` with their sign bucket, as `nb`. */
  private val bucketsCte = s"nb AS (SELECT vec_id, v, nrm, $signBucketSql AS bucket FROM n)"

  /** `b`: the bucket width whose 2^bits buckets hold about 32 vectors of
    * `from` each, clamped to [2, 24] (Similarity.lshBitsFor). */
  private def bitsCte(from: String): String =
    "b AS (SELECT GREATEST(2, LEAST(24, CAST(CEIL(LN(COUNT(*) / 32.0) / LN(2)) AS INT))) " +
      s"AS bits FROM $from)"

  /** The `b.bits`-wide sign bucket of vector `v`. */
  private val adaptiveBucketSql = "array_to_string(list_transform(" +
    "range(1, (SELECT bits FROM b) + 1), " +
    "i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket"

  /** Shortlist-then-rerank over the query/candidate table `a` (qid, nid,
    * qv, nv, score columns): the first `shortlist` candidates by `order`
    * are re-scored by exact cosine and the top `k` returned. */
  private def shortlistRerankSql(order: String, shortlist: Int, k: Int): String =
    "s AS (SELECT qid, nid, nv, qv, ROW_NUMBER() OVER " +
      s"(PARTITION BY qid ORDER BY $order, nid) AS srank FROM a), " +
      "r AS (SELECT qid, nid, " +
      cosineSql("qv", "nv", s"sqrt(${dotSql("qv", "qv")})", s"sqrt(${dotSql("nv", "nv")})") +
      s" AS cosine FROM s WHERE srank <= $shortlist), " +
      rankedCte("t", "r") +
      s" SELECT qid, rank, nid, cosine FROM t WHERE rank <= $k ORDER BY qid, rank"

  val all: Seq[Q] = Seq(

    // Exact top-5 cosine neighbors for query vectors vec_id < 10.
    Q("sim_topk_bruteforce",
      s"WITH $normsCte, ${queriesCte(10)}, ${bruteScoredCte("scored", "cosine")}, " +
        s"${rankedCte("r", "scored")} " +
        "SELECT qid, rank, nid, cosine FROM r WHERE rank <= 5 ORDER BY qid, rank") {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.bruteForceTopK(embT, embT.filter(col("vec_id") < 10), k = 5)
          .orderBy(col("qid"), col("rank"))
    },

    // LSH-bucketed top-3: candidates restricted to the query's sign bucket.
    Q("sim_lsh_topk",
      s"WITH $normsCte, $bucketsCte, " +
        "q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket FROM nb WHERE vec_id < 10), " +
        "scored AS (SELECT qid, c.vec_id AS nid, " +
        s"${cosineSql("qv", "c.v", "qn", "c.nrm")} AS cosine FROM q JOIN nb c USING (bucket) WHERE c.vec_id != qid), " +
        s"${rankedCte("r", "scored")} " +
        "SELECT qid, rank, nid, cosine FROM r WHERE rank <= 3 ORDER BY qid, rank") { (s, d) =>
      val embT = emb(s, d)
      Similarity.lshBucketTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          bucketBits = 4)
        .orderBy(col("qid"), col("rank"))
    },

    // Multi-probe LSH top-3: query bucket + all 1-bit-flip neighbors.
    Q("sim_lsh_multiprobe", {
      // Probe i=0 keeps the bucket; i=1..4 flips bit i.
      val probes = "list_transform(range(0, 5), i -> CASE WHEN i = 0 THEN bucket " +
        "ELSE substr(bucket, 1, CAST(i - 1 AS INT)) || " +
        "(CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1' THEN '0' ELSE '1' END) || " +
        "substr(bucket, CAST(i + 1 AS INT), CAST(4 - i AS INT)) END)"
      s"WITH $normsCte, $bucketsCte, " +
        s"q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, unnest($probes) AS bucket " +
        "FROM nb WHERE vec_id < 10), " +
        "scored AS (SELECT DISTINCT qid, c.vec_id AS nid, " +
        s"${cosineSql("qv", "c.v", "qn", "c.nrm")} AS cosine FROM q JOIN nb c USING (bucket) WHERE c.vec_id != qid), " +
        s"${rankedCte("r", "scored")} " +
        "SELECT qid, rank, nid, cosine FROM r WHERE rank <= 3 ORDER BY qid, rank"
    }) { (s, d) =>
      val embT = emb(s, d)
      Similarity.lshMultiProbeTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          bucketBits = 4)
        .orderBy(col("qid"), col("rank"))
    },

    // kNN-GRAPH construction: top-3 neighbors for EVERY corpus vector via
    // a sign-bucket SELF-join (both sides the corpus — one bucket-keyed
    // shuffle each, in-bucket pairing; no broadcast query set). The edge
    // set SemDeDup / graph clustering starts from. bits derive from the
    // corpus size in BOTH engines (Similarity.lshBitsFor: smallest width
    // whose 2^bits buckets hold ≤32 rows each in expectation, clamped
    // [2,24]) so bucket population — and with it the quadratic in-bucket
    // pair cost — stays ~constant as the corpus grows. The oracle
    // computes the identical formula from its own COUNT(*); the two
    // engines could only disagree on a corpus whose n/32 lands exactly
    // on a power of two AND whose LN differs in the last ulp — not a
    // realistic corpus size, and the clamp bounds the blast radius.
    Q("sim_knn_graph",
      s"WITH $normsCte, ${bitsCte("n")}, " +
        s"nb AS (SELECT vec_id, v, nrm, $adaptiveBucketSql FROM n), " +
        "scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid, " +
        s"${cosineSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cosine " +
        "FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id), " +
        s"${rankedCte("r", "scored")} " +
        "SELECT qid, rank, nid, cosine FROM r WHERE rank <= 3 ORDER BY qid, rank") { (s, d) =>
      Similarity.knnGraph(emb(s, d), k = 3)
        .orderBy(col("qid"), col("rank"))
    },

    // ANN quality evaluation: recall@3 of the sign-bucket LSH index
    // against the exact brute-force neighbors, per query — the metric an
    // index deployment is actually judged by (an ANN result with
    // unmeasured recall is a guess). Ground truth and index answer are
    // the two existing kernels; the eval itself is a (qid, nid)-keyed
    // left join + per-query count, so its cost is O(queries·k) on top of
    // whatever the two kernels cost. The oracle replays both kernels and
    // the same join.
    Q("sim_recall_eval",
      s"WITH $normsCte, $bucketsCte, ${queriesCte(10)}, ${bruteScoredCte("bfs", "cosine")}, " +
        s"${topCte("bf", "qid, nid", "bfs", "<= 3")}, " +
        "qb AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket FROM nb WHERE vec_id < 10), " +
        "ls AS (SELECT qid, c.vec_id AS nid, " +
        s"${cosineSql("qv", "c.v", "qn", "c.nrm")} AS cosine FROM qb JOIN nb c USING (bucket) WHERE c.vec_id != qid), " +
        s"${topCte("lsh", "qid, nid, 1 AS hit", "ls", "<= 3")} " +
        s"SELECT ${recallSql("lsh", 3)} ORDER BY qid") { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf = exactCosGt(s, d, k = 3).select(col("qid"), col("nid"))
      val lsh = Similarity.lshBucketTopK(embT, qs, k = 3, bucketBits = 4)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      bf.join(lsh, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 3.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // Recall@3 of the SERVED IVF probe (persisted index, nProbe = 2)
    // against exact brute-force cosine — the IVF family's recall as an
    // oracle-checked row instead of prose. The oracle replays the full
    // k-means training plus both rankings in one statement.
    Q("sim_recall_ivf", ivfRecallSql(nCells = 16, iters = 3, k = 3,
      nProbe = 2, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf = exactCosGt(s, d, k = 3).select(col("qid"), col("nid"))
      val ivf = Similarity.ivfTopKServed(embT, qs, k = 3, nProbe = 2,
          indexPath = ivfIndexFor(s, d))
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      bf.join(ivf, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 3.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // The nProbe TUNING CURVE as data: recall@3 of the served index at
    // probe widths 1, 2, 4 in one statement — the recall-vs-probe-cost
    // artifact an ANN deployment publishes to pick its operating point.
    // Training and the exact ground truth are computed once; each width
    // reuses the same persisted index (forensics: ivf_cells.disk only).
    Q("sim_probe_sweep", ivfProbeSweepSql(nCells = 16, iters = 3, k = 3,
      probes = Seq(1, 2, 4), nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf = exactCosGt(s, d, k = 3).select(col("qid"), col("nid"))
      Similarity.ivfRecallSweep(embT, qs, bf, k = 3, probes = Seq(1, 2, 4),
          indexPath = ivfIndexFor(s, d), selfExclude = true,
          queriesInCorpus = true)
        .orderBy(col("n_probe"), col("qid"))
    },

    // MRR of the served IVF ranking: the reciprocal rank at which each
    // query's TRUE nearest neighbor (exact cosine top-1) appears in the
    // IVF top-10 — order-sensitive where recall@k is not (an index that
    // buries the true neighbor at rank 9 scores 0.1111, not 1/1). rr sits
    // on the 4-dp grid (rank <= 10 keeps 1/rank off half boundaries);
    // first_hit_rank = 0 means the true neighbor missed the probed cells.
    Q("sim_eval_mrr", ivfMrrSql(nCells = 16, iters = 3, listK = 10,
      nProbe = 2, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf1 = exactCosGt(s, d, k = 1).select(col("qid"), col("nid"))
      val ivf = Similarity.ivfTopKServed(embT, qs, k = 10, nProbe = 2,
          indexPath = ivfIndexFor(s, d))
        .select(col("qid"), col("nid"), col("rank"))
      bf1.join(ivf, Seq("qid", "nid"), "left")
        .select(col("qid"),
          coalesce(col("rank"), lit(0L)).as("first_hit_rank"),
          when(col("rank").isNotNull, round(lit(1.0) / col("rank"), 4))
            .otherwise(lit(0.0)).as("rr"))
        .orderBy(col("qid"))
    },

    // Recall@3 of pure-ADC PQ ranking against exact brute-force L2 (the
    // metric ADC approximates) — quantifies what the rerank stage buys:
    // sim_pq_rerank recovers most of what this row shows pure ADC loses.
    Q("sim_recall_pq", pqRecallSql(m = 8, nCodes = 16, iters = 2, k = 3,
      nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf = exactL2Gt(s, d, k = 3).select(col("qid"), col("nid"))
      val pq = Similarity.pqTopK(embT, qs, k = 3, m = 8, nCodes = 16,
          iters = 2)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      bf.join(pq, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 3.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // Recall@3 of the PQ + exact-rerank path against brute-force L2 —
    // the pinned counterpart of sim_recall_pq's 7/30 pure-ADC baseline:
    // the repaired number the docs cite (rerank recovers ~25/30) is
    // itself oracle-checked data, not prose.
    Q("sim_recall_pq_rerank", pqRerankRecallSql(m = 8, nCodes = 16,
      iters = 2, k = 3, shortlist = 50, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf = exactL2Gt(s, d, k = 3).select(col("qid"), col("nid"))
      val pq = Similarity.pqRerankTopK(embT, qs, k = 3, shortlist = 50,
          m = 8, nCodes = 16, iters = 2)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      bf.join(pq, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"),
          round(count(col("hit")) / 3.0, 4).as("recall"))
        .orderBy(col("qid"))
    },

    // IVF top-3 with k-means-trained centroids: 3 seeded Lloyd iterations
    // (deterministic — 6-dp distance/centroid grids + cid tie-break), then
    // nearest-cell assignment and a 2-cell probe. The oracle replays the
    // ENTIRE training loop in SQL (one CTE chain per iteration), so a
    // divergence anywhere in assign → average → re-assign breaks the hash.
    Q("sim_ivf_topk", ivfKmeansSql(nCells = 16, iters = 3, k = 3, nProbe = 2,
      nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          nCells = 16, nProbe = 2, trainIters = 3)
        .orderBy(col("qid"), col("rank"))
    },

    // The same trained IVF probe served from a PERSISTED index: training
    // runs once as a build step and writes the centroid table to parquet
    // (with the source fingerprint as index metadata); the query is pure
    // serve — read the k-row artifact, staleness-check, assign + probe.
    // Same oracle as sim_ivf_topk: the artifact round trip must be
    // invisible in the results.
    Q("sim_ivf_served", ivfServedOracleSql) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfTopKServed(embT, embT.filter(col("vec_id") < 10), k = 3,
          nProbe = 2, indexPath = ivfIndexFor(s, d))
        .orderBy(col("qid"), col("rank"))
    },

    // INCREMENTAL index update — continuous ingest for the vector index:
    // the persisted index is trained on the HISTORY corpus only (vec_id %
    // 10 < 8); the incoming batch (% 10 >= 8) is assigned to the EXISTING
    // centroids in one broadcast-model pass and unioned with the history's
    // persisted inverted file — append-without-retrain, per-ingest cost
    // tracks the batch. The oracle trains on the history subset and
    // assigns the full corpus with those centroids — exactly the merged
    // index the serve path probes.
    Q("sim_ivf_incremental", ivfIncrementalSql(nCells = 16, iters = 2, k = 3,
      nProbe = 2, nQueries = 8)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfTopKIncremental(
          embT.filter(col("vec_id") % 10 < 8),
          embT.filter(col("vec_id") % 10 >= 8),
          embT.filter(col("vec_id") < 8), k = 3, nProbe = 2,
          indexPath = ivfHistIndexFor(s, d))
        .orderBy(col("qid"), col("rank"))
    },

    // HARD-NEGATIVE mining — the contrastive-training data op (DPR/E5
    // recipe): for each query, positive = the exact nearest neighbor,
    // hard negatives = the top served-ANN hits that are NOT the positive
    // — similar enough to be informative, wrong enough to teach. Output
    // is the (query, positive, negative) triple table a dataloader
    // consumes. Built entirely from the served index + one exact top-1
    // pass over the bounded query set.
    Q("pipeline_hard_negatives", hardNegativesSql(nCells = 16, iters = 3,
      listK = 5, nNeg = 3, nProbe = 2, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      val qs = embT.filter(col("vec_id") < 10)
      val bf1 = exactCosGt(s, d, k = 1)
        .select(col("qid"), col("nid").as("pos_id"))
      val ivf = Similarity.ivfTopKServed(embT, qs, k = 5, nProbe = 2,
          indexPath = ivfIndexFor(s, d))
        .select(col("qid"), col("nid"), col("rank"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("rank"))
      ivf.join(bf1, "qid")
        .where(col("nid") =!= col("pos_id"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .where(col("neg_rank") <= 3)
        .select(col("qid"), col("pos_id"), col("neg_rank"),
          col("nid").as("neg_id"))
        .orderBy(col("qid"), col("neg_rank"))
    },

    // FILTERED ANN — same-label top-3 from the served index: the label
    // predicate applies INSIDE the candidate scan (post-filtering a
    // finished top-k can return < k results), and the label travels as a
    // payload column of the persisted inverted file, so serving needs no
    // corpus join. The oracle replays training + the label-constrained
    // probe.
    Q("sim_filtered_ann", ivfFilteredSql(nCells = 16, iters = 3, k = 3,
      nProbe = 2, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfTopKServedSameLabel(embT, embT.filter(col("vec_id") < 10),
          k = 3, nProbe = 2, indexPath = ivfIndexFor(s, d))
        .orderBy(col("qid"), col("rank"))
    },

    // COMPACTION closes the ingest loop: the delta is folded into the
    // persisted index as a build step (history cells reused from the
    // artifact, only the batch assigned; new centroid artifact records the
    // merged fingerprint), and this query is the PURE SERVE over the
    // compacted index — zero assignment work, forensics shows
    // ivf_cells.disk only. Same oracle as sim_ivf_incremental: compaction
    // must be invisible in results (same centroids, same merged corpus).
    Q("sim_ivf_compacted", ivfIncrementalSql(nCells = 16, iters = 2, k = 3,
      nProbe = 2, nQueries = 8)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfTopKServed(embT, embT.filter(col("vec_id") < 8), k = 3,
          nProbe = 2, indexPath = ivfCompactedIndexFor(s, d))
        .orderBy(col("qid"), col("rank"))
    },

    // Product-quantization top-3 via asymmetric distance: per-subspace
    // seeded Lloyd codebooks (2 iterations), 8-bytes-per-vector codes, ADC
    // scoring. The oracle replays codebook training, encoding, AND the
    // distance-table scoring — the full PQ build/serve cycle in SQL.
    Q("sim_pq_topk", pqSql(m = 8, nCodes = 16, iters = 2, k = 3,
      nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.pqTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          m = 8, nCodes = 16, iters = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // PQ shortlist (ADC top-50) + exact re-rank — the production serve
    // shape; recovers 25/30 of the exact top-3 where pure ADC gets 7/30.
    Q("sim_pq_rerank", pqRerankSql(m = 8, nCodes = 16, iters = 2, k = 3,
      shortlist = 50, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.pqRerankTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          shortlist = 50, m = 8, nCodes = 16, iters = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // Scalar-quantization (int8) shortlist + exact rerank: per-dim bounds
    // map every vector to 64 int8 codes; the INTEGER approximate dot
    // ranks a 50-candidate shortlist (exact arithmetic — the shortlist is
    // engine-deterministic by construction), and only the shortlist pays
    // full-precision cosine. The memory-bandwidth ANN path: the big scan
    // touches codes, not floats.
    Q("sim_sq_rerank",
      s"WITH ${embCte("e")}, " +
        "d AS (SELECT unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM e), " +
        "mm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY i), " +
        "b AS (SELECT list(mn ORDER BY i) AS mns, " +
        "list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END ORDER BY i) AS ws FROM mm), " +
        "c AS (SELECT vec_id, v, list_transform(range(1, len(v) + 1), " +
        "i -> CAST(floor((v[i] - mns[i]) / ws[i] * 254.0 + 0.5) AS BIGINT) - 127) " +
        "AS codes FROM e, b), " +
        "q AS (SELECT vec_id AS qid, v AS qv, codes AS qcodes FROM c WHERE vec_id < 10), " +
        "a AS (SELECT qid, c.vec_id AS nid, c.v AS nv, qv, " +
        s"${dotSql("qcodes", "c.codes")} AS iscore FROM q, c WHERE c.vec_id != qid), " +
        shortlistRerankSql("iscore DESC", shortlist = 50, k = 5)) {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.sqRerankTopK(embT, embT.filter(col("vec_id") < 10),
            k = 5, shortlist = 50)
          .orderBy(col("qid"), col("rank"))
    },

    // 1-bit binary quantization: sign bits packed into two 32-bit words
    // (8 bytes per 64-dim vector — 32× less scan traffic than float32),
    // Hamming (popcount-of-xor) shortlist, exact cosine rerank. Both the
    // packing and the Hamming score are integer-exact, so the shortlist is
    // engine-deterministic; shifts stay ≤ 31 because a 1<<63 BIGINT shift
    // overflows in some engines. The last rung of the quantization ladder
    // next to int8 (sim_sq_rerank) and PQ (sim_pq_rerank).
    // Top-principal-component projection: PCA trained as an aggregation
    // (covariance sufficient statistics in EXACT integer space on a 1e-4
    // grid — the distributed sums are order-free longs, no rounding
    // discipline needed), 3 power iterations snapped to a 1e-6 grid with
    // the engine-portable floor(x+0.5), projection as one map-side fold
    // against the broadcast eigenvector. The oracle replays the grid
    // quantization, the integer moments, the iteration chain, AND the
    // projection — the full train+apply cycle in SQL.
    Q("sim_pca_project", pcaSql(iters = 3, d = 64)) { (s, d) =>
      Similarity.pcaProject(emb(s, d), iters = 3).orderBy(col("vec_id"))
    },

    Q("sim_binary_rerank",
      s"WITH ${embCte("e")}, " +
        "c AS (SELECT vec_id, v, " +
        "list_sum(list_transform(range(1, 33), " +
        "i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS w0, " +
        "list_sum(list_transform(range(33, 65), " +
        "i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS w1 " +
        "FROM e), " +
        "q AS (SELECT vec_id AS qid, v AS qv, w0 AS qw0, w1 AS qw1 FROM c " +
        "WHERE vec_id < 10), " +
        "a AS (SELECT qid, c.vec_id AS nid, c.v AS nv, qv, " +
        "bit_count(xor(c.w0, qw0)) + bit_count(xor(c.w1, qw1)) AS ham " +
        "FROM q, c WHERE c.vec_id != qid), " +
        shortlistRerankSql("ham", shortlist = 50, k = 5)) {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.binaryRerankTopK(embT, embT.filter(col("vec_id") < 10),
            k = 5, shortlist = 50)
          .orderBy(col("qid"), col("rank"))
    },

    // IVF-PQ composite — the FAISS-style production serve at 100 TB:
    // coarse IVF routing cuts candidates to nProbe cells, ADC over 8-byte
    // PQ codes cuts scan bandwidth 32x, exact L2 reranks only the
    // shortlist survivors. The oracle replays BOTH training pipelines
    // (i-/p-prefixed CTEs) plus the cell-filtered ADC and rerank.
    Q("sim_ivfpq_rerank", ivfPqSql(nCells = 16, ivfIters = 2, nProbe = 2,
      m = 8, nCodes = 16, pqIters = 2, shortlist = 30, k = 3,
      nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfPqRerankTopK(embT, embT.filter(col("vec_id") < 10), k = 3,
          nCells = 16, ivfIters = 2, nProbe = 2, m = 8, nCodes = 16,
          pqIters = 2, shortlist = 30)
        .orderBy(col("qid"), col("rank"))
    },

    // RESIDUAL IVF-PQ (the FAISS default): codebooks train on — and codes
    // encode — v − centroid(cell(v)), spending the 8 bytes on the
    // within-cell geometry the coarse quantizer already localized; the
    // query side carries one residual per probed cell, so the broadcast
    // ADC table keys on (qid, cell, sub, cid).
    Q("sim_ivfpq_residual", ivfPqResidualSql(nCells = 16, ivfIters = 2,
      nProbe = 2, m = 8, nCodes = 16, pqIters = 2, shortlist = 30, k = 3,
      nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfPqResidualRerankTopK(embT, embT.filter(col("vec_id") < 10),
          k = 3, nCells = 16, ivfIters = 2, nProbe = 2, m = 8, nCodes = 16,
          pqIters = 2, shortlist = 30)
        .orderBy(col("qid"), col("rank"))
    },

    // Truncated-prefix (matryoshka-style) shortlist + exact rerank: the
    // approximate score is the dot over only the first 16 dims — d/16 of
    // the scan arithmetic — rounded to 6 dp before ranking so the
    // shortlist is engine-portable; full cosine reranks the survivors.
    Q("sim_prefix_rerank",
      s"WITH ${embCte("e")}, " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        "a AS (SELECT qid, c.vec_id AS nid, c.v AS nv, qv, " +
        "ROUND(list_sum(list_transform(range(1, 17), i -> qv[i] * c.v[i])), 6) " +
        "AS pscore FROM q, e c WHERE c.vec_id != qid), " +
        shortlistRerankSql("pscore DESC", shortlist = 50, k = 5)) {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.prefixRerankTopK(embT, embT.filter(col("vec_id") < 10),
            k = 5, shortlist = 50, prefixDims = 16)
          .orderBy(col("qid"), col("rank"))
    },

    // MMR diversified rerank (Similarity.mmrRerank): greedy top-4 from an
    // 8-deep shortlist, λ = 0.7 relevance vs μ = 0.3 redundancy. The
    // greedy recursion has a FIXED depth, so the oracle unrolls it into
    // k chained CTE blocks (window functions are barred from recursive
    // terms; unrolling keeps the per-round argmax + (score DESC, nid)
    // tie-break bit-identical to the Spark loop).
    // Large×large ANN join (Similarity.annJoin): even vec_ids = corpus,
    // odd = queries — NEITHER side is broadcast-able by declaration, so
    // both hash into corpus-size-derived sign buckets and meet in one
    // bucket-keyed shuffle join (AQE may still broadcast at small SF —
    // the production posture). The oracle replays the adaptive bit
    // formula over the corpus half.
    Q("sim_ann_join",
      s"WITH $normsCte, " +
        "csd AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 0), " +
        "qsd AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 1), " +
        s"${bitsCte("csd")}, " +
        s"cb AS (SELECT vec_id, v, nrm, $adaptiveBucketSql FROM csd), " +
        s"qb AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, $adaptiveBucketSql FROM qsd), " +
        "scored AS (SELECT q.qid, c.vec_id AS nid, " +
        s"${cosineSql("qv", "c.v", "qn", "c.nrm")} AS cosine FROM qb q JOIN cb c USING (bucket)), " +
        s"${rankedCte("r", "scored")} " +
        "SELECT qid, rank, nid, cosine FROM r WHERE rank <= 3 ORDER BY qid, rank") {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.annJoin(embT.filter(col("vec_id") % 2 === 0),
            embT.filter(col("vec_id") % 2 === 1), k = 3)
          .orderBy(col("qid"), col("rank"))
    },

    // Exact radius search (Similarity.rangeSearch): all neighbors at
    // cosine >= 0.25 for the bounded query set — the similarity-floor
    // API; the corpus is scanned map-side against the broadcast queries
    // and nothing shuffles. The 0.25 literal parses to the identical
    // double in both engines; cosine is on the 6-dp grid before the >=.
    Q("sim_range_search",
      s"WITH $normsCte, ${queriesCte(10)}, ${bruteScoredCte("sc", "cosine")} " +
        "SELECT qid, nid, cosine FROM sc WHERE cosine >= 0.25 ORDER BY qid, nid") {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.rangeSearch(embT, embT.filter(col("vec_id") < 10),
            minCosine = 0.25)
          .orderBy(col("qid"), col("nid"))
    },

    Q("sim_mmr_rerank", mmrSql(shortlist = 8, k = 4, nQueries = 10)) {
      (s, d) =>
        val embT = emb(s, d)
        Similarity.mmrRerank(embT, embT.filter(col("vec_id") < 10),
            shortlist = 8, k = 4, lamTenths = 7, muTenths = 3)
          .orderBy(col("qid"), col("it"))
    },

    // Semantic benchmark contamination: the embedding-level complement
    // to `contamination_ngram` — benchmark items (vec_id % 37 == 0)
    // probe the SAME persisted IVF index the serve path reads for
    // non-benchmark neighbors at cosine >= 0.35 (an IVF-accelerated
    // range search: the radius predicate runs inside the cell-filtered
    // scan, never post-filtering a finished top-k). Every benchmark
    // item reports — contaminated rows carry the hit count and top hit,
    // clean rows a zero/null census line. The oracle replays training +
    // full-corpus assignment + the probed radius scan + the census.
    Q("contamination_semantic", semanticContaminationSql) { (s, d) =>
      Similarity.semanticContamination(emb(s, d), benchMod = 37,
          minCosine = 0.35, nProbe = 2, indexPath = ivfIndexFor(s, d))
        .orderBy(col("qid"))
    },

    // CROSS-MODAL retrieval (the CLIP shape): deterministic synthetic
    // image-side embeddings aligned to the text corpus
    // (Multimodal.alignedImageEmbeddings — md5-grid offsets, no RNG)
    // retrieve text items through the SAME persisted IVF index every
    // other serve path reads. No self-exclusion: the aligned text item
    // is the ideal hit. The oracle replays k-means training, the
    // image-side perturbation, the 2-cell probe, and the ranking.
    Q("mm_crossmodal_topk", crossModalTopkSql(nCells = 16, iters = 3,
      k = 3, nProbe = 2, nQueries = 10)) { (s, d) =>
      val embT = emb(s, d)
      Similarity.ivfCrossModalTopK(embT, xmodalQueries(s, d), k = 3,
          nProbe = 2, indexPath = ivfIndexFor(s, d))
        .orderBy(col("qid"), col("rank"))
    },

    // Cross-modal recall@3 vs exact brute force over the shared space —
    // the sim_recall_* pattern: the modality gap's cost through the IVF
    // probe is pinned as oracle-checked data, and aligned_hit records
    // whether each image found ITS OWN text in the IVF top-3.
    Q("mm_crossmodal_recall", crossModalRecallSql(nCells = 16, iters = 3,
      k = 3, nProbe = 2, nQueries = 10)) { (s, d) =>
      crossModalRecallDf(s, d, nProbe = 2)
    },

    // The cross-modal nProbe TUNING CURVE — the sim_probe_sweep repair
    // applied to the modality-gap path: recall@3 of image→text retrieval
    // through the SAME persisted IVF index at widths 1, 2, 4, 8.
    // Perturbed queries land near cell boundaries more often than
    // in-corpus queries (the modality gap), so their recall-vs-width
    // curve climbs later than the text path's; this query pins the whole
    // curve as oracle data so the operating point (mm_crossmodal_tuned)
    // is a documented choice, not a guess. Ground truth and the probe
    // ranking are computed once; every width reuses the shared index
    // (forensics: ivf_cells.disk only).
    Q("mm_crossmodal_sweep", crossModalSweepSql(nCells = 16, iters = 3,
      k = 3, probes = Seq(1, 2, 4, 8), nQueries = 10)) { (s, d) =>
      val bf = xmodalGroundTruth(s, d).select(col("qid"), col("nid"))
      Similarity.ivfRecallSweep(emb(s, d), xmodalQueries(s, d), bf, k = 3,
          probes = Seq(1, 2, 4, 8), indexPath = ivfIndexFor(s, d),
          selfExclude = false, queriesInCorpus = false)
        .orderBy(col("n_probe"), col("qid"))
    },

    // The REPAIRED cross-modal operating point, picked off the sweep
    // curve: same recall@3 + aligned_hit census as mm_crossmodal_recall
    // but at nProbe = 8 (of 16 cells) — the first width on the sweep
    // curve at recall ≥ 27/30 (widths 1/2/4/8 measure 20/22/25/28 at
    // oracle scale; the perturbed queries' cell-boundary placement makes
    // the curve climb later than the text path's, so the modality gap
    // honestly costs a wider probe). The default-width row stays
    // registered as the cost-floor baseline; this row is the
    // quality-floor serve configuration.
    Q("mm_crossmodal_tuned", crossModalRecallSql(nCells = 16, iters = 3,
      k = 3, nProbe = 8, nQueries = 10)) { (s, d) =>
      crossModalRecallDf(s, d, nProbe = 8)
    },

    // CLUSTER-BALANCED subsampling — diversity-aware curation (the
    // SSL/DINOv2-style data-curation shape): instead of sampling the
    // corpus uniformly (which over-represents dense regions), keep a
    // fixed per-cluster QUOTA from the PERSISTED IVF assignment — the
    // cluster membership is the same ivf_cells artifact every serve path
    // reads, and the per-cluster pick is the deterministic md5-reservoir
    // (Sampling.groupSample: smallest (md5(vec_id), vec_id) per cluster),
    // so any engine replays the kept set and a re-run keeps a vector's
    // fate. One cid-keyed shuffle serves BOTH the membership census and
    // the quota window (same partitioning — the exchange is reused).
    // Output carries n_members so downstream mixing can weight by the
    // density the quota flattened.
    Q("pipeline_cluster_balance", clusterBalanceSql(nCells = 16, iters = 3,
      quota = 4)) { (s, d) =>
      val a = Similarity.ivfAssignments(emb(s, d), ivfIndexFor(s, d))
      val wC = Window.partitionBy(col("cid"))
      graft.operators.Sampling.groupSample(
          a.withColumn("n_members", count(lit(1)).over(wC)),
          group = col("cid"), key = col("vec_id"), n = 4)
        .select(col("cid"), col("vec_id"), col("n_members"))
        .orderBy(col("cid"), col("vec_id"))
    }
  )

  /** Shared body of the cross-modal recall rows (baseline width 2,
    * tuned width 8): recall@3 + aligned_hit census for the image->text
    * probe at one width — ONE implementation so a fix to the hit join or
    * the census can never make the baseline and tuned rows incomparable. */
  private def crossModalRecallDf(s: SparkSession, d: String,
                                 nProbe: Int): org.apache.spark.sql.DataFrame = {
    val ivf = Similarity.ivfCrossModalTopK(emb(s, d), xmodalQueries(s, d),
        k = 3, nProbe = nProbe, indexPath = ivfIndexFor(s, d))
      .select(col("qid"), col("nid"), lit(1).as("hit"))
    val bf = xmodalGroundTruth(s, d).select(col("qid"), col("nid"))
    val rec = bf.join(ivf, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hit"),
        round(count(col("hit")) / 3.0, 4).as("recall"))
    val aligned = ivf.groupBy(col("qid"))
      .agg(max(when(col("nid") === col("qid"), 1L).otherwise(0L))
        .as("aligned_hit"))
    rec.join(aligned, "qid").orderBy(col("qid"))
  }

  /** Oracle for pipeline_cluster_balance: trained-cell assignment +
    * per-cluster census + the md5-reservoir quota pick. */
  private def clusterBalanceSql(nCells: Int, iters: Int, quota: Int): String =
    ivfTrainedCellSql(nCells, iters) + ", " +
      "m AS (SELECT cid, COUNT(*)::BIGINT AS n_members FROM cell GROUP BY 1), " +
      "rq AS (SELECT cid, nid, ROW_NUMBER() OVER (PARTITION BY cid " +
      "ORDER BY substr(md5(nid::VARCHAR), 1, 4), nid) AS rn FROM cell) " +
      s"SELECT rq.cid, rq.nid AS vec_id, m.n_members FROM rq JOIN m USING (cid) " +
      s"WHERE rn <= $quota ORDER BY cid, vec_id"

  /** DuckDB replay of the cross-modal chain up to the ranked CTE `cmr2`:
    * the trained-cell prefix, the image-side perturbation
    * (md5 hex-digit grid — note `(i - 1)` matches Spark transform's
    * 0-based lambda index), the nProbe cell probe, and cosine scoring
    * WITHOUT self-exclusion. */
  /** The probe-width-independent prefix of the cross-modal replay:
    * trained cells, the image-side perturbation, and the per-(query,
    * centroid) distance table `cmd`. */
  private def crossModalBaseSql(nCells: Int, iters: Int,
                                nQueries: Int): String = {
    def hexDigit(pos: Int): String = {
      val a = "ascii(substr(md5(vec_id::VARCHAR || '|' || " +
        s"(i - 1)::VARCHAR), $pos, 1))"
      s"(CASE WHEN $a <= 57 THEN $a - 48 ELSE $a - 87 END)"
    }
    ivfTrainedCellSql(nCells, iters) + ", " +
      "img AS (SELECT vec_id, list_transform(v, (x, i) -> x + " +
      s"(((${hexDigit(1)} * 16 + ${hexDigit(2)}) % 41) - 20) / 100.0) AS qv " +
      s"FROM e WHERE vec_id < $nQueries), " +
      s"cmq AS (SELECT vec_id AS qid, qv, sqrt(${dotSql("qv", "qv", "k")}) AS qn FROM img), " +
      s"cmd AS (SELECT q.qid, c.cid, ${l2Sql("q.qv", "c.cv", "k")} " +
      s"AS dist FROM cmq q, cent$iters c)"
  }

  /** The image-side query's cosine to a probed cell member. */
  private def crossModalCosineSql = cosineSql("q.qv", "cell.nv", "q.qn", "cell.nn", "k")

  /** The cross-modal exact ground truth `bf`: each image query's top-`k`
    * text vectors of `n` by cosine (no self-exclusion). */
  private def crossModalGtSql(k: Int): String =
    s"bfs AS (SELECT q.qid, c.vec_id AS nid, ${cosineSql("q.qv", "c.v", "q.qn", "c.nrm", "k")} " +
      "AS cosine FROM cmq q, n c), " +
      topCte("bf", "qid, nid", "bfs", s"<= $k")

  private def crossModalCoreSql(nCells: Int, iters: Int, nProbe: Int,
                                nQueries: Int): String =
    crossModalBaseSql(nCells, iters, nQueries) + ", " +
      "cmp AS (SELECT qid, cid FROM (SELECT qid, cid, ROW_NUMBER() OVER " +
      s"(PARTITION BY qid ORDER BY dist, cid) AS rn FROM cmd) WHERE rn <= $nProbe), " +
      s"cmsc AS (SELECT q.qid, cell.nid, $crossModalCosineSql " +
      "AS cosine FROM cmq q JOIN cmp USING (qid) JOIN cell USING (cid)), " +
      rankedCte("cmr2", "cmsc")

  /** The cross-modal nProbe tuning curve: recall@k of the image→text IVF
    * probe at each width, against the shared exact ground truth — the
    * [[ivfProbeSweepSql]] pattern with the modality-gap query side and
    * no self-exclusion. */
  private def crossModalSweepSql(nCells: Int, iters: Int, k: Int,
                                 probes: Seq[Int], nQueries: Int): String = {
    val perProbe = probes.map { p =>
      s"cmsc$p AS (SELECT q.qid, cell.nid, $crossModalCosineSql " +
        "AS cosine FROM cmq q JOIN (SELECT qid, cid FROM cmrf WHERE " +
        s"rn <= $p) pr ON pr.qid = q.qid JOIN cell USING (cid)), " +
        topCte(s"cmivf$p", "qid, nid, 1 AS hit", s"cmsc$p", s"<= $k", "rank")
    }.mkString(", ")
    val recalls = probes.map(p =>
      s"SELECT CAST($p AS BIGINT) AS n_probe, ${recallSql(s"cmivf$p", k)}"
    ).mkString(" UNION ALL ")
    crossModalBaseSql(nCells, iters, nQueries) + ", " +
      "cmrf AS (SELECT qid, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, cid) AS rn FROM cmd), " +
      s"$perProbe, ${crossModalGtSql(k)} " +
      s"SELECT * FROM ($recalls) ORDER BY n_probe, qid"
  }

  private def crossModalTopkSql(nCells: Int, iters: Int, k: Int,
                                nProbe: Int, nQueries: Int): String =
    crossModalCoreSql(nCells, iters, nProbe, nQueries) +
      s" SELECT qid, rank, nid, cosine FROM cmr2 WHERE rank <= $k ORDER BY qid, rank"

  private def crossModalRecallSql(nCells: Int, iters: Int, k: Int,
                                  nProbe: Int, nQueries: Int): String =
    crossModalCoreSql(nCells, iters, nProbe, nQueries) +
      s", ivf AS (SELECT qid, nid, 1 AS hit FROM cmr2 WHERE rank <= $k), " +
      s"${crossModalGtSql(k)}, rec AS (SELECT ${recallSql("ivf", k)}), " +
      "ah AS (SELECT qid, CAST(MAX(CASE WHEN nid = qid THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS aligned_hit FROM ivf GROUP BY qid) " +
      "SELECT rec.qid, rec.n_hit, rec.recall, ah.aligned_hit " +
      "FROM rec JOIN ah USING (qid) ORDER BY qid"

  /** `table` bound as `alias`: bare when the two names agree. */
  private def aliased(table: String, alias: String): String =
    if (table == alias) table else s"$table $alias"

  /** Per-subspace seeded Lloyd codebooks over the subvector CTE `sv`:
    * `${p}cent0` = the first `nCodes` subvectors, then `iters` rounds on
    * the 6-dp grid with a cid tie-break, the final distance table `${p}df`
    * and each subvector's nearest code, `codes`. */
  private def pqCodebookSql(p: String, nCodes: Int, iters: Int): String = {
    def dist(name: String, cent: String) =
      s"$name AS (SELECT s.vec_id, s.sub, c.cid, ${l2Sql("s.s", "c.cv")} " +
        s"AS dist FROM sv s JOIN $cent c USING (sub))"
    val train = (1 to iters).map { t =>
      dist(s"${p}d$t", s"${p}cent${t - 1}") + ", " +
        s"${p}a$t AS (SELECT vec_id, sub, cid FROM (SELECT vec_id, sub, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn " +
        s"FROM ${p}d$t) WHERE rn = 1), " +
        s"${p}s$t AS (SELECT a.sub, a.cid, u.pos, ROUND(AVG(u.val), 6) AS val " +
        s"FROM ${p}a$t a JOIN ${aliased(s"${p}u", "u")} ON u.vec_id = a.vec_id AND u.sub = a.sub " +
        "GROUP BY a.sub, a.cid, u.pos), " +
        s"${p}cent$t AS (SELECT sub, cid, list(val ORDER BY pos) AS cv FROM ${p}s$t " +
        "GROUP BY sub, cid)"
    }.mkString(", ")
    s"${p}u AS (SELECT vec_id, sub, unnest(s) AS val, " +
      "unnest(range(1, len(s) + 1)) AS pos FROM sv), " +
      s"${p}cent0 AS (SELECT sub, CAST(vec_id AS BIGINT) AS cid, s AS cv FROM sv " +
      s"WHERE vec_id < $nCodes), " +
      s"$train, " +
      dist(s"${p}df", s"${p}cent$iters") + ", " +
      "codes AS (SELECT vec_id AS nid, sub, cid FROM (SELECT vec_id, sub, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn " +
      s"FROM ${p}df) WHERE rn = 1)"
  }

  /** DuckDB replay of [[Similarity.pqTopK]] up to the ranked-ADC CTE `r`:
    * subvector split → per-subspace Lloyd (same 6-dp grids + cid tie-break,
    * subspace as a grouping key) → encode → ADC distance-table scoring. */
  private def pqCoreSql(m: Int, nCodes: Int, iters: Int,
                        nQueries: Int): String =
    s"WITH ${embCte("e")}, " +
      s"sv AS (SELECT vec_id, sub, list_slice(v, sub * (len(v) // $m) + 1, " +
      s"(sub + 1) * (len(v) // $m)) AS s FROM e, range(0, $m) r(sub)), " +
      pqCodebookSql("", nCodes, iters) + ", " +
      s"dtab AS (SELECT vec_id AS qid, sub, cid, dist AS d FROM df " +
      s"WHERE vec_id < $nQueries), " +
      "sc AS (SELECT qid, nid, ROUND(SUM(d), 6) AS adist FROM codes " +
      "JOIN dtab USING (sub, cid) WHERE nid != qid GROUP BY qid, nid), " +
      "r AS (SELECT qid, nid, adist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY adist, nid) AS rank FROM sc)"

  private def pqSql(m: Int, nCodes: Int, iters: Int, k: Int,
                    nQueries: Int): String =
    pqCoreSql(m, nCodes, iters, nQueries) +
      s" SELECT qid, rank, nid, adist FROM r WHERE rank <= $k ORDER BY qid, rank"

  /** The exact L2 rerank of the shortlist `cand` (qid, nid): `resc`
    * re-scores it from the full vectors of `e` and `rr` ranks it. */
  private def l2RerankCtes: String =
    s"resc AS (SELECT c.qid, c.nid, ${l2Sql("a.v", "b.v")} " +
      "AS dist FROM cand c JOIN e a ON a.vec_id = c.qid " +
      "JOIN e b ON b.vec_id = c.nid), " +
      "rr AS (SELECT qid, nid, dist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, nid) AS rank FROM resc)"

  private def l2RerankTopSql(k: Int): String =
    s"SELECT qid, rank, nid, dist FROM rr WHERE rank <= $k ORDER BY qid, rank"

  /** recall@k of the hit table `pq` against the exact brute-force L2
    * top-k of the queries vec_id < `nQueries`. */
  private def pqRecallTailSql(k: Int, nQueries: Int): String =
    "bfs AS (SELECT a.vec_id AS qid, b.vec_id AS nid, " +
      s"${l2Sql("a.v", "b.v")} AS dist " +
      s"FROM e a, e b WHERE a.vec_id < $nQueries AND b.vec_id != a.vec_id), " +
      "bf AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, nid) AS rnk FROM bfs) " +
      s"WHERE rnk <= $k) " +
      s"SELECT ${recallSql("pq", k)} ORDER BY qid"

  /** [[pqSql]]'s ranking truncated at `shortlist`, then exact L2 re-scored
    * from the full vectors — mirrors [[Similarity.pqRerankTopK]]. */
  private def pqRerankSql(m: Int, nCodes: Int, iters: Int, k: Int,
                          shortlist: Int, nQueries: Int): String =
    pqCoreSql(m, nCodes, iters, nQueries) +
      s", cand AS (SELECT qid, nid FROM r WHERE rank <= $shortlist), " +
      s"$l2RerankCtes ${l2RerankTopSql(k)}"

  /** Recall of the PQ rerank path: pqRerankSql's shortlist + exact-rerank
    * CTE chain, then the same recall-vs-brute-force accounting as
    * [[pqRecallSql]]. */
  private def pqRerankRecallSql(m: Int, nCodes: Int, iters: Int, k: Int,
                                shortlist: Int, nQueries: Int): String =
    pqCoreSql(m, nCodes, iters, nQueries) +
      s", cand AS (SELECT qid, nid FROM r WHERE rank <= $shortlist), " +
      s"$l2RerankCtes, " +
      s"pq AS (SELECT qid, nid, 1 AS hit FROM rr WHERE rank <= $k), " +
      pqRecallTailSql(k, nQueries)

  /** DuckDB replay of [[Similarity.ivfPqRerankTopK]]: the ivfKmeansSql
    * training pipeline (i-prefixed CTEs) and the pqCoreSql pipeline
    * (p-prefixed) composed — ADC scoring restricted to each query's
    * `nProbe` probed cells, shortlist by ADC distance, exact L2 rerank. */
  private def ivfPqSql(nCells: Int, ivfIters: Int, nProbe: Int, m: Int,
                       nCodes: Int, pqIters: Int, shortlist: Int, k: Int,
                       nQueries: Int): String =
    ivfPqProbeSql(nCells, ivfIters, nProbe, nQueries) +
      // PQ codebooks + codes.
      s"sv AS (SELECT vec_id, sub, list_slice(v, sub * (len(v) // $m) + 1, " +
      s"(sub + 1) * (len(v) // $m)) AS s FROM e, range(0, $m) r(sub)), " +
      pqCodebookSql("p", nCodes, pqIters) + ", " +
      s"dtab AS (SELECT vec_id AS qid, sub, cid, dist AS d FROM pdf " +
      s"WHERE vec_id < $nQueries), " +
      // ADC over probed cells only, shortlist, exact rerank.
      "sc AS (SELECT p.qid, c.nid, ROUND(SUM(t.d), 6) AS adist " +
      "FROM codes c JOIN cell USING (nid) JOIN probe p USING (cell) " +
      "JOIN dtab t ON t.qid = p.qid AND t.sub = c.sub AND t.cid = c.cid " +
      "WHERE c.nid != p.qid GROUP BY p.qid, c.nid), " +
      ivfPqRerankSql(shortlist, k)

  /** DuckDB replay of [[Similarity.ivfPqResidualRerankTopK]]: the same
    * i-/p-prefixed composition as [[ivfPqSql]], with PQ training, encoding
    * and the ADC table all computed on RESIDUALS (v − assigned-cell
    * centroid; the query side gets one residual per probed cell, so the
    * distance table keys on (qid, cell, sub, cid)). */
  private def ivfPqResidualSql(nCells: Int, ivfIters: Int, nProbe: Int,
                               m: Int, nCodes: Int, pqIters: Int,
                               shortlist: Int, k: Int, nQueries: Int): String =
    ivfPqProbeSql(nCells, ivfIters, nProbe, nQueries) +
      // Corpus residuals against the ASSIGNED cell centroid.
      s"rescv AS (SELECT c.nid AS vec_id, list_transform(range(1, len(e.v) + 1), " +
      s"i -> e.v[i] - ic.cv[i]) AS r FROM cell c JOIN e ON e.vec_id = c.nid " +
      s"JOIN icent$ivfIters ic ON ic.cid = c.cell), " +
      s"sv AS (SELECT vec_id, sub, list_slice(r, sub * (len(r) // $m) + 1, " +
      s"(sub + 1) * (len(r) // $m)) AS s FROM rescv, range(0, $m) r2(sub)), " +
      pqCodebookSql("p", nCodes, pqIters) + ", " +
      // Query residual per PROBED cell; ADC table keyed by (qid, cell).
      s"qres AS (SELECT p.qid, p.cell, list_transform(range(1, len(e.v) + 1), " +
      s"i -> e.v[i] - ic.cv[i]) AS rq FROM probe p JOIN e ON e.vec_id = p.qid " +
      s"JOIN icent$ivfIters ic ON ic.cid = p.cell), " +
      s"qsv AS (SELECT qid, cell, sub, list_slice(rq, sub * (len(rq) // $m) + 1, " +
      s"(sub + 1) * (len(rq) // $m)) AS s FROM qres, range(0, $m) r3(sub)), " +
      s"dtab AS (SELECT q.qid, q.cell, q.sub, c.cid, ${l2Sql("q.s", "c.cv")} AS d " +
      s"FROM qsv q JOIN pcent$pqIters c USING (sub)), " +
      "sc AS (SELECT p.qid, c.nid, ROUND(SUM(t.d), 6) AS adist " +
      "FROM codes c JOIN cell cl ON cl.nid = c.nid JOIN probe p ON p.cell = cl.cell " +
      "JOIN dtab t ON t.qid = p.qid AND t.cell = cl.cell AND t.sub = c.sub AND t.cid = c.cid " +
      "WHERE c.nid != p.qid GROUP BY 1, 2), " +
      ivfPqRerankSql(shortlist, k)

  /** The IVF-PQ replays' coarse quantizer, through the `cell` (inverted
    * file) and `probe` CTEs: the i-prefixed k-means over `e`. Ends in ", ". */
  private def ivfPqProbeSql(nCells: Int, ivfIters: Int, nProbe: Int,
                            nQueries: Int): String =
    s"WITH ${embCte("e")}, ${kmeansSql("i", "e", "e", nCells, ivfIters)}, " +
      "cell AS (SELECT vec_id AS nid, cid AS cell FROM irf WHERE rn = 1), " +
      s"probe AS (SELECT vec_id AS qid, cid AS cell FROM irf " +
      s"WHERE rn <= $nProbe AND vec_id < $nQueries), "

  /** The IVF-PQ replays' tail over their ADC scores `sc`: the ADC
    * shortlist, then the exact L2 rerank of its survivors. */
  private def ivfPqRerankSql(shortlist: Int, k: Int): String =
    "r AS (SELECT qid, nid, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY adist, nid) AS srank FROM sc), " +
      s"cand AS (SELECT qid, nid FROM r WHERE srank <= $shortlist), " +
      s"$l2RerankCtes ${l2RerankTopSql(k)}"

  /** `name`: the 6-dp L2 distance of each vector `e` of `from` to every
    * centroid of `cent`. */
  private def centroidDistCte(name: String, from: String, cent: String): String =
    s"$name AS (SELECT e.vec_id, c.cid, ${l2Sql("e.v", "c.cv")} AS dist FROM $from, $cent c)"

  /** DuckDB replay of [[Similarity.trainIvfCentroids]] over the vectors
    * of `src`: `${p}cent0` = its first `nCells` vectors; each of `iters`
    * iterations ranks the sequential (v[i]-cv[i])² distance (rounded to
    * the 6-dp grid, cid tie-break) and re-averages per (cell, dimension)
    * onto the same grid — exactly the Spark arithmetic, so assignments
    * match bit-for-bit. Then every vector of `assign` (bound as `e`) is
    * ranked against the final centroids, as `${p}rf`. */
  private def kmeansSql(p: String, src: String, assign: String, nCells: Int,
                        iters: Int): String = {
    val train = (1 to iters).map { t =>
      centroidDistCte(s"${p}d$t", aliased(src, "e"), s"${p}cent${t - 1}") + ", " +
        s"${p}a$t AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        s"(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ${p}d$t) WHERE rn = 1), " +
        s"${p}s$t AS (SELECT a.cid, u.pos, ROUND(AVG(u.val), 6) AS val " +
        s"FROM ${p}a$t a JOIN ${aliased(s"${p}u", "u")} USING (vec_id) GROUP BY a.cid, u.pos), " +
        s"${p}cent$t AS (SELECT cid, list(val ORDER BY pos) AS cv FROM ${p}s$t GROUP BY cid)"
    }.mkString(", ")
    s"${p}u AS (SELECT vec_id, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos FROM $src), " +
      s"${p}cent0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv FROM $src WHERE vec_id < $nCells), " +
      s"$train, " +
      centroidDistCte(s"${p}df", assign, s"${p}cent$iters") + ", " +
      s"${p}rf AS (SELECT vec_id, cid, ROW_NUMBER() OVER " +
      s"(PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ${p}df)"
  }

  /** The inverted file `cell`: each vector's nearest cell (by `rf`),
    * with the vector and its norm. */
  private def ivfCellCte: String =
    "cell AS (SELECT r.vec_id AS nid, r.cid, n.v AS nv, n.nrm AS nn " +
      "FROM rf r JOIN n ON n.vec_id = r.vec_id WHERE r.rn = 1)"

  /** `name`: each query's probed cells — the `rf` ranks `where` admits —
    * with the query vector and norm (qid, cid, qv, qn). */
  private def probeCte(name: String, where: String): String =
    s"$name AS (SELECT r.vec_id AS qid, r.cid, n.v AS qv, n.nrm AS qn " +
      s"FROM rf r JOIN n ON n.vec_id = r.vec_id WHERE $where)"

  /** `name`: every member of the cells probed in `probe`, scored by cosine
    * against its query; `rest` joins or filters the pairs. */
  private def cellScoredCte(name: String, probe: String, rest: String): String =
    s"$name AS (SELECT qid, nid, ${cosineSql("qv", "nv", "qn", "nn")} AS cosine " +
      s"FROM $probe JOIN cell USING (cid) $rest)"

  /** The IVF probe over `cell`: queries vec_id < `nQueries` probe their
    * `nProbe` nearest cells, ranked as `r2`. */
  private def ivfProbeRankSql(nProbe: Int, nQueries: Int): String =
    probeCte("probe", s"r.rn <= $nProbe AND r.vec_id < $nQueries") + ", " +
      cellScoredCte("scored", "probe", "WHERE nid != qid") + ", " +
      rankedCte("r2", "scored")

  private def r2TopSql(k: Int): String =
    s" SELECT qid, rank, nid, cosine FROM r2 WHERE rank <= $k ORDER BY qid, rank"

  /** DuckDB replay of the trained IVF top-k: [[kmeansSql]] training plus
    * the nProbe cell probe. */
  private def ivfKmeansSql(nCells: Int, iters: Int, k: Int, nProbe: Int,
                           nQueries: Int): String =
    ivfKmeansCoreSql(nCells, iters, nProbe, nQueries) + r2TopSql(k)

  /** The `sim_ivf_served` oracle, shared with the streaming serve query
    * (`stream_ann_serve`): the micro-batch split of the query stream must
    * be invisible in the served rows. */
  private[queries] def ivfServedOracleSql: String =
    ivfKmeansSql(nCells = 16, iters = 3, k = 3, nProbe = 2, nQueries = 10)

  /** The served-index artifact path for the streaming serve query. */
  private[queries] def servedIndexPath(s: SparkSession, d: String): String =
    ivfIndexFor(s, d)

  /** [[ivfKmeansSql]] up to the ranked CTE `r2` — reused by the recall
    * evaluation, which joins the IVF ranking against an exact
    * brute-force top-k computed in the same statement. */
  private[queries] def ivfKmeansCoreSql(nCells: Int, iters: Int, nProbe: Int,
                               nQueries: Int): String =
    ivfTrainedCellSql(nCells, iters) + ", " + ivfProbeRankSql(nProbe, nQueries)

  /** DuckDB replay of [[Similarity.semanticContamination]]: the shared
    * trained-cell chain, the % 37 benchmark probe at nProbe 2, the
    * radius cut at 0.35 over non-benchmark cell-mates, and the per-item
    * census with clean rows preserved through LEFT JOINs. */
  private def semanticContaminationSql: String =
    ivfTrainedCellSql(nCells = 16, iters = 3) + ", " +
      probeCte("probe", "r.rn <= 2 AND r.vec_id % 37 = 0") + ", " +
      cellScoredCte("sc", "probe", "WHERE nid % 37 != 0") + ", " +
      "hits AS (SELECT * FROM sc WHERE cosine >= 0.35), " +
      "cnt AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_hits, " +
      "MAX(cosine) AS top_cosine FROM hits GROUP BY qid), " +
      topCte("top", "qid, nid AS top_nid", "hits", "= 1", "rn") + ", " +
      "b AS (SELECT vec_id AS qid FROM e WHERE vec_id % 37 = 0) " +
      "SELECT b.qid, COALESCE(cnt.n_hits, 0) AS n_hits, " +
      "cnt.n_hits IS NOT NULL AS contaminated, top.top_nid, cnt.top_cosine " +
      "FROM b LEFT JOIN cnt ON b.qid = cnt.qid LEFT JOIN top ON b.qid = top.qid " +
      "ORDER BY b.qid"

  /** The k-means training replay through `rf` (full-corpus assignment
    * ranks) and `cell` (the final inverted file) — the probe-independent
    * prefix shared by every trained-IVF oracle. */
  private def ivfTrainedCellSql(nCells: Int, iters: Int): String =
    s"WITH $normsCte, ${kmeansSql("", "e", "e", nCells, iters)}, $ivfCellCte"

  /** Hard-negative replay: the IVF ranking (depth `listK`) joined to the
    * exact top-1, positives removed, first `nNeg` survivors kept. */
  private def hardNegativesSql(nCells: Int, iters: Int, listK: Int,
                               nNeg: Int, nProbe: Int, nQueries: Int): String =
    ivfKmeansCoreSql(nCells, iters, nProbe, nQueries) +
      s", ivf AS (SELECT qid, nid, rank FROM r2 WHERE rank <= $listK), " +
      exactCosSql(nQueries, "bf1", "qid, nid AS pos_id", "= 1") + ", " +
      "negs AS (SELECT i.qid, b.pos_id, i.nid AS neg_id, ROW_NUMBER() OVER " +
      "(PARTITION BY i.qid ORDER BY i.rank) AS neg_rank " +
      "FROM ivf i JOIN bf1 b ON b.qid = i.qid WHERE i.nid != b.pos_id) " +
      s"SELECT qid, pos_id, neg_rank, neg_id FROM negs WHERE neg_rank <= $nNeg " +
      "ORDER BY qid, neg_rank"

  /** Filtered-ANN replay: the trained probe with a same-label constraint
    * applied inside the candidate scan (labels joined from the source
    * table — the engine carries them as index payload). */
  private def ivfFilteredSql(nCells: Int, iters: Int, k: Int, nProbe: Int,
                             nQueries: Int): String =
    ivfTrainedCellSql(nCells, iters) + ", " +
      "lab AS (SELECT vec_id, label FROM embeddings), " +
      "probe AS (SELECT r.vec_id AS qid, r.cid, n.v AS qv, n.nrm AS qn, lq.label AS qlab " +
      s"FROM rf r JOIN n ON n.vec_id = r.vec_id JOIN lab lq ON lq.vec_id = r.vec_id " +
      s"WHERE r.rn <= $nProbe AND r.vec_id < $nQueries), " +
      cellScoredCte("scored", "probe",
        "JOIN lab la ON la.vec_id = nid WHERE nid != qid AND la.label = qlab") + ", " +
      rankedCte("r2", "scored") + r2TopSql(k)

  /** Recall@k at SEVERAL probe widths in one statement — the tuning
    * curve an ANN deployment publishes (recall vs probe cost). Training
    * and the exact ground truth are computed once; each width gets its
    * own probe/rank/recall chain. */
  private def ivfProbeSweepSql(nCells: Int, iters: Int, k: Int,
                               probes: Seq[Int], nQueries: Int): String = {
    val perProbe = probes.map { p =>
      probeCte(s"probe$p", s"r.rn <= $p AND r.vec_id < $nQueries") + ", " +
        cellScoredCte(s"scored$p", s"probe$p", "WHERE nid != qid") + ", " +
        topCte(s"ivf$p", "qid, nid, 1 AS hit", s"scored$p", s"<= $k", "rank")
    }.mkString(", ")
    val recalls = probes.map(p =>
      s"SELECT CAST($p AS BIGINT) AS n_probe, ${recallSql(s"ivf$p", k)}"
    ).mkString(" UNION ALL ")
    ivfTrainedCellSql(nCells, iters) + s", $perProbe, " +
      exactCosSql(nQueries, "bf", "qid, nid", s"<= $k") +
      s" SELECT * FROM ($recalls) ORDER BY n_probe, qid"
  }

  /** DuckDB replay of [[Similarity.ivfTopKIncremental]]: k-means training
    * restricted to the HISTORY subset (vec_id % 10 < 8) — seeds, distance
    * ranking, and per-(cell, dim) re-averaging all over history rows only
    * — then the FULL corpus (history + batch) assigned with the final
    * history-trained centroids, which is exactly the merged inverted file
    * (persisted history cells ∪ batch delta) the serve path probes. */
  private def ivfIncrementalSql(nCells: Int, iters: Int, k: Int, nProbe: Int,
                                nQueries: Int): String =
    s"WITH $normsCte, " +
      "h AS (SELECT vec_id, v FROM e WHERE vec_id % 10 < 8), " +
      s"${kmeansSql("", "h", "e e", nCells, iters)}, $ivfCellCte, " +
      ivfProbeRankSql(nProbe, nQueries) + r2TopSql(k)

  /** Recall@k of the trained-IVF probe against exact brute-force cosine
    * top-k, per query — both rankings computed in one statement. */
  private def ivfRecallSql(nCells: Int, iters: Int, k: Int, nProbe: Int,
                           nQueries: Int): String =
    ivfKmeansCoreSql(nCells, iters, nProbe, nQueries) +
      s", ivf AS (SELECT qid, nid, 1 AS hit FROM r2 WHERE rank <= $k), " +
      exactCosSql(nQueries, "bf", "qid, nid", s"<= $k") +
      s" SELECT ${recallSql("ivf", k)} ORDER BY qid"

  /** MRR replay: the IVF ranking (trained probe, list depth `listK`)
    * left-joined against each query's exact cosine top-1. */
  private def ivfMrrSql(nCells: Int, iters: Int, listK: Int, nProbe: Int,
                        nQueries: Int): String =
    ivfKmeansCoreSql(nCells, iters, nProbe, nQueries) +
      s", ivf AS (SELECT qid, nid, rank FROM r2 WHERE rank <= $listK), " +
      exactCosSql(nQueries, "bf1", "qid, nid", "= 1") +
      " SELECT bf1.qid, COALESCE(ivf.rank, 0) AS first_hit_rank, " +
      "CASE WHEN ivf.rank IS NULL THEN 0.0 ELSE ROUND(1.0 / ivf.rank, 4) END AS rr " +
      "FROM bf1 LEFT JOIN ivf USING (qid, nid) ORDER BY qid"

  /** Recall@k of pure-ADC PQ ranking against exact brute-force L2 top-k
    * (ADC approximates L2 — recall is measured in the index's own
    * metric), per query. */
  private def pqRecallSql(m: Int, nCodes: Int, iters: Int, k: Int,
                          nQueries: Int): String =
    pqCoreSql(m, nCodes, iters, nQueries) +
      s", pq AS (SELECT qid, nid, 1 AS hit FROM r WHERE rank <= $k), " +
      pqRecallTailSql(k, nQueries)

  /** DuckDB replay of [[Similarity.mmrRerank]]: shortlist + pairwise sims,
    * then the k greedy rounds UNROLLED (p1/s1 … pk) — each round scores
    * the unpicked shortlist rows with λ·rel − μ·max-sim-to-selected on the
    * 6-dp grid and takes the per-query (mmr DESC, nid) argmax. */
  private def mmrSql(shortlist: Int, k: Int, nQueries: Int,
                     lamTenths: Int = 7, muTenths: Int = 3): String = {
    val base =
      s"WITH $normsCte, ${queriesCte(nQueries)}, ${bruteScoredCte("sc", "rel")}, " +
        "sl AS (SELECT qid, nid, CAST(ROUND(rel * 1000000) AS BIGINT) AS reli " +
        "FROM (SELECT qid, nid, rel, ROW_NUMBER() OVER " +
        "(PARTITION BY qid ORDER BY rel DESC, nid) AS rk FROM sc) " +
        s"WHERE rk <= $shortlist), " +
        "sv AS (SELECT s.qid, s.nid, n.v, n.nrm FROM sl s JOIN n ON s.nid = n.vec_id), " +
        "ps AS (SELECT a.qid, a.nid AS a, b.nid AS b, " +
        s"CAST(ROUND(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) * 1000000) AS BIGINT) " +
        "AS simi FROM sv a JOIN sv b ON a.qid = b.qid AND a.nid != b.nid), " +
        "p1 AS (SELECT qid, nid, mmri FROM (SELECT qid, nid, mmri, ROW_NUMBER() OVER " +
        "(PARTITION BY qid ORDER BY mmri DESC, nid) AS rn FROM " +
        s"(SELECT qid, nid, $lamTenths * reli AS mmri FROM sl)) WHERE rn = 1), " +
        "s1 AS (SELECT qid, nid FROM p1)"
    val rounds = (2 to k).map { t =>
      val prev = t - 1
      s", m$t AS (SELECT c.qid, c.nid, c.reli, MAX(p.simi) AS maxsimi " +
        s"FROM sl c JOIN ps p ON p.qid = c.qid AND p.a = c.nid " +
        s"JOIN s$prev s ON s.qid = p.qid AND s.nid = p.b " +
        s"WHERE NOT EXISTS (SELECT 1 FROM s$prev x WHERE x.qid = c.qid AND x.nid = c.nid) " +
        "GROUP BY 1, 2, 3), " +
        s"p$t AS (SELECT qid, nid, mmri FROM (SELECT qid, nid, mmri, ROW_NUMBER() OVER " +
        "(PARTITION BY qid ORDER BY mmri DESC, nid) AS rn FROM " +
        s"(SELECT qid, nid, $lamTenths * reli - $muTenths * maxsimi AS mmri FROM m$t)) " +
        "WHERE rn = 1), " +
        s"s$t AS (SELECT qid, nid FROM s$prev UNION ALL SELECT qid, nid FROM p$t)"
    }.mkString
    val union = (1 to k).map(t =>
      s"SELECT qid, CAST($t AS BIGINT) AS it, nid, mmri FROM p$t").mkString(" UNION ALL ")
    s"$base$rounds SELECT qid, it, nid, " +
      s"mmri / CAST(10000000 AS DOUBLE) AS mmr FROM ($union) ORDER BY qid, it"
  }

  /** DuckDB replay of [[Similarity.pcaProject]]: 1e-4 grid quantization,
    * exact-integer covariance sufficient statistics (n·Σxy − Σx·Σy over
    * BIGINT sums — HUGEINT on the DuckDB side, value-identical where the
    * engine's longs don't overflow, which the |x| < 1 grid guarantees),
    * `iters` unrolled power-iteration CTEs (left-fold list_sum matrix
    * product ≡ the driver's ascending-j loop; max-abs normalization;
    * every iterate snapped to the 1e-6 grid with floor(x+0.5)), then the
    * per-vector projection fold. */
  private def pcaSql(iters: Int, d: Int): String = {
    val r = s"range(1, ${d + 1})"
    val base =
      "WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[], " +
        "x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS xi FROM embeddings), " +
        "nn AS (SELECT COUNT(*) AS n FROM e), " +
        s"sx AS (SELECT i, SUM(xi[i]) AS s FROM e, $r t(i) GROUP BY i), " +
        "sxy AS (SELECT t1.i AS i, t2.j AS j, SUM(xi[t1.i] * xi[t2.j]) AS s " +
        s"FROM e, $r t1(i), $r t2(j) GROUP BY 1, 2), " +
        "cm AS (SELECT p.i AS i, " +
        "list(CAST(nn.n * p.s - a.s * b.s AS DOUBLE) ORDER BY p.j) AS crow " +
        "FROM sxy p, nn, sx a, sx b WHERE a.i = p.i AND b.i = p.j GROUP BY p.i), " +
        "it0 AS (SELECT (SELECT list(crow ORDER BY i) FROM cm) AS c, " +
        s"list_transform($r, x -> 1.0) AS w)"
    val steps = (1 to iters).map { t =>
      s", it$t AS (SELECT c, list_transform(raw, " +
        "x -> floor(x / m * 1000000 + 0.5) / 1000000) AS w FROM (" +
        "SELECT c, raw, list_max(list_transform(raw, x -> abs(x))) AS m FROM (" +
        s"SELECT c, list_transform($r, i -> list_sum(list_transform($r, " +
        s"j -> c[i][j] * w[j]))) AS raw FROM it${t - 1})))"
    }.mkString
    s"$base$steps SELECT e.vec_id AS vec_id, " +
      s"ROUND(list_sum(list_transform($r, i -> CAST(xi[i] AS DOUBLE) * w[i]))" +
      s" / 10000, 6) AS pc1 FROM e, it$iters ORDER BY vec_id"
  }
}
