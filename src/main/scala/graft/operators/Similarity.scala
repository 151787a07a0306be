package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Paths, per the scale plan:
  *  - [[bruteForceTopK]]: exact cosine top-k — the query side is broadcast
  *    (it is tiny), candidates stream through in one pass: correct baseline
  *    at any scale where queries fit in memory, O(|queries|·n) work.
  *  - [[lshBucketTopK]]: sign-bucket (random-hyperplane) LSH — candidates
  *    are equi-joined on the bucket key, so the pair space collapses from
  *    n² to per-bucket; the 100-TB shape (bucket = shuffle/partition key).
  *  - [[ivfTopK]] / [[pqTopK]]: centroid-model paths. The trained model
  *    (k·d doubles) is a DRIVER-RESIDENT broadcast artifact, and every
  *    full-corpus pass against it — cell assignment, PQ encoding — is a
  *    NARROW codegen'd argmin over per-centroid distances (`array_min`
  *    over `struct(dist, cid)` entries): no crossJoin row blow-up, no
  *    window shuffle, embarrassingly parallel over the vector table. This
  *    is the canonical distributed k-means/IVF dataflow — broadcast the
  *    model, scan the data once.
  *
  * Ranking is deterministic: order by rounded cosine desc, then vec_id —
  * ties cannot reorder across engines.
  */
object Similarity {

  /** Data-size-derived sign-LSH width: the smallest `bits` whose 2^bits
    * buckets hold ≤ `targetBucketRows` vectors each in expectation, so the
    * per-bucket candidate-pair space (~bucketRows²/2) stays bounded as the
    * corpus grows — pair cost halves per added bit (measured sweep in
    * PERF.md) while multi-probe recovers the recall the narrower buckets
    * would lose. Clamped to [2, 24] (4 buckets minimum; 16M buckets is
    * past any realistic executor count).
    */
  def lshBitsFor(nRows: Long, targetBucketRows: Long = 32): Int = {
    val raw = math.ceil(math.log(math.max(1L, nRows).toDouble / targetBucketRows)
      / math.log(2)).toInt
    math.max(2, math.min(24, raw))
  }

  /** Resolve an explicit bits parameter: 0 = derive from the corpus size
    * (one count — metadata-cheap on parquet sources). */
  private def resolveBits(emb: DataFrame, bucketBits: Int): Int =
    if (bucketBits > 0) bucketBits else lshBitsFor(emb.count())

  /** (vec_id, v): the embedding widened to doubles. */
  private def vecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  private def prep(emb: DataFrame): DataFrame =
    vecs(emb).withColumn("nrm", l2Norm(col("v"))) // once per vector, not per pair

  /** The rows of `df` whose vec_id is one of the query ids. */
  private def ofQueries(df: DataFrame, queries: DataFrame): DataFrame =
    df.join(queries.select(col("vec_id")), "vec_id")

  /** The score every cosine path ranks by: the dot product over the norm
    * product, rounded onto the 6-dp grid so the (cosine desc, nid) order
    * replays identically in any engine. */
  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6).as("cosine")

  /** (qid, nid, cosine) of query rows (qid, qv, qn) paired with prep'd
    * corpus rows (vec_id, v, nrm). */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs.select(col("qid"), col("vec_id").as("nid"),
      cosine(col("qv"), col("v"), col("qn"), col("nrm")))

  /** A pair is not a vector matched with itself. */
  private def notSelf: Column = col("nid") =!= col("qid")

  /** Deterministic rank-and-keep over scored (qid, nid, `score`) rows: the
    * `k` best per qid, ties broken by nid. `cosine` ranks highest first;
    * every other score here is a distance and ranks lowest first. */
  private def rankTopK(scored: DataFrame, k: Int,
                       score: String = "cosine"): DataFrame = {
    val best = if (score == "cosine") col(score).desc else col(score)
    val w = Window.partitionBy(col("qid")).orderBy(best, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col(score))
  }

  /** The `n`-deep shortlist per qid by an approximate `score` order, ties
    * broken by nid; rows keep every column. */
  private def shortlistOf(df: DataFrame, score: Column, n: Int): DataFrame =
    df.withColumn("srank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(score, col("nid"))))
      .where(col("srank") <= n)

  /** Exact cosine of every corpus vector against every query: the query
    * side is broadcast (it is tiny) and the corpus streams through in one
    * pass. `selfExclude` drops the pair of a query with its own vector. */
  private def exactScores(emb: DataFrame, queries: DataFrame,
                          selfExclude: Boolean): DataFrame = {
    val q = broadcast(prep(queries).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qn")))
    val c = prep(emb)
    scorePairs(if (selfExclude) c.join(q, col("vec_id") =!= col("qid"))
               else c.crossJoin(q))
  }

  /** Exact top-k neighbors (by cosine) for each query vector. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(exactScores(emb, queries, selfExclude = true), k)

  /** Exact radius (range) search: every neighbor with cosine ≥
    * `minCosine` — the "all sufficiently-similar" API next to top-k
    * (dedup candidate pulls and recall-safe retrieval want a similarity
    * floor, not a fixed k). Same scan shape as [[bruteForceTopK]]: the
    * bounded query set broadcasts, the corpus is scanned map-side with
    * the predicate applied inside the scan, and NOTHING shuffles — the
    * output is bounded by the threshold's selectivity, not the corpus. */
  def rangeSearch(emb: DataFrame, queries: DataFrame,
                  minCosine: Double): DataFrame =
    exactScores(emb, queries, selfExclude = true)
      .where(col("cosine") >= minCosine)

  /** Semantic benchmark-contamination census — the EMBEDDING-level
    * complement to the lexical n-gram sweep (`Corpus.contaminationPairs`):
    * a paraphrased eval item shares no 8-gram with its training-set
    * source, but its embedding still sits at high cosine. Benchmark
    * items (`vec_id % benchMod == 0`) probe the PERSISTED IVF index
    * (the same artifact the serve path reads — contamination audits run
    * against the production index, not a private retrain) for corpus
    * neighbors at cosine ≥ `minCosine` among NON-benchmark vectors, and
    * every benchmark item reports: hit count, the top hit, or a clean
    * row — absence of evidence is part of the census.
    *
    * Scale shape: the radius predicate applies inside the cell-filtered
    * scan (an IVF-accelerated range search — never a finished top-k
    * post-filtered, never a corpus×bench cross join); the benchmark side
    * is broadcast, the corpus moves only through the `ivf_cells`
    * read-through artifact scan, and everything after the threshold is
    * bounded by hit selectivity. */
  def semanticContamination(emb: DataFrame, benchMod: Int, minCosine: Double,
                            nProbe: Int, indexPath: String): DataFrame = {
    val (cents, model) = servedIvf(emb, indexPath)
    val cells = cellsFor(emb, cents, model)
    val bench = prep(emb).where(col("vec_id") % benchMod === 0)
    val hits = scoreCells(cells.where(col("nid") % benchMod =!= 0),
        probeCells(bench, model, nProbe), keep = None)
      .where(col("cosine") >= minCosine)
      // localCheckpoint trade (every call in this file): lineage is cut
      // to executor-local storage, so losing an executor fails the query
      // instead of recomputing it.
      .localCheckpoint() // hit-selectivity-bounded; read twice below
    val counts = hits.groupBy("qid")
      .agg(count(lit(1)).as("n_hits"), max(col("cosine")).as("top_cosine"))
    val top = hits.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("nid"))))
      .where(col("rn") === 1)
      .select(col("qid"), col("nid").as("top_nid"))
    bench.select(col("vec_id").as("qid"))
      .join(counts, Seq("qid"), "left_outer")
      .join(top, Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_hits").isNotNull.as("contaminated"),
        col("top_nid"), col("top_cosine"))
  }

  /** Cross-encoder-style reranker SKELETON over a fused candidate list —
    * the reranker slot in the retrieval chain (retrieve wide with
    * bi-encoder/lexical legs, re-score the top-k candidate PAIRS with a
    * model that sees query and candidate together). The scorer here is a
    * deterministic stand-in for the learned cross-encoder: per (query,
    * candidate) pair it computes the features a pairwise model consumes
    * — distinct-token overlap fraction (the "cross" feature: it needs
    * BOTH texts, which is exactly what a bi-encoder cannot see) plus the
    * two legs' reciprocal ranks — and scores them against a broadcast
    * 1-row weight table (the model slot; a trained replacement swaps the
    * weights, the plan is unchanged). Scores round to 6 dp BEFORE
    * ranking so the (score desc, nid) order replays identically in any
    * engine.
    *
    * Cost shape (the production property): |queries| × k pair scorings.
    * The corpus is touched only to fetch the ≤ |queries|·(k+1) candidate
    * texts by id (semi-join against a broadcast id set) — a reranker
    * never rescans the lake, which is why the expensive model fits at
    * serve time.
    *
    * `cands`: (qid, nid, sr, dr) — the fused top-k with per-leg ranks
    * (nulls where a leg missed), e.g. the persisted hybrid-RRF artifact.
    * Returns (qid, nid, ce_score, ce_rank). */
  def crossEncoderRerank(docs: DataFrame, cands: DataFrame,
                         wOv: Double = 1.0, wS: Double = 30.0,
                         wD: Double = 30.0): DataFrame = {
    import graft.functions.TextFunctions
    val spark = docs.sparkSession
    import spark.implicits._
    val weights = Seq((wOv, wS, wD)).toDF("w_ov", "w_s", "w_d")
    // Candidate-id narrowing WITHOUT a distinct: a broadcast LEFT SEMI
    // join tolerates duplicate ids on the build side, so the corpus is
    // filtered to the ≤ |q|·(k+1) touched documents in one map-side pass
    // and only then tokenized. The resulting token table is itself
    // k-bounded, so ONE broadcast of it serves both the query and the
    // candidate side of the pair join — the whole feature build runs
    // shuffle-free.
    val ids = cands.select(explode(array(col("qid"), col("nid"))).as("doc_id"))
    val toks = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(TextFunctions.tokens(col("text"))).as("t"))
    val toksB = broadcast(toks)
    val feat = cands
      .join(toksB.select(col("doc_id").as("qid"), col("t").as("qt")), "qid")
      .join(toksB.select(col("doc_id").as("nid"), col("t").as("nt")), "nid")
      .select(col("qid"), col("nid"),
        when(size(col("qt")) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("qt"), col("nt"))).cast("double")
            / size(col("qt"))).as("ov"),
        coalesce(lit(1.0) / (lit(60) + col("sr")), lit(0.0)).as("rrs"),
        coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)).as("rrd"))
    val scored = feat.crossJoin(broadcast(weights))
      .select(col("qid"), col("nid"),
        round(col("w_ov") * col("ov") + col("w_s") * col("rrs")
          + col("w_d") * col("rrd"), 6).as("ce_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ce_score").desc, col("nid"))
    scored.withColumn("ce_rank", row_number().over(w).cast("long"))
  }

  /** Maximal-marginal-relevance diversified rerank (Carbonell &
    * Goldstein 1998): from each query's `shortlist`-deep relevance list,
    * greedily select `k` results maximizing
    * `lambda·rel(q,d) − mu·max_{s∈selected} sim(d,s)` — the standard
    * serving-side diversification pass after any ANN retrieval stage.
    * `lamTenths`/`muTenths` are the weights in tenths (7/3 = the classic
    * λ 0.7). The score is computed in EXACT INTEGER space — rel and sim
    * sit on the 1e-6 grid, so `(lamTenths·R − muTenths·S) / 1e7` with
    * R = round(rel·1e6) needs no engine-side rounding at all. (A double
    * `round(0.7·rel, 6)` systematically lands on 7-dp half boundaries —
    * 0.7 × a grid value — where Spark's shortest-decimal BigDecimal round
    * and DuckDB's binary round disagree; observed on the first draw.)
    *
    * Scale shape: everything downstream of the retrieval stage is
    * k-bounded per query — the shortlist is Nq·shortlist rows and the
    * intra-shortlist pairwise-sim table Nq·shortlist² rows. The greedy
    * selection itself runs as ONE per-query in-row fold (a codegen'd
    * higher-order `aggregate` over the grouped shortlist + sim arrays,
    * ≤ k·shortlist·shortlist² integer ops per query) — no k
    * driver-synchronized rounds, one qid-keyed shuffle total. The corpus
    * is touched only by the retrieval stage.
    *
    * Output: (qid, it, nid, mmr) — `it` is the selection order, which IS
    * the diversified ranking. */
  def mmrRerank(emb: DataFrame, queries: DataFrame, shortlist: Int, k: Int,
                lamTenths: Int, muTenths: Int): DataFrame = {
    val sl = bruteForceTopK(emb, queries, shortlist)
      .select(col("qid"), col("nid"),
        round(col("cosine") * 1e6).cast("long").as("relI"))
      .localCheckpoint() // feeds both the pair table and the fold input
    val p = prep(emb)
    val slv = sl.join(p, sl("nid") === p("vec_id"))
      .select(col("qid"), col("nid"), col("v"), col("nrm"))
    val ps = slv.select(col("qid"), col("nid").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      .join(slv.select(col("qid"), col("nid").as("b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("qid"))
      .where(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("simI"))
    val g = sl.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("relI"))).as("cands"))
    val psg = ps.groupBy(col("qid"))
      .agg(collect_list(struct(col("a"), col("b"), col("simI"))).as("sims"))
    // The greedy fold: acc holds the picks so far; round t scores every
    // unpicked candidate (λ·relI − μ·max simI to the picked set, exact
    // integers) and appends the (mmrI DESC, nid ASC) argmax. A shortlist
    // shorter than k just stops growing (filter drops the null pick).
    val greedy =
      s"""aggregate(
            sequence(1, $k),
            cast(array() as array<struct<it: bigint, nid: bigint, mmrI: bigint>>),
            (acc, t) -> acc || filter(array(
              aggregate(
                transform(
                  filter(cands, c -> !exists(acc, s -> s.nid = c.nid)),
                  c -> named_struct(
                    'it', cast(t as bigint),
                    'nid', c.nid,
                    'mmrI', $lamTenths * c.relI - coalesce(
                      $muTenths * aggregate(
                        transform(
                          filter(sims, pr -> pr.a = c.nid
                            and exists(acc, s -> s.nid = pr.b)),
                          pr -> pr.simI),
                        cast(null as bigint),
                        (m, x) -> if(m is null or x > m, x, m)),
                      0L))),
                cast(null as struct<it: bigint, nid: bigint, mmrI: bigint>),
                (best, c) -> if(best is null or c.mmrI > best.mmrI
                  or (c.mmrI = best.mmrI and c.nid < best.nid), c, best))),
              x -> x is not null))"""
    g.join(psg, Seq("qid"), "left_outer")
      .withColumn("sims", coalesce(col("sims"),
        expr("cast(array() as array<struct<a: bigint, b: bigint, simI: bigint>>)")))
      .select(col("qid"), explode(expr(greedy)).as("s"))
      .select(col("qid"), col("s.it").as("it"), col("s.nid").as("nid"),
        (col("s.mmrI").cast("double") / 1e7).as("mmr"))
  }

  /** Exact top-k neighbors by L2 distance — the ground truth for the
    * PQ/ADC recall evaluations (ADC approximates L2, so its recall is
    * measured against the same metric, not cosine). */
  def bruteForceL2TopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = prep(queries).select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = prep(emb).join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dist2(col("qv"), col("v")), 6).as("dist"))
    rankTopK(scored, k, "dist")
  }

  /** The query bucket plus every bucket at Hamming distance 1 (one sign
    * plane flipped) — multi-probe LSH's probe set. Vectors near a
    * hyperplane land on either side; probing the flipped buckets recovers
    * them at bits+1 × the candidate cost instead of halving the bits. */
  def multiProbeBuckets(bucket: Column, bits: Int): Column =
    array(bucket +: (1 to bits).map { i =>
      val flipped = when(substring(bucket, i, 1) === "1", "0").otherwise("1")
      concat(substring(bucket, 1, i - 1), flipped,
        substring(bucket, i + 1, bits - i))
    }: _*)

  /** Multi-probe LSH top-k: like [[lshBucketTopK]] but each query fans out
    * to its bucket and all 1-bit neighbors before scoring. */
  def lshMultiProbeTopK(emb: DataFrame, queries: DataFrame, k: Int,
                        bucketBits: Int = 0): DataFrame = {
    val bits = resolveBits(emb, bucketBits)
    val q = prep(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(multiProbeBuckets(signBucket(col("v"), bits), bits))
          .as("bucket"))
    val scored = bucketScores(bucketed(emb, bits), broadcast(q))
      .distinct() // a candidate can only match one bucket, but stay safe
    rankTopK(scored, k)
  }

  /** prep'd rows plus their `bits`-wide sign bucket. */
  private def bucketed(df: DataFrame, bits: Int): DataFrame =
    prep(df).withColumn("bucket", signBucket(col("v"), bits))

  /** Cosine of every corpus row against every query row of its bucket,
    * the bucket key being the equi-join key. */
  private def bucketScores(c: DataFrame, q: DataFrame): DataFrame =
    scorePairs(c.join(q, Seq("bucket")).where(col("vec_id") =!= col("qid")))

  /** kNN-GRAPH construction: top-k cosine neighbors for EVERY corpus
    * vector via a sign-bucket SELF-join — the candidate edge set for
    * SemDeDup, graph clustering, or connectivity analysis over an
    * embedding corpus. Unlike the serve-path kernels (fixed query set,
    * broadcast), both join sides are the corpus: each side shuffles ONCE
    * on the bucket key and in-bucket pair cost is Σ bucket² — `bits`
    * grows with the corpus ([[lshBitsFor]]) to hold bucket population
    * roughly constant, the same knob every LSH kernel here uses.
    * Neighbors missed across bucket boundaries are the documented LSH
    * recall trade ([[multiProbeBuckets]] recovers them at probe-set cost;
    * `sim_recall_eval` quantifies it). */
  def knnGraph(emb: DataFrame, k: Int, bucketBits: Int = 0): DataFrame = {
    val c = bucketed(emb, resolveBits(emb, bucketBits))
    val q = c.select(col("bucket"), col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qn"))
    rankTopK(bucketScores(c, q), k)
  }

  /** Large × large ANN join (entity matching / linkage): top-k corpus
    * neighbors for EVERY query row when BOTH sides are corpus-scale — no
    * broadcast-able side exists. Both sides hash into the same sign-LSH
    * buckets (width derived from the corpus size, [[lshBitsFor]]) and
    * meet in ONE bucket-keyed equi-join; per-bucket work stays bounded
    * because the bit width grows with the data. Declared as a plain
    * shuffle join — AQE is free to broadcast when one side turns out
    * small, which is exactly the production posture. Top-k ranks
    * map-side via WindowGroupLimit. */
  def annJoin(corpus: DataFrame, queries: DataFrame, k: Int,
              bucketBits: Int = 0): DataFrame = {
    val bits = resolveBits(corpus, bucketBits)
    val q = bucketed(queries, bits)
      .select(col("bucket"), col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    rankTopK(bucketScores(bucketed(corpus, bits), q), k)
  }

  // ---------------------------------------------------------------------
  // Centroid models (IVF cells, PQ codebooks): driver-resident artifacts.
  // ---------------------------------------------------------------------

  /** One IVF centroid / PQ code: id + vector. */
  final case class Centroid(cid: Long, cv: Array[Double])

  /** Content fingerprint of the embedding table over (vec_id, embedding)
    * ([[IndexCache.tableFp]]). Keys the model cache and the persisted-index
    * staleness check, so re-written files at the same path can never
    * serve a stale model; query-layer artifact keys that span both base
    * tables (e.g. the hybrid sparse+dense fusion) use it too. */
  private[graft] def corpusFp(emb: DataFrame): String =
    IndexCache.tableFp(emb, Seq("vec_id", "embedding"))

  /** Trained-model cache: bounded LRU (a JVM serves a handful of live
    * indexes, not an unbounded history), keyed by CONTENT fingerprint +
    * hyperparameters — never the plan string. */
  private val MaxCachedModels = 8
  private val trainedModels: java.util.Map[String, AnyRef] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, AnyRef]): Boolean =
          size() > MaxCachedModels
      })

  /** Test hook: drop the in-JVM model LRU (simulates a fresh process;
    * persisted artifacts remain, so the next resolve must come from the
    * disk tier, not retraining). */
  def invalidateModelCache(): Unit = trainedModels.clear()

  /** Cache-through build with a persisted middle tier: in-JVM LRU hit →
    * disk artifact hit ([[IndexCache.cachedModelArtifact]] — a fresh
    * process rediscovers what an earlier build step trained) → train and
    * persist. Every resolution bumps an [[IndexCache]] forensics counter
    * (`<kind>.mem` / `<kind>.disk` / `<kind>.train`), which Bench embeds
    * per query, so a draw that unexpectedly retrained is self-diagnosing. */
  private def cachedModel[T <: AnyRef](kind: String, emb: DataFrame,
                                       params: String,
                                       read: String => T,
                                       write: (String, T) => Unit)
                                      (train: => T): T = {
    val fp = corpusFp(emb)
    val key = s"$kind|$fp|$params"
    val hit = trainedModels.get(key)
    if (hit != null) {
      IndexCache.record(s"$kind.mem")
      return hit.asInstanceOf[T]
    }
    val model = IndexCache.cachedModelArtifact(kind, params, fp)(read, write)(train)
    trainedModels.put(key, model)
    model
  }

  /** `struct(round(dist2(v, cv)), cid)` — struct ordering on (dist, cid)
    * makes `min`/`array_sort` over these entries exactly the rounded-
    * distance + cid-tie-break (arg)min/sort the oracle replays. */
  private def distEntry(v: Column): Column =
    struct(round(dist2(v, col("cv")), 6).as("dist"), col("cid"))

  /** Assignment kernel: corpus × broadcast k-row model (nested-loop on the
    * tiny side) → per-vector `min(struct(dist, cid))`. The k entries for a
    * vector are produced consecutively in its own partition, so partial
    * aggregation completes map-side and the only shuffled bytes are ONE
    * pre-aggregated row per vector — the corpus itself is never shuffled,
    * and no window sort runs anywhere. `carry` columns ride along
    * (constant per vector, so `first` is deterministic). */
  private def assignNearest(vecs: DataFrame, model: DataFrame,
                            carry: Seq[String]): DataFrame = {
    val aggs = min(distEntry(col("v"))).as("mc") +:
      carry.map(c => first(col(c)).as(c))
    vecs.crossJoin(broadcast(model))
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** First-`nCells` seed centroids (vec_id < nCells), the deterministic
    * Lloyd seeding — a bounded k·d model artifact, collected like one. */
  private def seedCentroids(emb: DataFrame, nCells: Int): Array[Centroid] =
    centroids(emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("long"), asDouble(col("embedding")))
      .collect())

  /** (cid, cv) rows as a cid-ordered model. */
  private def centroids(rows: Array[Row]): Array[Centroid] =
    rows.map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_.cid)

  /** One Lloyd update over `assigned` rows (`outer` keys, `mc.cid`, vector
    * `v`): per cell, the per-dimension mean of its vectors rounded onto
    * the 6-dp grid, as (outer keys, cid, cv) rows. The only real shuffle
    * is the per-(cell, dim) partial-aggregated mean. */
  private def lloydMeans(assigned: DataFrame, outer: Seq[String],
                         v: String): Array[Row] = {
    val keys = outer.map(col) :+ col("cid")
    assigned.select(outer.map(col) ++ Seq(col("mc.cid").as("cid"),
        posexplode(col(v)).as(Seq("pos", "val"))): _*)
      .groupBy(keys :+ col("pos"): _*)
      .agg(round(avg(col("val")), 6).as("val"))
      .groupBy(keys: _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, val))), s -> s.val)")
        .as("cv"))
      .collect()
  }

  /** Fixed-iteration, seeded Lloyd k-means over the embedding column —
    * the IVF centroid trainer. Deterministic and oracle-replayable by
    * construction: seeds are the first `nCells` vectors by id, each
    * iteration's assignment ranks the codegen'd left-to-right
    * [[graft.plans.L2Dist2]] distance rounded to a 6-dp grid with a
    * centroid-id tie-break, and new centroid components are per-dimension
    * means rounded onto the same grid — so a DuckDB replay of the same
    * arithmetic reproduces every assignment bit-for-bit.
    *
    * Scale shape: the canonical distributed k-means — per iteration, the
    * k·d-double model is broadcast against the corpus (the map-side-
    * complete [[assignNearest]] kernel), and the only real shuffle is the
    * per-(cell, dim) partial-aggregated mean; the k-row result returns to
    * the driver (8 KB at k=16·d=64). Nothing driver-side grows with n.
    */
  def trainIvfCentroidsArray(emb: DataFrame, nCells: Int,
                             iters: Int): Array[Centroid] =
    cachedModel[Array[Centroid]](s"ivf", emb, s"$nCells|$iters",
      read = p => readCentroidArray(emb.sparkSession, p),
      write = (p, m) => centroidDf(emb.sparkSession, m)
        .coalesce(1).write.mode("overwrite").parquet(p)) {
      val e = vecs(emb)
      var cents = seedCentroids(emb, nCells)
      for (_ <- 1 to iters)
        cents = centroids(lloydMeans(
          assignNearest(e, centroidDf(emb.sparkSession, cents), Seq("v")), Nil, "v"))
      cents
    }

  private val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType), nullable = false)))

  private def centroidDf(spark: SparkSession,
                         cents: Array[Centroid]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.map(c => Row(c.cid, c.cv.toSeq)).toSeq.asJava, centroidSchema)
  }

  /** Load a persisted centroid-model artifact (the read side of
    * [[cachedModel]]'s disk tier). */
  private def readCentroidArray(spark: SparkSession,
                                path: String): Array[Centroid] =
    centroids(spark.read.parquet(path).select(col("cid"), col("cv")).collect())

  /** Deterministic content digest of a centroid model — keys the persisted
    * inverted-file artifact independently of how the model was obtained
    * (trained, seeded, or read back from a named index). FNV-1a over the
    * exact double bits, so bit-identical models share one artifact. */
  private def centsDigest(cents: Array[Centroid]): String = {
    var h = 1469598103934665603L
    cents.foreach { c =>
      h = h * 1099511628211L + c.cid
      c.cv.foreach(x =>
        h = h * 1099511628211L + java.lang.Double.doubleToLongBits(x))
    }
    java.lang.Long.toHexString(h)
  }

  /** DataFrame view of [[trainIvfCentroidsArray]] (specs, oracle builds). */
  def trainIvfCentroids(emb: DataFrame, nCells: Int, iters: Int): DataFrame =
    centroidDf(emb.sparkSession, trainIvfCentroidsArray(emb, nCells, iters))

  // ------------------------- IVF index lifecycle -------------------------

  /** Persist the trained IVF centroid table as a parquet index artifact:
    * the `cid → cv` rows plus a `fingerprint` column recording the source
    * table's content fingerprint — index metadata, so a serve-time reader
    * can detect staleness without retraining. This is the missing piece
    * between an in-JVM model cache and a real index lifecycle: TRAINING is
    * a build step (run once, e.g. nightly), SERVING reads the artifact. */
  def writeIvfIndex(emb: DataFrame, nCells: Int, iters: Int,
                    path: String): Unit = {
    val cents = trainIvfCentroidsArray(emb, nCells, iters)
    centroidDf(emb.sparkSession, cents)
      .withColumn("fingerprint", lit(corpusFp(emb)))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read a persisted IVF index; returns (centroids, fingerprint).
    * Memoized on the directory's listing signature: the k-row read is two
    * fixed-cost jobs (schema + collect) that every serve call would
    * otherwise repeat; an in-place index rewrite changes the listing and
    * re-reads. */
  def readIvfIndex(spark: SparkSession,
                   path: String): (Array[Centroid], String) =
    IndexCache.memoByListing("ivf_index_read", path) {
      val rows = spark.read.parquet(path)
        .select(col("cid"), col("cv"), col("fingerprint")).collect()
      (centroids(rows), rows.headOption.map(_.getString(2)).getOrElse(""))
    }

  /** The inverted file — (vector → cell) plus the vector payload the
    * rerank reads — as a persisted artifact keyed by the centroid digest
    * + corpus fingerprint: serving scans it instead of re-running the
    * assignment pass per query. At 100 TB this artifact IS the index
    * (vectors grouped by cell), maintained by a build job. The artifact
    * KEY lives only here — every consumer resolves cells through this. */
  private def cellsFor(emb: DataFrame, cents: Array[Centroid],
                       model: DataFrame): DataFrame =
    IndexCache.cachedFrame(emb.sparkSession, "ivf_cells",
        centsDigest(cents), corpusFp(emb)) {
      cellsOf(prep(emb), model)
    }

  /** Serve-path entry shared by every consumer of a PERSISTED IVF index:
    * read the artifact, verify its recorded fingerprint against the live
    * corpus, return (centroids, broadcastable model). The staleness
    * policy lives only here — a policy change cannot silently miss one
    * serve path. `role` qualifies the error for callers where `emb` is a
    * subset (e.g. the incremental path's history corpus). */
  private def servedIvf(emb: DataFrame, indexPath: String,
                        role: String = ""): (Array[Centroid], DataFrame) = {
    val spark = emb.sparkSession
    val (cents, recordedFp) = readIvfIndex(spark, indexPath)
    val liveFp = corpusFp(emb)
    if (recordedFp != liveFp)
      throw new IllegalStateException(
        s"IVF index at $indexPath is stale$role (recorded $recordedFp, " +
          s"live $liveFp); rebuild with writeIvfIndex")
    (cents, centroidDf(spark, cents))
  }

  /** The IVF probe: the `nProbe` nearest cells of each query row
    * (vec_id, v) under the broadcast `model`, one (qid, `cell`) row per
    * probed cell. The query side is tiny, so a collect_list + array_sort
    * per query replaces any window. `carry` columns (source → name) ride
    * along, constant per query, so `first` is deterministic. `ranked` adds
    * the 1-based probe rank `cell_rn` before the cell: the top-p cells of
    * the sorted max-P prefix ARE the top-p probe. */
  private def probeCells(q: DataFrame, model: DataFrame, nProbe: Int,
                         carry: Seq[(String, String)] = Seq("v" -> "qv", "nrm" -> "qn"),
                         cell: String = "cid", ranked: Boolean = false): DataFrame = {
    val aggs = slice(array_sort(collect_list(distEntry(col("v")))), 1, nProbe).as("pcs") +:
      carry.map { case (c, name) => first(col(c)).as(name) }
    val out = carry.map(c => col(c._2))
    val (probed, rank) =
      if (ranked) (posexplode(col("pcs")).as(Seq("pi", "pc")),
                   Seq((col("pi") + 1).cast("long").as("cell_rn")))
      else (explode(col("pcs")).as("pc"), Nil)
    q.crossJoin(broadcast(model))
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("vec_id").as("qid"), probed) ++ out: _*)
      .select((col("qid") +: rank) ++ (col("pc.cid").as(cell) +: out): _*)
  }

  /** Cosine of each query against every vector of its probed cells: the
    * inverted file `cells` (nid, cid, nv, nn) equi-joined on the cell id to
    * the broadcast `probes` (qid, cid, qv, qn, ...), so the corpus is never
    * shuffled. `keep` filters pairs before scoring (self-exclusion, a
    * metadata filter); `by` probe columns ride along after qid. */
  private def scoreCells(cells: DataFrame, probes: DataFrame, keep: Option[Column],
                         by: Seq[String] = Nil): DataFrame = {
    val pairs = cells.join(broadcast(probes), "cid")
    keep.fold(pairs)(c => pairs.where(c))
      .select((col("qid") +: by.map(col)) ++ Seq(col("nid"),
        cosine(col("qv"), col("nv"), col("qn"), col("nn"))): _*)
  }

  /** Serve IVF top-k from an already-built centroid model: the probe over
    * the (tiny) query set, then the cell scan ([[scoreCells]]) of the
    * persisted inverted file. */
  private def ivfServe(emb: DataFrame, queries: DataFrame, k: Int,
                       nProbe: Int, cents: Array[Centroid]): DataFrame = {
    val model = centroidDf(emb.sparkSession, cents)
    val cells = cellsFor(emb, cents, model)
    val probes = probeCells(ofQueries(prep(emb), queries), model, nProbe)
    rankTopK(scoreCells(cells, probes, Some(notSelf)), k)
  }

  /** IVF (inverted-file) top-k: vectors are assigned to their nearest
    * centroid's cell; a query probes only its `nProbe` nearest cells. The
    * cell id is the equi-join key — the IVF counterpart of
    * [[lshBucketTopK]]'s sign bucket, with better-balanced cells on
    * clustered data.
    *
    * `trainIters` > 0 k-means-trains the centroids
    * ([[trainIvfCentroidsArray]]); 0 keeps the untrained first-`nCells`
    * seeds (the plumbing baseline). Assignment distance is the rounded
    * [[graft.plans.L2Dist2]] with a cid tie-break in both modes, so the
    * DuckDB oracle replays it exactly.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, nCells: Int = 16,
              nProbe: Int = 2, trainIters: Int = 0): DataFrame = {
    val cents =
      if (trainIters > 0) trainIvfCentroidsArray(emb, nCells, trainIters)
      else seedCentroids(emb, nCells)
    ivfServe(emb, queries, k, nProbe, cents)
  }

  /** True iff a readable index artifact exists at `path` whose recorded
    * fingerprint matches the live table — the read-through probe: a serve
    * path whose in-memory slot was cleared (or a fresh process) calls this
    * before rebuilding, so a cold cache costs one artifact read + one
    * fingerprint aggregate instead of a k-means retrain. */
  def ivfIndexFresh(spark: SparkSession, path: String, emb: DataFrame): Boolean =
    new java.io.File(path).exists() && {
      try {
        val (_, fp) = readIvfIndex(spark, path)
        fp.nonEmpty && fp == corpusFp(emb)
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** IVF served from a persisted index ([[writeIvfIndex]]): reads the
    * k-row artifact, verifies its recorded fingerprint against the live
    * table (one cheap aggregate — the staleness check a real index
    * service performs), and serves; stale index ⇒ IllegalStateException
    * (rebuild is the caller's build step, not a serve-time side effect). */
  def ivfTopKServed(emb: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
                    indexPath: String): DataFrame = {
    val (cents, _) = servedIvf(emb, indexPath)
    ivfServe(emb, queries, k, nProbe, cents)
  }

  /** Incremental index update — the continuous-ingest half of the IVF
    * lifecycle (the ANN analog of [[Dedup]]'s `dedup_incremental` and the
    * phash-served image path): the persisted index was trained on the
    * HISTORY corpus only; an incoming `batch` of new vectors is assigned
    * map-side to the EXISTING centroids (append-without-retrain — one
    * broadcast-model pass over just the batch) and unioned with the
    * history's persisted inverted file, so serving probes the merged
    * index. History is never re-scanned (its cell table is a read-through
    * artifact) and the batch never triggers training — per-ingest cost
    * tracks the batch, not the corpus. Centroid refresh stays a separate
    * build step (a nightly re-train + re-assign), exactly as in a
    * production IVF service; until then recall degrades gracefully as the
    * batch drifts from the history distribution. */
  def ivfTopKIncremental(history: DataFrame, batch: DataFrame,
                         queries: DataFrame, k: Int, nProbe: Int,
                         indexPath: String): DataFrame = {
    val (cents, model) = servedIvf(history, indexPath,
      role = " vs the history corpus")
    val cells = cellsFor(history, cents, model)
      .unionByName(cellsOf(prep(batch), model))
    rankTopK(scoreCells(cells, probeCells(prep(queries), model, nProbe),
      Some(notSelf)), k)
  }

  /** FILTERED ANN — metadata-constrained vector search, the production
    * requirement plain top-k misses ("nearest neighbors WITH label =
    * X"): the predicate applies INSIDE the candidate scan, before
    * ranking, so all k survivors are guaranteed to satisfy it —
    * post-filtering a finished top-k can return fewer than k (or none).
    * Here the constraint is same-label-as-query; the label travels as a
    * PAYLOAD COLUMN of the persisted inverted file (its own `ivf_cells_lab`
    * artifact), which is how a production index serves filters without a
    * corpus join at query time. Everything else is the [[ivfTopKServed]]
    * cell-probe shape ([[probeCells]], [[scoreCells]]). */
  def ivfTopKServedSameLabel(emb: DataFrame, queries: DataFrame, k: Int,
                             nProbe: Int, indexPath: String): DataFrame = {
    val spark = emb.sparkSession
    val (cents, model) = servedIvf(emb, indexPath)
    // The labeled artifact's content depends on the LABEL column too, not
    // just (vec_id, embedding): a label-only metadata update must miss the
    // cache, or filtered ANN silently serves results under the old labels.
    val labFp = IndexCache.tableFp(emb, Seq("vec_id", "label"))
    val cells = IndexCache.cachedFrame(spark, "ivf_cells_lab",
        s"${centsDigest(cents)}_$labFp", corpusFp(emb)) {
      cellsOf(prep(emb), model)
        .join(emb.select(col("vec_id").as("nid"), col("label").as("nlab")), "nid")
    }
    val q = prep(queries)
      .join(queries.select(col("vec_id"), col("label").as("qlab")), "vec_id")
    val probes = probeCells(q, model, nProbe,
      Seq("v" -> "qv", "nrm" -> "qn", "qlab" -> "qlab"))
    rankTopK(scoreCells(cells, probes,
      Some(notSelf && col("nlab") === col("qlab"))), k)
  }

  /** CROSS-MODAL top-k through the persisted IVF index — the CLIP
    * retrieval shape: queries are EXTERNAL vectors (another modality's
    * encoder output aligned into the corpus space), so unlike
    * [[ivfTopKServed]] they are prep'd directly instead of being joined
    * into the corpus by id, and there is NO self-exclusion — the aligned
    * corpus item (nid == qid for a synthetic aligned pair) is the ideal
    * hit, not a degenerate one. Shares the `ivf_cells` inverted-file
    * artifact with every other serve path; the query side stays a
    * broadcast. */
  def ivfCrossModalTopK(emb: DataFrame, queries: DataFrame, k: Int,
                        nProbe: Int, indexPath: String): DataFrame = {
    val (cents, model) = servedIvf(emb, indexPath)
    val cells = cellsFor(emb, cents, model)
    rankTopK(scoreCells(cells, probeCells(prep(queries), model, nProbe),
      keep = None), k)
  }

  /** The persisted IVF ASSIGNMENT table, (vec_id, cid) — cluster
    * membership as a first-class dataset for curation consumers
    * (cluster-balanced sampling, per-cluster quotas, diversity audits).
    * Reads the same `ivf_cells` artifact every serve path shares;
    * staleness-checked against the live corpus like all index reads. */
  def ivfAssignments(emb: DataFrame, indexPath: String): DataFrame = {
    val (cents, model) = servedIvf(emb, indexPath)
    cellsFor(emb, cents, model)
      .select(col("nid").as("vec_id"), col("cid"))
  }

  /** Recall-vs-probe-width TUNING CURVE in one pass: probe once at
    * max(probes) keeping each cell's rank, score every (query, candidate)
    * pair once, then derive every width's top-k by filtering
    * cell_rn ≤ width before the per-(width, query) rank window — the
    * scoring join and the exact ground truth are paid once instead of
    * once per width (the naive per-width union ran 4 probe+score plans;
    * this is one). `groundTruth` is the exact (qid, nid) top-k set the
    * caller computed (brute force, with or without self-exclusion to
    * match the probe side). Per-width ranking is identical to the
    * serve path's: the probe is the serve path's [[probeCells]] (its
    * ranked form) and the scoring is its [[scoreCells]]. */
  def ivfRecallSweep(emb: DataFrame, queries: DataFrame,
                     groundTruth: DataFrame, k: Int, probes: Seq[Int],
                     indexPath: String, selfExclude: Boolean,
                     queriesInCorpus: Boolean): DataFrame = {
    val (cents, model) = servedIvf(emb, indexPath)
    val cells = cellsFor(emb, cents, model)
    val q = if (queriesInCorpus) ofQueries(prep(emb), queries) else prep(queries)
    val scored = scoreCells(cells, probeCells(q, model, probes.max, ranked = true),
      if (selfExclude) Some(notSelf) else None, by = Seq("cell_rn"))
    def widths: Column =
      explode(array(probes.map(p => lit(p.toLong)): _*)).as("n_probe")
    val w = Window.partitionBy(col("n_probe"), col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    val ivf = scored.select(col("qid"), col("cell_rn"), col("nid"),
        col("cosine"), widths)
      .where(col("cell_rn") <= col("n_probe"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("n_probe"), col("qid"), col("nid"), lit(1).as("hit"))
    groundTruth.select(col("qid"), col("nid"), widths)
      .join(ivf, Seq("n_probe", "qid", "nid"), "left")
      .groupBy(col("n_probe"), col("qid"))
      .agg(count(col("hit")).as("n_hit"),
        round(count(col("hit")) / lit(k.toDouble), 4).as("recall"))
  }


  /** Read-through artifact for a derived cross-modal QUERY table (the
    * synthetic image-side embeddings): the queries are a pure per-row
    * function of the corpus (md5-grid perturbation, no RNG), so — the
    * minhash_sigs argument — they are built once per (derivation params,
    * corpus fingerprint) and every consumer (serve top-k, recall census,
    * probe sweep, tuned operating point) reads the same tiny parquet
    * instead of re-deriving through a fresh corpus scan. */
  def crossModalQueryIndex(emb: DataFrame, params: String)
                          (build: => DataFrame): DataFrame =
    IndexCache.cachedFrame(emb.sparkSession, "xmodal_queries", params,
      corpusFp(emb))(build)

  /** Read-through artifact for the exact cross-modal GROUND TRUTH — the
    * brute-force (qid, rank, nid, cosine) top-k that recall/sweep/tuned
    * all compare against. The truth is a pure function of (corpus,
    * queries, k); computing it inside each consumer repeated the one
    * genuinely corpus-wide scan of the family three times per draw. The
    * build widens the corpus side first: at any scale the scoring scan is
    * embarrassingly parallel, and the source artifact arrives as a
    * single-file scan that would otherwise serialize it on one task. */
  def crossModalGroundTruth(emb: DataFrame, k: Int, params: String)
                           (queries: => DataFrame): DataFrame = {
    val wide = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    IndexCache.cachedFrame(emb.sparkSession, "xmodal_gt", s"$params-k$k",
      corpusFp(emb))(
      crossModalExactTopK(emb.repartition(wide), queries, k))
  }

  /** Exact retrieval GROUND TRUTH as a read-through artifact — the
    * text-side sibling of [[crossModalGroundTruth]]: every retrieval-eval
    * row (recall@k, MRR, probe sweeps, hard-negative mining) compares an
    * index against the same exact ranking, so the one corpus-wide scan
    * builds once per (metric, query set, k, corpus fingerprint) and each
    * consumer takes its own rank prefix (top-k' of the same deterministic
    * ranking IS its rank <= k' filter). The live from-scratch scan
    * representative remains sim_topk_bruteforce. Build widened — the
    * single-file source would otherwise serialize the scoring on one
    * task. `queries` is by-name: an artifact hit never resolves it. */
  def exactGroundTruth(emb: DataFrame, k: Int, metric: String,
                       params: String)(queries: => DataFrame): DataFrame = {
    require(metric == "cos" || metric == "l2", s"unknown metric $metric")
    val wide = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    IndexCache.cachedFrame(emb.sparkSession, "exact_gt",
      s"$params-$metric-k$k", corpusFp(emb))(
      if (metric == "l2") bruteForceL2TopK(emb.repartition(wide), queries, k)
      else bruteForceTopK(emb.repartition(wide), queries, k))
  }

  /** Exact cross-modal top-k (brute force, no self-exclusion) — the
    * recall denominator for [[ivfCrossModalTopK]]. */
  def crossModalExactTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(exactScores(emb, queries, selfExclude = false), k)

  /** The inverted-file row shape: (nid, cid, vector payload, norm). */
  private def cellsOf(vecs: DataFrame, model: DataFrame): DataFrame =
    assignNearest(vecs, model, Seq("v", "nrm"))
      .select(col("vec_id").as("nid"), col("mc.cid").as("cid"),
        col("v").as("nv"), col("nrm").as("nn"))

  /** Index COMPACTION — the build step that closes the incremental-ingest
    * loop: fold the accumulated delta into the persisted index by (a)
    * writing a new centroid artifact whose recorded fingerprint covers
    * history ∪ batch, and (b) persisting the merged inverted file as the
    * history artifact's rows UNIONED with one assignment pass over just
    * the batch — history is never re-assigned or re-scanned (its cells
    * come from the read-through artifact). After compaction,
    * [[ivfTopKServed]] over the merged corpus serves with ZERO assignment
    * work and [[ivfTopKIncremental]]'s per-serve delta cost is gone;
    * centroid RE-TRAINING remains a separate, rarer build step. */
  def compactIvfIndex(history: DataFrame, batch: DataFrame,
                      oldPath: String, newPath: String): Unit = {
    val (cents, model) = servedIvf(history, oldPath,
      role = " vs the history corpus")
    val mergedFp = corpusFp(history.unionByName(batch))
    val histCells = cellsFor(history, cents, model)
    // Persist the merged inverted file under the merged fingerprint; the
    // build reads history's artifact + assigns ONLY the batch.
    IndexCache.cachedFrame(history.sparkSession, "ivf_cells",
        centsDigest(cents), mergedFp) {
      histCells.unionByName(cellsOf(prep(batch), model))
    }
    model.withColumn("fingerprint", lit(mergedFp))
      .coalesce(1).write.mode("overwrite").parquet(newPath)
  }

  // ------------------------------- PQ -----------------------------------

  /** One PQ code: subspace + code id + subvector. */
  final case class SubCentroid(sub: Int, cid: Long, cv: Array[Double])

  /** PQ encode kernel: subvectors × broadcast codebook table equi-joined
    * on `sub`, then per-(vector, sub) `min(struct(dist, cid))` — as in
    * [[assignNearest]], the nCodes entries for one subvector are produced
    * consecutively in its partition, so partial aggregation completes
    * map-side and only one pre-aggregated row per (vector, sub) moves. */
  private def assignCodes(sv: DataFrame, cbDf: DataFrame,
                          carry: Seq[String] = Seq.empty): DataFrame = {
    val aggs = min(distEntry(col("sv"))).as("mc") +:
      carry.map(c => first(col(c)).as(c))
    sv.join(broadcast(cbDf), "sub")
      .groupBy(col("vec_id"), col("sub"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def pqCodebookDf(spark: SparkSession,
                           cbs: Array[SubCentroid]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cbs.map(c => Row(c.sub, c.cid, c.cv.toSeq)).toSeq.asJava, pqCodebookSchema)
  }

  /** (sub, cid, cv) rows as a (sub, cid)-ordered codebook. */
  private def subCentroids(rows: Array[Row]): Array[SubCentroid] =
    rows.map(r => SubCentroid(r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy(c => (c.sub, c.cid))

  /** Load a persisted PQ-codebook artifact (the read side of
    * [[cachedModel]]'s disk tier). */
  private def readPqCodebookArray(spark: SparkSession,
                                  path: String): Array[SubCentroid] =
    subCentroids(spark.read.parquet(path).select(col("sub"), col("cid"), col("cv"))
      .collect())

  /** PQ codebook training — the same seeded, grid-rounded Lloyd as
    * [[trainIvfCentroidsArray]] run once per subspace (`sub` is just
    * another grouping key), with the same content-fingerprint cache:
    * codebooks are a BUILD artifact (m·nCodes·(d/m) doubles,
    * driver-resident like a broadcast model), trained once and served to
    * every subsequent probe. Deterministic, so a cache miss only
    * re-derives the identical table. */
  private def trainPqCodebooksArray(emb: DataFrame, sv: DataFrame, m: Int,
                                    nCodes: Int, iters: Int,
                                    variant: String = ""): Array[SubCentroid] =
    cachedModel[Array[SubCentroid]](s"pq$variant", emb, s"$m|$nCodes|$iters",
      read = p => readPqCodebookArray(emb.sparkSession, p),
      write = (p, cb) => pqCodebookDf(emb.sparkSession, cb)
        .coalesce(1).write.mode("overwrite").parquet(p)) {
      var cents = subCentroids(sv.where(col("vec_id") < nCodes)
        .select(col("sub"), col("vec_id").cast("long").as("cid"), col("sv"))
        .collect())
      for (_ <- 1 to iters)
        cents = subCentroids(lloydMeans(
          assignCodes(sv, pqCodebookDf(emb.sparkSession, cents), Seq("sv")),
          Seq("sub"), "sv"))
      cents
    }

  /** PQ sub-vector explode: `m` rows per row of `df`, (keys, sub, sv = the
    * sub-th of `m` equal slices of vector `v`). The subvectors of one
    * vector explode from its own row, so nothing is shuffled. */
  private def subVectors(df: DataFrame, keys: Seq[String], v: String,
                         m: Int): DataFrame = {
    val subLen = (size(col(v)) / m).cast("int")
    df.select(keys.map(col) ++ Seq(explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col(v)): _*)
      .select(keys.map(col) ++ Seq(col("sub"),
        slice(col(v), col("sub") * subLen + 1, subLen).as("sv")): _*)
  }

  /** Per-query ADC table: the distance from each query subvector (rows of
    * `qsv`: `keys`, sub, sv) to EVERY code of its subspace, not just the
    * nearest — |q|·m·nCodes rows (× nProbe when keyed by cell), small
    * enough that every reader broadcasts it. */
  private def adcTable(qsv: DataFrame, cbDf: DataFrame, keys: Column*): DataFrame =
    qsv.join(broadcast(cbDf), "sub")
      .select(keys ++ Seq(col("sub"), col("cid"),
        round(dist2(col("sv"), col("cv")), 6).as("d")): _*)

  /** Per-(qid, nid) ADC distance over joined (code, table-entry) rows. The
    * sum of m grid-rounded doubles is on the 1e-6 grid and its FP error is
    * far below half the grid, so round(6) is engine-portable. */
  private def adcSum(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("qid"), col("nid")).agg(round(sum(col("d")), 6).as("adist"))

  /** Exact L2 rerank of a (qid, nid) shortlist: only the shortlisted
    * vectors are fetched. The candidate set is tiny (|q|·shortlist ids),
    * so it is broadcast against the full vector table `e`, which is never
    * shuffled. */
  private def l2Rerank(e: DataFrame, queries: DataFrame, cand: DataFrame,
                       k: Int): DataFrame = {
    val q = ofQueries(e, queries).select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = broadcast(cand.join(broadcast(q), "qid"))
      .join(e.select(col("vec_id").as("nid"), col("v").as("nv")), "nid")
      .select(col("qid"), col("nid"),
        round(dist2(col("qv"), col("nv")), 6).as("dist"))
    rankTopK(exact, k, "dist")
  }

  /** The IVF-PQ serve tail of the raw and the residual variant: ADC over
    * the vectors of each query's probed cells only (the cell join prunes
    * candidates BEFORE any distance math), the `shortlist` best by ADC,
    * then [[l2Rerank]]. `dtab` joins on every column but its distance. */
  private def ivfPqServe(e: DataFrame, queries: DataFrame, codes: DataFrame,
                         probes: DataFrame, dtab: DataFrame, k: Int,
                         shortlist: Int): DataFrame = {
    val scored = adcSum(codes.join(broadcast(probes), "cell").where(notSelf)
      .join(broadcast(dtab), dtab.columns.filterNot(_ == "d").toSeq))
    l2Rerank(e, queries,
      shortlistOf(scored, col("adist"), shortlist).select(col("qid"), col("nid")), k)
  }

  private val pqCodebookSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sub",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType), nullable = false)))

  /** Product-quantization (PQ) top-k with asymmetric distance (ADC) — the
    * memory-compression path for 100-TB vector corpora: each vector is
    * stored as `m` codebook ids (64 float dims → 8 bytes at m=8/nCodes=16,
    * a 32× compression), and query-to-vector distance is approximated as
    * the sum of per-subspace query-to-centroid distances, i.e. `m` table
    * lookups instead of a full d-dim kernel.
    *
    * Scale shape: encoding is the map-side-complete [[assignCodes]]
    * kernel (codes are built in one scan against the broadcast codebook
    * table; subvectors of one vector explode from the same input row, so
    * nothing corpus-sized is shuffled); the per-query distance table
    * (|q|·m·nCodes rows) is broadcast; the only real shuffle is the final
    * (qid, nid) partial-aggregated ADC sum.
    */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
             nCodes: Int = 16, iters: Int = 2): DataFrame = {
    val sv = subVectors(vecs(emb), Seq("vec_id"), "v", m)
    val cbs = trainPqCodebooksArray(emb, sv, m, nCodes, iters)
    val cbDf = pqCodebookDf(emb.sparkSession, cbs)
    // The PQ index: m small ints per vector — the only per-vector state
    // ADC reads. Encoded once (map-side-complete argmin, assignCodes) and
    // persisted read-through: serving scans the code table, it does not
    // re-encode the corpus per query.
    val codes = IndexCache.cachedFrame(emb.sparkSession, "pq_codes",
        s"$m|$nCodes|$iters", corpusFp(emb)) {
      assignCodes(sv, cbDf)
        .select(col("vec_id").as("nid"), col("sub"), col("mc.cid").as("cid"))
    }
    val dtab = adcTable(ofQueries(sv, queries), cbDf, col("vec_id").as("qid"))
    rankTopK(adcSum(codes.join(broadcast(dtab), Seq("sub", "cid")).where(notSelf)),
      k, "adist")
  }

  /** PQ shortlist + exact re-rank — how PQ is actually served: the
    * compressed ADC pass produces a `shortlist`-deep candidate set (cheap,
    * reads only the 8-byte codes), then ONLY those candidates' full
    * vectors are fetched and exactly re-scored. The candidate set is tiny
    * (|q|·shortlist ids), so it is broadcast against the full vector table
    * — the 100-TB side is never shuffled. Measured on the uniform-random
    * sf0.01 corpus (the adversarial case for any quantizer): shortlist=50
    * of n=500 recovers 25/30 of the exact top-3 vs 7/30 for pure ADC
    * ranking (PERF.md). */
  def pqRerankTopK(emb: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
                   m: Int = 8, nCodes: Int = 16, iters: Int = 2): DataFrame = {
    val cand = pqTopK(emb, queries, shortlist, m, nCodes, iters)
      .select(col("qid"), col("nid"))
    l2Rerank(vecs(emb), queries, cand, k)
  }

  /** IVF-PQ composite serve — the FAISS-style 100-TB ANN shape: a coarse
    * IVF quantizer routes each query to its `nProbe` nearest cells, ADC
    * scores ONLY the vectors living in probed cells against the 8-byte PQ
    * codes, and the exact kernel runs solely on the shortlist survivors.
    * Cost per query is (corpus/nCells)·nProbe code lookups instead of a
    * corpus scan — the multiplicative composition of IVF's candidate cut
    * and PQ's bandwidth cut.
    *
    * Scale shape: BOTH models are k·d broadcast artifacts (trained via the
    * cached deterministic Lloyd kernels); cell assignment and PQ encode
    * are map-side-complete ([[assignNearest]]/[[assignCodes]] — one
    * pre-aggregated row per vector moves); the probe set and ADC distance
    * table are |q|-sized broadcasts; the only corpus-keyed shuffle is the
    * (qid, nid) ADC partial-sum, already cell-filtered. Codebooks here are
    * trained on the raw vectors (not IVF residuals) so the oracle replays
    * each stage independently; the residual variant changes one projection.
    */
  def ivfPqRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                      nCells: Int = 16, ivfIters: Int = 2, nProbe: Int = 2,
                      m: Int = 8, nCodes: Int = 16, pqIters: Int = 2,
                      shortlist: Int = 30): DataFrame = {
    val spark = emb.sparkSession
    val e = vecs(emb)
    // Coarse quantizer: cell per corpus vector (map-side assign against
    // the broadcast centroid model).
    val model = centroidDf(spark, trainIvfCentroidsArray(emb, nCells, ivfIters))
    // PQ index: m small ints per vector + its coarse cell, encoded in-scan
    // ONCE and persisted read-through — the stored IVF-PQ index a serve
    // fleet reads; per-query work starts at the probe, not the encode.
    val sv = subVectors(e, Seq("vec_id"), "v", m)
    val cbDf = pqCodebookDf(spark, trainPqCodebooksArray(emb, sv, m, nCodes, pqIters))
    val codes = IndexCache.cachedFrame(spark, "ivfpq_codes",
        s"$nCells|$ivfIters|$m|$nCodes|$pqIters", corpusFp(emb)) {
      val cells = assignNearest(e, model, Seq.empty)
        .select(col("vec_id").as("nid"), col("mc.cid").as("cell"))
      assignCodes(sv, cbDf)
        .select(col("vec_id").as("nid"), col("sub"), col("mc.cid").as("cid"))
        .join(cells, "nid")
    }
    val probes = probeCells(ofQueries(e, queries), model, nProbe, carry = Nil,
      cell = "cell")
    val dtab = adcTable(ofQueries(sv, queries), cbDf, col("vec_id").as("qid"))
    ivfPqServe(e, queries, codes, probes, dtab, k, shortlist)
  }

  /** RESIDUAL IVF-PQ — the FAISS-default refinement of
    * [[ivfPqRerankTopK]]: PQ codebooks are trained on (and codes encode)
    * the residual v − centroid(cell(v)) instead of the raw vector, so the
    * quantizer spends its 8 bytes on the WITHIN-cell geometry the coarse
    * quantizer already localized — tighter codes at identical cost. The
    * query side computes one residual per PROBED cell (q − centroid(c)),
    * making the ADC table (qid, cell, sub, cid)-keyed — nProbe× larger
    * than the raw variant's, still a |q|-bounded broadcast. Same scale
    * shape otherwise: broadcast models, map-side assign/encode, the one
    * corpus-keyed shuffle is the cell-filtered ADC partial sum. */
  def ivfPqResidualRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                              nCells: Int = 16, ivfIters: Int = 2,
                              nProbe: Int = 2, m: Int = 8, nCodes: Int = 16,
                              pqIters: Int = 2, shortlist: Int = 30): DataFrame = {
    val spark = emb.sparkSession
    val e = vecs(emb)
    val model = centroidDf(spark, trainIvfCentroidsArray(emb, nCells, ivfIters))
    val cellCv = broadcast(model.select(col("cid").as("cell"), col("cv")))
    // Residual per corpus vector: assigned cell + v − centroid.
    val cells = assignNearest(e, model, Seq("v"))
      .select(col("vec_id"), col("v"), col("mc.cid").as("cell"))
      .join(cellCv, "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
    val sv = subVectors(cells, Seq("vec_id"), "r", m)
    val cbDf = pqCodebookDf(spark,
      trainPqCodebooksArray(emb, sv, m, nCodes, pqIters, variant = "res"))
    // Residual code table + coarse cell, encoded once and persisted
    // read-through (the stored residual IVF-PQ index).
    val codes = IndexCache.cachedFrame(spark, "ivfpqres_codes",
        s"$nCells|$ivfIters|$m|$nCodes|$pqIters", corpusFp(emb)) {
      assignCodes(sv, cbDf)
        .select(col("vec_id").as("nid"), col("sub"), col("mc.cid").as("cid"))
        .join(cells.select(col("vec_id").as("nid"), col("cell")), "nid")
    }
    // Query probes: nProbe nearest cells, one residual per probed cell.
    val probes = probeCells(ofQueries(e, queries), model, nProbe,
        carry = Seq("v" -> "qv"), cell = "cell")
      .join(cellCv, "cell")
      .select(col("qid"), col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("rq"))
    val dtab = adcTable(subVectors(probes, Seq("qid", "cell"), "rq", m), cbDf,
      col("qid"), col("cell"))
    ivfPqServe(e, queries, codes, probes.select(col("qid"), col("cell")), dtab,
      k, shortlist)
  }

  /** LSH-bucketed top-k: only candidates sharing the query's sign bucket are
    * scored. Recall < 1 by construction; bucketBits trades recall for cost. */
  def lshBucketTopK(emb: DataFrame, queries: DataFrame, k: Int,
                    bucketBits: Int = 0): DataFrame = {
    val bits = resolveBits(emb, bucketBits)
    val q = prep(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        signBucket(col("v"), bits).as("bucket"))
    rankTopK(bucketScores(bucketed(emb, bits), broadcast(q)), k)
  }

  /** Per-dimension int8 quantization codes for `v` against broadcast
    * bounds columns (`mns`, `ws` = per-dim min and width arrays). Maps
    * [mn, mn+w] → [-127, 127] via floor(x + 0.5) — floor, NOT round: the
    * two engines disagree on round-half semantics, floor(x+0.5) is
    * bit-identical in both. Integer codes make every downstream
    * comparison exact. */
  private def sqCodes(v: Column, mns: Column, ws: Column): Column =
    zip_with(zip_with(v, mns, (x, mn) => x - mn), ws,
      (u, w) => floor(u / w * 254.0 + 0.5).cast("long") - 127L)

  /** Scalar-quantization (int8) top-k with exact rerank — the
    * memory-bandwidth ANN path: the corpus streams as 64 int8 codes per
    * vector (4× less traffic than float32, 8× less than the widened
    * doubles), the approximate integer dot ranks a `shortlist`, and only
    * shortlist×|queries| full-precision vectors are ever touched for the
    * exact cosine rerank. Per-dim bounds come from ONE partial+final
    * aggregation over the posexploded corpus (64 groups — map-side
    * combine collapses it) and ride along as a 1-row broadcast; the
    * integer scoring is exact arithmetic, so the shortlist is
    * deterministic across engines, unlike a float approximate score. */
  def sqRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int): DataFrame = {
    val e = vecs(emb)
    // Per-dim [min, max] in ONE pass; zero-width dims quantize to a
    // constant code (every vector gets the same value for that dim, so
    // the dot contribution is equal and ranking is unaffected).
    val bounds = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(sort_array(collect_list(struct(col("i"), col("mn"), col("mx"))))
        .as("bs"))
      .select(transform(col("bs"), b => b("mn")).as("mns"),
        transform(col("bs"), b => when(b("mx") > b("mn"), b("mx") - b("mn"))
          .otherwise(lit(1.0))).as("ws"))
      .localCheckpoint() // 1 row; both coded branches (corpus + query)
                         // would otherwise re-run the posexplode agg
    val coded = e.crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("v"),
        sqCodes(col("v"), col("mns"), col("ws")).as("codes"))
    val q = ofQueries(coded, queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("codes").as("qcodes"))
    // Integer dot over int8 codes via the codegen'd vec_dot: every
    // product is ≤ 127², the 64-term sum ≤ 2²⁰ — exactly representable in
    // a double, so the cast back to long is the same integer the
    // interpreted HOF fold produced (measured ~6× on this hot path, the
    // same gap DotProduct's scaladoc records for the float path).
    shortlistRerank(coded, q,
      dot(col("qcodes").cast("array<double>"), col("codes").cast("array<double>"))
        .cast("long").as("iscore"), col("iscore").desc, shortlist, k)
  }

  /** Approximate shortlist + exact rerank: every row of `coded` (vec_id,
    * v, codes) is scored by `approx` against each broadcast query row of
    * `q` (qid, qv, query codes), self excluded; the `shortlist` best by
    * `order` keep both full vectors, and the exact cosine reranks them,
    * with norms computed on the ≤ shortlist×|queries| surviving rows, not
    * the corpus. */
  private def shortlistRerank(coded: DataFrame, q: DataFrame, approx: Column,
                              order: Column, shortlist: Int, k: Int): DataFrame = {
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id").as("nid"), col("v").as("nv"),
        approx)
    rankTopK(shortlistOf(scored, order, shortlist).select(col("qid"), col("nid"),
      cosine(col("qv"), col("nv"), l2Norm(col("qv")), l2Norm(col("nv")))), k)
  }

  /** Sign bits of `v` for dims [32·word, 32·word+32) packed into one long
    * (bit i set iff v[32·word+i] > 0). Two 32-bit words per 64-dim vector
    * keep every shift ≤ 31 — a 1<<63 BIGINT shift overflows in some
    * engines — and integer packing makes the downstream Hamming scores
    * exact arithmetic, identical everywhere. */
  private def signWord(v: Column, word: Int): Column =
    aggregate(
      transform(slice(v, 32 * word + 1, 32),
        // 2^i is exact in a double for i ≤ 31, so the cast back to long is
        // the same integer shiftleft(1L, i) would produce (the DSL's
        // shiftleft only takes a literal shift, not the lambda index).
        (x, i) => when(x > 0.0, pow(lit(2.0), i).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))

  /** 1-bit binary quantization + Hamming shortlist + exact rerank — the
    * last rung of the quantization ladder (float32 → int8 `sqRerankTopK` →
    * PQ codes → sign bits): the corpus streams as 8 BYTES per 64-dim
    * vector (32× less traffic than float32), the shortlist ranks by
    * popcount(xor) of the packed words — small Hamming distance between
    * sign patterns ≈ small angle, the binary-quantization serving trick —
    * and only shortlist×|queries| full-precision vectors are touched for
    * the exact cosine rerank. Both stages are integer-exact, so the
    * shortlist is deterministic across engines. */
  def binaryRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                       shortlist: Int): DataFrame = {
    val coded = vecs(emb).select(col("vec_id"), col("v"),
      signWord(col("v"), 0).as("w0"), signWord(col("v"), 1).as("w1"))
    val q = ofQueries(coded, queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    shortlistRerank(coded, q,
      (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
        bit_count(col("w1").bitwiseXOR(col("qw1")))).as("ham"),
      col("ham"), shortlist, k)
  }

  /** Top-principal-component projection — PCA as an aggregation-trained
    * linear model, the embedding-preprocessing step (decorrelation /
    * dominant-direction scoring) a training-data pipeline runs before
    * cosine dedup or clustering. Engine shape: vectors quantize to a 1e-4
    * integer grid map-side, the covariance's sufficient statistics are ONE
    * shuffle of (i, j, Σxᵢxⱼ) integer triples (d² = 4 096 groups — partial
    * aggregation collapses the explode map-side) plus a d-group Σxᵢ pass,
    * and the centered matrix n·Σxy − Σx·Σy assembles DRIVER-SIDE as a
    * bounded d×d model (exact long arithmetic — order-free, so the
    * distributed sum needs no rounding discipline). `iters` power
    * iterations (max-abs normalization, every iterate snapped to a 1e-6
    * grid with floor(x+0.5) — the engine-portable rounding) yield the
    * dominant eigenvector, persisted read-through like every trained
    * model; the projection pass is one map-side fold against the
    * broadcast-literal eigenvector. Nothing driver-side grows with n. */
  def pcaProject(emb: DataFrame, iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1e4 + 0.5).cast("long")).as("xi"))
    val w: Array[Double] =
      cachedModel[Array[Double]]("pca", emb, s"$iters",
        read = p => spark.read.parquet(p).head().getSeq[Double](0).toArray,
        write = (p, m) => {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(
            Seq(org.apache.spark.sql.Row(m.toSeq)).asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("w",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType), nullable = false))))
            .coalesce(1).write.mode("overwrite").parquet(p)
        }) {
        val n = e.count()
        val sx = e.select(posexplode(col("xi")).as(Seq("i", "x")))
          .groupBy(col("i")).agg(sum(col("x")).as("sx"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        val d = sx.size
        val c = Array.ofDim[Double](d, d)
        e.select(explode(expr("flatten(transform(xi, (x, i) -> " +
            "transform(xi, (y, j) -> struct(i AS i, j AS j, x * y AS xy))))"))
            .as("p"))
          .groupBy(col("p.i").as("i"), col("p.j").as("j"))
          .agg(sum(col("p.xy")).as("sxy"))
          .collect()
          .foreach { r =>
            val i = r.getInt(0); val j = r.getInt(1)
            // |x| < 1 ⇒ grid values < 1e4, so n·Σxy stays far inside a
            // long AND inside double's 2^53 at oracle scales — the cast
            // is exact where the oracle compares, deterministic always.
            // Beyond ~3e5 vectors n²·1e8 leaves Long range while DuckDB
            // promotes to HUGEINT: *Exact makes that divergence fail
            // loudly (ArithmeticException) instead of silently wrapping.
            c(i)(j) = Math.subtractExact(
              Math.multiplyExact(n, r.getLong(2)),
              Math.multiplyExact(sx(i), sx(j))).toDouble
          }
        var v = Array.fill(d)(1.0)
        for (_ <- 1 to iters) {
          val raw = Array.tabulate(d) { i =>
            var s = 0.0; var j = 0
            while (j < d) { s += c(i)(j) * v(j); j += 1 } // left fold, like
            s                                             // the SQL list_sum
          }
          val m = raw.map(math.abs).max
          v = raw.map(x => math.floor(x / m * 1e6 + 0.5) / 1e6)
        }
        v
      }
    val wLit = w.map(x => String.format(java.util.Locale.ROOT, "%.6fD", Double.box(x)))
      .mkString("array(", ", ", ")")
    e.select(col("vec_id"),
      round(expr(s"aggregate(zip_with(xi, $wLit, " +
        "(a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, t) -> acc + t)") / 1e4, 6)
        .as("pc1"))
  }

  /** Truncated-prefix (matryoshka-style) top-k with exact rerank: the
    * shortlist ranks by the dot product over only the FIRST `prefixDims`
    * dimensions — the nested-representation trick (embeddings trained so
    * information concentrates in the leading dims) that cuts the scan's
    * arithmetic and memory traffic by d/prefixDims. The full-precision
    * cosine then reranks the shortlist. The approximate score is a
    * left-to-right double fold ROUNDED to 6 dp before ranking (ties break
    * on nid), so the shortlist cannot differ across engines. */
  def prefixRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                       shortlist: Int, prefixDims: Int): DataFrame = {
    val e = vecs(emb).withColumn("p", slice(col("v"), 1, prefixDims))
    val q = ofQueries(e, queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("p").as("qp"))
    shortlistRerank(e, q, round(dot(col("qp"), col("p")), 6).as("pscore"),
      col("pscore").desc, shortlist, k)
  }
}
