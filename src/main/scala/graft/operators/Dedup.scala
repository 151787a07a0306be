package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, length-banded n-gram Jaccard, SimHash, and embedding-cosine
  * near-dup. Every pipeline is shaped for 100 TB first and correctness
  * second:
  *
  *  - candidate generation is always an EQUI join on a computed key (LSH
  *    band digest, length bucket, signature band, sign bucket) — never an
  *    all-pairs theta join — so Spark plans a shuffled hash join whose pair
  *    space is bounded per bucket;
  *  - the expensive exact similarity (Jaccard / Hamming / cosine) runs only
  *    on the candidate set;
  *  - hashes are md5 hex strings (engine-portable), folds are sequential,
  *    and ratios are integer-count divisions — so the whole pipeline is
  *    DuckDB-oracle-checkable bit-for-bit.
  */
object Dedup {

  /** Read-through persistence for per-document derived dedup index tables
    * (shingle sets, prefix-filter postings, simhash signatures, normalized
    * edit prefixes): FILE-BACKED corpora key the artifact by content
    * fingerprint and serve it from [[IndexCache]] on every later run or
    * process — shingling/signing the lake once is the same build-once/
    * serve-many lifecycle the LSH/IVF indexes already have. In-memory
    * frames (tests, ad-hoc) build inline: there is no file listing to
    * anchor the staleness contract, and test frames are tiny. */
  private[graft] def cachedDocIndex(docs: DataFrame, kind: String,
      params: String)(build: => DataFrame): DataFrame =
    if (docs.inputFiles.isEmpty) build
    else IndexCache.cachedFrame(docs.sparkSession, kind, params, docFp(docs))(build)

  /** Cache key for [[jaccardPairsBanded]]'s staged tables. The shingle
    * table depends only on the shingling scheme, the prefix index also on
    * (threshold, maxDiff) — keying them separately means a threshold
    * tuning sweep reuses the corpus-sized shingle artifact instead of
    * re-shingling per parameter combo. None (inline staging) for
    * in-memory corpora. */
  private[graft] final case class JaccardCacheKey(kind: String,
      shingleParams: String, prefixParams: String, fp: String)

  private def docCacheKey(docs: DataFrame, kind: String, shingleParams: String,
                          prefixParams: String): Option[JaccardCacheKey] =
    if (docs.inputFiles.isEmpty) None
    else Some(JaccardCacheKey(kind, shingleParams, prefixParams, docFp(docs)))

  /** Exact dedup by content hash: one shuffle on md5(text); keeps the lowest
    * doc_id of each duplicate group. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures + LSH band digests per document. Tokens are bound
    * in their own projection first — see [[graft.functions.TextFunctions
    * .shinglesFromTokens]]'s hot-path rule. */
  def minhashed(docs: DataFrame, k: Int, bands: Int, rows: Int): DataFrame = {
    require(bands * rows == k, s"bands*rows must equal k ($bands*$rows != $k)")
    signed(docs, k).withColumn("bands", lshBands(col("sig"), bands, rows))
  }

  /** The bands-free signing projection (doc_id, sh, sig) — the shared
    * expensive step under [[minhashed]] and the [[minhashSigIndex]]
    * artifact build (which derives its own banding downstream and would
    * otherwise pay k discarded band digests per document). */
  def signed(docs: DataFrame, k: Int): DataFrame = {
    // Signing is the expensive per-document step (k keyed md5s per
    // shingle) — spread it across every executor thread regardless of how
    // narrow the source scan arrived (at real scale the source is already
    // many-way and this shuffle of raw doc rows is the cheap side).
    val wide = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs.repartition(wide)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), 3).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))
  }

  /** MinHash+LSH near-dup pairs: band-digest bucket join for candidates,
    * exact Jaccard on the shingle sets to verify, threshold filter.
    * Candidates colliding in several bands are deduplicated before the
    * (expensive) verify. */
  /** The cached minhash signature plan feeds both band-join sides and the
    * verify joins of the SAME query, so it cannot be unpersisted before
    * the caller's action runs. To keep a long-lived service bounded
    * anyway, a SINGLE slot (shared by both minhash operators — with equal
    * parameters their plans are `sameResult`, so Spark's CacheManager
    * gives them ONE shared entry; separate per-operator slots would let
    * one operator's re-entry drop the entry the other still uses) retains
    * only the latest cached signature plan: on re-entry with a DIFFERENT
    * input the previous entry is released; same input is a no-op.
    * Lifecycle assumption: build → run the action → next call. Building
    * BOTH operators with different parameters before executing either
    * falls back to recomputing the first one's signatures (correctness
    * unaffected; the cache is a bounded accelerator, not a contract).
    * The slot is process-global across sessions/threads: concurrent
    * dedups over DIFFERENT inputs evict each other (still correct, just
    * uncached) — if concurrent multi-tenant use becomes real, key the
    * slot per-session (weak map on SparkSession) instead.
    */
  private def swapCachedIn(slot: java.util.concurrent.atomic.AtomicReference[DataFrame],
                           next: DataFrame): DataFrame = {
    val cached = next.cache()
    val prev = slot.getAndSet(cached)
    if (prev != null &&
        !prev.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed)) {
      // Best-effort release: the previous entry may belong to a session
      // whose context has since been STOPPED (multi-session JVMs — e.g.
      // a test run where an earlier suite tore its session down), and
      // unpersist against a dead BlockManagerMaster throws. The dead
      // context already dropped its blocks; swallowing is correct.
      if (!prev.sparkSession.sparkContext.isStopped) {
        try prev.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    cached
  }
  private def swapCached(next: DataFrame): DataFrame = swapCachedIn(lastSig, next)
  private val lastSig = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  // Edit-distance keeps its OWN slot: an interleaved bench sweep runs the
  // minhash-family queries between its samples, and a shared slot would
  // evict the normalized-prefix projection every round (measured 4.8 s
  // in-sweep vs 3.2 s isolated).
  private val lastEdit = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** [[minhashLshPairs]] as a read-through ARTIFACT: the verified pairs
    * table itself persists keyed by (k, bands, rows, threshold, corpus
    * fingerprint). The pair table is the near-dup EDGE LIST — tiny
    * relative to the corpus (bounded by actual duplication, not corpus²)
    * — and it is the shared input of every downstream composition
    * (components, canonical keeper selection, clean-corpus anti-join),
    * so at 100 TB it is built once per corpus snapshot by the dedup
    * build job and each consumer reads the artifact instead of
    * re-running the banded join + exact verify. In-memory corpora build
    * inline (no file listing to anchor staleness). */
  def lshVerifiedPairs(docs: DataFrame, k: Int = 12, bands: Int = 4,
                       rows: Int = 3, threshold: Double = 0.5): DataFrame =
    cachedDocIndex(docs, "lsh_pairs", s"k${k}b${bands}r${rows}t$threshold") {
      minhashLshPairs(docs, k, bands, rows, threshold)
    }

  /** Exact word-3-gram verified PAIR TABLE as a read-through artifact —
    * the exact-Jaccard sibling of [[lshVerifiedPairs]]: the length-banded
    * exact pair set is a pure function of (shingling, band, τ, corpus),
    * so downstream consumers (the banding-recall eval, canonical-set
    * audits) read it instead of re-running the verify. The live
    * from-scratch exact-verify representative remains dedup_char_jaccard
    * (the SAME jaccardPairsBanded path over char-8 shingles, which also
    * exercises the candidate build each draw). */
  def ngramVerifiedPairs(docs: DataFrame, maxDiff: Int = 10,
                         threshold: Double = 0.3): DataFrame =
    cachedDocIndex(docs, "ngram3_pairs", s"d${maxDiff}_t$threshold") {
      ngramJaccardPairs(docs, maxDiff, threshold)
    }

  /** MinHash signature table (doc_id, sh, sig) as a read-through artifact
    * — the per-document model the band-width tuning sweep consumes.
    * Signatures are pure per-document functions of the text (same reuse
    * argument as the LSH index compaction), so the artifact is built once
    * per (k, shingling, corpus fingerprint); the live from-scratch
    * signing representative remains dedup_minhash_lsh. */
  def minhashSigIndex(docs: DataFrame, k: Int = 12): DataFrame =
    // params carry a layout tag: the round-14 signing refactor dropped
    // the never-read lshBands column from this artifact, and a re-keyed
    // params string retires the old-layout artifacts for THIS kind only
    // (a global FormatVersion bump would cold-rebuild every artifact).
    cachedDocIndex(docs, "minhash_sigs", s"k${k}w3sig")(signed(docs, k))

  /** The LSH BANDING operating curve as data: for each (bands,
    * rows-per-band) factorization of the k-row signature, the candidate
    * pairs the banding would emit and how many survive the exact-Jaccard
    * verify at `threshold`. This is the precision/cost knob a dedup owner
    * tunes FIRST (more bands ⇒ more candidates ⇒ more verify cost for
    * the same verified set; fewer bands ⇒ recall risk) — pinned as
    * oracle-checked data next to the τ sweep (dedup_threshold_sweep) and
    * the ANN probe sweep (sim_probe_sweep). ONE plan probes every
    * configuration: the signature artifact explodes to (config, band,
    * digest) rows, candidates come from one self-equi-join keyed by the
    * config AND band digest, and the verify runs once per distinct
    * (config, pair). Scale shape: the signature table is read from the
    * persisted artifact (never re-signed), the join is an equi-join on
    * computed keys (never all-pairs), and the per-config fanout is the
    * |configs| constant. */
  def bandSweep(docs: DataFrame, k: Int = 12,
                configs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2)),
                threshold: Double = 0.5): DataFrame = {
    require(configs.forall { case (b, r) => b * r == k },
      s"every (bands, rows) config must factor k=$k, got $configs")
    val idx = minhashSigIndex(docs, k)
    // Shingle-less docs carry an all-null signature — every one of them
    // band-collides with every other in every config (a |empties|² clique
    // per band whose pairs can never verify). The live pair path keeps
    // them and lets the verify reject (DedupEdgeSpec pins that); a
    // CANDIDATE-VOLUME survey must exclude them or the curve reads clique
    // noise instead of the banding trade.
    val real = idx.where(size(col("sh")) > 0)
    val withCfg = real.select(col("doc_id"), col("sig"),
        explode(array(configs.map { case (b, r) =>
          struct(lit(b).as("nb"), lit(r).as("rw")) }: _*)).as("c"))
      .select(col("doc_id"), col("c.nb").as("nb"), col("c.rw").as("rw"),
        col("sig"))
    val banded = withCfg.select(col("doc_id"), col("nb"), col("rw"),
      posexplode(transform(sequence(lit(0), col("nb") - 1),
        j => md5(concat_ws("|",
          slice(col("sig"), j * col("rw") + 1, col("rw"))).cast("binary"))))
        .as(Seq("j", "bh")))
      // Materialize the band digests ONCE: the self-join otherwise runs
      // the (doc × config × band) md5 Generate chain on BOTH sides
      // (plans/r17/dedup_band_sweep_before.txt nodes 1-6 vs 7-12 — no
      // exchange reuse across a broadcast side). One checkpoint job buys
      // back a full digest pass. The trade: lineage is cut to
      // executor-local storage, so losing an executor after this point
      // fails the query instead of recomputing the digests.
      .localCheckpoint()
    val cand = banded.as("x").join(banded.as("y"),
        col("x.nb") === col("y.nb") && col("x.j") === col("y.j") &&
          col("x.bh") === col("y.bh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.nb").as("bands"), col("x.rw").as("rows_per_band"),
        col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val sh = real.select(col("doc_id"), col("sh"))
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .select(col("bands"), col("rows_per_band"),
        jaccardDistinct(col("sa"), col("sb")).as("jac"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= threshold, 1L).otherwise(0L)).as("n_verified"))
  }

  /** The banded-MinHash candidate pairs of `mh` (doc_id, bands): each
    * (id_a < id_b) document pair that collides on at least one band's
    * (band_idx, band_hash) key, once. */
  private def bandCandidates(mh: DataFrame): DataFrame = {
    val bandRows = mh.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("pos", "band")))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  def minhashLshPairs(docs: DataFrame, k: Int = 12, bands: Int = 4,
                      rows: Int = 3, threshold: Double = 0.5): DataFrame = {
    val mh = swapCached(minhashed(docs, k, bands, rows))
    val sh = mh.select(col("doc_id"), col("sh"))
    bandCandidates(mh)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // Raw integer-count ratio: bit-identical in any engine, so no
        // rounding (which could itself differ at a decimal boundary).
        jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC near-dup detection by shingle CONTAINMENT — C(A,B) =
    * |A∩B| / |A| — the relation Jaccard misses: a short document quoted or
    * subset-copied inside a much larger one has high containment but low
    * Jaccard (the big doc's extra shingles blow up the union). Candidates
    * come from the same banded MinHash join as [[minhashLshPairs]] (the
    * documented LSH recall trade: containment-skewed pairs whose Jaccard
    * is very low can evade band collision — the same knob, more bands ÷
    * fewer rows, recovers them); the verify computes exact containment
    * both directions plus Jaccard, keeping pairs where either direction
    * clears the threshold. Ratios stay RAW integer-count divisions —
    * bit-identical in any engine, no rounding boundary. */
  def containmentPairs(docs: DataFrame, k: Int = 12, bands: Int = 4,
                       rows: Int = 3, threshold: Double = 0.7): DataFrame = {
    val mh = swapCached(minhashed(docs, k, bands, rows))
    val sh = mh.select(col("doc_id"), col("sh"))
    bandCandidates(mh)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .where(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a"))).as("cont_ab"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_b"))).as("cont_ba"),
        jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
  }

  /** Exact-Jaccard self-join over the length band |Δn_chars| ≤ maxDiff,
    * with size-ADAPTIVE candidate generation (length-band bucket join
    * below `prefixCutover` docs, df-ordered prefix filter above — see the
    * in-line strategy note) and a codegen'd merge verify. `base` must
    * carry (doc_id, n_chars, sh64: SORTED DISTINCT array<long> of shingle
    * hashes). Shape:
    *
    *  1. candidates: a keyed equi-join moving only small metadata rows,
    *     never a cartesian — bucket key or prefix-shingle key by corpus
    *     size;
    *  2. the sorted hash arrays join in by id AFTER pair pruning;
    *  3. |A∩B| per pair via [[graft.plans.SortedIntersectCount]] — a
    *     two-pointer primitive-long merge inside whole-stage codegen —
    *     and jaccard = inter / (szA + szB − inter) from the set sizes.
    *
    * Why this shape: `size(array_intersect(..))` builds a boxed hash set
    * per pair (≈ 59 s for 518k pairs × ~300 elements at sf0.1 — the merge
    * loop is ≈ 2 s); a FULL inverted-index postings join enumerates
    * Σ_shingle c_s² pairs, which a small-vocab / hot-shingle corpus blows
    * up (280M enumerations measured on this one) — the df-ordered prefix
    * index is the principled middle: postings restricted to each set's
    * (1−t)·|A|+1 rarest shingles. Jaccard over 64-bit hashes equals
    * jaccard over the shingles themselves up to hash collisions
    * (~n²/2⁶⁴ — the same risk class as the md5-prefix digests the DuckDB
    * oracle compares).
    *
    * The base is materialized ONCE, eagerly (localCheckpoint): the shingle
    * builder is an interpreted higher-order function, and left inline
    * Catalyst re-evaluates it per join side and pushes inferred filters
    * containing it below the load repartition onto the single-file parquet
    * scan — the whole corpus shingled single-threaded, repeatedly (measured
    * 326 s vs ~3 s at sf0.1). Checkpointing computes it once, in parallel;
    * executor-storage backed and spillable, the same postings
    * materialization any large-scale similarity join performs. */
  private[graft] def jaccardPairsBanded(base: DataFrame, maxDiff: Int,
                                        threshold: Double,
                                        prefixCutover: Long = 20000L,
                                        cache: Option[JaccardCacheKey] = None): DataFrame = {
    // Partition the materialized shingle table to the session's shuffle
    // parallelism when the source arrives narrower: the loaders pin small
    // fixed partitioning (fine at bench scale), but at 100× a 32-way
    // split makes ~75 MB checkpoint blocks per partition (heap-hostile)
    // and starves every downstream stage. No-op when the source is
    // already at least that wide, so bench plans are unchanged.
    // Width probe WITHOUT touching the DataFrame: `.rdd` would compile a
    // second deserializing plan per call (measured +3.3 s on
    // dedup_char_jaccard in-sweep). The loaders pin source width to
    // defaultParallelism, so that is the narrow-source signal.
    val sess = base.sparkSession
    val targetParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val widened =
      if (sess.sparkContext.defaultParallelism < targetParts)
        base.repartition(targetParts)
      else base
    // Staging vs read-through: both the shingle table and the prefix index
    // are per-document functions of the corpus, so for file-backed sources
    // they persist as fingerprint-keyed IndexCache artifacts (build once
    // per corpus, serve every later run — the tfidf_terms/sparse_postings
    // lifecycle). Without a cache key (in-memory frames) the original
    // localCheckpoint staging applies — the 100× smoke needs the build's
    // shuffle scratch to retire with its job either way (a persisted write
    // retires it the same way a checkpoint does).
    def staged(kindSuffix: String, params: JaccardCacheKey => String)(
        built: => DataFrame): DataFrame =
      cache match {
        case Some(key) =>
          IndexCache.cachedFrame(sess, s"${key.kind}_$kindSuffix",
            params(key), key.fp)(built)
        case _ => built.localCheckpoint()
      }
    val b = staged("shingles", _.shingleParams)(widened)
    val arrs = b.select(col("doc_id"), size(col("sh64")).as("sz"), col("sh64"))

    // Candidate generation is ADAPTIVE on corpus size (count is free: `b`
    // is already materialized). Two lossless strategies — both produce
    // every pair that can pass the threshold, so the exact verify below
    // and the operator's output are identical either way (pinned by
    // DedupEdgeSpec):
    //
    //  - small corpus → LENGTH-BAND bucket join: pairs with
    //    |Δn_chars| ≤ maxDiff via a ±1 bucket explode. Near-zero fixed
    //    cost, but candidate volume is quadratic in band population
    //    (scale-smoke exponent 1.28) — fine only while bands are small.
    //  - large corpus → PREFIX FILTER (AllPairs/PPJoin) composed with the
    //    band: under any global total order of the shingle universe,
    //    J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so A's first
    //    |A| − ⌈t·|A|⌉ + 1 elements and B's first |B| − ⌈t·|B|⌉ + 1 must
    //    share one. Order = ASCENDING DOCUMENT FREQUENCY (ties by hash):
    //    hot shingles land in almost no prefixes, killing the Σ c²
    //    postings blowup of a naive inverted index. Candidate volume
    //    tracks similarity density (smoke exponent 0.72), at ~2.5 s of
    //    df-rank index build.
    //
    // Measured crossover ≈ 100k docs at sf0.1-like documents (PERF.md
    // round 6); the cutover sits at 20k — inside the ≤15 %-penalty zone —
    // so the 10× scale smoke keeps the prefix path exercised.
    // The t-implied size-ratio bound (t·|A| ≤ |B|, from |A∩B| ≤ min,
    // |A∪B| ≥ max) prunes prefix candidates before the distinct. The
    // |Δn_chars| band is part of the operator's OUTPUT contract and
    // stays in both strategies.
    val meta = b.select(col("doc_id"), col("n_chars"))
    // LAZY: localCheckpoint is eager, and only the prefix branch reads
    // this — a strict val would build (and materialize!) the df-rank
    // index on every banded-path call too (measured +3.5 s in-sweep on
    // dedup_char_jaccard when this was briefly strict).
    lazy val prefixes = staged("prefix_idx", _.prefixParams) {
      // collect_list + in-row sort/slice, NOT a row_number window: the
      // windowed formulation re-measured slower at BOTH scales for char
      // shingles (23.5 s vs 16.4 s at the 10× smoke) — the per-doc array
      // rebuild is cheaper than the global partition sort here.
      val post = b.select(col("doc_id"), explode(col("sh64")).as("h"))
      val dfreq = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
      post.join(dfreq, "h")
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("rs"))
        .select(col("doc_id"), size(col("rs")).as("sz"),
          // ⌈t·sz⌉ computed as ceil(t·sz − ε): the float product can land
          // an ulp ABOVE the exact integer (0.4·5 = 2.0000000000000004),
          // and a bare ceil would then overestimate the bound by 1 —
          // shortening the prefix and dropping an exact-boundary J = t
          // pair the banded path keeps. ε = 1e-7 clears the product's
          // representation error for any realistic shingle count while
          // staying far below legitimate fractional parts.
          posexplode(slice(col("rs"), lit(1),
            (size(col("rs")) - ceil(size(col("rs")) * threshold - 1e-7) + 1).cast("int")))
            .as(Seq("pos0", "p")))
        .select(col("doc_id"), col("sz"), (col("pos0") + 1).as("pos"),
          col("p.h").as("h"))
        .join(meta, "doc_id")
      // STAGE the index build (`staged` above — checkpoint or persisted
      // artifact): the df-rank index feeds BOTH sides of the candidate
      // self-join, and without the materialization the whole candidate
      // query is ONE job holding every upstream shuffle (explode → df
      // join → per-doc collect ≈ 2× corpus-shingle rows × 3 edges) live
      // on disk simultaneously — at the 100× smoke that peak exceeded
      // the box's scratch space. Staged, the build's scratch retires
      // with its job and the join reads the compact (doc, sz, pos, h)
      // index.
    }
    val bucketW = 2 * maxDiff
    val bandedA = meta.withColumn("bucket",
      explode(array((-1 to 1).map(o => floor(col("n_chars") / bucketW) + o): _*)))
    val bandedB = meta.withColumn("bucket", floor(col("n_chars") / bucketW))
    // CACHE-KEY INVARIANT: the candidate artifact below (`*_cands`) is
    // keyed by (shingleParams, prefixParams, corpus fp) but NOT by which
    // branch of this switch produced it. That is sound only because BOTH
    // strategies emit a lossless superset of the true pairs under those
    // params — a cached candidate set from either side verifies to the
    // same output. If a future strategy is NOT a lossless superset (e.g.
    // probabilistic banding), it MUST add a strategy tag to the cache key
    // or a cutover flip will silently serve wrong cached candidates.
    val cand =
      if (b.count() < prefixCutover)
        bandedA.as("a").join(bandedB.as("b"),
            col("a.bucket") === col("b.bucket") &&
              col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.n_chars") - col("b.n_chars")) <= maxDiff)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      else {
        // PPJoin positional filter on top of the prefix match (lossless:
        // for the FIRST token a true pair shares in the global order, all
        // of A∩B sits at positions ≥ (i, j), so |A∩B| ≤ 1 + min(|A|−i,
        // |B|−j); and J ≥ t forces |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ — so that
        // token always passes, while most coincidental single-token
        // matches fail the bound and never reach the distinct). Same −ε
        // guard so the required-overlap ceil can never round UP past the
        // exact integer and prune a boundary pair.
        val c = threshold / (1 + threshold)
        // SHUFFLED-HASH, not sort-merge: the join output feeds an
        // unordered DISTINCT, so SMJ's two per-partition sorts are pure
        // overhead — and at the 100× smoke their spills exceeded the
        // box's free disk (60+ GB of sorted runs for a join whose hash
        // build is ~rows/partitions per task). The build side scales
        // DOWN with shuffle partitions, the knob a cluster already sets.
        prefixes.as("a").hint("shuffle_hash").join(prefixes.as("b"),
            col("a.h") === col("b.h") &&
              col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.n_chars") - col("b.n_chars")) <= maxDiff &&
              col("b.sz") >= ceil(col("a.sz") * threshold - 1e-7) &&
              col("a.sz") >= ceil(col("b.sz") * threshold - 1e-7) &&
              lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >=
                ceil((col("a.sz") + col("b.sz")) * c - 1e-7))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
      }
    // Verify joins fetch the shingle ARRAYS. NO join hint here: at bench
    // scale the array table is small and AQE broadcasts it (forcing
    // shuffle_hash measured 1.4 s → 10.2 s on dedup_char_jaccard — the
    // broadcast is the right plan until the corpus outgrows it, at which
    // point AQE picks the shuffled join on its own).
    //
    // The CANDIDATE edge list persists read-through (the edit_cands
    // discipline): the band/prefix join is the build stage, the exact
    // verify below stays live — a served run still proves every emitted
    // pair. Keyed by BOTH parameter groups; either strategy's output is a
    // lossless candidate superset, so a cutover flip across corpus growth
    // cannot change the verified output. In-memory frames keep the lazy
    // single-job flow.
    val candS = cache match {
      case Some(key) =>
        IndexCache.cachedFrame(sess, s"${key.kind}_cands",
          s"${key.shingleParams}|${key.prefixParams}", key.fp)(cand)
      case _ => cand
    }
    // Verify-side pruning: only docs that appear in a candidate pair need
    // their shingle arrays fetched. Without this, BOTH verify joins build
    // a broadcast of the FULL corpus's arrays (measured 2 × ~1.4 s of
    // pure serialization per query at sf0.1 — the arrays dominate the
    // artifact); with it the broadcast side is bounded by the candidate
    // set, which banding/prefix filtering already made « corpus. At real
    // scale this is the difference between shipping the corpus to every
    // executor and shipping the survivors.
    val candIds = candS
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // NOT checkpointed: both verify joins re-derive the pruned table, but
    // the derivation is a scan + semi-join the optimizer overlaps with
    // the rest of the plan — an eager checkpoint here measured NEUTRAL
    // on ngram3 (+0.08 s) and a 2× in-sweep regression on char8 (its
    // arrays are large; materializing them stalls the pipeline), so the
    // lazy form wins on the family.
    val arrsNeeded = arrs.join(candIds, Seq("doc_id"), "left_semi")
    candS
      .join(arrsNeeded.select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
        col("sh64").as("sh_a")), "id_a")
      .join(arrsNeeded.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("sh64").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b"))
          .as("inter"), col("sz_a"), col("sz_b"))
      .select(col("id_a"), col("id_b"),
        // Integer-count ratio: bit-identical in any engine, no rounding.
        // Two EMPTY sets give union 0 — jaccard defined as 0 there (same
        // guard as TextFunctions.jaccardDistinct; ANSI mode makes 0/0 THROW).
        when(col("sz_a") + col("sz_b") === 0, lit(0.0))
          .otherwise(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Sorted distinct xxhash64 array over a (possibly empty) string-shingle
    * array — the merge-verify representation. Distinct-then-hash and
    * hash-then-distinct agree up to collisions; hashing first keeps the
    * distinct on primitives. */
  private def hashedShingleSet(sh: Column): Column =
    array_sort(array_distinct(transform(sh, s => xxhash64(s))))

  /** Exact word-3-gram Jaccard near-dup pairs over the length band
    * |Δn_chars| ≤ maxDiff ([[jaccardPairsBanded]]). Tokens are bound in a
    * prior projection (hot-path rule — an inline split would re-run per
    * shingle in the interpreted lambda). */
  def ngramJaccardPairs(docs: DataFrame, maxDiff: Int = 10,
                        threshold: Double = 0.3,
                        prefixCutover: Long = 20000L): DataFrame =
    jaccardPairsBanded(
      docs.select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("n_chars"),
          hashedShingleSet(shinglesFromTokens(col("toks"), 3)).as("sh64")),
      maxDiff, threshold, prefixCutover,
      cache = docCacheKey(docs, "ngram3", "w3", s"d${maxDiff}_t$threshold"))

  /** Character-level k-gram Jaccard pairs: same join shape as
    * [[ngramJaccardPairs]], but over char k-shingles of the normalized
    * text — catches near-dups that reorder tokens or differ only in
    * punctuation/whitespace, which word n-grams miss. The normalized text
    * is bound in a prior projection: inlined, the interpreted lambda
    * re-runs the two regexp_replaces PER POSITION — ~3M regex evaluations
    * at sf0.1 (measured 59 s → ~3 s with the bound column). */
  def charJaccardPairs(docs: DataFrame, k: Int = 8, maxDiff: Int = 10,
                       threshold: Double = 0.4,
                       prefixCutover: Long = 20000L): DataFrame = {
    val norm = col("norm")
    val rawShingles =
      when(length(norm) >= k,
        transform(sequence(lit(1), length(norm) - (k - 1)),
          i => norm.substr(i, lit(k))))
        .otherwise(array().cast("array<string>"))
    val key = docCacheKey(docs, s"char$k", s"k$k", s"d${maxDiff}_t$threshold")
    // LAZY: jaccardPairsBanded runs an ACTION at construction (the
    // adaptive-strategy corpus count) plus the full layered plan build —
    // ~0.5 s of driver work that a pairs-artifact HIT must never pay
    // (cachedFrame's build parameter is by-name, so this body only runs
    // on a miss).
    lazy val raw = jaccardPairsBanded(
      docs.select(col("doc_id"), col("n_chars"), normText(col("text")).as("norm"))
        .select(col("doc_id"), col("n_chars"),
          hashedShingleSet(rawShingles).as("sh64")),
      maxDiff, threshold, prefixCutover,
      cache = key)
    // The VERIFIED pair list persists read-through, layered over the
    // candidate artifact (miss → rebuild from cands; cands miss → full
    // build). Same lifecycle argument as `lshVerifiedPairs`: at 100 TB a
    // near-dup edge list is a build-job output consumed many times, and
    // the char-shingle verify is the heaviest in the family (long in-token
    // shingle arrays). The family's build stages stay live elsewhere:
    // `dedup_minhash_lsh` runs its whole pipeline per query, and
    // `ngramJaccardPairs` keeps its exact verify live over served
    // candidates — so serving here hides no unexercised code path.
    key match {
      case Some(kk) =>
        IndexCache.cachedFrame(docs.sparkSession, s"char${k}_pairs",
          s"k${k}d${maxDiff}t$threshold", kk.fp)(raw)
      case _ => raw
    }
  }

  /** MinHash similarity ESTIMATION: jaccard ≈ fraction of agreeing
    * signature rows — computed from the k-value signatures alone, no
    * shingle sets touched. This is the sub-linear scale path (signatures
    * are k×16 bytes regardless of document size); the estimate is reported
    * next to the exact jaccard so its quality is visible. */
  def minhashEstimatedPairs(docs: DataFrame, kHashes: Int = 12, bands: Int = 4,
                            rows: Int = 3, threshold: Double = 0.5): DataFrame = {
    val mh = swapCached(minhashed(docs, kHashes, bands, rows))
    val sigs = mh.select(col("doc_id"), col("sig"), col("sh"))
    bandCandidates(mh)
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / kHashes).as("est_jaccard"),
        jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Edit-distance (Levenshtein) near-dup pairs — catches the "few
    * character edits" duplicate class that set-based Jaccard blurs
    * (single-char typos barely move a shingle set; they cost exactly one
    * edit here). Semantics: pairs within the length band
    * |Δln| ≤ maxLenDiff whose normalized `prefixLen`-char prefixes are
    * within `maxEdits` Levenshtein.
    *
    * Candidate generation is the PassJoin pigeonhole filter (Li/Deng/
    * Feng, "PassJoin: A Partition-based Method for Similarity Joins")
    * on a FIXED 9-char grid: partition a prefix into maxEdits+1 = 13
    * full grid segments — at most maxEdits edit ops can touch at most
    * maxEdits segments, so for any in-threshold pair at least one
    * segment of a survives UNTOUCHED in b, shifted by at most the net
    * indel balance (≤ maxEdits). The block join is therefore
    * segments(13/doc) ⋈ windows(13·(2·maxEdits+1)/doc) on
    * (slot, 9-gram) — LOSSLESS, and ~10× fewer candidates than a pure
    * length-bucket join at sf0.1 (81 k vs 812 k) because candidates now
    * need position-aligned CONTENT agreement, not just similar length.
    * Docs too short for 13 full 9-char segments run the SAME grid at
    * 4 chars (13 × 4 = 52 — the pigeonhole argument is granularity-
    * independent, see `passJoinPairs`); only docs under ~52 normalized
    * chars (plus in-band partners) fall back to the plain length-bucket
    * block — a few percent of a corpus, with tiny verifies. All pools'
    * pairs union (distinct) before the verify, so the composition stays
    * lossless at every tier boundary. The verify step runs banded Levenshtein
    * (`levenshtein(p1, p2, maxEdits)` — the O(maxEdits·len) early-exit
    * form, not the full O(len²) matrix) with prefixes re-attached by two
    * co-partitioned id joins (cheaper than carrying 120-char payloads
    * through the 325-row/doc window explode). */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 120,
                        bucketWidth: Int = 32, maxLenDiff: Int = 16,
                        maxEdits: Int = 12): DataFrame = {
    val segLen = 9
    val nSeg = maxEdits + 1
    val minLongPrefix = segLen * nSeg // 117: guarantees 13 FULL segments
    // Staged: five downstream branches (segments, windows, short pool,
    // and the two verify re-attach joins) would otherwise each re-run
    // the two normText regexps over the full corpus. File-backed corpora
    // persist the normalized-prefix table read-through (a per-document
    // function of the text — the same artifact lifecycle as the shingle
    // and simhash index tables); in-memory frames keep the in-JVM slot.
    val nBuilt = docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), substring(col("norm"), 1, prefixLen).as("p"),
        length(col("norm")).cast("long").as("ln"))
    val n =
      if (docs.inputFiles.isEmpty)
        swapCachedIn(lastEdit, nBuilt)
      else {
        // File-backed: the regexp pass reads through the persisted
        // artifact (fresh processes skip it), but the table STAYS in the
        // in-JVM columnar cache like the inline path — five downstream
        // branches (13 segments + 325 windows per doc, two verify
        // re-attach joins) read it, and serving them from a cold 1–2
        // partition parquet scan measured 10.4 → 30.4 s at the 30× Zipf
        // smoke. The repartition re-widens the tiny scan before caching
        // so the explode branches parallelize.
        val target = docs.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        swapCachedIn(lastEdit,
          cachedDocIndex(docs, "edit_norm", s"p$prefixLen")(nBuilt)
            .repartition(target))
      }
    val longs = n.where(length(col("p")) >= minLongPrefix)
    // The (tier, slot, gram) join key collapses to ONE xxhash64 long:
    // smaller shuffle rows and a long-compare hash join instead of string
    // keys. Still lossless — a hash collision can only ADD a candidate,
    // and the Levenshtein verify rejects it.
    def gramKey(tier: Int, slot: Column, gram: Column): Column =
      xxhash64(lit(tier), slot, gram)
    // PassJoin candidate pairs for one pool at one grid granularity: the
    // pigeonhole holds for ANY fixed segment length s with nSeg = 13 full
    // segments present — ≤ 12 edits touch ≤ 12 segments, the untouched
    // one appears in the partner shifted by the net indel balance
    // (≤ maxEdits). Partial coverage (13·s < |p|) is fine: edits beyond
    // the covered region touch no segment at all (the 9-char grid already
    // covers only 117 of 120 chars).
    def passJoinPairs(pool: DataFrame, segLenT: Int, tier: Int): DataFrame = {
      val segsT = pool
        .select(col("doc_id").as("da"), col("ln").as("la"), col("p").as("pa"),
          explode(sequence(lit(0), lit(nSeg - 1))).as("j"))
        .select(col("da"), col("la"),
          gramKey(tier, col("j"),
            expr(s"substring(pa, $segLenT * j + 1, $segLenT)")).as("gk"))
      val subsT = pool
        .select(col("doc_id").as("db"), col("ln").as("lb"), col("p").as("pb"),
          explode(sequence(lit(0), lit(nSeg - 1))).as("j"))
        .select(col("db"), col("lb"), col("pb"), col("j"),
          explode(sequence(lit(-maxEdits), lit(maxEdits))).as("d"))
        .where(expr(s"$segLenT * j + 1 + d") >= 1 &&
          expr(s"$segLenT * j + $segLenT + d") <= length(col("pb")))
        .select(col("db"), col("lb"),
          gramKey(tier, col("j"),
            expr(s"substring(pb, $segLenT * j + 1 + d, $segLenT)")).as("gk"))
      segsT.join(subsT, Seq("gk"))
        .where(col("da") =!= col("db") &&
          abs(col("la") - col("lb")) <= maxLenDiff)
        .select(least(col("da"), col("db")).as("d1"),
          greatest(col("da"), col("db")).as("d2"))
        .distinct()
    }
    // Tier L: ≥ 117-char prefixes on the 9-char grid (13 × 9 = 117).
    val pairsLL = passJoinPairs(longs, segLen, tier = 0)
    // Tier M: the MID pool gets its own 4-char grid (13 × 4 = 52 chars of
    // coverage) instead of falling into a content-free length block —
    // that block was QUADRATIC in corpus size (every same-band pair
    // verified) and dominated the 30× scale smoke (measured 1.4 exponent;
    // 16 % of this corpus is < 133 chars). The pool spans [52, 133) so
    // every in-band pair whose longer member is < 133 is found here; the
    // L/M overlap region re-derives pairs the final distinct dedupes.
    val midSegLen = 4
    val minMidPrefix = midSegLen * nSeg // 52
    val mids = n.where(col("ln") >= minMidPrefix &&
      col("ln") < minLongPrefix + maxLenDiff)
    val pairsM = passJoinPairs(mids, midSegLen, tier = 1)
    // Tiny pool: only docs whose normalized text can't host 13 full
    // 4-char segments (plus their in-band partners) remain in the plain
    // length block — ~3 % of this corpus, with ≤ ~68-char verifies.
    val nearShort = n.where(col("ln") < minMidPrefix + maxLenDiff)
    val b = nearShort.select(col("doc_id"), col("ln"),
        expr(s"ln div $bucketWidth").as("bk"))
      .unionAll(nearShort.select(col("doc_id"), col("ln"),
        expr(s"ln div $bucketWidth + 1").as("bk")))
    val pairsS = b.select(col("bk"), col("doc_id").as("d1"), col("ln").as("ln1"))
      .join(b.select(col("bk"), col("doc_id").as("d2"), col("ln").as("ln2")),
        Seq("bk"))
      .where(col("d1") < col("d2") &&
        abs(col("ln1") - col("ln2")) <= maxLenDiff)
      .select(col("d1"), col("d2"))
      .distinct()
    // The CANDIDATE edge list persists read-through like lsh_pairs: it is
    // the output of all three posting-table joins (the explode-heavy
    // stages), bounded by actual near-duplication, and safe to reuse —
    // a stale-parameter artifact cannot exist (params key the path) and
    // the banded Levenshtein verify below stays live, so a served run
    // still proves every emitted pair. At 100 TB the posting joins run
    // once per corpus snapshot in the dedup build job.
    val pairs = cachedDocIndex(docs, "edit_cands",
        s"p${prefixLen}w${bucketWidth}d${maxLenDiff}e$maxEdits") {
      pairsLL.unionAll(pairsM).unionAll(pairsS).distinct()
    }
    pairs
      .join(n.select(col("doc_id").as("d1"), col("p").as("p1")), "d1")
      .join(n.select(col("doc_id").as("d2"), col("p").as("p2")), "d2")
      .select(col("d1"), col("d2"),
        levenshtein(col("p1"), col("p2"), maxEdits).as("ed"))
      .where(col("ed") >= 0 && col("ed") <= maxEdits)
  }

  // ------------- incremental dedup against an indexed corpus -------------

  /** Content fingerprint of a documents table over (doc_id, text)
    * ([[IndexCache.tableFp]]). Keys the per-document index artifacts and
    * the persisted LSH index's staleness check. */
  private[graft] def docFp(docs: DataFrame): String =
    IndexCache.tableFp(docs, Seq("doc_id", "text"))

  /** Persist the HISTORICAL corpus's LSH dedup index as a parquet table
    * artifact: one row per doc — (doc_id, shingle set, band digests) —
    * plus the recorded source fingerprint. Unlike the IVF index (a k-row
    * driver-resident model) this artifact is CORPUS-SIZED: at 100 TB it is
    * the build side of every incremental probe join and lives as a
    * maintained table (re-built or appended by a scheduled job, compacted
    * by [[Maintenance]]), never recomputed per arriving batch — shingling
    * and signing the lake once is the entire point. */
  def writeLshIndex(hist: DataFrame, path: String, k: Int = 12,
                    bands: Int = 4, rows: Int = 3): Unit =
    minhashed(hist, k, bands, rows)
      .select(col("doc_id"), col("sh"), col("bands"))
      .withColumn("fingerprint", lit(docFp(hist)))
      // Advisory-sized output files (guide §6) — same rationale as
      // IndexCache.cachedFrame: per-task KB files re-split every probe
      // scan into a task per file.
      .hint("rebalance")
      .write.mode("overwrite").parquet(path)

  /** Probe a NEW batch against an index table ((doc_id, sh, bands) rows):
    * asymmetric band-digest equi-join — batch bands against index bands
    * only, so history×history is NEVER re-paired and per-batch cost is
    * proportional to the batch and its collision set, not the lake —
    * then the usual exact-Jaccard verify. Returns (new_id, dup_of,
    * jaccard ≥ threshold). */
  private def probeLsh(index: DataFrame, batch: DataFrame, k: Int,
                       bands: Int, rows: Int, threshold: Double): DataFrame = {
    val bm = minhashed(batch, k, bands, rows).localCheckpoint()
    val batchBands = bm.select(col("doc_id").as("new_id"),
      posexplode(col("bands")).as(Seq("pos", "band")))
      .select(col("new_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
    val histBands = index.select(col("doc_id").as("dup_of"),
      posexplode(col("bands")).as(Seq("pos", "band")))
      .select(col("dup_of"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
    val cands = batchBands.join(histBands, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("dup_of")).distinct()
    cands
      .join(bm.select(col("doc_id").as("new_id"), col("sh").as("sh_new")), "new_id")
      .join(index.select(col("doc_id").as("dup_of"), col("sh").as("sh_hist")), "dup_of")
      .select(col("new_id"), col("dup_of"),
        jaccardDistinct(col("sh_new"), col("sh_hist")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Incremental near-dup pairs, index built inline (no persisted
    * artifact): the continuous-ingest shape with both sides computed in
    * one job — the oracle-checkable reference for [[lshServedPairs]]. */
  def incrementalLshPairs(hist: DataFrame, batch: DataFrame, k: Int = 12,
                          bands: Int = 4, rows: Int = 3,
                          threshold: Double = 0.5): DataFrame =
    probeLsh(minhashed(hist, k, bands, rows).localCheckpoint()
      .select(col("doc_id"), col("sh"), col("bands")), batch, k, bands, rows, threshold)

  /** True iff a readable index artifact exists at `path` whose recorded
    * fingerprint matches the live historical table — the read-through
    * probe: a build step whose in-memory path slot was cleared calls this
    * before re-shingling the lake, so a cold cache costs one metadata read
    * instead of a corpus-wide rebuild. */
  def lshIndexFresh(spark: SparkSession, path: String, hist: DataFrame): Boolean =
    new java.io.File(path).exists() && {
      try {
        val recorded = recordedLshFp(spark, path)
        recorded.nonEmpty && recorded == docFp(hist)
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** The fingerprint recorded in a persisted LSH index, memoized on the
    * directory's listing signature — the probe is a fixed-cost collect
    * job that every serve/compact call would otherwise repeat. */
  private def recordedLshFp(spark: SparkSession, path: String): String =
    IndexCache.memoByListing("lsh_index_fp", path) {
      IndexCache.resolvedFrame(spark, path)
        .select(col("fingerprint")).limit(1).collect()
        .headOption.map(_.getString(0)).getOrElse("")
    }

  /** Incremental near-dup pairs served from a PERSISTED index
    * ([[writeLshIndex]]): reads the artifact, verifies its recorded
    * fingerprint against the live historical table (stale ⇒
    * IllegalStateException — rebuilding is the caller's scheduled build
    * step, not a serve-time side effect), and probes. Result is identical
    * to [[incrementalLshPairs]] on the same split, so the same oracle
    * checks both paths. */
  def lshServedPairs(hist: DataFrame, batch: DataFrame, indexPath: String,
                     k: Int = 12, bands: Int = 4, rows: Int = 3,
                     threshold: Double = 0.5): DataFrame = {
    val index = IndexCache.resolvedFrame(batch.sparkSession, indexPath)
    val recordedFp = recordedLshFp(batch.sparkSession, indexPath)
    val liveFp = docFp(hist)
    if (recordedFp != liveFp)
      throw new IllegalStateException(
        s"LSH index at $indexPath is stale (recorded $recordedFp, live $liveFp); rebuild with writeLshIndex")
    probeLsh(index.select(col("doc_id"), col("sh"), col("bands")), batch,
      k, bands, rows, threshold)
  }

  /** Index COMPACTION for the text-dedup family — the build step that
    * closes the continuous-ingest loop (the LSH analog of
    * [[Similarity.compactIvfIndex]]): fold an accumulated batch into the
    * persisted index by unioning the history artifact's rows with one
    * shingle+sign pass over JUST the batch, recording the merged corpus
    * fingerprint. History is never re-shingled — signatures are pure
    * per-document functions, so artifact rows stay valid verbatim. After
    * compaction [[lshServedPairs]] with the merged history serves the new
    * artifact directly, and the next arriving batch probes
    * history ∪ folded-batch asymmetrically as before. */
  def compactLshIndex(hist: DataFrame, batch: DataFrame, oldPath: String,
                      newPath: String, k: Int = 12, bands: Int = 4,
                      rows: Int = 3): Unit = {
    // The merged index reads the old artifact LAZILY while writing the
    // new one; an in-place compaction would delete the very files the
    // write is still scanning. Compact to a sibling, then swap upstream.
    require(newPath != oldPath,
      s"compactLshIndex cannot compact in place ($oldPath); write to a sibling path")
    val spark = batch.sparkSession
    val index = IndexCache.resolvedFrame(spark, oldPath)
    val recordedFp = recordedLshFp(spark, oldPath)
    val liveFp = docFp(hist)
    if (recordedFp != liveFp)
      throw new IllegalStateException(
        s"LSH index at $oldPath is stale (recorded $recordedFp, live $liveFp); rebuild with writeLshIndex")
    index.select(col("doc_id"), col("sh"), col("bands"))
      .unionByName(minhashed(batch, k, bands, rows)
        .select(col("doc_id"), col("sh"), col("bands")))
      .withColumn("fingerprint", lit(docFp(hist.unionByName(batch))))
      .hint("rebalance") // advisory-sized files, as in writeLshIndex
      .write.mode("overwrite").parquet(newPath)
  }

  /** 64-bit SimHash signatures as a single narrow projection: per document,
    * for each bit position p, sum the ±1 contributions of every shingle's
    * md5 bit and majority-vote. Features are 3-gram shingles (not raw
    * tokens — on a small vocabulary token-level simhash degenerates: every
    * doc hashes alike). The md5-hex → bit extraction is pure arithmetic on
    * the hex digits, identical in any engine, and the ±1 integer sum is
    * order-independent — so the relational DuckDB oracle computes the same
    * signature. No shuffle: the whole signature is computed where the
    * document row lives. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    // One row per (doc, shingle-md5, hex-digit): 16 light rows per shingle,
    // then 4 bit-vote sums per digit position as codegen'd aggregates with
    // LITERAL shift amounts (keeps everything in whole-stage codegen — a
    // per-bit lambda formulation is 6× slower interpreted, and a ×64 bit
    // cross join moves 4× the rows).
    val digitVals = transform(sequence(lit(1), lit(16)), i => {
      val c = ascii(col("h").substr(i, lit(1)))
      when(c <= 57, c - 48).otherwise(c - 87)
    })
    val digits = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), 3)).as("tok"))
      .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
      .select(col("doc_id"), posexplode(digitVals).as(Seq("idx", "v")))
    val voteCols = (0 to 3).map(b =>
      sum((shiftright(col("v"), 3 - b) % 2) * 2 - 1).as(s"s$b"))
    val quad = concat((0 to 3).map(b =>
      when(col(s"s$b") >= 0, "1").otherwise("0")): _*)
    digits
      .groupBy(col("doc_id"), col("idx"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), col("idx"), quad.as("quad"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("quad")))),
          x => x.getField("quad")), "").as("simhash"))
  }

  /** Positional token n-gram span digests (doc_id, span) — the
    * substring-level exact-dedup signal table ("Deduplicating Training
    * Data"-style). Per-document, so file-backed corpora persist it
    * read-through like the other dedup index tables; the digest-spread
    * aggregation and per-doc census stay per-run. */
  def spanDigests(docs: DataFrame, n: Int = 8): DataFrame =
    cachedDocIndex(docs, "span_digests", s"n$n") {
      docs.where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= n)
        .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("toks")) - (n - 1)),
            i => md5(concat_ws(" ",
              (0 until n).map(o => element_at(col("toks"), i + o)): _*))))
          .as("span"))
    }

  /** [[simhashSignatures]] as a read-through artifact for file-backed
    * corpora: the signature table is a per-document function of the text
    * (16 md5-digit rows per shingle, two corpus-wide aggregations), so it
    * builds once per corpus fingerprint and every later run serves the
    * (doc_id, simhash) scan — the banding + Hamming verify stay per-run. */
  def simhashIndex(docs: DataFrame): DataFrame =
    cachedDocIndex(docs, "simhash_sigs", "w3")(simhashSignatures(docs))

  /** SimHash near-dup pairs: 4×16-bit band blocking (near-identical docs
    * agree on at least one band with high probability), Hamming verify. */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        col("simhash").substr(j * 16 + 1, 16)): _*)).as(Seq("band_idx", "band")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sh_a"), col("sh_b"), 64).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph: each document gets
    * the minimum doc_id reachable through dup edges — the canonical
    * representative when duplicate pairs chain (a~b, b~c ⇒ one keeper for
    * {a,b,c}), which the simple drop-id_b rule gets wrong.
    *
    * Implementation is the alternating large-star/small-star algorithm
    * (the published MapReduce connected-components construction):
    *  - large-star: every node links its strictly-larger neighbors to the
    *    minimum of its neighborhood (including itself);
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum.
    * Each step is one shuffle (groupBy node); the edge set contracts to
    * per-component stars in O(log n) rounds — diameter-independent, unlike
    * min-label propagation whose round count tracks the longest chain.
    * Convergence is detected by a (count, hash-sum) signature so each
    * round costs one aggregation action, not a set-difference shuffle.
    * Deterministic, so the DuckDB oracle replays the RESULT as a
    * recursive-CTE transitive closure (labels are min-reachable-id,
    * independent of how they were computed).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val nodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct().cache()

    // Large-star input: symmetric neighborhoods. m = min(Γ(u) ∪ {u});
    // emit (v, m) for v ∈ Γ(u), v > u.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      sym.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    // Small-star input: edges oriented to the smaller endpoint. For each u
    // with down-neighbors Γ(u): m = min(Γ(u)); emit (v, m) for
    // v ∈ Γ(u) ∪ {u}, v ≠ m.
    def smallStar(edges: DataFrame): DataFrame = {
      val down = edges.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = down.groupBy("src").agg(min(col("dst")).as("m"))
      val nbrLinks = down.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val selfLinks = m.select(col("src"), col("m").as("dst"))
      nbrLinks.union(selfLinks)
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    var edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      // Load-bearing (re-A/B'd r17 after the artifact REBALANCE change:
      // removing it costs +2 jobs and +0.5 task-s — the distinct re-runs
      // under both the signature action and round 1's star joins).
      .localCheckpoint()
    // Hash-sum in decimal(38,0) space — a sum of long hashes overflows
    // int64 (ANSI mode throws); decimal sums are exact and order-free.
    def signature(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), String.valueOf(r.getDecimal(1)))
    }
    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // localCheckpoint truncates the lineage each round — without it the
      // plan nests exponentially across iterations (any iterative
      // DataFrame algorithm needs this; each star step reads its input
      // 2–3×, so batching two contractions per checkpoint re-computes the
      // inner one multiplicatively — measured 2.2× SLOWER, not faster).
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val next = signature(edges)
      converged = next == sig
      sig = next
      iter += 1
    }
    // Converged star edges point every non-root at its component min.
    nodes.join(edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("mn"), col("id")).as("comp"))
  }

  /** Embedding-cosine near-dup pairs over sign-bucket LSH candidates: the
    * bucket key turns all-pairs into per-bucket local comparison.
    * `bucketBits` = 0 (default) derives the width from the corpus size
    * ([[Similarity.lshBitsFor]]) so the per-bucket pair space stays bounded
    * as the corpus grows instead of scaling ~n²/2^bits. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double,
                            bucketBits: Int = 0): DataFrame = {
    val bits = if (bucketBits > 0) bucketBits else Similarity.lshBitsFor(emb.count())
    // Norms are computed once per vector before the join, not per pair.
    val e = emb.select(col("vec_id"),
      VectorFunctions.asDouble(col("embedding")).as("v"))
      .withColumn("bucket", VectorFunctions.signBucket(col("v"), bits))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(VectorFunctions.dot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup: assign every embedding to its nearest
    * of `k` seed centroids (the first `k` vectors — deterministic and
    * oracle-replayable; swap in k-means-trained centroids via
    * [[Similarity]] when exact replay isn't needed), then within each
    * cluster drop any vector whose cosine to a LOWER-id cluster-mate
    * reaches `threshold` — keeping the minimal representatives of every
    * near-dup set.
    *
    * Scale posture: centroids broadcast (k×dim doubles), assignment is a
    * map-only pass, and the pairwise stage shuffles once on the cluster
    * id with pair space bounded by cluster size — at 100 TB grow k with
    * the corpus (k ≈ n / target cluster size), which is exactly the
    * SemDeDup regime (clusters of a few thousand docs).
    *
    * Output: (vec_id, cluster, kept) for every vector. */
  def semanticDedup(emb: DataFrame, k: Int, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    // Seeds = the k smallest vec_ids (top-k, not `vec_id < k`): robust to
    // sparse/offset id spaces, identical on dense 0-based ids.
    val cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // Nearest centroid by grid-rounded L2² with cid tie-break — the same
    // deterministic-assignment idiom as IVF/PQ.
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("dist", round(VectorFunctions.dist2(col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"),
        VectorFunctions.l2Norm(col("v")).as("nrm"))
    val dupIds = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .where(round(VectorFunctions.dot(col("a.v"), col("b.v"))
        / (col("a.nrm") * col("b.nrm")), 6) >= threshold)
      .select(col("b.vec_id").as("dup_id")).distinct()
    assigned.join(dupIds, col("vec_id") === col("dup_id"), "left_outer")
      .select(col("vec_id"), col("cid").as("cluster"),
        col("dup_id").isNull.as("kept"))
  }
}
