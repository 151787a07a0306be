package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: synthesize a `SPARK_GRAFT_SCALE_MULT`× corpus (default
  * 10×; 100× gives the second decade) from sf0.1 and measure how the
  * dedup / similarity / corpus heavy set scales, emitting per-query
  * scaling exponents (PERF.md "Scale smoke" section).
  *
  * Corpus synthesis (union + id offset, replica i of `mult`):
  *  - documents: replica i applies a deterministic CHARACTER-SUBSTITUTION
  *    CIPHER (a seeded permutation of [a-zA-Z0-9] via `translate`). A
  *    bijection on characters is a bijection on tokens AND on char
  *    k-shingles, so the intra-replica near-dup structure is preserved
  *    EXACTLY (same Jaccard values, same lengths, same bands) while
  *    cross-replica tokens and shingles are disjoint — pair density
  *    scales linearly with the corpus, the realistic regime. A naive
  *    copy would make every doc a mult-way exact dup and blow the
  *    candidate space quadratically, measuring an artifact. (The earlier
  *    per-token `_i` SUFFIX scheme had exactly that artifact at the
  *    CHAR-shingle level: shingles inside long tokens were identical
  *    across replicas, so every base doc verified as a near-dup of its
  *    same-suffix-length replicas — quadratic OUTPUT, discovered when
  *    the 100× char-jaccard leg wedged on a multi-billion-pair verify.)
  *  - embeddings: replica i multiplies the vector by a deterministic
  *    per-replica ±1 sign pattern — norms and intra-replica dot products
  *    are preserved BIT-FOR-BIT (±1 multiplication is exact), while
  *    cross-replica cosines decorrelate under the independent sign
  *    patterns. (An earlier rotate-by-i transform capped mult at the
  *    vector dimensionality and collided past it; sign patterns support
  *    any mult.)
  *  - orders/lineitem (only when `basket` is in SPARK_GRAFT_SCALE_TABLES):
  *    order keys offset per replica, customer/part keys SHARED — at scale
  *    the fact table grows, the dims don't. Dim tables copy verbatim.
  *  - id offset 100,000,000 per replica (preserves doc_id % 20, the
  *    contamination bench split).
  *
  * Exponent = ln(t_big / t_base) / ln(mult); ~1.0 = linear, the banded /
  * bucketed / broadcast claims hold. Each timing is the min of `runs`
  * (noise floor); the base scale runs first as JIT/codegen warmup.
  *
  * dedup_semantic is measured in its documented operating regime — k
  * grows with n (SemDeDup clusters of roughly constant size), so the
  * big scale runs k×mult; at FIXED k its pairwise stage is quadratic in
  * cluster size by construction.
  */
object ScaleSmoke {

  private val Mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
  private val Offset = 100000000L

  /** Which table groups to synthesize: docs,emb always; `events` feeds the
    * streaming/events rows, `basket` feeds orders/lineitem(+dims) rows. */
  private val SynthTables = sys.env
    .getOrElse("SPARK_GRAFT_SCALE_TABLES", "docs,emb,events,basket")
    .split(",").map(_.trim).toSet

  private val CipherAlphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** Natural-Zipf synthetic corpus — the evidence fixture for the heavy
    * exact-verify dedup exponents. The DRIVER testdata's 31-word vocabulary
    * defeats the df-ordered prefix filter by construction (every char
    * shingle is near-ubiquitous, median df ~22, nothing prunes), so
    * exponents measured on it state the degenerate-vocabulary worst case,
    * not the production regime. This fixture keeps the driver corpus's
    * SHAPE (5 000 docs/replica, ~55 tokens/doc, lang/source columns, the
    * doc_id%10 planted-near-dup protocol, per-replica substitution cipher)
    * but draws tokens from a 10 000-type Zipf(1) vocabulary — the
    * natural-text profile under which rare shingles exist and prefix
    * filtering can do its job.
    *
    * Construction is pure codegen'd expressions, fully deterministic:
    *  - token rank = ⌊exp(u·ln V)⌋ with u = xxhash64-derived uniform —
    *    P(rank ≤ r) = ln r/ln V, i.e. pmf ∝ 1/r, exactly Zipf(1);
    *  - token string = "t"+rank (2–6 chars — shingles span token
    *    boundaries like natural text);
    *  - doc length = 30 + h%51 tokens (~55 avg, matching the driver's 54);
    *  - every doc_id ≡ 1 (mod 10) re-emits doc_id−1's token sequence with
    *    positions (j + doc_id) ≡ 0 (mod 12) substituted — a ~0.8-Jaccard
    *    planted near-dup, same protocol as the driver corpus.
    */
  private def zipfDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val V = 10000
    def rank(h: Column): Column =
      least(lit(V.toLong), greatest(lit(1L),
        floor(exp((pmod(h, lit(1000003L)).cast("double") / 1000003.0)
          * math.log(V.toDouble))).cast("long")))
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")).as("src"))
      .withColumn("len", lit(30L) + pmod(xxhash64(lit("len"), col("src")), lit(51L)))
    def tokAt(j: Column): Column = {
      val mutated = col("doc_id") % 10 === 1 &&
        pmod(j + col("doc_id"), lit(12L)) === 0
      val h = when(mutated, xxhash64(lit("mut"), col("doc_id"), j))
        .otherwise(xxhash64(lit("zipf"), col("src"), j))
      concat(lit("t"), rank(h))
    }
    base.select(col("doc_id"), col("src"),
        concat_ws(" ", transform(sequence(lit(1L), col("len")), tokAt(_)))
          .as("text_pre"))
      .select(col("doc_id"), col("text_pre").as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es")),
          (pmod(xxhash64(lit("lang"), col("src")), lit(4L)) + 1).cast("int"))
          .as("lang"),
        concat(lit("src"), pmod(xxhash64(lit("srcn"), col("src")), lit(5L)))
          .as("source"),
        length(col("text_pre")).cast("long").as("n_chars"))
  }

  /** Replicate a documents table `Mult`× under the per-replica
    * character-substitution cipher (see class doc) — shared by the
    * real-corpus and zipf-corpus synthesis paths. */
  private def replicateDocs(docs: DataFrame, outDir: String): Unit = {
    (0 until Mult).map { i =>
      val txt =
        if (i == 0) col("text")
        else {
          val rnd = new scala.util.Random(0xD0C5 + i)
          val perm = rnd.shuffle(CipherAlphabet.toList).mkString
          translate(col("text"), CipherAlphabet, perm)
        }
      docs.select((col("doc_id") + lit(i * Offset)).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), length(txt).cast("long").as("n_chars"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private def synthesize(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    replicateDocs(spark.read.parquet(s"$baseDir/documents.parquet"), outDir)

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val embDim = emb.select(size(col("embedding")).as("d")).first().getInt(0)
    val embType = emb.schema("embedding").dataType
    (0 until Mult).map { i =>
      val v =
        if (i == 0) col("embedding")
        else {
          // Deterministic per-replica sign pattern (seeded PRNG): exact
          // arithmetic, any mult.
          val rnd = new scala.util.Random(0xC0FFEE + i)
          val signs = array(Seq.fill(embDim)(
            lit(if (rnd.nextBoolean()) 1.0 else -1.0)): _*)
          zip_with(col("embedding"), signs, (a, b) => a * b).cast(embType)
        }
      emb.select((col("vec_id") + lit(i * Offset)).as("vec_id"),
        v.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // Events ×mult for the streaming-throughput smoke: wallet ids offset
    // per replica (mult× keys, each with its replica's intact per-wallet
    // history), seqs offset to stay unique. Load through Tables.events so
    // whatever physical ts type the driver testdata ships (nanos LONG,
    // micros NTZ, micros LTZ — it has changed between regenerations) is
    // normalized to TimestampType; the synth dir then round-trips through
    // the loader's TimestampType branch.
    if (SynthTables("events")) {
      val ev = sources.Tables.events(spark, baseDir)
      (0 until Mult).map { i =>
        ev.select((col("event_id") + lit(i * Offset)).as("event_id"), col("ts"),
          (col("user_id") + lit(i * Offset)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    // Fact-table growth for the basket/graph queries: order keys offset
    // per replica, part/customer keys SHARED (the dims stay dims — at
    // scale the catalog does not grow with the fact table). Dim tables
    // copy verbatim so loaders and broadcast joins work against outDir.
    if (SynthTables("basket")) {
      val ord = spark.read.parquet(s"$baseDir/orders.parquet")
      (0 until Mult).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
      (0 until Mult).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * Offset))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      Seq("part", "customer", "supplier", "nation", "region").foreach { t =>
        spark.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    // Shuffle partitions sized to the DATA, not the cores — exactly the
    // knob a production deployment sets per table volume: at 100× the
    // per-partition hash-join build sides and sort runs must shrink with
    // more partitions or they exceed executor memory (AQE re-coalesces
    // the small stages either way).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    val spark = GraftSession.builder("graft-scale-smoke", Some(s"local[$cpus]"),
        Some(shufflePartitions))
      // Keep EVERY micro-batch progress: the latency-percentile rows read
      // recentProgress, and the chunked feed can exceed the default 100.
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // The partition count above is the knob: with the builder's
      // parallelismFirst=false and the 64 MB advisory, AQE coalesces the
      // artifact-build stages below the core count (cold
      // dedup_char_jaccard at 2× on local[4]: 18 s / 27 s, against
      // 12 s / 11 s with this).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Zipf-corpus mode (SPARK_GRAFT_SCALE_CORPUS=zipf): measure the heavy
    // exact-verify dedup set on the natural-vocabulary fixture instead of
    // the driver corpus — the evidence run for the prefix-filter scaling
    // claim (see zipfDocs). Both scales come from the same generator: the
    // 1× base is the 5 000-doc zipf corpus, the big dir its Mult× cipher
    // replication, so the exponent isolates corpus GROWTH.
    if (sys.env.get("SPARK_GRAFT_SCALE_CORPUS").contains("zipf")) {
      val tmp = System.getProperty("java.io.tmpdir")
      val zBase = s"$tmp/graft_zipf_base"
      val zBig = s"$tmp/graft_zipf_x$Mult"
      val zdocs = zipfDocs(spark, 5000L)
      zdocs.write.mode("overwrite").parquet(s"$zBase/documents.parquet")
      replicateDocs(spark.read.parquet(s"$zBase/documents.parquet"), zBig)
      val zNames = Seq("dedup_char_jaccard", "dedup_ngram_jaccard",
        "dedup_edit_distance", "dedup_canonical", "dedup_minhash_lsh",
        "dedup_containment",
        // The remaining heavy text dedups: simhash's bit votes and the
        // span digests both scale with shingle volume, so the natural-
        // vocabulary fixture is the regime to certify them in too.
        "dedup_simhash", "dedup_duplicate_spans")
      // NOT here: the tokenizer queries. tokens() extracts [a-z]+ and the
      // zipf fixture's tokens are "t"+digits — on this corpus the word-type
      // table collapses to ~1 type/replica and a tokenizer measurement
      // exercises nothing. Tokenizer scale evidence runs on the REGULAR
      // cipher-replica corpus (real lowercase words; types grow ×mult,
      // harsher than natural Heaps growth) via the main smoke list.
      val zOnly = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      def ztime(fn: () => DataFrame): (Double, Long) = {
        var rows = 0L
        val t = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          rows = fn().count()
          (System.nanoTime() - t0) / 1e9
        }.min
        (t, rows)
      }
      zNames.filter(n => zOnly.forall(_.contains(n))).foreach { n =>
        val fn = SparkEntry.queries(n)
        val (tBase, rBase) = ztime(() => fn(spark, zBase))
        val (tBig, rBig) = ztime(() => fn(spark, zBig))
        val exp = math.log(tBig / tBase) / math.log(Mult.toDouble)
        // Output-row growth is the direct witness against candidate /
        // pair blowup: a working band+prefix filter keeps verified pairs
        // LINEAR in replicas (rows_xN ≈ N · rows_base); quadratic pair
        // growth shows here before it shows in time.
        println(f"""{"corpus":"zipf","query":"$n","t_base_s":$tBase%.3f,""" +
          f""""t_x${Mult}_s":$tBig%.3f,"exponent":$exp%.3f,""" +
          f""""rows_base":$rBase,"rows_x$Mult":$rBig}""")
        System.out.flush()
      }
      spark.stop()
      return
    }

    val bigDir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_x$Mult"
    synthesize(spark, baseDir, bigDir)

    // The heavy set: every query here reads only documents/embeddings.
    val names = Seq(
      "dedup_exact", "dedup_chunks", "dedup_minhash_lsh", "dedup_minhash_estimate",
      "dedup_ngram_jaccard", "dedup_char_jaccard", "dedup_simhash",
      "dedup_components", "dedup_embedding_cosine",
      "sim_topk_bruteforce", "sim_lsh_topk", "sim_lsh_multiprobe",
      "sim_ivf_topk", "sim_pq_topk", "sim_pq_rerank",
      "contamination_ngram", "tfidf_top_terms",
      // Sequence packing: the round-7 two-pass prefix sum must show a
      // bounded window partition — near-linear at 10× docs.
      "pipeline_pack_sequences", "pipeline_pack_spans",
      // Round-7 second batch: positional-span explode (linear rows),
      // canonical selection (LSH→components→bounded quality window),
      // recall eval (brute force dominates — linear in corpus at fixed
      // query count), CDC merge (two pre-aggregated branches over 10×
      // events → one full-outer join on 10× keys).
      "dedup_duplicate_spans", "dedup_canonical", "sim_recall_eval",
      "q_merge_upsert",
      // Round-8 batch: banded-Levenshtein dedup (band² candidates — the
      // exponent documents the blocking's real behavior), BM25 + span
      // corruption + quality buckets (narrow scans / broadcast scalars —
      // expected ~linear), sessionization + time-weighted avg (one keyed
      // shuffle each over 10× events with 10× keys).
      "dedup_edit_distance", "text_bm25", "pipeline_span_corruption",
      "pipeline_quality_buckets", "q_sessionize", "q_time_weighted_avg",
      // Corpus-wide kNN graph (bucket self-join: in-bucket pair cost at
      // FIXED bits=4 is quadratic by construction — production grows bits
      // with the corpus via lshBitsFor; the exponent documents the fixed-
      // bits behavior). q_skyline reads customer/orders, which this
      // documents/embeddings/events synth does not produce.
      "sim_knn_graph", "q_event_sequence_match", "pipeline_interleave",
      // Round-8 fifth batch (events-based; q_rfm_segments and
      // q_correlation_matrix read orders/lineitem, which this synth does
      // not produce): attribution = one user_id-shuffled window pass over
      // 10× events with 10× users; MAD anomaly + Cramér's V = per-group
      // aggregates broadcast onto narrow scans; IVM refresh = two
      // pre-aggregated branches → full-outer merge on 10× keys.
      "q_attribution", "q_anomaly_mad", "q_cramers_v", "q_ivm_refresh",
      // Welch's t-test: two per-type aggregates over 10× events — the
      // same broadcast-stats shape as q_anomaly_mad; expected ~linear.
      "q_ab_ttest",
      // SQ/prefix rerank: brute-force over compressed/truncated codes
      // (linear in corpus at fixed query count) + shortlist-bounded exact
      // rerank — expected ~linear, like sim_topk_bruteforce.
      "sim_sq_rerank", "sim_prefix_rerank",
      // IVF-PQ composite (round 9): both models broadcast, encode/assign
      // map-side, ADC restricted to probed cells — expected ~linear in
      // the corpus (training passes dominate at fixed cells/codes).
      "sim_ivfpq_rerank", "sim_ivfpq_residual",
      // Custom whole-operator fold (round 9): ONE wallet-keyed exchange +
      // per-partition sort, then an O(1)-state streaming fold — expected
      // ~linear over 10× events with 10× wallets.
      "o4_fold_exec",
      // Round-9 trained-model + retrieval batch (documents-only): BPE
      // rounds touch the VOCAB after one corpus count (vocab grows
      // sub-linearly); LR GD = 3 map-side scans; sparse top-k joins
      // postings against a broadcast 10-doc query side; KL drift = one
      // token-keyed shuffle — all expected ~linear or flatter.
      "text_bpe_train", "pipeline_quality_lr", "sim_sparse_topk",
      "corpus_kl_drift",
      // Served quality model: weights artifact + one broadcast-scored
      // batch scan (10 % of the corpus) — expected ~linear in the batch.
      "pipeline_quality_served",
      // Served bigram LM: holdout bigrams join the persisted count
      // artifacts — the score join is the only corpus-proportional stage.
      "corpus_nll_served",
      // Containment rides the same banded-candidate machinery as
      // dedup_minhash_lsh (pair density linear under the dissimilar-
      // replica synth); gap-fill is one daily aggregate + a types×days
      // spine — both expected ~linear.
      "dedup_containment", "q_gapfill_ma",
      // Late round-9 events-based staples: one (type, day) or bucket
      // aggregate each + bounded windows — expected ~flat.
      // (q_label_propagation reads lineitem, which this synth does not
      // produce; stream_topk is covered by the streaming-throughput row.)
      "q_rolling_median", "q_period_over_period", "q_value_histogram",
      // Late round-8 additions: changepoint + transitions are one keyed
      // shuffle each over 10× events; the dedup-rate report is one
      // (source, hash) aggregation over 10× documents.
      "q_changepoint", "q_event_transitions", "dedup_rate_by_source",
      // Basket-table queries (need `basket` in SPARK_GRAFT_SCALE_TABLES):
      // one broadcast dim join + one basket-keyed shuffle with in-row
      // Apriori pair expansion — fact grows, dims don't, so ~linear.
      "q_market_basket",
      // Graph family (lineitem-derived edge sets; dims shared across
      // replicas, order keys offset — per-replica structure identical, so
      // components/triangles/neighborhoods grow linearly): fixed-iteration
      // loops, one keyed shuffle per round with per-round staging —
      // expected ~linear in edges.
      "q_pagerank", "q_triangle_count", "q_khop_reach",
      "q_link_prediction", "q_label_propagation",
      // Round-11 third batch: DSIR = one token-keyed count shuffle + a
      // 128-row broadcast (expected ~linear); range search and the MMR
      // shortlist stage are broadcast-query corpus scans (linear at
      // fixed queries; MMR's fold is k-bounded per query); hybrid RRF
      // composes the measured sparse + dense kernels and fuses two
      // k-bounded lists.
      "pipeline_dsir_weights", "sim_range_search", "sim_mmr_rerank",
      "sim_hybrid_rrf",
      // Round-11 fourth batch: CDC chunking is one doc_id shuffle with
      // doc-bounded windows (~linear); URL dedup is per-row string work +
      // one canonical-keyed aggregation (~linear); epoch shuffle is the
      // bounded-shard two-pass over 2× exploded docs (~linear);
      // incremental/compacted IVF serve from artifacts — the measured
      // cost is the batch assignment (20 % of corpus) + probe join, and
      // the MRR eval is brute-force-dominated like sim_recall_eval.
      "text_cdc_chunks", "dedup_url", "q_epoch_shuffle",
      "sim_ivf_incremental", "sim_ivf_compacted", "sim_eval_mrr",
      // Round-11 fifth batch: video dedup decodes 10× frames map-side and
      // bands only the anchor frame (expected ~linear in frames); audio
      // dedup byte-traverses 10× payloads into 64-bit fingerprints with
      // the same anchor-band pair shape; the AQP estimate is two
      // event-type aggregates over 10× events; the probe sweep serves a
      // fixed-query tuning curve from the persisted index (~flat).
      "mm_video_dedup", "mm_audio_dedup", "q_sample_estimate",
      "sim_probe_sweep",
      // CDC chunk census = the chunk pipeline + one (source, digest)
      // aggregation; temporal join = one wallet_id-shuffled union-sort
      // as-of pass over 10× events with 10× wallets — both ~linear.
      "text_cdc_dedup", "q_temporal_join",
      // Filtered ANN and hard-negative mining serve the persisted index
      // over a fixed query set (~flat); compacted-LSH is the served
      // probe plus a one-off fold build.
      "sim_filtered_ann", "pipeline_hard_negatives", "dedup_lsh_compacted",
      // Survivorship = the URL-canonicalization pass + one cluster-keyed
      // aggregation with per-field policies (~linear like dedup_url).
      "q_dedup_survivorship",
      // Binary (1-bit) quantization rerank: the scan reads 8 bytes/vector
      // and the Hamming shortlist is integer work — expected ~linear in
      // the corpus at fixed queries, with the smallest constant of the
      // quantization ladder.
      "sim_binary_rerank",
      // PCA train+project: the covariance sufficient statistics are one
      // integer-triple shuffle into d² groups (map-side combined) + a
      // map-side projection pass — expected ~linear in the corpus.
      "sim_pca_project",
      // PPMI association mining: one pair-count shuffle is the only
      // corpus-proportional stage; marginals + score + top-k run on the
      // vocab²-bounded pair table, so time should track the token scan.
      "text_ppmi_topk",
      // k-anonymity census: one QI-keyed aggregation over the fact
      // table; the per-k sweep is QI-bounded — expect ~linear scan cost.
      "q_k_anonymity",
      // Semantic contamination: served-index radius probe — the bench
      // side grows with the corpus (% 37) but stays broadcast-bounded;
      // the corpus moves only through the ivf_cells artifact scan.
      "contamination_semantic",
      // Unigram-LM tokenizer (round 12): train's folds run per word TYPE
      // (Heaps-bounded ~corpus^0.5) and every shuffle is vocab-bounded,
      // so train should be strongly sublinear; encode adds one corpus
      // scan + broadcast join — ~linear with a small constant.
      "text_unigram_train", "text_unigram_encode",
      // Cross-modal retrieval (round 12): 10 external queries probe the
      // persisted IVF cells — the corpus moves only through the cell
      // artifact scan (topk) plus one brute-force pass (recall's exact
      // denominator, honestly linear).
      "mm_crossmodal_topk", "mm_crossmodal_recall",
      // Round 13: the DSIR lifecycle tail and cluster-balanced curation.
      // resample = the weights plan + a narrow accept filter (~weights
      // cost); cluster_balance = one cid-keyed shuffle over the persisted
      // assignment — both expected ~flat-to-linear in the artifact scan.
      "pipeline_dsir_resample", "pipeline_cluster_balance",
      // Compaction folds a batch into the history count artifact (union
      // of sufficient statistics + one batch tokenize) — expected to
      // track the batch, not the corpus; the threshold sweep is one scan
      // of the verified-pairs artifact — expected ~flat.
      "pipeline_dsir_compacted", "dedup_threshold_sweep",
      // Late round 13: the banding survey is one self-equi-join over the
      // persisted signature artifact — expected ~linear in the artifact
      // scan with the |configs| constant.
      "dedup_band_sweep",
      // Round 15: the cross-encoder rerank scores |queries|×k candidate
      // pairs from the persisted fusion artifact, with the corpus touched
      // only by the broadcast-semi-join text fetch — expected ~flat
      // beyond that narrowing scan. The DSv2 replay-source read frames
      // mult× deposits once (first run; min-of-runs then measures the
      // serve path) and scans the offset-pruned segment tail — segment
      // pruning keeps the read at the predicate's share of the log.
      "sim_ce_rerank", "q_replay_source",
      // Round 16: provenance composes gates + one text-hash window +
      // drop-list left joins (dup-/contamination-proportional sides) —
      // expected ~linear like its constituent stages; retention is the
      // ≤7-row census over the persisted fate artifact (~flat beyond the
      // artifact scan). The runtime-prune join probes mult× frames with
      // a key set that stays the top offset quartile — DPP keeps the
      // read at the probed share, so ~linear in the surviving segments.
      // The agg pushdown answers from segment names + an envelope walk
      // (~linear in frames with a tiny constant); the streaming
      // round-trip re-publishes the mult× log through the V2 sink
      // (honestly linear in frames both sides of the commit).
      "pipeline_provenance", "pipeline_retention",
      "q_replay_runtime_prune", "q_replay_agg_pushdown",
      "stream_replay_roundtrip",
      // Round-16 continuation: time travel / the snapshot-history table
      // read mult× frames through per-version pushed aggregates and the
      // genesis snapshot (~linear in the snapshot's frames; the history
      // table's min/max legs are metadata-only). The expiry roundtrip
      // rebuilds + compacts + expires its throwaway slice per run
      // (~linear in the slice). Curriculum is two bounded-shuffle passes
      // (histogram + per-value window) over mult× docs (~linear);
      // fertility serves the bpe_encode artifact and rolls it up by
      // language (~flat beyond the artifact scan — the encode build is
      // measured once like the other index families); stream_provenance
      // composes the shared scorer + digest semi-join + LSH probe per
      // batch (~linear in the batch like its constituent rows).
      "q_replay_time_travel", "q_replay_snapshots", "q_replay_expire",
      "pipeline_curriculum", "text_fertility",
      // Batch 2: the delete lifecycle rebuilds + deletes + expires its
      // throwaway slice per run (~linear in the slice; the per-segment
      // rewrite distributes); pack-by-BPE is the artifact equi-join +
      // the bounded two-pass windows (~linear); the catalog read's plan
      // is identical to the time-travel read (one resolution layer up).
      "q_replay_delete", "q_replay_catalog", "pipeline_pack_bpe")

    def semanticAt(dir: String, k: Int): DataFrame =
      operators.Dedup.semanticDedup(sources.Tables.embeddings(spark, dir),
        k = k, threshold = 0.3)

    def time(fn: () => DataFrame): Double =
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn().count()
        (System.nanoTime() - t0) / 1e9
      }.min

    // Each row is (name, thunk) so SPARK_GRAFT_SMOKE_ONLY=a,b can
    // re-measure a subset without paying for the full sweep (the 10x
    // synthesis is cached on disk either way).
    val measured: Seq[(String, () => (Double, Double))] = names.map { n =>
      n -> { () =>
        val fn = SparkEntry.queries(n)
        (time(() => fn(spark, baseDir)), time(() => fn(spark, bigDir)))
      }
    }

    // Streaming rows: mult× deposits AND mult× state keys (wallets /
    // users / sessions). The feed parquet is rebuilt once per dir by the
    // harness; materialized outputs are dropped per run so every sample
    // measures the topology, not the serve path. Each row also prints its
    // per-run state-store bytes at both scales (delta of the workspace
    // `state/` subtrees) — the witness that state scales with keys.
    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L
      else {
        val s = xs.sorted
        s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
      }
    def streamRow(name: String): (String, () => (Double, Double)) =
      name -> { () =>
        val fn = SparkEntry.queries(name)
        // Durations reset PER INVOCATION, so after time()'s `runs`
        // repetitions batchDurations holds exactly the LAST (warm) run —
        // n_batches is the true per-run count and the percentiles don't
        // mix the cold first run's JIT-inflated batches in.
        def fresh(dir: String): DataFrame = {
          queries.StreamQueries.invalidateMaterialized()
          queries.StreamQueries.resetBatchDurations()
          fn(spark, dir)
        }
        queries.StreamQueries.resetStateMetrics()
        val tBase = time(() => fresh(baseDir))
        val (rBase, bBase) = queries.StreamQueries.stateMetrics
        val dBase = queries.StreamQueries.batchDurations
        queries.StreamQueries.resetStateMetrics()
        val tBig = time(() => fresh(bigDir))
        val (rBig, bBig) = queries.StreamQueries.stateMetrics
        val dBig = queries.StreamQueries.batchDurations
        println(s"""{"query":"$name","state_rows_base":${rBase / runs},""" +
          s""""state_bytes_base":${bBase / runs},""" +
          s""""state_rows_x$Mult":${rBig / runs},""" +
          s""""state_bytes_x$Mult":${bBig / runs},""" +
          s""""n_batches_base":${dBase.size},""" +
          s""""batch_p50_ms_base":${pct(dBase, 0.5)},""" +
          s""""batch_p95_ms_base":${pct(dBase, 0.95)},""" +
          s""""n_batches_x$Mult":${dBig.size},""" +
          s""""batch_p50_ms_x$Mult":${pct(dBig, 0.5)},""" +
          s""""batch_p95_ms_x$Mult":${pct(dBig, 0.95)}}""")
        (tBase, tBig)
      }
    val withExtra = measured :+ ("dedup_semantic_growk" -> { () =>
      (time(() => semanticAt(baseDir, 8)), time(() => semanticAt(bigDir, 8 * Mult)))
    }) :+ streamRow("stream_check_tuned") :+
      streamRow("stream_check_chunked") :+ // many-micro-batch shape
      streamRow("stream_join") :+ streamRow("stream_session_agg") :+
      streamRow("stream_lsh_dedup") :+ // ingest-dedup: stateless artifact probe
      streamRow("stream_ann_serve") :+ // streaming retrieval: stateless IVF probe
      streamRow("stream_dsir_score") :+ // data selection at ingest: stateless ratio probe
      streamRow("stream_cdc_chunks") :+ // chunking at ingest: stateless per-doc chunker
      streamRow("stream_provenance") // fate tagging at ingest: scorer + digest + LSH probes

    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Print each row AS IT COMPLETES (stdout + flush): a multi-hour 100×
    // leg that dies on query N must not take queries 1..N−1's numbers
    // with it.
    withExtra
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (n, thunk) =>
        val (tBase, tBig) = thunk()
        val exp = math.log(tBig / tBase) / math.log(Mult.toDouble)
        println(
          f"""{"query":"$n","t_base_s":$tBase%.3f,"t_x${Mult}_s":$tBig%.3f,"exponent":$exp%.3f}""")
        System.out.flush()
      }
    spark.stop()
  }
}
