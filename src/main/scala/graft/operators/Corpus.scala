package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{shinglesFromTokens, tokens}

/** Corpus-level text operators a pre-training data pipeline runs after the
  * per-document ones in [[graft.functions.TextFunctions]]: benchmark
  * contamination detection, repetition-based quality signals, tf-idf term
  * extraction, and unigram-LM surprisal scoring.
  *
  * The reference engine has no corpus analytics at all (its widest read is
  * a per-key state lookup, `/root/reference/service/service.go:128-133`);
  * these are the north-star additions over the `documents` table. All are
  * pure `functions._` compositions mirrored 1:1 by DuckDB oracle SQL.
  */
object Corpus {

  /** Contiguous word n-grams WITH duplicates (repetition statistics need
    * multiplicity; dedup's [[shinglesFromTokens]] is the distinct form).
    * Empty array when fewer than n tokens. Pass a bound token-array column
    * (see the hot-path rule on [[shinglesFromTokens]]). */
  def gramsFromTokens(t: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(t) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*))
    when(size(t) >= n, grams).otherwise(array())
  }

  /** Benchmark-contamination check: (train doc, benchmark doc) pairs that
    * share at least one distinct word n-gram, with the shared count —
    * the standard "is my eval set leaked into my training corpus?" sweep
    * (GPT-3 used 13-grams; this corpus's tiny synthetic vocabulary makes a
    * 4-gram comparably rare).
    *
    * Scale shape: the 100-TB side (train) never moves payloads — each doc
    * explodes to (doc_id, 16-hex gram digest) keyed rows; the benchmark
    * side is an eval suite (thousands of docs, not billions), so it is
    * BROADCAST and the train side is never shuffled at all. The only
    * shuffle is the final count-distinct over matched pairs, bounded by
    * the contamination volume itself.
    */
  def contaminationPairs(docs: DataFrame, n: Int, isBench: Column): DataFrame = {
    val g = docs
      .select(col("doc_id"), isBench.as("is_bench"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), col("is_bench"),
        explode(shinglesFromTokens(col("t"), n)).as("ng"))
      // The digest is join-internal (never output): xxhash64 gives a
      // codegen'd 8-byte join key — cheaper to compute and half the
      // broadcast width of a 16-hex md5 prefix. The oracle digests with
      // md5 independently; n_shared (count of distinct shared grams) is
      // identical under any collision-free-at-this-scale hash.
      .select(col("doc_id"), col("is_bench"), xxhash64(col("ng")).as("gh"))
    val bench = g.where(col("is_bench")).select(col("doc_id").as("bench_id"), col("gh"))
    val train = g.where(!col("is_bench")).select(col("doc_id").as("train_id"), col("gh"))
    train.join(broadcast(bench), "gh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(countDistinct(col("gh")).as("n_shared"))
  }

  /** Passage-level dedup (the C4-style "drop repeated paragraphs" op, at
    * fixed-width chunks since this corpus has no paragraph breaks):
    * documents are cut into non-overlapping n-token chunks, and any chunk
    * text occurring in ≥ 2 distinct documents is reported with its spread
    * and a canonical keeper (min doc id). Only (doc_id, 16-hex digest)
    * pairs ever shuffle — chunk text is digested before the aggregation,
    * so the wide stage moves fixed-width keys at any corpus size. */
  def repeatedChunks(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), (size(col("t")) / n).cast("int") - 1),
          i => array_join(slice(col("t"), i * n + 1, lit(n)), " "))).as("chunk"))
      .select(col("doc_id"),
        substring(md5(col("chunk").cast("binary")), 1, 16).as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("keep_doc"))
      .where(col("n_docs") >= 2)

  /** Gopher-style repetition signals: duplicate-token fraction,
    * duplicate-2-gram fraction, and most-frequent-2-gram fraction — the
    * classic filters for boilerplate/spam docs in a pre-training corpus.
    * Per-row narrow transforms, no shuffle; integer-count ratios are left
    * as raw double divisions (bit-identical across engines, never rounded).
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), gramsFromTokens(col("t"), 2).as("g"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("t"))) / size(col("t")).cast("double"))
          .as("dup_token_frac"),
        when(size(col("g")) === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) - size(array_distinct(col("g"))) / size(col("g")).cast("double"))
          .as("dup_2gram_frac"),
        // max multiplicity of any single 2-gram; per-row-once HOF over a
        // short array (fine — the 6x codegen rule bites on per-element
        // re-evaluation, not on one bounded pass).
        when(size(col("g")) === 0, lit(null).cast("double"))
          .otherwise(
            array_max(transform(array_distinct(col("g")),
              x => size(filter(col("g"), y => y === x))))
              / size(col("g")).cast("double"))
          .as("top_2gram_frac"))

  /** Top-k terms per document by tf-idf (idf = ln(N/df), rounded to the
    * 6-dp grid; ties broken by term). The weighted term table
    * (doc, term, tf, df, tfidf) is built once per corpus fingerprint and
    * persisted read-through ([[IndexCache]]) — the same maintained-index
    * lifecycle as the sparse postings: serving ranks over the artifact,
    * it does not re-tokenize the corpus per query. The build is two keyed
    * aggregations (by (doc, term) then by term) — each shuffles
    * fixed-width keys only — and the serve-side per-doc window's rank
    * filter is map-side group-limited (WindowGroupLimit). N and the df
    * table both come from the data (no driver-side count action). */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val terms = IndexCache.cachedFrame(docs.sparkSession, "tfidf_terms",
        "all", Dedup.docFp(docs)) {
      val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // df derives from tf — one row per (doc, tok) — so the corpus is
      // tokenized and shuffled ONCE; the df aggregation re-keys the much
      // smaller tf relation and a plain count replaces countDistinct.
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfreq, "tok") // vocab can be huge at scale: shuffle join on tok, not broadcast
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
    }
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    terms
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"), col("tfidf"))
  }

  /** Sparse tf-idf document similarity — the inverted-index retrieval
    * shape that complements the dense ANN kernels: documents are sparse
    * tf-idf vectors over their own vocabulary, and the query side probes
    * by a token-keyed join so the per-pair dot product accumulates only
    * over SHARED tokens. With a bounded query set the probe is a
    * broadcast-hash join against the corpus-side postings scan — the
    * 100-TB postings are never shuffled.
    *
    * TWO composed posting-list bounds, so per-token probe work is capped
    * on EVERY corpus, not just natural vocabularies:
    *  - df stop cut (df ≤ maxDfFrac·N): drops near-ubiquitous tokens
    *    entirely — the classic stop-token cut, effective when the
    *    vocabulary is natural (Zipf tail) and useless on a degenerate
    *    one (this testdata's 31-word synthetic vocabulary has every df
    *    near 0.8·N, so the cut registers open);
    *  - impact-ordered truncation (rank ≤ postingCap per token by weight
    *    DESC, doc_id tie-break): every surviving posting list is pruned
    *    to its `postingCap` highest-impact entries — the standard
    *    impact-sorted index prune, and it engages UNCONDITIONALLY, which
    *    is what holds probe cost ≤ |q tokens|·cap at any scale. The
    *    row_number ≤ cap filter compiles to WindowGroupLimit, so a
    *    billion-row stop token moves ≤ cap rows per map partition, never
    *    the full skewed list.
    * Norms stay EXACT (computed from the un-pruned weights), so the
    * pruned cosine is a documented lower bound — the same recall trade
    * the LSH kernels make, per-token instead of per-bucket.
    * Zero-norm docs (all tokens cut) are excluded on both engines rather
    * than divide-by-zero diverge. */
  def sparseTopK(docs: DataFrame, k: Int, nQueries: Int,
                 maxDfFrac: Double = 0.1, postingCap: Int = 64): DataFrame = {
    val wn = sparsePostings(docs, maxDfFrac)
    // Query postings stay un-pruned: the query side is |q|-bounded by
    // construction, and pruning it would only lose terms the corpus side
    // already bounds.
    val q = wn.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok"), col("w").as("wq"),
        col("nrm").as("nq"))
    sparseScore(wn, q, k, postingCap)
  }

  /** The weighted postings table (doc, tok, w, nrm) — the inverted
    * index: built once per (corpus fingerprint, df cut) and persisted
    * read-through (IndexCache); serving probes the artifact, it does
    * not re-tokenize the corpus per query. Same build/serve lifecycle
    * as the IVF index; at 100 TB this is the maintained index table. */
  def sparsePostings(docs: DataFrame, maxDfFrac: Double): DataFrame =
    IndexCache.cachedFrame(docs.sparkSession, "sparse_postings",
        s"$maxDfFrac", Dedup.docFp(docs)) {
      val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
        .where(col("df") <= col("n_docs") * maxDfFrac)
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("w"))
        // localCheckpoint trade (every call in this file): lineage is cut
        // to executor-local storage, so losing an executor fails the query
        // instead of recomputing it.
        .localCheckpoint() // feeds norms + the final join once
      val nrm = w.groupBy(col("doc_id"))
        .agg(round(sqrt(sum(col("w") * col("w"))), 6).as("nrm"))
        .where(col("nrm") > 0)
      w.join(nrm, "doc_id")
    }

  /** [[sparseTopK]] for an ARBITRARY arriving query set (a DataFrame of
    * doc_id rows — e.g. one streaming micro-batch): same persisted
    * postings artifact, query rows selected by semi-join instead of the
    * static id predicate. Per-serve cost tracks the batch; the corpus is
    * only touched through the capped posting lists. */
  def sparseTopKFor(docs: DataFrame, qids: DataFrame, k: Int,
                    maxDfFrac: Double = 0.1, postingCap: Int = 64): DataFrame = {
    val wn = sparsePostings(docs, maxDfFrac)
    val q = wn.join(broadcast(qids.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("qid"), col("tok"), col("w").as("wq"),
        col("nrm").as("nq"))
    sparseScore(wn, q, k, postingCap)
  }

  /** The shared posting-probe scoring: capped inverted lists × the
    * bounded query postings, cosine on the 6-dp grid, deterministic
    * per-query rank. */
  private def sparseScore(wn: DataFrame, q: DataFrame, k: Int,
                          postingCap: Int): DataFrame = {
    val iw = Window.partitionBy(col("tok"))
      .orderBy(col("w").desc, col("doc_id"))
    val scored = wn
      .withColumn("ir", row_number().over(iw))
      .where(col("ir") <= postingCap)
      .select(col("doc_id").as("nid"), col("tok"), col("w").as("wc"),
        col("nrm").as("nc"))
      .join(broadcast(q), "tok")
      .where(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"), col("nq"), col("nc"))
      .agg(round(sum(col("wq") * col("wc")), 6).as("dot"))
      .select(col("qid"), col("nid"),
        round(col("dot") / (col("nq") * col("nc")), 6).as("cosine"))
    val rw = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(rw).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** Token-distribution drift between two corpus splits (train/validation
    * monitoring): add-1-smoothed unigram distributions over the union
    * vocabulary, KL divergence both directions. ONE token-keyed count
    * shuffle builds both distributions (conditional aggregation), the
    * scalar totals broadcast back, and the KL sums are one final scalar
    * aggregate — per-split probabilities never materialize outside the
    * scan. */
  def tokenKlDrift(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val counts = t.groupBy(col("tok")).agg(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(count(lit(1)).as("v"),
      sum(col("ca")).as("tot_a"), sum(col("cb")).as("tot_b"))
    val pa = (col("ca") + 1) / (col("tot_a") + col("v")).cast("double")
    val pb = (col("cb") + 1) / (col("tot_b") + col("v")).cast("double")
    // Each per-token term lands on the 6-dp grid BEFORE the sum (the
    // repo's divide-the-rounded-sum convention): Spark's partial-agg
    // order vs DuckDB's sequential order can otherwise flip the last ulp
    // of the float sum across a rounding boundary.
    counts.crossJoin(broadcast(tot))
      .select(col("v"), col("tot_a"), col("tot_b"),
        round(pa * log(pa / pb), 6).as("term_ab"),
        round(pb * log(pb / pa), 6).as("term_ba"))
      .groupBy(col("v"), col("tot_a"), col("tot_b"))
      .agg(round(sum(col("term_ab")), 6).as("kl_ab"),
        round(sum(col("term_ba")), 6).as("kl_ba"))
  }

  /** Trained quality model: full-batch logistic-regression gradient
    * descent run entirely as engine aggregations — "model training as
    * aggregation" one level up from the bigram LM: the model state is a
    * 1-row broadcast weight vector, each iteration is ONE pass over the
    * feature table (scored in-scan against the broadcast weights, gradient
    * = a 4-column partial+final aggregate), and the update is arithmetic
    * on two 1-row frames. Nothing corpus-sized ever shuffles; at 100 TB
    * each GD step is exactly one map-side-combined scan.
    *
    * Cross-engine determinism: features, z, and the sigmoid are ROUNDED to
    * the 6-dp grid per row, gradient sums round to 4 dp before the /n
    * (the divide-the-rounded-sum rule), weights re-round to 6 dp each
    * step — so DuckDB replays the identical trajectory.
    *
    * Label: lang = 'en' (the documents table's own tag); features: length
    * saturation, whitespace ratio, digit ratio + bias. Returns one row
    * per iteration: (it, w0..w3) — the training trace. */
  /** The quality model's shared featurization — the ONE place the x0–x3
    * rounded-grid expressions live on the Scala side (train and serve both
    * call it; the oracle mirrors it in its `f`/`b` CTEs). Keeps doc_id and
    * lang so the serve path can key and label its output. */
  private def lrFeatures(docs: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("lang"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        round(least(length(col("text")), lit(2000)) / 2000.0, 6).as("x1"),
        // Native byte-scan counts ≡ the regexp_replace length diffs
        // (TextFeatureCountsSpec pins both): space count and digit count
        // without materializing a stripped copy of the text per row.
        round(call_function("ascii_count", col("text"), lit(" ")) / len, 6).as("x2"),
        round(call_function("ascii_count", col("text"), lit("0123456789")) / len, 6)
          .as("x3"))
  }

  def qualityLrTrain(docs: DataFrame, iters: Int, lr: Double = 1.0): DataFrame = {
    val f = lrFeatures(docs)
      .select(col("y"), col("x0"), col("x1"), col("x2"), col("x3"))
      .localCheckpoint() // one materialized feature table feeds every step
    val spark = docs.sparkSession
    import spark.implicits._
    var w = Seq((0.0, 0.0, 0.0, 0.0)).toDF("w0", "w1", "w2", "w3")
    val js = 0 to 3
    val trace = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to iters) {
      val scored = f.crossJoin(broadcast(w))
        .withColumn("z", round(js.map(j => col(s"w$j") * col(s"x$j")).reduce(_ + _), 6))
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      val grad = scored.agg(
        round(sum((col("p") - col("y")) * col("x0")), 4).as("s0"),
        round(sum((col("p") - col("y")) * col("x1")), 4).as("s1"),
        round(sum((col("p") - col("y")) * col("x2")), 4).as("s2"),
        round(sum((col("p") - col("y")) * col("x3")), 4).as("s3"),
        count(lit(1)).cast("double").as("n"))
      w = grad.crossJoin(broadcast(w))
        .select(js.map(j =>
          round(col(s"w$j") - lit(lr) * round(col(s"s$j") / col("n"), 6), 6).as(s"w$j")): _*)
        .localCheckpoint() // 1 row; ends the lazy chain across iterations
      trace += w.select(lit(t.toLong).as("it") +: js.map(j => col(s"w$j")): _*)
    }
    trace.reduce(_ unionAll _).orderBy(col("it"))
  }

  /** Serve the trained quality model from a persisted artifact: the
    * final-iteration LR weights (a 1-row table — the bounded model) build
    * once per corpus fingerprint via [[IndexCache]]; a SCORING batch is
    * featurized with the identical rounded-grid expressions and scored by
    * one broadcast join against the weights — the training corpus is never
    * rescanned at serve time. Same 6-dp sigmoid recipe as
    * [[qualityLrTrain]], so the oracle replays train + serve
    * value-for-value and the serve result is certified under the trained
    * path's determinism. */
  def qualityLrServe(docs: DataFrame, inBatch: Column,
                     iters: Int = 3): DataFrame = {
    val w = Dedup.cachedDocIndex(docs, "quality_lr", s"i$iters") {
      qualityLrTrain(docs, iters).where(col("it") === iters)
        .select(col("w0"), col("w1"), col("w2"), col("w3"))
    }
    val js = 0 to 3
    val score = round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6)
    lrFeatures(docs.where(inBatch))
      .select(col("doc_id"), col("lang"),
        col("x0"), col("x1"), col("x2"), col("x3"))
      .crossJoin(broadcast(w))
      .withColumn("z", round(js.map(j => col(s"w$j") * col(s"x$j")).reduce(_ + _), 6))
      .select(col("doc_id"), score.as("score"),
        (score >= 0.5).cast("int").as("pred_en"),
        (col("lang") === "en").cast("int").as("is_en"))
      .orderBy(col("doc_id"))
  }

  /** Iterative BPE training — the actual tokenizer-training loop run as
    * engine aggregations: per merge round, count adjacent symbol pairs
    * weighted by word frequency, take the global argmax (count DESC, pair
    * ASC tie-break — integer counts, engine-portable), and rewrite every
    * word's symbol array with a greedy left-to-right non-overlapping merge
    * fold. The 100-TB insight this encodes: after ONE corpus-wide word
    * count, training touches only the VOCAB table (thousands of rows per
    * million of corpus) — each round is a vocab-sized pair aggregation, a
    * distributed TakeOrdered(1), and a map-side array fold against the
    * 1-row broadcast merge; the corpus is never rescanned. Returns one row
    * per merge round: (it, a, b, n). */
  def bpeTrain(docs: DataFrame, iters: Int): DataFrame = {
    // Word-frequency table; letters-only lowercase words keep the symbol
    // alphabet closed under concatenation (and '/'-safe for the oracle's
    // string-accumulator fold).
    // The per-type rewrite fold below is the expensive step (an
    // interpreted array fold per word TYPE); AQE coalesces the tiny
    // type-table shuffle to one partition, which would serialize every
    // fold — re-widen before each checkpoint so the folds run across the
    // executor threads (type tables are Heaps-bounded, so the width is
    // free at any corpus scale).
    val foldWidth = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    var words = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .repartition(foldWidth)
      .localCheckpoint() // vocab-sized; iterations re-read it, and the
                         // rewrite folds would otherwise compound lazily
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to iters) {
      val pairs = words.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
      val best = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .localCheckpoint() // 1 row; feeds both the output and the rewrite
      merges += best.select(lit(t.toLong).as("it"), col("a"), col("b"), col("n"))
      // Greedy non-overlapping merge: a freshly merged token (a||b) can
      // never equal `a` (longer), so the fold cannot double-merge. Native
      // bpe_merge_fold expression (plans.TokenizerFolds) — one array walk
      // per word type instead of an interpreted aggregate() per element
      // (round-16 optimization; TokenizerFoldsSpec pins native ≡ HOF).
      words = words.crossJoin(broadcast(best.select(col("a"), col("b"))))
        .select(expr("bpe_merge_fold(syms, a, b)").as("syms"), col("freq"))
        .localCheckpoint() // stays foldWidth-wide: checkpoint preserves
                           // the upstream partitioning
    }
    merges.reduce(_ unionAll _).orderBy(col("it"))
  }

  /** Apply trained BPE merges to the corpus — the ENCODE half of the
    * tokenizer lifecycle ([[bpeTrain]] is the train half): each document's
    * words fold through the merge list in training order (the same greedy
    * left-to-right non-overlapping rewrite), yielding per-doc token
    * accounting (chars vs BPE tokens — the compression a tokenizer buys).
    * The merge list is a BOUNDED model artifact (`iters` rows): trained
    * once per corpus fingerprint, persisted read-through (IndexCache),
    * collected to the driver like a codebook, and applied as `iters`
    * map-side array folds — the corpus is scanned once per merge with no
    * shuffle (the one aggregation is the final per-doc rollup). The
    * per-doc accounting table is ITSELF a read-through artifact
    * (`bpe_encode`, keyed by the same corpus fingerprint): the fold
    * chain runs once per corpus, and every consumer — the per-doc row,
    * the per-language fertility rollup ([[bpeFertility]]) — serves from
    * the encoded table, the same lifecycle as the IVF/DSIR families. */
  def bpeEncode(docs: DataFrame, iters: Int): DataFrame =
    IndexCache.cachedFrame(docs.sparkSession, "bpe_encode",
      s"$iters", Dedup.docFp(docs)) {
      val merges = IndexCache.cachedFrame(docs.sparkSession, "bpe_merges",
        s"$iters", Dedup.docFp(docs)) { bpeTrain(docs, iters) }
      val ms = merges.orderBy(col("it")).collect()
        .map(r => (r.getString(1), r.getString(2))) // iters rows — model-sized
      var words = docs.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
            .as("w"))
        .select(col("doc_id"), col("w"), split(col("w"), "").as("syms"))
      ms.foreach { case (a, b) =>
        // a/b are lowercase-letter strings by construction (bpeTrain's
        // [a-z]+ word filter), so literal splicing is safe. Same native
        // fold as the train loop.
        words = words.withColumn("syms",
          expr(s"bpe_merge_fold(syms, '$a', '$b')"))
      }
      words.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars"),
          sum(size(col("syms"))).cast("long").as("n_bpe_tokens"))
        .withColumn("compression",
          round(col("n_chars") / col("n_bpe_tokens"), 4))
    }

  /** Tokenizer FERTILITY by language — the multilingual-fairness
    * diagnostic every corpus owner publishes (how many subword tokens a
    * word costs per language, and how many characters a token buys; a
    * lopsidedly-trained tokenizer makes some languages 2-3× more
    * expensive per word of content). Pure rollup of the [[bpeEncode]]
    * artifact joined to the documents' language column: one equi-join +
    * one ≤|languages|-row aggregate — no re-tokenization, no fold
    * re-run. Docs with zero [a-z]+ words carry no encode row and drop
    * out, on both engines, through the same inner join. */
  def bpeFertility(docs: DataFrame, iters: Int): DataFrame =
    bpeEncode(docs, iters)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_bpe_tokens")), 4)
          .as("chars_per_token"),
        round(sum(col("n_bpe_tokens")).cast("double") / sum(col("n_words")), 4)
          .as("tokens_per_word"))
      .orderBy(col("lang"))

  /** Zipf-law fit over the top-R token ranks: OLS slope (and R²) of
    * ln freq vs ln rank — the corpus-health diagnostic (natural text sits
    * near slope −1; pathological or synthetic segments drift off it).
    * The top-R types come from a distributed TakeOrdered
    * (`orderBy.limit`), NEVER a corpus-vocab-wide single-partition rank
    * window — at 100 TB the type table is ~10⁸ rows; only the ≤ R
    * surviving rows see the rank window. */
  def zipfSlope(docs: DataFrame, topR: Int): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("tok")).limit(topR)
    val w = Window.orderBy(col("n").desc, col("tok")) // ≤ topR rows
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .agg(
        round(expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 6)
          .as("zipf_slope"),
        round(expr("regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 6)
          .as("r2"),
        count(lit(1)).as("n_types"))
  }

  /** Bigram language model train + holdout scoring: add-1-smoothed
    * p(w2|w1) from the training split, holdout docs scored by mean
    * −ln p — "model training as aggregation": the model IS the bigram
    * count table, distributed, never driver-resident. Shapes: bigram
    * build is a per-row array transform; train/uni are token-keyed
    * aggregations; scoring is a (bigram, w1)-keyed shuffle join (vocab
    * can be huge — never broadcast) plus one broadcast scalar (V). */
  /** Per-document (big, w1) bigram rows — shared by the train-and-score
    * [[bigramNll]] and the artifact-served [[bigramNllServed]]. */
  private def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS big, " +
          "element_at(toks, i) AS w1))")).as("p"))
      .select(col("doc_id"), col("p.big").as("big"), col("p.w1").as("w1"))

  /** The add-1-smoothed NLL scoring expression over joined LM columns —
    * kept as ONE shared expression so the trained and served paths cannot
    * drift (identical float expression tree ⇒ identical 6-dp values). */
  private def nllAgg: Seq[Column] = Seq(
    round(avg(-log((coalesce(col("c2"), lit(0L)) + 1) /
      (coalesce(col("c1"), lit(0L)) + col("vsize")).cast("double"))), 6)
      .as("nll"),
    count(lit(1)).as("n_bigrams"))

  def bigramNll(docs: DataFrame, holdoutMod: Int = 5): DataFrame = {
    val bg = bigramPairs(docs)
    val train = bg.where(col("doc_id") % holdoutMod =!= 0)
      .groupBy(col("big"), col("w1")).agg(count(lit(1)).as("c2"))
    val uni = train.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = bg.agg(countDistinct(col("w1")).as("vsize"))
    bg.where(col("doc_id") % holdoutMod === 0)
      .join(train, Seq("big", "w1"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(nllAgg.head, nllAgg.tail: _*)
  }

  /** The SERVED half of the bigram-LM lifecycle: the trained model — the
    * (big, w1, c2) count table AND its (w1, c1, vsize) unigram backoff
    * (both granularities matter: a holdout bigram with an unseen `big`
    * but a seen `w1` backs off to c1, so persisting only the bigram rows
    * would mis-score exactly the out-of-vocabulary cases smoothing
    * exists for) — persists read-through keyed by the corpus fingerprint,
    * and scoring joins the holdout batch against the artifacts without
    * re-counting the train split. Result-invisible vs [[bigramNll]] by
    * construction (same shared scoring expression), so the same oracle
    * certifies both — the dedup/IVF served-variant contract applied to a
    * language model. */
  def bigramNllServed(docs: DataFrame, holdoutMod: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val fp = Dedup.docFp(docs)
    val lmBig = IndexCache.cachedFrame(spark, "bigram_lm", s"m$holdoutMod", fp) {
      bigramPairs(docs).where(col("doc_id") % holdoutMod =!= 0)
        .groupBy(col("big"), col("w1")).agg(count(lit(1)).as("c2"))
    }
    val lmUni = IndexCache.cachedFrame(spark, "bigram_uni", s"m$holdoutMod", fp) {
      lmBig.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        .crossJoin(broadcast(
          bigramPairs(docs).agg(countDistinct(col("w1")).as("vsize"))))
    }
    bigramPairs(docs.where(col("doc_id") % holdoutMod === 0))
      .join(lmBig, Seq("big", "w1"), "left")
      .join(lmUni.select(col("w1"), col("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(lmUni.select(col("vsize")).limit(1)))
      .groupBy(col("doc_id"))
      .agg(nllAgg.head, nllAgg.tail: _*)
  }

  /** Unigram-LM surprisal: train a corpus unigram model (token frequency /
    * corpus size) and score every document by its mean −ln p(token) — the
    * cheap KenLM-style fluency proxy used to rank/filter corpus segments.
    * Two aggregations plus one join keyed by token; the scalar corpus size
    * rides a broadcast. round(6) absorbs partial-sum reassociation ulps. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // Σ type counts IS the token count — total derives from vocab rather
    // than a third tokenize pass over the corpus.
    val total = vocab.agg(sum(col("c")).as("total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c") / col("total").cast("double"))), 6)
          .as("mean_surprisal"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw-pool
    * document by how much more likely its hashed-unigram features are
    * under the TARGET distribution than under the RAW distribution —
    * log w(doc) = Σ_tokens ln( p_target(bucket(tok)) / p_raw(bucket(tok)) ),
    * with `buckets` md5-derived feature buckets and add-1 smoothing on
    * both sides. Selection then resamples by exp(log w); the weight table
    * here IS the operator's output (the draw is a one-line hash-sample on
    * top, [[Sampling.hashSample]]).
    *
    * Scale shape: the "model" is the `buckets`-row log-ratio table —
    * built by ONE token-keyed count shuffle over the corpus, then
    * BROADCAST back onto per-(doc, bucket) counts, so the 100-TB pool is
    * never joined wide. Per-bucket log ratios land on the 6-dp grid
    * before the per-doc Σ cnt·lr (the repo's round-before-reassociate
    * convention); bucket ids come from the same md5 hex prefix any engine
    * can replay ([[Sampling]]'s coordinate discipline). */
  /** (doc_id, is_t, bk): every token mapped to its md5-derived feature
    * bucket, tagged with the doc's target/pool membership. */
  private def dsirBuckets(docs: DataFrame, buckets: Int,
                          isTarget: Column): DataFrame =
    docs
      .select(col("doc_id"), isTarget.as("is_t"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("tok").cast("binary")), 1, 6), 16, 10)
          .cast("long") % buckets).as("bk"))

  /** Pre-aggregated bucket counts (doc_id, is_t, bk, cnt) — the DSIR
    * lifecycle's persistable intermediate. isTarget is a DOC-level
    * predicate, so is_t is constant within a doc and this grouping is
    * exactly the (doc_id, bk) count table both consumers need. At 100 TB
    * this is the artifact worth keeping: the raw per-token table is
    * corpus-sized, while this is bounded by docs × min(buckets,
    * doc_tokens) (≤ 128 rows/doc here) with the token-keyed map-side
    * combine paid once at build. */
  private def dsirCounts(docs: DataFrame, buckets: Int,
                         isTarget: Column): DataFrame =
    dsirBuckets(docs, buckets, isTarget)
      .groupBy(col("doc_id"), col("is_t"), col("bk"))
      .agg(count(lit(1)).as("cnt"))

  /** The DSIR model: the `buckets`-row (bk, lw) add-1-smoothed
    * target/raw log-ratio table over the pre-aggregated count table —
    * a buckets-bounded fold, then two scalar totals broadcast back. */
  private def dsirRatioTableFromCounts(tc: DataFrame, buckets: Int): DataFrame = {
    val bc = tc.groupBy(col("bk")).agg(
      sum(when(col("is_t"), col("cnt")).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), col("cnt")).otherwise(0L)).as("cr"))
    val tot = bc.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    bc.crossJoin(broadcast(tot)).select(col("bk"),
      round(log(((col("ct") + 1) / (col("tt") + buckets).cast("double")) /
        ((col("cr") + 1) / (col("tr") + buckets).cast("double"))), 6).as("lw"))
  }

  /** Score a (doc_id, bk, cnt) count table against a (bk, lw) ratio
    * table: per-doc Σ cnt·lw with the bounded table broadcast. */
  private def dsirScoreFromCounts(tc: DataFrame, lr: DataFrame): DataFrame =
    tc.join(broadcast(lr), "bk")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        round(sum(col("cnt") * col("lw")), 6).as("log_weight"))

  /** Score (doc_id, bk)-bucketed docs against a (bk, lw) ratio table. */
  private def dsirScore(tb: DataFrame, lr: DataFrame): DataFrame =
    dsirScoreFromCounts(
      tb.groupBy(col("doc_id"), col("bk")).agg(count(lit(1)).as("cnt")), lr)

  /** Canonical rendering of the target-split predicate for cache keys —
    * the bucket/ratio artifacts' CONTENT depends on the split, so two
    * different splits must never share an artifact. */
  private def splitTag(isTarget: Column): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(isTarget.toString.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** The (doc_id, is_t, bk, cnt) table as a read-through artifact keyed
    * by (buckets, split, corpus fingerprint) — the single token-keyed
    * shuffle over the corpus is paid once per snapshot; every DSIR
    * consumer (ratio training AND pool scoring) reads the compact count
    * table from disk afterwards. */
  private def dsirCountsCached(docs: DataFrame, buckets: Int,
                               isTarget: Column): DataFrame =
    IndexCache.cachedFrame(docs.sparkSession, "dsir_buckets",
        s"${buckets}_${splitTag(isTarget)}", Dedup.docFp(docs)) {
      dsirCounts(docs, buckets, isTarget)
    }

  def dsirLogWeights(docs: DataFrame, buckets: Int, isTarget: Column): DataFrame = {
    val tc = dsirCountsCached(docs, buckets, isTarget)
    dsirScoreFromCounts(tc.where(!col("is_t")),
      dsirRatioTableFromCounts(tc, buckets))
  }

  /** The SERVED half of the DSIR lifecycle: the log-ratio table persists
    * as a read-through artifact keyed by (buckets, corpus fingerprint) —
    * like every trained model in this engine — and an INCOMING batch is
    * scored against it without touching the training corpus again. At
    * 100 TB the ratio table is built once per corpus snapshot; per-batch
    * serving cost is one bucketize + a 128-row broadcast join. */
  /** Score an ARBITRARY batch of documents against the trained (and
    * persisted) log-ratio table of `corpus` — the serve kernel shared by
    * the batch serve query and the streaming ingest scorer. The ratio
    * table's CONTENT depends on the target split, not just the corpus:
    * the split tag in the key means a second call with a different split
    * can never be served the first split's stale log-ratios (it misses
    * and rebuilds instead). The build itself reads through the shared
    * dsir_buckets count artifact, so training the ratios after a weights
    * run touches only the compact table. */
  def dsirScoreBatch(corpus: DataFrame, batch: DataFrame, buckets: Int,
                     isTarget: Column): DataFrame = {
    val lr = IndexCache.cachedFrame(corpus.sparkSession, "dsir_ratios",
        s"${buckets}_${splitTag(isTarget)}", Dedup.docFp(corpus)) {
      dsirRatioTableFromCounts(dsirCountsCached(corpus, buckets, isTarget), buckets)
    }
    dsirScore(dsirBuckets(batch, buckets, isTarget), lr)
  }

  def dsirServed(docs: DataFrame, buckets: Int, isTarget: Column,
                 inBatch: Column): DataFrame =
    dsirScoreBatch(docs, docs.where(inBatch), buckets, isTarget)

  /** COMPACTION for the DSIR lifecycle — the continuous-ingest statement
    * the LSH/IVF families already make: the model's sufficient statistics
    * (per-(doc, bucket) counts) are ADDITIVE, so folding a batch in is a
    * pure UNION of the history's persisted count artifact with one
    * tokenize pass over just the batch — history text is never re-read,
    * and the ratio table derived from the merged counts is IDENTICAL to
    * retraining on history ∪ batch (same oracle as the served path
    * certifies it). The batch is then scored against the merged model.
    *
    * History and batch are DERIVED here from one frame + the membership
    * predicate (the [[dsirServed]] signature), so the additivity
    * precondition — disjoint doc sets — holds by construction; a caller
    * cannot accidentally double-count a batch that was never filtered
    * out of history. */
  def dsirCompacted(docs: DataFrame, buckets: Int, isTarget: Column,
                    inBatch: Column): DataFrame = {
    // One tokenize pass over the batch feeds BOTH the merge and the
    // scoring side (is_t is doc-constant, so dropping it leaves exactly
    // the (doc_id, bk, cnt) table dsirScoreFromCounts consumes — ALL
    // batch docs are scored, mirroring dsirServed's membership filter).
    // LAZY checkpoint: materialized inside the first consuming job and
    // reused by the second — an eager one here spends a dedicated job
    // (plus its fixed ~30 ms scheduling cost) materializing a table the
    // next job would have materialized anyway. Both consumers still read
    // the checkpointed blocks, never recompute the tokenize.
    val batchCounts =
      dsirCounts(docs.where(inBatch), buckets, isTarget)
        .localCheckpoint(eager = false)
    val merged = dsirCountsCached(docs.where(!inBatch), buckets, isTarget)
      .unionByName(batchCounts)
    dsirScoreFromCounts(
      batchCounts.select(col("doc_id"), col("bk"), col("cnt")),
      dsirRatioTableFromCounts(merged, buckets))
  }

  /** The RESAMPLING step DSIR's weights exist for — the pipeline's
    * emitted corpus: accept pool document d with probability
    * min(1, exp(log_weight(d))) on the engine's deterministic md5 hash
    * coordinate ([[Sampling]]'s discipline, so any engine replays the
    * accept set and a re-run keeps a document's fate). The decision is
    * integer-exact on a 16-bit grid: accept iff
    * u16 = int(md5("rs|" + doc_id)[0:4], 16) < cap_u16 =
    * ⌊min(1, exp(lw))·65536 + 0.5⌋ — lw sits on the 6-dp grid, so cap is
    * a pure function of the already-oracle-checked weight (positive
    * weights saturate at exactly 65536: every target-looking doc kept).
    * One broadcast-join scoring pass + a narrow filter; no new shuffle
    * shape beyond [[dsirLogWeights]]. */
  def dsirResample(docs: DataFrame, buckets: Int, isTarget: Column): DataFrame =
    dsirLogWeights(docs, buckets, isTarget)
      .withColumn("cap_u16",
        floor(least(exp(col("log_weight")), lit(1.0)) * 65536 + 0.5).cast("long"))
      .withColumn("u16",
        conv(substring(md5(concat(lit("rs|"), col("doc_id").cast("string"))
          .cast("binary")), 1, 4), 16, 10).cast("long"))
      .where(col("u16") < col("cap_u16"))
      .select(col("doc_id"), col("n_tokens"), col("log_weight"), col("cap_u16"))

  // ----------------- unigram-LM (SentencePiece-family) tokenizer -----------------

  /** Per-length sorted piece arrays (v2..v`maxLen`, plus the single-char
    * safety net implied by the fold's ELSE branch) — the one-row broadcast
    * model the greedy segmenter folds against. */
  private def vocabLists(vocab: DataFrame, maxLen: Int): DataFrame = {
    val cols = (2 to maxLen).map(l =>
      sort_array(collect_list(when(length(col("piece")) === l,
        col("piece")))).as(s"v$l"))
    vocab.agg(cols.head, cols.tail: _*)
  }

  /** The greedy longest-match segmentation fold, as a SQL expression over
    * columns (w, v2..v`maxLen`): accumulator string "pos|p1 p2 …"; step i
    * is a no-op unless i = pos (a matched piece advances pos past the
    * skipped steps); at pos the longest vocab piece wins, single chars
    * are the always-available floor. The SAME fold structure replays in
    * DuckDB as a list_reduce (string accumulator — its fold is
    * element-typed), so segmentations are engine-identical by
    * construction: the control flow is integer/string-exact, no floats
    * anywhere. */
  private[graft] def greedyFoldExpr(maxLen: Int): String = {
    val pos = "cast(element_at(split(acc, '\\\\|'), 1) as int)"
    val ps = "element_at(split(acc, '\\\\|'), 2)"
    val whens = (maxLen to 2 by -1).map { l =>
      s"WHEN length(w) - $pos + 1 >= $l AND array_contains(v$l, substring(w, $pos, $l)) " +
        s"THEN concat(cast($pos + $l as string), '|', $ps, ' ', substring(w, $pos, $l))"
    }.mkString(" ")
    "aggregate(sequence(1, length(w)), '1|', (acc, i) -> " +
      s"CASE WHEN i != $pos THEN acc ELSE CASE $whens " +
      s"ELSE concat(cast($pos + 1 as string), '|', $ps, ' ', substring(w, $pos, 1)) " +
      "END END)"
  }

  /** Segment the word-type table with `vocab`, returning per-TYPE piece
    * usage weighted by word frequency. The fold runs once per distinct
    * word, never per occurrence — word types are Heaps-law-bounded
    * (~|corpus|^0.5), so at 100 TB this is a vocabulary job, not a
    * corpus scan. */
  /** The greedy fold as the NATIVE `greedy_segment` expression
    * (plans.TokenizerFolds) — same control flow as [[greedyFoldExpr]]
    * without per-step Catalyst interpretation or the string-accumulator
    * re-splits (round-16 optimization; TokenizerFoldsSpec pins
    * native ≡ HOF on the live word-type table). */
  private def greedySegmentExpr(maxLen: Int): String =
    s"greedy_segment(w, ${(2 to maxLen).map(l => s"v$l").mkString(", ")})"

  private def segmentUsage(words: DataFrame, vocab: DataFrame,
                           maxLen: Int): DataFrame = {
    words.crossJoin(broadcast(vocabLists(vocab, maxLen)))
      .select(col("freq"),
        explode(expr(greedySegmentExpr(maxLen))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
  }

  /** Unigram-LM tokenizer TRAIN — the SentencePiece-style subword family
    * next to [[bpeTrain]]'s merge-based one. Hard-EM over a substring
    * candidate vocabulary:
    *
    *  1. candidates = every substring of length 2..`maxPieceLen` of the
    *     lowercase word types, weighted by word frequency (overlapping
    *     positions count); top `nCandidates` by (count, piece) join the
    *     full single-char alphabet as vocab₀;
    *  2. each round greedy-segments the word-type table with the current
    *     vocab (the E step — Viterbi's argmax under a unigram LM where
    *     longer pieces dominate), counts weighted piece usage, and keeps
    *     the `keepPieces` most-used multi-char pieces (the prune/M step);
    *     single chars are never pruned (coverage floor);
    *  3. the final model is the last round's surviving vocabulary with
    *     its usage counts and the grid-quantized likelihood
    *     p_e6 = ⌊cnt·10⁶ / Σcnt⌋ — computed in DECIMAL(38,0) (HUGEINT in
    *     the oracle) so the numerator cannot wrap at corpus scale.
    *
    * Everything is exact integer/string arithmetic — likelihoods appear
    * only as the OUTPUT column, never in control flow — so the DuckDB
    * oracle replays candidate generation, both EM rounds, and the final
    * quantization by value. Scale shape: two vocabulary-bounded shuffles
    * per round (substring count, usage count); the corpus is scanned once
    * (word-frequency table); the model is a ≤ (26 + keepPieces)-row
    * driver artifact. */
  def unigramTrain(docs: DataFrame, maxPieceLen: Int = 4,
                   nCandidates: Int = 40, keepPieces: Int = 24,
                   rounds: Int = 2): DataFrame = {
    // usage is populated by the EM loop; with rounds < 1 the final model
    // join would NPE on a null frame instead of explaining itself.
    require(rounds >= 1, s"unigramTrain needs at least 1 EM round (got $rounds)")
    // Same re-widening as bpeTrain: the greedy segmentation fold runs
    // per word TYPE and would otherwise serialize in the one
    // AQE-coalesced partition.
    val foldWidth = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val words = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .repartition(foldWidth)
      .localCheckpoint() // type-bounded; every round re-reads it
    val chars = words
      .select(col("freq"), explode(split(col("w"), "")).as("piece"))
      .where(col("piece") =!= "")
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .select(col("piece"))
    val cand = words
      .select(col("freq"), explode(expr(
        s"flatten(transform(sequence(2, $maxPieceLen), l -> " +
          "CASE WHEN length(w) >= l THEN transform(sequence(1, length(w) - l + 1), " +
          "i -> substring(w, i, l)) ELSE CAST(array() AS array<string>) END))"))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("wcnt"))
      .orderBy(col("wcnt").desc, col("piece")).limit(nCandidates)
      .select(col("piece"))
    // usage is checkpointed (the segmentation fold is the expensive
    // recompute); vocab is NOT — it is a cheap union over the
    // checkpointed words/usage tables, and its two consumers (the
    // broadcast vocab list, the final model join) re-derive it in one
    // narrow pass each, which costs less than a checkpoint job per round.
    var vocab = chars.unionAll(cand)
    var usage: DataFrame = null
    for (_ <- 1 to rounds) {
      usage = segmentUsage(words, vocab, maxPieceLen).localCheckpoint()
      val multi = usage.where(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(keepPieces)
        .select(col("piece"))
      vocab = chars.unionAll(multi)
    }
    // Final model = surviving vocab with the LAST round's usage (pieces
    // pruned this round are gone; chars unseen in the segmentation keep
    // cnt 0 — they stay in the vocab as the coverage floor).
    val m = vocab.join(usage, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    m.crossJoin(broadcast(m.agg(sum(expr("cast(cnt as decimal(38,0))")).as("tot"))))
      .select(col("piece"), col("cnt"),
        expr("cast(cast(cnt as decimal(38,0)) * 1000000 div tot as bigint)")
          .as("p_e6"))
  }

  /** Unigram-LM ENCODE — the serve half: the trained vocabulary persists
    * as a read-through model artifact ([[IndexCache]], keyed by training
    * params + corpus fingerprint), and each document's words fold through
    * the same greedy longest-match segmenter. The fold runs per WORD TYPE
    * (its own cached artifact), then a broadcast join re-attaches piece
    * counts to the corpus scan — at 100 TB the corpus is read once
    * map-side, the type table moves once. Output: per-doc chars-vs-pieces
    * compression accounting, the [[bpeEncode]] shape. */
  def unigramEncode(docs: DataFrame, maxPieceLen: Int = 4,
                    nCandidates: Int = 40, keepPieces: Int = 24,
                    rounds: Int = 2): DataFrame = {
    val params = s"l${maxPieceLen}c${nCandidates}k${keepPieces}r$rounds"
    val vocab = IndexCache.cachedFrame(docs.sparkSession, "unigram_vocab",
      params, Dedup.docFp(docs)) {
      unigramTrain(docs, maxPieceLen, nCandidates, keepPieces, rounds)
    }
    val typeCounts = IndexCache.cachedFrame(docs.sparkSession, "unigram_wtypes",
      params, Dedup.docFp(docs)) {
      docs.select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
        .distinct()
        .crossJoin(broadcast(vocabLists(vocab, maxPieceLen)))
        .select(col("w"),
          size(expr(greedySegmentExpr(maxPieceLen)))
            .cast("long").as("n_pieces"))
    }
    // The ENCODED CORPUS is itself the tokenizer's production artifact:
    // encoding is corpus-linear by information content (every occurrence
    // must be touched once), so — unlike the vocabulary-bounded trainers —
    // no algorithm makes a fresh encode sublinear. What a training
    // pipeline actually does is encode once per (vocab, corpus) and let
    // every consumer (sequence packing, mixture weighting, token-budget
    // accounting) read the result, so the per-document piece counts
    // persist read-through like their vocab/wtypes siblings; the one
    // honest linear pass lives in the artifact build (widened first —
    // single-file sources otherwise serialize the per-occurrence join on
    // one task) and a re-serve is an artifact scan, not a re-encode.
    val wide = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val encoded = IndexCache.cachedFrame(docs.sparkSession, "unigram_encoded",
      params, Dedup.docFp(docs)) {
      docs.repartition(wide)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
        .join(broadcast(typeCounts), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum(col("n_pieces")).as("n_pieces"))
    }
    encoded.withColumn("compression", round(col("n_chars") / col("n_pieces"), 4))
  }

  /** Content-defined chunking (the FastCDC/rsync family, digest-gated):
    * a chunk boundary falls AT token position q whenever the digest of
    * the `w`-token window ending at q starts with hex '0' (P = 1/16 ⇒
    * expected chunk ≈ 16 tokens). Because the gate depends only on the
    * window CONTENT, boundaries re-synchronize a bounded distance after
    * any insertion/deletion — unlike fixed-size chunking, where one
    * inserted token shifts every later chunk (pinned by CdcChunkSpec).
    * This is the chunker storage dedup and delta-sync run under; the
    * per-chunk md5 feeds the same exact-dedup machinery as
    * [[repeatedChunks]]'s fixed windows.
    *
    * Scale shape: ONE doc_id shuffle serves the lag window, the
    * boundary-count running sum, AND the per-chunk aggregate (all three
    * share the partitioning); partitions are bounded by document length,
    * never corpus size. */
  def cdcChunks(docs: DataFrame, w: Int = 4): DataFrame = {
    // One md5 per token position is the heavy step — spread the doc scan
    // across the executor threads before the explode (same rule as the
    // dedup signing paths; a no-op by size at real corpus scale).
    val wide = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val tp = docs.repartition(wide)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "tok")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("q"), col("tok"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("q"))
    val win = concat_ws(" ",
      ((w - 1) to 1 by -1).map(o => lag(col("tok"), o).over(wd)) :+ col("tok"): _*)
    val f = tp.withColumn("isb",
      when(col("q") >= w &&
        substring(md5(win.cast("binary")), 1, 1) === "0", 1).otherwise(0))
    val g = f.withColumn("cid",
      coalesce(sum(col("isb")).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0)).cast("long"))
    g.groupBy(col("doc_id"), col("cid"))
      .agg(min(col("q")).as("start_tok"), max(col("q")).as("end_tok"),
        count(lit(1)).as("n_tokens"),
        expr("md5(cast(array_join(transform(array_sort(" +
          "collect_list(struct(q, tok))), x -> x.tok), ' ') as binary))")
          .as("chunk_md5"))
      .select(col("doc_id"), col("cid").as("chunk_id"), col("start_tok"),
        col("end_tok"), col("n_tokens"), col("chunk_md5"))
  }

  /** Per-document PROVENANCE through the cleaning funnel — the record
    * every corpus owner ships with a training set: for each document, the
    * first stage that dropped it (quality → language → exact dedup →
    * near-dup → benchmark holdout → contamination), the stage's deciding
    * score, and the mix split for survivors. Output: (doc_id, fate,
    * score, split).
    *
    * COMPOSED, never recomputed: every stage replays the exact predicate
    * of its already-oracle-checked stage query — the quality/language
    * gates and exact dedup of `pipeline_training_mix`, the
    * k12/b4/r3/τ0.5 LSH drop rule of `pipeline_clean_corpus` (read from
    * the [[Dedup.lshVerifiedPairs]] artifact), and
    * `pipeline_training_mix`'s 4-gram contamination — so the funnel's
    * per-stage counts reconcile against the stage rows by construction.
    *
    * Scale shape: one corpus pass builds the gate columns; exact-dup rank
    * is ONE window over the text-hash partition (survivors ordered first,
    * so the rank among gated docs needs no self-join); the near-dup and
    * contamination drop lists are duplicate-/contamination-proportional
    * (≪ corpus) left joins. The whole fate table is a read-through
    * artifact keyed on the corpus fingerprint, serving both the per-doc
    * and the retention-funnel queries. */
  def provenanceFate(docs: DataFrame): DataFrame =
    Dedup.cachedDocIndex(docs, "provenance", "v1") {
      val enPat = graft.functions.TextFunctions.langMarkers.toMap.apply("en")
      val nd = Dedup.lshVerifiedPairs(docs, k = 12, bands = 4, rows = 3,
          threshold = 0.5)
        .groupBy(col("id_b").as("doc_id"))
        .agg(max(col("jaccard")).as("nd_score"))
      val ct = contaminationPairs(docs, n = 4,
          isBench = col("doc_id") % 20 === 0)
        .groupBy(col("train_id").as("doc_id"))
        .agg(max(col("n_shared")).cast("double").as("ct_score"))
      val base = docs
        .withColumn("n_tokens",
          graft.functions.TextFunctions.wsTokenCount(col("text")))
        .withColumn("stop_hits",
          graft.functions.TextFunctions.langScore(col("text"), enPat))
        .withColumn("ratio",
          col("stop_hits") / col("n_tokens").cast("double"))
        .withColumn("gated",
          col("n_tokens") >= 20 && col("ratio") >= 0.05)
        // Rank within each exact-text group with gated docs FIRST: a
        // gated doc's rank among gated docs equals its overall rank (all
        // rows before it are gated), so one window replaces a
        // gated-subset self-join; non-gated ranks are never read (their
        // fate is decided upstream).
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text").cast("binary")))
            .orderBy(col("gated").desc, col("doc_id"))))
      base
        .join(nd, Seq("doc_id"), "left")
        .join(ct, Seq("doc_id"), "left")
        .withColumn("fate",
          when(col("n_tokens") < 20, "quality")
            .when(col("ratio") < 0.05, "lang")
            .when(col("rn") > 1, "exact_dup")
            .when(col("nd_score").isNotNull, "near_dup")
            .when(col("doc_id") % 20 === 0, "bench")
            .when(col("ct_score").isNotNull, "contamination")
            .otherwise("kept"))
        .withColumn("score",
          when(col("fate") === "quality", col("n_tokens").cast("double"))
            .when(col("fate") === "lang", col("ratio"))
            .when(col("fate") === "exact_dup", col("rn").cast("double"))
            .when(col("fate") === "near_dup", col("nd_score"))
            .when(col("fate") === "contamination", col("ct_score")))
        .withColumn("split", when(col("fate") === "kept",
          Sampling.splitAssign(col("doc_id"), 0.8, 0.1)))
        .select(col("doc_id"), col("fate"), col("score"), col("split"))
    }
}
