package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.TextFunctions._
import graft.operators.{Dedup, IndexCache}
import graft.sources.Tables

/** Deduplication operators over `documents` / `embeddings` (the
  * training-data-pipeline core): exact, MinHash+LSH, length-banded n-gram
  * Jaccard, SimHash, and embedding-cosine near-dup. Each DuckDB oracle
  * mirrors the Spark pipeline hash-for-hash (md5 hex), so candidate
  * generation and verification agree exactly across engines.
  */
object DedupQueries {
  import SimilarityQueries.{cosineSql, dotSql, embCte, signBucketSql}

  /** Shared oracle CTEs: whitespace tokens → distinct 3-gram shingles. */
  private val shinglesCte =
    s"${TextQueries.toksCte}, " +
      "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
      "list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) " +
      "ELSE CAST([] AS VARCHAR[]) END AS s FROM toks)"

  /** The MinHash signature `sig` (k = 12 keyed-md5 minima) of each
    * shingle set in `from`. */
  private def sigCte(from: String = "sh"): String =
    "sig AS (SELECT doc_id, s, list_transform(range(0, 12), " +
      "i -> list_min(list_transform(s, x -> md5(i::VARCHAR || '|' || x)))) AS sig " +
      s"FROM $from)"

  /** Shingles → signatures → 4 × 3 band digests `bandrows` → the banded
    * candidate self-join `cand` (columns `a`, `b`): every pair sharing a
    * band digest that `pair` admits. */
  private def lshCandCtes(a: String, b: String, pair: String): String =
    s"$shinglesCte, ${sigCte()}, " +
      "bandrows AS (SELECT doc_id, j, md5(array_to_string(sig[(j*3+1):(j*3+3)], '|')) AS bh " +
      "FROM sig, range(0, 4) r(j)), " +
      s"cand AS (SELECT DISTINCT a.doc_id AS $a, b.doc_id AS $b FROM bandrows a " +
      s"JOIN bandrows b ON a.j = b.j AND a.bh = b.bh AND $pair)"

  /** The symmetric candidate pairs (id_a < id_b) of the k12/b4/r3 chain
    * of Dedup.lshVerifiedPairs. */
  private[queries] val lshPairCtes = lshCandCtes("id_a", "id_b", "a.doc_id < b.doc_id")

  /** Exact Jaccard of the shingle sets of aliases `a` and `b` (raw
    * integer-count ratio — bit-identical in any engine, no rounding). */
  private[queries] def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a.s, $b.s))::DOUBLE / len(list_distinct(list_concat($a.s, $b.s)))"

  /** Each candidate pair joined to its two shingle sets `sa` and `sb`. */
  private[queries] def candShinglesSql(a: String, b: String): String =
    s"FROM cand JOIN sh sa ON sa.doc_id = $a JOIN sh sb ON sb.doc_id = $b"

  /** The verified-pair table `v`: each candidate pair with its Jaccard. */
  private def jaccardCte(a: String, b: String): String =
    s"v AS (SELECT $a, $b, ${jaccardSql("sa", "sb")} AS jaccard ${candShinglesSql(a, b)})"

  /** Shingles digested to 16-hex md5 prefixes (`hsh`, mirroring the Spark
    * pipeline's fixed-width set elements) with each doc's length (`dd`). */
  private val digestedShinglesCtes =
    "hsh AS (SELECT doc_id, list_transform(s, x -> substr(md5(x), 1, 16)) AS s FROM sh), " +
      "dd AS (SELECT hsh.doc_id, hsh.s, documents.n_chars FROM hsh JOIN documents USING (doc_id))"

  /** Near-dup clustering over [[lshPairCtes]]: the verified pairs `p`
    * (Jaccard >= 0.5) as an undirected edge list `e`, and `reach`, the
    * recursive reachability that labels each component by its min id. */
  private val componentCtes =
    s"p AS (SELECT id_a, id_b ${candShinglesSql("id_a", "id_b")} " +
      s"WHERE ${jaccardSql("sa", "sb")} >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
      "nodes AS (SELECT DISTINCT src AS id FROM e), " +
      "reach AS (SELECT id AS a, id AS b FROM nodes " +
      "UNION SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)"

  /** Shared oracle for BOTH incremental-dedup paths (inline and served
    * from the persisted index — the artifact is transparent to results):
    * the dedup_minhash_lsh signature/band machinery with an ASYMMETRIC
    * candidate join — new batch (doc_id % 5 = 0) bands against historical
    * (rest) bands only. */
  /** The CTE chain of [[incrementalSql]] up to the verified-pair table
    * `v` — exposed so the at-ingest provenance funnel's oracle replays
    * the IDENTICAL asymmetric probe instead of hand-syncing a replica
    * (the same one-source-of-truth rule as PipelineQueries' shared
    * cleaning-stage CTEs). */
  private[queries] val incrementalCtes =
    lshCandCtes("new_id", "dup_of", "a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0") + ", " +
      jaccardCte("new_id", "dup_of")

  private[queries] val incrementalSql =
    s"WITH $incrementalCtes " +
      "SELECT new_id, dup_of, jaccard FROM v WHERE jaccard >= 0.5 ORDER BY new_id, dup_of"

  /** BUILD step of the LSH index lifecycle: shingle + sign the historical
    * corpus once per sf dir and persist the index table as a named index
    * under [[IndexCache.root]]; every serve probes the artifact (and
    * staleness-checks its fingerprint). Each call runs the read-through
    * probe (the artifact's recorded fingerprint against the live history
    * — driver metadata once memoized) and re-shingles the lake only when
    * the artifact is absent or stale. */
  private[queries] def lshIndexFor(s: SparkSession, d: String): String = {
    val hist = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    IndexCache.namedIndex(s"lsh_$d")(Dedup.lshIndexFresh(s, _, hist))(
      Dedup.writeLshIndex(hist, _))
  }

  /** COMPACTION step closing the text-dedup ingest loop: a seed index
    * over the older history (doc_id % 5 ∈ {1,2,3}) has the % 5 = 4 batch
    * FOLDED in ([[Dedup.compactLshIndex]]: artifact rows reused verbatim,
    * only the batch shingled+signed), producing an artifact whose
    * recorded fingerprint covers the full % 5 ≠ 0 history — which the
    * next batch (% 5 = 0) then probes. */
  private def lshCompactedIndexFor(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    val histFull = docs.filter(col("doc_id") % 5 =!= 0)
    IndexCache.namedIndex(s"lshc_$d")(Dedup.lshIndexFresh(s, _, histFull)) { path =>
      val hist0 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4)
      val seed = IndexCache.namedIndex(s"lshc_${d}_seed")(
        Dedup.lshIndexFresh(s, _, hist0))(Dedup.writeLshIndex(hist0, _))
      Dedup.compactLshIndex(hist0, docs.filter(col("doc_id") % 5 === 4),
        seed, path)
    }
  }

  /** Shared URL fixture + canonicalization oracle CTEs through `canon`
    * (doc_id, canonical) — see the dedup_url registration for the
    * fixture/policy description. */
  private val urlCanonCte: String =
    "urls AS (SELECT doc_id, CASE doc_id % 4 " +
      "WHEN 0 THEN 'https://Example.COM/articles/page' || (doc_id // 4)::VARCHAR " +
      "WHEN 1 THEN 'http://example.com/articles/page' || (doc_id // 4)::VARCHAR || '/' " +
      "WHEN 2 THEN 'https://www.example.com/articles/page' || (doc_id // 4)::VARCHAR || " +
      "'?utm_source=feed&utm_campaign=x' " +
      "ELSE 'https://example.com/articles/page' || (doc_id // 4)::VARCHAR || " +
      "'?z=1&id=' || (doc_id % 7)::VARCHAR || '&utm_medium=rss' END AS url FROM documents), " +
      "parts AS (SELECT doc_id, " +
      "regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\\.', '') AS host, " +
      "regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS path, " +
      "array_to_string(list_sort(list_filter(string_split(" +
      "regexp_extract(url, '\\?([^#]*)', 1), '&'), " +
      "p -> p != '' AND NOT starts_with(p, 'utm_'))), '&') AS q FROM urls), " +
      "canon AS (SELECT doc_id, 'https://' || host || path || " +
      "CASE WHEN q != '' THEN '?' || q ELSE '' END AS canonical FROM parts)"

  /** Spark side of [[urlCanonCte]]: (doc_id, canonical). */
  private def canonicalUrls(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val urls = docs.select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("https://Example.COM/articles/page"),
          expr("doc_id div 4").cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://example.com/articles/page"),
            expr("doc_id div 4").cast("string"), lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://www.example.com/articles/page"),
            expr("doc_id div 4").cast("string"),
            lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("https://example.com/articles/page"),
          expr("doc_id div 4").cast("string"), lit("?z=1&id="),
          (col("doc_id") % 7).cast("string"), lit("&utm_medium=rss")))
        .as("url"))
    urls.select(col("doc_id"),
        regexp_replace(lower(regexp_extract(col("url"),
          "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "").as("host"),
        regexp_replace(regexp_extract(col("url"),
          "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "").as("path"),
        expr("array_join(array_sort(filter(split(" +
          "regexp_extract(url, '\\\\?([^#]*)', 1), '&'), " +
          "p -> p != '' AND NOT startswith(p, 'utm_'))), '&')").as("q"))
      .select(col("doc_id"), concat(lit("https://"), col("host"),
        col("path"), when(col("q") =!= "",
          concat(lit("?"), col("q"))).otherwise("")).as("canonical"))
  }

  val all: Seq[Q] = Seq(

    // Exact dedup by content hash.
    Q("dedup_exact",
      "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies " +
        "FROM documents GROUP BY 1 ORDER BY 1") { (s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("text_hash"))
    },

    // MinHash (k=12) + LSH (4 bands × 3 rows) near-dup pairs, exact-Jaccard
    // verified at tau=0.5. The oracle replays the identical pipeline: same
    // keyed-md5 hash family, same banding, same verify.
    Q("dedup_minhash_lsh",
      s"WITH $lshPairCtes, ${jaccardCte("id_a", "id_b")} " +
        "SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5 ORDER BY id_a, id_b") {
      (s, d) =>
        Dedup.minhashLshPairs(Tables.documents(s, d), k = 12, bands = 4,
            rows = 3, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
    },

    // The dedup THRESHOLD tuning curve — the retention-vs-aggressiveness
    // trade a corpus owner reads before picking τ, pinned as oracle data
    // (the sim_probe_sweep discipline applied to dedup): surviving pair
    // count and would-be-dropped doc count at τ ∈ {0.5 … 0.99} (the
    // planted near-dups live at Jaccard 0.90–0.99, so the curve bends in
    // the top decade), all
    // derived from ONE scan of the verified-pairs artifact — every pair
    // row carries its exact Jaccard, and a τ ≥ the build threshold is a
    // lossless filter of the τ=0.5 pair set (sweeping BELOW the build
    // threshold would need a re-banded build; that direction is the
    // artifact's documented boundary). Every τ emits a row (left join
    // from the τ list), so an over-aggressive threshold reads as an
    // explicit zero, not a missing row.
    Q("dedup_threshold_sweep",
      s"WITH $lshPairCtes, ${jaccardCte("id_a", "id_b")}, " +
        "p AS (SELECT * FROM v WHERE jaccard >= 0.5), " +
        "tv AS (SELECT unnest([0.5, 0.9, 0.95, 0.97, 0.99]::DOUBLE[]) AS tau) " +
        "SELECT tau, CAST(COUNT(p.id_a) AS BIGINT) AS n_pairs, " +
        "CAST(COUNT(DISTINCT p.id_b) AS BIGINT) AS n_dropped_docs " +
        "FROM tv LEFT JOIN p ON p.jaccard >= tv.tau " +
        "GROUP BY 1 ORDER BY 1") { (s, d) =>
      import s.implicits._
      val pairs = Dedup.lshVerifiedPairs(Tables.documents(s, d), k = 12,
        bands = 4, rows = 3, threshold = 0.5)
      Seq(0.5, 0.9, 0.95, 0.97, 0.99).toDF("tau")
        .join(broadcast(pairs), col("jaccard") >= col("tau"), "left")
        .groupBy(col("tau"))
        .agg(count(col("id_a")).as("n_pairs"),
          countDistinct(col("id_b")).as("n_dropped_docs"))
        .orderBy(col("tau"))
    },

    // The LSH BANDING operating curve (the third tuning curve next to the
    // τ sweep and the ANN probe sweep): candidate volume vs verified
    // yield for every (bands × rows) factorization of the 12-row MinHash
    // signature. More bands = more candidates for the same verified set
    // (verify-cost knob); fewer bands = recall risk. One plan probes all
    // four configs against the persisted signature artifact
    // (minhash_sigs; the live signing representative stays
    // dedup_minhash_lsh).
    Q("dedup_band_sweep",
      s"WITH $shinglesCte, ${sigCte("sh WHERE len(s) > 0")}, " +
        "cfg AS (SELECT unnest([2, 3, 4, 6]) AS nb, unnest([6, 4, 3, 2]) AS rw), " +
        "br AS (SELECT doc_id, nb, rw, j, " +
        "md5(array_to_string(sig[(j*rw+1):(j*rw+rw)], '|')) AS bh " +
        "FROM sig, cfg, range(0, 6) r(j) WHERE j < nb), " +
        "cand AS (SELECT DISTINCT a.nb, a.rw, a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM br a JOIN br b ON a.nb = b.nb AND a.j = b.j AND a.bh = b.bh " +
        "AND a.doc_id < b.doc_id), " +
        "v AS (SELECT nb, rw, COALESCE(len(list_intersect(sa.s, sb.s))::DOUBLE / " +
        "NULLIF(len(list_distinct(list_concat(sa.s, sb.s))), 0), 0) AS jac " +
        s"${candShinglesSql("id_a", "id_b")}) " +
        "SELECT CAST(nb AS BIGINT) AS bands, CAST(rw AS BIGINT) AS rows_per_band, " +
        "CAST(COUNT(*) AS BIGINT) AS n_candidates, " +
        "CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified " +
        "FROM v GROUP BY 1, 2 ORDER BY 1") { (s, d) =>
      Dedup.bandSweep(Tables.documents(s, d), k = 12)
        .select(col("bands").cast("long").as("bands"),
          col("rows_per_band").cast("long").as("rows_per_band"),
          col("n_candidates"), col("n_verified"))
        .orderBy(col("bands"))
    },

    // Exact n-gram Jaccard over length-banded candidates (|n_chars diff| <=
    // 10). The Spark plan generates candidates with the explode-bucket trick
    // (equi join); the oracle's theta join yields the same pair set.
    Q("dedup_ngram_jaccard",
      s"WITH $shinglesCte, $digestedShinglesCtes, " +
        s"p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, ${jaccardSql("a", "b")} AS jaccard " +
        "FROM dd a JOIN dd b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 10) " +
        "SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.3 ORDER BY id_a, id_b") {
      (s, d) =>
        // Served from the persisted pair artifact (built once per corpus
        // snapshot); dedup_char_jaccard keeps the same verify path live.
        Dedup.ngramVerifiedPairs(Tables.documents(s, d), maxDiff = 10,
            threshold = 0.3)
          .orderBy(col("id_a"), col("id_b"))
    },

    // LSH banding RECALL — the third leg of the banding tuning family
    // (dedup_band_sweep = candidate COST, dedup_threshold_sweep = τ
    // RETENTION, this row = QUALITY): of the exact length-banded pairs at
    // Jaccard >= 0.5, how many does the (4x3)-banded MinHash pipeline
    // surface? Both sides are the persisted pair artifacts, so the row is
    // two scans + one join; a banding change that silently loses recall
    // now fails an oracle row instead of shipping. (The exact side is
    // itself length-banded — recall is measured against the pairs the
    // exact pipeline can see, the honest denominator at any scale.)
    Q("dedup_lsh_recall",
      s"WITH $lshPairCtes, " +
        s"lshv AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, ${jaccardSql("sa", "sb")} AS j " +
        s"${candShinglesSql("id_a", "id_b")}) WHERE j >= 0.5), " +
        s"$digestedShinglesCtes, " +
        "ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM dd a JOIN dd b " +
        "ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 10 " +
        s"AND ${jaccardSql("a", "b")} >= 0.5) " +
        "SELECT COUNT(*) AS n_exact, CAST(COUNT(l.id_a) AS BIGINT) AS n_caught, " +
        "ROUND(COUNT(l.id_a) / COUNT(*)::DOUBLE, 4) AS recall " +
        "FROM ex LEFT JOIN lshv l ON l.id_a = ex.id_a AND l.id_b = ex.id_b") {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val exact = Dedup.ngramVerifiedPairs(docs, maxDiff = 10, threshold = 0.3)
          .where(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"))
        val lsh = Dedup.lshVerifiedPairs(docs, k = 12, bands = 4, rows = 3,
            threshold = 0.5)
          .select(col("id_a"), col("id_b"), lit(1).as("hit"))
        exact.join(lsh, Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
            count(col("hit")).as("n_caught"),
            round(count(col("hit")) / count(lit(1)).cast("double"), 4)
              .as("recall"))
    },

    // Character 8-gram Jaccard over normalized text (reorder/punctuation
    // robust), length-banded like the word-ngram variant.
    Q("dedup_char_jaccard",
      "WITH nrm AS (SELECT doc_id, n_chars, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm FROM documents), " +
        "cs AS (SELECT doc_id, n_chars, CASE WHEN length(norm) >= 8 THEN " +
        "list_distinct(list_transform(range(1, length(norm) - 6), " +
        "i -> substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 16))) " +
        "ELSE CAST([] AS VARCHAR[]) END AS s FROM nrm), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN NULL " +
        s"ELSE ${jaccardSql("a", "b")} END AS jaccard " +
        "FROM cs a JOIN cs b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 10) " +
        "SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.4 ORDER BY id_a, id_b") {
      (s, d) =>
        Dedup.charJaccardPairs(Tables.documents(s, d), k = 8, maxDiff = 10,
            threshold = 0.4)
          .orderBy(col("id_a"), col("id_b"))
    },

    // MinHash similarity estimation: jaccard from signature agreement alone
    // (the sub-linear path), reported next to the exact value.
    Q("dedup_minhash_estimate",
      s"WITH $lshPairCtes, " +
        "v AS (SELECT id_a, id_b, " +
        "len(list_filter(list_transform(range(1, 13), i -> sa.sig[i] = sb.sig[i]), x -> x))::DOUBLE / 12 AS est_jaccard, " +
        s"${jaccardSql("sa", "sb")} AS jaccard " +
        "FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b) " +
        "SELECT id_a, id_b, est_jaccard, jaccard FROM v WHERE jaccard >= 0.5 ORDER BY id_a, id_b") {
      (s, d) =>
        Dedup.minhashEstimatedPairs(Tables.documents(s, d))
          .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash-64 over 3-gram shingles: 4×16-bit band candidates, Hamming <= 8.
    Q("dedup_simhash",
      s"WITH $shinglesCte, " +
        "th AS (SELECT doc_id, md5(unnest(s)) AS h FROM sh), " +
        "hx AS (SELECT doc_id, p, ascii(substr(h, CAST(p // 4 AS INT) + 1, 1)) AS c FROM th, range(0, 64) r(p)), " +
        "bt AS (SELECT doc_id, p, CAST(FLOOR((CASE WHEN c <= 57 THEN c - 48 ELSE c - 87 END) " +
        "/ POWER(2, 3 - (p % 4))) AS BIGINT) % 2 AS bit FROM hx), " +
        "bits AS (SELECT doc_id, p, CASE WHEN SUM(2 * bit - 1) >= 0 THEN '1' ELSE '0' END AS ch " +
        "FROM bt GROUP BY doc_id, p), " +
        "sig AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS simhash FROM bits GROUP BY doc_id), " +
        "banded AS (SELECT doc_id, simhash, j, substr(simhash, CAST(j * 16 + 1 AS INT), 16) AS band " +
        "FROM sig, range(0, 4) r(j)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sa, b.simhash AS sb " +
        "FROM banded a JOIN banded b ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id), " +
        "hd AS (SELECT id_a, id_b, CAST(list_sum(list_transform(range(1, 65), " +
        "i -> CASE WHEN substr(sa, CAST(i AS INT), 1) != substr(sb, CAST(i AS INT), 1) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming FROM cand) " +
        "SELECT id_a, id_b, hamming FROM hd WHERE hamming <= 8 ORDER BY id_a, id_b") {
      (s, d) =>
        Dedup.simhashPairs(
            Dedup.simhashIndex(Tables.documents(s, d)), maxHamming = 8)
          .orderBy(col("id_a"), col("id_b"))
    },

    // Connected components over the MinHash near-dup graph: canonical
    // keeper per duplicate cluster (handles chained pairs a~b~c).
    Q("dedup_components",
      s"WITH RECURSIVE $lshPairCtes, $componentCtes " +
        "SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a ORDER BY doc_id") {
      (s, d) =>
        // Pairs come from the persisted edge-list artifact (built once
        // per corpus snapshot; dedup_minhash_lsh stays the from-scratch
        // build representative of that cost).
        val pairs = Dedup.lshVerifiedPairs(Tables.documents(s, d), k = 12,
          bands = 4, rows = 3, threshold = 0.5)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("comp"))
          .orderBy(col("doc_id"))
    },

    // Canonical-doc selection — what a dedup pipeline actually EMITS: per
    // near-dup component keep the best-quality member (composite quality
    // score, ties to the lowest doc_id) and list every other member as a
    // drop row with its keeper. Components ∘ quality composed end-to-end;
    // the oracle replays LSH → verify → reachability → the same quality
    // arithmetic (bit-identical doubles — the pipeline_quality_gate
    // precedent) → FIRST_VALUE per component.
    Q("dedup_canonical",
      s"WITH RECURSIVE $lshPairCtes, $componentCtes, " +
        "comp AS (SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a), " +
        s"q AS (SELECT doc_id, ${TextQueries.qualityTextSql} AS quality " +
        "FROM documents WHERE length(text) > 0), " +
        "ranked AS (SELECT c.doc_id, c.comp, " +
        "ROW_NUMBER() OVER (PARTITION BY c.comp ORDER BY q.quality DESC, c.doc_id) AS rn, " +
        "FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.comp ORDER BY q.quality DESC, c.doc_id) AS keep_id " +
        "FROM comp c JOIN q USING (doc_id)) " +
        "SELECT doc_id, comp, keep_id FROM ranked WHERE rn > 1 ORDER BY doc_id") { (s, d) =>
      val enPat = langMarkers.toMap.apply("en")
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshVerifiedPairs(docs, k = 12, bands = 4, rows = 3,
        threshold = 0.5)
      // The component table persists too: canonical selection is the
      // downstream CONSUMER of clustering (dedup_components stays the
      // live representative of the two-star iterations); keyed by the
      // same corpus fingerprint the pairs artifact uses, so a changed
      // corpus rebuilds both.
      val comp = IndexCache.cachedFrame(s, "lsh_comps",
          "k12b4r3t0.5", Dedup.docFp(docs)) {
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("comp"))
      }
      val q = docs.where(length(col("text")) > 0)
        .select(col("doc_id"),
          wsTokenCount(col("text")).as("n_tokens"),
          langScore(col("text"), enPat).as("stop_hits"),
          punctCount(col("text")).as("n_punct"),
          length(col("text")).cast("long").as("n_len"))
        .select(col("doc_id"),
          (lit(0.4) * (col("stop_hits") / col("n_tokens").cast("double"))
            + lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0))
            + lit(0.3) * (lit(1.0) - col("n_punct") / col("n_len").cast("double")))
            .as("quality"))
      // Keeper = best quality, ties to lowest id; window partition = one
      // near-dup component (bounded: a dup cluster, not the corpus).
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("quality").desc, col("doc_id"))
      comp.join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("keep_id", first(col("doc_id")).over(w))
        .where(col("rn") > 1)
        .select(col("doc_id"), col("comp"), col("keep_id"))
        .orderBy(col("doc_id"))
    },

    // Exact duplicated-SPAN profiling (the substring-level dedup signal of
    // "Deduplicating Training Data Makes Language Models Better": a doc
    // can be globally unique yet largely assembled from spans that occur
    // verbatim elsewhere). Every positional token 8-gram (NOT distinct —
    // in-doc repeats count) is digested; a span is duplicated when it
    // appears in ≥2 distinct docs; per doc report the duplicated-span
    // fraction. Linear blow-up (one span row per token), one shuffle to
    // count doc-spread per digest, one digest-keyed equi-join back, one
    // per-doc agg — no pairwise comparison anywhere, so the shape holds
    // at corpus scale.
    Q("dedup_duplicate_spans",
      "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7), " +
        "i -> md5(array_to_string(toks[(i+1):(i+8)], ' ')))) AS span " +
        "FROM t WHERE len(toks) >= 8), " +
        "d AS (SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1), " +
        "p AS (SELECT doc_id, COUNT(*) AS n_spans, " +
        "CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup " +
        "FROM g JOIN d USING (span) GROUP BY doc_id) " +
        "SELECT doc_id, n_spans, n_dup, ROUND(n_dup / n_spans::DOUBLE, 4) AS dup_frac " +
        "FROM p ORDER BY doc_id") { (s, d) =>
      // Positional 8-grams digested inside the projection lambda over the
      // BOUND toks column (hot-path rule: never inline tokens() here);
      // the digest table persists read-through for file-backed corpora
      // (Dedup.spanDigests).
      val spans = Dedup.spanDigests(Tables.documents(s, d), n = 8)
      // Only spans seen in >= 2 docs carry signal, and they are the small
      // survivor set (duplication is the exception, not the rule) — so
      // the per-doc census joins against THAT set instead of the full
      // per-span spread: the spread agg stays a skew-safe partial
      // aggregation, but the join side shrinks from every distinct span
      // to the duplicated ones, which AQE broadcasts here (and falls back
      // to the old shuffled join on a pathologically duplicated corpus —
      // the lossless worst case, not a wrong answer).
      val dupSpans = spans.groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .where(col("ndocs") > 1)
        .select(col("span"), lit(1L).as("isdup"))
      spans.join(dupSpans, Seq("span"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_spans"), col("n_dup"),
          round(col("n_dup") / col("n_spans").cast("double"), 4).as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // Embedding-cosine near-dup over sign-bucket LSH candidates.
    Q("dedup_embedding_cosine",
      s"WITH ${embCte("e")}, " +
        s"eb AS (SELECT vec_id, v, $signBucketSql AS bucket, sqrt(${dotSql("v", "v")}) AS nrm FROM e), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${cosineSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cosine " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3 ORDER BY id_a, id_b") { (s, d) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), threshold = 0.3,
          bucketBits = 4)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SemDeDup: nearest-seed-centroid clustering, then drop any vector
    // with a lower-id cluster-mate at cosine >= 0.3. The oracle replays
    // the identical assignment (grid-rounded L2², cid tie-break).
    Q("dedup_semantic",
      s"WITH ${embCte("e")}, " +
        "c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8), " +
        "dd AS (SELECT e.vec_id, e.v, c.cid, " +
        "ROUND(list_sum(list_transform(range(1, len(e.v)+1), " +
        "i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6) AS dist " +
        "FROM e CROSS JOIN c), " +
        "a AS (SELECT vec_id, v, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM dd), " +
        "m AS (SELECT vec_id, v, cid, " +
        "sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm " +
        "FROM a WHERE rn = 1), " +
        "dup AS (SELECT DISTINCT b.vec_id AS dup_id " +
        "FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE ROUND(list_sum(list_transform(range(1, len(a.v)+1), " +
        "i -> a.v[i]*b.v[i]))/(a.nrm*b.nrm), 6) >= 0.3) " +
        "SELECT m.vec_id, m.cid AS cluster, (dup.dup_id IS NULL) AS kept " +
        "FROM m LEFT JOIN dup ON m.vec_id = dup.dup_id ORDER BY m.vec_id") { (s, d) =>
      Dedup.semanticDedup(Tables.embeddings(s, d), k = 8, threshold = 0.3)
        .orderBy(col("vec_id"))
    },

    // Edit-distance near-dups: length-bucket block join (every pair with
    // |Δln| ≤ 16 meets in one of the two ln/32 buckets — lossless), then
    // banded Levenshtein ≤ 12 over the first 120 normalized chars. The
    // character-edit complement to the set-based Jaccard family: a typo
    // costs one edit here but barely moves a shingle set. The oracle
    // replays the identical bucket explode + full Levenshtein filter.
    Q("dedup_edit_distance",
      "WITH n AS (SELECT doc_id, substr(trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), 1, 120) AS p, " +
        "length(trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))::BIGINT AS ln FROM documents), " +
        "b AS (SELECT doc_id, p, ln, ln // 32 AS bk FROM n " +
        "UNION ALL SELECT doc_id, p, ln, ln // 32 + 1 FROM n), " +
        "cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2, a.p AS p1, c.p AS p2 " +
        "FROM b a JOIN b c ON a.bk = c.bk AND a.doc_id < c.doc_id " +
        "AND abs(a.ln - c.ln) <= 16) " +
        "SELECT d1, d2, levenshtein(p1, p2)::INTEGER AS ed FROM cand " +
        "WHERE levenshtein(p1, p2) <= 12 ORDER BY d1, d2") { (s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d))
        .orderBy(col("d1"), col("d2"))
    },

    // Incremental dedup (continuous-ingest shape): probe the NEW batch
    // (doc_id % 5 = 0, ~20 % of the corpus) against the HISTORICAL rest
    // with an asymmetric band join — history×history is never re-paired,
    // so per-batch cost tracks the batch, not the lake.
    Q("dedup_incremental", incrementalSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.incrementalLshPairs(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // Same probe served from the PERSISTED index artifact (writeLshIndex:
    // corpus-sized parquet table of (doc_id, shingles, band digests) +
    // source fingerprint; staleness-checked at serve). Identical results
    // to dedup_incremental, so the same oracle certifies the lifecycle.
    Q("dedup_lsh_served", incrementalSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.lshServedPairs(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          indexPath = lshIndexFor(s, d))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // COMPACTION closes the text-dedup ingest loop: the % 5 = 4 batch is
    // folded into the seed index as a build step (artifact rows reused
    // verbatim — signatures are per-document, so history is never
    // re-shingled), and this query is the next batch (% 5 = 0) probing
    // the COMPACTED artifact. Identical results to dedup_lsh_served /
    // dedup_incremental, so the same oracle certifies the whole
    // build → serve → ingest → compact cycle.
    Q("dedup_lsh_compacted", incrementalSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.lshServedPairs(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          indexPath = lshCompactedIndexFor(s, d))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // ASYMMETRIC containment dedup (round 9): C(A,B) = |A∩B|/|A| catches
    // quote/subset copies whose Jaccard is diluted by the longer doc's
    // extra shingles. Same banded candidates as dedup_minhash_lsh, exact
    // both-direction containment verify, raw integer-count ratios (no
    // rounding boundary).
    Q("dedup_containment",
      s"WITH $lshPairCtes, " +
        "v AS (SELECT id_a, id_b, " +
        "len(list_intersect(sa.s, sb.s))::DOUBLE / len(sa.s) AS cont_ab, " +
        "len(list_intersect(sa.s, sb.s))::DOUBLE / len(sb.s) AS cont_ba, " +
        s"${jaccardSql("sa", "sb")} AS jaccard ${candShinglesSql("id_a", "id_b")} " +
        "WHERE len(sa.s) > 0 AND len(sb.s) > 0) " +
        "SELECT id_a, id_b, cont_ab, cont_ba, jaccard FROM v " +
        "WHERE GREATEST(cont_ab, cont_ba) >= 0.7 ORDER BY id_a, id_b") { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), threshold = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Dedup observability: the per-source report every corpus pipeline
    // publishes after a dedup pass — documents, exact-unique texts (md5
    // content hash), surviving share, and the duplicate-copy mass. ONE
    // (source, hash) aggregation then a tiny per-source rollup; rates
    // divide exact integer counts, so rounding is engine-portable.
    Q("dedup_rate_by_source",
      "WITH h AS (SELECT source, md5(text) AS text_hash, COUNT(*) AS n " +
        "FROM documents GROUP BY 1, 2) " +
        "SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs, " +
        "COUNT(*)::BIGINT AS n_unique, " +
        "CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_copies, " +
        "ROUND(COUNT(*) / SUM(n)::DOUBLE, 6) AS unique_rate " +
        "FROM h GROUP BY 1 ORDER BY source") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"), md5(col("text").cast("binary")).as("text_hash"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique"),
          (sum(col("n")) - count(lit(1))).as("n_dup_copies"),
          round(count(lit(1)) / sum(col("n")).cast("double"), 6).as("unique_rate"))
        .orderBy(col("source"))
    },

    // SURVIVORSHIP (golden-record merge) — the MDM step AFTER dedup
    // finds clusters: per duplicate cluster (here the canonical-URL
    // clusters dedup_url produces — the corpus has no exact-text dups,
    // so URL re-crawls are the genuinely multi-member clusters), each
    // FIELD is resolved by its own policy instead of keeping one whole
    // row (contrast dedup_canonical): keeper id = min, language =
    // majority vote with a deterministic lexicographic tie-break, source
    // = latest-writer-wins (max_by over doc_id), plus the
    // source-disagreement count. One (cluster, lang) vote aggregate +
    // one per-cluster aggregate — no pairwise stage.
    Q("q_dedup_survivorship",
      s"WITH $urlCanonCte, " +
        "g AS (SELECT c.canonical AS h, d.doc_id, d.lang, d.source " +
        "FROM canon c JOIN documents d USING (doc_id)), " +
        "lc AS (SELECT h, lang, COUNT(*) AS c FROM g GROUP BY 1, 2), " +
        "lm AS (SELECT h, lang AS lang_consensus FROM (SELECT h, lang, " +
        "ROW_NUMBER() OVER (PARTITION BY h ORDER BY c DESC, lang) AS rn FROM lc) " +
        "WHERE rn = 1), " +
        "agg AS (SELECT h, COUNT(*)::BIGINT AS n_copies, MIN(doc_id) AS keeper_id, " +
        "arg_max(source, doc_id) AS source_latest, " +
        "COUNT(DISTINCT source)::BIGINT AS n_sources FROM g GROUP BY 1) " +
        "SELECT a.h AS canonical, n_copies, keeper_id, lang_consensus, " +
        "source_latest, n_sources FROM agg a JOIN lm USING (h) " +
        "WHERE n_copies > 1 ORDER BY canonical") { (s, d) =>
      val docs = Tables.documents(s, d)
      val g = canonicalUrls(docs).join(
        docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
        .select(col("canonical").as("h"), col("doc_id"), col("lang"),
          col("source"))
      // Majority vote as ONE aggregate instead of window+filter: the
      // ROW_NUMBER pick over (c DESC, lang ASC) is exactly
      // min_by(lang, struct(-c, lang)) — (c, lang) is unique per group,
      // so the argmin is deterministic and value-identical to the
      // oracle's window formulation, with one sort stage fewer.
      val lm = g.groupBy(col("h"), col("lang")).agg(count(lit(1)).as("c"))
        .groupBy(col("h"))
        .agg(min_by(col("lang"), struct((-col("c")).as("nc"), col("lang")))
          .as("lang_consensus"))
      g.groupBy(col("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"),
          max_by(col("source"), col("doc_id")).as("source_latest"),
          countDistinct(col("source")).as("n_sources"))
        .join(lm, "h")
        .where(col("n_copies") > 1)
        .select(col("h").as("canonical"), col("n_copies"), col("keeper_id"),
          col("lang_consensus"), col("source_latest"), col("n_sources"))
        .orderBy(col("canonical"))
    },

    // URL-canonicalization dedup — the web-corpus (CommonCrawl-style)
    // dedup pass that runs BEFORE any content hashing: the same page is
    // crawled under many raw URLs, and canonicalizing collapses them
    // without reading a byte of body text. The synthetic corpus carries no
    // URLs, so the query splices a deterministic fixture (4 raw variants
    // per logical page: mixed-case host, http + trailing slash, www. +
    // utm_* tracking params, and a KEPT id= param with params out of
    // order). Canonicalization = lowercase host, strip www., normalize
    // scheme to https, strip trailing slash and fragment, drop utm_*
    // params, SORT surviving params. Variants 0-2 collapse to one
    // canonical (group of 3); variant 3 keeps its id param and stays
    // distinct — kept params must prevent false merges. Pure per-row
    // string work + ONE canonical-keyed aggregation; no pairwise stage.
    Q("dedup_url", {
      s"WITH $urlCanonCte, " +
        "g AS (SELECT canonical, COUNT(*)::BIGINT AS n_docs, " +
        "MIN(doc_id) AS keeper FROM canon GROUP BY 1) " +
        "SELECT canonical, n_docs, keeper FROM g WHERE n_docs > 1 " +
        "ORDER BY canonical"
    }) { (s, d) =>
      canonicalUrls(Tables.documents(s, d))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .where(col("n_docs") > 1)
        .orderBy(col("canonical"))
    }
  )
}
