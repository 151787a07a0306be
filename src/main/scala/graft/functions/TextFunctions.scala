package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis building blocks for the LLM-data-pipeline
  * operators (dedup, language ID, quality scoring, fingerprinting). All are
  * pure `org.apache.spark.sql.functions` compositions — codegen'd, no UDFs —
  * and every primitive has an exact DuckDB-SQL equivalent so the pipelines
  * built from them stay oracle-checkable (hashes are md5 hex strings, which
  * both engines produce identically).
  */
object TextFunctions {

  /** Whitespace tokens of a trimmed text. */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** Distinct word n-gram shingles over a PRE-PROJECTED token-array column.
    *
    * IMPORTANT (hot paths): pass a bound column (`.select(tokens(text) as
    * "toks")` first), not the `tokens(...)` expression inline. Higher-order
    * lambdas are interpreted, and an expression tree referenced inside the
    * lambda is re-evaluated PER ELEMENT — an inline split/regex turns a
    * linear shingle pass into elements × full-text work (measured 36× on
    * char shingles at sf0.1). A separate projection binds it once per row,
    * and CollapseProject keeps multi-referenced non-trivial aliases. */
  def shinglesFromTokens(t: Column, n: Int): Column =
    // Native single-pass expression (graft.plans.WordShingles); the
    // original HOF chain stays below as [[shinglesFromTokensHof]], the
    // executable spec WordShinglesSpec pins equality against. Every
    // GraftSession session has the function (GraftExtensions).
    call_function("word_shingles", t, lit(n))

  /** The interpreted-HOF formulation `word_shingles` replaced — retained
    * as the executable spec of its semantics. */
  private[graft] def shinglesFromTokensHof(t: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(t) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*))
    array_distinct(when(size(t) >= n, grams).otherwise(array()))
  }

  /** Distinct word n-gram shingles ("w1 w2 w3") — the unit for MinHash /
    * Jaccard near-dup detection. Empty array when fewer than n tokens.
    * Convenience form; see [[shinglesFromTokens]] for the hot-path rule. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Lowercased, punctuation-stripped, whitespace-collapsed text — the
    * canonical form for exact-after-normalization dedup. */
  def normText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Keyed md5 of a string: `md5(key || '|' || s)` — the family of
    * independent hash functions behind MinHash (one per key). Hex output
    * compares lexicographically == numerically (fixed width, lowercase). */
  def keyedMd5(key: Column, s: Column): Column =
    md5(concat(key.cast("string"), lit("|"), s).cast("binary"))

  /** MinHash signature: for each of k hash functions, the minimum keyed-md5
    * over the shingle set. Returns array<string> of length k (nulls when the
    * shingle set is empty). Runs as the native `minhash_sig` expression
    * (graft.plans.MinhashSig — one shingle pass, no interpreted lambdas);
    * [[minhashSignatureHof]] keeps the original HOF formulation for the
    * equality spec. Every [[graft.GraftSession]] session has the function
    * ([[graft.plans.GraftExtensions]]). */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    call_function("minhash_sig", shingleSet, lit(k))

  /** The interpreted-HOF formulation `minhash_sig` replaced — retained as
    * the executable spec of its semantics (MinhashSigSpec pins equality). */
  private[graft] def minhashSignatureHof(shingleSet: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleSet, s => keyedMd5(i, s))))

  /** LSH band digests: split the k-row signature into `bands` bands of
    * `rows` rows and hash each band. Returns array<struct<band_idx,band_hash>>
    * ready to posexplode into the bucket-join. */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      struct(
        lit(j).as("band_idx"),
        md5(concat_ws("|", slice(signature, j * rows + 1, rows)).cast("binary"))
          .as("band_hash"))
    }: _*)

  /** Exact Jaccard similarity of two DISTINCT-element arrays. The name
    * carries the precondition, which is not checked (a guard would cost an
    * `array_distinct` per row): repeated elements give a wrong score, not
    * an error. Integer-count division — bit-identical in any engine. Two
    * EMPTY sets score 0 (not a divide-by-zero: ANSI mode throws on 0/0,
    * and degenerate short docs all band-collide, so the guard is
    * load-bearing); the oracle's NULL for the same case is
    * threshold-filtered identically. */
  def jaccardDistinct(a: Column, b: Column): Column = {
    // |A∪B| = |A| + |B| − |A∩B| for distinct-element arrays (every caller
    // passes shingle sets, distinct by construction) — skips materializing
    // the union array per pair; JaccardIdentitySpec pins ≡ array_union.
    val ic = size(array_intersect(a, b))
    val union = size(a) + size(b) - ic
    when(union === 0, lit(0.0))
      .otherwise(ic.cast("double") / union)
  }

  /** Polynomial rolling hash (mod 1e9+7, base 31) over the characters of a
    * string — the classic document-fingerprint primitive, expressed as a
    * sequential fold so any engine reproduces it exactly. */
  def rollingHash(s: Column): Column =
    when(length(s) > 0,
      aggregate(sequence(lit(1), length(s)), lit(0L),
        (acc, i) => pmod(acc * 31 + ascii(s.substr(i, lit(1))), lit(1000000007L))))
      .otherwise(lit(0L))

  /** Hamming distance between two equal-length bit strings ('0'/'1').
    * HARD PRECONDITION: both inputs must be exactly `bits` chars — a
    * shorter input would otherwise produce a silently-truncated count
    * (or, NULLed, silent row loss through downstream distance filters),
    * so the guard FAILS THE QUERY via `raise_error` instead. Simhash
    * always emits full-width strings, which is the only producer today;
    * the error branch is dead code there and costs nothing. 32-char
    * windows convert to integer words (`conv` base 2) and XOR under
    * `bit_count` — all codegen'd builtins, vs the 1-char-at-a-time
    * interpreted fold this replaces (per-PAIR cost on verify hot paths).
    * 32-bit windows keep every word unambiguous in a signed long. */
  def hammingDistance(a: Column, b: Column, bits: Int): Column = {
    val dist = (0 until (bits + 31) / 32).map { w =>
      val off = w * 32 + 1
      val len = math.min(32, bits - w * 32)
      bit_count(conv(a.substr(lit(off), lit(len)), 2, 10).cast("long")
        .bitwiseXOR(conv(b.substr(lit(off), lit(len)), 2, 10).cast("long")))
    }.reduce(_ + _)
    when(length(a) === bits && length(b) === bits, dist)
      .otherwise(raise_error(concat(
        lit(s"hammingDistance: inputs must be exactly $bits bits, got ("),
        coalesce(length(a).cast("string"), lit("null")), lit(", "),
        coalesce(length(b).cast("string"), lit("null")), lit(")"))))
  }

  /** Language marker-word sets for the n-gram-heuristic language ID.
    * Priority order = tie-break order. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|and|of|to|in|is|that|it|for)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu|den|mit)\\b",
    "fr" -> "\\b(le|la|les|et|est|pas|une|pour|que|dans)\\b",
    "es" -> "\\b(el|los|las|y|es|no|una|por|con|para)\\b")

  /** Marker-hit count for one language pattern (non-overlapping matches).
    * Runs as the native `marker_count` byte scan over the lowered text
    * (graft.plans.TextFeatureCounts — every langMarkers pattern is a
    * \b(word|…)\b alternation of \w-only words, where a match is exactly
    * a maximal \w-run equal to one alternative); [[langScoreHof]] keeps
    * the regex formulation for the equality spec. */
  def langScore(text: Column, pattern: String): Column =
    if (pattern.matches("""\\b\((\w+\|)*\w+\)\\b""")) {
      val words = pattern.stripPrefix("\\b(").stripSuffix(")\\b")
      call_function("marker_count", lower(text), lit(words))
    } else langScoreHof(text, pattern) // non-alternation pattern: regex path

  /** The regexp_count formulation `marker_count` replaced — retained as
    * the executable spec of its semantics (TextFeatureCountsSpec). */
  private[graft] def langScoreHof(text: Column, pattern: String): Column =
    regexp_count(lower(text), lit(pattern)).cast("long")

  /** Whitespace-token count ≡ size(tokens(text)).cast("long") — the
    * counting-only sites skip materializing the token array AND the regex
    * split (native byte pass; TextFeatureCountsSpec pins equality). */
  def wsTokenCount(text: Column): Column =
    call_function("ws_token_count", text)

  private[graft] def wsTokenCountHof(text: Column): Column =
    size(tokens(text)).cast("long")

  /** Non-[a-zA-Z0-9\s] code-point count ≡
    * regexp_count(text, "[^a-zA-Z0-9\\s]").cast("long") (native byte
    * pass; TextFeatureCountsSpec pins equality). */
  def punctCount(text: Column): Column =
    call_function("punct_count", text)

  private[graft] def punctCountHof(text: Column): Column =
    regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("long")
}
