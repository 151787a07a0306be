package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.plans.DotProduct
import graft.serde._

/** graft's native Catalyst expressions as SQL functions — the public entry
  * points go through `call_function`, which resolves against the session
  * registry (the supported route to a custom `Expression` without touching
  * private Column constructors).
  *
  * [[functions]] is the one table of them. [[graft.plans.GraftExtensions]]
  * injects every entry, so a session built by [[graft.GraftSession]] (or
  * with `spark.sql.extensions=graft.plans.GraftExtensions`) has them from
  * creation on, and so does each `newSession()` of it. [[register]] is the
  * fallback for a session built without the extension; it runs through
  * [[graft.GraftSession.adopt]] only. */
object GraftFunctions {

  /** The value of `fn`'s constant argument `arg`. A builder matches arity
    * first and calls this second, so a wrong-arity call, a column where a
    * constant belongs and a NULL constant each get their own message. */
  private def literalValue(fn: String, arg: String, e: Expression): Any = e match {
    case Literal(null, _) => throw new IllegalArgumentException(
      s"$fn: argument $arg must not be NULL")
    case Literal(v, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $arg must be a literal, got ${other.sql}")
  }

  private def intLiteral(fn: String, arg: String, e: Expression): Int =
    literalValue(fn, arg, e) match {
      case n: Number => n.intValue()
      case v => throw new IllegalArgumentException(
        s"$fn: argument $arg must be an integer literal, got $v")
    }

  private def stringLiteral(fn: String, arg: String, e: Expression): String =
    literalValue(fn, arg, e).toString

  /** One table entry, in the shape `SparkSessionExtensions.injectFunction`
    * takes. The info is what `registerFunction(id, builder, source)` would
    * build for a temp function. */
  private def fn(name: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, null, name, null, "", "", "", "", "", "", "built-in"),
      build)

  /** Every native function of the engine, once. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vec_dot")(e => DotProduct(e(0), e(1))),
    fn("vec_dist2")(e => graft.plans.L2Dist2(e(0), e(1))),
    fn("sorted_intersect_count")(e => graft.plans.SortedIntersectCount(e(0), e(1))),
    // Morton code for multi-dimensional sort-clustering (data layout).
    fn("zorder2")(e => graft.plans.ZOrderLong(e(0), e(1))),
    // Generator rung of the extension ladder: in-row pair expansion.
    fn("pair_combs")(e => graft.plans.PairCombinations(e(0))),
    // Tokenizer hot loops as native expressions (replacing interpreted
    // aggregate() HOF folds — graft.plans.TokenizerFolds).
    fn("greedy_segment")(e => graft.plans.TokenizerFolds.GreedySegment(e)),
    fn("bpe_merge_fold")(e => graft.plans.TokenizerFolds.BpeMergeFold(e(0), e(1), e(2))),
    // Distinct word n-gram shingles in one token pass (the projection
    // fronting every dedup signing / corpus n-gram scan).
    fn("word_shingles") {
      case Seq(child, n) =>
        graft.plans.WordShingles(child, intLiteral("word_shingles", "n", n))
      case e => throw new IllegalArgumentException(
        s"word_shingles expects (tokens, n literal), got ${e.size} args")
    },
    // MinHash signing hot loop (k keyed md5 minima in one shingle pass).
    fn("minhash_sig") {
      case Seq(child, k) =>
        graft.plans.MinhashSig(child, intLiteral("minhash_sig", "k", k))
      case e => throw new IllegalArgumentException(
        s"minhash_sig expects (shingles, k literal), got ${e.size} args")
    },
    // Quality/language feature counts in one byte pass each (replacing
    // the per-row java.util.regex scans — graft.plans.TextFeatureCounts).
    fn("ws_token_count")(e => graft.plans.TextFeatureCounts.WsTokenCount(e(0))),
    fn("punct_count")(e => graft.plans.TextFeatureCounts.PunctCount(e(0))),
    fn("marker_count") {
      case Seq(child, w) =>
        graft.plans.TextFeatureCounts.MarkerCount(child,
          stringLiteral("marker_count", "words", w).split('|').toSeq)
      case e => throw new IllegalArgumentException(
        s"marker_count expects (text, words literal), got ${e.size} args")
    },
    fn("ascii_count") {
      case Seq(child, w) =>
        graft.plans.TextFeatureCounts.AsciiCount(child,
          stringLiteral("ascii_count", "chars", w))
      case e => throw new IllegalArgumentException(
        s"ascii_count expects (text, chars literal), got ${e.size} args")
    },
    // Mergeable KMV theta sketch (SURVEY §7.3 escalation): first-class
    // sketch values + set algebra (union/intersection) across tables.
    fn("theta_sketch") {
      case Seq(child) => SketchAgg(ThetaSketch(), child)
      case Seq(child, k) => SketchAgg(ThetaSketch(intLiteral("theta_sketch", "k", k)), child)
      case e => throw new IllegalArgumentException(
        s"theta_sketch expects (key[, k literal]), got ${e.size} args")
    },
    fn("theta_kmv_union_agg")(e => SketchAgg(ThetaSketch(), e(0), merging = true)),
    fn("theta_estimate")(e => ThetaEstimate(e(0))),
    fn("theta_kmv_union")(e => ThetaUnion(e(0), e(1))),
    fn("theta_intersect_estimate")(e => ThetaIntersectEstimate(e(0), e(1))),
    // Explicit Bloom-filter semi-join reduction (build + probe).
    fn("bloom_agg") {
      case Seq(child, m, k) =>
        SketchAgg(Bloom(intLiteral("bloom_agg", "numBits", m),
          intLiteral("bloom_agg", "k", k)), child)
      case e => throw new IllegalArgumentException(
        s"bloom_agg expects (key, numBits literal, k literal), got ${e.size} args")
    },
    fn("bloom_might_contain")(e => BloomMightContain(e(0), e(1))),
    // Mergeable HLL sketch — fixed 2^p-byte registers, register-wise-max
    // merge; hash derivation defined on md5 hex so the DuckDB oracle
    // replays the estimate BY VALUE (see HllSketch scaladoc).
    fn("hll_md5_sketch") {
      case Seq(child) => SketchAgg(HllSketch, child)
      case e => throw new IllegalArgumentException(
        s"hll_md5_sketch expects exactly (key) — only p = ${HllSketch.P} " +
          s"is wired (oracle-replayable split); got ${e.size} args")
    },
    fn("hll_md5_merge_agg")(e => SketchAgg(HllSketch, e(0), merging = true)),
    fn("hll_md5_union")(e => HllUnion(e(0), e(1))),
    fn("hll_md5_estimate")(e => HllEstimate(e(0))),
    // Count-min sketch — mergeable frequency grid; md5-chunk bucket
    // derivation, all-integer oracle replay (see CountMinSketch).
    fn("cms_sketch")(e => SketchAgg(CountMinSketch, e(0))),
    fn("cms_merge_agg")(e => SketchAgg(CountMinSketch, e(0), merging = true)),
    fn("cms_estimate")(e => CmsEstimate(e(0), e(1))),
    // Quantile sketch — mergeable HDR-style integer log grid; bucket
    // assignment and rank selection are all-integer, replayed by value
    // in DuckDB (see QuantileSketch).
    fn("qsk_sketch")(e => SketchAgg(QuantileSketch, e(0))),
    fn("qsk_merge_agg")(e => SketchAgg(QuantileSketch, e(0), merging = true)),
    fn("qsk_quantile")(e => QskQuantile(e(0), e(1))),
    fn("qsk_n")(e => QskN(e(0)))) ++
    // O12 wire serde: proto_encode_<message>(field, …) → binary and
    // proto_decode_<message>(binary) → struct for each of the reference's
    // five protobuf messages (graft.serde.ProtoWire).
    ProtoWire.messages.flatMap { m => Seq(
      fn(s"proto_encode_${m.name}")(e => ProtoEncode(m, e)),
      fn(s"proto_decode_${m.name}") {
        case Seq(bytes) => ProtoDecode(m, bytes)
        case e => throw new IllegalArgumentException(
          s"proto_decode_${m.name} expects (bytes), got ${e.size} args")
      })
    }

  /** Register every entry of [[functions]] that `spark`'s registry lacks —
    * the fallback for a session created without
    * [[graft.plans.GraftExtensions]]. Idempotent, and it brings back an
    * entry that was dropped from the registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
