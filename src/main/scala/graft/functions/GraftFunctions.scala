package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import graft.plans.DotProduct
import graft.serde._

/** Registration of graft's native Catalyst expressions as SQL functions —
  * the public entry points go through `call_function`, which resolves
  * against the session registry (the supported route to a custom
  * `Expression` without touching private Column constructors). */
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

  /** Idempotently register graft's native functions on a session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"))) {
      registry.createOrReplaceTempFunction(
        "vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "vec_dist2", exprs => graft.plans.L2Dist2(exprs(0), exprs(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "sorted_intersect_count",
        exprs => graft.plans.SortedIntersectCount(exprs(0), exprs(1)), "built-in")
      // Morton code for multi-dimensional sort-clustering (data layout).
      registry.createOrReplaceTempFunction(
        "zorder2", exprs => graft.plans.ZOrderLong(exprs(0), exprs(1)), "built-in")
      // Generator rung of the extension ladder: in-row pair expansion.
      registry.createOrReplaceTempFunction(
        "pair_combs", exprs => graft.plans.PairCombinations(exprs(0)), "built-in")
      // Tokenizer hot loops as native expressions (replacing interpreted
      // aggregate() HOF folds — graft.plans.TokenizerFolds).
      registry.createOrReplaceTempFunction(
        "greedy_segment",
        exprs => graft.plans.TokenizerFolds.GreedySegment(exprs), "built-in")
      registry.createOrReplaceTempFunction(
        "bpe_merge_fold",
        exprs => graft.plans.TokenizerFolds.BpeMergeFold(exprs(0), exprs(1), exprs(2)),
        "built-in")
      // Distinct word n-gram shingles in one token pass (the projection
      // fronting every dedup signing / corpus n-gram scan).
      registry.createOrReplaceTempFunction("word_shingles", {
        case Seq(child, n) =>
          graft.plans.WordShingles(child, intLiteral("word_shingles", "n", n))
        case e => throw new IllegalArgumentException(
          s"word_shingles expects (tokens, n literal), got ${e.size} args")
      }, "built-in")
      // MinHash signing hot loop (k keyed md5 minima in one shingle pass).
      registry.createOrReplaceTempFunction("minhash_sig", {
        case Seq(child, k) =>
          graft.plans.MinhashSig(child, intLiteral("minhash_sig", "k", k))
        case e => throw new IllegalArgumentException(
          s"minhash_sig expects (shingles, k literal), got ${e.size} args")
      }, "built-in")
      // Quality/language feature counts in one byte pass each (replacing
      // the per-row java.util.regex scans — graft.plans.TextFeatureCounts).
      registry.createOrReplaceTempFunction("ws_token_count",
        e => graft.plans.TextFeatureCounts.WsTokenCount(e(0)), "built-in")
      registry.createOrReplaceTempFunction("punct_count",
        e => graft.plans.TextFeatureCounts.PunctCount(e(0)), "built-in")
      registry.createOrReplaceTempFunction("marker_count", {
        case Seq(child, w) =>
          graft.plans.TextFeatureCounts.MarkerCount(child,
            stringLiteral("marker_count", "words", w).split('|').toSeq)
        case e => throw new IllegalArgumentException(
          s"marker_count expects (text, words literal), got ${e.size} args")
      }, "built-in")
      registry.createOrReplaceTempFunction("ascii_count", {
        case Seq(child, w) =>
          graft.plans.TextFeatureCounts.AsciiCount(child,
            stringLiteral("ascii_count", "chars", w))
        case e => throw new IllegalArgumentException(
          s"ascii_count expects (text, chars literal), got ${e.size} args")
      }, "built-in")
      spark.udf.register("balance_stats",
        org.apache.spark.sql.functions.udaf(BalanceStatsAgg))
      // O12 wire serde — the reference's five protobuf message types as
      // codegen'd encode/decode expressions (graft.serde.ProtoWire).
      registry.createOrReplaceTempFunction(
        "proto_encode_deposit", e => ProtoEncodeDeposit(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "proto_decode_deposit", e => ProtoDecodeDeposit(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "proto_encode_history", e => ProtoEncodeHistory(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "proto_decode_history", e => ProtoDecodeHistory(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "proto_encode_counter", e => ProtoEncodeCounter(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "proto_decode_counter", e => ProtoDecodeCounter(e(0)), "built-in")
      registry.createOrReplaceTempFunction("proto_encode_flag_event",
        e => ProtoEncodeBoolInt64(e(0), e(1), "proto_encode_flag_event"), "built-in")
      registry.createOrReplaceTempFunction("proto_decode_flag_event",
        e => ProtoDecodeBoolInt64(e(0), ProtoSchemas.flagEvent, "proto_decode_flag_event"), "built-in")
      registry.createOrReplaceTempFunction("proto_encode_flag_value",
        e => ProtoEncodeBoolInt64(e(0), e(1), "proto_encode_flag_value"), "built-in")
      registry.createOrReplaceTempFunction("proto_decode_flag_value",
        e => ProtoDecodeBoolInt64(e(0), ProtoSchemas.flagValue, "proto_decode_flag_value"), "built-in")
      // Mergeable KMV theta sketch (SURVEY §7.3 escalation): first-class
      // sketch values + set algebra (union/intersection) across tables.
      registry.createOrReplaceTempFunction("theta_sketch", {
        case Seq(child) => ThetaSketchAgg(child)
        case Seq(child, k) => ThetaSketchAgg(child, intLiteral("theta_sketch", "k", k))
        case e => throw new IllegalArgumentException(
          s"theta_sketch expects (key[, k literal]), got ${e.size} args")
      }, "built-in")
      // Explicit Bloom-filter semi-join reduction (build + probe).
      registry.createOrReplaceTempFunction("bloom_agg", {
        case Seq(child, m, k) =>
          BloomAgg(child, intLiteral("bloom_agg", "numBits", m),
            intLiteral("bloom_agg", "k", k))
        case e => throw new IllegalArgumentException(
          s"bloom_agg expects (key, numBits literal, k literal), got ${e.size} args")
      }, "built-in")
      registry.createOrReplaceTempFunction(
        "bloom_might_contain", e => BloomMightContain(e(0), e(1)), "built-in")
      // Mergeable HLL sketch — fixed 2^p-byte registers, register-wise-max
      // merge; hash derivation defined on md5 hex so the DuckDB oracle
      // replays the estimate BY VALUE (see HllSketch scaladoc).
      registry.createOrReplaceTempFunction(
        "hll_md5_sketch", {
          case Seq(child) => HllSketchAgg(child)
          case e => throw new IllegalArgumentException(
            s"hll_md5_sketch expects exactly (key) — only p = ${HllSketch.P} " +
              s"is wired (oracle-replayable split); got ${e.size} args")
        }, "built-in")
      registry.createOrReplaceTempFunction(
        "hll_md5_merge_agg", e => HllMergeAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "hll_md5_union", e => HllUnion(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "hll_md5_estimate", e => HllEstimate(e(0)), "built-in")
      // Count-min sketch — mergeable frequency grid; md5-chunk bucket
      // derivation, all-integer oracle replay (see CountMinSketch).
      registry.createOrReplaceTempFunction(
        "cms_sketch", e => CmsSketchAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "cms_merge_agg", e => CmsMergeAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "cms_estimate", e => CmsEstimate(e(0), e(1)), "built-in")
      // Quantile sketch — mergeable HDR-style integer log grid; bucket
      // assignment and rank selection are all-integer, replayed by value
      // in DuckDB (see QuantileSketch).
      registry.createOrReplaceTempFunction(
        "qsk_sketch", e => QskSketchAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "qsk_merge_agg", e => QskMergeAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "qsk_quantile", e => QskQuantile(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "qsk_n", e => QskN(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "theta_union_agg", e => ThetaUnionAgg(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "theta_estimate", e => ThetaEstimate(e(0)), "built-in")
      registry.createOrReplaceTempFunction(
        "theta_union", e => ThetaUnion(e(0), e(1)), "built-in")
      registry.createOrReplaceTempFunction(
        "theta_intersect_estimate", e => ThetaIntersectEstimate(e(0), e(1)), "built-in")
    }
  }
}
