package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float>` embedding columns —
  * higher-order functions only (codegen'd), no UDFs. Inputs are widened to
  * double before any arithmetic and folds run left-to-right, so results are
  * bit-reproducible across engines (DuckDB computes the same sums over
  * `DOUBLE[]`).
  */
object VectorFunctions {

  /** Widen an array<float> column to array<double>. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product of two equal-length double arrays — resolves to the native
    * codegen'd [[graft.plans.DotProduct]] expression, which every
    * [[graft.GraftSession]] session has ([[graft.plans.GraftExtensions]]).
    * Same left-to-right accumulation as [[dotHof]]. */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Pure higher-order-function dot product (no custom expression) — the
    * portable reference implementation; interpreted, so slower on hot
    * paths. Kept for tests and registry-free callers. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance — native codegen'd [[graft.plans.L2Dist2]];
    * left-to-right accumulation, the k-means assignment kernel. */
  def dist2(a: Column, b: Column): Column =
    call_function("vec_dist2", a, b)

  /** L2 norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity (no zero-vector guard — embeddings are non-zero). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Sign-bit LSH bucket over the first `bits` dimensions: axis-aligned
    * random-hyperplane hashing. At 100 TB this is the shuffle key that
    * turns an all-pairs O(n²) search into per-bucket local search. */
  def signBucket(v: Column, bits: Int = 8): Column =
    concat_ws("", (1 to bits).map(i =>
      when(element_at(v, i) >= 0, "1").otherwise("0")): _*)
}
