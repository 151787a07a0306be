package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Mergeable HyperLogLog sketch — the fixed-size counterpart to the KMV
  * theta sketch ([[ThetaSketch]]): 2^p one-byte registers regardless of
  * cardinality (4 KiB at the default p = 12, vs theta's 32 KiB), register-
  * wise-max merge, relative standard error ≈ 1.04/√m (~1.6 % at p = 12).
  * Theta keeps set *intersection* algebra; HLL wins on sketch size and
  * unbounded-cardinality stability — both are first-class binary values
  * that can be stored per partition/day and rolled up without rescanning.
  *
  * What makes this implementation different from `approx_count_distinct`
  * (Spark's internal HLL++) and from the theta oracle pattern: the hash
  * derivation is defined on the *md5 hex string* of the key's canonical
  * string form, so a SQL engine with `md5()` and string ops replays the
  * ENTIRE sketch — registers, max-rho, harmonic sum, estimate — and the
  * driver oracle compares the estimate by value, not by tolerance boolean.
  *
  * Derivation (shared with the DuckDB replay in SketchQueries):
  *  - `h` = lowercase md5 hex (32 chars) of `CAST(key AS VARCHAR)` bytes;
  *  - register = hex chars [1..3] = the first p = 12 bits;
  *  - suffix = hex chars [4..16] = the next 52 bits;
  *  - rho = (leading zero bits of suffix) + 1, i.e. 53 when all-zero.
  * Estimator: standard HLL with the linear-counting small-range branch.
  * The harmonic sum Σ 2^(53−Mj) over all m registers is an exact integer
  * (every term is a power of two with exponent in [0, 53]), accumulated in
  * BigInteger here and HUGEINT in the oracle, so both engines derive the
  * same double before the single rounded division — no float-order noise.
  *
  * At 100 TB: partial aggregation folds each input partition into one 4 KiB
  * buffer map-side; only sketches cross the shuffle, and rollups
  * (`hll_md5_merge_agg` over stored sketches) never rescan raw data.
  *
  * Only p = 12 is wired: a different p would change the register split and
  * have no oracle, so `hll_md5_sketch` takes no p argument.
  *
  * Reference scope note: the reference engine (depositaja) has no sketch
  * surface; this is part of the §2.2 extended analytics checklist.
  */
case object HllSketch extends Sketch[HllBuffer] {
  val P = 12
  val M: Int = 1 << P

  def name: String = "hll_md5_sketch"
  override def mergeName: String = "hll_md5_merge_agg"
  type Key = String
  def key(dt: DataType): Any => String = SketchKeys.varchar(dt)

  def alphaFor(m: Int): Double = 0.7213 / (1.0 + 1.079 / m.toDouble)

  /** (register, rho) for p = 12 — byte-level equivalent of the hex-char
    * derivation above (hex char i is nibble i of the digest, high first). */
  def registerAndRho(key: String): (Int, Int) = {
    val d = SketchKeys.md5(key)
    val reg = ((d(0) & 0xFF) << 4) | ((d(1) & 0xFF) >>> 4)
    var sfx = (d(1) & 0x0FL)
    var i = 2
    while (i < 8) { sfx = (sfx << 8) | (d(i) & 0xFFL); i += 1 }
    // sfx holds 52 bits in the long's low bits: leading zeros within the
    // suffix = nlz(sfx) - 12; rho is that + 1.
    val rho = if (sfx == 0L) 53 else java.lang.Long.numberOfLeadingZeros(sfx) - 11
    (reg, rho)
  }

  /** Standard HLL estimate from a register array (any power-of-two m). */
  def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var v = 0
    var s = java.math.BigInteger.ZERO
    var i = 0
    while (i < m) {
      val mj = regs(i) & 0xFF
      if (mj == 0) v += 1
      s = s.add(java.math.BigInteger.ONE.shiftLeft(53 - mj))
      i += 1
    }
    val sd = s.doubleValue()
    val mD = m.toDouble
    // Multiplications by 4096.0/2^53 are exact power-of-two scalings; the
    // only rounded float ops are alpha itself and the final division —
    // both computed with the identical expression tree in the oracle SQL.
    val eRaw = alphaFor(m) * mD * mD * 9007199254740992.0 / sd
    if (eRaw <= 2.5 * mD && v > 0) mD * math.log(mD / v) else eRaw
  }

  def empty: HllBuffer = new HllBuffer(new Array[Byte](M))
  // No width adopted yet: the first merged sketch fixes m, so a rollup
  // over stored sketches needs no p argument of its own.
  override def identity: HllBuffer = new HllBuffer(null)

  def add(b: HllBuffer, key: String): Unit = {
    val (reg, rho) = registerAndRho(key)
    if ((b.regs(reg) & 0xFF) < rho) b.regs(reg) = rho.toByte
  }

  def merge(b: HllBuffer, o: HllBuffer): Unit =
    if (o.regs != null) {
      if (b.regs == null) b.regs = o.regs.clone()
      else {
        require(b.regs.length == o.regs.length,
          s"hll merge: register counts differ (${b.regs.length} vs ${o.regs.length})")
        var i = 0
        while (i < b.regs.length) {
          if ((o.regs(i) & 0xFF) > (b.regs(i) & 0xFF)) b.regs(i) = o.regs(i)
          i += 1
        }
      }
    }

  /** Wire format: 1 byte p, then the 2^p registers; an identity partial
    * (no width adopted) is the empty array. */
  def partial(b: HllBuffer): Array[Byte] =
    if (b.regs == null) Array.emptyByteArray else result(b)

  override def result(b: HllBuffer): Array[Byte] = {
    val r = if (b.regs != null) b.regs else new Array[Byte](M)
    val out = new Array[Byte](1 + r.length)
    out(0) = java.lang.Integer.numberOfTrailingZeros(r.length).toByte
    System.arraycopy(r, 0, out, 1, r.length)
    out
  }

  def decode(bytes: Array[Byte], fn: String): HllBuffer =
    if (bytes.length == 0) identity
    else {
      val p = bytes(0)
      check(p >= 0 && p < 31 && bytes.length - 1 == (1 << p), fn,
        s"${bytes.length - 1} registers under header p = $p")
      new HllBuffer(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
    }
}

/** Mutable register buffer. `regs == null` is the merge aggregate's
  * identity: no register width adopted yet. */
final class HllBuffer(var regs: Array[Byte])

/** `hll_md5_union(a, b)`: register-wise max of two sketch values. */
case class HllUnion(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two binary sketches")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_md5_union"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val buf = HllSketch.decode(a.asInstanceOf[Array[Byte]], prettyName)
    HllSketch.merge(buf, HllSketch.decode(b.asInstanceOf[Array[Byte]], prettyName))
    HllSketch.result(buf)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `hll_md5_estimate(sketch)`: distinct-count estimate (double). */
case class HllEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_md5_estimate"

  override def nullSafeEval(v: Any): Any = {
    val regs = HllSketch.decode(v.asInstanceOf[Array[Byte]], prettyName).regs
    HllSketch.estimate(if (regs != null) regs else new Array[Byte](HllSketch.M))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
