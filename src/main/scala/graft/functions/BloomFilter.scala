package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Mergeable Bloom filter for semi-join reduction — the runtime-filter
  * pattern made a first-class, storable value (Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` injects one invisibly and
  * only when its heuristics fire; this one is explicit, so a pipeline can
  * build it once, persist it next to a table, and reuse it across jobs).
  *
  * Shape at 100 TB: the filter is built map-side over the DIM side's join
  * keys (each partition folds into one m/8-byte bit array; only bit
  * arrays cross the shuffle, OR-merged), and the fact side is filtered
  * BEFORE its shuffle by a codegen'd membership probe — false-positive
  * rows survive to the exact join, false negatives are impossible, so the
  * join result is exact while the shuffled fact volume shrinks by
  * ~(1 − selectivity).
  *
  * Bits/hashes: standard double hashing (Kirsch–Mitzenmatcher) over the
  * hashed key form the theta sketch also uses ([[SketchKeys.hashed]]);
  * `m` is rounded up to a power of two so the modulo is a mask.
  *
  * `bloom_agg(key, numBits, k)` builds one over a long or string key column
  * (numBits a power of two ≥ 64, see [[Bloom.sizeFor]]; 1 ≤ k ≤ 16);
  * partials OR-merge. It has no merge aggregate of its own.
  *
  * Wire format (`binary`): int32 numBits, int32 k, then numBits/64 int64
  * words.
  */
case class Bloom(numBits: Int, k: Int) extends Sketch[BloomBuffer] {
  require(Bloom.validBits(numBits),
    s"bloom_agg numBits must be a power of two >= 64, got $numBits")
  require(Bloom.validK(k), s"bloom_agg k must be in [1,16], got $k")

  def name: String = "bloom_agg"
  type Key = Long
  def key(dt: DataType): Any => Long = SketchKeys.hashed(dt)

  def empty: BloomBuffer = new BloomBuffer(numBits, k, new Array[Long](numBits / 64))
  def add(b: BloomBuffer, h1: Long): Unit = Bloom.setBits(b.words, numBits, k, h1)

  def merge(b: BloomBuffer, o: BloomBuffer): Unit = {
    var i = 0
    while (i < b.words.length) { b.words(i) |= o.words(i); i += 1 }
  }

  def partial(b: BloomBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * b.words.length)
    bb.putInt(b.numBits).putInt(b.k)
    b.words.foreach(bb.putLong)
    bb.array()
  }

  // The header carries the geometry, so any instance decodes any filter.
  def decode(bytes: Array[Byte], fn: String): BloomBuffer = {
    check(bytes.length >= 8, fn, s"${bytes.length} bytes, shorter than its header")
    val bb = ByteBuffer.wrap(bytes)
    val nb = bb.getInt; val kk = bb.getInt
    check(Bloom.validBits(nb) && Bloom.validK(kk) && bytes.length == 8L + nb / 8, fn,
      s"numBits = $nb, k = $kk in ${bytes.length} bytes")
    val words = new Array[Long](nb / 64)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    new BloomBuffer(nb, kk, words)
  }
}

object Bloom {

  def validBits(numBits: Int): Boolean = numBits >= 64 && (numBits & (numBits - 1)) == 0
  def validK(k: Int): Boolean = k >= 1 && k <= 16

  /** Optimal sizing for `n` expected items at false-positive rate `fpp`,
    * numBits rounded up to a power of two (min 64). */
  def sizeFor(n: Long, fpp: Double): (Int, Int) = {
    val ln2 = math.log(2)
    val mRaw = math.ceil(-n.toDouble * math.log(fpp) / (ln2 * ln2)).toLong
    var m = 64L
    while (m < mRaw && m < (1L << 30)) m <<= 1
    val k = math.max(1, math.round(m.toDouble / n * ln2).toInt)
    (m.toInt, math.min(k, 16))
  }

  private val reader = Bloom(64, 1)

  /** A filter's wire value, checked; its header carries the geometry. */
  def decode(bytes: Array[Byte], fn: String): BloomBuffer = reader.decode(bytes, fn)

  /** Second hash for double hashing — independent finalize, forced odd so
    * successive probes cycle the full power-of-two ring. */
  def hash2(h1: Long): Long = SketchKeys.hashLong(h1 ^ 0x9E3779B97F4A7C15L) | 1L

  def setBits(words: Array[Long], numBits: Int, k: Int, h1: Long): Unit = {
    val mask = numBits - 1
    val h2 = hash2(h1)
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * h2) & mask).toInt
      words(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
  }

  /** Per-row decode + probe — the non-foldable-bloom fallback, also
    * called from generated code. */
  def mightContainBytes(bytes: Array[Byte], h1: Long): Boolean = {
    val b = decode(bytes, "bloom_might_contain")
    mightContain(b.words, b.numBits, b.k, h1)
  }

  /** Membership probe over decoded words (also called from generated code —
    * keep signature primitive-only). */
  def mightContain(words: Array[Long], numBits: Int, k: Int, h1: Long): Boolean = {
    val mask = numBits - 1
    val h2 = hash2(h1)
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * h2) & mask).toInt
      if ((words(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Mutable build buffer: the bit words plus the (numBits, k) geometry. */
final class BloomBuffer(val numBits: Int, val k: Int, val words: Array[Long])

/** `bloom_might_contain(bloom, key)`: membership probe. When the bloom
  * side is foldable (the broadcast-literal pattern: build → one driver
  * row → `lit(bytes)`), the bit words are decoded ONCE and referenced
  * from generated code, so the probe inlines into whole-stage codegen as
  * a k-step masked-index loop over a shared long[] — the hot path a
  * fact-table scan filter needs. A non-foldable bloom column (e.g. probe
  * against per-group filters) decodes per row via the static helper. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires (binary, key)")
    else SketchKeys.check(prettyName, right.dataType)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  /** Decoded-once filter when the bloom expression is foldable. */
  private lazy val staticBloom: Option[BloomBuffer] =
    if (left.foldable) {
      Option(left.eval(null)).map(b => Bloom.decode(b.asInstanceOf[Array[Byte]], prettyName))
    } else None

  private lazy val key = SketchKeys.hashed(right.dataType)

  override def nullSafeEval(bloom: Any, k: Any): Any = {
    val b = staticBloom.getOrElse(Bloom.decode(bloom.asInstanceOf[Array[Byte]], prettyName))
    Bloom.mightContain(b.words, b.numBits, b.k, key(k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bloom, k) => staticBloom match {
      case Some(b) =>
        // Bloom side is a compile-time constant: decoded once at codegen,
        // the long[] referenced directly; the literal child's eval is a
        // free object reference (no per-row decode).
        val words = ctx.addReferenceObj("bloomWords", b.words, "long[]")
        s"${ev.value} = graft.functions.Bloom.mightContain(" +
          s"$words, ${b.numBits}, ${b.k}, ${SketchKeys.hashedCode(right.dataType, k)});"
      case None =>
        s"${ev.value} = graft.functions.Bloom.mightContainBytes(" +
          s"(byte[]) $bloom, ${SketchKeys.hashedCode(right.dataType, k)});"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
