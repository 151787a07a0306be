package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One mergeable sketch family over a mutable buffer `B`: HLL
  * ([[HllSketch]]), KMV theta ([[ThetaSketch]]), count-min
  * ([[CountMinSketch]]), quantile ([[QuantileSketch]]) and Bloom
  * ([[Bloom]]). A family says how a key enters the buffer, how two buffers
  * merge and how a buffer goes to and from its binary wire value;
  * [[SketchAgg]] is the one aggregate that drives any of them, and the
  * family's scalar expressions read their inputs through the same checked
  * [[decode]].
  *
  * Families are case objects or case classes: plans ship them to executors,
  * and two aggregates over equal families are equal, so Catalyst dedups
  * them. */
abstract class Sketch[B] extends Serializable {

  /** What a key value becomes before it enters the buffer. */
  type Key

  /** SQL name of the build aggregate; decode errors name a family by it. */
  def name: String

  /** SQL name of the merge (rollup) aggregate; a family without one
    * (Bloom) keeps its build name. */
  def mergeName: String = name

  /** Whether string keys are accepted besides integral ones. */
  def stringKeys: Boolean = true

  /** How a value of a key column of type `dt` becomes a [[Key]]: one of
    * the forms of [[SketchKeys]]. */
  def key(dt: DataType): Any => Key

  /** Buffer a build aggregate starts from. */
  def empty: B

  /** Buffer a merge aggregate starts from: merging any sketch into it
    * yields that sketch. Defaults to [[empty]]. */
  def identity: B = empty

  def add(b: B, key: Key): Unit

  /** Fold `o` into `b`. */
  def merge(b: B, o: B): Unit

  /** Wire form of a partial buffer, read back by [[decode]]. */
  def partial(b: B): Array[Byte]

  /** Wire form of a finished sketch. Defaults to [[partial]]. */
  def result(b: B): Array[Byte] = partial(b)

  /** A fresh buffer holding a wire value of this family; any other layout
    * throws an `IllegalArgumentException` naming `fn`, the caller. */
  def decode(bytes: Array[Byte], fn: String): B

  /** The guard every [[decode]] runs its layout checks through. */
  protected def check(ok: Boolean, fn: String, detail: => String): Unit =
    if (!ok) throw new IllegalArgumentException(s"$fn: not a $name value ($detail)")
}

/** The one integral-or-string key check and the two key forms sketches
  * hash: the DuckDB `CAST(key AS VARCHAR)` string (HLL, count-min: their
  * oracles replay md5 of it) and the splitmix64/FNV-1a long (theta, Bloom). */
object SketchKeys {

  def check(fn: String, dt: DataType, strings: Boolean = true): TypeCheckResult = dt match {
    case LongType | IntegerType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
    case StringType if strings => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn requires an integral ${if (strings) "or string key" else "value"}, got $other")
  }

  /** An integral key widened to long. */
  def integral(dt: DataType): Any => Long = dt match {
    case LongType    => v => v.asInstanceOf[Long]
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case ShortType   => v => v.asInstanceOf[Short].toLong
    case ByteType    => v => v.asInstanceOf[Byte].toLong
    case other => throw new IllegalStateException(s"not an integral key type: $other")
  }

  /** Canonical string form — must equal DuckDB `CAST(x AS VARCHAR)`. */
  def varchar(dt: DataType): Any => String = dt match {
    case StringType => v => v.asInstanceOf[UTF8String].toString
    case _ => val l = integral(dt); v => String.valueOf(l(v))
  }

  /** Hashed form: FNV-1a of a string's UTF-8 bytes, splitmix64 of an
    * integral value. */
  def hashed(dt: DataType): Any => Long = dt match {
    case StringType => v => hashBytes(v.asInstanceOf[UTF8String].getBytes)
    case _ => val l = integral(dt); v => hashLong(l(v))
  }

  /** Java source computing [[hashed]] of the generated-code value `v`. */
  def hashedCode(dt: DataType, v: String): String = dt match {
    case StringType => s"graft.functions.SketchKeys.hashBytes($v.getBytes())"
    case _ => s"graft.functions.SketchKeys.hashLong((long) $v)"
  }

  /** splitmix64 finalizer — deterministic avalanche hash for integral keys. */
  def hashLong(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 then finalize — deterministic hash for string keys. */
  def hashBytes(b: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFFL)) * 0x100000001B3L; i += 1 }
    hashLong(h)
  }

  /** md5 is cheap but MessageDigest is stateful — one per thread. */
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** md5 digest of a varchar key's UTF-8 bytes. */
  def md5(key: String): Array[Byte] =
    mdLocal.get().digest(key.getBytes(StandardCharsets.UTF_8))
}

/** The one sketch aggregate. Build mode folds each non-null key of `child`
  * into `family.empty`; merge mode (`merging`) folds each non-null stored
  * sketch value into `family.identity` — the rollup path, which never
  * rescans raw data. Map-side partials fold each partition into one buffer,
  * so only sketches cross the shuffle. */
case class SketchAgg[B](family: Sketch[B], child: Expression, merging: Boolean = false,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = if (merging) family.mergeName else family.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (!merging) SketchKeys.check(prettyName, child.dataType, family.stringKeys)
    else if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch column")

  private lazy val key = family.key(child.dataType)

  override def createAggregationBuffer(): B = if (merging) family.identity else family.empty

  override def update(buffer: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) {
      if (merging) family.merge(buffer, family.decode(v.asInstanceOf[Array[Byte]], prettyName))
      else family.add(buffer, key(v))
    }
    buffer
  }

  override def merge(buffer: B, input: B): B = { family.merge(buffer, input); buffer }
  override def eval(buffer: B): Any = family.result(buffer)
  override def serialize(buffer: B): Array[Byte] = family.partial(buffer)
  override def deserialize(bytes: Array[Byte]): B = family.decode(bytes, prettyName)

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}
