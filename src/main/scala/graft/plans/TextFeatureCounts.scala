package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass counts for the corpus quality/language features —
  * the expression-rung replacements for the three java.util.regex scans
  * that front every quality-gate query (round-17 optimization, guide §4:
  * regexp_count / split+size walk the text through the regex engine per
  * row; each of these is one branchy byte loop instead). Semantics are
  * pinned ≡ the regex formulations by TextFeatureCountsSpec; the DuckDB
  * oracle keeps the regex SQL, so every consumer query stays
  * oracle-checked end to end.
  *
  * All four: NULL input → NULL (the session runs ANSI mode, where
  * size(split(...)) and regexp_count propagate NULL the same way).
  */
object TextFeatureCounts {

  /** The frame every counter shares: a string in, a long out, and the
    * string's UTF-8 bytes handed to [[count]] as (base, offset, length),
    * read with `Platform.getByte`. A counter writes only its own loop. */
  abstract class ByteScanCount extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType

    /** The string the scan reads; the input itself unless overridden. */
    protected def scanned(s: UTF8String): UTF8String = s

    protected def count(base: AnyRef, off: Long, n: Int): Long

    override def nullSafeEval(input: Any): Any = {
      val s = scanned(input.asInstanceOf[UTF8String])
      count(s.getBaseObject, s.getBaseOffset, s.numBytes())
    }
  }

  /** Java-regex \s is exactly these six ASCII chars (no Unicode flags). */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** Java-regex \w is exactly ASCII [a-zA-Z0-9_] (no Unicode flags). */
  @inline private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** ≡ size(split(trim(text), "\\s+")).cast("long").
    *
    * trim() strips 0x20 only (UTF8String.trim). Pattern.split with
    * limit = -1 (what StringSplit passes) yields one segment per
    * separator-run boundary, KEEPING the leading empty segment when the
    * string starts with \s and the trailing one when it ends with \s —
    * so the count is (number of maximal \s-runs) + 1, and the empty
    * string splits to [""] (count 1). The \s chars are all single-byte
    * ASCII and UTF-8 multi-byte sequences contain no ASCII bytes, so a
    * byte scan is exact.
    */
  case class WsTokenCount(child: Expression) extends ByteScanCount {
    override protected def scanned(s: UTF8String): UTF8String = s.trim()

    override protected def count(base: AnyRef, off: Long, n: Int): Long = {
      if (n == 0) return 1L
      var i = 0
      var runs = 0L
      var inWs = false
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        val ws = isWs(b)
        if (ws && !inWs) runs += 1
        inWs = ws
        i += 1
      }
      runs + 1
    }

    override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
      copy(child = newChild)
    override def prettyName: String = "ws_token_count"
  }

  /** ≡ regexp_count(text, "[^a-zA-Z0-9\\s]").cast("long"): the number of
    * CODE POINTS outside ASCII [a-zA-Z0-9] ∪ \s. Java regex matches a
    * negated class once per code point, so each non-ASCII code point
    * (however many bytes) counts exactly once — the scan steps by UTF-8
    * sequence length for bytes ≥ 0x80. */
  case class PunctCount(child: Expression) extends ByteScanCount {
    override protected def count(base: AnyRef, off: Long, n: Int): Long = {
      var i = 0
      var cnt = 0L
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b >= 0) { // ASCII
          if (!isWs(b) && !((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
              (b >= '0' && b <= '9'))) cnt += 1
          i += 1
        } else { // one non-ASCII code point: always outside the class
          cnt += 1
          i += UTF8String.numBytesForFirstByte(b)
        }
      }
      cnt
    }

    override protected def withNewChildInternal(newChild: Expression): PunctCount =
      copy(child = newChild)
    override def prettyName: String = "punct_count"
  }

  /** Count of code points in a fixed ASCII set ≡
    * `length(text) - length(regexp_replace(text, "[chars]", ""))` (and
    * ≡ `length(regexp_replace(text, "[^chars]", ""))`): length() counts
    * code points, the replace removes exactly the set members, and ASCII
    * bytes never occur inside UTF-8 multi-byte sequences, so a byte scan
    * is exact. */
  case class AsciiCount(child: Expression, chars: String) extends ByteScanCount {
    require(chars.nonEmpty && chars.forall(_ < 0x80),
      s"ascii_count set must be non-empty ASCII, got '$chars'")
    private val member = {
      val m = new Array[Boolean](128)
      chars.foreach(c => m(c) = true)
      m
    }

    override protected def count(base: AnyRef, off: Long, n: Int): Long = {
      var i = 0
      var cnt = 0L
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b >= 0 && member(b)) cnt += 1
        i += 1
      }
      cnt
    }

    override protected def withNewChildInternal(newChild: Expression): AsciiCount =
      copy(child = newChild)
    override def prettyName: String = "ascii_count"
  }

  /** ≡ regexp_count(text, "\\b(w1|…|wk)\\b").cast("long") for a fixed
    * alternation of \w-only words: because every alternative is a full
    * \w run between boundaries, a match is exactly a MAXIMAL
    * [a-zA-Z0-9_]-run equal to one of the words (a shorter alternative
    * cannot match inside a longer run — the closing \b fails), and
    * matches cannot overlap. Callers pass the text the pattern is
    * applied to (the langScore path lowercases first, same as the regex
    * form). Non-ASCII bytes are non-word under Java's ASCII-only \w, so
    * a byte scan is exact. */
  case class MarkerCount(child: Expression, words: Seq[String]) extends ByteScanCount {
    require(words.nonEmpty && words.forall(w =>
      w.nonEmpty && w.getBytes("UTF-8").forall(isWord)),
      s"marker_count words must be non-empty \\w-only strings, got $words")

    // Group target words by length for O(1) length filtering per run.
    private val byLen: Map[Int, Array[Array[Byte]]] =
      words.map(_.getBytes("UTF-8")).groupBy(_.length)
        .map { case (l, ws) => l -> ws.toArray }
    private val maxLen = byLen.keys.max

    override protected def count(base: AnyRef, off: Long, n: Int): Long = {
      var i = 0
      var cnt = 0L
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (isWord(b)) {
          val start = i
          i += 1
          while (i < n && isWord(Platform.getByte(base, off + i))) i += 1
          val len = i - start
          if (len <= maxLen) byLen.get(len) match {
            case Some(cands) =>
              var c = 0
              var matched = false
              while (!matched && c < cands.length) {
                val w = cands(c)
                var j = 0
                while (j < len && w(j) == Platform.getByte(base, off + start + j)) j += 1
                matched = j == len
                c += 1
              }
              if (matched) cnt += 1
            case None => ()
          }
        } else i += 1
      }
      cnt
    }

    override protected def withNewChildInternal(newChild: Expression): MarkerCount =
      copy(child = newChild)
    override def prettyName: String = "marker_count"
  }
}
