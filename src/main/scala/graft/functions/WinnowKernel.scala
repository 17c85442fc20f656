package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing gram hashes in ONE pass over the text bytes.
  *
  * Replaces the staged builtin form
  * {{{
  * transform(word_shingles(text),
  *   g => conv(substring(md5(concat('graft-wn|', g)), 1, 8), 16, 10)
  *          .cast(long))
  * }}}
  * which, per gram, allocates the gram UTF8String (word_shingles), the
  * prefixed concat copy, the 32-char md5 hex string, the 8-char
  * substring, and then PARSES the hex back to a long through conv's
  * radix string machinery. The digest input bytes are identical here —
  * "graft-wn|" + the gram's single-space-joined tokens — and the value
  * is the first 4 digest bytes as an unsigned 32-bit integer, which is
  * exactly what conv(substring(hex, 1, 8), 16, 10) parses, so the
  * output longs are bit-identical (WinnowKernelSpec fuzz-checks against
  * the staged form). Token rules are [[WordShinglesImpl]]'s verbatim:
  * 3-gram windows over non-empty space-separated tokens, <3 tokens →
  * one whole-join gram ("" for empty text).
  */
case class WinnowHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_hashes requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKernelImpl.hashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowKernelImpl.hashes($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

object WinnowHashes {
  def of(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(WinnowHashes(Bridge.expression(c)))
  }
}

/** Rightmost-minimum winnowing selection over a gram-hash array —
  * the positions (1-based, distinct, ascending) each width-`window`
  * window's rightmost minimal hash occupies.
  *
  * Replaces the staged builtin form
  * {{{
  * array_sort(array_distinct(transform(
  *   sequence(1, greatest(nh - (w-1), 1)),
  *   j => { e = least(j + w - 1, nh)
  *          e + 1 - array_position(reverse(slice(hs, j, e - j + 1)),
  *                                 array_min(slice(hs, j, e - j + 1))) })))
  * }}}
  * which allocates TWO array copies (slice, reverse) per window. The
  * selection here scans each window in place; the rightmost-min
  * position is non-decreasing as the window slides (a surviving
  * minimum only moves right on ties, a dropped one is replaced from
  * the right), so consecutive-duplicate suppression yields exactly the
  * distinct ascending list array_sort∘array_distinct produced.
  * Docs shorter than one window select from the single truncated
  * window, matching the least()-capped builtin. Bit-equality with the
  * staged form is fuzz-checked in WinnowKernelSpec.
  *
  * An input type that can hold null elements is rejected at analysis:
  * the loop reads every element as a long, and its only consumer feeds
  * [[WinnowHashes]]' null-free arrays.
  */
case class WinnowSelect(child: Expression, window: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "winnow_select requires array<bigint> without null elements " +
        "(containsNull = false), such as winnow_hashes' output")
    case ArrayType(LongType, _) if window > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"winnow_select: window must be positive, got $window")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"winnow_select requires array<bigint>, got ${dt.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_select"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKernelImpl.select(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowKernelImpl.select($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  def of(c: org.apache.spark.sql.Column, window: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(WinnowSelect(Bridge.expression(c), window))
  }
}

/** Static kernels for interpreted eval and generated Java (plain static
  * forwarders for Janino — same pattern as [[MinhashSigImpl]]).
  */
object WinnowKernelImpl {
  private val Prefix = "graft-wn|".getBytes("US-ASCII")

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Gram hashes straight from the text: one boundary scan, one
    * single-space-joined byte buffer, one md5 per gram — no per-gram
    * string allocation beyond the digest call itself.
    */
  def hashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // token [start, end) boundaries — the WordShinglesImpl scan verbatim
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var count = 0
    var i = 0
    var tokStart = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > tokStart) {
          if (count == cap) {
            cap *= 2
            starts = java.util.Arrays.copyOf(starts, cap)
            ends = java.util.Arrays.copyOf(ends, cap)
          }
          starts(count) = tokStart
          ends(count) = i
          count += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    // single-space-joined token stream + per-token offsets into it:
    // gram (from, until) is then ONE contiguous span of `joined`
    var joinedLen = 0
    i = 0
    while (i < count) { joinedLen += ends(i) - starts(i); i += 1 }
    if (count > 1) joinedLen += count - 1
    val joined = new Array[Byte](joinedLen)
    val jStarts = new Array[Int](count + 1)
    var pos = 0
    i = 0
    while (i < count) {
      if (i > 0) { joined(pos) = ' '; pos += 1 }
      jStarts(i) = pos
      val tl = ends(i) - starts(i)
      System.arraycopy(bytes, starts(i), joined, pos, tl)
      pos += tl
      i += 1
    }
    jStarts(count) = pos + 1 // sentinel: start of the would-be next token
    val digest = md.get()
    def hashSpan(from: Int, until: Int): Long = {
      digest.reset()
      digest.update(Prefix)
      digest.update(joined, from, until - from)
      val d = digest.digest()
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    if (count < 3) {
      // one whole-join gram (word_shingles' <3-token rule)
      UnsafeArrayData.fromPrimitiveArray(Array(hashSpan(0, joinedLen)))
    } else {
      val out = new Array[Long](count - 2)
      var g = 0
      while (g < count - 2) {
        // tokens g, g+1, g+2 of the joined stream: contiguous span
        out(g) = hashSpan(jStarts(g), jStarts(g + 3) - 1)
        g += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Rightmost-min positions (1-based) of every width-`w` window,
    * distinct ascending. Window j covers hs[j .. min(j+w-1, n)] for
    * j = 1 .. max(n-w+1, 1) — the truncated single window for short
    * inputs mirrors the builtin's least() cap.
    */
  def select(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val upper = math.max(n - w + 1, 1)
    val out = new Array[Long](upper)
    var m = 0
    var prev = -1L
    var j = 1
    while (j <= upper) {
      val e = math.min(j + w - 1, n)
      var minIdx = j - 1
      var minVal = hs.getLong(j - 1)
      var k = j
      while (k < e) {
        val v = hs.getLong(k)
        if (v <= minVal) { minVal = v; minIdx = k } // <=: rightmost tie
        k += 1
      }
      val p = minIdx + 1L
      if (p != prev) { out(m) = p; m += 1; prev = p }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }
}
