package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.core.WordCount

/** The reference mapper's per-line work in ONE byte pass: `getWord` →
  * `normalizeWord` → `strlen` cap (`mpi_mapreduce.c:119-161,208-211`).
  * A line maps to the array of its surviving words.
  *
  * Equal, byte for byte, to the staged [[ByteSplit]] → [[NormalizeWord]]
  * → `0 < octet_length <= WordCount.WordLength` (WordTokensSpec). The
  * staged form costs more than its three kernels suggest: the optimizer
  * copies the projected `normalize_word(tok)` into the length filter
  * pushed beneath it, so every surviving token is normalized three times.
  * Here the line's bytes are copied and lowercased once, split on 0x20,
  * and each token is trimmed by the shared strip rule ([[LineWords]]);
  * the words are views into that one per-line array, with no per-token
  * copy. Word count itself runs [[WordCounts]], which counts the same
  * words in place; this kernel serves queries that need a row per
  * (line, word), such as `wc_doc_tokens`.
  */
case class WordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_tokens requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_tokens"

  override protected def nullSafeEval(input: Any): Any =
    WordTokensImpl.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordTokensImpl.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object WordTokens {
  /** Column-level helper (same Bridge pattern as [[ByteSplit.split]]). */
  def of(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(WordTokens(Bridge.expression(c)))
  }
}

/** Static kernel for interpreted eval and generated Java. */
object WordTokensImpl {
  def tokens(s: UTF8String): ArrayData = {
    val words = new LineWords
    // a fresh array per line: the emitted words are views into it
    val out = new Array[AnyRef](words.load(s, new Array[Byte](s.numBytes)) + 1)
    var k = 0
    while (words.next()) {
      out(k) = UTF8String.fromBytes(words.bytes, words.from, words.until - words.from)
      k += 1
    }
    new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }
}

/** The mapper's per-line byte pass, shared by [[WordTokensImpl]] and
  * [[WordCountsImpl]] so both apply one rule. [[load]] copies a line
  * into a buffer and lowercases ASCII A–Z there; each [[next]] then
  * splits off the next 0x20-separated token, trims it by the
  * [[NormalizeWordImpl]] strip rule and skips it unless
  * 0 < bytes ≤ `WordCount.WordLength`.
  */
final class LineWords {
  private var line: Array[Byte] = Array.emptyByteArray
  private var n = 0
  private var pos = 0

  /** The current word is `bytes[from, until)`, after [[next]] returned true. */
  var from = 0
  var until = 0
  def bytes: Array[Byte] = line

  /** Loads `s` into `buf`, which must hold `s.numBytes` bytes; `s` is not
    * mutated. Returns the number of 0x20 bytes: at most one more word
    * than that follows.
    */
  def load(s: UTF8String, buf: Array[Byte]): Int = {
    n = s.numBytes
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    var spaces = 0
    var i = 0
    while (i < n) {
      val b = buf(i)
      if (b == ' ') spaces += 1 else buf(i) = NormalizeWordImpl.lower(b)
      i += 1
    }
    line = buf
    pos = 0
    spaces
  }

  def next(): Boolean = {
    while (pos <= n) {
      val start = pos
      var end = start
      while (end < n && line(end) != ' ') end += 1
      pos = end + 1
      val lo = NormalizeWordImpl.firstLetter(line, Platform.BYTE_ARRAY_OFFSET, start, end)
      if (lo == end) { from = start; until = end }
      else { from = lo; until = NormalizeWordImpl.pastLastLetter(line, Platform.BYTE_ARRAY_OFFSET, end) }
      val len = until - from
      if (len > 0 && len <= WordCount.WordLength) return true
    }
    false
  }
}
