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
  * and each token is trimmed by the shared [[NormalizeWordImpl.strip]]
  * rule; the words are views into that one per-line array, with no
  * per-token copy.
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
    val n = s.numBytes
    // a private copy: lowercasing in place must not touch the input row
    val bytes = new Array[Byte](n)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var spaces = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') spaces += 1 else bytes(i) = NormalizeWordImpl.lower(b)
      i += 1
    }
    val out = new Array[AnyRef](spaces + 1)
    var words = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val w = NormalizeWordImpl.strip(bytes, Platform.BYTE_ARRAY_OFFSET, start, i)
        if (w.numBytes > 0 && w.numBytes <= WordCount.WordLength) {
          out(words) = w
          words += 1
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(if (words == out.length) out else java.util.Arrays.copyOf(out, words))
  }
}
