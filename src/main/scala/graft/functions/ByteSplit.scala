package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference engine's `getWord` tokenizer (`mpi_mapreduce.c:119-131`)
  * as a native Catalyst expression: split on every 0x20 BYTE, keeping
  * empty tokens from runs of spaces (dropped downstream by the
  * `octet_length > 0` filter, as the C drops them at insert).
  *
  * Why not the built-in `split(value, " ", -1)`: `StringSplit` routes
  * through `java.util.regex` on a DECODED JVM String, which replaces
  * every invalid-UTF-8 byte with U+FFFD — breaking the raw-byte fidelity
  * the rest of the pipeline preserves (the line source,
  * [[graft.sources.Lines]], stores raw file bytes as `spark.read.text`
  * does; [[NormalizeWord]] walks raw bytes; see EncodingFidelitySpec).
  * A single byte scan is also cheaper than regex splitting in the
  * word-count hot path. Splitting on 0x20 is decode-agnostic for valid
  * UTF-8 too: 0x20 never occurs inside a multi-byte sequence (all
  * continuation bytes are ≥ 0x80), so this is bit-identical to the
  * built-in on well-formed corpora (asserted in ByteSplitSpec).
  */
case class ByteSplit(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_split requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "byte_split"

  override protected def nullSafeEval(input: Any): Any =
    ByteSplitImpl.split(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteSplitImpl.split($c)")

  override protected def withNewChildInternal(newChild: Expression): ByteSplit =
    copy(child = newChild)
}

object ByteSplit {
  /** Column-level helper so every module tokenizes through the same
    * expression (WordCount, Dedup shingles, TextAnalysis).
    */
  def split(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(ByteSplit(Bridge.expression(c)))
  }
}

/** Static implementation for both interpreted eval and generated Java —
  * kept OUTSIDE the case-class companion so scalac emits plain static
  * forwarders Janino can call (same pattern as [[NormalizeWordImpl]]).
  */
object ByteSplitImpl {
  def split(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // one counting pass sizes the array exactly (tokens = spaces + 1)
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val out = new Array[AnyRef](spaces + 1)
    var tok = 0
    var start = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') {
        out(tok) = UTF8String.fromBytes(bytes, start, i - start)
        tok += 1
        start = i + 1
      }
      i += 1
    }
    out(tok) = UTF8String.fromBytes(bytes, start, n - start)
    new GenericArrayData(out)
  }
}
