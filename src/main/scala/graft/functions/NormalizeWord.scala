package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference engine's `normalizeWord` (`mpi_mapreduce.c:133-161`) as
  * a native Catalyst expression with whole-stage codegen — byte-exact
  * with the C code, including its signed-char edge: bytes ≥ 0x80 (BOM,
  * smart quotes, any UTF-8 continuation byte) compare negative and are
  * "non-alpha".
  *
  * Semantics: ASCII-lowercase; if at least one [a-z] byte
  * exists, strip leading/trailing non-alpha bytes; an all-non-alpha
  * token (`...`, `1871`) passes through unchanged. Output stays valid
  * UTF-8 whenever the input is: a multi-byte sequence is entirely
  * non-alpha bytes, so end-stripping never cuts one in half.
  *
  * One O(n) pass over the bytes replaces the built-in combo
  * (translate + rlike + regexp_replace = three scans plus regex
  * machinery). Word count itself runs the fused [[WordCounts]] (and
  * `wc_doc_tokens` the fused [[WordTokens]]), which apply the same rule
  * per token; this is their staged twin.
  */
case class NormalizeWord(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_word requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_word"

  override protected def nullSafeEval(input: Any): Any =
    NormalizeWordImpl.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeWordImpl.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeWord =
    copy(child = newChild)
}

/** Static implementation, referenced by both interpreted eval and the
  * generated Java (kept companion-free so scalac emits plain static
  * forwarders Janino can call). [[strip]] is the C rule; [[LineWords]],
  * the line pass of the fused word-count kernels, applies it through
  * the same [[firstLetter]]/[[pastLastLetter]] scans, so the staged and
  * fused paths cannot drift apart.
  */
object NormalizeWordImpl {

  /** The C alpha test (`mpi_mapreduce.c:139-141`) on a byte of either
    * case. Signed: bytes ≥ 0x80 are negative and never letters.
    */
  private def isLetter(b: Byte): Boolean = {
    val l = b | 0x20
    l >= 'a' && l <= 'z'
  }

  /** ASCII-only lowercase (`mpi_mapreduce.c:138`). */
  def lower(b: Byte): Byte = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** Index of the first ASCII letter in `[from, until)` at `base` +
    * `offset`, or `until` when there is none.
    */
  def firstLetter(base: AnyRef, offset: Long, from: Int, until: Int): Int = {
    var lo = from
    while (lo < until && !isLetter(Platform.getByte(base, offset + lo))) lo += 1
    lo
  }

  /** One past the last ASCII letter before `until`; the caller has found
    * a letter in the range with [[firstLetter]].
    */
  def pastLastLetter(base: AnyRef, offset: Long, until: Int): Int = {
    var hi = until
    while (!isLetter(Platform.getByte(base, offset + hi - 1))) hi -= 1
    hi
  }

  /** The C strip rule on the bytes `[from, until)` at `base` + `offset`,
    * read in place: a view from the first to the last ASCII letter, or
    * of the whole range when it has no letter (kept verbatim).
    */
  def strip(base: AnyRef, offset: Long, from: Int, until: Int): UTF8String = {
    val lo = firstLetter(base, offset, from, until)
    if (lo == until) UTF8String.fromAddress(base, offset + from, until - from)
    else UTF8String.fromAddress(base, offset + lo, pastLastLetter(base, offset, until) - lo)
  }

  /** Reads `s` without mutating it; the output array is the only copy. */
  def normalize(s: UTF8String): UTF8String = {
    val span = strip(s.getBaseObject, s.getBaseOffset, 0, s.numBytes)
    val out = new Array[Byte](span.numBytes)
    span.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < out.length) { out(i) = lower(out(i)); i += 1 }
    UTF8String.fromBytes(out)
  }
}
