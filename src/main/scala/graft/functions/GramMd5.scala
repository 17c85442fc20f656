package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sliding k-token-window md5 fingerprints in ONE pass over a token
  * array — the map kernel of the dup-span family (dd_dup_spans,
  * dd_dup_span_extents, dd_span_cut).
  *
  * Replaces the staged builtin form
  * {{{ transform(sequence(0, size(w) - k),
  *              i -> md5(array_join(slice(w, i + 1, k), ' '))) }}}
  * which, per window, allocates a k-element slice array, the joined
  * string, and the cast-to-binary copy md5 hashes. Here the tokens are
  * joined ONCE into a single-space byte stream with per-token offsets;
  * every window's digest input is then a contiguous span of that
  * stream — the identical bytes array_join(slice(…), ' ') produced, so
  * the emitted 32-char lowercase hex strings are bit-identical
  * (GramMd5Spec fuzz-checks against the staged form; the gram values
  * are join/group keys several oracles replay).
  *
  * Callers guarantee size(w) ≥ k (the staged form ERRORS below k via
  * slice's 0-start; every consumer filters first). For size(w) < k this
  * kernel returns an empty array — unreachable from the declared
  * queries, pinned only so the expression totals.
  *
  * Null elements (only an input type with `containsNull = true` can
  * hold them) follow the staged form too: they still count as window
  * positions, but array_join skips them, so a window digests its
  * non-null tokens joined by single spaces ("" when it has none). That
  * path is chosen at plan time; the dup-span queries feed
  * `containsNull = false` arrays and run the null-free loop.
  */
case class GramMd5(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"gram_md5: k must be positive, got $k")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"gram_md5 requires array<string>, got ${dt.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gram_md5"

  @transient private lazy val nullElements =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(input: Any): Any =
    if (nullElements) GramMd5Impl.gramsSkippingNulls(input.asInstanceOf[ArrayData], k)
    else GramMd5Impl.grams(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (nullElements) "gramsSkippingNulls" else "grams"
    defineCodeGen(ctx, ev, c => s"graft.functions.GramMd5Impl.$kernel($c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): GramMd5 =
    copy(child = newChild)
}

object GramMd5 {
  def of(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(GramMd5(Bridge.expression(c), k))
  }
}

/** Static kernel for interpreted eval and generated Java. */
object GramMd5Impl {
  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def grams(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    windows(toks, n, n, k, null)
  }

  /** [[grams]] over an array that may hold nulls: each window joins only
    * its non-null tokens, as array_join does.
    */
  def gramsSkippingNulls(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val toks = new Array[Array[Byte]](n)
    // rank(i): the number of non-null tokens before position i
    val rank = new Array[Int](n + 1)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        toks(m) = arr.getUTF8String(i).getBytes
        m += 1
      }
      i += 1
      rank(i) = m
    }
    windows(toks, m, n, k, rank)
  }

  /** The digests of the n - k + 1 windows over `toks(0 until m)`. Window
    * g covers tokens `rank(g) until rank(g + k)`, or `g until g + k`
    * when `rank` is null (no null elements, so m == n).
    */
  private def windows(toks: Array[Array[Byte]], m: Int, n: Int, k: Int,
      rank: Array[Int]): ArrayData = {
    // single-space-joined token stream + per-token start offsets
    var joinedLen = 0
    var i = 0
    while (i < m) { joinedLen += toks(i).length; i += 1 }
    if (m > 1) joinedLen += m - 1
    val joined = new Array[Byte](joinedLen)
    val starts = new Array[Int](m + 1)
    var pos = 0
    i = 0
    while (i < m) {
      if (i > 0) { joined(pos) = ' '; pos += 1 }
      starts(i) = pos
      val t = toks(i)
      System.arraycopy(t, 0, joined, pos, t.length)
      pos += t.length
      i += 1
    }
    starts(m) = pos + 1 // sentinel: start of the would-be next token
    val digest = md.get()
    val out = new Array[AnyRef](n - k + 1)
    var g = 0
    while (g <= n - k) {
      val first = if (rank == null) g else rank(g)
      val end = if (rank == null) g + k else rank(g + k)
      digest.reset()
      if (end > first) {
        val from = starts(first)
        val until = starts(end) - 1 // drop the joining space (or sentinel)
        digest.update(joined, from, until - from)
      }
      val d = digest.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = HEX((d(b) >> 4) & 0xf)
        hex(b * 2 + 1) = HEX(d(b) & 0xf)
        b += 1
      }
      out(g) = UTF8String.fromBytes(hex)
      g += 1
    }
    new GenericArrayData(out)
  }
}
