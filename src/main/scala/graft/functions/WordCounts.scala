package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference mapper's own hash table (`insert`,
  * `mpi_mapreduce.c:208-243`, called per word at `:326`) as a Catalyst
  * generator. Each line's surviving words — the [[LineWords]] pass that
  * [[WordTokens]] also runs — are counted in a per-task open-addressing
  * table keyed on their bytes, and the table's `(word, n)` rows are
  * emitted when the task's input ends. So a task emits one row per
  * distinct word it saw, not one per token.
  *
  * The rows are partial counts: a word can appear in every task, and
  * more than once in one task, because the table emits and clears
  * itself whenever it holds [[WordCountsImpl.MaxWords]] distinct words.
  * Only a sum over `word` is meaningful ([[graft.core.WordCount.count]]).
  * That is also why it is Scala-only and not registered in SQL: its
  * rows are not a function of one input row.
  *
  * Not code-generated: `GenerateExec` calls `terminate()` only on its
  * interpreted path.
  */
case class WordCounts(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_counts requires STRING, got ${child.dataType.catalogString}")
  override def elementSchema: StructType = new StructType()
    .add("word", StringType, nullable = false)
    .add("n", LongType, nullable = false)
  override def prettyName: String = "word_counts"
  override def supportCodegen: Boolean = false

  // one table per deserialized instance, i.e. per task
  @transient private lazy val table = new WordCountsImpl

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Iterator.empty else table.add(s)
  }

  override def terminate(): IterableOnce[InternalRow] = table.drain()

  override protected def withNewChildInternal(newChild: Expression): WordCounts =
    copy(child = newChild)
}

object WordCounts {
  /** Column-level helper: the generator's two output columns. */
  def of(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(WordCounts(Bridge.expression(c))).as(Seq("word", "n"))
  }
}

/** Word bytes → count for one task. A word's bytes are copied into the
  * arena on its first insert only; the line buffer is reused across
  * lines. Linear probing over `slots`, kept at most half full.
  */
final class WordCountsImpl {
  import WordCountsImpl._

  private val words = new LineWords
  private var line = new Array[Byte](256)

  // (hash << 32) | (entry + 1); 0 is an empty slot
  private var slots: Array[Long] = _
  // entry e's bytes are arena[offsets(e), offsets(e + 1))
  private var offsets: Array[Int] = _
  private var counts: Array[Long] = _
  private var arena: Array[Byte] = _
  private var size = 0
  clear()

  private def clear(): Unit = {
    slots = new Array[Long](InitialSlots)
    counts = new Array[Long](InitialSlots / 2)
    offsets = new Array[Int](counts.length + 1)
    arena = new Array[Byte](InitialSlots * 8)
    size = 0
  }

  /** Counts the words of `s`. Returns the table's rows if it filled up
    * on the way (each fill emits and clears it), else nothing.
    */
  def add(s: UTF8String): Iterator[InternalRow] = {
    if (s.numBytes > line.length) line = new Array[Byte](math.max(s.numBytes, line.length * 2))
    words.load(s, line)
    var full: Iterator[InternalRow] = Iterator.empty
    while (words.next()) {
      insert(words.bytes, words.from, words.until)
      if (size == MaxWords) {
        val rows = drain() // now: `++` takes its operand by name
        full = full ++ rows
      }
    }
    full
  }

  /** The table's `(word, n)` rows; the table starts over empty. */
  def drain(): Iterator[InternalRow] = {
    val (a, o, c, n) = (arena, offsets, counts, size)
    clear()
    Iterator.range(0, n).map { e =>
      new GenericInternalRow(Array[Any](UTF8String.fromBytes(a, o(e), o(e + 1) - o(e)), c(e)))
    }
  }

  private def insert(b: Array[Byte], from: Int, until: Int): Unit = {
    var h = 0x811c9dc5
    var i = from
    while (i < until) { h = (h ^ b(i)) * 0x01000193; i += 1 }
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    val mask = slots.length - 1
    var slot = h & mask
    var v = slots(slot)
    while (v != 0L) {
      if ((v >>> 32).toInt == h && sameBytes(v.toInt - 1, b, from, until)) {
        counts(v.toInt - 1) += 1
        return
      }
      slot = (slot + 1) & mask
      v = slots(slot)
    }
    append(b, from, until, h, slot)
  }

  private def sameBytes(e: Int, b: Array[Byte], from: Int, until: Int): Boolean = {
    var j = offsets(e)
    if (offsets(e + 1) - j != until - from) return false
    var i = from
    while (i < until) {
      if (arena(j) != b(i)) return false
      i += 1; j += 1
    }
    true
  }

  private def append(b: Array[Byte], from: Int, until: Int, h: Int, slot: Int): Unit = {
    val e = size
    if (e == counts.length) {
      counts = java.util.Arrays.copyOf(counts, e * 2)
      offsets = java.util.Arrays.copyOf(offsets, e * 2 + 1)
    }
    val at = offsets(e)
    val len = until - from
    if (at + len > arena.length) arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, at + len))
    System.arraycopy(b, from, arena, at, len)
    offsets(e + 1) = at + len
    counts(e) = 1
    slots(slot) = (h.toLong << 32) | (e + 1)
    size += 1
    if (size * 2 > slots.length) rehash()
  }

  private def rehash(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    val mask = slots.length - 1
    var k = 0
    while (k < old.length) {
      val v = old(k)
      if (v != 0L) {
        var slot = (v >>> 32).toInt & mask
        while (slots(slot) != 0L) slot = (slot + 1) & mask
        slots(slot) = v
      }
      k += 1
    }
  }
}

object WordCountsImpl {
  /** Distinct words a table holds before it emits and clears itself. It
    * bounds a task's table at ~4 MB of slots, 3 MB of offsets and counts,
    * and the words' bytes (at most 70 each).
    */
  val MaxWords: Int = 1 << 18

  private val InitialSlots = 1 << 10
}
