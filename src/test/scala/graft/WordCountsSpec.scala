package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.ByteLines.{ascii, edges, hexOf, line}
import graft.core.WordCount
import graft.functions.{WordCounts, WordCountsImpl, WordTokens, WordTokensImpl}

/** [[graft.functions.WordCounts]] rows, summed per word, must equal the
  * words [[graft.functions.WordTokens]] emits, counted — on any byte
  * lines, compared as raw bytes (hex) — however often the per-task table
  * fills up and emits early.
  */
class WordCountsSpec extends SparkSpec {

  /** Σn per word (hex) over rows of `(word, n)`. */
  private def summed(rows: Iterator[InternalRow]): Map[String, Long] =
    rows.foldLeft(Map.empty[String, Long]) { (m, r) =>
      val w = hexOf(r.getUTF8String(0).getBytes)
      m.updated(w, m.getOrElse(w, 0L) + r.getLong(1))
    }

  /** The same lines through word_tokens, counted per word (hex). */
  private def tokenCounts(lines: Seq[Array[Byte]]): Map[String, Long] =
    lines.iterator.flatMap { b =>
      val a = WordTokensImpl.tokens(UTF8String.fromBytes(b))
      (0 until a.numElements()).map(i => hexOf(a.getUTF8String(i).getBytes))
    }.toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  /** Every row one table emits for `lines`, early flushes included. */
  private def tableRows(lines: Seq[Array[Byte]]): Iterator[InternalRow] = {
    val t = new WordCountsImpl
    // materialize per line: a flush's rows must be read before later lines
    val early = lines.flatMap(b => t.add(UTF8String.fromBytes(b)).toSeq)
    early.iterator ++ t.drain()
  }

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  test("impl: summed rows equal word_tokens counted, on edge cases and arbitrary byte lines") {
    assert(summed(tableRows(edges)) === tokenCounts(edges))
    check(Prop.forAll(Gen.listOf(line)) { ls =>
      summed(tableRows(ls)) == tokenCounts(ls)
    }, 500)
  }

  test("impl: one row per distinct word, and the input line is not mutated") {
    val b = ascii("The QUICK the quick (THE)")
    val rows = tableRows(Seq(b)).map(r => r.getUTF8String(0).toString -> r.getLong(1)).toSeq
    assert(rows.sorted === Seq("quick" -> 2L, "the" -> 3L))
    assert(new String(b, "US-ASCII") === "The QUICK the quick (THE)")
  }

  test("impl: a table that fills up emits early and loses no count") {
    // MaxWords + 1000 distinct words, then the first 1000 again: the
    // table fills inside the first pass, so 1000 words are emitted twice
    val n = WordCountsImpl.MaxWords + 1000
    val lines = ByteLines.wideLines(n, 1000)
    val t = new WordCountsImpl
    val early = lines.flatMap(b => t.add(UTF8String.fromBytes(b)).toSeq)
    val rest = t.drain().toSeq
    assert(early.size == WordCountsImpl.MaxWords, "exactly one early flush")
    assert(early.size + rest.size == n + 1000)
    val got = summed((early ++ rest).iterator)
    assert(got.size == n)
    assert(got.values.sum == n + 1000L)
    assert((0 until 1000).forall(i => got(hexOf(ascii(ByteLines.word(i)))) == 2L))
  }

  test("Spark path: word_counts → sum equals explode(word_tokens) → count, as raw bytes") {
    import spark.implicits._
    val generated = Gen.listOfN(400, line)
      .apply(Gen.Parameters.default, Seed(31)).getOrElse(sys.error("no sample"))
    val lines = spark.createDataset(spark.sparkContext.parallelize(edges ++ generated, 3))
      .toDF("b").select(col("b").cast("string").as("value"))
    def rows(df: DataFrame): Set[(String, Long)] =
      df.select(hex(col("word")), col("count")).as[(String, Long)].collect().toSet
    val counted = rows(lines.select(WordCounts.of(col("value")))
      .groupBy("word").agg(sum("n").as("count")))
    val tokens = rows(lines.select(explode(WordTokens.of(col("value"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("count")))
    assert(counted.nonEmpty && counted === tokens)
    assert(rows(WordCount.count(lines)) === tokens)
  }

  test("a null line yields nothing") {
    import spark.implicits._
    val rows = Seq[String](null, "a B", null).toDF("value")
      .select(WordCounts.of(col("value"))).as[(String, Long)].collect().toSeq
    assert(rows.sorted === Seq("a" -> 1L, "b" -> 1L))
    val g = WordCounts(Literal(null, StringType))
    assert(g.eval(InternalRow.empty).iterator.isEmpty && g.terminate().iterator.isEmpty)
  }

  test("non-STRING input is rejected at analysis time") {
    assert(WordCounts(Literal(1)).checkInputDataTypes().isFailure)
    val e = intercept[Exception](spark.range(2).select(WordCounts.of(col("id"))).collect())
    assert(e.getMessage.contains("word_counts"), e.getMessage)
  }

  test("WordCount.count keeps its schema (word string, count bigint NOT NULL), batch and streaming") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val expected = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("count", LongType, nullable = false)))
    assert(WordCount.count(Seq("a b").toDF("value")).schema === expected)
    assert(WordCount.count(MemoryStream[String].toDF()).schema === expected)
  }
}
