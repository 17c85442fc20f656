package graft

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.ByteLines.{ascii, edges, hexOf, line}
import graft.core.WordCount
import graft.functions.{ByteSplit, ByteSplitImpl, NormalizeWordImpl, WordTokens, WordTokensImpl}

/** [[graft.functions.WordTokens]] must equal the staged word-count map
  * side it replaced — byte_split → normalize_word →
  * `0 < octet_length <= WordCount.WordLength` — on ANY byte line, compared
  * as raw bytes (hex), never as decoded JVM strings.
  */
class WordTokensSpec extends SparkSpec {

  private def hexes(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(i => hexOf(a.getUTF8String(i).getBytes))

  /** The staged kernels, one after the other, at the impl level. */
  private def staged(b: Array[Byte]): Seq[String] = {
    val toks = ByteSplitImpl.split(UTF8String.fromBytes(b))
    (0 until toks.numElements())
      .map(i => NormalizeWordImpl.normalize(toks.getUTF8String(i)).getBytes)
      .filter(w => w.length > 0 && w.length <= WordCount.WordLength)
      .map(hexOf)
  }

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  test("impl equals the staged kernels on edge cases and arbitrary byte lines") {
    edges.foreach { b =>
      assert(hexes(WordTokensImpl.tokens(UTF8String.fromBytes(b))) === staged(b),
        s"line=${hexOf(b)}")
    }
    check(Prop.forAll(line)(b => hexes(WordTokensImpl.tokens(UTF8String.fromBytes(b))) == staged(b)),
      2000)
  }

  test("the input line is not mutated") {
    val b = ascii("The QUICK brown")
    val s = UTF8String.fromBytes(b)
    WordTokensImpl.tokens(s)
    assert(new String(b, US_ASCII) === "The QUICK brown")
  }

  test("interpreted eval equals codegen") {
    val expr = WordTokens(BoundReference(0, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    check(Prop.forAll(line) { b =>
      val row = InternalRow(UTF8String.fromBytes(b))
      hexes(proj(row).getArray(0)) == hexes(expr.eval(row).asInstanceOf[ArrayData])
    }, 500)
    assert(proj(InternalRow(null)).isNullAt(0))
  }

  test("Spark path: word_tokens equals the staged column pipeline, as raw bytes") {
    import spark.implicits._
    val generated = Gen.listOfN(400, line)
      .apply(Gen.Parameters.default, Seed(21)).getOrElse(sys.error("no sample"))
    val lines = (edges ++ generated).zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("id", "b").select(col("id"), col("b").cast("string").as("value"))
    // the cast keeps the bytes raw: hex(value) is the generated line
    assert(lines.select(hex(col("value"))).as[String].collect().toSeq ===
      (edges ++ generated).map(hexOf))
    val fused = lines
      .select(col("id"), explode(WordTokens.of(col("value"))).as("w"))
      .select(col("id"), hex(col("w"))).as[(Int, String)].collect().toSeq
    val viaStaged = lines
      .select(col("id"), explode(ByteSplit.split(col("value"))).as("tok"))
      .select(col("id"), WordCount.normalize(col("tok")).as("w"))
      .where(octet_length(col("w")) > 0 && octet_length(col("w")) <= WordCount.WordLength)
      .select(col("id"), hex(col("w"))).as[(Int, String)].collect().toSeq
    assert(fused.nonEmpty && fused === viaStaged)
  }

  test("a null line yields no rows") {
    import spark.implicits._
    val rows = Seq[(Int, String)]((0, null), (1, "a B")).toDF("id", "value")
      .select(col("id"), explode(WordTokens.of(col("value"))).as("w"))
      .as[(Int, String)].collect().toSeq
    assert(rows === Seq((1, "a"), (1, "b")))
    assert(WordTokens(Literal(null, StringType)).eval() == null)
  }

  test("non-STRING input is rejected at analysis time") {
    assert(WordTokens(Literal(1)).checkInputDataTypes().isFailure)
    val e = intercept[Exception](spark.sql("SELECT word_tokens(1)").collect())
    assert(e.getMessage.contains("word_tokens"), e.getMessage)
  }
}
