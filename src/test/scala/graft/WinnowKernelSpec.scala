package graft

import org.apache.spark.sql.functions._

import graft.functions.{WinnowHashes, WinnowSelect}

/** [[graft.functions.WinnowHashes]] / [[graft.functions.WinnowSelect]]
  * must be bit-identical to the staged builtin forms they replaced
  * (word_shingles → per-gram md5/conv; per-window slice/reverse/
  * array_min/array_position) — those forms are what the DuckDB oracle
  * still replays for ta_winnow / dd_winnow_pairs.
  */
class WinnowKernelSpec extends SparkSpec {

  private val W = graft.queries.Sketches.WinnowWindow

  /** The staged builtin hash form, kept here as the cross-check oracle. */
  private def stagedHashes(text: org.apache.spark.sql.Column) =
    transform(graft.functions.WordShingles.of(text),
      g => conv(substring(md5(concat(lit("graft-wn|"), g)), 1, 8), 16, 10)
        .cast("long"))

  /** The staged builtin selection form over an `hs` column. */
  private def stagedSelect(hs: org.apache.spark.sql.Column,
      nh: org.apache.spark.sql.Column) =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(nh - lit(W - 1), lit(1))),
      j => {
        val e = least(j + lit(W - 1), nh)
        val sub = slice(hs, j, e - j + lit(1))
        e + lit(1) - array_position(reverse(sub), array_min(sub))
      })))

  test("fused hashes + selection equal the staged forms on real sf0.001 docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val both = d.select(col("doc_id"),
        WinnowHashes.of(col("text")).as("kh"),
        stagedHashes(col("text")).as("sh"))
      .withColumn("ksel", WinnowSelect.of(col("kh"), W))
      .withColumn("ssel", stagedSelect(col("sh"), size(col("sh"))))
    val bad = both.where(col("kh") =!= col("sh") || col("ksel") =!= col("ssel"))
    assert(both.count() > 0)
    assert(bad.count() === 0)
  }

  test("seeded fuzz: crafted texts (spaces runs, unicode, short docs) agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    val words = Seq("the", "é", "日本", "zz", "a", "xyz", "Q")
    val crafted = Seq("", " ", "   ", "one", "one two", "a  b   c d",
      " leading", "trailing ", "é 日本 zz é 日本 zz")
    val cases = crafted ++ (1 to 300).map { _ =>
      (0 to rnd.nextInt(14)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" " * (1 + rnd.nextInt(3)))
    }
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        WinnowHashes.of(col("text")).as("kh"),
        stagedHashes(col("text")).as("sh"))
      .withColumn("ksel", WinnowSelect.of(col("kh"), W))
      .withColumn("ssel", stagedSelect(col("sh"), size(col("sh"))))
    val bad = both.where(col("kh") =!= col("sh") || col("ksel") =!= col("ssel"))
    assert(bad.count() === 0)
  }

  test("hash value is the md5 prefix parsed as unsigned 32-bit (codec replay)") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = df.select(WinnowHashes.of(col("text")).as("h"))
      .collect()(0).getSeq[Long](0)
    val grams = Seq("alpha beta gamma", "beta gamma delta")
    val expected = grams.map { g =>
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          ("graft-wn|" + g).getBytes("UTF-8")).substring(0, 8), 16)
    }
    assert(got === expected)
  }

  test("null text yields null hashes; <3 tokens yield the whole-join gram") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, Some("two words")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), WinnowHashes.of(col("text")).as("h"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(rows(1L) == null)
    val whole = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        "graft-wn|two words".getBytes("UTF-8")).substring(0, 8), 16)
    assert(rows(2L) === Seq(whole))
  }

  test("selection keeps the rightmost minimum per window (hand-checked)") {
    import spark.implicits._
    // hs = [5, 3, 3, 9, 1, 1]: windows (1-based, W=4):
    //   [5,3,3,9] -> rightmost min 3 at pos 3
    //   [3,3,9,1] -> min 1 at pos 5
    //   [1,1]-window slides: [3,9,1,1] -> rightmost 1 at pos 6
    val df = Seq((1L, Seq(5L, 3L, 3L, 9L, 1L, 1L))).toDF("doc_id", "hs")
    val got = df.select(WinnowSelect.of(col("hs"), W).as("sel"))
      .collect()(0).getSeq[Long](0)
    assert(got === Seq(3L, 5L, 6L))
  }

  test("an array that may hold null elements is rejected at analysis time") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val nullable = Literal.create(Seq(1L, 2L), ArrayType(LongType, containsNull = true))
    assert(WinnowSelect(nullable, W).checkInputDataTypes().isFailure)
    val df = Seq((1L, Seq(Some(5L), None, Some(3L)))).toDF("doc_id", "hs")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(WinnowSelect.of(col("hs"), W)).collect())
    assert(e.getMessage.contains("winnow_select"), e.getMessage)
  }
}
