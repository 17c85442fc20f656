package graft

import org.apache.spark.sql.functions._

import graft.functions.GramMd5

/** [[graft.functions.GramMd5]] must be bit-identical to the staged
  * builtin form it replaced — `transform(sequence(0, size(w) - k),
  * i -> md5(array_join(slice(w, i+1, k), ' ')))` — which is what the
  * DuckDB oracle replays for the dup-span family's gram keys.
  */
class GramMd5Spec extends SparkSpec {

  private def staged(w: org.apache.spark.sql.Column, k: Int) =
    transform(sequence(lit(0), size(w) - lit(k)),
      i => md5(array_join(slice(w, i + lit(1), lit(k)), " ")))

  private def toks = filter(
    graft.functions.ByteSplit.split(col("text")), t => t =!= "")

  test("fused grams equal the staged form on real sf0.001 docs (k = DupSpanK and 2)") {
    val k0 = graft.queries.Dedup.DupSpanK
    Seq(k0, 2).foreach { k =>
      val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), toks.as("w"))
        .where(size(col("w")) >= k)
      val both = d.select(col("doc_id"),
        GramMd5.of(col("w"), k).as("kg"),
        staged(col("w"), k).as("sg"))
      assert(both.count() > 0, s"k=$k fixture is non-empty")
      assert(both.where(col("kg") =!= col("sg")).count() === 0, s"k=$k")
    }
  }

  test("seeded fuzz: random token arrays (unicode, single chars) agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    val words = Seq("the", "é", "日本", "zz", "a", "xyz", "Q", "0")
    val k = 3
    val cases = (1 to 300).map { i =>
      (i.toLong, (0 until (k + rnd.nextInt(12))).map(_ => words(rnd.nextInt(words.length))))
    }
    val df = cases.toDF("doc_id", "w")
    val both = df.select(
      GramMd5.of(col("w"), k).as("kg"),
      staged(col("w"), k).as("sg"))
    assert(both.where(col("kg") =!= col("sg")).count() === 0)
  }

  test("gram hex matches a commons-codec replay; exact window coverage") {
    import spark.implicits._
    val w = Seq("alpha", "beta", "gamma", "delta")
    val df = Seq((1L, w)).toDF("doc_id", "w")
    val got = df.select(GramMd5.of(col("w"), 3).as("g"))
      .collect()(0).getSeq[String](0)
    val expected = Seq("alpha beta gamma", "beta gamma delta").map(s =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s.getBytes("UTF-8")))
    assert(got === expected)
  }

  test("null array yields null; size < k yields empty (unreachable, pinned)") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Seq[String]]), (2L, Some(Seq("one", "two"))))
      .toDF("doc_id", "w")
      .select(col("doc_id"), GramMd5.of(col("w"), 5).as("g"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(rows(1L) == null)
    assert(rows(2L) === Seq.empty[String])
  }

  test("null elements: each window joins its non-null tokens, as the staged form does") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017L)
    val words = Seq("the", "é", "zz", "a", "Q")
    val k = 3
    val crafted = Seq(
      Seq(None, None, None),
      Seq(Some("a"), None, None, Some("b")),
      Seq(None, Some("a"), Some("b"), Some("c"), None))
    val cases = (crafted ++ (1 to 300).map { _ =>
      (0 until (k + rnd.nextInt(10))).map(_ =>
        if (rnd.nextInt(3) == 0) None else Some(words(rnd.nextInt(words.length))))
    }).zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val df = cases.toDF("doc_id", "w")
    assert(df.schema("w").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true))
    val both = df.select(col("doc_id"),
      GramMd5.of(col("w"), k).as("kg"),
      staged(col("w"), k).as("sg"))
    assert(both.where(col("kg") =!= col("sg")).count() === 0)
    // an all-null window digests the empty string
    val allNull = both.where(col("doc_id") === 0).collect()(0).getSeq[String](1)
    assert(allNull === Seq(org.apache.commons.codec.digest.DigestUtils.md5Hex("")))
  }
}
