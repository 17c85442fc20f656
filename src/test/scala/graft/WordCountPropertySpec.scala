package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.WordCount

/** Property tests from FIXTURES.md §3 driven by ScalaCheck over the JVM
  * reference function (fast path; the column expression is pinned to it
  * by NormalizeSpec + the golden corpus tests).
  */
class WordCountPropertySpec extends SparkSpec {

  private def checkProp(p: Prop, min: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  private val tokenGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaChar,
      2 -> Gen.oneOf('.', ',', '\'', '-', '(', ')', '1', '9', '\r', '\t', '*'),
      1 -> Gen.oneOf('﻿', 'é', '’'))).map(_.mkString)

  test("normalizeWordExact is idempotent") {
    checkProp(Prop.forAll(tokenGen) { t =>
      val once = WordCount.normalizeWordExact(t)
      WordCount.normalizeWordExact(once) == once
    })
  }

  test("normalize output is a substring of the lowercased input") {
    checkProp(Prop.forAll(tokenGen) { t =>
      val lowered = t.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      lowered.contains(WordCount.normalizeWordExact(t))
    })
  }

  test("if output non-empty and input has alpha, ends are alpha") {
    checkProp(Prop.forAll(tokenGen) { t =>
      val out = WordCount.normalizeWordExact(t)
      val hasAlpha = t.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
      !hasAlpha || out.isEmpty ||
        (out.head >= 'a' && out.head <= 'z' && out.last >= 'a' && out.last <= 'z')
    })
  }

  test("sum of counts == number of surviving tokens") {
    import spark.implicits._
    val linesGen = Gen.listOfN(30, Gen.listOfN(8, tokenGen).map(_.mkString(" ")))
    // noShrink: a failing case would otherwise shrink through thousands
    // of Spark jobs. The survival filter is in BYTES (octet_length in
    // WordCount.count), so the expected side measures UTF-8 bytes too.
    checkProp(Prop.forAllNoShrink(linesGen) { lines =>
      val expected = lines.flatMap(_.split(" ", -1))
        .map(WordCount.normalizeWordExact)
        .count { w =>
          val nBytes = w.getBytes("UTF-8").length
          nBytes > 0 && nBytes <= WordCount.WordLength
        }
      val df = spark.createDataset(lines).toDF("value")
      WordCount.count(df).agg(org.apache.spark.sql.functions.sum("count"))
        .collect()(0).get(0) == (if (expected == 0) null else expected.toLong)
    }, min = 10)
  }

  test("counts are invariant under partitioning and re-chunking at line boundaries (properties 2 and 4)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.scalacheck.rng.Seed
    import graft.functions.{WordCounts, WordCountsImpl}
    // line breaks belong to the text reader, not to the word rule
    val generated = Gen.listOfN(300, ByteLines.line)
      .apply(Gen.Parameters.default, Seed(7)).getOrElse(sys.error("no sample"))
      .map(_.filter(b => b != '\n' && b != '\r'))
    // more distinct words than one table holds, the first 1000 repeated
    // after it fills: a task that reads all of them emits early
    val wide = ByteLines.wideLines(WordCountsImpl.MaxWords + 1000, 1000)
    val lines = generated ++ wide ++ ByteLines.edges.map(_.filter(b => b != '\n' && b != '\r'))
    def inMemory(parts: Int): DataFrame =
      spark.createDataset(spark.sparkContext.parallelize(lines, parts))
        .toDF("b").select(col("b").cast("string").as("value"))
    def chunked(files: Int): DataFrame = {
      val dir = graft.core.TempDirs.path(s"graft-rechunk-$files")
      val rnd = new scala.util.Random(files)
      val cuts = (0 +: rnd.shuffle((1 until lines.size).toList).take(files - 1).sorted :+ lines.size)
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        val out = new java.io.ByteArrayOutputStream
        lines.slice(a, b).foreach { l => out.write(l); out.write('\n') }
        java.nio.file.Files.write(dir.resolve(f"$i%02d.txt"), out.toByteArray)
      }
      WordCount.ingest(spark, Seq(dir.toString))
    }
    def counted(df: DataFrame): DataFrame =
      WordCount.count(df).select(hex(col("word")).as("w"), col("count"))
    val one = counted(inMemory(1)).cache()
    try {
      // the single task really did fill its table (no test-only cap)
      val emitted = inMemory(1).select(WordCounts.of(col("value"))).count()
      assert(emitted > one.count(), "one task over the cap must emit early")
      val total = one.agg(sum("count")).as[Long].head()
      Seq(inMemory(3), inMemory(8), chunked(1), chunked(3), chunked(8)).foreach { df =>
        val other = counted(df)
        assert(other.exceptAll(one).isEmpty && one.exceptAll(other).isEmpty)
        assert(other.agg(sum("count")).as[Long].head() == total)
      }
    } finally one.unpersist()
  }
}
