package graft

import graft.core.WordCount

/** End-to-end golden tests on the reference's own corpus
  * (/root/reference, read-only): FIXTURES.md §2 totals and spot keys,
  * plus the re-chunking invariance property (same bytes, different file
  * split ⇒ identical counts).
  */
class WordCountGoldenSpec extends SparkSpec {

  private def counts(paths: String*): Map[String, Long] = {
    paths.foreach(p => requireCorpus(p))
    WordCount.run(spark, paths).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("2.txt golden: totals and spot keys (FIXTURES §2)") {
    val m = counts("/root/reference/2.txt")
    assert(m.values.sum == 22188L, "total surviving tokens")
    assert(m.size == 3167, "distinct words")
    assert(m("the") == 1450L)
    assert(m("and") == 909L)
    assert(m("to") == 593L)
    assert(m("he") == 578L)
    assert(m("of") == 448L)
  }

  test("re-chunking invariance: file_chunks/ == 2.txt") {
    val whole = counts("/root/reference/2.txt")
    val chunked = counts("/root/reference/file_chunks/*.txt")
    assert(chunked == whole)
  }

  test("file_chunks_130 golden: full-corpus totals (FIXTURES §2)") {
    val m = counts("/root/reference/file_chunks_130/*.txt")
    assert(m.values.sum == 2297140L, "total surviving tokens")
    assert(m.size == 50059, "distinct words")
    assert(m("the") == 117080L)
    assert(m("and") == 78298L)
    assert(m("to") == 63606L)
    assert(m("of") == 56925L)
    assert(m("a") == 44962L)
    // all-non-alpha tokens survive as keys (mpi_mapreduce.c:143)
    assert(m("...") == 892L)
    assert(m("*") == 366L)
    assert(m("-") == 106L)
  }

  test("chunking invariance at scale: 100/130 splits agree") {
    val c130 = counts("/root/reference/file_chunks_130/*.txt")
    val c100 = counts("/root/reference/file_chunks_100/*.txt")
    assert(c100 == c130)
  }
}
