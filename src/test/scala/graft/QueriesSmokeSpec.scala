package graft

/** Every SparkEntry query executes on sf0.001 and returns a stable,
  * deterministic result (run twice, same rows). Value-level correctness
  * is the driver's DuckDB oracle at sf0.01; this guards runtime
  * regressions (analysis errors, non-determinism, nulls in key columns)
  * at commit time.
  *
  * Each run also checks cache hygiene: once the caller unpersists the
  * returned frame, the query must leave no cached frame behind — its
  * intermediates were released by [[graft.core.Staged]], and a settled
  * result is the frame the caller releases. So a builder called in a
  * loop cannot accumulate residents.
  */
class QueriesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and is deterministic on sf0.001") {
      def run(): Seq[String] = {
        // start empty: a frame some earlier test left cached would make
        // this query's persist of the same plan a no-op, hiding its leak
        spark.catalog.clearCache()
        val df = fn(spark, sfDir)
        val rows = df.collect().map(_.toString).toSeq
        df.unpersist(blocking = true)
        assert(cachedEntries === 0, "cached frames left behind")
        rows
      }
      assert(run() == run(), "two runs differ")
    }
  }

  test("every query has oracle SQL") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
