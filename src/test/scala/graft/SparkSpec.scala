package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Base for suites needing a SparkSession: one local session per suite,
  * sized for tiny test data (4 threads, 4 shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared across suites; JVM exit cleans up

  /** Frames cached in the session's CacheManager. Not
    * `getPersistentRDDs`: localCheckpoint blocks stay in that until the
    * ContextCleaner's next GC.
    */
  def cachedEntries: Int = org.apache.spark.sql.CacheEntries.count(spark)

  /** Fail with one line naming `path` when it is absent, instead of
    * Spark's PATH_NOT_FOUND stack trace. A path whose last segment is a
    * glob is checked as its directory.
    */
  def requireCorpus(path: String)(implicit pos: org.scalactic.source.Position): Unit = {
    val p = java.nio.file.Paths.get(path)
    val target = if (p.getFileName.toString.contains("*")) p.getParent else p
    if (!java.nio.file.Files.exists(target)) fail(s"test corpus absent: $target does not exist")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.core.TempDirs.create("graft-wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
