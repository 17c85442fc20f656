package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Staged

/** [[graft.core.Staged]] is the only caching scope in main code: it
  * settles a result while its intermediates are cached, then releases
  * exactly the frames it persisted.
  */
class StagedSpec extends SparkSpec {

  test("settle caches the result and releases every live handle") {
    val before = cachedEntries
    val a = Staged.acquire(spark.range(100).toDF("id"))
    val b = Staged.acquire(a.df.where(col("id") % 2 === 0), eager = false)
    assert(cachedEntries === before + 2)
    val out = Staged.settle(b.df.groupBy().agg(sum("id").as("s")), a, b)
    assert(cachedEntries === before + 1, "intermediates still cached")
    assert(out.df.head().getLong(0) === (0L until 100L by 2).sum)
    out.df.unpersist(blocking = true)
    assert(cachedEntries === before)
  }

  test("within releases its handles when the body throws") {
    val before = cachedEntries
    val a = Staged.acquire(spark.range(10).toDF("id"))
    intercept[IllegalStateException] {
      Staged.within(a)(throw new IllegalStateException("boom"))
    }
    assert(cachedEntries === before)
  }

  test("a projection of a cached frame cannot be handed over for release") {
    val a = Staged.acquire(spark.range(10).toDF("id"))
    Staged.within(a) {
      // Dataset.unpersist drops only the exact persisted plan, so a
      // projection released by hand would release nothing
      assertTypeError("""Staged.settle(a.df, a.df.select("id"))""")
      assertTypeError("""Staged.within(a.df.select("id"))(())""")
    }
  }

  test("no hand-paired persist/unpersist/cache in main code outside core/Staged.scala") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root),
      s"source scan needs the project root as working directory; ${root.toAbsolutePath} is missing")
    val handCaching = """\.(persist|unpersist|cache)\(""".r
    val staged = root.resolve("core/Staged.scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != staged)
      .toSeq.sortBy(_.toString)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if handCaching.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty,
      s"cache through graft.core.Staged instead:\n${hits.mkString("\n")}")
  }
}
