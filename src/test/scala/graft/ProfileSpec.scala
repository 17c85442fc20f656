package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.json4s.{JDouble, JInt, JNull, JObject}
import org.json4s.jackson.JsonMethods.parse

/** [[graft.Profile]] reports a batch query's operator census and a
  * streaming fixture's per-batch progress from its one listener.
  */
class ProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("census of a batch query, per-batch progress of a stream") {
    assert(Profile.select("wc_word_count,st_wc_update") === Seq("wc_word_count", "st_wc_update"))
    val wc = Profile.profile(spark, sf, "wc_word_count", passes = 0)
    assert(wc.error.isEmpty, wc.error)
    // the word-keyed aggregate exchange plus ORDER BY's range exchange
    assert(wc.census \ "exchanges" === JInt(2), wc.json(sf))
    assert(wc.census \ "joins" === JObject())
    assert(wc.progress.isEmpty && wc.samples.isEmpty)
    val st = Profile.profile(spark, sf, "st_wc_update", passes = 0)
    assert(st.error.isEmpty, st.error)
    // the stream runs while the frame is built
    assert(st.constructionJobs > 0)
    assert(st.progress.exists(_.numInputRows > 0), st.json(sf))
    assert(cachedEntries === 0)
  }

  test("timed passes report every sample and their min") {
    val r = Profile.profile(spark, sf, "wc_top100", passes = 2)
    assert(r.error.isEmpty, r.error)
    assert(r.samples.size === 2 && r.samples.forall(_ > 0))
    assert(parse(r.json(sf)) \ "min" === JDouble(r.samples.min))
  }

  test("a failing query is recorded in its own row") {
    val r = Profile.profile(spark, graft.core.TempDirs.create("graft-profile-missing"),
      "wc_top100", passes = 1)
    assert(r.error.exists(_.nonEmpty) && r.census === JNull && r.samples.isEmpty, r.error)
  }

  test("no @volatile var under src/main/scala/graft/queries") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root),
      s"source scan needs the project root as working directory; ${root.toAbsolutePath} is missing")
    val volatileVar = """@volatile\b.*\bvar\b""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if volatileVar.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty,
      s"queries return their results; observe runs with a listener instead:\n${hits.mkString("\n")}")
  }
}
