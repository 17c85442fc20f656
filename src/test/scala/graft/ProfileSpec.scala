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

  test("every dev query builds apart from the oracled surface and reports its config") {
    val dev = DevQueries.queries.keys.toSeq.sorted
    assert(Profile.select("dev_") === dev)
    assert(dev.forall(n => n.startsWith("dev_") && !SparkEntry.queries.contains(n)), dev)
    assert(Profile.select("dd_") === SparkEntry.queries.keys.filter(_.startsWith("dd_")).toSeq.sorted)
    // the six stream entries share one staging and drain path; building
    // one of them keeps this test near 90 s
    dev.filter(n => !n.startsWith("dev_stream") || n == "dev_stream_tws").foreach { name =>
      val r = Profile.profile(spark, sf, name, passes = 0)
      assert(r.error.isEmpty, s"$name: ${r.error}")
      assert(r.config.isInstanceOf[JObject] && r.config != JObject(), s"$name: ${r.json(sf)}")
      if (name.startsWith("dev_stream")) assert(r.progress.exists(_.numInputRows > 0), name)
    }
    assert(Profile.profile(spark, sf, "wc_top100", passes = 0).config === JNull)
    assert(cachedEntries === 0)
  }

  test("the only mains are Bench, Verify and the dev mains Profile, Sweep and Quality") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"source scan needs the project root as working directory; ${root.toAbsolutePath} is missing")
    val obj = """^\s*object\s+(\w+)""".r.unanchored
    val mains = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        // each `def main` belongs to the last object opened above it
        Files.readAllLines(p).asScala.scanLeft(("", "")) {
          case (_, obj(name)) => (name, "")
          case ((o, _), line) => (o, line)
        }.collect { case (o, line) if line.contains("def main(") => o }
      }.toSet
    assert(mains === Set("Bench", "Verify", "Profile", "Sweep", "Quality"),
      "a dev measurement is a DevQueries entry that graft.Profile times, or a Quality study")
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
