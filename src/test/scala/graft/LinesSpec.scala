package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.{Lines, LinesRDD, NioLocalFileSystem, RangeLines}

/** [[graft.sources.Lines]] against the built-in text source and sink it
  * replaces: the same lines from the same paths, cut anywhere, and the
  * same output file set.
  */
class LinesSpec extends SparkSpec {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val Bom = bytes(0xEF, 0xBB, 0xBF)

  /** The line rule, written plainly over a whole file. */
  private def splitLines(file: Array[Byte]): Seq[Seq[Byte]] = {
    val b = if (file.startsWith(Bom)) file.drop(3) else file
    val bomAt0 = file.startsWith(Bom)
    val out = Seq.newBuilder[Seq[Byte]]
    var i = 0
    var start = 0
    while (i < b.length) {
      if (b(i) == '\n' || b(i) == '\r') {
        out += b.slice(start, i).toSeq
        i += (if (b(i) == '\r' && i + 1 < b.length && b(i + 1) == '\n') 2 else 1)
        start = i
      } else i += 1
    }
    if (start < b.length) out += b.slice(start, b.length).toSeq
    val lines = out.result()
    // a file that is only a BOM has one empty line
    if (bomAt0 && b.isEmpty) Seq(Seq.empty) else lines
  }

  /** At most `k` bytes per read, so reads end at every offset. */
  private final class Trickle(b: Array[Byte], from: Int, k: Int) extends InputStream {
    private val in = new ByteArrayInputStream(b, from, b.length - from)
    override def read(): Int = in.read()
    override def read(dst: Array[Byte], off: Int, len: Int): Int = in.read(dst, off, math.min(len, k))
  }

  private def readRange(file: Array[Byte], start: Int, end: Int, buffer: Int, k: Int): Seq[Seq[Byte]] = {
    val r = new RangeLines(new Trickle(file, math.max(start - 1, 0), k), start, end, buffer)
    val out = Seq.newBuilder[Seq[Byte]]
    var n = 0
    while (r.next()) {
      out += r.line.getBytes.slice(r.off, r.line.getLength).toSeq
      n += 1
      assert(n <= file.length + 1, s"range [$start, $end) yields more lines than bytes")
    }
    out.result()
  }

  test("ranges cut anywhere, CRLF and BOM included, together yield each line once") {
    val breaks = Gen.oneOf(Seq[Byte]('\n'), Seq[Byte]('\r', '\n'), Seq[Byte]('\r'))
    val noBreaks = ByteLines.line.map(_.filter(b => b != '\n' && b != '\r'))
    val file = for {
      lines <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, noBreaks))
      seps <- Gen.listOfN(lines.size, breaks)
      bom <- Gen.oneOf(true, false)
      trailing <- Gen.oneOf(true, false)
    } yield {
      val body = lines.zip(seps).flatMap { case (l, s) => l.toSeq ++ s }
      val cut = if (trailing || seps.isEmpty) body else body.dropRight(seps.last.size)
      ((if (bom) Bom.toSeq else Seq.empty) ++ cut).toArray
    }
    val cuts = for {
      f <- file
      n <- Gen.choose(0, 6)
      random <- Gen.listOfN(n, Gen.choose(1, math.max(1, f.length)))
      buffer <- Gen.choose(1, 8)
      k <- Gen.choose(1, 5)
    } yield {
      // inside the BOM and inside every CRLF, on top of the random cuts
      val crlf = f.indices.filter(i => i > 0 && f(i - 1) == '\r' && f(i) == '\n')
      val bom = if (f.startsWith(Bom)) Seq(1, 2) else Nil
      val all = (0 +: (random ++ crlf ++ bom).filter(c => c > 0 && c < f.length) :+ f.length).distinct.sorted
      (f, all, buffer, k)
    }
    val prop = Prop.forAllNoShrink(cuts) { case (f, all, buffer, k) =>
      val ranges = if (f.isEmpty) Seq((0, 0)) else all.sliding(2).map(s => (s(0), s(1))).toSeq
      val got = ranges.flatMap { case (s, e) => readRange(f, s, e, buffer, k) }
      val whole = readRange(f, 0, f.length, buffer, k)
      Prop(got == splitLines(f) && whole == splitLines(f)) :|
        s"file ${ByteLines.hexOf(f)} cuts $all buffer $buffer"
    }
    val res = Await.result(Future(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)), 60.seconds)
    assert(res.passed, res.status.toString)
  }

  test("a range ending on a lone CR, a CRLF or the BOM returns") {
    val files = Seq(bytes('a', '\r'), bytes('a', '\r', '\n'), Bom, bytes('\r', '\r', '\r'))
    val done = Future {
      for (f <- files; end <- 0 to f.length; buffer <- 1 to 3)
        assert(readRange(f, 0, end, buffer, 1).size <= f.length + 1)
    }
    Await.result(done, 30.seconds)
  }

  // ---- Spark twin: the built-in text source on the same paths ----

  private def dirWith(name: String, files: (String, Array[Byte])*): Path = {
    val dir = graft.core.TempDirs.path(s"graft-lines-$name")
    files.foreach { case (n, b) =>
      Files.createDirectories(dir.resolve(n).getParent)
      Files.write(dir.resolve(n), b)
    }
    dir
  }

  private def hexes(df: DataFrame): Seq[String] =
    df.select(hex(col("value"))).collect().map(_.getString(0)).toSeq.sorted

  private def assertTwin(paths: String*): Seq[String] = {
    val ours = hexes(Lines.read(spark, paths))
    assert(ours === hexes(spark.read.text(paths: _*)), s"paths $paths")
    ours
  }

  private val measured = Seq(
    "bom" -> bytes(0xEF, 0xBB, 0xBF, 'a', '\n', 0xEF, 0xBB, 0xBF, 'b'),
    "breaks" -> "a\r\nb\rc\n\rd\r".getBytes("US-ASCII"),
    "lf2" -> "\n\n".getBytes("US-ASCII"),
    "cr" -> "\r".getBytes("US-ASCII"),
    "empty" -> Array.emptyByteArray)

  test("the measured line rules, file by file, equal spark.read.text's") {
    val expected = Map(
      "bom" -> Seq("61", "EFBBBF62"),
      "breaks" -> Seq("61", "62", "63", "", "64"),
      "lf2" -> Seq("", ""),
      "cr" -> Seq(""),
      "empty" -> Seq())
    for ((name, b) <- measured) {
      val dir = dirWith(name, "f.txt" -> b)
      assert(assertTwin(dir.resolve("f.txt").toString) === expected(name).sorted, name)
    }
  }

  test("invalid UTF-8, a line longer than a range, a .gz file and an empty file equal spark.read.text's") {
    val gz = new ByteArrayOutputStream
    val z = new java.util.zip.GZIPOutputStream(gz)
    z.write("zipped one\r\nzipped two\n".getBytes("US-ASCII"))
    z.close()
    val long = "x" * 3000
    val dir = dirWith("mixed",
      "latin1.txt" -> bytes('c', 'a', 'f', 0xE9, ' ', 0xFF, '\n', 'n', 'a', 0xEF, 'v', 'e', '\n'),
      "long.txt" -> s"short\n$long\r\nafter\n".getBytes("US-ASCII"),
      "z.txt.gz" -> gz.toByteArray,
      "empty.txt" -> Array.emptyByteArray)
    // the long line spans several ranges of this read
    val parts = Lines.read(spark, Seq(dir.toString)).queryExecution.toRdd.getNumPartitions
    assert(parts == spark.sparkContext.defaultParallelism)
    val lines = assertTwin(dir.toString)
    assert(lines.contains("636166E920FF") && lines.contains("78" * 3000) &&
      lines.contains(ByteLines.hexOf("zipped one".getBytes("US-ASCII"))), lines)
  }

  test("directories skip _ and . names and subdirectories; globs; a missing path fails") {
    val dir = dirWith("names",
      "a.txt" -> "top\n".getBytes("US-ASCII"),
      "_x" -> "under\n".getBytes("US-ASCII"),
      ".x" -> "dot\n".getBytes("US-ASCII"),
      "sub/s.txt" -> "nested\n".getBytes("US-ASCII"))
    assert(assertTwin(dir.toString) === Seq(ByteLines.hexOf("top".getBytes("US-ASCII"))))
    assert(assertTwin(s"$dir/*").size == 2)
    assert(assertTwin(dir.toString, s"$dir/a.txt").size == 2)
    val missing = intercept[AnalysisException](Lines.read(spark, Seq(s"$dir/nope")))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    intercept[AnalysisException](Lines.read(spark, Seq(s"$dir/*.none")))
  }

  /** Run `body` and sum the input and output metrics of its tasks. */
  private def taskMetrics(body: => Unit): (Long, Long, Long, Int) = {
    val sc = spark.sparkContext
    val in, rec, out = new java.util.concurrent.atomic.AtomicLong
    val sqlStarts = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        in.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        rec.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        out.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlStarts.incrementAndGet()
        case _ =>
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(l)
    (in.get, rec.get, out.get, sqlStarts.get)
  }

  test("130 small files pack into one partition per core; input metrics count every byte and line") {
    val rnd = new scala.util.Random(130)
    val files = (0 until 130).map { i =>
      val n = 1 + rnd.nextInt(40)
      f"$i%03d.txt" -> (0 until n).map(j => s"w$i x$j").mkString("", "\n", "\n").getBytes("US-ASCII")
    }
    val dir = dirWith("many", files: _*)
    val df = Lines.read(spark, Seq(dir.toString))
    assert(df.queryExecution.toRdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val (bytesRead, records, _, _) = taskMetrics(df.write.format("noop").mode("overwrite").save())
    assert(bytesRead == files.map(_._2.length.toLong).sum)
    assert(records == files.map(_._2.count(_ == '\n').toLong).sum)
    // largest first into the least loaded: loads differ by at most the largest file
    val ranges = files.map { case (n, b) => Lines.Range(n, 0, b.length, codec = false) }
    val loads = Lines.pack(ranges, 128L << 20, 4).map(_.map(_.length).sum)
    assert(loads.length == 4 && loads.max - loads.min <= files.map(_._2.length).max)
  }

  // ---- Sink twin: write.text on the same frame ----

  private def fileSet(dir: String): (Seq[String], Set[String], Boolean, Boolean) = {
    val fs = new java.io.File(dir).listFiles().toSeq
    val parts = fs.filter(_.getName.startsWith("part-"))
    val lines = parts.flatMap { f =>
      val b = Files.readAllBytes(f.toPath)
      assert(b.isEmpty || b.last == '\n', f.getName)
      splitLines(b).map(l => ByteLines.hexOf(l.toArray))
    }
    (lines.sorted, parts.map(_.getName.take(10)).toSet,
      fs.exists(_.getName == "_SUCCESS"), fs.exists(_.getName == "_temporary"))
  }

  /** Every entry of `dir` (itself as "."), with part names cut to their
    * index, and its POSIX mode.
    */
  private def listing(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator.asScala.toSeq.map { p =>
      val name = root.relativize(p).toString.replaceAll("^(\\.?part-\\d+)-.*?(\\.crc)?$", "$1$2")
      (if (name.isEmpty) "." else name) -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sorted finally walk.close()
  }

  test("the sink writes write.text's lines and file set, and one SQL execution") {
    val root = graft.core.TempDirs.create("graft-lines-sink")
    val base = spark.range(0, 10, 1, 4)
      .select(concat(lit("w"), col("id").cast("string"), lit(" "), unhex(lit("E9FF")).cast("string"))
        .as("value"), col("id"))
    val frames = Seq(
      "holes" -> base.where(col("id") < 2 || col("id") >= 7),
      "first-empty" -> base.where(col("id") >= 7),
      "none" -> spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Lines.schema))
    val sessionConf = Bridge.hadoopConf(spark)
    val sessionFs = FileSystem.get(URI.create("file:///"), sessionConf)
    for ((name, df) <- frames) {
      val lines = df.select("value")
      lines.write.mode("overwrite").text(s"$root/$name-builtin")
      val (_, _, written, sqlStarts) = taskMetrics(Lines.write(lines, s"$root/$name"))
      val ours = fileSet(s"$root/$name")
      assert(ours === fileSet(s"$root/$name-builtin"), name)
      // the hidden .crc files and every entry's mode too
      val entries = listing(s"$root/$name")
      assert(entries.exists(_._1 == "._SUCCESS.crc") && entries.exists(_._1.startsWith(".part-")), entries)
      assert(entries === listing(s"$root/$name-builtin"), name)
      assert(ours._3 && !ours._4, s"$name: _SUCCESS written, no _temporary left")
      val sizes = new java.io.File(s"$root/$name").listFiles()
        .filter(_.getName.startsWith("part-")).map(_.length).sum
      assert(written == sizes, name)
      assert(sqlStarts == 1, name)
    }
    assert(FileSystem.get(URI.create("file:///"), sessionConf) eq sessionFs)
  }

  test("the sink's job conf maps file: to the graft filesystem; a task's conf is the job's but for its ids") {
    val sink = Lines.setupJob(spark, graft.core.TempDirs.create("graft-lines-jobconf") + "/out")
    try {
      val jobConf = sink.job.getConfiguration
      assert(FileSystem.get(URI.create("file:///"), jobConf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.get(URI.create("file:///"), Bridge.hadoopConf(spark)).getClass != classOf[NioLocalFileSystem])
      val attempt = new TaskAttemptID("20261020000000", 7, TaskType.MAP, 3, 11)
      val task = Lines.taskConf(sink.base, sink.extra, attempt)
      val ids = Set("mapreduce.job.id", "mapreduce.task.id", "mapreduce.task.attempt.id",
        "mapreduce.task.ismap", "mapreduce.task.partition")
      assert(Lines.entries(task) -- ids === Lines.entries(jobConf) -- ids)
      assert(task.get("mapreduce.task.attempt.id") == attempt.toString)
      assert(sink.extra.size < 20, sink.extra.keys)
    } finally sink.committer.abortJob(sink.job)
  }

  test("reads and writes share one conf broadcast until the session's conf changes") {
    def broadcastOf(df: DataFrame): Long = {
      def walk(rdd: org.apache.spark.rdd.RDD[_]): Seq[LinesRDD] = rdd match {
        case l: LinesRDD => Seq(l)
        case r => r.dependencies.flatMap(d => walk(d.rdd))
      }
      val found = walk(df.queryExecution.toRdd)
      assert(found.size == 1)
      found.head.hadoopConf.id
    }
    val dir = dirWith("memo", "a.txt" -> "x\n".getBytes("US-ASCII")).toString
    val first = broadcastOf(Lines.read(spark, Seq(dir)))
    assert(broadcastOf(Lines.read(spark, Seq(dir))) == first)
    val out = graft.core.TempDirs.create("graft-lines-memo") + "/out"
    Lines.write(Lines.read(spark, Seq(dir)), out)
    val sink = Lines.setupJob(spark, out)
    sink.committer.abortJob(sink.job)
    assert(sink.base.id == first && Lines.sharedConf(spark)._2.conf.id == first)
    spark.conf.set("spark.hadoop.graft.probe", "1")
    try {
      val probed = Lines.sharedConf(spark)._2.conf
      assert(probed.id != first && probed.value.value.get("spark.hadoop.graft.probe") == "1")
      assert(broadcastOf(Lines.read(spark, Seq(dir))) == probed.id)
    } finally spark.conf.unset("spark.hadoop.graft.probe")
    assert(Lines.sharedConf(spark)._2.conf.id != first)
  }

  test("the sink overwrites, and a failing row leaves no part file and rethrows") {
    val out = graft.core.TempDirs.create("graft-lines-fail") + "/out"
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.write(java.nio.file.Paths.get(out, "part-99999-stale.txt"), "old\n".getBytes("US-ASCII"))
    val lines = spark.range(0, 8, 1, 4).select(col("id").cast("string").as("value"))
    Lines.write(lines, out)
    assert(fileSet(out)._1 === (0 until 8).map(i => ByteLines.hexOf(i.toString.getBytes("US-ASCII"))).sorted)
    val failing = spark.range(0, 8, 1, 4).select(
      when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id").cast("string")).as("value"))
    val err = intercept[Exception](Lines.write(failing, out))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")), err.toString)
    val left = Option(new java.io.File(out).listFiles()).map(_.toSeq).getOrElse(Nil)
    assert(!left.exists(_.getName.startsWith("part-")), left.map(_.getName))
  }
}
