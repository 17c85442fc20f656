package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.WordCount

/** The benchmark's JVM side: one process, one `local[cores]` session,
  * one closed-loop client. It times passes over a workload's jobs and
  * writes the raw measurements as JSON to `--result`; `perfbench/run.py`
  * generates the inputs, checks the outputs and derives the metrics.
  *
  * {{{
  * --workload wordcount|curation  --data DIR  --out DIR
  * --tables t1,t2  --jobs a,b,c  --seed N  --warmup N  --passes N
  * --trace 0|1  --result FILE
  * }}}
  *
  * A pass runs every job once, in an order drawn from the seed. The
  * first pass is the cold pass; `--warmup` untimed passes follow, then
  * `--passes` timed warm passes. With `--trace 1` the timed passes
  * alternate traced and untraced, so the run also measures tracing
  * overhead.
  */
object Main {
  final case class Job(name: String, layer: String, build: () => DataFrame, sink: DataFrame => Unit)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val data = a("data")
    val spark = session(workload, data, a.getOrElse("tables", "").split(",").filter(_.nonEmpty).toSeq)
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    val out = a("out")
    val traced = a("trace") == "1"
    val jobs = jobsFor(spark, workload, data, out, a("jobs").split(",").toSeq)
    val rng = new scala.util.Random(a("seed").toLong)
    val sc = spark.sparkContext
    val trace = new Trace

    // Per job: wall seconds and error (if any); per pass: wall seconds.
    val jobSamples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var liveHeapMb = 0.0
    var passIx = 0

    def runPass(tracing: Boolean, phase: String): Double = {
      val order = rng.shuffle(jobs)
      val passId = trace.newId()
      val t0 = trace.nowMs
      val n0 = System.nanoTime()
      order.foreach { j =>
        val jobId = trace.newId()
        val s0 = System.nanoTime()
        val err = try {
          if (tracing) trace.span(s"job:${j.name}", "", passId, jobId) { jspan =>
            val df = trace.span("build", j.layer, jspan, jobId) { b =>
              sc.setLocalProperty(Trace.SpanProp, b.toString); j.build()
            }
            trace.span("sink", j.layer, jspan, jobId) { s =>
              sc.setLocalProperty(Trace.SpanProp, s.toString); j.sink(df)
            }
          } else j.sink(j.build())
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
        finally sc.setLocalProperty(Trace.SpanProp, null)
        val wall = (System.nanoTime() - s0) / 1e9
        // Persisted RDDs the job left behind, read before the harness
        // releases them (as Bench does) so one job's cache never leaks
        // into the next job's timing.
        val cacheLeft = sc.getPersistentRDDs.size
        spark.catalog.clearCache()
        jobSamples += Map("pass" -> passIx, "phase" -> phase, "job" -> j.name, "wall_s" -> wall,
          "error" -> err, "traced" -> tracing, "cache_left" -> cacheLeft)
      }
      val wall = (System.nanoTime() - n0) / 1e9
      if (tracing) trace.spans.add(Map("id" -> passId, "parent" -> 0L, "name" -> s"pass:$passIx",
        "layer" -> "", "job" -> 0L, "start" -> t0, "end" -> trace.nowMs))
      passes += Map("pass" -> passIx, "phase" -> phase, "wall_s" -> wall, "traced" -> tracing)
      passIx += 1
      wall
    }

    def setTracing(on: Boolean): Unit =
      if (on) { sc.addSparkListener(trace.sparkListener); spark.listenerManager.register(trace.planListener) }
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(trace.sparkListener)
        spark.listenerManager.unregister(trace.planListener)
      }

    // Cold pass.
    if (traced) setTracing(true)
    val coldS = runPass(traced, "cold")
    if (traced) setTracing(false)

    // Untimed warm-up passes let the JIT settle; then the timed passes.
    // The traced run forces a GC (untimed) before each timed pass: the
    // old generation's collection usage right after it is the live heap
    // the previous pass left. Untraced runs force none, so their passes
    // carry the GC debt of the passes before them.
    (1 to a("warmup").toInt).foreach(_ => runPass(false, "warmup"))
    val gcWarm0 = gcTotals()
    var tracing = false
    (1 to a("passes").toInt).foreach { _ =>
      if (traced) {
        liveHeapMb = math.max(liveHeapMb, liveOldGenMb())
        tracing = !tracing
        setTracing(tracing)
      }
      runPass(tracing, "timed")
    }
    if (traced) liveHeapMb = math.max(liveHeapMb, liveOldGenMb())
    val gcWarm = gcTotals().zip(gcWarm0).zip(forcedGc).map { case ((x, y), f) => x - y - f }
    if (traced && tracing) setTracing(false)

    // Untimed extras of the traced run.
    val extras: Map[String, Any] =
      if (!traced) Map.empty
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        val probe = if (workload == "curation") streamProbe(spark, data, out, trace, setTracing) else Nil
        Map("kernels" -> Kernels.measure(spark, data),
          "core_prefix" -> (if (workload == "wordcount") corePrefix(spark, data, out) else Map.empty),
          "stream_probe" -> probe,
          "trace" -> trace.dump)
      }

    val oracle = graft.SparkEntry.oracleSql
    val res = Map[String, Any](
      "setup_s" -> setupS, "cold_pass_s" -> coldS,
      "passes" -> passes.toSeq, "jobs" -> jobSamples.toSeq,
      "live_heap_mb" -> liveHeapMb,
      "jvm_gc_ms" -> gcWarm(0), "jvm_gc_count" -> gcWarm(1),
      "cores" -> Runtime.getRuntime.availableProcessors,
      "oracle_sql" -> jobs.flatMap(j => oracle.get(j.name).map(j.name -> _)).toMap
    ) ++ extras
    spark.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(a("result")), json.writeValueAsBytes(res))
  }

  /** Process start to a ready session: engine extensions loaded and the
    * workload's tables registered as views.
    */
  def session(workload: String, data: String, tables: Seq[String]): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (workload == "wordcount")
      WordCount.ingest(spark, Seq(s"$data/corpus")).createOrReplaceTempView("corpus")
    else {
      val t = graft.sources.Tables(spark, data)
      val loaders = Map[String, () => DataFrame](
        "region" -> (() => t.region), "nation" -> (() => t.nation),
        "customer" -> (() => t.customer), "supplier" -> (() => t.supplier),
        "part" -> (() => t.part), "orders" -> (() => t.orders),
        "lineitem" -> (() => t.lineitem), "events" -> (() => t.events),
        "documents" -> (() => t.documents), "embeddings" -> (() => t.embeddings))
      tables.foreach(n => loaders(n)().createOrReplaceTempView(n))
    }
    spark
  }

  def jobsFor(spark: SparkSession, workload: String, data: String, out: String,
      names: Seq[String]): Seq[Job] =
    if (workload == "wordcount")
      Seq(Job("wordcount", "core",
        () => WordCount.run(spark, Seq(s"$data/corpus")),
        df => WordCount.sink(df, s"$out/wordcount")))
    else {
      val qs = graft.SparkEntry.queries
      names.map { n =>
        val q = qs(n)
        Job(n, "queries", () => q(spark, data),
          df => df.write.mode("overwrite").parquet(s"$out/$n"))
      }
    }

  /** `streaming.*` for the traced curation run: three runs of the
    * RocksDB streaming dedup over the workload's events table, traced.
    * Returns each run's interval; the first is the cold one.
    */
  def streamProbe(spark: SparkSession, data: String, out: String, trace: Trace,
      setTracing: Boolean => Unit): Seq[Map[String, Double]] = {
    val q = graft.SparkEntry.queries("st_dedup_rocksdb")
    setTracing(true)
    val runs = (1 to 3).map { _ =>
      val t0 = trace.nowMs
      q(spark, data).write.mode("overwrite").parquet(s"$out/stream_probe")
      Map("start" -> t0, "end" -> trace.nowMs)
    }
    setTracing(false)
    runs
  }

  /** `core.*` stage attribution for `wordcount`: each public WordCount
    * call is timed as a prefix of the pipeline (the output of the prefix
    * goes to a `noop` sink), several times each, interleaved. Stage time
    * is the difference of consecutive prefix medians, taken on the
    * Python side.
    */
  def corePrefix(spark: SparkSession, data: String, out: String): Map[String, Any] = {
    import org.apache.spark.sql.functions.col
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val paths = Seq(s"$data/corpus")
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "ingest" -> (() => noop(WordCount.ingest(spark, paths))),
      "tokenize" -> (() => noop(WordCount.tokenize(WordCount.ingest(spark, paths)))),
      "normalize" -> (() => noop(WordCount.tokenize(WordCount.ingest(spark, paths))
        .select(WordCount.normalize(col("tok")).as("word")))),
      "count" -> (() => noop(WordCount.count(WordCount.ingest(spark, paths)))),
      "sink" -> (() => WordCount.sink(WordCount.count(WordCount.ingest(spark, paths)),
        s"$out/wordcount_prefix")))
    val samples = prefixes.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    for (_ <- 1 to 5; (name, run) <- prefixes) {
      val t0 = System.nanoTime()
      run()
      samples(name) += (System.nanoTime() - t0) / 1e9
    }
    samples.map { case (k, v) => k -> v.toSeq }
  }

  /** Milliseconds and count of GC, summed over collectors. */
  def gcTotals(): Seq[Long] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Seq(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** GC milliseconds and count spent in the forced collections below. */
  private val forcedGc = Array(0L, 0L)

  /** Old-generation occupancy right after a (forced) full collection. */
  def liveOldGenMb(): Double = {
    val g0 = gcTotals()
    System.gc()
    gcTotals().zip(g0).zipWithIndex.foreach { case ((x, y), i) => forcedGc(i) += x - y }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}
