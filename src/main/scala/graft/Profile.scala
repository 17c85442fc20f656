package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** Dev probe: one JSON line per query, from one session and one
  * listener. A row holds
  *   - `construction_jobs`: Spark jobs started while the frame was
  *     built — the driver round-trips of iterative operators, and every
  *     streaming fixture's stream;
  *   - `census`: operator counts of the executed tree ([[census]]);
  *   - `config`: what a [[DevQueries]] entry resolved from its input
  *     (n, cell counts, caps, …); null for an oracled query;
  *   - `samples` and `min`: seconds of `passes` timed runs after one
  *     untimed warm-up, each building the frame anew and writing it to a
  *     `noop` sink, caches cleared between runs (Bench's discipline);
  *   - `stages`: wall, tasks, GC, spill and shuffle bytes of each stage
  *     over 500 ms — plan problems (spill, fat shuffles) apart from host
  *     noise (GC, gaps between cheap stages);
  *   - `progress`: per-batch progress of every stream the build ran,
  *     on cloned sessions too;
  *   - `error`: the query's failure, if any.
  * With `planDir`, the formatted plan goes to `<planDir>/<name>.txt`,
  * with the construction job count as trailer.
  *
  * `runMain graft.Profile <sfDir> <names|prefixes> [passes] [planDir]`:
  * each comma-separated token selects the query of that name, or else
  * every query whose name starts with it, among [[SparkEntry.queries]]
  * and the `dev_*` [[DevQueries]]. `passes` = 0 only builds.
  */
object Profile {

  final case class Record(query: String, constructionJobs: Int, census: JValue,
      config: JValue, samples: Seq[Double], stages: Seq[JValue],
      progress: Seq[StreamingQueryProgress], error: Option[String]) {
    def json(sfDir: String): String = compact(JObject(
      "query" -> JString(query),
      "construction_jobs" -> JInt(constructionJobs),
      "census" -> census,
      "config" -> config,
      "samples" -> JArray(samples.map(JDouble(_)).toList),
      "min" -> (if (samples.isEmpty) JNull else JDouble(samples.min)),
      "stages" -> JArray(stages.toList),
      "progress" -> JArray(progress.map(p => parse(p.json)).toList),
      "error" -> error.fold[JValue](JNull)(JString(_)),
      "sf" -> JString(sfDir)))
  }

  private val CountedOps = Seq("exchanges" -> "ShuffleExchange",
    "reusedEx" -> "ReusedExchange", "bcastEx" -> "BroadcastExchange",
    "sortAgg" -> "SortAggregate", "objAgg" -> "ObjectHashAggregate",
    "expand" -> "Expand", "window" -> "Window")

  private val JoinOps = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Count operators by a TREE WALK, not the plan string: a settled
    * (persisted) query's adaptive plan prints BOTH its final and initial
    * sections in toString, double-counting every operator. The walk
    * descends into adaptive plans' CURRENT physical plan, query stages,
    * and cached InMemoryRelations, and counts ReusedExchange separately
    * (a reuse is plan-tree sharing, not an extra shuffle).
    */
  def census(plan: SparkPlan): JValue = {
    val kinds = walk(plan).groupBy(_.getClass.getSimpleName.stripSuffix("Exec"))
      .view.mapValues(_.size).toMap
    def c(op: String) = kinds.getOrElse(op, 0)
    JObject(CountedOps.map { case (key, op) => key -> JInt(c(op)) }.toList :+
      ("joins" -> JObject(JoinOps.filter(c(_) > 0).map(j => j -> JInt(c(j))).toList)))
  }

  /** Every operator in the EXECUTED tree exactly once — dedup is by
    * OBJECT IDENTITY, so a subtree referenced twice (stage reuse —
    * `QueryStageExec.plan` can itself be a ReusedExchange whose target
    * is only reachable through it) is still counted once, and a
    * subtree reachable ONLY through a reuse node is not lost.
    */
  private def walk(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case r: ReusedExchangeExec => go(r.child)
        case r: ReusedSubqueryExec => go(r.child)
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case m: InMemoryTableScanExec => go(m.relation.cachedPlan)
        case other => other.children.foreach(go)
      }
    }
    go(root)
    out.toSeq
  }

  /** The one listener. Progress arrives through `onOtherEvent`, which
    * also sees queries started on cloned sessions.
    */
  private final class Recorder extends SparkListener {
    val jobs = new AtomicInteger()
    val stages = new ConcurrentLinkedQueue[JValue]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
      if (wall > 500) {
        val m = si.taskMetrics
        stages.add(JObject("stage" -> JInt(si.stageId), "wall_ms" -> JInt(wall),
          "tasks" -> JInt(si.numTasks), "gc_ms" -> JInt(m.jvmGCTime),
          "spill_bytes" -> JInt(m.memoryBytesSpilled),
          "shuffle_write_bytes" -> JInt(m.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> JInt(m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead)))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress); ()
      case _ =>
    }
  }

  /** Query names selected by comma-separated `tokens`. */
  def select(tokens: String): Seq[String] = {
    val all = (SparkEntry.queries.keys ++ DevQueries.queries.keys).toSeq.sorted
    tokens.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { t =>
      val hit = if (all.contains(t)) Seq(t) else all.filter(_.startsWith(t))
      require(hit.nonEmpty, s"no query is named or prefixed '$t'")
      hit
    }.distinct
  }

  /** The frame of query `name` and its resolved config. */
  private def build(spark: SparkSession, sfDir: String, name: String): (DataFrame, JValue) =
    SparkEntry.queries.get(name) match {
      case Some(q) => (q(spark, sfDir), JNull)
      case None => DevQueries.queries(name)(spark, sfDir)
    }

  /** One query's row; the listener is registered only while it runs. */
  def profile(spark: SparkSession, sfDir: String, name: String, passes: Int,
      planDir: Option[java.io.File] = None): Record = {
    val sc = spark.sparkContext
    val rec = new Recorder
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(rec)
    try {
      val (df, config) = build(spark, sfDir, name)
      Bridge.drainListenerBus(sc)
      val jobs = rec.jobs.get()
      val progress = rec.progress.asScala.toSeq
      val counts = census(df.queryExecution.executedPlan)
      planDir.foreach { dir =>
        dir.mkdirs()
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"), "UTF-8")
        try {
          w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          w.println(s"-- construction jobs: $jobs")
        } finally w.close()
      }
      val samples = if (passes == 0) Nil else {
        df.write.format("noop").mode("overwrite").save() // warm-up, untimed
        spark.catalog.clearCache()
        (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          build(spark, sfDir, name)._1.write.format("noop").mode("overwrite").save()
          val elapsed = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          elapsed
        }
      }
      Bridge.drainListenerBus(sc)
      Record(name, jobs, counts, config, samples, rec.stages.asScala.toSeq, progress, None)
    } catch {
      case NonFatal(e) =>
        Bridge.drainListenerBus(sc)
        Record(name, rec.jobs.get(), JNull, JNull, Nil, rec.stages.asScala.toSeq,
          rec.progress.asScala.toSeq,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    } finally {
      spark.catalog.clearCache()
      sc.removeSparkListener(rec)
    }
  }

  /** The dev mains' session: `local[$SPARK_GRAFT_CPUS]`, as many
    * shuffle partitions, UTC, no UI, ERROR logging.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <names|prefixes> [passes] [planDir]")
    val sfDir = args(0)
    val names = select(args(1))
    val passes = if (args.length > 2) args(2).toInt else 3
    val planDir = args.lift(3).map(new java.io.File(_))
    val spark = session()
    try names.foreach(n => println(profile(spark, sfDir, n, passes, planDir).json(sfDir)))
    finally spark.stop()
  }
}
