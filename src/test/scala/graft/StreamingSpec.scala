package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import graft.streaming.{EventStream, Session}

/** Streaming pipelines run incrementally (MemoryStream → memory sink)
  * and agree with their batch counterparts.
  */
class StreamingSpec extends SparkSpec {

  private def ckpt(): String =
    graft.core.TempDirs.create("graft-ckpt")

  /** Run `body` with a listener on the session's context, and return its
    * result with the progress JSON of every state operator the streams
    * it started reported: operator names and the provider's custom
    * metrics (`rocksdb*` keys only under RocksDB). The listener also
    * sees streams started on cloned sessions. Source and sink
    * descriptions are left out: their paths carry the fixture's name
    * (`st_dedup_rocksdb/out`), which would pass a "rocksdb" check on
    * any provider.
    */
  private def progressDuring[A](body: => A): (A, String) = {
    val (out, progress) = progressEvents(body)
    (out, progress.flatMap(_.stateOperators.map(_.json)).mkString("\n"))
  }

  /** Run `body` and return its result with the progress of every batch
    * of the streams it started, in the order the batches ran.
    */
  private def progressEvents[A](body: => A): (A, Seq[StreamingQueryProgress]) = {
    val sc = spark.sparkContext
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress)
        case _ =>
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, progress.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("streaming word count matches batch on the same lines") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = EventStream.wordCount(in.toDF().withColumnRenamed("value", "value"))
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").option("checkpointLocation", ckpt()).start()
    in.addData("The quick fox", "the (quick). fox ...")
    q.processAllAvailable()
    val got = spark.table("wc_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the word repartition already has the stateful aggregate's
    // distribution, so the planner adds no second exchange
    val shuffles = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
    q.stop()
    assert(got == Map("the" -> 2L, "quick" -> 2L, "fox" -> 2L, "..." -> 1L))
    assert(shuffles.size == 1, shuffles.mkString("\n"))
  }

  test("watermarked hourly counts emit one row per (hour, type)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").option("checkpointLocation", ckpt()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData(
      (t("2026-01-01 10:05:00"), "click", 1.0),
      (t("2026-01-01 10:55:00"), "click", 2.0),
      (t("2026-01-01 11:05:00"), "view", 5.0))
    q.processAllAvailable()
    val got = spark.table("hourly_stream")
      .select(date_format(col("hour"), "HH").as("h"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    assert(got == Map(("10", "click") -> 2L, ("11", "view") -> 1L))
  }

  test("file-source streaming word count over reference chunks") {
    import org.apache.spark.sql.functions.col
    (0 to 2).foreach(i => requireCorpus(s"/root/reference/file_chunks/$i.txt"))
    val dir = graft.core.TempDirs.path("graft-stream-in")
    // seed with two real corpus chunks; the stream picks them up as files
    for (i <- 0 to 1) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/reference/file_chunks/$i.txt"),
        dir.resolve(s"$i.txt"))
    }
    val q = EventStream.wordCountStream(spark, dir.toString)
      .writeStream.format("memory").queryName("wc_files")
      .outputMode("complete").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    val afterTwo = spark.table("wc_files")
      .agg(org.apache.spark.sql.functions.sum("count")).collect()(0).getLong(0)
    // a third file arrives: counts grow incrementally, no reprocessing
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/file_chunks/2.txt"),
      dir.resolve("2.txt"))
    q.processAllAvailable()
    val afterThree = spark.table("wc_files")
      .agg(org.apache.spark.sql.functions.sum("count")).collect()(0).getLong(0)
    q.stop()
    // batch ground truth on the same three files
    val batch = graft.core.WordCount
      .run(spark, Seq(dir.toString + "/*.txt"))
      .agg(org.apache.spark.sql.functions.sum("count")).collect()(0).getLong(0)
    assert(afterThree == batch, "streaming total must equal batch total")
    assert(afterTwo < afterThree, "counts must grow as files arrive")
  }

  test("checkpoint recovery: a killed aggregate stream resumes exactly-once") {
    // the operational property every production stream leans on: stop a
    // stateful query mid-input, start a NEW query from the same
    // checkpoint with more files present, and the recovered state-store
    // aggregate must equal the batch answer over ALL input — nothing
    // reprocessed (no double counts), nothing lost. The delta-log sink
    // (foreachBatch append, latest batch wins per key) survives the
    // restart, unlike a memory sink.
    import org.apache.spark.sql.DataFrame
    val srcDir = graft.core.TempDirs.path("graft-recover-src")
    val deltaDir = graft.core.TempDirs.create("graft-recover-delta")
    val chk = ckpt()
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val lines = spark.readStream
        .schema("value STRING")
        .option("maxFilesPerTrigger", "1")
        .text(srcDir.toString)
      EventStream.wordCount(lines).writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(deltaDir)
        }
        .start()
    }
    java.nio.file.Files.write(srcDir.resolve("a.txt"),
      "alpha beta alpha\n".getBytes("UTF-8"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // the "crash": state lives only in the checkpoint now
    java.nio.file.Files.write(srcDir.resolve("b.txt"),
      "beta gamma beta\n".getBytes("UTF-8"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("word").orderBy(col("batch_id").desc)
    val got = spark.read.parquet(deltaDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly-once across the restart: alpha counted in run 1 only,
    // beta accumulated ACROSS the restart (1 + 2), gamma in run 2 only
    assert(got == Map("alpha" -> 2L, "beta" -> 3L, "gamma" -> 1L), got.toString)
  }

  test("stream-stream join recovers its two-sided state across a checkpoint restart") {
    joinRecoveryCycle(spark, rocksDb = false)
  }

  test("the SAME kill-and-restore cycle recovers from a RocksDB checkpoint") {
    // r6 pinned recovery on the heap provider and RocksDB eviction
    // separately; this closes the composition — state written by
    // RocksDBStateStoreProvider, crash, restore FROM the RocksDB
    // checkpoint files, with the provider asserted from progress JSON
    // on the restarted query.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.queries.StreamingQueries.RocksDbProvider)
    joinRecoveryCycle(ns, rocksDb = true)
  }

  /** The three-phase kill-and-restore cycle, parameterized on the
    * session (and so on the state store provider it carries).
    */
  private def joinRecoveryCycle(spark: org.apache.spark.sql.SparkSession,
      rocksDb: Boolean): Unit = {
    import spark.implicits._
    // st_join's three-phase eviction model with a CRASH between phase 2
    // and phase 3: the restarted query must recover both sides' join
    // state AND the watermark from the checkpoint, so (a) a re-sent
    // pre-eviction click still contributes ZERO pairs — late-drop and
    // partner-eviction survive the restart — while (b) a fresh click
    // joining RETAINED error state still pairs, proving recovery kept
    // the live state rather than dropping everything.
    val srcDir = graft.core.TempDirs.create("ssj_src")
    val chk = ckpt()
    val out = graft.core.TempDirs.create("ssj_out")
    val t0 = 1700000000000000L // micros, ms-aligned
    val minUs = 60L * 1000000
    val hourUs = 60 * minUs
    def write(name: String, mtime: Long, rows: (Long, Long, Long, String)*): Unit = {
      val scratch = graft.core.TempDirs.create("ssj_stage")
      rows.toSeq.toDF("event_id", "us", "user_id", "event_type")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
    }
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      def src() = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val clicks = src().where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val errors = src().where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      errors.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
            col("c_ts") <= col("e_ts") + expr("INTERVAL 5 MINUTES"))
        .select("error_id", "user_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    // phase 1: u1's error+click pair OLD (at t0); fresh click (u2) and
    // fresh error (u3) at t0+10h set the watermark to t0+9h — u1's
    // state is expired under it, u3's error is retained
    write("p0.parquet", 1700000000000L,
      (100L, t0, 1L, "error"), (101L, t0 + 2 * minUs, 1L, "click"),
      (102L, t0 + 10 * hourUs, 2L, "click"), (103L, t0 + 10 * hourUs, 3L, "error"))
    // phase 2: a batch boundary at which u1's expired state is evicted
    write("p1.parquet", 1700000060000L, (104L, t0 + 10 * hourUs, 9L, "neither"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // the "crash"
    // phase 3, AFTER the crash: u1's click re-sent (must add zero
    // pairs) + a fresh u3 click in-band with the retained u3 error
    write("p2.parquet", 1700000120000L,
      (105L, t0 + 2 * minUs, 1L, "click"),
      (106L, t0 + 10 * hourUs + 2 * minUs, 3L, "click"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // non-vacuity: the restarted query genuinely ingested phase 3
      assert(q2.recentProgress.map(_.numInputRows).sum > 0L)
      // the restarted query runs on the session's provider: rocksdb*
      // custom metrics exist in progress iff RocksDB is active
      val progress = q2.recentProgress.map(_.json).mkString("\n")
      assert(progress.contains("rocksdb") === rocksDb,
        s"provider mismatch (rocksDb=$rocksDb) in restarted progress:\n$progress")
    } finally q2.stop()
    val pairs = spark.read.parquet(out)
      .groupBy("error_id", "user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // u1's pair formed once (phase 1, never re-added by the re-send);
    // u3's pair formed post-restart from RECOVERED error state
    assert(pairs === Map((100L, 1L) -> 1L, (103L, 3L) -> 1L), pairs.toString)
  }

  test("stateful sessionize closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[graft.streaming.UserEvent]
    val sessions = EventStream.sessionize(spark, in.toDS())
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    def ev(u: Long, s: String) =
      graft.streaming.UserEvent(u, java.sql.Timestamp.valueOf(s))
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    // user 1: two events 5 min apart, then a 60-min gap, then one more —
    // the first session closes when the post-gap event arrives.
    in.addData(ev(1, "2026-01-01 10:00:00"), ev(1, "2026-01-01 10:05:00"))
    q.processAllAvailable()
    in.addData(ev(1, "2026-01-01 11:05:00"))
    q.processAllAvailable()
    // user 2 appears much later: the watermark advance fires user 1's
    // event-time timeout (11:05 + 30 min), closing the idle session.
    in.addData(ev(2, "2026-01-01 13:00:00"))
    q.processAllAvailable()
    val got = spark.table("sess_stream").as[graft.streaming.Session].collect().toSet
    q.stop()
    assert(got == Set(
      Session(1L, us("2026-01-01 10:00:00"), us("2026-01-01 10:05:00"), 2L),
      Session(1L, us("2026-01-01 11:05:00"), us("2026-01-01 11:05:00"), 1L)))
  }

  test("dropDuplicatesWithinWatermark: evicted keys readmit, retained keys drop") {
    import spark.implicits._
    // The minimal fixture of st_dedup's three-phase model: phase 1
    // seeds keys OLD (ts far below the eventual watermark) and NEW
    // (inside the horizon); phase 2 is the advancer batch at which the
    // engine physically evicts OLD's expired state; phase 3 re-sends
    // both keys at a fresh event time. OLD must be READMITTED (state
    // gone), NEW must be dropped as the duplicate it is.
    val src = graft.core.TempDirs.create("ddw_src")
    val t0 = 1700000000000000L // micros, ms-aligned
    val hourUs = 3600L * 1000000
    def write(name: String, mtime: Long, rows: (Long, Long)*): Unit = {
      val scratch = graft.core.TempDirs.create("ddw_stage")
      rows.toSeq.toDF("k", "us")
        .select(col("k"), timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(src, name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    // phase 1: OLD at t0, NEW at t0+10h. Watermark after phase 1 =
    // t0+10h − 1h = t0+9h: OLD's expiry (t0+1h) is far below it, NEW's
    // (t0+11h) far above.
    write("p0.parquet", 1700000000000L, 1L -> t0, 2L -> (t0 + 10 * hourUs))
    // phase 2: advancer (fresh key, same max ts) — eviction runs here
    write("p1.parquet", 1700000060000L, 99L -> (t0 + 10 * hourUs))
    // phase 3: both keys re-arrive at the (never late) max event time
    write("p2.parquet", 1700000120000L, 1L -> (t0 + 10 * hourUs), 2L -> (t0 + 10 * hourUs))
    val deduped = spark.readStream.schema("k BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val sink = s"ddw_sink_${System.nanoTime()}"
    val q = deduped.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table(sink).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(emitted(1L) === 2L, s"evicted key must be readmitted: $emitted")
    assert(emitted(2L) === 1L, s"retained key must swallow its duplicate: $emitted")
    assert(emitted(99L) === 1L)
  }

  test("st_dedup_rocksdb genuinely runs on the RocksDB state store, result-invisibly") {
    import graft.queries.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    // Default provider first: progress must NOT carry rocksdb metrics —
    // this also proves the RocksDB conf stays scoped to its own session
    // (st_dedup after st_dedup_rocksdb would otherwise inherit it).
    val (heap, heapProgress) = progressDuring(StreamingQueries.stDedup(spark, dir).collect().toSeq)
    assert(heapProgress.nonEmpty && !heapProgress.contains("rocksdb"),
      "default provider run must not report RocksDB custom metrics")
    // The per-batch progress JSON names the state operator's custom
    // metrics, and the rocksdb* keys exist only under the RocksDB
    // provider — the strongest in-band proof the provider was active.
    val (rocks, rocksProgress) =
      progressDuring(StreamingQueries.stDedupRocksDb(spark, dir).collect().toSeq)
    assert(rocksProgress.contains("rocksdb"),
      s"expected RocksDB custom metrics in query progress:\n$rocksProgress")
    assert(rocks === heap, "provider swap must be semantics-invisible")
    // And the heap run after it is still on the default provider.
    val (_, afterProgress) = progressDuring(StreamingQueries.stDedup(spark, dir).collect())
    assert(!afterProgress.contains("rocksdb"),
      "RocksDB conf leaked out of its isolated session")
  }

  test("st_join_rocksdb runs two-sided join state on RocksDB, result-invisibly") {
    import graft.queries.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    // Heap run first: its progress must carry no rocksdb metrics (the
    // dedup test already pins that the override cannot leak BETWEEN
    // sessions; this pins the join query's own default).
    val (heap, heapProgress) = progressDuring(StreamingQueries.stJoin(spark, dir).collect().toSeq)
    assert(heapProgress.nonEmpty && !heapProgress.contains("rocksdb"),
      "default provider join run must not report RocksDB custom metrics")
    val (rocks, rocksProgress) =
      progressDuring(StreamingQueries.stJoinRocksDb(spark, dir).collect().toSeq)
    assert(rocksProgress.contains("rocksdb"),
      s"expected RocksDB custom metrics in join query progress:\n$rocksProgress")
    // Semantics-invisible INCLUDING the three-phase eviction gates: the
    // phase-3 re-sends must still contribute zero pairs under RocksDB.
    assert(rocks === heap, "provider swap must be semantics-invisible")
  }

  test("session-window append boundary: end == watermark emits; sub-ms past it withholds") {
    import spark.implicits._
    // Pins the eviction predicate the st_session_window oracle replays:
    // Spark compares the session end in RAW MICROS against the
    // MS-FLOORED watermark, and emits on <= (reaching the boundary
    // counts). Two crafted fixtures, one per boundary direction.
    val gapUs = 30L * 60 * 1000000
    def emittedUsers(rows: Seq[(Long, Long)]): Set[Long] = {
      val src = graft.core.TempDirs.create("swb_src")
      rows.toDF("user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(src)
      val ev = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "0 seconds")
      val agg = ev.groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val sink = s"swb_sink_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sink).select("user_id").as[Long].collect().toSet
    }
    val t0 = 1700000000000000L // ms-aligned micros
    // user 1's session end (t0 + gap) lands EXACTLY on the terminal
    // watermark millisecond → emitted (<=, not <)
    assert(emittedUsers(Seq(1L -> t0, 2L -> (t0 + gapUs))) === Set(1L))
    // end is inside the watermark's millisecond but 500 us past its
    // micro value → withheld (raw-micros comparison, no ms rounding up)
    assert(emittedUsers(Seq(1L -> (t0 + 500L), 2L -> (t0 + gapUs + 900L))) === Set.empty)
  }

  test("st_wc_update replays its eight files in the same order on every run") {
    import graft.queries.StreamingQueries
    def inputRows(): Seq[Long] =
      progressEvents(StreamingQueries.stWcUpdate(spark, "/root/testdata/sf0.001"))._2
        .map(_.numInputRows)
    val first = inputRows()
    // 500 documents over 8 files: sizes 62 and 63, so the order shows
    assert(first.count(_ > 0) == 8 && first.distinct.size > 1, first)
    assert(inputRows() === first)
  }

  test("st_tws_ttl: expired keys provably restart from zero, live keys telescope") {
    import graft.queries.StreamingQueries
    val (rows, progress) = progressDuring(StreamingQueries.stTwsTtl(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(progress.contains("transformWithState"),
      s"expected the transformWithState operator in progress:\n$progress")
    assert(progress.contains("rocksdb"),
      "transformWithState requires the RocksDB provider — metrics missing")
    // phase structure replayed independently: per-user batch sizes for
    // each phase from the raw events
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("user_id", "CAST(event_id % 3 AS INT) AS phase")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val perPhase = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def nb(u: Long, p: Int) = perPhase.getOrElse((u, p), 0L)
    val users = ev.map(_._1).distinct
    // non-vacuous: some user has live-phase data AND phase-2 data
    assert(users.exists(u => (nb(u, 0) + nb(u, 1)) > 0 && nb(u, 2) > 0),
      "fixture never exercises expiry-then-readmission")
    for (u <- users) {
      val expect = Seq(
        (nb(u, 0), nb(u, 0)),                    // phase 0: first sight
        (nb(u, 1), nb(u, 0) + nb(u, 1)),          // phase 1: telescopes
        (nb(u, 2), nb(u, 2))                      // phase 2: RESET
      ).filter(_._1 > 0)
      val got = rows.filter(_._1 == u).map(r => (r._2, r._3)).sorted
      assert(got === expect.sorted, s"user $u: got $got expected $expect")
    }
  }

  test("st_tws_count: transformWithState runs, state persists across batches") {
    import graft.queries.StreamingQueries
    // the new API's state operator is named in progress — in-band proof
    // transformWithState (not a fallback) executed, on RocksDB
    val (rows, progress) = progressDuring(StreamingQueries.stTwsCount(spark, "/root/testdata/sf0.001")
      .collect().toSeq)
    assert(progress.contains("transformWithState"),
      s"expected the transformWithState operator in progress:\n$progress")
    assert(progress.contains("rocksdb"),
      "transformWithState requires the RocksDB provider — metrics missing")
    // cross-batch persistence, non-vacuously: some user must emit in
    // more than one batch, and lifetime totals must telescope
    val byUser = rows.groupBy(_.getLong(0))
    assert(byUser.exists(_._2.size > 1), "fixture never exercised 2+ batches")
    for ((u, rs) <- byUser) {
      val ordered = rs.sortBy(_.getLong(2))
      val n = ordered.map(_.getLong(1)).sum
      assert(ordered.last.getLong(2) === n,
        s"user $u: final n_total ${ordered.last.getLong(2)} != sum of deltas $n")
    }
  }

  test("st_lsh_dedup: streaming admission evicts, readmits, and self-drops") {
    import graft.queries.StreamingQueries
    val (rows, progress) = progressDuring(StreamingQueries.stLshDedup(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4))).toSeq)
    assert(progress.contains("transformWithState"),
      s"expected the transformWithState operator in progress:\n$progress")
    assert(progress.contains("rocksdb"),
      "transformWithState requires the RocksDB provider — metrics missing")
    // banding completeness: every doc-instance probed with all 4 bands
    assert(rows.nonEmpty && rows.forall(_._3 === graft.queries.Dedup.Bands),
      "every document must carry exactly Bands band rows")
    def admitted(p: Int) = rows.filter(r => r._1 == p && r._5).map(_._2).toSet
    val (a0, a2) = (admitted(0), admitted(2))
    // phase 0 is non-trivial: the corpus has near-dups, so someone
    // collided on first arrival
    assert(a0.size < rows.count(_._1 == 0), "phase 0 never collided")
    // eviction fired: an old first-claimant's bands were deleted, so its
    // re-send was READMITTED
    assert((a0 & a2).nonEmpty, "no evicted claim was ever readmitted")
    // retention held: a recent claimant's re-send collided with its own
    // live claim (the exact-re-arrival drop)
    assert((a0 -- a2).nonEmpty, "no retained claim dropped its re-arrival")
  }

  test("LSH admission index survives a kill-and-restore from the RocksDB checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // two-run cycle over one checkpoint: run 1 admits doc 0 and rejects
    // its same-batch twin doc 1; after the "crash", the restarted query
    // must reject doc 2 (same content — the band claims live only in
    // the RocksDB checkpoint now) and admit fresh-content doc 3.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.queries.StreamingQueries.RocksDbProvider)
    val srcDir = graft.core.TempDirs.create("lshkr_src")
    val out = graft.core.TempDirs.create("lshkr_out")
    val chk = ckpt()
    val textA = "alpha beta gamma delta epsilon"
    val textB = "zulu yankee xray whiskey victor"
    val t0Us = 1700000000000000L
    def write(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val scratch = graft.core.TempDirs.create("lshkr_stage")
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(t0Us)).as("ts"), lit(0).as("phase"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
    }
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      import ns.implicits._
      val src = ns.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP, phase INT")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "1 hour")
      graft.queries.Dedup
        .bandsOf(src.select(col("doc_id"),
          graft.functions.WordShingles.of(col("text")).as("sh"),
          col("ts"), col("phase")), "ts", "phase")
        .select(concat(col("band_idx").cast("string"), lit(":"),
            col("band_val")).as("band_key"),
          col("doc_id"), col("phase"), col("ts"))
        .as[graft.streaming.LshBandEvent]
        .groupByKey(_.band_key)
        .transformWithState(new graft.streaming.LshAdmitter(3600L * 1000L),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    write("p0.parquet", 1700000000000L, 0L -> textA, 1L -> textA)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // the "crash"
    write("p1.parquet", 1700000060000L, 2L -> textA, 3L -> textB)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.map(_.numInputRows).sum > 0L,
        "restarted query ingested nothing")
      assert(q2.recentProgress.map(_.json).mkString.contains("rocksdb"),
        "restarted query is not on the RocksDB provider")
    } finally q2.stop()
    val coll = spark.read.parquet(out)
      .groupBy("doc_id")
      .agg(sum(when(col("collided"), 1).otherwise(0)).as("n_coll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bands = graft.queries.Dedup.Bands.toLong
    // doc 0: the claim; doc 1: same-batch min-doc loser; doc 2: rejected
    // by the RECOVERED claims; doc 3: fresh content, admitted
    assert(coll === Map(0L -> 0L, 1L -> bands, 2L -> bands, 3L -> 0L),
      coll.toString)
  }

  test("st_pipeline: composed ingest curation screens, admits, evicts, and self-drops") {
    import graft.queries.StreamingQueries
    val (rows, progress) = progressDuring(StreamingQueries.stPipeline(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(3), r.getString(4)))
      .toSeq) // (phase, doc_id, n_bands, stage)
    assert(progress.contains("transformWithState"),
      s"expected the transformWithState operator in progress:\n$progress")
    assert(progress.contains("rocksdb"),
      "the pipeline's admission index must run on the RocksDB provider")
    // banding completeness: train docs probe fp + all LSH bands, the
    // holdout diversion logs exactly one pass-through row
    val (hold, train) = rows.partition(_._4 == "holdout")
    assert(hold.nonEmpty && hold.forall(_._3 === 1),
      "holdout rows must carry exactly the one pass-through band")
    assert(train.nonEmpty &&
      train.forall(_._3 === graft.queries.Dedup.Bands + 1),
      "every train doc-instance must probe fingerprint + all LSH bands")
    def stages(p: Int) = rows.filter(_._1 == p).map(_._4).toSet
    // phase 0: the screens and the admission index all fire on the
    // real corpus (exact cannot — no byte dups; phase 2 supplies it)
    assert(Set("holdout", "near_dup", "kept").subsetOf(stages(0)), stages(0).toString)
    assert((stages(0) & Set("contam_lex", "contam_sem", "gopher")).nonEmpty,
      s"no stateless screen fired in phase 0: ${stages(0)}")
    // phase 2: live fingerprint claims self-drop their re-arrival...
    assert(stages(2).contains("exact"), "no live claim self-dropped its re-send")
    // ...while evicted claims re-admit and fall through to the screens
    assert((stages(2) - "exact" - "holdout").nonEmpty,
      "no evicted claim was ever readmitted to the screen stages")
    // screens are doc-constant: a phase-2 arrival that cleared BOTH
    // admission indexes (fp evicted + re-admitted, no band collision)
    // must land on exactly its phase-0 stage
    val p0stage = rows.filter(_._1 == 0).map(r => r._2 -> r._4).toMap
    val readmitted = rows.filter(r =>
      r._1 == 2 && r._4 != "exact" && r._4 != "near_dup" && r._4 != "holdout")
    assert(readmitted.nonEmpty)
    for ((_, d, _, st) <- readmitted)
      assert(p0stage(d) === st,
        s"doc $d: phase-2 stage $st != phase-0 stage ${p0stage(d)}")
  }

  test("pipeline admission survives a kill-and-restore; holdout never claims") {
    import spark.implicits._
    // run 1: doc 2 claims textA's fingerprint + bands, same-batch twin
    // doc 5 loses the min-doc race on every band. After the "crash",
    // doc 12 (textA again) must collide on the RECOVERED claims —
    // including the exact-fingerprint pseudo-band — doc 13 (fresh
    // textB) must admit clean, holdout doc 20 (textC) must log exactly
    // one collided=false pass-through row and leave NO claims, so
    // train doc 23 (textC) admits clean right after it.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.queries.StreamingQueries.RocksDbProvider)
    val srcDir = graft.core.TempDirs.create("pipekr_src")
    val out = graft.core.TempDirs.create("pipekr_out")
    val chk = ckpt()
    val textA = "alpha beta gamma delta epsilon"
    val textB = "zulu yankee xray whiskey victor"
    val textC = "one two three four five six"
    val t0Us = 1700000000000000L
    def write(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val scratch = graft.core.TempDirs.create("pipekr_stage")
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("s0").as("source"), lit(null).cast("array<float>").as("emb"),
          timestamp_micros(lit(t0Us)).as("ts"), lit(0).as("phase"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
    }
    // crafted screens: an eval shingle set and eval vector the fixture
    // texts never hit — the screens' VALUES are pinned by the oracled
    // gate; this test pins state recovery and the holdout diversion
    val screens = ns.range(1).select(
      array(lit("held out benchmark")).as("eval_sh"),
      array(struct(lit(9L).as("eval_id"),
        // array<float> like the real eval embeddings — the sem screen's
        // DotProduct kernel is float-typed (d9e0462)
        array(lit(1.0f), lit(0.0f)).as("emb"), lit(1.0).as("nrm"))).as("eval_vecs"),
      lit(1).as("__one"))
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val src = ns.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "emb ARRAY<FLOAT>, ts TIMESTAMP, phase INT")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "1 hour")
      graft.queries.StreamingQueries.pipelineVerdicts(ns, src, screens)
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    write("p0.parquet", 1700000000000L, 2L -> textA, 5L -> textA)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // the "crash"
    write("p1.parquet", 1700000060000L,
      12L -> textA, 13L -> textB, 20L -> textC, 23L -> textC)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val byDoc = spark.read.parquet(out)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("collided"), 1).otherwise(0)).as("n_coll"),
        min("band_idx").as("min_band"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    val nb = graft.queries.Dedup.Bands.toLong + 1 // fp + LSH bands
    assert(byDoc === Map(
      2L -> ((nb, 0L, -1)), 5L -> ((nb, nb, -1)),
      12L -> ((nb, nb, -1)), 13L -> ((nb, 0L, -1)),
      20L -> ((1L, 0L, -2)), 23L -> ((nb, 0L, -1))), byDoc.toString)
  }

  test("st_tws_session: v2 timer sessionization == legacy flatMapGroupsWithState") {
    import graft.queries.StreamingQueries
    // the two state APIs run the SAME gap semantics over the same
    // source; their per-user (n_sessions, n_events) aggregates must be
    // row-identical — the in-engine twin of the shared-oracle contract
    // (timer firing on a different watermark boundary than the legacy
    // event-time timeout would break this)
    val v2 = StreamingQueries.stTwsSession(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val legacy = StreamingQueries.defs("st_sessionize")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(v2.nonEmpty, "fixture produced no closed sessions")
    assert(v2 === legacy, s"v2 timers diverged from legacy timeouts:\n$v2\nvs\n$legacy")
  }
}
