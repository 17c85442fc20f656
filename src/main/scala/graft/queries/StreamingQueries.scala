package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.streaming.EventStream
import graft.QueryModule

/** Batch≡stream equivalence under the driver's DuckDB oracle: each query
  * runs a [[graft.streaming.EventStream]] pipeline TO COMPLETION over the
  * same parquet its batch twin reads, and is checked against the batch
  * twin's oracle SQL (`st_word_count` ↔ `wc_word_count`, `st_hourly` ↔
  * `q15_events_hourly`). This pins the incremental engine's final state
  * to the batch semantics — the one component VERDICT r2 listed as
  * tested-but-unoracled.
  *
  * Two harness shapes, both under the gate:
  *   - Complete → memory sink (`st_word_count`, `st_hourly`): the full
  *     aggregate is the state, collected to the driver — the simplest
  *     oracle harness (≤ distinct-keys rows).
  *   - The PRODUCTION shapes (`st_hourly_append`, `st_wc_update`):
  *     Append mode to a parquet FILE sink with the watermark actually
  *     evicting window state, and Update mode whose per-batch deltas a
  *     `foreachBatch` upserts to a parquet delta log — then the sink is
  *     READ BACK and reconciled against the batch oracle. State is
  *     watermark-bounded (append) / per-key (update); nothing aggregate-
  *     sized ever sits on the driver.
  */
object StreamingQueries extends QueryModule {

  /** Per-run UNIQUE root for stream sinks/checkpoints/staging — two
    * concurrent harness runs on one host must never share (or race on)
    * a checkpoint or sink directory.
    */
  private lazy val streamRoot: String =
    graft.core.TempDirs.create("graft_stream_")

  /** Fresh local directory for a stream's sink/checkpoint — recreated
    * empty every run so re-runs never resume a stale checkpoint.
    */
  private def freshDir(name: String): String = {
    val base = java.nio.file.Paths.get(streamRoot, name)
    if (java.nio.file.Files.exists(base)) {
      val walk = java.nio.file.Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(base)
    base.toString
  }

  /** Watermark-eviction harness constants ([[stDedup]], [[stJoin]]):
    * 1 h watermark delay, a 10 min guard band around every eviction
    * boundary (Spark tracks watermarks in MILLISECONDS and the eviction
    * comparison's strictness is an implementation detail — no re-sent
    * row is ever within the band, so either convention yields the same
    * result), and the ±5 min join band of q29.
    */
  private val DelayUs = 3600L * 1000000L
  private val MarginUs = 600L * 1000000L
  private val BandUs = 300L * 1000000L

  /** Stage each phase DataFrame as exactly ONE parquet file under a
    * fresh source directory, with strictly increasing modification
    * times. A `maxFilesPerTrigger=1` file stream then replays the
    * phases as separate, ORDERED micro-batches (FileStreamSource
    * processes pending files in modification-time order), which is what
    * lets [[stDedup]]/[[stJoin]] pin watermark eviction deterministically:
    * phase N+1's arrivals are processed strictly after phase N's
    * watermark took effect — no file-ordering race.
    */
  private[graft] def stagePhases(s: SparkSession, name: String, phases: Seq[DataFrame]): String = {
    val srcDir = freshDir(s"$name/src")
    stampInOrder(phases.zipWithIndex.map { case (df, i) =>
      val scratch = freshDir(s"$name/stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val dst = java.nio.file.Paths.get(srcDir, f"phase-$i%02d.parquet")
      java.nio.file.Files.move(parquetParts(scratch).head.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.toFile
    })
    srcDir
  }

  private def parquetParts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Give `files` strictly increasing modification times, in order: the
    * order a file stream replays them in. On a filesystem where the
    * mtime cannot be set the replay would be arbitrarily ordered, and
    * order-dependent oracles would fail as a baffling hash mismatch, so
    * that is a setup error instead.
    */
  private def stampInOrder(files: Seq[java.io.File]): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(1700000000000L + i * 60000L),
        s"could not set modification time on $f — replay order undefined")
    }

  /** Start `writer` on a fresh checkpoint under `name`, process all
    * available input, and stop — in `finally`, so a failed batch never
    * leaves the query running.
    */
  private[graft] def drain(writer: DataStreamWriter[_], name: String): Unit = {
    val q = writer.option("checkpointLocation", freshDir(s"$name/chk")).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Start `agg` in Complete mode into a memory sink, drain all available
    * input, stop, and return the sink table. Complete mode keeps the full
    * aggregate state, so the final table equals the batch aggregate — the
    * watermark still runs but evicts nothing the comparison needs.
    */
  private def runToCompletion(s: SparkSession, agg: DataFrame, sink: String): DataFrame = {
    drain(agg.writeStream.format("memory").queryName(sink).outputMode("complete"), sink)
    s.table(sink)
  }

  /** Streaming twin of `wc_word_count`: the reference pipeline
    * (tokenize → normalize → filter → count) run incrementally over the
    * documents parquet as a file-stream source.
    */
  def stWordCount(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    // file-stream sources require an explicit schema; take it from the
    // batch reader's footer inference so the two paths can never skew.
    // The char-class glob below ([d]) is because the testdata "table" is
    // a single FILE: FileStreamSource requires a directory or a glob,
    // and a glob makes it use the parent dir as basePath.
    val schema = s.read.parquet(path).schema
    val lines = s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet")
      .select(col("text").as("value"))
    runToCompletion(s, EventStream.wordCount(lines).withColumnRenamed("count", "cnt"),
      "st_word_count_sink")
      .orderBy("word")
  }

  /** Streaming twin of `q15_events_hourly`: watermarked event-time
    * tumbling windows over the events parquet (same TIMESTAMP(NANOS) →
    * micros handling as [[graft.sources.Tables.events]]), formatted to
    * the batch query's output columns after the run.
    */
  def stHourly(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
    runToCompletion(s, EventStream.hourlyCounts(ev), "st_hourly_sink")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Streaming twin of `q35_sliding_window`: overlapping event-time
    * windows (1 h / 15 min slide) run incrementally to completion —
    * batch≡stream equivalence for the multi-assignment window shape,
    * checked against the batch query's oracle verbatim.
    */
  def stSliding(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
    runToCompletion(s, EventStream.slidingCounts(ev), "st_sliding_sink")
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n_events"))
      .orderBy("w_start", "event_type")
  }

  /** STREAM-STREAM inner join with LIVE watermark eviction — errors and
    * clicks arrive as two independent streams (two branches over the
    * same phased file source) and join on user within a ±5 min
    * event-time band — the streaming twin of `q29_range_join`, checked
    * against its oracle verbatim. The time-range condition is what lets
    * Spark bound each side's join state to the band plus the watermark
    * delay, and the FINITE 1-hour delay makes that bound live:
    *
    *   - phase 1: the full events table — both sides ingest with the
    *     initial watermark, so every q29 pair forms in this batch.
    *   - phase 2: a fresh-timestamped advancer (neither click nor
    *     error) — a batch boundary at which both sides' expired state
    *     is physically evicted under the phase-1 watermark.
    *   - phase 3: RE-SENT copies of old clicks (same event time, now
    *     far below the watermark). A correct engine contributes ZERO
    *     new pairs — the rows are late input AND their only band-
    *     mates' error state is evicted (a 10 min guard band keeps both
    *     classifications clear of the ms-precision boundary; the
    *     re-send cut anchors on least(max click ts, max error ts),
    *     the value the query-global watermark actually takes). An
    *     engine without eviction/late-drop doubles n_nearby_clicks
    *     for every affected pair and hash-fails against the batch
    *     oracle.
    *
    * Raw matched pairs go append-mode to a parquet sink and are
    * aggregated on read-back (same pattern as [[stHourlyAppend]] — no
    * aggregate state stacked on join state).
    */
  def stJoin(s: SparkSession, dir: String): DataFrame =
    stJoinCore(s, dir, "st_join", rocksDb = false)

  /** [[stJoin]]'s exact three-phase eviction fixture re-run on the
    * RocksDB state store provider — the join-state counterpart of
    * [[stDedupRocksDb]], and the harder case: a stream-stream join
    * keeps BOTH sides' rows keyed by (join key, event time) and
    * evicts each side against the query-global watermark, so at
    * 100 TB/day join state (band × key-arrival volume × 2 sides)
    * outgrows the heap provider long before a dedup horizon does.
    * Same q29 batch oracle verbatim — the provider swap must be
    * semantics-invisible INCLUDING the late-drop and partner-eviction
    * behavior the three phases pin; StreamingSpec asserts the
    * provider was genuinely active from the captured progress.
    */
  def stJoinRocksDb(s: SparkSession, dir: String): DataFrame =
    stJoinCore(s, dir, "st_join_rocksdb", rocksDb = true)

  private def stJoinCore(s0: SparkSession, dir: String, name: String,
      rocksDb: Boolean): DataFrame = {
    // Isolated session for the provider override — same reasoning as
    // [[stDedupCore]]: the conf is read at stream start and must not
    // leak into other streaming queries on the caller's session.
    val s = if (rocksDb) rocksDbSession(s0) else s0
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = s.read.parquet(s"$dir/events.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val mx = ev.agg(
      max(when(col("event_type") === "click", col("ts"))).as("max_click"),
      max(when(col("event_type") === "error", col("ts"))).as("max_error"),
      max("ts").as("tmax"))
    // the query-global watermark is the MIN over both branches' nodes,
    // each fed only its own event type — anchor the re-send cut there
    val wmBaseUs = unix_micros(least(col("max_click"), col("max_error"))) - lit(DelayUs)
    val resent = ev.crossJoin(broadcast(mx)) // 1-row stats broadcast
      .where(col("event_type") === "click" &&
        unix_micros(col("ts")) + lit(BandUs) + lit(MarginUs) < wmBaseUs)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val advancer = mx.select(lit(-1L).as("event_id"), col("tmax").as("ts"),
      lit(-1L).as("user_id"), lit("wm_advancer").as("event_type"))
    val srcDir = stagePhases(s, name, Seq(ev, advancer, resent))
    def src(): DataFrame = s.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val clicks = src().where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = src().where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = errors.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
        col("c_ts") <= col("e_ts") + expr("INTERVAL 5 MINUTES"))
    val out = freshDir(s"$name/out")
    drain(joined.select("error_id", "user_id").writeStream
      .format("parquet")
      .option("path", out)
      .outputMode("append"), name)
    s.read.parquet(out)
      .groupBy("error_id", "user_id")
      .agg(count(lit(1)).as("n_nearby_clicks"))
      .orderBy("error_id")
  }

  /** The bounded-state PRODUCTION shape of st_hourly: Append mode to a
    * parquet FILE sink. A window row is written exactly once — when the
    * watermark (max event time − 30 min lateness) passes its end — and
    * its state is evicted at the same moment, so state never exceeds the
    * windows inside the lateness horizon and no aggregate ever sits on
    * the driver. The sink directory is then read back as the result.
    *
    * The oracle replays exactly what Append emits: every (hour,
    * event_type) group EXCEPT those the terminal watermark never passed
    * — window_end ms ≤ max_ts ms − 1 800 000 keeps a window open
    * (eviction fires when `end − 1 < watermark` in milliseconds; the
    * watermark advances after the data batch and the final no-data
    * micro-batch flushes everything it passed).
    */
  def stHourlyAppend(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
    val out = freshDir("st_hourly_append/out")
    drain(EventStream.hourlyCounts(ev).writeStream
      .format("parquet")
      .option("path", out)
      .outputMode("append"), "st_hourly_append")
    s.read.parquet(out)
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** The incremental-delta PRODUCTION shape of st_word_count: the corpus
    * split into 8 files streamed one per trigger (a genuinely
    * multi-batch run), Update mode emitting only the words whose counts
    * CHANGED each batch, and a `foreachBatch` appending those deltas —
    * stamped with the batch id — to a parquet delta log (the upsert
    * pattern for sinks without native update). The log is read back and
    * reconciled: each word's latest delta is its final count, which must
    * hash-equal the batch word count. Per-trigger output is
    * O(changed keys), driver holds nothing.
    */
  def stWcUpdate(s: SparkSession, dir: String): DataFrame = {
    val srcDir = freshDir("st_wc_update/src")
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("text").as("value"))
      .repartition(8)
      .write.mode("overwrite").parquet(srcDir)
    // the eight tasks race to write their files, so their mtimes would
    // replay them in a different order on each run
    stampInOrder(parquetParts(srcDir).sortBy(_.getName))
    val deltaDir = freshDir("st_wc_update/delta")
    val lines = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "value", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    drain(EventStream.wordCount(lines).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(deltaDir)
      }, "st_wc_update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("word").orderBy(col("batch_id").desc)
    s.read.parquet(deltaDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("word"), col("count").as("cnt"))
      .orderBy("word")
  }

  /** Stream-static ENRICHMENT join — the remaining streaming join shape
    * ([[stHourlyAppend]] covers windowed state, [[stSessionize]] custom
    * state): each arriving event is joined to the static customer
    * dimension (broadcast — the dim never streams, so each micro-batch
    * pays a map-side hash probe, no stream-stream state), then
    * aggregated per market segment. Checked against the batch join's
    * oracle (same SQL as the skew-join twin q27): enrichment must be
    * result-invisible to how the rows arrived.
    */
  def stEnrich(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .select(col("user_id"), col("value"))
    val cust = broadcast(s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment")))
    val agg = ev.join(cust, "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    runToCompletion(s, agg, "st_enrich_sink")
      .orderBy("c_mktsegment")
  }

  /** The STATEFUL path (flatMapGroupsWithState event-time sessionization)
    * under the oracle — the one streaming component st_word_count /
    * st_hourly (plain stateful aggregations) don't reach. Unlike those
    * twins this cannot reuse the batch oracle verbatim: event-time
    * timeout semantics mean each user's FINAL session stays open unless
    * the terminal watermark (= max event time, lateness 0) passes its
    * last_event + gap, so the oracle replicates exactly that — sessions
    * closed by a gap-break are always emitted; final sessions only when
    * (end_us + gap) ms < max_ts ms (Spark fires event-time timeouts on
    * strict watermark excess, in milliseconds).
    */
  def stSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("user_id"), col("ts")).as[graft.streaming.UserEvent]
    drain(EventStream.sessionize(s, ev, gapMinutes = 30).toDF()
      .writeStream.format("memory").queryName("st_sessionize_sink")
      .outputMode("append"), "st_sessionize")
    s.table("st_sessionize_sink")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming EXACT DEDUP with LIVE watermark eviction —
    * `dropDuplicatesWithinWatermark("event_id")` under a FINITE 1-hour
    * delay over a three-phase source ([[stagePhases]]):
    *
    *   - phase 1: the full events table — every key's first arrival,
    *     all emitted. The watermark after this batch is max(ts) − 1 h,
    *     so state for keys whose ts + 1 h fell behind it is evictable.
    *   - phase 2: one fresh-timestamped advancer row (new key) — a
    *     batch boundary at which the engine physically evicts the
    *     expired phase-1 state.
    *   - phase 3: re-arrivals of phase-1 keys at a FRESH event time
    *     (= max ts, never late). Keys whose state was EVICTED are
    *     readmitted — they appear in the output a second time; keys
    *     whose state was RETAINED (ts within 2 h of max) are dropped
    *     as duplicates. A 10 min guard band around the eviction
    *     boundary keeps the classification engine-exact.
    *
    * The oracle counts each event once, PLUS the evicted group again,
    * plus the advancer — so it distinguishes evicted-then-readmitted
    * from retained state: an engine that never evicts (or evicts the
    * wrong horizon) hash-fails. State is one (key, expiry) entry per
    * key inside the horizon — at 100 TB/day the delay bounds state to
    * the horizon's key-arrival volume, the reason this beats an
    * unbounded `dropDuplicates`.
    */
  def stDedup(s: SparkSession, dir: String): DataFrame =
    stDedupCore(s, dir, "st_dedup", rocksDb = false)

  /** [[stDedup]]'s exact three-phase eviction fixture re-run on the
    * RocksDB state store provider (Spark ships it in-box) — the
    * deployment shape for state that outgrows the executor heap: at
    * 100 TB/day the dedup horizon's key volume lives off-heap/on-disk
    * in RocksDB instances with incremental checkpointing, while the
    * heap provider caps state at executor memory. Same oracle as
    * st_dedup — the provider swap must be semantics-invisible,
    * including the physical eviction timing the three phases pin.
    * StreamingSpec asserts (from the captured query progress) that the
    * RocksDB provider was genuinely in use.
    */
  def stDedupRocksDb(s: SparkSession, dir: String): DataFrame =
    stDedupCore(s, dir, "st_dedup_rocksdb", rocksDb = true)

  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Isolated session for a RocksDB-backed stream — shared SparkContext,
    * own conf, so the provider override never leaks into other
    * streaming queries (the conf is read at stream start).
    *
    * Changelog checkpointing rides along: the default (changelog OFF)
    * re-snapshots each store's SST files into the checkpoint on EVERY
    * commit, so per-batch commit cost scales with LIVE STATE SIZE;
    * with it on, a commit writes only that batch's changes and SST
    * snapshots happen in background maintenance — commit cost scales
    * with the DELTA. That is the production posture for exactly the
    * reason it speeds the gate fixtures: at 100 TB/day the admission
    * index's live state (the watermark horizon) is orders of magnitude
    * larger than one micro-batch's updates. Semantics-invisible: a
    * checkpoint FORMAT choice, same state, same recovery contract
    * (StreamingSpec's kill-and-restore proves recovery through it).
    */
  private[graft] def rocksDbSession(s0: SparkSession): SparkSession = {
    val ns = s0.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    ns.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // Stream-stream join state format v3 (Spark 4): ONE RocksDB store
    // with virtual column families instead of FOUR stores per
    // partition — per-batch progress (graft.Profile) shows join-state
    // commit cost is per-store FIXED (a 55-row state commit costs the
    // same as 40k rows), so quartering the store count quarters the
    // per-batch commit overhead at any scale. RocksDB-only (the heap
    // twin stays v2 — v3 is unsupported there), read at stream start,
    // checkpoint-scoped; results are format-invisible and the same
    // q29 batch oracle gates them.
    ns.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    ns
  }

  private def stDedupCore(s: SparkSession, dir: String, name: String,
      rocksDb: Boolean): DataFrame = {
    // An isolated session (shared SparkContext, own conf) keeps the
    // provider override scoped to THIS query — the session conf is read
    // at stream start, so mutating the caller's session would leak the
    // provider into every streaming query started after us.
    val ss = if (rocksDb) rocksDbSession(s) else s
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = ss.read.parquet(s"$dir/events.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val mx = ev.agg(max("ts").as("tmax"))
    val withMax = ev.crossJoin(broadcast(mx)) // 1-row stats broadcast
    val tsUs = unix_micros(col("ts"))
    val wmUs = unix_micros(col("tmax")) - lit(DelayUs) // terminal watermark
    val evicted = tsUs + lit(DelayUs) + lit(MarginUs) < wmUs
    val retained = tsUs + lit(DelayUs) > wmUs + lit(MarginUs)
    val advancer = mx.select(lit(-1L).as("event_id"), col("tmax").as("ts"),
      lit("wm_advancer").as("event_type"), lit(0.0).as("value"))
    val rearrivals = withMax.where(evicted || retained)
      .select(col("event_id"), col("tmax").as("ts"), col("event_type"), col("value"))
    val srcDir = stagePhases(ss, name, Seq(ev, advancer, rearrivals))
    val out = freshDir(s"$name/out")
    val deduped = ss.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    drain(deduped.writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), name)
    ss.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  /** NATIVE streaming session windows — the q38 twin on the streaming
    * engine: `session_window(ts, gap)` inside a watermarked streaming
    * aggregate, Append mode to a parquet file sink. The session-window
    * state store MERGES overlapping candidate sessions as events
    * arrive, and the watermark (delay 0 → terminal watermark = max
    * event time) both closes sessions for emission and evicts their
    * state — the bounded-state production shape for sessionization
    * without custom state code ([[stSessionize]] pins the
    * flatMapGroupsWithState alternative).
    *
    * The oracle replays q38's exact boundary semantics (break when
    * next − prev ≥ gap) and then keeps only the sessions Append
    * actually emits: those whose end (last event + gap, raw micros)
    * the ms-floored terminal watermark REACHED (<=; both boundary
    * directions pinned by fixtures in StreamingSpec) — each user's
    * still-open final session stays in state, exactly like
    * st_sessionize's oracle.
    */
  def stSessionWindow(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
    val agg = ev
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val out = freshDir("st_session_window/out")
    drain(agg.writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), "st_session_window")
    s.read.parquet(out)
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        col("n_events"))
      .orderBy("user_id", "s_start")
  }

  /** Spark 4.x ARBITRARY STATE V2 — `transformWithState` with a typed
    * `ValueState` ([[graft.streaming.TwsCounter]]), the API that
    * replaces flatMapGroupsWithState (st_sessionize pins the legacy
    * one). Three mtime-ordered micro-batches (events split by
    * event_id % 3 via [[stagePhases]]) drive per-user lifetime
    * counters: each batch with input for a user emits (batch delta,
    * lifetime count, lifetime cents) — so the sink's row set proves
    * the ValueState genuinely persisted ACROSS batches (an engine that
    * lost state between triggers would emit n_total = n_batch rows and
    * hash-fail; one that replayed state within a batch would double-
    * count).
    *
    * The money column is converted to exact cents in the SQL layer
    * BEFORE the typed boundary (both engines run the identical
    * round(x*100)::long), so the processor only sums longs —
    * order-free and engine-exact. transformWithState requires the
    * RocksDB provider; the conf override lives in an isolated session
    * like [[stDedupRocksDb]]'s. The oracle replays the phase split and
    * per-phase cumulative sums in SQL.
    */
  def stTwsCount(s0: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val s = rocksDbSession(s0)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    val ev = s.read.parquet(s"$dir/events.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val phases = (0 until 3).map(p =>
      ev.where(col("event_id") % 3 === p).select(col("user_id"), col("cents")))
    val srcDir = stagePhases(s, "st_tws_count", phases)
    val out = freshDir("st_tws_count/out")
    val counted = s.readStream
      .schema("user_id BIGINT, cents BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.streaming.TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new graft.streaming.TwsCounter,
        TimeMode.None(), OutputMode.Append())
    drain(counted.toDF().writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), "st_tws_count")
    // (user_id, n_total) is unique: totals strictly grow per emission
    s.read.parquet(out).orderBy("user_id", "n_total")
  }

  /** TTL for [[stTwsTtl]]'s ValueState and the wall-clock the fixture
    * sleeps past it. Margins are wide on both sides: phases 0–1
    * process back-to-back (seconds apart ≪ 15 s, so state provably
    * SURVIVES between live batches), while phase 2 is admitted only
    * after a 23 s sleep (≥ 8 s past every entry's expiration, so state
    * provably EXPIRES before it).
    */
  private[graft] val TwsTtlMs = 15000L
  private[graft] val TwsTtlSleepMs = 23000L

  /** [[stTwsCount]] with a FINITE state TTL — the retention bound that
    * makes transformWithState deployable on an unbounded keyspace (at
    * 100 TB/day the keyspace never stops growing; TTL is what keeps
    * RocksDB state sized to the retention window instead of to
    * history). Same three-phase per-user lifetime counters, but phases
    * 0–1 stream back-to-back while phase 2 is admitted only after the
    * fixture sleeps past [[TwsTtlMs]]: every key's state has expired,
    * so phase-2 rows must RESTART from zero (n_total = n_batch) — an
    * engine that retained expired state emits cumulative totals there
    * and hash-fails; one that expired too eagerly breaks the phase-0→1
    * telescoping. The oracle replays exactly that: cumulative sums for
    * phases 0–1, standalone sums for phase 2 (the re-admission
    * counting discipline of st_dedup). TTL is processing-time-based,
    * which is why the determinism comes from fixture STRUCTURE (sleep
    * ≫ TTL ≫ batch gap), not from timestamps in the data.
    */
  def stTwsTtl(s0: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val s = rocksDbSession(s0)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    val ev = s.read.parquet(s"$dir/events.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val phases = (0 until 3).map(p =>
      ev.where(col("event_id") % 3 === p).select(col("user_id"), col("cents")))
    // stage all phases (mtime-ordered) in a holding dir, then admit
    // them into the live source dir around the TTL sleep
    val hold = stagePhases(s, "st_tws_ttl_hold", phases)
    val srcDir = freshDir("st_tws_ttl/src")
    def admit(i: Int): Unit = {
      val f = f"phase-$i%02d.parquet"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(hold, f), java.nio.file.Paths.get(srcDir, f),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    admit(0); admit(1)
    val chk = freshDir("st_tws_ttl/chk")
    val out = freshDir("st_tws_ttl/out")
    // Two runs over ONE checkpoint, each stopped once the sink holds
    // the run's expected emission count. ProcessingTime mode (which
    // TTL requires) makes the operator request a batch after every
    // batch to keep advancing time for expiry, so the query NEVER
    // reports caught-up — processAllAvailable blocks forever and even
    // AvailableNow keeps scheduling batches; the only clean boundary
    // is an explicit stop, and the expected row count is exactly known
    // (one emission per (user, phase-with-input)). The restart is a
    // feature, not a workaround: phase 2 resumes FROM THE CHECKPOINT,
    // so the TTL expiry pinned here is the persisted-state semantics
    // (expiration timestamps live in the store), not an in-memory
    // artifact.
    def emissions(maxPhase: Int): Long = ev
      .where(col("event_id") % 3 <= maxPhase)
      .select(col("user_id"), (col("event_id") % 3).as("p"))
      .distinct().count()
    def drain(expectRows: Long): Unit = {
      val counted = s.readStream
        .schema("user_id BIGINT, cents BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[graft.streaming.TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new graft.streaming.TwsCounter(TwsTtlMs),
          // TTL is processing-time-based by definition, and Spark
          // enforces the pairing: state TTL requires ProcessingTime
          TimeMode.ProcessingTime(), OutputMode.Append())
      val q = counted.toDF().writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
      try {
        // the sink's _spark_metadata makes the read see exactly the
        // committed files; emissions are one row per (user, batch)
        def sunk(): Long =
          try s.read.parquet(out).count() catch { case _: Throwable => 0L }
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (sunk() < expectRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        require(sunk() >= expectRows,
          s"st_tws_ttl: sink stuck below $expectRows rows")
      } finally q.stop()
    }
    // the live-phase gate depends on wall-clock scheduling: phases 0–1
    // must BOTH process inside one TTL window or state expires mid-run
    // and the gate fails as an opaque hash mismatch. This ONE drain
    // processes BOTH phase files (maxFilesPerTrigger=1 → two batches
    // off the already-admitted srcDir), so liveT0 — taken before the
    // stream even starts — strictly precedes phase 0's first state
    // WRITE, and liveMs is a TRUE upper bound on the oldest state age
    // at phase 1's read (write happens after liveT0, read completes
    // before the measurement). Fail LOUD as a setup error if a loaded
    // host ever blows the margin.
    val liveT0 = System.nanoTime()
    drain(emissions(1))
    val liveMs = (System.nanoTime() - liveT0) / 1000000L
    require(liveMs < TwsTtlMs,
      s"st_tws_ttl setup error: live phases took ${liveMs} ms >= TTL " +
        s"$TwsTtlMs ms — state may have expired between phases 0 and 1 " +
        "(host overload, not an engine defect); rerun on an idle box")
    Thread.sleep(TwsTtlSleepMs)
    admit(2)
    drain(emissions(2))
    // row multiset is what the gate hashes; the sort is for stable
    // files ((user_id, n_total) can legitimately repeat after a reset)
    s.read.parquet(out).orderBy("user_id", "n_total", "cents_total")
  }

  /** Event-time sessionization on the transformWithState V2 TIMER
    * surface ([[graft.streaming.TwsSessionizer]]) — the v2 twin of
    * [[stSessionize]]: same single-batch source, same gap, same
    * emitted-session aggregation, and the SAME ORACLE — the two state
    * APIs must be result-identical, timer-closure semantics included
    * (an engine whose v2 timers fire on a different watermark boundary
    * than the legacy event-time timeout hash-fails against the shared
    * replay). Provider + conf isolation as in [[stTwsCount]]
    * (transformWithState requires RocksDB).
    */
  def stTwsSession(s0: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val s = rocksDbSession(s0)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    // [e] glob: single-file table, same reason as stWordCount
    val ev = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .transform(graft.sources.Tables.normalizeEventTs)
      .select(col("user_id"), col("ts")).as[graft.streaming.UserEvent]
    val sessions = ev
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new graft.streaming.TwsSessionizer(30),
        TimeMode.EventTime(), OutputMode.Append())
    val out = freshDir("st_tws_session/out")
    drain(sessions.toDF().writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), "st_tws_session")
    s.read.parquet(out)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Synthetic ingest clock for [[stLshDedup]]: doc d arrives at
    * T0 + d·60 s. Whole seconds everywhere, so every ms-precision
    * watermark/expiry comparison is exact on both engines. With a 1 h
    * horizon the eviction boundary falls out as max_id − first_doc >
    * 2·3600/60 = 120 — the constant the oracle bakes in.
    */
  private val LshT0 = 1700000000L
  private val LshSpacingSec = 60L
  private val LshHorizonMs = 3600L * 1000L

  /** Streaming NEAR-DUPLICATE ADMISSION — the LLM-pipeline state shape
    * none of the other `st_*` rows reach: documents arrive as a stream,
    * each computes its MinHash band signatures ON INGEST (the
    * [[Dedup.bandsOf]] derivation, shared VERBATIM with the batch
    * `dd_minhash_lsh`), and probes a band→first-claimant admission
    * index held in RocksDB state ([[graft.streaming.LshAdmitter]]).
    * A document is admitted iff none of its [[Dedup.Bands]] bands is
    * already claimed — state grows with DISTINCT content inside the
    * watermark horizon, not with event volume.
    *
    * Three mtime-ordered phases à la [[stDedup]], under a synthetic
    * ingest clock (doc d at T0 + d·60 s, 1 h watermark):
    *
    *   - phase 0: the full documents table in one batch. The initial
    *     watermark is 0, so no claim can expire: a band's winner is its
    *     min doc_id, every other arrival of that band collides.
    *   - phase 1: one advancer row (doc_id −1, filtered before banding
    *     — it never probes the index) — a batch boundary at which the
    *     watermark (now max ingest time − 1 h) fires the expiry timers
    *     of every band first claimed more than 2 h before the end of
    *     the corpus, PHYSICALLY deleting those claims from RocksDB.
    *   - phase 2: every document re-sent at a FRESH ingest time
    *     (= max). Bands whose claim survived (first_doc strictly
    *     within 120 doc-slots of max_id) collide — including with THEMSELVES, the
    *     exact-re-arrival-drop of st_dedup; bands whose claim was
    *     evicted re-admit their min re-arriving doc (= first_doc
    *     again, since all docs re-send) and collide the rest. An
    *     engine that never evicts, evicts the wrong horizon, or loses
    *     the within-batch min-doc discipline hash-fails.
    *
    * Per-band collision rows go append-mode to a parquet sink; the
    * read-back aggregates per (phase, doc): n_bands (pins banding
    * completeness), n_coll, and the admission verdict. The oracle
    * replays the banding through [[Dedup.bandsOracleCte]] and the
    * liveness rule in closed form.
    */
  def stLshDedup(s0: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // transformWithState requires RocksDB; isolated session as in
    // stTwsCount so the provider never leaks to other queries
    val s = rocksDbSession(s0)
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mx = docs.agg(max("doc_id").as("max_id"))
    def tsOf(c: org.apache.spark.sql.Column) =
      timestamp_seconds(lit(LshT0) + c * LshSpacingSec)
    val phase0 = docs
      .select(col("doc_id"), col("text"), tsOf(col("doc_id")).as("ts"),
        lit(0).as("phase"))
    val advancer = mx.select(lit(-1L).as("doc_id"), lit("").as("text"),
      tsOf(col("max_id")).as("ts"), lit(1).as("phase"))
    val resent = docs.crossJoin(broadcast(mx)) // 1-row stats broadcast
      .select(col("doc_id"), col("text"), tsOf(col("max_id")).as("ts"),
        lit(2).as("phase"))
    val srcDir = stagePhases(s, "st_lsh_dedup", Seq(phase0, advancer, resent))
    val src = s.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP, phase INT")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "1 hour")
      // the advancer only advances the batch clock; it must not claim
      // a band (its empty text would otherwise mint a real signature)
      .where(col("doc_id") >= 0)
    val events = Dedup
      .bandsOf(src.select(col("doc_id"),
        graft.functions.WordShingles.of(col("text")).as("sh"),
        col("ts"), col("phase")), "ts", "phase")
      // a null signature (MinhashSig of an empty/all-null shingle
      // array — impossible from WordShingles on non-null text, but a
      // null text row would mint one) must not reach the keyed state:
      // its band_key would concat to NULL, whereas the oracle's
      // banding CTE drops such docs implicitly (NULLs match nothing
      // in its joins) — drop the rows here to match
      .where(col("band_val").isNotNull)
      .select(
        concat(col("band_idx").cast("string"), lit(":"), col("band_val"))
          .as("band_key"),
        col("doc_id"), col("phase"), col("ts"))
      .as[graft.streaming.LshBandEvent]
    val admitted = events
      .groupByKey(_.band_key)
      .transformWithState(new graft.streaming.LshAdmitter(LshHorizonMs),
        TimeMode.EventTime(), OutputMode.Append())
    val out = freshDir("st_lsh_dedup/out")
    drain(admitted.toDF().writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), "st_lsh_dedup")
    s.read.parquet(out)
      .groupBy("phase", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_bands"),
        sum(when(col("collided"), 1).otherwise(0)).cast("int").as("n_coll"))
      .select(col("phase"), col("doc_id"), col("n_bands"), col("n_coll"),
        (col("n_coll") === 0).as("admitted"))
      .orderBy("phase", "doc_id")
  }

  /** STREAMING DECONTAMINATION AT INGEST — the eval-screen step of the
    * curation pipeline run where a crawl pipeline actually runs it
    * (alongside [[stLshDedup]]'s admission near-dedup): documents
    * arrive as a stream, each shingles IN the stream (the
    * [[Dedup.shingleDocs]] derivation — pure row expressions), and
    * probes the held-out benchmark's shingle set. The eval side is
    * STATIC by nature (a benchmark suite is a fixed artifact), so it
    * batch-reads once, distinct-collapses, and BROADCASTS — each
    * micro-batch pays a stateless map-side hash probe (the
    * [[stEnrich]] stream-static shape; [[Dedup.contam]]'s
    * `broadcastTest = true` posture), and the only state is the
    * per-flagged-doc hit aggregate. Checked against `dd_contam`'s
    * oracle VERBATIM: the screen must be result-invisible to how the
    * corpus arrived — the batch≡stream contract of st_word_count /
    * st_enrich extended to the decontamination screen.
    */
  def stContam(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    // eval shingles: static batch read of the same table (the fixed
    // benchmark suite), distinct-collapsed so each train shingle can
    // hit at most once per eval membership
    val testSh = s.read.parquet(path)
      .where(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(array_distinct(
        graft.functions.WordShingles.of(col("text")))).as("shingle"))
      .distinct()
    // [d] glob: single-file table, same reason as stWordCount
    val train = s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet")
      .where(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        array_distinct(graft.functions.WordShingles.of(col("text"))).as("shd"))
      .select(col("doc_id"), size(col("shd")).as("n_sh"),
        explode(col("shd")).as("shingle"))
    val agg = train.join(broadcast(testSh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_hit"),
        // every row of a doc carries the same n_sh; max is order-free
        max(col("n_sh")).as("n_sh"))
    runToCompletion(s, agg, "st_contam_sink")
      .select(col("doc_id"), col("n_hit"), col("n_sh"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("contam_ratio"))
      .orderBy("doc_id")
  }

  /** One-row broadcast frame carrying the eval suite's screen
    * artifacts for the ingest pipeline: `eval_sh` = the held-out
    * benchmark's DISTINCT shingle set (the [[Dedup.contam]] test side,
    * collapsed to one sorted array), `eval_vecs` = the benchmark's
    * (eval_id, embedding, norm) structs ([[Dedup.contamEmbed]]'s
    * broadcast payload, verbatim arithmetic). A benchmark suite is a
    * fixed artifact — batch-read once, broadcast to every micro-batch;
    * the same benchmark-sized-eval guard as contamEmbed's fast path
    * applies (a corpus-scale eval must route to the banded candidate
    * machinery instead).
    */
  private[graft] def pipelineScreens(s: SparkSession, dir: String): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(Dedup.ContamBothEvalMod)) === 0
    val evalSh = s.read.parquet(s"$dir/documents.parquet")
      .where(isEval)
      .select(explode(array_distinct(
        graft.functions.WordShingles.of(col("text")))).as("sng"))
      .distinct()
      .agg(sort_array(collect_list(col("sng"))).as("eval_sh"))
    val ev = s.read.parquet(s"$dir/embeddings.parquet")
      .where(pmod(col("vec_id"), lit(Dedup.ContamBothEvalMod)) === 0)
      .select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", sqrt(Dedup.dot(col("emb"), col("emb"))))
    val nEval = ev.count()
    require(nEval <= Dedup.ContamEmbedMaxEval,
      s"st_pipeline: eval set has $nEval rows > ${Dedup.ContamEmbedMaxEval} — " +
        "the broadcast screen is for benchmark-sized eval sets")
    val evalVec = ev
      .select(struct(col("vec_id").as("eval_id"), col("emb"), col("nrm")).as("ev"))
      .agg(sort_array(collect_list(col("ev"))).as("eval_vecs"))
    evalSh.crossJoin(evalVec).withColumn("__one", lit(1))
  }

  /** The composed ingest flow over an arriving document stream `src`
    * (doc_id, text, lang, source, emb, ts, phase — watermarked on ts):
    * every micro-batch scores the STATELESS screens as pure row
    * expressions — the five [[TextAnalysis.gopherRules]], the lexical
    * eval-shingle overlap ([[Dedup.contam]]'s ratio against the
    * broadcast `eval_sh` array), the semantic eval-cosine probe
    * ([[Dedup.contamEmbed]]'s in-row fold against the broadcast
    * `eval_vecs`; a doc whose record carries no embedding cannot
    * sem-flag, both engines) — then ONE fused explode emits the doc's
    * band probes into the shared [[graft.streaming.PipeAdmitter]]
    * state machine: the exact-fingerprint pseudo-band (`f|md5`,
    * band −1) prepended to the [[Dedup.bandStructsOf]] LSH bands
    * (`i:hex`, bands 0..3), while holdout docs divert to a
    * pass-through key (`h|doc_id`, band −2) that is logged through the
    * same sink but never claims. One scan, no stream self-union, and
    * every admission/eviction/min-doc rule is [[graft.streaming
    * .AdmitterBase]]'s — proven by st_lsh_dedup, replayed in closed
    * form by the oracle.
    */
  private[graft] def pipelineVerdicts(s: SparkSession, src: DataFrame,
      screens: DataFrame): org.apache.spark.sql.Dataset[graft.streaming.PipeVerdict] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    val scored = TextAnalysis
      .gopherRules(src, "text", "source", "emb", "ts", "phase")
      .withColumn("gok", col("ok_len") && col("ok_wordlen") &&
        col("ok_stopword") && col("ok_dup") && col("ok_symbol"))
      // stream-static equi-join on a constant key (= broadcast cross
      // join, stated as a hash join for the streaming checker)
      .withColumn("__one", lit(1))
      .join(broadcast(screens), Seq("__one"))
      .withColumn("sh", graft.functions.WordShingles.of(col("text")))
      .withColumn("shd", array_distinct(col("sh")))
      // binary-search probe of the SORTED broadcast eval set —
      // result-identical to size(array_intersect(shd, eval_sh)) on the
      // distinct probe side, without array_intersect's per-row hash
      // set over the whole benchmark array (see [[graft.functions
      // .SortedHits]]; ~50× less per-doc work at the sf0.1 screen)
      .withColumn("lex", coalesce(
        round(graft.functions.SortedHits.of(col("shd"), col("eval_sh"))
          .cast("double") / size(col("shd")), 6) >= Dedup.PipelineLexTau,
        lit(false)))
      // the sem screen's |eval| dots per doc ride the codegen'd
      // DotProduct kernel on the raw float arrays (contamEmbed's
      // arithmetic verbatim — same widening, same fold)
      .withColumn("nrm", sqrt(Dedup.dot(col("emb"), col("emb"))))
      .withColumn("sem", coalesce(
        exists(col("eval_vecs"), ev =>
          round(Dedup.dot(col("emb"), ev.getField("emb")) /
            (col("nrm") * ev.getField("nrm")), 6) >= Dedup.ContamEmbedTau),
        lit(false)))
      .withColumn("fp", graft.functions.CanonFp.of(col("text")))
      .withColumn("holdout",
        pmod(col("doc_id"), lit(Dedup.ContamBothEvalMod)) === 0)
      .withColumn("__sig",
        graft.functions.MinhashSig.sig(col("sh"), Dedup.NumHashes))
    val lshArr = array(Dedup.bandStructsOf(col("__sig")): _*)
    val fpArr = array(struct(lit(-1).as("band_idx"),
      concat(lit("f|"), col("fp")).as("band_val")))
    val holdArr = array(struct(lit(-2).as("band_idx"),
      concat(lit("h|"), col("doc_id").cast("string")).as("band_val")))
    scored
      .select(col("doc_id"), col("phase"), col("source"), col("lex"),
        col("sem"), col("gok"), col("ts"),
        explode(when(col("holdout"), holdArr)
          .otherwise(concat(fpArr, lshArr))).as("band"))
      // null-signature guard, as stLshDedup (fp/holdout bands never null)
      .where(col("band.band_val").isNotNull)
      .select(
        when(col("band.band_idx") >= 0,
          concat(col("band.band_idx").cast("string"), lit(":"),
            col("band.band_val")))
          .otherwise(col("band.band_val")).as("band_key"),
        col("doc_id"), col("band.band_idx").as("band_idx"), col("phase"),
        col("source"), col("lex"), col("sem"), col("gok"), col("ts"))
      .as[graft.streaming.PipeBandEvent]
      .groupByKey(_.band_key)
      .transformWithState(new graft.streaming.PipeAdmitter(LshHorizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** THE STREAMING CURATION PIPELINE — the composition a 100 TB/day
    * crawl pipeline actually runs AT INGEST, assembled from stages the
    * repo proves separately (batch: `dd_pipeline_manifest`; ingest
    * halves: `st_lsh_dedup` admission, `st_contam` screen): documents
    * arrive as an mtime-ordered stream; each micro-batch applies the
    * stateless screens and the stateful dual-index admission
    * ([[pipelineVerdicts]]); the read-back folds each arrival's band
    * verdicts into ONE manifest row — (phase, doc_id, source, n_bands,
    * stage, kept) — with first-drop-wins attribution in the BATCH
    * pipeline's stage order: holdout → exact → near_dup → contam_lex →
    * contam_sem → gopher → kept.
    *
    * Declared divergences from the batch manifest (the admission-style
    * semantics st_dedup/st_lsh_dedup declare, applied pipeline-wide):
    *   - `near_dup` is FIRST-CLAIMANT ADMISSION (any live band claim
    *     collides), not the batch stage's verified-Jaccard pair drop —
    *     at ingest there is no corpus to verify against, only the
    *     index; the batch pass owns pair verification.
    *   - `exact` is the same admission rule on the fingerprint
    *     pseudo-band (min-doc winner within a batch = ddExact's
    *     min-id keeper; a live claim drops every re-arrival — the
    *     exact-re-arrival self-drop).
    *   - there is NO `domain_cap` stage: a per-domain quota is a
    *     corpus-level rank over survivors, not a per-arrival decision
    *     — the batch compaction pass owns it ([[Dedup.pipelineCore]]).
    *
    * Three mtime-ordered phases under [[stLshDedup]]'s synthetic
    * ingest clock (doc d at T0 + d·60 s, 1 h watermark): phase 0 — the
    * full corpus in one batch (screens fire; both indexes admit
    * min-doc winners); phase 1 — one advancer row (never probes),
    * whose watermark PHYSICALLY evicts every claim first made more
    * than 2 h before the corpus end; phase 2 — every document re-sent
    * at the fresh max ingest time: live claims drop their re-arrivals
    * (their own first claimant included), evicted bands re-admit. The
    * oracle replays banding via [[Dedup.bandsOracleCte]], the screens
    * via [[Dedup.pipelineScreenCtes]], and liveness in closed form
    * (max_id − first_doc < 120 slots — st_lsh_dedup's measured strict
    * boundary) — on BOTH indexes.
    */
  def stPipeline(s0: SparkSession, dir: String): DataFrame = {
    val s = rocksDbSession(s0)
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // the embedding RIDES the document record (the production ingest
    // shape — a crawl doc arrives with its features); staged here by a
    // batch join because the testdata keeps the two tables separate
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
    val staged = docs.join(emb, Seq("doc_id"), "left")
    val mx = staged.agg(max("doc_id").as("max_id"))
    def tsOf(c: org.apache.spark.sql.Column) =
      timestamp_seconds(lit(LshT0) + c * LshSpacingSec)
    val phase0 = staged.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("emb"), tsOf(col("doc_id")).as("ts"), lit(0).as("phase"))
    val advancer = mx.select(lit(-1L).as("doc_id"), lit("").as("text"),
      lit("").as("lang"), lit("").as("source"),
      lit(null).cast("array<float>").as("emb"),
      tsOf(col("max_id")).as("ts"), lit(1).as("phase"))
    val resent = staged.crossJoin(broadcast(mx)) // 1-row stats broadcast
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("emb"), tsOf(col("max_id")).as("ts"), lit(2).as("phase"))
    val srcDir = stagePhases(s, "st_pipeline", Seq(phase0, advancer, resent))
    val src = s.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "emb ARRAY<FLOAT>, ts TIMESTAMP, phase INT")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "1 hour")
      // the advancer only advances the batch clock
      .where(col("doc_id") >= 0)
    val verdicts = pipelineVerdicts(s, src, pipelineScreens(s, dir))
    val out = freshDir("st_pipeline/out")
    drain(verdicts.toDF().writeStream.format("parquet")
      .option("path", out)
      .outputMode("append"), "st_pipeline")
    // fold each arrival's band verdicts into its one manifest row —
    // every DECISION below was made in the stream (the screen flags and
    // per-band collisions ride each sink row); this is assembly, with
    // first-drop-wins in the batch pipeline's stage order
    s.read.parquet(out)
      .groupBy("phase", "doc_id")
      .agg(max("source").as("source"),
        count(lit(1)).cast("int").as("n_bands"),
        max(when(col("band_idx") === -2, 1).otherwise(0)).as("__h"),
        max(when(col("band_idx") === -1 && col("collided"), 1).otherwise(0)).as("__xe"),
        max(when(col("band_idx") >= 0 && col("collided"), 1).otherwise(0)).as("__xn"),
        max(when(col("lex"), 1).otherwise(0)).as("__xl"),
        max(when(col("sem"), 1).otherwise(0)).as("__xs"),
        min(when(col("gok"), 1).otherwise(0)).as("__g"))
      .select(col("phase"), col("doc_id"), col("source"), col("n_bands"),
        when(col("__h") === 1, "holdout")
          .when(col("__xe") === 1, "exact")
          .when(col("__xn") === 1, "near_dup")
          .when(col("__xl") === 1, "contam_lex")
          .when(col("__xs") === 1, "contam_sem")
          .when(col("__g") === 0, "gopher")
          .otherwise("kept").as("stage"))
      .withColumn("kept", col("stage") === "kept")
      .orderBy("phase", "doc_id")
  }

  /** STREAMING CDC APPLY — the composition the lakehouse rows (q55/
    * q60/q61/q62) and the streaming rows prove separately, run as one
    * pipeline: a multi-version change stream arrives in micro-batches
    * and `foreachBatch` maintains the merged target table; after the
    * stream drains, the target's audit must equal the BATCH merge's —
    * the oracle is q62_merge_compacted's VERBATIM, so the one property
    * streaming adds is hash-checked: BATCH-BOUNDARY INVARIANCE. The
    * fixture makes that property non-vacuous in two ways: versions of
    * one key are scattered ACROSS batches (repartition(6), one file
    * per trigger — whatever interleaving the split produces must
    * converge), and last-writer-wins reconciliation is implemented as
    * the same struct-max aggregate as q62, which is associative and
    * commutative over any grouping of the version stream — the
    * algebraic fact the hash equality witnesses.
    *
    * Per batch: target' = struct-max over (current target ∪ batch
    * rows) keyed on c_orderkey, written to a NEW versioned parquet dir
    * (never overwrite what you read). Initial target = the orders
    * snapshot at seq 0 / op 'K'. This is the foreachBatch upsert
    * posture for sinks without native MERGE; the per-batch cost is one
    * target scan + the same map-side-combining aggregate q62 uses (a
    * hot key's versions collapse per task), and with a bucketed target
    * each batch becomes q60's zero-exchange merge — the rewrite here
    * keeps the gate fixture self-contained. Deletes retain the
    * ORIGINAL row's status/price in the audit (q62's semantics), so
    * the final audit joins the target back to the snapshot.
    */
  def stMergeCdc(s: SparkSession, dir: String): DataFrame = {
    val o = graft.sources.Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // the q62 version stream, verbatim (keys < bound; hot keys at 200
    // versions; op 'D' rides the last version of %11==3 keys)
    val versions = o
      .where(col("o_orderkey") < graft.queries.Relational.MergeHotKeyBound)
      .withColumn("nv",
        when(col("o_orderkey") % 500 === 0, lit(200))
          .otherwise((col("o_orderkey") % 5 + 1).cast("int")))
      .select(col("o_orderkey").as("c_orderkey"), col("nv"),
        explode(sequence(lit(1), col("nv"))).as("seq0"),
        col("o_totalprice"))
      .select(col("c_orderkey"), col("seq0").cast("long").as("seq"),
        when(col("seq0") === col("nv") && col("c_orderkey") % 11 === 3, "D")
          .otherwise("U").as("op"),
        (col("o_totalprice") + col("seq0")).as("price"),
        lit("U").as("status"))
    val srcDir = freshDir("st_merge_cdc/src")
    // 6 files -> 6 micro-batches; the split scatters a key's versions
    // across batches arbitrarily — the invariance under test
    versions.repartition(6).write.mode("overwrite").parquet(srcDir)
    // initial target: the snapshot as state rows (seq 0 loses to any
    // change; op 'K' marks never-touched keys)
    var targetDir = freshDir("st_merge_cdc/target0")
    o.select(col("o_orderkey").as("c_orderkey"), lit(0L).as("seq"),
        lit("K").as("op"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      .write.mode("overwrite").parquet(targetDir)
    var nBatches = 0
    val schema = s.read.parquet(srcDir).schema
    drain(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = s.read.parquet(targetDir)
        val next = cur.unionByName(
            batch.select("c_orderkey", "seq", "op", "price", "status"))
          .groupBy("c_orderkey")
          .agg(max(struct(col("seq"), col("op"), col("price"),
            col("status"))).as("w"))
          .select(col("c_orderkey"), col("w.seq").as("seq"),
            col("w.op").as("op"), col("w.price").as("price"),
            col("w.status").as("status"))
        val nd = freshDir(s"st_merge_cdc/target${batchId + 1}")
        next.write.mode("overwrite").parquet(nd)
        targetDir = nd
        nBatches += 1
      }, "st_merge_cdc")
    require(nBatches >= 2,
      s"batch-boundary invariance needs multiple batches, got $nBatches")
    // audit = q62's, over the converged state: deletes/keeps report the
    // ORIGINAL status/price (the snapshot join), updates the change's
    s.read.parquet(targetDir)
      .join(o, col("c_orderkey") === col("o_orderkey"))
      .withColumn("action",
        when(col("op") === "D", "delete")
          .when(col("op") === "U", "update")
          .otherwise("keep"))
      .withColumn("a_status",
        when(col("action") === "update", col("status"))
          .otherwise(col("o_orderstatus")))
      .withColumn("a_price",
        when(col("action") === "update", col("price"))
          .otherwise(col("o_totalprice")))
      .groupBy(col("action"), col("a_status").as("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("a_price") * 100).cast("long")).as("cents"),
        sum(col("seq")).as("win_seq_sum"))
      .orderBy("action", "status")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_pipeline" -> (stPipeline _),
    "st_contam" -> (stContam _),
    "st_lsh_dedup" -> (stLshDedup _),
    "st_merge_cdc" -> (stMergeCdc _),
    "st_tws_count" -> (stTwsCount _),
    "st_tws_ttl" -> (stTwsTtl _),
    "st_tws_session" -> (stTwsSession _),
    "st_session_window" -> (stSessionWindow _),
    "st_dedup" -> (stDedup _),
    "st_dedup_rocksdb" -> (stDedupRocksDb _),
    "st_word_count" -> (stWordCount _),
    "st_hourly" -> (stHourly _),
    "st_sliding" -> (stSliding _),
    "st_join" -> (stJoin _),
    "st_join_rocksdb" -> (stJoinRocksDb _),
    "st_hourly_append" -> (stHourlyAppend _),
    "st_wc_update" -> (stWcUpdate _),
    "st_enrich" -> (stEnrich _),
    "st_sessionize" -> (stSessionize _),
  )

  // st_word_count / st_hourly: the batch twins' oracles verbatim —
  // equivalence is the whole point. st_sessionize: its own oracle (the
  // streaming result legitimately differs from batch q16 by the
  // still-open final sessions; see the method Scaladoc).
  /** Every event once, PLUS the evicted group readmitted, plus the
    * advancer — the oracle distinguishes evicted-then-readmitted from
    * retained state: a duplicate leaking past retained state OR a
    * readmission missing after eviction both fail the hash. The
    * eviction predicate replays the Spark-side phase-3 split exactly
    * (1 h delay, 10 min guard band, microsecond arithmetic). Shared
    * verbatim by st_dedup and st_dedup_rocksdb: the provider swap must
    * be semantics-invisible, eviction timing included.
    */
  private val stDedupOracle: String =
    s"""WITH mx AS (SELECT epoch_us(max(ts)) AS tmax_us FROM events),
       |readmit AS (
       |  SELECT event_type, value FROM events, mx
       |  WHERE epoch_us(ts) + $DelayUs + $MarginUs < tmax_us - $DelayUs
       |),
       |allrows AS (
       |  SELECT event_type, value FROM events
       |  UNION ALL SELECT event_type, value FROM readmit
       |  UNION ALL SELECT 'wm_advancer' AS event_type, 0.0 AS value
       |)
       |SELECT event_type, count(*) AS n_events,
       | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM allrows GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "st_pipeline" -> stPipelineOracle,
    // dd_contam's oracle VERBATIM: the ingest-time screen must equal
    // the batch screen exactly — batch≡stream for decontamination
    "st_contam" -> Dedup.oracles("dd_contam"),
    "st_lsh_dedup" -> stLshDedupOracle,
    // q62's oracle VERBATIM: the streaming apply must converge to the
    // batch merge's exact audit — any batch-boundary sensitivity in
    // the reconciliation hash-fails
    "st_merge_cdc" -> Relational.oracles("q62_merge_compacted"),
    // the phase split (event_id % 3) and the per-user cumulative
    // lifetime totals replayed in SQL; users absent from a phase emit
    // no row, matching the processor's empty-iterator short-circuit
    "st_tws_count" ->
      """WITH e AS (
        |  SELECT user_id, event_id % 3 AS phase,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (
        |  SELECT user_id, phase, count(*) AS n_batch, sum(cents) AS cents_batch
        |  FROM e GROUP BY user_id, phase),
        |c AS (
        |  SELECT user_id, phase, n_batch,
        |    sum(n_batch) OVER w AS n_total,
        |    sum(cents_batch) OVER w AS cents_total
        |  FROM p WINDOW w AS (
        |    PARTITION BY user_id ORDER BY phase ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, CAST(n_batch AS BIGINT) AS n_batch,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST(cents_total AS BIGINT) AS cents_total
        |FROM c ORDER BY user_id, n_total""".stripMargin,
    // st_tws_count's replay with the TTL boundary applied: phases 0-1
    // telescope (state alive between back-to-back batches), phase 2
    // restarts from zero (state expired during the sleep) — retained
    // expired state OR over-eager expiry both hash-fail
    "st_tws_ttl" ->
      """WITH e AS (
        |  SELECT user_id, event_id % 3 AS phase,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (
        |  SELECT user_id, phase, count(*) AS n_batch, sum(cents) AS cents_batch
        |  FROM e GROUP BY user_id, phase),
        |live AS (
        |  SELECT user_id, phase, n_batch,
        |    sum(n_batch) OVER w AS n_total,
        |    sum(cents_batch) OVER w AS cents_total
        |  FROM p WHERE phase <= 1 WINDOW w AS (
        |    PARTITION BY user_id ORDER BY phase ROWS UNBOUNDED PRECEDING)),
        |reset AS (
        |  SELECT user_id, phase, n_batch, n_batch AS n_total,
        |    cents_batch AS cents_total
        |  FROM p WHERE phase = 2),
        |u AS (
        |  SELECT user_id, n_batch, n_total, cents_total FROM live
        |  UNION ALL
        |  SELECT user_id, n_batch, n_total, cents_total FROM reset)
        |SELECT user_id, CAST(n_batch AS BIGINT) AS n_batch,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST(cents_total AS BIGINT) AS cents_total
        |FROM u ORDER BY user_id, n_total, cents_total""".stripMargin,
    "st_dedup" -> stDedupOracle,
    "st_dedup_rocksdb" -> stDedupOracle,
    "st_word_count" -> WordCountQueries.oracles("wc_word_count"),
    "st_hourly" -> Relational.oracles("q15_events_hourly"),
    // the batch sliding-window oracle verbatim: batch≡stream for the
    // overlapping-window shape
    "st_sliding" -> Relational.oracles("q35_sliding_window"),
    // the batch range-join oracle verbatim: the stream-stream banded
    // join must reproduce the batch pairs exactly
    "st_join" -> Relational.oracles("q29_range_join"),
    "st_join_rocksdb" -> Relational.oracles("q29_range_join"),
    // the reconciled delta log must equal the batch word count exactly
    "st_wc_update" -> WordCountQueries.oracles("wc_word_count"),
    // the batch join's oracle verbatim (q27's plain join): streaming
    // enrichment must be result-invisible
    "st_enrich" -> Relational.oracles("q27_skew_join"),
    // q15 restricted to the windows Append actually emits: those whose
    // end the terminal watermark (max ts − 30 min, in ms) passed
    "st_hourly_append" ->
      """WITH wm AS (
        |  SELECT epoch_us(max(ts)) // 1000 - 1800000 AS wm_ms FROM events
        |), h AS (
        |  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        |    count(*) AS n_events, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY hour_ts, event_type
        |)
        |SELECT strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  n_events, sum_value
        |FROM h, wm
        |WHERE epoch_us(hour_ts) // 1000 + 3600000 - 1 < wm_ms
        |ORDER BY hour, event_type""".stripMargin,
    // q38's session derivation (break on next − prev ≥ gap, the native
    // merge boundary), restricted to sessions Append actually emits:
    // those whose end (last + gap) the terminal watermark REACHED —
    // end_us <= floor(max_us/1000)*1000. Spark compares the raw-micros
    // session end against the ms-floored watermark, and emission is on
    // <=, not < (both pinned by crafted boundary fixtures in
    // StreamingSpec: an end exactly ON the watermark ms is emitted; an
    // end inside the same ms but past its micro value is withheld)
    "st_session_window" ->
      """WITH l AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), b AS (
        |  SELECT user_id, ts, us,
        |    CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), sg AS (
        |  SELECT user_id, ts, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, min(ts) AS s_start, max(us) AS last_us, count(*) AS n_events
        |  FROM sg GROUP BY user_id, sid
        |), mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events)
        |SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start, n_events
        |FROM sess, mx
        |WHERE last_us + 1800000000 <= (mxus // 1000) * 1000
        |ORDER BY user_id, s_start""".stripMargin,
    // shared verbatim with st_tws_session: the v2 timer path must be
    // result-identical to the legacy event-time timeout
    "st_sessionize" -> sessionizeOracle,
    "st_tws_session" -> sessionizeOracle,
  )

  /** The [[stLshDedup]] replay: banding through [[Dedup.bandsOracleCte]]
    * (the identical shingle → minhash → band arithmetic), then the
    * admission rule in closed form. Phase 0's watermark is 0, so a
    * band's winner is its min doc_id and every other arrival collides.
    * Phase 2 re-sends every doc at the fresh max ingest time, so a
    * band's re-arrival set has the SAME min — liveness decides
    * everything: a claim is live iff the watermark has not REACHED its
    * expiry (strict — the engine's timers fire on reach), which under
    * the 60 s/doc clock and 1 h horizon reduces to
    * max_id − first_doc < 120 (all whole-second ms arithmetic — exact
    * on both engines); live claims collide every re-arrival (their own
    * first claimant included — the exact-re-arrival drop), evicted
    * claims re-admit first_doc and collide the rest.
    */
  private lazy val stLshDedupOracle: String = {
    val slots = 2L * (LshHorizonMs / 1000L) / LshSpacingSec
    s"""${Dedup.bandsOracleCte},
       |fb AS (
       |  SELECT band_idx, band_val, min(doc_id) AS first_doc
       |  FROM bands GROUP BY band_idx, band_val),
       |mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |p0 AS (
       |  SELECT 0 AS phase, b.doc_id, count(*) AS n_bands,
       |    sum(CASE WHEN b.doc_id > f.first_doc THEN 1 ELSE 0 END) AS n_coll
       |  FROM bands b JOIN fb f USING (band_idx, band_val)
       |  GROUP BY b.doc_id),
       |p2 AS (
       |  SELECT 2 AS phase, b.doc_id, count(*) AS n_bands,
       |    sum(CASE WHEN mx.max_id - f.first_doc < $slots
       |          OR b.doc_id > f.first_doc THEN 1 ELSE 0 END) AS n_coll
       |  FROM bands b JOIN fb f USING (band_idx, band_val), mx
       |  GROUP BY b.doc_id),
       |u AS (SELECT * FROM p0 UNION ALL SELECT * FROM p2)
       |SELECT phase, doc_id, CAST(n_bands AS INTEGER) AS n_bands,
       |  CAST(n_coll AS INTEGER) AS n_coll, n_coll = 0 AS admitted
       |FROM u ORDER BY phase, doc_id""".stripMargin
  }

  /** The [[stPipeline]] replay: banding through [[Dedup.bandsOracleCte]],
    * the stateless screens through [[Dedup.pipelineScreenCtes]] (lexd /
    * semd / gq / fpt — the batch manifest's own fragments), and BOTH
    * admission indexes through [[stLshDedupOracle]]'s closed-form
    * liveness rule: phase 0's watermark is 0 (winner = min doc_id per
    * band, over NON-HOLDOUT docs only — holdout diverts before
    * probing); phase 2 re-sends every doc at the fresh max ingest time,
    * so a band collides iff its claim is live (max_id − first_doc <
    * 120 slots, strict) OR the arrival is not the band's re-admitted
    * min. The fingerprint pseudo-band replays as min-per-fingerprint
    * (`ffb`), the LSH bands as min-per-band (`fb`); the manifest CASE
    * is first-drop-wins in the batch stage order, with holdout rows
    * (n_bands = 1, both send phases) assembled from the corpus.
    */
  private lazy val stPipelineOracle: String = {
    val slots = 2L * (LshHorizonMs / 1000L) / LshSpacingSec
    val evalMod = Dedup.ContamBothEvalMod
    s"""${Dedup.bandsOracleCte}, ${Dedup.pipelineScreenCtes},
       |ffb AS (SELECT f, min(doc_id) AS fp_first FROM fpt GROUP BY f),
       |bt AS (SELECT * FROM bands WHERE doc_id % $evalMod <> 0),
       |fb AS (
       |  SELECT band_idx, band_val, min(doc_id) AS first_doc
       |  FROM bt GROUP BY band_idx, band_val),
       |mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |np AS (
       |  SELECT 0 AS phase, b.doc_id,
       |    bool_or(b.doc_id > f.first_doc) AS x_near, count(*) AS n_lsh
       |  FROM bt b JOIN fb f USING (band_idx, band_val)
       |  GROUP BY b.doc_id
       |  UNION ALL
       |  SELECT 2, b.doc_id,
       |    bool_or(mx.max_id - f.first_doc < $slots OR b.doc_id > f.first_doc),
       |    count(*)
       |  FROM bt b JOIN fb f USING (band_idx, band_val), mx
       |  GROUP BY b.doc_id, mx.max_id),
       |xp AS (
       |  SELECT 0 AS phase, fpt.doc_id, fpt.doc_id > ffb.fp_first AS x_exact
       |  FROM fpt JOIN ffb USING (f)
       |  UNION ALL
       |  SELECT 2, fpt.doc_id,
       |    (mx.max_id - ffb.fp_first < $slots OR fpt.doc_id > ffb.fp_first)
       |  FROM fpt JOIN ffb USING (f), mx),
       |tm AS (
       |  SELECT n.phase, n.doc_id, d.source,
       |    CAST(n.n_lsh + 1 AS INTEGER) AS n_bands,
       |    CASE WHEN x.x_exact THEN 'exact'
       |         WHEN n.x_near THEN 'near_dup'
       |         WHEN n.doc_id IN (SELECT doc_id FROM lexd) THEN 'contam_lex'
       |         WHEN n.doc_id IN (SELECT doc_id FROM semd) THEN 'contam_sem'
       |         WHEN NOT gq.gok THEN 'gopher'
       |         ELSE 'kept' END AS stage
       |  FROM np n
       |  JOIN xp x ON x.phase = n.phase AND x.doc_id = n.doc_id
       |  JOIN documents d ON d.doc_id = n.doc_id
       |  JOIN gq ON gq.doc_id = n.doc_id),
       |hm AS (
       |  SELECT ph.phase, d.doc_id, d.source, 1 AS n_bands,
       |    'holdout' AS stage
       |  FROM documents d, (SELECT 0 AS phase UNION ALL SELECT 2) ph
       |  WHERE d.doc_id % $evalMod = 0),
       |u AS (SELECT * FROM tm UNION ALL SELECT * FROM hm)
       |SELECT phase, doc_id, source, n_bands, stage, stage = 'kept' AS kept
       |FROM u ORDER BY phase, doc_id""".stripMargin
  }

  private lazy val sessionizeOracle: String =
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), b AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), sg AS (
        |  SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, sid, max(us) AS end_us, count(*) AS n
        |  FROM sg GROUP BY user_id, sid
        |), sess2 AS (
        |  SELECT user_id, sid, end_us, n,
        |    max(sid) OVER (PARTITION BY user_id) AS max_sid
        |  FROM sess
        |), mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events
        |FROM sess2, mx
        |WHERE sid < max_sid OR (end_us + 1800000000) // 1000 < mxus // 1000
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin
}
