package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.json4s.JObject
import org.json4s.JsonDSL._

import graft.core.{FanOut, TempDirs}
import graft.queries.{Bpe, Dedup, IvfPq, Similarity, StreamingQueries}
import graft.sources.Tables

/** Dev-only queries that [[Profile]] times and reports with the config
  * each resolved: `runMain graft.Profile <sfDir> dev_ [passes]`. They
  * are not in [[SparkEntry.queries]], so Verify, Bench and the oracle
  * never see them, and every name starts with `dev_`.
  *
  * The RULE-RESOLVED operator configurations: the oracled queries keep
  * fixed gate configs (static oracle SQL cannot depend on runtime n),
  * and a fixed config has a quadratic wall wherever a blocking-key
  * population is divided among a constant number of buckets:
  *   - `embed_lsh`: chance collisions per band are n²/2^r (at 200 k
  *     diverse vectors the fixed r=8 built a 69 GB candidate shuffle).
  *     Rule: [[Dedup.lshRowsForN]].
  *   - `semdedup*`, `knn_join*`: the within-cell pair join is
  *     Σ|cell|² ≈ n²/k at fixed k. Rule: [[Similarity.kmeansCellsForN]]
  *     (cells ≈ √n ⇒ join cost ≈ n^1.5).
  *   - `ivfpq*`: the probed-cell ADC candidate volume is probes × n/k
  *     per query, the same fixed-k erosion. Same rule.
  * Each builder counts n and resolves its rule when the frame is built,
  * as a production pipeline would. `_sampled` variants train on
  * [[Similarity.TrainSamplePerCell]]·k coin samples.
  *
  * The BPE trainers run at a production-shaped 256-merge budget, and
  * the stream entries drain [[StreamRep]] chunks of a table on the
  * RocksDB provider, one file per trigger with event time shifted 32
  * days per chunk, so a watermark-governed store must stay bounded by
  * one chunk's keys; Profile's `progress` carries the per-batch input
  * rows and state rows.
  */
object DevQueries {

  type Builder = (SparkSession, String) => (DataFrame, JObject)

  private val BpeMerges = 256
  private val StreamRep = 10

  val queries: Map[String, Builder] = Map(
    "dev_embed_lsh" -> embedLsh,
    "dev_semdedup" -> semdedup(sampled = false, cellCap = None),
    "dev_semdedup_sampled" -> semdedup(sampled = true, cellCap = None),
    "dev_semdedup_capped" -> semdedup(sampled = true, cellCap = Some(Dedup.SemdedupCellCap)),
    "dev_ivfpq" -> ivfpq(sampled = false),
    "dev_ivfpq_sampled" -> ivfpq(sampled = true),
    "dev_knn_join" -> knnJoin(candCap = None),
    "dev_knn_join_capped" -> knnJoin(candCap = Some(Similarity.KnnCandCap)),
    "dev_contam_embed" -> contamEmbed,
    "dev_bpe_train" -> bpe(batched = false),
    "dev_bpe_train_batched" -> bpe(batched = true),
    "dev_streaming" -> stream(windowedCounts, "update"),
    "dev_stream_join" -> stream(join, "append"),
    "dev_stream_dedup" -> stream(dedup, "append"),
    "dev_stream_lsh" -> stream(lshAdmission, "append"),
    "dev_stream_tws" -> stream(twsCounter, "append"),
    "dev_stream_pipeline" -> stream(pipeline, "append"))

  private def embeddings(s: SparkSession, dir: String): (DataFrame, Long) = {
    val emb = FanOut(Tables(s, dir).embeddings)
    (emb, emb.count())
  }

  private def embedLsh(s: SparkSession, dir: String): (DataFrame, JObject) = {
    val (emb, n) = embeddings(s, dir)
    val r = Dedup.lshRowsForN(n)
    (Dedup.embedLshPairs(emb, r, Dedup.LshBands),
      ("n" -> n) ~ ("rows_per_band" -> r) ~ ("bands" -> Dedup.LshBands))
  }

  /** Training runs inside the build, into a fresh centroid sink, as in
    * the oracled `dd_semdedup`.
    */
  private def semdedup(sampled: Boolean, cellCap: Option[Int]): Builder = (s, dir) => {
    val (emb, n) = embeddings(s, dir)
    val k = Similarity.kmeansCellsForN(n)
    val cap = if (sampled) Some(Similarity.TrainSamplePerCell * k) else None
    (Dedup.semdedup(emb.select("vec_id", "embedding"), TempDirs.create("graft_dev_semdedup_"),
        k, Dedup.SemdedupIters, cap, cellCap),
      ("n" -> n) ~ ("k" -> k) ~ ("iters" -> Dedup.SemdedupIters) ~
        ("train_cap" -> cap.getOrElse(0)) ~ ("cell_cap" -> cellCap.getOrElse(0)))
  }

  private def ivfpq(sampled: Boolean): Builder = (s, dir) => {
    val (emb, n) = embeddings(s, dir)
    val k = Similarity.kmeansCellsForN(n)
    val cap = if (sampled) Some(Similarity.TrainSamplePerCell * k) else None
    (IvfPq.ivfPqCore(emb.select("vec_id", "embedding"), TempDirs.create("graft_dev_ivfpq_c_"),
        TempDirs.create("graft_dev_ivfpq_b_"), coarseK = k, probes = IvfPq.Probes, trainCap = cap),
      ("n" -> n) ~ ("coarse_k" -> k) ~ ("probes" -> IvfPq.Probes) ~
        ("train_cap" -> cap.getOrElse(0)))
  }

  /** The k-NN self-join at cells ≈ √n with sampled training and the
    * FIXED probe budget: [[Similarity.kmeansProbesForK]] pins a query's
    * scanned fraction, which for an all-rows join makes the candidate
    * total n²/16, the wall the cells exist to avoid. `candCap` samples
    * the candidates of oversized cells ([[Similarity.KnnCandCap]]).
    */
  private def knnJoin(candCap: Option[Int]): Builder = (s, dir) => {
    val (emb, n) = embeddings(s, dir)
    val k = Similarity.kmeansCellsForN(n)
    val cap = Similarity.TrainSamplePerCell * k
    (Similarity.knnJoinCore(emb.select("vec_id", "embedding"), TempDirs.create("graft_dev_knn_"),
        k, Similarity.KmeansIters, Similarity.KmeansProbes, Some(cap), candCap),
      ("n" -> n) ~ ("k" -> k) ~ ("probes" -> Similarity.KmeansProbes) ~ ("train_cap" -> cap) ~
        ("cand_cap" -> candCap.getOrElse(0)))
  }

  /** The eval set held benchmark-sized (≈ 40 vectors at any n): the
    * modulus grows with n, so the broadcast in-row fold should scan
    * linearly.
    */
  private def contamEmbed(s: SparkSession, dir: String): (DataFrame, JObject) = {
    val (emb, n) = embeddings(s, dir)
    val evalMod = math.max(Dedup.ContamEmbedEvalMod.toLong, n / 39)
    (Dedup.contamEmbed(emb, evalMod), ("n" -> n) ~ ("eval_mod" -> evalMod))
  }

  /** The sequential trainer runs one Spark round per merge; the batched
    * one merges up to [[Bpe.BpeMaxBatch]] commuting pairs per round,
    * and reports its round count from the rules' `round` column.
    */
  private def bpe(batched: Boolean): Builder = (s, dir) => {
    val docs = FanOut(Tables(s, dir).documents)
    val n = docs.count()
    val rules =
      if (batched) Bpe.trainStateBatched(docs, BpeMerges)._1 else Bpe.trainState(docs, BpeMerges)._1
    val config = ("n" -> n) ~ ("merges" -> BpeMerges) ~ ("rules" -> rules.count())
    (rules, if (batched) config ~ ("bat_rounds" -> rules.agg(max("round")).head().getInt(0)) else config)
  }

  /** Stage the chunks on a RocksDB session, drain `shape` into a `noop`
    * sink while the frame is built, and return an empty frame.
    */
  private def stream(shape: (SparkSession, String) => DataFrame, mode: String): Builder = (s0, dir) => {
    val s = StreamingQueries.rocksDbSession(s0)
    StreamingQueries.drain(shape(s, dir).writeStream.format("noop").outputMode(mode), "dev_stream")
    val config: JObject = "rep" -> StreamRep
    (s.emptyDataFrame, config)
  }

  /** Stage [[StreamRep]] chunks of the events table, each 32 days and
    * 10⁸ event ids past the last, and return a reader of them, one file
    * per trigger.
    */
  private def eventChunks(s: SparkSession, dir: String): () => DataFrame = {
    val ev = Tables(s, dir).events.select("event_id", "ts", "user_id", "event_type")
    val src = StreamingQueries.stagePhases(s, "dev_stream_events", (0 until StreamRep).map(i =>
      ev.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 32} DAYS"))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))))
    val schema = s.read.parquet(src).schema
    () => s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
  }

  /** [[StreamRep]] chunks of the documents table with chunk-unique
    * doc_ids but IDENTICAL text, each 32 days on a 60 s/doc ingest clock
    * (as `st_lsh_dedup`): a content-addressed store should hold one
    * chunk's distinct content, not rep × the corpus.
    */
  private def docChunks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val src = StreamingQueries.stagePhases(s, "dev_stream_docs", (0 until StreamRep).map(i =>
      d.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text"),
        timestamp_seconds(lit(1700000000L + i * 32L * 86400L) + col("doc_id") * 60L).as("ts"),
        lit(i).as("phase"))))
    s.readStream.schema("doc_id BIGINT, text STRING, ts TIMESTAMP, phase INT")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 hour")
  }

  private def windowedCounts(s: SparkSession, dir: String): DataFrame =
    eventChunks(s, dir)().withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** `st_join`'s state: a ±5-minute band on user_id, 1-hour watermark
    * on both sides, one reader per side.
    */
  private def join(s: SparkSession, dir: String): DataFrame = {
    val events = eventChunks(s, dir)
    val clicks = events().where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = events().where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    errors.join(clicks, col("user_id") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
        col("c_ts") <= col("e_ts") + expr("INTERVAL 5 MINUTES"))
      .select("error_id", "user_id")
  }

  /** `st_dedup`'s state: the keyspace within the watermark horizon. */
  private def dedup(s: SparkSession, dir: String): DataFrame =
    eventChunks(s, dir)().withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "event_type")

  /** `st_lsh_dedup`'s state: the band → first-claimant admission index,
    * bands computed on ingest by the batch [[Dedup.bandsOf]].
    */
  private def lshAdmission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.bandsOf(docChunks(s, dir).select(col("doc_id"),
        graft.functions.WordShingles.of(col("text")).as("sh"), col("ts"), col("phase")), "ts", "phase")
      .where(col("band_val").isNotNull)
      .select(concat(col("band_idx").cast("string"), lit(":"), col("band_val")).as("band_key"),
        col("doc_id"), col("phase"), col("ts"))
      .as[graft.streaming.LshBandEvent]
      .groupByKey(_.band_key)
      .transformWithState(new graft.streaming.LshAdmitter(3600L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** `st_tws_count`'s state: a ValueState per user, flat at the keyspace
    * whatever the rep.
    */
  private def twsCounter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventChunks(s, dir)().select(col("user_id"), (col("event_id") % 1000).as("cents"))
      .as[graft.streaming.TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new graft.streaming.TwsCounter, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** `st_pipeline`'s composed shape: the stateless screens against the
    * real `dir` eval set (the chunks carry no embeddings, so the
    * semantic screen never fires) feeding the fingerprint + LSH-band
    * admission index.
    */
  private def pipeline(s: SparkSession, dir: String): DataFrame =
    StreamingQueries.pipelineVerdicts(s,
      docChunks(s, dir).select(col("doc_id"), col("text"), lit("en").as("lang"), lit("s0").as("source"),
        lit(null).cast("array<float>").as("emb"), col("ts"), col("phase")),
      StreamingQueries.pipelineScreens(s, dir)).toDF()
}
