package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.Staged

/** Scale-study driver for the RULE-RESOLVED operator configurations —
  * the measurements the n-adaptive rules in [[ScaleConfig]] exist for.
  *
  * The oracled queries keep their fixed gate configs (static oracle
  * SQL can't depend on runtime n), and a fixed config has a documented
  * quadratic wall wherever a blocking-key population is divided among
  * a constant number of buckets:
  *
  *   - `embed_lsh`: expected chance collisions per band are n²/2^r —
  *     fine at gate scale, catastrophic two decades up (at 200 k
  *     diverse vectors the fixed r=8 built a 69 GB candidate shuffle
  *     and ran the box out of disk). Rule: [[Dedup.lshRowsForN]].
  *   - `semdedup`: the within-cell pair join is Σ|cell|² ≈ n²/k at
  *     fixed k. Rule: [[Similarity.kmeansCellsForN]] (cells ≈ √n ⇒
  *     join cost ≈ n^1.5) — the SAME wall shape, one rule over.
  *   - `ivfpq`: the probed-cell ADC candidate volume is
  *     probes × n/k per query — linear drift, not a wall, but the
  *     same fixed-k erosion. Rule: [[Similarity.kmeansCellsForN]].
  *
  * A production pipeline calls the rule with its corpus size; this
  * main measures THAT path at whatever scale directory it is pointed
  * at, with Bench's timing discipline (warm-up pass, N timed passes,
  * caches cleared between passes, min reported).
  *
  * Usage: runMain graft.ScaleStudy <sfDir> [passes]
  *   [embed_lsh|semdedup|semdedup_sampled|semdedup_capped|ivfpq|ivfpq_sampled|recall|annroute|bpe_merges|streaming|stream_shapes|wc|knn_join|knn_join_capped|contam_embed|formats]
  * Prints one JSON line; never run concurrently with Bench.
  *
  * Studies that only time declared queries are [[Profile]] runs, whose
  * `min` and `samples` follow the same discipline:
  *   - per-row and constant-state document operators (was `rowops`):
  *     `runMain graft.Profile <sfDir> ta_winnow,ta_heavy_hitters,ta_hll_distinct,ta_chunk 3`;
  *   - cap-bounded and constant-model operators (was `r7ops`):
  *     `runMain graft.Profile <sfDir> dd_winnow_pairs,dd_span_cut,ta_bloom,ta_bpe_train,sim_ivfpq_rerank 3`;
  *   - corpus-scale graph and scoring (was `r7ops2`):
  *     `runMain graft.Profile <sfDir> dd_pagerank,ta_dsir 3`;
  *   - the length-controlled re-run (was `lenctl`), pointed at a
  *     `tools/upscale_diverse.py` "perm" corpus:
  *     `runMain graft.Profile <sfDir> ta_winnow,dd_winnow_pairs,ta_hll_distinct 3`.
  *
  * `semdedup_sampled` / `ivfpq_sampled` are the rule paths with
  * training capped at [[graft.queries.Similarity.TrainSamplePerCell]]·k
  * deterministic-coin samples — the corpus-scale training
  * configuration; contrast their decade ratios with the full-training
  * twins to see the n·k training term drop out. `recall` measures
  * QUALITY instead of time: recall@3 vs the exact brute-force ranking
  * for the three learned-quantizer search paths at the rule-resolved
  * (k, probes) and sampled training — the user-facing claim a time
  * study cannot make.
  */
object ScaleStudy {

  /** Clone of `spark` on the RocksDB provider that keeps 2000 batches
    * of progress (the default keeps 100).
    */
  private def rocksDbStudySession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.queries.StreamingQueries.RocksDbProvider)
    s2.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s2
  }

  /** Start `writer` on a new checkpoint, drain it, and summarize its
    * progress as JSON fields: input events, batches that read input,
    * drain wall, events/s, and the first state operator's row count
    * (max and last) and memory (max).
    */
  private def drainStats(writer: DataStreamWriter[_]): String = {
    val chk = Files.createTempDirectory("graft_stream_chk_").toString
    val q = writer.option("checkpointLocation", chk).start()
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.toSeq
    q.stop()
    val inputRows = progs.map(_.numInputRows)
    val state = progs.flatMap(_.stateOperators.headOption)
    val stateRows = state.map(_.numRowsTotal)
    val stateMem = state.map(_.memoryUsedBytes)
    val events = inputRows.sum
    s""""events":$events,"batches":${inputRows.count(_ > 0)},"wall_sec":$wall,""" +
      s""""events_per_sec":${(events / wall).toLong},""" +
      s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max},""" +
      s""""state_rows_last":${stateRows.lastOption.getOrElse(0L)},""" +
      s""""state_mem_max_bytes":${if (stateMem.isEmpty) 0 else stateMem.max}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val study = if (args.length > 2) args(2) else "embed_lsh"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // "bpe_merges": sequential vs batched BPE training at a
    // production-shaped merge budget (256). The sequential trainer is
    // one Spark round per merge — a fixed per-round floor that no
    // cluster size removes; the batched trainer merges up to
    // BpeMaxBatch provably-commuting pairs per round (bit-identical
    // rule list, BpeBatchedSpec + the shared ta_bpe_train oracle).
    // Reports wall time for both plus the batched round count.
    if (study == "bpe_merges") {
      import org.apache.spark.sql.functions.max
      val docs = graft.core.FanOut(
        graft.sources.Tables(spark, sfDir).documents)
      val nDocs = docs.count()
      // SPARK_GRAFT_BPE_MERGES: merge budget (default 256, the round-8
      // operating point). SPARK_GRAFT_BPE_SEQ=0 skips the sequential
      // control — at 1024+ merges its cost is pure round-count
      // arithmetic (measured at 256) and re-paying it buys nothing.
      val merges =
        sys.env.get("SPARK_GRAFT_BPE_MERGES").map(_.toInt).getOrElse(256)
      val runSeq = sys.env.get("SPARK_GRAFT_BPE_SEQ").forall(_ != "0")
      val seqJson = if (runSeq) {
        val t0 = System.nanoTime()
        val (seqRules, _) = graft.queries.Bpe.trainState(docs, merges)
        val nSeq = seqRules.count()
        val seqSec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s""""seq_merges":$nSeq,"seq_sec":$seqSec,"""
      } else ""
      val t1 = System.nanoTime()
      val (batRules, _) = graft.queries.Bpe.trainStateBatched(docs, merges)
      val nBat = batRules.count()
      val batSec = (System.nanoTime() - t1) / 1e9
      val rounds = batRules.agg(max("round")).head().getInt(0)
      // batch width per round — the round-8 expectation ("batches
      // widen past the character regime") measured instead of stated
      val widths = batRules.groupBy("round").count().orderBy("round")
        .collect().map(_.getLong(1))
      val windowMeans = widths.grouped(64).map(w =>
        f"${w.sum.toDouble / w.length}%.2f").mkString("[", ",", "]")
      spark.stop()
      println(s"""{"metric":"bpe_merges","n":$nDocs,"merges":$merges,""" +
        seqJson + s""""bat_merges":$nBat,""" +
        s""""bat_sec":$batSec,"bat_rounds":$rounds,""" +
        s""""batch_mean_per_64rounds":$windowMeans,""" +
        s""""batch_by_round":${widths.mkString("[", ",", "]")},""" +
        s""""sf":"$sfDir"}""")
      return
    }

    // "streaming": sustained micro-batch throughput on the RocksDB
    // provider — the 100 TB/day shape the 15 oracled st_* rows prove
    // SEMANTICS for but never measure. Stages SPARK_GRAFT_STREAM_REP
    // (default 10) replica chunks of the events table with event time
    // SHIFTED one span per replica (so the watermark genuinely
    // advances and evicts — state must stay bounded by the window, not
    // grow with history), then drains them one file per trigger
    // through a watermarked windowed aggregate. Reports events/s over
    // the drain and the state-store row/byte trajectory from the
    // progress stream — the boundedness claim as numbers.
    if (study == "streaming") {
      import org.apache.spark.sql.functions._
      val rep = sys.env.get("SPARK_GRAFT_STREAM_REP").map(_.toInt).getOrElse(10)
      val s2 = rocksDbStudySession(spark)
      val ev = graft.sources.Tables(s2, sfDir).events
        .transform(graft.sources.Tables.normalizeEventTs)
        .select(col("ts"), col("user_id"), col("event_type"))
      val src = graft.queries.StreamingQueries.stagePhases(s2, "scale_streaming",
        (0 until rep).map(i => ev.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 32} DAYS"))))
      val schema = s2.read.parquet(src).schema
      val stats = drainStats(s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("noop").outputMode("update"))
      spark.stop()
      println(s"""{"metric":"stream_throughput","rep":$rep,$stats,"sf":"$sfDir"}""")
      return
    }

    // "stream_shapes": sustained throughput + state boundedness for
    // the state shapes that actually outgrow executor heap at
    // 100 TB/day — the stream-stream JOIN's two-sided band state
    // (st_join's shape: both sides keyed by (join key, event time),
    // evicted against the query-global watermark), the DEDUP horizon's
    // keyspace state (st_dedup's shape: dropDuplicatesWithinWatermark),
    // the LSH near-dup ADMISSION index (st_lsh_dedup's shape: band →
    // first claimant, the store that grows with DISTINCT content
    // rather than event volume), the transformWithState v2 COUNTER
    // store (st_tws_count's shape: keyspace-sized ValueState), and the
    // COMPOSED curation pipeline (st_pipeline's shape: both content
    // indexes — fingerprint + LSH bands — behind the stateless
    // screens). Same
    // chunked-source discipline: rep copies of the table, each
    // +32 days, one file per trigger — event time advances chunk to
    // chunk, so a WATERMARK-GOVERNED store holds ~one chunk's keys at
    // any batch (state_rows flat in rep), while the tws counter pins
    // the keyspace bound instead (flat at |users| regardless of rep).
    // RocksDB provider, progress-derived metrics.
    if (study == "stream_shapes") {
      import org.apache.spark.sql.functions._
      val rep = sys.env.get("SPARK_GRAFT_STREAM_REP").map(_.toInt).getOrElse(10)
      val s2 = rocksDbStudySession(spark)
      val ev = graft.sources.Tables(s2, sfDir).events
        .transform(graft.sources.Tables.normalizeEventTs)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val src = graft.queries.StreamingQueries.stagePhases(s2, "scale_shapes_events",
        (0 until rep).map(i => ev.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 32} DAYS"))
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))))
      // docs chunks for the "lsh" shape: rep copies of the documents
      // table, each +32 days on the synthetic ingest clock (60 s/doc,
      // as st_lsh_dedup) with chunk-unique doc_ids but IDENTICAL text —
      // the content-addressed store's defining property under test:
      // state grows with DISTINCT content in the horizon (one chunk's
      // band set, flat in rep), not with event volume (rep × corpus),
      // because each chunk's claims expire wholesale when the watermark
      // jumps past them at the next chunk boundary.
      val lshT0 = 1700000000L
      val docs = graft.sources.Tables(s2, sfDir).documents
        .select(col("doc_id"), col("text"))
      val dsrc = graft.queries.StreamingQueries.stagePhases(s2, "scale_shapes_docs",
        (0 until rep).map(i => docs.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("text"),
          timestamp_seconds(lit(lshT0 + i.toLong * 32L * 86400L)
            + col("doc_id") * 60L).as("ts"),
          lit(i).as("phase"))))
      val schema = s2.read.parquet(src).schema
      def rd() = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      import s2.implicits._
      def shaped(shape: String): org.apache.spark.sql.DataFrame = shape match {
        case "join" =>
          // st_join's exact state shape: ±5-minute band on user_id,
          // 1-hour watermark on both sides (two readers off the same
          // chunk dir, one per side — the stJoinCore composition)
          val clicks = rd().where(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
            .withWatermark("c_ts", "1 hour")
          val errors = rd().where(col("event_type") === "error")
            .select(col("event_id").as("error_id"), col("user_id"),
              col("ts").as("e_ts"))
            .withWatermark("e_ts", "1 hour")
          errors.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("e_ts") - expr("INTERVAL 5 MINUTES") &&
              col("c_ts") <= col("e_ts") + expr("INTERVAL 5 MINUTES"))
            .select("error_id", "user_id")
        case "dedup" =>
          // st_dedup's state shape: the keyspace horizon
          rd().withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select("event_id", "event_type")
        case "lsh" =>
          // st_lsh_dedup's state shape: the near-dup ADMISSION index
          // (band → first claimant), bands computed on ingest via the
          // batch query's own Dedup.bandsOf derivation
          import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
          graft.queries.Dedup.bandsOf(
              s2.readStream
                .schema("doc_id BIGINT, text STRING, ts TIMESTAMP, phase INT")
                .option("maxFilesPerTrigger", "1").parquet(dsrc)
                .withWatermark("ts", "1 hour")
                .select(col("doc_id"),
                  graft.functions.WordShingles.of(col("text")).as("sh"),
                  col("ts"), col("phase")), "ts", "phase")
            // null-signature guard, as st_lsh_dedup: a null band_val
            // must not reach the keyed state
            .where(col("band_val").isNotNull)
            .select(concat(col("band_idx").cast("string"), lit(":"),
                col("band_val")).as("band_key"),
              col("doc_id"), col("phase"), col("ts"))
            .as[graft.streaming.LshBandEvent]
            .groupByKey(_.band_key)
            .transformWithState(
              new graft.streaming.LshAdmitter(3600L * 1000L),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
        case "tws" =>
          // the transformWithState v2 counter store (st_tws_count's
          // shape): ValueState keyed by user — state tracks the
          // KEYSPACE (flat in rep), per-batch work tracks arrivals
          import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
          rd()
            .select(col("user_id"), (col("event_id") % 1000).as("cents"))
            .as[graft.streaming.TwsEvent]
            .groupByKey(_.user_id)
            .transformWithState(new graft.streaming.TwsCounter,
              TimeMode.None(), OutputMode.Append())
            .toDF()
        case "pipeline" =>
          // st_pipeline's COMPOSED shape over the same docs chunks:
          // the stateless screens (gopher + lexical probe against the
          // real sfDir eval shingles; no embeddings ride the upscaled
          // chunks, so the sem screen is structurally present but
          // never fires — declared) feeding the dual-index admission
          // (fingerprint pseudo-band + LSH bands + holdout
          // pass-through). State = one chunk's distinct band set PLUS
          // its train fingerprints — still horizon-bounded, the
          // invariant under test at ×10/×100
          graft.queries.StreamingQueries.pipelineVerdicts(s2,
            s2.readStream
              .schema("doc_id BIGINT, text STRING, ts TIMESTAMP, phase INT")
              .option("maxFilesPerTrigger", "1").parquet(dsrc)
              .withWatermark("ts", "1 hour")
              .select(col("doc_id"), col("text"), lit("en").as("lang"),
                lit("s0").as("source"),
                lit(null).cast("array<float>").as("emb"),
                col("ts"), col("phase")),
            graft.queries.StreamingQueries.pipelineScreens(s2, sfDir))
            .toDF()
      }
      val results = Seq("join", "dedup", "lsh", "tws", "pipeline").map { shape =>
        val stats = drainStats(shaped(shape).writeStream.format("noop")
          .outputMode("append"))
        s""""$shape":{$stats}"""
      }
      spark.stop()
      println(s"""{"metric":"stream_shapes","rep":$rep,""" +
        results.mkString("", ",", ",") + s""""sf":"$sfDir"}""")
      return
    }

    // "wc": the HEADLINE surface at ×rep corpus volume — the one
    // pipeline the scale studies never measured directly (the golden
    // tests and the bench headline both run the reference's 13 MB
    // corpus as-is). Stages SPARK_GRAFT_WC_REP copies of the 130 chunk
    // files (130 MB / 1.3 GB at rep 10/100), then closes the "would
    // the reference's own query survive 100×?" question three ways:
    //   - plan shape: the pipeline must STAY text scan → codegen'd
    //     tokenize/normalize/filter → partial agg → ONE word-keyed
    //     exchange → final agg at every volume (the same assert as
    //     PlanShapeSpec's gate-scale check, here on the ×rep corpus);
    //   - answer shape: vocabulary is volume-invariant (replication
    //     adds no new words) and every count scales EXACTLY ×rep —
    //     checked against the 13 MB golden totals;
    //   - throughput: min-of-`passes` wall + tokens/s on the Bench
    //     headline's own token denominator (2,297,140 per replica).
    if (study == "wc") {
      val rep = sys.env.get("SPARK_GRAFT_WC_REP").map(_.toInt).getOrElse(10)
      val srcFiles = new java.io.File("/root/reference/file_chunks_130")
        .listFiles().filter(_.getName.endsWith(".txt")).sortBy(_.getName)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_wc_corpus_").toString
      var bytes = 0L
      (0 until rep).foreach { r =>
        srcFiles.foreach { f =>
          bytes += f.length()
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(dir, f"rep$r%03d_${f.getName}"))
        }
      }
      val df = graft.core.WordCount.run(spark, Seq(dir))
      val plan = df.queryExecution.executedPlan.toString
      val exchanges =
        "Exchange hashpartitioning\\(word".r.findAllIn(plan).size
      require(exchanges == 1,
        s"wc at rep $rep must keep exactly ONE word-keyed exchange:\n$plan")
      require(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
        s"wc at rep $rep grew join work it never had:\n$plan")
      // answer invariance vs the 13 MB golden corpus: same vocabulary,
      // every count ×rep (one untimed aggregate pass)
      import org.apache.spark.sql.functions._
      val one = graft.core.WordCount
        .run(spark, Seq("/root/reference/file_chunks_130"))
      val mismatch = df.join(one.withColumnRenamed("count", "c1"), Seq("word"), "full_outer")
        .where(coalesce(col("count"), lit(-1L)) =!=
          coalesce(col("c1"), lit(-1L)) * rep)
        .count()
      require(mismatch == 0,
        s"wc at rep $rep: $mismatch words broke count = rep × golden")
      val agg = df.agg(count(lit(1)), sum("count")).collect()(0)
      val (nWords, nTokens) = (agg.getLong(0), agg.getLong(1))
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.core.WordCount.run(spark, Seq(dir))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val wall = (1 to passes).map(_ => once()).min
      spark.stop()
      println(s"""{"metric":"wc_scale","rep":$rep,"files":${srcFiles.length * rep},""" +
        s""""bytes":$bytes,"distinct_words":$nWords,"total_tokens":$nTokens,""" +
        s""""exchanges":$exchanges,"wall_sec":$wall,""" +
        s""""tokens_per_sec":${(2297140L * rep / wall).toLong},"sf":"ref_chunks_130"}""")
      return
    }

    // "knn_join_capped": the SKEW-PROOF k-NN-join configuration —
    // knnJoinCore with the KnnCandCap candidate sample on oversized
    // cells (SPARK_GRAFT_KNN_CAND_CAP overrides; 0 = uncapped
    // control). Reports wall time AND the two quality numbers the cap
    // trades between: recall@3 vs exact brute force over the first
    // 100 vectors (strict id match — drops by design on capped cells)
    // and the COSINE RATIO (sum of returned neighbor cosines / sum of
    // true top-3 cosines over the same queries — the k-NN-graph
    // quality that holds when the cell is a tight cluster and any
    // sample member is a good neighbor).
    if (study == "knn_join_capped") {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val emb0 = graft.core.FanOut(graft.sources.Tables(spark, sfDir).embeddings)
      val vectors = emb0.select(col("vec_id"), col("embedding"))
      val n = vectors.count()
      val k = graft.queries.Similarity.kmeansCellsForN(n)
      val probes = graft.queries.Similarity.KmeansProbes
      val trainCap = graft.queries.Similarity.TrainSamplePerCell * k
      val candCap0 = sys.env.get("SPARK_GRAFT_KNN_CAND_CAP").map(_.toInt)
        .getOrElse(graft.queries.Similarity.KnnCandCap)
      val candCap = if (candCap0 <= 0) None else Some(candCap0)
      def tmp(): String = java.nio.file.Files
        .createTempDirectory("graft_knncap_study_").toString
      def run(): org.apache.spark.sql.DataFrame =
        graft.queries.Similarity.knnJoinCore(vectors, tmp(), k,
          graft.queries.Similarity.KmeansIters, probes, Some(trainCap), candCap)
      def once(): Double = {
        val t0 = System.nanoTime()
        run().write.format("noop").mode("overwrite").save()
        val el = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); el
      }
      once() // warm-up
      val samples = (1 to passes).map(_ => once())
      // quality pass over the first 100 vectors
      val nq = 100
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.queries.Similarity.dotBuiltin(a, b)
      val q = broadcast(vectors.where(col("vec_id") < nq)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__m").desc, col("vec_id"))
      val truth = Staged.acquire(vectors.select(col("vec_id"), col("embedding").as("ec"))
        .crossJoin(q).where(col("query_id") =!= col("vec_id"))
        .withColumn("__m", dot(col("eq"), col("ec")) /
          (sqrt(dot(col("eq"), col("eq"))) * sqrt(dot(col("ec"), col("ec")))))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select(col("query_id"), col("vec_id"), col("__m").as("tcos")),
        eager = false)
      val out = Staged.acquire(run().where(col("vec_id") < nq), eager = false)
      val (recall, retSum, truSum) = Staged.within(truth, out) {
        val hits = out.df.select(col("vec_id").as("query_id"), col("nbr_id").as("vec_id"))
          .join(truth.df, Seq("query_id", "vec_id")).count()
        (hits.toDouble / (3.0 * nq),
          out.df.agg(sum("cosine")).head().getDouble(0),
          truth.df.agg(sum("tcos")).head().getDouble(0))
      }
      spark.stop()
      println(s"""{"metric":"sim_knn_join_capped","n":$n,"k":$k,""" +
        s""""probes":$probes,"cand_cap":${candCap.getOrElse(0)},""" +
        s""""samples":[${samples.mkString(",")}],"min":${samples.min},""" +
        s""""recall3_at100":$recall,""" +
        s""""cosine_ratio_at100":${retSum / truSum},"sf":"$sfDir"}""")
      return
    }

    // "formats": the ingest/egress surface measured head-to-head — the
    // five oracled roundtrip formats (parquet / ORC / JSONL / CSV /
    // Avro) at SPARK_GRAFT_FMT_REP × the events table (default ×10 =
    // 1 M rows at sf0.1), timing WRITE and READ+AGGREGATE separately
    // with the exact option sets the oracled roundtrips use (explicit
    // schemas, micros timestampFormat for CSV). The claims under
    // measurement: columnar formats aggregate faster than row/text
    // formats (pruning + encoding), Avro's sync-marker splits keep its
    // read parallel like the others, and text formats pay their
    // serialization tax on BOTH sides.
    if (study == "formats") {
      import org.apache.spark.sql.functions._
      val rep = sys.env.get("SPARK_GRAFT_FMT_REP").map(_.toInt).getOrElse(10)
      val base0 = graft.sources.Tables(spark, sfDir).events
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val ev = Staged.acquire((0 until rep).map(i => base0
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 32} DAYS")))
        .reduce(_.unionAll(_))
        .repartition(32), eager = false)
      val nRows = ev.df.count() // the materializing pass, and the row total
      val fmtCsv = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"
      def fresh(tag: String): String = java.nio.file.Files
        .createTempDirectory(s"graft_fmt_${tag}_").toString
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def agg(df: org.apache.spark.sql.DataFrame): Unit = df
        .groupBy("event_type")
        .agg(count(lit(1)), sum(round(col("value") * 100).cast("long")),
          max(col("ts")), sum(length(col("props"))))
        .write.format("noop").mode("overwrite").save()
      val embBase = graft.sources.Tables(spark, sfDir).embeddings
        .select("vec_id", "embedding")
      val embaSchema = embBase.schema
      val emba = Staged.acquire((0 until rep).map(i => embBase
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
        .reduce(_.unionAll(_))
        .repartition(32))
      def aggArr(df: org.apache.spark.sql.DataFrame): Unit = df
        .agg(count(lit(1)),
          sum(expr("aggregate(embedding, 0d, (a, x) -> a + x)")))
        .write.format("noop").mode("overwrite").save()
      val results = Staged.within(ev, emba)(Seq(
        ("parquet",
          (d: String) => ev.df.write.mode("overwrite").parquet(d),
          (d: String) => agg(spark.read.parquet(d))),
        ("orc",
          (d: String) => ev.df.write.mode("overwrite").orc(d),
          (d: String) => agg(spark.read.orc(d))),
        // explicit micros timestampFormat (like the CSV leg): Spark's
        // default JSON format serializes millis, which would silently
        // truncate the micros the events table carries — all five legs
        // must round-trip the same values for the comparison to hold
        ("jsonl",
          (d: String) => ev.df.write.mode("overwrite")
            .option("timestampFormat", fmtCsv).json(d),
          (d: String) => agg(spark.read.schema(schema)
            .option("timestampFormat", fmtCsv).json(d))),
        ("csv",
          (d: String) => ev.df.write.mode("overwrite")
            .option("header", "true").option("timestampFormat", fmtCsv).csv(d),
          (d: String) => agg(spark.read.schema(schema)
            .option("header", "true").option("timestampFormat", fmtCsv).csv(d))),
        ("avro",
          (d: String) => graft.sources.AvroIO.write(ev.df, d),
          (d: String) => agg(graft.sources.AvroIO.read(spark, d, base0.schema))),
        // the projection-pushdown path: same files, reader schema
        // pruned to the 4 columns the aggregate touches — writer-only
        // fields ride Avro's resolution skip path instead of being
        // materialized (read(…, columns) scaladoc has the mechanics)
        ("avro_pruned",
          (d: String) => graft.sources.AvroIO.write(ev.df, d),
          (d: String) => agg(graft.sources.AvroIO.read(spark, d, base0.schema,
            Seq("ts", "event_type", "value", "props")))),
        // per-block deflate: the lever on the row format's byte-volume
        // gap (the r10 study's structural finding) — block compression
        // keeps sync-marker splittability, unlike whole-file gzip
        ("avro_deflate",
          (d: String) => graft.sources.AvroIO.write(ev.df, d, codec = "deflate"),
          (d: String) => agg(graft.sources.AvroIO.read(spark, d, base0.schema))),
        // ARRAY-payload legs (q66's complex-type surface): the
        // embeddings table rep×, parquet's native list encoding vs
        // AvroIO's recursive array path, aggregated by an in-row fold
        // over every element — the feature-payload CDC shape
        ("parquet_array",
          (d: String) => emba.df.write.mode("overwrite").parquet(d),
          (d: String) => aggArr(spark.read.parquet(d))),
        ("avro_array",
          (d: String) => graft.sources.AvroIO.write(emba.df, d),
          (d: String) => aggArr(graft.sources.AvroIO.read(spark, d, embaSchema)))
      ).map { case (name, w, r) =>
        val d0 = fresh(name); w(d0); r(d0) // warm-up, untimed
        val samples = (1 to passes).map { _ =>
          val d = fresh(name)
          val tw = timed(w(d))
          val tr = timed(r(d))
          (tw, tr)
        }
        val bytes = new java.io.File(d0).listFiles()
          .filter(_.isFile).map(_.length).sum
        s""""$name":{"write_sec":${samples.map(_._1).min},""" +
          s""""read_agg_sec":${samples.map(_._2).min},""" +
          s""""bytes":$bytes}"""
      })
      spark.stop()
      println(s"""{"metric":"format_throughput","rows":$nRows,"rep":$rep,""" +
        results.mkString("", ",", ",") + s""""sf":"$sfDir"}""")
      return
    }

    val emb = graft.core.FanOut(graft.sources.Tables(spark, sfDir).embeddings)
    val n = emb.count()

    // "recall": quality-across-decades for the ANN rule paths. Each
    // family runs at its rule-resolved k with sampled training (the
    // corpus-scale configuration), then its top-3 set is compared per
    // query against the exact brute-force top-3 under the SAME metric
    // the family ranks by (cosine for kmeans-IVF, squared L2 for the
    // ADC paths). recall@3 = |ann ∩ brute| / (3·queries) — computed as
    // a distributed join + count, no row fetch.
    // "annroute": the ANN family ROUTING rule measured end to end —
    // IvfPq.calibrateRoute (both families built at the shared
    // sampled-training budget, recall@3 measured on the coin-keyed
    // calibration queries against exact truth, route by margin)
    // validated against an INDEPENDENT full measurement of both
    // families on a DEDICATED third coin's queries (graft-route-study|
    // — disjoint from both training coins and the calibration coin).
    // The round-10/11-take-1 study used id-prefix queries (vec_id <
    // nq) here, which on the replicated decade corpora is a GEOMETRY-
    // BIASED sample: ids 0..nq−1 are all replica-0 base vectors, and
    // PQ's contiguous-subspace split is not invariant under the
    // upscaler's per-replica dim rotations, so replica 0's ADC
    // quantization error is not the corpus average (measured: adc
    // recall 0.05 on the id prefix vs 0.19 on coin queries at iso
    // ×10). A coin sample spreads queries across replicas — the
    // estimate the router's own calibration is judged against must
    // not carry a sampling bias the router avoided.
    // Run at the isotropic AND clustered decades: the record shows
    // the calibration picking the measured winner wherever the gap
    // exceeds the tie band. (Three O(sample) proxy signals were
    // measured and rejected before this landed on direct
    // calibration — BENCH_annroute_r10.jsonl carries every cut.)
    if (study == "annroute") {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val k = graft.queries.Similarity.kmeansCellsForN(n)
      val cap = graft.queries.Similarity.TrainSamplePerCell * k
      val pqK = graft.queries.Pq.pqKForN(n)
      val vectors = emb.select(col("vec_id"), col("embedding"))
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.queries.Similarity.dotBuiltin(a, b)
      val studyCoin =
        md5(concat(lit("graft-route-study|"), col("vec_id").cast("string")))
      def brute(nq: Int, byCosine: Boolean): org.apache.spark.sql.DataFrame = {
        val q = broadcast(vectors.orderBy(studyCoin, col("vec_id")).limit(nq)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq")))
        val scored = vectors.select(col("vec_id"), col("embedding").as("ec"))
          .crossJoin(q).where(col("query_id") =!= col("vec_id"))
        val metric =
          if (byCosine) dot(col("eq"), col("ec")) /
            (sqrt(dot(col("eq"), col("eq"))) * sqrt(dot(col("ec"), col("ec"))))
          else -(dot(col("eq"), col("eq")) - lit(2.0) * dot(col("eq"), col("ec"))
            + dot(col("ec"), col("ec")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("__m").desc, col("vec_id"))
        scored.withColumn("__m", metric)
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .select("query_id", "vec_id")
      }
      def recallOf(ann: org.apache.spark.sql.DataFrame, nq: Int,
          byCosine: Boolean): Double = {
        val hits = ann.select("query_id", "vec_id")
          .join(brute(nq, byCosine), Seq("query_id", "vec_id")).count()
        hits.toDouble / (3.0 * nq)
      }
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      val p0 = graft.queries.IvfPq.Probes
      val t0 = System.nanoTime()
      val cal = graft.queries.IvfPq.calibrateRoute(vectors, k, pqK, cap, p0)
      val signalSec = (System.nanoTime() - t0) / 1e9
      val e = vectors.withColumn("norm",
        sqrt(dot(col("embedding"), col("embedding"))))
      // independent truth at HIGHER precision than the calibration
      // (300 hit slots, SE ≈ ±0.01): the reference measurement should
      // be as precise as one bounded scan affords, so a calibration-
      // vs-study disagreement reads as a real seam, not study noise
      val studyNq = 100
      val studyIds = vectors.orderBy(studyCoin, col("vec_id")).limit(studyNq)
        .select("vec_id")
      val rKmeans = recallOf(
        graft.queries.Similarity.kmeansIvfCore(e, tmp("graft_ar_km_"),
          k = k, probes = p0, trainCap = Some(cap),
          queryIds = Some(studyIds)),
        nq = studyNq, byCosine = true)
      val rRerank = recallOf(
        graft.queries.IvfPq.ivfPqCore(vectors, tmp("graft_ar_rr_c_"),
          tmp("graft_ar_rr_b_"), coarseK = k, probes = p0,
          trainCap = Some(cap), pqK = pqK,
          rerankDepth = Some(graft.queries.IvfPq.RerankDepth),
          queryIds = Some(studyIds)),
        nq = studyNq, byCosine = false)
      val winner = if (rKmeans > rRerank) "kmeans_ivf"
        else if (rRerank > rKmeans) "ivfadc" else "tie"
      // route_correct applies the router's OWN decision rule to the
      // high-precision study recalls (raw cells only past the serving-
      // cost margin — the contract is NOT "recall argmax"): correct =
      // the calibration reached the same decision the precise
      // measurement does. study_gap + in_band stay in the record so a
      // reader can see how close the decision sat to the boundary.
      val studyRoute = graft.queries.IvfPq.annRouteForRecalls(rKmeans, rRerank)
      val studyGap = math.abs(rKmeans - rRerank)
      val margin = graft.queries.IvfPq.RouteMargin
      spark.stop()
      println(s"""{"metric":"ann_route","n":$n,"k":$k,"train_cap":$cap,""" +
        s""""pq_k":$pqK,"probes":$p0,"study_nq":$studyNq,""" +
        s""""cal_kmeans":${cal.kmeansRecall},"cal_ivfpq_rerank":${cal.adcRecall},""" +
        s""""cal_gap":${cal.gap},"cal_in_band":${cal.inBand},""" +
        s""""route_margin":$margin,""" +
        s""""signal_sec":$signalSec,""" +
        s""""route":"${cal.route}","kmeans_ivf":$rKmeans,"ivfpq_rerank":$rRerank,""" +
        s""""winner":"$winner","study_route":"$studyRoute",""" +
        s""""study_gap":$studyGap,""" +
        s""""in_band":${studyGap <= margin},""" +
        s""""route_correct":${cal.route == studyRoute},""" +
        s""""sf":"$sfDir"}""")
      return
    }

    if (study == "recall") {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val k = graft.queries.Similarity.kmeansCellsForN(n)
      val cap = graft.queries.Similarity.TrainSamplePerCell * k
      val vectors = emb.select(col("vec_id"), col("embedding"))
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.queries.Similarity.dotBuiltin(a, b)
      // exact top-3 per query under a metric; queries = vec_id < nq
      def brute(nq: Int, byCosine: Boolean): org.apache.spark.sql.DataFrame = {
        val q = broadcast(vectors.where(col("vec_id") < nq)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq")))
        val scored = vectors.select(col("vec_id"), col("embedding").as("ec"))
          .crossJoin(q).where(col("query_id") =!= col("vec_id"))
        val metric =
          if (byCosine) dot(col("eq"), col("ec")) /
            (sqrt(dot(col("eq"), col("eq"))) * sqrt(dot(col("ec"), col("ec"))))
          else -(dot(col("eq"), col("eq")) - lit(2.0) * dot(col("eq"), col("ec"))
            + dot(col("ec"), col("ec")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("__m").desc, col("vec_id"))
        scored.withColumn("__m", metric)
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .select("query_id", "vec_id")
      }
      def recallOf(ann: org.apache.spark.sql.DataFrame, nq: Int,
          byCosine: Boolean): Double = {
        val hits = ann.select("query_id", "vec_id")
          .join(brute(nq, byCosine), Seq("query_id", "vec_id")).count()
        hits.toDouble / (3.0 * nq)
      }
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      val e = vectors.withColumn("norm",
        sqrt(dot(col("embedding"), col("embedding"))))
      def measureAdc(probes: Int, pqK: Int): (Double, Double) = {
        val rIvfPq = recallOf(
          graft.queries.IvfPq.ivfPqCore(vectors, tmp("graft_rc_pq_c_"),
            tmp("graft_rc_pq_b_"), coarseK = k, probes = probes,
            trainCap = Some(cap), pqK = pqK),
          nq = 10, byCosine = false)
        val rRerank = recallOf(
          graft.queries.IvfPq.ivfPqCore(vectors, tmp("graft_rc_rr_c_"),
            tmp("graft_rc_rr_b_"), coarseK = k, probes = probes,
            trainCap = Some(cap), pqK = pqK,
            rerankDepth = Some(graft.queries.IvfPq.RerankDepth)),
          nq = 10, byCosine = false)
        (rIvfPq, rRerank)
      }
      def measure(probes: Int): (Double, Double, Double) = {
        val rKmeans = recallOf(
          graft.queries.Similarity.kmeansIvfCore(e, tmp("graft_rc_km_"),
            k = k, probes = probes, trainCap = Some(cap)),
          nq = 20, byCosine = true)
        val (rIvfPq, rRerank) = measureAdc(probes, graft.queries.Pq.PqK)
        (rKmeans, rIvfPq, rRerank)
      }
      // operating points: the fixed gate probes (cheap; right for
      // clustered data), the constant-fraction probe rule (the
      // structureless-data fallback — see kmeansProbesForK), and — for
      // the ADC paths — the probe rule COMBINED with the pqKForN code
      // budget (the round-9 rule: fixed codes are a fixed error band,
      // the reason ADC-only flatlined at ×100 in the round-8 study)
      val p0 = graft.queries.IvfPq.Probes
      val (k0, q0, r0) = measure(p0)
      val pRule = graft.queries.Similarity.kmeansProbesForK(k)
      val ruleJson = if (pRule != p0) {
        val (k1, q1, r1) = measure(pRule)
        s""","probes_rule":$pRule,"kmeans_ivf_rule":$k1,""" +
          s""""ivfpq_rule":$q1,"ivfpq_rerank_rule":$r1"""
      } else ""
      val kPq = graft.queries.Pq.pqKForN(n)
      val codeJson = if (kPq != graft.queries.Pq.PqK) {
        val (q2, r2) = measureAdc(pRule, kPq)
        s""","pq_k_rule":$kPq,"ivfpq_code_rule":$q2,""" +
          s""""ivfpq_rerank_code_rule":$r2"""
      } else ""
      spark.stop()
      println(s"""{"metric":"ann_recall","n":$n,"k":$k,"train_cap":$cap,""" +
        s""""probes":$p0,""" +
        s""""kmeans_ivf":$k0,"ivfpq":$q0,"ivfpq_rerank":$r0$ruleJson$codeJson,""" +
        s""""sf":"$sfDir"}""")
      return
    }
    // resolve the rule once, report it in the record
    val (metric, config, run): (String, String, () => Unit) = study match {
      case "embed_lsh" =>
        val r = graft.queries.Dedup.lshRowsForN(n)
        val bands = graft.queries.Dedup.LshBands
        ("dd_embed_lsh_rule", s""""rows_per_band":$r,"bands":$bands""",
          () => graft.queries.Dedup.embedLshPairs(emb, r, bands)
            .write.format("noop").mode("overwrite").save())
      case "semdedup" | "semdedup_sampled" | "semdedup_capped" =>
        val k = graft.queries.Similarity.kmeansCellsForN(n)
        val iters = graft.queries.Dedup.SemdedupIters
        val cap =
          if (study != "semdedup")
            Some(graft.queries.Similarity.TrainSamplePerCell * k)
          else None
        // "semdedup_capped": sampled training PLUS the per-cell
        // population bound — the full corpus-scale configuration (the
        // pair join costs O(n·cap) in expectation instead of Σ|cell|²)
        val cellCap =
          if (study == "semdedup_capped")
            Some(graft.queries.Dedup.SemdedupCellCap)
          else None
        val metric = study match {
          case "semdedup_capped" => "dd_semdedup_capped_rule"
          case "semdedup_sampled" => "dd_semdedup_sampled_rule"
          case _ => "dd_semdedup_rule"
        }
        (metric, s""""k":$k,"iters":$iters,"train_cap":${cap.getOrElse(0)},""" +
          s""""cell_cap":${cellCap.getOrElse(0)}""",
          () => {
            // fresh centroid sink per pass — training is INSIDE the
            // measured query, exactly like the oracled dd_semdedup
            val dir = java.nio.file.Files
              .createTempDirectory("graft_semdedup_study_").toString
            graft.queries.Dedup.semdedup(
                emb.select("vec_id", "embedding"), dir, k, iters, cap, cellCap)
              .write.format("noop").mode("overwrite").save()
          })
      case "ivfpq" | "ivfpq_sampled" =>
        val k = graft.queries.Similarity.kmeansCellsForN(n)
        val probes = graft.queries.IvfPq.Probes
        val cap =
          if (study == "ivfpq_sampled")
            Some(graft.queries.Similarity.TrainSamplePerCell * k)
          else None
        val metric =
          if (cap.isDefined) "sim_ivfpq_sampled_rule" else "sim_ivfpq_rule"
        (metric,
          s""""coarse_k":$k,"probes":$probes,"train_cap":${cap.getOrElse(0)}""",
          () => {
            // fresh model sinks per pass — BOTH trainings are INSIDE
            // the measured query, exactly like the oracled sim_ivfpq
            val cd = java.nio.file.Files
              .createTempDirectory("graft_ivfpq_study_cent_").toString
            val bd = java.nio.file.Files
              .createTempDirectory("graft_ivfpq_study_cb_").toString
            graft.queries.IvfPq.ivfPqCore(
                emb.select("vec_id", "embedding"), cd, bd, coarseK = k,
                trainCap = cap)
              .write.format("noop").mode("overwrite").save()
          })
      case "knn_join" =>
        // the k-NN self-join at cells ≈ √n, sampled training, and the
        // FIXED probe budget — deliberately NOT kmeansProbesForK: that
        // rule pins a query's scanned fraction at 1/16 of cells, which
        // for a QUERY SET is n/16 candidates per query, but for the
        // all-rows JOIN it turns total candidates into n²/16 —
        // quadratic by construction, the exact wall the cell blocking
        // exists to avoid. The join's candidate volume at fixed probes
        // is probes × Σ|cell|² ≈ probes · n^1.5 at the k-rule
        // (semdedup's pair-join family, one probe-multiple over), and
        // the round-9 clustered recall decades measured fixed-3-probe
        // recall@3 at 0.90+ on clustered corpora — the regime real
        // embeddings live in and the operating point a k-NN graph
        // builder actually ships.
        val k = graft.queries.Similarity.kmeansCellsForN(n)
        val probes = graft.queries.Similarity.KmeansProbes
        val cap = graft.queries.Similarity.TrainSamplePerCell * k
        ("sim_knn_join_rule",
          s""""k":$k,"probes":$probes,"train_cap":$cap""",
          () => {
            val cd = java.nio.file.Files
              .createTempDirectory("graft_knn_study_").toString
            graft.queries.Similarity.knnJoinCore(
                emb.select("vec_id", "embedding"), cd, k,
                graft.queries.Similarity.KmeansIters, probes, Some(cap))
              .write.format("noop").mode("overwrite").save()
          })
      case "contam_embed" =>
        // semantic decontamination with the eval set held BENCHMARK-
        // SIZED (≈40 vectors at every decade — the production shape:
        // the benchmark does not grow with the corpus): the claim
        // under measurement is scan-speed linearity of the broadcast
        // in-row fold
        val evalMod = math.max(graft.queries.Dedup.ContamEmbedEvalMod.toLong,
          n / 39)
        ("dd_contam_embed_rule", s""""eval_mod":$evalMod""",
          () => graft.queries.Dedup.contamEmbed(emb, evalMod)
            .write.format("noop").mode("overwrite").save())
      case other =>
        sys.error(s"unknown study '$other' (embed_lsh|semdedup|semdedup_sampled|" +
          "semdedup_capped|ivfpq|ivfpq_sampled|recall|bpe_merges|streaming|" +
          "stream_shapes|wc|knn_join|knn_join_capped|contam_embed|formats)")
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      run()
      // capture elapsed BEFORE cache teardown — Bench's timing window
      // ends at the noop write too; clearCache is inter-pass hygiene,
      // not part of the measured plan cost
      val elapsed = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      elapsed
    }
    once() // warm-up (JIT + scan cache), untimed — same discipline as Bench
    val samples = (1 to passes).map(_ => once())
    spark.stop()
    println(s"""{"metric":"$metric","n":$n,$config,""" +
      s""""samples":[${samples.mkString(",")}],""" +
      s""""min":${samples.min},"sf":"$sfDir"}""")
  }
}
