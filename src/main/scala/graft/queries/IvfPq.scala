package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** IVFADC — the IVF + product-quantization composition (Jégou, Douze,
  * Schmid 2011, §IV: "inverted file with asymmetric distance
  * computation"), the layout production billion-scale ANN systems
  * actually deploy. The two halves already exist separately:
  * [[KmeansIvf]] (coarse Voronoi cells, broadcast centroid table) and
  * [[Pq]] (per-subspace codebooks, in-row argmin encoding, ADC
  * lookup-sum). The composition adds the two ideas that make them
  * multiply rather than merely stack:
  *
  *   - PQ codebooks train on the RESIDUAL v − c(v) (the offset of each
  *     vector from its coarse centroid), not the raw vector. Residuals
  *     concentrate near the origin with far lower variance than the
  *     raw data, so the same K^M code space quantizes them much more
  *     tightly — the paper's central measurement, and IvfPqSpec
  *     re-measures it here: recall@3 at equal code budget ≥ plain PQ.
  *   - The ADC scan is restricted to the query's probed cells: the
  *     per-query distance table is computed per (query, probed cell)
  *     against the query's OWN residual in that cell, and candidates
  *     join on the cell id — cost Σ(probes × |cell| × M) lookups, not
  *     n × M.
  *
  * Spark shape at 100 TB: both model tables stay broadcast-size (k
  * coarse centroids + M·K codewords); assignment, residual
  * computation, and code encoding are scan → broadcast join → per-row
  * expressions with NOTHING shuffled on the vector side
  * (PlanShapeSpec pins it); the candidate restriction is an equi-join
  * on the cell key — the [[Similarity.simIvfBucket]] search shape
  * carrying 8-byte codes instead of 256-byte vectors.
  */
object IvfPq {

  // The codegen'd DotProduct kernel — bit-equal to the builtin
  // zip_with/aggregate fold (DotProductSpec) and the oracle's
  // list_reduce; every dot here is a top-level expression (the ADC
  // lookup-sum fold carries no dots, and encode's argmin is its own
  // kernel), so nothing forces the interpreted path.
  private def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(x), Bridge.expression(y)))
  }

  /** Gate config: coarse quantizer = the [[Similarity.simKmeansIvf]]
    * operating point (k = kmeansCellsForN at gate n, 3 Lloyd
    * iterations, 3 probes — ONE learned-quantizer operating point
    * across the surface, same discipline as [[Dedup.SemdedupK]]); PQ
    * = the [[Pq]] gate config (M=16 × K=16, 2 iterations). Queries
    * are vec_id < 10, top-3 by ADC distance.
    */
  // lazy: Similarity.defs references IvfPq.simIvfPq, so an EAGER read
  // of Similarity's constants here would deadlock the two objects'
  // initializers whichever is touched first
  private[graft] lazy val CoarseK = Similarity.KmeansK
  private[graft] lazy val CoarseIters = Similarity.KmeansIters
  private[graft] lazy val Probes = Similarity.KmeansProbes

  /** Where [[simIvfPq]] persists the coarse centroids and the residual
    * codebooks — per-run unique, interpolated into the oracle SQL, and
    * deliberately NOT routed through [[graft.core.TempDirs]]: DuckDB
    * replays both tables AFTER this JVM exits (same contract as
    * [[Similarity.KmeansCentroidDir]] / [[Similarity.PqCodebookDir]]).
    */
  private[graft] lazy val CoarseCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpq_centroids_").toString
  private[graft] lazy val ResidualCodebookDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpq_codebooks_").toString

  /** Fixed-size training-sample cap for [[simIvfPqSampled]] — 8×k at
    * the gate operating point. The production contract this pins: at
    * corpus scale BOTH trainings run on a bounded deterministic sample
    * (the Scaladoc note on [[KmeansIvf]] prescribes it), so training
    * cost is O(sample × k × iters) — INDEPENDENT of n — while
    * assignment/encode/search still cover every vector. The sample is
    * the [[SampleCap]] smallest md5-coins: stateless, rerun- and
    * partition-independent, and planned as a TakeOrdered (scan +
    * per-partition top-k), never a full sort.
    */
  private[graft] val SampleCap = 128

  /** The deterministic training coin (same stateless-md5 discipline as
    * [[Dedup.ddSplitWith]] / [[TextAnalysis.taSample]]).
    */
  private[graft] def sampleCoin: Column =
    md5(concat(lit("graft-ivfpq-sample|"), col("vec_id").cast("string")))

  /** Model sinks for the sampled variant — same persistence contract
    * as [[CoarseCentroidDir]].
    */
  private[graft] lazy val SampledCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpqs_centroids_").toString
  private[graft] lazy val SampledCodebookDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpqs_codebooks_").toString

  /** ADC shortlist depth for [[simIvfPqRerank]] — the R of IVFADC+R
    * (Jégou et al. 2011 §V-A): the approximate distances pick R
    * candidates, the exact metric re-orders only those. R/k' = 10/3
    * here mirrors the paper's R = 10·k' band scaled to the gate's
    * top-3 output.
    */
  private[graft] val RerankDepth = 10

  /** Model sinks for the rerank variant — same persistence contract
    * as [[CoarseCentroidDir]].
    */
  private[graft] lazy val RerankCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpqr_centroids_").toString
  private[graft] lazy val RerankCodebookDir = java.nio.file.Files
    .createTempDirectory("graft_ivfpqr_codebooks_").toString

  /** The residual v − c(cell), computed in double and rounded ONCE to
    * float32 — the same arithmetic DuckDB replays with
    * `(v[i]::DOUBLE − c[i]::DOUBLE)::REAL`, so the residual corpus the
    * codebooks train on is bit-identical in both engines. Keeping the
    * residual at the embedding's own float32 type lets every [[Pq]]
    * kernel apply unchanged.
    */
  private def residual(v: Column, c: Column): Column =
    zip_with(v, c, (a, b) => (a.cast("double") - b.cast("double")).cast("float"))

  /** (vec_id, cell, embedding := residual): coarse-assign + broadcast
    * centroid join + per-row subtraction — no vector-side shuffle.
    */
  private def assignResiduals(vectors: DataFrame, cent: DataFrame): DataFrame =
    KmeansIvf.assignCells(vectors, cent)
      .join(broadcast(cent.select(col("cid").as("cell"),
        col("centroid").as("__c"))), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        residual(col("embedding"), col("__c")).as("embedding"))

  /** Residual subvectors with the coarse cell riding along:
    * (vec_id, cell, m, sv) — [[Pq.subvectors]] plus the cell column,
    * so codes never need a vec-keyed re-join to recover their cell.
    */
  private def subvectorsWithCell(res: DataFrame): DataFrame =
    res.select(col("vec_id"), col("cell"), explode(expr(
      s"transform(sequence(0, ${Pq.SubspaceCount - 1}), " +
        s"m -> named_struct('m', CAST(m AS INT), " +
        s"'sv', slice(embedding, m * ${Pq.SubspaceDim} + 1, ${Pq.SubspaceDim})))")).as("s"))
      .select(col("vec_id"), col("cell"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** IVFADC under the driver oracle. Training (coarse Lloyd + residual
    * subspace Lloyd, both bounded-memory fixed-point) is the declared
    * non-SQL step; BOTH trained tables are persisted and read back,
    * and DuckDB replays everything downstream: argmin cell assignment,
    * the double→float32 residual, residual subvector slicing, argmin
    * code assignment, the per-(query, probed-cell) residual distance
    * table, the cell-restricted ADC lookup-sum (subspace-ordered fold,
    * bit-stable), and the top-3 ranking UNDER the approximate
    * distances. A wrong residual, a drifted codeword, or a probe leak
    * (a candidate scored from an unprobed cell) all hash-fail.
    */
  def simIvfPq(s: SparkSession, dir: String): DataFrame =
    ivfPqCore(graft.core.FanOut(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("embedding")),
      CoarseCentroidDir, ResidualCodebookDir)

  /** IVFADC with BOTH trainings on a fixed-size deterministic sample
    * ([[SampleCap]]) — the corpus-scale training path: model cost stops
    * scaling with n, search still covers every vector. Downstream of
    * training the query is [[simIvfPq]] verbatim, and the oracle
    * replays the identical SQL against the sampled model tables — a
    * model that silently saw out-of-sample data during training cannot
    * hash-match (IvfPqSampledSpec additionally re-trains the coarse
    * table from an independently-computed sample and pins bit-equality
    * with what this query persisted).
    */
  def simIvfPqSampled(s: SparkSession, dir: String): DataFrame =
    ivfPqCore(graft.core.FanOut(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("embedding")),
      SampledCentroidDir, SampledCodebookDir, trainCap = Some(SampleCap))

  /** IVFADC+R (Jégou et al. 2011 §V-A): the ADC scan produces a
    * [[RerankDepth]]-deep shortlist per query, then the EXACT metric
    * (raw-vector squared L2, the distance ADC approximates) re-orders
    * only those candidates for the final top-3. This is the production
    * accuracy knob: the corpus is still touched only through 8-byte
    * codes — the full 256-byte vectors are fetched for R rows per
    * query (a broadcast semi-join on vec_id, never a vector-side
    * shuffle), so the exact pass costs O(queries × R), independent of
    * n. Trained on the [[SampleCap]] sample like [[simIvfPqSampled]]
    * (the corpus-scale configuration this variant belongs to).
    */
  def simIvfPqRerank(s: SparkSession, dir: String): DataFrame =
    ivfPqCore(graft.core.FanOut(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("embedding")),
      RerankCentroidDir, RerankCodebookDir, trainCap = Some(SampleCap),
      rerankDepth = Some(RerankDepth))

  /** Core of [[simIvfPq]], parameterized on the vector set, the model
    * sinks, and the COARSE CELL COUNT k — the same discipline as
    * [[Dedup.semdedup]]: the probed-cell candidate volume is
    * probes × n/k per query, so k must grow with n
    * ([[Similarity.kmeansCellsForN]], cells ≈ √n) or the restricted
    * ADC scan degrades toward the full scan the cells exist to avoid.
    * The oracled gate pins k = [[CoarseK]] (= kmeansCellsForN at gate
    * n); [[graft.DevQueries]]' `dev_ivfpq*` entries time the
    * rule-resolved path at larger n.
    */
  private[graft] def ivfPqCore(vectors: DataFrame,
      centDir: String, cbDir: String,
      coarseK: Int = CoarseK, coarseIters: Int = CoarseIters,
      probes: Int = Probes, trainCap: Option[Int] = None,
      rerankDepth: Option[Int] = None, pqK: Int = Pq.PqK,
      queryIds: Option[DataFrame] = None): DataFrame = {
    // query set: the gate's fixed id prefix, or an explicit (vec_id)
    // frame — calibrateRoute routes its coin-chosen queries here
    def queriesOf(v: DataFrame): DataFrame = queryIds match {
      case Some(ids) => v.join(broadcast(ids.select("vec_id")), Seq("vec_id"))
      case None => v.where(col("vec_id") < 10)
    }
    require(coarseK > 0 && coarseIters > 0 && probes > 0 && pqK > 0,
      s"need positive k/iters/probes/pqK, got $coarseK/$coarseIters/$probes/$pqK")
    val s = vectors.sparkSession
    // training set: everything, or the trainCap smallest sample coins
    // (TakeOrdered — no full sort; vec_id tiebreak for determinism)
    val trainVecs = trainCap match {
      case Some(cap) => vectors.orderBy(sampleCoin, col("vec_id")).limit(cap)
      case None => vectors
    }
    KmeansIvf.train(trainVecs, coarseK, coarseIters,
        seedSmallest = trainCap.isDefined)
      .write.mode("overwrite").parquet(centDir)
    // read BACK so everything downstream provably uses the tables the
    // oracle will read — not a diverging in-memory lineage
    val cent = s.read.parquet(centDir)
    val res = assignResiduals(vectors, cent)
    val subs = subvectorsWithCell(res)
    // codebooks likewise train only on the sample's residuals
    val trainSubs = trainCap match {
      case Some(_) => subvectorsWithCell(assignResiduals(trainVecs, cent))
      case None => subs
    }
    Pq.train(trainSubs.select(col("vec_id"), col("m"), col("sv")), pqK,
        Pq.PqIters, seedSmallest = trainCap.isDefined)
      .write.mode("overwrite").parquet(cbDir)
    val cb = s.read.parquet(cbDir)
    // codes: (cell, vec_id, m, cid) — in-row argmin over the broadcast
    // codebook; the cell column rides through encode untouched
    val codes = Pq.encode(subs, cb)
      .select(col("cell"), col("vec_id"), col("m"), col("cid"))
    // per-(query, probed cell) residuals: the SAME assignResiduals
    // arithmetic applied to the probe list instead of the argmin cell
    val qres = KmeansIvf.probeCells(queriesOf(vectors), cent, probes)
      .select(col("vec_id"), col("cell"))
      .join(queriesOf(vectors), Seq("vec_id"))
      .join(broadcast(cent.select(col("cid").as("cell"),
        col("centroid").as("__c"))), Seq("cell"))
      .select(col("vec_id").as("query_id"), col("cell"),
        residual(col("embedding"), col("__c")).as("embedding"))
    val qsubs = qres.select(col("query_id"), col("cell"), explode(expr(
      s"transform(sequence(0, ${Pq.SubspaceCount - 1}), " +
        s"m -> named_struct('m', CAST(m AS INT), " +
        s"'sv', slice(embedding, m * ${Pq.SubspaceDim} + 1, ${Pq.SubspaceDim})))")).as("s"))
      .select(col("query_id"), col("cell"), col("s.m").as("m"), col("s.sv").as("sv"))
    // distance table: queries × probes × M × K rows — corpus-independent
    val dtable = qsubs
      .withColumn("nv2", dot(col("sv"), col("sv")))
      .join(broadcast(cb.select(col("m"), col("cid"), col("centroid"),
        dot(col("centroid"), col("centroid")).as("nc2"))), Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("cid"),
        (col("nv2") - lit(2.0) * dot(col("sv"), col("centroid"))
          + col("nc2")).as("d2"))
    // ADC restricted to probed cells: the (cell, m, cid) join against
    // the broadcast table only matches candidates in probed cells
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val adcAll = codes.join(broadcast(dtable), Seq("cell", "m", "cid"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id", "cell")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("m"), col("d2")))),
          x => x("d2")),
        lit(0.0), (acc, v) => acc + v).as("adc"))
    rerankDepth match {
      case None =>
        adcAll
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("vec_id"), col("cell"),
            round(col("adc"), 6).as("adc"))
          .orderBy("query_id", "rank")
      case Some(depth) =>
        // IVFADC+R: exact squared L2 re-rank of the ADC shortlist. The
        // shortlist (queries × depth rows) is the BROADCAST side of
        // both raw-vector fetches — the corpus is probed by vec_id,
        // never shuffled; nq2 − 2·dot + nc2 is the same double
        // arithmetic (and fold order) the oracle replays.
        val short = adcAll
          .withColumn("arank", row_number().over(w))
          .where(col("arank") <= depth)
          .select(col("query_id"), col("vec_id"), col("cell"))
        val cand = broadcast(short)
          .join(vectors.select(col("vec_id"), col("embedding").as("__ec")),
            Seq("vec_id"))
        val qv = queriesOf(vectors)
          .select(col("vec_id").as("query_id"), col("embedding").as("__eq"))
        val w2 = Window.partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
        cand.join(broadcast(qv), Seq("query_id"))
          .withColumn("d2",
            dot(col("__eq"), col("__eq"))
              - lit(2.0) * dot(col("__eq"), col("__ec"))
              + dot(col("__ec"), col("__ec")))
          .withColumn("rank", row_number().over(w2))
          .where(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("vec_id"), col("cell"),
            round(col("d2"), 6).as("d2"))
          .orderBy("query_id", "rank")
    }
  }

  /** Calibration queries for [[calibrateRoute]] — 120 hit slots. The
    * round-10 record at NQ=10 (30 slots) showed calibration-vs-study
    * winner flips on both isotropic decades: a ±1–2-hit estimate is
    * ±0.03–0.07 recall, the same order as those corpora's true gaps.
    * 40 queries halves the standard error (quarters the variance;
    * ±~0.017) so a flip can
    * only happen inside the declared tie band, where [[RouteCalibration
    * .inBand]] already reports the decision as a coin toss between
    * near-equals. The exact-truth pass stays ONE bounded linear scan
    * (NQ × n distances, broadcast queries).
    */
  private[graft] val RouteCalibrationQueries = 40

  /** Query-selection coin for [[calibrateRoute]] — DEDICATED, so the
    * calibration queries are out-of-training-sample for BOTH families
    * symmetrically: the ADC family trains on the `graft-ivfpq-sample|`
    * coin and kmeans-IVF on `graft-kmeans-sample|`, so reusing either
    * coin here would hand that family an in-sample advantage on
    * exactly the near-margin corpora the router exists to decide.
    */
  private[graft] def routeQueryCoin: Column =
    md5(concat(lit("graft-route-query|"), col("vec_id").cast("string")))

  /** [[calibrateRoute]]'s result: the two measured recalls, the route,
    * and whether the measured gap sits inside [[RouteMargin]] — the
    * caller's signal for "measured winner" vs "tie band, routed to the
    * cheaper-to-serve family by policy".
    */
  final case class RouteCalibration(kmeansRecall: Double, adcRecall: Double,
      route: String) {
    def gap: Double = math.abs(kmeansRecall - adcRecall)
    def inBand: Boolean = gap <= RouteMargin
  }

  /** Tie band for [[annRouteForRecalls]]: codes win ties because they
    * are the cheaper index to SERVE (8 B/vector scans vs 256 B) — the
    * raw-vector family must buy its 32× scan-bandwidth premium with a
    * recall edge past this margin. 0.05 ≈ the observed run-to-run
    * noise of a [[RouteCalibrationQueries]]-query recall estimate
    * (±1–2 hits of 30); the measured decade gaps this rule exists for
    * sit far outside it (0.067–0.333, BENCH_annroute_r10.jsonl).
    */
  private[graft] val RouteMargin = 0.05

  /** The ANN family routing decision over two CALIBRATED recalls:
    * raw-vector cells only when they beat the compressed family by
    * more than [[RouteMargin]]; compressed codes otherwise (they are
    * 32× cheaper to scan, so they win ties). On the five measured
    * corpora (gate + 4 decades) this picks the measured winner
    * everywhere the gap exceeds the margin — most importantly the
    * wide-cluster decades, where kmeans-IVF leads by 0.17/0.33 — and
    * routes the one inside-the-band case (isotropic ×10, gap 0.033)
    * to the cheaper family.
    */
  def annRouteForRecalls(kmeansRecall: Double, adcRecall: Double): String =
    if (kmeansRecall > adcRecall + RouteMargin) "kmeans_ivf" else "ivfadc"

  /** Route calibration — ONE bounded measurement pass instead of a
    * proxy statistic, because the round-10 study falsified the proxy
    * family three times over (every cut and its measured failure is
    * in BENCH_annroute_r10.jsonl / BENCH_NOTES round-10):
    *
    *   1. residual-energy ratio — scale-invariant per cell, so the
    *      σ=0.5 wide clusters that break ADC ranking read as
    *      perfectly "explained";
    *   2. code-error-vs-neighbor-gap band count — 64-dim pairwise
    *      distances concentrate, so the band swallowed the whole
    *      sample on EVERY geometry (255/255 on the gate corpus,
    *      where codes are in fact the winner);
    *   3. sample-level ADC dry run — reads 0.95 on the very corpus
    *      (clustered ×100) where the corpus-level compressed recall
    *      is 0.57, because CROWDING IS A DENSITY PROPERTY: a cap-row
    *      sample dilutes every cluster by n/cap, and the 10-deep
    *      shortlist that overflows at 800 candidates/cell handles
    *      the sample's 8 effortlessly. No O(sample) statistic can
    *      see the failure mode, which is exactly why this routine
    *      measures instead.
    *
    * The protocol: build BOTH sampled-training indexes (bounded
    * model cost), take the [[RouteCalibrationQueries]] smallest
    * coin-keyed vectors as queries, measure each family's recall@3
    * against exact brute force under its own metric (cosine for
    * raw cells, L2 for codes — each family judged on the job it
    * serves), and route by [[annRouteForRecalls]]. The exact-truth
    * pass costs NQ × n distances — ONE bounded linear scan per
    * corpus, amortized over the index's whole serving life (this is
    * the standard recall calibration every production ANN deployment
    * runs before committing to an index layout), and at ×100 decade
    * scale it completes inside the same minutes the index builds
    * take. Deterministic end to end: coin-ordered queries, the
    * families' own deterministic training, tie-broken ranks.
    */
  def calibrateRoute(vectors: DataFrame, coarseK: Int, pqK: Int,
      trainCap: Int, probes: Int): RouteCalibration = {
    import org.apache.spark.sql.expressions.Window
    val nq = RouteCalibrationQueries
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def truthOf(byCosine: Boolean): DataFrame = {
      val q = broadcast(vectors.orderBy(routeQueryCoin, col("vec_id")).limit(nq)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq")))
      val scored = vectors.select(col("vec_id"), col("embedding").as("ec"))
        .join(q, col("query_id") =!= col("vec_id"))
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
    def recallOf(ann: DataFrame, byCosine: Boolean): Double = {
      val truth = truthOf(byCosine)
      val hits = ann.select("query_id", "vec_id")
        .join(truth, Seq("query_id", "vec_id")).count()
      val slots = truth.count()
      if (slots == 0) 1.0 else hits.toDouble / slots
    }
    // each family at the shared (k, probes, sampled-training) budget,
    // restricted to the calibration queries
    val qFilter = vectors.orderBy(routeQueryCoin, col("vec_id")).limit(nq)
      .select(col("vec_id"))
    val e = vectors.withColumn("norm",
      sqrt(dot(col("embedding"), col("embedding"))))
    val km = Similarity.kmeansIvfCore(e, tmp("graft_cal_km_"), k = coarseK,
      probes = probes, trainCap = Some(trainCap), queryIds = Some(qFilter))
    val adc = ivfPqCore(vectors, tmp("graft_cal_rr_c_"), tmp("graft_cal_rr_b_"),
      coarseK = coarseK, probes = probes, trainCap = Some(trainCap),
      pqK = pqK, rerankDepth = Some(RerankDepth), queryIds = Some(qFilter))
    val rKm = recallOf(km, byCosine = true)
    val rAdc = recallOf(adc, byCosine = false)
    RouteCalibration(rKm, rAdc, annRouteForRecalls(rKm, rAdc))
  }

  private val dotSql =
    (a: String, b: String) =>
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
         |      (x, y) -> x + y)""".stripMargin

  /** The DuckDB replay — assignment, residuals, codes, probed-cell ADC,
    * ranking — over the two tables the engine trained and persisted.
    * Shared verbatim by the full and sampled variants: past training,
    * the two queries ARE the same query, just against different model
    * tables.
    */
  private[graft] def oracleSql: String =
    oracleSqlFor(CoarseCentroidDir, ResidualCodebookDir)

  private[graft] def sampledOracleSql: String =
    oracleSqlFor(SampledCentroidDir, SampledCodebookDir)

  /** The rerank replay: the shared pipeline ranks the shortlist by ADC,
    * then the exact d2 over raw embeddings re-orders it — a wrong
    * shortlist member, a rank produced by the approximate instead of
    * the exact distance, or a drifted exact fold all hash-fail.
    * Composes [[oracleCtesFor]] (the shared CTE chain ending at
    * `ranked`) with its own extension CTEs — no string surgery on the
    * assembled base SQL.
    */
  private[graft] def rerankOracleSql: String = {
    val prefix = oracleCtesFor(RerankCentroidDir, RerankCodebookDir)
    s"""${prefix},
       |shortlist AS (
       |  SELECT query_id, vec_id, cell FROM ranked WHERE rank <= $RerankDepth),
       |exact AS (
       |  SELECT s.query_id, s.vec_id, s.cell,
       |    ${dotSql("q.embedding", "q.embedding")}
       |      - 2.0 * ${dotSql("q.embedding", "c.embedding")}
       |      + ${dotSql("c.embedding", "c.embedding")} AS d2
       |  FROM shortlist s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.vec_id),
       |reranked AS (
       |  SELECT query_id, vec_id, cell, d2,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY d2, vec_id) AS INTEGER) AS rank
       |  FROM exact)
       |SELECT query_id, rank, vec_id, cell, round(d2, 6) AS d2
       |FROM reranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** The full replay for the ADC-ranked variants: shared CTE chain plus
    * the top-3 projection off `ranked`.
    */
  private def oracleSqlFor(centDir: String, cbDir: String): String =
    s"""${oracleCtesFor(centDir, cbDir)}
       |SELECT query_id, rank, vec_id, cell, round(adc, 6) AS adc
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The shared CTE chain (assignment → residuals → codes → probed-cell
    * ADC → `ranked`), WITHOUT a final SELECT — callers append their own
    * projection or extend with further CTEs ([[rerankOracleSql]]).
    */
  private def oracleCtesFor(centDir: String, cbDir: String): String =
    s"""WITH cent AS (
       |  SELECT cid, centroid
       |  FROM read_parquet('$centDir/*.parquet')),
       |cb AS (
       |  SELECT m, cid, centroid
       |  FROM read_parquet('$cbDir/*.parquet')),
       |d0 AS (
       |  SELECT e.vec_id, e.embedding, cent.cid,
       |    ${dotSql("embedding", "embedding")}
       |      - 2.0 * ${dotSql("embedding", "centroid")}
       |      + ${dotSql("centroid", "centroid")} AS d2
       |  FROM embeddings e CROSS JOIN cent),
       |rk AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crank
       |  FROM d0),
       |res AS (
       |  SELECT rk.vec_id, rk.cid AS cell,
       |    list_transform(range(1, len(rk.embedding) + 1),
       |      i -> (rk.embedding[i]::DOUBLE - cent.centroid[i]::DOUBLE)::REAL) AS r
       |  FROM rk JOIN cent ON rk.cid = cent.cid WHERE crank = 1),
       |sub AS (
       |  SELECT vec_id, cell, ms.m AS m,
       |    list_slice(r, ms.m * ${Pq.SubspaceDim} + 1,
       |      ms.m * ${Pq.SubspaceDim} + ${Pq.SubspaceDim}) AS sv
       |  FROM res, (SELECT unnest(range(0, ${Pq.SubspaceCount})) AS m) ms),
       |dall AS (
       |  SELECT s.vec_id, s.cell, s.m, cb.cid,
       |    ${dotSql("sv", "sv")}
       |      - 2.0 * ${dotSql("sv", "centroid")}
       |      + ${dotSql("centroid", "centroid")} AS d2
       |  FROM sub s JOIN cb ON s.m = cb.m),
       |codes AS (
       |  SELECT vec_id, cell, m, cid FROM (
       |    SELECT vec_id, cell, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM dall)
       |  WHERE rn = 1),
       |qres AS (
       |  SELECT rk.vec_id AS query_id, rk.cid AS cell,
       |    list_transform(range(1, len(rk.embedding) + 1),
       |      i -> (rk.embedding[i]::DOUBLE - cent.centroid[i]::DOUBLE)::REAL) AS r
       |  FROM rk JOIN cent ON rk.cid = cent.cid
       |  WHERE crank <= $Probes AND rk.vec_id < 10),
       |qsub AS (
       |  SELECT query_id, cell, ms.m AS m,
       |    list_slice(r, ms.m * ${Pq.SubspaceDim} + 1,
       |      ms.m * ${Pq.SubspaceDim} + ${Pq.SubspaceDim}) AS sv
       |  FROM qres, (SELECT unnest(range(0, ${Pq.SubspaceCount})) AS m) ms),
       |dtab AS (
       |  SELECT q.query_id, q.cell, q.m, cb.cid,
       |    ${dotSql("sv", "sv")}
       |      - 2.0 * ${dotSql("sv", "centroid")}
       |      + ${dotSql("centroid", "centroid")} AS d2
       |  FROM qsub q JOIN cb ON q.m = cb.m),
       |adc AS (
       |  SELECT t.query_id, c.vec_id, c.cell,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.d2 ORDER BY c.m)),
       |      (x, y) -> x + y) AS adc
       |  FROM codes c
       |  JOIN dtab t ON c.cell = t.cell AND c.m = t.m AND c.cid = t.cid
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY t.query_id, c.vec_id, c.cell),
       |ranked AS (
       |  SELECT query_id, vec_id, cell, adc,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc, vec_id) AS INTEGER) AS rank
       |  FROM adc)""".stripMargin
}
