package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.core.{FanOut, Staged, TempDirs}
import graft.queries.{IvfPq, Pq, Similarity}
import graft.sources.Tables

/** Quality of the ANN search paths, which a [[Profile]] timing cannot
  * show: recall@3 against exact brute force, at the rule-resolved cell
  * count k ([[Similarity.kmeansCellsForN]]) with sampled training. One
  * JSON line per study:
  *   - `recall`: k-means IVF (ranked by cosine), IVF-ADC and IVF-ADC
  *     with re-rank (ranked by squared L2) on the smallest-id queries,
  *     at the fixed gate probes, at the [[Similarity.kmeansProbesForK]]
  *     rule, and for the ADC paths also at the [[Pq.pqKForN]] code
  *     budget;
  *   - `annroute`: [[IvfPq.calibrateRoute]]'s decision against an
  *     independent measurement of both families on 100 queries of a
  *     third coin. An id prefix would be a biased sample there: on the
  *     replicated decade corpora ids 0..nq−1 are all replica 0, whose
  *     ADC error is not the corpus average;
  *   - `knn_join_capped`: recall@3 and the cosine ratio (returned over
  *     true top-3 neighbour cosines) of `dev_knn_join_capped` on the
  *     first 100 vectors, the two numbers its candidate cap trades.
  *
  * `runMain graft.Quality <sfDir> [recall|annroute|knn_join_capped]`
  * runs the named study, or all three.
  */
object Quality {

  private type Study = (SparkSession, String, DataFrame, Long) => JObject

  private val Studies = ListMap[String, Study](
    "recall" -> recall, "annroute" -> annRoute, "knn_join_capped" -> knnJoinCapped)

  /** Exact top-3 (`query_id`, `vec_id`, `score`) of every row of
    * `queries` among `vectors` (both `vec_id`, `embedding`), by cosine
    * or by negated squared L2, ties to the smaller id.
    */
  private def truth(vectors: DataFrame, queries: DataFrame, byCosine: Boolean): DataFrame = {
    def dot(a: String, b: String) = Similarity.dotBuiltin(col(a), col(b))
    val score =
      if (byCosine) dot("eq", "ec") / (sqrt(dot("eq", "eq")) * sqrt(dot("ec", "ec")))
      else -(dot("eq", "eq") - lit(2.0) * dot("eq", "ec") + dot("ec", "ec"))
    vectors.select(col("vec_id"), col("embedding").as("ec"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("eq"))))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
      .where(col("rank") <= 3)
      .select("query_id", "vec_id", "score")
  }

  /** Share of the `nq` queries' true top-3 that `ann` returned. */
  private def recallOf(ann: DataFrame, truth: DataFrame, nq: Int): Double =
    ann.select("query_id", "vec_id").join(truth.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .count() / (3.0 * nq)

  private def normed(vectors: DataFrame): DataFrame =
    vectors.withColumn("norm", sqrt(Similarity.dotBuiltin(col("embedding"), col("embedding"))))

  private def recall(s: SparkSession, dir: String, vectors: DataFrame, n: Long): JObject = {
    val k = Similarity.kmeansCellsForN(n)
    val cap = Similarity.TrainSamplePerCell * k
    def prefix(nq: Int, byCosine: Boolean) = truth(vectors, vectors.where(col("vec_id") < nq), byCosine)
    def kmeans(probes: Int) = recallOf(Similarity.kmeansIvfCore(normed(vectors),
      TempDirs.create("graft_rc_km_"), k = k, probes = probes, trainCap = Some(cap)), prefix(20, true), 20)
    def adc(probes: Int, pqK: Int, rerank: Option[Int]) = recallOf(IvfPq.ivfPqCore(vectors,
      TempDirs.create("graft_rc_pq_c_"), TempDirs.create("graft_rc_pq_b_"), coarseK = k,
      probes = probes, trainCap = Some(cap), pqK = pqK, rerankDepth = rerank), prefix(10, false), 10)
    def both(probes: Int, pqK: Int) = (adc(probes, pqK, None), adc(probes, pqK, Some(IvfPq.RerankDepth)))
    val p0 = IvfPq.Probes
    val (q0, r0) = both(p0, Pq.PqK)
    val pRule = Similarity.kmeansProbesForK(k)
    val probeRule = if (pRule == p0) JObject() else {
      val (q1, r1) = both(pRule, Pq.PqK)
      ("probes_rule" -> pRule) ~ ("kmeans_ivf_rule" -> kmeans(pRule)) ~ ("ivfpq_rule" -> q1) ~
        ("ivfpq_rerank_rule" -> r1)
    }
    val kPq = Pq.pqKForN(n)
    val codeRule = if (kPq == Pq.PqK) JObject() else {
      val (q2, r2) = both(pRule, kPq)
      ("pq_k_rule" -> kPq) ~ ("ivfpq_code_rule" -> q2) ~ ("ivfpq_rerank_code_rule" -> r2)
    }
    ("metric" -> "ann_recall") ~ ("n" -> n) ~ ("k" -> k) ~ ("train_cap" -> cap) ~ ("probes" -> p0) ~
      ("kmeans_ivf" -> kmeans(p0)) ~ ("ivfpq" -> q0) ~ ("ivfpq_rerank" -> r0) ~ probeRule ~ codeRule
  }

  /** `route_correct` applies the router's own rule
    * ([[IvfPq.annRouteForRecalls]], raw cells only past the margin) to
    * the study's recalls, so it asks whether the calibration reached
    * the decision the more precise measurement reaches.
    */
  private def annRoute(s: SparkSession, dir: String, vectors: DataFrame, n: Long): JObject = {
    val k = Similarity.kmeansCellsForN(n)
    val cap = Similarity.TrainSamplePerCell * k
    val pqK = Pq.pqKForN(n)
    val p0 = IvfPq.Probes
    val t0 = System.nanoTime()
    val cal = IvfPq.calibrateRoute(vectors, k, pqK, cap, p0)
    val signalSec = (System.nanoTime() - t0) / 1e9
    val nq = 100
    val queries = vectors
      .orderBy(md5(concat(lit("graft-route-study|"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(nq)
    val ids = Some(queries.select("vec_id"))
    val rKmeans = recallOf(Similarity.kmeansIvfCore(normed(vectors), TempDirs.create("graft_ar_km_"),
      k = k, probes = p0, trainCap = Some(cap), queryIds = ids), truth(vectors, queries, true), nq)
    val rRerank = recallOf(IvfPq.ivfPqCore(vectors, TempDirs.create("graft_ar_rr_c_"),
      TempDirs.create("graft_ar_rr_b_"), coarseK = k, probes = p0, trainCap = Some(cap), pqK = pqK,
      rerankDepth = Some(IvfPq.RerankDepth), queryIds = ids), truth(vectors, queries, false), nq)
    val winner = if (rKmeans > rRerank) "kmeans_ivf" else if (rRerank > rKmeans) "ivfadc" else "tie"
    val studyRoute = IvfPq.annRouteForRecalls(rKmeans, rRerank)
    val studyGap = math.abs(rKmeans - rRerank)
    ("metric" -> "ann_route") ~ ("n" -> n) ~ ("k" -> k) ~ ("train_cap" -> cap) ~ ("pq_k" -> pqK) ~
      ("probes" -> p0) ~ ("study_nq" -> nq) ~ ("cal_kmeans" -> cal.kmeansRecall) ~
      ("cal_ivfpq_rerank" -> cal.adcRecall) ~ ("cal_gap" -> cal.gap) ~ ("cal_in_band" -> cal.inBand) ~
      ("route_margin" -> IvfPq.RouteMargin) ~ ("signal_sec" -> signalSec) ~ ("route" -> cal.route) ~
      ("kmeans_ivf" -> rKmeans) ~ ("ivfpq_rerank" -> rRerank) ~ ("winner" -> winner) ~
      ("study_route" -> studyRoute) ~ ("study_gap" -> studyGap) ~
      ("in_band" -> (studyGap <= IvfPq.RouteMargin)) ~ ("route_correct" -> (cal.route == studyRoute))
  }

  /** recall@3 drops by design on capped cells (strict id match); the
    * cosine ratio holds where a cell is a tight cluster and any sampled
    * member is a good neighbour.
    */
  private def knnJoinCapped(s: SparkSession, dir: String, vectors: DataFrame, n: Long): JObject = {
    val nq = 100
    val (knn, config) = DevQueries.queries("dev_knn_join_capped")(s, dir)
    val top3 = Staged.acquire(truth(vectors, vectors.where(col("vec_id") < nq), byCosine = true),
      eager = false)
    val out = Staged.acquire(knn.where(col("vec_id") < nq), eager = false)
    val (r, returned, best) = Staged.within(top3, out) {
      (recallOf(out.df.select(col("vec_id").as("query_id"), col("nbr_id").as("vec_id")), top3.df, nq),
        out.df.agg(sum("cosine")).head().getDouble(0),
        top3.df.agg(sum("score")).head().getDouble(0))
    }
    ("metric" -> "sim_knn_join_capped") ~ config ~ ("recall3_at100" -> r) ~
      ("cosine_ratio_at100" -> returned / best)
  }

  def main(args: Array[String]): Unit = {
    val names = args.lift(1).fold(Studies.keys.toSeq)(Seq(_))
    require(args.nonEmpty && names.forall(Studies.contains),
      s"usage: graft.Quality <sfDir> [${Studies.keys.mkString("|")}]")
    val dir = args(0)
    val spark = Profile.session()
    try {
      val vectors = FanOut(Tables(spark, dir).embeddings).select("vec_id", "embedding")
      val n = vectors.count()
      names.foreach(name => println(compact(render(Studies(name)(spark, dir, vectors, n) ~ ("sf" -> dir)))))
    } finally spark.stop()
  }
}
