package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-means IVF coarse quantizer — the production counterpart of the
  * sign quantizer in [[Similarity]] (which the reference-gate keeps
  * because its cells are exactly oracle-replayable). Same search
  * interface: a cell id per vector and a ranked multi-probe list, so
  * [[Similarity.simIvfBucket]]'s equi-join search shape applies
  * unchanged — candidate generation stays a join on the cell key, cost
  * Σ(probes × |cell|), never n².
  *
  * Trained, not fixed: cells are Voronoi regions of learned centroids,
  * so they adapt to the data distribution over ALL dimensions (the sign
  * quantizer reads only the leading [[Similarity.BucketDims]] signs).
  * KmeansIvfSpec measures the payoff: ≥ recall at equal probe count
  * against the same brute-force truth.
  *
  * At 100 TB: train on a bounded sample (cost per Lloyd iteration =
  * |sample|·k codegen'd dot products + one (cid, dim)-keyed shuffle),
  * then assign the full corpus with one broadcast join — the centroid
  * table is k rows, always broadcastable. No driver-side collect
  * anywhere: centroids live in a DataFrame end to end.
  */
object KmeansIvf {

  private def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(x), Bridge.expression(y)))
  }

  /** Squared L2 distance via the codegen dot kernel:
    * ‖v‖² − 2·v·c + ‖c‖² — norms precomputed per side, one dot per pair.
    */
  private def dist2(v: Column, nv2: Column, c: Column, nc2: Column): Column =
    nv2 - lit(2.0) * dot(v, c) + nc2

  /** All (vector, centroid) pairs ranked by distance per vector.
    * The centroid side is k rows — broadcast, so the "cross" join is a
    * map-side loop, no shuffle of the vector side.
    */
  private def ranked(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nv2"))
    val c = broadcast(centroids.select(col("cid"), col("centroid"),
      dot(col("centroid"), col("centroid")).as("nc2")))
    val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
    v.crossJoin(c)
      .withColumn("d2",
        dist2(col("embedding"), col("nv2"), col("centroid"), col("nc2")))
      .withColumn("crank", row_number().over(w))
  }

  /** Nearest-centroid cell per vector (ties break to the lowest cid).
    *
    * Formulated as an IN-ROW argmin over the centroid table pivoted to
    * ONE broadcast candidate array ([[graft.functions.CentroidArgmin]],
    * the [[Pq.encode]] kernel): assignment is scan → 1-row broadcast →
    * per-row codegen — NO aggregate and NO exchange at all. The two
    * earlier forms each shuffled: the rank-1 window moved n·k scored
    * rows, and the struct-min aggregate it replaces moved n rows but
    * planned as a SortAggregate pair (min over a struct is not
    * hash-aggregable), sorting the n·k cross-join by vec_id in every
    * partition — the round-12 plan audit found that sort pair repeated
    * 24× through dd_semdedup's training loop. Result-identical to
    * [[rankedAssign]]: same ‖v‖²−2·v·c+‖c‖² doubles (left folds), and
    * the kernel's strict < over the cid-sorted candidates is exactly
    * the window's ORDER BY d2, cid rank 1 (KmeansAssignSpec pins
    * bit-equality; the DuckDB oracles replay the crossJoin+rank form
    * and keep hash-matching).
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val cands = broadcast(centroids
      .select(struct(col("cid").cast("int").as("cid"), col("centroid"),
        dot(col("centroid"), col("centroid")).as("nc2")).as("cand"))
      .agg(array_sort(collect_list(col("cand"))).as("cands")))
    val cell = Bridge.column(graft.functions.CentroidArgmin(
      Bridge.expression(col("embedding")), Bridge.expression(col("cands"))))
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(cands) // 1-row broadcast model frame
      // an EMPTY centroid table must yield an empty assignment (the
      // old cross join's behavior), not cell = −1 everywhere
      .where(size(col("cands")) > 0)
      .select(col("vec_id"), col("embedding"), cell.as("cell"))
  }

  /** The window-rank formulation of [[assignCells]] — kept as the
    * cross-check twin (it is the form the DuckDB oracles replay);
    * KmeansAssignSpec pins the two bit-equal.
    */
  private[graft] def rankedAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    ranked(vectors, centroids).where(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("cid").as("cell"))

  /** The `probes` nearest cells per vector — the multi-probe list, rows
    * (vec_id, cell, crank). The k-means analog of the sign quantizer's
    * Hamming-1 ring, with the probe budget explicit.
    */
  def probeCells(vectors: DataFrame, centroids: DataFrame, probes: Int): DataFrame =
    ranked(vectors, centroids).where(col("crank") <= probes)
      .select(col("vec_id"), col("cid").as("cell"), col("crank"))

  /** Fixed-point scale for the re-estimation sum: embedding components
    * (float32, unit-norm-ish synthetic data) are quantized to
    * round(v · 2⁴⁰) and summed as exact integers. 2⁴⁰ keeps the
    * per-term product inside double's 53-bit exact-integer range
    * (|v| < 2¹³ would be needed to break it) while the quantization
    * error of the MEAN is ≤ 2⁻⁴¹ — three orders of magnitude below
    * float32's half-ulp anywhere a centroid component is ≥ 2⁻¹⁵, so
    * the float-cast centroids are bit-identical to an exact-real mean.
    */
  private val FixedPointScale = 1L << 40

  /** One Lloyd re-estimation step: per-cell component means over rows
    * (cell, embedding) → (cid, centroid).
    *
    * Determinism without per-group buffers: a floating-point avg()
    * would inherit addition order from shuffle arrival, making
    * centroids run-dependent at the bit level; the previous fix
    * (collect_list + sorted fold) was order-independent but held
    * O(|cell|) state per (cid, dim) group — an executor-memory cliff
    * if training ever ran on an unsampled corpus. The fixed-point sum
    * is BOTH: integer addition is exactly associative-commutative, so
    * any partitioning and any merge order yield the same bits, and the
    * aggregation state is one decimal per group. Summing into
    * decimal(35,0) (Spark widens decimal(25,0) by 10 digits) also
    * removes the long-overflow cliff: ~10³⁵/2⁴⁰ ≈ 10²² rows per cell
    * before saturation. The only collect_list left is the per-cid
    * array rebuild, whose group size is the embedding DIMENSION
    * (constant), not the cell population.
    */
  def reestimate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell").as("cid"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(
        sum(round(col("v").cast("double") * FixedPointScale)
          .cast("decimal(25,0)")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m",
        col("s").cast("double") / FixedPointScale / col("n"))
      .groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x("m").cast("float")).as("centroid"))

  /** Lloyd iterations, fully distributed (no driver collect): centroids
    * are a DataFrame broadcast into each assignment join; initialization
    * is the first k vectors by id (deterministic). Re-estimation is the
    * bounded-memory fixed-point mean of [[reestimate]]. Empty cells
    * keep their previous centroid (left anti join refill).
    *
    * `seedSmallest` handles training sets whose ids are NOT dense from
    * 0 (a deterministic sample): seeds become the k smallest ids
    * PRESENT (TakeOrdered — no full sort), RE-KEYED densely to cid
    * 0..k−1 in vec_id order — the sampled ids themselves can exceed
    * Int range at corpus scale, and a raw `cast("int")` would wrap
    * silently (negative / colliding cids = lost centroids). The
    * re-key preserves the ids' relative order, so assignment
    * tie-breaks (lowest cid wins) resolve to the same seed VECTOR as
    * the raw labeling. The default path keeps cid = vec_id (< k by
    * the filter, so the cast is exact) so the oracled full-corpus
    * plans don't change.
    */
  def train(vectors: DataFrame, k: Int, iters: Int,
      seedSmallest: Boolean = false): DataFrame = {
    // The Lloyd loop reads the training set iters+1 times (seeding +
    // one assignment per iteration); as a lazy frame each read re-runs
    // the whole derivation — for the sampled callers that is a full
    // corpus scan + TakeOrdered PER ITERATION for a trainCap-row
    // result. Cached for the loop (every round's centroids are
    // checkpointed, so nothing returned reads it) — the standard
    // posture (MLlib's KMeans caches uncached input). At 100 TB
    // the documented path bounds this set with trainCap; the
    // full-corpus gate variants spill to disk like any cached scan.
    val cached = graft.core.Staged.acquire(vectors, eager = false)
    graft.core.Staged.within(cached) {
      var centroids =
        if (seedSmallest) {
          val w = Window.orderBy(col("vec_id"))
          cached.df.orderBy(col("vec_id")).limit(k)
            .select((row_number().over(w) - 1).as("cid"),
              col("embedding").as("centroid"))
        } else cached.df.where(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"), col("embedding").as("centroid"))
      (1 to iters).foreach { _ =>
        val updated = reestimate(
          assignCells(cached.df, centroids).select(col("cell"), col("embedding")))
        val kept = centroids.join(updated, Seq("cid"), "left_anti")
        centroids = updated.unionByName(kept).localCheckpoint(eager = true)
      }
      centroids
    }
  }
}
