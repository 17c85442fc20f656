package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)) — the
  * third quantizer family next to the coarse IVF cells ([[KmeansIvf]])
  * and per-vector int8 ([[Similarity.simInt8Topk]]): the embedding is
  * split into M contiguous subspaces and each subvector is snapped to
  * the nearest entry of a PER-SUBSPACE trained codebook, so a D-dim
  * float32 vector compresses to M small codes. At the production
  * config (K=256 → one byte per code) a 64-dim/256-byte embedding
  * becomes M=8 bytes — 32× less scan than full precision and 8× less
  * than int8 — while, unlike a single-codebook vector quantizer, the
  * representable point set is K^M (16⁸ ≈ 4×10⁹ at the gate config)
  * from only M·K stored centroids.
  *
  * Search is ADC (asymmetric distance computation): the QUERY stays
  * full-precision; per query one M×K distance table d(m, j) =
  * ‖q_m − c_{m,j}‖² is computed against the codebook (M·K dot
  * products, independent of n), and each database vector's
  * approximate distance is the table lookup sum Σ_m d(m, code_m(x)).
  * The corpus-side work per candidate is M lookups + M−1 additions —
  * no arithmetic on the original vector at all, the reason PQ scans
  * billions of vectors per node in production ANN systems.
  *
  * Spark shape at 100 TB: the codebook is M·K rows — always
  * broadcast; encoding is scan → broadcast join → per-row argmin
  * fold, with NOTHING shuffled on the vector side (see [[encode]]);
  * the ADC scan joins the M-rows-per-vector code table to the
  * broadcast per-query distance table on (m, cid) and aggregates M
  * rows per (query, vector) — linear in n·M·|queries|, never n².
  * Training is
  * the same bounded-memory fixed-point Lloyd as [[KmeansIvf]]
  * (integer sums are exactly associative-commutative → bit-identical
  * centroids under any partitioning; O(1) aggregation state per
  * (m, cid, dim) group), keyed by subspace so all M codebooks train
  * in ONE pass over the data per iteration instead of M.
  */
object Pq {

  // The codegen'd DotProduct kernel — bit-equal to the builtin
  // zip_with/aggregate fold (DotProductSpec) and to the DuckDB
  // oracle's list_reduce. Every remaining dot here is a TOP-LEVEL
  // expression (the in-row argmin fold that once forced interpreted
  // lambdas is now its own kernel, [[graft.functions.CentroidArgmin]]).
  private def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(x), Bridge.expression(y)))
  }

  /** Gate config: 64-dim embeddings → M=16 subspaces × 4 dims, K=16
    * codewords per subspace (16 half-byte codes = 8 B/vector, 32×
    * compression — the same code budget as the canonical M=8/K=256
    * byte-code layout, traded toward finer subspaces because per-
    * subspace distortion falls as K^(−2/d): at K=16, d=4 quantizes
    * ~4× tighter than d=8, and PqSpec's recall shows it. 2 Lloyd
    * iterations — PqSpec's recall curve is flat by then.)
    *
    * K is NOT scale-free (the round-8 recall study's lesson): a fixed
    * code budget is a fixed error band, and as n grows the number of
    * competitors inside that band around the top-k boundary grows
    * with it — ADC-only recall flatlined at ×100 on code distortion
    * while candidate coverage was held fixed. [[pqKForN]] is the
    * n-adaptive rule; the gate keeps K=16 (= pqKForN at gate n).
    */
  private[graft] val SubspaceCount = 16
  private[graft] val SubspaceDim = 4
  private[graft] val PqK = 16
  private[graft] val PqIters = 2

  /** Codewords per subspace for a corpus of n vectors — the code
    * budget's analog of [[Similarity.kmeansProbesForK]] (round-8 gave
    * the PROBE budget its rule; this is the same treatment for the
    * CODE budget): K follows √n, snapped DOWN to a power of two,
    * floored at the gate's 16 and capped at 256.
    *
    *   - √n, like [[Similarity.kmeansCellsForN]]: per-subspace
    *     distortion falls as K^(−2/d) = K^(−1/2) at d=4, so K ∝ √n
    *     shrinks the code error band as n^(−1/4) while the candidate
    *     count per probed cell (n/k at cells ≈ √n) grows as √n — the
    *     measured operating points are what justify the exponent, not
    *     the heuristic (BENCH_NOTES round-9 recall table).
    *   - power of two: codes stay bit-packable (4/5/6/7/8 bits).
    *   - cap 256: byte codes, the canonical IVFADC layout (Jégou 2011
    *     uses K=256 at billion scale); past that the production
    *     accuracy knob is the RERANK stage, which is in-tree and
    *     measured (rerank ≥ ADC-only at every decade, both probe
    *     points). Encode cost grows linearly in K (M·K in-row argmin
    *     per vector) — explicit, and bounded by the cap.
    *
    * pqKForN(500) = 16 = [[PqK]] (the gate pin, ScaleConfigSpec);
    * 2 000 → 32; 20 000 → 128; 200 000+ → 256.
    */
  def pqKForN(n: Long): Int = {
    val sqrtN = math.sqrt(n.toDouble.max(1.0)).toInt
    math.min(256, math.max(PqK, Integer.highestOneBit(math.max(sqrtN, 1))))
  }

  /** (vec_id, m, sv): the M subvectors of every vector — one explode,
    * no shuffle; downstream keys carry m so nothing ever mixes
    * subspaces.
    */
  def subvectors(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${SubspaceCount - 1}), " +
        s"m -> named_struct('m', CAST(m AS INT), " +
        s"'sv', slice(embedding, m * $SubspaceDim + 1, $SubspaceDim)))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** The codebook pivoted to ONE row per subspace: (m, cands) with
    * cands the cid-SORTED array of (cid, centroid, ‖c‖²) — K entries,
    * constant-size group. Broadcast once; the per-row argmin then
    * needs no shuffle at all.
    */
  private def pivoted(codebook: DataFrame): DataFrame =
    codebook
      .select(col("m"), struct(col("cid"), col("centroid"),
        dot(col("centroid"), col("centroid")).as("nc2")).as("cand"))
      .groupBy("m")
      .agg(array_sort(collect_list(col("cand"))).as("cands"))

  /** PQ codes: the nearest codeword per (vector, subspace) — M rows
    * per vector, the compressed representation the ADC scan reads.
    * Every input column rides through (so [[IvfPq]]'s coarse cell id
    * needs no vec-keyed re-join) plus the assigned `cid`.
    *
    * The argmin is an IN-ROW kernel over the broadcast candidate array
    * in cid order ([[graft.functions.CentroidArgmin]] — strict < keeps the
    * lowest cid on ties, the same (d2, cid) ordering the oracle's
    * row_number replays), so encoding is scan → broadcast m-join →
    * per-row codegen: NOTHING shuffles on the vector side, the shape
    * that survives n = 10⁹ (a window/groupBy argmin would shuffle
    * n·M·K scored rows). The kernel replaces the round-11 interpreted
    * `aggregate` fold bit-identically (CentroidArgminSpec cross-checks the
    * two formulations) and removes K interpreted lambda bodies plus a
    * zipped array allocation per candidate from the n·M hot path.
    */
  def encode(subs: DataFrame, codebook: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val withC = subs.join(broadcast(pivoted(codebook)), Seq("m"))
    val best = Bridge.column(graft.functions.CentroidArgmin(
      Bridge.expression(col("sv")), Bridge.expression(col("cands"))))
    withC.select(col("m") +: subs.columns.filter(_ != "m").map(col).toSeq :+
      best.as("cid"): _*)
  }

  /** The round-11 built-ins-only argmin fold — kept as the cross-check
    * twin for [[encode]]'s kernel (CentroidArgminSpec pins the two bit-equal
    * on fuzzed inputs, the [[Similarity.dotBuiltin]] discipline).
    */
  private[graft] def argminBuiltin(sv: Column, cands: Column): Column =
    aggregate(cands,
      struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cid")),
      (acc, c) => {
        val d2 = Similarity.dotBuiltin(sv, sv) -
          lit(2.0) * Similarity.dotBuiltin(sv, c("centroid")) + c("nc2")
        when(d2 < acc("d2"), struct(d2.as("d2"), c("cid").as("cid")))
          .otherwise(acc)
      })("cid")

  /** Per-query ADC distance table: d(m, cid) for every codebook entry
    * against the query's OWN full-precision subvectors — M·K rows per
    * query, independent of corpus size.
    */
  def distanceTable(querySubs: DataFrame, codebook: DataFrame): DataFrame = {
    val c = broadcast(codebook.select(col("m"), col("cid"), col("centroid"),
      dot(col("centroid"), col("centroid")).as("nc2")))
    querySubs.withColumn("nv2", dot(col("sv"), col("sv")))
      .join(c, Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cid"),
        (col("nv2") - lit(2.0) * dot(col("sv"), col("centroid"))
          + col("nc2")).as("d2"))
  }

  /** ADC approximate distances: codes ⋈ (m, cid) distance table, then
    * one sum of M terms per (query, vector). The sum is folded in
    * subspace order over a collected M-array (group size = M,
    * constant) so the double addition order is pinned — both engines
    * fold 0.0 + d(0) + d(1) + … and agree at the bit level, making
    * the ADC RANKING oracle-checkable, not just the values.
    */
  def adcDistances(codes: DataFrame, dtable: DataFrame): DataFrame =
    codes.join(dtable, Seq("m", "cid"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("m"), col("d2")))),
          x => x("d2")),
        lit(0.0), (acc, v) => acc + v).as("adc"))

  /** Subspace-keyed Lloyd — [[KmeansIvf.train]] generalized with the
    * subspace id threaded through every key, so one pass per iteration
    * trains all M codebooks together. Initialization: subvectors of
    * the first K vectors by id (deterministic); empty codewords keep
    * their previous centroid; lineage truncated per round.
    */
  def train(subs: DataFrame, k: Int, iters: Int,
      seedSmallest: Boolean = false): DataFrame = {
    // seedSmallest: the k smallest vec_ids PRESENT (for sampled
    // training sets with non-dense ids — see KmeansIvf.train), RE-KEYED
    // densely to cid 0..k−1 in vec_id order (same rationale as
    // KmeansIvf.train: a raw cast("int") wraps ids past 2^31 and loses
    // codewords); each seed vector carries all M subspaces, so every m
    // gets the same k seeds. The default path keeps cid = vec_id (< k
    // by the filter, so the cast is exact).
    // persist the training subvectors for the loop: each iteration's
    // encode would otherwise re-run the whole derivation (scan →
    // residual → subvector explode — and for sampled callers the
    // corpus-scan + TakeOrdered sample) from scratch — same
    // MLlib-style posture as [[KmeansIvf.train]].
    val cached = graft.core.Staged.acquire(subs, eager = false)
    graft.core.Staged.within(cached) {
      var codebook =
        if (seedSmallest) {
          import org.apache.spark.sql.expressions.Window
          val w = Window.orderBy(col("vec_id"))
          val seedIds = cached.df.select("vec_id").distinct()
            .orderBy(col("vec_id")).limit(k)
            .select(col("vec_id"), (row_number().over(w) - 1).as("cid"))
          cached.df.join(seedIds, Seq("vec_id"))
            .select(col("m"), col("cid"), col("sv").as("centroid"))
        } else cached.df.where(col("vec_id") < k)
          .select(col("m"), col("vec_id").cast("int").as("cid"),
            col("sv").as("centroid"))
      (1 to iters).foreach { _ =>
        val assigned = encode(cached.df, codebook).select(col("m"), col("cid"), col("sv"))
        val updated = reestimate(assigned)
        val kept = codebook.join(updated, Seq("m", "cid"), "left_anti")
        codebook = updated.unionByName(kept).localCheckpoint(eager = true)
      }
      codebook
    }
  }

  /** Fixed-point scale for re-estimation sums — see
    * [[KmeansIvf.FixedPointScale]] for the error analysis (identical
    * arithmetic, one extra group key here).
    */
  private val FixedPointScale = 1L << 40

  /** Per-(subspace, codeword) component means via exact integer sums:
    * order-independent (bit-deterministic under any shuffle) with one
    * decimal of aggregation state per (m, cid, dim) group. The only
    * collect_list is the per-codeword array rebuild over the subspace
    * DIMENSION (constant), never the member population.
    */
  private[graft] def reestimate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy("m", "cid", "dim")
      .agg(
        sum(round(col("v").cast("double") * FixedPointScale)
          .cast("decimal(25,0)")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("mean",
        col("s").cast("double") / FixedPointScale / col("n"))
      .groupBy("m", "cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x("mean").cast("float")).as("centroid"))
}
