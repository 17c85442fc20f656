package graft

import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Cluster formation on pathological graph shapes: min-label propagation
  * pays one round per two hops of component diameter (fine for
  * quasi-clique dedup components, hopeless for chains), while the
  * alternating large-star/small-star contraction converges in O(log² n)
  * rounds on anything. Both must produce the IDENTICAL labeling —
  * components and their min labels are properties of the graph, not
  * the algorithm.
  */
class ClusterChainSpec extends SparkSpec {

  import spark.implicits._

  private def chain(n: Int) =
    (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("propagation rounds track the chain diameter past the budget") {
    val (labels, rounds) = Dedup.propagateLabels(chain(64), maxRounds = 100)
    assert(labels.isDefined)
    // min label walks two hops per round (one checkpoint) from node 0
    // down the chain
    assert(rounds > Dedup.MaxPropagationRounds,
      s"chain-64 converged in $rounds rounds — the fallback would never fire")
    assert(labelsOf(labels.get) === (0L until 64L).map(_ -> 0L).toMap)
  }

  test("star contraction collapses the same chain in O(log²) rounds") {
    val (labels, rounds) = Dedup.starLabels(chain(64))
    assert(rounds <= 12, s"star contraction took $rounds rounds on chain-64")
    assert(labelsOf(labels) === (0L until 64L).map(_ -> 0L).toMap)
  }

  test("star contraction equals propagation on seeded random graphs") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val nNodes = 120
      val pairs = (1 to 90).map { _ =>
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct.toDF("doc_a", "doc_b")
      val viaProp = labelsOf(Dedup.propagateLabels(pairs, 1000)._1.get)
      val viaStars = labelsOf(Dedup.starLabels(pairs)._1)
      assert(viaStars === viaProp, s"trial $trial diverged")
    }
  }

  test("clusterPairs auto-falls back to stars past the round budget") {
    // 40-node chain: diameter 39 > MaxPropagationRounds, so this path
    // exercises abandon-propagation → star contraction end to end
    val labels = labelsOf(Dedup.clusterPairs(chain(40)))
    assert(labels === (0L until 40L).map(_ -> 0L).toMap)
  }

  test("both paths agree on self-pairs: ignored, the node stays unclustered") {
    // clusterPairs' contract: a doc related only to itself carries no
    // clustering information — BOTH algorithms must drop it (consumers
    // already coalesce unclustered docs to singletons). Node 7 appears
    // only as a self-pair; node 2 has a self-pair AND a real edge.
    val pairs = Seq((7L, 7L), (2L, 2L), (1L, 2L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L)
    assert(labelsOf(Dedup.propagateLabels(pairs, 100)._1.get) === expected)
    assert(labelsOf(Dedup.starLabels(pairs)._1) === expected)
  }

  test("dd_cluster_chain's fixture genuinely defeats propagation") {
    // the driver-gate row only hash-checks the labels; this pins the
    // CODE PATH claim — on the chain fixture, min-label propagation
    // does NOT converge within the budget, so the star fallback is
    // what produced the oracled answer
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id")
    val pairs = Dedup.chainPairs(docs)
    val (labels, _) = Dedup.propagateLabels(pairs, Dedup.MaxPropagationRounds)
    assert(labels.isEmpty, "propagation converged — the fixture is not a pathology")
    // and the fallback's labeling is the closed form the oracle replays
    val got = labelsOf(Dedup.starLabels(pairs)._1)
    assert(got === (0L until 500L).map(d => d -> (d - d % Dedup.ChainBlock)).toMap)
  }

  test("clusterPairs still takes the propagation path on quasi-cliques") {
    // two disjoint triangles: diameter 1, converges in round 1
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.propagateLabels(pairs, Dedup.MaxPropagationRounds)
    assert(labels.isDefined && rounds <= 2, s"took $rounds rounds")
    assert(labelsOf(labels.get) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }
}
