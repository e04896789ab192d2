package graft

import org.apache.spark.sql.DataFrame

/** Agreement of the FOREST-FED embedding operators against their exact
  * all-pairs baselines — the r10 verdict's lead item: q_lof,
  * q_intrinsic_dim, q_cluster_sample and q_cluster_profile now each
  * have a registered approx sibling riding the same no-all-pairs
  * candidate substrate as q_knn_graph_approx, and these floors make a
  * future forest change that silently degrades them a test failure
  * (AnnRecallSpec's role for the search path). Runs at sf0.01 like
  * AnnRecallSpec so buckets have meaningful occupancy.
  *
  * The floors pin measured r11 levels with margin, not perfection:
  * the candidate cut inflates k-distances for nodes whose true
  * neighbors were missed, so LOF agreement is inherently looser than
  * edge recall; the estimator-level metrics (intrinsic dimension,
  * cluster structure) agree much tighter because they aggregate over
  * the whole corpus.
  */
class ApproxSubstrateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  test("forest-fed intrinsic dimension lands near the exact estimate") {
    def dhat(df: DataFrame): (Long, Long, Long) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (nUsedE, _, exact) = dhat(graft.operators.Similarity.intrinsicDim(spark, dir))
    val (nUsedA, nDropA, approx) = dhat(graft.operators.Similarity.intrinsicDimApprox(spark, dir))
    val ratio = approx.toDouble / exact
    info(f"d_hat exact=$exact approx=$approx ratio=$ratio%.4f " +
      f"(n_used $nUsedE/$nUsedA, approx dropped $nDropA)")
    // measured r12 sf0.01 (occupancy-scaled forest, planes=6): 33.90
    // vs 35.19 (ratio 0.963; r11's pinned 8-plane forest sat at
    // 0.909) — candidates that miss a true r1/r2 bias mu toward 1
    // slightly; the band pins the occupancy dial's quality level
    assert(exact > 0 && approx > 0, "estimator returned sentinel -1")
    assert(ratio >= 0.8 && ratio <= 1.25, f"d_hat ratio $ratio%.4f outside [0.8, 1.25]")
    // the forest covers this corpus: nearly every node found a pair
    assert(nUsedA >= (nUsedE * 9) / 10, s"approx used $nUsedA of $nUsedE nodes")
  }

  test("forest-fed LOF scores track the exact scores") {
    def scores(df: DataFrame): Map[Long, Long] =
      df.select("vec_id", "lof_e6").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = scores(graft.operators.Similarity.lof(spark, dir))
    val approx = scores(graft.operators.Similarity.lofApprox(spark, dir))
    val joint = exact.keySet.intersect(approx.keySet).toSeq
    assert(joint.size >= (exact.size * 9) / 10,
      s"approx scored only ${approx.size} of ${exact.size} nodes")
    // Pearson over the joint nodes
    val (xs, ys) = (joint.map(exact(_).toDouble), joint.map(approx(_).toDouble))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val r = cov / math.sqrt(
      xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
    // top-decile outlier overlap: does the approx path flag the same
    // worst offenders a triage queue would read?
    def topK(m: Map[Long, Long], k: Int): Set[Long] =
      m.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
    val k = exact.size / 10
    val overlap = topK(exact, k).intersect(topK(approx, k)).size.toDouble / k
    info(f"lof agreement: pearson=$r%.4f top-decile overlap=$overlap%.4f over ${joint.size} nodes")
    // measured r12 sf0.01 (occupancy-scaled forest): pearson 0.82,
    // top-50 overlap 0.66 — the r11 verdict's floors (0.3 / 0.12 at
    // the pinned 8-plane forest's 0.51 / 0.26) were "too loose to
    // trust as a triage tool"; these pin the occupancy dial's level
    // with margin: a forest change that degrades the outlier queue
    // below 0.6 / 0.4 is a failure, not a tuning note
    assert(r >= 0.6, f"lof pearson $r%.4f below floor 0.6")
    assert(overlap >= 0.4, f"top-decile overlap $overlap%.4f below floor 0.4")
  }

  test("forest-fed diversity sample keeps most of the exact picks") {
    def picks(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = picks(graft.operators.Similarity.clusterSample(spark, dir))
    val approx = picks(graft.operators.Similarity.clusterSampleApprox(spark, dir))
    val jac = exact.intersect(approx).size.toDouble / exact.union(approx).size
    info(f"pick jaccard=$jac%.4f (exact ${exact.size}, approx ${approx.size})")
    // measured r12 sf0.01 (occupancy-scaled forest): jaccard 0.88
    // (r11's pinned forest: 0.70) — the fine SampleKnnK=2 partition
    // is nearly identical, so the salted draws mostly coincide
    assert(jac >= 0.7, f"pick jaccard $jac%.4f below floor 0.7")
    val sizeRatio = approx.size.toDouble / exact.size
    assert(sizeRatio >= 0.8 && sizeRatio <= 1.25,
      f"sample size ratio $sizeRatio%.4f outside [0.8, 1.25]")
  }

  test("per-node forest candidate volume stays roughly flat across scale factors") {
    // THE occupancy-dial property: with planes = ⌈log₂⌈n/occupancy⌉⌉
    // the mean bucket occupancy is pinned in (occ/2, occ], so deduped
    // candidates per node ≈ occupancy·(probes)·(tables) grows only
    // with the log-n probe fan — total forest work ~linear in n. The
    // r11 pinned-planes forest FAILED exactly this (volume ∝ n/2⁸;
    // q_lof_approx sf1 exponent 1.74), which is why the flatness is
    // spec-pinned and not a scaladoc promise.
    val small = graft.operators.Similarity
      .forestCandidatesPerNodeE3(spark, "/root/testdata/sf0.001")
    val mid = graft.operators.Similarity
      .forestCandidatesPerNodeE3(spark, dir)
    val big = graft.operators.Similarity
      .forestCandidatesPerNodeE3(spark, "/root/testdata/sf0.1")
    info(s"candidates/node ×1e3: sf0.001=$small sf0.01=$mid sf0.1=$big")
    // 100× the corpus may grow per-node volume only by the log-n
    // probe fan (~2×), never by the 100× a pinned forest would show
    assert(big <= mid * 3 && mid <= big * 3,
      s"per-node volume not flat sf0.01→sf0.1: $mid vs $big")
    assert(big <= small * 4 && small <= big * 6,
      s"per-node volume not flat sf0.001→sf0.1: $small vs $big")
  }

  test("forest scoring cost per candidate stays flat across scale rungs") {
    // the exponent-methodology invariant (r13 verdict item 4): the
    // ceil-log₂ occupancy sawtooth legitimately moves CANDIDATE volume
    // ×5 between adjacent rungs, so wall-vs-rows exponents oscillate
    // by construction; the engine's actual claim is that the scoring
    // stage costs a flat amount PER CANDIDATE. Measure it (best of 2,
    // the contention-resistant figure) at two rungs a decade apart
    // and bound the per-candidate ratio. The 10× band is generous on
    // purpose — per-query fixed cost still dominates at sandbox scale
    // and co-tenancy adds 2-3× noise — but a structural regression
    // (e.g. an unmaterialized candidate frame re-building per slice,
    // or an accidental all-pairs fallback) lands orders of magnitude
    // outside it.
    def perCand(d: String): (Long, Double) = {
      val twice = (1 to 2).map(_ =>
        graft.operators.Similarity.forestScoreCost(spark, d))
      val best = twice.minBy(_._3)
      (best._1, best._3 * 1e9 / best._1)
    }
    val (candMid, nsMid) = perCand(dir)
    val (candBig, nsBig) = perCand("/root/testdata/sf0.1")
    info(f"scoring ns/candidate: sf0.01=$nsMid%.0f ($candMid cand) " +
      f"sf0.1=$nsBig%.0f ($candBig cand)")
    assert(candBig > candMid, "candidate volume did not grow with the corpus")
    // asymmetric on purpose: per-candidate cost FALLING with scale is
    // fixed overhead amortizing (healthy — measured 2518 → 301 ns,
    // 8.4×); per-candidate cost RISING with scale is the failure
    // shape (the r12 sf3 RAM cliff was a 5.7× rise) and gets the
    // tight bound
    assert(nsBig <= nsMid * 3,
      f"per-candidate scoring cost GREW with scale: $nsMid%.0f -> $nsBig%.0f ns")
    assert(nsMid <= nsBig * 20,
      f"per-candidate cost ratio implausible (measurement bug?): " +
        f"$nsMid%.0f vs $nsBig%.0f ns")
  }

  test("forest-fed cluster profile reproduces the exact cluster structure") {
    def prof(df: DataFrame): Map[Long, (Long, Long)] =
      df.select("cluster_id", "cluster_size", "mean_cos_e6").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = prof(graft.operators.Similarity.clusterProfile(spark, dir))
    val approx = prof(graft.operators.Similarity.clusterProfileApprox(spark, dir))
    val countRatio = approx.size.toDouble / exact.size
    val meanCos = (m: Map[Long, (Long, Long)]) =>
      m.valuesIterator.map(_._2).sum.toDouble / m.size
    val (mcE, mcA) = (meanCos(exact), meanCos(approx))
    info(f"clusters exact=${exact.size} approx=${approx.size} " +
      f"mean cohesion $mcE%.0f vs $mcA%.0f")
    // measured r11 sf0.01: 188 vs 192 clusters, mean cohesion within
    // 0.5% — the fine partition survives the candidate cut almost
    // unchanged
    assert(countRatio >= 0.7 && countRatio <= 1.4,
      f"cluster count ratio $countRatio%.4f outside [0.7, 1.4]")
    assert(math.abs(mcA - mcE) / mcE <= 0.05,
      f"mean cohesion drifted ${math.abs(mcA - mcE) / mcE}%.4f > 5%%")
  }
}
