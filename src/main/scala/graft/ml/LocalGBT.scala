package graft.ml

import graft.ml.ModelShape.{MaxDepth, MaxIter, NumFeatures, StepSize}
import org.apache.spark.ml.linalg.Vector

/** The per-domain model's fixed shape (PAPER.md §1, items 3–4): the
  * featurizer's hashing, IDF and top-k sizes and the boosted
  * ensemble's rounds, depth and shrinkage. Every trainer reads them
  * here. */
object ModelShape {
  /** HashingTF bucket count. */
  val NumFeatures = 1000
  /** IDF minimum document frequency; rarer buckets get idf 0. */
  val MinDocFreq = 5
  /** Buckets kept by mean-TF-IDF rank (ties keep extras). */
  val TopK = 100
  /** Boosting rounds. */
  val MaxIter = 5
  /** Depth of each regression tree. */
  val MaxDepth = 3
  /** Shrinkage applied to every tree. */
  val StepSize = 0.1
}

/** One hashed-feature candidate row routed to the in-task trainer.
  * `page_id` keys the page (URL) the candidate came from: the 70/30
  * split and the per-URL selection keep a page's candidates together. */
case class TfRow(page_id: Long, domain: String, tf: Vector,
    location_norm: Double, label: Double)

/** One domain's train+eval summary (q_gbt_train_eval output row,
  * pre-accuracy). */
case class GbtDomainRow(domain: String, n_train: Long, n_test: Long,
    tp: Long, tn: Long, fp: Long, fn: Long,
    n_urls: Long, top_label_hits: Long, n_features: Long)

/** A fitted in-task boosted ensemble: margin = f0 + Σ stepSize·treeₘ(x),
  * the reference's boosting-margin confidence (Transformer
  * .confidenceGBT). A case class of arrays, so the model map stores it
  * as one parquet struct column. */
final case class LocalGBTModel(f0: Double, stepSize: Double,
    trees: Array[LocalGBT.Tree]) {
  def margin(x: Array[Double]): Double = {
    var s = f0
    var i = 0
    while (i < trees.length) { s += stepSize * trees(i).predict(x); i += 1 }
    s
  }
}

/** Executor-local gradient-boosted trees: the one per-domain trainer,
  * behind q_gbt_train_eval and the streaming pipe's model map
  * ([[ModelMap.trainAndSave]]). Both call [[fitDomain]] inside one
  * `groupByKey(domain)` job.
  *
  * The reference trains one GBT per web domain in a driver loop
  * (GBTDomainSuperParSelectCandid.scala:31-35 `list.par`); at thousands
  * of domains that serializes ~N/pool distributed fits with per-fit
  * scheduling overhead. Here every domain is trained INSIDE a single
  * distributed job (`groupByKey(domain).mapGroups`), so the cluster
  * runs min(#domains, #cores) independent fits concurrently with zero
  * per-fit job scheduling. A domain's rows must fit one task: the
  * largest q_gbt_train_eval domain has 17,388 rows at sf0.1 (PERF.md).
  *
  * Standard gradient boosting with logistic loss on y∈{-1,+1}
  * (L = log(1+e^(-2yF)), the loss family Spark ML's GBTClassifier
  * uses): depth-limited regression trees fit to pseudo-residuals
  * 2y/(1+e^(2yF)) on equi-depth binned features, Newton-step leaves,
  * shrinkage [[ModelShape.StepSize]]. Deterministic by construction:
  * callers pre-sort rows (accumulation order), bin thresholds come from
  * exact sorted-sample quantile positions, and split ties break on the
  * lowest (feature, bin). */
object LocalGBT {

  /** Flattened binary tree: node i has feature/threshold or a leaf
    * value; children at left(i)/right(i). Predicts on RAW feature
    * values (thresholds are bin upper edges), so test rows need no
    * binning. */
  final case class Tree(feature: Array[Int], threshold: Array[Double],
      left: Array[Int], right: Array[Int], value: Array[Double]) {
    def predict(x: Array[Double]): Double = {
      var i = 0
      while (feature(i) >= 0)
        i = if (x(feature(i)) <= threshold(i)) left(i) else right(i)
      value(i)
    }
  }

  private val MaxBins = 32
  private val MinGain = 1e-12

  def fit(xs: Array[Array[Double]], labels01: Array[Double],
      maxIter: Int, maxDepth: Int): LocalGBTModel = {
    val n = xs.length
    val d = if (n == 0) 0 else xs(0).length
    val y = labels01.map(v => if (v > 0.5) 1.0 else -1.0)
    val yBar = math.max(-1 + 1e-6, math.min(1 - 1e-6, y.sum / math.max(n, 1)))
    val f0 = 0.5 * math.log((1 + yBar) / (1 - yBar))
    if (n == 0) return LocalGBTModel(f0, StepSize, Array.empty)

    // equi-depth bin thresholds per feature from the sorted training
    // values (deterministic quantile positions); bin = #thresholds ≤ x
    val thresholds: Array[Array[Double]] = Array.tabulate(d) { j =>
      val sorted = Array.tabulate(n)(i => xs(i)(j)).sorted
      val cuts = (1 until MaxBins)
        .map(b => sorted((b.toLong * n / MaxBins).toInt.min(n - 1)))
        .distinct.toArray
      // drop the max value as a cut: "≤ max" sends everything left
      if (cuts.nonEmpty && cuts.last == sorted(n - 1)) cuts.init else cuts
    }
    // bin index = #cuts strictly below x, so "bin ≤ b" ⟺ "x ≤ cut(b)"
    // — the exact raw-value comparison Tree.predict replays on test rows
    val bins: Array[Array[Int]] = Array.tabulate(n) { i =>
      Array.tabulate(d) { j =>
        val t = thresholds(j)
        val x = xs(i)(j)
        var lo = 0; var hi = t.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (t(mid) < x) lo = mid + 1 else hi = mid
        }
        lo
      }
    }

    val f = Array.fill(n)(f0)
    val trees = (0 until maxIter).map { _ =>
      val r = Array.tabulate(n)(i => 2 * y(i) / (1 + math.exp(2 * y(i) * f(i))))
      val tree = fitTree(xs, bins, thresholds, r, maxDepth)
      var i = 0
      while (i < n) { f(i) += StepSize * tree.predict(xs(i)); i += 1 }
      tree
    }.toArray
    LocalGBTModel(f0, StepSize, trees)
  }

  /** One variance-gain regression tree on the pseudo-residuals, grown
    * depth-first to `maxDepth` over the precomputed bins. */
  private def fitTree(xs: Array[Array[Double]], bins: Array[Array[Int]],
      thresholds: Array[Array[Double]], r: Array[Double], maxDepth: Int): Tree = {
    val d = thresholds.length
    val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
    val thr = scala.collection.mutable.ArrayBuffer.empty[Double]
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val value = scala.collection.mutable.ArrayBuffer.empty[Double]

    def newNode(): Int = {
      feature += -1; thr += 0.0; left += -1; right += -1; value += 0.0
      feature.length - 1
    }

    def grow(node: Int, rows: Array[Int], depth: Int): Unit = {
      var sumT = 0.0
      var den = 0.0
      rows.foreach { i =>
        sumT += r(i)
        den += math.abs(r(i)) * (2 - math.abs(r(i)))
      }
      // Friedman's TreeBoost leaf for logistic loss: the single Newton
      // step Σr / Σ|r|(2−|r|), not the mean residual — a mean-residual
      // leaf under-steps badly on imbalanced classes (margins never
      // cross zero within few iterations)
      value(node) = sumT / math.max(den, 1e-10)
      if (depth >= maxDepth || rows.length < 2) return
      // per-(feature, bin) histograms in one pass over the node's rows
      var bestGain = MinGain
      var bestF = -1; var bestB = -1
      val base = sumT * sumT / rows.length
      var j = 0
      while (j < d) {
        val nb = thresholds(j).length + 1
        if (nb > 1) {
          val cnt = new Array[Int](nb)
          val sum = new Array[Double](nb)
          rows.foreach { i => val b = bins(i)(j); cnt(b) += 1; sum(b) += r(i) }
          var cl = 0; var sl = 0.0
          var b = 0
          while (b < nb - 1) { // split: bin ≤ b goes left
            cl += cnt(b); sl += sum(b)
            if (cl > 0 && cl < rows.length) {
              val sr = sumT - sl
              val gain = sl * sl / cl + sr * sr / (rows.length - cl) - base
              if (gain > bestGain) { bestGain = gain; bestF = j; bestB = b }
            }
            b += 1
          }
        }
        j += 1
      }
      if (bestF < 0) return
      val (l, rr) = rows.partition(i => bins(i)(bestF) <= bestB)
      feature(node) = bestF
      thr(node) = thresholds(bestF)(bestB)
      val ln = newNode(); val rn = newNode()
      left(node) = ln; right(node) = rn
      grow(ln, l, depth + 1)
      grow(rn, rr, depth + 1)
    }

    val root = newNode()
    grow(root, Array.range(0, r.length), 0)
    Tree(feature.toArray, thr.toArray, left.toArray, right.toArray, value.toArray)
  }

  /** Featurizer + boosted fit on one domain's training rows, which the
    * caller has sorted (every accumulation then runs in a fixed order):
    * [[TopKByAvgTFIDF.fit]]'s rule run locally (df = non-zero count,
    * mean tf = sum / m), then [[fit]] over the featurizer's
    * [[TopKByAvgTFIDF.features]]. */
  def fitDomain(train: Array[TfRow]): DomainModel = {
    val sumTf = new Array[Double](NumFeatures)
    val docFreq = new Array[Double](NumFeatures)
    train.foreach { r =>
      r.tf.foreachActive { (j, v) =>
        if (v != 0.0) { sumTf(j) += v; docFreq(j) += 1 }
      }
    }
    val m = train.length
    val featurizer = TopKByAvgTFIDF.fromStats(sumTf.map(_ / m), docFreq, m)
    DomainModel(featurizer, fit(train.map(r => featurizer.features(r.tf, r.location_norm)),
      train.map(_.label), MaxIter, MaxDepth))
  }

  /** Full in-task pipeline for one domain: URL-grouped 70/30 split,
    * [[fitDomain]], and the reference eval (confusion counts + per-URL
    * argmax-confidence selection). Rows are sorted first so every
    * accumulation is order-independent. */
  def trainEvalDomain(dom: String, rowsIn: Array[TfRow]): GbtDomainRow = {
    val rows = rowsIn.sortBy(r => (r.page_id, r.location_norm))
    val (train, test) = rows.partition(_.page_id % 10 < 7)
    val m = train.length
    if (m == 0)
      return GbtDomainRow(dom, 0L, test.length.toLong,
        0L, test.count(_.label == 0.0).toLong, 0L, test.count(_.label == 1.0).toLong,
        test.map(_.page_id).distinct.length.toLong, 0L, 1L)

    val dm = fitDomain(train)
    val scored = test.map(r =>
      (r.page_id, r.label, dm.gbt.margin(dm.featurizer.features(r.tf, r.location_norm))))
    var tp = 0L; var tn = 0L; var fp = 0L; var fn = 0L
    scored.foreach { case (_, label, mg) =>
      val pred = if (mg > 0) 1.0 else 0.0
      if (label == 1.0 && pred == 1.0) tp += 1
      else if (label == 0.0 && pred == 0.0) tn += 1
      else if (label == 0.0 && pred == 1.0) fp += 1
      else fn += 1
    }
    // per-URL argmax-confidence candidate (Transformer.scala:322-337);
    // ties break on (confidence desc, label desc)
    val byUrl = scored.groupBy(_._1)
    val hits = byUrl.valuesIterator
      .map(_.maxBy { case (_, label, mg) => (mg, label) })
      .count(_._2 == 1.0)
    GbtDomainRow(dom, m.toLong, test.length.toLong, tp, tn, fp, fn,
      byUrl.size.toLong, hits.toLong, dm.featurizer.selectedIndices.length + 1L)
  }
}
