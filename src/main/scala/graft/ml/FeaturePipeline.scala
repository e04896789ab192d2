package graft.ml

import graft.ml.ModelShape.{MinDocFreq, NumFeatures, TopK}
import org.apache.spark.ml.feature.{ElementwiseProduct, HashingTF, VectorAssembler, VectorSlicer}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A fitted text featurizer mirroring the reference's candidate
  * pipeline (Transformer.scala:29-43 getTopTFIDFIndices /
  * findTopKThreshold / getGreaterIndices / projectByIndices, wired in
  * GBTDomainSuperParSelectCandid.scala:50-57):
  * HashingTF([[ModelShape.NumFeatures]]) → IDF([[ModelShape.MinDocFreq]])
  * fit on the training split → per-bucket mean TF-IDF → keep the top-k
  * buckets (threshold = k'-th largest where k' = min(k, #non-zero); ties
  * keep every bucket at the threshold, as the reference does) →
  * projected tf·idf values with the normalized candidate location
  * appended as the final feature, so a feature vector has
  * `selectedIndices.length + 1` components.
  *
  * A plain value: the idf weights and the selected buckets. It is
  * Serializable, so the model map broadcasts it, and a case class of
  * arrays, so the model map stores it as one parquet struct. */
final case class TopKByAvgTFIDF(idf: Array[Double], selectedIndices: Array[Int]) {

  /** Appends `features` to a frame with `terms` and `location_norm`
    * columns: pure column work (HashingTF → ·idf → slice → location
    * assembled), no driver loop. The idf scaling is an
    * [[ElementwiseProduct]], the same per-bucket tf·idf doubles an
    * IDFModel would produce. */
  def transform(df: DataFrame): DataFrame = {
    val scale = new ElementwiseProduct()
      .setScalingVec(Vectors.dense(idf))
      .setInputCol("graft_tf").setOutputCol("graft_tfidf")
    val slicer = new VectorSlicer()
      .setInputCol("graft_tfidf").setOutputCol("graft_sel")
      .setIndices(selectedIndices)
    val asm = new VectorAssembler()
      .setInputCols(Array("graft_sel", "location_norm"))
      .setOutputCol("features")
    asm.transform(slicer.transform(scale.transform(TopKByAvgTFIDF.hashTerms(df, "graft_tf"))))
      .drop("graft_tf", "graft_tfidf", "graft_sel")
  }

  /** tf·idf over the selected buckets of one candidate's hashed term
    * counts, the normalized location appended: the feature row that
    * training, eval and the streaming scorer all feed the GBT. */
  def features(tf: Vector, locationNorm: Double): Array[Double] = {
    val out = new Array[Double](selectedIndices.length + 1)
    var i = 0
    while (i < selectedIndices.length) {
      val j = selectedIndices(i)
      out(i) = tf(j) * idf(j)
      i += 1
    }
    out(selectedIndices.length) = locationNorm
    out
  }

  /** In-task (single-row) twin of [[transform]]: featurize one
    * candidate's term bag + normalized location without a DataFrame —
    * used by the broadcast-model-map streaming scorer, where the model
    * is applied per record inside a `mapPartitions` (the reference's
    * Htmls2PredsPipe shape). HashingTF counts, then [[features]]; the
    * values equal `transform`'s (StreamingSpec asserts it). */
  def transformLocal(terms: Iterable[String], locationNorm: Double): Vector = {
    val tf = new Array[Double](NumFeatures)
    terms.foreach(t => tf(TopKByAvgTFIDF.hasher.indexOf(t)) += 1.0)
    Vectors.dense(features(Vectors.dense(tf), locationNorm))
  }
}

object TopKByAvgTFIDF {
  /** Term hashing for [[TopKByAvgTFIDF.transformLocal]]; `indexOf`
    * only reads the bucket count, so tasks share it. */
  private lazy val hasher = new HashingTF().setNumFeatures(NumFeatures)

  /** `df` with the hashed counts of its `terms` column appended as
    * `outputCol`. */
  private[ml] def hashTerms(df: DataFrame, outputCol: String): DataFrame =
    new HashingTF().setInputCol("terms").setOutputCol(outputCol)
      .setNumFeatures(NumFeatures).transform(df)

  /** Fit on a frame with a `terms` column in ONE distributed pass:
    * per-bucket document frequency is exactly numNonZeros over the tf
    * vectors, and mean TF-IDF needs only mean(tf) (see [[fromStats]]).
    * Only the NumFeatures-length vectors reach the driver, so the fit is
    * one job regardless of corpus size. */
  def fit(df: DataFrame): TopKByAvgTFIDF = {
    val row = hashTerms(df, "graft_tf")
      .select(Summarizer.metrics("mean", "numNonZeros", "count")
        .summary(col("graft_tf")).as("s"))
      .select(col("s.mean"), col("s.numNonZeros"), col("s.count"))
      .head()
    fromStats(row.getAs[Vector](0).toArray, row.getAs[Vector](1).toArray, row.getLong(2))
  }

  /** The fit's rule from per-bucket mean tf, document frequency and
    * document count `m`: Spark ML IDF semantics log((m+1)/(df+1)),
    * zeroed below MinDocFreq, then the TopK buckets of mean TF-IDF
    * (idf_j · mean(tf_j), since idf_j is constant within a bucket).
    * Shared by [[fit]] and the in-task [[LocalGBT.fitDomain]]. */
  private[ml] def fromStats(meanTf: Array[Double], docFreq: Array[Double],
      m: Long): TopKByAvgTFIDF = {
    val idf = Array.tabulate(meanTf.length) { j =>
      if (docFreq(j) >= MinDocFreq) math.log((m + 1.0) / (docFreq(j) + 1.0)) else 0.0
    }
    TopKByAvgTFIDF(idf, selectIndices(Array.tabulate(meanTf.length)(j => meanTf(j) * idf(j)), TopK))
  }

  /** The reference's selection rule (Transformer.scala:29-43):
    * findTopKThreshold takes k' = min(k, #non-zero values), threshold =
    * k'-th largest value; getGreaterIndices keeps every index >=
    * threshold (ties keep extras). Guarded at k' >= 1 for the all-zero
    * corpus edge the reference would crash on. */
  def selectIndices(mean: Array[Double], k: Int): Array[Int] = {
    val kEff = math.max(1, math.min(k, mean.count(_ != 0.0)))
    val threshold = mean.sorted.takeRight(kEff)(0)
    mean.indices.filter(i => mean(i) >= threshold).toArray
  }
}
