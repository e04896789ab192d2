package graft.ml

import graft.functions.LocalText
import graft.ml.ModelShape.{MinDocFreq, NumFeatures, TopK}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, udf}

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
  * Every candidate reaches it through one path, in training, eval and
  * the streaming scorer alike: [[TopKByAvgTFIDF.terms]] → the one term
  * hasher → [[features]].
  *
  * A plain value: the idf weights and the selected buckets. It is
  * Serializable, so the model map broadcasts it, and a case class of
  * arrays, so the model map stores it as one parquet struct. */
final case class TopKByAvgTFIDF(idf: Array[Double], selectedIndices: Array[Int]) {

  /** Appends `features` to a frame with `tf` and `location_norm`
    * columns: [[features]] applied per row, as the vector
    * `VectorAssembler` would emit. */
  def transform(df: Dataset[_]): DataFrame = {
    val featurize = udf((tf: Vector, locationNorm: Double) =>
      Vectors.dense(features(tf, locationNorm)).compressed)
    df.withColumn("features", featurize(col("tf"), col("location_norm")))
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

  /** One candidate's features straight from its terms, for the
    * broadcast-model-map streaming scorer, which applies the model per
    * record inside a `mapPartitions` (the reference's Htmls2PredsPipe
    * shape). The counts stay dense: this is the scoring hot path. */
  def transformLocal(terms: Iterable[String], locationNorm: Double): Vector =
    Vectors.dense(features(Vectors.dense(TopKByAvgTFIDF.counts(terms)), locationNorm))
}

object TopKByAvgTFIDF {
  /** Term hashing; `indexOf` only reads the bucket count, so tasks
    * share it. */
  private lazy val hasher = new HashingTF().setNumFeatures(NumFeatures)

  /** A candidate's terms, the reference's gramsTFIDFParser
    * (Transformer.scala:74-87): char 3-grams ++ char 4-grams ++ tokens
    * of text_before + text_after + domain. */
  def terms(textBefore: String, textAfter: String, domain: String): IndexedSeq[String] = {
    val data = textBefore + textAfter + domain
    LocalText.charGrams(data, 3) ++ LocalText.charGrams(data, 4) ++ LocalText.tokenize(data)
  }

  private def counts(terms: Iterable[String]): Array[Double] = {
    val tf = new Array[Double](NumFeatures)
    terms.foreach(t => tf(hasher.indexOf(t)) += 1.0)
    tf
  }

  /** The hashed term counts as `HashingTF` emits them: a sparse vector
    * over the NumFeatures buckets, the `tf` that training reads. */
  def termFrequencies(terms: Iterable[String]): Vector =
    Vectors.dense(counts(terms)).toSparse

  /** Fit on a frame with a `tf` column in ONE distributed pass:
    * per-bucket document frequency is exactly numNonZeros over the tf
    * vectors, and mean TF-IDF needs only mean(tf) (see [[fromStats]]).
    * Only the NumFeatures-length vectors reach the driver, so the fit is
    * one job regardless of corpus size. */
  def fit(df: Dataset[_]): TopKByAvgTFIDF = {
    val row = df
      .select(Summarizer.metrics("mean", "numNonZeros", "count")
        .summary(col("tf")).as("s"))
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
