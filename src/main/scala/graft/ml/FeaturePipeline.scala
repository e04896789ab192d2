package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.feature.{ElementwiseProduct, HashingTF, VectorAssembler, VectorSlicer}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.{IntParam, Param, ParamMap, Params}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Shared params for [[TopKByAvgTFIDF]] / [[TopKByAvgTFIDFModel]]. */
trait TopKTFIDFParams extends Params {
  final val termsCol = new Param[String](this, "termsCol", "input terms array column")
  final val locationCol = new Param[String](this, "locationCol", "normalized location feature column")
  final val outputCol = new Param[String](this, "outputCol", "assembled feature vector column")
  final val numFeatures = new IntParam(this, "numFeatures", "HashingTF bucket count")
  final val minDocFreq = new IntParam(this, "minDocFreq", "IDF minimum document frequency")
  final val topK = new IntParam(this, "topK", "buckets kept by mean-TFIDF rank")
  setDefault(termsCol -> "terms", locationCol -> "location_norm",
    outputCol -> "features", numFeatures -> 1000, minDocFreq -> 5, topK -> 100)
}

/** Text featurization estimator mirroring the reference's candidate
  * pipeline (Transformer.scala:29-43 getTopTFIDFIndices /
  * findTopKThreshold / getGreaterIndices / projectByIndices, wired in
  * GBTDomainSuperParSelectCandid.scala:50-57):
  * HashingTF(numFeatures) → IDF(minDocFreq) fit on the training split →
  * per-bucket mean TF-IDF → keep the top-k buckets (threshold = k'-th
  * largest where k' = min(k, #non-zero); ties keep every bucket at the
  * threshold, as the reference does) → projected tf·idf values with the
  * normalized candidate location appended as the final feature.
  *
  * The selection statistics are a single distributed `Summarizer.mean`
  * pass; only the numFeatures-length mean vector ever reaches the
  * driver, so the fit is one job regardless of corpus size. The model's
  * transform is pure column work (HashingTF → IDFModel → VectorSlicer →
  * VectorAssembler), no driver loop.
  */
class TopKByAvgTFIDF(override val uid: String)
    extends Estimator[TopKByAvgTFIDFModel] with TopKTFIDFParams {
  def this() = this(Identifiable.randomUID("topKByAvgTFIDF"))

  def setTermsCol(v: String): this.type = set(termsCol, v)
  def setLocationCol(v: String): this.type = set(locationCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setNumFeatures(v: Int): this.type = set(numFeatures, v)
  def setMinDocFreq(v: Int): this.type = set(minDocFreq, v)
  def setTopK(v: Int): this.type = set(topK, v)

  override def fit(ds: Dataset[_]): TopKByAvgTFIDFModel = {
    val tf = new HashingTF()
      .setInputCol($(termsCol)).setOutputCol("graft_tf")
      .setNumFeatures($(numFeatures))
    // ONE distributed pass: per-bucket document frequency is exactly
    // numNonZeros over the tf vectors, and mean TF-IDF needs only
    // mean(tf) (see idfAndIndices).
    val row = tf.transform(ds)
      .select(Summarizer.metrics("mean", "numNonZeros", "count")
        .summary(col("graft_tf")).as("s"))
      .select(col("s.mean"), col("s.numNonZeros"), col("s.count"))
      .head()
    val (idf, indices) = TopKByAvgTFIDF.idfAndIndices(row.getAs[Vector](0).toArray,
      row.getAs[Vector](1).toArray, row.getLong(2), $(minDocFreq), $(topK))
    copyValues(new TopKByAvgTFIDFModel(uid, Vectors.dense(idf), indices).setParent(this))
  }

  override def copy(extra: ParamMap): TopKByAvgTFIDF = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = schema
}

object TopKByAvgTFIDF {
  /** The fit's rule from per-bucket mean tf, document frequency and
    * document count `m`: Spark ML IDF semantics log((m+1)/(df+1)),
    * zeroed below `minDocFreq`, then the top-k buckets of mean TF-IDF
    * (idf_j · mean(tf_j), since idf_j is constant within a bucket).
    * Shared by [[TopKByAvgTFIDF.fit]] and the in-task [[LocalGBT]]. */
  def idfAndIndices(meanTf: Array[Double], docFreq: Array[Double], m: Long,
      minDocFreq: Int, k: Int): (Array[Double], Array[Int]) = {
    val idf = Array.tabulate(meanTf.length) { j =>
      if (docFreq(j) >= minDocFreq) math.log((m + 1.0) / (docFreq(j) + 1.0)) else 0.0
    }
    (idf, selectIndices(Array.tabulate(meanTf.length)(j => meanTf(j) * idf(j)), k))
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

/** Fitted [[TopKByAvgTFIDF]]: IDF weights + selected bucket indices.
  * `transform` appends `outputCol` = tf·idf over the selected buckets
  * with the normalized location as the final component — feature
  * dimensionality is `selectedIndices.length + 1`. The idf scaling is
  * an [[ElementwiseProduct]] (same per-bucket tf·idf doubles an
  * IDFModel would produce). */
class TopKByAvgTFIDFModel(
    override val uid: String,
    val idf: Vector,
    val selectedIndices: Array[Int])
    extends Model[TopKByAvgTFIDFModel] with TopKTFIDFParams {

  override def transform(ds: Dataset[_]): DataFrame = {
    val tf = new HashingTF()
      .setInputCol($(termsCol)).setOutputCol("graft_tf")
      .setNumFeatures($(numFeatures))
    val scale = new ElementwiseProduct()
      .setScalingVec(idf)
      .setInputCol("graft_tf").setOutputCol("graft_tfidf")
    val slicer = new VectorSlicer()
      .setInputCol("graft_tfidf").setOutputCol("graft_sel")
      .setIndices(selectedIndices)
    val asm = new VectorAssembler()
      .setInputCols(Array("graft_sel", $(locationCol)))
      .setOutputCol($(outputCol))
    asm.transform(slicer.transform(scale.transform(tf.transform(ds))))
      .drop("graft_tf", "graft_tfidf", "graft_sel")
  }

  override def copy(extra: ParamMap): TopKByAvgTFIDFModel =
    copyValues(new TopKByAvgTFIDFModel(uid, idf, selectedIndices).setParent(parent))
  override def transformSchema(schema: StructType): StructType = schema

  @transient private lazy val hasher =
    new HashingTF().setNumFeatures(getOrDefault(numFeatures))
  @transient private lazy val idfArr = idf.toArray

  /** In-task (single-row) twin of [[transform]]: featurize one
    * candidate's term bag + normalized location without a DataFrame —
    * used by the broadcast-model-map streaming scorer, where the model
    * is applied per record inside a `mapPartitions` (the reference's
    * Htmls2PredsPipe shape). Produces the same values `transform` emits:
    * HashingTF counts → ·idf → slice(selectedIndices) → location
    * appended. Parity is spec-asserted (StreamingSpec). */
  def transformLocal(terms: Iterable[String], locationNorm: Double): Vector = {
    val tf = new Array[Double](getOrDefault(numFeatures))
    terms.foreach(t => tf(hasher.indexOf(t)) += 1.0)
    val out = new Array[Double](selectedIndices.length + 1)
    var i = 0
    while (i < selectedIndices.length) {
      val j = selectedIndices(i)
      out(i) = tf(j) * idfArr(j)
      i += 1
    }
    out(selectedIndices.length) = locationNorm
    Vectors.dense(out)
  }
}
