package graft

import graft.functions.{CharGrams, PriceCandidates, Text}
import graft.ml.ModelMap
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

/** The persisted model map reads back as the map that was trained:
  * `ModelMap.ensure` scores a map it has just trained without reading
  * it back, so this spec is the save → load round trip's own coverage. */
class ModelMapSpec extends SparkSpec {

  test("trainAndSave's map and load's read-back score every candidate identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm_rt")
    val path = tmp.resolve("map").toString
    try {
      val trained = ModelMap.trainAndSave(spark, sf, path, runId = 1L)
      val loaded = ModelMap.load(spark, path)
      assert(trained.keySet == ModelMap.TrainedDomains.toSet)
      assert(loaded.keySet == trained.keySet)

      // every price-shaped candidate of the trained-domain pages, as the
      // pipe keeps them: contains . or , and parses as a locale price
      val data = concat(col("c.text_before"), col("c.text_after"), col("domain"))
      val cands = ModelMap.syntheticPages(graft.sources.Tables.events(spark, sf))
        .filter(col("domain").isin(ModelMap.TrainedDomains: _*))
        .select(col("domain"), length(col("html")).as("page_len"),
          explode(PriceCandidates.priceCandidates(col("html"))).as("c"))
        .filter((col("c.candidate").contains(".") || col("c.candidate").contains(",")) &&
          Text.parsePriceLocale(col("c.candidate")).isNotNull)
        .select(col("domain"),
          concat(CharGrams.charGrams(data, 3), CharGrams.charGrams(data, 4),
            Text.tokenize(data)).as("terms"),
          (col("c.location").cast("double") / col("page_len")).as("location_norm"))
        .collect()
        .groupBy(_.getString(0))

      ModelMap.TrainedDomains.foreach { dom =>
        val (t, l) = (trained(dom), loaded(dom))
        assert(java.util.Arrays.equals(t.featurizer.idf.toArray, l.featurizer.idf.toArray),
          s"$dom: idf")
        assert(java.util.Arrays.equals(t.featurizer.selectedIndices,
          l.featurizer.selectedIndices), s"$dom: selectedIndices")
        def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
        assert(bits(t.gbt.f0) == bits(l.gbt.f0), s"$dom: f0")
        assert(bits(t.gbt.stepSize) == bits(l.gbt.stepSize), s"$dom: stepSize")
        assert(t.gbt.trees.nonEmpty && t.gbt.trees.length == l.gbt.trees.length, s"$dom: tree count")
        t.gbt.trees.zip(l.gbt.trees).zipWithIndex.foreach { case ((a, b), i) =>
          assert(java.util.Arrays.equals(a.feature, b.feature), s"$dom tree $i: feature")
          assert(java.util.Arrays.equals(a.threshold, b.threshold), s"$dom tree $i: threshold")
          assert(java.util.Arrays.equals(a.left, b.left), s"$dom tree $i: left")
          assert(java.util.Arrays.equals(a.right, b.right), s"$dom tree $i: right")
          assert(java.util.Arrays.equals(a.value, b.value), s"$dom tree $i: value")
        }

        val rows = cands.getOrElse(dom, Array.empty)
        assert(rows.nonEmpty, s"$dom has no price-shaped candidates")
        rows.foreach { r =>
          val (terms, loc) = (r.getSeq[String](1), r.getDouble(2))
          val ft: Vector = t.featurizer.transformLocal(terms, loc)
          val fl: Vector = l.featurizer.transformLocal(terms, loc)
          assert(java.util.Arrays.equals(ft.toArray, fl.toArray), s"$dom: transformLocal")
          val (ct, cl) = (ModelMap.confidence(t.gbt, ft), ModelMap.confidence(l.gbt, fl))
          assert(bits(ct) == bits(cl),
            s"$dom: confidence $ct (trained) vs $cl (loaded)")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
