package graft

import graft.functions.{LocalText, PriceCandidates, Text}
import graft.ml.{ModelMap, ModelShape, TopKByAvgTFIDF}
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
      val cands = ModelMap.syntheticPages(graft.sources.Tables.events(spark, sf))
        .filter(col("domain").isin(ModelMap.TrainedDomains: _*))
        .select(col("domain"), length(col("html")).as("page_len"),
          explode(PriceCandidates.priceCandidates(col("html"))).as("c"))
        .filter((col("c.candidate").contains(".") || col("c.candidate").contains(",")) &&
          Text.parsePriceLocale(col("c.candidate")).isNotNull)
        .select(col("domain"), col("c.text_before"), col("c.text_after"),
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
          val (terms, loc) = (TopKByAvgTFIDF.terms(r.getString(1), r.getString(2), dom),
            r.getDouble(3))
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

  test("a non-BMP snippet gives the trainer's row and the scorer the same terms") {
    import spark.implicits._
    // U+1F600 is two UTF-16 units. The reference's gramsByN counts both,
    // a code-point kernel counts one, so a second kernel on either side
    // would hash this candidate's grams differently.
    val dom = "view.example.com"
    val html = "<div>😀 sale <span class=\"price\">$12.34</span> 😀 now</div>"
    val pages = Seq((7L, 0L, dom, html, 12.34)).toDF("event_id", "user_id", "domain", "html", "a_val")
    val rows = ModelMap.trainingRows(pages).collect()
    assert(rows.length == 1)
    val row = rows.head
    assert(row.label == 1.0)

    // the scorer's side: its page decoding, keep rule and terms
    val page = pages.select(col("event_id"), col("user_id"), col("domain"),
        length(col("html")).as("page_len"),
        PriceCandidates.priceCandidates(col("html")).as("cands"))
      .as[graft.streaming.StreamPage].head()
    val kept = ModelMap.keptCandidates(page.cands)
    assert(kept.length == 1)
    val c = kept.head._1
    val data = c.text_before + c.text_after + dom
    assert(data.codePointCount(0, data.length) < data.length, "no non-BMP char in the snippet")
    val terms = TopKByAvgTFIDF.terms(c.text_before, c.text_after, dom)

    // every bucket selected with idf 1: the features are the raw counts
    val identity = TopKByAvgTFIDF(Array.fill(ModelShape.NumFeatures)(1.0),
      Array.range(0, ModelShape.NumFeatures))
    val scored = identity.transformLocal(terms, c.location.toDouble / page.page_len).toArray
    assert(java.util.Arrays.equals(identity.features(row.tf, row.location_norm), scored),
      "the trainer's row and the scorer hash different terms")
    // ... and they count the reference's UTF-16 grams
    assert(row.tf.toArray.sum == LocalText.charGrams(data, 3).size +
      LocalText.charGrams(data, 4).size + LocalText.tokenize(data).length)
  }

  test("the trained map's raw bits match their pinned digest") {
    // MLValueSpec's pins do not move when the featurizer changes (with the
    // 4-grams dropped every one of them still passes), so this digest of
    // every number the trainer produces is the featurizer's own pin.
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm_digest")
    try {
      val map = ModelMap.trainAndSave(spark, sf, tmp.resolve("map").toString, runId = 1L)
      val buf = java.nio.ByteBuffer.allocate(1 << 22)
      def doubles(xs: Array[Double]): Unit = { buf.putInt(xs.length); xs.foreach(buf.putDouble) }
      def ints(xs: Array[Int]): Unit = { buf.putInt(xs.length); xs.foreach(buf.putInt) }
      map.toSeq.sortBy(_._1).foreach { case (dom, m) =>
        buf.put(dom.getBytes("UTF-8"))
        doubles(m.featurizer.idf.toArray)
        ints(m.featurizer.selectedIndices)
        doubles(Array(m.gbt.f0, m.gbt.stepSize))
        m.gbt.trees.foreach { t =>
          ints(t.feature); doubles(t.threshold); ints(t.left); ints(t.right); doubles(t.value)
        }
      }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.util.Arrays.copyOf(buf.array, buf.position))
        .map("%02x".format(_)).mkString
      assert(digest == "26c4e00e4ebc5503218961feb864bd3fab7d0ebf3f5912ece087d3a6d2edbeb5",
        s"the trained model map changed: digest $digest")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
