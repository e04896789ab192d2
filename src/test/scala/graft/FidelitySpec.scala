package graft

import graft.functions.{LocalText, Text}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Differential fidelity tests: run the REFERENCE algorithms verbatim
  * on the JVM (the same java.util.regex / NumberFormat / URI calls the
  * reference makes — um/re/utils/Utils.scala) and compare against
  * graft's Column implementations over randomized inputs in one batch
  * Spark job per function. */
class FidelitySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private val alphabet =
    "abc XYZ 019,.\t\n$-€price Price PRICE http://www. shop.com/ ?=&"

  private def randomStrings(n: Int, maxLen: Int): Seq[String] =
    (0 until n).map { _ =>
      val len = rnd.nextInt(maxLen)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }

  private def runCol(inputs: Seq[String], c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] =
    inputs.toDF("s").select(c(col("s")).cast("string").as("r"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq

  test("textOnly ≡ reference replaceAll chain") {
    val ins = randomStrings(300, 60)
    val ref = ins.map(_.replaceAll("[^A-Za-z]+", " "))
    assert(runCol(ins, Text.textOnly) == ref)
  }

  test("tokenize ≡ reference textOnly+split(\" \")") {
    val ins = randomStrings(300, 60)
    val ref = ins.map(s =>
      s.replaceAll("[^A-Za-z]+", " ").split(" ").mkString("≬"))
    val got = runCol(ins, c => concat_ws("≬", Text.tokenize(c)))
    assert(got == ref)
  }

  test("shrinkString ≡ reference replaceAll chain (Utils.scala:208-210)") {
    val ins = randomStrings(400, 80)
    val ref = ins.map(_
      .replaceAll("[\\p{Blank}]{3,}", " ")
      .replaceAll("(?<=[\\d])(,)(?=[\\d])", "")
      .replaceAll("[\t\n\r,]", ""))
    assert(runCol(ins, Text.shrinkString) == ref)
  }

  test("charGrams content ≡ reference gramsByN (which prepends → reversed)") {
    // reference (Utils.scala:40-52): for i in 1 until len,
    // if i+n < len: grams = substring(i, i+n) :: grams  (reversed order)
    def refGrams(s: String, n: Int): List[String] = {
      var grams = List.empty[String]
      for (i <- 1 until s.length)
        if (i + n < s.length) grams = s.substring(i, i + n) :: grams
      grams
    }
    // supplementary characters count as two UTF-16 units, as in the
    // reference: "a😀bcdefg" is 9 units long and yields 5 3-grams, the
    // first two of them holding half of the surrogate pair
    val nonBmp = Seq("a😀bcdefg", "😀😀😀", "price 😀 $12.34 now", "ab😀cd😀")
    assert(LocalText.charGrams("a😀bcdefg", 3).size == 5)
    (randomStrings(300, 40) ++ nonBmp).foreach { s =>
      Seq(3, 4).foreach { n =>
        assert(LocalText.charGrams(s, n).toList == refGrams(s, n).reverse, s"input=$s n=$n")
      }
    }
  }

  test("parsePriceLocale ≡ reference NumberFormat (documented divergences excluded)") {
    val ins = randomStrings(400, 20)
      // documented divergences: leading grouping separator and NaN-ish
      .filterNot(s => s.startsWith(",") || s.startsWith("-,") || s.contains("NaN"))
    val fmt = java.text.NumberFormat.getNumberInstance(new java.util.Locale("en", "US"))
    val ref = ins.map { s =>
      try Some(fmt.parse(s).doubleValue()) catch { case _: Throwable => None }
    }
    val got = runCol(ins, Text.parsePriceLocale)
    ins.zip(ref).zip(got).foreach { case ((s, r), g) =>
      (r, Option(g)) match {
        case (Some(d), Some(gs)) =>
          assert(math.abs(d - gs.toDouble) < 1e-9, s"input=$s ref=$d got=$gs")
        case (None, None) => ()
        case other => fail(s"input='$s' ref/got mismatch: $other")
      }
    }
  }

  test("shrinkString ≡ reference on scalacheck-generated adversarial strings") {
    import org.scalacheck.Gen
    val gen = Gen.listOf(Gen.frequency(
      (4, Gen.numChar), (3, Gen.alphaChar),
      (2, Gen.oneOf(',', '.', ' ', '\t', '\n', '\r')),
      (1, Gen.oneOf('$', '-', '€')))).map(_.mkString)
    val ins = Iterator.continually(gen.sample).flatten.take(300).toSeq
    val ref = ins.map(_
      .replaceAll("[\\p{Blank}]{3,}", " ")
      .replaceAll("(?<=[\\d])(,)(?=[\\d])", "")
      .replaceAll("[\t\n\r,]", ""))
    assert(runCol(ins, Text.shrinkString) == ref)
  }

  test("TopKByAvgTFIDF selection ≡ reference getTopTFIDFIndices (Transformer.scala:29-43)") {
    // the reference's selection functions, verbatim
    def findTopKThreshold(values: Array[Double], k: Int): Double = {
      val _k = math.min(k, values.filter(v => v != 0.0).length)
      values.sorted.takeRight(_k)(0)
    }
    def getGreaterIndices(values: Array[Double], threshold: Double): Array[Int] =
      (for (i <- values.indices if values(i) >= threshold) yield i).toArray
    def refTop(k: Int, avg: Array[Double]): Array[Int] =
      getGreaterIndices(avg, findTopKThreshold(avg, k))
    val rnd3 = new Random(13)
    (0 until 50).foreach { _ =>
      val n = 1 + rnd3.nextInt(200)
      // sparse-ish values with repeats to exercise the tie path
      val mean = Array.fill(n)(
        if (rnd3.nextBoolean()) 0.0 else (rnd3.nextInt(8) + 1) * 0.25)
      val k = 1 + rnd3.nextInt(n)
      if (mean.exists(_ != 0.0)) { // ref crashes on all-zero (takeRight(0)(0))
        assert(graft.ml.TopKByAvgTFIDF.selectIndices(mean, k).toSeq ==
          refTop(k, mean).toSeq, s"k=$k mean=${mean.mkString(",")}")
      }
    }
  }

  test("decisionStatus ≡ reference flag chain (Htmls2Cassandra.scala:183-227)") {
    // the reference's mutable-flag logic, verbatim
    def refStatus(modelPrice: Double, updatedPrice: Double): String = {
      var status = ""
      var allFalseCandids = false
      var missingModel = false
      var patternFailed = false
      var modeledPatternEquals = false
      if (modelPrice == -1.0) allFalseCandids = true
      if (modelPrice == -2.0) missingModel = true
      if (updatedPrice.toInt == 0) patternFailed = true
      if (!patternFailed && !missingModel && !allFalseCandids &&
        ((modelPrice - updatedPrice).abs < 0.009)) modeledPatternEquals = true
      if (modeledPatternEquals) status = "modeledPatternEquals"
      else if (!allFalseCandids && !missingModel && !patternFailed) {
        if ((updatedPrice - modelPrice).abs / math.max(updatedPrice, modelPrice) <= 0.1)
          status = "minorModelPatternConflict"
        else status = "majorModelPatternConflict"
      } else if ((allFalseCandids || missingModel) && patternFailed) status = "bothFailed"
      else if (patternFailed) status = "patternFailed"
      else if (missingModel) status = "missingModel"
      else if (allFalseCandids) status = "allFalseCandids"
      status
    }
    val rnd2 = new Random(7)
    val cases = Seq(
      (-1.0, 0.0), (-2.0, 0.0), (-1.0, 55.5), (-2.0, 120.0), (10.0, 0.0),
      (100.0, 100.0), (100.0, 100.005), (105.0, 100.0), (150.0, 100.0), (0.5, 0.3)) ++
      (0 until 200).map { _ =>
        val m = rnd2.nextInt(4) match {
          case 0 => -1.0
          case 1 => -2.0
          case _ => rnd2.nextDouble() * 200
        }
        val u = if (rnd2.nextBoolean()) 0.0 else rnd2.nextDouble() * 200
        (m, u)
      }
    val got = cases.toDF("m", "u")
      .select(Text.decisionStatus(col("m"), col("u")).as("s"))
      .collect().map(_.getString(0))
    cases.zip(got).foreach { case ((m, u), g) =>
      assert(g == refStatus(m, u), s"m=$m u=$u ref=${refStatus(m, u)} got=$g")
    }
  }

  test("getDomain ≡ reference URI logic (Utils.scala:359-375)") {
    def refDomain(input: String): String = {
      var url = input
      try {
        if (url.startsWith("http:/")) {
          if (!url.contains("http://")) url = url.replaceAll("http:/", "http://")
        } else url = "http://" + url
        val domain = new java.net.URI(url).getHost
        if (domain.startsWith("www.")) domain.substring(4) else domain
      } catch { case _: Exception => "www.failed.com" }
    }
    val ins = Seq(
      "http://www.shop.example.com/p/1",
      "www.shop.example.com/q",
      "shop.example.com/item/2",
      "http:/shop.example.com/y",
      "HTTP://UPPER.example.com/x",
      "http://sub.domain.example.com/a/b?q=1")
    val got = runCol(ins, Text.getDomain)
    ins.zip(got).foreach { case (s, g) =>
      assert(g == refDomain(s), s"input=$s ref=${refDomain(s)} got=$g")
    }
  }
}
