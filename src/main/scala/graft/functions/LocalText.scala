package graft.functions

/** JVM-side text kernels. `charGrams` and `tokenize` are the
  * candidate featurizer's one kernel ([[graft.ml.TopKByAvgTFIDF.terms]]),
  * run per record by training, eval and the streaming scorer alike;
  * `parsePriceLocale` is the trainer's and the scorer's candidate
  * keep rule.
  *
  * Semantics are the reference's (um/re/utils/Utils.scala): tokenazer
  * (Utils.scala:57-59), gramsByN (Utils.scala:40-52) and parseDouble
  * (Utils.scala:123-129), over Java strings, so a char gram counts
  * UTF-16 units as the reference does — a character outside the BMP
  * is two units. `charGrams` has no Column twin; `tokenize` and
  * `parsePriceLocale` must stay bit-identical to theirs in [[Text]]
  * (FidelitySpec and StreamingSpec assert both).
  */
object LocalText {

  /** Strip to letters, split on single spaces with Java `split(" ")`
    * semantics (the reference tokenazer is exactly this). */
  def tokenize(s: String): Array[String] =
    s.replaceAll("[^A-Za-z]+", " ").split(" ")

  /** Char n-grams with the reference's quirky bounds: the first char
    * never starts a gram and the final gram stops one short of the end
    * — count = max(0, len - n - 1). */
  def charGrams(s: String, n: Int): IndexedSeq[String] = {
    val len = s.length
    if (len < n + 2) Vector.empty
    else (1 until (len - n)).map(i => s.substring(i, i + n))
  }

  private val LeadNumber = "^-?[0-9][0-9,]*(\\.[0-9]+)?|^-?\\.[0-9]+".r

  /** Locale-aware (en_US) leading-number parse; None when unparseable.
    * Same accepted divergences from java.text.NumberFormat as the
    * Column version ([[Text.parsePriceLocale]]). */
  def parsePriceLocale(s: String): Option[Double] =
    LeadNumber.findPrefixOf(s).map(m => m.replace(",", "").toDouble)
}
