package graft

import graft.functions.{LocalText, Text}
import org.apache.spark.sql.functions._

/** Unit checks for the reference text utilities, pinned to the quirky
  * reference semantics (um/re/utils/Utils.scala). */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    Seq("x").toDF("x").select(c.cast("string")).collect()(0).getString(0)

  test("textOnly strips non-letters to single spaces") {
    assert(one(Text.textOnly(lit("ab1 2cd!ef"))) == "ab cd ef")
  }

  test("shrinkString: blanks, thousands commas, control chars") {
    assert(one(Text.shrinkString(lit("a   b\t1,234,c"))) == "a b1234c")
  }

  test("charGrams follows the reference bounds (first char skipped, one short)") {
    // "abcdef", n=3 → reference grams: bcd, cde (i=1,2 0-based; i+3<6)
    assert(LocalText.charGrams("abcdef", 3) == Seq("bcd", "cde"))
    assert(LocalText.charGrams("abcd", 3).isEmpty)
  }

  test("getDomain strips www and survives broken scheme") {
    assert(one(Text.getDomain(lit("http://www.shop.example.com/p/1"))) == "shop.example.com")
    assert(one(Text.getDomain(lit("shop.example.com/item/2"))) == "shop.example.com")
    assert(one(Text.getDomain(lit("http:/shop.example.com/y"))) == "shop.example.com")
  }

  test("parsePriceLocale parses leading number, null otherwise") {
    assert(one(Text.parsePriceLocale(lit("1,234.56 USD"))) == "1234.56")
    assert(one(Text.parsePriceLocale(lit(".45"))) == "0.45")
    assert(one(Text.parsePriceLocale(lit("-12.5x"))) == "-12.5")
    val r = Seq("x").toDF("x").select(Text.parsePriceLocale(lit("N/A"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("decidePrice follows the status machine") {
    def d(s: String): Double =
      Seq("x").toDF("x")
        .select(Text.decidePrice(lit(s), lit(10.0), lit(11.0)))
        .collect()(0).getDouble(0)
    assert(d("modeledPatternEquals") == 11.0)
    assert(d("majorModelPatternConflict") == 10.0)
    assert(d("patternFailed") == 11.0)
    assert(d("bothFailed") == 0.0)
  }
}
