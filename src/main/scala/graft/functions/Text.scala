package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-normalization column functions re-expressing the reference's
  * string utilities (reference: um/re/utils/Utils.scala) as codegen'd
  * Catalyst expressions — every function here composes built-in
  * `org.apache.spark.sql.functions` so the whole pipeline stays inside
  * whole-stage codegen (no UDF boxing, no serialization).
  */
object Text {

  /** Strip everything but letters to single spaces.
    * Reference: Utils.textOnly (Utils.scala:64-66). */
  def textOnly(c: Column): Column =
    regexp_replace(c, "[^A-Za-z]+", " ")

  /** Letters+digits only. Reference: Utils.textNum (Utils.scala:72-74). */
  def textNum(c: Column): Column =
    regexp_replace(c, "[^0-9A-Za-z]+", " ")

  /** Tokenize on single spaces after textOnly, mirroring Java
    * `String.split(" ")` exactly: trailing empty tokens dropped, leading
    * empty kept, `"".split(" ")` → `[""]`, `" ".split(" ")` → `[]`.
    * textOnly collapses runs to single spaces, so interior empties can't
    * occur. Reference: Utils.tokenazer (Utils.scala:57-59). */
  def tokenize(c: Column): Column = {
    val t = textOnly(c)
    val r = regexp_replace(t, " $", "") // at most one trailing space
    when(c === "", array(lit("")))
      .when(r === "", array().cast("array<string>"))
      .otherwise(split(r, " ", -1))
  }

  /** Collapse 3+ blanks, drop thousands-commas between digits, strip
    * tab/newline/CR/comma. Reference: Utils.shrinkString
    * (Utils.scala:208-210) — same three Java regexes, same order. */
  def shrinkString(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "[\\p{Blank}]{3,}", " "),
        "(?<=[\\d])(,)(?=[\\d])", ""),
      "[\t\n\r,]", "")

  /** URL → host, `www.` stripped, failures → "www.failed.com".
    * Reference: Utils.getDomain (Utils.scala:359-375). */
  def getDomain(c: Column): Column = {
    val fixed = when(c.startsWith("http:/") && !c.contains("http://"),
        regexp_replace(c, "http:/", "http://"))
      .when(!c.startsWith("http:/"), concat(lit("http://"), c))
      .otherwise(c)
    val host = parse_url(fixed, lit("HOST"))
    val noWww = when(host.startsWith("www."), expr_substr(host, 5)).otherwise(host)
    coalesce(noWww, lit("www.failed.com"))
  }

  private def expr_substr(c: Column, from: Int): Column =
    c.substr(lit(from), length(c))

  /** Locale-aware (en_US) leading-number parse: strip thousands commas,
    * take the longest leading numeric prefix, null when unparseable.
    * Reference: Utils.parseDouble (Utils.scala:123-129) via
    * java.text.NumberFormat, which parses the leading valid portion. */
  def parsePriceLocale(c: Column): Column = {
    // No trim and no '+' alternative: NumberFormat en_US rejects " 5"
    // and "+5" (parse starts at index 0, '+' is not a number prefix).
    // Accepted divergences from NumberFormat (both return null here):
    // ",5" (NumberFormat tolerates a leading grouping separator → 5.0)
    // and "NaN" (NumberFormat parses the literal → Double.NaN).
    val lead = regexp_extract(c, "^-?[0-9][0-9,]*(\\.[0-9]+)?|^-?\\.[0-9]+", 0)
    when(lead === "", lit(null).cast("double"))
      .otherwise(regexp_replace(lead, ",", "").cast("double"))
  }

  /** Price-decision status machine: choose between the ML model's price
    * and the extraction pattern's price based on the conflict status.
    * Reference: Utils.getPriceFromMsgMap (Utils.scala:408-432). */
  /** The streaming price-decision status chain with the reference's
    * verbatim flag logic (Htmls2Cassandra.scala:183-227): modelPrice
    * sentinels -1 = every candidate filtered, -2 = no model for the
    * domain; the pattern failed when int(updatedPrice) == 0; equality
    * within 0.009; minor vs major conflict at 10% of the larger price. */
  def decisionStatus(modelPrice: Column, updatedPrice: Column): Column = {
    val afc = modelPrice === -1.0
    val mm = modelPrice === -2.0
    // floor before the int cast: Spark's double->int cast truncates while
    // DuckDB's rounds, so the oracle uses CAST(floor(x) AS INT) and both
    // engines agree for any non-negative price (prices are >= 0 here;
    // the reference's toInt is likewise truncation)
    val pf = floor(updatedPrice).cast("int") === 0
    val eq = !pf && !mm && !afc && abs(modelPrice - updatedPrice) < 0.009
    when(eq, "modeledPatternEquals")
      .when(!afc && !mm && !pf,
        when(abs(updatedPrice - modelPrice) / greatest(updatedPrice, modelPrice) <= 0.1,
          "minorModelPatternConflict").otherwise("majorModelPatternConflict"))
      .when((afc || mm) && pf, "bothFailed")
      .when(pf, "patternFailed")
      .when(mm, "missingModel")
      .otherwise("allFalseCandids")
  }

  def decidePrice(status: Column, updatedPrice: Column, modelPrice: Column): Column =
    when(status.isin("modeledPatternEquals", "minorModelPatternConflict", "patternFailed"), modelPrice)
      .when(status.isin("majorModelPatternConflict", "missingModel", "allFalseCandids"), updatedPrice)
      .when(status === "bothFailed", lit(0.0))
      .otherwise(lit(null).cast("double"))
}
