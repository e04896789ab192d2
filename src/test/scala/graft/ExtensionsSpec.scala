package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-facing registration of graft's custom Catalyst functions. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "graft-ext-spec")

  test("price_candidates is callable from SQL via GraftExtensions") {
    import spark.implicits._
    Seq((1L, "only $12.34 today")).toDF("id", "html")
      .createOrReplaceTempView("pages")
    val rows = spark.sql(
      """SELECT id, c.candidate, c.location
        |FROM pages LATERAL VIEW explode(price_candidates(html)) t AS c""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "12.34", 6)))
  }

  test("word_shingles is callable from SQL via GraftExtensions") {
    import spark.implicits._
    Seq((1L, "a b c d")).toDF("id", "text").createOrReplaceTempView("docs")
    val rows = spark.sql("SELECT explode(word_shingles(text, 3)) AS s FROM docs")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("a b c", "b c d"))
  }

  test("word_shingles rejects a non-literal k") {
    import spark.implicits._
    Seq((1L, "a b c d")).toDF("id", "text").createOrReplaceTempView("ws_docs")
    val err = intercept[Throwable] {
      spark.sql("SELECT word_shingles(text, id) FROM ws_docs").collect()
    }
    val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("integer literal"),
      s"expected a clear non-literal error, got: $messages")
  }

  test("dot_product and heavy_hitters are callable from SQL") {
    import spark.implicits._
    Seq(("a", Array(1.0, 2.0)), ("a", Array(3.0, 4.0)), ("b", Array(1.0, 0.0)))
      .toDF("tag", "v").createOrReplaceTempView("vecs")
    val dp = spark.sql("SELECT dot_product(v, v) AS n2 FROM vecs ORDER BY n2")
      .collect().map(_.getDouble(0)).toSeq
    assert(dp == Seq(1.0, 5.0, 25.0))
    val hh = spark.sql(
      "SELECT explode(heavy_hitters(tag, 4, 2)) AS h FROM vecs")
      .select("h.item", "h.cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == Seq(("a", 2L), ("b", 1L)))
  }
}
