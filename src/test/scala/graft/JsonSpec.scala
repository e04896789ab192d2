package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every JSON record the harness prints must parse whatever its names
  * and SQL hold: each line here goes back through Jackson. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def parse(s: String): JsonNode = mapper.readTree(s)

  private val hostile = Seq("q_plain", "q_\"quoted\"", "q_back\\slash", "q_tab\there",
    "q_cr\rhere", "q_nl\nhere", "q_ctl\u0001here", "q_€_unicode")

  test("Json.str round-trips quotes, backslashes and control characters") {
    hostile.foreach(s => assert(parse(Json.str(s)).textValue == s, s))
  }

  test("Verify's oracle_sql.json parses back to the names and SQL it was given") {
    val sql = hostile.map(n => n -> s"SELECT '\"$n\"' AS x\t-- \\ \r\n\u0001").toMap
    val node = parse(Verify.oracleJson(sql))
    assert(node.properties().asScala.map(e => e.getKey -> e.getValue.textValue).toMap == sql)
  }

  test("every Bench line parses and keeps its keys, failures included") {
    val results = hostile.zipWithIndex.map { case (n, i) =>
      i % 3 match {
        case 0 => Bench.Timing(n, 1.5, 1.25, Some(2.0), None)
        case 1 => Bench.Timing(n, 1.5, 1.25, None, None)
        case _ => Bench.Timing(n, 0.5, 0.5, None, Some("java.lang.IllegalStateException"))
      }
    }
    val load = "0.5 0.4 \"0.3\" 1/200"
    val sf = "/data/sf\t\"x\""

    val total = parse(Bench.totalLine(results, load, load, sf))
    Seq("metric", "value", "unit", "err", "queries", "total_warm", "queries_warm",
      "total_full", "queries_full", "full_err", "loadavg_start", "loadavg_end", "sf")
      .foreach(k => assert(total.has(k), k))
    def names(a: JsonNode) = a.iterator().asScala.map(_.textValue).toSet
    def keys(o: JsonNode) = o.properties().asScala.map(_.getKey).toSet
    assert(names(total.get("err")) == results.filterNot(_.ok).map(_.name).toSet)
    assert(names(total.get("full_err")) ==
      results.filter(t => t.ok && t.full.isEmpty).map(_.name).toSet)
    assert(keys(total.get("queries")) == results.filter(_.ok).map(_.name).toSet)
    assert(keys(total.get("queries_full")) == results.filter(_.full.nonEmpty).map(_.name).toSet)
    assert(total.get("sf").textValue == sf && total.get("loadavg_end").textValue == load)

    results.foreach { t =>
      val q = parse(Bench.queryLine(t))
      assert(q.get("metric").textValue == "query" && q.get("name").textValue == t.name)
      assert(q.get("cold").doubleValue == t.cold)
      t.error match {
        case Some(e) =>
          assert(q.get("err").intValue == 1 && q.get("error").textValue == e)
        case None =>
          assert(q.get("warm").doubleValue == t.warm && !q.has("err"))
          assert(q.has("full") == t.full.nonEmpty)
      }
    }

    val summary = parse(Bench.summaryLine(results, load, load, sf))
    Seq("metric", "value", "unit", "cold", "warm", "full", "n", "err_count",
      "loadavg_start", "loadavg_end", "sf").foreach(k => assert(summary.has(k), k))
    assert(summary.get("n").intValue == results.size)
    assert(summary.get("err_count").intValue == results.count(!_.ok))
  }
}
