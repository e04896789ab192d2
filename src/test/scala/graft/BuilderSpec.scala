package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query is called as `(SparkSession, dir)`, so a
  * defaulted parameter on a query builder is a setting with one value
  * in use: a named constant beside the builder, shared with its
  * oracle, says the same with no second path. This lists what is left
  * by reflection, over the registry objects `SparkEntry.queries` joins. */
class BuilderSpec extends AnyFunSuite {

  private val registries: Seq[AnyRef] = Seq(
    operators.Analytics, operators.TextQueries, operators.Extraction,
    operators.Dedup, operators.Graph, operators.Skew, operators.Similarity,
    operators.TextAnalysis, operators.Curation, operators.Multimodal,
    sources.XmlFeed, sources.WhoisJson, sources.JsonlLogs,
    ml.MLQueries, streaming.StreamingQueries)

  test("query builders carry only the defaulted parameters that take a second value") {
    val defaults = registries.flatMap(_.getClass.getDeclaredMethods.toSeq)
      .map(_.getName).filter(_.contains("$default$")).sorted
    // knnMutual's k: KnnK or SampleKnnK; componentLabels' maxIter: a
    // spec sets 3 to see the non-convergence throw
    assert(defaults == Seq("componentLabels$default$2", "knnMutual$default$3"))
  }
}
