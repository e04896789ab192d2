package graft

/** Plan-audit main: prints `explain("formatted")` for the named queries
  * (or a default headline set) so broadcast/pushdown/codegen can be
  * inspected per operator, under the same session configuration (AQE,
  * extensions, core count) that Bench and Verify run them with:
  *
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  *
  * Things to look for (SURVEY §5): `PushedFilters`/`ReadSchema` on the
  * parquet scans, `BroadcastHashJoin` for dim joins, wide
  * `WholeStageCodegen` spans, no `CartesianProduct` anywhere.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_join_enrich", "q_dom_analysis", "q_dedup_minhash",
        "q_ann_cosine", "q_price_candidates", "q_tfidf_topk", "q_hotspots")
    val spark = Sessions.local(Sessions.cores, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
