package graft

/** PERF harness (not driver contract): measures the forest substrate's
  * candidate volume and the wall cost of its two stages — candidate
  * build (probe join + canonical dedup) vs vector-attach scoring — so
  * scale-rung exponents can be stated against measured CANDIDATES
  * rather than rows (the ceil-log₂ occupancy sawtooth moves candidate
  * volume ×5 between adjacent rungs by construction; the engine's
  * actual claim is that cost PER CANDIDATE stays flat, and this makes
  * that a measured number instead of prose). One JSON line per run; pass runs ≥ 2 and read the later
  * runs as the warm figure.
  *
  * Usage: sbt "runMain graft.ForestCost <sfDir> [runs]"
  */
object ForestCost {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = Sessions.local(Sessions.cores, "graft-forest-cost")
    spark.sparkContext.setLogLevel("WARN")
    (1 to runs).foreach { i =>
      val (cand, buildS, scoreS) =
        operators.Similarity.forestScoreCost(spark, dir)
      println(f"""{"run":$i,"dir":${Json.str(dir)},"directed_candidates":$cand,"build_sec":$buildS%.3f,"score_sec":$scoreS%.3f,"score_us_per_kcand":${scoreS * 1e6 / math.max(1L, cand / 1000)}%.2f}""")
    }
    spark.stop()
  }
}
