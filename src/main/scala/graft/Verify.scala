package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter
    // a typo'd name silently matching nothing + a reused outDir would
    // let stale results masquerade as a fresh PASS — fail loudly instead
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // SPARK_GRAFT_RECYCLE restarts the session every N queries (default
    // 40; 0 disables), ~8 times per full battery at ~1-2 s each
    val recycleEvery = sys.env.getOrElse("SPARK_GRAFT_RECYCLE", "40").toInt
    new java.io.File(outDir).mkdirs()
    val named = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    Sessions.battery("graft-verify", recycleEvery, named)(_ => ()) { case (spark, (name, fn)) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
  }

  /** The oracle map as one JSON object, query name → SQL text. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
}
