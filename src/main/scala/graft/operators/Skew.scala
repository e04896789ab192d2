package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose hot keys overflow a single task
  * (SURVEY §5). AQE's skew-join split handles sort-merge cases
  * adaptively; explicit salting remains the tool when the skewed side
  * must pre-aggregate or the join is key-exploding.
  *
  * `saltedJoin` replicates the (small) right side [[Skew.SaltFactor]]
  * times and scatters the left side's hot keys across the replicas with
  * a deterministic per-row salt — each (key, salt) shuffle bucket then
  * holds ~1/SaltFactor of a hot key's rows. Inner-join semantics are
  * preserved exactly: every left row meets exactly one replica of each
  * matching right row.
  */
object Skew {

  /** Salt buckets per key: a hot key's rows spread over this many
    * shuffle partitions, and the right side is replicated this many
    * times. */
  private val SaltFactor = 16

  /** Inner equi-join of `left` and `right` on `key`, with the left
    * side's keys scattered over [[SaltFactor]] salted partitions.
    * `right` is expected to be the bounded side (it is replicated
    * [[SaltFactor]] times before the shuffle). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String): DataFrame = {
    // salt derived from row CONTENT, never from partition-dependent ids
    // (monotonically_increasing_id under a stage retry reassigns ids →
    // rows change buckets mid-shuffle and the join drops/duplicates
    // rows, the SPARK-23207 failure class); identical rows sharing a
    // salt is harmless for correctness
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(SaltFactor.toLong)))
    val replicated = right.withColumn("__salt",
      explode(array((0 until SaltFactor).map(s => lit(s.toLong)): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** q_skew_join: the salted join REGISTERED against the plain-join
    * oracle — salting's whole contract is semantic invisibility (every
    * left row meets each matching right row exactly once, hot keys
    * merely scatter across salt buckets), so the DuckDB oracle is the
    * UNSALTED inner join and the hash compare proves the contract on
    * real data. Left = the events fact keyed by user; right = the
    * per-customer order profile (the bounded dim that gets replicated
    * [[SaltFactor]]×). */
  def skewJoinQuery(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
    val dim = graft.sources.Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("orders_cents"))
    saltedJoin(ev, dim, "user_id")
      .select(col("event_id"), col("user_id"), col("value_cents"),
        col("n_orders"), col("orders_cents"))
      .orderBy("event_id")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q_skew_join" -> (skewJoinQuery(_, _)))

  val oracleSql: Map[String, String] = Map(
    // the UNSALTED join — salting must be invisible to the result
    "q_skew_join" ->
      """WITH dim AS (
        |  SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS orders_cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT e.event_id, e.user_id,
        |  CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS value_cents,
        |  d.n_orders, d.orders_cents
        |FROM events e JOIN dim d USING (user_id)
        |ORDER BY event_id""".stripMargin)
}
