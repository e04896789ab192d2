package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Salted-join correctness: identical result set to the plain join on
  * a 90%-hot-key skew, with the shuffle keyed on (key, salt). */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin preserves inner-join semantics under skew") {
    val left = (1 to 5000).map { i =>
      val k = if (i % 10 != 0) 1L else (i % 7).toLong // 90% on key 1
      (k, i.toLong)
    }.toDF("k", "v")
    val right = Seq((0L, "z"), (1L, "a"), (2L, "b"), (3L, "c"), (6L, "d"))
      .toDF("k", "tag")
    val expected = left.join(right, Seq("k"))
      .select("k", "v", "tag").collect().map(_.toSeq).sortBy(_.toString)
    val got = Skew.saltedJoin(left, right, "k")
      .select("k", "v", "tag").collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
  }

  test("salted shuffle partitions on (key, salt)") {
    val left = (1 to 100).map(i => (1L, i.toLong)).toDF("k", "v")
    val right = Seq((1L, "a")).toDF("k", "tag")
    val plan = Skew.saltedJoin(left, right, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column missing from plan:\n$plan")
  }
}
