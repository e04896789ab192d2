package graft

import graft.functions.HeavyHitters.heavyHitters
import org.apache.spark.sql.functions._

/** SpaceSaving heavy-hitters: exact when capacity ≥ cardinality, and
  * the classic overestimate guarantees when capacity is exceeded
  * (est ≥ true ≥ est − err). */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def run(data: Seq[String], capacity: Int, k: Int) =
    data.toDF("x")
      .repartition(4) // force partial buffers + merge
      .agg(heavyHitters(col("x"), capacity, k).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt", "h.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("exact counts when capacity covers all items") {
    val data = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(7)("c")
    val got = run(data, capacity = 8, k = 3).toSeq
    assert(got == Seq(("a", 50L, 0L), ("b", 30L, 0L), ("c", 7L, 0L)))
  }

  test("overestimate bounds hold when capacity is exceeded") {
    val trueCounts = (0 until 40).map(i => s"item$i" -> (i + 1).toLong).toMap
    val data = trueCounts.toSeq.flatMap { case (s, n) => Seq.fill(n.toInt)(s) }
    val shuffled = new scala.util.Random(7).shuffle(data)
    val got = run(shuffled, capacity = 10, k = 10)
    assert(got.nonEmpty && got.length <= 10)
    got.foreach { case (item, cnt, err) =>
      val truth = trueCounts(item)
      assert(cnt >= truth, s"$item est $cnt < true $truth")
      assert(cnt - err <= truth, s"$item lower bound ${cnt - err} > true $truth")
    }
  }

  test("TopEdges keeps the lower id on a +0.0 / -0.0 score tie, as Spark's sort does") {
    // TopEdgesState treats -0.0 as equal to 0.0 and breaks the tie by
    // id ASC, whichever arrives first
    def kept(in: Seq[(Double, Long)]): Long = {
      val st = new graft.functions.TopEdgesState(1)
      in.foreach { case (s, id) => st.add(s, id) }
      assert(st.buf.size == 1)
      st.buf.head._2
    }
    val tie = Seq((0.0, 5L), (-0.0, 3L))
    assert(kept(tie) == 3L)
    assert(kept(tie.reverse) == 3L)
    // Spark's ORDER BY score DESC, id ASC — sort and row_number window,
    // the formulation TopEdges replaces — compares -0.0 equal to 0.0
    // too and keeps id 3; a raw java.lang.Double.compare would keep 5
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(desc("score"), asc("id"))
    for (in <- Seq(tie, tie.reverse); parts <- Seq(1, 2)) {
      val df = in.toDF("score", "id").repartition(parts)
      assert(df.collect().exists(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(-0.0)), "input lost its -0.0")
      assert(df.orderBy(desc("score"), asc("id")).head().getLong(1) == 3L)
      assert(df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .head().getLong(1) == 3L)
    }
  }
}
