package graft

import graft.functions.PriceCandidates
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's custom Catalyst functions for
  * SQL use:
  *
  *   spark.sql.extensions=graft.GraftExtensions  // what Sessions.local sets
  *   // or the session builder's withExtensions(new GraftExtensions)
  *   spark.sql("SELECT price_candidates(html) FROM pages")
  *
  * `price_candidates` is the reference's HTML price scanner
  * (um/re/utils/PriceParcer.scala:15-37) as a codegen'd expression —
  * see functions/Extraction.scala.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** Hyper-parameter arguments (shingle size, top-k capacity) are baked
    * into the expression at build time, so they must be literals — a
    * column reference would hit an unbound-attribute eval error deep in
    * the stack; fail analysis with a readable message instead. */
  private def intLiteral(fn: String, arg: String, ex: Expression): Int = {
    def fail() = throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got: ${ex.sql}")
    if (!ex.foldable) fail()
    ex.eval() match { // null and non-numeric literals get the same clear error
      case n: Number => n.intValue()
      case _ => fail()
    }
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("price_candidates"),
      new ExpressionInfo(classOf[PriceCandidates].getName, "price_candidates"),
      (children: Seq[Expression]) => PriceCandidates(children.head)))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) =>
        graft.functions.DotProduct(children(0), children(1))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => graft.functions.WordShingles(
        children(0),
        intLiteral("word_shingles", "k", children(1)))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[graft.functions.HeavyHitters].getName, "heavy_hitters"),
      (children: Seq[Expression]) => graft.functions.HeavyHitters(
        children(0),
        intLiteral("heavy_hitters", "k", children(1)),
        intLiteral("heavy_hitters", "capacity", children(2)))))
  }
}
