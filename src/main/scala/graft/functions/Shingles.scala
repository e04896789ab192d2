package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static shingling kernel called from generated code. */
object ShingleOps {
  /** Word k-shingles over single-space-tokenized text; fewer than k
    * tokens degenerates to the whole text (mirrors the declarative
    * `when(size(toks) >= k, ...) otherwise array(text)` formulation). */
  def wordShingles(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) {
      new GenericArrayData(Array[Any](text.copy()))
    } else {
      val n = toks.length - k + 1
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** `word_shingles(text, k)` → array<string> as a native codegen'd
  * expression — replaces the interpreted transform/element_at
  * higher-order pipeline in the MinHash/Jaccard hot path (per-row
  * object churn × corpus size). k is fixed at plan time. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    ShingleOps.wordShingles(text.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleOps.wordShingles($c, $k)")
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

object WordShingles {
  def wordShingles(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WordShingles(org.apache.spark.sql.graft.ColumnBridge.expression(c), k))
}
