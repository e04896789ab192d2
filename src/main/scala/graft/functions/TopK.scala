package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** SpaceSaving heavy-hitters state: item → (count, error). While fewer
  * than `capacity` distinct items have been seen the counts are exact
  * (error 0); past capacity the classic Metwally et al. eviction keeps
  * per-item error ≤ the evicted minimum. */
final class SpaceSavingState(val capacity: Int) {
  val counts: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty

  def add(item: String, inc: Long = 1L, err: Long = 0L): Unit =
    counts.get(item) match {
      case Some((c, e)) => counts.update(item, (c + inc, e + err))
      case None if counts.size < capacity => counts.update(item, (inc, err))
      case None =>
        val (minItem, (minC, _)) = counts.minBy { case (i, (c, _)) => (c, i) }
        counts.remove(minItem)
        counts.update(item, (minC + inc, minC + err))
    }

  def mergeIn(other: SpaceSavingState): Unit = {
    other.counts.foreach { case (i, (c, e)) => add(i, c, e) }
    // trim back to capacity, keeping the largest counts
    if (counts.size > capacity) {
      counts.toSeq.sortBy { case (i, (c, _)) => (-c, i) }
        .drop(capacity).foreach { case (i, _) => counts.remove(i) }
    }
  }
}

/** `heavy_hitters(expr, capacity, k)` — approximate top-k frequent
  * items as a native TypedImperativeAggregate (mutable sketch buffer,
  * map-side partial aggregation, binary-serialized between stages).
  * The 100 TB answer to "domain frequency list": memory is O(capacity)
  * per partition regardless of cardinality, vs a full groupBy's
  * shuffle of every distinct key. Exact (error=0) whenever the true
  * cardinality ≤ capacity. Returns array<struct<item,cnt,err>> sorted
  * by (cnt desc, item asc), truncated to k. */
case class HeavyHitters(
    child: Expression,
    capacity: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingState] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = HeavyHitters.resultType

  override def createAggregationBuffer(): SpaceSavingState =
    new SpaceSavingState(capacity)

  override def update(buf: SpaceSavingState, row: InternalRow): SpaceSavingState = {
    val v = child.eval(row)
    if (v != null) buf.add(v.toString)
    buf
  }

  override def merge(buf: SpaceSavingState, other: SpaceSavingState): SpaceSavingState = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: SpaceSavingState): Any = {
    val top = buf.counts.toSeq
      .sortBy { case (i, (c, _)) => (-c, i) }
      .take(k)
      .map { case (i, (c, e)) => InternalRow(UTF8String.fromString(i), c, e) }
    new GenericArrayData(top.toArray[Any])
  }

  override def serialize(buf: SpaceSavingState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (i, (c, e)) =>
      out.writeUTF(i); out.writeLong(c); out.writeLong(e)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val st = new SpaceSavingState(in.readInt())
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val i = in.readUTF(); val c = in.readLong(); val e = in.readLong()
      st.counts.update(i, (c, e))
    }
    st
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHitters =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHitters =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): HeavyHitters =
    copy(child = cs.head)
}

object HeavyHitters {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)

  def heavyHitters(c: Column, capacity: Int, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      HeavyHitters(org.apache.spark.sql.graft.ColumnBridge.expression(c), capacity, k)
        .toAggregateExpression())
}

/** Bounded top-k edge state: the k best (score, id) pairs under
  * (score DESC, id ASC), kept sorted best-first. O(k) memory per
  * group regardless of group size — the partial-aggregation
  * replacement for a row_number window's full per-partition sort. */
final class TopEdgesState(val k: Int) {
  val buf: mutable.ArrayBuffer[(Double, Long)] = mutable.ArrayBuffer.empty

  /** Total order matching Spark's SQL sort on (score DESC, id ASC):
    * NaN sorts as the LARGEST double (java.lang.Double.compare) and
    * -0.0 is treated equal to 0.0 with the tie broken by id — Spark's
    * sort and row_number window compare ±0.0 equal as well (TopKSpec
    * pins both on a ±0.0 tie). Returns < 0 when (s1,i1) ranks strictly
    * better. */
  @inline private def cmp(s1: Double, i1: Long, s2: Double, i2: Long): Int = {
    val a = if (s1 == 0.0d) 0.0d else s1
    val b = if (s2 == 0.0d) 0.0d else s2
    val c = java.lang.Double.compare(b, a) // DESC
    if (c != 0) c else java.lang.Long.compare(i1, i2)
  }

  def add(s: Double, id: Long): Unit = {
    if (buf.size == k &&
        cmp(s, id, buf.last._1, buf.last._2) >= 0) return
    var i = buf.size
    while (i > 0 && cmp(s, id, buf(i - 1)._1, buf(i - 1)._2) < 0) i -= 1
    buf.insert(i, (s, id))
    if (buf.size > k) buf.remove(buf.size - 1)
  }

  def mergeIn(other: TopEdgesState): Unit =
    other.buf.foreach { case (s, id) => add(s, id) }
}

/** `top_edges(id, score, k)` — per-group top-k neighbors by
  * (score DESC, id ASC) as a native TypedImperativeAggregate: map-side
  * partial aggregation keeps O(k) state per group, so the |group|·k
  * result never pays the row_number window's full sort-and-shuffle of
  * every scored candidate row. Returns array<struct<id,s>> best-first
  * (array index + 1 = the window's rank, identical tie order). */
case class TopEdges(
    idChild: Expression,
    scoreChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopEdgesState] {

  override def children: Seq[Expression] = Seq(idChild, scoreChild)
  override def nullable: Boolean = false
  override def dataType: DataType = TopEdges.resultType

  // update() casts with asInstanceOf, so misuse must fail at ANALYSIS
  // time, not as a mid-task ClassCastException
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (idChild.dataType == LongType && scoreChild.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_edges expects (bigint id, double score), got " +
          s"(${idChild.dataType.simpleString}, ${scoreChild.dataType.simpleString})")
  }

  override def createAggregationBuffer(): TopEdgesState = new TopEdgesState(k)

  override def update(buf: TopEdgesState, row: InternalRow): TopEdgesState = {
    val id = idChild.eval(row)
    val s = scoreChild.eval(row)
    if (id != null && s != null)
      buf.add(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopEdgesState, other: TopEdgesState): TopEdgesState = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TopEdgesState): Any =
    new GenericArrayData(
      buf.buf.map { case (s, id) => InternalRow(id, s) }.toArray[Any])

  override def serialize(buf: TopEdgesState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.buf.size)
    buf.buf.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopEdgesState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val st = new TopEdgesState(in.readInt())
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val s = in.readDouble(); val id = in.readLong()
      st.buf.append((s, id)) // serialized in sorted order
    }
    st
  }

  override def withNewMutableAggBufferOffset(o: Int): TopEdges =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopEdges =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopEdges =
    copy(idChild = cs(0), scoreChild = cs(1))
}

object TopEdges {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false))), containsNull = false)

  def topEdges(id: Column, score: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopEdges(
        org.apache.spark.sql.graft.ColumnBridge.expression(id),
        org.apache.spark.sql.graft.ColumnBridge.expression(score), k)
        .toAggregateExpression())
}
