package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

/** Map-side top-k aggregate: keeps the k best (score, id) pairs per
  * group in a bounded buffer.
  *
  * The window-function formulation of per-group top-k
  * (`row_number() over (partition by g order by score desc)`)
  * shuffles *every* scored row before ranking. This aggregate does
  * partial aggregation: each map task reduces its slice of a group
  * to ≤ k pairs before the exchange, so the shuffle carries
  * O(partitions · k) rows instead of O(N). At 100 TB corpus × Q
  * queries that is the difference between shuffling N·Q scored pairs
  * and shuffling tasks·Q·k.
  *
  * Ordering matches the window formulation exactly: score DESC, id
  * ASC — results are interchangeable with the row_number() plan.
  */
case class TopKAgg(scoreExpr: Expression, idExpr: Expression, k: Int,
                   dedupIds: Boolean = false,
                   mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType), StructField("score", DoubleType))),
    containsNull = false)

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] = ArrayBuffer.empty

  private def prune(buf: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] =
    if (buf.length <= 2 * k) buf
    else {
      val kept = TopKAgg.cut(buf, k, dedupIds)
      buf.clear(); buf ++= kept
    }

  override def update(buf: ArrayBuffer[(Double, Long)], input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      buf += ((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      prune(buf)
    }
    buf
  }

  override def merge(a: ArrayBuffer[(Double, Long)], b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    a ++= b
    prune(a)
    a
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any = {
    val top = TopKAgg.cut(buf, k, dedupIds)
    new GenericArrayData(top.map { case (s, id) =>
      InternalRow(id, s)
    }.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = cs(0), idExpr = cs(1))
}

object TopKAgg {
  /** score DESC under Spark SQL ordering (NaN sorts as the largest
    * double, so it ranks FIRST under DESC), then id ASC — keeps
    * results interchangeable with the row_number() formulation even
    * when a scorer emits NaN (e.g. cosine of a zero-norm vector). */
  private[graft] def orderKey(p: (Double, Long)): (Int, Double, Long) = p match {
    case (s, id) => (if (s.isNaN) 0 else 1, if (s.isNaN) 0.0 else -s, id)
  }

  /** Cut `buf` to its top-k rows under [[orderKey]]. With `dedupIds`
    * the cut keeps the k best DISTINCT ids, each at its best score
    * over all its duplicates (sorted order puts that row first,
    * distinctBy keeps first). The cut is mergeable — cutting the
    * union of partial cuts equals cutting the whole input — so
    * discarding below the k-th distinct id is safe: an id's best row
    * survives the partial cut that holds it whenever the id belongs
    * in the final k. */
  private[graft] def cut(buf: ArrayBuffer[(Double, Long)], k: Int,
                         dedupIds: Boolean): ArrayBuffer[(Double, Long)] = {
    val sorted = buf.sortBy(orderKey)
    (if (dedupIds) sorted.distinctBy(_._2) else sorted).take(k)
  }

  /** `top_k(score, id, k)` as a Column aggregate. */
  def topK(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(TopKAgg(GraftBridge.expression(score),
      GraftBridge.expression(id), k).toAggregateExpression())

  /** `top_k` over DISTINCT ids in one exchange: the k best ids per
    * group, each at its best score over its duplicates (see [[cut]]). */
  def topKDistinct(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(TopKAgg(GraftBridge.expression(score),
      GraftBridge.expression(id), k, dedupIds = true).toAggregateExpression())
}
