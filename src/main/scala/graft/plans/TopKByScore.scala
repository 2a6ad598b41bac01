package graft.plans

import java.nio.ByteBuffer
import java.util.{Comparator, TreeSet => JTreeSet}

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k-per-group as a native Catalyst aggregate: each group
  * keeps a k-entry heap of (score, id), ordered score DESC with id ASC
  * tiebreak, emitted as a rank-ordered array<struct<score,id>>.
  *
  * This is the scale-correct physical shape for "top k rows per key".
  * The window spelling (`row_number() OVER (PARTITION BY g ORDER BY s
  * DESC) <= k`) must shuffle EVERY row to its group's partition and
  * sort entire partitions before discarding all but k — at 100 TB the
  * shuffle is the whole fact table. This aggregate is map-side
  * combinable: every task reduces its partition to ≤k entries per
  * group (a 16k-byte buffer), the shuffle carries heaps, and merge is
  * union-then-trim — the per-key analog of what Spark's own
  * TakeOrderedAndProject does globally. Deterministic for any
  * partitioning/order because the (score DESC, id ASC) total order has
  * no ties (ids are distinct within a group) — pinned in
  * TopKByScoreSpec.
  *
  * CONTRACT — (score, id) pairs must be DISTINCT within a group: the
  * set buffer dedups identical pairs, so duplicate input rows (or equal
  * pairs meeting at merge) collapse to ONE entry, where the row_number
  * window spelling would emit both and push a distinct pair out of the
  * top k. Use a unique id per row (the intended usage — it is the
  * tiebreak that makes the result order-deterministic) and the two
  * spellings agree row-for-row (gate `o8_topk_heap_agg`); feed repeated
  * ids and they deliberately do not.
  *
  * Beyond-parity next to `o5_topk_per_group` (the window spelling kept
  * for parity with ranked-query semantics); gate `o8_topk_heap_agg`
  * proves both spellings agree row-for-row while this one plans NO
  * WindowExec and ONE exchange.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JTreeSet[(Double, Long)]] {

  require(k >= 1, s"topk_by_score needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by_score"

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_by_score expects (DOUBLE score, LONG id), got " +
        s"(${score.dataType.sql}, ${id.dataType.sql})")

  override def createAggregationBuffer(): JTreeSet[(Double, Long)] =
    new JTreeSet[(Double, Long)](TopKByScore.ordering)

  private def add(buf: JTreeSet[(Double, Long)], e: (Double, Long)): Unit = {
    if (buf.size < k) { buf.add(e); () }
    else if (TopKByScore.ordering.compare(e, buf.last()) < 0) {
      if (buf.add(e)) { buf.pollLast(); () }
    }
  }

  override def update(buf: JTreeSet[(Double, Long)],
      input: InternalRow): JTreeSet[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      add(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: JTreeSet[(Double, Long)],
      other: JTreeSet[(Double, Long)]): JTreeSet[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: JTreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (s, d) = it.next()
      out(i) = InternalRow(s, d)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: JTreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (s, d) = it.next(); bb.putDouble(s); bb.putLong(d) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): JTreeSet[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new JTreeSet[(Double, Long)](TopKByScore.ordering)
    var i = 0
    while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  /** Best-first total order: score DESC, id ASC tiebreak. */
  private[plans] val ordering: Comparator[(Double, Long)] =
    new Comparator[(Double, Long)] with Serializable {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  /** Column API: rank-ordered array of the k best (score, id) pairs.
    * (score, id) must be distinct per group — duplicates collapse to
    * one entry (see the class contract note). */
  def topK(score: Column, id: Column, k: Int): Column =
    GraftSqlBridge.column(TopKByScore(
      GraftSqlBridge.expression(score), GraftSqlBridge.expression(id), k)
      .toAggregateExpression())

  private[plans] def build(exprs: Seq[Expression]): Expression = {
    val k = exprs(2) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"topk_by_score(score, id, k): k must be an integer literal, got $other")
    }
    TopKByScore(exprs(0), exprs(1), k)
  }
}
