package graft.plans

import java.nio.ByteBuffer
import java.util.{TreeSet => JTreeSet}

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** KMV (K-Minimum-Values) distinct-count sketch as a native Catalyst
  * aggregate (Bar-Yossef et al. 2002, the bottom-k estimator).
  *
  * Input is a 32-bit hash already lifted to LONG (the library convention:
  * `conv(substring(md5(x), 1, 8), 16, 10)` — 8 hex chars, value in
  * [0, 2^32)). The buffer keeps the k smallest DISTINCT hashes; the
  * estimate is
  *
  *   - exact `|buffer|` when fewer than k distinct hashes were seen;
  *   - `(k-1) * 2^32 / (h_k + 1)` (integer division) otherwise, where
  *     `h_k` is the k-th smallest hash. The `+ 1` maps the divisor into
  *     (0, 2^32], removing the h_k = 0 division hazard at a relative
  *     error of at most 2^-32 — far below the estimator's own ~1/sqrt(k).
  *
  * Everything is integer arithmetic over a deterministic hash, so a SQL
  * oracle can replay the estimate bit-exactly (see `llm_kmv_distinct`),
  * unlike HLL whose register layout is engine-private.
  *
  * Scale shape: a TypedImperativeAggregate participates in partial
  * aggregation — each map task reduces its partition to a ≤k-entry
  * sorted set (serialized as 8k bytes), and the shuffle carries one
  * sketch per group per task, never the raw values. Merge is
  * set-union-then-trim: associative, commutative, and dedup'd, so the
  * result is partition- and order-invariant (KmvDistinctSpec pins this).
  *
  * Reference anchor: the reference has no sketch surface at all
  * (migration_validation compares exact counts); this is beyond-parity
  * alongside the HLL/Count-Min family in `operators/Sketches.scala`,
  * added as the exactly-replayable member of that family.
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JTreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 2, s"kmv_distinct needs k >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_distinct expects a LONG hash column, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  override def createAggregationBuffer(): JTreeSet[java.lang.Long] =
    new JTreeSet[java.lang.Long]()

  private def add(buf: JTreeSet[java.lang.Long], h: Long): Unit = {
    // Only the k smallest survive; skip values already above the cut.
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.pollLast(); () }
    }
  }

  override def update(buf: JTreeSet[java.lang.Long],
      input: InternalRow): JTreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // The estimator divides by buf.last()+1 assuming hashes lie in
      // [0, 2^32): a full-range input (e.g. xxhash64, whose longs go
      // negative) would corrupt the estimate silently — or divide by
      // zero at last() == -1 (r11 advice). Enforce the contract at
      // update time so out-of-range input fails loudly, once, with the
      // offending value named.
      require(h >= 0L && h < 4294967296L,
        s"kmv_distinct expects 32-bit hashes in [0, 2^32) — got $h; " +
          "mask full-range hashes first (e.g. xxhash64(x) & 4294967295)")
      add(buf, h)
    }
    buf
  }

  override def merge(buf: JTreeSet[java.lang.Long],
      other: JTreeSet[java.lang.Long]): JTreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: JTreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toLong
    else (k - 1).toLong * 4294967296L / (buf.last() + 1L)

  override def serialize(buf: JTreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): JTreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new JTreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinct =
    copy(child = newChild)
}

object KmvDistinct {
  /** Column API: KMV distinct estimate over a `[0, 2^32)` LONG hash column. */
  def kmv(hash: Column, k: Int): Column =
    GraftSqlBridge.column(
      KmvDistinct(GraftSqlBridge.expression(hash), k).toAggregateExpression())

  private[plans] def build(exprs: Seq[Expression]): Expression = {
    val k = exprs(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"kmv_distinct(hash, k): k must be an integer literal, got $other")
    }
    KmvDistinct(exprs.head, k)
  }
}
