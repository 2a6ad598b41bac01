package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Backward (inclusive) AS-OF join as a first-class operator: logical
  * node → planner strategy → physical partition-wise merge — the
  * whole-operator extension route (`SparkSessionExtensions`, installed
  * by [[GraftExtensions]]) for semantics Spark's built-in operators
  * don't carry natively.
  *
  * Each left row (key, ts) is joined to the right row with the same key
  * and the GREATEST right ts ≤ left ts, or nulls when no such row
  * exists (left-outer semantics — DuckDB's `ASOF LEFT JOIN`, pandas
  * `merge_asof` direction='backward').
  *
  * Physical shape: both sides hash-cluster on the join key and sort
  * partition-locally by (key, ts) — exactly a sort-merge join's
  * exchange bill — then ONE forward-only merge pass zips the sorted
  * partitions. No per-key row explosion, no theta-join candidate
  * blowup, state = one buffered right row: the shape that holds at
  * 100 TB. The composed spelling ([[graft.operators.Windowed.asofJoin]],
  * union + last-ignore-nulls window) pays the same single shuffle but
  * unions both schemas wide and runs window-function machinery; the
  * merge exec streams rows straight through. Both spellings are gated
  * against the SAME DuckDB native-ASOF oracle (j8 / j14) and must agree
  * row-for-row.
  *
  * Tie discipline: right rows tied on (key, ts) have no defined winner
  * — callers pre-collapse ties (the j8/j14 gates reduce views to one
  * row per (user, second)) exactly as they must for the window
  * spelling. Null keys: rows with a null in any key column never match
  * (natural orderings place nulls first; the merge advances past them
  * while their candidate is discarded by the final key-equality check
  * only if key comparison treats null==null — mirroring the window
  * spelling's partition semantics, where null keys group together).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean = false,
    toleranceSec: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfMergeJoinExec]]. Installed by
  * [[GraftExtensions]] (`injectPlannerStrategy`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, fwd, tol) =>
      AsOfMergeJoinExec(lk, rk, lts, rts, planLater(l), planLater(r), fwd, tol) :: Nil
    case _ => Nil
  }
}

/** Partition-wise merge as-of join. Children arrive hash-clustered on
  * the key and sorted by (key, ts) — declared through
  * `requiredChildDistribution` / `requiredChildOrdering`, so
  * EnsureRequirements inserts (and AQE validates) the co-partitioned
  * exchanges exactly as it does for SortMergeJoin. The merge keeps one
  * candidate right row per in-flight key: for each left row it advances
  * the right iterator past every row ≤ (key, ts), remembering the last
  * same-key row seen — O(|L|+|R|) per partition, constant state. */
case class AsOfMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    left: SparkPlan,
    right: SparkPlan,
    forward: Boolean = false,
    toleranceSec: Option[Long] = None) extends BinaryExecNode {

  // keyOrd/tsOrd below are built from the LEFT side's types but compare
  // projections of BOTH sides — mismatched right-side types (e.g. an INT
  // right ts against a LONG left ts) would silently miscompare instead
  // of failing (r11 advice). Fail loudly at construction.
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"asof join key types must match: left=${leftKeys.map(_.dataType)} " +
      s"right=${rightKeys.map(_.dataType)}")
  require(leftTs.dataType == rightTs.dataType,
    s"asof join ts types must match: left=${leftTs.dataType} right=${rightTs.dataType}")
  require(toleranceSec.isEmpty || leftTs.dataType ==
    org.apache.spark.sql.types.LongType,
    "asof tolerance requires LONG ts columns (numeric distance)")
  require(toleranceSec.forall(_ >= 0), "asof tolerance must be >= 0")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  // Output rows stream in the left child's required order.
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val leftOut = left.output
    val rightOut = right.output
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // ONE (keys…, ts) extraction per row per side; the two orderings
      // compare disjoint bound slices of that combined row (key prefix /
      // ts suffix), so the hot loop costs one projection + compares.
      val lPosProj = UnsafeProjection.create(leftKeys :+ leftTs, leftOut)
      val rPosProj = UnsafeProjection.create(rightKeys :+ rightTs, rightOut)
      val keyOrd = RowOrdering.create(
        keyTypes.zipWithIndex.map { case (dt, i) =>
          SortOrder(BoundReference(i, dt, nullable = true), Ascending) },
        Seq.empty)
      val tsOrd = RowOrdering.create(
        Seq(SortOrder(BoundReference(keyTypes.size, tsType, nullable = true),
          Ascending)), Seq.empty)
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val tsIdx = keyTypes.size
      val hasTol = toleranceSec.isDefined
      val tolV = toleranceSec.getOrElse(0L)
      // The input schema must carry the right side NULLABLE: binding the
      // output attrs against non-nullable inputs would elide the null
      // check and read type defaults (0 / 0.0) off the null-fill row.
      val outProj = UnsafeProjection.create(allOut,
        leftOut ++ rightOut.map(_.withNullability(true)))

      // One merge loop for both directions. Per left row, pass the right
      // rows before its position: on an earlier key, or on its key and
      // earlier in time (forward), or no later (backward). Forward needs
      // no buffering: the row the scan stops on IS the candidate, and may
      // serve several left rows, so it is never consumed here. Backward's
      // candidate is the last passed row on the left row's key, copied
      // because it outlives the buffers.
      new Iterator[InternalRow] {
        private var rRow: InternalRow = _
        private var rPos: UnsafeRow = _
        private var candRow: InternalRow = _
        private var candPos: UnsafeRow = _

        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            rRow = rIter.next()
            // NO copy: the projection buffer stays valid until the next
            // advance and the sorter's row buffer until the next
            // rIter.next() — exactly the lifetime needed.
            rPos = rPosProj(rRow)
          } else { rRow = null; rPos = null }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lPos = lPosProj(lRow)
          var scanning = rRow != null
          while (scanning) {
            val kc = keyOrd.compare(rPos, lPos)
            val before = kc < 0 || (kc == 0 && {
              val tc = tsOrd.compare(rPos, lPos)
              if (forward) tc < 0 else tc <= 0
            })
            if (before) {
              if (!forward) {
                if (kc == 0) { candRow = rRow.copy(); candPos = rPos.copy() }
                else { candRow = null; candPos = null }
              }
              advanceRight(); scanning = rRow != null
            } else scanning = false
          }
          if (forward) { candRow = rRow; candPos = rPos }
          val matched = candRow != null && keyOrd.compare(candPos, lPos) == 0 && (!hasTol ||
            (if (forward) candPos.getLong(tsIdx) - lPos.getLong(tsIdx)
             else lPos.getLong(tsIdx) - candPos.getLong(tsIdx)) <= tolV)
          outProj(joined(lRow, if (matched) candRow else nullRight))
        }
      }
    }
  }
}

/** Public DataFrame API for the custom as-of join. */
object AsOfJoin {
  /** Left as-of join `left` to `right` on equal keys; `direction` is
    * "backward" (greatest `rightTsCol` ≤ `leftTsCol` — the default) or
    * "forward" (smallest `rightTsCol` ≥ `leftTsCol`), both inclusive,
    * matching pandas merge_asof. `tolerance` (inclusive, requires LONG
    * ts) nulls the match when the nearest row sits beyond the window —
    * the attribution-window knob; like merge_asof there is NO fallback
    * to the next-nearest row. ALL right columns come back
    * (nullable). Output carries left.output ++ right.output verbatim,
    * so rename right-side columns that collide with left names BEFORE
    * joining. The session must carry [[GraftExtensions]], whose
    * [[AsOfJoinStrategy]] plans the node; every session
    * [[graft.tools.Measure.session]] builds does. */
  def asof(left: DataFrame, right: DataFrame,
      leftKeyCols: Seq[String], rightKeyCols: Seq[String],
      leftTsCol: String, rightTsCol: String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    require(leftKeyCols.size == rightKeyCols.size,
      "asof: left and right key lists must have equal length")
    val forward = direction match {
      case "backward" => false
      case "forward" => true
      case other => throw new IllegalArgumentException(
        s"asof: direction must be 'backward' or 'forward', got '$other'")
    }
    val spark = left.sparkSession
    val lPlan = GraftSqlBridge.analyzedPlan(left)
    val rPlan = GraftSqlBridge.analyzedPlan(right)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asof: column '$n' not found on the $side frame " +
          s"(${p.output.map(_.name).mkString(", ")})"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      leftKeyCols.map(attr(lPlan, _, "left")),
      rightKeyCols.map(attr(rPlan, _, "right")),
      attr(lPlan, leftTsCol, "left"), attr(rPlan, rightTsCol, "right"),
      forward = forward, toleranceSec = tolerance)
    GraftSqlBridge.dataFrame(spark, node)
  }

  /** Same-name-keys convenience overload. */
  def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTsCol: String, rightTsCol: String): DataFrame =
    asof(left, right, keyCols, keyCols, leftTsCol, rightTsCol)
}
