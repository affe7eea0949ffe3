/** Bridge package: lives under org.apache.spark.sql so graft's custom
  * physical operator can use Spark's `private[sql]` execution utilities
  * (Dataset.ofRows to wrap a LogicalPlan, ExternalAppendOnlyUnsafeRowArray
  * for spill-safe group buffering) — the same technique Spark-native
  * extensions (Delta, Sedona, Iceberg) use. Everything here is plumbing;
  * the operator's public API is graft.plans.NativeRangeJoin.
  */
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{BinaryExecNode, ExternalAppendOnlyUnsafeRowArray, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics

import scala.collection.mutable.ArrayBuffer

object ClassicBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The Column of `f` applied to a Column's Catalyst expression. */
  def mapExpr(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}

/** Sweep-line point-in-interval join: the physical operator Spark lacks.
  *
  * A bare `p BETWEEN lo AND hi` join condition plans as
  * BroadcastNestedLoopJoin — |points|×|intervals| comparisons per
  * partition pair. This node instead declares what it needs from the
  * planner and lets EnsureRequirements do the heavy lifting:
  *
  *   - requiredChildDistribution: both sides hash-clustered on the equi
  *     keys (one shuffle each, same as a sort-merge join); keyless mode
  *     degenerates to a single partition on both sides (document: use the
  *     keyed form, or graft.ops.RangeJoin's bucketization, at scale).
  *   - requiredChildOrdering: left sorted by (keys, point), right by
  *     (keys, lo) — Spark inserts the SortExecs.
  *
  * doExecute then zips co-partitions and merges: for each matching key
  * group, intervals stream into a spill-safe buffer
  * (ExternalAppendOnlyUnsafeRowArray, the same structure sort-merge join
  * buffers its groups in), and a single ascending pass over the points
  * maintains the set of "active" intervals (lo ≤ p, not yet expired by
  * hi < p). Every interval enters/leaves the active set at most once, so
  * a key group costs O(points + intervals + matches) — output-sensitive
  * optimal — versus the nested loop's O(points × intervals). Peak memory
  * per group is the maximum OVERLAP DEPTH (concurrent intervals), not the
  * interval count; the buffered group itself spills via the row array.
  *
  * Inner-join null semantics: rows with a null point, bound, or key never
  * match (BETWEEN with NULL is never true; NULL keys are not equal).
  */
case class RangeJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    point: Expression, lo: Expression, hi: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ point).map(SortOrder(_, Ascending)),
    (rightKeys :+ lo).map(SortOrder(_, Ascending)))

  // Rows come out grouped by the join keys of both inputs, exactly like an
  // inner sort-merge join — advertise it so a downstream groupBy/join on
  // the same keys reuses the exchange instead of re-shuffling.
  override def outputPartitioning: Partitioning =
    if (leftKeys.isEmpty) left.outputPartitioning
    else PartitioningCollection(Seq(left.outputPartitioning, right.outputPartitioning))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val inMemThreshold = conf.sortMergeJoinExecBufferInMemoryThreshold
    val spillThreshold = conf.sortMergeJoinExecBufferSpillThreshold
    val spillSizeThreshold = conf.sortMergeJoinExecBufferSpillSizeThreshold
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val pointExpr = point
    val loExpr = lo
    val hiExpr = hi
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val boundPoint = BindReferences.bindReference(pointExpr, leftOut)
      val boundLo = BindReferences.bindReference(loExpr, rightOut)
      val boundHi = BindReferences.bindReference(hiExpr, rightOut)
      val ord = TypeUtils.getInterpretedOrdering(pointExpr.dataType)
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val keyOrd: Ordering[InternalRow] =
        RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(leftOut ++ rightOut, leftOut ++ rightOut)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // Current valid row on each side (null = exhausted).
        private var lRow: InternalRow = _
        private var rRow: InternalRow = _
        private def advanceLeft(): Unit = {
          lRow = null
          while (lRow == null && lIter.hasNext) {
            val r = lIter.next()
            if (boundPoint.eval(r) != null && !lKeyProj(r).anyNull) lRow = r
          }
        }
        private def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val r = rIter.next()
            if (boundLo.eval(r) != null && boundHi.eval(r) != null &&
                !rKeyProj(r).anyNull) rRow = r
          }
        }
        advanceLeft(); advanceRight()

        // Per-group state. groupKey is a COPY (projections reuse their
        // output row). Active intervals are copies too: the buffer's
        // iterator may reuse row objects once the group has spilled.
        private var groupKey: UnsafeRow = _
        private var groupBuf: ExternalAppendOnlyUnsafeRowArray = _
        private var intervalIter: Iterator[UnsafeRow] = Iterator.empty
        private var nextInterval: UnsafeRow = _
        private var nextIntervalLo: Any = _
        private val active = new ArrayBuffer[UnsafeRow]
        private val activeHi = new ArrayBuffer[Any]
        private var pointVal: Any = _
        private var emitIdx = 0

        /** Align both sides on the next key both have, buffer that group's
          * intervals, reset the sweep. False = one side exhausted. */
        private def startGroup(): Boolean = {
          while (lRow != null && rRow != null) {
            val c = keyOrd.compare(lKeyProj(lRow), rKeyProj(rRow))
            if (c < 0) advanceLeft()
            else if (c > 0) advanceRight()
            else {
              groupKey = lKeyProj(lRow).copy()
              if (groupBuf == null) {
                groupBuf = new ExternalAppendOnlyUnsafeRowArray(
                  inMemThreshold, Long.MaxValue, spillThreshold, spillSizeThreshold)
              } else groupBuf.clear()
              while (rRow != null && keyOrd.compare(rKeyProj(rRow), groupKey) == 0) {
                groupBuf.add(rRow.asInstanceOf[UnsafeRow])
                advanceRight()
              }
              intervalIter = groupBuf.generateIterator()
              fetchInterval()
              active.clear(); activeHi.clear(); emitIdx = 0
              return true
            }
          }
          false
        }

        private def fetchInterval(): Unit =
          if (intervalIter.hasNext) {
            nextInterval = intervalIter.next()
            nextIntervalLo = boundLo.eval(nextInterval)
          } else nextInterval = null

        /** Position the sweep at the next point of the current group that
          * has at least one active interval. False = group exhausted. */
        private def nextPointWithMatches(): Boolean = {
          while (lRow != null && keyOrd.compare(lKeyProj(lRow), groupKey) == 0) {
            pointVal = boundPoint.eval(lRow)
            // Activate intervals whose lo has been reached. An interval
            // already expired for THIS point (hi < p) can still never
            // match a later one (points ascend), so skip it outright.
            while (nextInterval != null && ord.lteq(nextIntervalLo, pointVal)) {
              val h = boundHi.eval(nextInterval)
              if (ord.gteq(h, pointVal)) {
                active += nextInterval.copy()
                activeHi += h
              }
              fetchInterval()
            }
            // Expire intervals that end before this point (in-place).
            var i = 0; var w = 0
            while (i < active.length) {
              if (ord.gteq(activeHi(i), pointVal)) {
                if (w != i) { active(w) = active(i); activeHi(w) = activeHi(i) }
                w += 1
              }
              i += 1
            }
            active.dropRightInPlace(active.length - w)
            activeHi.dropRightInPlace(activeHi.length - w)
            if (active.nonEmpty) { emitIdx = 0; return true }
            advanceLeft()
          }
          false
        }

        // prepare() owns ALL cursor advancement; next() only emits. A
        // point emits every entry of `active` (post-expiry each active
        // interval contains it), so emitIdx==active.length means the
        // current point is done and the left cursor may move.
        private var prepared = false
        private var exhausted = false
        private var pointPositioned = false
        private def prepare(): Unit = {
          while (!prepared && !exhausted) {
            if (groupKey != null && pointPositioned && emitIdx < active.length) {
              prepared = true
            } else if (groupKey != null) {
              if (pointPositioned) { advanceLeft(); pointPositioned = false }
              if (nextPointWithMatches()) pointPositioned = true
              else groupKey = null
            } else {
              pointPositioned = false
              if (!startGroup()) exhausted = true
            }
          }
        }

        override def hasNext: Boolean = { prepare(); prepared }
        override def next(): InternalRow = {
          prepare()
          if (!prepared) throw new NoSuchElementException("empty iterator")
          val out = resultProj(joined(lRow, active(emitIdx)))
          emitIdx += 1
          if (emitIdx >= active.length) prepared = false
          numOutputRows += 1
          out
        }
      }
    }
  }
}
