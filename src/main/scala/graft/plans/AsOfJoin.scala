package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftshim.Shim

/** The bespoke-physical-operator rung of the extension ladder
  * (SURVEY §4.3): a sort-merge AS-OF join as a real
  * `LogicalPlan` + `Strategy` + `SparkPlan` triple.
  *
  * Semantics (inner as-of, the DuckDB `ASOF JOIN` default): each left
  * row pairs with the single right row that shares its key and has
  * the greatest right-time <= left-time; left rows with no such row
  * are dropped.
  *
  * Why a physical operator: the composable formulations carry a cost
  * the algebra can't shed — the broadcast form scans a date array per
  * row, and the union + window form ([[graft.ops.Relational]]
  * `join_asof_partitioned`) materializes the union and pays a window
  * buffer per key group. This exec declares
  * `ClusteredDistribution(key)` on both children and per-partition
  * `(key, time)` ordering, and then streams BOTH sorted children
  * through one merge pass: zero per-row allocation, no window state,
  * no union — the textbook merge-as-of. EnsureRequirements inserts
  * exactly one co-partitioning exchange + sort per side (reusable
  * across as-of joins on the same key), which is the minimal plan at
  * any scale.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. [[AsOfJoin.apply]],
  * the only builder of the plan node, registers it on the session's
  * experimental strategies, so the operator works on any
  * driver-provided session. It is not injected through
  * [[GraftExtensions]], for the reason given at
  * [[SortedLongSetsStrategy]]. */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // Co-partition both children on the key; EnsureRequirements makes
  // the two hash partitionings compatible exactly as it does for SMJ.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  // Per-partition (key, time) order on both sides: the merge contract.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val project = UnsafeProjection.create(schema, schema)
      new Iterator[InternalRow] {
        // the last right row consumed, valid as a match only while the
        // left key equals matchKey; null-keyed/timed rows never match
        private var matchRow: InternalRow = _
        private var matchKey: Any = _
        private var pending: InternalRow = _ // fetched, not yet consumed
        private var out: InternalRow = _

        private def advanceRight(k: Any, t: Any): Unit = {
          var continue = true
          while (continue && (pending != null || rIter.hasNext)) {
            if (pending == null) pending = rIter.next()
            val pk = rk.eval(pending)
            val pt = rt.eval(pending)
            if (pk == null || pt == null) {
              pending = null // null keys/times can never match
            } else {
              val c = keyOrd.compare(pk, k)
              if (c < 0 || (c == 0 && timeOrd.compare(pt, t) <= 0)) {
                matchRow = pending.copy() // iterator reuses row buffers
                matchKey = pk
                pending = null
              } else {
                continue = false
              }
            }
          }
        }

        private def computeNext(): Unit = {
          out = null
          while (out == null && lIter.hasNext) {
            val l = lIter.next()
            val k = lk.eval(l)
            val t = lt.eval(l)
            if (k != null && t != null) {
              advanceRight(k, t)
              if (matchRow != null && keyOrd.compare(matchKey, k) == 0) {
                out = project(joined(l, matchRow))
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (out == null) computeNext()
          out != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = out
          out = null
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** Inner as-of join: each `left` row paired with the `right` row
    * sharing `key` that has the greatest `time` <= the left `time`.
    * Column arguments must belong to the respective frames. Registers
    * [[AsOfJoinStrategy]] on the session's experimental strategies
    * (idempotent), so any session can plan it. */
  def apply(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame = {
    val spark: SparkSession = left.sparkSession
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = strategies :+ AsOfJoinStrategy
    }
    Shim.ofRows(spark, AsOfJoinPlan(
      Shim.logicalPlan(left), Shim.logicalPlan(right),
      Shim.expression(leftKey), Shim.expression(rightKey),
      Shim.expression(leftTime), Shim.expression(rightTime)))
  }
}
