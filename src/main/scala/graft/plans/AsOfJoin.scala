package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, JoinedRow, NullsFirst, NullsLast, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native sort-merge as-of join (SURVEY.md §4.2.1 — the declared 100 TB
  * endgame for the J2/J3/W8 family): a custom logical node, planner
  * strategy, and physical operator — the one as-of execution path, built
  * by [[graft.ops.AsOf]] for every call.
  *
  * Physical shape: both sides hash-clustered on the join keys and sorted
  * by (keys, time), the right side then by its optional `tieBreak` —
  * EnsureRequirements inserts exactly one exchange + sort per side — then
  * each partition pair is a LINEAR single-pass merge. Backward, the right
  * cursor trails the left one, carrying the latest qualifying value row;
  * forward, it drops the right rows before the left row and reads the head
  * without consuming it. One value row is carried whole, so every
  * attribute comes from the same prevailing row even when that row holds
  * nulls. No candidate-pair expansion (vs the decorrelated range-join
  * form), no materialization of a unioned frame (vs the union-merge forms
  * kept as spec references); memory per task is O(1) beyond the sorters.
  *
  * Right-side ties at one (key, time) resolve by `tieBreak`: backward keeps
  * the greatest (nulls lowest), forward the least (nulls highest), the
  * orders the right child is sorted in. Without it, any tied row may win.
  *
  * Installed through `spark.experimental.extraStrategies` by
  * [[graft.core.Tables.tune]], so only a tuned session can plan it (an
  * untuned one finds no plan for `AsOfJoinPlan`).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        rightValues: Seq[Attribute], allowExact: Boolean,
                        tieBreak: Option[Attribute], forward: Boolean)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  // every left column passes through to the output — declare them all
  // referenced so ColumnPruning cannot cut them; the right side prunes
  // down to keys + time + carried values + tie-break (desirable)
  override def references: AttributeSet =
    AttributeSet(left.output ++ rightKeys ++ Seq(rightTime) ++ rightValues ++
      tieBreak ++ leftKeys :+ leftTime)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rv, ae, tb, fw) =>
      SortMergeAsOfExec(lk, rk, lt, rt, rv, ae, tb, fw, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class SortMergeAsOfExec(leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                             leftTime: Attribute, rightTime: Attribute,
                             rightValues: Seq[Attribute], allowExact: Boolean,
                             tieBreak: Option[Attribute], forward: Boolean,
                             left: SparkPlan, right: SparkPlan)
    extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  // The merge zips child partitions pairwise, so the sides must be
  // EXACTLY co-partitioned: require ALL cluster keys (a subset-key hash
  // partitioning would satisfy plain ClusteredDistribution yet misalign
  // the pairs). The partition COUNT is deliberately NOT pinned — that is
  // EnsureRequirements' job (it shuffles a mismatched side to the
  // compatible count, exactly the SortMergeJoin contract), and pinning
  // it forced a full re-shuffle of inputs already bucketed by the join
  // key (the zero-exchange bucketed as-of, asserted in PlanSpec). AQE
  // coalesces the two shuffled sides consistently for binary nodes and
  // re-validates requirements after each re-plan; misalignment would
  // fail the pairwise zip loudly (and is exercised by AsOfPropertySpec
  // with AQE on).
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys, requireAllClusterKeys = true),
      ClusteredDistribution(rightKeys, requireAllClusterKeys = true))
  // within a (key, time) tie the merge meets the winning right row last
  // going backward and first going forward
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(a => SortOrder(a, Ascending)),
    (rightKeys :+ rightTime).map(a => SortOrder(a, Ascending)) ++ tieBreak.map(a =>
      SortOrder(a, Ascending, if (forward) NullsLast else NullsFirst, Seq.empty)))
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(a => SortOrder(a, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    // a right row at the left row's time is passed over backward when it
    // may match (allowExact) and forward when it may not
    val passTies = allowExact != forward
    val fwd = forward
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val rValsB = rightValues
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOut)
      val rValProj = UnsafeProjection.create(rValsB, rOut)
      // bind the output projection against NULLABLE copies of the value
      // attributes: unmatched left rows feed a null row, and a projection
      // bound to a nullable=false attribute skips the null check and
      // writes a raw 0 (caught by AsOfPropertySpec)
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ rValsB.map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeB.dataType))
      val nullVals = new GenericInternalRow(rValsB.length)
      val joined = new JoinedRow

      // one-row right lookahead (copied — operators reuse row objects)
      var hasHead = false
      var headKey: UnsafeRow = null
      var headTime: UnsafeRow = null
      var headVal: UnsafeRow = null
      def pull(): Unit =
        if (rIter.hasNext) {
          val r = rIter.next()
          headKey = rKeyProj(r).copy()
          headTime = rTimeProj(r).copy()
          headVal = rValProj(r).copy()
          hasHead = true
        } else hasHead = false
      pull()

      // backward: the last right row passed over; forward: the head
      var curKey: UnsafeRow = null
      var curVal: UnsafeRow = null
      lIter.map { l =>
        val lk = lKeyProj(l)
        val lt = lTimeProj(l)
        while (hasHead && {
          val kc = keyOrd.compare(headKey, lk)
          kc < 0 || (kc == 0 && {
            val tc = timeOrd.compare(headTime, lt)
            tc < 0 || (passTies && tc == 0)
          })
        }) {
          curKey = headKey
          curVal = headVal
          pull()
        }
        if (fwd) {
          curKey = if (hasHead) headKey else null
          curVal = headVal
        }
        val matched = curKey != null && keyOrd.compare(curKey, lk) == 0
        outProj(joined(l, if (matched) curVal else nullVals))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SortMergeAsOfExec =
    copy(left = newLeft, right = newRight)
}
