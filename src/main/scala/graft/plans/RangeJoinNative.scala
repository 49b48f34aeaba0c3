package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native range (interval) join — tier-(c) custom operator #2 (SURVEY.md
  * §7.3): points matched to every broadcast interval containing them
  * (`lo ≤ p < hi`) by an interval sweep instead of a bucketized
  * explode-equi-join ([[graft.ext.RangeJoin]]) or a nested loop.
  *
  * Physical shape: the interval side is broadcast (dimension-sized, like
  * the composed version's `bands`); the point side only needs a per-
  * partition sort on the point column — no shuffle of the fact side at
  * all, which is the property that survives a 100× scale-up. Each
  * partition sweeps its points in ascending order keeping a min-heap of
  * active intervals keyed by `hi`: every interval enters the heap once
  * (`lo ≤ p`), leaves once (`hi ≤ p`), so the cost is
  * O((n + m log m) + output) per partition versus the bucketized form's
  * duplicated interval rows and post-join filter.
  */
case class RangeJoinPlan(left: LogicalPlan, right: LogicalPlan,
                         point: Expression, lo: Expression, hi: Expression)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, p, lo, hi) =>
      RangeJoinExec(planLater(l), planLater(r), p, lo, hi) :: Nil
    case _ => Nil
  }
}

case class RangeJoinExec(left: SparkPlan, right: SparkPlan,
                         point: Expression, lo: Expression, hi: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // points: any partitioning, sorted within partitions; intervals: broadcast
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(point, Ascending)), Nil)

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val pB = BindReferences.bindReference(point, left.output)
    val loB = BindReferences.bindReference(lo, right.output)
    val hiB = BindReferences.bindReference(hi, right.output)
    val ord = TypeUtils.getInterpretedOrdering(point.dataType)
    val outAttrs = output
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()

    left.execute().mapPartitions({ lIt =>
      // (loVal, hiVal, row) for non-null, non-empty intervals, sorted by lo
      val ivs = broadcastRows.value.flatMap { r =>
        val l0 = loB.eval(r)
        val h0 = hiB.eval(r)
        if (l0 == null || h0 == null || ord.compare(l0, h0) >= 0) None
        else Some((l0, h0, r.copy()))
      }
      java.util.Arrays.sort(ivs, (a: (Any, Any, InternalRow), b: (Any, Any, InternalRow)) =>
        ord.compare(a._1, b._1))

      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      // min-heap of active intervals keyed by hi
      val active = new scala.collection.mutable.PriorityQueue[(Any, Any, InternalRow)]()(
        Ordering.comparatorToOrdering(
          (a: (Any, Any, InternalRow), b: (Any, Any, InternalRow)) =>
            ord.compare(a._2, b._2)).reverse)
      var idx = 0

      lIt.flatMap { lRow =>
        val p = pB.eval(lRow)
        if (p == null) Iterator.empty
        else {
          while (idx < ivs.length && ord.compare(ivs(idx)._1, p) <= 0) {
            active += ivs(idx); idx += 1
          }
          while (active.nonEmpty && ord.compare(active.head._2, p) <= 0) active.dequeue()
          active.iterator.map(iv => proj(joined(lRow, iv._3)))
        }
      }
    }, preservesPartitioning = true)
  }
}

/** User-facing API mirroring [[AsOfJoinNative]]: installs the native
  * strategies on the live session ([[NativeStrategies]]) and builds the
  * plan from the analyzed children.
  */
object RangeJoinNative {
  def pointsInIntervals(points: DataFrame, intervals: DataFrame,
                        pointCol: String, loCol: String, hiCol: String): DataFrame = {
    val spark: SparkSession = points.sparkSession
    NativeStrategies.install(spark)
    val lPlan = points.queryExecution.analyzed
    val rPlan = intervals.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .orElse(p.output.find(_.name.equalsIgnoreCase(n)))
      .getOrElse(throw new IllegalArgumentException(s"column $n not found"))
    val pt = attr(lPlan, pointCol)
    val l0 = attr(rPlan, loCol)
    val h0 = attr(rPlan, hiCol)
    require(pt.dataType == l0.dataType && pt.dataType == h0.dataType,
      s"range-join types differ: ${pt.dataType} vs ${l0.dataType}/${h0.dataType} (cast first)")
    val node = RangeJoinPlan(lPlan, rPlan, pt, l0, h0)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, node)
  }
}
