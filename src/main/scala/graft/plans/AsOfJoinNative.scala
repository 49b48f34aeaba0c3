package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the tier-(c) custom-operator path (SURVEY.md
  * §7.3): a dedicated `LogicalPlan` node, a planner `Strategy`, and a
  * `BinaryExecNode` whose physical algorithm is a single forward merge
  * over co-partitioned, co-sorted children.
  *
  * Compared to the composed formulation ([[graft.ext.AsOf]]): the union
  * trick shuffles left+right together and runs a running-window over the
  * combined stream; this operator declares
  * `requiredChildDistribution`/`requiredChildOrdering` so Catalyst
  * inserts exactly one hash exchange + sort per side, and the merge is
  * O(|L|+|R|) per partition with O(1) state — the SortMergeJoin shape,
  * specialized to point-in-time semantics.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        matchedAttr: AttributeReference,
                        forward: Boolean = false,
                        toleranceUs: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ matchedAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(matchedAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, m, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, m, fwd, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        matchedAttr: AttributeReference,
                        forward: Boolean = false,
                        toleranceUs: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ matchedAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(matchedAttr)

  // co-partition on the key, co-sort by (key, time): Catalyst inserts
  // the minimal exchanges/sorts, and AQE can still re-plan them
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(rightTime.dataType)
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val matchRow = new GenericInternalRow(1)
      val joined = new JoinedRow

      var rHead: InternalRow = null
      var rKey: Any = null
      var rTime: Any = null
      // skip right rows that can never match (null key or null time —
      // both sort first under the required NULLS FIRST ordering)
      def advanceR(): Unit = {
        var ok = false
        while (!ok) {
          if (rIt.hasNext) {
            rHead = rIt.next()
            rKey = rkB.eval(rHead)
            rTime = rtB.eval(rHead)
            ok = rKey != null && rTime != null
          } else { rHead = null; ok = true }
        }
      }
      advanceR()

      var curKey: Any = null
      var haveCur = false
      var lastTime: Any = null

      // tolerance needs a numeric time difference: datetime/integral types
      // are Long/Int-backed internally
      def micros(v: Any): Long = v match {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalStateException(
          s"as-of tolerance unsupported for time value of ${other.getClass}")
      }
      def withinTol(later: Any, earlier: Any): Boolean =
        toleranceUs.forall(tol => micros(later) - micros(earlier) <= tol)

      lIt.map { lRow =>
        val lk = lkB.eval(lRow)
        val lt = ltB.eval(lRow)
        if (lk == null || lt == null) {
          matchRow.update(0, null)
        } else {
          if (!haveCur || keyOrd.compare(lk, curKey) != 0) {
            // copy like rTime below: for buffer-backed key types
            // (UTF8String/binary/decimal) lk can alias the left sort
            // iterator's reused buffer, and an aliased curKey would make
            // the key-change compare above always return 0
            curKey = InternalRow.copyValue(lk); haveCur = true; lastTime = null
          }
          if (forward) {
            // earliest right ≥ lt: consume strictly-earlier rows (they can
            // never match this or any later left row), then peek
            var continue = rHead != null
            while (continue) {
              val kc = keyOrd.compare(rKey, lk)
              if (kc < 0 || (kc == 0 && timeOrd.compare(rTime, lt) < 0)) {
                advanceR()
                continue = rHead != null
              } else continue = false
            }
            val m =
              if (rHead != null && keyOrd.compare(rKey, lk) == 0 &&
                  withinTol(rTime, lt)) rTime
              else null
            matchRow.update(0, m)
          } else {
            // latest right ≤ lt
            var continue = rHead != null
            while (continue) {
              val kc = keyOrd.compare(rKey, lk)
              if (kc < 0 || (kc == 0 && timeOrd.compare(rTime, lt) <= 0)) {
                // copy buffer-backed values (e.g. UTF8String): rTime may
                // point into a reused sort/spill buffer that the next
                // advanceR() overwrites
                if (kc == 0) lastTime = InternalRow.copyValue(rTime)
                advanceR()
                continue = rHead != null
              } else continue = false
            }
            val m =
              if (lastTime != null && withinTol(lt, lastTime)) lastTime else null
            matchRow.update(0, m)
          }
        }
        proj(joined(lRow, matchRow))
      }
    }
  }
}

/** User-facing API: installs the native strategies on the live session
  * ([[NativeStrategies]]; works in any session — no extensions wiring
  * needed) and builds the plan from the analyzed children.
  */
object AsOfJoinNative {
  /** `direction`: "backward" (latest right ≤ t, the default) or "forward"
    * (earliest right ≥ t). `toleranceUs` bounds |rightTime − leftTime|
    * in the time type's internal units (µs for timestamps, the raw value
    * for integral columns) — pandas `merge_asof` semantics.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String,
           direction: String = "backward",
           toleranceUs: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val spark: SparkSession = left.sparkSession
    NativeStrategies.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .orElse(p.output.find(_.name.equalsIgnoreCase(n)))
      .getOrElse(throw new IllegalArgumentException(s"column $n not found"))
    val lKey = attr(lPlan, key); val rKey = attr(rPlan, key)
    val lTime = attr(lPlan, leftTime); val rTime = attr(rPlan, rightTime)
    // the merge compares raw values — mismatched types would mis-compare
    // or ClassCastException at runtime, so fail at build time instead
    require(lKey.dataType == rKey.dataType,
      s"as-of key types differ: ${lKey.dataType} vs ${rKey.dataType}")
    require(lTime.dataType == rTime.dataType,
      s"as-of time types differ: ${lTime.dataType} vs ${rTime.dataType} (cast first)")
    toleranceUs.foreach { _ =>
      val ok = lTime.dataType match {
        case _: org.apache.spark.sql.types.LongType => true
        case _: org.apache.spark.sql.types.IntegerType => true
        case _: org.apache.spark.sql.types.TimestampType => true
        case _: org.apache.spark.sql.types.TimestampNTZType => true
        case _: org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      require(ok, s"tolerance unsupported for time type ${lTime.dataType.sql}")
    }
    val matched = AttributeReference("matched", rTime.dataType, nullable = true)()
    val node = AsOfJoinPlan(lPlan, rPlan, lKey, rKey, lTime, rTime, matched,
      forward = direction == "forward", toleranceUs = toleranceUs)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, node)
  }
}
