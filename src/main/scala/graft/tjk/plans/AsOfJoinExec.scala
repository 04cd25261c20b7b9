package graft.tjk.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Physical as-of join: co-partitioned by entity (EnsureRequirements inserts
  * the exchanges — the same `ClusteredDistribution` contract SortMergeJoin
  * uses, so AQE coalesces both sides consistently), co-sorted
  * `(entity, ts[, tie])`, then a streaming two-pointer merge per partition
  * pair.
  *
  * Scale shape: one shuffle per side (vs. one shuffle of the UNION for the
  * window-based path), O(1) merge state per task — the last visible payload
  * row — regardless of entity size, so a hot conversation costs memory O(1)
  * here (the window path's running-`last` is also O(1), but pays the
  * union'd sort and the struct-packed payload through its exchange).
  * Zero-leakage is structural: the pointer never advances past
  * `event_ts ≤ asof_ts` (strict: `<`).
  */
case class AsOfJoinExec(
    leftEntity: Attribute,
    rightEntity: Attribute,
    leftTsMicros: Attribute,
    rightTsMicros: Attribute,
    rightTie: Attribute,
    payload: Seq[Attribute],
    strict: Boolean,
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftEntity :: Nil) ::
      ClusteredDistribution(rightEntity :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftEntity, Ascending), SortOrder(leftTsMicros, Ascending)),
    Seq(SortOrder(rightEntity, Ascending), SortOrder(rightTsMicros, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOutput = left.output
    val rightOutput = right.output
    val payloadAttrs = payload
    val outAttrs = output
    val lEntA = leftEntity
    val lTsA = leftTsMicros
    val rEntA = rightEntity
    val rTsA = rightTsMicros
    val entDT = leftEntity.dataType
    val strictV = strict
    val tol = toleranceMicros

    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIt, rIt) =>
        // upcast to Expression: bindReference casts its result back to the
        // STATIC argument type, and a bound Attribute is a BoundReference
        val lEnt = BindReferences.bindReference(
          lEntA: org.apache.spark.sql.catalyst.expressions.Expression, leftOutput)
        val lTs = BindReferences.bindReference(
          lTsA: org.apache.spark.sql.catalyst.expressions.Expression, leftOutput)
        val rEnt = BindReferences.bindReference(
          rEntA: org.apache.spark.sql.catalyst.expressions.Expression, rightOutput)
        val rTs = BindReferences.bindReference(
          rTsA: org.apache.spark.sql.catalyst.expressions.Expression, rightOutput)
        val payProj = UnsafeProjection.create(payloadAttrs, rightOutput)
        // input schema must mark the payload nullable (unmatched rows feed a
        // null row) or the projection elides the null checks and emits zeros
        val outProj = UnsafeProjection.create(outAttrs,
          leftOutput ++ payloadAttrs.map(_.withNullability(true)))
        val ord = TypeUtils.getInterpretedOrdering(entDT)
        def cmp(a: Any, b: Any): Int =
          if (a == null && b == null) 0
          else if (a == null) -1 // matches SortOrder's default NULLS FIRST
          else if (b == null) 1
          else ord.compare(a, b)

        val joined = new JoinedRow
        val nullPay = new GenericInternalRow(payloadAttrs.size)
        val rBuf = rIt.buffered
        var haveEnt = false
        var curEnt: Any = null
        var lastTs = Long.MinValue
        var lastPay: UnsafeRow = null

        lIt.map { lRow =>
          val e = lEnt.eval(lRow)
          if (!haveEnt || cmp(e, curEnt) != 0) {
            curEnt = InternalRow.copyValue(e) // row buffers are reused
            haveEnt = true
            lastPay = null
            lastTs = Long.MinValue
            while (rBuf.hasNext && cmp(rEnt.eval(rBuf.head), e) < 0) rBuf.next()
          }
          val tAny = lTs.eval(lRow)
          if (tAny == null) {
            // null asof_ts matches nothing; sorts NULLS FIRST so the merge
            // pointer has not moved for this entity yet.
            outProj(joined(lRow, nullPay))
          } else {
            val t = tAny.asInstanceOf[Long]
            var advancing = true
            while (advancing && rBuf.hasNext && cmp(rEnt.eval(rBuf.head), e) == 0) {
              val rtAny = rTs.eval(rBuf.head)
              if (rtAny == null) {
                // A null event ts can never be an as-of match. Checked HERE,
                // not only in the asofJoinNative wrapper's filter: the
                // strategy is also injectable via spark.sql.extensions, so
                // other plans can reach this exec — and an unboxed
                // null.asInstanceOf[Long] would silently become epoch 0 and
                // be consumed as a real match.
                rBuf.next()
              } else {
              val rt = rtAny.asInstanceOf[Long]
              if (if (strictV) rt < t else rt <= t) {
                // consume: sorted by (ts, tie) asc, so the last consumed row
                // is the greatest ts (ties: greatest tie) — the match.
                val r = rBuf.next()
                lastTs = rt
                lastPay = payProj(r).copy()
              } else advancing = false
              }
            }
            val ok = lastPay != null && tol.forall(d => t - lastTs <= d)
            outProj(joined(lRow, if (ok) lastPay else nullPay))
          }
        }
    }
  }
}
