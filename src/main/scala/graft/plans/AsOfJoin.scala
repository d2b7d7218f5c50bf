package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** ASOF JOIN as a first-class Catalyst operator (lectures/lecture_10.md:14)
  * — the §(c) extension path: custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, registered through [[GraftExtensions]].
  *
  * Semantics: for each left row, attach the nearest right row of the same
  * key in the requested direction — backward (default): the LATEST right
  * with `rightTime <= leftTime` (`<` when strict); forward: the EARLIEST
  * right with `rightTime >= leftTime` (`>` when strict). These are the
  * four inequality forms the reference accepts in the ASOF ON clause.
  * `isLeftOuter` keeps unmatched left rows with nulls (ASOF LEFT JOIN);
  * otherwise they drop (ASOF INNER, ClickHouse's default). A NULL key
  * or time never matches. SQL text reaches it through
  * [[ChJoinDefaults.select]], the library through
  * [[graft.operators.Joins.asofNativeMulti]].
  *
  * Physical shape: both sides hash-partitioned on the key (one shuffle
  * each, inserted by EnsureRequirements from the declared distribution)
  * and sorted within partitions by (key, time); the exec then merge-scans
  * the two sorted streams per partition with O(1) carried state — no row
  * explosion at any match density, no union/null-carry columns like the
  * window formulation, and the output keeps the left side's partitioning
  * and ordering for downstream reuse.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    isLeftOuter: Boolean,
    forward: Boolean = false, strict: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isLeftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, louter, fwd, strict) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, louter,
        fwd, strict) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    isLeftOuter: Boolean,
    forward: Boolean = false, strict: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isLeftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  // no keys (`ON l.t >= r.t` alone): one partition per side
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  // the merge preserves the left side's layout
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyB = leftKeys.map(BindReferences.bindReference(_, left.output)).toArray
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = rightKeys.map(BindReferences.bindReference(_, right.output)).toArray
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val keyOrds = leftKeys.map(k =>
      TypeUtils.getInterpretedOrdering(k.dataType)).toArray
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nKeys = leftKeys.length
    val nRight = right.output.length
    val louter = isLeftOuter
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered

      // evaluates the key tuple; null if any component is null (no-match)
      def keysOf(bound: Array[Expression], row: InternalRow): Array[Any] = {
        val out = new Array[Any](nKeys)
        var i = 0
        while (i < nKeys) {
          val v = bound(i).eval(row)
          if (v == null) return null
          out(i) = v
          i += 1
        }
        out
      }
      def cmpKeys(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < nKeys) {
          val c = keyOrds(i).compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        0
      }

      // BACKWARD: latest right row consumed whose (keys, time) could still
      // match — carried as O(1) state; the key tuple is re-evaluated AFTER
      // the copy so it doesn't alias the shuffle reader's reused buffer.
      // FORWARD: no carry — rights strictly before the current left time
      // can never match this or any later left row (left times ascend), so
      // they are consumed; the match is the un-consumed head (it may also
      // match subsequent left rows).
      var lastRight: InternalRow = null
      var lastRightKeys: Array[Any] = null
      val fwd = forward
      val strictCmp = strict

      lIter.flatMap { lrow =>
        val lk = keysOf(lKeyB, lrow)
        val lt = lTimeB.eval(lrow)
        var matched: InternalRow = null
        if (lk != null && lt != null) {
          var continue = true
          while (continue && rBuf.hasNext) {
            val peek = rBuf.head
            val rk = keysOf(rKeyB, peek)
            val rt = rTimeB.eval(peek)
            if (rk == null || rt == null) { rBuf.next(); () }
            else {
              val c = cmpKeys(rk, lk)
              if (c < 0) { rBuf.next(); () } // before this key group
              else if (!fwd && c == 0 &&
                  (if (strictCmp) timeOrd.compare(rt, lt) < 0
                   else timeOrd.compare(rt, lt) <= 0)) {
                lastRight = rBuf.next().copy()
                lastRightKeys = keysOf(rKeyB, lastRight)
              } else if (fwd && c == 0 &&
                  (if (strictCmp) timeOrd.compare(rt, lt) <= 0
                   else timeOrd.compare(rt, lt) < 0)) {
                rBuf.next(); ()              // too early to ever match again
              } else continue = false        // candidate head / next group
            }
          }
          if (fwd) {
            if (rBuf.hasNext) {
              val peek = rBuf.head
              val rk = keysOf(rKeyB, peek)
              if (rk != null && cmpKeys(rk, lk) == 0) matched = peek
            }
          } else if (lastRight != null && cmpKeys(lastRightKeys, lk) == 0)
            matched = lastRight
        }
        if (matched != null) Iterator.single(proj(joiner(lrow, matched)))
        else if (louter) Iterator.single(proj(joiner(lrow, nullRight)))
        else Iterator.empty
      }
    }
  }
}
