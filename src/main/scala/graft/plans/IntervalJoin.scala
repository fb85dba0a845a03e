package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BindReferences, Cast, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Interval containment join — the reference's nested-set subtree
  * loader (`core/plugins/loaders/nested_set.py:147`: `lft BETWEEN
  * parent.lft AND parent.rght`) as a first-class operator.
  *
  * Spark has no interval-join physical operator: a `p BETWEEN lo AND
  * hi` join falls back to BroadcastNestedLoopJoin, which compares
  * EVERY point row against EVERY interval (O(N·M) per partition). This
  * plan keeps the same logical shape but executes by broadcasting a
  * centered interval tree over the (small) interval side, so each
  * point row costs O(log M + hits) — the difference between "scan 10⁶
  * taxa per occurrence" and "walk a 20-deep tree per occurrence" at
  * reference scale.
  *
  * Wiring: [[IntervalJoinPlan]] (logical) is planned by
  * [[IntervalJoinStrategy]] (injected by `GraftExtensions`, which
  * [[graft.GraftSession]] installs) into [[IntervalStabbingJoinExec]]
  * (physical).
  * The point side streams partition-parallel and is never shuffled or
  * collected; only the interval side must fit in driver/executor
  * memory, the same contract as any broadcast join build side.
  */
case class IntervalJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    point: Expression, lo: Expression, hi: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, p, lo, hi) =>
      IntervalStabbingJoinExec(p, lo, hi, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** One interval of the build side: [lo, hi] plus its full row. */
private[plans] final case class IntervalEntry(lo: Long, hi: Long, row: InternalRow)

/** Static centered interval tree: each node stores the intervals
  * containing its center value twice (lo-ascending and hi-descending),
  * so a stab query at p reads only matching intervals plus one root
  * path. Built once on the driver, broadcast read-only to executors.
  */
private[plans] final class IntervalTree(
    val center: Long,
    val byLo: Array[IntervalEntry],
    val byHi: Array[IntervalEntry],
    val left: IntervalTree,
    val right: IntervalTree) extends Serializable {

  def stab(p: Long, out: java.util.ArrayList[InternalRow]): Unit = {
    var n = this
    while (n != null) {
      if (p < n.center) {
        var i = 0
        while (i < n.byLo.length && n.byLo(i).lo <= p) { out.add(n.byLo(i).row); i += 1 }
        n = n.left
      } else if (p > n.center) {
        var i = 0
        while (i < n.byHi.length && n.byHi(i).hi >= p) { out.add(n.byHi(i).row); i += 1 }
        n = n.right
      } else { // p == center: every interval stored here contains p
        var i = 0
        while (i < n.byLo.length) { out.add(n.byLo(i).row); i += 1 }
        n = null
      }
    }
  }
}

private[plans] object IntervalTree {
  def build(entries: Array[IntervalEntry]): IntervalTree = {
    if (entries.isEmpty) return null
    // median endpoint as center → each subtree holds at most half the
    // endpoints → depth O(log M) regardless of interval nesting/skew
    val endpoints = new Array[Long](entries.length * 2)
    var i = 0
    while (i < entries.length) {
      endpoints(2 * i) = entries(i).lo; endpoints(2 * i + 1) = entries(i).hi
      i += 1
    }
    java.util.Arrays.sort(endpoints)
    val center = endpoints(endpoints.length / 2)
    val (containing, rest) = entries.partition(e => e.lo <= center && center <= e.hi)
    val (ls, rs) = rest.partition(_.hi < center)
    new IntervalTree(
      center,
      containing.sortBy(_.lo),
      containing.sortBy(e => -e.hi),
      build(ls), build(rs))
  }
}

/** Physical interval-stabbing join. Output = point-side columns ++
  * interval-side columns, one row per (point, containing interval).
  * Not codegen'd: the per-row work is a data-dependent tree walk, which
  * whole-stage codegen can't fuse anyway; the surrounding stages
  * (scan below, agg above) still codegen on their own.
  */
case class IntervalStabbingJoinExec(
    point: Expression, lo: Expression, hi: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalStabbingJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val boundLo = BindReferences.bindReference(lo, right.output)
    val boundHi = BindReferences.bindReference(hi, right.output)
    val entries = right.executeCollect().flatMap { r =>
      (boundLo.eval(r), boundHi.eval(r)) match {
        case (l: java.lang.Long, h: java.lang.Long) if l <= h =>
          Some(IntervalEntry(l, h, r))
        case _ => None // null or inverted bounds join nothing
      }
    }
    val bcTree = sparkContext.broadcast(IntervalTree.build(entries))
    val boundPoint = BindReferences.bindReference(point, left.output)
    val outAttrs = output
    left.execute().mapPartitions { iter =>
      val tree = bcTree.value
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val hits = new java.util.ArrayList[InternalRow]()
      iter.flatMap { lrow =>
        hits.clear()
        boundPoint.eval(lrow) match {
          case p: java.lang.Long if tree != null => tree.stab(p, hits)
          case _ => ()
        }
        // materialize the hit list eagerly: `joined`/`proj` are reused
        // buffers, but each projected row is consumed before the next
        // stab overwrites them (same contract as BroadcastNestedLoopJoin)
        val rrows = hits.iterator()
        new Iterator[InternalRow] {
          def hasNext: Boolean = rrows.hasNext
          def next(): InternalRow = proj(joined(lrow, rrows.next()))
        }
      }
    }
  }
}

object IntervalJoin {

  /** `points ⋈ intervals ON points(pointCol) BETWEEN intervals(loCol)
    * AND intervals(hiCol)` via the stabbing plan. Columns must be
    * integral (cast to long); interval-side columns are re-aliased so
    * self-joins (both sides derived from one nested-set frame) cannot
    * collide on attribute ids.
    */
  def join(
      points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String): DataFrame = {
    val spark: SparkSession = points.sparkSession
    val iv = intervals.select(intervals.columns.map(c => intervals(c).as(c)): _*)
    def longExpr(df: DataFrame, c: String): Expression =
      Cast(ColumnBridge.expression(df(c)), LongType)
    val plan = IntervalJoinPlan(
      points.queryExecution.analyzed,
      iv.queryExecution.analyzed,
      longExpr(points, pointCol), longExpr(iv, loCol), longExpr(iv, hiCol))
    ColumnBridge.ofRows(spark, plan)
  }
}
