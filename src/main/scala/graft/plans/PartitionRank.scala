package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Fused range-partition + per-partition rank — the sharded-prefix-sum
  * rank's hot half in ONE exchange.
  *
  * `GlobalRank`'s previous shape (`repartitionByRange(keys)` →
  * `row_number()/dense_rank() over (partition by spark_partition_id()
  * order by keys)`) paid TWO full-table exchanges per call: the range
  * partition, then a `hashpartitioning(__pid)` exchange the planner
  * inserts because `WindowExec` requires `ClusteredDistribution(__pid)`
  * and cannot see that a range-partitioned table is trivially clustered
  * by its own partition id. This operator states the real requirement —
  * `OrderedDistribution(keys)` + in-partition ordering on `keys` — so
  * planning yields ONE range exchange + local sort, and the per-partition
  * row number / dense rank are a narrow streaming pass over the sorted
  * partition (no window buffering at all: rank state is two counters and
  * the previous key).
  *
  * Semantics (bit-identical to the window form):
  *  - `pid` = the partition index (what `spark_partition_id()` returned);
  *  - `rowNum` = `row_number()` within the partition under `keys` asc
  *    (rows are consumed in sorted order, so arrival order IS rank order);
  *  - `denseRank` = `dense_rank()` within the partition under `keys` asc
  *    (ordering-equality via the same null-safe natural ascending
  *    comparator the sort itself uses — not binary equality, so e.g.
  *    -0.0/0.0 and null grouping match the window exactly).
  *
  * Scale: equal keys land in one partition (RangePartitioning assigns by
  * binary search on the key, exactly what `repartitionByRange` relies
  * on), the pass is O(rows) with O(1) state, and one corpus-sized
  * exchange per densify round is removed — the prefix-doubling loop pays
  * this ⌈log₄ L⌉ times per suffix front.
  */
case class PartitionRank(orders: Seq[SortOrder],
                         pid: AttributeReference,
                         rowNum: AttributeReference,
                         denseRank: AttributeReference,
                         child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] =
    child.output ++ Seq(pid, rowNum, denseRank)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(pid, rowNum, denseRank))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): LogicalPlan = copy(child = newChild)
}

object PartitionRank {

  /** `df` + (pidCol: int, rnCol: long, drCol: long) under `sortCols`
    * (each Column may carry a SortOrder — `col("v").desc` — exactly like
    * `Window.orderBy`; bare Columns sort ascending nulls-first, the
    * window default). The key Columns are resolved against `df` through
    * the session analyzer (custom logical operators don't get Column
    * resolution for free). The node plans only in a session built with
    * `spark.sql.extensions=graft.plans.GraftExtensions`, which registers
    * [[PartitionRankStrategy]].
    */
  def apply(df: DataFrame, sortCols: Seq[Column], pidCol: String,
            rnCol: String, drCol: String): DataFrame = {
    val spark = df.sparkSession
    // split direction/null-ordering off BEFORE resolution: a SortOrder is
    // not evaluable, so only its child goes through the resolving Project
    val split: Seq[(Expression, SortDirection, NullOrdering)] =
      sortCols.map(c => Bridge.sessionExpression(spark, c)).map {
        case SortOrder(child, dir, nullOrd, _) => (child, dir, nullOrd)
        case e => (e, Ascending, Ascending.defaultNullOrdering)
      }
    val proj = Project(
      split.zipWithIndex.map { case ((e, _, _), i) =>
        Alias(e, s"__pr_k$i")()
      }, Bridge.plan(df))
    val analyzed = Bridge.analyze(spark, proj).asInstanceOf[Project]
    val orders = analyzed.projectList.zip(split).map {
      case (a, (_, dir, nullOrd)) =>
        SortOrder(a.asInstanceOf[Alias].child, dir, nullOrd, Seq.empty)
    }
    val node = PartitionRank(orders,
      AttributeReference(pidCol, IntegerType, nullable = false)(),
      AttributeReference(rnCol, LongType, nullable = false)(),
      AttributeReference(drCol, LongType, nullable = false)(),
      analyzed.child)
    Bridge.ofRows(spark, node)
  }
}

/** Planner strategy registered by [[GraftExtensions]]. */
object PartitionRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionRank(orders, pid, rn, dr, child) =>
      PartitionRankExec(orders, pid, rn, dr, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionRankExec(orders: Seq[SortOrder],
                             pid: AttributeReference,
                             rn: AttributeReference,
                             dr: AttributeReference,
                             child: SparkPlan) extends UnaryExecNode {

  private def sortOrders: Seq[SortOrder] = orders

  override def output: Seq[Attribute] = child.output ++ Seq(pid, rn, dr)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(pid, rn, dr))
  // the REAL requirement the window shape over-asked for: a range
  // partition by the keys (equal keys colocated) sorted within each
  // partition — one exchange, no hashpartitioning(__pid) re-exchange
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(sortOrders))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrders)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(
      newChild: SparkPlan): SparkPlan = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = orders.map(_.child)
    val childOutput = child.output
    val outAttrs = output
    child.execute().mapPartitionsWithIndex { (idx, iter) =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // ordering equality, not binary equality: dense_rank groups rows
      // the way the sort comparator does (null==null, -0.0==0.0).
      // Direction/null-ordering only flip comparison SIGNS, never
      // zero-ness, so equality under the natural ascending comparator is
      // exactly sort-comparator equality for any direction mix.
      val ord = RowOrdering.createNaturalAscendingOrdering(
        keyExprs.map(_.dataType))
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(3)
      extra.update(0, idx)
      var rnV = 0L
      var drV = 0L
      var prev: UnsafeRow = null
      iter.map { row =>
        val k = keyProj(row)
        rnV += 1
        if (prev == null || ord.compare(k, prev) != 0) {
          drV += 1
          prev = k.copy()
        }
        extra.update(1, rnV)
        extra.update(2, drV)
        proj(joined(row, extra))
      }
    }
  }
}
