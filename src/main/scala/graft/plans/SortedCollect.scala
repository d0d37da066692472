package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Planner strategy for a global sort at the root of a query: the
  * collected `ORDER BY` of every point and hot-address lookup
  * (`WHERE script = … ORDER BY height`).
  *
  * Spark plans that sort as a `RangePartitioning` exchange, whose
  * partitioner first runs a sampling job over the whole input: the
  * lookup scans its candidate files twice and then pays a shuffle stage
  * to sort a handful of rows. [[SortedCollectExec]] sorts inside the
  * scan tasks instead and merges the sorted runs on the driver, which
  * holds every collected row anyway.
  *
  * Only `ReturnAnswer(Sort(global))` matches. `take`/`show` (a limit over
  * the sort) keep Spark's `TakeOrderedAndProject`, and a sort under a
  * write or any other operator keeps its exchange.
  */
object SortedCollectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) => SortedCollectExec(order, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A global sort with two ways to run, as Spark's `CollectLimitExec`
  * and `TakeOrderedAndProjectExec` have:
  *  - collected (`executeCollect`/`executeTake`): ONE job sorts each
  *    partition, and the driver merges the runs. `Arrays.sort` is a
  *    TimSort, which finds the k concatenated runs and merges them in
  *    O(n log k). The rows come back through Spark's own collect, so
  *    `spark.driver.maxResultSize` applies as before.
  *  - executed as an RDD (`.rdd`, `toLocalIterator`, `cache()`,
  *    `foreach`): Spark's ordinary parallel plan,
  *    `SortExec(global) ← ShuffleExchangeExec(RangePartitioning)`,
  *    so the result stays range-partitioned and globally ordered.
  *
  * Both plans are built with the node, while the planner has the session
  * active (a `SparkPlan` takes its session from the thread when it is
  * constructed); neither is part of the tree, so adaptive execution
  * never stages the fallback's exchange for a collect.
  */
case class SortedCollectExec(sortOrder: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {

  @transient private val runs = SortExec(sortOrder, global = false, child)
  @transient private val parallel = SortExec(sortOrder, global = true,
    ShuffleExchangeExec(RangePartitioning(sortOrder, conf.numShufflePartitions), child))

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = parallel.outputOrdering
  override def outputPartitioning: Partitioning = parallel.outputPartitioning

  override def executeCollect(): Array[InternalRow] = merged(runs.executeCollect())

  /** Each run's first `n` rows hold the run's share of the first `n`. */
  override def executeTake(n: Int): Array[InternalRow] =
    merged(runs.execute().mapPartitions(_.take(n).map(_.copy())).collect()).take(n)

  override protected def doExecute(): RDD[InternalRow] = parallel.execute()

  private def merged(rows: Array[InternalRow]): Array[InternalRow] = {
    java.util.Arrays.sort(rows, new LazilyGeneratedOrdering(sortOrder, output))
    rows
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SortedCollectExec =
    copy(child = newChild)
}
