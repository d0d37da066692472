package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Library entry point for Spark's extension mechanism: activating via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`) makes
  * every native kernel in [[GraftFunctions.Kernels]] a first-class SQL
  * function in every session of the application — no per-session
  * `register()` call, and (unlike temp functions) visible to pure-SQL
  * clients such as the Thrift server. This is the standard drop-in path
  * for a Spark-native library on a shared 1000-executor cluster: ship
  * the jar, set one conf, query.
  *
  * It also injects three plan rules: [[graft.plans.ScriptClassPrefixRule]]
  * (optimizer), [[graft.plans.EventLogStreamPushDown]] (resolution) and
  * [[graft.plans.SortedCollectStrategy]] (planner).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Kernels.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, null, name,
          s"$name(...) - native graft kernel; Column form in graft.functions.GraftFunctions", ""),
        build))
    }
    // script-class predicates become sargable binary prefix ranges that
    // parquet row-group stats can skip on (the script-sorted layout's
    // whole point) — see the rule's scaladoc
    ext.injectOptimizerRule(_ => graft.plans.ScriptClassPrefixRule)
    // streaming filter pushdown for the eventlog source: Spark's
    // micro-batch planner never pushes predicates into a DSv2 stream,
    // so a resolution rule forwards them as the source's `skipWhere`
    // row-group-skip hint — see the rule's scaladoc
    ext.injectResolutionRule(_ => graft.plans.EventLogStreamPushDown)
    // a collected ORDER BY sorts inside its scan tasks and merges on the
    // driver: one job instead of a sampling scan, a second scan and a
    // shuffle — see the strategy's scaladoc
    ext.injectPlannerStrategy(_ => graft.plans.SortedCollectStrategy)
  }
}
