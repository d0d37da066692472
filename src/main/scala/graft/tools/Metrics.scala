package graft.tools

import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{GraftInternals, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One metrics collector: everything Spark reports about the work a
  * block of code does, captured as data instead of hand-timed.
  *
  * {{{ val (result, profile) = Metrics.capture(spark) { df.write.format("noop").save() } }}}
  *
  * Around `body` it registers one `SparkListener` on `spark`'s context
  * and removes it again, also when `body` throws. It records:
  *  - every completed stage: tasks, run/CPU/GC time, shuffle bytes and
  *    time, spill, input and output;
  *  - for every successful action, the SQL metrics of each physical
  *    operator — rows out, files read, broadcast size, aggregate time.
  *    The walk goes through the AQE final plan and its query stages;
  *  - every stream micro-batch: input rows, the `durationMs` terms
  *    (addBatch, getBatch, latestOffset, queryPlanning, walCommit,
  *    commitOffsets, ...) and each state operator's rows, memory and
  *    commit time. A stream stopped inside `body` is still recorded.
  *
  * All three come off the context's bus, so work run on a session
  * derived from `spark` (the registry runs every entry on one) is seen
  * too; a per-session `QueryExecutionListener` or
  * `StreamingQueryListener` would miss it.
  *
  * Listener events are delivered asynchronously; the bus is drained
  * before the listener is added (so earlier work is not counted) and
  * after `body` returns (so none of its events is missed). [[Scale]]
  * times every body through this object.
  */
object Metrics {

  /** One completed stage; times in ms, sizes in bytes. `inputBytes`
    * counts only what the task threads read: parquet's vectored reads
    * (on by default) fetch data pages on other threads and are missed,
    * so row-group skipping shows in `inputRecords`, not in bytes.
    */
  final case class Stage(
      id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleWriteBytes: Long, shuffleWriteMs: Long,
      shuffleReadBytes: Long, fetchWaitMs: Long,
      memSpill: Long, diskSpill: Long,
      inputBytes: Long, inputRecords: Long, outputBytes: Long)

  /** One physical operator and its SQL metrics by display name
    * (`number of output rows`, `data size`, ...); timings in ms.
    */
  final case class Operator(name: String, metrics: Map[String, Long])

  /** One successful action (`collect`, `command`, ...) and its plan. */
  final case class Action(name: String, ms: Long, operators: Seq[Operator])

  final case class StateOp(name: String, rowsTotal: Long, memoryBytes: Long, commitMs: Long)

  /** One micro-batch of the stream `query`. */
  final case class Batch(query: String, id: Long, inputRows: Long,
      durationMs: Map[String, Long], state: Seq[StateOp])

  final case class Profile(wallSec: Double, stages: Seq[Stage], actions: Seq[Action],
      batches: Seq[Batch]) {

    def toJson: String = {
      def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def obj(kv: Iterable[(String, Long)]) =
        kv.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
      def arr[A](xs: Seq[A])(f: A => String) = xs.map(f).mkString("[", ",", "]")
      val st = arr(stages) { r =>
        s"""{"stage":${r.id},"name":${str(r.name)},"tasks":${r.tasks},""" +
          s""""run_ms":${r.runMs},"cpu_ms":${r.cpuMs},"gc_ms":${r.gcMs},""" +
          s""""shuffle_write_bytes":${r.shuffleWriteBytes},"shuffle_write_ms":${r.shuffleWriteMs},""" +
          s""""shuffle_read_bytes":${r.shuffleReadBytes},"fetch_wait_ms":${r.fetchWaitMs},""" +
          s""""mem_spill":${r.memSpill},"disk_spill":${r.diskSpill},""" +
          s""""input_bytes":${r.inputBytes},"input_records":${r.inputRecords},""" +
          s""""output_bytes":${r.outputBytes}}"""
      }
      val ac = arr(actions) { a =>
        s"""{"action":${str(a.name)},"ms":${a.ms},"operators":""" +
          arr(a.operators)(o => s"""{"op":${str(o.name)},"metrics":${obj(o.metrics)}}""") + "}"
      }
      val ba = arr(batches) { b =>
        s"""{"query":${str(b.query)},"batch":${b.id},"input_rows":${b.inputRows},""" +
          s""""duration_ms":${obj(b.durationMs)},"state":""" +
          arr(b.state)(s => s"""{"op":${str(s.name)},"rows_total":${s.rowsTotal},""" +
            s""""memory_bytes":${s.memoryBytes},"commit_ms":${s.commitMs}}""") + "}"
      }
      s"""{"wall_s":${"%.3f".formatLocal(Locale.ROOT, wallSec)},"stages":$st,"actions":$ac,"batches":$ba}"""
    }
  }

  def capture[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[Stage]()
    val actions = new ConcurrentLinkedQueue[Action]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(stage(e.stageInfo))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          GraftInternals.succeeded(end).foreach { case (name, ns, qe) =>
            actions.add(Action(name, ns / 1000000, operators(qe.executedPlan)))
          }
        case p: StreamingQueryListener.QueryProgressEvent => batches.add(batch(p.progress))
        case _ =>
      }
    }
    GraftInternals.drain(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftInternals.drain(sc)
      (result, Profile(wall, stages.asScala.toSeq.sortBy(_.id), actions.asScala.toSeq,
        batches.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  private def stage(si: StageInfo): Stage = {
    val m = si.taskMetrics
    Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime / 1000000,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Every operator that reports metrics, in plan order, subqueries
    * included.
    */
  private def operators(plan: SparkPlan): Seq[Operator] =
    PlanWalk.collectWithSubqueries(plan) {
      case p if p.metrics.nonEmpty =>
        Operator(p.nodeName, p.metrics.map { case (key, m) =>
          m.name.getOrElse(key) -> (if (m.metricType == "nsTiming") m.value / 1000000 else m.value)
        })
    }

  private def batch(p: StreamingQueryProgress): Batch =
    Batch(Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.toSeq.map(s =>
        StateOp(s.operatorName, s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)))
}
