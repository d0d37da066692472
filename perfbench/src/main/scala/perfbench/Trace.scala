package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the enclosing span (0 for
  * the run's root). Stage spans carry the task metrics summed over the
  * stage's tasks in `metrics`.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    startNs: Long, endNs: Long, metrics: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until [[Trace.write]] dumps
  * them at exit; nothing is written while the timed loop runs.
  *
  * The benchmark times calls it makes into the program's public
  * functions with [[span]]; a [[StageListener]] turns every Spark stage
  * into a child span of the call that submitted its job (the open span
  * id rides the job as a SparkContext local property). When `enabled`
  * is false, [[span]] only runs its body.
  */
final class Trace(val runId: String) {
  @volatile var enabled: Boolean = false
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  // wall-clock anchor: stage times arrive as epoch millis, spans are nanoTime
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  val PropKey = "perfbench.span"

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get.headOption.getOrElse(0L)
  def msToNs(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L
  def add(s: Span): Unit = done.add(s)
  def spans: Seq[Span] = { val b = Seq.newBuilder[Span]; done.forEach(b += _); b.result() }

  def span[T](name: String, layer: String, sc: Option[SparkContext] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack.set(id :: stack.get)
      val prevProp = sc.map(_.getLocalProperty(PropKey))
      sc.foreach(_.setLocalProperty(PropKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.foreach(_.setLocalProperty(PropKey, prevProp.orNull))
        stack.set(stack.get.tail)
        add(Span(id, name, layer, parent, t0, t1))
      }
    }

  /** Every span under `root` (transitively), root excluded. */
  def descendants(root: Long): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    walk(root)
  }

  /** JSON lines: one span each with its derived self time (its wall
    * minus the union of its direct children's intervals).
    */
  def write(path: java.io.File): Unit = {
    val all = spans.sortBy(_.startNs)
    val byParent = all.groupBy(_.parent)
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      val self = math.max(0L, (s.endNs - s.startNs) - Stats.unionNs(kids, s.startNs, s.endNs))
      val m = s.metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_s":${Json.num((s.startNs - nano0) / 1e9)},"end_s":${Json.num((s.endNs - nano0) / 1e9)},""" +
        s""""self_s":${Json.num(self / 1e9)},"metrics":{$m}}""")
    } finally w.close()
  }
}

/** Turns each completed stage into a span under the benchmark call that
  * submitted its job, with the stage's task metrics summed.
  */
final class StageListener(trace: Trace) extends SparkListener {
  private val stageParent = mutable.Map.empty[Int, Long]
  private val acc = mutable.Map.empty[Int, mutable.Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(trace.PropKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageParent(_) = parent)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(e.stageId, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      def add(k: String, v: Double): Unit = a(k) = a(k) + v
      add("tasks", 1)
      add("run_s", m.executorRunTime / 1e3)
      add("cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("memory_spill_bytes", m.memoryBytesSpilled.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val parent = stageParent.remove(info.stageId).getOrElse(0L)
    val metrics = acc.remove(info.stageId).map(_.toMap).getOrElse(Map.empty)
    val start = info.submissionTime.getOrElse(0L)
    val end = info.completionTime.getOrElse(start)
    trace.add(Span(trace.nextId(), s"stage ${info.stageId}: ${info.name.takeWhile(_ != ' ')}",
      "spark.stage", parent, trace.msToNs(start), trace.msToNs(end), metrics))
  }
}
