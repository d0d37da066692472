package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main: one workload per JVM, closed loop, one client.
  *
  * {{{
  * perfbench.Main --workload utxo --seed 1 --seconds 6 --trace 0 \
  *   --work .bench_work --out result.json [--tables DIR --expected FILE]
  *   [--corrupt drop_part]
  * }}}
  *
  * Writes the result object (correct/attempted/failed/metrics) to
  * `--out`, a detail record with every raw sample next to it, and in
  * traced runs the span file. `perfbench/run.py` is the entry point that
  * builds the classpath and launches this.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, cpus: Int, tables: Option[String], expected: String,
      corrupt: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, new File(need("out")).getAbsoluteFile,
      Runtime.getRuntime.availableProcessors(),
      m.get("tables"), m.getOrElse("expected", ""), m.get("corrupt"))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val run = new Run(o)
    val code =
      try { run.execute(); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        2
      } finally run.cleanup()
    System.exit(code)
  }
}

/** State shared by all workloads: counters, samples, the trace, and the
  * setup-time bookkeeping.
  */
final class Run(val o: Main.Opts) {
  val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}"
  val trace = new Trace(runId)
  val scratch = new File(o.work, s"run/$runId")
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, String]
  private var spark: SparkSession = null
  private var listener: StageListener = null

  /** Process start (JVM start time) — setup_s is measured from here. */
  val procStartNs: Long = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  /** Harness work before the first timed op (input generation, expected
    * decode, calibration) — not part of the program's set-up.
    */
  private var harnessNs = 0L
  private val prepWalls = mutable.ArrayBuffer.empty[Double]
  private var firstOpNs = 0L

  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  /** One repetition of the workload's repeatable set-up step (harness
    * work inside it is not part of its wall).
    */
  def prep[T](body: => T): T = {
    val t0 = System.nanoTime()
    val h0 = harnessNs
    try body finally prepWalls += (System.nanoTime() - t0 - (harnessNs - h0)) / 1e9
  }

  def markFirstOp(): Unit = if (firstOpNs == 0L) firstOpNs = System.nanoTime()

  /** setup_s: process start to the first timed operation, minus harness
    * work, with the repeated set-up step counted once at its median.
    */
  def setupSeconds: Double = {
    val total = (firstOpNs - procStartNs - harnessNs) / 1e9
    if (prepWalls.isEmpty) total else total - prepWalls.sum + Stats.median(prepWalls.toSeq)
  }

  /** Counts one operation; it fails if it throws or reports violations. */
  def attempt(what: String)(body: => Seq[String]): Boolean = {
    attempted += 1
    val bad = try body catch { case e: Throwable => Seq(s"threw $e") }
    if (bad.nonEmpty) {
      failed += 1
      failures += s"$what: ${bad.take(3).mkString("; ")}"
      System.err.println(s"[perfbench] FAILED $what: ${bad.take(3).mkString("; ")}")
    }
    bad.isEmpty
  }

  def session(extensions: Boolean): SparkSession = {
    val spill = new File(scratch, "spill"); spill.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spill.getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listener = new StageListener(trace)
    spark
  }

  /** Runs `body` with spans and the stage listener on; returns the span
    * that wraps it and its wall time.
    */
  def traced[T](name: String, layer: String)(body: => T): (T, Long) = {
    val sc = spark.sparkContext
    trace.enabled = true
    sc.addSparkListener(listener)
    var id = 0L
    try {
      val r = trace.span(name, layer, Some(sc)) { id = trace.current; body }
      (r, id)
    } finally {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      trace.enabled = false
    }
  }

  /** Closed loop: runs `op` back to back until the walls it returns add
    * up to `seconds` (at least `minOps` times). Checks and other
    * untimed work inside `op` do not count toward `seconds`.
    */
  def loop(seconds: Double, minOps: Int = 1)(op: Int => Double): Int = {
    markFirstOp()
    var measured = 0.0
    var i = 0
    while (i < minOps || measured < seconds) { measured += op(i); i += 1 }
    i
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One CPU probe of graft.tools.Calibration (its tmpfs probe writes
    * outside the work dir, so it is left out: NaN).
    */
  private def calibration(): (Double, Double, Long) = {
    val (sec, sum) = graft.tools.Calibration.cpuOnce()
    (sec, Double.NaN, sum)
  }

  def execute(): Unit = {
    val calBefore = harness(calibration())
    val wl: Workload = o.workload match {
      case "utxo" => new UtxoWorkload(this)
      case "registry" => new RegistryWorkload(this)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    scratch.mkdirs()
    val free = o.work.getUsableSpace
    require(free >= wl.scratchBytes,
      f"work dir ${o.work} has ${free / 1e9}%.1f GB free; ${o.workload} needs ${wl.scratchBytes / 1e9}%.1f GB")
    wl.run()
    e2e("setup_s") = setupSeconds
    val rss = graft.tools.LargeConvertBench.peakRssBytes() / 1048576.0
    detail("peak_rss_mb") = Json.num(rss)
    detail("fail_ratio") = Json.num(failed.toDouble / math.max(1L, attempted))
    if (o.trace) {
      layers("jvm.peak_rss_mb") = rss
      // a layer of this workload that was never measured is an error, not
      // a 0; only the other workload's layers read 0
      val own = Layers.common ++ wl.layers
      val missing = own.filterNot(layers.contains)
      require(missing.isEmpty, s"per-layer metrics never measured: ${missing.mkString(", ")}")
      val measured = layers.toMap
      layers.clear()
      Layers.all.foreach(k => layers(k) = measured.getOrElse(k, 0.0))
    }
    val calAfter = calibration()
    detail("host") = Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "local_cpus" -> o.cpus.toString,
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "work_dir_free_gb" -> Json.num(free / 1e9),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION)))
    detail("weather") = "{" + graft.tools.Calibration.json(calBefore, calAfter) + "}"
    detail("setup_prep_s") = Json.arr(prepWalls.toSeq)
    detail("harness_s") = Json.num(harnessNs / 1e9)
    detail("failures") = failures.map(Json.str).mkString("[", ",", "]")
    writeResult()
  }

  private def writeResult(): Unit = {
    val metrics = if (o.trace) layers else e2e
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Units.of(k))))
      })))
    o.out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(o.out.toPath, result + "\n")
    val det = Json.obj(Seq("run" -> Json.str(runId), "result" -> result,
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })) ++ detail.toSeq)
    val detFile = new File(o.out.getParentFile, o.out.getName.stripSuffix(".json") + ".detail.json")
    java.nio.file.Files.writeString(detFile.toPath, det + "\n")
    if (o.trace)
      trace.write(new File(o.out.getParentFile, o.out.getName.stripSuffix(".json") + ".spans.jsonl"))
  }

  def cleanup(): Unit = {
    try if (spark != null) spark.stop() catch { case _: Throwable => () }
    org.apache.commons.io.FileUtils.deleteQuietly(scratch)
  }
}

trait Workload {
  /** Free space the work dir must have before the run starts. */
  def scratchBytes: Long
  /** The per-layer metrics a traced run of this workload measures. */
  def layers: Seq[String]
  def run(): Unit
}

object Units {
  def of(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("bytes_per_row") || name.endsWith("bytes_per_coin")) "B/row"
    else if (name.endsWith("_bytes") || name.contains("bytes_read")) "B"
    else "count"
}
