package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import graft.codec.Hex
import graft.sources.UtxoConvert

/** The snapshot side of the paper, one round per timed operation: a
  * plain convert (the reference's per-batch sort, no exchange), a
  * clustered convert (sampled range bounds plus one full-row exchange),
  * then a lookup round on the fresh plain output — unique-key point
  * lookups, the hot-address query and a `script_type = 'p2sh'` range
  * aggregate, in seeded order, in a session built with GraftExtensions.
  *
  * The snapshot's mtime moves before every convert, so the JVM index
  * memo and the `.graftidx` sidecar are stale and each convert pays the
  * index pass, as after a fresh dump.
  */
final class UtxoWorkload(r: Run) extends Workload {
  import UtxoWorkload._
  def scratchBytes: Long = Coins * 300L
  def layers: Seq[String] = Layers.utxo

  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(k: String, w: Double): Unit = walls.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += w
  private def med(k: String): Double = Stats.median(walls(k).toSeq)

  def run(): Unit = {
    val o = r.o
    val snap = r.harness(Inputs.snapshot(o.work, o.seed, Coins))
    val spark = r.session(extensions = true)
    val exp = r.harness(Expected.of(snap, o.seed, PointKeys))
    val stale = new Stale(snap)
    val out = Map("plain" -> new File(r.scratch, "plain"), "clustered" -> new File(r.scratch, "clustered"))
    val q = new Queries(r, spark, out("plain").getPath)
    val rnd = new scala.util.Random(o.seed)
    // traced ops: (kind, span id)
    val spans = mutable.ArrayBuffer.empty[(String, Long)]
    var rewritten = 0.0

    /** Runs one timed op, traced when asked; returns its wall. */
    def timed[T](kind: String, traceIt: Boolean)(body: => T): (T, Double) =
      if (traceIt) {
        val ((res, id), w) = r.time(r.traced(kind, layerOf(kind))(body))
        spans += kind -> id
        (res, w)
      } else r.time(body)

    def convert(layout: String, i: Int, traceIt: Boolean, check: Boolean): Double = {
      val dir = out(layout)
      r.harness { FileUtils.deleteQuietly(dir); stale.bump() }
      val (_, w) = timed(s"convert_$layout", traceIt) {
        UtxoConvert.convert(spark, snap.getPath, dir.getPath, rangePartition = layout == "clustered")
      }
      if (check) r.attempt(s"$layout convert #$i") {
        if (i == 0 && o.corrupt.contains("drop_part")) Checks.parts(dir.getPath).headOption.foreach(_.delete())
        Checks.layout(dir.getPath, exp.coins, clustered = layout == "clustered")
      }
      w
    }

    def lookups(i: Int, traceIt: Boolean, check: Boolean): Double =
      rnd.shuffle(Seq.fill(PointsPerRound)("point") ++ Seq.fill(HotPerRound)("hot") :+ "range").map { kind =>
        val key = if (kind == "point") exp.pointKeys(rnd.nextInt(exp.pointKeys.size)) else Inputs.HotScript
        val (bad, w) = timed(s"lookup_$kind", traceIt) {
          if (kind == "range") {
            val (res, rw) = q.range()
            rewritten = if (rw) 1.0 else 0.0
            val want = (exp.p2shCount, exp.p2shHeightSum, exp.p2shMaxAmount)
            if (res == want) Nil else Seq(s"p2sh (count, sum height, max amount) $res != $want")
          } else Checks.lookupRows(q.point(key), key, exp)
        }
        if (check) {
          if (!traceIt) sample(kind, w)
          r.attempt(s"$kind lookup #$i")(bad)
        }
        w
      }.sum

    def round(i: Int, traceIt: Boolean, check: Boolean, lookupRounds: Int = 1): Double = {
      val parts = Seq(
        "convert_plain" -> convert("plain", i, traceIt, check),
        "convert_clustered" -> convert("clustered", i, traceIt, check),
        "lookup_round" -> (1 to lookupRounds).map(_ => lookups(i, traceIt, check)).sum)
      if (check) parts.foreach { case (k, w) => sample(s"${if (traceIt) "traced_" else ""}$k", w) }
      parts.map(_._2).sum
    }

    (1 to SetupReps).foreach(i => r.prep(round(-i, traceIt = false, check = false, SetupLookupRounds)))

    val rounds = mutable.ArrayBuffer.empty[Double]
    val tracedRounds = mutable.ArrayBuffer.empty[Double]
    // at least two timed rounds, so that op_p50_s is never a single round
    r.loop(o.seconds, minOps = 2) { i =>
      val traceIt = o.trace && i % 2 == 1
      val w = round(i, traceIt, check = true)
      (if (traceIt) tracedRounds else rounds) += w
      w
    }
    // full read-back of both last outputs against the sequential decode
    Seq("plain", "clustered").foreach { l =>
      r.attempt(s"content of the last $l convert")(Checks.content(spark, out(l).getPath, exp))
    }

    r.e2e("op_p50_s") = Stats.median(rounds.toSeq)
    r.detail("coins") = exp.coins.toString
    r.detail("round_walls_s") = Json.arr(rounds.toSeq)
    walls.foreach { case (k, ws) =>
      r.detail(s"${k}_walls_s") = Json.arr(ws.toSeq)
      Stats.tailPercentile(ws.size).foreach(p => r.detail(s"${k}_p${p}_s") = Json.num(Stats.quantile(ws.toSeq, p / 100.0)))
    }
    Seq("plain", "clustered").foreach { l =>
      r.detail(s"convert_${l}_rows_per_s") = Json.num(exp.coins / med(s"convert_$l"))
      r.detail(s"${l}_bytes_per_coin") = Json.num(bytesPerCoin(out(l), exp))
    }

    if (o.trace) {
      Spans.overhead(r, rounds.toSeq, tracedRounds.toSeq)
      Seq("convert_plain", "convert_clustered", "lookup_round").foreach(k => r.layers(s"utxo.${k}_s") = med(k))
      Seq("point", "hot", "range").foreach(k => r.layers(s"lookup.${k}_p50_s") = med(k))
      Seq("plain", "clustered").foreach { l =>
        stageBreakdown(r, l, spans.collect { case (k, id) if k == s"convert_$l" => id }.toSeq, exp.coins)
        layoutCounts(r, l, out(l), exp)
      }
      r.attempt("shuffle of the traced converts") {
        val plain = r.layers("convert.plain.shuffle_bytes_per_row")
        val clustered = r.layers("convert.clustered.shuffle_bytes_per_row")
        (if (plain > 0) Seq(s"plain convert shuffled $plain B/row; it has no exchange") else Nil) ++
          (if (clustered > 0) Nil else Seq("clustered convert shuffled nothing"))
      }
      lookupBreakdown(r, spans.toSeq, rewritten)
      layerProbes(r, spark, snap, stale, out("plain"), exp)
    }
  }
}

object UtxoWorkload {
  /** Snapshot size (coins); ≈48 bytes per coin on disk. */
  val Coins = 500000
  /** Set-up rounds; setup_s counts their median. The first one is cold.
    * Convert walls level off after two rounds. Lookup walls fall for
    * about 150 lookups, more than a run has time for, so each set-up
    * round runs its lookup round twice.
    */
  val SetupReps = 2
  val SetupLookupRounds = 2
  val PointKeys = 64
  /** Lookups per round, chosen so that the lookup round takes about half
    * of a round's wall, as the two converts together do.
    */
  val PointsPerRound = 6
  val HotPerRound = 2

  def layerOf(kind: String): String =
    if (kind.startsWith("convert")) "graft.sources" else "lookup"

  /** Moves a file's mtime forward, one second per call. */
  final class Stale(f: File) {
    private var t = f.lastModified()
    def bump(): Unit = { t += 1000; f.setLastModified(t) }
  }

  def bytesPerCoin(dir: File, exp: Expected): Double =
    Checks.parts(dir.getPath).map(_.length).sum.toDouble / exp.coins

  /** Stage walls and task metrics of the traced converts (medians). A
    * convert without stage spans, or without the stage that writes the
    * files, means the listener lost them; the plain convert has no map
    * stage, so its map_stage_s is a true 0.
    */
  def stageBreakdown(r: Run, layout: String, ids: Seq[Long], coins: Long): Unit = {
    require(ids.nonEmpty, s"no traced $layout convert")
    val per = ids.map { id =>
      val st = Spans.stages(r, id)
      val map = st.filter(_.metrics.getOrElse("shuffle_write_bytes", 0.0) > 0)
      val write = st.filter(_.metrics.getOrElse("output_bytes", 0.0) > 0)
      require(write.nonEmpty, s"$layout convert span $id has no stage that wrote output (${st.size} stages)")
      Map(
        "map_stage_s" -> Spans.union(map),
        "write_stage_s" -> Spans.union(write),
        "driver_s" -> (Spans.byId(r, id).seconds - Spans.union(st)),
        "task_cpu_s" -> Spans.sum(st, "cpu_s"),
        "gc_s" -> Spans.sum(st, "gc_s"),
        "shuffle_bytes_per_row" -> Spans.sum(st, "shuffle_write_bytes") / coins,
        "shuffle_write_s" -> Spans.sum(st, "shuffle_write_s"),
        "fetch_wait_s" -> Spans.sum(st, "fetch_wait_s"),
        "spill_bytes" -> Spans.sum(st, "spill_bytes"))
    }
    Layers.convertStage.foreach(k => r.layers(s"convert.$layout.$k") = Stats.median(per.map(_(k))))
  }

  /** Exact row-group counts from the footers (LayoutReport.statsMatch). */
  def layoutCounts(r: Run, layout: String, out: File, exp: Expected): Unit = {
    val point = Hex.encode(exp.pointKeys.head)
    val (total, pointCands) = graft.tools.LayoutReport.statsMatch(out.getPath, "script", point)
    val (_, hotCands) = graft.tools.LayoutReport.statsMatch(out.getPath, "script", Hex.encode(Inputs.HotScript))
    r.layers(s"layout.$layout.files") = Checks.parts(out.getPath).size
    r.layers(s"layout.$layout.row_groups") = total
    r.layers(s"layout.$layout.point_candidates") = pointCands
    r.layers(s"layout.$layout.hot_candidates") = hotCands
    r.layers(s"layout.$layout.bytes_per_coin") = bytesPerCoin(out, exp)
  }

  /** Planning vs execution and listener input metrics of traced lookups. */
  def lookupBreakdown(r: Run, spans: Seq[(String, Long)], rewritten: Double): Unit = {
    def med(kind: String)(f: Long => Double): Double = {
      val xs = spans.collect { case (k, id) if k.startsWith("lookup_") && (kind == "*" || k == s"lookup_$kind") => f(id) }
      require(xs.nonEmpty, s"no traced $kind lookup")
      Stats.median(xs)
    }
    def child(name: String)(id: Long): Double = {
      val cs = r.trace.spans.filter(s => s.parent == id && s.name == name)
      require(cs.nonEmpty, s"lookup span $id has no $name span")
      cs.map(_.seconds).sum
    }
    def stageSum(k: String)(id: Long): Double = {
      val st = Spans.stages(r, id)
      require(st.nonEmpty, s"lookup span $id has no stage spans")
      Spans.sum(st, k)
    }
    r.layers("lookup.plan_s") = med("*")(child("plan"))
    r.layers("lookup.exec_s") = med("*")(child("exec"))
    r.layers("lookup.point_bytes_read") = med("point")(stageSum("input_bytes"))
    r.layers("lookup.point_rows_read") = med("point")(stageSum("input_rows"))
    r.layers("lookup.hot_bytes_read") = med("hot")(stageSum("input_bytes"))
    r.layers("lookup.range_rows_read") = med("range")(stageSum("input_rows"))
    r.layers("lookup.tasks_per_point") = med("point")(stageSum("tasks"))
    r.layers("plans.range_rewritten") = rewritten
  }

  /** Times the single layers the convert is built from, each called on
    * its own through the program's public functions.
    */
  def layerProbes(r: Run, spark: SparkSession, snap: File, stale: Stale, out: File, exp: Expected): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def med(n: Int, name: String, layer: String)(body: => Unit): Double =
      Stats.median((1 to n).map { _ => r.traced(name, layer)(r.time(body)._2)._1 })

    r.layers("codec.index_s") = med(3, "SnapshotIndexer.index", "graft.codec") {
      stale.bump()
      graft.codec.SnapshotIndexer.index(snap.getPath, 64L * 1024, conf, sidecar = false)
    }
    def decodeRate(txid: Boolean): Double = {
      val w = med(2, "SnapshotCodec.coins", "graft.codec") {
        val (_, it, close) = Inputs.decodeAll(snap, renderTxid = txid)
        var n = 0L
        try it.foreach(c => n += c.script.length) finally close()
        require(n > 0)
      }
      exp.coins / w
    }
    r.layers("codec.decode_rows_per_s") = decodeRate(txid = true)
    r.layers("codec.decode_notxid_rows_per_s") = decodeRate(txid = false)

    def scan(df: => DataFrame): Double = med(2, "utxo source scan", "graft.sources") {
      df.write.format("noop").mode("overwrite").save()
    }
    r.layers("sources.scan_s") = scan(spark.read.format("utxo").load(snap.getPath))
    r.layers("sources.scan_notxid_s") = scan(spark.read.format("utxo").load(snap.getPath).drop("txid"))
    val buckets = {
      val rows = UtxoConvert.clusterRowsPerBucket(spark)
      math.min(4096L, math.max(spark.sparkContext.defaultParallelism.toLong,
        (exp.coins + rows - 1) / rows)).toInt
    }
    r.layers("sources.sample_bounds_s") = med(3, "UtxoConvert.sampleScriptBounds", "graft.sources") {
      UtxoConvert.sampleScriptBounds(snap.getPath, buckets)
    }
    r.layers("tools.stamp_s") = med(3, "FooterSort.stamp", "graft.tools") {
      graft.tools.FooterSort.stamp(out.getPath, Seq("script"), unsigned = Checks.Unsigned)
    }
  }

  /** The lookup shapes. The `plan` span covers reading the footers,
    * building the filter and planning (`executedPlan`); `exec` runs it.
    */
  final class Queries(r: Run, spark: SparkSession, path: String) {
    private def run[T](build: => DataFrame)(collect: DataFrame => T): T = {
      val df = r.trace.span("plan", "lookup") { val d = build; d.queryExecution.executedPlan; d }
      r.trace.span("exec", "lookup", Some(spark.sparkContext))(collect(df))
    }

    def point(key: Array[Byte]): Seq[Checks.LookupRow] =
      run {
        UtxoConvert.readConverted(spark, path)
          .filter(col("script") === lit(key))
          .select("txid", "vout", "amount", "height")
          .orderBy("height")
      }(_.collect().toSeq.map(x => Checks.LookupRow(x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))))

    /** (count, sum(height), max(amount)) of p2sh coins, and whether the
      * optimized plan carries the prefix range ScriptClassPrefixRule adds.
      */
    def range(): ((Long, Long, Long), Boolean) = {
      var rewritten = false
      val row = run {
        UtxoConvert.readConverted(spark, path)
          .filter(expr("script_type(script) = 'p2sh'"))
          .agg(count(lit(1)), sum(col("height")), max(col("amount")))
      } { df =>
        rewritten = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
          .exists(_.find {
            case GreaterThanOrEqual(a: Attribute, _: Literal) => a.name == "script"
            case _ => false
          }.isDefined)
        df.collect().head
      }
      ((row.getLong(0), row.getLong(1), row.getLong(2)), rewritten)
    }
  }
}

/** Per-layer metric names. Every traced run reports all of them: it must
  * measure the common ones and its own workload's, and the other
  * workload's read 0.
  */
object Layers {
  val convertStage = Seq("map_stage_s", "write_stage_s", "driver_s", "task_cpu_s", "gc_s",
    "shuffle_bytes_per_row", "shuffle_write_s", "fetch_wait_s", "spill_bytes")
  private val layouts = Seq("plain", "clustered")
  val common: Seq[String] =
    Seq("trace.op_p50_untraced_s", "trace.op_p50_traced_s", "trace.overhead_pct", "jvm.peak_rss_mb")
  val utxo: Seq[String] =
    Seq("utxo.convert_plain_s", "utxo.convert_clustered_s", "utxo.lookup_round_s",
      "codec.index_s", "codec.decode_rows_per_s", "codec.decode_notxid_rows_per_s",
      "sources.scan_s", "sources.scan_notxid_s", "sources.sample_bounds_s", "tools.stamp_s") ++
    layouts.flatMap(l => convertStage.map(k => s"convert.$l.$k")) ++
    layouts.flatMap(l => Seq("files", "row_groups", "point_candidates", "hot_candidates", "bytes_per_coin")
      .map(k => s"layout.$l.$k")) ++
    Seq("lookup.point_p50_s", "lookup.hot_p50_s", "lookup.range_p50_s", "lookup.plan_s", "lookup.exec_s",
      "lookup.point_bytes_read", "lookup.point_rows_read", "lookup.hot_bytes_read",
      "lookup.range_rows_read", "lookup.tasks_per_point", "plans.range_rewritten")
  val registry: Seq[String] =
    RegistryWorkload.Entries.map(e => s"registry.${e}_s") ++
    Seq("registry.rel_s", "registry.llm_s", "registry.stream_s", "registry.geomean_s",
      "registry.task_cpu_s", "registry.gc_s", "registry.shuffle_bytes", "registry.spill_bytes")
  val all: Seq[String] = common ++ utxo ++ registry
}

/** Shared helpers over a run's spans. */
object Spans {
  def stages(r: Run, id: Long): Seq[Span] =
    r.trace.descendants(id).filter(_.layer == "spark.stage")

  def sum(ss: Seq[Span], k: String): Double = ss.map(_.metrics.getOrElse(k, 0.0)).sum

  def union(ss: Seq[Span]): Double =
    if (ss.isEmpty) 0.0
    else Stats.unionNs(ss.map(s => (s.startNs, s.endNs)), Long.MinValue, Long.MaxValue) / 1e9

  def byId(r: Run, id: Long): Span = r.trace.spans.find(_.id == id).get

  /** Untraced vs traced medians of the same operation. Operations
    * alternate (untraced first), so each traced wall is compared with the
    * mean of the untraced walls on either side of it, so that drift
    * within the run (late JIT work, host load) is not credited to tracing.
    */
  def overhead(r: Run, untraced: Seq[Double], traced: Seq[Double]): Unit =
    if (untraced.nonEmpty && traced.nonEmpty) {
      r.layers("trace.op_p50_untraced_s") = Stats.median(untraced)
      r.layers("trace.op_p50_traced_s") = Stats.median(traced)
      val ratios = traced.indices.filter(_ < untraced.size).map { k =>
        val around = untraced.slice(k, k + 2)
        traced(k) / (around.sum / around.size)
      }
      r.layers("trace.overhead_pct") = (Stats.median(ratios) - 1) * 100
    }
}
