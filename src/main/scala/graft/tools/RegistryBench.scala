package graft.tools

import org.apache.spark.sql.SparkSession

/** Whole-registry latency pass at an arbitrary scale (r8, verdict
  * item 6): `Bench` times the ~48 headline entries at sf0.1, but the
  * r7 sf1 MIRROR (correctness, not latency) was what exposed the one
  * superlinear hot loop the sf0.1 bench never saw (`sorted_common`).
  * This tool closes that blind spot for LATENCY: it executes EVERY
  * `SparkEntry.queries` entry against the given corpus with a noop
  * sink (AQE's final plan, no driver materialization beyond each
  * query's own contract) and prints one JSON line of per-entry walls.
  *
  * Usage: {{{
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.RegistryBench <sfDir> [runs]"
  * }}}
  * Per entry: one untimed warmup at sf0.001 (codegen + shuffle setup)
  * would double the wall for 165 entries — instead the JVM warms on
  * the first entries and `runs` (default 1) controls repeat timing;
  * compare entries ACROSS scales, not against their own cold start.
  *
  * Since r10 the artifact records the PER-RUN wall array alongside the
  * min (`"runs":{name:[...]}`): the r9 single-run artifacts let
  * documented host weather inflate short entries up to ~4×, which
  * forced the scaling ratchet's wall floor to 10 s — minima over
  * `runs` ≥ 3 bring the floor to 3 s (ScalingSpec). Entries whose
  * FIRST run exceeds [[RepeatCutoff]] are not repeated: no observed
  * weather fakes a minute from a sub-linear wall, and tripling the
  * declared quadratics' 300 s sf1 walls would buy nothing.
  *
  * Every timed run is a [[Metrics.capture]]. Besides the stdout line,
  * the pass writes `PROFILE_registry_<basename of sfDir>.json` to the
  * working directory: per entry the min/median/max of its walls and
  * the [[Metrics.Profile]] (stages, operators, stream batches) of its
  * fastest run, plus the failed entries by name.
  */
object RegistryBench {

  /** First-run wall above which repeats are skipped (seconds). 150 s
    * (was 60 in r10's first cut): the sf1 multimodal family sits at
    * ~100-120 s single-run — exactly the 12-14× ratchet boundary where
    * single-run weather decides pass/fail — so those six entries must
    * get minima too; the declared quadratics (250-300 s) stay skipped.
    */
  val RepeatCutoff = 150.0

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val calBefore = Calibration.sample() // weather anchor (r12 item 5)
    val sfDir = args.headOption.getOrElse(sys.error("usage: RegistryBench <sfDir> [runs] [filter]"))
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    // optional 3rd arg: comma-separated names, or ">name" = resume from
    // `name` (alphabetical) — long passes can restart where they left off
    val filter: String => Boolean = args.drop(2).headOption match {
      case Some(f) if f.startsWith(">") => n => n >= f.drop(1)
      case Some(f) => val set = f.split(",").toSet; set.contains
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-registry-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val profiles = scala.collection.mutable.LinkedHashMap[String, Seq[Metrics.Profile]]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter(n) }.foreach { case (name, fn) =>
      try {
        def once(): Metrics.Profile =
          Metrics.capture(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2
        val first = once()
        val rest =
          if (first.wallSec >= RepeatCutoff) Seq.empty
          else (2 to runs).map(_ => once())
        profiles += name -> (first +: rest)
        val all = (first +: rest).map(_.wallSec)
        System.err.println(f"[registry-bench] $name%-28s ${all.min}%8.3f s" +
          (if (all.length > 1) all.map(t => f"$t%.3f").mkString("  [", " ", "]") else ""))
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[registry-bench] $name FAILED: ${e.getMessage}")
      }
    }
    val walls = profiles.map { case (k, ps) => k -> ps.map(_.wallSec) }
    val qs = walls.map { case (k, v) => s""""$k":${f"${v.min}%.3f"}""" }.mkString("{", ",", "}")
    val rs = walls.map { case (k, v) =>
      s""""$k":${v.map(t => f"$t%.3f").mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
    val fl = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    println(s"""{"metric":"registry_total","value":${f"${walls.values.map(_.min).sum}%.3f"},"unit":"sec","entries":${walls.size},"failed":$fl,"sf":"$sfDir","queries":$qs,"runs":$rs,${Calibration.json(calBefore, Calibration.sample())}}""")
    val entries = walls.map { case (k, v) =>
      val s = v.sorted
      f""""$k":{"min_s":${s.head}%.3f,"median_s":${s(s.length / 2)}%.3f,"max_s":${s.last}%.3f,""" +
        s""""walls_s":${v.map(t => f"$t%.3f").mkString("[", ",", "]")},"profile":${profiles(k).minBy(_.wallSec).toJson}}"""
    }.mkString("{\n", ",\n", "\n}")
    val sidecar = s"PROFILE_registry_${new java.io.File(sfDir).getName}.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar),
      s"""{"sf":"$sfDir","runs":$runs,"cpus":$cpus,"failed":$fl,"entries":$entries}""" + "\n")
    System.err.println(s"[registry-bench] profiles -> $sidecar")
    spark.stop()
  }
}
