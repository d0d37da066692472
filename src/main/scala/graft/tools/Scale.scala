package graft.tools

import java.io.File
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.multimodal.Multimodal
import graft.queries.{Queries, QueriesLLM, SessionScope}
import graft.sources.UtxoConvert
import graft.streaming.{FileIngestOrder, StreamingQueries}

/** The one scale and profile harness: the paper's claims (177.5M coins
  * converted at ~507K rows/s, one address looked up in 0.632 s by
  * skipping row groups) and the engine's other scale paths, measured on
  * generated inputs of any size.
  *
  * {{{
  *   sbt "runMain graft.tools.Scale <workload> <n> [runs]"
  *   sbt "runMain graft.tools.Scale registry <sfDir> [runs] [filter]"
  * }}}
  *
  * A workload is a generator, named timed bodies and named checks:
  *  - `convert`: an `n`-coin snapshot converted plain and
  *    script-clustered;
  *  - `lookup`: an `n`-coin snapshot with one reused address (every
  *    40,000th coin, [[HotScript]]) converted plain, clustered and with
  *    a script bloom filter; per layout the hot-address query (the
  *    reference README's headline shape) and a unique-key point query,
  *    with the stats and bloom candidate row groups of each;
  *  - `ann`: `n` 64-dim vectors in 1,000 planted clusters; LSH, IVF,
  *    served IVF and IVF-PQ searches with index parameters scaled to
  *    `n`, and recall@3 against exact brute force;
  *  - `dedup`: `n` documents with injected exact and near duplicates
  *    through the registry's dedup entries, plus `n` vectors with
  *    injected near copies through the embedding dedup;
  *  - `stream`: `n` events in 64 files and `n/10` documents in 16
  *    files, on the RocksDB state store: tumbling windows, recovery
  *    after a kill, dedup, keyed state, the four simhash dedup streams
  *    against their batch contracts, upsert and the eventlog source;
  *  - `media`: `n` rows of real image, audio and video containers
  *    through feature extraction, keyframe and GOP decode and resize;
  *  - `registry`: every registry entry (or a comma-separated subset;
  *    `>name` resumes from `name`) over the corpus in `sfDir`, with a
  *    noop sink. It keeps the `registry_total` stdout line that
  *    `ScalingSpec` reads in the committed `BENCH_sf*` artifacts.
  *
  * The harness owns everything else, once:
  *  - the session: `local[$SPARK_GRAFT_CPUS]` (default: all cores),
  *    AQE, UTC, no UI, spill under the scratch dir;
  *  - one scratch dir per run, on `/dev/shm` when writable, else the
  *    JVM temp dir; every generated input lives in it and it is deleted
  *    at exit. `LQB_KEEP=1` keeps the `lookup` layouts
  *    (`<scratch>/{plain,clustered,bloom}`) for
  *    `scripts/duckdb_headline.py`;
  *  - the timer: one untimed warm-up, then `runs` (default 3) timed
  *    runs, each a [[Metrics.capture]]; a single run is taken cold,
  *    without the warm-up. Registry entries skip the warm-up and are not
  *    repeated after a first run of [[RepeatCutoff]] or more;
  *  - [[Calibration]] before and after, and the peak RSS;
  *  - one artifact, `PROFILE_<workload>_<n>.json` (for `registry`, `n`
  *    is the base name of `sfDir`) in the working directory: the run's
  *    facts, `generate_s` per generator step, per body its `walls_s`,
  *    `min_s` and the `profile` of its fastest run, and every check's
  *    `value` and `ok`. A check without a threshold (recalls, candidate
  *    counts) is always `ok`. A failed check, or a workload that throws,
  *    is written to the artifact and then fails the run.
  */
object Scale {

  /** The reused address of the `lookup` workload: a fixed mid-range
    * p2pkh (hash20 = 0x88 bytes, inside every plain file's script span,
    * so stats-only skipping cannot prune it by accident of placement).
    */
  val HotScript: Array[Byte] =
    graft.codec.ScriptCodec.decompress(0, Array.fill(20)(0x88.toByte))

  private val HotEvery = 40000

  /** First-run wall (seconds) above which a registry entry is not
    * repeated: the sf1 multimodal family sits at ~100-120 s and needs
    * minima, the declared quadratics (250-300 s) do not.
    */
  val RepeatCutoff = 150.0

  /** Peak resident set of this JVM in bytes (Linux VmHWM), -1 unknown. */
  def peakRssBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong * 1024
      }.getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  final case class Check(value: String, ok: Boolean)

  /** One workload run: its session, size, scratch dir and what it has
    * recorded so far.
    */
  final class Run(val spark: SparkSession, val arg: String, val runs: Int,
      val scratch: File, val filter: Option[String]) {
    lazy val n: Long = arg.toLong
    val cpus: Int = spark.sparkContext.defaultParallelism
    val generated = mutable.LinkedHashMap.empty[String, Double]
    val bodies = mutable.LinkedHashMap.empty[String, Seq[Metrics.Profile]]
    val facts = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.LinkedHashMap.empty[String, Check]
    private val dirs = new java.util.concurrent.atomic.AtomicInteger

    /** A path under the scratch dir that no other call returns. */
    def fresh(name: String): String =
      new File(scratch, s"${name}_${dirs.incrementAndGet()}").getPath

    def generate[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      generated(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    /** The timer; returns the last timed run's result. Under
      * `registryRule` there is no warm-up and no repeat after a first
      * run of [[RepeatCutoff]] or more; otherwise a warm-up precedes
      * the runs when there is more than one.
      */
    def time[T](name: String, registryRule: Boolean = false)(body: => T): T = {
      def once(): (T, Metrics.Profile) = {
        try Runtime.getRuntime.exec(Array("sync")).waitFor() catch { case NonFatal(_) => () }
        Metrics.capture(spark)(body)
      }
      if (runs > 1 && !registryRule) body
      val first = once()
      val rest =
        if (registryRule && first._2.wallSec >= RepeatCutoff) Seq.empty
        else (2 to runs).map(_ => once())
      val all = first +: rest
      bodies(name) = all.map(_._2)
      val walls = all.map(_._2.wallSec)
      System.err.println(f"[scale] $name%-32s ${walls.min}%8.3f s " +
        walls.map(secs).mkString("[", " ", "]"))
      all.last._1
    }

    def minWall(name: String): Double = bodies(name).map(_.wallSec).min

    def check(name: String, ok: Boolean, value: Any): Unit = {
      checks(name) = Check(json(value), ok)
      if (!ok) System.err.println(s"[scale] CHECK FAILED $name = ${json(value)}")
    }

    /** A check value without a threshold. */
    def record(name: String, value: Any): Unit = check(name, ok = true, value)

    def fact(name: String, value: Any): Unit = facts(name) = json(value)
  }

  private val workloads: Seq[(String, Run => Unit)] = Seq(
    "convert" -> (convert _), "lookup" -> (lookup _), "ann" -> (ann _), "dedup" -> (dedup _),
    "stream" -> (stream _), "media" -> (media _), "registry" -> (registry _))

  private val usage = "usage: Scale <convert|lookup|ann|dedup|stream|media> <n> [runs]" +
    " | Scale registry <sfDir> [runs] [filter]"

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    if (args.length < 2 || !workloads.exists(_._1 == args(0))) sys.error(usage)
    val workload = args(0)
    val base = new File("/dev/shm")
    val scratch = java.nio.file.Files.createTempDirectory(
      (if (base.isDirectory && base.canWrite) base
       else new File(System.getProperty("java.io.tmpdir"))).toPath,
      s"graft_scale_${workload}_").toFile
    val keep = workload == "lookup" && sys.env.get("LQB_KEEP").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scale-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spill").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try {
      val (artifact, ok) = run(spark, workload, args(1), args.lift(2).fold(3)(_.toInt),
        scratch, args.lift(3))
      val out = s"PROFILE_${workload}_${label(workload, args(1))}.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), artifact + "\n")
      System.err.println(s"[scale] profile -> $out")
      ok
    } finally {
      spark.stop()
      if (keep) {
        FileUtils.deleteQuietly(new File(scratch, "spill"))
        System.err.println(s"[scale] LQB_KEEP=1: layouts kept under $scratch")
      } else FileUtils.deleteQuietly(scratch)
    }
    if (!ok) sys.exit(1)
  }

  private def label(workload: String, arg: String): String =
    if (workload == "registry") new File(arg).getName else arg

  /** Run one workload on `spark` with its inputs under `scratch`;
    * returns the artifact and whether every check held.
    */
  def run(spark: SparkSession, workload: String, arg: String, runs: Int, scratch: File,
      filter: Option[String] = None): (String, Boolean) = {
    val body = workloads.collectFirst { case (`workload`, b) => b }
      .getOrElse(throw new IllegalArgumentException(usage))
    val r = new Run(spark, arg, runs, scratch, filter)
    val before = Calibration.sample()
    try body(r) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        r.check("completed", ok = false, e.toString)
    }
    val cal = Calibration.json(before, Calibration.sample())
    if (workload == "registry") println(registryLine(r, cal))
    def obj(kv: Iterable[(String, String)], sep: String = ",") =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", sep, "}")
    val bodies = r.bodies.map { case (k, ps) =>
      val w = ps.map(_.wallSec)
      k -> (s"""{"walls_s":${w.map(secs).mkString("[", ",", "]")},"min_s":${secs(w.min)},""" +
        s""""profile":${ps.minBy(_.wallSec).toJson}}""")
    }
    val checks = r.checks.map { case (k, c) => k -> s"""{"value":${c.value},"ok":${c.ok}}""" }
    val failed = r.checks.collect { case (k, c) if !c.ok => k }
    val artifact =
      s"""{"workload":${str(workload)},"n":${str(label(workload, arg))},"input":${str(arg)},""" +
      s""""runs":$runs,"cpus":${r.cpus},"heap_max_bytes":${Runtime.getRuntime.maxMemory},""" +
      s""""driver_mem_env":${str(sys.env.getOrElse("SPARK_DRIVER_MEM", "(default 8g)"))},""" +
      s""""generate_s":${obj(r.generated.map { case (k, v) => k -> secs(v) })},""" +
      s""""facts":${obj(r.facts)},"bodies":${obj(bodies, ",\n")},""" +
      s""""checks":${obj(checks)},"failed_checks":${json(failed)},""" +
      s""""peak_rss_bytes":${peakRssBytes()},$cal}"""
    (artifact, failed.isEmpty)
  }

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def secs(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)

  private def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else "%.4f".formatLocal(Locale.ROOT, d)
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dirBytes(p: String): Long = {
    val f = new File(p)
    if (f.exists()) FileUtils.sizeOfDirectory(f) else -1L
  }

  /** Same row count and no row on either side missing from the other. */
  private def sameRows(got: DataFrame, want: DataFrame): Boolean =
    got.count() == want.count() && got.except(want).isEmpty && want.except(got).isEmpty

  /** The seed-7 synthetic snapshot of `r.n` coins, with the reused
    * address injected when `hot`.
    */
  private def snapshot(r: Run, hot: Boolean): String = {
    val snap = new File(r.scratch, "snapshot.bin")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap), 1 << 20)
    try graft.codec.SnapshotGen.writeSynthetic(out, r.n.toInt, seed = 7L,
      hotEvery = if (hot) HotEvery else 0, hotScript = if (hot) HotScript else null)
    finally out.close()
    r.fact("snapshot_bytes", snap.length())
    snap.getPath
  }

  // ---- convert

  private def convert(r: Run): Unit = {
    val snap = r.generate("snapshot")(snapshot(r, hot = false))
    for ((name, range) <- Seq("plain" -> false, "clustered" -> true)) {
      val out = new File(r.scratch, name)
      r.time(s"convert_$name") {
        FileUtils.deleteQuietly(out)
        out.mkdirs()
        UtxoConvert.convert(r.spark, snap, out.getPath, partitions = r.cpus, rangePartition = range)
      }
      val rows = r.spark.read.parquet(out.getPath).count()
      r.check(s"${name}_rows", rows == r.n, rows)
      r.fact(s"${name}_best_rows_per_s", (r.n / r.minWall(s"convert_$name")).toLong)
      r.fact(s"${name}_parquet_bytes", dirBytes(out.getPath))
    }
    r.fact("rows_per_bucket", UtxoConvert.clusterRowsPerBucket(r.spark))
  }

  // ---- lookup

  private def lookup(r: Run): Unit = {
    val spark = r.spark
    val snap = r.generate("snapshot")(snapshot(r, hot = true))
    val layouts = Seq(("plain", false, false), ("clustered", true, false), ("bloom", false, true))
      .map { case (name, range, bloom) =>
        val out = new File(r.scratch, name).getPath
        r.generate(s"convert_$name")(UtxoConvert.convert(spark, snap, out,
          partitions = r.cpus, rangePartition = range, bloomFilterScript = bloom))
        name -> out
      }
    val hotHex = HotScript.map("%02x".format(_)).mkString
    // the unique key: the smallest script at or above the halfway
    // prefix (never the hot key, which starts 0x76)
    val pointHex = spark.read.parquet(layouts.head._2).filter(hex(col("script")) >= "80")
      .agg(min(hex(col("script")))).collect()(0).getString(0)
    def query(path: String, keyHex: String): Long =
      spark.read.parquet(path)
        .filter(col("script") === unhex(lit(keyHex)))
        .select("txid", "vout", "amount", "height")
        .orderBy("height")
        .collect().length.toLong
    for ((name, out) <- layouts) {
      val hotRows = r.time(s"${name}_hot")(query(out, hotHex))
      val pointRows = r.time(s"${name}_point")(query(out, pointHex))
      r.check(s"${name}_hot_rows", hotRows == r.n / HotEvery, hotRows)
      r.check(s"${name}_point_rows", pointRows >= 1, pointRows)
      // candidate row groups: the hot key is present in many groups, so
      // only clustering skips them; the unique key lives in one group,
      // which is where the bloom filter closes the stats-only gap
      val (total, hotStats) = LayoutReport.statsMatch(out, "script", hotHex)
      r.record(s"${name}_row_groups", total)
      r.record(s"${name}_hot_stats_candidates", hotStats)
      r.record(s"${name}_point_stats_candidates", LayoutReport.statsMatch(out, "script", pointHex)._2)
      if (name == "bloom") {
        r.record("bloom_hot_bloom_candidates", LayoutReport.bloomMatch(out, "script", hotHex)._2)
        r.record("bloom_point_bloom_candidates", LayoutReport.bloomMatch(out, "script", pointHex)._2)
      }
    }
    r.fact("reference_headline_s", 0.632)
  }

  // ---- ann

  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** Vector `id`: its cluster's center (`id mod 1000`, a label-seeded
    * gaussian point, so the centers do not sit on a 1-D curve) plus
    * seeded noise; a query's true neighbours are its cluster mates.
    */
  def genVec(id: Long): Vec = {
    val label = (id % 1000L).toInt
    val cr = new java.util.SplittableRandom(
      new java.util.SplittableRandom(label.toLong).nextLong() ^ 0xce17e5L)
    val center = Array.fill(64)(cr.nextGaussian())
    val r = new java.util.SplittableRandom(
      new java.util.SplittableRandom(id).nextLong() ^ 0x5eedL)
    Vec(id, Array.tabulate(64)(j => (center(j) + 0.35 * r.nextGaussian()).toFloat), label)
  }

  private def ann(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val dir = new File(r.scratch, "vecs").getPath
    r.generate("vectors") {
      spark.range(r.n).as[Long].map(genVec).repartition(r.cpus)
        .write.parquet(s"$dir/embeddings.parquet")
    }
    // index parameters grow with the corpus: ~64 vectors per LSH
    // bucket, sqrt-scaled IVF cells, and a PQ rerank depth past the
    // code-tie width (~the planted cluster size)
    val bits = math.max(6, math.ceil(math.log(r.n / 64.0) / math.log(2)).toInt)
    val ivfK = math.max(16, math.round(math.sqrt(r.n.toDouble) / 2).toInt)
    val pqRerank = math.max(256, (r.n / 1000).toInt)
    val ivfIdx = s"$dir/ivf_index_k$ivfK"
    r.fact("bits_per_table", bits)
    r.fact("ivf_k", ivfK)
    val searches: Seq[(String, SparkSession => DataFrame)] = Seq(
      "lsh_4t" -> (QueriesLLM.annLsh(_, dir, 4, bits)),
      "lsh_8t" -> (QueriesLLM.annLsh(_, dir, 8, bits)),
      "ivf_p4" -> (QueriesLLM.annIvf(_, dir, ivfK, 4)),
      "ivf_p8" -> (QueriesLLM.annIvf(_, dir, ivfK, 8)),
      "ivf_p4_served" -> (QueriesLLM.annIvfFrom(_, dir, ivfIdx, 4)),
      "pq_p4" -> (QueriesLLM.annIvfPq(_, dir, ivfK, 4, rerank = pqRerank)))
    for ((name, q) <- searches) {
      if (name == "ivf_p4_served") r.time("ivf_index_build")(QueriesLLM.ivfIndexWrite(spark, dir, ivfIdx, ivfK))
      // the PQ index is memoized per session: a new session pays the
      // build (KMeans fits and assignment), the session's own calls
      // are search-only
      if (name == "pq_p4") r.time("ann_pq_p4_first_call")(noop(q(spark.newSession())))
      r.time(s"ann_$name")(noop(q(spark)))
    }
    // int8 brute force is O(queries × n) by contract; time it only
    // where that is sane
    if (r.n <= 100000L) r.time("ann_quantized_brute")(noop(QueriesLLM.annQuantized(spark, dir)))

    // ground truth: exact float top-3 for the first 100 registry
    // queries (vec_id % 100 == 0)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        graft.functions.GraftFunctions.norm(col("embedding")).as("nrm"))
    val qs = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 10000)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id"))
    val truth = qs.crossJoin(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cn")))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("cand_id"))
      .localCheckpoint()
    val nTruth = truth.count()
    r.record("truth_pairs", nTruth)
    for ((name, q) <- searches) {
      val hit = truth.join(q(spark).select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi").count()
      r.record(s"recall_$name", hit.toDouble / nTruth)
    }
  }

  // ---- dedup

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Document `id` of an `nDocs` corpus: 85% base docs (60-140 words,
    * ~30% stopwords from a 100-word vocab, content words from a 1M-word
    * space, so unrelated docs share no 3-shingles), 10% near-dups (a
    * base doc with 3 seeded substitutions, 3-shingle Jaccard ≈ 0.8) and
    * 5% exact copies. The duplicate structure is id arithmetic only.
    */
  def genDoc(id: Long, nDocs: Long): Doc = {
    val nBase = (nDocs * 85L) / 100L
    val nNear = (nDocs * 10L) / 100L
    def baseText(baseId: Long): Array[String] = {
      // seeded through a split: `baseId * GOLDEN_GAMMA` would put every
      // doc on one lattice and generate thousands of genuine near-dups
      val r = new java.util.SplittableRandom(
        new java.util.SplittableRandom(baseId).nextLong() ^ 17L)
      Array.tabulate(60 + r.nextInt(81)) { _ =>
        if (r.nextDouble() < 0.3) "s" + r.nextInt(100) else "w" + r.nextInt(1000000)
      }
    }
    val words: Array[String] =
      if (id < nBase) baseText(id)
      else if (id < nBase + nNear) {
        val b = baseText(id - nBase)
        val r = new java.util.SplittableRandom(
          new java.util.SplittableRandom(id).nextLong() ^ 29L)
        (0 until 3).foreach { k => b(r.nextInt(b.length)) = s"sub${id}_$k" }
        b
      } else baseText((id - nBase - nNear) % nBase)
    val text = words.mkString(" ")
    Doc(id, text, Seq("en", "de", "fr", "zh")((id % 4).toInt), "src" + (id % 10), text.length.toLong)
  }

  /** Embedding `id` for the embedding dedup: unit-scale 64-dim
    * gaussians, and every `id % 64 == 63` a near copy (cos ≈ 0.999) of
    * its predecessor.
    */
  def genDedupVec(id: Long): (Long, Array[Float], Int) = {
    val base = if (id % 64 == 63) id - 1 else id
    val r = new java.util.SplittableRandom(
      new java.util.SplittableRandom(base).nextLong() ^ 0x7ec5L)
    val v = Array.fill(64)(r.nextGaussian())
    if (id % 64 == 63) {
      val p = new java.util.SplittableRandom(
        new java.util.SplittableRandom(id).nextLong() ^ 0x0ffe7L)
      var j = 0
      while (j < 64) { v(j) += 0.05 * p.nextGaussian(); j += 1 }
    }
    (id, v.map(_.toFloat), (id % 10).toInt)
  }

  private def dedup(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val n = r.n
    val dir = new File(r.scratch, "docs").getPath
    r.generate("documents") {
      spark.range(n).as[Long].map(genDoc(_, n))
        .repartition(r.cpus) // range() emits ordered slabs; spread dup families
        .write.parquet(s"$dir/documents.parquet")
    }
    r.generate("embeddings") {
      spark.range(n).as[Long].map(genDedupVec).toDF("vec_id", "embedding", "label")
        .repartition(r.cpus).write.parquet(s"$dir/embeddings.parquet")
    }
    for (name <- Seq("x_exact_dedup", "x_dedup_stats", "x_minhash_lsh",
        "x_simhash_near_dup", "x_dedup_clusters_lsh", "x_near_dedup_keep_lsh"))
      r.time(name)(noop(graft.SparkEntry.queries(name)(spark, dir)))
    r.fact("minhash_docs_per_s", (n / r.minWall("x_minhash_lsh")).toLong)
    // τ = 0.7, not the oracled 0.3: for isotropic 64-dim gaussians cos
    // σ ≈ 0.125, so 0.3 would call ~93% of random vectors duplicates
    val bits = math.max(6, math.ceil(math.log(n / 64.0) / math.log(2)).toInt)
    r.fact("embed_bits_per_table", bits)
    r.time("embed_dedup_lsh")(noop(QueriesLLM.embedDedupLsh(spark, dir, 4, bits, tau = 0.7)))

    val nBase = (n * 85L) / 100L
    val nNear = (n * 10L) / 100L
    r.fact("exact_dups_injected", n - nBase - nNear)
    r.record("exact_dups_found", QueriesLLM.dedupStats(spark, dir).collect()(0).getAs[Long]("n_dups"))
    r.record("candidate_pairs", QueriesLLM.minhashLshPairs(spark, dir).count())
    r.fact("all_pairs_avoided", n * (n - 1) / 2)
    r.fact("near_pairs_injected", nNear)
    val injected = (nBase until nBase + nNear).map(i => (i - nBase, i)).toDF("doc_a", "doc_b")
    val cand = QueriesLLM.minhashLshPairs(spark, dir)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val hit = injected.join(cand, Seq("doc_a", "doc_b"), "left_semi").count()
    r.record("near_pairs_recalled", hit)
    r.record("lsh_recall", hit.toDouble / nNear)
    val verdicts = QueriesLLM.embedDedupLsh(spark, dir, 4, bits, tau = 0.7).localCheckpoint()
    r.record("embed_verdicts", verdicts.count())
    // an injected near copy is recalled iff its own base is the canonical
    val vecHit = verdicts
      .filter(pmod(col("dup_id"), lit(64)) === 63 && col("canonical_id") === col("dup_id") - 1)
      .count()
    r.fact("embed_pairs_injected", n / 64)
    r.record("embed_pairs_recalled", vecHit)
    r.record("embed_recall", vecHit.toDouble / (n / 64))
  }

  // ---- stream

  /** `n` events in `nFiles` parquet files, every column fixed integer
    * arithmetic on `id`: `nUsers` users, 5 event types (from the
    * quotient digit of the user hash, so the (user, type) key space is
    * not collapsed), every 128th event id a duplicate, and timestamps
    * monotone in id, so watermark drops are deterministic (none).
    */
  def generate(spark: SparkSession, dir: String, n: Long, nFiles: Int, nUsers: Long): Unit = {
    val base = lit(1704067200000L) // 2024-01-01 UTC, millis
    spark.range(0, n, 1, nFiles)
      .select(
        when(col("id") % 128 === 127, col("id") - 1).otherwise(col("id")).as("event_id"),
        timestamp_millis(base + col("id") * 1000L).as("ts"),
        pmod(col("id") * 2654435761L, lit(nUsers)).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"), lit("scroll"), lit("hover")),
          (pmod(expr(s"id * 2654435761 DIV $nUsers"), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(col("id") * 48271L, lit(100000L)).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\":"), pmod(col("id"), lit(97)), lit("}")).as("props"))
      .write.mode("overwrite").parquet(dir)
    // the file source orders new files by modification time: pin it to
    // path (= event-time) order
    FileIngestOrder.pinMtimesToPathOrder(new org.apache.hadoop.conf.Configuration(), dir)
  }

  /** `n` 32-token documents in `nFiles` files: tokens carry (base,
    * position), so unrelated docs share none; every `id % 64 == 63` is
    * an exact copy of its predecessor and every `id % 64 == 31` a near
    * copy (31 of 32 tokens). Files are mtime-pinned in id order, which
    * the in-order dedup's batch contract requires.
    */
  def generateDocs(spark: SparkSession, dir: String, n: Long, nFiles: Int): Unit = {
    val slot = pmod(col("id"), lit(64))
    val base = when(slot === 63 || slot === 31, col("id") - 1).otherwise(col("id"))
    val tailId = when(slot === 63, col("id") - 1).otherwise(col("id"))
    spark.range(0, n, 1, nFiles)
      .select(col("id").as("doc_id"),
        array_join(concat(
          transform(sequence(lit(0), lit(30)), i => concat(lit("w"), base, lit("_"), i)),
          array(concat(lit("t"), tailId))), " ").as("text"))
      .write.mode("overwrite").parquet(dir)
    FileIngestOrder.pinMtimesToPathOrder(new org.apache.hadoop.conf.Configuration(), dir)
  }

  /** The corpus parts copied into `watch` in shuffled arrival order
    * (adjacent pairs swapped, so every even part arrives a batch after
    * its successor), plus a sentinel doc that moves the final watermark
    * past every real doc. Returns the watermark delay in ids: the worst
    * lateness over adjacent pairs from the parts' actual id ranges, plus
    * 64 ids of slack (extra delay only buffers longer).
    */
  private def shuffledArrival(r: Run, docs: String, watch: String, nDocs: Long): Long = {
    val parts = new File(docs).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val ranges = parts.map { f =>
      val ids = r.spark.read.parquet(f.getPath).agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      (ids.getLong(0), ids.getLong(1))
    }
    val delay = ranges.indices.dropRight(1).map(i => ranges(i + 1)._2 - ranges(i)._1).max + 64
    new File(watch).mkdirs()
    parts.indices.foreach { pos =>
      val slice = if (pos % 2 == 0) math.min(pos + 1, parts.length - 1) else pos - 1
      // a copy, not a link: pinning a link's mtime would rewrite the
      // original part's and undo the in-order pin
      java.nio.file.Files.copy(parts(slice).toPath, new File(watch, f"arr$pos%04d.parquet").toPath)
    }
    val sentinel = r.fresh("et_sentinel")
    r.spark.range(1).select(lit(nDocs - 1 + delay + 2).as("doc_id"), lit("sentinel").as("text"))
      .coalesce(1).write.parquet(sentinel)
    java.nio.file.Files.move(
      new File(sentinel).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      new File(watch, f"arr${parts.length}%04d.parquet").toPath)
    FileIngestOrder.pinMtimesToPathOrder(new org.apache.hadoop.conf.Configuration(), watch)
    delay
  }

  private def stream(r: Run): Unit = SessionScope.withConf(r.spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { s =>
    val n = r.n
    val nFiles = 64
    val nDocs = n / 10
    val docFiles = 16
    val eventsDir = new File(r.scratch, "events").getPath
    val corpus = new File(r.scratch, "corpus").getPath
    val docsDir = s"$corpus/documents.parquet"
    val watch = new File(r.scratch, "corpus_et").getPath
    r.generate("events")(generate(s, eventsDir, n, nFiles, nUsers = 100000L))
    r.generate("documents")(generateDocs(s, docsDir, nDocs, docFiles))
    val delay = r.generate("shuffled_arrival")(shuffledArrival(r, docsDir, watch, nDocs))
    r.fact("delay_ids", delay)

    def events(): DataFrame = {
      val tsType = StreamingQueries.eventsTsType(s, eventsDir)
      s.readStream.schema(StreamingQueries.eventsRawSchema(tsType))
        .option("maxFilesPerTrigger", nFiles / 8)
        .parquet(eventsDir)
        .withColumn("ts", Queries.normalizeTs("ts", tsType))
    }
    // transformWithState checkpoints hold named state variables
    def stateRows(ckpt: String, stateVar: Option[String]): Long =
      try {
        val reader = s.read.format("statestore").option("path", ckpt)
        stateVar.fold(reader)(v => reader.option("stateVarName", v)).load().count()
      } catch { case NonFatal(_) => -1L }

    // drain every partition so the state stores commit; count output
    // rows without collecting them
    def counted(name: String, mode: OutputMode, stateVar: Option[String])(q: => DataFrame): Unit = {
      val (rows, ckpt) = r.time(name) {
        val ckpt = r.fresh(s"ck_$name")
        val acc = s.sparkContext.longAccumulator(s"${name}_out_rows")
        val query = q.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
          .foreachBatch { (b: Dataset[Row], _: Long) => acc.add(b.count()) }
          .start()
        try query.processAllAvailable() finally query.stop()
        (acc.value.longValue, ckpt)
      }
      r.record(s"${name}_output_rows", rows)
      r.record(s"${name}_state_rows", stateRows(ckpt, stateVar))
      r.fact(s"${name}_checkpoint_bytes", dirBytes(ckpt))
    }
    counted("tumbling", OutputMode.Update, None)(StreamingQueries.tumbling(events()))

    // recovery: the same tumbling query killed after its first
    // micro-batch and restarted from its checkpoint must give the
    // windows an uninterrupted run at the same cadence gives
    def tumblingInto(ckpt: String, out: ConcurrentHashMap[(Long, String), Long]): StreamingQuery =
      StreamingQueries.tumbling(events()).writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.collect().foreach(row => out.put((row.getLong(0), row.getString(1)), row.getLong(2)))
        }
        .start()
    val ref = new ConcurrentHashMap[(Long, String), Long]()
    val q = tumblingInto(r.fresh("ck_ref"), ref)
    try q.processAllAvailable() finally q.stop()
    val recovered = r.time("recovery") {
      val ckpt = r.fresh("ck_recover")
      val out = new ConcurrentHashMap[(Long, String), Long]()
      val q1 = tumblingInto(ckpt, out)
      while (!q1.recentProgress.exists(_.numInputRows > 0)) {
        if (!q1.isActive)
          throw q1.exception.map(e => new IllegalStateException(e.message))
            .getOrElse(new IllegalStateException("recovery query ended before first batch"))
        Thread.sleep(50)
      }
      q1.stop()
      val q2 = tumblingInto(ckpt, out)
      try q2.processAllAvailable() finally q2.stop()
      out
    }
    r.check("recovery", recovered.size == ref.size &&
      ref.asScala.forall { case (k, v) => recovered.get(k) == v }, recovered.size)

    counted("dedup", OutputMode.Append, None)(StreamingQueries.dedup(events()))
    counted("stateful_totals", OutputMode.Update, Some("totals"))(
      StreamingQueries.statefulTotals(s, events()))

    // the four simhash dedup streams against their batch contracts:
    // in order and shuffled arrival, unbounded and retention-bounded
    // state. Equality is taken on the distinct output (foreachBatch is
    // at-least-once; each doc rolls up in exactly one batch) without
    // the sentinel
    val want = r.time("simhash_batch_contract")(
      QueriesLLM.arrivalDedupSimhash(s, corpus).localCheckpoint())
    val wantWindow = QueriesLLM.arrivalDedupSimhashWindow(s, corpus).localCheckpoint()
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val forms: Seq[(String, String, Int, DataFrame, DataFrame => DataFrame)] = Seq(
      ("simhash_dedup", docsDir, docFiles / 8, want, StreamingQueries.simhashBandVerdicts(s, _)),
      ("simhash_dedup_window", docsDir, docFiles / 8, wantWindow,
        StreamingQueries.simhashBandVerdictsWindow(s, _)),
      ("simhash_dedup_eventtime", watch, 1, want,
        StreamingQueries.simhashBandVerdictsEventTime(s, _, delay)),
      ("simhash_dedup_eventtime_window", watch, 1, wantWindow,
        StreamingQueries.simhashBandVerdictsEventTime(s, _, delay, QueriesLLM.SimhashWindow)))
    for ((name, src, perTrigger, contract, verdicts) <- forms) {
      val (out, ckpt) = r.time(name) {
        val out = r.fresh(s"${name}_out")
        val ckpt = r.fresh(s"ck_$name")
        val query = verdicts(s.readStream.schema(docSchema).option("maxFilesPerTrigger", perTrigger)
            .parquet(src))
          .writeStream.outputMode(OutputMode.Append).option("checkpointLocation", ckpt)
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            StreamingQueries.arrivalVerdictRollup(b).write.mode("append").parquet(out)
            ()
          }
          .start()
        try query.processAllAvailable() finally query.stop()
        (out, ckpt)
      }
      val got = s.read.parquet(out).distinct().filter(col("doc_id") < nDocs)
      r.check(s"${name}_equal", sameRows(got, contract), got.count())
      val seen = stateRows(ckpt, Some("seen"))
      r.record(s"${name}_state_rows", seen)
      if (src == watch) r.record(s"${name}_buf_state_rows", stateRows(ckpt, Some("buf")))
      if (name.endsWith("window")) r.fact(s"${name}_state_bound_ratio", seen.toDouble / (4L * nDocs))
      r.fact(s"${name}_checkpoint_bytes", dirBytes(ckpt))
    }

    // upsert: 4 batches, each merge rewrites the keyed target
    val (upserted, target) = r.time("upsert") {
      val target = r.fresh("upsert_target")
      (StreamingQueries.runUpsert(s, eventsDir, target, r.fresh("ck_upsert"),
        maxFilesPerTrigger = Some(nFiles / 4)).count(), target)
    }
    r.record("upsert_output_rows", upserted)
    r.fact("upsert_target_bytes", dirBytes(target))

    // the eventlog source: the events read as an offset-tracked log of
    // 64 segments in 8 admission-limited batches; the offsets must tile
    // the log and the final aggregate equal the batch read
    def hourly(df: DataFrame): DataFrame =
      df.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_millis(col("w.start")).as("ms"), col("event_type"), col("cnt"))
    val (inputRows, batches) = r.time("eventlog_source") {
      val query = hourly(s.readStream.format("eventlog")
          .option("partitions", nFiles.toString)
          .option("maxRowsPerTrigger", math.max(1L, n / 8).toString)
          .load(eventsDir))
        .writeStream.outputMode(OutputMode.Complete)
        .option("checkpointLocation", r.fresh("ck_eventlog"))
        .format("memory").queryName("scale_eventlog")
        .start()
      try query.processAllAvailable() finally query.stop()
      (query.recentProgress.map(_.numInputRows).sum, query.recentProgress.count(_.numInputRows > 0))
    }
    val got = s.table("scale_eventlog")
    r.check("eventlog_equal", inputRows == n && sameRows(got, hourly(s.read.parquet(eventsDir))),
      got.count())
    r.record("eventlog_batches", batches)
  }

  // ---- media

  private def media(r: Run): Unit = {
    val spark = r.spark
    val n = r.n
    val dir = new File(r.scratch, "media").getPath
    r.generate("media")(Multimodal.syntheticMedia(spark, n, r.cpus).write.parquet(dir))
    r.fact("parquet_bytes", dirBytes(dir))
    val media = spark.read.parquet(dir)
    def ones(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))

    // features: full payload decode + stats, counted corpus-wide; the
    // marker MP4s (even ids) model an out-of-subset codec and must stay
    // quarantined, the AVC MP4s (odd ids) must decode
    val feat = r.time("features") {
      Multimodal.extractFeatures(spark, media)
        .agg(count(lit(1)), ones(col("decode_ok")), ones(col("payload_ok")),
          ones(col("container") === "mp4"),
          ones(col("container") === "mp4" && col("media_id") % 2 === 0))
        .collect()(0)
    }
    val marker = feat.getLong(4)
    r.check("feature_rows", feat.getLong(0) == n, feat.getLong(0))
    r.check("headers_decoded", feat.getLong(1) == n, feat.getLong(1))
    r.check("payload_ok", feat.getLong(2) == n - marker, feat.getLong(2))
    r.fact("video_rows", feat.getLong(3))
    r.fact("marker_video_rows", marker)

    // every AVC clip has 4 + id%5 frames, every 3rd one a sync sample
    val avc = media.filter(col("kind") === "video" && col("media_id") % 2 === 1)
    val kf = r.time("keyframes") {
      Multimodal.decodeKeyframes(spark, media)
        .agg(ones(col("decode_ok")), countDistinct(when(col("decode_ok"), col("media_id"))))
        .collect()(0)
    }
    val expectKf = avc.agg(sum((col("media_id") % 5 + 6) / lit(3) cast "long"), count(lit(1)))
      .collect()(0)
    r.check("keyframes", kf.getLong(0) == expectKf.getLong(0), kf.getLong(0))
    r.check("keyframe_clips", kf.getLong(1) == expectKf.getLong(1), kf.getLong(1))

    // whole-GOP decode: every sample of every AVC clip, IDR and P frames
    val gop = r.time("gop") {
      Multimodal.decodeFrames(spark, media)
        .agg(ones(col("decode_ok")), ones(col("decode_ok") && !col("sync")),
          countDistinct(when(col("decode_ok"), col("media_id"))))
        .collect()(0)
    }
    val expectGop = avc.agg(sum(col("media_id") % 5 + 4).cast("long"), count(lit(1))).collect()(0)
    r.check("gop_frames", gop.getLong(0) == expectGop.getLong(0), gop.getLong(0))
    r.check("gop_clips", gop.getLong(2) == expectGop.getLong(1), gop.getLong(2))
    r.check("gop_inter_frames", gop.getLong(1) == gop.getLong(0) - kf.getLong(0), gop.getLong(1))

    // resize, then re-decode every resized image at the target dims
    val img = col("container").isin("png", "jpeg", "bmp")
    val resized = r.time("resize") {
      val rz = Multimodal.resize(spark, media, targetW = 16, targetH = 12, targetFrames = 100)
      Multimodal.extractFeatures(spark,
          rz.select(col("media_id"), col("kind"), col("content_resized").as("content"), col("source")))
        .agg(ones(img && col("width") === 16 && col("height") === 12), ones(img))
        .collect()(0)
    }
    r.check("resized_images", resized.getLong(0) == resized.getLong(1), resized.getLong(0))
  }

  // ---- registry

  private def registry(r: Run): Unit = {
    val keep: String => Boolean = r.filter match {
      case Some(f) if f.startsWith(">") => _ >= f.drop(1)
      case Some(f) => f.split(",").toSet
      case None => _ => true
    }
    val failed = mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1) if keep(name))
      try r.time(name, registryRule = true)(noop(fn(r.spark, r.arg)))
      catch {
        case NonFatal(e) =>
          failed += name
          System.err.println(s"[scale] $name FAILED: ${e.getMessage}")
      }
    r.check("failed_entries", failed.isEmpty, failed.toSeq)
  }

  /** The `registry_total` stdout line: per entry the min wall and every
    * wall, and the failed entries.
    */
  private def registryLine(r: Run, calibration: String): String = {
    val walls = r.bodies.map { case (k, ps) => k -> ps.map(_.wallSec) }
    def obj(f: Seq[Double] => String) = walls.map { case (k, v) => s"${str(k)}:${f(v)}" }
      .mkString("{", ",", "}")
    s"""{"metric":"registry_total","value":${secs(walls.values.map(_.min).sum)},"unit":"sec",""" +
      s""""entries":${walls.size},"failed":${r.checks("failed_entries").value},""" +
      s""""sf":${str(r.arg)},"queries":${obj(v => secs(v.min))},""" +
      s""""runs":${obj(_.map(secs).mkString("[", ",", "]"))},$calibration}"""
  }
}
