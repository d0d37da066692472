package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hex, lit, unhex}

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR`, prints exactly one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology:
  *  - a warmup action first (JVM/codegen/Hadoop init cost tens of
  *    seconds and would otherwise be billed to the first query);
  *  - each query materialized through the `noop` sink (forces full
  *    computation of every column — `count()` would let Catalyst prune
  *    the very work being measured);
  *  - plus a UTXO convert benchmark (the reference's headline metric,
  *    ~507K rows/s single-threaded): synthetic 2M-coin snapshot →
  *    decode → repartition → sort-within-partitions → zstd parquet.
  */
object Bench {

  /** Representative heavy queries across the operator inventory. */
  private val headline = Seq(
    "q0_flagship", "q1_agg", "q_join_inner", "q_join_left",
    "q_agg_distinct", "q_rollup", "q_window_rank", "q_window_frame",
    "q_explode", "s_tumbling", "s_session",
    "x_exact_dedup", "x_minhash_lsh", "x_simhash", "x_cosine_topk",
    "q_join_skew_salted", "x_ann_lsh", "x_embed_dedup",
    "q_join_asof", "q_join_bucketed", "x_curation_pipeline",
    "q_join_bloom", "x_ann_quantized", "x_dedup_clusters_lsh",
    "x_decontaminate", "x_chunk_dedup", "x_repetition", "x_knn_classify",
    // clustering-layout lookups (pay-once writes staged in warmup):
    // second-key range over the Z-ordered copy, year-pruned scan over
    // the Hive-partitioned copy
    "q_zorder_lookup", "q_partitioned_scan",
    // round-3 widening: map-only classifier scan, VARIANT parse
    // throughput, iterative integer PageRank over the LSH graph,
    // runtime-pruned star join
    "x_quality_classify", "q_variant", "x_pagerank_lsh", "q_join_dpp",
    // round-3 second pass: funnel + cohort analytics over events
    "q_funnel", "q_cohort_retention",
    // round-4: fully-oracled banded simhash near-dup (md5 kernel) and
    // degree-oriented triangle count over the inverted-index exact graph
    "x_simhash_near_dup", "x_triangles",
    // round-13: a REAL rate-limited multi-batch stream through the
    // custom Kafka-shaped DSv2 log source (S17) — the per-round bench
    // should watch the one entry that exercises MicroBatchStream +
    // admission control end-to-end
    "s_eventlog_tumbling")

  def main(args: Array[String]): Unit = {
    // the contract is ONE machine-parseable JSON line: every f"%.3f"
    // below goes through String.format with the JVM default locale, so
    // a comma-decimal host locale (de_DE etc.) would emit 0,123 and
    // break the driver's json parse — pin ROOT for the whole run
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // host-weather anchor (r12 verdict item 5): fixed CPU + /dev/shm
    // probes before and after the pass; weather_factor in the artifact
    // makes cross-round wall drift mechanically adjudicable
    val calBefore = graft.tools.Calibration.sample()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a renamed inventory query must fail loudly, not silently drop
    // from the benchmark
    val unknown = headline.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"headline queries missing from inventory: $unknown")

    def runNoop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: touch every table + codegen/agg/join machinery once, and
    // write the layouts paid once per run (bucketed tables, Z-ordered
    // and year-partitioned copies; SessionMemo.path stages them for
    // this application only) so their write cost is not billed to the
    // lookup measurements
    // a failed warm-up prints the same stderr line as a failed timed
    // query, so a broken build is never silently billed as a no-op
    def warm(name: String)(body: => Any): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    warm("q0_flagship")(runNoop(SparkEntry.queries("q0_flagship")(spark, sfDir)))
    warm("bucketedTables")(graft.queries.QueriesRel.bucketedTables(spark, sfDir))
    warm("zorderedLineitem")(graft.queries.QueriesRel.zorderedLineitem(spark, sfDir))
    warm("partitionedOrders")(graft.queries.QueriesRel.partitionedOrders(spark, sfDir))
    // warm the shared LSH candidate-pair materialization (same pay-once
    // rule as the layouts): its consumers (cluster dedup, PageRank)
    // then time their own marginal work, while x_minhash_lsh itself
    // times the full un-memoized build every iteration
    warm("minhashLshPairs")(graft.queries.QueriesLLM.minhashLshPairs(spark, sfDir))
    // same for the exact-Jaccard pair graph: x_triangles (and any other
    // exact-graph consumer) then times graph analytics, not the shared
    // corpus shingle + posting-join staging; x_jaccard_pairs_prefix
    // still times its own un-memoized prefix-filtered build
    warm("exactJaccardPairs")(graft.queries.QueriesLLM.exactJaccardPairs(spark, sfDir))

    val results = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val t0 = System.nanoTime()
        try {
          runNoop(fn(spark, sfDir))
          name -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> -1.0 // machine-readable failure marker, excluded from total
        }
      }
    }

    // convert benchmark: synthetic coins through the full pipeline,
    // then the reference's headline address point-lookup on the output
    // (README.md:105-107 class: must engage row-group/page skipping).
    // Every short timing is a min-of-3: a single-shot measurement taken
    // in the shadow of a prior run's dirty-page writeback bills the
    // host's IO to the engine (observed 0.5s -> 22s on point lookups);
    // the min is the engine's latency, the spread is the host's.
    def ensureSnapshot(path: String, coins: Int, seed: Long): String = {
      val snap = new java.io.File(path)
      if (!snap.exists() || snap.length() == 0) {
        // write-to-temp + atomic rename: a crashed prior run must not
        // leave a truncated file that passes the cache check forever
        val tmp = new java.io.File(snap.getPath + ".tmp")
        val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 1 << 20)
        try graft.codec.SnapshotGen.writeSynthetic(out, coins, seed)
        finally out.close()
        if (!tmp.renameTo(snap)) throw new java.io.IOException(s"rename $tmp -> $snap failed")
      }
      snap.getAbsolutePath
    }
    // every short timing: sync first (flush OTHER work's dirty pages so
    // their writeback isn't billed to this run), run 3×, keep the min —
    // the min is the engine's latency, the spread is the host's. The
    // raw per-run times are published in the JSON (`convert_runs`) so a
    // polluted artifact is diagnosable instead of a mystery (round-2
    // recorded a 26s 10M convert whose quiet-host time is ~2s).
    def syncFs(): Unit =
      try Runtime.getRuntime.exec(Array("sync")).waitFor()
      catch { case _: Throwable => () }
    val rawRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def minN(name: String, n: Int)(f: => Double): Double = {
      val rs = (1 to n).map { _ => syncFs(); f }
      rawRuns(name) = rs
      rs.min
    }
    def min3(name: String)(f: => Double): Double = minN(name, 3)(f)

    // timed convert outputs go to tmpfs when available: writing the
    // measured artifact to RAM takes host-disk writeback weather out of
    // the measurement entirely (round-3 convert_runs spread 3.1× on
    // /tmp; the min was the engine, the spread was the disk). The
    // snapshot INPUTS stay on /tmp — they are written once, read
    // through the page cache, and survive across bench invocations.
    val scratch = {
      val shm = new java.io.File("/dev/shm")
      val base = if (shm.isDirectory && shm.canWrite)
        new java.io.File(shm, "graft_bench") else new java.io.File("/tmp/graft_bench_scratch")
      base.mkdirs()
      base.getAbsolutePath
    }

    // -1 = multi-file convert never ran; 4 = all sidecars hit/written
    var multiSidecarsSeen: Int = -1
    // (total, stats-candidate, bloom-possible) row groups for the bench
    // point lookup on the bloom-filtered plain output; -1 = never ran
    var bloomRowGroups: (Int, Int, Int) = (-1, -1, -1)
    // measurements accumulate as they complete: a failure in a LATE
    // stage (a lookup, a layout probe) must not discard the convert
    // timings already taken — the catch used to return Seq.empty and
    // publish a self-inconsistent JSON (convert_runs populated, queries
    // missing). The tmpfs scratch is freed in a finally for the same
    // reason: RAM-backed artifacts must not outlive a FAILED bench
    // either.
    val convertAcc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    try {
      // the generator VERSION rides in the filename: a cached snapshot
      // written by an older writeSynthetic byte stream must invalidate
      // on upgrade, not silently feed the bench host-dependent inputs
      // (v2 = txids from 32× nextInt, round-5 change)
      val snap = ensureSnapshot("/tmp/graft_bench_snap_v2.bin", 2000000, seed = 42L)
      val snap10 = ensureSnapshot("/tmp/graft_bench_snap10_v2.bin", 10000000, seed = 43L)
      def timeConvert(in: String, out: String, range: Boolean,
          bloom: Boolean = false): Double = {
        // pre-delete the previous run's output OUTSIDE the timed region:
        // overwriting a dirty multi-GB dir bills its delete + writeback
        // to the convert. (No point pre-creating the dir: the
        // SaveMode.Overwrite write deletes and recreates the path
        // inside the timed region regardless.)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        syncFs()
        val t0 = System.nanoTime()
        graft.sources.UtxoConvert.convert(spark, in, out,
          partitions = cpus.toInt, rangePartition = range,
          bloomFilterScript = bloom)
        (System.nanoTime() - t0) / 1e9
      }
      // untimed warmup converts: the first convert of each shape pays
      // codegen + writer-path init (observed ~3-4s vs ~1s warm on both
      // r4/r5 first iterations); pay it once here so every TIMED run
      // measures the warm engine — same discipline as the query warmup
      try timeConvert(snap, s"$scratch/convert_warm", range = false) catch { case _: Throwable => () }
      try timeConvert(snap, s"$scratch/convert_warm", range = true) catch { case _: Throwable => () }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$scratch/convert_warm"))
      // convert family: the short 2M converts run 7× (r4's clustered
      // raw spread was still 2.1× at 5 runs — more samples narrow the
      // trimmed median's confidence, and each run is only ~2s), the
      // long 10M runs 5×; with tmpfs outputs the residual spread is
      // scheduler jitter
      val convertSec = minN("utxo_convert_2m", 7)(
        timeConvert(snap, s"$scratch/convert_out", range = false))
      convertAcc += ("utxo_convert_2m" -> convertSec)
      // globally script-clustered variant: pays one range shuffle at
      // convert, buys single-file point lookups (the 100 TB layout)
      val convertClusteredSec = minN("utxo_convert_2m_clustered", 7)(
        timeConvert(snap, s"$scratch/convert_clustered", range = true))
      convertAcc += ("utxo_convert_2m_clustered" -> convertClusteredSec)

      // sustained throughput: 10M coins — long enough that JVM warmup
      // stops dominating (the reference's headline is a 177.5M-row
      // sustained number). Decode-only (noop sink) is reported beside
      // the end-to-end number: it is immune to write-side host IO, so
      // the pair separates engine throughput from disk weather.
      val decode10Sec = min3("utxo_decode_10m") {
        syncFs()
        val t0 = System.nanoTime()
        spark.read.format("utxo").option("coinsPerSplit", "65536").load(snap10)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      convertAcc += ("utxo_decode_10m" -> decode10Sec)
      val convert10Sec = minN("utxo_convert_10m", 5)(
        timeConvert(snap10, s"$scratch/convert10_out", range = false))
      convertAcc += ("utxo_convert_10m" -> convert10Sec)

      // multi-file snapshot directory: 4 × 500K-coin files through the
      // same pipeline — exercises the executor-side indexAll path (one
      // index task per file, sidecar-cached) in the measured bench, not
      // just in specs. First-ever run pays the index pass and writes
      // .graftidx sidecars next to the inputs; every later iteration
      // (and bench invocation) must hit them — the count is published
      // so a sidecar regression shows up as multi_sidecars < 4.
      val multiDir = {
        val d = new java.io.File("/tmp/graft_bench_multi")
        d.mkdirs()
        (0 until 4).foreach { i =>
          ensureSnapshot(s"${d.getPath}/part$i.bin", 500000, seed = 100L + i)
        }
        d.getAbsolutePath
      }
      val convertMultiSec = minN("utxo_convert_multi4", 5)(
        timeConvert(multiDir, s"$scratch/convert_multi_out", range = false))
      convertAcc += ("utxo_convert_multi4" -> convertMultiSec)

      // bloom-filtered plain convert: same layout + a split-block bloom
      // on script. The write-side cost rides the timing; the read-side
      // payoff is published as row-group counters below (at 2M/32
      // files the wall-clock delta is noise; the counter is the part
      // that scales — stats leave ~1 candidate group per FILE, bloom
      // leaves only the groups that truly hold the key)
      val convertBloomSec = minN("utxo_convert_2m_bloom", 3)(
        timeConvert(snap, s"$scratch/convert_bloom", range = false, bloom = true))
      convertAcc += ("utxo_convert_2m_bloom" -> convertBloomSec)
      multiSidecarsSeen = new java.io.File(multiDir).listFiles()
        .count(_.getName.endsWith(graft.codec.SnapshotIndexer.SidecarSuffix))

      // lookups measured after ALL converts (writeback shadow, above)
      val parq = spark.read.parquet(s"$scratch/convert_out")
      // deterministic key: limit(1) returns an arbitrary row, so the
      // measured lookup and the published bloom_rowgroups counters
      // would drift with partitioning/layout changes unrelated to the
      // engine. The smallest script at or above the halfway prefix is
      // stable across rounds AND mid-range (the global minimum would
      // sit below every other file's [min,max] span, making stats-only
      // skipping look as good as bloom); fall back to the minimum on a
      // degenerate key space.
      val mid = parq.filter(hex(col("script")) >= "80")
        .agg(org.apache.spark.sql.functions.min(hex(col("script"))))
        .collect()(0).getString(0)
      val someScript = if (mid != null) mid
        else parq.agg(org.apache.spark.sql.functions.min(hex(col("script"))))
          .collect()(0).getString(0)
      def lookup(name: String, path: String): Double = min3(name) {
        val t = System.nanoTime()
        spark.read.parquet(path)
          .filter(col("script") === unhex(lit(someScript)))
          .select("txid", "vout", "amount", "height")
          .orderBy("height")
          .collect()
        (System.nanoTime() - t) / 1e9
      }
      convertAcc += ("utxo_point_lookup" -> lookup("utxo_point_lookup", s"$scratch/convert_out"))
      convertAcc += ("utxo_point_lookup_clustered" ->
        lookup("utxo_point_lookup_clustered", s"$scratch/convert_clustered"))
      convertAcc += ("utxo_point_lookup_bloom" ->
        lookup("utxo_point_lookup_bloom", s"$scratch/convert_bloom"))
      // the scale-relevant observable: candidate row groups for the
      // looked-up key under stats-only vs bloom skipping on the SAME
      // bloom-filtered output
      bloomRowGroups = try {
        val (tot, stats) = graft.tools.LayoutReport.statsMatch(
          s"$scratch/convert_bloom", "script", someScript)
        val (_, bloomPoss) = graft.tools.LayoutReport.bloomMatch(
          s"$scratch/convert_bloom", "script", someScript)
        (tot, stats, bloomPoss)
      } catch { case _: Throwable => (-1, -1, -1) }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] utxo_convert failed after ${convertAcc.size} metrics: ${e.getMessage}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    }
    val convert = convertAcc.toSeq

    val all = results ++ convert
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = all.map(_._2).filter(_ >= 0).sum
    // headline rows/s from the sustained 10M convert (fall back to 2M)
    val rowsPerSec = convert.toMap.get("utxo_convert_10m").map(s => (10000000 / s).toLong)
      .orElse(convert.headOption.map(c => (2000000 / c._2).toLong)).getOrElse(0L)
    val runsJson = rawRuns.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(r => f"$r%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    // trimmed median (drop min+max, take median of the rest) per
    // multi-run entry: a robust central tendency published beside the
    // min so outliers are attributable, not hidden
    val trimmedJson = rawRuns.map { case (k, rs) =>
      val central = if (rs.size > 2) rs.sorted.drop(1).dropRight(1) else rs.sorted
      // true median: average the two middles when the central list has
      // even length (upper-middle alone would bias the figure high)
      val med =
        if (central.size % 2 == 1) central(central.size / 2)
        else (central(central.size / 2 - 1) + central(central.size / 2)) / 2.0
      "\"" + k + "\":" + f"$med%.3f"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","convert_rows_per_s":$rowsPerSec,"convert_runs":$runsJson,"convert_trimmed_median":$trimmedJson,"multi_sidecars":$multiSidecarsSeen,"bloom_rowgroups":{"total":${bloomRowGroups._1},"stats_candidates":${bloomRowGroups._2},"bloom_possible":${bloomRowGroups._3}},${graft.tools.Calibration.json(calBefore, graft.tools.Calibration.sample())}}""")
    spark.stop()
  }
}
