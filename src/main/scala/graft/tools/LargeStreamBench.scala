package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming scale proof — the one surface (S1-S14) that had no
  * LargeBench. Drives the four stateful shapes that dominate streaming
  * cost at scale over a generated events corpus 100× the sf0.1 table
  * (default 10M rows, 64 files → real multi-batch incremental
  * processing), all on the RocksDB state store provider:
  *
  *  - S1 tumbling window aggregation (windowed state, watermark
  *    eviction)
  *  - S4 `dropDuplicatesWithinWatermark` (per-event-id state, the
  *    worst-case state cardinality: one entry per event inside the
  *    watermark)
  *  - S8 foreachBatch upsert (state in the TARGET table, per-batch
  *    merge cost)
  *  - S10 `transformWithState` per-user totals (long-lived keyed
  *    state, one entry per user)
  *
  * Reported per surface: wall seconds, input rows/s, output rows, and
  * for the keyed-state shapes the state row count (via the S12
  * `statestore` reader — the operational audit path) and the on-disk
  * checkpoint bytes. Plus S14 at scale: the tumbling query is killed
  * after its first micro-batch and restarted from the same checkpoint;
  * recovery must produce the identical result set, and the
  * restart-to-completion time is the published recovery cost.
  *
  * Plus (r11) the S16 accreting-index simhash near-dup dedup at ~1M
  * docs / 8 micro-batches: per-batch wall curve, state rows/bytes, and
  * verdict equality against the batch `s_dedup_simhash` contract on
  * the identical corpus.
  *
  * Not part of the per-round bench (minutes-scale proof):
  *
  * {{{ sbt "runMain graft.tools.LargeStreamBench [nEvents] [nFiles] [nDocs]" }}}
  */
object LargeStreamBench {

  /** Deterministic synthetic events, written as `nFiles` parquet files.
    * All columns derive from `id` via fixed integer arithmetic (no rng,
    * no wall clock): ~`nUsers` distinct users (keyed-state cardinality
    * driver), 5 event types, ~1% exact-duplicate event_ids (every 128th
    * row repeats its predecessor's id) so dedup has real work, and
    * timestamps MONOTONE in id (1 event/second) — files are written in
    * id order and the file source lists them in path order, so event
    * time advances with processing order and watermark lateness drops
    * are deterministic (zero here), which is what makes the
    * recovered-vs-uninterrupted equality check exact instead of
    * cadence-dependent.
    */
  def generate(spark: SparkSession, dir: String, n: Long, nFiles: Int,
      nUsers: Long): Unit = {
    val base = lit(1704067200000L) // 2024-01-01 UTC, millis
    spark.range(0, n, 1, nFiles)
      .select(
        when(col("id") % 128 === 127, col("id") - 1).otherwise(col("id"))
          .as("event_id"),
        timestamp_millis(base + col("id") * 1000L).as("ts"),
        pmod(col("id") * 2654435761L, lit(nUsers)).as("user_id"),
        // type from the QUOTIENT digit of the same hash (id·m DIV
        // nUsers), not id mod 5: any residue-periodic choice is
        // CONSTANT per user (user_id mod 5 == id mod 5 here), which
        // would silently collapse the (user, type) upsert key space
        // from 500K to 100K
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("scroll"), lit("hover")),
          (pmod(expr(s"id * 2654435761 DIV $nUsers"), lit(5)) + 1).cast("int"))
          .as("event_type"),
        (pmod(col("id") * 48271L, lit(100000L)).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\":"), pmod(col("id"), lit(97)), lit("}")).as("props"))
      .write.mode("overwrite").parquet(dir)
    // the file streaming source orders new files by MODIFICATION TIME,
    // and parallel part-file writes finish in arbitrary order — left
    // alone, a later-id file can land in an earlier micro-batch, jump
    // the watermark, and silently drop the earlier files' rows as late.
    // Pin mtimes to path order (= id order = event-time order) so the
    // source replays time forward, as a real ingest directory would —
    // the shipped guard (graft.streaming.FileIngestOrder; its spec
    // reproduces the drop this generator first hit).
    graft.streaming.FileIngestOrder.pinMtimesToPathOrder(
      new org.apache.hadoop.conf.Configuration(), dir)
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists()) -1L
    else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }

  /** Deterministic synthetic document corpus for the S16 proof — same
    * no-rng/no-clock discipline as [[generate]]: 32-token docs whose
    * tokens derive from `doc_id` by fixed integer arithmetic. Duplicate
    * structure: every doc with `id % 64 == 63` is an EXACT copy of its
    * predecessor (identical text → simhash hamming 0 → guaranteed
    * drop), every `id % 64 == 31` a NEAR copy (31/32 shared tokens —
    * lands near the hamming ≤ 6 verdict boundary, so both verdict
    * branches get real traffic). ~1.6% of the corpus duplicates, the
    * shape of a lightly-contaminated crawl slice. Files are written in
    * id order and mtime-pinned (S15) because the batch-equality
    * contract REQUIRES in-order cross-batch delivery — see
    * [[graft.streaming.StreamingQueries.BandDedupProcessor]].
    */
  def generateDocs(spark: SparkSession, dir: String, n: Long, nFiles: Int): Unit = {
    val slot = pmod(col("id"), lit(64))
    val base = when(slot === 63 || slot === 31, col("id") - 1).otherwise(col("id"))
    val tailId = when(slot === 63, col("id") - 1).otherwise(col("id"))
    // tokens carry (base, position) VERBATIM — globally unique across
    // originals, so unrelated docs share zero tokens and their 60-bit
    // fingerprints are independent (banding candidates are the ~2^-15
    // per-band coincidences, verified-drop ≈ planted dups only). The
    // first cut of this generator derived tokens as an arithmetic
    // sequence in a 10,007-element ring: only 10K distinct token SETS
    // existed, 99% of 1M docs verified as near-dups of an earlier one,
    // and the corpus measured the pathological-density worst case
    // instead of a crawl slice.
    spark.range(0, n, 1, nFiles)
      .select(col("id").as("doc_id"),
        array_join(concat(
          transform(sequence(lit(0), lit(30)), i =>
            concat(lit("w"), base, lit("_"), i)),
          array(concat(lit("t"), tailId))), " ")
          .as("text"))
      .write.mode("overwrite").parquet(dir)
    graft.streaming.FileIngestOrder.pinMtimesToPathOrder(
      new org.apache.hadoop.conf.Configuration(), dir)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val calBefore = Calibration.sample() // weather anchor (r12 item 5)
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val nUsers = 100000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shm = new java.io.File("/dev/shm")
    val scratch = if (shm.isDirectory && shm.canWrite)
      new java.io.File(shm, "graft_lsb") else new java.io.File("/tmp/graft_lsb")
    // a PRIOR run's scratch must never leak in: a stale checkpoint
    // silently turns "process 10M events" into "resume at batch k and
    // process the tail" and every throughput number lies
    org.apache.commons.io.FileUtils.deleteQuietly(scratch)
    scratch.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-large-stream")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", new java.io.File(scratch, "spill").getAbsolutePath)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import scala.jdk.CollectionConverters._

    val eventsDir = new java.io.File(scratch, "events").getAbsolutePath
    generate(spark, eventsDir, n, nFiles, nUsers)
    System.err.println(s"[lsb] generated $n events in $nFiles files")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def stream(name: String, maxFiles: Int): DataFrame = {
      val tsType = graft.streaming.StreamingQueries.eventsTsType(spark, eventsDir)
      val reader = spark.readStream
        .schema(graft.streaming.StreamingQueries.eventsRawSchema(tsType))
        .option("maxFilesPerTrigger", maxFiles)
        .parquet(eventsDir)
      reader.withColumn("ts", graft.queries.Queries.normalizeTs("ts", tsType))
    }
    // drain every partition so the state stores commit; count output
    // rows without collecting them
    def runCounted(df: DataFrame, mode: OutputMode, ckpt: String): Long = {
      val acc = spark.sparkContext.longAccumulator("out_rows")
      val q = df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          acc.add(b.count())
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      acc.value
    }
    // transformWithState checkpoints hold NAMED state variables — the
    // reader addresses one via stateVarName (omit for single-store ops
    // like dropDuplicates / window aggs)
    def stateRows(ckpt: String, stateVar: Option[String] = None): Long =
      try {
        val r = spark.read.format("statestore").option("path", ckpt)
        stateVar.fold(r)(v => r.option("stateVarName", v)).load().count()
      } catch { case _: Throwable => -1L }

    // ---- S1 tumbling (8 micro-batches)
    val ckpt1 = new java.io.File(scratch, "ck_tumbling").getAbsolutePath
    val (s1Sec, s1Rows) = time {
      runCounted(graft.streaming.StreamingQueries.tumbling(stream("tumbling", nFiles / 8)),
        OutputMode.Update, ckpt1)
    }
    results += "tumbling" -> perf(n, s1Sec, s1Rows, stateRows(ckpt1), dirBytes(ckpt1))
    System.err.println(s"[lsb] tumbling: ${results("tumbling")}")

    // ---- S14 recovery at scale: same tumbling query, killed after the
    // first micro-batch, restarted from the checkpoint; the restart
    // must produce the same windows the uninterrupted run did
    val ckptR = new java.io.File(scratch, "ck_recover").getAbsolutePath
    val out = new java.util.concurrent.ConcurrentHashMap[
      (Long, String), Long]()
    def startRecover(): org.apache.spark.sql.streaming.StreamingQuery =
      graft.streaming.StreamingQueries
        .tumbling(stream("recover", nFiles / 8))
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckptR)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            out.put((r.getLong(0), r.getString(1)), r.getLong(2)))
        }
        .start()
    val q1 = startRecover()
    // wait until at least one micro-batch with real input committed,
    // then kill mid-stream; a query that DIES before first progress
    // must fail the proof, not busy-wait forever
    while (!q1.recentProgress.exists(_.numInputRows > 0)) {
      if (!q1.isActive)
        throw q1.exception.map(e => new IllegalStateException(e.message))
          .getOrElse(new IllegalStateException("recovery query ended before first batch"))
      Thread.sleep(50)
    }
    q1.stop()
    val (recoverSec, _) = time {
      val q2 = startRecover()
      try q2.processAllAvailable()
      finally q2.stop()
    }
    // equality vs an uninterrupted run at the SAME trigger cadence
    // (identical micro-batch composition → identical watermark
    // trajectory; a single-batch reference would see different
    // lateness semantics and the comparison would test the cadence,
    // not the recovery)
    val uninterrupted = graft.streaming.StreamingQueries
      .tumbling(stream("ref", nFiles / 8))
    val ref = {
      val ckptU = new java.io.File(scratch, "ck_ref").getAbsolutePath
      val m = new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()
      val q = uninterrupted.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckptU)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            m.put((r.getLong(0), r.getString(1)), r.getLong(2)))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      m
    }
    val recovered = out.size == ref.size &&
      ref.entrySet().asScala.forall(e => out.get(e.getKey) == e.getValue)
    results += "recovery" ->
      s"""{"recover_sec":${f"$recoverSec%.1f"},"windows":${out.size},"identical":$recovered}"""
    System.err.println(s"[lsb] recovery: ${results("recovery")}")
    require(recovered, "recovered run diverged from uninterrupted run")

    // ---- S4 dedup (the state-heavy one: one entry per event id)
    val ckpt4 = new java.io.File(scratch, "ck_dedup").getAbsolutePath
    val (s4Sec, s4Rows) = time {
      runCounted(graft.streaming.StreamingQueries.dedup(stream("dedup", nFiles / 8)),
        OutputMode.Append, ckpt4)
    }
    results += "dedup" -> perf(n, s4Sec, s4Rows, stateRows(ckpt4), dirBytes(ckpt4))
    System.err.println(s"[lsb] dedup: ${results("dedup")}")

    // ---- S10 transformWithState per-user totals
    val ckpt10 = new java.io.File(scratch, "ck_tws").getAbsolutePath
    val (s10Sec, s10Rows) = time {
      runCounted(graft.streaming.StreamingQueries.statefulTotals(spark,
        stream("tws", nFiles / 8)), OutputMode.Update, ckpt10)
    }
    results += "stateful_totals" -> perf(n, s10Sec, s10Rows, stateRows(ckpt10, Some("totals")), dirBytes(ckpt10))
    System.err.println(s"[lsb] stateful_totals: ${results("stateful_totals")}")

    // ---- S16 accreting-index simhash near-dup dedup (r11 — the r10
    // verdict's only new-operator-without-scale-proof item): ~1M docs
    // over ≥8 micro-batches through the transformWithState band index.
    // Reported: total wall + docs/s, per-batch wall curve (the curve is
    // the claim — per-bucket ListState occupancy grows n/32,768 and
    // every arrival scans its 4 buckets, so a saturating index would
    // show accelerating batch walls exactly like batch SimHash's r9
    // banding did), state rows + checkpoint bytes, and VERDICT
    // EQUALITY against the batch arrival-order contract
    // (`s_dedup_simhash` = QueriesLLM.arrivalDedupSimhash) on the
    // identical corpus — the spec's 3-batch witness, at 1M scale.
    val nDocs = args.drop(2).headOption.map(_.toLong).getOrElse(1000000L)
    val docFiles = 16
    val corpus = new java.io.File(scratch, "corpus").getAbsolutePath
    generateDocs(spark, s"$corpus/documents.parquet", nDocs, docFiles)
    System.err.println(s"[lsb] generated $nDocs docs in $docFiles files")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val ckpt16 = new java.io.File(scratch, "ck_simdedup").getAbsolutePath
    val out16 = new java.io.File(scratch, "simdedup_out").getAbsolutePath
    val batchWalls = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (s16Sec, s16Rows) = time {
      val docsStream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", docFiles / 8)
        .parquet(s"$corpus/documents.parquet")
      val acc = spark.sparkContext.longAccumulator("dedup_out_rows")
      val q = graft.streaming.StreamingQueries
        .simhashBandVerdicts(spark, docsStream)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt16)
        // per-batch rollup is exact: all 4 band rows of a doc are
        // emitted in the doc's own micro-batch (the registry entry's
        // StreamingSpec contract)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val v = graft.streaming.StreamingQueries.arrivalVerdictRollup(b)
            .cache()
          acc.add(v.count())
          v.write.mode("append").parquet(out16)
          v.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable()
      finally {
        q.recentProgress.filter(_.numInputRows > 0)
          .foreach(p => batchWalls += p.batchDuration)
        q.stop()
      }
      acc.value
    }
    // batch-equality at scale: the SAME corpus through the batch
    // arrival-order entry must yield the identical verdict set
    val (s16BatchSec, want) = time {
      graft.queries.QueriesLLM.arrivalDedupSimhash(spark, corpus)
        .localCheckpoint()
    }
    // equality derives from the DEDUPLICATED parquet output, not the
    // accumulator: foreachBatch is at-least-once, so a transient retry
    // re-appends the batch's rows (and double-counts the accumulator)
    // even when the verdict set is correct — each doc_id rolls up in
    // exactly one batch, so distinct() removes only retry duplicates
    // (r12 advice)
    val got = spark.read.parquet(out16).distinct().localCheckpoint()
    val wantN = want.count()
    val equal = got.count() == wantN &&
      got.except(want).isEmpty && want.except(got).isEmpty
    results += "simhash_dedup" ->
      (perf(nDocs, s16Sec, s16Rows, stateRows(ckpt16, Some("seen")), dirBytes(ckpt16)).dropRight(1) +
        s""","batch_walls_ms":${batchWalls.mkString("[", ",", "]")},""" +
        s""""batch_form_sec":${f"$s16BatchSec%.1f"},"batch_equal":$equal}""")
    System.err.println(s"[lsb] simhash_dedup: ${results("simhash_dedup")}")
    require(equal, s"streaming simhash dedup diverged from batch contract " +
      s"($s16Rows streamed vs $wantN batch verdict rows)")

    // ---- S16 windowed twin (r11): the retention-bounded processor on
    // the SAME corpus. The claim under measurement is the STATE BOUND:
    // the unwindowed index above ends at exactly 4·nDocs state rows;
    // the windowed one prunes each touched bucket to its last-`window`
    // occupancy, so final state must be a small fraction of 4·nDocs
    // (lazily-pruned cold buckets keep a bounded residue). Verdict
    // equality vs the batch retention contract, same discipline.
    val ckpt16w = new java.io.File(scratch, "ck_simdedup_w").getAbsolutePath
    val out16w = new java.io.File(scratch, "simdedup_w_out").getAbsolutePath
    val (s16wSec, s16wRows) = time {
      val docsStream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", docFiles / 8)
        .parquet(s"$corpus/documents.parquet")
      val acc = spark.sparkContext.longAccumulator("dedup_w_out_rows")
      val q = graft.streaming.StreamingQueries
        .simhashBandVerdictsWindow(spark, docsStream)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt16w)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val v = graft.streaming.StreamingQueries.arrivalVerdictRollup(b)
            .cache()
          acc.add(v.count())
          v.write.mode("append").parquet(out16w)
          v.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      acc.value
    }
    val wantW = graft.queries.QueriesLLM
      .arrivalDedupSimhashWindow(spark, corpus).localCheckpoint()
    // same retry-safe gate as the unwindowed form above
    val gotW = spark.read.parquet(out16w).distinct().localCheckpoint()
    val wantWN = wantW.count()
    val equalW = gotW.count() == wantWN &&
      gotW.except(wantW).isEmpty && wantW.except(gotW).isEmpty
    val stateW = stateRows(ckpt16w, Some("seen"))
    results += "simhash_dedup_window" ->
      (perf(nDocs, s16wSec, s16wRows, stateW, dirBytes(ckpt16w)).dropRight(1) +
        s""","state_bound_ratio":${f"${stateW.toDouble / (4L * nDocs)}%.4f"},""" +
        s""""batch_equal":$equalW}""")
    System.err.println(s"[lsb] simhash_dedup_window: ${results("simhash_dedup_window")}")
    require(equalW, s"windowed streaming dedup diverged from batch contract " +
      s"($s16wRows streamed vs $wantWN batch verdict rows)")

    // ---- S16 event-time twin (r12): the SAME corpus with arrival
    // order deliberately SHUFFLED — adjacent file pairs swapped, one
    // file per micro-batch, so every even slice arrives one batch
    // AFTER its higher-id successor (cross-batch disorder the in-order
    // processor provably cannot survive). Claims measured: verdict
    // equality with the batch contract DESPITE the disorder, the wall
    // + per-batch curve (buffering adds one deferred flush, not a
    // second pass), and the state split (seen = the flushed prefix,
    // buf = at most delay × arrival-rate pending rows).
    val etWatch = new java.io.File(scratch, "corpus_et")
    etWatch.mkdirs()
    val etParts = new java.io.File(s"$corpus/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // watermark delay from the ACTUAL per-file id ranges, not an
    // equal-span assumption (r12 advice: a part exceeding the floored
    // average by ≥2 ids would silently watermark-drop real rows with
    // only a 1–3 id margin): the pairwise swap makes the worst
    // lateness hi(i+1) − lo(i) over adjacent pairs; +64 ids of
    // explicit slack covers the processor's local guard filtering one
    // batch ahead of Spark's late-record filter — extra delay only
    // buffers longer, it cannot change verdicts.
    val partRanges = etParts.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min(col("doc_id")),
          org.apache.spark.sql.functions.max(col("doc_id"))).collect()(0)
      (ids.getLong(0), ids.getLong(1))
    }
    val delayIds = partRanges.indices.dropRight(1)
      .map(i => partRanges(i + 1)._2 - partRanges(i)._1).max + 64
    val swapped = etParts.indices.map(i =>
      if (i % 2 == 0) math.min(i + 1, etParts.length - 1) else i - 1)
    swapped.zipWithIndex.foreach { case (slice, pos) =>
      // COPY, not hardlink: a hardlink shares the inode, so the mtime
      // pin below would rewrite the ORIGINAL corpus parts' mtimes to
      // the shuffled order and silently undo the in-order pin
      // generateDocs applied (r12 advice; symlinks setTimes-follow to
      // the target, so they have the same clobber)
      java.nio.file.Files.copy(etParts(slice).toPath,
        java.nio.file.Paths.get(etWatch.getAbsolutePath, f"arr$pos%04d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // the sentinel advances the final watermark past every real doc
    // (an infinite stream has no end; draining = event time moving on)
    val sentTmp = new java.io.File(scratch, "et_sentinel").getAbsolutePath
    spark.range(1)
      .select(lit(nDocs - 1 + delayIds + 2).as("doc_id"),
        lit("sentinel").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(sentTmp)
    val sentPart = new java.io.File(sentTmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(sentPart.toPath,
      java.nio.file.Paths.get(etWatch.getAbsolutePath,
        f"arr${etParts.length}%04d.parquet"))
    graft.streaming.FileIngestOrder.pinMtimesToPathOrder(
      new org.apache.hadoop.conf.Configuration(), etWatch.getAbsolutePath)
    val ckptEt = new java.io.File(scratch, "ck_simdedup_et").getAbsolutePath
    val outEt = new java.io.File(scratch, "simdedup_et_out").getAbsolutePath
    val etBatchWalls = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (etSec, _) = time {
      val docsStream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(etWatch.getAbsolutePath)
      val q = graft.streaming.StreamingQueries
        .simhashBandVerdictsEventTime(spark, docsStream, delayIds)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckptEt)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingQueries.arrivalVerdictRollup(b)
            .write.mode("append").parquet(outEt)
          ()
        }
        .start()
      try q.processAllAvailable()
      finally {
        q.recentProgress.filter(_.numInputRows > 0)
          .foreach(p => etBatchWalls += p.batchDuration)
        q.stop()
      }
    }
    val gotEt = spark.read.parquet(outEt).distinct()
      .filter(col("doc_id") < nDocs).localCheckpoint()
    val gotEtN = gotEt.count()
    val equalEt = gotEtN == wantN &&
      gotEt.except(want).isEmpty && want.except(gotEt).isEmpty
    results += "simhash_dedup_eventtime" ->
      (perf(nDocs, etSec, gotEtN, stateRows(ckptEt, Some("seen")), dirBytes(ckptEt)).dropRight(1) +
        s""","buf_state_rows":${stateRows(ckptEt, Some("buf"))}""" +
        s""","delay_ids":$delayIds,"batch_walls_ms":${etBatchWalls.mkString("[", ",", "]")},""" +
        s""""batch_equal":$equalEt}""")
    System.err.println(s"[lsb] simhash_dedup_eventtime: ${results("simhash_dedup_eventtime")}")
    require(equalEt, s"event-time streaming dedup diverged from batch contract " +
      s"under shuffled arrival ($gotEtN streamed vs $wantN batch verdict rows)")

    // ---- S16 windowed event-time (r12): the composed production form
    // — out-of-order tolerant AND bounded state — on the same shuffled
    // watch dir. Claims measured: retention-contract equality despite
    // the disorder, and the seen-state bound (pruned to window
    // occupancy per touched bucket, like the in-order windowed form).
    val ckptEtW = new java.io.File(scratch, "ck_simdedup_etw").getAbsolutePath
    val outEtW = new java.io.File(scratch, "simdedup_etw_out").getAbsolutePath
    val (etwSec, _) = time {
      val docsStream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(etWatch.getAbsolutePath)
      val q = graft.streaming.StreamingQueries
        .simhashBandVerdictsEventTime(spark, docsStream, delayIds,
          graft.queries.QueriesLLM.SimhashWindow)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckptEtW)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingQueries.arrivalVerdictRollup(b)
            .write.mode("append").parquet(outEtW)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val gotEtW = spark.read.parquet(outEtW).distinct()
      .filter(col("doc_id") < nDocs).localCheckpoint()
    val gotEtWN = gotEtW.count()
    val equalEtW = gotEtWN == wantWN &&
      gotEtW.except(wantW).isEmpty && wantW.except(gotEtW).isEmpty
    val stateEtW = stateRows(ckptEtW, Some("seen"))
    results += "simhash_dedup_eventtime_window" ->
      (perf(nDocs, etwSec, gotEtWN, stateEtW, dirBytes(ckptEtW)).dropRight(1) +
        s""","buf_state_rows":${stateRows(ckptEtW, Some("buf"))}""" +
        s""","state_bound_ratio":${f"${stateEtW.toDouble / (4L * nDocs)}%.4f"}""" +
        s""","batch_equal":$equalEtW}""")
    System.err.println(s"[lsb] simhash_dedup_eventtime_window: ${results("simhash_dedup_eventtime_window")}")
    require(equalEtW, s"windowed event-time dedup diverged from retention contract " +
      s"under shuffled arrival ($gotEtWN streamed vs $wantWN batch verdict rows)")

    // ---- S8 upsert (4 batches: each merge rewrites the keyed target)
    val target = new java.io.File(scratch, "upsert_target").getAbsolutePath
    val ckpt8 = new java.io.File(scratch, "ck_upsert").getAbsolutePath
    val (s8Sec, s8Final) = time {
      graft.streaming.StreamingQueries.runUpsert(spark, eventsDir, target,
        ckpt8, maxFilesPerTrigger = Some(nFiles / 4)).count()
    }
    results += "upsert" -> perf(n, s8Sec, s8Final, -1L, dirBytes(target))
    System.err.println(s"[lsb] upsert: ${results("upsert")}")

    // ---- S17 (r13): the custom Kafka-shaped DSv2 log source at scale —
    // the same 10M events read THROUGH format("eventlog") as an
    // offset-tracked partitioned log (64 segments, one range partition
    // each), admission-limited to 8 micro-batches, tumbling-window
    // aggregated in Complete mode. Claims measured: the offset ranges
    // tile the log exactly at 10M rows (input-row sum == n AND the
    // final aggregate equals the batch read value-for-value), wall,
    // and rows/s through the custom reader path.
    {
      val ckptLog = new java.io.File(scratch, "ck_eventlog").getAbsolutePath
      val (s17Sec, ok) = time {
        val q = spark.readStream.format("eventlog")
          .option("partitions", nFiles.toString)
          .option("maxRowsPerTrigger", math.max(1L, n / 8).toString)
          .load(eventsDir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_millis(col("w.start")).as("ms"), col("event_type"), col("cnt"))
          .writeStream
          .outputMode(OutputMode.Complete)
          .option("checkpointLocation", ckptLog)
          .format("memory").queryName("lsb_eventlog")
          .start()
        try q.processAllAvailable() finally q.stop()
        val inputRows = q.recentProgress.map(_.numInputRows).sum
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        val got = spark.table("lsb_eventlog").localCheckpoint()
        val want = spark.read.parquet(eventsDir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_millis(col("w.start")).as("ms"), col("event_type"), col("cnt"))
        val equal = inputRows == n &&
          got.except(want).isEmpty && want.except(got).isEmpty
        (nBatches, got.count(), equal)
      }
      val (nBatches, outRows, equal) = ok
      results += "eventlog_source" ->
        (perf(n, s17Sec, outRows, -1L, dirBytes(ckptLog)).dropRight(1) +
          s""","batches":$nBatches,"batch_equal":$equal}""")
      System.err.println(s"[lsb] eventlog_source: ${results("eventlog_source")}")
      require(equal, "eventlog source drain diverged from the batch read at scale")
    }

    println(
      s"""{"metric":"large_stream","events":$n,"files":$nFiles,"users":$nUsers,"docs":$nDocs,""" +
      results.map { case (k, v) => s""""$k":$v""" }.mkString(",") +
      s""","peak_rss_bytes":${LargeConvertBench.peakRssBytes()},${Calibration.json(calBefore, Calibration.sample())}}""")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(scratch)
  }

  private def perf(n: Long, sec: Double, outRows: Long, stateRows: Long,
      bytes: Long): String =
    s"""{"wall_sec":${f"$sec%.1f"},"rows_per_s":${(n / sec).toLong},""" +
    s""""output_rows":$outRows,"state_rows":$stateRows,"bytes":$bytes}"""
}
