package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** S1-S5: streaming results must equal their batch analogues over the
  * same finite input (SURVEY.md §5 strategy: deterministic checks via
  * memory sink vs batch-mode equivalents).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  /** Streaming file sources watch directories: stage the single events
    * parquet into a temp dir once.
    */
  private lazy val eventsDir: String = {
    val d = graft.TempDirs.create("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stream state sizing: warn above 256 MB per partition unless overridden") {
    val limit = 256L << 20
    assert(StreamingQueries.stateSizingWarning("q", 4 * limit, 4, overridden = false).isEmpty)
    val warn = StreamingQueries.stateSizingWarning("q", 4 * limit + 4, 4, overridden = false)
    assert(warn.exists(w => w.contains("'q'") && w.endsWith("SPARK_GRAFT_STREAM_STATE_PARTITIONS=5")),
      s"got $warn")
    assert(StreamingQueries.stateSizingWarning("q", 40 * limit, 4, overridden = true).isEmpty)
  }

  test("S1 tumbling window: streaming == batch") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.tumbling(StreamingQueries.readEventsStream(spark, eventsDir)), "s1_out")
    val batch = graft.queries.QueriesScalar.streamTumbling(spark, dir)
      .select("hour_start_ms", "event_type", "n", "total_value")
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  test("S1b sliding window: each event lands in exactly two 1h/30m windows") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.sliding(StreamingQueries.readEventsStream(spark, eventsDir)), "s1b_out")
    val totalEvents = graft.queries.Queries.t(spark, dir, "events").count()
    val sumN = streamed.agg(sum("n")).collect()(0).getLong(0)
    assert(sumN == 2 * totalEvents)
  }

  test("S9 chained windows: streaming rollup rows == batch rows for closed windows") {
    import org.apache.spark.sql.streaming.OutputMode
    // chained stateful aggregations require append mode: an hour emits
    // once the watermark (max ts - 2h) passes its end, final-on-emit
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.chainedWindows(StreamingQueries.readEventsStream(spark, eventsDir)),
      "s9_out", OutputMode.Append())
    val batch = graft.queries.QueriesScalar.streamChained(spark, dir)
    val batchRows = sortedRows(batch).toSet
    val streamedRows = sortedRows(streamed)
    // every emitted row is exactly a batch row (no partial hours leak)
    assert(streamedRows.nonEmpty && streamedRows.forall(batchRows.contains))
    // completeness: every hour strictly older than the final watermark
    // must have been emitted
    val maxMs = graft.queries.Queries.t(spark, dir, "events")
      .agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
    val closed = batch.filter(col("hour_start_ms") + 3600000 < maxMs - 7200000).count()
    assert(streamed.count() >= closed)
  }

  test("S10 transformWithState: RocksDB-backed per-user totals == batch groupBy") {
    import org.apache.spark.sql.streaming.OutputMode
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamingQueries.runToBatch(spark,
        StreamingQueries.statefulTotals(spark,
          StreamingQueries.readEventsStream(spark, eventsDir)),
        "s10_out", OutputMode.Update())
      // single input file → one micro-batch → emitted totals are final
      val got = streamed.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = graft.queries.Queries.t(spark, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S2 session windows: streaming == batch session_window") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.sessions(StreamingQueries.readEventsStream(spark, eventsDir)), "s2_out")
      .filter(col("user_id") % 10 === 0)
    val batch = graft.queries.QueriesScalar.streamSession(spark, dir)
      .select("user_id", "session_start_ms", "n_events", "session_value")
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  test("S3/S4 watermarked dedup keeps one row per event_id") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.dedup(StreamingQueries.readEventsStream(spark, eventsDir)), "s4_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val total = graft.queries.Queries.t(spark, dir, "events")
    assert(streamed.count() == total.select("event_id").distinct().count())
  }

  test("S6 stream-stream join: streaming == batch within the 30-minute bound") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.streamStreamJoin(
        StreamingQueries.readEventsStream(spark, eventsDir),
        StreamingQueries.readEventsStream(spark, eventsDir)), "s6_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = graft.queries.QueriesScalar.streamJoin(spark, dir)
      .select("click_id", "purch_id", "user_id", "click_ms", "purch_ms", "purch_value")
    assert(sortedRows(streamed) == sortedRows(batch))
    assert(batch.count() > 0, "expected some click→purchase matches in the corpus")
  }

  test("S11 stream-stream LEFT join: matches == batch; nulls only for closed horizons") {
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.streamStreamLeftJoin(
        StreamingQueries.readEventsStream(spark, eventsDir),
        StreamingQueries.readEventsStream(spark, eventsDir)), "s11_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = graft.queries.QueriesScalar.streamJoinLeft(spark, dir)
      .select("click_id", "user_id", "click_ms", "purch_id", "purch_ms", "purch_value")
    // matched rows stream out exactly as the inner join would
    val sMatched = sortedRows(streamed.filter(col("purch_id").isNotNull))
    val bMatched = sortedRows(batch.filter(col("purch_id").isNotNull))
    assert(sMatched == bMatched && sMatched.nonEmpty)
    // every emitted null row is a true batch null row (soundness)…
    val bNulls = sortedRows(batch.filter(col("purch_id").isNull)).toSet
    val sNulls = streamed.filter(col("purch_id").isNull)
    assert(sortedRows(sNulls).forall(bNulls.contains))
    // …and every click whose horizon closed WELL before the final
    // watermark was emitted. The outer-join state watermark is more
    // conservative than (delay + window): measured on this corpus the
    // newest unemitted null sat ~4h before stream end, the next (~7.7h)
    // emitted — so pin completeness at 8h, which still covers the vast
    // majority of the corpus while staying robust to eviction internals.
    val maxMs = graft.queries.Queries.t(spark, dir, "events")
      .agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
    val cutoff = maxMs - 8 * 3600000L
    val closedNulls = batch
      .filter(col("purch_id").isNull && col("click_ms") < cutoff).count()
    assert(sNulls.count() >= closedNulls && closedNulls > 0)
  }

  test("S7 stream-static join: dimension enrichment equals the batch join") {
    import spark.implicits._
    val dim = Seq(
      ("click", "engagement", 1.0), ("view", "engagement", 0.5),
      ("purchase", "revenue", 10.0), ("signup", "growth", 5.0),
      ("error", "ops", 0.0)).toDF("event_type", "category", "weight")
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.streamStaticJoin(
        StreamingQueries.readEventsStream(spark, eventsDir), dim), "s7_out")
    val batch = StreamingQueries.streamStaticJoin(
      graft.queries.Queries.t(spark, dir, "events"), dim)
    assert(sortedRows(streamed) == sortedRows(batch.select(streamed.columns.map(col): _*)))
  }

  test("parquet file sink + checkpoint: the production write path lands the dedup stream") {
    val outDir = graft.TempDirs.create("sink-out").toString
    val ckpt = graft.TempDirs.create("sink-ckpt").toString
    val q = StreamingQueries.dedup(StreamingQueries.readEventsStream(spark, eventsDir))
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val landed = spark.read.parquet(outDir)
    val total = graft.queries.Queries.t(spark, dir, "events")
    assert(landed.count() == total.select("event_id").distinct().count())
    // exactly-once bookkeeping exists: the checkpoint recorded the batch
    assert(new java.io.File(ckpt, "offsets").listFiles().nonEmpty)
  }

  test("S8 foreachBatch upsert: multi-batch incremental merges equal batch latest-per-key") {
    import java.nio.file.{Files, Paths}
    // split the events into 3 chunk files so maxFilesPerTrigger=1 forces
    // 3 micro-batches — each one MERGEs into the target incrementally
    val srcDir = graft.TempDirs.create("upsert-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet") // ts stays long
    (0 until 3).foreach { i =>
      val tmp = graft.TempDirs.create(s"upsert-chunk$i")
      raw.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"chunk-$i.parquet"))
    }
    val ckpt = graft.TempDirs.create("upsert-ckpt").toString
    val target = graft.TempDirs.create("upsert-tgt").toString + "/t"
    val got = StreamingQueries.runUpsert(spark, srcDir.toString, target, ckpt,
        maxFilesPerTrigger = Some(1))
      .select(col("user_id"), col("event_type"), col("event_id"), unix_millis(col("ts")))
    // incrementality really happened: one committed offset per chunk
    assert(new java.io.File(ckpt, "offsets").listFiles()
      .count(!_.getName.startsWith(".")) >= 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = graft.queries.Queries.t(spark, dir, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_millis(col("ts")))
    assert(sortedRows(got) == sortedRows(batch))
  }

  test("S8b upsert publish crash between renames auto-recovers from _old (no key loss)") {
    import org.apache.hadoop.fs.Path
    import java.nio.file.Files
    val base = graft.TempDirs.create("upsert-crash").toString
    val target = s"$base/t"
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    def table(rows: Seq[(Long, String, Long, java.sql.Timestamp)]) =
      rows.toDF("user_id", "event_type", "event_id", "ts")
    val t0 = new java.sql.Timestamp(1000L)
    val t1 = new java.sql.Timestamp(2000L)
    // batch 1 establishes the table
    StreamingQueries.upsertMerge(spark, table(Seq((1L, "click", 10L, t0), (2L, "view", 20L, t0))), target)
    // simulate the exact crash window: a publish that died AFTER
    // `target → _old` and BEFORE `stage → target` — no live table, the
    // only surviving copy is _old
    assert(fs.rename(new Path(target), new Path(target + "_old")))
    // batch 2 must first restore _old, then merge — the pre-fix code
    // deleted _old unconditionally and published ONLY batch 2's rows
    StreamingQueries.upsertMerge(spark, table(Seq((3L, "click", 30L, t1))), target)
    val got = spark.read.parquet(target)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L)),
      s"previously merged keys lost across the crash window: $got")
    assert(!fs.exists(new Path(target + "_old")), "stale _old must be cleaned up")
  }

  test("S13 Trigger.AvailableNow: bounded backfill stops on its own, result == batch") {
    import java.nio.file.Files
    // 3 chunk files + maxFilesPerTrigger=1: the trigger must take a
    // snapshot of available data, drain it over MULTIPLE rate-limited
    // micro-batches, then terminate WITHOUT processAllAvailable/stop —
    // the batch-over-stream backfill mode (Trigger.Once's replacement
    // that still honors rate limits)
    val srcDir = graft.TempDirs.create("avnow-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    (0 until 3).foreach { i =>
      val tmp = graft.TempDirs.create(s"avnow-chunk$i")
      raw.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"chunk-$i.parquet"))
    }
    val ckpt = graft.TempDirs.create("avnow-ckpt").toString
    val out = graft.TempDirs.create("avnow-out").toString + "/t"
    val tsType = StreamingQueries.eventsTsType(spark, srcDir.toString)
    val events = spark.readStream
      .schema(StreamingQueries.eventsRawSchema(tsType))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
      .withColumn("ts", graft.queries.Queries.normalizeTs("ts", tsType))
    val q = events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // self-terminating: awaitTermination returns once available data is
    // drained — no explicit stop, no processAllAvailable
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    // rate limit honored: one committed offset per chunk file
    assert(new java.io.File(ckpt, "offsets").listFiles()
      .count(!_.getName.startsWith(".")) >= 3)
    val got = spark.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val batch = graft.queries.Queries.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    assert(sortedRows(got) == sortedRows(batch))
  }

  test("S14 checkpoint recovery: a stopped query resumes exactly-once from its offsets") {
    import java.nio.file.Files
    val srcDir = graft.TempDirs.create("recov-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    (0 until 3).foreach { i =>
      val tmp = graft.TempDirs.create(s"recov-chunk$i")
      raw.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"chunk-$i.parquet"))
    }
    val ckpt = graft.TempDirs.create("recov-ckpt").toString
    val out = graft.TempDirs.create("recov-out").toString + "/t"
    def start() = spark.readStream
      .schema(StreamingQueries.eventsRawSchema(
        StreamingQueries.eventsTsType(spark, srcDir.toString)))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    // first incarnation: let at least one micro-batch commit, then KILL
    // it mid-stream (the crash/deploy case)
    val q1 = start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.recentProgress.length < 1 && System.nanoTime() < deadline)
      Thread.sleep(100)
    q1.stop()
    val committedBefore = new java.io.File(ckpt, "commits").listFiles()
      .count(!_.getName.startsWith("."))
    assert(committedBefore >= 1, "first incarnation must commit at least one batch")

    // second incarnation on the SAME checkpoint: resumes from the
    // recorded offsets and drains the rest — no reprocessing, no loss
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val batch = graft.queries.Queries.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    // exactly-once across the restart: no duplicates, nothing missing
    assert(sortedRows(got) == sortedRows(batch))
  }

  test("S5 flatMapGroupsWithState: final per-user totals == batch groupBy") {
    val events = StreamingQueries.readEventsStream(spark, eventsDir)
    val streamed = StreamingQueries.runToBatch(spark,
      StreamingQueries.runningPerUser(spark, events).toDF(),
      "s5_out", org.apache.spark.sql.streaming.OutputMode.Update())
    // last update per user is the final running state
    val finalPerUser = streamed
      .groupBy("user_id").agg(max("n_events").as("n_events"))
    val batch = graft.queries.Queries.t(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    assert(sortedRows(finalPerUser) == sortedRows(batch))
  }

  test("S16 accreting-index dedup: streaming verdicts == batch arrival-order contract") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val want = graft.queries.QueriesLLM.arrivalDedupSimhash(spark, dir)
    val wantRows = want.collect()
    assert(wantRows.nonEmpty, "corpus should contain simhash near-dups")
    // split the corpus into three files so at least one dropped doc and
    // its first duplicate land in DIFFERENT micro-batches — that doc's
    // verdict can only come from ListState accreted in an earlier
    // batch, never from batch-local comparison
    val cross = wantRows.maxBy(r => r.getLong(0) - r.getLong(2))
    val b1 = cross.getLong(2) + 1 // first_dup_of strictly below b1
    val hi = cross.getLong(0) // the dropped doc, in the middle slice
    val docsB = graft.queries.Queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val watch = graft.TempDirs.create("docs-stream").toString
    Seq(col("doc_id") < b1,
      col("doc_id") >= b1 && col("doc_id") <= hi,
      col("doc_id") > hi).zipWithIndex.foreach { case (p, i) =>
      val tmp = graft.TempDirs.create(s"docs-slice$i")
      docsB.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(watch, f"slice$i%04d.parquet"))
    }
    // arrival order == doc_id order across micro-batches
    FileIngestOrder.pinMtimesToPathOrder(
      spark.sparkContext.hadoopConfiguration, watch)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val verdicts = StreamingQueries.runToBatch(spark,
        StreamingQueries.simhashBandVerdicts(spark, stream), "s16_out",
        OutputMode.Append())
      val got = StreamingQueries.arrivalVerdictRollup(verdicts)
      assert(sortedRows(got) == sortedRows(want))
      // the cross-batch witness really was dropped by accreted state
      assert(got.filter(col("doc_id") === hi).count() == 1)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S16 windowed dedup: streaming == batch retention contract; horizon kept-witness") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wantAll = graft.queries.QueriesLLM.arrivalDedupSimhash(spark, dir)
    val want = graft.queries.QueriesLLM.arrivalDedupSimhashWindow(spark, dir)
    val wantRows = want.collect()
    assert(wantRows.nonEmpty, "corpus should contain within-window near-dups")
    // the window must BIND: at least one unwindowed drop whose every
    // earlier match is beyond the horizon must be KEPT here — that doc
    // is the witness that streaming state pruning changes verdicts the
    // way the batch contract says, not just shrinks storage
    val windowedIds = wantRows.map(_.getLong(0)).toSet
    val kept = wantAll.collect().map(_.getLong(0)).filterNot(windowedIds)
    assert(kept.nonEmpty, "window does not bind on this corpus")
    // stream the corpus in three mtime-ordered slices around a dropped
    // doc (same cross-batch discipline as the unwindowed spec)
    val cross = wantRows.maxBy(r => r.getLong(0) - r.getLong(2))
    val b1 = cross.getLong(2) + 1
    val hi = cross.getLong(0)
    val docsB = graft.queries.Queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val watch = graft.TempDirs.create("docs-stream-w").toString
    Seq(col("doc_id") < b1,
      col("doc_id") >= b1 && col("doc_id") <= hi,
      col("doc_id") > hi).zipWithIndex.foreach { case (p, i) =>
      val tmp = graft.TempDirs.create(s"docs-wslice$i")
      docsB.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(watch, f"wslice$i%04d.parquet"))
    }
    FileIngestOrder.pinMtimesToPathOrder(
      spark.sparkContext.hadoopConfiguration, watch)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val verdicts = StreamingQueries.runToBatch(spark,
        StreamingQueries.simhashBandVerdictsWindow(spark, stream), "s16w_out",
        OutputMode.Append())
      val got = StreamingQueries.arrivalVerdictRollup(verdicts)
      assert(sortedRows(got) == sortedRows(want))
      // the kept-witness: dropped by the unwindowed index, kept here
      assert(got.filter(col("doc_id").isin(kept.toSeq: _*)).count() == 0)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S16 event-time dedup: SHUFFLED arrival order still equals the batch contract") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val want = graft.queries.QueriesLLM.arrivalDedupSimhash(spark, dir)
    val wantRows = want.collect()
    assert(wantRows.nonEmpty, "corpus should contain simhash near-dups")
    // the adversarial arrival: the slice holding a dropped doc's FIRST
    // DUPLICATE arrives LAST — the in-order processor's check for the
    // dropped doc runs before that duplicate is ever inserted, so
    // equality under this order can only come from watermark buffering
    val cross = wantRows.maxBy(r => r.getLong(0) - r.getLong(2))
    val lo = cross.getLong(2) // the first duplicate, staged last
    val b1 = lo + 1
    val hi = cross.getLong(0) // the dropped doc, staged first
    val docsB = graft.queries.Queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val maxId = docsB.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val delay = maxId + 2 // covers ANY permutation of this corpus
    val sentinelId = maxId + delay + 2
    val watch = graft.TempDirs.create("docs-et-spec").toString
    val slices = Seq(
      docsB.filter(col("doc_id") >= b1 && col("doc_id") <= hi),
      docsB.filter(col("doc_id") > hi),
      docsB.filter(col("doc_id") < b1), // hi's first duplicate, LAST
      // the sentinel advances the final watermark past every real doc
      // (an infinite stream has no end — draining means event time
      // moving on), and is filtered from the verdicts below
      spark.range(1).select(lit(sentinelId).as("doc_id"),
        lit("sentinel").as("text")))
    slices.zipWithIndex.foreach { case (p, i) =>
      val tmp = graft.TempDirs.create(s"docs-etslice$i")
      p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(watch, f"arr$i%04d.parquet"))
      // same temp hygiene as runEventTimeDedup (r12 advice): staging
      // residue dies immediately, the watch dir in the finally below
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    FileIngestOrder.pinMtimesToPathOrder(
      spark.sparkContext.hadoopConfiguration, watch)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def freshStream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val verdicts = StreamingQueries.runToBatch(spark,
        StreamingQueries.simhashBandVerdictsEventTime(spark, freshStream(), delay),
        "s16et_out", OutputMode.Append())
      val got = StreamingQueries.arrivalVerdictRollup(verdicts)
        .filter(col("doc_id") <= maxId)
      assert(sortedRows(got) == sortedRows(want))
      // the out-of-order witness was dropped despite its first dup
      // arriving two batches after it
      assert(got.filter(col("doc_id") === hi).count() == 1)
      // negative control: the in-order processor on the SAME shuffled
      // arrival diverges (it misses the (lo, hi) match) — the
      // prerequisite the event-time form exists to remove
      val ctrl = StreamingQueries.runToBatch(spark,
        StreamingQueries.simhashBandVerdicts(spark, freshStream()),
        "s16et_ctrl", OutputMode.Append())
      val gotCtrl = StreamingQueries.arrivalVerdictRollup(ctrl)
        .filter(col("doc_id") <= maxId)
      assert(sortedRows(gotCtrl) != sortedRows(want),
        "in-order processor unexpectedly survived shuffled arrival — witness is vacuous")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(watch))
    }
  }

  test("S16 event-time registry driver: 12-slice shuffle hash-equals the arrival contract") {
    // the s_dedup_simhash_eventtime entry end-to-end: its own staging,
    // its own disorder, its own watermark sizing — must reproduce the
    // batch contract exactly (the Verify gate then hash-checks the
    // same equality against DuckDB at sf0.01)
    val want = graft.queries.QueriesLLM.arrivalDedupSimhash(spark, dir)
    val got = StreamingQueries.runEventTimeDedup(spark, dir)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("S16 windowed event-time: shuffled arrival equals the retention contract; window binds") {
    // the full production shape — out-of-order tolerant AND bounded
    // state — must reproduce the RETENTION contract under the same
    // shuffled staging the unwindowed driver uses
    val wantAll = graft.queries.QueriesLLM.arrivalDedupSimhash(spark, dir)
    val want = graft.queries.QueriesLLM.arrivalDedupSimhashWindow(spark, dir)
    val got = StreamingQueries.runEventTimeDedup(spark, dir,
      graft.queries.QueriesLLM.SimhashWindow)
    assert(sortedRows(got) == sortedRows(want))
    // the window binds through the event-time path too: docs whose
    // only matches lie beyond the horizon are KEPT here
    val windowedIds = want.collect().map(_.getLong(0)).toSet
    val kept = wantAll.collect().map(_.getLong(0)).filterNot(windowedIds)
    assert(kept.nonEmpty, "window does not bind on this corpus")
    assert(got.filter(col("doc_id").isin(kept.toSeq: _*)).count() == 0)
  }
}
