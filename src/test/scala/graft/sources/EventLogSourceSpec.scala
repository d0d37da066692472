package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The Kafka-shaped streaming DSv2 source (EventLogSource): batch/stream
  * parity with the native parquet reader, rate-limited multi-batch
  * drains, offset determinism and segment-identity fingerprinting,
  * append-only growth admitted mid-stream (exactly-once, including
  * across a kill/restart spanning the growth), statistics-based
  * row-group skipping under pushed filters, and the headline claim —
  * offset-range recovery across a kill/restart (exactly-once resume
  * from the committed offset vector in the checkpoint).
  */
class EventLogSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val events = s"$dir/events.parquet"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("eventlog-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // the library's drop-in extension path: needed here for the
    // EventLogStreamPushDown resolution rule (automatic skipWhere)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Ground truth: the engine's normal batch read of the same fixture,
    * ts normalized exactly like the source normalizes it.
    */
  private def groundTruth = graft.queries.Queries.t(spark, dir, "events")

  /** Stage `df` as ONE atomically-published segment file named `name`
    * inside log directory `log` (write temp, move the part file in,
    * drop the staging residue — the segment-publication discipline the
    * source documents).
    */
  private def publishSegment(df: org.apache.spark.sql.DataFrame, log: String,
      name: String): Unit = {
    val tmp = graft.TempDirs.create("eventlog-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(log, name))
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** Build the MicroBatchStream object directly (the surface the spec
    * pokes for offset semantics without running a full query).
    */
  private def streamOver(log: String, partitions: Int): EventLogMicroBatchStream = {
    val conf = UtxoTable.hadoopConf()
    val schema = EventLogTable.sparkSchema(EventLogTable.fileSchema(log, conf))
    val table = new EventLogTable(log, schema)
    val opts = new java.util.HashMap[String, String]()
    opts.put("partitions", partitions.toString)
    table.newScanBuilder(new CaseInsensitiveStringMap(opts)).build()
      .toMicroBatchStream(graft.TempDirs.create("elck").toString)
      .asInstanceOf[EventLogMicroBatchStream]
  }

  test("batch read through the log source == native parquet read (all columns)") {
    val got = spark.read.format("eventlog").option("partitions", "4").load(events)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val want = groundTruth
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("column pruning reaches the reader: projected + fully-pruned counts") {
    val src = spark.read.format("eventlog").load(events)
    // two-column projection decodes only those pages (reader-level
    // requested schema) and must still match
    assert(sortedRows(src.select("event_id", "event_type")) ==
      sortedRows(groundTruth.select("event_id", "event_type")))
    // count(*) prunes every column: the CountReader path
    assert(src.count() == groundTruth.count())
  }

  test("rate-limited stream drains in multiple micro-batches and equals the batch read") {
    val ckpt = graft.TempDirs.create("eventlog-ck").toString
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", "300")
      .load(events)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("eventlog_drain")
      .start()
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.foreach(p => if (p.numInputRows > 0) rows += p.numInputRows)
    assert(rows.length >= 3, s"expected a multi-batch drain, got batches of $rows")
    assert(rows.forall(_ <= 300), s"admission limit violated: $rows")
    val got = spark.table("eventlog_drain")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(sortedRows(got) == sortedRows(
      groundTruth.select("event_id", "ts", "user_id", "event_type", "value", "props")))
  }

  test("kill/restart: second incarnation resumes exactly-once from the committed offsets") {
    val total = groundTruth.count()
    val perBatch = math.max(1L, total / 20) // ~20 batches: the kill lands mid-stream
    val ckpt = graft.TempDirs.create("eventlog-recov-ck").toString
    val out = graft.TempDirs.create("eventlog-recov-out").toString + "/t"
    def start() = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", perBatch.toString)
      .load(events)
      .select("event_id", "user_id", "event_type")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    // first incarnation: stop deterministically after the FIRST
    // committed batch, signalled by the progress listener (not a
    // poll) — the stop lands while ~19 batches remain
    val firstCommit = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) firstCommit.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q1 = start()
      assert(firstCommit.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "first incarnation never committed a batch")
      q1.stop()
    } finally spark.streams.removeListener(listener)
    val committedBefore = new java.io.File(ckpt, "commits").listFiles()
      .count(!_.getName.startsWith("."))
    assert(committedBefore >= 1, "first incarnation must commit at least one batch")
    val rowsBefore = spark.read.parquet(out).count()
    assert(rowsBefore < total, "the kill must land mid-stream, not after the drain")

    // second incarnation on the SAME checkpoint: resumes from the
    // recorded offset vector — no reprocessing (dup rows), no loss
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).select("event_id", "user_id", "event_type")
    val want = groundTruth.select("event_id", "user_id", "event_type")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("Trigger.AvailableNow drains the log in rate-limited batches, then stops (S13 shape)") {
    val ckpt = graft.TempDirs.create("eventlog-an-ck").toString
    val q = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", "300")
      .load(events)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("eventlog_an")
      .start()
    // AvailableNow TERMINATES on its own once the snapshot is drained —
    // the batch-over-stream backfill mode; no stop() needed
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"AvailableNow must honor the admission limit across batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 300))
    val got = spark.table("eventlog_an")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(sortedRows(got) == sortedRows(
      groundTruth.select("event_id", "ts", "user_id", "event_type", "value", "props")))
  }

  test("INT96 timestamp segments (the Spark writer's default layout) read identically") {
    val dir = graft.TempDirs.create("eventlog-int96").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try groundTruth.select("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val got = spark.read.format("eventlog").load(dir)
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(sortedRows(got.select("event_id", "ts", "event_type")) ==
      sortedRows(spark.read.parquet(dir).select("event_id", "ts", "event_type")))
  }

  test("offsets: v2 json roundtrip, chain determinism, and loud partition-count drift") {
    val o = EventLogOffset(Array(3L, 0L, 250L), 2, "abc123")
    assert(o.json() == """{"v":2,"nseg":2,"fp":"abc123","ends":[3,0,250]}""")
    assert(EventLogOffset.parse(o.json()) == o)
    // the pre-growth v1 format is refused loudly, never misread
    val v1 = intercept[IllegalArgumentException] {
      EventLogOffset.parse("""{"ends":[3,0,250]}""")
    }
    assert(v1.getMessage.contains("v1"))
    // chain determinism: slices tile the log exactly, and the chain →
    // file-range mapping reproduces every row position exactly once
    val conf = UtxoTable.hadoopConf()
    val segs = EventLogTable.refreshSegments(events, conf, Array.empty)
    val chains = EventLogTable.chainLengths(segs, 4)
    assert(chains.length == 4)
    assert(chains.sum == groundTruth.count())
    val covered = (0 until 4).flatMap { p =>
      EventLogTable.mapChainRange(segs, 4, p, 0L, chains(p))
        .flatMap { case (_, lo, hi) => lo until hi }
    }.sorted
    assert(covered == (0L until chains.sum).toList)
    // partition-count drift must fail loudly, never resume misaligned
    val stream = streamOver(events, 4)
    val bad = EventLogOffset(Array(3L, 0L, 250L), segs.length,
      EventLogTable.fingerprint(segs.toIndexedSeq))
    val e = intercept[IllegalStateException] {
      stream.deserializeOffset(bad.json())
    }
    assert(e.getMessage.contains("partition map must not change"))
  }

  test("segment-identity drift: a same-count segment swap fails loudly on resume") {
    val log = graft.TempDirs.create("eventlog-swap").toString
    val total = groundTruth.count()
    publishSegment(groundTruth.filter(col("event_id") < total / 2), log, "seg-000.parquet")
    publishSegment(groundTruth.filter(col("event_id") >= total / 2), log, "seg-001.parquet")
    val s1 = streamOver(log, 2)
    val committed = s1.latestOffset(s1.initialOffset(), ReadLimit.maxRows(50L))
      .asInstanceOf[EventLogOffset]
    assert(committed.nseg == 2)
    val json = committed.json()
    // same stream accepts its own offset
    s1.deserializeOffset(json)

    // swap: remove seg-001, add seg-002 — the segment COUNT is
    // unchanged, which is exactly the drift the r13 count-only check
    // could not see; the fingerprint must catch it
    java.nio.file.Files.delete(java.nio.file.Paths.get(log, "seg-001.parquet"))
    publishSegment(groundTruth.filter(col("event_id") >= total / 2), log, "seg-002.parquet")
    val s2 = streamOver(log, 2)
    val e = intercept[IllegalStateException] { s2.deserializeOffset(json) }
    assert(e.getMessage.contains("fingerprint"))

    // a same-NAME segment with a different row count is equally loud
    java.nio.file.Files.delete(java.nio.file.Paths.get(log, "seg-002.parquet"))
    publishSegment(groundTruth.filter(col("event_id") >= total / 2 + 7), log, "seg-001.parquet")
    val s3 = streamOver(log, 2)
    val e2 = intercept[IllegalStateException] { s3.deserializeOffset(json) }
    assert(e2.getMessage.contains("fingerprint"))
  }

  test("append-only contract: in-place mutation and mid-sort inserts fail loudly on refresh") {
    val log = graft.TempDirs.create("eventlog-mut").toString
    val total = groundTruth.count()
    publishSegment(groundTruth.filter(col("event_id") < total / 2), log, "seg-005.parquet")
    val s = streamOver(log, 2)
    // a segment that GROWS in place is not an append
    val seg = java.nio.file.Paths.get(log, "seg-005.parquet")
    java.nio.file.Files.write(seg, Array[Byte](0, 0, 0, 0),
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException] {
      s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("immutable"))

    // a new segment sorting BEFORE an existing one would remap chains
    val log2 = graft.TempDirs.create("eventlog-mut2").toString
    publishSegment(groundTruth.filter(col("event_id") < total / 2), log2, "seg-005.parquet")
    val s2 = streamOver(log2, 2)
    s2.latestOffset(s2.initialOffset(), ReadLimit.allAvailable())
    publishSegment(groundTruth.filter(col("event_id") >= total / 2), log2, "seg-001.parquet")
    val e2 = intercept[IllegalStateException] {
      s2.latestOffset(s2.initialOffset(), ReadLimit.allAvailable())
    }
    assert(e2.getMessage.contains("append-only"))
  }

  test("growth: a segment landing mid-stream is admitted exactly-once") {
    val log = graft.TempDirs.create("eventlog-grow").toString
    val total = groundTruth.count()
    val a = groundTruth.filter(col("event_id") < total / 2)
    val b = groundTruth.filter(col("event_id") >= total / 2)
    publishSegment(a, log, "seg-000.parquet")
    val ckpt = graft.TempDirs.create("eventlog-grow-ck").toString
    val q = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", math.max(1L, total / 10).toString)
      .load(log)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("eventlog_grow")
      .start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("eventlog_grow").count()
      assert(afterA == a.count(), "first segment fully drained before growth")
      // the log GROWS under the running query — the appended segment
      // must be admitted by the next latestOffset re-list
      publishSegment(b, log, "seg-001.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("eventlog_grow")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(sortedRows(got) == sortedRows(
      groundTruth.select("event_id", "ts", "user_id", "event_type", "value", "props")))
  }

  test("growth across kill/restart: appended segment admitted exactly-once by the next incarnation") {
    val log = graft.TempDirs.create("eventlog-growk").toString
    val total = groundTruth.count()
    val a = groundTruth.filter(col("event_id") < total / 2)
    val b = groundTruth.filter(col("event_id") >= total / 2)
    publishSegment(a, log, "seg-000.parquet")
    val ckpt = graft.TempDirs.create("eventlog-growk-ck").toString
    val out = graft.TempDirs.create("eventlog-growk-out").toString + "/t"
    def start() = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", math.max(1L, total / 40).toString)
      .load(log)
      .select("event_id", "user_id", "event_type")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    // incarnation 1: killed after the first committed batch, mid-A
    val firstCommit = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) firstCommit.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q1 = start()
      assert(firstCommit.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "first incarnation never committed a batch")
      q1.stop()
    } finally spark.streams.removeListener(listener)
    assert(spark.read.parquet(out).count() < a.count(),
      "the kill must land mid-stream")
    // the segment lands while NO query is running — the restart's
    // checkpoint offsets predate it entirely
    publishSegment(b, log, "seg-001.parquet")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).select("event_id", "user_id", "event_type")
    val want = groundTruth.select("event_id", "user_id", "event_type")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("pushed filters skip whole row groups via footer statistics (batch and stream)") {
    import spark.implicits._
    // a sorted multi-row-group segment: ascending ids, tiny groups →
    // a selective range predicate overlaps very few groups
    val log = graft.TempDirs.create("eventlog-skip").toString
    val df = spark.range(200000).select(col("id"),
      concat(lit("u"), format_string("%07d", col("id"))).as("tag"))
      .orderBy("id")
    val tmp = graft.TempDirs.create("eventlog-skip-stage")
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "65536")
      .option("parquet.page.size", "8192")
      .parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(log, "seg-000.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)

    val read0 = EventLogTable.Metrics.rowGroupsRead.get()
    val skip0 = EventLogTable.Metrics.rowGroupsSkipped.get()
    val got = spark.read.format("eventlog").load(log)
      .filter(col("id") >= 100000L && col("id") < 100100L)
    val want = spark.read.parquet(s"$log/seg-000.parquet")
      .filter(col("id") >= 100000L && col("id") < 100100L)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() == 100)
    val skippedBatch = EventLogTable.Metrics.rowGroupsSkipped.get() - skip0
    val readBatch = EventLogTable.Metrics.rowGroupsRead.get() - read0
    assert(skippedBatch > 0,
      s"selective predicate must skip row groups (read=$readBatch skipped=$skippedBatch)")
    assert(skippedBatch > readBatch,
      s"most groups of a sorted log must be skipped (read=$readBatch skipped=$skippedBatch)")

    // the skipWhere option grammar: drops unknown columns, keeps the
    // typed conjuncts, and round-trips through render
    val schema = spark.read.format("eventlog").load(log).schema
    val parsed = EventLogSkipWhere.parse(
      "`id` >= 100000 AND id < 100100 AND tag = 'u0000007' AND bogus = 5", schema)
    assert(parsed.toSet == Set[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100000L),
      org.apache.spark.sql.sources.LessThan("id", 100100L),
      org.apache.spark.sql.sources.EqualTo("tag", "u0000007")))
    assert(EventLogSkipWhere.parse(
      EventLogSkipWhere.render(parsed.toIndexedSeq), schema).toSeq == parsed.toSeq)

    // the same skipping fires per micro-batch through the stream path —
    // Spark's micro-batch planner never pushes filters into a DSv2
    // stream, so this goes through the EventLogStreamPushDown analyzer
    // rule (GraftExtensions), which forwards the query's own filter as
    // the source's skipWhere option
    val skip1 = EventLogTable.Metrics.rowGroupsSkipped.get()
    val ckpt = graft.TempDirs.create("eventlog-skip-ck").toString
    val q = spark.readStream.format("eventlog")
      .option("partitions", "4")
      .option("maxRowsPerTrigger", "50000")
      .load(log)
      .filter(col("id") >= 100000L && col("id") < 100100L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("eventlog_skip")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("eventlog_skip").count() == 100)
    assert(sortedRows(spark.table("eventlog_skip")) == sortedRows(want))
    assert(EventLogTable.Metrics.rowGroupsSkipped.get() - skip1 > 0,
      "stream micro-batches must skip row groups under the pushed filter")
  }
}
