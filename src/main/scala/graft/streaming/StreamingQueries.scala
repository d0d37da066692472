package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftInternals, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.queries.{Queries, SessionScope}

/** Structured Streaming surface (SURVEY.md §2.10 S1-S5) over the events
  * schema. Each transform takes a streaming DataFrame (from
  * [[readEventsStream]]) and is the exact streaming counterpart of the
  * batch analogue in QueriesScalar — StreamingSpec drives both over the
  * same data and asserts equality.
  *
  * Design-for-scale notes: all aggregations are keyed so state
  * partitions by (window/session, key) and scales horizontally; every
  * query carries a watermark so state is bounded and late data has
  * defined semantics.
  */
object StreamingQueries {

  /** File-based streaming source over the corpus events table. The raw
    * parquet has shipped as both TIMESTAMP(NANOS) (readable only as
    * long under nanosAsLong) and TIMESTAMP(MICROS) (arrives NTZ);
    * streaming reads need an explicit schema, so probe the actual file
    * layout from a footer of the same directory and declare
    * `ts` accordingly — generator layout must never be assumed.
    */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Actual physical `ts` type of the events parquet in `eventsDir`
    * (LongType for nanos files, TimestampNTZType for micros files), read
    * from a footer.
    */
  def eventsTsType(spark: SparkSession, eventsDir: String): DataType =
    SessionScope.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")(
      Queries.readParquet(_, eventsDir).schema("ts").dataType)

  /** `eventsDir` must be a DIRECTORY of events parquet files (Spark's
    * file streaming source watches directories, not single files) —
    * new files appearing there flow through incrementally.
    *
    * Operational caveat (measured, LargeStreamBench r6): the file
    * source admits new files in MODIFICATION-TIME order. A directory
    * populated by parallel writers can therefore deliver a
    * late-event-time file into an early micro-batch; with a watermark
    * on, that advances the eviction horizon past the straggler files
    * and their rows are silently DROPPED as late (a first proof run
    * lost 57% of a dedup's output this way). Either make arrival order
    * respect event time (the proof generator pins mtimes), or size the
    * watermark to cover the writer's full out-of-orderness.
    *
    * The stream is bound to a session derived from `spark` under the
    * engine's session contract ([[graft.queries.Queries.Contract]]:
    * oracle parity requires UTC for NTZ→LTZ casts and epoch renders, and
    * nanos-layout events files are unreadable without nanosAsLong), so
    * a non-UTC caller gets the contract without its own session
    * changing.
    */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame =
    SessionScope.withConf(spark, Queries.Contract: _*) { d =>
      val tsType = eventsTsType(d, eventsDir)
      d.readStream
        .schema(eventsRawSchema(tsType))
        .parquet(eventsDir)
        .withColumn("ts", Queries.normalizeTs("ts", tsType))
    }

  /** S1: tumbling 1-hour window counts/sums with a 2-hour watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(unix_millis(col("w.start")).as("hour_start_ms"), col("event_type"),
        col("n"), col("total_value"))

  /** S1b: sliding windows (1 hour, sliding 30 minutes). */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("event_type"), col("n"))

  /** S2: session windows, 10-minute gap, keyed by user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n_events"), col("session_value"))

  /** S3+S4: watermarked stateful dedup on event_id. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** S6: stream-stream inner join — each click joined to the same user's
    * purchases landing within [click ts, click ts + 30 min]. BOTH sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark can compute a state-eviction horizon: buffered
    * rows older than watermark + 30 min are dropped instead of held
    * forever (an unbounded-state stream join is the classic streaming
    * scale failure). State partitions by user_id — horizontal scale-out.
    */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoin(clicks, purchases, "inner")
      .select(col("click_id"), col("purch_id"), col("user_id"),
        unix_millis(col("c_ts")).as("click_ms"),
        unix_millis(col("p_ts")).as("purch_ms"),
        round(col("value"), 2).as("purch_value"))

  /** Shared S6/S11 join core: watermarked click and purchase sides and
    * the time-bounded condition live in ONE place so the 30-minute
    * horizon and 1-hour watermarks cannot drift between the inner and
    * outer variants.
    */
  private def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id").as("p_user"),
        col("value"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** S11: stream-stream LEFT OUTER join — S6's inner match plus
    * watermark-driven null emission: a click with no purchase in its
    * 30-minute horizon is emitted WITH NULL match columns only once
    * the watermark has passed the horizon (before that, the match
    * could still arrive). This is why outer stream joins require BOTH
    * watermarks and a time-bounded condition: the null decision needs
    * a state-eviction deadline, not just memory bounds. Matched rows
    * stream out exactly as in the inner join; only the null rows wait.
    */
  def streamStreamLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoin(clicks, purchases, "left_outer")
      .select(col("click_id"), col("user_id"),
        unix_millis(col("c_ts")).as("click_ms"), col("purch_id"),
        unix_millis(col("p_ts")).as("purch_ms"),
        round(col("value"), 2).as("purch_value"))

  /** S7: stream-static join — the dimension-enrichment pattern: each
    * micro-batch joins against a static (batch) DataFrame, planned as a
    * broadcast hash join per batch. No state, no watermark needed —
    * the static side is re-resolvable every batch, which is what makes
    * this the default way to attach dimension attributes to a stream.
    */
  def streamStaticJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"))
      .groupBy(col("event_type"), col("category"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * col("weight")), 2).as("weighted_value"))

  /** S8: foreachBatch incremental upsert — each micro-batch MERGEs its
    * latest-per-key rows into a keyed parquet target: read the current
    * target, union the batch, keep the newest row per (user_id,
    * event_type) by (ts, event_id), publish by staged rename: the live
    * dir is renamed aside, the stage renamed in, and the old copy
    * deleted last — two renames are NOT one atomic swap (plain
    * filesystems have none), but a crash at any point leaves either the
    * old or the new table recoverable (never a half-deleted target;
    * recovery is AUTOMATIC: the next call detects a missing live
    * `_SUCCESS` with a complete `_old` and renames it back before
    * merging). True atomic publish is what a
    * transactional table format adds. This is the standard
    * streaming-materialized-view sink when the table format has no
    * native MERGE; per-key state lives in the TARGET, not executor
    * memory, so it scales with storage, and the per-batch rewrite cost
    * is what a transactional format (MERGE INTO) would amortize.
    */
  def upsertMerge(spark: SparkSession, updates: DataFrame, targetDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery FIRST: a prior publish that died between
    // `target → _old` and `stage → target` leaves no live table and the
    // only surviving copy in `_old` — restore it before reading
    // `current`, and NEVER delete `_old` while the live target is
    // missing (the old code deleted it unconditionally below, which on
    // this exact crash turned the recoverable state into silent loss of
    // every previously merged key)
    val recoverOld = new Path(targetDir + "_old")
    if (!fs.exists(new Path(target, "_SUCCESS")) &&
        fs.exists(new Path(recoverOld, "_SUCCESS"))) {
      fs.delete(target, true) // half-renamed or absent
      if (!fs.rename(recoverOld, target))
        throw new java.io.IOException(s"recovery rename $recoverOld -> $target failed")
    }
    val current =
      if (fs.exists(new Path(target, "_SUCCESS"))) spark.read.parquet(targetDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        updates.schema)
    val merged = current.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val stage = new Path(targetDir + "_stage")
    merged.write.mode("overwrite").parquet(stage.toString)
    // two-step publish: live → _old, stage → live, drop _old. Works on
    // HDFS (where rename-over-existing fails) and keeps a recoverable
    // copy at every crash point.
    val old = new Path(targetDir + "_old")
    // safe here: the recovery block above already ran, so if `_old`
    // still exists the live target does too and `_old` is a stale
    // leftover, not the last surviving copy
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"publish rename $target -> $old failed")
    if (!fs.rename(stage, target)) {
      fs.rename(old, target) // best-effort restore of the previous table
      throw new java.io.IOException(s"publish rename $stage -> $target failed")
    }
    fs.delete(old, true)
  }

  /** S8 driver: stream events through [[upsertMerge]] to completion and
    * return the final target table (latest event per user/type — the
    * same contract the batch `s_dedup_latest` query computes).
    */
  def runUpsert(spark: SparkSession, eventsDir: String, targetDir: String,
      checkpointDir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    SessionScope.withConf(spark, Queries.Contract: _*) { d =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(targetDir).getFileSystem(d.sparkContext.hadoopConfiguration)
      fs.delete(new Path(targetDir), true)
      fs.delete(new Path(checkpointDir), true)
      val tsType = eventsTsType(d, eventsDir)
      val reader = d.readStream.schema(eventsRawSchema(tsType))
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
      val events = reader.parquet(eventsDir)
        .withColumn("ts", Queries.normalizeTs("ts", tsType))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      val q = events.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          upsertMerge(batch.sparkSession, batch.toDF(), targetDir)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      d.read.parquet(targetDir)
    }

  /** S12: offline state-store inspection — the `statestore` batch
    * source reads a streaming query's keyed state directly off its
    * checkpoint: run the per-user aggregation to completion (sink is a
    * no-op foreachBatch; only the state matters), then query the final
    * state with no streaming query running. This is the operational
    * surface a production pipeline needs — state-size audits, skew
    * diagnosis per `partition_id`, state migration dry-runs — and it
    * reads the same HDFS-backed store files the executors wrote, one
    * state row per aggregation key, partitioned exactly as the shuffle
    * that produced them. The value struct carries the aggregation
    * BUFFER fields in declaration order (count, sum), renamed
    * positionally: buffer layout is the engine's, names are ours.
    */
  def runStateInspect(spark: SparkSession, eventsDir: String,
      checkpointDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(checkpointDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(checkpointDir), true)
    val agg = readEventsStream(spark, eventsDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("value_cents"))
    val q = agg.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      // the sink must DRAIN every partition or the state stores never
      // commit (commit validation counts per-partition store commits);
      // the noop writer is the cheapest full pass
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.format("noop").mode("overwrite").save()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.user_id").as("user_id"),
        col("value.*"))
      .toDF("user_id", "n_events", "value_cents")
  }

  /** S5: arbitrary stateful processing — running per-user event count
    * and cumulative value via flatMapGroupsWithState.
    */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  def runningPerUser(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          it.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }

  /** Run any of the above to completion against a finite file source and
    * return the materialized result (used by tests and demos; a real
    * deployment would `.writeStream.format(...)` instead). Aggregations
    * use the default Complete mode; dedup/flatMapGroups pass
    * Append/Update.
    */
  /** S9: chained stateful time-window aggregations — 10-minute window
    * counts re-aggregated into hourly totals INSIDE ONE streaming query
    * (windowing directly on the first layer's window column), the
    * streaming rollup that before Spark 3.4 required two queries with
    * an intermediate sink. Both state layers are bounded by the same
    * watermark; append mode emits an hour once the watermark passes its
    * end, so results are final-on-emit (no retractions downstream).
    */
  def chainedWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "10 minutes").as("w10"), col("event_type"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(col("w10"), "1 hour").as("w"), col("event_type"))
      .agg(sum(col("n10")).as("n"), count(lit(1)).as("n_subwindows"))
      .select(unix_millis(col("w.start")).as("hour_start_ms"), col("event_type"),
        col("n"), col("n_subwindows"))

  /** S10: `transformWithState` — the Spark 4 arbitrary-state API
    * (typed `ValueState` handles, optional TTL, RocksDB-backed): a
    * per-user totals processor that survives across micro-batches and
    * emits the updated totals on every batch. Supersedes S5's
    * `flatMapGroupsWithState` ergonomics (explicit state variables
    * instead of one opaque state object; per-state TTL instead of
    * manual timeout bookkeeping); kept alongside it because both APIs
    * are part of the declared surface. Totals carry integer cents so
    * the cross-engine/batch comparison is exact.
    */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[(Long, Long, Long)] = {
      var (n, cents) = Option(totals.get()).getOrElse((0L, 0L))
      rows.foreach { r => n += 1; cents += r._2 }
      totals.update((n, cents))
      Iterator((key, n, cents))
    }
  }

  def statefulTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "n_events", "total_cents")
  }

  /** S16 (r10): per-bucket handler for the streaming accreting-index
    * near-dup dedup — state is the list of (doc_id, fingerprint) pairs
    * ever seen in this band bucket; each arriving doc is checked
    * against the accumulated list (hamming ≤ SimhashTau) and then
    * inserted REGARDLESS of verdict, which is what makes the streaming
    * output equal the batch arrival-order contract
    * ([[graft.queries.QueriesLLM.arrivalDedupSimhash]]): a doc is a
    * duplicate iff ANY earlier doc matches, kept or not. Rows within a
    * micro-batch are processed in doc_id (= arrival) order (the sortBy
    * below), and the `id < docId` guard suppresses spurious matches
    * against later-id rows that happen to sit in the same batch —
    * but equality with the batch contract REQUIRES in-order delivery
    * ACROSS micro-batches: if a lower-id doc arrives in a LATER batch
    * than a higher-id doc, the higher-id doc's check ran before the
    * lower one was inserted and that match is silently missed. The
    * cross-batch ordering must come from the ingest side — the S15
    * FileIngestOrder guard pins file mtimes to id order for exactly
    * this reason (and the spec pins mtimes before asserting equality).
    * State partitions by band bucket (4×32,768 buckets) — horizontal
    * scale-out, and per-bucket lists stay at occupancy n/32768.
    */
  class BandDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Seq[Long])] {
    @transient private var seen:
        org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getListState[(Long, Long)]("seen",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[(Long, Seq[Long])] = {
      val prior = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      seen.get().foreach(prior += _)
      val fresh = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val out = rows.toSeq.sortBy(_._2).map { case (_, docId, fp) =>
        val matches = (prior.iterator ++ fresh.iterator)
          .filter { case (id, fp2) =>
            id < docId && java.lang.Long.bitCount(fp ^ fp2) <=
              graft.queries.QueriesLLM.SimhashTau }
          .map(_._1).toSeq.distinct.sorted
        fresh += ((docId, fp))
        (docId, matches)
      }
      seen.appendList(fresh.toArray)
      out.iterator
    }
  }

  /** S16 windowed (r11): the RETENTION-BOUNDED form of
    * [[BandDedupProcessor]] — matches only count against entries within
    * the last `window` arrivals, and the bucket list is REWRITTEN with
    * expired entries dropped on every touch, so hot-bucket state holds
    * ≤ window-occupancy entries instead of growing n/32,768 forever
    * (cold buckets decay on their next arrival). This is the state
    * story an INFINITE stream needs; the unwindowed processor is the
    * "ever seen?" audit form. Batch contract:
    * [[graft.queries.QueriesLLM.arrivalDedupSimhashWindow]] — same
    * in-order-delivery prerequisite as the unwindowed processor.
    */
  class BandDedupWindowProcessor(window: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Seq[Long])] {
    @transient private var seen:
        org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getListState[(Long, Long)]("seen",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[(Long, Seq[Long])] = {
      val prior = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      seen.get().foreach(prior += _)
      val fresh = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var maxId = Long.MinValue
      val out = rows.toSeq.sortBy(_._2).map { case (_, docId, fp) =>
        if (docId > maxId) maxId = docId
        val matches = (prior.iterator ++ fresh.iterator)
          .filter { case (id, fp2) =>
            id < docId && id >= docId - window &&
              java.lang.Long.bitCount(fp ^ fp2) <=
                graft.queries.QueriesLLM.SimhashTau }
          .map(_._1).toSeq.distinct.sorted
        fresh += ((docId, fp))
        (docId, matches)
      }
      // rewrite pruned: nothing below the horizon can ever match again
      seen.put((prior.iterator ++ fresh.iterator)
        .filter(_._1 >= maxId - window).toArray)
      out.iterator
    }
  }

  /** S16 event-time (r12, closing the r11 verdict's item 4): the
    * OUT-OF-ORDER-TOLERANT form of [[BandDedupProcessor]]. The
    * unwindowed and windowed processors check each doc the moment it
    * arrives, so their batch-contract equality REQUIRES in-order
    * cross-batch delivery (S15 mtime pinning) — a prerequisite a
    * multi-writer production ingest cannot honor. This processor
    * instead treats arrival ids as the EVENT CLOCK (ts = doc_id
    * seconds), BUFFERS arrivals per bucket, and only checks+inserts a
    * doc once the WATERMARK proves no earlier-id doc can still arrive
    * — flushing buffered docs in event-time (= id) order. Verdicts are
    * therefore identical to the batch arrival contract
    * ([[graft.queries.QueriesLLM.arrivalDedupSimhash]]) under ANY
    * cross-batch arrival permutation the watermark delay covers;
    * rows later than the watermark are dropped (the standard defined
    * semantics), so the delay is the single knob that replaces the
    * hard ordering prerequisite.
    *
    * Mechanics: `buf` holds pending (tsMs, docId, fp); on every input
    * batch (and every expired timer) entries with ts < watermark are
    * flushed — sorted by id, checked against the accreted `seen` list
    * exactly like the in-order processor, then appended to it. A
    * bucket with a non-empty buffer keeps ONE event-time timer at
    * (min pending ts + 1) so buckets with no new arrivals still flush
    * when the watermark passes them (Spark runs the timer sweep in the
    * batch where the watermark advances, so all 4 band rows of a doc
    * still emit in one micro-batch and the per-batch rollup stays
    * exact). State is `seen` (the flushed prefix, same growth as the
    * unwindowed form) plus a buffer bounded by delay × arrival rate.
    *
    * `window` composes the retention bound in ([[BandDedupWindowProcessor]]
    * semantics: matches only count within the last `window` arrivals,
    * and `seen` is pruned below (max flushed id − window) on every
    * flush — sound because flushes happen in GLOBAL id order per
    * bucket, so no future doc can need a pruned entry). The windowed
    * event-time form is the full production shape for an infinite
    * multi-writer stream: out-of-order tolerant AND bounded state;
    * `Long.MaxValue` (the default) is the unwindowed audit form.
    */
  class BandDedupEventTimeProcessor(window: Long = Long.MaxValue)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, java.sql.Timestamp), (Long, Seq[Long])] {
    @transient private var seen:
        org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var buf:
        org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
    @transient private var flushedWm:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getListState[(Long, Long)]("seen",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      buf = getHandle.getListState[(Long, Long, Long)]("buf",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      flushedWm = getHandle.getValueState[Long]("flushedWm",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Flush every buffered entry the watermark has sealed (ts < wm:
      * nothing that could precede it in event time can still arrive),
      * in id order, against the accreted list; re-arm the timer for
      * what remains. Shared by the input and timer paths so the two
      * cannot diverge.
      *
      * State-write discipline (r12 verdict item 3 — the r12 form
      * rewrote the FULL hold buffer and delete-all + re-registered the
      * timer on every micro-batch touch, 602 MB of RocksDB writes at
      * 1M docs vs the in-order form's 125 MB): flushed entries are now
      * dropped LOGICALLY by advancing `flushedWm` (one 8-byte value
      * write) — entries below it are dead, already emitted, and
      * filtered on read. The buffer is physically compacted only when
      * the dead+ripe half dominates (amortized O(1) rewrites per entry,
      * the classic array-compaction bound, so `buf` never exceeds 2×
      * the live hold set) or cleared outright when nothing is held.
      * The timer is touched only when the desired expiry actually
      * changed. No entry below `flushedWm` can ever be appended:
      * handleInputRows drops rows below the current watermark, which
      * is ≥ every flushedWm ever written (watermarks are monotonic).
      */
    private def flush(wmMs: Long,
        expired: Option[Long] = None): Iterator[(Long, Seq[Long])] = {
      val pending = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      buf.get().foreach(pending += _)
      val floor = if (flushedWm.exists()) flushedWm.get() else Long.MinValue
      val live = pending.filter(_._1 >= floor)
      val (ripe, hold) = live.partition(_._1 < wmMs)
      // single timer per bucket, rewritten ONLY on change; the timer
      // that is firing right now is framework-managed (removed after
      // the callback), so it is neither ours to delete nor a collision
      // risk for the re-registration (desired = min hold ts + 1 >
      // wm ≥ the firing expiry, strictly)
      val desired = if (hold.nonEmpty) Some(hold.map(_._1).min + 1) else None
      val existing = getHandle.listTimers().toSeq
        .filterNot(t => expired.contains(t))
      if (existing != desired.toList) {
        existing.foreach(t => getHandle.deleteTimer(t))
        desired.foreach(t => getHandle.registerTimer(t))
      }
      if (ripe.isEmpty) return Iterator.empty
      val prior = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      seen.get().foreach(prior += _)
      val fresh = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val out = ripe.sortBy(_._2).map { case (_, docId, fp) =>
        val matches = (prior.iterator ++ fresh.iterator)
          .filter { case (id, fp2) =>
            id < docId && id >= docId - window &&
              java.lang.Long.bitCount(fp ^ fp2) <=
                graft.queries.QueriesLLM.SimhashTau }
          .map(_._1).toSeq.distinct.sorted
        fresh += ((docId, fp))
        (docId, matches)
      }
      if (window == Long.MaxValue) seen.appendList(fresh.toArray)
      else {
        // flushes run in global id order per bucket, so nothing below
        // (max flushed − window) can ever match a future doc again
        val horizon = fresh.map(_._1).max - window
        seen.put((prior.iterator ++ fresh.iterator)
          .filter(_._1 >= horizon).toArray)
      }
      if (hold.isEmpty) {
        buf.clear()
        flushedWm.clear()
      } else if (pending.length - hold.length >= hold.length) {
        // dead+ripe at least match the hold set: compact physically
        // (amortized — each entry is rewritten O(1) times in its life)
        buf.put(hold.toArray)
        flushedWm.clear()
      } else {
        // cheap path: one 8-byte value write marks the ripe set dead
        flushedWm.update(wmMs)
      }
      out.iterator
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[(Long, Seq[Long])] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      // rows later than the watermark are dropped upstream by the
      // operator's late-record filter; the guard here restates the
      // semantics locally so a buffered check can never run out of order
      val incoming = rows
        .map { case (_, docId, fp, ts) => (ts.getTime, docId, fp) }
        .filter(_._1 >= wm).toArray
      if (incoming.nonEmpty) buf.appendList(incoming)
      flush(wm)
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Seq[Long])] =
      flush(timerValues.getCurrentWatermarkInMs(),
        Some(expiredTimerInfo.getExpiryTimeInMs()))
  }

  /** S16: streaming near-dup dedup against an accreting SimHash band
    * index — the continuous-ingestion form of the batch
    * `s_dedup_simhash` registry entry. Fingerprints are the same
    * codegen simhash60 kernel, bands the same shared
    * [[graft.queries.QueriesLLM.simhashBandArray]] slices, so banding
    * cannot drift between the forms. Emits one (doc_id, match_ids) row
    * per band; roll per-doc verdicts up with [[arrivalVerdictRollup]]
    * (all 4 band rows of a doc land in its own micro-batch, so a
    * per-batch rollup inside foreachBatch is exact).
    */
  def simhashBandVerdicts(spark: SparkSession, docs: DataFrame): DataFrame =
    bandVerdicts(spark, docs, new BandDedupProcessor)

  /** The retention-windowed S16 twin: identical banding pipeline, the
    * pruning processor — batch contract `arrivalDedupSimhashWindow`.
    */
  def simhashBandVerdictsWindow(spark: SparkSession, docs: DataFrame,
      window: Long = graft.queries.QueriesLLM.SimhashWindow): DataFrame =
    bandVerdicts(spark, docs, new BandDedupWindowProcessor(window))

  /** The event-time S16 twin: same banding pipeline, the
    * buffer-until-watermark processor — verdicts equal the batch
    * arrival contract under ANY cross-batch arrival permutation whose
    * id disorder `maxDisorderIds` covers (the watermark delay; the
    * event clock is ts = doc_id seconds). Batch contract:
    * `arrivalDedupSimhash` — the same one the in-order processor pins,
    * but WITHOUT its in-order-delivery prerequisite.
    */
  def simhashBandVerdictsEventTime(spark: SparkSession, docs: DataFrame,
      maxDisorderIds: Long, window: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    bandedBuckets(docs)
      // event clock = (id + 1) seconds: the +1 keeps id 0 OFF epoch 0 —
      // the initial watermark is 0 and the operator's late filter drops
      // ts <= watermark, so a doc at exactly epoch 0 would be misdropped
      // as late before any data ever advanced the watermark (found by
      // the spec: every verdict involving doc 0 vanished)
      .select(col("bucket"), col("doc_id"), col("fp"),
        timestamp_millis((col("doc_id") + 1) * 1000L).as("ts"))
      .withWatermark("ts", s"$maxDisorderIds seconds")
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new BandDedupEventTimeProcessor(window),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("doc_id", "match_ids")
  }

  /** THE banding projection every S16 processor consumes — fingerprint
    * via the shared simhash60 kernel, band slices via the shared
    * [[graft.queries.QueriesLLM.simhashBandArray]], one LONG key per
    * (band, bits) bucket: band_idx << 15 | bits. One definition so the
    * in-order, windowed, and event-time forms cannot drift in banding.
    */
  private def bandedBuckets(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash60(col("text")).as("fp"))
      .select(col("doc_id"), col("fp"),
        posexplode(graft.queries.QueriesLLM.simhashBandArray(col("fp")))
          .as(Seq("band_idx", "band_bits")))
      .select((col("band_idx").cast("long") * 32768L + col("band_bits"))
          .as("bucket"),
        col("doc_id"), col("fp"))
  }

  private def bandVerdicts(spark: SparkSession, docs: DataFrame,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    bandedBuckets(docs)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("doc_id", "match_ids")
  }

  /** The `s_eventlog_tumbling` registry driver (S17, r13): a REAL
    * rate-limited stream through the custom Kafka-shaped DSv2 source
    * ([[graft.sources.EventLogSource]]) inside the correctness gate.
    * The events fixture is read as a 4-partition offset-tracked log,
    * admission-controlled to ~8 micro-batches (maxRowsPerTrigger =
    * rows/8 — scale-invariant batch count, so the sf0.1 mirror pays
    * the same fixed micro-batch overhead as sf0.01, not 10×), tumbling
    * 1-hour windows aggregated across batches in Complete mode, and
    * the result hash-checks against `s_tumbling`'s DuckDB oracle —
    * proving the source's offsets partition the log exactly (no row
    * lost or duplicated across batch boundaries mid-row-group).
    * The row count for the trigger sizing is footer metadata (the
    * fully-pruned count path), not a data scan.
    *
    * Batch count 8 → 4 (r15, verdict item 4): per-batch fixed cost
    * (trigger planning + addBatch job + walCommit + the Complete-mode
    * full-table memory-sink rewrite) owned the wall once state commit
    * was fixed in r14 — min-of-3 at sf0.1/32c
    * (plans/r15/s_eventlog_tumbling_probe_matrix.txt):
    * 8 batches 3.29 s, 4 batches 2.31 s, 2 batches 1.31 s at identical
    * final output (Complete-mode aggregate; the oracle hash is
    * batch-count-invariant). 4 keeps a REAL multi-batch tiling proof —
    * 3 interior boundaries across the 4 source partitions, each batch
    * still splitting mid-row-group — which 2 would weaken to a single
    * boundary. Still scale-invariant (rows/4).
    */
  def runEventLogTumbling(spark: SparkSession, dir: String): DataFrame =
    runEventLog(spark, dir, None)

  /** The `s_eventlog_filtered` registry driver (S17 + streaming filter
    * pushdown, r14): the same offset-tracked rate-limited stream, with
    * a selective predicate both APPLIED (`.filter`, the rows the
    * oracle's WHERE keeps) and PUSHED into the source as its
    * `skipWhere` row-group-skip hint — the option path works in ANY
    * session (Spark's micro-batch planner never pushes filters into a
    * DSv2 stream; with GraftExtensions active the
    * EventLogStreamPushDown rule injects the option automatically,
    * spec-pinned in EventLogSourceSpec). The hash match against the
    * WHERE'd oracle proves statistics skipping drops page IO only,
    * never rows: offsets still advance over skipped row positions, so
    * batch tiling stays exact.
    */
  def runEventLogFiltered(spark: SparkSession, dir: String): DataFrame =
    runEventLog(spark, dir, Some("event_type IN ('click', 'purchase')"))

  /** The S17 stream, optionally filtered by `where`, which is both
    * applied and pushed into the source as its `skipWhere` hint. Both
    * drivers size batches at rows/4, so the filtered twin tiles
    * identically.
    */
  private def runEventLog(spark: SparkSession, dir: String, where: Option[String]): DataFrame =
    SessionScope.withConf(spark, Queries.Contract: _*) { d =>
      val path = s"$dir/events.parquet"
      val total = d.read.format("eventlog").load(path).count()
      val reader = d.readStream.format("eventlog")
        .option("partitions", "4")
        .option("maxRowsPerTrigger", math.max(1L, total / 4).toString)
      where.foreach(w => reader.option("skipWhere", w))
      val events = reader.load(path)
      val agg = where.fold(events)(w => events.filter(expr(w)))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(unix_millis(col("w.start")).as("hour_start_ms"), col("event_type"),
          col("n"), col("total_value"))
      runToBatch(d, agg, s"s17log_${java.util.UUID.randomUUID().toString.take(8)}")
        .orderBy(col("hour_start_ms"), col("event_type"))
        .localCheckpoint() // the memory-sink table dies with the query
    }

  /** The `s_dedup_simhash_eventtime` registry driver — the one S16
    * entry that runs the REAL STREAM inside the correctness gate
    * (the other two are batch contracts with streaming pinned in
    * StreamingSpec): the corpus is staged as id-range slices whose
    * arrival order is DELIBERATELY SHUFFLED (pairwise-swapped slices,
    * mtime-pinned so the file source replays exactly that disorder),
    * streamed through [[simhashBandVerdictsEventTime]] one file per
    * micro-batch, and the rolled-up verdicts hash-check against the
    * same DuckDB band CTE as `s_dedup_simhash` — proving end-to-end
    * that the buffer-until-watermark processor reproduces the
    * arrival contract WITHOUT in-order delivery. The watermark delay
    * is 2·span+2 ids (the pairwise swap's worst disorder is 2·span−1);
    * a sentinel doc with ts past every real doc + delay arrives last
    * so the final watermark seals (and flushes) the whole corpus — an
    * infinite stream has no end, so the "end" is a doc far enough in
    * the future, which is exactly how event-time pipelines drain.
    *
    * `window` = the retention bound: `Long.MaxValue` runs the
    * unwindowed audit form (oracle: `s_dedup_simhash`'s CTE);
    * [[graft.queries.QueriesLLM.SimhashWindow]] runs the
    * bounded-state production form (`s_dedup_simhash_eventtime_window`
    * — oracle: `s_dedup_simhash_window`'s CTE), proving the full
    * out-of-order + bounded-state shape end-to-end in the gate.
    */
  def runEventTimeDedup(spark: SparkSession, dir: String,
      window: Long = Long.MaxValue): DataFrame = {
    val docs = Queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) // 1-row collect
    val nSlices = 12
    val span = maxId / nSlices + 1
    val delay = 2 * span + 2
    val watch = java.nio.file.Files.createTempDirectory("docs-et").toString
    // arrival position k carries slice arrival(k): [1,0,3,2,...] — file
    // NAMES encode arrival order, then mtimes are pinned to path order
    val arrival = (0 until nSlices).map(i => if (i % 2 == 0) i + 1 else i - 1)
    val sentinel = spark.range(1)
      .select((lit(maxId) + delay + 2).as("doc_id"), lit("sentinel").as("text"))
    // stage all slices in ONE write job (r14): the previous per-slice
    // loop ran nSlices+1 separate coalesce(1) write actions — 13 jobs
    // of fixed scheduling/commit cost against KB-sized slices, ~1.5 s
    // of the entry's wall before the stream even started. A single
    // partitionBy("slice") write emits the same one-file-per-slice
    // layout in one pass: repartition(n, slice) puts each slice's rows
    // in exactly one task, so each partition dir holds exactly one
    // parquet file with the same (doc_id, text) content the loop wrote.
    val arrIndexOfSlice: Map[Int, Int] =
      arrival.zipWithIndex.map { case (s, k) => (s, k) }.toMap + (nSlices -> nSlices)
    val tmp = java.nio.file.Files.createTempDirectory("et-slices")
    docs.select(col("doc_id"), col("text"),
        floor(col("doc_id") / span).cast("int").as("slice"))
      .union(sentinel.select(col("doc_id"), col("text"),
        lit(nSlices).as("slice")))
      .repartition(nSlices + 1, col("slice"))
      .write.partitionBy("slice").mode("overwrite").parquet(tmp.toString)
    (0 to nSlices).foreach { i =>
      val dir = new java.io.File(tmp.toFile, s"slice=$i")
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      require(fs.length == 1,
        s"event-time staging expected exactly one file for slice $i, got ${fs.length}")
      val k = arrIndexOfSlice(i)
      java.nio.file.Files.move(fs.head.toPath,
        java.nio.file.Paths.get(watch, f"arr$k%04d.parquet"))
    }
    // the staging dir (now just _SUCCESS + crc residue) dies here —
    // this runs inside the correctness gate per invocation, so temp
    // state must not accumulate across registry runs
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    FileIngestOrder.pinMtimesToPathOrder(
      spark.sparkContext.hadoopConfiguration, watch)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // RocksDB with changelog checkpointing (r14): without it every
    // micro-batch uploads a FULL RocksDB snapshot zip per state
    // partition to the checkpoint; with it only the batch's key deltas
    // are written and snapshots happen on the background maintenance
    // cadence. Pure state-durability IO — the store contents, and
    // therefore every emitted row, are identical. This is also the
    // structural answer to the r13 checkpoint-BYTES observation (dir
    // size ~4.7× the in-order form: that residue was snapshot history).
    try SessionScope.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") { d =>
      val stream = d.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch)
      val verdicts = runToBatch(d,
        simhashBandVerdictsEventTime(d, stream, delay, window),
        s"s16et_${java.util.UUID.randomUUID().toString.take(8)}",
        OutputMode.Append())
      arrivalVerdictRollup(verdicts)
        .filter(col("doc_id") <= maxId) // the sentinel is not a verdict
        .orderBy(col("doc_id"))
        .localCheckpoint() // the memory-sink table dies with the query
    } finally {
      // the staged corpus copy is only needed while the stream runs;
      // the result above is localCheckpoint'd, so the files can go
      // (r12 advice: gate entries must not leak a corpus copy per run)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(watch))
    }
  }

  /** Per-doc rollup of [[simhashBandVerdicts]] rows: distinct-union the
    * per-band match lists (a pair matching in two bands must count
    * once) and keep only dropped docs — schema-identical to the batch
    * [[graft.queries.QueriesLLM.arrivalDedupSimhash]] contract.
    */
  def arrivalVerdictRollup(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("doc_id"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("match_ids")))))
        .as("m"))
      .filter(size(col("m")) > 0)
      .select(col("doc_id"), size(col("m")).cast("long").as("n_earlier"),
        element_at(col("m"), 1).as("first_dup_of"))

  /** State-store partition count for the REAL streams the gate/bench
    * drive through [[runToBatch]]. A streaming stateful operator pins
    * its partition count to `spark.sql.shuffle.partitions` at query
    * start (it is burned into the checkpoint; AQE never applies to
    * streaming), so the session default — sized for batch SCAN
    * parallelism — silently becomes the state layout. That is the
    * wrong dimension: state partitioning should track STATE SIZE.
    * Measured on `s_eventlog_tumbling` (sf0.1, ~3.6K windowed groups,
    * 32 cores): per-batch state commit time summed across partitions
    * was ~10-12 s at 32 partitions (~300 ms/partition of HDFS-backed
    * store open+delta+commit for ~100 keys each) and the 8-batch
    * stream walled at 7.3 s; at 8 partitions the same stream runs
    * 3.8 s — the store overhead, not the aggregation, owned the wall
    * (guide §2.2: size partitions to data, not to core count).
    * Parameterised for scale: production state (many GB) wants MORE
    * partitions, so the env knob raises it; the default is sized to
    * the gate corpora's KB-scale state, not to the local core count —
    * it is deliberately NOT derived from `SPARK_GRAFT_CPUS`, so the
    * driver's low-core rerun measures the identical plan.
    *
    * Why a static default and not a derived one (r15, verdict item 7):
    * the partition count is burned into the stream's checkpoint at
    * query start, so it cannot track `numRowsTotal` observed later;
    * and deriving it from pre-stream input size would couple the state
    * LAYOUT to a scan-side estimate that says nothing about group
    * cardinality. The contract is therefore: static default sized to
    * the gate's state (measured below), env override sized to
    * production state (rule of thumb: keep per-partition state in the
    * 100 MB-1 GB range a single store instance handles well, i.e.
    * partitions ≈ stateBytes / 256 MB). Default 8 → 4 this round:
    * min-of-3 on the eventlog stream at sf0.1/32c
    * (plans/r15/s_eventlog_tumbling_probe_matrix.txt)
    * (4 batches, ~3.6 K windowed groups): 8 partitions 2.31 s,
    * 4 partitions 1.87 s — per-batch store open+commit still scales
    * with partition count at KB state, and 4 keeps every gate stream's
    * state at ≤ ~1 K rows/partition. RocksDB + changelog was probed
    * for this stream too and REJECTED: 3.95 s vs 3.29 s at 8 batches
    * (2.13 vs 2.31 at 4) — the native store's per-partition open/close
    * overhead exceeds what changelog IO saves at KB-scale state; the
    * event-time dedup streams keep it because their per-bucket list
    * state (×32 K buckets) is exactly the shape snapshot uploads
    * punish (r14 measurement, 602 MB → deltas).
    */
  def streamStatePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4").toInt

  /** The sizing rule above as a check: a warning naming the partition
    * count that keeps each under 256 MB when a stream ended with more
    * per partition and no override set the count; None otherwise.
    */
  def stateSizingWarning(query: String, stateBytes: Long, partitions: Int,
      overridden: Boolean): Option[String] = {
    val limit = 256L << 20
    if (overridden || stateBytes / partitions <= limit) None
    else Some(s"stream '$query' ended with $stateBytes bytes of state over $partitions " +
      s"partitions; set SPARK_GRAFT_STREAM_STATE_PARTITIONS=${(stateBytes - 1) / limit + 1}")
  }

  /** Run `streamed` to completion into a memory sink and return its
    * table. The stream is re-planned on a session derived from its own
    * (keeping the conf it was built under) with the state-partition
    * count set; the sink's view never reaches `spark`'s catalog. The
    * state it ended with is checked against [[stateSizingWarning]].
    */
  def runToBatch(spark: SparkSession, streamed: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame =
    SessionScope.withConf(streamed.sparkSession,
        "spark.sql.shuffle.partitions" -> streamStatePartitions.toString) { d =>
      val q = GraftInternals.ofRows(d, streamed.queryExecution.logical).writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      Option(q.lastProgress).flatMap(p => stateSizingWarning(name,
          p.stateOperators.map(_.memoryUsedBytes).sum, streamStatePartitions,
          sys.env.contains("SPARK_GRAFT_STREAM_STATE_PARTITIONS")))
        .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
      d.table(name)
    }
}
