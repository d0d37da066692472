package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.codec.{ScriptCodec, SnapshotGen}
import graft.sources.UtxoConvert

/** [[SortedCollectStrategy]]: a collected global sort returns exactly
  * the rows, in exactly the order, that Spark's own plan returns on a
  * session without the extension, in one job; every other way to run
  * the same DataFrame keeps Spark's parallel plan.
  */
class SortedCollectSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = {
    // extensions apply at session construction: build this suite's own
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .appName("sorted-collect-spec")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  /** A session on the same context without the extension: Spark's own plans. */
  lazy val plain: SparkSession = { spark; SparkSession.builder().create() }

  override def afterAll(): Unit = spark.stop()

  /** `n` rows over `parts` range partitions. `a` is nullable with many
    * ties; `b` (one null) and `c` are unique, so every ordering below is
    * a total order and the expected sequence is exact.
    */
  private def keys(s: SparkSession, n: Int, parts: Int): DataFrame = {
    val id = col("id")
    s.range(0, n, 1, parts).select(
      when(id % 11 === 0, lit(null)).otherwise(id % 7).as("a"),
      when(id === 5, lit(null)).otherwise(-id).as("b"),
      format_string("k%05d", id * 7919 % n).as("c"))
  }

  private val orders: Seq[Seq[Column]] = Seq(
    Seq(col("a").desc_nulls_last, col("b").asc_nulls_first),
    Seq(col("a").asc_nulls_first, col("c").desc_nulls_last),
    Seq(col("b").desc_nulls_first))

  private def sortedCollects(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: SortedCollectExec => s }.size

  private def sameAsSpark(build: SparkSession => DataFrame): Seq[Row] = {
    val got = build(spark)
    val want = build(plain)
    val rows = got.collect().toSeq
    assert(sortedCollects(got) == 1, got.queryExecution.executedPlan.treeString)
    assert(sortedCollects(want) == 0)
    assert(rows == want.collect().toSeq)
    rows
  }

  test("multi-key ASC/DESC, NULLS FIRST/LAST orderings over 1, 4 and 200 partitions equal Spark's") {
    for (parts <- Seq(1, 4, 200); order <- orders) {
      val rows = sameAsSpark(keys(_, 1000, parts).orderBy(order: _*))
      assert(rows.size == 1000, s"$parts partitions, $order")
    }
  }

  test("an empty input collects no rows") {
    assert(sameAsSpark(keys(_, 1000, 4).filter(col("b") > 0).orderBy(orders.head: _*)).isEmpty)
  }

  test("an ORDER BY over an aggregate (an exchange under the sort) equals Spark's") {
    val rows = sameAsSpark(keys(_, 1000, 4).groupBy("a")
      .agg(count(lit(1)).as("n"), max("c").as("mc")).orderBy(col("a").desc_nulls_first))
    assert(rows.size == 8)
  }

  test("SQL ORDER BY equals Spark's") {
    Seq(spark, plain).foreach(s => keys(s, 1000, 4).createOrReplaceTempView("sorted_collect_keys"))
    val rows = sameAsSpark(_.sql(
      "SELECT a, b, c FROM sorted_collect_keys WHERE a IS NOT NULL ORDER BY a DESC, c ASC"))
    assert(rows.nonEmpty)
  }

  /** Column `b` of rows in the order given: unique, so it pins the order. */
  private def bs(rows: Iterator[InternalRow]): Seq[Option[Long]] =
    rows.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq

  private def bs(rows: Seq[Row]): Seq[Option[Long]] =
    rows.map(r => Option(r.get(1)).map(_.asInstanceOf[Long]))

  test("toRdd, rdd, toLocalIterator and cache() keep the parallel, globally ordered plan") {
    val df = keys(spark, 1000, 4).orderBy(orders.head: _*)
    val want = keys(plain, 1000, 4).orderBy(orders.head: _*).collect().toSeq
    assert(sortedCollects(df) == 1)
    // the node's own RDD: range-partitioned, each partition sorted
    val internal = df.queryExecution.toRdd
    assert(internal.getNumPartitions > 1)
    assert(bs(internal.map(_.copy()).collect().iterator) == bs(want))
    // `rdd` deserializes above the sort, so Spark plans it unchanged
    assert(df.rdd.collect().toSeq == want)
    assert(df.toLocalIterator().asScala.toSeq == want)
    df.cache()
    try {
      // a DataFrame planned after cache() reads the cached batches
      val again = keys(spark, 1000, 4).orderBy(orders.head: _*)
      val cached = collect(again.queryExecution.executedPlan) { case i: InMemoryTableScanExec => i.relation }
      assert(cached.size == 1)
      assert(collect(cached.head.cachedPlan) { case s: SortedCollectExec => s }.size == 1)
      assert(cached.head.cacheBuilder.cachedColumnBuffers.getNumPartitions > 1)
      assert(again.collect().toSeq == want)
    } finally df.unpersist(blocking = true)
  }

  test("executeTake returns the first rows of the global order") {
    val df = keys(spark, 1000, 4).orderBy(orders(2): _*)
    val want = keys(plain, 1000, 4).orderBy(orders(2): _*).collect().toSeq
    for (n <- Seq(0, 1, 7, 2000))
      assert(bs(df.queryExecution.executedPlan.executeTake(n).iterator) == bs(want.take(n)))
  }

  test("show and take keep Spark's TakeOrderedAndProject") {
    val df = keys(spark, 1000, 4).orderBy(orders.head: _*)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.show(3)
      assert(df.take(5).toSeq == keys(plain, 1000, 4).orderBy(orders.head: _*).take(5).toSeq)
      org.apache.spark.sql.GraftInternals.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 2)
    plans.asScala.foreach { p =>
      assert(collect(p) { case t: TakeOrderedAndProjectExec => t }.size == 1, p.treeString)
      assert(collect(p) { case s: SortedCollectExec => s }.isEmpty, p.treeString)
    }
  }

  test("a collected script lookup ordered by height submits one job") {
    val tmp = graft.TempDirs.create("sorted-collect").toFile
    val snap = new java.io.File(tmp, "snap.bin")
    val hot = ScriptCodec.decompress(0, Array.tabulate[Byte](20)(i => (i + 1).toByte))
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap))
    try SnapshotGen.writeSynthetic(out, 150000, seed = 3L, hotEvery = 101, hotScript = hot)
    finally out.close()
    val parquet = new java.io.File(tmp, "parq").getAbsolutePath
    UtxoConvert.convert(spark, snap.getAbsolutePath, parquet)
    def lookup(s: SparkSession): DataFrame = UtxoConvert.readConverted(s, parquet)
      .filter(col("script") === lit(hot))
      .select("txid", "vout", "amount", "height")
      .orderBy("height")

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = lookup(spark)
    org.apache.spark.sql.GraftInternals.drain(sc)
    sc.addSparkListener(listener)
    val rows = try { val r = df.collect().toSeq; org.apache.spark.sql.GraftInternals.drain(sc); r }
      finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"jobs submitted by the collected lookup")

    val heights = rows.map(_.getLong(3))
    assert(heights == heights.sorted && rows.size == 150000 / 101)
    def key(r: Row) = (r.getLong(3), r.getString(0), r.getLong(1))
    assert(rows.sortBy(key) == lookup(plain).collect().toSeq.sortBy(key))
  }
}
