package graft.queries

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** What a query builder does on the driver before its query runs: the
  * layouts it stages through [[SessionMemo.path]] (one directory per
  * root session, none outliving the application) and the table reads it
  * plans (schema from a footer, no job).
  */
class StagingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("staging-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The number of jobs `body` submits. */
  private def jobsWhile(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftInternals.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.GraftInternals.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a table read takes its schema from the footer and submits no job") {
    assert(jobsWhile(Queries.t(spark, dir, "lineitem")) == 0)
    // events: still a UTC TimestampType `ts` under the contract, with
    // the values schema inference gave
    SessionScope.withConf(spark, Queries.Contract: _*) { d =>
      val events = Queries.t(d, dir, "events")
      assert(events.schema("ts").dataType == TimestampType)
      val inferred = d.read.parquet(s"$dir/events.parquet")
      val want = inferred.select(
        unix_micros(Queries.normalizeTs("ts", inferred.schema("ts").dataType)).as("us"))
      val got = events.select(unix_micros(col("ts")).as("us"))
      def range(df: org.apache.spark.sql.DataFrame) =
        df.agg(min("us"), max("us"), sum("us")).head().toSeq
      assert(range(got) == range(want))
    }
  }

  test("two root sessions get their own z-ordered layout, each written by its own call") {
    val bigDir = "/root/testdata/sf0.01"
    val (a, b) = (spark.newSession(), spark.newSession())
    var la, lb = ""
    assert(jobsWhile { la = QueriesRel.zorderedLineitem(a, bigDir) } > 0)
    assert(jobsWhile(assert(QueriesRel.zorderedLineitem(a, bigDir) == la)) == 0,
      "a session's second call must reuse its layout")
    assert(jobsWhile { lb = QueriesRel.zorderedLineitem(b, bigDir) } > 0,
      "the second session's call wrote nothing")
    assert(la != lb, s"two root sessions share $la")
    val rows = Queries.parquetRowCount(spark, s"$bigDir/lineitem.parquet")
    assert(Queries.parquetRowCount(spark, la) == rows)
    assert(Queries.parquetRowCount(spark, lb) == rows)
  }

  test("an e2e fixture converted by another JVM is converted again, not served") {
    val lookup = graft.SparkEntry.queries("utxo_e2e_point_lookup")
    def heights(): Seq[Long] =
      lookup(spark, dir).collect().map(_.getAs[Number]("height").longValue).toSeq
    assert(heights() == Seq(10L, 20L, 30L))
    // plant a complete convert, marked by another JVM, without the
    // marked coins
    val fixture = new File(QueriesUtxo.ParquetPath)
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e_stale").toFile
    try {
      val stale = new File(tmp, "stale")
      graft.sources.UtxoConvert.readConverted(spark, fixture.getPath)
        .filter(col("script") =!= unhex(lit(QueriesUtxo.knownHex)))
        .write.parquet(stale.getPath)
      java.nio.file.Files.writeString(new File(stale, "_graft_jvm_token").toPath, "another-jvm")
      org.apache.commons.io.FileUtils.deleteDirectory(fixture)
      java.nio.file.Files.move(stale.toPath, fixture.toPath)
      assert(new File(fixture, "_SUCCESS").exists())
      assert(heights() == Seq(10L, 20L, 30L), "the stale fixture was served")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("no staged directory outlives its application") {
    // the directory that holds the given data files' layout
    def stagedDir(df: org.apache.spark.sql.DataFrame, key: String): File = {
      val f = df.inputFiles.map(p => new File(new java.net.URI(p).getPath))
        .find(_.getPath.contains(s"/graft_$key")).getOrElse(fail(s"no $key file read"))
      Iterator.iterate(f)(_.getParentFile).find(_.getName.startsWith(s"graft_$key")).get
    }
    val orders = stagedDir(QueriesRel.partitionedOrders(spark, dir), "part_orders")
    val index = stagedDir(QueriesLLM.annLshPersisted(spark, dir), "lsh_index")
    assert(orders.isDirectory && index.isDirectory)
    spark.stop()
    assert(!orders.exists(), s"$orders outlived the application")
    assert(!index.exists(), s"$index outlived the application")
  }
}
