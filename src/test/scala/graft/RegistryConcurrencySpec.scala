package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One session shared by threads: registry entries that register temp
  * views, tune conf or run streams must give each thread the rows a
  * serial run gives.
  */
class RegistryConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("registry-concurrency-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val corpora = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  // temp-view entries (q_rollup, q_subquery, q_udaf_geomean), conf-tuned
  // entries (q_join_bloom, q_join_skew_aqe, q_recursive), streams
  // (s_eventlog_tumbling; s_state_reader and s_upsert, which write a
  // checkpoint, and a target, per call) and the flagship
  private val entries = Seq("q_rollup", "q_subquery", "q_join_bloom", "q_join_skew_aqe",
    "q_recursive", "q_udaf_geomean", "s_eventlog_tumbling", "q0_flagship",
    "s_state_reader", "s_upsert")

  /** Row count and an order-insensitive hash of one entry's result. */
  private def digest(name: String, dir: String): (Int, Int) = {
    val rows = SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    (rows.length, rows.hashCode)
  }

  test("8 threads running registry entries on one session get the serial results") {
    val runs = for (dir <- corpora; name <- entries) yield (name, dir)
    val serial = runs.map(r => r -> digest(r._1, r._2)).toMap
    // 4 threads per corpus, thread i running entries i, i + 4, ...
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val futures = for (dir <- corpora; i <- 0 until 4) yield
        pool.submit(new Callable[Seq[((String, String), (Int, Int))]] {
          def call() = {
            start.await()
            entries.indices.filter(_ % 4 == i).map(entries).map(n => (n, dir) -> digest(n, dir))
          }
        })
      start.countDown()
      val concurrent = futures.flatMap(_.get(10, TimeUnit.MINUTES)).toMap
      val wrong = runs.filter(r => concurrent(r) != serial(r)).map(r =>
        s"${r._1} on ${r._2}: serial ${serial(r)}, concurrent ${concurrent(r)}")
      assert(wrong.isEmpty, s"concurrent runs differ from serial ones: $wrong")
    } finally pool.shutdownNow()
  }
}
