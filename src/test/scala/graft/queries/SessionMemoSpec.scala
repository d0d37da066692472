package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The session memo's contracts: one build per key under concurrent
  * callers, no cross-key waiting, rebuild on a rewritten corpus, and
  * persisted-index paths that cannot collide across corpora.
  */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("session-memo-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def copyTable(from: String, to: Path, name: String): Unit = {
    Files.createDirectories(to)
    Files.copy(Paths.get(from, s"$name.parquet"), to.resolve(s"$name.parquet"))
  }

  test("8 concurrent callers of one key build once and share the value") {
    // a fresh session has no entries: every thread races to the build
    val s2 = spark.newSession()
    val builds = QueriesLLM.pqBuilds.get()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[QueriesLLM.PqIndex] {
        def call() = { start.await(); QueriesLLM.pqIndexFor(s2, dir, 16, 8) }
      }))
      start.countDown()
      val got = futures.map(_.get(10, TimeUnit.MINUTES))
      assert(QueriesLLM.pqBuilds.get() == builds + 1,
        s"${QueriesLLM.pqBuilds.get() - builds} builds for one key")
      assert(got.forall(_ eq got.head), "callers of one key got different values")
    } finally pool.shutdownNow()
  }

  test("query builders called directly leave the caller's function registry alone") {
    // the builders Bench calls outside the registry, a stream driver
    // that reaches the banded simhash kernel, and the top-k UDAF entry
    val s2 = spark.newSession()
    def functions: Set[String] =
      s2.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
    val before = functions
    // s2 is a fresh root session, so the z-ordered layout is built
    s2.read.parquet(QueriesRel.zorderedLineitem(s2, dir)).count()
    QueriesLLM.minhashLshPairs(s2, dir).count()
    QueriesLLM.exactJaccardPairs(s2, dir).count()
    graft.streaming.StreamingQueries.runEventTimeDedup(s2, dir).count()
    QueriesRel.topkPerKey(s2, dir).collect()
    val added = functions -- before
    assert(added.isEmpty, s"builders registered ${added.size} functions: ${added.toSeq.sorted}")
  }

  test("registry entries run for one caller share the caller's memo") {
    // each entry runs on its own derived session; the memo resolves it
    // to the caller, so the second run reuses the first run's index
    val s2 = spark.newSession()
    val builds = QueriesLLM.pqBuilds.get()
    graft.SparkEntry.queries("x_ann_pq")(s2, dir).collect()
    graft.SparkEntry.queries("x_ann_pq")(s2, dir).collect()
    assert(QueriesLLM.pqBuilds.get() == builds + 1,
      s"${QueriesLLM.pqBuilds.get() - builds} PQ index builds for two runs of one entry")
  }

  test("a slow build blocks only callers of its own key") {
    val release = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(1)
    try {
      val slow = pool.submit(new Callable[Int] {
        def call() = SessionMemo(spark, dir, "spec_slow") {
          entered.countDown(); release.await(); 1
        }
      })
      assert(entered.await(1, TimeUnit.MINUTES))
      // the slow build is in progress: another key must not queue behind it
      assert(SessionMemo(spark, dir, "spec_fast")(2) == 2)
      assert(!slow.isDone)
      release.countDown()
      assert(slow.get(1, TimeUnit.MINUTES) == 1)
      assert(SessionMemo(spark, dir, "spec_slow")(3) == 1, "built value not memoized")
    } finally { release.countDown(); pool.shutdownNow() }
  }

  test("a corpus rewritten under the same dir is rebuilt, not served stale") {
    val corpus = Files.createTempDirectory("graft_memo_stale")
    try {
      copyTable(dir, corpus, "documents")
      val d = corpus.toString
      val before = QueriesLLM.exactJaccardPairs(spark, d).count()
      // append exact copies of three documents under fresh ids: each copy
      // forms a Jaccard-1.0 pair with its original
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val copies = docs.filter(length(col("text")) > 40).orderBy(col("doc_id")).limit(3)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val ids = copies.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.size == 3)
      docs.unionByName(copies).coalesce(1).write.parquet(s"$d/next")
      Files.delete(corpus.resolve("documents.parquet"))
      Files.move(corpus.resolve("next"), corpus.resolve("documents.parquet"))

      val after = QueriesLLM.exactJaccardPairs(spark, d)
      val newPairs = after.filter(col("doc_b").isin(ids.toSeq: _*)).count()
      assert(newPairs >= 3, "memo served the pair graph of the old corpus")
      assert(after.count() >= before + 3)
    } finally FileUtils.deleteQuietly(corpus.toFile)
  }

  test("persisted LSH indexes of corpora with colliding dir hashCodes stay apart") {
    val root = Files.createTempDirectory("graft_memo_paths")
    try {
      val (dirA, dirB) = (s"$root/cAa", s"$root/cBB")
      assert(dirA.hashCode == dirB.hashCode) // the retired path tag collides
      copyTable(dir, Paths.get(dirA), "embeddings")
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$dirB/embeddings.parquet")

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val wantA = rows(QueriesLLM.annLsh(spark, dirA))
      val wantB = rows(QueriesLLM.annLsh(spark, dirB))
      assert(wantA != wantB, "the two corpora must answer differently")
      for (round <- 1 to 2) {
        assert(rows(QueriesLLM.annLshPersisted(spark, dirA)) == wantA, s"corpus A, call $round")
        assert(rows(QueriesLLM.annLshPersisted(spark, dirB)) == wantB, s"corpus B, call $round")
      }
    } finally FileUtils.deleteQuietly(root.toFile)
  }
}
