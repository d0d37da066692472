package graft.tools

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[Scale]]: every workload runs at a tiny size (one cold timed run
  * per body), writes the common artifact schema, and passes its
  * checks; a failing workload lands in its artifact and fails the run.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("scale-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val scratch = java.nio.file.Files.createTempDirectory("graft_scale_spec").toFile
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit =
    try { pool.shutdownNow(); spark.stop() } finally FileUtils.deleteQuietly(scratch)

  private val schema = Seq("workload", "n", "input", "runs", "cpus", "heap_max_bytes",
    "driver_mem_env", "generate_s", "facts", "bodies", "checks", "failed_checks",
    "peak_rss_bytes", "calibration", "weather_factor")

  /** Every run starts at once: at these sizes a workload waits on
    * scheduling and stream triggers more than on the cores.
    */
  private lazy val runs: Map[String, Future[(JsonNode, Boolean)]] = Seq(
    ("convert", "convert", "2000", None),
    ("lookup", "lookup", "40000", None),
    ("ann", "ann", "2000", None),
    ("dedup", "dedup", "2000", None),
    ("stream", "stream", "6400", None),
    ("media", "media", "60", None),
    ("registry", "registry", "/root/testdata/sf0.001", Some("q_rollup,q_window_rank")),
    ("no_corpus", "registry", new File(scratch, "no_corpus").getPath, Some("q_window_rank"))
  ).map { case (key, workload, arg, filter) => key -> Future(run(key, workload, arg, filter)) }.toMap

  /** One run of `workload` (one timed run per body), parsed. */
  private def run(key: String, workload: String, arg: String,
      filter: Option[String]): (JsonNode, Boolean) = {
    val dir = new File(scratch, key)
    dir.mkdirs()
    try {
      val (artifact, ok) = Scale.run(spark, workload, arg, runs = 1, dir, filter)
      (new ObjectMapper().readTree(artifact), ok)
    } finally FileUtils.deleteQuietly(dir)
  }

  private def result(key: String): (JsonNode, Boolean) = {
    val (node, ok) = Await.result(runs(key), 10.minutes)
    assert(schema.filterNot(node.has).isEmpty, s"artifact misses ${schema.filterNot(node.has)}")
    (node, ok)
  }

  private def passes(key: String, bodies: Seq[String], checks: Seq[String]): Unit = {
    val (node, ok) = result(key)
    assert(node.get("workload").asText == key)
    val timed = node.get("bodies")
    for (b <- bodies) {
      assert(timed.has(b), s"no body $b")
      assert(timed.get(b).get("walls_s").size == 1)
      assert(timed.get(b).get("min_s").asDouble > 0)
      assert(timed.get(b).get("profile").has("stages"))
    }
    val all = node.get("checks").fields.asScala.map(e => e.getKey -> e.getValue).toMap
    assert(checks.filterNot(all.contains).isEmpty, s"missing checks ${checks.filterNot(all.contains)}")
    val failed = all.collect { case (k, v) if !v.get("ok").asBoolean => s"$k=${v.get("value")}" }
    assert(failed.isEmpty && ok && node.get("failed_checks").size == 0, s"failed checks: $failed")
  }

  test("convert") {
    passes("convert", Seq("convert_plain", "convert_clustered"),
      Seq("plain_rows", "clustered_rows"))
  }

  test("lookup") {
    passes("lookup",
      for (l <- Seq("plain", "clustered", "bloom"); q <- Seq("hot", "point")) yield s"${l}_$q",
      Seq("plain_hot_rows", "clustered_point_rows", "bloom_point_bloom_candidates"))
  }

  test("ann") {
    passes("ann", Seq("ann_lsh_4t", "ivf_index_build", "ann_pq_p4_first_call",
      "ann_pq_p4", "ann_quantized_brute"), Seq("truth_pairs", "recall_lsh_4t", "recall_pq_p4"))
  }

  test("dedup") {
    passes("dedup", Seq("x_exact_dedup", "x_near_dedup_keep_lsh", "embed_dedup_lsh"),
      Seq("exact_dups_found", "lsh_recall", "embed_recall"))
  }

  test("stream") {
    val forms = Seq("simhash_dedup", "simhash_dedup_window", "simhash_dedup_eventtime",
      "simhash_dedup_eventtime_window")
    passes("stream",
      Seq("tumbling", "recovery", "dedup", "stateful_totals", "upsert", "eventlog_source") ++ forms,
      Seq("recovery", "eventlog_equal") ++ forms.map(_ + "_equal"))
  }

  test("media") {
    passes("media", Seq("features", "keyframes", "gop", "resize"),
      Seq("payload_ok", "keyframes", "gop_frames", "resized_images"))
  }

  test("registry") {
    passes("registry", Seq("q_rollup", "q_window_rank"), Seq("failed_entries"))
  }

  test("a failed check is in the artifact and fails the run") {
    val (node, ok) = result("no_corpus")
    assert(!ok)
    assert(node.get("failed_checks").elements.asScala.map(_.asText).toSeq == Seq("failed_entries"))
    assert(node.get("checks").get("failed_entries").get("value").get(0).asText == "q_window_rank")
  }
}
