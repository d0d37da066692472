package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Contracts for the secondary ingestion surfaces added in round 3:
  * native XML (E65), binaryFile (E66), and the streaming state-store
  * reader (S12). The oracled registry entries pin values against
  * DuckDB; these tests pin the engine-side mechanics the oracle can't
  * see (lossless round-trips recomputed in-process, state equality
  * with the batch aggregation it shadows).
  */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sources-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("E65 xml: documents survive the XML round-trip losslessly") {
    val viaXml = QueriesScalar.xmlScan(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val direct = Queries.t(spark, dir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("lang"), col("source"), md5(trim(col("text"))))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(viaXml.nonEmpty && viaXml.toSeq == direct.toSeq)
  }

  test("E66 binaryFile: content bytes identical to the staged source, listing-level pruning") {
    val rows = QueriesScalar.binaryfileScan(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    // recompute md5 + byte length from the documents table in-process
    val want = Queries.t(spark, dir, "documents")
      .filter(col("doc_id") % 40 === 0)
      .select(col("doc_id"), col("text"))
      .collect().map { r =>
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val dig = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        (r.getLong(0), bytes.length.toLong, dig.map("%02x".format(_)).mkString)
      }.sortBy(_._1)
    assert(rows.toSeq == want.toSeq)

    // a length predicate prunes at the FILE LISTING, before content IO:
    // the scan's partitions only contain files passing the filter
    val maxLen = rows.map(_._2).max
    val pruned = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(QueriesScalar.stageBinaryDocs(spark, dir))
      .filter(col("length") < maxLen)
    assert(pruned.count() == rows.count(_._2 < maxLen))
    assert(pruned.count() < rows.length, "fixture must have a largest file to prune")
  }

  test("E69 jdbc: Derby round-trip is lossless and the read is partitioned") {
    val viaJdbc = QueriesScalar.jdbcScan(spark, dir)
    val rows = viaJdbc.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val direct = Queries.t(spark, dir, "supplier")
      .filter(col("s_nationkey") < 15)
      .groupBy(col("s_nationkey").cast("int").as("k"))
      .agg(count(lit(1)), sum(Queries.cents(col("s_acctbal"))))
      .orderBy(col("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.toSeq == direct.toSeq)

    // the JDBC relation must carry the 4-way key-range partitioning —
    // a single-partition scan is the classic JDBC bottleneck
    val scan = spark.read.format("jdbc")
      .option("url", s"jdbc:derby:${QueriesScalar.stageDerby(spark, dir)}")
      .option("dbtable", "SUPPLIER")
      .option("partitionColumn", "SUPPKEY")
      .option("lowerBound", "1").option("upperBound", "1000000")
      .option("numPartitions", "4")
      .load()
    assert(scan.rdd.getNumPartitions == 4)
  }

  test("S12 statestore: final aggregation state equals the batch group-by") {
    val state = QueriesScalar.stateReader(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Queries.t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("value_cents"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(state.nonEmpty && state.toSeq == batch.toSeq)

    // the raw reader surface: one state row per key, partitioned as the
    // shuffle that wrote it (partition_id bounded by shuffle partitions),
    // read off a checkpoint this test's own stream writes
    val ckpt = graft.TempDirs.create("state-ckpt").toString
    graft.streaming.StreamingQueries
      .runStateInspect(spark, QueriesScalar.stageEventsFile(spark, dir), ckpt)
    val raw = spark.read.format("statestore").option("path", ckpt).load()
    assert(raw.columns.contains("partition_id"))
    assert(raw.count() == batch.length)
    val maxPart = raw.agg(max(col("partition_id"))).head().getInt(0)
    assert(maxPart < spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
