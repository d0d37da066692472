package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape and semantics checks for the scale-technique relational
  * operators (the oracle pins values; these pin the physical plans the
  * 100 TB story depends on).
  */
class QueriesRelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("queries-rel-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("binned range join: equi sort-merge on the bin key, no nested loop") {
    val binned = QueriesRel.joinRangeBinned(spark, dir)
    val plan = binned.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected the binned equi-join plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not fall back to a nested loop:\n$plan")
    // values equal the direct interval join (the semantics the binning
    // rewrite must preserve)
    import spark.implicits._
    val bands = spark.range(0, 1200).select(
      col("id").as("band"),
      (col("id") * 500).cast("double").as("lo"),
      (col("id") * 500 + 1500).cast("double").as("hi"))
    val direct = Queries.t(spark, dir, "orders")
      .join(bands, col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy((col("band") % 100).as("band_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Queries.cents(col("o_totalprice"))).as("price_cents"))
      .orderBy(col("band_bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = binned.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == direct.toSeq)
  }

  test("skew-salted join: shuffle join on (key, salt), values equal the plain join") {
    val salted = QueriesRel.joinSkewSalted(spark, dir)
    val plan = salted.queryExecution.executedPlan.toString

    // the hint must hold (a broadcast would defeat the point) and the
    // salt must be part of the join keys, spreading each hot flag
    assert(plan.contains("SortMergeJoin"), s"expected a shuffle join, got:\n$plan")
    assert(plan.toLowerCase.contains("salt"), "salt column missing from the executed plan")

    // semantics: identical to the plain (unsalted, broadcast) join
    import spark.implicits._
    val dim = Seq(("A", 5L), ("N", 10L), ("R", 3L)).toDF("flag", "weight")
    val plain = Queries.t(spark, dir, "lineitem")
      .join(broadcast(dim), col("l_returnflag") === col("flag"))
      .groupBy(col("flag"))
      .agg((sum(Queries.cents(col("l_quantity")) * col("weight")) / 100.0).as("weighted_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("flag"))
    assert(salted.collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq)
  }

  test("as-of join: equals brute-force latest-prior-purchase, no nested loop in plan") {
    val asof = QueriesRel.joinAsof(spark, dir)
    val plan = asof.queryExecution.executedPlan.toString

    // the composed plan must be window-over-union — a range join here
    // would plan a nested loop that explodes at scale
    assert(plan.contains("Window"), s"expected a window plan, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "as-of composition must not fall back to a nested-loop join")

    // semantics oracle: brute-force range join + keep the max prior ts
    val ev = Queries.t(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_uid"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id")).orderBy(col("p_ts").desc_nulls_last)
    val brute = c.join(p, col("c_uid") === col("p_uid") && col("p_ts") <= col("c_ts"), "left_outer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("c_uid").as("user_id"),
        unix_millis(col("c_ts")).as("click_ms"),
        col("p_event_id").as("purch_event_id"),
        round(col("p_value"), 2).as("purch_value"),
        (unix_millis(col("c_ts")) - unix_millis(col("p_ts"))).as("gap_ms"))
      .orderBy(col("event_id"))
    assert(asof.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
    assert(asof.count() == c.count(), "left as-of must keep every click")
  }

  test("bucketed join: zero shuffle exchange under the sort-merge join") {
    val (li, o) = QueriesRel.bucketedTables(spark, dir)
    val joined = li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
    joined.write.format("noop").mode("overwrite").save()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join, got:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side, got:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.toLowerCase.contains("bucket"),
      s"scan must be bucket-aware, got:\n$plan")

    // values: identical to the plain (shuffled) join
    val bucketed = QueriesRel.joinBucketed(spark, dir)
    val plain = Queries.t(spark, dir, "lineitem")
      .join(Queries.t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
    assert(bucketed.collect().map(_.toString).toSeq == plain.collect().map(_.toString).toSeq)
  }

  test("partitioned scan: year predicate prunes to a single partition at planning time") {
    val filtered = QueriesRel.partitionedOrders(spark, dir).filter(col("o_year") === 1997)
    val scan = filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    assert(scan.partitionFilters.nonEmpty, "year predicate must become a partition filter")
    val allYears = QueriesRel.partitionedOrders(spark, dir)
      .select("o_year").distinct().count()
    assert(allYears > 1, "fixture must span multiple years for pruning to mean anything")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of $allYears partitions selected, got ${scan.selectedPartitions.partitionCount}")

    // values: identical to filtering the unpartitioned table
    val expected = Queries.t(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(Queries.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_orderpriority"))
    assert(QueriesRel.partitionedScan(spark, dir).collect().map(_.toString).toSeq ==
      expected.collect().map(_.toString).toSeq)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // FileSourceScanExec leaves hide inside materialized query stages
    // and the DPP subquery, so descend through both
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case other =>
        other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
    val df = QueriesRel.joinDpp(spark, dir)
    val rows = df.collect()

    val scan = allScans(df.queryExecution.executedPlan)
      .find(_.partitionFilters.nonEmpty)
      .getOrElse(fail("expected a partition-filtered fact scan"))
    assert(scan.partitionFilters.map(_.toString).exists(_.contains("dynamicpruning")),
      s"expected a dynamicpruningexpression partition filter, got: ${scan.partitionFilters}")
    // runtime evidence: 7 year partitions exist, only the dim's 2 read
    assert(scan.metrics("staticFilesNum").value == 7,
      s"fixture should carry 7 year partitions, got ${scan.metrics("staticFilesNum").value}")
    assert(scan.metrics("numPartitions").value == 2,
      s"DPP should read exactly the 2 dim-selected partitions, got ${scan.metrics("numPartitions").value}")

    // values: identical to statically filtering the unpartitioned table
    val expected = Queries.t(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .filter(col("o_year").between(1995, 1996))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"), sum(Queries.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_year"))
    assert(rows.map(_.toString).toSeq == expected.collect().map(_.toString).toSeq)
  }

  test("AQE skew join: runtime sub-partition split lands in the executed plan") {
    // more reduce partitions than the default-4 so the skew detector
    // sees the 3-key pileup against a meaningful median
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val j = QueriesRel.skewAqeConfs(spark) { d =>
        val jj = QueriesRel.skewAqeJoin(d, dir)
        jj.collect()
        jj
      }
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("skew=true"),
        s"expected an AQE-skew-split sort-merge join, got:\n$plan")

      // values: identical to the manually salted form (E10b)
      assert(QueriesRel.joinSkewAqe(spark, dir).collect().map(_.toString).toSeq ==
        QueriesRel.joinSkewSalted(spark, dir).collect().map(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("bloom join: runtime filter lands in the plan, values equal the plain join") {
    // same confs joinBloom sets: no broadcast (the case runtime filters
    // exist for), application-side size floor lowered for test scale
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Queries.t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      val joined = Queries.t(spark, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected an injected bloom runtime filter on the fact side, got:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    // values: identical to the plain broadcast join (default confs)
    val plain = Queries.t(spark, dir, "lineitem")
      .join(Queries.t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    assert(QueriesRel.joinBloom(spark, dir).collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq)
  }

  test("quantized cosine: top-3 sims within int8 quantization error of exact cosine") {
    import graft.functions.GraftFunctions.cosine
    val e = Queries.t(spark, dir, "embeddings")
    val exact = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .filter(col("query_id") % 100 === 0)
      .crossJoin(e.select(col("vec_id").as("cand_id"), col("embedding").as("cv")))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), cosine(col("qv"), col("cv")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = QueriesLLM.annQuantized(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val err = math.abs(r.getDouble(3) - exact((r.getLong(0), r.getLong(1))))
      assert(err <= 0.02, s"quantized sim off by $err at $r")
    }
  }

  test("agg stats: closed forms agree with Spark's stddev_samp/corr built-ins") {
    val got = QueriesRel.aggStats(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val builtins = Queries.t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        Queries.cents(col("l_quantity")).as("qc"),
        Queries.cents(col("l_discount")).as("dc"))
      .groupBy(col("l_returnflag"))
      .agg(stddev_samp(col("qc")).as("sq"), stddev_samp(col("dc")).as("sd"),
        corr(col("qc"), col("dc")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // the closed forms are rounded 6dp at output (half-ulp 5e-7), so the
    // agreement bound is the rounding grid, not float epsilon
    got.foreach { case (flag, (sq, sd, c)) =>
      val (bq, bd, bc) = builtins(flag)
      assert(math.abs(sq - bq) <= 1e-6 * math.max(1.0, bq), s"stddev qty mismatch for $flag: $sq vs $bq")
      assert(math.abs(sd - bd) <= 1e-6, s"stddev disc mismatch for $flag: $sd vs $bd")
      assert(math.abs(c - bc) <= 1e-6, s"corr mismatch for $flag: $c vs $bc")
    }
  }

  test("agg stats: DECIMAL moments stay exact past the BIGINT wrap point") {
    import spark.implicits._
    // qc ≈ 3e9: each square (9e18) still fits a Long, but the SUM of
    // four (3.6e19) and n·Σqc² (1.45e20) wrap BIGINT — the failure the
    // DECIMAL(38,0) pipeline exists to prevent
    val big = 3000000000L
    val rows = Seq(("A", big, 1L), ("A", big + 1000000L, 2L),
      ("A", big + 2000000L, 3L), ("A", big + 3000000L, 4L))
    val got = QueriesRel.statsClosedForms(rows.toDF("grp", "qc", "dc")).collect()(0)
    // driver-side exact BigInt reference for the same closed forms
    val qs = rows.map(r => BigInt(r._2))
    val ds = rows.map(r => BigInt(r._3))
    val n = BigInt(rows.size)
    val (sq, sq2) = (qs.sum, qs.map(x => x * x).sum)
    val (sd, sd2) = (ds.sum, ds.map(x => x * x).sum)
    val sqd = qs.zip(ds).map { case (a, b) => a * b }.sum
    assert(sq2 > BigInt(Long.MaxValue), "Σqc² must exceed BIGINT for this test to bite")
    val aq = (n * sq2 - sq * sq).toDouble
    val ad = (n * sd2 - sd * sd).toDouble
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val nn = rows.size.toDouble
    assert(got.getAs[Long]("n") == rows.size)
    assert(got.getAs[Long]("sum_qc") == sq.toLong)
    assert(math.abs(got.getAs[Double]("stddev_qty_cents") - r6(math.sqrt(aq / (nn * (nn - 1.0))))) <= 1e-6)
    assert(math.abs(got.getAs[Double]("stddev_disc_cents") - r6(math.sqrt(ad / (nn * (nn - 1.0))))) <= 1e-6)
    assert(math.abs(got.getAs[Double]("corr_qd") -
      r6((n * sqd - sq * sd).toDouble / (math.sqrt(aq) * math.sqrt(ad)))) <= 1e-6)
  }

  test("corrupt CSV ingest: PERMISSIVE quarantines exactly the injected bad rows") {
    val raw = QueriesScalar.corruptCsvRaw(spark, dir).cache()
    try {
      val corrupt = raw.filter(col("_corrupt").isNotNull)
        .select("_corrupt").collect().map(_.getString(0)).sorted.toSeq
      assert(corrupt == QueriesScalar.CorruptLines.sorted,
        s"quarantined rows must be exactly the injected bad lines, got $corrupt")
      val clean = raw.filter(col("_corrupt").isNull)
      assert(clean.count() == Queries.t(spark, dir, "nation").count())
      assert(clean.filter(col("n_nationkey").isNull).count() == 0)
    } finally raw.unpersist()
  }

  test("CBO: analyzed statistics flow to plans and drive join reordering") {
    // catalog tables + ANALYZE: the statistics half of a 100 TB deployment
    // (AQE re-plans at runtime; CBO plans right the first time)
    val tag = graft.queries.Queries.stageTag(dir)
    lazy val root = graft.TempDirs.create("graft_cbo")
    Seq("customer", "orders", "nation").foreach { tbl =>
      val name = s"cbo_${tbl}_$tag"
      if (!spark.catalog.tableExists(name)) {
        Queries.t(spark, dir, tbl).write.mode("overwrite")
          .option("path", root.resolve(tbl).toString).saveAsTable(name)
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }
    // written pessimally: the two big tables joined first, tiny nation last.
    // with CBO + join reorder the optimizer should join the small pair
    // (customer x nation) before the big orders side.
    val sql =
      s"""SELECT count(*) AS n
         |FROM cbo_orders_$tag o
         |JOIN cbo_customer_$tag c ON o.o_custkey = c.c_custkey
         |JOIN cbo_nation_$tag n ON n.n_nationkey = c.c_nationkey
         |WHERE n.n_regionkey = 1""".stripMargin
    def joinOrder(): (Int, Int) = {
      val p = spark.sql(sql).queryExecution.optimizedPlan.toString
      (p.indexOf(s"cbo_nation_$tag"), p.indexOf(s"cbo_orders_$tag"))
    }
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      // ANALYZE row counts surface in plan stats once CBO is on
      val rc = spark.table(s"cbo_orders_$tag").queryExecution.optimizedPlan.stats.rowCount
      assert(rc.isDefined && rc.get.toLong == Queries.t(spark, dir, "orders").count(),
        s"ANALYZE row count must flow into plan stats, got $rc")
      val (nPos, oPos) = joinOrder()
      assert(nPos >= 0 && oPos >= 0)
      assert(nPos < oPos,
        "with CBO stats the small (nation) side must be joined before the big (orders) side")
      // values unchanged by reordering
      val n = spark.sql(sql).collect()(0).getLong(0)
      val expected = Queries.t(spark, dir, "orders")
        .join(Queries.t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Queries.t(spark, dir, "nation"), col("n_nationkey") === col("c_nationkey"))
        .filter(col("n_regionkey") === 1).count()
      assert(n == expected)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("plan guards: predicate pushdown and column pruning reach the parquet scans") {
    // point lookup: the equality predicate must land in PushedFilters
    val lookupPlan = QueriesRel.pointLookup(spark, dir).queryExecution.executedPlan.toString
    assert(lookupPlan.contains("PushedFilters") && lookupPlan.contains("EqualTo(l_orderkey,1)"),
      s"point-lookup predicate not pushed to the scan:\n$lookupPlan")

    // flagship: the lineitem scan must be pruned to exactly the 3 used columns
    val flagPlan = Queries.flagship(spark, dir).queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(flagPlan)
      .map(_.group(1)).toSeq
    val liSchema = readSchemas.find(_.contains("l_orderkey")).getOrElse(
      fail(s"no lineitem scan in flagship plan:\n$flagPlan"))
    assert(liSchema.split(",").length == 3 && liSchema.contains("l_extendedprice")
        && liSchema.contains("l_discount"),
      s"lineitem scan not pruned to 3 columns: $liSchema")
  }

  test("exact-moment queries are invariant to shuffle partitioning (order-independence)") {
    // the determinism story for q_agg_stats / x_collocations is that all
    // float math happens AFTER exact integer aggregation — so the result
    // cannot depend on how rows are distributed or merge order
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): (Seq[String], Seq[String]) = (
      QueriesRel.aggStats(spark, dir).collect().map(_.toString).toSeq,
      QueriesLLM.collocations(spark, dir).collect().map(_.toString).toSeq)
    val (statsA, collA) = run()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val (statsB, collB) = run()
      assert(statsA == statsB, "agg stats drifted across partition counts")
      assert(collA == collB, "collocation PMI drifted across partition counts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("top-k per key: partial-aggregated plan, equals the window idiom") {
    val topk = QueriesRel.topkPerKey(spark, dir)
    // the whole point: an aggregate with a map-side partial stage (k-row
    // states), not a window that shuffles every row
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an aggregate-based plan, got:\n$plan")
    assert(plan.toLowerCase.contains("partial"),
      s"aggregate must have a map-side partial stage, got:\n$plan")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(Queries.cents(col("o_totalprice")).desc, col("o_orderkey"))
    val windowed = Queries.t(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk").cast("int").as("rnk"),
        col("o_orderkey"), Queries.cents(col("o_totalprice")).as("price_cents"))
      .orderBy(col("o_custkey"), col("rnk"))
    assert(topk.collect().map(_.toString).toSeq ==
      windowed.collect().map(_.toString).toSeq)
  }

  test("z-order layout: row-group skipping on BOTH clustered dimensions") {
    import graft.tools.LayoutReport.longStatsRange
    // sf0.01: ~60k rows → ~3 MB → many 128 KB row groups
    val bigDir = "/root/testdata/sf0.01"
    val zloc = QueriesRel.zorderedLineitem(spark, bigDir)
    val ploc = QueriesRel.partkeySortedLineitem(spark, bigDir)

    val (zTotal, zPart) = longStatsRange(zloc, "l_partkey", 0L, 300L)
    val (_, zSupp) = longStatsRange(zloc, "l_suppkey", 0L, 30L)
    val (pTotal, pPart) = longStatsRange(ploc, "l_partkey", 0L, 300L)
    val (_, pSupp) = longStatsRange(ploc, "l_suppkey", 0L, 30L)

    assert(zTotal >= 8, s"need many row groups for skipping to be measurable, got $zTotal")
    // single-column sort: skips on its leading key only
    assert(pPart < pTotal, "partkey-sorted layout must skip on partkey")
    assert(pSupp == pTotal, "partkey-sorted layout cannot skip on suppkey (the gap z-order closes)")
    // z-order: skips on BOTH dimensions
    assert(zPart < zTotal, s"z-order must skip on partkey ($zPart of $zTotal)")
    assert(zSupp < zTotal, s"z-order must skip on suppkey ($zSupp of $zTotal)")

    // the layout reorders, never drops: same multiset of keys
    val a = spark.read.parquet(zloc).groupBy(col("l_partkey")).count()
      .orderBy(col("l_partkey")).collect().toSeq
    val b = Queries.t(spark, bigDir, "lineitem").groupBy(col("l_partkey")).count()
      .orderBy(col("l_partkey")).collect().toSeq
    assert(a == b, "z-ordered copy must hold the identical data")
  }

  test("pivot: equals conditional aggregation; unpivot melts back to the wide values") {
    val piv = QueriesRel.pivotAgg(spark, dir)
    val cond = Queries.t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_linestatus") === "F", Queries.cents(col("l_quantity")))).as("qty_cents_f"),
        sum(when(col("l_linestatus") === "O", Queries.cents(col("l_quantity")))).as("qty_cents_o"))
      .orderBy(col("l_returnflag"))
    assert(piv.collect().map(_.toString).toSeq == cond.collect().map(_.toString).toSeq)

    // unpivot: every (id, metric) row carries exactly the wide frame's value
    val wide = Queries.t(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(Queries.cents(col("c_acctbal"))).as("bal_cents"))
    val wideRows = wide.collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val melted = QueriesRel.unpivotMetrics(spark, dir).collect()
    assert(melted.length == 2 * wideRows.size)
    melted.foreach { r =>
      val (nCust, balCents) = wideRows(r.getInt(0))
      val expected = if (r.getString(1) == "n_cust") nCust else balCents
      assert(r.getLong(2) == expected, s"unpivot mismatch at $r")
    }
  }

  test("intersectAll/exceptAll: multiset semantics (min / truncated difference of counts)") {
    def counts(table: String, key: String): Map[Int, Long] =
      Queries.t(spark, dir, table).groupBy(col(key).cast("int").as("k"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cl = counts("customer", "c_nationkey")
    val sl = counts("supplier", "s_nationkey")
    QueriesRel.intersectAllKeys(spark, dir).collect().foreach { r =>
      val k = r.getInt(0)
      assert(r.getLong(1) == math.min(cl.getOrElse(k, 0L), sl.getOrElse(k, 0L)),
        s"INTERSECT ALL multiplicity wrong for key $k")
    }
    QueriesRel.exceptAllKeys(spark, dir).collect().foreach { r =>
      val k = r.getInt(0)
      assert(r.getLong(1) == cl.getOrElse(k, 0L) - sl.getOrElse(k, 0L),
        s"EXCEPT ALL multiplicity wrong for key $k")
    }
  }

  test("approx percentile: within sketch accuracy of the exact value") {
    val exact = QueriesRel.percentiles(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap // p50
    QueriesRel.aggApproxPercentile(spark, dir).collect().foreach { r =>
      val flag = r.getString(0)
      // accuracy=100 → rank error ≤ n/100; quantities span 1..50, so a
      // generous absolute bound of 5 covers it
      assert(math.abs(r.getDouble(1) - exact(flag)) <= 5.0,
        s"approx p50 for $flag too far from exact: ${r.getDouble(1)} vs ${exact(flag)}")
      assert(r.getDouble(2) >= r.getDouble(1), "p95 must be >= p50")
    }
  }

  test("percentile: matches hand interpolation on the sorted group") {
    val got = QueriesRel.percentiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val byFlag = Queries.t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    def interp(v: Array[Double], p: Double): Double = {
      val idx = p * (v.length - 1)
      val lo = idx.toInt
      if (lo == v.length - 1) v(lo) else v(lo) + (idx - lo) * (v(lo + 1) - v(lo))
    }
    got.foreach { case (flag, (p25, p50, p75)) =>
      val v = byFlag(flag)
      assert(p25 == interp(v, 0.25) && p50 == interp(v, 0.5) && p75 == interp(v, 0.75),
        s"percentile mismatch for flag $flag")
      assert(p25 <= p50 && p50 <= p75)
    }
  }

  test("dedup clusters: equals union-find ground truth over exact jaccard pairs") {
    val docs = Queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingleSet(text: String): Set[String] =
      text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, text) => id -> shingleSet(text) }
    // in-memory union-find over all-pairs jaccard >= 0.2
    val parent = scala.collection.mutable.Map(sh.map(_._1 -> -1L).toSeq: _*)
      .map { case (k, _) => k -> k }
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val inGraph = scala.collection.mutable.Set[Long]()
    for (i <- sh.indices; j <- (i + 1) until sh.length) {
      val (ia, sa) = sh(i); val (ib, sb) = sh(j)
      val inter = (sa & sb).size
      if (inter > 0 && inter.toDouble / (sa | sb).size >= 0.2) {
        union(ia, ib); inGraph += ia; inGraph += ib
      }
    }
    val expected = inGraph.toSeq.map(id => id -> find(id)).toMap
    val gotRows = QueriesLLM.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRows == expected, "cluster labels diverge from union-find ground truth")
    assert(gotRows.nonEmpty, "expected at least one near-dup cluster in the corpus")
  }

  test("table sample: seed-deterministic, fraction honored within tolerance") {
    val run1 = QueriesRel.tableSample(spark, dir).collect().map(_.toString).toSeq
    val run2 = QueriesRel.tableSample(spark, dir).collect().map(_.toString).toSeq
    assert(run1 == run2, "fixed seed must reproduce the identical sample")
    val totals = Queries.t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    QueriesRel.tableSample(spark, dir).collect().foreach { r =>
      val want = 0.1 * totals(r.getString(0))
      assert(math.abs(r.getLong(1) - want) <= math.max(15.0, 0.35 * want),
        s"flag ${r.getString(0)} sampled ${r.getLong(1)}, expected ~$want")
    }
  }

  test("stratified sample: per-stratum fractions honored, seed-deterministic") {
    val totals = Queries.t(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val run1 = QueriesLLM.stratifiedSample(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val run2 = QueriesLLM.stratifiedSample(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(run1 == run2, "fixed seed must reproduce the identical sample")
    run1.foreach { case (lang, (n, _)) =>
      val want = QueriesLLM.SampleFractions(lang) * totals(lang)
      // Bernoulli draw: allow generous tolerance at these stratum sizes
      assert(math.abs(n - want) <= math.max(10.0, 0.35 * want),
        s"stratum $lang sampled $n of ${totals(lang)}, expected ~$want")
    }
  }

  test("embedding near-dup dedup: canonical precedes dup, sims above threshold") {
    val rows = QueriesLLM.embedDedup(spark, dir).collect()
    assert(rows.nonEmpty, "expected some near-dup pairs at cos >= 0.3")
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), "canonical_id must be a lower id than dup_id")
      assert(r.getDouble(2) >= 0.3)
      assert(r.getLong(3) >= 1)
    }
  }

  test("regression aggregates: closed forms agree with Spark's regr_* built-ins") {
    val got = QueriesRel.aggRegr(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val builtins = Queries.t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        Queries.cents(col("l_quantity")).cast("double").as("x"),
        Queries.cents(col("l_extendedprice")).cast("double").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(expr("regr_slope(y, x)").as("sl"), expr("regr_intercept(y, x)").as("ic"),
        expr("regr_r2(y, x)").as("r2"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    got.foreach { case (flag, (sl, ic, r2)) =>
      val (bs, bi, br) = builtins(flag)
      // built-ins use streaming float moments; the closed forms are exact
      // integers — agree to relative 1e-6 plus the 6dp output grid
      assert(math.abs(sl - bs) <= 1e-6 * math.max(1.0, math.abs(bs)), s"slope $flag: $sl vs $bs")
      assert(math.abs(ic - bi) <= 1e-5 * math.max(1.0, math.abs(bi)), s"intercept $flag: $ic vs $bi")
      assert(math.abs(r2 - br) <= 1e-6, s"r2 $flag: $r2 vs $br")
    }
  }

  test("gap fill: spine is complete and dense, observed hours match the raw aggregation") {
    val rows = QueriesRel.gapFill(spark, dir).collect()
    val hours = rows.map(_.getLong(0)).distinct.sorted
    val types = rows.map(_.getString(1)).distinct
    // every (hour, type) cell exists exactly once; hour spacing is 3600s
    assert(rows.length == hours.length * types.length)
    assert(hours.sliding(2).forall(p => p(1) - p(0) == 3600L))
    // zero-filled cells exist (the operator's reason to exist) and
    // non-zero cells equal the straight aggregation
    assert(rows.exists(_.getLong(2) == 0L))
    val raw = Queries.t(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == raw.getOrElse((r.getLong(0), r.getString(1)), 0L))
    }
  }

  test("forward fill: equals a sequential last-observation scan per user") {
    val ev = Queries.t(spark, dir, "events")
      .filter(col("user_id") % 50 === 0)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var lastSeen = -1.0
      rows.sortBy(r => (r._2, r._3)).map { case (_, _, id, v) =>
        if (id % 7 == 0) lastSeen = v
        id -> lastSeen
      }
    }.toMap
    val got = QueriesRel.forwardFill(spark, dir).collect()
    assert(got.nonEmpty && got.exists(_.getDouble(2) == -1.0))
    got.foreach(r => assert(r.getDouble(2) == expected(r.getLong(0)),
      s"fill mismatch at event ${r.getLong(0)}"))
  }

  test("merge upsert: all three MERGE verbs fire with exact cents semantics") {
    val rows = QueriesRel.mergeUpsert(spark, dir).collect()
    val byAction = rows.groupBy(_.getString(2))
    assert(byAction.keySet == Set("insert", "update", "keep"))
    // inserted keys live outside the base key space (the synthetic shift)
    byAction("insert").foreach(r => assert(r.getLong(0) >= 1000000L))
    // keep rows carry the untouched base balance
    val base = Queries.t(spark, dir, "customer")
      .select(col("c_custkey"), Queries.cents(col("c_acctbal")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byAction("keep").foreach(r => assert(r.getLong(1) == base(r.getLong(0))))
  }

  test("string agg: deterministic ordered render per bounded group") {
    val got = QueriesRel.stringAgg(spark, dir).collect()
    val raw = Queries.t(spark, dir, "nation")
      .select(col("n_regionkey"), col("n_name"))
      .collect().groupBy(_.getAs[Number](0).longValue)
    got.foreach { r =>
      val names = raw(r.getAs[Number](0).longValue).map(_.getString(1)).sorted
      assert(r.getLong(1) == names.length)
      assert(r.getString(2) == names.mkString(","))
    }
  }

  test("range shard: non-overlapping ranges, full coverage, bounded skew") {
    val shards = QueriesRel.rangeShard(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(shards.length == 8)
    // ranges ordered and disjoint: shard i's max < shard i+1's min
    val byId = shards.sortBy(_._1)
    byId.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"overlap between shard ${a._1} and ${b._1}")
    }
    // full coverage and sampling-bounded balance
    val total = Queries.t(spark, dir, "lineitem").count()
    assert(shards.map(_._2).sum == total)
    assert(shards.map(_._2).max < total / 2, "one shard holds half the table")
  }

  test("try funcs: malformed values become countable sentinels, never errors") {
    val got = QueriesScalar.tryFuncs(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 5)        // digit prefix parses
      assert(r.getInt(2) == -1)                           // full string never does
    }
    // ratio sentinel fires exactly when the divisor is zero
    val raw = Queries.t(spark, dir, "orders")
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), (col("o_custkey") % 5).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach(r => assert((r.getDouble(3) == -1.0) == (raw(r.getLong(0)) == 0L)))
  }

  test("explode outer: empty-array parents survive with the sentinel token") {
    val got = QueriesScalar.explodeOuter(spark, dir).collect()
    val docs = Queries.t(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).count(_.startsWith("q"))).toMap
    // every sampled doc appears; zero-match docs exactly once as <none>
    assert(got.map(_.getLong(0)).toSet == docs.keySet)
    docs.foreach { case (id, nq) =>
      val toks = got.filter(_.getLong(0) == id).map(_.getString(1))
      if (nq == 0) assert(toks.sameElements(Array("<none>")))
      else assert(toks.length == nq && toks.forall(_.startsWith("q")))
    }
  }

  test("typed cogroup: equals the relational join+agg form") {
    val typed = QueriesRel.typedCogroup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val relational = Queries.t(spark, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .join(Queries.t(spark, dir, "lineitem").filter(col("l_orderkey") % 10 === 0),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"), Queries.cents(col("o_totalprice")).as("oc"))
      .agg(count(col("l_orderkey")).as("n"),
        coalesce(sum(Queries.cents(col("l_extendedprice"))), lit(0L)).as("ic"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(typed == relational)
  }

  test("union by name: legacy epoch lands in the sentinel group, totals conserved") {
    val rows = QueriesRel.unionByNameDrift(spark, dir).collect()
    val legacy = rows.filter(_.getString(0) == "<legacy>")
    assert(legacy.length == 1 && legacy.head.getLong(1) > 0)
    val total = Queries.t(spark, dir, "orders")
      .agg(sum(Queries.cents(col("o_totalprice"))), count(lit(1))).collect().head
    assert(rows.map(_.getLong(2)).sum == total.getLong(0))
    assert(rows.map(_.getLong(1)).sum == total.getLong(1))
  }

  test("sketch union: HLL estimates within 5% of exact, ALL row merges sketches") {
    val rows = QueriesRel.sketchUnion(spark, dir).collect()
    assert(rows.map(_.getString(0)).contains("ALL"))
    rows.foreach { r =>
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(est - exact) / exact <= 0.05,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("skew stats match an exact per-key recomputation") {
    val keys = Queries.t(spark, dir, "lineitem")
      .select("l_orderkey").collect().map(_.getLong(0))
    val counts = keys.groupBy(identity).map(_._2.length.toLong).toArray.sorted
    val nKeys = counts.length.toLong
    val nRows = counts.sum
    val mx = counts.last
    // linear-interpolated p99, the same definition percentile() uses
    val rank = 0.99 * (nKeys - 1)
    val (lo, hi) = (counts(rank.toInt), counts(math.ceil(rank).toInt))
    val p99 = lo + (rank - rank.toInt) * (hi - lo)

    val r = QueriesRel.skewStats(spark, dir).collect().head
    assert(r.getLong(0) == nKeys && r.getLong(1) == nRows && r.getLong(2) == mx)
    assert(math.abs(r.getDouble(3) - p99) < 1e-9)
    assert(r.getLong(4) == mx * 1000L * nKeys / nRows)
  }

  test("mode per group matches an exact driver-side count with value tie-break") {
    val rows = Queries.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong))
    val expected = rows.groupBy(_._1).map { case (f, occ) =>
      val counts = occ.groupBy(_._2).map { case (q, os) => (q, os.length.toLong) }
      f -> counts.toSeq.sortBy(t => (-t._2, t._1)).head
    }
    val got = QueriesRel.modePerGroup(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (qty, n) = expected(r.getString(0))
      assert(r.getLong(1) == qty && r.getLong(2) == n, s"mode for ${r.getString(0)}")
    }
  }

  test("dq audit: every check matches a driver-side recomputation") {
    val li = Queries.t(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "l_quantity", "l_discount",
        "CAST(l_shipdate AS STRING) AS sd").collect()
    val o = Queries.t(spark, dir, "orders")
      .selectExpr("o_orderkey", "o_custkey",
        "CAST(o_orderdate AS STRING) AS od").collect()
    val oDate = o.map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected = Map(
      "lineitem_rows" -> li.length.toLong,
      "lineitem_qty_nonpositive" -> li.count(_.getDouble(1) <= 0).toLong,
      "lineitem_discount_range" ->
        li.count(r => r.getDouble(2) < 0 || r.getDouble(2) > 1).toLong,
      "orders_rows" -> o.length.toLong,
      "orders_null_custkey" -> o.count(_.isNullAt(1)).toLong,
      "orders_pk_dup" ->
        o.map(_.getLong(0)).groupBy(identity).count(_._2.length > 1).toLong,
      "lineitem_fk_orphan" -> li.count(r => !oDate.contains(r.getLong(0))).toLong,
      "lineitem_ship_before_order" ->
        li.count(r => oDate.get(r.getLong(0)).exists(r.getString(3) < _)).toLong)
    val got = QueriesRel.dqAudit(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach(r => assert(r.getLong(1) == expected(r.getString(0)),
      s"check ${r.getString(0)}"))
    // the synthetic corpus is actually clean — the audit's zero rows are real
    assert(expected("lineitem_fk_orphan") == 0L && expected("orders_pk_dup") == 0L)
  }

  test("scd2: intervals match a sequential change scan per user") {
    val ev = Queries.t(spark, dir, "events")
      .filter(col("user_id") % 50 === 0)
      .selectExpr("user_id", "event_id", "event_type", "unix_millis(ts) AS ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val sentinel = 253402300799999L
    val expected = ev.groupBy(_._1).flatMap { case (_, rows) =>
      val ordered = rows.toSeq.sortBy(r => (r._4, r._2))
      val changes = ordered.zipWithIndex.filter { case (r, i) =>
        i == 0 || ordered(i - 1)._3 != r._3 }.map(_._1)
      changes.zipWithIndex.map { case (r, i) =>
        val to = if (i == changes.length - 1) sentinel else changes(i + 1)._4
        r._2 -> (r._1, r._3, r._4, to, to == sentinel)
      }
    }
    val got = QueriesRel.scd2(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (uid, tpe, from, to, cur) = expected(r.getLong(1))
      assert(r.getLong(0) == uid && r.getString(2) == tpe &&
        r.getLong(3) == from && r.getLong(4) == to && r.getBoolean(5) == cur,
        s"scd2 row for event ${r.getLong(1)}")
    }
    // intervals per user are contiguous and exactly one row is current
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.count(_.getBoolean(5)) == 1)
      val sorted = rows.sortBy(_.getLong(3))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) == b.getLong(3))
        case _ =>
      }
    }
  }

  test("asof nearest: joinless plan, gaps match a driver-side min-abs scan") {
    val df = QueriesRel.joinAsofNearest(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"nearest-align must not join:\n$plan")
    val ev = Queries.t(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("user_id", "event_id", "event_type", "unix_millis(ts) AS ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val purchByUser = ev.filter(_._3 == "purchase").groupBy(_._1)
      .map { case (u, rs) => u -> rs.map(_._4) }
    val got = df.collect()
    val clicks = ev.filter(_._3 == "click")
    assert(got.length == clicks.length)
    val gotMap = got.map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    clicks.foreach { case (u, eid, _, ms) =>
      val want = purchByUser.get(u).map(_.map(p => math.abs(ms - p)).min)
      assert(gotMap(eid) == want, s"gap for click $eid")
    }
  }

  test("recursive chain: every order visited once at its per-customer position") {
    val df = Queries.withViews(spark, dir)(QueriesRel.recursiveChainSql)
    assert(df.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      "recursion should compile to UnionLoop")
    val orders = Queries.t(spark, dir, "orders")
      .select("o_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perCust = orders.groupBy(_._1).map(_._2.length)
    val got = df.collect()
    // depth histogram: n at depth d == customers with >= d orders
    got.foreach { r =>
      val d = r.getInt(0)
      assert(r.getLong(1) == perCust.count(_ >= d).toLong, s"count at depth $d")
    }
    assert(got.map(_.getLong(1)).sum == orders.length.toLong)
    assert(got.map(_.getLong(2)).sum == orders.map(o => BigInt(o._2)).sum.toLong)
    assert(got.map(_.getInt(0)).max == perCust.max)
  }

  test("recursive chain fast form == full recursive SQL (the shipped optimization is output-identical)") {
    // the shipped q_recursive pre-materializes the loop-invariant nxt
    // and broadcasts the frontier (r13); this pin is what lets the
    // registry ride it while the oracle keeps the full recursive text
    val full = Queries.withViews(spark, dir)(QueriesRel.recursiveChainSql)
      .collect().map(_.toString).sorted.toSeq
    val fast = QueriesRel.recursiveChainFast(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(fast == full)
    // and the fast form still exercises the recursion operator
    assert(QueriesRel.recursiveChainFast(spark, dir)
      .queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      "fast form must still compile to UnionLoop")
  }

  test("variant extraction matches a driver-side parse of the raw JSON") {
    val props = Queries.t(spark, dir, "events")
      .select("event_type", "props").collect()
      .map { r =>
        val m = "\"k\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(r.getString(1))
        (r.getString(0), m.map(_.group(1).toLong))
      }
    val expected = props.groupBy(_._1).map { case (tpe, rs) =>
      val ks = rs.flatMap(_._2)
      tpe -> (rs.length.toLong, ks.sum, ks.min, ks.max)
    }
    val got = QueriesScalar.variantExtract(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, sumK, minK, maxK) = expected(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == sumK &&
        r.getLong(3) == minK && r.getLong(4) == maxK, s"variant ${r.getString(0)}")
      assert(r.getLong(5) == 0L, "absent path must extract to NULL, not error")
    }
  }

  test("compaction: fewer files, rows conserved, file key-ranges disjoint") {
    val digest = QueriesRel.compactSmallFiles(spark, dir).collect().head
    assert(digest.getInt(0) == 256, "staged fragmentation should be 256 files")
    assert(digest.getInt(1) < digest.getInt(0) / 8,
      s"expected >=8x fewer files, got ${digest.getInt(1)}")
    assert(digest.getLong(2) == digest.getLong(3), "rows must be conserved")
    // range layout: per-file [min,max] orderkey intervals don't overlap
    val (_, outDir) = QueriesRel.compactionDirs(spark, dir)
    val ranges = spark.read.parquet(outDir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length == digest.getInt(1))
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"overlapping file ranges $a $b")
      case _ =>
    }
  }

  test("quality classifier: integer logit splits the corpus into both classes") {
    val got = QueriesLLM.qualityClassify(spark, dir).collect()
    assert(got.length == Queries.t(spark, dir, "documents").count())
    val kept = got.count(_.getBoolean(6))
    assert(kept > 0 && kept < got.length, s"degenerate threshold: $kept kept")
    // spot-check the feature extraction on one known row
    val r = got.head
    assert(r.getLong(5) == 2 * r.getLong(1) + 1500 * r.getLong(4)
      - 300 * r.getLong(2) - 800 * r.getLong(3))
  }

  test("running distinct-count matches a sequential first-occurrence scan") {
    val ev = Queries.t(spark, dir, "events")
      .selectExpr("event_type", "user_id", "event_id", "unix_millis(ts) AS ms")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).flatMap { case (_, rows) =>
      val seen = scala.collection.mutable.Set[Long]()
      var n = 0L
      rows.toSeq.sortBy(r => (r._4, r._3)).map { case (_, uid, eid, _) =>
        if (seen.add(uid)) n += 1
        eid -> n
      }
    }
    val got = QueriesRel.windowDistinct(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(3) == expected(r.getLong(1)),
      s"running distinct at event ${r.getLong(1)}"))
  }

  test("histogram: buckets partition the table exactly") {
    val got = QueriesRel.histogram(spark, dir).collect()
    val total = Queries.t(spark, dir, "orders").count()
    assert(got.map(_.getLong(1)).sum == total)
    assert(got.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 19))
  }
}
