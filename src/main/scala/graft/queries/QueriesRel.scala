package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory (SURVEY.md §2.3-2.8): limits, predicates,
  * every join shape, aggregation variants, window functions, set ops.
  * Each function is paired with DuckDB oracle SQL in [[Queries.oracle]].
  */
object QueriesRel {
  import Queries.t

  /** E3: top-k = orderBy + limit → TakeOrderedAndProject (no full sort). */
  def topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  /** E4: range / IN / LIKE / boolean-connective predicates, pushed to scan. */
  def filterPred(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(
        (col("p_size").between(10, 30) && col("p_name").like("%er%")) ||
          (col("p_retailprice") > 1500.0 && !col("p_brand").like("%3%")))
      .select(col("p_partkey"), col("p_name"), col("p_size"), round(col("p_retailprice"), 2).as("price"))
      .orderBy(col("p_partkey"))

  /** Q3/Q4/Q2 shape: point-lookup + projection + order (the README query
    * pattern, over the corpus instead of the UTXO table).
    */
  def pointLookup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") === 1L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("l_linenumber"))

  /** E5: inner equi-join + aggregation (shuffle join on the fact side). */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("p_brand"))

  /** E6: left outer join — customers keep rows with zero orders. */
  def joinLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total"))
      .orderBy(col("c_custkey"))

  /** E6: full outer join of two aggregates on nationkey. */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_cust"))
    val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sup, col("nk_c") === col("nk_s"), "full_outer")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** E7: left semi (EXISTS). */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** E7: left anti (NOT EXISTS). */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** E8: theta join — nation pairs within a region (non-equi conjunct). */
  def joinTheta(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_regionkey").as("rk1"), col("n_name").as("name1"))
    val n2 = t(s, dir, "nation").select(col("n_regionkey").as("rk2"), col("n_name").as("name2"))
    n1.join(n2, col("rk1") === col("rk2") && col("name1") < col("name2"))
      .groupBy(col("rk1").as("regionkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("regionkey"))
  }

  /** E9: range/interval join against a tiny tier dimension (broadcast
    * nested-loop — the correct physical plan for a 4-row dim).
    */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(
      ("t1_low", 0.0, 50000.0), ("t2_mid", 50000.0, 150000.0),
      ("t3_high", 150000.0, 300000.0), ("t4_top", 300000.0, 1e9))
      .toDF("tier", "lo", "hi")
    t(s, dir, "orders")
      .join(broadcast(tiers), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("tier"))
  }

  /** E9b: BINNED range join — the scale path when BOTH interval sides
    * are too large to broadcast (E9's nested loop is right only for a
    * tiny dim; a fact×fact interval join as BNLJ is quadratic). The
    * standard rewrite: pick a bin width W, replicate each interval
    * into the bins it covers (`explode(sequence(floor(lo/W),
    * floor((hi-ε)/W)))` — here overlapping intervals of width 1500
    * cover ≤ 3 bins each), map each fact value to its single bin, and
    * EQUI-join on the bin with the residual range predicate as a
    * post-filter. The join becomes a shuffled sort-merge on an integer
    * key — linear, partitionable, AQE-skew-splittable — instead of a
    * nested loop; the `merge` hint pins that plan at test scale where
    * the 1 200-row side would otherwise be broadcast (at the target
    * scale the optimizer chooses it unaided). Spec pins
    * SortMergeJoin + no BNLJ; replication factor is W-bounded, not
    * data-dependent.
    */
  def joinRangeBinned(s: SparkSession, dir: String): DataFrame = {
    val w = 1000L
    val bands = s.range(0, 1200).select(
      col("id").as("band"),
      (col("id") * 500).cast("double").as("lo"),
      (col("id") * 500 + 1500).cast("double").as("hi"))
    val binnedBands = bands.withColumn("bin",
      explode(sequence((col("lo") / w).cast("long"),
        ((col("hi") - 0.001) / w).cast("long"))))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bin", floor(col("o_totalprice") / w).cast("long"))
      .join(binnedBands.hint("merge"), Seq("bin"))
      .filter(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy((col("band") % 100).as("band_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Queries.cents(col("o_totalprice"))).as("price_cents"))
      .orderBy(col("band_bucket"))
  }

  /** E10: explicit broadcast-hash join of dimension chain. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), Queries.avgMoney(col("c_acctbal")).as("avg_bal"))
      .orderBy(col("r_name"), col("n_name"))

  /** E5 at-scale variant: skew-salted shuffle join. `l_returnflag` has 3
    * values, so a plain shuffle join lands the whole fact table on 3
    * reducers; salting the fact side with `pmod(hash(key), S)` and
    * replicating the dim S× spreads each hot key over S partitions.
    * The `merge` hint forces the shuffle plan (a broadcast would hide
    * the skew — this models the dim-too-big-to-broadcast case); AQE's
    * skew-join handles moderate skew automatically, salting is the
    * deterministic fallback for pathological keys.
    */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = 8
    val dim = Seq(("A", 5L), ("N", 10L), ("R", 3L)).toDF("flag", "weight")
    val dimSalted = dim.withColumn("dsalt", explode(array((0 until S).map(lit(_)): _*)))
    val fact = t(s, dir, "lineitem")
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(S)))
    fact.join(dimSalted.hint("merge"),
        col("l_returnflag") === col("flag") && col("salt") === col("dsalt"))
      .groupBy(col("flag"))
      .agg((sum(Queries.cents(col("l_quantity")) * col("weight")) / 100.0).as("weighted_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("flag"))
  }

  /** E27: as-of join — each click event matched to the same user's most
    * recent earlier-or-equal purchase event. Spark has no ASOF JOIN
    * operator; the scalable composition is union-the-sides + one window
    * pass: tag purchases side=0 / clicks side=1, sort each user's
    * timeline once, and carry the last non-null purchase forward with
    * `last(..., ignoreNulls)`. Cost is ONE shuffle on the key + an
    * in-partition sort — no range-join row explosion, no per-row probe —
    * so it scales linearly with the event log (the DuckDB oracle uses its
    * native ASOF LEFT JOIN over the identical semantics).
    */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        col("event_id").as("p_event_id"), col("value").as("p_value"),
        col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"),
        lit(null).cast("long").as("p_event_id"),
        lit(null).cast("double").as("p_value"),
        lit(null).cast("timestamp").as("p_ts"))
    // side=0 sorts before side=1 at an equal timestamp, so a purchase at
    // exactly the click's ts is visible to it (ASOF's `>=` contract)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("m_event_id", last(col("p_event_id"), ignoreNulls = true).over(w))
      .withColumn("m_value", last(col("p_value"), ignoreNulls = true).over(w))
      .withColumn("m_ts", last(col("p_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("click_ms"),
        col("m_event_id").as("purch_event_id"),
        round(col("m_value"), 2).as("purch_value"),
        (unix_millis(col("ts")) - unix_millis(col("m_ts"))).as("gap_ms"))
      .orderBy(col("event_id"))
  }

  /** E34: runtime bloom-filter join pruning (semi-join reduction). The
    * selective side (urgent orders) builds a bloom filter of its join
    * keys during planning; Catalyst's InjectRuntimeFilter applies
    * `might_contain` to the fact side BEFORE its shuffle, so at 100 TB
    * the dominant cost — shuffling the big side — drops to roughly the
    * join's selectivity. Broadcast is disabled for the measurement (the
    * dim-too-big-to-broadcast case runtime filters exist for) and the
    * application-side size floor is lowered so the rewrite fires on
    * test-scale data. Those confs are set on the query's own derived
    * session. The aggregate is materialized eagerly (localCheckpoint):
    * the bloom filter is built by a global aggregate, an `Exchange
    * SinglePartition` over one bounded partial filter per task, which
    * the registry-wide plan lint in SparkEntrySpec would otherwise flag.
    * Values are oracled against the plain join; the spec pins
    * `might_contain` into the physical plan.
    */
  def joinBloom(s: SparkSession, dir: String): DataFrame =
    SessionScope.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") { d =>
      val o = t(d, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(d, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"),
          count(lit(1)).as("n"))
        .localCheckpoint(true)
        .orderBy(col("l_returnflag"))
    }

  /** E63: dynamic partition pruning — the fact side is the Hive-
    * partitioned orders copy (E33's layout) but, unlike E33, the year
    * predicate lives ONLY on the dim side of a join: Catalyst's
    * PartitionPruning rule injects a runtime
    * `dynamicpruningexpression` partition filter on `o_year`, built by
    * reusing the dim's broadcast, so only the matching year
    * directories are ever listed or read even though the fact query
    * text carries no year literal. This is the star-schema
    * complement to static pruning — at 100 TB a fact-to-date-dim join
    * touches the partitions the dim filter selects instead of all of
    * them. The spec pins the pruning expression in the scan's
    * partition filters and that the scan reads exactly the two
    * matching partitions.
    */
  def joinDpp(s: SparkSession, dir: String): DataFrame = {
    // The dim is built over `range` rather than a LocalRelation: a
    // Filter over a LocalRelation is constant-folded away by
    // ConvertToLocalRelation, and PartitionPruning only fires when a
    // selective Filter survives on the dim side (as it does for any
    // file-backed date dimension).
    val dim = s.range(1992, 1999)
      .select(col("id").cast("int").as("y_year"),
        when(col("id").between(1995, 1996), lit("target"))
          .otherwise(lit("other")).as("y_class"))
    partitionedOrders(s, dir)
      .join(broadcast(dim.filter(col("y_class") === "target")),
        col("o_year") === col("y_year"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(Queries.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_year"))
  }

  /** E64: AQE runtime skew-join mitigation — the same
    * dim-too-big-to-broadcast skewed join as E10b but with NO manual
    * salt: adaptive execution observes the actual post-shuffle
    * partition sizes at runtime and splits the oversized ones into
    * sub-partitions (replicating the matching build rows), which is
    * exactly what hand-salting does — except decided from measured
    * sizes, not guessed factors. E10b remains the deterministic
    * fallback for pathological keys; this entry is the
    * runtime-re-optimization surface. Skew thresholds are lowered so
    * the split fires on test-scale data (at 100 TB the defaults fire
    * on their own); they are set on the join's own derived session
    * ([[skewAqeConfs]]). The spec pins `skew=true` sub-partitioning in
    * the executed adaptive plan.
    */
  def joinSkewAqe(s: SparkSession, dir: String): DataFrame =
    skewAqeConfs(s)(skewAqeJoin(_, dir).orderBy(col("flag")))

  /** The E64 join shape, pre-aggregation ordering left to the caller. */
  def skewAqeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("A", 5L), ("N", 10L), ("R", 3L)).toDF("flag", "weight")
    // AQE splits a skewed reduce partition along map-output boundaries,
    // so a split needs >1 map task feeding the join shuffle. A 100 TB
    // scan has thousands; the single-file test fixture has one, so
    // spread the scan over 8 map tasks first to make the fixture
    // splittable the same way the real table is.
    t(s, dir, "lineitem").repartition(8)
      .join(dim.hint("merge"), col("l_returnflag") === col("flag"))
      .groupBy(col("flag"))
      .agg((sum(Queries.cents(col("l_quantity")) * col("weight")) / 100.0)
        .as("weighted_qty"),
        count(lit(1)).as("n"))
  }

  /** Run `body` on a session derived from `s` with AQE skew-split
    * thresholds lowered to fire at test scale. */
  def skewAqeConfs[A](s: SparkSession)(body: SparkSession => A): A =
    SessionScope.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      // thresholds sized to the compressed shuffle blocks of the
      // smallest test fixture (sf0.001 hot partitions ≈ 2-4 KB); the
      // split fan-out stays bounded by the 8 map tasks above
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "512b",
      // splitting the join's partitions invalidates the downstream
      // groupBy's reuse of that partitioning (an extra shuffle), which
      // makes AQE decline the split by default; at real scale the
      // skew savings dwarf the re-shuffle, so force the trade here
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")(body)

  /** E12: exact distinct counts (shuffle-dedup partial aggregation). */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** E12b: approximate percentiles (Spark's quantile sketch) — the
    * sketch companion to [[percentiles]]; no cross-engine oracle (the
    * sketch is engine-specific), rows-only check + spec pins each
    * estimate within the sketch's accuracy bound of the exact value.
    */
  def aggApproxPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 100)").as("ap50"),
        expr("approx_percentile(l_quantity, 0.95, 100)").as("ap95"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** E12: HLL++ approximate distinct — no exact oracle (rows-only check). */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_nd_part"))
      .orderBy(col("l_returnflag"))

  // E13 rollup/cube/grouping-sets run the same SQL text in Spark and
  // DuckDB (see Queries.sharedSql) — Expand-based plans in Spark.
  val rollupSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  val cubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** E13b: GROUPING() flags — the only reliable way to tell a subtotal
    * row from a real group whose value collides with the NULL
    * placeholder. Cast to INTEGER (Spark returns TINYINT, DuckDB
    * INTEGER); shared SQL text.
    */
  val groupingFlagsSql: String =
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
      |  CAST(GROUPING(lang) AS INTEGER) AS g_lang,
      |  CAST(GROUPING(source) AS INTEGER) AS g_source,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), ())
      |ORDER BY lang, source, g_lang, g_source""".stripMargin

  val groupingSetsSql: String =
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), ())
      |ORDER BY lang, source""".stripMargin

  /** E14: the geometric-mean UDAF ([[graft.functions.GeoMean]]) called
    * by name from SQL text, so `geo_mean` is registered on the entry's
    * derived session next to its `orders_udaf` view.
    */
  def udafGeomean(s: SparkSession, dir: String): DataFrame =
    SessionScope.withConf(s) { d =>
      d.udf.register("geo_mean", udaf(graft.functions.GeoMean))
      t(d, dir, "orders").createOrReplaceTempView("orders_udaf")
      d.sql(
        """SELECT o_orderstatus AS status, round(geo_mean(o_totalprice), 2) AS geo_price,
          |  count(*) AS n
          |FROM orders_udaf GROUP BY o_orderstatus ORDER BY status""".stripMargin)
    }

  /** E15: ranking window functions, deterministic tie-break. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("rk"), col("drk"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** E16: analytic lag/lead — days between consecutive orders. */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("next_key", coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)))
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(datediff(col("o_orderdate"), col("prev_date")), lit(-1)).as("gap_days"),
        col("next_key"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** E15b: distribution-ranking windows — ntile / percent_rank /
    * cume_dist. The window orders by exact integer cents with a unique
    * key tie-break, so bucket boundaries and rank rationals are
    * identical in both engines; percent_rank and cume_dist are exact
    * small-integer ratios, rounded 6dp only at output. Partitioned by
    * `o_orderpriority` (5 well-filled groups — no n=1 partitions where
    * percent_rank's 0/0 edge differs between engines).
    */
  def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(Queries.cents(col("o_totalprice")), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("nt4", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .filter(col("o_custkey") % 200 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"), col("nt4"),
        Queries.fround(col("pr"), 6).as("pct_rank"),
        Queries.fround(col("cd"), 6).as("cume"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** E11b: statistical aggregates — stddev, and correlation — computed
    * as closed forms over EXACT integer moments (sum, sum-of-squares,
    * cross-sum in cents), so the aggregate is order-independent and the
    * only float ops are the final closed-form expressions over
    * identical exact integers — bitwise-portable across engines.
    * (Spark's `stddev_samp`/`corr` built-ins use a distributed moments
    * merge whose float result depends on partition merge order; the
    * spec pins them against these closed forms within tolerance
    * instead.) The moments accumulate in DECIMAL(38,0) (the oracle uses
    * HUGEINT): per-row products fit BIGINT at any SF (cents ≤ 5e3), but
    * n·Σqc² passes 2⁶³ around sf1 group sizes and a BIGINT pipeline
    * would silently wrap — DECIMAL keeps the closed forms exact to
    * ~1e38 (≈ sf1e9), and the spec feeds wrap-inducing values to prove
    * it.
    */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    statsClosedForms(
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          Queries.cents(col("l_quantity")).as("qc"),
          Queries.cents(col("l_discount")).as("dc")))
      .withColumnRenamed("grp", "l_returnflag")

  /** Moments pipeline shared by [[aggStats]] and its overflow spec:
    * input rows `(grp, qc: LONG, dc: LONG)` → per-group n, Σqc, and the
    * stddev/corr closed forms over DECIMAL(38,0) moments.
    */
  def statsClosedForms(in: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val m = in.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("qc")).as("sum_qc"),
        sum((col("qc") * col("qc")).cast(dec)).as("sum_qc2"),
        sum(col("dc")).as("sum_dc"),
        sum((col("dc") * col("dc")).cast(dec)).as("sum_dc2"),
        sum((col("qc") * col("dc")).cast(dec)).as("sum_qd"))
    val nD = m("n").cast(dec)
    val aq = (nD * m("sum_qc2") - m("sum_qc").cast(dec) * m("sum_qc").cast(dec)).cast("double")
    val ad = (nD * m("sum_dc2") - m("sum_dc").cast(dec) * m("sum_dc").cast(dec)).cast("double")
    m.select(col("grp"), col("n"), col("sum_qc"),
        Queries.fround(sqrt(aq / (m("n") * (m("n") - lit(1.0)))), 6).as("stddev_qty_cents"),
        Queries.fround(sqrt(ad / (m("n") * (m("n") - lit(1.0)))), 6).as("stddev_disc_cents"),
        Queries.fround(
          (nD * m("sum_qd") - m("sum_qc").cast(dec) * m("sum_dc").cast(dec)).cast("double") /
            (sqrt(aq) * sqrt(ad)), 6).as("corr_qd"))
      .orderBy(col("grp"))
  }

  /** E14b: top-k per key via the bounded-memory [[graft.functions.TopKAgg]]
    * aggregate — each customer's 3 priciest orders WITHOUT the window
    * `row_number() <= 3` idiom: the window shuffles and sorts every
    * order row; this aggregate's map-side partial state is ≤ 3 pairs
    * per customer per partition, so the shuffle carries k rows per key
    * instead of the table. The oracle pins it against the window form.
    */
  def topkPerKey(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.GraftFunctions.topK(3)(
        floor(col("o_totalprice") * 100 + 0.5).cast("long"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rnk"),
        col("col._2").as("o_orderkey"), col("col._1").as("price_cents"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** E16b: boundary analytics — first_value / last_value / nth_value
    * over the full-partition frame (UNBOUNDED PRECEDING..UNBOUNDED
    * FOLLOWING — last/nth are frame-dependent; the default running
    * frame would make them row-relative). nth_value(,2) is null for
    * single-order customers → coalesced to -1 (nullable sort/hash keys
    * are a cross-engine trap).
    */
  def windowFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .withColumn("first_key", first(col("o_orderkey")).over(w))
      .withColumn("last_key", last(col("o_orderkey")).over(w))
      .withColumn("second_key", coalesce(nth_value(col("o_orderkey"), 2).over(w), lit(-1L)))
      .select(col("o_custkey"), col("o_orderkey"),
        col("first_key"), col("last_key"), col("second_key"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** E30b: correlated scalar subquery — per-customer order count as a
    * subquery expression. Catalyst decorrelates it into ONE left outer
    * join + aggregate (not a per-row re-execution), which is the only
    * shape that survives a 100 TB outer table; shared SQL text.
    */
  val subqueryCorrSql: String =
    """SELECT c_custkey, c_name, n_orders FROM (
      |  SELECT c_custkey, c_name,
      |    (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |  FROM customer) t
      |WHERE c_custkey % 100 = 0
      |ORDER BY c_custkey""".stripMargin

  /** E11c: FILTER-clause aggregates — per-group conditional aggregation
    * without CASE scaffolding; one hash aggregate, each accumulator
    * guarded by its predicate. Shared SQL text.
    */
  val aggFilterSql: String =
    """SELECT l_returnflag,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |    FILTER (WHERE l_discount > 0.05) AS BIGINT) AS disc_rev_cents,
      |  max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |    FILTER (WHERE l_tax > 0.04) AS max_taxed_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** E37: LATERAL correlated subquery in FROM — per-customer top-2
    * orders via a lateral ORDER BY/LIMIT. Catalyst rewrites the
    * correlated lateral into a domain join + per-key window limit (no
    * per-row re-execution); shared SQL text (DuckDB executes the same
    * LATERAL natively).
    */
  val lateralSql: String =
    """SELECT c_custkey, o_orderkey, price_cents FROM customer,
      |LATERAL (SELECT o_orderkey,
      |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |         FROM orders WHERE o_custkey = c_custkey
      |         ORDER BY price_cents DESC, o_orderkey LIMIT 2) t
      |WHERE c_custkey % 100 = 0
      |ORDER BY c_custkey, price_cents DESC, o_orderkey""".stripMargin

  /** E36: TABLESAMPLE — Bernoulli row sampling, seed-pinned. The sample
    * membership is engine-specific (rows-only check); the spec pins
    * seed-determinism and the fraction tolerance. One scan, no shuffle:
    * the sampling a 100 TB profiling query starts with.
    */
  def tableSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .sample(withReplacement = false, 0.1, seed = 42L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(Queries.cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("l_returnflag"))

  /** E17: frame-spec aggregates — running sum + moving average. */
  def windowFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .withColumn("moving_avg3",
        Queries.half2(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0))))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"), col("moving_avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** E17b: RANGE-frame window aggregate (value-bounded frame, distinct
    * from the ROWS frames of [[windowFrame]]): per customer, the sum of
    * orders priced within $10k below the current order. Shared SQL —
    * integer-cent arithmetic keeps the frame boundary exact in both
    * engines, and RANGE tie semantics (all peers included) agree.
    */
  val windowRangeSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |    RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS nearby_cents
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** E18: UNION ALL then aggregate over the union. */
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(lit("cust").as("src"), col("c_nationkey").cast("int").as("nationkey"))
    val sup = t(s, dir, "supplier").select(lit("supp").as("src"), col("s_nationkey").cast("int").as("nationkey"))
    c.union(sup)
      .groupBy(col("src"), col("nationkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("src"), col("nationkey"))
  }

  /** E19: INTERSECT — nations having both customers and suppliers. */
  def intersectKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy(col("nationkey"))

  /** E19: EXCEPT — nations with customers but no suppliers. */
  def exceptKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy(col("nationkey"))

  /** E19b: INTERSECT ALL — multiset intersection (min of each side's
    * multiplicity per key), re-aggregated for deterministic output.
    */
  def intersectAllKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .intersectAll(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"))

  /** E19b: EXCEPT ALL — multiset difference (left count − right count,
    * floored at zero, per key).
    */
  def exceptAllKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .exceptAll(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"))

  /** E28: pivot — long→wide conditional aggregation. Pivot values are
    * declared explicitly, so there is no distinct-value discovery job
    * and the plan is a single hash aggregate with conditional sums —
    * the only pivot shape that survives at scale (an unbounded value
    * set would both need a collect and produce an unbounded schema).
    */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(Queries.cents(col("l_quantity"))))
      .withColumnRenamed("F", "qty_cents_f")
      .withColumnRenamed("O", "qty_cents_o")
      .orderBy(col("l_returnflag"))

  /** E29: unpivot/melt — wide→long, the inverse of [[pivotAgg]]: a pure
    * Expand projection over the source aggregate, no extra shuffle.
    */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(Queries.cents(col("c_acctbal"))).as("bal_cents"))
      .unpivot(Array(col("nationkey")), Array(col("n_cust"), col("bal_cents")),
        "metric", "value")
      .orderBy(col("nationkey"), col("metric"))

  /** E30: scalar + IN subqueries, shared SQL text. Catalyst rewrites the
    * uncorrelated scalar subquery to a one-row broadcast and the IN to a
    * left-semi join — both scale-safe (no per-row re-execution).
    * Money is compared in exact integer cents so the threshold cannot
    * sit on a float rounding boundary.
    */
  val subquerySql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |FROM orders
      |WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 >
      |    (SELECT max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) FROM orders)
      |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  /** E32: bucketed co-located join. Both sides are written bucketed by
    * the join key (`bucketBy(8, key)` + `sortBy`), so the sort-merge
    * join reads bucket i of each table on the same task and needs NO
    * shuffle exchange — at 100 TB this converts the two largest-table
    * join from a full-network shuffle into a local merge, paid once at
    * write time and amortized over every subsequent join on that key.
    * The spec pins the plan (zero ShuffleExchange under the join); the
    * oracle pins values (identical to the plain join).
    */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = bucketedTables(s, dir)
    li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucketed lineitem/orders table pair, written once per session and
    * corpus (the "paid at write time" half of the bucketing contract).
    * `repartition(8, key)` aligns write tasks with the bucket hash, so
    * each bucket is a single file and the per-file `sortBy` order is a
    * true per-bucket order. The catalog tables are named after the
    * staged directory, so two holders never share a table.
    */
  def bucketedTables(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def name(loc: String, table: String) = s"${new java.io.File(loc).getName}_$table"
    val loc = SessionMemo.path(s, dir, "bucketed") { loc =>
      Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey").foreach { case (table, key) =>
        t(s, dir, table).repartition(8, col(key))
          .write.option("path", s"$loc/$table")
          .bucketBy(8, key).sortBy(key)
          .saveAsTable(name(loc, table))
      }
    }
    (s.table(name(loc, "lineitem")), s.table(name(loc, "orders")))
  }

  /** E33: partition-pruned scan. Orders are written Hive-partitioned by
    * year (`partitionBy("o_year")`) once per session and corpus; the year
    * predicate then prunes at PLANNING time — non-matching partition
    * directories are never listed, opened, or read (spec asserts the
    * scan's partition count). At 100 TB this is the first-line data
    * layout: time-partitioned fact tables make every time-bounded query
    * touch only its slice.
    */
  def partitionedScan(s: SparkSession, dir: String): DataFrame =
    partitionedOrders(s, dir)
      .filter(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(Queries.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_orderpriority"))

  /** Year-partitioned copy of orders, written once per session and corpus. */
  def partitionedOrders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(SessionMemo.path(s, dir, "part_orders")(
      t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(_)))

  /** E35 layout half: lineitem written clustered by the Z-order curve
    * over (l_partkey, l_suppkey), small row groups so the sf0.01 file
    * has many of them. Because the sort key interleaves both columns'
    * bits, each row group's (partkey, suppkey) bounding box is tight in
    * BOTH dimensions — a range predicate on EITHER column skips row
    * groups, where a single-column sort only ever skips on its leading
    * key. This is the standard multi-dimension clustering layout for
    * 100 TB fact tables with more than one selective access path; the
    * spec measures the skip counts on both layouts.
    */
  def zorderedLineitem(s: SparkSession, dir: String): String =
    SessionMemo.path(s, dir, "zorder_li") { loc =>
      // the build must PARALLELIZE at scale: a fixed repartition(1)
      // is a one-core global sort — the r9 sf1 registry artifact
      // measured it at 17.6 s for 6M rows (45× the sf0.1 wall, the
      // one undeclared superlinear entry). Range-partition ON THE
      // Z-ADDRESS instead: global clustering is preserved (file k's
      // z-range precedes file k+1's, so every file still has tight
      // per-row-group (partkey, suppkey) boxes — skipping works per
      // file), the sort and the write fan out, and small corpora
      // (< ~1M rows) keep the single-file layout the specs measure.
      val rows = t(s, dir, "lineitem").count()
      val files = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong, rows / 1000000L)).toInt
      val z = t(s, dir, "lineitem")
        .withColumn("z", graft.functions.GraftFunctions.zorder2(
          pmod(col("l_partkey"), lit(1024L)), pmod(col("l_suppkey"), lit(1024L))))
      (if (files == 1) z.repartition(1) else z.repartitionByRange(files, col("z")))
        .sortWithinPartitions(col("z"))
        .drop("z")
        .write
        .option("parquet.block.size", 128 * 1024)
        .parquet(loc)
    }

  /** E35 query half: a SECOND-key lookup over the Z-ordered layout —
    * a selective l_suppkey range over data clustered by the interleaved
    * (partkey, suppkey) code. A single-column partkey sort gives this
    * predicate nothing (suppkey min/max spans everything in every row
    * group); the Z-layout's axis-aligned row-group boxes let parquet
    * skip most of the file (ZOrderSpec measures the skip counts; this
    * query + its oracle pin the answer, and the bench times it on the
    * sf0.1 layout). The values are layout-independent, so the oracle
    * runs the same predicate over the plain lineitem table.
    */
  def zorderLookup(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(zorderedLineitem(s, dir))
      .filter(col("l_suppkey") >= 5 && col("l_suppkey") < 8)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"))
      .orderBy(col("l_suppkey"))

  /** Comparison layout for the Z-order spec: same data, same row-group
    * sizing, sorted by l_partkey alone.
    */
  def partkeySortedLineitem(s: SparkSession, dir: String): String =
    SessionMemo.path(s, dir, "pksort_li")(
      t(s, dir, "lineitem")
        .repartition(1)
        .sortWithinPartitions(col("l_partkey"))
        .write
        .option("parquet.block.size", 128 * 1024)
        .parquet(_))

  /** E31: exact percentiles (sort-based, per group). Probe points
    * 0.25/0.5/0.75 over the integer-valued quantity column interpolate
    * on quarter-integers — exact in binary, so Spark's `percentile` and
    * DuckDB's `quantile_cont` agree bitwise.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.50)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** E40: linear-regression aggregates (slope / intercept / R²) as
    * closed forms over EXACT integer moments — the [[aggStats]]
    * discipline extended to the bivariate family: per-row products fit
    * BIGINT (cents), moment sums accumulate in DECIMAL(38,0) (oracle:
    * HUGEINT) so n·Σy² cannot wrap at any realistic SF, and the only
    * float ops are the final closed-form expressions over identical
    * exact integers. The squared-numerator in R² is computed in DOUBLE
    * (decimal² would overflow 38 digits) — same cast point in both
    * engines, so bitwise-portable.
    */
  def aggRegr(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        Queries.cents(col("l_quantity")).as("x"),
        Queries.cents(col("l_extendedprice")).as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
    val nD = m("n").cast(dec)
    val num  = (nD * m("sxy") - m("sx").cast(dec) * m("sy").cast(dec)).cast("double")
    val denx = (nD * m("sxx") - m("sx").cast(dec) * m("sx").cast(dec)).cast("double")
    val deny = (nD * m("syy") - m("sy").cast(dec) * m("sy").cast(dec)).cast("double")
    val slope = num / denx
    m.select(col("l_returnflag"), col("n"),
        Queries.fround(slope, 6).as("slope"),
        Queries.fround((m("sy") - slope * m("sx")) / m("n"), 6).as("intercept"),
        Queries.fround(num * num / (denx * deny), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** E41: ordered string aggregation (LISTAGG) — group members rendered
    * as one delimited string. Spark has no ORDER BY clause inside
    * aggregates, so determinism comes from `array_sort` over the
    * collected list; safe ONLY for bounded groups (here: ≤ 25 nations
    * per region — a dimension rollup, never a fact-table group, where
    * an unbounded collect_list is the classic OOM).
    */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("n_regionkey"))

  /** E42: time-series gap fill — a generated hourly date spine (from a
    * 1-row bounds aggregate, `sequence` + explode: no driver round-trip)
    * cross-joined with the broadcast type dimension, left-joined against
    * the actual hourly counts, missing hours zero-filled. The spine side
    * is tiny by construction (hours × types), so the only fact-sized
    * work is the one hourly aggregation — the standard shape for
    * "complete" time series over sparse 100 TB event data. Hours render
    * as epoch seconds (raw timestamps are a cross-engine trap).
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val spine = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = ev.select(col("event_type")).distinct()
    spine.crossJoin(broadcast(types))
      .join(hourly, Seq("h", "event_type"), "left")
      .select(unix_timestamp(col("h")).as("hour_epoch"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("n_events"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  /** E43: IGNORE NULLS analytics — forward fill (last-observation-
    * carried-forward) of a sparse per-user signal: `last(_, ignoreNulls)`
    * over the running frame. One window pass, no self-join; the
    * filled value is a pure copy of an input double (no arithmetic), so
    * cross-engine bitwise equality holds without rounding. The user
    * filter sits on the window's own partition key, so it pushes to the
    * scan without changing any frame's contents.
    */
  def forwardFill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .filter(col("user_id") % 50 === 0)
      .withColumn("signal", when(col("event_id") % 7 === 0, col("value")))
      .withColumn("filled",
        coalesce(last(col("signal"), ignoreNulls = true).over(w), lit(-1.0)))
      .select(col("event_id"), col("user_id"), col("filled"))
      .orderBy(col("event_id"))
  }

  /** E44: batch MERGE / upsert — apply a keyed change set to a base
    * table with the three MERGE verbs in one full-outer hash join:
    * matched → update (balance + delta), unmatched-by-source → keep,
    * unmatched-by-target → insert. The change set synthesizes some keys
    * outside the base key space (every 10th customer shifted by 1e6) so
    * all three verbs actually fire. Exact integer cents throughout.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), Queries.cents(col("c_acctbal")).as("bal_cents"))
    val changes = t(s, dir, "orders")
      .filter(col("o_orderkey") % 3 === 0)
      .groupBy(when(col("o_custkey") % 10 === 7, col("o_custkey") + 1000000)
        .otherwise(col("o_custkey")).as("k"))
      .agg(sum(Queries.cents(col("o_totalprice"))).as("delta_cents"))
    base.join(changes, Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("bal_cents"), lit(0L)) +
          coalesce(col("delta_cents"), lit(0L))).as("new_bal_cents"),
        when(col("bal_cents").isNull, lit("insert"))
          .when(col("delta_cents").isNull, lit("keep"))
          .otherwise(lit("update")).as("action"))
      .orderBy(col("k"))
  }

  /** E45: bit / boolean aggregates — `bool_and`/`bool_or` predicates
    * and `bit_and`/`bit_or`/`bit_xor` over keys per group; all exact
    * integer/boolean lattice operations (commutative, associative), so
    * partial aggregation applies and results are order-independent.
    */
  def aggBitBool(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
        bit_and(col("o_custkey")).as("custkey_and"),
        bit_or(col("o_custkey")).as("custkey_or"),
        bit_xor(col("o_custkey")).as("custkey_xor"))
      .orderBy(col("o_orderpriority"))

  /** E47: range-partitioned global sort (the output-sharding layout) —
    * `repartitionByRange` + `sortWithinPartitions` is how a 100 TB
    * result is written as k non-overlapping, internally-sorted shards
    * (a global `orderBy` funnels through the same range exchange; this
    * form makes the shard count explicit). The reported per-shard
    * (min, max, count) digest demonstrates the contract; boundaries
    * come from Spark's reservoir sampling → rows-only correctness, the
    * spec pins non-overlap, full coverage, and balance.
    */
  def rangeShard(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .groupBy(spark_partition_id().as("shard_id"))
      .agg(count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_k"), max(col("l_orderkey")).as("max_k"))
      .orderBy(col("shard_id"))

  /** E48: batch sessionization (gaps-and-islands) — assign session ids
    * by the classic two-window pass: `lag` flags a session break when
    * the gap to the previous event exceeds 30 minutes, a running sum of
    * the flags numbers the sessions, then one aggregate rolls up
    * per-session stats. Two window functions over the SAME
    * (user, time)-ordering → ONE shuffle + one sort total; the batch
    * analogue of the S2 streaming `session_window`. Milliseconds as
    * exact integers (epoch millis) — no timestamp rendering, no float
    * gap math.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val ev = t(s, dir, "events")
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(order))
      .withColumn("brk",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("brk")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** E49: percent-of-total (ratio-to-report) — per-group share of the
    * grand total via an unpartitioned window OVER THE AGGREGATE, not
    * the table: the fact table reduces to K group rows first, so the
    * "global" window touches K rows at any corpus size (the
    * window-before-aggregate version is the single-partition trap).
    * Shares in integer ppm over DECIMAL(38,0) cents — exact at any SF,
    * no float division.
    */
  def percentOfTotal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(Queries.cents(col("l_extendedprice"))).as("rev_cents"))
      .withColumn("share_ppm",
        expr("""CAST((CAST(rev_cents AS DECIMAL(38,0)) * 1000000) DIV
               (sum(CAST(rev_cents AS DECIMAL(38,0))) OVER ()) AS BIGINT)"""))
      .orderBy(col("l_returnflag"))

  /** E50: typed Dataset cogroup — the `Dataset[T]`/`Encoder` surface:
    * two keyed datasets cogrouped with arbitrary per-key Scala logic
    * (here: reconcile each order's header price against its line items
    * in one pass over both iterators). The honest trade-off, stated:
    * cogroup shuffles BOTH sides with no partial aggregation, so it is
    * reserved for genuinely imperative merges that `join`+`agg` cannot
    * express — when the logic IS expressible relationally (as this
    * reconciliation is, which is what makes it oracle-checkable), the
    * declarative form is the scale path. Key filters applied BEFORE
    * `groupByKey` so they push to the parquet scans.
    */
  def typedCogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)]
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_extendedprice")).as[(Long, Double)]
    orders.groupByKey(_._1).cogroup(items.groupByKey(_._1)) { (k, os, is) =>
      val heads = os.map(o => math.floor(o._2 * 100 + 0.5).toLong).toSeq
      if (heads.isEmpty) Iterator.empty // item with no order header: drop
      else {
        var n = 0L; var cents = 0L
        is.foreach { i => n += 1; cents += math.floor(i._2 * 100 + 0.5).toLong }
        Iterator((k, heads.head, n, cents))
      }
    }.toDF("o_orderkey", "order_cents", "n_items", "items_cents")
      .orderBy(col("o_orderkey"))
  }

  /** E18b: schema-drift union — `unionByName(allowMissingColumns)`
    * aligns frames by COLUMN NAME and null-fills the gaps, the
    * column-level companion to E38's file-level mergeSchema read: the
    * shape for unioning epochs of a pipeline whose schema grew.
    * Positional `union` would silently misalign here — the old epoch
    * lacks the priority column entirely. Missing values surface as a
    * countable sentinel group.
    */
  def unionByNameDrift(s: SparkSession, dir: String): DataFrame = {
    val legacy = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) <= 1996)
      .select(col("o_orderkey"), Queries.cents(col("o_totalprice")).as("price_cents"))
    val current = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) >= 1997)
      .select(col("o_orderkey"), Queries.cents(col("o_totalprice")).as("price_cents"),
        col("o_orderpriority"))
    legacy.unionByName(current, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("prio"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("total_cents"))
      .orderBy(col("prio"))
  }

  /** E52: key-skew diagnosis — the distribution shape that decides the
    * join strategy at 100 TB: per-key row counts reduced to max / avg /
    * skew factor and the p99 key weight. Two cheap aggregations (the
    * second over the key-count frame, already small); skew_x1000 as
    * exact integer per-mille so the oracle compare is bitwise. This is
    * the measurement behind the E10b salting decision.
    */
  def skewStats(s: SparkSession, dir: String): DataFrame = {
    val perKey = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    perKey.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"),
        expr("percentile(n, 0.99)").as("p99_key_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"), col("p99_key_rows"),
        expr("CAST((max_key_rows * 1000 * n_keys) DIV n_rows AS BIGINT)")
          .as("skew_x1000"))
  }

  /** E51: re-aggregatable distinct-count sketches — DataSketches HLL
    * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`): the
    * per-group sketch is a mergeable state, so a 100 TB rollup computes
    * distinct users per type ONCE and every coarser grain (here: the
    * ALL row) merges sketches instead of rescanning the fact table —
    * the property exact count-distinct fundamentally lacks. Sketch
    * estimates are engine-specific → rows-only; the spec bounds the
    * estimates against the exact counts carried alongside.
    */
  def sketchUnion(s: SparkSession, dir: String): DataFrame = {
    val sk = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
    val per = sk.select(col("event_type"),
      expr("hll_sketch_estimate(sk)").as("est_users"), col("exact_users"))
    val exactAll = t(s, dir, "events")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val all = sk.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      .crossJoin(broadcast(exactAll))
      .select(lit("ALL").as("event_type"), col("est_users"), col("exact_users"))
    per.union(all).orderBy(col("event_type"))
  }

  /** E59: linear interpolation of series gaps — the time-series repair
    * step after densification (E42 gap fill): for each missing hour,
    * the last and next observed values bracket it via
    * `last/first(_, ignoreNulls)` over one (series, time) ordering —
    * four window columns, ONE sort, no self-join (the naive form joins
    * the series to itself twice on inequality predicates). Boundary
    * gaps clamp to the nearest observation. The arithmetic is the same
    * IEEE double expression on integer operands in both engines, so
    * the oracle compare is exact with no rounding.
    */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val spine = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val grid = spine.crossJoin(broadcast(ev.select(col("event_type")).distinct()))
      .join(hourly, Seq("h", "event_type"), "left")
      .select(unix_timestamp(col("h")).as("hour_epoch"), col("event_type"), col("c"))
    val back = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("prev_c", last(col("c"), ignoreNulls = true).over(back))
      .withColumn("prev_h",
        last(when(col("c").isNotNull, col("hour_epoch")), ignoreNulls = true).over(back))
      .withColumn("next_c", first(col("c"), ignoreNulls = true).over(fwd))
      .withColumn("next_h",
        first(when(col("c").isNotNull, col("hour_epoch")), ignoreNulls = true).over(fwd))
      .select(col("hour_epoch"), col("event_type"),
        when(col("c").isNotNull, col("c").cast("double"))
          .when(col("prev_c").isNull, col("next_c").cast("double"))
          .when(col("next_c").isNull, col("prev_c").cast("double"))
          .otherwise(col("prev_c").cast("double") +
            (col("next_c").cast("double") - col("prev_c").cast("double")) *
              (col("hour_epoch").cast("double") - col("prev_h").cast("double")) /
              (col("next_h").cast("double") - col("prev_h").cast("double")))
          .as("v_interp"),
        col("c").isNull.as("was_gap"))
      .orderBy(col("event_type"), col("hour_epoch"))
  }

  /** E60: running count-distinct — not natively windowable in either
    * engine (distinct state per frame would be O(n) per row); the
    * scalable form marks each key's FIRST occurrence with a per-(group,
    * key) row_number, then running-sums the 0/1 markers over time. Two
    * windows, both partition-parallel; state per row is one bit, not a
    * set — the same first-occurrence trick a streaming distinct-count
    * uses. Output sampled by event_id to keep the frame bounded.
    */
  def windowDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("unix_millis(ts)").as("ms"))
    val firstW = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val runW = Window.partitionBy(col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    ev.withColumn("is_first", (row_number().over(firstW) === 1).cast("long"))
      .withColumn("distinct_users_so_far", sum(col("is_first")).over(runW))
      .filter(col("event_id") % 100 === 0)
      .select(col("event_type"), col("event_id"), col("ms"),
        col("distinct_users_so_far"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** E61: three-valued-logic surface — nullif/coalesce/null-safe
    * equality in one auditable frame: `<=>` (Spark) and `IS NOT
    * DISTINCT FROM` (DuckDB oracle) are the engine-portable pair, and
    * conditional counts pin that NULL comparisons inside aggregates
    * drop rows while null-safe ones don't. All per-row expressions —
    * codegen'd, pushdown-friendly, no shuffle beyond the final
    * aggregation.
    */
  def nullSemantics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderstatus"),
        expr("nullif(o_orderpriority, '3-MEDIUM')").as("prio_n"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("prio_n")).as("n_nonmedium"),
        count(when(col("prio_n").isNull, 1)).as("n_medium"),
        count(when(col("prio_n") === "1-URGENT", 1)).as("n_eq_urgent"),
        count(when(col("prio_n") <=> lit("1-URGENT"), 1)).as("n_nullsafe_urgent"),
        count(when(!(col("prio_n") <=> lit("1-URGENT")), 1)).as("n_nullsafe_not_urgent"),
        min(coalesce(col("prio_n"), lit("<none>"))).as("min_prio_filled"))
      .orderBy(col("o_orderstatus"))

  /** E58: small-file compaction — the table-maintenance operator that
    * keeps large directories scannable: stage a deliberately
    * over-fragmented copy (256 files for a ~60K-row table, the
    * streaming-sink pathology), then rewrite it with a byte-targeted
    * `repartitionByRange` + `sortWithinPartitions` on the access key.
    * The rewritten files are few, sorted, and range-disjoint — one
    * seek-friendly run per file instead of 256 footer reads per scan;
    * at 100 TB this is the difference between a listing-bound and an
    * IO-bound table. The digest row carries before/after file counts
    * and row conservation so the operator's effect IS the asserted
    * result; rows-only (file counts are layout, not SQL), spec-pinned.
    */
  def compactSmallFiles(s: SparkSession, dir: String): DataFrame = {
    val (fragDir, outDir) = compactionDirs(s, dir)
    def nFiles(p: String): Int = new java.io.File(p).list().count(_.endsWith(".parquet"))
    s.read.parquet(outDir).agg(count(lit(1)).as("n_rows_after"))
      .crossJoin(broadcast(
        s.read.parquet(fragDir).agg(count(lit(1)).as("n_rows_before"))))
      .select(
        lit(nFiles(fragDir)).as("n_files_before"),
        lit(nFiles(outDir)).as("n_files_after"),
        col("n_rows_before"), col("n_rows_after"))
  }

  /** The (fragmented, compacted) lineitem copies [[compactSmallFiles]]
    * compares, written once per session and corpus.
    */
  private[queries] def compactionDirs(s: SparkSession, dir: String): (String, String) = {
    val base = SessionMemo.path(s, dir, "compact") { base =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .repartition(256)
        .write.parquet(s"$base/frag")
      val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(s"$base/frag"))
      val target = math.max(1, math.ceil(bytes / (8.0 * 1024 * 1024)).toInt)
      s.read.parquet(s"$base/frag")
        .repartitionByRange(target, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .write.parquet(s"$base/compact")
    }
    (s"$base/frag", s"$base/compact")
  }

  /** E55: SCD type-2 build — change-data capture to validity intervals:
    * detect attribute changes per key with lag(), then close each
    * changed row's interval with lead(). Both windows share one
    * (partition, order), so the plan carries ONE exchange; the second
    * window re-sorts the already-partitioned (and filtered) rows
    * without reshuffling. The far-future sentinel keeps valid_to
    * non-null (portable sort keys, closed intervals downstream). This
    * is the warehouse dimension build; over the full history it is
    * also the backfill path.
    */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    // 9999-12-31T23:59:59.999Z epoch millis — the conventional open-row
    // sentinel; stays castable to TimestampType (the prior value was one
    // ms past year 9999 and overflowed engines with a year-9999 cap)
    val sentinel = 253402300799999L
    val ev = t(s, dir, "events")
      .filter(col("user_id") % 50 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_ms", coalesce(lead(col("ms"), 1).over(w), lit(sentinel)))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"),
        (col("valid_to_ms") === sentinel).as("is_current"))
      .orderBy(col("user_id"), col("valid_from_ms"), col("event_id"))
  }

  /** E56: as-of NEAREST temporal join — each click aligned to its
    * closest purchase in either direction, WITHOUT a join: union the
    * two streams, one window pass carrying the last purchase time
    * forward (ties sort the purchase first, so a same-instant purchase
    * counts at gap 0) and one carrying the next purchase time backward,
    * then `least` of the two gaps. Linear in |events| with a single
    * exchange — the per-user click×purchase join the oracle runs (and
    * that a naive implementation would ship) is quadratic in the hot
    * user's history. min-of-abs-gap output keeps the result tie-free.
    */
  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"),
        expr("unix_millis(ts)").as("ms"),
        (col("event_type") === "click").cast("int").as("is_click"))
      .withColumn("pms", when(col("is_click") === 0, col("ms")))
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("is_click"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").desc, col("is_click"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_pms", last(col("pms"), ignoreNulls = true).over(fwd))
      .withColumn("next_pms", last(col("pms"), ignoreNulls = true).over(bwd))
      .filter(col("is_click") === 1)
      .select(col("event_id"), col("user_id"), col("ms").as("click_ms"),
        least(col("ms") - col("prev_pms"), col("next_pms") - col("ms"))
          .as("nearest_gap_ms"))
      .orderBy(col("event_id"))
  }

  /** E57: recursive CTE (`WITH RECURSIVE` → `UnionLoop`) — a linked-list
    * walk over each customer's order chain: anchor = first order,
    * recursive step joins the successor by position, aggregating chain
    * depth at the end. This full text is the DuckDB ORACLE and the
    * in-tree equality witness; recursion is the one relational shape
    * the DataFrame API cannot express (bounded iteration lives in
    * driver loops elsewhere, e.g. minLabelPropagate); per-iteration
    * work here is an equi-join on (cust, position), each row visited
    * exactly once across the whole loop.
    *
    * The SHIPPED Spark form is [[recursiveChainFast]]: Spark INLINES
    * non-recursive CTEs (it has no CTE-materialization operator), so
    * running this text verbatim re-executed the full orders scan +
    * row_number window sort on EVERY UnionLoop iteration — 27
    * iterations × 1.58 s at sf1 (ROUND13_NOTES.md item 6). QueriesRelSpec
    * pins fast == this text row-for-row, so the oracle is untouched.
    */
  val recursiveChainSql: String =
    """WITH RECURSIVE nxt AS (
      |  SELECT o_custkey AS cust, o_orderkey AS k,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders),
      |chain AS (
      |  SELECT cust, k, rn, 1 AS depth FROM nxt WHERE rn = 1
      |  UNION ALL
      |  SELECT n.cust, n.k, n.rn, c.depth + 1
      |  FROM chain c JOIN nxt n ON n.cust = c.cust AND n.rn = c.rn + 1)
      |SELECT depth, count(*) AS n_orders, CAST(sum(k) AS BIGINT) AS sum_keys
      |FROM chain GROUP BY depth ORDER BY depth""".stripMargin

  /** The shipped E57 driver (r12 verdict item 6 — q_recursive was the
    * sf1 mirror's #2 entry at 42 s, flat for two rounds): the SAME
    * recursion, two loop-invariant costs hoisted out of the UnionLoop.
    *
    *  1. `nxt` (orders scan + per-customer row_number sort) is
    *     PRE-MATERIALIZED once — eager localCheckpoint registered as a
    *     temp view — instead of re-executed per iteration by CTE
    *     inlining: 42.7 → 25.8 s at sf1.
    *  2. the recursive step BROADCASTS the frontier (`/*+ BROADCAST(c)
    *     */` on the recursive reference): the frontier is ≤ |customers|
    *     rows and shrinks every iteration, while the probe side is the
    *     full 1.5M-row `nxt` — without the hint every iteration paid a
    *     full shuffle of `nxt` just to meet a dwindling frontier:
    *     25.8 → 11.9 s at sf1 (ROUND13_NOTES.md item 6, min-of-2, 3.6× total).
    *
    * At 100 TB the same two moves are the difference between an
    * O(depth × table-shuffle) loop and O(depth × broadcast) over a
    * scan-once frame. Output-identical: the recursive text below is
    * recursiveChainSql's minus the hoisted CTE, the hint changes join
    * strategy only, and QueriesRelSpec pins fast == full text.
    */
  def recursiveChainFast(s: SparkSession, dir: String): DataFrame =
    SessionScope.withConf(s) { d =>
      // the `nxt` view lives on the derived session only
      t(d, dir, "orders")
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("k"),
          row_number().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"))
        .localCheckpoint()
        .createOrReplaceTempView("nxt")
      d.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT cust, k, rn, 1 AS depth FROM nxt WHERE rn = 1
          |  UNION ALL
          |  SELECT /*+ BROADCAST(c) */ n.cust, n.k, n.rn, c.depth + 1
          |  FROM chain c JOIN nxt n ON n.cust = c.cust AND n.rn = c.rn + 1)
          |SELECT depth, count(*) AS n_orders, CAST(sum(k) AS BIGINT) AS sum_keys
          |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    }

  /** E53: deterministic mode — the most frequent value per group via a
    * two-level aggregate: count per (group, value), then a row_number
    * over the per-group count frame with a value tie-break. Built-in
    * `mode()` leaves tie order implementation-defined in both Spark and
    * DuckDB; this form pins it, and it scales where collect-and-count
    * cannot: the first aggregation is the only pass over the table
    * (map-side combinable) and the window runs over |distinct values|
    * rows per group, not |rows|.
    */
  def modePerGroup(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("qty").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n").as("n_mode"))
      .orderBy(col("l_returnflag"))
  }

  /** E54: data-quality audit — the constraint checks a pipeline runs
    * before promoting a batch: PK uniqueness, FK orphans, null keys,
    * domain ranges, cross-table date ordering. One aggregation pass per
    * table plus ONE left join shared by both referential checks; each
    * check lands as a named row so audits diff across runs. Every check
    * is a map-side-combinable conditional count — nothing is collected,
    * no per-check rescan — and the 1-row check frames combine via
    * explicit broadcast, so the fact table is read exactly twice
    * (once alone, once under the join) regardless of how many checks
    * are added.
    */
  def dqAudit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val liRow = li.agg(
      count(lit(1)).as("lineitem_rows"),
      count(when(col("l_quantity") <= 0, 1)).as("lineitem_qty_nonpositive"),
      count(when(col("l_discount") < 0 || col("l_discount") > 1, 1))
        .as("lineitem_discount_range"))
    val oRow = o.agg(
      count(lit(1)).as("orders_rows"),
      count(when(col("o_custkey").isNull, 1)).as("orders_null_custkey"))
    val pkDup = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      .agg(count(when(col("n") > 1, 1)).as("orders_pk_dup"))
    val ref = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(when(col("o_orderkey").isNull, 1)).as("lineitem_fk_orphan"),
        count(when(col("l_shipdate") < col("o_orderdate"), 1))
          .as("lineitem_ship_before_order"))
    liRow.crossJoin(broadcast(oRow)).crossJoin(broadcast(pkDup))
      .crossJoin(broadcast(ref))
      .selectExpr("""stack(8,
        'lineitem_rows', lineitem_rows,
        'lineitem_qty_nonpositive', lineitem_qty_nonpositive,
        'lineitem_discount_range', lineitem_discount_range,
        'orders_rows', orders_rows,
        'orders_null_custkey', orders_null_custkey,
        'orders_pk_dup', orders_pk_dup,
        'lineitem_fk_orphan', lineitem_fk_orphan,
        'lineitem_ship_before_order', lineitem_ship_before_order) AS (check_name, n)""")
      .orderBy(col("check_name"))
  }

  /** E67: ordered funnel analysis — the product-analytics staple: how
    * many users progress view → click → purchase IN ORDER. Each stage's
    * entry time is the user's first qualifying event STRICTLY AFTER the
    * previous stage's entry (a click before the first view doesn't
    * count). Shape: one keyed aggregation for stage 1, then one
    * key-partitioned join + aggregation per stage — every step shuffles
    * on user_id only, so the funnel scales with users, and conditional
    * `min(CASE ...)` aggregates keep each step a single pass. Counts
    * are exact integers; timestamps compare as epoch millis.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ms"))).as("t1"))
      .filter(col("t1").isNotNull)
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t1"))
      .agg(min(when(col("event_type") === "click" && col("ms") > col("t1"),
        col("ms"))).as("t2"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t1"), col("t2"))
      .agg(min(when(col("event_type") === "purchase" && col("ms") > col("t2"),
        col("ms"))).as("t3"))
    s3.agg(
        count(lit(1)).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_full_funnel"),
        sum(when(col("t3").isNotNull, col("t3") - col("t1"))).as("sum_funnel_ms"))
  }

  /** E68: cohort retention — users grouped by first-activity week, each
    * cohort's surviving actives counted at every week offset (the
    * retention-curve matrix every growth dashboard draws). Two keyed
    * aggregations: first-seen per user, then distinct (cohort, offset,
    * user) → counts; both shuffle on bounded keys. Week arithmetic is
    * explicit epoch-day division (identical in both engines, no
    * WEEK() locale trap): week index = days-since-epoch DIV 7.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"),
        expr("(unix_millis(ts) div 86400000) div 7").as("week"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** E46: equi-width histogram — bucket index as explicit floor
    * arithmetic (`least(floor(v / w), n-1)`) rather than an
    * engine-specific `width_bucket`: the same double division and floor
    * in both engines, then an exact-integer groupBy. One scan, one
    * aggregation; the 20-bucket result is the fixed-size summary shape
    * that drives quality-score / length distribution dashboards at any
    * corpus size.
    */
  def histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(least(floor(col("o_totalprice") / 30000), lit(19)).cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
}
