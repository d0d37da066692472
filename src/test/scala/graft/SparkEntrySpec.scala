package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Guards on the driver contract itself: entry() smoke, map/oracle key
  * alignment, and per-query determinism (the hash gate assumes a query
  * returns identical values on every run).
  */
class SparkEntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("entry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // key-set checks go through Queries.oracleKeys, NOT SparkEntry.oracleSql:
  // the ANN oracle SQL is GENERATED (KMeans fit + corpus read) and key
  // consumers must not pay for — or fail on — generation (r8 advice)
  test("every oracle key has a queries entry") {
    val missing = graft.queries.Queries.oracleKeys -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  test("declared rows-only queries are the documented set") {
    val rowsOnly = SparkEntry.queries.keySet -- graft.queries.Queries.oracleKeys
    // the MinHash-LSH family (x_minhash_lsh + the four graph consumers)
    // left this set in r6: the kernel's switch to the portable
    // md5-derived shingle hash made the banding join DuckDB-expressible
    val expected = Set("q_agg_approx_distinct", "q_agg_approx_percentile",
      // x_ann_lsh left this set in r7 (integer-quantized plane weights
      // embedded in the oracle as literals); x_ann_ivf and x_ann_pq
      // left it in r8 the same way — the fitted centroids/codebooks are
      // quantized to micro-units and embedded in GENERATED oracle SQL,
      // so assignment/probing/ADC/refine are exact BIGINT arithmetic
      "x_multimodal_features",
      // pixel/sample payload transforms (inflate+unfilter+box filter)
      // are not SQL; MultimodalSpec pins decodes on hand-built vectors
      "x_multimodal_resize",
      // MP4 box synthesis + sample-table walk are not SQL;
      // MultimodalSpec pins golden boxes + truncation quarantine
      "x_multimodal_frames",
      // H.264 keyframe pixel decode (avcC + CAVLC entropy) is not SQL;
      // MultimodalSpec pins per-frame stats against the generator's
      // own YUV planes, H264CodecSpec pins the codec itself
      "x_multimodal_video",
      // whole-GOP decode (IDR + motion-compensated P frames) — same
      // reason; MultimodalSpec pins every frame's stats against the
      // encoder's reconstruction and the chain-poisoning accounting
      "x_multimodal_gop",
      "x_stratified_sample", "q_table_sample",
      // shard boundaries come from reservoir sampling (engine-specific);
      // QueriesRelSpec pins disjointness + coverage + balance
      "q_range_shard",
      // DataSketches HLL estimates are engine-specific; QueriesRelSpec
      // bounds them against the exact counts carried in the result
      "q_sketch_union",
      // freqItems is a one-sided counter sketch (false positives
      // allowed); TextPipelineSpec pins the superset guarantee
      "x_heavy_hitters",
      // file counts are physical layout, not SQL; QueriesRelSpec pins
      // compaction (fewer files, rows conserved, ranges disjoint)
      "x_compact_files")
    assert(rowsOnly == expected, s"rows-only drift: $rowsOnly")
  }

  test("registry-wide plan lint: global invariants over every EXECUTED plan") {
    // The engine pins plans per-query; this generalizes it so a future
    // round cannot silently regress one. Every registered query is
    // EXECUTED (noop sink) so AQE's FINAL plan is linted, then three
    // global invariants are asserted against explicit allowlists:
    //
    //  1. CartesianProduct: never, anywhere. A non-broadcast cross
    //     product means two large sides multiplied.
    //  2. BroadcastNestedLoopJoin: only where a bounded side is the
    //     declared idiom — a broadcast 1-row totals/spine frame
    //     (tfidf, lm_score, collocations, percent-of-total, gap-fill
    //     grids) or a declared brute-force oracle contract
    //     (x_cosine_topk / x_knn_classify / x_ann_quantized, whose
    //     shipped scale paths are the LSH/IVF/PQ entries).
    //  3. Exchange SinglePartition: only below a bounded producer —
    //     a global aggregate's partial rows, a limit funnel, or a
    //     driver-small dimension frame. A single-partition exchange
    //     over raw rows is the one-core bottleneck at 100 TB.
    //
    // Offenders must be a SUBSET of the allowlist (a fixed plan just
    // shrinks the set); any NEW query or shape lands here and must be
    // justified in the lists below. State-store discipline (RocksDB
    // where declared) is pinned separately by StreamingSpec and
    // the `stream` workload of graft.tools.Scale, which set the provider
    // explicitly.
    val dir = "/root/testdata/sf0.001"
    val bnljAllowed = Set(
      // broadcast 1-row / tiny-frame spine idioms
      "x_tfidf", "x_lm_score", "x_lm_bigram", "x_collocations",
      "q_percent_of_total", "q_gap_fill", "q_interpolate", "q_histogram",
      "x_domain_mix", "x_mix_temperature", "x_robust_stats", "x_dedup_stats",
      "x_reservoir_sample", "q_skew_stats", "q_dq_audit", "x_quality",
      // declared brute-force oracle contracts (scale paths are ANN entries)
      "x_cosine_topk", "x_knn_classify", "x_ann_quantized", "x_embed_dedup",
      // broadcast 1-row totals riding the result row (edge/node counts,
      // before/after counts, exact-vs-estimate columns)
      "x_triangles", "x_triangles_lsh", "x_compact_files", "q_sketch_union",
      // broadcast k-row model/parameter tables (16 minhash permutation
      // coefficients; IVF coarse centroids for the probe list)
      "x_minhash_sig", "x_ann_ivf", "x_ann_ivf_persisted", "x_ann_pq",
      "x_ann_pq_persisted",
      // theta join is BNLJ by definition (non-equi predicate)
      "q_join_theta", "q_join_range")
    val singlePartAllowed = Set(
      // global-aggregate partials (1 row per upstream partition) or
      // tiny post-aggregate frames feeding a broadcast/spine
      "x_tfidf", "x_lm_score", "x_lm_bigram", "x_collocations",
      "q_percent_of_total", "x_domain_mix", "x_mix_temperature",
      "x_robust_stats", "x_dedup_stats", "x_reservoir_sample",
      "q_skew_stats", "q_dq_audit", "x_quality", "q_histogram",
      "q_gap_fill", "q_interpolate",
      // bounded: BPE vocab argmax (limit 1) and pack/chunk spines
      "x_bpe_train", "x_bpe_apply", "x_pack_sequences",
      // declared global sorts / top-k funnels over small results
      "q_topk", "x_curation_pipeline",
      // global 1-row aggregates (totals riding the result) — the
      // exchange carries one partial row per upstream partition
      "x_triangles", "x_triangles_lsh", "x_compact_files", "q_sketch_union",
      "x_heavy_hitters", "x_normalize_dedup", "q_funnel",
      // scalar subquery = a global aggregate by construction
      "q_subquery")
    val cart = scala.collection.mutable.ArrayBuffer[String]()
    val bnlj = scala.collection.mutable.ArrayBuffer[String]()
    val single = scala.collection.mutable.ArrayBuffer[String]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // every entry leaves the caller's session as it found it: the same
    // conf and the same temp views after each entry as before the loop
    def tempViews() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val conf0 = spark.conf.getAll
    val views0 = tempViews()
    var touched = Option.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save() // finalize AQE
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) cart += name
        if (plan.contains("BroadcastNestedLoopJoin")) bnlj += name
        if (plan.contains("Exchange SinglePartition")) single += name
      } catch { case scala.util.control.NonFatal(e) =>
        failed += s"$name: ${e.getMessage.take(80)}"
      }
      if (touched.isEmpty) {
        val conf = spark.conf.getAll
        val views = tempViews()
        if (conf != conf0 || views != views0) touched = Some(
          s"$name: conf ${(conf.toSet diff conf0.toSet) ++ (conf0.toSet diff conf.toSet)}, " +
            s"views added ${views -- views0}, removed ${views0 -- views}")
      }
    }
    assert(failed.isEmpty, s"queries failed to execute under the lint: $failed")
    assert(touched.isEmpty, s"first entry that changed the caller's session: ${touched.mkString}")
    assert(cart.isEmpty, s"cartesian products in: $cart")
    val bnljBad = bnlj.toSet -- bnljAllowed
    assert(bnljBad.isEmpty,
      s"undeclared BroadcastNestedLoopJoin in: $bnljBad (add a bounded-side justification or fix the plan)")
    val singleBad = single.toSet -- singlePartAllowed
    assert(singleBad.isEmpty,
      s"undeclared single-partition Exchange in: $singleBad (one-core bottleneck at scale)")
  }

  test("oracle'd queries are run-to-run deterministic (hash-gate prerequisite)") {
    val dir = "/root/testdata/sf0.001"
    // representative slice across aggregation/window/float/hash paths
    val names = Seq("q1_agg", "q_window_frame", "x_cosine_topk", "x_minhash_sig",
      "x_quality", "q_udaf_geomean", "s_session")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val a = fn(spark, dir).collect().map(_.toString).toSeq
      val b = fn(spark, dir).collect().map(_.toString).toSeq
      assert(a == b, s"$n not deterministic across runs")
    }
  }
}
