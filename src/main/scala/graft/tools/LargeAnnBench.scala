package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN scale proof: run the similarity-search operators on a synthetic
  * embedding corpus 10–100× the sf0.1 table (2 000 × 64-dim), with
  * PLANTED cluster structure so recall is measurable against an exact
  * brute-force ground truth, and print one JSON line with per-op
  * seconds and recall@3.
  *
  * The crucial scale lesson this tool encodes: LSH/IVF index
  * parameters must GROW with the corpus. The registry entries bind
  * sf-scale defaults (4×6 sign bits → 64 buckets/table; k=16 IVF
  * cells) that are right for 2 000 vectors and catastrophic at 1M
  * (15 625 vectors per bucket ≈ a quarter of all-pairs). This proof
  * calls the same operator FUNCTIONS (`QueriesLLM.annLsh` / `annIvf` /
  * `annIvfPq`) with bucket counts scaled to ~64 vectors per bucket
  * (`bitsPerTable ≈ log2(n/64)`), ~sqrt-scaled cell counts, and a PQ
  * rerank depth scaled past the code-tie width (~the planted cluster
  * size) — the operators were parameterized for exactly this.
  *
  * Corpus: 1 000 planted clusters; vector i = center(i mod 1000) +
  * seeded noise, so each query's true neighbors are its cluster mates.
  *
  * {{{ sbt "runMain graft.tools.LargeAnnBench [nVecs] [runs]" }}}
  * (SPARK_DRIVER_MEM=16g+ recommended at 1M.)
  */
object LargeAnnBench {

  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def genVec(id: Long): Vec = {
    val label = (id % 1000L).toInt
    // cluster centers are label-seeded GAUSSIAN points: an earlier
    // sin(0.7·label + 0.13·j) form put all 1000 centers on a 1-D
    // curve, so every sign-plane projection was a sinusoid in label
    // and 12 LSH bits carved the whole corpus into ~24 giant buckets
    // (40 GB of candidate-join spill at 200K). Real embedding spaces
    // are not 1-D manifolds; the proof corpus must not be either.
    val cr = new java.util.SplittableRandom(
      new java.util.SplittableRandom(label.toLong).nextLong() ^ 0xce17e5L)
    val center = Array.fill(64)(cr.nextGaussian())
    val r = new java.util.SplittableRandom(
      new java.util.SplittableRandom(id).nextLong() ^ 0x5eedL)
    val v = Array.tabulate(64) { j =>
      (center(j) + 0.35 * r.nextGaussian()).toFloat
    }
    Vec(id, v, label)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON decimals must be dots
    val calBefore = Calibration.sample() // weather anchor (r12 item 5)
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-large-ann")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = s"/tmp/graft_large_vecs_$nVecs"
    val table = new java.io.File(s"$dir/embeddings.parquet")
    if (!table.exists()) {
      val t0 = System.nanoTime()
      spark.range(nVecs).as[Long].map(genVec)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(table.getAbsolutePath)
      System.err.println(f"[ann] generated $nVecs vecs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // scaled index parameters: ~64 vectors per LSH bucket, sqrt cells
    val bitsPerTable = math.max(6,
      math.ceil(math.log(nVecs / 64.0) / math.log(2)).toInt)
    val ivfK = math.max(16, math.round(math.sqrt(nVecs.toDouble) / 2).toInt)

    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup (codegen + table touch)
    runNoop(graft.queries.QueriesLLM.annLsh(spark, dir, 4, bitsPerTable))

    def time(name: String)(f: => DataFrame): (String, Double) = {
      // one UNTIMED warm rep per entry (r11): ROUND11_NOTES.md §3 shows the
      // k=500 argmin/ADC codegen methods JIT-compiling DURING the
      // first execution — assignment alone decays 13.1 → 2.9 s across
      // reps in one JVM — so a cold first rep is measuring the
      // compiler, not the plan, and min-of-2 still carries half of it
      // (the r10 passes' 12–29 s per-call IVF swing was exactly this).
      // Warm once, then time: mins are steady-state and pass-stable.
      runNoop(f)
      val rs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        runNoop(f)
        (System.nanoTime() - t0) / 1e9
      }
      name -> rs.min
    }
    // recall/cost knob, demonstrated: at a fixed per-bucket occupancy
    // the way to buy LSH recall is MORE TABLES (each an independent
    // chance to co-bucket a true neighbor), and IVF recall is bought
    // with MORE PROBED CELLS — both linear cost multipliers, both
    // reported beside their recalls so the trade is visible
    val lshT = time("ann_lsh_4t")(
      graft.queries.QueriesLLM.annLsh(spark, dir, 4, bitsPerTable))
    val lsh8T = time("ann_lsh_8t")(
      graft.queries.QueriesLLM.annLsh(spark, dir, 8, bitsPerTable))
    val ivfT = time("ann_ivf_p4")(
      graft.queries.QueriesLLM.annIvf(spark, dir, ivfK, 4))
    val ivf8T = time("ann_ivf_p8")(
      graft.queries.QueriesLLM.annIvf(spark, dir, ivfK, 8))
    // persisted IVF-flat (r9): build + WRITE the cell-partitioned
    // assigned table once, then serve repeat queries from the artifact
    // — removes the per-call k-cell corpus re-assignment that was the
    // documented r8 ivf_p4 residual (the oracle's first-min tie-break
    // forbids triangle-bound pruning in the per-call assignment, but a
    // SERVED index doesn't assign at all)
    val ivfIdxDir = s"$dir/ivf_index_k$ivfK"
    val ivfBuildT0 = System.nanoTime()
    graft.queries.QueriesLLM.ivfIndexWrite(spark, dir, ivfIdxDir, ivfK)
    val ivfBuild = (System.nanoTime() - ivfBuildT0) / 1e9
    val ivfServedT = time("ann_ivf_p4_served")(
      graft.queries.QueriesLLM.annIvfFrom(spark, dir, ivfIdxDir, 4))
    // IVF-PQ: same coarse cells, candidates scored against 8-byte codes
    // (32× memory cut) — the billion-vector memory-budget path. The
    // ADC shortlist must out-depth the code-tie blocks (cluster-mates
    // quantize to the same codes), so rerank scales with the planted
    // cluster size; the exact refine then touches only that many float
    // vectors per query.
    val pqRerank = math.max(256, (nVecs / 1000).toInt)
    // the PQ index is memoized per (session, corpus, k, m) since r7:
    // the FIRST call pays the build (9 KMeans fits + 8 assignment
    // passes), repeats are search-only — exactly production's
    // build-once/query-many split. Report both: first-call wall, then
    // the steady-state min over `runs` cached calls.
    val pqFirstT0 = System.nanoTime()
    runNoop(graft.queries.QueriesLLM.annIvfPq(spark, dir, ivfK, 4, rerank = pqRerank))
    val pqFirst = (System.nanoTime() - pqFirstT0) / 1e9
    val pqT = time("ann_pq_p4")(
      graft.queries.QueriesLLM.annIvfPq(spark, dir, ivfK, 4, rerank = pqRerank))
    // int8 brute force is O(queries × n) by contract — n/100 queries ×
    // n candidates is 4×10⁸ scored pairs at 200K and filled the spill
    // disk; time it only where the quadratic contract is sane
    val quantT = if (nVecs <= 100000L)
      Seq(time("ann_quantized_brute")(
        graft.queries.QueriesLLM.annQuantized(spark, dir)))
    else Seq.empty

    // ground truth: exact float top-3 for 100 sampled queries (the
    // registry query filter is vec_id % 100 == 0; sample its first 100)
    val e = spark.read.parquet(table.getAbsolutePath)
      .select(col("vec_id"), col("embedding"),
        graft.functions.GraftFunctions.norm(col("embedding")).as("nrm"))
    val qs = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 10000)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id"))
    val exact = qs.crossJoin(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cn")))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("cand_id"))
      .localCheckpoint()
    val nTruth = exact.count()

    def recallOf(res: DataFrame): Double = {
      val hit = exact.join(res.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi").count()
      hit.toDouble / nTruth
    }
    val recallLsh4 = recallOf(graft.queries.QueriesLLM.annLsh(spark, dir, 4, bitsPerTable))
    val recallLsh8 = recallOf(graft.queries.QueriesLLM.annLsh(spark, dir, 8, bitsPerTable))
    val recallIvf4 = recallOf(graft.queries.QueriesLLM.annIvf(spark, dir, ivfK, 4))
    val recallIvf8 = recallOf(graft.queries.QueriesLLM.annIvf(spark, dir, ivfK, 8))
    val recallIvfServed = recallOf(
      graft.queries.QueriesLLM.annIvfFrom(spark, dir, ivfIdxDir, 4))
    val recallPq4 = recallOf(
      graft.queries.QueriesLLM.annIvfPq(spark, dir, ivfK, 4, rerank = pqRerank))

    val times = Seq(lshT, lsh8T, ivfT, ivf8T, ivfServedT, pqT) ++ quantT
    val qsJson = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"large_ann","vecs":$nVecs,"runs":$runs,"queries":$qsJson,""" +
      s""""bits_per_table":$bitsPerTable,"ivf_k":$ivfK,""" +
      s""""truth_pairs":$nTruth,""" +
      f""""recall_lsh_4t":$recallLsh4%.4f,"recall_lsh_8t":$recallLsh8%.4f,""" +
      f""""recall_ivf_p4":$recallIvf4%.4f,"recall_ivf_p8":$recallIvf8%.4f,""" +
      f""""recall_pq_p4":$recallPq4%.4f,"recall_ivf_p4_served":$recallIvfServed%.4f,""" +
      f""""ivf_index_build_sec":$ivfBuild%.3f,""" +
      f""""pq_first_call_sec":$pqFirst%.3f,"pq_build_sec":${pqFirst - pqT._2}%.3f,""" +
      s"${Calibration.json(calBefore, Calibration.sample())}}")
    spark.stop()
  }
}
