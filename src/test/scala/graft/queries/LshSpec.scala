package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Semantics checks for the non-SQL-expressible similarity operators
  * (the driver only rows-checks these; the real guarantees live here).
  */
class LshSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("lsh-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("min-label propagation converges on a long chain (pointer jumping)") {
    import spark.implicits._
    // a 60-node chain has diameter 59: plain neighbor-min propagation
    // needs 59 rounds and the old 25-round cap SILENTLY returned
    // non-minimal labels; pointer jumping converges in O(log n) rounds
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = QueriesLLM.minLabelPropagate(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 60)
    assert(labels.forall(_._2 == 0L),
      s"chain must collapse to one cluster rooted at 0: ${labels.filter(_._2 != 0L).take(5).toSeq}")
    // and two disjoint chains keep distinct roots
    val two = ((0L until 10L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val roots = QueriesLLM.minLabelPropagate(two).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2).keySet
    assert(roots == Set(0L, 100L))
  }

  test("pagerank: integer ranks match an exact driver-side recomputation") {
    val pairs = QueriesLLM.minhashLshPairs(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap(p => Seq(p, (p._2, p._1)))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var rank = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      adj.foreach { case (u, vs) =>
        val c = rank(u) / vs.length
        vs.foreach(v => contrib(v) += c)
      }
      rank = adj.keys.map(n => n -> (150000L + 850L * contrib(n) / 1000L)).toMap
    }
    val got = QueriesLLM.pagerankLsh(spark, dir).collect()
    assert(got.nonEmpty && got.length == rank.size)
    got.foreach(r => assert(r.getLong(1) == rank(r.getLong(0)),
      s"rank for doc ${r.getLong(0)}"))
    // ranks actually differentiate (the graph isn't regular)
    assert(got.map(_.getLong(1)).distinct.length > 1)
  }

  test("triangle count matches an exact driver-side enumeration") {
    val pairs = QueriesLLM.minhashLshPairs(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = pairs.toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expectedTris = (for {
      (a, b) <- pairs
      (b2, c) <- pairs if b2 == b && edgeSet.contains((a, c))
    } yield 1).length.toLong
    val r = QueriesLLM.triangleCountLsh(spark, dir).collect().head
    assert(r.getLong(0) == nodes.length.toLong)
    assert(r.getLong(1) == pairs.length.toLong)
    assert(r.getLong(2) == expectedTris)
  }

  test("inverted-index exact-Jaccard pairs equal the naive all-pairs join") {
    import graft.functions.GraftFunctions._
    val d = Queries.t(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val naive = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.2)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = QueriesLLM.exactJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == naive, s"missing=${naive -- pruned} extra=${pruned -- naive}")
    assert(naive.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    // the AllPairs/PPJoin prefix-filtered variant is exact too: same
    // pair set from frequency-ordered prefix postings only
    val prefix = QueriesLLM.exactJaccardPairsPrefix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefix == naive, s"prefix filter broke exactness: missing=${naive -- prefix} extra=${prefix -- naive}")
    // and the plan is a shuffled hash/sort-merge join on the shingle
    // key, never a single-partition nested loop over all pairs (the
    // UNCACHED builder — the memoized wrapper returns an RDD-backed
    // frame whose plan no longer shows the join)
    val plan = QueriesLLM.exactJaccardPairsUncached(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("building the prefix join submits one job (the shingle checkpoint), no driver collect") {
    val sc = spark.sparkContext
    // the names of the jobs `body` submits, with no action after it
    def jobsWhile(body: => Any): Seq[String] = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.map(_.name).mkString(" + "))
      }
      org.apache.spark.sql.GraftInternals.drain(sc)
      sc.addSparkListener(listener)
      try { body; org.apache.spark.sql.GraftInternals.drain(sc) }
      finally sc.removeSparkListener(listener)
      jobs.toArray.toSeq.map(_.toString)
    }
    // Spark infers a parquet schema with a job of its own on every read
    val read = jobsWhile(Queries.t(spark, dir, "documents"))
    val build = jobsWhile(QueriesLLM.exactJaccardPairsPrefix(spark, dir))
    assert(build.size == read.size + 1,
      s"jobs submitted while building the prefix join: $build (the table read alone: $read)")
  }

  test("shingle dictionary key: injective, sorts like (df, h32, s); a 257th tie fails") {
    import graft.functions.GraftFunctions._
    val freq = Queries.t(spark, dir, "documents")
      .select(explode(array_distinct(shingles(col("text"), 3))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val keyed = QueriesLLM.shingleDictionary(freq).join(freq, Seq("s"))
      .select(col("sid"), col("df"), xxhash64(col("s")).bitwiseAND(lit(0xFFFFFFFFL)).as("h32"), col("s"))
      .orderBy(col("df"), col("h32"), col("s"))
      .collect()
    assert(keyed.length > 1000, s"only ${keyed.length} shingles in the fixture")
    // strictly increasing in (df, h32, s) order: injective and the same order
    val sids = keyed.map(_.getLong(0))
    val inversions = sids.sliding(2).count { case Array(x, y) => x >= y }
    assert(inversions == 0, s"$inversions adjacent sids out of (df, h32, s) order")
    // the fields decode back (every fixture df is far below the cap)
    keyed.foreach { r =>
      assert(r.getLong(0) >>> 40 == r.getLong(1) && ((r.getLong(0) >>> 8) & 0xFFFFFFFFL) == r.getLong(2), r)
    }
    // the packing guard: 256 ties fit in the low 8 bits, a 257th raises
    def key(k: Int) = spark.range(1)
      .select(QueriesLLM.shingleKey(lit(3L), lit(7L), col("id").cast("int") + k)).head().getLong(0)
    assert(key(256) == (3L << 40 | 7L << 8 | 255L))
    val tie = intercept[Exception](key(257))
    assert(tie.getMessage.contains("more than 256 shingles share df 3 and hash 7"), tie.getMessage)
  }

  test("degree-ordered triangle orientation counts identically to the unoriented form") {
    val pairs = QueriesLLM.minhashLshPairs(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    // the pre-orientation shape: canonical (a<b) wedge join closed
    // against the canonical edge set
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val unoriented = e.as("x").join(e.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("wa"), col("y.b").as("wc"))
      .join(e.as("z"), col("wa") === col("z.a") && col("wc") === col("z.b"))
      .count()
    val oriented = QueriesLLM.triangleCountOn(pairs).collect().head
    assert(oriented.getLong(2) == unoriented,
      s"oriented=${oriented.getLong(2)} unoriented=$unoriented")
    // the orientation input is plan-visible: the degree aggregation
    // feeds the edge build (two joins against the degree table)
    val plan = QueriesLLM.triangleCountOn(pairs).queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("aggregate"), plan.take(2000))
  }

  test("MinHash-LSH candidates include every truly-high-Jaccard pair") {
    import graft.functions.GraftFunctions._
    // ground truth threshold 0.85: at j=0.85 the 16-perm agreement
    // estimate dips below the query's 0.5 cutoff with P ~ 1e-4, so the
    // superset assertion is stable; at 0.7 estimate noise (sd ~ 0.11)
    // would make it flaky even when banding found the candidate
    val d = Queries.t(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.85)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val lsh = QueriesLLM.minhashLshPairs(spark, dir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // 4 bands x 4 rows: P(candidate | j=0.7) = 1-(1-0.7^4)^4 ~ 0.93/band
    // structure; with est>=0.5 post-filter the high-sim pairs must stay
    val missed = truth -- lsh
    assert(missed.isEmpty, s"LSH missed high-Jaccard pairs: $missed")
  }

  test("LSH-edge clusters equal exact-edge clusters at the same threshold") {
    import graft.functions.GraftFunctions._
    // exact all-pairs edge set at tau = 0.5 (the LSH variant's
    // threshold), pushed through the SAME propagation
    val d = Queries.t(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val exactPairs = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val exact = QueriesLLM.minLabelPropagate(exactPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLsh = QueriesLLM.dedupClustersLsh(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster-for-cluster equality: every node labeled, same label
    assert(viaLsh == exact,
      s"LSH-edge clustering diverged: ${viaLsh.size} vs ${exact.size} nodes, " +
        s"diff=${(viaLsh.toSet diff exact.toSet).take(5)}")
    assert(exact.nonEmpty, "corpus must contain near-dup structure for this test to bite")
  }

  test("decontaminate inverted index: value parity with the broadcast form, hash-join plan") {
    val inverted = QueriesLLM.decontaminate(spark, dir)
    val reference = QueriesLLM.decontaminateBroadcast(spark, dir)
    val gi = inverted.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val gr = reference.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(gi.nonEmpty && gi.sameElements(gr),
      s"inverted/broadcast divergence: ${gi.take(3).toSeq} vs ${gr.take(3).toSeq}")
    // the shipped plan joins the inverted index with a HASH join — the
    // quadratic BroadcastNestedLoopJoin shape must be gone
    val plan = inverted.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
  }

  test("embedDedupLsh: sound vs exact pairs, shuffle_hash co-bucket plan (r11)") {
    import org.apache.spark.sql.functions._
    val lsh = QueriesLLM.embedDedupLsh(spark, dir)
    // plan: the co-bucket self-join must be the hinted SHUFFLED hash
    // join (the simhash lesson: BHJ's many-match emission), and the
    // all-pairs nested-loop shape must never appear
    val plan = lsh.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = lsh.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty, "corpus must contain embedding near-dups")
    // soundness vs the EXACT full-corpus pair graph: every LSH verdict
    // must be a true cosine >= 0.3 near-dup with a valid earlier
    // canonical, and its neighbor count can never exceed the exact
    // count (LSH candidates are a subset of all pairs)
    val e = graft.queries.Queries.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (graft.functions.GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (graft.functions.GraftFunctions.norm(col("a.embedding")) *
           graft.functions.GraftFunctions.norm(col("b.embedding")))).as("c"))
      .filter(col("c") >= 0.3)
      .groupBy(col("vb")).agg(min(col("va")).as("canon"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (dup, canon, maxSim, nNear) =>
      val (exCanon, exN) = exact.getOrElse(dup,
        fail(s"LSH flagged $dup which has no exact near-dup"))
      assert(canon >= exCanon, s"$dup: canonical $canon below exact min $exCanon")
      assert(nNear <= exN, s"$dup: $nNear LSH neighbors > exact $exN")
      assert(maxSim >= 0.3, s"$dup: max_sim $maxSim under threshold")
    }
  }

  test("sign-LSH ANN achieves top-3 recall >= 0.5 vs brute force") {
    val exact = QueriesLLM.cosineTopk(spark, dir)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = QueriesLLM.annLsh(spark, dir)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // 4 tables x 6 bits with Hamming-1 multi-probe: top-3 neighbors here
    // sit at cos ~0.33 (p_agree ~0.61), giving expected per-table probe
    // hit ~0.24 and union recall ~0.67 — deterministic planes on fixed
    // data, so the floor is a real contract, not a coin flip
    assert(recall >= 0.5, s"ANN recall $recall below 0.5 floor")
    assert(ann.nonEmpty)
  }

  test("IVF ANN: probed-cell search recalls most of brute-force top-3") {
    val exact = QueriesLLM.cosineTopk(spark, dir)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = QueriesLLM.annIvf(spark, dir)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nprobe/k = 4/16 of cells searched; random near-orthogonal 64-dim
    // embeddings make this a hard case, so pin a floor not a boast
    assert(recall >= 0.2, s"IVF recall $recall below floor")
  }

  test("IVF-PQ ANN: 8-byte codes still recall brute-force neighbors") {
    val exact = QueriesLLM.cosineTopk(spark, dir)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = QueriesLLM.annIvfPq(spark, dir)
    val rows = pq.collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query answered with exactly top-3 candidates
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 3))
    // PQ stacks quantization error on IVF's pruning (same nprobe/k as
    // the IVF floor test) — random 64-dim data is the worst case for
    // an 8x16 codebook, so the floor is modest but real
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.1, s"IVF-PQ recall $recall below floor")

    // build-once contract (r7): the index is memoized per (session,
    // corpus, k, m) — a repeat call must NOT re-run the 9 KMeans fits,
    // and must return the identical answer from the cached index
    val builds = QueriesLLM.pqBuilds.get()
    val again = QueriesLLM.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(QueriesLLM.pqBuilds.get() == builds,
      "repeat annIvfPq call rebuilt the PQ index instead of hitting the memo")
    assert(again == got, "cached-index answer differs from the built-index answer")
    // different index parameters are a different key — they DO build
    QueriesLLM.annIvfPq(spark, dir, nprobe = 8).count() // nprobe is query-time: no build
    assert(QueriesLLM.pqBuilds.get() == builds,
      "nprobe must be a query-time parameter, not an index key")
  }

  test("persisted PQ index: build-write-load round-trip, no refit, pruned serving") {
    // the production split (r8): build the index ONCE, WRITE it as a
    // table, and serve queries from the loaded artifact — across
    // sessions, with no KMeans refit, answering bit-identically
    val out = graft.TempDirs.create("pq-index").toFile
      .getAbsolutePath + "/idx"
    val direct = QueriesLLM.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    QueriesLLM.pqIndexWrite(spark, dir, out)
    val builds = QueriesLLM.pqBuilds.get()
    // a FRESH session (new runtime state, no memo entries) serves from
    // the artifact alone — zero fits, identical rows
    val s2 = spark.newSession()
    val loaded = QueriesLLM.annIvfPqFrom(s2, dir, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(QueriesLLM.pqBuilds.get() == builds,
      "serving from the persisted index re-ran a KMeans fit")
    assert(loaded == direct,
      "persisted-index answers differ from the in-memory index")
    // the code table is partitioned by cell: a single-query search
    // prunes its scan to the probed cells (dynamic partition pruning
    // through the probe join) — the serving story at 100 TB
    val cells = new java.io.File(s"$out/codes").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cells > 1, s"code table not partitioned by cell ($cells dirs)")
    val one = QueriesLLM.annIvfPqFrom(s2, dir, out)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [dynamic"),
      s"probe join over the partitioned code table lost dynamic partition pruning:\n" +
        plan.linesIterator.filter(_.contains("codes")).take(5).mkString("\n"))
  }

  test("persisted IVF-flat index: round-trip, no re-assignment, pruned serving") {
    // r9 (verdict item 3): the flat path gets the same serving story as
    // PQ — build/write ONCE, then a fresh session answers from the
    // artifact with no fit AND no per-call corpus re-assignment (the
    // documented ivf_p4 residual), bit-identically to the per-call path
    val out = graft.TempDirs.create("ivf-index").toFile
      .getAbsolutePath + "/idx"
    val direct = QueriesLLM.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    QueriesLLM.ivfIndexWrite(spark, dir, out)
    val writes = QueriesLLM.ivfIndexWrites.get()
    val s2 = spark.newSession()
    val loaded = QueriesLLM.annIvfFrom(s2, dir, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(QueriesLLM.ivfIndexWrites.get() == writes,
      "serving from the persisted IVF index re-ran the corpus assignment")
    assert(loaded == direct,
      "persisted-IVF answers differ from the per-call path")
    // the assigned table is partitioned by cell and the probe join
    // prunes to the probed cells — the DPP serving story at 100 TB
    val cells = new java.io.File(s"$out/codes").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cells > 1, s"assigned table not partitioned by cell ($cells dirs)")
    val one = QueriesLLM.annIvfFrom(s2, dir, out)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [dynamic"),
      s"probe join over the partitioned assigned table lost dynamic partition pruning:\n" +
        plan.linesIterator.filter(_.contains("codes")).take(5).mkString("\n"))
    // the registry entry (build → write → load → search) memoizes the
    // artifact: a repeat call serves from the same path, zero new writes
    QueriesLLM.annIvfPersisted(spark, dir).count()
    val w2 = QueriesLLM.ivfIndexWrites.get()
    QueriesLLM.annIvfPersisted(spark, dir).count()
    assert(QueriesLLM.ivfIndexWrites.get() == w2,
      "repeat annIvfPersisted call rewrote the index instead of hitting the memo")
  }

  test("persisted sign-LSH index: round-trip, no re-projection, pruned serving") {
    val out = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    try {
      val direct = QueriesLLM.annLsh(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      QueriesLLM.lshIndexWrite(spark, dir, out)
      val writes = QueriesLLM.lshIndexWrites.get()
      val s2 = spark.newSession()
      val loaded = QueriesLLM.annLshFrom(s2, dir, out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(QueriesLLM.lshIndexWrites.get() == writes,
        "serving from the persisted LSH index re-projected the corpus")
      assert(loaded == direct,
        "persisted-LSH answers differ from the per-call path")
      // the candidate table is partitioned by bucket and the probe join
      // prunes to the probed buckets — the DPP serving story at 100 TB
      val buckets = new java.io.File(s"$out/buckets").listFiles()
        .count(_.getName.startsWith("bucket="))
      assert(buckets > 1, s"candidate table not partitioned by bucket ($buckets dirs)")
      val one = QueriesLLM.annLshFrom(s2, dir, out)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [dynamic"),
        s"probe join over the partitioned candidate table lost dynamic partition pruning:\n" +
          plan.linesIterator.filter(_.contains("buckets")).take(5).mkString("\n"))
      // a mismatched parameterization must fail fast, not answer wrongly
      intercept[IllegalArgumentException] {
        QueriesLLM.annLshFrom(s2, dir, out, tables = 8, bitsPerTable = 6)
      }
      // the registry entry memoizes the artifact: repeat call, zero writes
      QueriesLLM.annLshPersisted(spark, dir).count()
      val w2 = QueriesLLM.lshIndexWrites.get()
      QueriesLLM.annLshPersisted(spark, dir).count()
      assert(QueriesLLM.lshIndexWrites.get() == w2,
        "repeat annLshPersisted call rewrote the index instead of hitting the memo")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("ANN paths: bounded top-k for k=3 rankings, exactly one window for the PQ shortlist") {
    // r9 measured the `row_number() OVER (ORDER BY sim DESC, ...)`
    // window as IVF's dominant 1M-scale cost at k=3 (the full
    // candidate-pair set sorted through one exchange for a 3-row
    // answer) and replaced it with the bounded TopKSimAgg; r10
    // finished the rollout (LSH, SQ8, the PQ exact refine) and made
    // probe selection row-local. The ONE deliberate exception, fixed
    // by measurement in the same round: the PQ ADC shortlist at
    // k=rerank (1000 at the 1M proof), where the aggregate's hash
    // state is 10K keys × 1000 boxed pairs per task and measured
    // 29-36 s against the window's 11.3 s — large-k per-key selection
    // belongs to the window's off-heap sorter. This pin freezes both
    // directions: no window creeps back into a k=3 path, and the PQ
    // plan carries exactly the one shortlist window.
    val k3 : Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "x_ann_lsh" -> QueriesLLM.annLsh(spark, dir),
      "x_ann_quantized" -> QueriesLLM.annQuantized(spark, dir),
      "x_ann_ivf" -> QueriesLLM.annIvf(spark, dir))
    k3.foreach { case (name, df) =>
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name regressed to a rank window:\n" +
          plan.linesIterator.filter(_.contains("Window")).take(3).mkString("\n"))
    }
    val pq = QueriesLLM.annIvfPq(spark, dir)
    pq.write.format("noop").mode("overwrite").save()
    val pqPlan = pq.queryExecution.executedPlan.toString
    // plan tree lines render as "+- Window [...]" / ":- Window [...]" —
    // match the operator token, not a line prefix
    val nWindows = pqPlan.linesIterator.count(_.contains("Window ["))
    assert(nWindows == 1,
      s"x_ann_pq must carry exactly the one ADC-shortlist window, found $nWindows")
  }

  test("simhash near-dup property: identical docs get identical signatures") {
    val sigs = QueriesLLM.simhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sigs.nonEmpty)
    assert(sigs.values.forall(_.length == 48))
  }

  test("simhash-banded near-dup: bucketed plan, pairs within tau, hamming<=3 guaranteed") {
    val result = QueriesLLM.simhashNearDup(spark, dir)
    assert(!result.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "banded self-join must be bucketed, never all-pairs")
    val pairs = result.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

    // every reported hamming distance is correct and within tau
    val sigs = QueriesLLM.simhashAll(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    pairs.foreach { case ((a, b), h) =>
      val real = ham(sigs(a), sigs(b))
      assert(real == h && h <= QueriesLLM.SimhashTau, s"pair ($a,$b): reported $h, real $real")
    }

    // pigeonhole guarantee: ≤ 3 flipped bits across 4 bands leave at
    // least one band untouched, so every true hamming ≤ 3 pair MUST be
    // a banding candidate — brute-force the ground truth and check
    val ids = sigs.keys.toSeq.sorted
    val mustFind = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      h = ham(sigs(ids(i)), sigs(ids(j)))
      if h <= 3
    } yield ((ids(i), ids(j)), h)
    assert(mustFind.nonEmpty, "fixture must contain hamming<=3 near-dup pairs")
    mustFind.foreach { case (p, h) =>
      assert(pairs.get(p).contains(h), s"guaranteed pair $p (hamming $h) missing")
    }
  }
}
