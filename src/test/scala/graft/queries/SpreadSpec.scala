package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Structural pins for [[Queries.spread]] (r14 guard, r15 width cap).
  * The r14 verdict flagged two claims as unproven-by-artifact:
  *  1. a real at-scale corpus (file count ≥ parallelism) passes through
  *     with NO round-robin exchange — pinned here by object identity
  *     (`spread` returns the input frame untouched) on a ≥-parallelism
  *     multi-file fixture, and
  *  2. the repartition width is sized by input bytes / kernel target,
  *     capped at defaultParallelism — pinned by inspecting the logical
  *     Repartition node the fired path injects.
  * The r14 regression (x_repetition 1.06→2.72 s at 32 cores from
  * core-count-wide exchanges on a 584 KB input) is the case the width
  * cap exists for: a Light-target spread of a sub-4 MB single file must
  * be a plan no-op.
  */
class SpreadSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("spread-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(name: String): String =
    graft.TempDirs.create(name).toString

  test("multi-file input (files >= parallelism) is returned untouched — no exchange") {
    val p = spark.sparkContext.defaultParallelism
    val dir = tmpDir("spread-multifile")
    spark.range(1000).selectExpr("id", "repeat('x', 100) as text")
      .repartition(p * 2) // 2x parallelism files
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length >= p, "fixture must have >= parallelism files")
    // object identity: the at-scale path adds NOTHING to the plan
    assert(Queries.spread(df, Queries.SpreadHeavy) eq df)
    assert(Queries.spread(df) eq df)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("small single-file input under the Light target is a plan no-op") {
    val dir = tmpDir("spread-small")
    spark.range(100).selectExpr("id", "repeat('x', 10) as text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length == 1)
    // a few KB of parquet vs the 4 MB Light target: width 1 => untouched
    assert(Queries.spread(df) eq df,
      "sub-target single file must not gain a repartition (the r14 regression shape)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("fired path: width = ceil(bytes/target) capped at parallelism") {
    val p = spark.sparkContext.defaultParallelism
    val dir = tmpDir("spread-fired")
    spark.range(2000).selectExpr("id", "uuid() as text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val bytes = {
      val f = new org.apache.hadoop.fs.Path(df.inputFiles.head)
      f.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(f).getLen
    }
    assert(bytes > 8192, s"fixture too small to split: $bytes B")
    // target sized so the uncapped width lands strictly between 1 and p
    val target = (bytes + p - 2) / (p - 1) // ceil(bytes/target) == p-1 (p=4: 3)
    val spreadDf = Queries.spread(df, target)
    val reps = spreadDf.queryExecution.analyzed.collect {
      case r: Repartition => r
    }
    assert(reps.nonEmpty, "expected a Repartition node on the fired path")
    val expect = math.min(p.toLong, (bytes + target - 1) / target).toInt
    assert(reps.head.numPartitions == expect,
      s"width ${reps.head.numPartitions} != ceil($bytes/$target) capped at $p = $expect")
    assert(expect > 1 && expect <= p)
    // and a tiny target caps at parallelism, never beyond
    val full = Queries.spread(df, 1L)
    val w = full.queryExecution.analyzed.collect { case r: Repartition => r.numPartitions }
    assert(w.head == p, s"1-byte target must cap at parallelism $p, got ${w.head}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
