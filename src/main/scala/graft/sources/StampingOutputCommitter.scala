package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetOutputCommitter

/** The parquet output committer that stamps each task's footers
  * (`sorting_columns` + UINT_64 annotations, see
  * [[graft.tools.FooterSort]]) inside `commitTask`, BEFORE the files
  * are published — on every filesystem.
  *
  * Why here: the reference writes `sorting_columns` natively
  * (reference `src/main.rs:212`); Spark's writer cannot. At
  * `commitTask` time the task's files are still private to the task
  * attempt, so the stamp is (a) executor-side and fully distributed,
  * (b) part of the commit: `_SUCCESS` only ever marks stamped files,
  * and a crash mid-stamp fails the attempt, which Spark restages, and
  * (c) an in-place tail rewrite on truncate+append stores (HDFS, local)
  * — total bytes written ≈ 1× the output size, pinned by
  * `StampingConvertSpec` against a byte-counting FileSystem.
  *
  * Selected per write, never per session: the write option
  * `spark.sql.parquet.output.committer.class` names this class, and
  * Spark's parquet writer reads it from the write's Hadoop conf.
  * The columns ride the same write options:
  * [[StampingOutputCommitter.SortedKey]] /
  * [[StampingOutputCommitter.UnsignedKey]], comma-separated. With no
  * sorted column set it commits exactly like its parent.
  */
class StampingOutputCommitter(outputPath: Path, context: TaskAttemptContext)
  extends ParquetOutputCommitter(outputPath, context) {

  override def commitTask(taskContext: TaskAttemptContext): Unit = {
    val conf = taskContext.getConfiguration
    val sorted = StampingOutputCommitter.columns(conf.get(StampingOutputCommitter.SortedKey))
    if (sorted.nonEmpty) {
      val unsigned = StampingOutputCommitter.columns(conf.get(StampingOutputCommitter.UnsignedKey))
      val work = getWorkPath
      val fs = work.getFileSystem(conf)
      // Spark commits a task only when its work path exists
      // (needsTaskCommit). listStatus, not listFiles: the located status
      // of RawLocalFileSystem subclasses insists on the `file` scheme
      fs.listStatus(work)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .foreach(st => graft.tools.FooterSort.stampStaged(fs, st.getPath, sorted, unsigned))
    }
    super.commitTask(taskContext)
  }
}

object StampingOutputCommitter {
  /** Comma-separated `sorting_columns` list (write option / job conf). */
  val SortedKey = "graft.footerstamp.sorted"
  /** Comma-separated columns to annotate UINT_64 (write option / job conf). */
  val UnsignedKey = "graft.footerstamp.unsigned"

  private def columns(v: String): Seq[String] =
    Option(v).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
}
