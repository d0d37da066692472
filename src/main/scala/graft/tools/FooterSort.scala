package graft.tools

import java.io.IOException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, CommonPathCapabilities, FileSystem, Path}
import org.apache.parquet.format.{ConvertedType, IntType, LogicalType, SortingColumn, Util}

/** Footer rewrite stamping `sorting_columns` into every row group's
  * metadata — the reference writes this field natively
  * (`/root/reference/src/main.rs:212`) but Spark's public writer API
  * cannot, so the thrift footer is rewritten after Parquet closes the
  * file (the data pages are untouched; only the tail
  * [footer][len][PAR1] is re-serialized).
  *
  * One path: [[stampStaged]] stamps one file through its Hadoop
  * `FileSystem`. The convert calls it from
  * [[graft.sources.StampingOutputCommitter]] inside each write task's
  * commit, before the file is published, on every filesystem; [[stamp]]
  * loops it over an existing output directory.
  *  - Filesystems with truncate+append (HDFS, raw local): truncate off
  *    the old footer and append the new one. Zero data movement.
  *  - Everything else (object stores): stream the data pages once to a
  *    sibling, append the new tail, swap.
  * A `ChecksumFileSystem` (the local `file://` filesystem) is stamped
  * through its raw filesystem, and the file's stale `.crc` sidecar is
  * dropped; the local filesystem reads fine without one.
  *
  * Readers that exploit sortedness (DuckDB, query planners) read the
  * field; readers that don't ignore it — stamped files stay fully
  * compatible.
  */
object FooterSort {

  private val Magic = "PAR1".getBytes("US-ASCII")

  /** Default Hadoop conf for [[stamp]] and the `java.io.File` readers. */
  private lazy val defaultConf = new Configuration()

  /** The shared footer mutation: parse the thrift footer, stamp
    * sorting_columns on every row group (and optionally UINT_64
    * annotations + Spark row.metadata drop), re-serialize.
    */
  private def rewriteFooter(footerBytes: Array[Byte], sortedBy: Seq[String],
      unsigned: Seq[String]): Array[Byte] = {
    val md = Util.readFileMetaData(new java.io.ByteArrayInputStream(footerBytes))
    // SchemaElement list is depth-first with the root first; the schema
    // is flat, so leaves are elements 1..N in column order
    val leaves = md.getSchema.asScala.drop(1).map(_.getName).toIndexedSeq
    val cols = sortedBy.map { c =>
      val i = leaves.indexOf(c)
      require(i >= 0, s"sort column $c not in schema $leaves")
      new SortingColumn(i, false, false)
    }
    md.getRow_groups.asScala.foreach(_.setSorting_columns(cols.asJava))

    if (unsigned.nonEmpty) {
      val uint64 = new LogicalType()
      uint64.setINTEGER(new IntType(64.toByte, false))
      md.getSchema.asScala.drop(1).foreach { se =>
        if (unsigned.contains(se.getName)) {
          se.setConverted_type(ConvertedType.UINT_64)
          se.setLogicalType(uint64)
        }
      }
      // drop Spark's embedded row.metadata: it still says LONG, and a
      // reader that trusts it over the (now unsigned) parquet types
      // crashes on dictionary pages expecting a decimal conversion.
      // Removing it also matches the reference file byte-for-byte in
      // spirit — no engine-private schema, parquet types are the truth.
      if (md.getKey_value_metadata != null) {
        val filtered = md.getKey_value_metadata.asScala
          .filterNot(_.getKey == "org.apache.spark.sql.parquet.row.metadata")
        md.setKey_value_metadata(filtered.asJava)
      }
    }

    val out = new java.io.ByteArrayOutputStream(footerBytes.length + 64)
    Util.writeFileMetaData(md, out)
    out.toByteArray
  }

  /** Stamp all .parquet files directly in `dir` (any Hadoop path; a
    * bare path is local); returns files stamped.
    *
    * `unsigned` columns additionally get the UINT_64 logical/converted
    * annotation on their INT64 leaves — the reference schema declares
    * vout/height/amount as UInt64 (`/root/reference/src/main.rs:199-206`)
    * and DuckDB surfaces them as `uint64`, but Spark's writer cannot
    * annotate unsigned. Safe as a pure footer rewrite: every annotated
    * value is non-negative, so the signed byte order the pages and
    * min/max statistics were written with coincides with the unsigned
    * order — data pages, dictionaries, and stats all stay valid.
    * Re-stamping a stamped file rewrites the same footer.
    */
  def stamp(dir: String, sortedBy: Seq[String],
      unsigned: Seq[String] = Seq.empty): Int = {
    val d = new Path(dir)
    val fs = d.getFileSystem(defaultConf)
    val files = fs.listStatus(d)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    files.foreach(st => stampStaged(fs, st.getPath, sortedBy, unsigned))
    files.length
  }

  /** Stamp one file that no reader or writer is using — a task's staged
    * output inside its commit, or a file of an output being re-stamped.
    * Either path may leave the file torn if the process dies mid-stamp;
    * inside a task commit that just fails the attempt and Spark restages
    * the whole file.
    *
    *  - FS advertises truncate+append path capabilities (HDFS, raw
    *    local): in-place tail rewrite — truncate off the old footer,
    *    append the new one. The capability probe runs BEFORE any
    *    mutation, so an unsupported store never sees a half-truncated
    *    file.
    *  - otherwise (object stores): stream the data pages once to a
    *    sibling and swap.
    */
  def stampStaged(fs: FileSystem, file: Path, sortedBy: Seq[String],
      unsigned: Seq[String]): Unit = fs match {
    case cfs: ChecksumFileSystem =>
      // the checksummed local FS neither truncates nor appends (Hive's
      // ProxyLocalFileSystem still advertises truncate): stamp the raw
      // file and drop the sidecar the rewrite invalidates
      val raw = cfs.getRawFileSystem
      stampStaged(raw, file, sortedBy, unsigned)
      raw.delete(cfs.getChecksumFile(file), false)
    case _ =>
      val (footerStart, footer) = readFooterBytes(fs, file)
      val tail = tailOf(rewriteFooter(footer, sortedBy, unsigned))
      if (fs.hasPathCapability(file, CommonPathCapabilities.FS_TRUNCATE) &&
          fs.hasPathCapability(file, CommonPathCapabilities.FS_APPEND)) {
        if (!fs.truncate(file, footerStart)) {
          // async truncate (HDFS off-block-boundary lease recovery): the
          // call returns false and the shrink completes in the background
          var tries = 0
          while (fs.getFileStatus(file).getLen != footerStart && tries < 600) {
            Thread.sleep(50); tries += 1
          }
          if (fs.getFileStatus(file).getLen != footerStart)
            throw new IOException(s"truncate of $file to $footerStart did not complete")
        }
        val out = fs.append(file)
        try out.write(tail) finally out.close()
      } else {
        // single-pass copy: data pages streamed once, new tail appended,
        // then swap. delete+rename is safe here precisely because the
        // file is staged — nothing reads it until the commit publishes it
        val tmp = new Path(file.getParent, "." + file.getName + ".stamp.tmp")
        val src = fs.open(file)
        try {
          val out = fs.create(tmp, true)
          try {
            val buf = new Array[Byte](1 << 20)
            var remaining = footerStart
            while (remaining > 0) {
              val n = src.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
              if (n <= 0)
                throw new IOException(s"unexpected EOF copying $file at ${footerStart - remaining}")
              out.write(buf, 0, n)
              remaining -= n
            }
            out.write(tail)
          } finally out.close()
        } finally src.close()
        if (!fs.delete(file, false) || !fs.rename(tmp, file)) {
          fs.delete(tmp, false)
          throw new IOException(s"staged stamp swap $tmp -> $file failed")
        }
      }
  }

  /** The one tail reader: (footer start offset, footer bytes) of
    * `file`, after checking the trailing magic and that the footer
    * length fits between the leading magic and the tail. A file that
    * fails either check raises an `IOException` naming it.
    */
  private def readFooterBytes(fs: FileSystem, file: Path): (Long, Array[Byte]) = {
    val len = fs.getFileStatus(file).getLen
    def corrupt(why: String) =
      new IOException(s"not a parquet file: $file ($why, length $len)")
    if (len < 12) throw corrupt("too short")
    val in = fs.open(file)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      if (!tail.slice(4, 8).sameElements(Magic)) throw corrupt("bad tail magic")
      val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      if (footerLen <= 0 || footerLen > len - 12)
        throw corrupt(s"footer length $footerLen out of range")
      val footerStart = len - 8 - footerLen
      val footer = new Array[Byte](footerLen)
      in.readFully(footerStart, footer)
      (footerStart, footer)
    } finally in.close()
  }

  /** The one tail writer: footer ++ little-endian length ++ magic. */
  private def tailOf(footer: Array[Byte]): Array[Byte] = {
    val n = footer.length
    footer ++ Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte) ++ Magic
  }

  private def readFooter(file: java.io.File): org.apache.parquet.format.FileMetaData = {
    val fs = FileSystem.getLocal(defaultConf).getRawFileSystem
    val footer = readFooterBytes(fs, new Path(file.toURI))._2
    Util.readFileMetaData(new java.io.ByteArrayInputStream(footer))
  }

  /** Read back (leaf name → converted-type name) for audit/spec. */
  def convertedTypesOf(file: java.io.File): Map[String, String] = {
    val md = readFooter(file)
    md.getSchema.asScala.drop(1).map(se =>
      se.getName -> Option(se.getConverted_type).map(_.name).getOrElse("")).toMap
  }

  /** Read back the stamped field (test/audit side). */
  def sortingColumnsOf(file: java.io.File): Seq[Seq[(Int, Boolean, Boolean)]] =
    readFooter(file).getRow_groups.asScala.toSeq.map { rg =>
      Option(rg.getSorting_columns).map(_.asScala.toSeq).getOrElse(Seq.empty)
        .map(sc => (sc.column_idx, sc.descending, sc.nulls_first))
    }
}
