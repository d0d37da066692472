package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.codec.{Hex, UnsignedBytes}

/** Output checks. Each returns the list of violations; empty = correct. */
object Checks {
  final case class LookupRow(txid: String, vout: Long, amount: Long, height: Long)
  val rowOrder: Ordering[LookupRow] = Ordering.by((r: LookupRow) => (r.height, r.txid, r.vout))

  val RowGroupCap = 64 * 1024
  val Unsigned = Seq("vout", "height", "amount")

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Row hash of one coin; outputs are compared by count plus the
    * wrapping sum of row hashes, which ignores row order.
    */
  def coinHash(txid: String, vout: Long, height: Long, coinbase: Boolean,
      amount: Long, script: Array[Byte]): Long = {
    var h = mix64(scala.util.hashing.MurmurHash3.stringHash(txid).toLong)
    h = mix64(h ^ vout)
    h = mix64(h ^ (height * 2 + (if (coinbase) 1 else 0)))
    h = mix64(h ^ amount)
    mix64(h ^ scala.util.hashing.MurmurHash3.bytesHash(script).toLong)
  }

  def isP2sh(s: Array[Byte]): Boolean =
    s.length == 23 && s(0) == 0xa9.toByte && s(1) == 0x14 && s(22) == 0x87.toByte

  def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Footer-level layout contract of a converted output: row count,
    * ZSTD, row-group cap, script order across each file's row groups,
    * stamped sortingColumns and UINT_64 annotations, and (clustered)
    * disjoint per-file script ranges.
    */
  def layout(dir: String, coins: Long, clustered: Boolean): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = parts(dir)
    if (files.isEmpty) bad += s"no parquet files in $dir"
    var rows = 0L
    val ranges = files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      var prevMax: Array[Byte] = null
      var fileMin: Array[Byte] = null
      blocks.foreach { b =>
        rows += b.getRowCount
        if (b.getRowCount > RowGroupCap) bad += s"${f.getName}: row group of ${b.getRowCount} rows"
        b.getColumns.asScala.foreach { c =>
          if (c.getCodec.toString != "ZSTD") bad += s"${f.getName}: ${c.getPath.toDotString} codec ${c.getCodec}"
        }
        b.getColumns.asScala.find(_.getPath.toDotString == "script").foreach { c =>
          val st = c.getStatistics
          if (prevMax != null && UnsignedBytes(prevMax, st.getMinBytes) > 0)
            bad += s"${f.getName}: script not sorted across row groups"
          if (fileMin == null) fileMin = st.getMinBytes
          prevMax = st.getMaxBytes
        }
      }
      val sorting = graft.tools.FooterSort.sortingColumnsOf(f)
      if (sorting.isEmpty || sorting.exists(_.isEmpty)) bad += s"${f.getName}: sortingColumns not stamped"
      val types = graft.tools.FooterSort.convertedTypesOf(f)
      Unsigned.foreach { c =>
        if (!types.get(c).contains("UINT_64")) bad += s"${f.getName}: $c not annotated UINT_64"
      }
      if (fileMin != null) Some((f.getName, fileMin, prevMax)) else None
    }
    if (rows != coins) bad += s"row count $rows != header count $coins"
    if (clustered) {
      ranges.sortWith((a, b) => UnsignedBytes(a._2, b._2) < 0).sliding(2).foreach {
        case Seq(a, b) if UnsignedBytes(a._3, b._2) >= 0 =>
          bad += s"script ranges of ${a._1} and ${b._1} overlap"
        case _ =>
      }
    }
    bad.result()
  }

  /** Full read-back of a converted output: every row, compared with the
    * sequential decode by count and order-insensitive hash, and the
    * script order inside each file.
    */
  def content(spark: SparkSession, dir: String, exp: Expected): Seq[String] = {
    val df = graft.sources.UtxoConvert.readConverted(spark, dir)
      .select(input_file_name().as("f"), col("txid"), col("vout"), col("height"),
        col("coinbase"), col("amount"), col("script"))
    val perPart = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      var unsorted = 0L
      var file: String = null
      var prev: Array[Byte] = null
      it.foreach { r: Row =>
        val s = r.getAs[Array[Byte]](6)
        val f = r.getString(0)
        if (f != file) { file = f; prev = null }
        if (prev != null && UnsignedBytes(prev, s) > 0) unsorted += 1
        prev = s
        h += coinHash(r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5), s)
        n += 1
      }
      Iterator((n, h, unsorted))
    }.collect()
    val n = perPart.map(_._1).sum
    val h = perPart.map(_._2).sum
    val unsorted = perPart.map(_._3).sum
    Seq(
      if (n != exp.coins) Some(s"read back $n rows, decode has ${exp.coins}") else None,
      if (h != exp.contentHash) Some(f"content hash $h%016x != decode ${exp.contentHash}%016x") else None,
      if (unsorted > 0) Some(s"$unsorted rows out of script order within their file") else None,
    ).flatten
  }

  def lookupRows(got: Seq[LookupRow], key: Array[Byte], exp: Expected): Seq[String] = {
    val want = exp.rowsByScript.getOrElse(key.toSeq, Nil)
    if (got.sorted(rowOrder) == want) Nil
    else Seq(s"lookup ${Hex.encode(key)}: ${got.size} rows, expected ${want.size}")
  }
}
