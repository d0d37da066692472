package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.codec.{ByteReader, SnapshotCodec, SnapshotIndexer}

/** DataSource V2 provider for Bitcoin Core `dumptxoutset` v2 snapshots
  * (SURVEY.md §2.1 R1): `spark.read.format("utxo").load(path)`.
  *
  * The stream is run-length + varint delimited with carried txid-group
  * state (`/root/reference/src/main.rs:221-230`, SURVEY.md §1.3), so a
  * snapshot cannot be split at arbitrary byte offsets. Parallelism
  * strategy, in order:
  *  - **indexed two-pass scan (default)**: a fast skip-parse pass
  *    ([[SnapshotIndexer]]) finds txid-group boundaries and plans one
  *    InputPartition per ~`coinsPerSplit` coins — N parallel decoders,
  *    zero shuffle;
  *  - `option("index", "false")`: one partition per snapshot file
  *    (multi-file directories still parallelize per-file);
  *    downstream `repartition` then distributes.
  *
  * Column pruning is pushed into the reader: decode still walks every
  * byte (stream format), but unneeded output columns — notably the txid
  * hex render — are never materialized.
  */
class UtxoDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "utxo"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = UtxoTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("utxo source requires a path"))
    new UtxoTable(path)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object UtxoTable {
  val Schema: StructType = StructType(Seq(
    StructField("txid", StringType, nullable = false),
    StructField("vout", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("coinbase", BooleanType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("script", BinaryType, nullable = false)))

  /** A path may be one snapshot file or a directory of snapshots —
    * resolved through the Hadoop FileSystem of the path's scheme
    * (`file://`, `hdfs://`, `s3a://`, ...), so a 100 TB snapshot on a
    * distributed store lists and reads the same as a local file.
    */
  def expand(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    def isSnapshot(name: String): Boolean =
      !name.startsWith(".") && !name.startsWith("_") &&
        !name.endsWith(SnapshotIndexer.SidecarSuffix) && !name.contains(".tmp-")
    if (st.isDirectory)
      fs.listStatus(p).filter(s => s.isFile && isSnapshot(s.getPath.getName))
        .map(_.getPath.toString).sorted.toSeq
    else Seq(st.getPath.toString)
  }

  /** Driver-side Hadoop conf (session-aware when a session is active). */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}

class UtxoTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"utxo(`$path`)"
  override def schema(): StructType = UtxoTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val indexed = options.getBoolean("index", true)
    val coinsPerSplit = options.getLong("coinsPerSplit", 64L * 1024)
    new UtxoScanBuilder(path, indexed, coinsPerSplit)
  }
}

class UtxoScanBuilder(path: String, indexed: Boolean, coinsPerSplit: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = UtxoTable.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }
  override def build(): Scan = new UtxoScan(path, required, indexed, coinsPerSplit)
}

class UtxoScan(path: String, required: StructType, indexed: Boolean, coinsPerSplit: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"UtxoScan(path=$path, indexed=$indexed, columns=${required.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = UtxoTable.hadoopConf()
    val files = UtxoTable.expand(path, conf)
    if (!indexed) {
      files.map(f => UtxoInputPartition(f, -1L, -1L): InputPartition).toArray
    } else {
      // memo/sidecar hits resolve driver-side in O(splits); files with
      // no valid sidecar index executor-side, one task per file — the
      // driver never serializes on streaming snapshot bytes
      val indexed = SnapshotIndexer.indexAll(files, coinsPerSplit, conf)
      files.flatMap { file =>
        indexed(file)._2.map(s => UtxoInputPartition(file, s.offset, s.nCoins): InputPartition)
      }.toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new UtxoReaderFactory(required.fieldNames,
      new SerializableConfiguration(UtxoTable.hadoopConf()))
}

/** offset = -1 → whole file (parse header); else a group-aligned range. */
case class UtxoInputPartition(file: String, offset: Long, nCoins: Long) extends InputPartition

class UtxoReaderFactory(columns: Array[String], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[UtxoInputPartition]
    new UtxoPartitionReader(p.file, p.offset, p.nCoins, columns, conf.value)
  }
}

/** Streaming one-pass decode of a snapshot range into InternalRows.
  * Opens through the Hadoop FS (seekable on every scheme), so executors
  * read snapshot ranges directly from HDFS/S3 — no driver-local path
  * assumption (the 100 TB deployment shape).
  */
class UtxoPartitionReader(file: String, offset: Long, nCoins: Long, columns: Array[String],
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val in = SnapshotIndexer.open(file, conf, math.max(offset, 0L))
  private val reader = new ByteReader(in)
  private val renderTxid = columns.contains("txid")
  private val coins: Iterator[graft.codec.Coin] =
    if (offset < 0) {
      val header = SnapshotCodec.readHeader(reader)
      SnapshotCodec.coins(reader, header.numUtxos, renderTxid)
    } else {
      SnapshotCodec.coins(reader, nCoins, renderTxid)
    }

  // the coins of one txid group share one `txid` String instance
  // (SnapshotCodec.coins): encode it once per group, not once per coin
  private var txidHex: String = null
  private var txidUtf8: UTF8String = null
  private def txid(hex: String): UTF8String = {
    if (hex ne txidHex) { txidHex = hex; txidUtf8 = UTF8String.fromString(hex) }
    txidUtf8
  }

  // pruned projection: precompute the per-column writers once
  private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(columns.length)
  private val setters: Array[graft.codec.Coin => Any] = columns.map {
    case "txid" => (c: graft.codec.Coin) => txid(c.txid)
    case "vout" => (c: graft.codec.Coin) => c.vout
    case "height" => (c: graft.codec.Coin) => c.height
    case "coinbase" => (c: graft.codec.Coin) => c.coinbase
    case "amount" => (c: graft.codec.Coin) => c.amount
    case "script" => (c: graft.codec.Coin) => c.script
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  override def next(): Boolean = coins.hasNext && {
    val c = coins.next()
    var i = 0
    while (i < setters.length) { row.update(i, setters(i)(c)); i += 1 }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
