package graft.codec

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, InputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Two-pass parallel-scan support for the (otherwise unsplittable)
  * snapshot stream: pass 1 skip-parses the varint structure — no coin
  * materialization, no script decompression, no hex — recording clean
  * split points at txid-group boundaries; pass 2 (the DSv2 partitions)
  * decodes each [offset, nCoins) range independently and in parallel.
  *
  * This replaces the single-reader + full-data `repartition` shuffle
  * with zero shuffled bytes: at 100 TB the shuffle IS the convert cost,
  * so indexing (a single sequential pass over compressed-size varints)
  * wins by orders of magnitude. Measured on a 500K-coin, 23.9 MB
  * snapshot from the page cache (4-vCPU host, JDK 17): 0.036 s, i.e.
  * about 14M coins/s or 670 MB/s on one thread, 2.4x the one-thread
  * full decode (5.9M coins/s with txid hex). Split state is trivially clean
  * at group boundaries (`coins_per_hash_left == 0`, the same run-length
  * state machine as `/root/reference/src/main.rs:221-230`).
  *
  * The index pass itself is kept off the driver's critical path two ways:
  *  - **sidecar**: a successful index writes `<snapshot>.graftidx` next
  *    to the snapshot (best-effort, atomic rename, fingerprinted by the
  *    snapshot's length+mtime). Every later scan — same session, new
  *    session, different cluster — loads splits from the sidecar in
  *    O(splits) instead of re-walking the bytes. Splits indexed at a
  *    finer `coinsPerSplit` serve any coarser request by merging
  *    adjacent ranges (group-boundary cleanliness is preserved), so one
  *    sidecar amortizes across differently-sized scans.
  *  - **distributed indexing**: [[indexAll]] runs the pass for files
  *    with no valid sidecar as a one-task-per-file Spark job, so an
  *    N-file snapshot directory indexes with N-way parallelism and the
  *    bytes stream executor-side; the driver only collects the (tiny)
  *    split lists. Single-file snapshots still pay one sequential pass
  *    — the format forbids splitting an unindexed file — but only once,
  *    ever, thanks to the sidecar.
  */
object SnapshotIndexer {

  /** One independently-decodable range: byte offset of a txid-group
    * start and the number of coins until the next split (or EOF).
    */
  final case class Split(offset: Long, nCoins: Long)

  /** Sidecar filename suffix; [[graft.sources.UtxoTable.expand]] must
    * (and does) exclude these when listing snapshot directories.
    */
  val SidecarSuffix = ".graftidx"

  private val SidecarMagic = 0x47465458 // "GFTX"
  private val SidecarVersion = 1

  /** Count of full skip-parse passes actually executed (test hook:
    * proves sidecar/memo hits do NOT re-walk the snapshot bytes).
    */
  private[graft] val uncachedPasses = new java.util.concurrent.atomic.AtomicLong

  /** Skip one coin's body (vout + code + amount + script). Varints must
    * be walked byte-by-byte; script payloads are skipped in bulk.
    */
  private def skipCoin(r: ByteReader): Unit = {
    Varint.readCompactSize(r) // vout
    Varint.readCoreVarint(r) // height/coinbase code
    Varint.readCoreVarint(r) // compressed amount
    val len = Varint.readCoreVarint(r)
    if (len < ScriptCodec.SpecialScripts) {
      r.skipFully(if (len <= 1) 20 else 32)
    } else {
      // Long-safe skip: matches decode(), incl. the oversized-script
      // OP_RETURN case, which consumes the same byte count
      r.skipFully(len - ScriptCodec.SpecialScripts)
    }
  }

  // JVM-local memo: the same immutable snapshot is indexed for sampling,
  // planning, and re-reads; key includes size+mtime so a replaced file
  // re-indexes. Value carries the granularity it was indexed at —
  // coarser requests merge, finer requests re-index.
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), (SnapshotHeader, Seq[Split], Long)]()

  private[graft] def clearMemo(): Unit = memo.clear()

  /** Merge contiguous fine-grained splits into ranges of at most
    * `coinsPerSplit` coins: a range closes before the split that would
    * take it past the target, so only a fine split that is itself larger
    * stays larger. Fine splits cut at group boundaries, so any
    * concatenation of adjacent fine splits is also group-aligned and
    * independently decodable (sidecars written by the older ≥ rule
    * included). Identity when the input granularity equals the target.
    */
  private[graft] def mergeSplits(fine: Seq[Split], coinsPerSplit: Long): Seq[Split] = {
    val out = Vector.newBuilder[Split]
    var off = -1L
    var n = 0L
    fine.foreach { s =>
      if (n > 0 && n + s.nCoins > coinsPerSplit) { out += Split(off, n); n = 0L }
      if (n == 0) off = s.offset
      n += s.nCoins
    }
    if (n > 0) out += Split(off, n)
    out.result()
  }

  /** Index a snapshot file into splits of at most `coinsPerSplit` coins
    * (a split is larger only when its one txid group is; memoized per
    * file identity; sidecar-cached per cluster). Reads
    * through the Hadoop FileSystem API so snapshots on HDFS/S3/file://
    * all index identically — at 100 TB the snapshot lives on a
    * distributed store, not a driver-local path. Pass the session's
    * `hadoopConfiguration` to pick up cluster FS settings; the default
    * resolves `file://`.
    */
  def index(file: String, coinsPerSplit: Long = 64L * 1024,
      conf: Configuration = new Configuration(),
      sidecar: Boolean = true): (SnapshotHeader, Seq[Split]) = {
    val p = new Path(file)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val entry = cachedEntry(file, p, st, coinsPerSplit, conf, sidecar).getOrElse {
      val key = (file, st.getLen, st.getModificationTime)
      val (h, sp) = indexUncached(p, coinsPerSplit, conf)
      if (sidecar) tryWriteSidecar(p, st, coinsPerSplit, h, sp, conf)
      val e = (h, sp, coinsPerSplit)
      memo.put(key, e)
      e
    }
    (entry._1, mergeSplits(entry._2, coinsPerSplit))
  }

  /** The ONE memo-then-sidecar cache resolution (shared by [[index]]
    * and [[indexAll]]): a memo or sidecar entry serves a request iff it
    * was indexed at the same or finer granularity; a sidecar hit seeds
    * the memo. Returns None when neither cache can serve.
    */
  private def cachedEntry(file: String, p: Path, st: org.apache.hadoop.fs.FileStatus,
      coinsPerSplit: Long, conf: Configuration,
      sidecar: Boolean): Option[(SnapshotHeader, Seq[Split], Long)] = {
    val key = (file, st.getLen, st.getModificationTime)
    Option(memo.get(key)).filter(_._3 <= coinsPerSplit)
      .orElse {
        val loaded =
          if (sidecar) readSidecar(p, st, conf).filter(_._3 <= coinsPerSplit) else None
        loaded.foreach(e => memo.put(key, e))
        loaded
      }
  }

  /** Index many snapshot files, preferring (in order) the JVM memo, a
    * valid sidecar, and finally a one-task-per-file Spark job (when a
    * session is active) so the skip-parse passes run executor-side and
    * in parallel — the driver never streams snapshot bytes for
    * multi-file inputs. Falls back to sequential driver-side indexing
    * with no active session (plain library use).
    */
  def indexAll(files: Seq[String], coinsPerSplit: Long,
      conf: Configuration): Map[String, (SnapshotHeader, Seq[Split])] = {
    val cached = files.flatMap { f =>
      try {
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        cachedEntry(f, p, st, coinsPerSplit, conf, sidecar = true)
          .map(e => f -> ((e._1, mergeSplits(e._2, coinsPerSplit))))
      } catch { case _: Exception => None }
    }.toMap
    val missing = files.filterNot(cached.contains)
    val fresh: Map[String, (SnapshotHeader, Seq[Split])] =
      if (missing.isEmpty) Map.empty
      else SparkSession.getActiveSession match {
        case Some(s) =>
          val ser = new SerializableConfiguration(conf)
          val cps = coinsPerSplit
          val out = s.sparkContext
            .parallelize(missing, missing.size)
            .map(f => (f, index(f, cps, ser.value)))
            .collect().toMap
          // seed the driver memo: in cluster mode the executors' memos
          // and sidecars are remote, but the collected splits are here
          out.foreach { case (f, (h, sp)) =>
            try {
              val p = new Path(f)
              val st = p.getFileSystem(conf).getFileStatus(p)
              memo.put((f, st.getLen, st.getModificationTime), (h, sp, cps))
            } catch { case _: Exception => () }
          }
          out
        case None =>
          missing.map(f => f -> index(f, coinsPerSplit, conf)).toMap
      }
    cached ++ fresh
  }

  /** Parse only the fixed-size snapshot header (~100 bytes): the cheap
    * way to learn `numUtxos`/network for logging and split sizing —
    * never triggers, and never needs, a full index pass.
    */
  def readHeaderOnly(file: String, conf: Configuration): SnapshotHeader = {
    val in = open(file, conf)
    try SnapshotCodec.readHeader(new ByteReader(in))
    finally in.close()
  }

  def sidecarPath(file: String): Path = new Path(file + SidecarSuffix)

  /** Load and validate a sidecar: magic/version plus the snapshot's
    * (length, mtime) fingerprint recorded at index time. Any mismatch,
    * truncation, or IO error reads as "no sidecar" — the caller falls
    * back to a fresh pass and overwrites. Returns the stored
    * granularity so callers can reject too-coarse indexes.
    */
  private def readSidecar(p: Path, st: FileStatus,
      conf: Configuration): Option[(SnapshotHeader, Seq[Split], Long)] = {
    val sc = sidecarPath(p.toString)
    val fs = fsFor(p, conf)
    try {
      if (!fs.exists(sc)) return None
      val in = new DataInputStream(new BufferedInputStream(fs.open(sc), 1 << 16))
      try {
        if (in.readInt() != SidecarMagic || in.readInt() != SidecarVersion) return None
        val (len, mtime) = (in.readLong(), in.readLong())
        if (len != st.getLen || mtime != st.getModificationTime) return None
        val indexedCps = in.readLong()
        val header = SnapshotHeader(in.readInt(), in.readLong(), in.readUTF(), in.readLong())
        val n = in.readInt()
        require(n >= 0 && n <= 512 * 1024 * 1024, s"implausible sidecar split count $n")
        val splits = Vector.newBuilder[Split]
        splits.sizeHint(n)
        var i = 0
        while (i < n) { splits += Split(in.readLong(), in.readLong()); i += 1 }
        Some((header, splits.result(), indexedCps))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Best-effort sidecar publish: write to a temp name, atomic-rename
    * into place. A read-only snapshot directory (or any IO failure)
    * just skips the cache — correctness never depends on the sidecar.
    */
  private def tryWriteSidecar(p: Path, st: FileStatus, coinsPerSplit: Long,
      header: SnapshotHeader, splits: Seq[Split], conf: Configuration): Unit = {
    val fs = fsFor(p, conf)
    val dest = sidecarPath(p.toString)
    val tmp = new Path(dest.toString + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    try {
      val out = new DataOutputStream(fs.create(tmp, true))
      try {
        out.writeInt(SidecarMagic)
        out.writeInt(SidecarVersion)
        out.writeLong(st.getLen)
        out.writeLong(st.getModificationTime)
        out.writeLong(coinsPerSplit)
        out.writeInt(header.version)
        out.writeLong(header.networkMagic)
        out.writeUTF(header.blockHashHex)
        out.writeLong(header.numUtxos)
        out.writeInt(splits.size)
        splits.foreach { s => out.writeLong(s.offset); out.writeLong(s.nCoins) }
      } finally out.close()
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
    } catch {
      case _: Exception =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
    }
  }

  /** Resolve the FS for a path, unwrapping the client-side CRC layer:
    * `LocalFileSystem` re-reads every byte through a software CRC32
    * (plus a `.crc` side file that never exists for snapshots), which
    * halves decode throughput for zero integrity gain here. HDFS/S3
    * checksum at the block/object layer natively and are unaffected.
    */
  def fsFor(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** Open a snapshot (optionally at a byte offset) via the Hadoop FS —
    * shared by the indexer, the DSv2 partition readers, and the
    * convert-side bounds sampler. The stream is unbuffered: wrap it in
    * a [[ByteReader]], which is the one buffer on the decode path.
    */
  def open(file: String, conf: Configuration, offset: Long = 0L): InputStream = {
    val p = new Path(file)
    val s = fsFor(p, conf).open(p)
    if (offset > 0) s.seek(offset)
    s
  }

  /** One skip-parse pass: splits of at most `coinsPerSplit` coins, each
    * starting at a txid-group boundary; a group that alone exceeds the
    * target is a split of its own.
    */
  private def indexUncached(p: Path, coinsPerSplit: Long,
      conf: Configuration): (SnapshotHeader, Seq[Split]) = {
    uncachedPasses.incrementAndGet()
    val in = open(p.toString, conf)
    try {
      val r = new ByteReader(in)
      val header = SnapshotCodec.readHeader(r)
      val splits = Vector.newBuilder[Split]
      var splitStart = r.bytesRead
      var splitCoins = 0L
      var remaining = header.numUtxos
      while (remaining > 0) {
        // group boundary: cut here if this group would take the split
        // past `coinsPerSplit`, so a split (one plain-convert file) never
        // outgrows a 64Ki-row row group by a few coins
        val groupStart = r.bytesRead
        r.skipFully(32) // txid
        var inGroup = Varint.readCompactSize(r)
        require(inGroup > 0, "empty txid coin group")
        if (splitCoins > 0 && splitCoins + inGroup > coinsPerSplit) {
          splits += Split(splitStart, splitCoins)
          splitStart = groupStart
          splitCoins = 0L
        }
        remaining -= inGroup
        splitCoins += inGroup
        while (inGroup > 0) { skipCoin(r); inGroup -= 1 }
      }
      if (splitCoins > 0) splits += Split(splitStart, splitCoins)
      (header, splits.result())
    } finally in.close()
  }
}
