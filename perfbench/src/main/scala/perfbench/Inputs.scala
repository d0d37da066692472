package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.codec.{ByteReader, Coin, SnapshotCodec, SnapshotGen}

/** Seeded benchmark inputs, cached under `<work>/inputs` by (generator
  * version, seed, size) and published with a temp file + atomic rename,
  * so an interrupted run never leaves a truncated input behind.
  */
object Inputs {
  /** Bump when the snapshot byte stream for a given (seed, size) changes. */
  val GenVersion = 1

  /** Every 40,000th coin carries this fixed p2pkh script: one heavily
    * reused address, the shape of the reference README's headline query
    * (same injection as graft.tools.LargeQueryBench).
    */
  val HotEvery = 40000
  val HotScript: Array[Byte] = graft.tools.LargeQueryBench.HotScript

  /** Cached snapshots kept per directory; older ones are deleted. */
  private val KeepSnapshots = 6

  def snapshot(work: File, seed: Long, coins: Int): File = {
    val dir = new File(work, "inputs")
    dir.mkdirs()
    val f = new File(dir, s"snap-g$GenVersion-s$seed-n$coins.bin")
    if (!f.isFile) {
      val tmp = File.createTempFile(f.getName, ".tmp", dir)
      try {
        val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 1 << 20)
        try SnapshotGen.writeSynthetic(out, coins, seed, hotEvery = HotEvery, hotScript = HotScript)
        finally out.close()
        Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
      } finally tmp.delete()
    }
    f.setLastModified(System.currentTimeMillis()) // recency for pruning
    prune(dir, f)
    f
  }

  private def prune(dir: File, keep: File): Unit = {
    val snaps = dir.listFiles().filter(g => g.getName.startsWith("snap-") && g.getName.endsWith(".bin"))
      .sortBy(-_.lastModified())
    snaps.drop(KeepSnapshots).filterNot(_ == keep).foreach { g =>
      g.delete()
      new File(g.getPath + graft.codec.SnapshotIndexer.SidecarSuffix).delete()
    }
  }

  /** Sequential single-thread decode of a whole snapshot. */
  def decodeAll(snap: File, renderTxid: Boolean = true): (Long, Iterator[Coin], () => Unit) = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(snap), 1 << 20)
    val r = new ByteReader(in)
    val h = SnapshotCodec.readHeader(r)
    (h.numUtxos, SnapshotCodec.coins(r, h.numUtxos, renderTxid), () => in.close())
  }
}

/** What the sequential decode says the outputs must contain. */
final case class Expected(
    coins: Long,
    contentHash: Long,
    rowsByScript: Map[Seq[Byte], Seq[Checks.LookupRow]],
    pointKeys: IndexedSeq[Array[Byte]],
    p2shCount: Long,
    p2shHeightSum: Long,
    p2shMaxAmount: Long)

object Expected {
  /** One sequential decode: the order-insensitive content hash, the
    * rows of every drawn point key and of the hot key, and the p2sh
    * aggregate (count, sum of heights, max amount). Point keys are drawn from the coin positions by `seed`.
    */
  def of(snap: File, seed: Long, nPointKeys: Int): Expected = {
    val (n, coins, close) = Inputs.decodeAll(snap)
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val picks = Iterator.continually(rnd.nextLong(n)).distinct.take(nPointKeys).toSet
    val wanted = scala.collection.mutable.Map.empty[Seq[Byte], scala.collection.mutable.ArrayBuffer[Checks.LookupRow]]
    val all = scala.collection.mutable.ArrayBuffer.empty[Coin]
    var hash = 0L
    var count = 0L
    var p2shN = 0L
    var p2shHeights = 0L
    var p2shMax = Long.MinValue
    try coins.foreach { c =>
      hash += Checks.coinHash(c.txid, c.vout, c.height, c.coinbase, c.amount, c.script)
      if (picks.contains(count) && !java.util.Arrays.equals(c.script, Inputs.HotScript))
        wanted.getOrElseUpdate(c.script.toSeq, scala.collection.mutable.ArrayBuffer.empty)
      if (Checks.isP2sh(c.script)) { p2shN += 1; p2shHeights += c.height; p2shMax = math.max(p2shMax, c.amount) }
      all += c
      count += 1
    } finally close()
    wanted.getOrElseUpdate(Inputs.HotScript.toSeq, scala.collection.mutable.ArrayBuffer.empty)
    all.foreach { c =>
      wanted.get(c.script.toSeq).foreach(_ += Checks.LookupRow(c.txid, c.vout, c.amount, c.height))
    }
    val rows = wanted.map { case (k, v) => k -> v.toSeq.sorted(Checks.rowOrder) }.toMap
    val keys = rows.keys.filterNot(_ == Inputs.HotScript.toSeq).map(_.toArray).toIndexedSeq
      .sortBy(k => graft.codec.Hex.encode(k))
    Expected(count, hash, rows, keys, p2shN, p2shHeights, p2shMax)
  }
}
