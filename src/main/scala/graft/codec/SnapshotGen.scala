package graft.codec

import java.io.OutputStream

/** Encoder for the `dumptxoutset` v2 binary format — the exact inverse of
  * [[SnapshotCodec]]. The reference has no encoder (it only reads
  * snapshots produced by Bitcoin Core); this one exists so tests and
  * benchmarks can fabricate deterministic byte-exact snapshots
  * (FIXTURES.md §A) without a bitcoind.
  */
object SnapshotGen {
  val MainnetMagic: Long = 0xd9b4bef9L // f9 be b4 d9 little-endian

  /** One txid group: display-order txid hex + its coins (vout, height,
    * coinbase, amount-in-satoshis, full scriptPubKey bytes).
    */
  final case class Group(txidHex: String, coins: Seq[GenCoin])
  final case class GenCoin(vout: Long, height: Long, coinbase: Boolean, amount: Long, script: Array[Byte])

  private def writeHeader(out: OutputStream, version: Int, networkMagic: Long,
      blockHashHex: String, numUtxos: Long): Unit = {
    out.write(SnapshotCodec.magicBytes)
    out.write(Array(version.toByte, (version >>> 8).toByte))
    var i = 0
    while (i < 4) { out.write(((networkMagic >>> (8 * i)) & 0xff).toInt); i += 1 }
    out.write(TxidHex.parse(blockHashHex))
    i = 0
    while (i < 8) { out.write(((numUtxos >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  def write(out: OutputStream, groups: Seq[Group],
            blockHashHex: String = "00" * 32,
            networkMagic: Long = MainnetMagic,
            version: Int = 2): Long = {
    val numUtxos = groups.map(_.coins.size.toLong).sum
    writeHeader(out, version, networkMagic, blockHashHex, numUtxos)
    groups.foreach { g =>
      require(g.coins.nonEmpty, "txid group must have at least one coin")
      out.write(TxidHex.parse(g.txidHex))
      out.write(Varint.writeCompactSize(g.coins.size.toLong))
      g.coins.foreach { c =>
        out.write(Varint.writeCompactSize(c.vout))
        out.write(Varint.writeCoreVarint((c.height << 1) | (if (c.coinbase) 1L else 0L)))
        out.write(Varint.writeCoreVarint(AmountCodec.compress(c.amount)))
        out.write(ScriptCodec.compressForFixture(c.script))
      }
    }
    numUtxos
  }

  /** One seeded txid (32 bytes, display order). */
  private def genTxid(rnd: scala.util.Random): Array[Byte] =
    Array.fill(32)(rnd.nextInt(256).toByte)

  /** One seeded coin (script, amount, height, coinbase) — the SINGLE
    * RNG-consumption order shared by [[synthetic]] and
    * [[writeSynthetic]], so one seed produces one snapshot byte stream
    * regardless of which generator materialized it. (They previously
    * diverged on txid generation: nextBytes vs 32× nextInt — same seed,
    * byte-different snapshots.)
    */
  private def genCoin(rnd: scala.util.Random, vout: Long): GenCoin = {
    val script = rnd.nextInt(10) match {
      case 0 | 1 | 2 => ScriptCodec.decompress(0, Array.fill(20)(rnd.nextInt(256).toByte)) // p2pkh
      case 3 | 4     => ScriptCodec.decompress(1, Array.fill(20)(rnd.nextInt(256).toByte)) // p2sh
      case 5         => // p2wpkh (raw path)
        Array[Byte](0, 20) ++ Array.fill(20)(rnd.nextInt(256).toByte)
      case 6         => // p2tr (raw path)
        Array[Byte](0x51, 32) ++ Array.fill(32)(rnd.nextInt(256).toByte)
      case 7         => // op_return (raw path)
        Array[Byte](0x6a.toByte, 8) ++ Array.fill(8)(rnd.nextInt(256).toByte)
      case _         => // compressed p2pk (x can be arbitrary: types 2/3 skip curve math)
        ScriptCodec.decompress(2 + rnd.nextInt(2), Array.fill(32)(rnd.nextInt(256).toByte))
    }
    val amount = rnd.nextInt(5) match {
      case 0 => 0L
      case 1 => 546L
      case 2 => math.abs(rnd.nextLong()) % 2100000000000000L
      case 3 => math.pow(10, rnd.nextInt(12)).toLong
      case _ => 1L + rnd.nextInt(100000000)
    }
    GenCoin(vout, rnd.nextInt(900000).toLong, rnd.nextInt(50) == 0, amount, script)
  }

  /** Streaming variant of [[synthetic]]+[[write]]: generates and writes
    * `n` coins without materializing the group list (used by the convert
    * benchmark at millions of rows). Byte-identical to
    * `write(out, synthetic(n, seed))` for the same seed. Returns the
    * number of coins written.
    */
  def writeSynthetic(out: OutputStream, n: Int, seed: Long = 42L,
      blockHashHex: String = "00" * 32,
      hotEvery: Int = 0, hotScript: Array[Byte] = null): Long = {
    val rnd = new scala.util.Random(seed)
    writeHeader(out, 2, MainnetMagic, blockHashHex, n.toLong)
    var made = 0
    while (made < n) {
      val txid = genTxid(rnd)
      val k = math.min(n - made, 1 + rnd.nextInt(3))
      out.write(txid)
      out.write(Varint.writeCompactSize(k.toLong))
      var j = 0
      while (j < k) {
        // hot-key injection (`Scale lookup`): every `hotEvery`-th coin
        // carries the FIXED `hotScript` instead of its generated one —
        // a heavily-reused address, the reference README's headline
        // query shape (4407 rows for one dust address at 177.5M coins).
        // The rng stream is untouched (the coin is generated first), so
        // hotEvery=0 stays byte-identical to the pre-hot generator.
        val c0 = genCoin(rnd, j.toLong)
        val c = if (hotEvery > 0 && (made + j) % hotEvery == hotEvery - 1)
          c0.copy(script = hotScript) else c0
        out.write(Varint.writeCompactSize(c.vout))
        out.write(Varint.writeCoreVarint((c.height << 1) | (if (c.coinbase) 1L else 0L)))
        out.write(Varint.writeCoreVarint(AmountCodec.compress(c.amount)))
        out.write(ScriptCodec.compressForFixture(c.script))
        j += 1
      }
      made += k
    }
    n.toLong
  }

  /** Deterministic pseudo-random snapshot of `n` coins (seeded), covering
    * all script classes and amount shapes; used by the convert benchmark.
    */
  def synthetic(n: Int, seed: Long = 42L): Seq[Group] = {
    val rnd = new scala.util.Random(seed)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var made = 0
    while (made < n) {
      val txid = genTxid(rnd)
      val k = math.min(n - made, 1 + rnd.nextInt(3))
      val coins = (0 until k).map(j => genCoin(rnd, j.toLong))
      groups += Group(TxidHex.render(txid), coins)
      made += k
    }
    groups.toSeq
  }
}
