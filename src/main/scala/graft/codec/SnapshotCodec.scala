package graft.codec

import java.io.InputStream
import java.nio.charset.StandardCharsets

/** One decoded unspent output — the row the engine's `utxo` source emits.
  * Mirrors the output relation of the reference
  * (`/root/reference/src/main.rs:199-206`): txid is 64-char lowercase hex
  * in byte-reversed (display) order; amount is satoshis.
  */
final case class Coin(
    txid: String,
    vout: Long,
    height: Long,
    coinbase: Boolean,
    amount: Long,
    script: Array[Byte])

/** Parsed `dumptxoutset` v2 header (`/root/reference/src/main.rs:171-196`). */
final case class SnapshotHeader(
    version: Int,
    networkMagic: Long,
    blockHashHex: String,
    numUtxos: Long) {

  /** Human-readable network, from the little-endian message-start magic
    * (the reference logs the `Network` it resolves,
    * `/root/reference/src/main.rs:182,194`). Values are Bitcoin Core's
    * public chainparams message starts.
    */
  def networkName: String = networkMagic match {
    case 0xd9b4bef9L => "mainnet"
    case 0x0709110bL => "testnet3"
    case 0x283f161cL => "testnet4"
    case 0x40cf030aL => "signet"
    case 0xdab5bffaL => "regtest"
    case m => f"unknown(0x$m%08x)"
  }
}

object SnapshotCodec {
  private val Magic: Array[Byte] = Array('u', 't', 'x', 'o', 0xff.toByte).map(_.toByte)

  def magicBytes: Array[Byte] = Magic.clone()

  /** Read and validate the 51-byte snapshot header. */
  def readHeader(r: ByteReader): SnapshotHeader = {
    val magic = r.readFully(5)
    require(java.util.Arrays.equals(magic, Magic),
      s"bad snapshot magic: ${Hex.encode(magic)}")
    val version = r.readU16LE()
    // v2 is the only layout this codec (and the reference) understands;
    // a future dumptxoutset version with the same magic must fail here
    // with a named error, not misparse the body downstream
    require(version == 2, s"unsupported snapshot version $version (expected 2)")
    val networkMagic = r.readU32LE()
    val blockHash = r.readFully(32)
    val numUtxos = r.readU64LE()
    SnapshotHeader(version, networkMagic, TxidHex.render(blockHash), numUtxos)
  }

  /** Stream all coins of a snapshot body. Maintains the run-length txid
    * group state (`/root/reference/src/main.rs:221-230`): a 32-byte txid +
    * CompactSize coin count, then per coin a CompactSize vout followed by
    * the compressed coin (code varint, amount varint, script).
    */
  def coins(r: ByteReader, header: SnapshotHeader): Iterator[Coin] =
    coins(r, header.numUtxos)

  /** Range variant: read exactly `total` coins starting at a txid-group
    * boundary (used by indexed parallel scans, [[SnapshotIndexer]]).
    * With `renderTxid = false` (pruned scans) the per-group hex render
    * is skipped entirely and `Coin.txid` is null.
    */
  def coins(r: ByteReader, total: Long, renderTxid: Boolean = true): Iterator[Coin] =
    new Iterator[Coin] {
      private var remaining = total
      private var coinsLeftInGroup = 0L
      private var txidHex: String = null

      override def hasNext: Boolean = remaining > 0

      override def next(): Coin = {
        if (remaining <= 0) throw new NoSuchElementException
        if (coinsLeftInGroup == 0) {
          val rawTxid = r.readFully(32)
          txidHex = if (renderTxid) TxidHex.render(rawTxid) else null
          coinsLeftInGroup = Varint.readCompactSize(r)
          require(coinsLeftInGroup > 0, "empty txid coin group")
        }
        val vout = Varint.readCompactSize(r)
        val code = Varint.readCoreVarint(r)
        val height = code >>> 1
        val coinbase = (code & 1) != 0
        val amount = AmountCodec.decompress(Varint.readCoreVarint(r))
        val script = ScriptCodec.decode(r)
        coinsLeftInGroup -= 1
        remaining -= 1
        Coin(txidHex, vout, height, coinbase, amount, script)
      }
    }

  /** Convenience: full decode of a snapshot stream. */
  def decode(in: InputStream): (SnapshotHeader, Iterator[Coin]) = {
    val r = new ByteReader(in)
    val header = readHeader(r)
    (header, coins(r, header))
  }
}

/** Hash rendering per Bitcoin display convention: the 32 stored bytes are
  * reversed, then lowercase-hex encoded (the reference gets this from
  * `Txid`'s `Display`, `/root/reference/src/main.rs:232`).
  */
object TxidHex {
  def render(raw32: Array[Byte]): String = Hex.latin1(raw32, reversed = true)

  /** Inverse of [[render]] — test-side, for fixture generation. */
  def parse(hex64: String): Array[Byte] = Hex.decode(hex64).reverse
}

/** Unsigned-lexicographic byte ordering (parquet/Spark binary order).
  * A serializable function object so Spark closures can use it without
  * capturing an enclosing scope.
  */
object UnsignedBytes extends ((Array[Byte], Array[Byte]) => Int) with Serializable {
  override def apply(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

object Hex {

  /** The two lowercase ASCII digits of every byte value, high nibble
    * first: entry `2 * b` and `2 * b + 1` for byte `b`.
    */
  private val pairs: Array[Byte] = {
    val digits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)
    val t = new Array[Byte](512)
    var b = 0
    while (b < 256) { t(2 * b) = digits(b >>> 4); t(2 * b + 1) = digits(b & 0x0f); b += 1 }
    t
  }

  /** The one hex kernel behind [[encode]] and [[TxidHex.render]]: two
    * table lookups per byte into a `byte[]` that becomes a Latin-1
    * `String` in one copy. `reversed` renders the last byte first.
    */
  private[codec] def latin1(bytes: Array[Byte], reversed: Boolean): String = {
    val n = bytes.length
    val out = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val b = (bytes(if (reversed) n - 1 - i else i) & 0xff) << 1
      out(2 * i) = pairs(b)
      out(2 * i + 1) = pairs(b + 1)
      i += 1
    }
    new String(out, StandardCharsets.ISO_8859_1)
  }

  def encode(bytes: Array[Byte]): String = latin1(bytes, reversed = false)

  def decode(hex: String): Array[Byte] = {
    require(hex.length % 2 == 0, "odd-length hex string")
    val out = new Array[Byte](hex.length / 2)
    var i = 0
    while (i < out.length) {
      // per-nibble Character.digit, not parseInt: parseInt accepts sign
      // characters, so "+f" would silently decode as 0x0f instead of
      // rejecting the malformed string
      val hi = Character.digit(hex.charAt(2 * i), 16)
      val lo = Character.digit(hex.charAt(2 * i + 1), 16)
      require(hi >= 0 && lo >= 0, s"non-hex character in: $hex")
      out(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    out
  }
}
