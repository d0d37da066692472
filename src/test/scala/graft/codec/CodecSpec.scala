package graft.codec

import java.io.ByteArrayInputStream
import org.scalatest.funsuite.AnyFunSuite
import java.math.BigInteger

class CodecSpec extends AnyFunSuite {

  /** poor-man's property check: 500 seeded samples over [0, bound] plus edges */
  private def forSamples(bound: Long)(f: Long => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    val edges = Seq(0L, 1L, 2L, 0x7fL, 0x80L, 0xffL, 0x100L, bound - 1, bound)
    edges.foreach(f)
    (1 to 500).foreach { _ => f(math.abs(rnd.nextLong()) % (bound max 1)) }
  }

  private def reader(bytes: Array[Byte]) = new ByteReader(new ByteArrayInputStream(bytes))

  // --- varints ---------------------------------------------------------

  test("core varint: known vectors (Bitcoin Core serialize_tests)") {
    // encode(n) byte patterns from the public algorithm
    assert(Varint.writeCoreVarint(0L).toSeq == Seq(0x00.toByte))
    assert(Varint.writeCoreVarint(0x7fL).toSeq == Seq(0x7f.toByte))
    assert(Varint.writeCoreVarint(0x80L).toSeq == Seq(0x80.toByte, 0x00.toByte))
    assert(Varint.writeCoreVarint(0x1234L).toSeq == Seq(0xa3.toByte, 0x34.toByte))
    assert(Varint.readCoreVarint(reader(Array(0x80.toByte, 0x00.toByte))) == 0x80L)
  }

  test("core varint roundtrip") {
    forSamples(Long.MaxValue) { n =>
      assert(Varint.readCoreVarint(reader(Varint.writeCoreVarint(n))) == n)
    }
  }

  test("compact size roundtrip incl. width boundaries") {
    val boundaries = Seq(0L, 1L, 0xfcL, 0xfdL, 0xffffL, 0x10000L, 0xffffffffL, 0x100000000L, Long.MaxValue)
    boundaries.foreach { n =>
      assert(Varint.readCompactSize(reader(Varint.writeCompactSize(n))) == n)
    }
    forSamples(Long.MaxValue) { n =>
      assert(Varint.readCompactSize(reader(Varint.writeCompactSize(n))) == n)
    }
  }

  // --- amounts ---------------------------------------------------------

  test("amount codec: known vectors") {
    assert(AmountCodec.compress(0L) == 0L)
    assert(AmountCodec.decompress(0L) == 0L)
    // from the public CompressAmount definition: 1 sat -> 1+(0*9+1-1)*10+0 = 1
    assert(AmountCodec.compress(1L) == 1L)
    assert(AmountCodec.decompress(1L) == 1L)
    // 100000000 sat (1 BTC) = 1 * 10^8 -> e=8, d=1: 1+(0*9+0)*10+8 = 9
    assert(AmountCodec.compress(100000000L) == 9L)
    assert(AmountCodec.decompress(9L) == 100000000L)
    assert(AmountCodec.decompress(AmountCodec.compress(546L)) == 546L)
    assert(AmountCodec.decompress(AmountCodec.compress(2100000000000000L)) == 2100000000000000L)
  }

  test("amount codec roundtrip") {
    forSamples(2100000000000000L) { n =>
      assert(AmountCodec.decompress(AmountCodec.compress(n)) == n)
    }
  }

  // --- secp256k1 -------------------------------------------------------

  private val Gx = "79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798"
  private val Gy = "483ada7726a3c4655da4fbfc0e1108a8fd17b448a6855419" + "9c47d08ffb10d4b8"
  private val G2x = "c6047f9441ed7d6d3045406e95c07cd85c778e4b8cef3ca7abac09b95c709ee5"
  private val G2y = "1ae168fea63dc339a3c58419466ceaeef7f632653266d0e1236431a950cfe52a"
  private val P = new BigInteger("fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)

  test("secp256k1 decompression: generator point (even y)") {
    val got = Secp256k1.decompress(Hex.decode("02" + Gx))
    assert(Hex.encode(got) == "04" + Gx + Gy)
  }

  test("secp256k1 decompression: 2G (even y)") {
    val got = Secp256k1.decompress(Hex.decode("02" + G2x))
    assert(Hex.encode(got) == "04" + G2x + G2y)
  }

  test("secp256k1 decompression: odd-y branch (-G)") {
    val negY = P.subtract(new BigInteger(Gy, 16))
    val expected = "04" + Gx + String.format("%064x", negY)
    assert(Hex.encode(Secp256k1.decompress(Hex.decode("03" + Gx))) == expected)
  }

  test("secp256k1 rejects off-curve x") {
    // x=1: 1+7=8 is not a QR? verify requirement triggers for a known bad x.
    // x = 5 gives rhs = 132; sqrt check must fail if not a square mod p.
    val bad = Hex.decode("02" + "00" * 31 + "05")
    val rhs = BigInteger.valueOf(5).modPow(BigInteger.valueOf(3), P).add(BigInteger.valueOf(7)).mod(P)
    val y = rhs.modPow(P.add(BigInteger.ONE).shiftRight(2), P)
    val isSquare = y.multiply(y).mod(P).equals(rhs)
    if (!isSquare) assertThrows[IllegalArgumentException](Secp256k1.decompress(bad))
    else succeed // x=5 happens to be on-curve; nothing to assert
  }

  // --- scripts ---------------------------------------------------------

  test("script type 0 (p2pkh) template") {
    val h = Array.tabulate[Byte](20)(_.toByte)
    val s = ScriptCodec.decompress(0, h)
    assert(Hex.encode(s) == "76a914" + Hex.encode(h) + "88ac")
    assert(ScriptCodec.scriptType(s) == "p2pkh")
  }

  test("script type 1 (p2sh) template") {
    val h = Array.fill[Byte](20)(0x11)
    val s = ScriptCodec.decompress(1, h)
    assert(Hex.encode(s) == "a914" + Hex.encode(h) + "87")
    assert(ScriptCodec.scriptType(s) == "p2sh")
  }

  test("script types 2/3 (compressed p2pk) template") {
    val x = Array.fill[Byte](32)(0x22)
    val s2 = ScriptCodec.decompress(2, x)
    assert(Hex.encode(s2) == "21" + "02" + Hex.encode(x) + "ac")
    val s3 = ScriptCodec.decompress(3, x)
    assert(Hex.encode(s3) == "21" + "03" + Hex.encode(x) + "ac")
    assert(ScriptCodec.scriptType(s2) == "p2pk")
  }

  test("script types 4/5 (uncompressed p2pk) do secp256k1 y-recovery") {
    val x = Hex.decode(Gx)
    val s4 = ScriptCodec.decompress(4, x)
    assert(Hex.encode(s4) == "41" + "04" + Gx + Gy + "ac")
    assert(ScriptCodec.scriptType(s4) == "p2pk")
    val s5 = ScriptCodec.decompress(5, x)
    val negY = String.format("%064x", P.subtract(new BigInteger(Gy, 16)))
    assert(Hex.encode(s5) == "41" + "04" + Gx + negY + "ac")
  }

  test("raw script path (len >= 6) and classification") {
    val wpkh = Array[Byte](0, 20) ++ Array.fill[Byte](20)(0x33)
    val wire = ScriptCodec.compressForFixture(wpkh)
    val back = ScriptCodec.decode(reader(wire))
    assert(back.toSeq == wpkh.toSeq)
    assert(ScriptCodec.scriptType(wpkh) == "p2wpkh")
    assert(ScriptCodec.scriptType(Array[Byte](0x6a.toByte, 1, 0x42)) == "op_return")
  }

  test("script compress/decompress roundtrip over all fixture classes") {
    val rnd = new scala.util.Random(7)
    val scripts = Seq(
      ScriptCodec.decompress(0, Array.fill(20)(rnd.nextInt(256).toByte)),
      ScriptCodec.decompress(1, Array.fill(20)(rnd.nextInt(256).toByte)),
      ScriptCodec.decompress(2, Array.fill(32)(rnd.nextInt(256).toByte)),
      ScriptCodec.decompress(3, Array.fill(32)(rnd.nextInt(256).toByte)),
      ScriptCodec.decompress(4, Hex.decode(Gx)),
      ScriptCodec.decompress(5, Hex.decode(Gx)),
      Array[Byte](0, 32) ++ Array.fill[Byte](32)(9),
      Array[Byte](0x51, 32) ++ Array.fill[Byte](32)(7),
      Array[Byte](0x6a.toByte, 4, 1, 2, 3, 4))
    scripts.foreach { s =>
      val wire = ScriptCodec.compressForFixture(s)
      assert(ScriptCodec.decode(reader(wire)).toSeq == s.toSeq, Hex.encode(s))
    }
  }

  test("oversized raw script decodes to OP_RETURN with bytes skipped (Core semantics)") {
    val big = 20000L
    val wire = Varint.writeCoreVarint(big + 6) ++ Array.fill[Byte](big.toInt)(0x42)
    val r = reader(wire ++ Array[Byte](0x07)) // trailing byte proves position
    assert(ScriptCodec.decode(r).toSeq == Seq(0x6a.toByte))
    assert(r.readByte() == 0x07)
  }

  // --- txid hex --------------------------------------------------------

  test("txid render reverses bytes and lowercases") {
    val raw = Array.tabulate[Byte](32)(i => i.toByte)
    val hex = TxidHex.render(raw)
    assert(hex.startsWith("1f1e1d"))
    assert(hex.endsWith("020100"))
    assert(TxidHex.parse(hex).toSeq == raw.toSeq)
    // the shared hex kernel over every byte value, both directions
    val all = Array.tabulate[Byte](256)(_.toByte)
    val want = (0 until 256).map(b => f"$b%02x")
    assert(Hex.encode(all) == want.mkString)
    assert(TxidHex.render(all) == want.reverse.mkString)
    assert(Hex.encode(Array.emptyByteArray) == "")
  }

  // --- snapshot end-to-end --------------------------------------------

  test("snapshot encode/decode roundtrip with multi-coin groups") {
    val groups = SnapshotGen.synthetic(500, seed = 11L)
    val bos = new java.io.ByteArrayOutputStream()
    val n = SnapshotGen.write(bos, groups, blockHashHex = "ab" * 32)
    val (header, it) = SnapshotCodec.decode(new ByteArrayInputStream(bos.toByteArray))
    assert(header.version == 2)
    assert(header.numUtxos == n)
    assert(header.blockHashHex == "ab" * 32)
    val decoded = it.toVector
    assert(decoded.size == n)
    val flat = groups.flatMap(g => g.coins.map(c => (g.txidHex, c)))
    decoded.zip(flat).foreach { case (got, (txid, want)) =>
      assert(got.txid == txid)
      assert(got.vout == want.vout)
      assert(got.height == want.height)
      assert(got.coinbase == want.coinbase)
      assert(got.amount == want.amount)
      assert(got.script.toSeq == want.script.toSeq)
    }
  }

  test("streaming and materialized synthetic generators are byte-identical per seed") {
    // they previously diverged on txid generation (nextBytes vs 32×
    // nextInt) — same seed, byte-different snapshots, so a fixture
    // pinned against one silently didn't cover the other
    for (n <- Seq(1, 7, 500)) {
      val a = new java.io.ByteArrayOutputStream()
      SnapshotGen.writeSynthetic(a, n, seed = 99L)
      val b = new java.io.ByteArrayOutputStream()
      SnapshotGen.write(b, SnapshotGen.synthetic(n, seed = 99L))
      assert(java.util.Arrays.equals(a.toByteArray, b.toByteArray), s"diverged at n=$n")
    }
  }

  test("corrupt core varint continuation chains error instead of wrapping") {
    // 10+ max-continuation bytes push the accumulator past 64 bits;
    // Bitcoin Core's ReadVarInt throws "size too large" — wrapping to a
    // small value would misalign every later field in the stream
    val corrupt = Array.fill(11)(0xff.toByte) :+ 0x00.toByte
    intercept[java.io.IOException] { Varint.readCoreVarint(reader(corrupt)) }
    // the largest legitimate encoding still decodes
    val max = Varint.writeCoreVarint(Long.MaxValue)
    assert(Varint.readCoreVarint(reader(max)) == Long.MaxValue)
  }

  test("hex decode rejects sign characters and non-hex input") {
    intercept[IllegalArgumentException] { Hex.decode("+f") }
    intercept[IllegalArgumentException] { Hex.decode("-0") }
    intercept[IllegalArgumentException] { Hex.decode("zz") }
    assert(Hex.decode("00ff7f").toSeq == Seq(0x00.toByte, 0xff.toByte, 0x7f.toByte))
    // uppercase still accepted (Spark's hex() renders uppercase)
    assert(Hex.decode("AB").toSeq == Seq(0xab.toByte))
  }

  test("snapshot header with an unsupported version fails loudly") {
    val out = new java.io.ByteArrayOutputStream()
    SnapshotGen.write(out, SnapshotGen.synthetic(3, seed = 5L))
    val bytes = out.toByteArray
    bytes(5) = 3 // version u16 LE lives at offset 5..6
    val e = intercept[IllegalArgumentException] {
      SnapshotCodec.readHeader(reader(bytes))
    }
    assert(e.getMessage.contains("version 3"))
  }
}
