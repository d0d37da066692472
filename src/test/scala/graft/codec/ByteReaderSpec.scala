package graft.codec

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The reader's own buffer: refill boundaries, skips across refills and
  * truncation. Every decode here must agree byte for byte with a decode
  * that never crosses a boundary.
  */
class ByteReaderSpec extends AnyFunSuite {

  /** At most 3 bytes per `read` and nothing from `skip`: every field of
    * the snapshot straddles a refill somewhere.
    */
  private final class Trickle(bytes: Array[Byte]) extends InputStream {
    private val in = new ByteArrayInputStream(bytes)
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, math.min(len, 3))
    override def skip(n: Long): Long = 0L
  }

  private type Row = (String, Long, Long, Boolean, Long, Seq[Byte])
  private def row(c: Coin): Row = (c.txid, c.vout, c.height, c.coinbase, c.amount, c.script.toSeq)

  private def snapshot(groups: Seq[SnapshotGen.Group]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    SnapshotGen.write(out, groups, blockHashHex = "ef" * 32)
    out.toByteArray
  }

  /** Every coin of a snapshot with `bytesRead` after it. */
  private def decodeTracked(r: ByteReader): Vector[(Row, Long)] = {
    val h = SnapshotCodec.readHeader(r)
    SnapshotCodec.coins(r, h).map(c => (row(c), r.bytesRead)).toVector
  }

  private def oversized(len: Int): SnapshotGen.Group =
    SnapshotGen.Group("5a" * 32, Seq(SnapshotGen.GenCoin(3, 77, coinbase = false, 1234L,
      Array.fill[Byte](len)(0x42))))

  // 400 coins, then one script over 64 KiB (decoded as OP_RETURN, its
  // bytes skipped), then 400 more
  private lazy val bigMiddle: Array[Byte] = {
    val noise = SnapshotGen.synthetic(800, seed = 21L)
    val (a, b) = noise.splitAt(noise.size / 2)
    snapshot(a ++ Seq(oversized(70 * 1024)) ++ b)
  }

  test("trickle and plain streams decode the same coins at the same offsets") {
    val plain = decodeTracked(new ByteReader(new ByteArrayInputStream(bigMiddle)))
    assert(plain.size > 800)
    assert(plain.exists(_._1._6 == Seq(0x6a.toByte)), "the oversized script decodes as OP_RETURN")
    assert(plain.last._2 == bigMiddle.length)
    assert(decodeTracked(new ByteReader(new Trickle(bigMiddle))) == plain)
  }

  test("indexed splits start where the sequential decode stands and decode the same rows") {
    val f = Files.createTempFile("reader-splits", ".bin")
    try {
      Files.write(f, bigMiddle)
      val conf = new Configuration()
      val (_, splits) = SnapshotIndexer.index(f.toString, 50L, conf, sidecar = false)
      assert(splits.size > 10)
      // groups hold at most 3 coins here: no split may pass the target
      assert(splits.forall(_.nCoins <= 50), splits.map(_.nCoins))
      val seq = decodeTracked(new ByteReader(new ByteArrayInputStream(bigMiddle)))
      // offset of coin i = bytesRead after coin i - 1 (the header for coin 0)
      val starts = (51L +: seq.map(_._2)).take(seq.size)
      var first = 0L
      val viaSplits = splits.flatMap { s =>
        assert(s.offset == starts(first.toInt), s"split at coin $first")
        first += s.nCoins
        val in = SnapshotIndexer.open(f.toString, conf, s.offset)
        try SnapshotCodec.coins(new ByteReader(in), s.nCoins).map(row).toVector
        finally in.close()
      }
      assert(first == seq.size)
      assert(viaSplits == seq.map(_._1))
    } finally Files.delete(f)
  }

  test("merged splits stay at most the target; older at-least-target splits still merge") {
    import SnapshotIndexer.{Split, mergeSplits}
    // a sidecar written by the older rule: each split just past 256 coins
    val old = Seq(Split(10, 257), Split(20, 258), Split(30, 257), Split(40, 5))
    assert(mergeSplits(old, 256) == old)
    assert(mergeSplits(old, 600) == Seq(Split(10, 515), Split(30, 262)))
    assert(mergeSplits(Seq(Split(0, 100), Split(5, 100), Split(9, 56)), 256) == Seq(Split(0, 256)))
  }

  test("truncation at every byte offset raises EOFException, never a short iterator") {
    val groups = SnapshotGen.synthetic(12, seed = 5L)
    val bytes = snapshot(groups.take(6) ++ Seq(oversized(ScriptCodec.MaxScriptSize.toInt + 1)) ++
      groups.drop(6))
    val full = decodeTracked(new ByteReader(new ByteArrayInputStream(bytes)))
    for (cut <- 0 until bytes.length) {
      val head = java.util.Arrays.copyOf(bytes, cut)
      intercept[EOFException](decodeTracked(new ByteReader(new ByteArrayInputStream(head))))
      intercept[EOFException](decodeTracked(new ByteReader(new Trickle(head))))
    }
    assert(full.last._2 == bytes.length)
  }

  test("the indexer raises EOFException at every truncation of a small snapshot") {
    val bytes = snapshot(SnapshotGen.synthetic(20, seed = 6L))
    val f = Files.createTempFile("reader-cut", ".bin")
    try {
      for (cut <- 0 until bytes.length) {
        Files.write(f, java.util.Arrays.copyOf(bytes, cut))
        intercept[EOFException](SnapshotIndexer.index(f.toString, 4L, new Configuration(), sidecar = false))
      }
    } finally Files.delete(f)
  }
}
