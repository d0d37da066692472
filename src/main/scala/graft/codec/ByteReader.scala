package graft.codec

import java.io.{EOFException, InputStream}

/** Minimal counting byte reader over which all snapshot codecs run.
  *
  * The reference streams the snapshot through a `BufReader`
  * (`/root/reference/src/main.rs:171`); this is the Scala analogue used by
  * the DataSource V2 partition reader and by unit tests over
  * in-memory fixtures.
  *
  * The reader owns its buffer and refills it with bulk `read` calls, so
  * the per-byte varint walk never touches `in` (a `BufferedInputStream`
  * would take its monitor once per byte). Callers pass the raw stream;
  * wrapping it in another buffer only adds a copy.
  *
  * Read-ahead contract: the reader may consume bytes of `in` beyond the
  * ones it has returned (up to one buffer), so once `in` is wrapped no
  * caller may read, skip or seek `in` directly. Closing `in` stays the
  * caller's job. Skips walk through the buffer and never call
  * `in.skip`, which on local files moves past EOF and reports success:
  * every byte counted in [[bytesRead]] was really read, and a truncated
  * stream raises `EOFException`.
  */
final class ByteReader(in: InputStream) {
  // one bulk read of `in` per MiB keeps the stream off the per-byte path
  private val buf = new Array[Byte](1 << 20)
  private var pos = 0
  private var lim = 0
  // bytes of `in` consumed before the current buffer contents
  private var base: Long = 0L

  /** Total bytes consumed so far (for progress reporting). */
  def bytesRead: Long = base + pos

  /** Refill an exhausted buffer; false at end of stream. */
  private def fill(): Boolean = {
    base += lim
    pos = 0
    lim = 0
    while (lim == 0) {
      val k = in.read(buf, 0, buf.length)
      if (k < 0) return false
      lim = k
    }
    true
  }

  def readByte(): Int = {
    if (pos == lim && !fill())
      throw new EOFException(s"unexpected EOF after $bytesRead bytes")
    val b = buf(pos)
    pos += 1
    b & 0xff
  }

  def readFully(n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      if (pos == lim && !fill())
        throw new EOFException(s"unexpected EOF after $bytesRead bytes (wanted $n)")
      val k = math.min(n - off, lim - pos)
      System.arraycopy(buf, pos, out, off, k)
      pos += k
      off += k
    }
    out
  }

  def skipFully(n: Long): Unit = {
    var left = n
    while (left > 0) {
      if (pos == lim && !fill())
        throw new EOFException(s"unexpected EOF after $bytesRead bytes (skipping)")
      val k = math.min(left, (lim - pos).toLong).toInt
      pos += k
      left -= k
    }
  }

  def readU16LE(): Int = {
    val a = readByte(); val b = readByte()
    a | (b << 8)
  }

  def readU32LE(): Long = {
    var v = 0L
    var i = 0
    while (i < 4) { v |= readByte().toLong << (8 * i); i += 1 }
    v
  }

  def readU64LE(): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= readByte().toLong << (8 * i); i += 1 }
    v
  }
}
