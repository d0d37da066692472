package graft.tools

import java.net.URI
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{CommonPathCapabilities, FSDataInputStream, FSDataOutputStream, Path, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A Hadoop `FileSystem` measurement double with a non-`file` scheme
  * (`graftdfs://`), backed by `RawLocalFileSystem`, that counts every
  * byte written and read. It exists to PIN the convert's write
  * amplification: with the footer stamp riding each task's commit
  * ([[graft.sources.StampingOutputCommitter]]) a convert to a DFS
  * target must write ≈ 1× the output size and read back only footers —
  * not stream the whole table a second time. Raw local supports
  * truncate+append (like HDFS), so this exercises the in-place
  * [[FooterSort.stampStaged]]; [[CountingObjectStore]] (`graftobj://`)
  * advertises neither capability (like S3A) and pins its copy fallback.
  *
  * Register with `fs.graftdfs.impl` / `fs.graftobj.impl`; counters are
  * JVM-global (local-mode executors share them) — reset around the
  * measured region.
  */
class CountingDfs extends RawLocalFileSystem {
  override def getUri: URI = CountingDfs.Uri

  private def countingOut(out: FSDataOutputStream, start: Long): FSDataOutputStream =
    new FSDataOutputStream(
      new CountingDfs.CountingOut(out, CountingDfs.bytesWritten), null, start)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(
      new CountingDfs.CountingIn(super.open(f, bufferSize), CountingDfs.bytesRead))

  // RawLocalFileSystem's public create variants do NOT chain through
  // each other (each calls a private worker), so every one must be
  // wrapped — the parquet writer comes in through the
  // permission-less overload
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countingOut(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress), 0L)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countingOut(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress), 0L)

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countingOut(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress), 0L)

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    val start = getFileStatus(f).getLen
    countingOut(super.append(f, bufferSize, progress), start)
  }
}

object CountingDfs {
  val Uri: URI = URI.create("graftdfs:///")
  val bytesWritten = new LongAdder
  val bytesRead = new LongAdder
  def reset(): Unit = { bytesWritten.reset(); bytesRead.reset() }

  private[tools] class CountingOut(out: java.io.OutputStream, ctr: LongAdder)
      extends java.io.OutputStream {
    override def write(b: Int): Unit = { out.write(b); ctr.increment() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); ctr.add(len)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  private[tools] class CountingIn(in: FSDataInputStream, ctr: LongAdder)
      extends java.io.InputStream with Seekable with PositionedReadable {
    override def read(): Int = { val v = in.read(); if (v >= 0) ctr.increment(); v }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) ctr.add(n); n
    }
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, b, off, len); if (n > 0) ctr.add(n); n
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len); ctr.add(len)
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit = {
      in.readFully(pos, b); ctr.add(b.length)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}

/** [[CountingDfs]] minus truncate/append — the object-store shape. The
  * staged stamp must take the copy fallback here, never a partial
  * in-place mutation (truncate/append throw to prove they are not
  * reached).
  */
class CountingObjectStore extends CountingDfs {
  override def getUri: URI = CountingObjectStore.Uri

  override def hasPathCapability(path: Path, capability: String): Boolean =
    capability match {
      case CommonPathCapabilities.FS_TRUNCATE | CommonPathCapabilities.FS_APPEND => false
      case other => super.hasPathCapability(path, other)
    }

  override def truncate(f: Path, newLength: Long): Boolean =
    throw new UnsupportedOperationException("object stores do not truncate")

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object stores do not append")

  // S3A semantics: object metadata is immutable once PUT — an object's
  // mtime is its creation time and cannot be re-stamped
  override def setTimes(f: Path, mtime: Long, atime: Long): Unit =
    throw new UnsupportedOperationException("object stores do not setTimes")

  /** S3-class rename (opt-in via [[CountingObjectStore.copyRename]]):
    * object stores have no rename primitive — it is COPY to the
    * destination (a fresh PUT: the object appears atomically under the
    * new key with a NEW creation mtime) followed by DELETE of the
    * source. A crash between the two leaves BOTH objects visible;
    * [[CountingObjectStore.crashNextRenameAfterCopy]] injects exactly
    * that shape so `FileIngestOrderSpec` can prove the ordered stager
    * recovers (destination kept, staging object cleared, re-run
    * idempotent, stream reads every row exactly once).
    */
  override def rename(src: Path, dst: Path): Boolean = {
    if (!CountingObjectStore.copyRename.get()) return super.rename(src, dst)
    if (!exists(src)) return false
    if (exists(dst)) return false
    org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst,
      false /* keep source: the delete below is the observable step */,
      true, getConf)
    if (CountingObjectStore.crashNextRenameAfterCopy.compareAndSet(true, false))
      throw new java.io.IOException(
        "injected crash: rename COPY landed, source delete lost")
    delete(src, true)
    true
  }
}

object CountingObjectStore {
  val Uri: URI = URI.create("graftobj:///")

  /** Model rename as S3-class copy+delete (default off: the convert
    * amplification specs pin byte counters against the metadata-rename
    * floor; the stager spec turns this on around its own cases).
    */
  val copyRename = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One-shot: the next copy-mode rename crashes AFTER its copy lands
    * and BEFORE the source delete — both objects left visible.
    */
  val crashNextRenameAfterCopy = new java.util.concurrent.atomic.AtomicBoolean(false)
}
