package perfbench

import java.io.{FilterOutputStream, OutputStream}
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Storage counters shared by every [[BenchFs]] instance in the JVM. One
  * client thread drives the benchmark, so the delta of a snapshot taken
  * around an operation is that operation's storage traffic. */
final case class Counts(
    gets: Long, rangedGets: Long, lists: Long, stats: Long,
    creates: Long, renames: Long, deletes: Long,
    bytesRead: Long, bytesWritten: Long) {
  def -(o: Counts): Counts = Counts(
    gets - o.gets, rangedGets - o.rangedGets, lists - o.lists, stats - o.stats,
    creates - o.creates, renames - o.renames, deletes - o.deletes,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: Counts): Counts = Counts(
    gets + o.gets, rangedGets + o.rangedGets, lists + o.lists, stats + o.stats,
    creates + o.creates, renames + o.renames, deletes + o.deletes,
    bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
  /** Every request an object store would bill: GET, ranged GET, LIST,
    * HEAD, PUT, rename (copy) and DELETE. */
  def requests: Long = gets + rangedGets + lists + stats + creates + renames + deletes
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Local FileSystem under the `benchfs` scheme that counts every storage
  * call the program makes (open, ranged read, list, stat, create, rename,
  * delete, bytes) and can model an object store: a fixed delay per
  * request on open, list and stat, plus a per-stream bandwidth cap.
  *
  * Only the OUTERMOST call on a thread is counted: RawLocalFileSystem
  * implements listStatus with one getFileStatus per entry and mkdirs
  * with stats of its parents, which an object store would not issue. */
class BenchFs extends RawLocalFileSystem {
  import BenchFs._

  override def getScheme: String = "benchfs"
  override def getUri: URI = URI.create("benchfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    outer(null, delayed = true) { t0 =>
      val in = super.open(f, bufferSize)
      if (t0 == Nested) in else new FSDataInputStream(new CountingIn(in, f.toUri.getPath, t0))
    }

  override def listStatus(f: Path): Array[FileStatus] =
    outer(lists, "fs.list", delayed = true)(_ => super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    outer(stats, "fs.stat", delayed = true)(_ => super.getFileStatus(f))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    outer(null) { t0 =>
      countingOut(super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress), f, t0)
    }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    outer(null) { t0 =>
      countingOut(super.create(f, overwrite, bufferSize, replication,
        blockSize, progress), f, t0)
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    outer(null) { t0 =>
      countingOut(super.createNonRecursive(f, permission, flags, bufferSize,
        replication, blockSize, progress), f, t0)
    }

  override def rename(src: Path, dst: Path): Boolean =
    outer(renames, "fs.rename")(_ => super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    outer(deletes, "fs.delete")(_ => super.delete(f, recursive))

  // directory creation has no object-store request; only its internal
  // stats are suppressed
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    nested(super.mkdirs(f, permission))

  private def countingOut(out: FSDataOutputStream, f: Path, t0: Long): FSDataOutputStream =
    if (t0 == Nested) out
    else {
      creates.incrementAndGet()
      new FSDataOutputStream(new CountingOut(out, f.toUri.getPath, t0), null)
    }
}

object BenchFs {
  /** Per-request delay in ms on open, list and stat; 0 = none. */
  val latencyMs = new AtomicInteger(0)
  /** Per-stream read bandwidth in MiB/s; 0 = unthrottled. */
  val bandwidthMBps = new AtomicInteger(0)

  private val gets, rangedGets, lists, stats, creates, renames, deletes,
    bytesRead, bytesWritten = new AtomicLong()

  def snapshot(): Counts = Counts(
    gets.get - rangedGets.get, rangedGets.get, lists.get, stats.get,
    creates.get, renames.get, deletes.get, bytesRead.get, bytesWritten.get)

  /** An object opened for reading: its path and the (position, length)
    * of every positioned read on the stream. No positioned read means
    * the stream was read sequentially, as a whole object. */
  final class Opened(val path: String) {
    val ranges = new ConcurrentLinkedQueue[(Long, Int)]()
  }

  /** Objects opened for reading, recorded only while [[recordOpens]] is
    * on (the traced run's decode/fill replay and useful-chunk ratio). */
  @volatile var recordOpens: Boolean = false
  val opened = new ConcurrentLinkedQueue[Opened]()

  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def delay(): Unit = {
    val ms = latencyMs.get()
    if (ms > 0) Thread.sleep(ms.toLong)
  }

  private def nested[T](body: => T): T = {
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  /** Start time passed to the body of a nested call. */
  private val Nested = Long.MinValue

  /** Count (when `counter` is set), delay (when `delayed`) and time an
    * outermost storage call; `counter == null` means the call's stream
    * counts itself. Nested calls pass straight through, and their body
    * gets [[Nested]] as start time. */
  private def outer[T](counter: AtomicLong, span: String = null, delayed: Boolean = false)(
      body: Long => T): T =
    if (depth.get > 0) body(Nested)
    else {
      val t0 = System.nanoTime()
      depth.set(1)
      try {
        if (delayed) delay()
        body(t0)
      }
      finally {
        depth.set(0)
        if (counter != null) {
          counter.incrementAndGet()
          if (Trace.on) Trace.record(span, t0, System.nanoTime(), Trace.parentOf())
        }
      }
    }

  /** Read stream: one GET per open, classified as ranged when its first
    * read is positioned. Its span runs from open to close,
    * covering the request delay and the transfer. */
  private final class CountingIn(inner: FSDataInputStream, path: String, t0: Long)
      extends java.io.InputStream with Seekable with PositionedReadable {
    gets.incrementAndGet()
    private val record = if (recordOpens) new Opened(path) else null
    if (record != null) opened.add(record)
    private val parent = Trace.parentOf()
    private var first = true
    private var ranged = false
    private var closed = false
    private var owedNanos = 0.0

    private def got(n: Int, positioned: Boolean): Unit = {
      if (first) {
        first = false
        ranged = positioned
        if (positioned) rangedGets.incrementAndGet()
      }
      if (n > 0) {
        bytesRead.addAndGet(n.toLong)
        val mbps = bandwidthMBps.get()
        if (mbps > 0) {
          owedNanos += n * (1e9 / (mbps * 1048576.0))
          if (owedNanos >= 1e6) {
            val ms = (owedNanos / 1e6).toLong
            owedNanos -= ms * 1e6
            Thread.sleep(ms)
          }
        }
      }
    }

    override def read(): Int = {
      val b = inner.read()
      got(if (b >= 0) 1 else 0, positioned = false)
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(b, off, len)
      got(n, positioned = false)
      n
    }
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
      val n = inner.read(position, buffer, offset, length)
      got(n, positioned = true)
      if (record != null && n > 0) record.ranges.add((position, n))
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      inner.readFully(position, buffer, offset, length)
      got(length, positioned = true)
      if (record != null) record.ranges.add((position, length))
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
    override def seek(pos: Long): Unit = inner.seek(pos)
    override def getPos: Long = inner.getPos
    override def seekToNewSource(targetPos: Long): Boolean = inner.seekToNewSource(targetPos)
    override def available(): Int = inner.available()
    override def close(): Unit = {
      inner.close()
      if (!closed) {
        closed = true
        if (Trace.on) Trace.record(if (ranged) "fs.get.ranged" else "fs.get", t0, System.nanoTime(), parent)
      }
    }
  }

  /** Write stream: bytes uploaded, with a PUT span from create to close. */
  private final class CountingOut(inner: OutputStream, path: String, t0: Long)
      extends FilterOutputStream(inner) {
    private val parent = Trace.parentOf()
    private var closed = false
    override def write(b: Int): Unit = { inner.write(b); bytesWritten.incrementAndGet() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      inner.write(b, off, len)
      bytesWritten.addAndGet(len.toLong)
    }
    override def close(): Unit = {
      inner.close()
      if (!closed) {
        closed = true
        if (Trace.on) Trace.record(
          if (isCommitKey(path)) "fs.put.commit" else "fs.put", t0, System.nanoTime(), parent)
      }
    }
  }

  /** Metadata and root documents: the commit point of every write path. */
  def isCommitKey(path: String): Boolean = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name == "zarr.json" || name == ".zmetadata" || name == ".zarray" ||
      name == ".zattrs" || name == ".zgroup"
  }
}
