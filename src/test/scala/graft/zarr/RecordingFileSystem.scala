package graft.zarr

import java.net.URI
import java.util.Collections
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path,
  PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.hadoop.util.Progressable

/** A local FileSystem that records what a read or a write asked of
  * storage: every GET (`open`), HEAD (`getFileStatus`, which `exists`
  * calls), LIST (`listStatus`, which `listStatusIterator` pages
  * through), create and rename, with its path and the name of the
  * thread that made it, plus the bytes read from each path. It adds no
  * latency.
  *
  * It takes its scheme from the URI it is initialized with: a spec
  * registers it as `fs.<scheme>.impl` for a scheme Hadoop does not know,
  * and reads that scheme's [[RecordingFileSystem.Log]]. Such a scheme
  * resolves ONLY through that registration, so IO that succeeds on it
  * also proves the registration reached wherever the IO ran. Logs are
  * JVM-wide (executor tasks of a local session resolve the same cached
  * instance). */
class RecordingFileSystem extends RawLocalFileSystem {
  private var scheme = "file"

  override def initialize(name: URI, conf: Configuration): Unit = {
    scheme = name.getScheme
    super.initialize(name, conf)
  }

  override def getScheme: String = scheme
  override def getUri: URI = URI.create(s"$scheme:///")
  private def log = RecordingFileSystem.log(scheme)

  // the status lookups Hadoop makes inside open, listStatus, create and
  // rename belong to that one request, not to a HEAD of their own
  private val inRequest = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private def request[T](entry: String)(body: => T): T = {
    log.add(entry)
    val outer = inRequest.get
    inRequest.set(true)
    try body finally inRequest.set(outer)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (!inRequest.get) log.add(s"HEAD ${f.toUri.getPath}")
    super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val path = f.toUri.getPath
    request(s"GET $path") {
      new FSDataInputStream(
        new RecordingFileSystem.CountingStream(super.open(f, bufferSize), log, path))
    }
  }

  override def listStatus(f: Path): Array[FileStatus] =
    request(s"LIST ${f.toUri.getPath}")(super.listStatus(f))

  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    request(s"CREATE ${f.toUri.getPath}") {
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
  }

  override def rename(src: Path, dst: Path): Boolean =
    request(s"RENAME ${src.toUri.getPath}")(super.rename(src, dst))
}

object RecordingFileSystem {

  /** One scheme's requests since its last [[clear]]. */
  final class Log {
    private val entries: java.util.List[(String, String)] =
      Collections.synchronizedList(new java.util.ArrayList[(String, String)]())
    private val bytesByPath = new ConcurrentHashMap[String, AtomicLong]()

    private[RecordingFileSystem] def add(entry: String): Unit =
      entries.add((entry, Thread.currentThread().getName))
    private[RecordingFileSystem] def addBytes(path: String, n: Int): Unit =
      bytesByPath.computeIfAbsent(path, _ => new AtomicLong()).addAndGet(n.toLong)

    def clear(): Unit = {
      entries.clear()
      bytesByPath.clear()
    }

    /** Every request in order: `GET <path>`, `HEAD <path>`,
      * `LIST <path>`, `CREATE <path>` or `RENAME <source path>`. */
    def requests: List[String] = threadedRequests.map(_._1)

    /** [[requests]], each with the name of the thread that made it. */
    def threadedRequests: List[(String, String)] =
      entries.toArray(Array.empty[(String, String)]).toList

    private def paths(verb: String): Array[String] =
      requests.iterator.filter(_.startsWith(s"$verb ")).map(_.drop(verb.length + 1)).toArray

    /** Paths opened for reading, in order. */
    def gets: Array[String] = paths("GET")
    def creates: Int = paths("CREATE").length
    def renames: Int = paths("RENAME").length

    private def chunkPath(store: String, p: String): Boolean =
      p.contains(s"/$store/") && p.matches(".*/(c|c\\.part[^/]*)/\\d+(/\\d+)*$")

    /** GETs of chunk data objects under `store` (metadata and sidecar
      * segments excluded) — the number an object store would bill.
      * Matches canonical `c/<ord>` keys (N-D: `c/<i>/<j>/...`) and the
      * manifest-keyed `c.part<writeId>-<pid>/<j>` layout of staged
      * commits. */
    def chunkGets(store: String): Int = gets.count(chunkPath(store, _))

    /** Bytes read from chunk data objects under `store`. */
    def chunkBytes(store: String): Long = {
      var total = 0L
      bytesByPath.forEach { (p, n) => if (chunkPath(store, p)) total += n.get() }
      total
    }
  }

  private val logs = new ConcurrentHashMap[String, Log]()

  def log(scheme: String): Log = logs.computeIfAbsent(scheme, _ => new Log)

  /** Delegating stream that counts every byte read, positioned or
    * sequential. */
  private final class CountingStream(inner: FSDataInputStream, log: Log, path: String)
      extends java.io.InputStream with Seekable with PositionedReadable {
    private def counted(n: Int): Int = {
      if (n > 0) log.addBytes(path, n)
      n
    }

    override def read(): Int = {
      val b = inner.read()
      if (b >= 0) log.addBytes(path, 1)
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      counted(inner.read(b, off, len))
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
      counted(inner.read(position, buffer, offset, length))
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      inner.readFully(position, buffer, offset, length)
      counted(length): Unit
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
    override def seek(pos: Long): Unit = inner.seek(pos)
    override def getPos: Long = inner.getPos
    override def seekToNewSource(targetPos: Long): Boolean = inner.seekToNewSource(targetPos)
    override def available(): Int = inner.available()
    override def close(): Unit = inner.close()
  }
}
