package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** In-memory span recorder for the traced run. A span has a name, start
  * and end (System.nanoTime), a parent span and the query (op) it belongs
  * to. The benchmark opens spans around its own calls into each layer;
  * [[BenchFs]] adds one child span per storage call. Spans are written
  * out once, when the run ends. */
object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Int) {
    def nanos: Long = end - start
  }

  @volatile var on: Boolean = false
  /** Op id stamped on new spans, and the span storage calls fall back to
    * as parent when they run on a thread that holds no span of its own
    * (Spark task threads, the reader's prefetch pool). */
  @volatile var currentOp: Int = -1
  @volatile private var opSpan: Long = 0L

  private val ids = new AtomicLong(0)
  private val current = ThreadLocal.withInitial[Long](() => 0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def parentOf(): Long = {
    val c = current.get
    if (c != 0L) c else opSpan
  }

  def record(name: String, start: Long, end: Long, parent: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), name, start, end, parent, currentOp))

  /** Run `body` inside a span that becomes the calling thread's parent. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = parentOf()
      val prev = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        current.set(prev)
        spans.add(Span(id, name, t0, System.nanoTime(), parent, currentOp))
      }
    }

  /** Run one op under a root span; storage calls from threads without a
    * span of their own attach to it. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      opSpan = id
      val prev = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        current.set(prev)
        opSpan = 0L
        spans.add(Span(id, name, t0, System.nanoTime(), 0L, opId))
      }
    }
  }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }

  /** Self time of the spans named `name`: duration minus the time their
    * direct children cover (children of one span do not overlap on the
    * span's own thread; children on other threads are clipped to it). */
  def selfNanos(all: Seq[Span], name: String): Long = {
    val byParent = all.groupBy(_.parent)
    all.filter(_.name == name).map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.nanos - covered
    }.sum
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
