package graft.zarr

import java.util.concurrent.{Executors, Future => JFuture}

/** Sliding-window CONCURRENT chunk prefetch: the one window the scan
  * reader and `analyze` share. At object-store latency a blocking GET
  * per chunk per column serializes a whole range (64 chunks × 2 columns
  * × 20 ms = 2.6 s per task of pure waiting), while decode is
  * microseconds — so the lever is GET CONCURRENCY: object stores serve
  * parallel GETs at full per-request latency each. A window of `depth`
  * fetches runs on `depth` daemon IO threads; depth bounds both memory
  * (≤ depth raw chunks buffered) and the per-task request rate against
  * the store (32 tasks × depth 4 = 128 in-flight GETs per executor
  * host, a polite object-store budget).
  *
  * `items` is advanced on the CALLER thread, one item per submission,
  * so side effects of producing an item (the scan reader's coordinate
  * in-flight bookkeeping) happen in submission order. Results are
  * consumed strictly in submission order regardless of completion
  * order. `fetch` must be thread-safe (ZarrStore is: the FileSystem
  * handle is shared and Hadoop clients are concurrent). Call `close()`
  * when done (idempotent; also safe mid-range on error paths).
  */
final class ChunkPrefetcher[A, B](
    items: IterableOnce[A],
    fetch: A => B,
    depth: Int = 4) extends AutoCloseable {

  private val io = Executors.newFixedThreadPool(math.max(1, depth), { r =>
    val t = new Thread(r, "zarr-prefetch"); t.setDaemon(true); t
  }: java.util.concurrent.ThreadFactory)
  private val pending = items.iterator
  private val inflight = new java.util.ArrayDeque[JFuture[B]]()

  private def topUp(): Unit =
    while (inflight.size() < depth && pending.hasNext) {
      val a = pending.next()
      inflight.addLast(io.submit(() => fetch(a)))
    }
  topUp()

  /** Whether an item remains to be consumed. */
  def hasNext: Boolean = !inflight.isEmpty

  /** Result for the next item, blocking until its fetch completes. */
  def next(): B = {
    val f = inflight.pollFirst()
    if (f == null) throw new IllegalStateException("ChunkPrefetcher exhausted")
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally topUp()
  }

  override def close(): Unit = io.shutdownNow()
}
