package graft.zarr

import java.util.concurrent.{Executors, Future => JFuture}

/** Sliding-window CONCURRENT chunk prefetch for `analyze`'s whole-range
  * reader, which previously issued one blocking GET per chunk per
  * column (the scan reader keeps its own window). At object-store
  * latency that serializes the whole range: 64 chunks × 2 columns ×
  * 20 ms = 2.6 s per task of pure waiting, and decode is microseconds,
  * so (unlike the main scan's single-IO-thread pipeline, whose win is
  * decode/IO overlap) the lever here is GET CONCURRENCY — object
  * stores serve parallel GETs at full per-request latency each. A
  * window of `depth` fetches runs on `depth` daemon IO threads; depth
  * bounds both memory (≤ depth raw chunks buffered) and the per-task
  * request rate against the store (32 tasks × depth 4 = 128 in-flight
  * GETs per executor host, a polite object-store budget).
  *
  * Results are consumed strictly in submission order regardless of
  * completion order. `fetch` must be thread-safe (ZarrStore is: the
  * FileSystem handle is shared and Hadoop clients are concurrent).
  * Call `close()` when done (idempotent; also safe mid-range on error
  * paths).
  */
final class ChunkPrefetcher[A, B](
    items: IndexedSeq[A],
    fetch: A => B,
    depth: Int = 4) extends AutoCloseable {

  private val io = Executors.newFixedThreadPool(math.max(1, depth), { r =>
    val t = new Thread(r, "zarr-range-prefetch"); t.setDaemon(true); t
  }: java.util.concurrent.ThreadFactory)
  private val inflight = new java.util.ArrayDeque[JFuture[B]]()
  private var submitted = 0
  private var consumed = 0

  private def topUp(): Unit =
    while (inflight.size() < depth && submitted < items.length) {
      val a = items(submitted)
      submitted += 1
      inflight.addLast(io.submit(() => fetch(a)))
    }
  topUp()

  /** Result for the next item, blocking until its fetch completes. */
  def next(): B = {
    if (consumed >= items.length)
      throw new IllegalStateException("ChunkPrefetcher exhausted")
    consumed += 1
    val f = inflight.pollFirst()
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally topUp()
  }

  override def close(): Unit = io.shutdownNow()
}
