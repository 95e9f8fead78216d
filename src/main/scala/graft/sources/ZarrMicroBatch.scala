package graft.sources

import graft.zarr._
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter

/** Streaming read of a Zarr store that GROWS along its first dimension
  * (the common append pattern for time-series arrays: shape[0] advances,
  * chunk grid otherwise fixed).
  *
  * The reference is strictly bounded (`Boundedness::Bounded`,
  * `scanner.rs:54`); this extends the same scan machinery to Structured
  * Streaming: an offset is the number of *complete target chunks*
  * currently present per live `zarr.json` metadata, and each micro-batch
  * is a contiguous range of chunk ordinals — chunk ordinals are stable
  * under dim-0 growth because the row-major grid suffix (dims 1..n) is
  * fixed.
  *
  * Admission control: `option("max_chunks_per_trigger", n)` caps each
  * micro-batch at n chunk ordinals (the unit is CHUNKS, not rows — one
  * chunk decodes to `product(chunk_shape)` rows). Without it, a stream
  * starting against an existing large store — or catching up after
  * downtime — would take the ENTIRE backlog as one micro-batch: one
  * giant checkpoint interval, no progress visibility, and executor
  * memory sized by backlog instead of by trigger. Same contract as the
  * Kafka/file sources' maxOffsetsPerTrigger/maxFilesPerTrigger.
  *
  *   spark.readStream.format("zarr").load(path)
  */
/** `chunk0` fingerprints the dim-0 chunk size the `chunks` count was
  * measured in: resuming a checkpoint against a store whose grid changed
  * (e.g. swapped for a `ZarrMaintenance.compact` rechunk) must fail
  * loudly — re-interpreting the bare count against a different chunk
  * size would silently skip or re-read millions of rows. Legacy
  * checkpoints (plain number, chunk0 = -1) are accepted as-is. */
final case class ZarrOffset(chunks: Long, chunk0: Int = -1) extends Offset {
  override def json(): String =
    if (chunk0 > 0) s"""{"chunks":$chunks,"chunk0":$chunk0}""" else chunks.toString
}

object ZarrOffset {
  def parse(json: String): ZarrOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      ZarrOffset(n.path("chunks").asLong(), n.path("chunk0").asInt(-1))
    } else ZarrOffset(t.toLong)
  }
}

class ZarrMicroBatchStream(
    store: ZarrStore,
    arrayNames: Seq[String],
    outputNames: Seq[String],
    pushed: Seq[Filter],
    checkpointLocation: String,
    maxChunksPerTrigger: Long = -1L,
    emitPartialTail: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Per-trigger view of the store ([[ZarrStore.committedView]]): one
    * root-document GET on consolidated stores (every ZarrWrite output).
    * The root doc is the store's atomic commit point, so shapes and the
    * chunk manifest come from the SAME document: a trigger can never
    * pair a new shape with a stale manifest (which would resolve fresh
    * ordinals to canonical keys that do not exist → silent fill values),
    * nor observe a multi-column append's per-array metadata PUTs torn
    * (which would crash geometry resolution). */
  private def snapshot(): (ScanGeometry, Seq[(String, String)], Vector[(Long, String, Int)]) = {
    val view = store.committedView()
    val byName = view.arrays.map(m => m.name -> m).toMap
    val metas = arrayNames.map(n => byName.getOrElse(n,
      throw new ZarrException(s"stream over ${store.root}: array '$n' missing from the store")))
    val jsons = metas.map(m => m.name -> m.sourceJson)
    (ScanGeometry.resolve(metas), jsons,
      ChunkManifest.validateRequired(store.root, jsons.map(_._2), view.manifest))
  }

  @volatile private var planned: (Seq[(String, String)], Vector[(Long, String, Int)]) =
    (Seq.empty, Vector.empty)

  override def initialOffset(): Offset = ZarrOffset(0L)

  private def availableOffset(): ZarrOffset = {
    val (g, _, _) = snapshot()
    // Default: only COMPLETE dim-0 chunk slabs are committed — a
    // generic Zarr writer may legitimately REWRITE a partial trailing
    // chunk as the array grows, and emitting it early would leave the
    // grown rows below the watermark forever (ADVICE r1 #4 semantics,
    // spec-pinned). For TERMINAL stores, though, the floor silently
    // omits up to chunk_size-1 real tail rows that a batch read
    // returns — e.g. after ZarrSink.flush writes the final partial
    // edge chunk (our own appends reject misaligned stores, so such a
    // tail can never grow again). `option("emit_partial_tail", true)`
    // is the caller's assertion that the store is terminal; with it,
    // every ordinal counts, the tail included.
    val dim0 =
      if (emitPartialTail) g.gridShape(0).toLong
      else g.targetShape(0) / g.targetChunk(0) // floor
    val fixedGrid = (1 until g.ndim).map(d => g.gridShape(d).toLong).product
    ZarrOffset(dim0 * fixedGrid, g.targetChunk(0))
  }

  /** Offsets measured under a different dim-0 chunk size are a hard
    * error (see [[ZarrOffset]]); -1 = legacy/initial, accepted. */
  private def checkUnit(o: ZarrOffset, g: ScanGeometry): Unit =
    if (o.chunk0 > 0 && o.chunk0 != g.targetChunk(0))
      throw new ZarrException(
        s"stream over ${store.root}: checkpointed offset counts chunks of " +
          s"dim-0 size ${o.chunk0} but the store's grid is now " +
          s"${g.targetChunk(0)} — the store was rechunked (compacted?) " +
          "under a live checkpoint; restart the query with a fresh " +
          "checkpoint location")

  override def latestOffset(): Offset = availableOffset()

  override def getDefaultReadLimit: ReadLimit =
    if (maxChunksPerTrigger > 0) ReadLimit.maxRows(maxChunksPerTrigger)
    else ReadLimit.allAvailable()

  /** Trigger.AvailableNow contract: the run drains up to the head seen
    * HERE (in capped batches), then stops — appends racing the run are
    * left for the next one. */
  @volatile private var availableNowSnapshot: Option[ZarrOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(availableOffset())

  /** Engine entry point when admission control is active: cap this
    * batch's end offset at start + the configured chunk budget. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = availableNowSnapshot.getOrElse(availableOffset())
    val lo = start.asInstanceOf[ZarrOffset].chunks
    val end = limit match {
      case r: ReadMaxRows => math.min(head.chunks, lo + r.maxRows())
      case _ => head.chunks
    }
    ZarrOffset(end, head.chunk0)
  }

  /** True head of the stream regardless of the cap — feeds the progress
    * reporter's backlog/lag metrics. */
  override def reportLatestOffset(): Offset = availableOffset()

  override def deserializeOffset(json: String): Offset = ZarrOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo0 = start.asInstanceOf[ZarrOffset]
    val hi0 = end.asInstanceOf[ZarrOffset]
    val lo = lo0.chunks
    val hi = hi0.chunks
    val (g, metaJsons, manifestParts) = snapshot()
    checkUnit(lo0, g)
    checkUnit(hi0, g)
    planned = (metaJsons, manifestParts)
    if (hi <= lo) Array.empty
    else {
      // split the new window into up to 32 contiguous ordinal ranges
      // (one partition each; per-partition chunk counts are unbounded —
      // admission control, not this split, bounds batch size)
      val n = math.max(1, math.min(hi - lo, 32L)).toInt
      val per = math.max(1L, (hi - lo + n - 1) / n)
      (0 until n).iterator
        .map(i => (lo + i * per, math.min(hi, lo + (i + 1) * per)))
        .filter { case (a, b) => b > a }
        .map { case (a, b) => ZarrInputPartition(a, b): InputPartition }
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (metaJsons, manifestParts) = planned
    // per-inner-chunk stats docs are CONSUMABLE in streaming since docs
    // became append-surviving (smaller-leading-extent acceptance): a doc
    // written by the append that produced this batch's slab — or any
    // earlier one — is signature-accepted against the batch's planning
    // snapshot, while a doc from a LATER append (larger leading extent)
    // is rejected, so a racing ingest can only decline masking, never
    // misdescribe. The usual length/mtime/index-checksum guards apply
    // unchanged executor-side. The manifest is the SAME snapshot as the
    // planned metadata; the sidecar is listed per batch, as it grows.
    ZarrReaderFactory.planned(store, metaJsons, outputNames, pushed, manifestParts,
      () => ZarrStore.Sidecar.orEmpty(store))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
