package graft.sources

import java.util.concurrent.CompletableFuture

import scala.collection.mutable.ArrayBuffer

import graft.zarr._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Executor-side reader: one [[ZarrInputPartition]] = one contiguous range
  * of chunk ordinals over the scan geometry's grid, less its `skip`
  * ranges. The planner prunes, tasks never GET segments: every ordinal
  * here survived the `_stats/` sidecar on the driver ([[ZarrPlanner]]).
  *
  * One fetch path per chunk (mirrors `zarr_data_stream.rs:829-916`),
  * run inside the prefetch window ([[fetchChunk]]) while earlier chunks
  * are consumed — the reference's IO/compute pipelining,
  * `zarr_data_stream.rs:647-711`:
  *  1. fetch and decode the *predicate* columns, evaluate the pushed
  *     filters with any-row semantics — no match → nothing else of the
  *     chunk is fetched;
  *  2. otherwise fetch the remaining output columns in the same window
  *     slot (filter/projection column sharing: predicate columns are
  *     reused for output, `zarr_data_stream.rs:877-895`).
  * The task thread decodes the rest and emits batches. A scan without
  * filters has no predicate columns and fetches every output at once.
  *
  * Coordinate (1-D) chunks are cached for the reader's lifetime: in a 2-D
  * grid the same `lat` chunk is needed by every chunk in its row — the
  * cache removes O(grid) redundant reads. It starts with the chunks the
  * plan shared between partitions and read once on the driver.
  */
final case class ZarrReaderFactory(
    store: ZarrStore,
    metaJsons: Seq[(String, String)],
    outputNames: Seq[String],
    filters: Seq[Filter],
    limit: Int = -1,
    /** Ordinal → task-attempt-key mapping for rename-free staged commits
      * (read ONCE from the root doc at planning; [[graft.zarr.ChunkManifest]]). */
    manifest: ChunkManifest = ChunkManifest.empty,
    /** Whether the store carries per-inner-chunk stats docs
      * (`_stats/i<ord>.json`) — from the plan's listing, so readers on
      * never-analyzed stores skip the per-shard doc probe entirely. */
    innerStatsPresent: Boolean = false,
    /** Coordinate chunks several partitions read, fetched once by the
      * planner: (array, chunk index, stored bytes; None = absent). */
    sharedCoords: Seq[(String, Int, Option[Array[Byte]])] = Nil)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new ZarrPartitionReader(this, p.asInstanceOf[ZarrInputPartition])

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val col = createColumnarReader(p)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!col.next()) return false
          rows = col.get().rowIterator()
        }
        true
      }
      override def get(): InternalRow = rows.next()
      override def close(): Unit = col.close()
    }
  }
}

object ZarrReaderFactory {

  /** The reader factory of a planned read. With filters and a sharded
    * read array, the plan's `_stats/` listing tells every task whether
    * per-inner-chunk stats docs exist at all (a never-analyzed store
    * must not pay a 404 GET per shard probing for them); `sidecar` is
    * called only then. `manifest` comes from the caller — it must be
    * read with the metadata of the same view, never from a second,
    * newer root read. `sharedCoords` are [[ZarrPlanner.sharedCoords]]. */
  def planned(
      store: ZarrStore,
      metaJsons: Seq[(String, String)],
      outputNames: Seq[String],
      filters: Seq[Filter],
      manifest: ChunkManifest,
      sidecar: () => ZarrStore.Sidecar,
      sharedCoords: Seq[(String, Int, Option[Array[Byte]])],
      limit: Int = -1): ZarrReaderFactory = {
    val innerStats = filters.nonEmpty &&
      metaJsons.exists { case (n, j) => ZarrMeta.parse(n, j).shardingSpec.isDefined } &&
      sidecar().innerOrds.nonEmpty
    ZarrReaderFactory(store, metaJsons, outputNames, filters, limit,
      manifest, innerStats, sharedCoords)
  }
}

final class ZarrPartitionReader(f: ZarrReaderFactory, part: ZarrInputPartition)
    extends PartitionReader[ColumnarBatch] {

  private val metas: Seq[ZarrArrayMeta] =
    f.metaJsons.map { case (n, j) => ZarrMeta.parse(n, j) }

  /** Static pushed filters plus runtime (join-derived) filters. Runtime
    * filters ride on the PARTITION, not the factory: Spark may build the
    * reader factory before `SupportsRuntimeFiltering.filter` is invoked,
    * but it always re-plans input partitions afterwards — so the
    * partition is the only handoff that reliably sees them. */
  private val filters: Seq[Filter] = f.filters ++ part.runtimeFilters
  private val geometry = ScanGeometry.resolve(metas)
  private val roleOf: Map[String, ColumnRole] =
    metas.map(_.name).zip(geometry.roles).toMap
  // one name->meta map for every per-chunk lookup: the previous
  // per-column metas.find scans were O(columns) each and three private
  // re-derivations of the same fact
  private val metaOf: Map[String, ZarrArrayMeta] =
    metas.map(m => m.name -> m).toMap

  private val coordDimOf: Map[String, Int] =
    roleOf.collect { case (n, CoordCol(_, d)) => n -> d }

  private val predicateNames: Seq[String] =
    filters.flatMap(ChunkFilter.references).distinct.filter(roleOf.contains)
  private val nonPredicateOutput: Seq[String] =
    f.outputNames.filterNot(predicateNames.contains)

  /** Coordinate chunks — tiny and shared across target chunks — decoded,
    * or being fetched by the one fetch that claimed them
    * ([[coordColumn]]). Starts with the chunks the plan shipped. */
  private val coordCache =
    new java.util.concurrent.ConcurrentHashMap[String, CompletableFuture[ChunkColumn]]()
  f.sharedCoords.foreach { case (n, ci, bytes) =>
    coordCache.put(s"$n/$ci",
      CompletableFuture.completedFuture(ChunkColumn.decode(metaOf(n), bytes)))
  }

  /** Coordinate `name`'s chunk for chunk `o` (grid index `idx`): GET and
    * decoded here when no fetch has claimed it yet, else the claimer's,
    * waited for — or, without `await`, None. In a 2-D grid every chunk
    * of a row needs the same `lat` chunk, and every window slot may ask
    * at once: claiming makes it one GET per reader. A claimer completes
    * its claim before it returns, so it never waits while holding one,
    * and no two fetches wait on each other. Callable from IO threads. */
  private def coordColumn(
      name: String, idx: Array[Int], o: Long, await: Boolean = true): Option[ChunkColumn] = {
    val mine = new CompletableFuture[ChunkColumn]()
    val held = coordCache.putIfAbsent(s"$name/${idx(coordDimOf(name))}", mine)
    if (held == null) {
      val k = f.manifest.chunkKeyOf(roleOf(name), idx, o)
      try {
        val c = ChunkColumn.decode(roleOf(name).meta,
          present(o, name, k, f.store.readChunk(name, k)))
        mine.complete(c)
        Some(c)
      } catch { case t: Throwable => mine.completeExceptionally(t); throw t }
    } else if (!await) None
    else
      try Some(held.get())
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  // ---- ranged shard reads (inner-chunk masking) ----
  //
  // A sharded data column's outer chunk is ONE stored object packing many
  // inner chunks. When the pushed filters include COORDINATE-only
  // predicates, each inner chunk's coordinate box is known from the (tiny,
  // cached) 1-D coordinate chunks alone — so inner chunks whose box
  // refutes those predicates need never be fetched: [[Sharding.readRanged]]
  // reads the shard index plus only the needed inner ranges, and the
  // partial decode emits fill values in the skipped regions. Sound because
  // the pushdown is INEXACT (Spark re-evaluates every filter on the
  // emitted rows): a skipped region's rows carry their REAL coordinate
  // values, which refute the coordinate predicate by construction, so the
  // residual Filter drops them regardless of the fill-valued data columns.
  // (Aggregate and limit pushdown both decline when filters are pushed, so
  // no consumer ever aggregates the emitted rows without the residual.)
  private val rangedReads = f.store.supportsRangedReads
  /** Could ANY inner-chunk mask exist on this scan? True when some
    * supported filter's references are all range-sourceable: coordinates
    * always; a sharded data column only when the store carries
    * analyze-written per-inner stats docs. */
  private val maskingPossible: Boolean = rangedReads && filters.exists { ft =>
    ChunkFilter.supported(ft) && {
      val refs = ChunkFilter.references(ft)
      refs.nonEmpty && refs.forall(r => coordDimOf.contains(r) ||
        (f.innerStatsPresent && roleOf.get(r).exists(role =>
          role.isInstanceOf[DataCol] && role.meta.shardingSpec.isDefined)))
    }
  }

  /** Filters usable for masking column `name`'s inner grid: every
    * reference is a coordinate (exact per-region min/max from the coord
    * chunks) or `name` itself (per-inner bounds from the analyze-written
    * `_stats/i<ord>.json` doc, when present AND verifiably fresh). A
    * filter referencing a DIFFERENT data column has no range source on
    * this grid and never participates. */
  private def maskableFor(name: String): Seq[Filter] =
    filters.filter { ft =>
      ChunkFilter.supported(ft) && {
        val refs = ChunkFilter.references(ft)
        refs.nonEmpty && refs.forall(r => coordDimOf.contains(r) || r == name)
      }
    }

  /** The one inner-doc verdict vacuum and analyze apply too. */
  private val innerDocs = new ChunkStats.InnerDocs(geometry, f.manifest)

  /** Per-ordinal accepted inner-stats doc cache (None = absent or not
    * accepted). Concurrent: consulted from IO threads. */
  private val idocCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[ChunkStats.InnerDoc]]()

  private def idocFor(o: Long): Option[ChunkStats.InnerDoc] = {
    val cached = idocCache.get(o)
    if (cached != null) cached
    else {
      val doc = innerDocs.read(f.store, o)
      idocCache.putIfAbsent(o, doc)
      doc
    }
  }

  /** Row-major needed-mask over the inner grid of one sharded data
    * column's outer chunk, or None when masking is not applicable or not
    * worth the extra round-trip. An inner chunk is NOT needed iff it
    * lies fully outside the valid extent, or its per-region ranges —
    * exact coordinate (min,max) from the coord chunks, plus this
    * column's own per-inner bounds from the analyze sidecar — refute the
    * maskable filters ([[ChunkStats.mayMatch]] interval logic). Returns
    * the mask plus, when sidecar bounds participated, the doc's column
    * stats (recorded object length, mtime, index checksum) — the caller
    * MUST verify them against the live object before trusting the mask
    * (stale data bounds would silently drop matching rows; coordinate
    * ranges need no check, the residual filter sees the same values).
    * Ranged reads pay one extra round-trip for the index, so the mask
    * is only returned when at least half the in-extent inner chunks
    * drop. */
  private def innerMask(
      name: String, spec: Sharding.Spec, o: Long, idx: Array[Int],
      extent: Array[Int], useStats: Boolean):
      Option[(Array[Boolean], Option[ChunkStats.InnerColStats])] = {
    val maskable = maskableFor(name)
    if (maskable.isEmpty) return None
    val ndim = geometry.ndim
    val inner = spec.innerShape.toArray
    val grid = Sharding.innerGrid(geometry.targetChunk, spec).getOrElse(return None)
    val nInner = grid.product
    val dataStats: Option[ChunkStats.InnerColStats] =
      if (!useStats || !f.innerStatsPresent ||
        !maskable.exists(ft => ChunkFilter.references(ft).contains(name))) None
      else idocFor(o).flatMap(innerDocs.column(_, name))
    // filters referencing `name` participate only when its bounds exist
    val usable = maskable.filter { ft =>
      !ChunkFilter.references(ft).contains(name) || dataStats.isDefined
    }
    if (usable.isEmpty) return None
    // exact per-dim, per-grid-position coordinate (min,max); None = empty
    // region (fully past the valid extent along that dim)
    val dimRanges: Map[String, Array[Option[(Any, Any)]]] =
      usable.flatMap(ChunkFilter.references).distinct
        .filter(coordDimOf.contains).map { n =>
          val dim = coordDimOf(n)
          val col = coordColumn(n, idx, o).get
          n -> Array.tabulate(grid(dim)) { gd =>
            val lo = gd * inner(dim)
            val hi = math.min((gd + 1).toLong * inner(dim), extent(dim).toLong).toInt
            if (lo >= hi) None
            else {
              var mn = col.get(lo); var mx = mn
              var i = lo + 1
              while (i < hi) {
                val v = col.get(i)
                if (ChunkFilter.cmp(v, mn) < 0) mn = v
                if (ChunkFilter.cmp(v, mx) > 0) mx = v
                i += 1
              }
              Some((mn, mx))
            }
          }
        }.toMap
    val mask = new Array[Boolean](nInner)
    var inExtent = 0
    var kept = 0
    val g = new Array[Int](ndim)
    var gi = 0
    while (gi < nInner) {
      var rem = gi; var k = ndim - 1
      while (k >= 0) { g(k) = rem % grid(k); rem /= grid(k); k -= 1 }
      var inside = true
      var dd = 0
      while (dd < ndim) {
        if (g(dd).toLong * inner(dd) >= extent(dd)) inside = false
        dd += 1
      }
      if (inside) {
        inExtent += 1
        val giHere = gi
        val keep = ChunkStats.mayMatch(usable,
          n => if (n == name) dataStats.flatMap(_.range(giHere))
          else dimRanges.get(n).flatMap(rs => rs(g(coordDimOf(n)))))
        mask(gi) = keep
        if (keep) kept += 1
      }
      gi += 1
    }
    if (kept == inExtent || kept * 2 > inExtent) None
    else Some((mask, dataStats))
  }

  /** One chunk that passed its test: the decoded predicate columns, the
    * raw bytes of the other data columns, and any inner-chunk keep-masks
    * that drove ranged reads ((innerShape, row-major mask) per masked
    * column). The masks flow to emission: rows of mask-false regions are
    * provably refuted by the coordinate predicates, so the reader emits
    * only the kept-region row subset instead of fill-valued rows the
    * residual filter would discard. */
  private final class Fetched(
      val predicates: Map[String, (ChunkColumn, Array[Int])],
      val bytes: Map[String, Option[Array[Byte]]],
      val masks: Seq[(Array[Int], Array[Boolean])])

  /** The window's fetch of chunk `o`: its predicate columns, fetched,
    * decoded and tested; None when no row can match, and then no other
    * object of the chunk is fetched, sharded or unsharded alike. A
    * passing chunk fetches the rest of its output columns here too. */
  private def fetchChunk(o: Long): Option[Fetched] = {
    val idx = geometry.chunkIndex(o)
    val extent = geometry.chunkExtent(idx)
    val masks = ArrayBuffer.empty[(Array[Int], Array[Boolean])]
    val tested = columns(predicateNames, idx, o, extent,
      fetchBytes(o, idx, extent, predicateNames, masks))
    if (!ChunkFilter.anyRowMatches(filters, tested, extent.product)) None
    else Some(new Fetched(tested,
      fetchBytes(o, idx, extent, nonPredicateOutput, masks), masks.toSeq))
  }

  /** Fetch `names` of chunk `o` (grid index `idx`) — coordinates first
    * (claimed here when no other fetch has; they are decoded through
    * [[coordColumn]]), then data columns, ranged when a mask applies;
    * the masks that drove ranged reads go to `masks`. */
  private def fetchBytes(
      o: Long, idx: Array[Int], extent: Array[Int], names: Seq[String],
      masks: ArrayBuffer[(Array[Int], Array[Boolean])]):
      Map[String, Option[Array[Byte]]] = {
    val out = Map.newBuilder[String, Option[Array[Byte]]]
    val (coordNames, rest) = names.partition(coordDimOf.contains)
    coordNames.foreach(n => coordColumn(n, idx, o, await = false))
    rest.map(n => n -> f.manifest.chunkKeyOf(roleOf(n), idx, o)).foreach { case (n, k) =>
      val ranged: Option[Option[Array[Byte]]] =
        if (!maskingPossible) None
        else roleOf(n) match {
          case DataCol(m) if m.shardingSpec.isDefined =>
            val spec = m.shardingSpec.get
            // freshness gate for sidecar-driven masks: the doc's recorded
            // shard length AND mtime must match the live object (one
            // HEAD; length alone is defeated by constant-length
            // encodings, where a replaced shard packs to identical
            // bytes), and the index checksum is verified inside the
            // ranged read itself (the index is fetched anyway). Any
            // mismatch → retry with coordinate information only
            // (always sound: the residual filter sees the same
            // coordinate values the mask reasoned over)
            var stale = false
            def attempt(useStats: Boolean): Option[Option[Array[Byte]]] =
              innerMask(n, spec, o, idx, extent, useStats).flatMap {
                case (mask, statsRef) =>
                  val live = statsRef.map(_ => f.store.objectStat(n, k))
                  // InnerColStats.freshAgainst is THE rule (len + mtime
                  // + etag, with the documented degradations) — shared
                  // with vacuum's doc walk and incremental analyze's
                  // doc sweep so acceptance can never drift
                  val fresh = statsRef.forall(_.freshAgainst(live.get))
                  if (!fresh) { stale = true; None }
                  else if (!mask.exists(identity)) {
                    // EVERY in-extent inner chunk refuted: the all-false
                    // mask already forces zero emitted rows, so the
                    // index GET and the synthetic-shard decode buy
                    // nothing — skip the object outright. Sound by the
                    // same proofs that built the mask: live-decoded
                    // coordinates, and data bounds gated by the
                    // freshness HEAD above (fill-value semantics for
                    // the never-read bytes are irrelevant at 0 rows).
                    masks += ((spec.innerShape.toArray, mask))
                    Some(None)
                  }
                  else
                    try {
                      val bytes = present(o, n, k, Sharding.readRanged(f.store, n, k, spec,
                        m.chunkShape, mask,
                        knownLen = live.flatten.map(_.len),
                        expectIndexSum = statsRef.map(_.indexSum).getOrElse(-1L)))
                      // record the mask only once the ranged read
                      // succeeded: a stale-index retry must not leave
                      // this attempt's mask driving row emission
                      masks += ((spec.innerShape.toArray, mask))
                      Some(bytes)
                    } catch {
                      case _: Sharding.StaleShardIndexException =>
                        stale = true; None
                    }
              }
            attempt(useStats = true).orElse(
              if (stale) attempt(useStats = false) else None)
          case _ => None
        }
      out += (n -> ranged.getOrElse(present(o, n, k, f.store.readChunk(n, k))))
    }
    out.result()
  }

  /** `bytes` read for key `k` of column `n`'s chunk `o`. An absent object
    * reads as fill values — except at a manifest-resolved key, which a
    * staged writer always fills: that object is gone only when the store
    * was overwritten or compacted under this plan's pinned manifest, so
    * the read fails rather than return fill values. */
  private def present(
      o: Long, n: String, k: String, bytes: Option[Array[Byte]]): Option[Array[Byte]] = {
    if (bytes.isEmpty && f.manifest.mappedKey(geometry.chunkIndex(o), o).isDefined)
      throw new ZarrException(s"chunk $o of $n in ${f.store.root} resolves through the " +
        s"chunk manifest to $k, which is absent: the store changed after this plan " +
        "read its metadata — load it again")
    bytes
  }

  /** Extent-row indices (row-major) surviving every keep-mask, or null
    * when no mask applies. A mask-false inner region's rows are
    * provably refuted by the coordinate-only filters over their REAL
    * coordinate values, so dropping them here changes nothing the
    * residual filter would keep — it only stops the reader from
    * building (potentially shard-sized) column vectors full of fill
    * values destined for the residual's bin. */
  private def keptRows(masks: Seq[(Array[Int], Array[Boolean])], extent: Array[Int]): Array[Int] = {
    if (masks.isEmpty) return null
    val ndim = extent.length
    // per-mask, per-dim lookup: local index along d → inner-grid stride
    // contribution, so a row's inner-chunk ordinal is a sum of lookups
    val tables: Array[Array[Array[Int]]] = masks.map { case (inner, _) =>
      val grid = new Array[Int](ndim)
      var d = 0
      while (d < ndim) {
        grid(d) = (geometry.targetChunk(d) + inner(d) - 1) / inner(d)
        d += 1
      }
      val stride = new Array[Int](ndim)
      var acc = 1
      d = ndim - 1
      while (d >= 0) { stride(d) = acc; acc *= grid(d); d -= 1 }
      Array.tabulate(ndim)(d2 =>
        Array.tabulate(extent(d2))(x => (x / inner(d2)) * stride(d2)))
    }.toArray
    val nRows = extent.product
    val keep = new Array[Int](nRows)
    var kept = 0
    val idx = new Array[Int](ndim)
    var r = 0
    while (r < nRows) {
      var ok = true
      var m = 0
      while (ok && m < tables.length) {
        var gi = 0
        var d = 0
        while (d < ndim) { gi += tables(m)(d)(idx(d)); d += 1 }
        ok = masks(m)._2(gi)
        m += 1
      }
      if (ok) { keep(kept) = r; kept += 1 }
      // row-major increment
      var d = ndim - 1
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) == extent(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      r += 1
    }
    if (kept == nRows) null else java.util.Arrays.copyOf(keep, kept)
  }

  private var current: ColumnarBatch = null

  /** The window fetches ([[fetchChunk]]) of this partition's chunks,
    * skipped ranges never submitted ([[ChunkPrefetcher]]):
    * depth 4 on 4 IO threads. The reference pipelines exactly one chunk
    * ahead on one task (`zarr_data_stream.rs:647-711`); a single IO
    * thread only overlaps IO with decode, which at object-store latency
    * leaves the task IO-SERIAL — matching the pool to the window
    * parallelizes the waits themselves (~depth× on latency-bound scans,
    * such as perfbench's `cube_select` at 5 ms per request). */
  private val prefetch = new ChunkPrefetcher[Long, (Long, Option[Fetched])](
    part.runs.iterator.flatMap { case (a, b) => Iterator.range(a, b) },
    o => (o, fetchChunk(o)))

  /** Columns `names` of chunk `o`, each with its row mapping: a
    * coordinate from [[coordColumn]], a data column decoded from `raw`. */
  private def columns(
      names: Seq[String], idx: Array[Int], o: Long, extent: Array[Int],
      raw: Map[String, Option[Array[Byte]]]): Map[String, (ChunkColumn, Array[Int])] =
    names.map { n =>
      val c =
        if (coordDimOf.contains(n)) coordColumn(n, idx, o).get
        else ChunkColumn.decode(metaOf(n), raw(n))
      n -> (c, ChunkColumn.mapping(roleOf(n), geometry.targetChunk, extent))
    }.toMap

  /** Decoded chunks awaiting emission: (per-column data, rows). Small
    * chunks are coalesced into one ColumnarBatch of up to
    * [[targetBatchRows]] rows — the reference emits one batch per chunk
    * (`zarr_data_stream.rs:239-242`), which for its own bench layout
    * (8×8 chunks = 64-row batches) pays per-batch operator overhead 64×
    * more often than needed. */
  private val targetBatchRows = 4096
  private val pending =
    ArrayBuffer.empty[(Map[String, (ChunkColumn, Array[Int])], Int)]
  private var pendingRows = 0

  private def emitPending(): ColumnarBatch = {
    val total = pendingRows
    val vectors: Array[ColumnVector] = f.outputNames.map { n =>
      val meta = metaOf(n)
      val vec = new OnHeapColumnVector(total, meta.dataType.sparkType)
      var off = 0
      pending.foreach { case (cols, nRows) =>
        val (c, mapping) = cols(n)
        c.writeTo(vec, mapping, nRows, off)
        off += nRows
      }
      vec: ColumnVector
    }.toArray
    pending.clear()
    pendingRows = 0
    new ColumnarBatch(vectors, total)
  }

  private var emitted = 0L

  override def next(): Boolean = {
    if (f.limit >= 0 && emitted >= f.limit) {
      // per-partition limit satisfied; remaining chunks never fetched
      if (pendingRows > 0) { current = emitPending(); return true }
      return false
    }
    while (prefetch.hasNext) {
      // the window refills as this chunk is handed over, so fetches
      // continue while it is decoded, filtered and emitted
      prefetch.next() match {
        case (o, Some(fetched)) =>
          val idx = geometry.chunkIndex(o)
          val extent = geometry.chunkExtent(idx)
          // rows of mask-false inner regions are provably refuted — emit
          // only the kept subset (composed into each column's mapping)
          // instead of shard-sized runs of fill values
          val kr = keptRows(fetched.masks, extent)
          val allCols = fetched.predicates ++
            columns(nonPredicateOutput, idx, o, extent, fetched.bytes)
          val (outCols, outRows) =
            if (kr == null) (allCols, extent.product)
            else (allCols.map { case (n, (c, mapping)) =>
              n -> (c, if (mapping == null) kr else kr.map(r => mapping(r)))
            }, kr.length)
          if (outRows > 0) {
            pending += ((outCols, outRows))
            pendingRows += outRows
            emitted += outRows
            if (pendingRows >= targetBatchRows ||
                (f.limit >= 0 && emitted >= f.limit)) {
              current = emitPending()
              return true
            }
          }
        case _ =>
      }
      // chunk skipped or batch not yet full: continue
    }
    if (pendingRows > 0) {
      current = emitPending()
      return true
    }
    false
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    prefetch.close()
    if (current != null) { current.close(); current = null }
  }
}
