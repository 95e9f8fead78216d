package graft.sources

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
  * Pipeline per chunk (mirrors `zarr_data_stream.rs:829-916`):
  *  1. raw bytes of the *predicate* columns arrive (prefetched while the
  *     previous chunk was being consumed — the reference's IO/compute
  *     pipelining, `zarr_data_stream.rs:647-711`);
  *  2. decode them, evaluate the pushed filters with any-row semantics —
  *     no match → the whole chunk is skipped without reading the
  *     remaining columns;
  *  3. otherwise fetch+decode the remaining columns (filter/projection
  *     column sharing: predicate columns are reused for output,
  *     `zarr_data_stream.rs:877-895`) and emit one ColumnarBatch.
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

  private val predicateNames: Seq[String] =
    filters.flatMap(ChunkFilter.references).distinct.filter(roleOf.contains)
  private val nonPredicateOutput: Seq[String] =
    f.outputNames.filterNot(predicateNames.contains)
  /** Names to fetch in phase 1 (predicate) and phase 2 (rest). */
  private val phase1 = if (filters.nonEmpty) predicateNames else f.outputNames
  private val phase2 = if (filters.nonEmpty) nonPredicateOutput else Seq.empty

  // coordinate chunks are tiny and shared across target chunks → cache.
  // Concurrent: the prefetch IO threads also decode coords into it when
  // computing inner-chunk masks for ranged shard reads (below).
  private val coordCache = new java.util.concurrent.ConcurrentHashMap[String, ChunkColumn]()
  f.sharedCoords.foreach { case (n, ci, bytes) =>
    coordCache.put(s"$n/$ci", ChunkColumn.decode(metaOf(n), bytes))
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
  private val coordDimOf: Map[String, Int] =
    roleOf.collect { case (n, CoordCol(_, d)) => n -> d }
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

  /** Coordinate chunk values for coordinate `name` of chunk `o` (grid
    * index `idx`) — from the cache, else one (tiny) GET through the
    * manifest key rule. Callable from IO threads. */
  private def coordColumnFor(name: String, idx: Array[Int], o: Long): ChunkColumn = {
    val key = s"$name/${idx(coordDimOf(name))}"
    val cached = coordCache.get(key)
    if (cached != null) cached
    else {
      val c = ChunkColumn.decode(roleOf(name).meta,
        f.store.readChunk(name, f.manifest.chunkKeyOf(roleOf(name), idx, o)))
      coordCache.putIfAbsent(key, c)
      c
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
          val col = coordColumnFor(n, idx, o)
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

  /** One chunk's fetched raw bytes plus any inner-chunk keep-masks that
    * drove ranged reads ((innerShape, row-major mask) per masked
    * column). The masks flow to emission: rows of mask-false regions
    * are provably refuted by the coordinate predicates, so the reader
    * emits only the kept-region row subset instead of fill-valued rows
    * the residual filter would discard. */
  private final case class Fetched(
      bytes: Map[String, Option[Array[Byte]]],
      masks: Seq[(Array[Int], Array[Boolean])])

  /** Fetch raw bytes for the resolved (name, key) pairs of chunk `o` —
    * coordinates first (their decoded values feed the inner masks and the
    * reader-lifetime cache), then data columns, ranged when a mask
    * applies. Runs on either the IO threads or the caller thread. */
  private def fetchBytes(o: Long, pairs: Seq[(String, String)]): Fetched = {
    if (pairs.isEmpty) return Fetched(Map.empty, Nil)
    lazy val idx = geometry.chunkIndex(o)
    lazy val extent = geometry.chunkExtent(idx)
    val out = Map.newBuilder[String, Option[Array[Byte]]]
    val masks = Seq.newBuilder[(Array[Int], Array[Boolean])]
    val (coordPairs, rest) = pairs.partition { case (n, _) => coordDimOf.contains(n) }
    coordPairs.foreach { case (n, k) =>
      val bytes = present(o, n, k, f.store.readChunk(n, k))
      if (maskingPossible)
        coordCache.putIfAbsent(s"$n/${idx(coordDimOf(n))}",
          ChunkColumn.decode(roleOf(n).meta, bytes))
      out += (n -> bytes)
    }
    rest.foreach { case (n, k) =>
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
    Fetched(out.result(), masks.result())
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

  /** Coordinate chunk keys whose fetch has been SUBMITTED but not yet
    * decoded into [[coordCache]]. The prefetch window submits up to its
    * depth in chunks before the first is decoded, and the cache is only
    * written at decode time — without this set, every window slot
    * re-fetches the same coordinate chunk (≈ depth−1 redundant GETs per
    * coord chunk per grid row at object-store latency). Chunks are
    * resolved at submission on this thread and decoded in submission
    * (FIFO) order, so a coord filtered here is always in the cache by
    * the time a later chunk needs it. Declared BEFORE [[prefetch]]. */
  private val coordInFlight = new java.util.HashSet[String]()
  private var current: ColumnarBatch = null

  /** Phase-1 fetches of this partition's chunks, skipped ranges never
    * submitted, through the shared window ([[ChunkPrefetcher]]):
    * depth 4 on 4 IO threads. The reference pipelines exactly one chunk
    * ahead on one task (`zarr_data_stream.rs:647-711`); a single IO
    * thread only overlaps IO with decode, which at object-store latency
    * leaves the task IO-SERIAL — matching the pool to the window
    * parallelizes the waits themselves (~depth× on latency-bound scans,
    * such as perfbench's `cube_select` at 5 ms per request). */
  private val prefetch = new ChunkPrefetcher[(Long, Seq[(String, String)]), (Long, Fetched)](
    part.runs.iterator.flatMap { case (a, b) => Iterator.range(a, b) }
      .map(o => (o, resolveFetch(o, phase1))),
    { case (o, keys) => (o, fetchBytes(o, keys)) })

  /** Resolve which (name, storage key) pairs chunk `o` actually needs —
    * cached and already-in-flight coordinate chunks are not re-fetched. */
  private def resolveFetch(o: Long, names: Seq[String]): Seq[(String, String)] = {
    val idx = geometry.chunkIndex(o)
    names.filter { n =>
      roleOf(n) match {
        case CoordCol(_, dim) =>
          val key = s"$n/${idx(dim)}"
          !coordCache.containsKey(key) && coordInFlight.add(key)
        case _ => true
      }
    }.map(n => n -> f.manifest.chunkKeyOf(roleOf(n), idx, o))
  }

  /** Fetch raw bytes for `names` of chunk `o` on the CALLER thread.
    * Phase-2 fetches use this: the caller blocks on the bytes anyway,
    * and routing them through the prefetch pool would queue each
    * matching chunk's phase-2 GET behind the window's in-flight
    * speculative phase-1 prefetches (head-of-line blocking
    * that serializes phase-2-dominated scans); inline, phase 2
    * proceeds while the pool keeps prefetching phase 1 concurrently. */
  private def fetchNow(o: Long, names: Seq[String]): Fetched =
    fetchBytes(o, resolveFetch(o, names))

  private def decoded(
      name: String, idx: Array[Int],
      raw: Map[String, Option[Array[Byte]]]): ChunkColumn = {
    val meta = metaOf(name)
    roleOf(name) match {
      case CoordCol(_, dim) =>
        val key = s"$name/${idx(dim)}"
        val cached = coordCache.get(key)
        if (cached != null) cached
        else {
          val c = ChunkColumn.decode(meta, raw(name))
          coordCache.put(key, c)
          c
        }
      case DataCol(_) => ChunkColumn.decode(meta, raw(name))
    }
  }

  /** Decoded chunks awaiting emission: (per-column data, rows). Small
    * chunks are coalesced into one ColumnarBatch of up to
    * [[targetBatchRows]] rows — the reference emits one batch per chunk
    * (`zarr_data_stream.rs:239-242`), which for its own bench layout
    * (8×8 chunks = 64-row batches) pays per-batch operator overhead 64×
    * more often than needed. */
  private val targetBatchRows = 4096
  private val pending =
    scala.collection.mutable.ArrayBuffer.empty[(Map[String, (ChunkColumn, Array[Int])], Int)]
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
      val (o, raw1) = prefetch.next()
      val idx = geometry.chunkIndex(o)
      val extent = geometry.chunkExtent(idx)
      val nRows = extent.product

      val phase1Cols: Map[String, (ChunkColumn, Array[Int])] =
        phase1.map { n =>
          val role = roleOf(n)
          n -> (decoded(n, idx, raw1.bytes), ChunkColumn.mapping(role, geometry.targetChunk, extent))
        }.toMap

      val passes = filters.isEmpty ||
        ChunkFilter.anyRowMatches(filters, phase1Cols, nRows)
      if (passes) {
        val (phase2Cols, masks2) =
          if (phase2.isEmpty) (Map.empty[String, (ChunkColumn, Array[Int])], Nil)
          else {
            val raw2 = fetchNow(o, phase2)
            (phase2.map { n =>
              val role = roleOf(n)
              n -> (decoded(n, idx, raw2.bytes), ChunkColumn.mapping(role, geometry.targetChunk, extent))
            }.toMap, raw2.masks)
          }
        // rows of mask-false inner regions are provably refuted — emit
        // only the kept subset (composed into each column's mapping)
        // instead of shard-sized runs of fill values
        val kr = keptRows(raw1.masks ++ masks2, extent)
        val allCols = phase1Cols ++ phase2Cols
        val (outCols, outRows) =
          if (kr == null) (allCols, nRows)
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
