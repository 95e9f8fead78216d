package graft.zarr

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.sources._

/** Per-chunk min/max statistics sidecar — a beyond-reference extension.
  *
  * The reference must read and decode the predicate columns of EVERY
  * chunk to decide a skip (`zarr_data_stream.rs:849-872`); at object-store
  * latency that is one GET per chunk per predicate column even at 0%
  * selectivity. Stores written by [[graft.sources.ZarrWrite]] instead
  * carry `_stats/s<firstChunk>_<nChunks>.json` segment objects (one per
  * write task — stats never funnel through the driver, so the mechanism
  * scales with executors, not chunks), and the reader consults them
  * BEFORE submitting any fetch: a chunk whose value ranges cannot satisfy
  * the pushed filters is skipped with zero IO. Stores without sidecars
  * (all external fixtures) fall back to the reference's decode-and-test
  * path unchanged.
  *
  * Soundness contract: [[mayMatch]] returns false only when NO row of the
  * chunk can satisfy the conjunction. Unknown columns, unsupported
  * predicates, non-finite float bounds and long strings (not recorded —
  * see [[minMax]]) all evaluate conservatively.
  */
object ChunkStats {

  val dirName = "_stats"

  /** Ceiling on the chunk count one segment DOCUMENT describes: a
    * reader GETs whole overlapping segments, so one giant document
    * would turn every scan task's metadata read into megabytes. Shared
    * by analyze's unit sizing and sidecar compaction's group packing. */
  val maxSegmentChunks = 4096

  // ---- `_stats/` names: the one grammar every writer and lister shares ----

  /** One `_stats/` file, known by its name alone. */
  sealed trait Entry {
    def name: String
    /** Key under the store root. */
    final def key: String = s"$dirName/$name"
  }

  /** A committed segment over chunk ordinals [first, first + chunks).
    * The range lives in the NAME, so a listing alone tells a reader which
    * segments its chunk range needs. */
  final case class SegmentFile(first: Long, chunks: Int) extends Entry {
    def name: String = s"s${first}_$chunks.json"
  }

  /** The committed per-inner-chunk doc of outer chunk `ord`. */
  final case class InnerFile(ord: Long) extends Entry {
    def name: String = s"i$ord.json"
  }

  /** A staged entry `c.part<scope>-<final name>`: a doc whose final name
    * must not be visible yet (its chunks are staged, or its ordinals are
    * only known at commit). `scope` is the write that staged it — a cube
    * write's id, or `<writeId>-<partitionId>` for a tabular task, whose
    * final names are task-local (`s0_<n>`, `i<j>`). Every `c.part*` name
    * is staged, also one whose suffix is no final name (an old-form
    * leftover): readers never see it and vacuum reclaims it. */
  final case class StagedFile(name: String) extends Entry {
    private val cut = name.lastIndexOf('-')
    def scope: String =
      if (cut < 0) name.drop(stagedPrefix.length) else name.substring(stagedPrefix.length, cut)
    /** The final entry this one promotes to, when the suffix names one. */
    def target: Option[Entry] = if (cut < 0) None else finalEntry(name.substring(cut + 1))
    /** Staged by write `writeId` (any of its tasks)? */
    def ofWrite(writeId: String): Boolean = scope == writeId || scope.startsWith(s"$writeId-")
  }

  private val stagedPrefix = "c.part"
  private val NameRe = """s(\d+)_(\d+)\.json""".r
  private val InnerNameRe = """i(\d+)\.json""".r

  private def finalEntry(name: String): Option[Entry] = name match {
    case NameRe(f, c) => Some(SegmentFile(f.toLong, c.toInt))
    case InnerNameRe(o) => Some(InnerFile(o.toLong))
    case _ => None
  }

  /** The entry a `_stats/` file name denotes, or None for a foreign name. */
  def parseName(name: String): Option[Entry] =
    if (name.startsWith(stagedPrefix)) Some(StagedFile(name)) else finalEntry(name)

  def segmentKey(first: Long, chunks: Int): String = SegmentFile(first, chunks).key

  /** Key of the per-inner-chunk stats doc of outer chunk `ord`. */
  def innerKey(ord: Long): String = InnerFile(ord).key

  /** Key under which write scope `scope` stages the doc whose final entry
    * is `target`. */
  def stagingKey(scope: String, target: Entry): String =
    StagedFile(s"$stagedPrefix$scope-${target.name}").key

  def parseInnerName(name: String): Option[Long] =
    finalEntry(name).collect { case InnerFile(o) => o }

  // ---- per-INNER-chunk sidecar (`_stats/i<outerOrdinal>.json`) ----
  //
  // Written by `analyze`, the cube write kernel and the tabular DSv2
  // writer for SHARDED data arrays: one doc per outer chunk (= stored
  // shard) holding each column's per-inner-chunk min/max, so a
  // DATA-column predicate can mask inner chunks before any shard byte
  // is fetched (the coordinate-mask machinery extended to data
  // predicates). Staleness discipline — stale bounds here would
  // SILENTLY DROP matching rows, the worst failure class, so
  // independent guards apply:
  //  1. the doc records the array SHAPE (+ dims, chunk, inner) and is
  //     accepted under the SAME rule as grid-signed segments
  //     ([[gridCompatible]], [[innerDocCompatible]]): trailing extents
  //     and per-dim identity must match exactly, the LEADING extent may
  //     be smaller than the scan's — a row-major ordinal is a function
  //     of the trailing extents only, so dim-0 growth (append) never
  //     re-addresses a described shard, and appends never re-sign the
  //     sidecar. A LARGER leading extent (a failed append's leftover)
  //     is rejected. Docs written by the 1-D tabular writer carry an
  //     EMPTY shape (the final shape is unknown until commit) and are
  //     accepted for 1-D scans only — 1-D ordinals are append-stable,
  //     the same argument grid-less segments rest on;
  //  2. every path that REWRITES a described chunk retires its docs
  //     first, through the one [[ZarrStore.Sidecar.retire]]: the
  //     region overwrite and the cube append's ragged-edge rewrite
  //     retire the window's docs before swapping chunks and re-emit
  //     fresh ones via c.part staging, promoted only after the swap
  //     ([[ZarrStore.Sidecar.promote]]); the 1-D append retires every
  //     doc at or past its base; 1-D overwrite truncates the whole
  //     store, and the 1-D append path refuses unaligned bases (no
  //     committed chunk is ever rewritten);
  //  3. the doc records each column's shard OBJECT LENGTH, MODIFICATION
  //     TIME (`mt`) and ETAG (`et`; a staged swap's doc lacks mt and et,
  //     which promotion stamps): the reader compares them against the one HEAD it
  //     issues anyway before a ranged read, and on mismatch ignores
  //     the doc's bounds for that column. Length alone is defeatable
  //     by constant-length encodings (a raw-codec shard of the same
  //     shape packs to identical bytes), which is why mtime rides
  //     along — but mtime inherits the store's modification-time
  //     GRANULARITY (one second on S3-style object stores, so a
  //     same-length rewrite landing inside the same granule passes
  //     it); the etag (content-derived — S3A/ABFS statuses implement
  //     Hadoop 3.4's EtagSource, local FS does not) closes that
  //     granularity residue where the store exposes one. `mt` < 0
  //     (legacy docs, failed promotion stat) degrades to the
  //     length-only check; an empty `et` on either side degrades to
  //     the length+mtime check;
  //  4. the doc records a CRC32 of the shard's encoded index bytes
  //     (`isum`): the ranged read fetches the index anyway, so the
  //     reader verifies it for free and falls back to coordinate-only
  //     masking on mismatch — catching a swap that lands between the
  //     freshness HEAD and the index GET (for encodings whose index
  //     bytes change; a constant-length encoding's identical index,
  //     on an etag-less store within one mtime granule, is the
  //     irreducible residue of non-transactional HEAD-then-GET,
  //     the same residue the whole-object path has).
  // Bounds are computed over the inner region's IN-EXTENT rows of the
  // DECODED buffer, so absent inner chunks record [fill, fill] — the
  // values a scan of those rows actually emits.

  /** Per-inner-chunk bounds of one assembled outer chunk (row-major
    * over the inner grid of `inner` inside `chunkShape`): each inner
    * chunk's bound covers its IN-EXTENT elements only — what a scan of
    * those rows emits — and fully-out-of-extent slots record None.
    * `get` reads the row-major outer buffer (decoded column or write
    * buffer). */
  private def innerBounds(
      get: Int => Any, zt: ZarrType, inner: Array[Int],
      chunkShape: Array[Int], extent: Array[Int]): IndexedSeq[Option[Bound]] = {
    val ndim = chunkShape.length
    val grid = Array.tabulate(ndim)(d => chunkShape(d) / inner(d))
    val stride = new Array[Int](ndim)
    var acc = 1
    var d = ndim - 1
    while (d >= 0) { stride(d) = acc; acc *= chunkShape(d); d -= 1 }
    val nInner = grid.product
    (0 until nInner).map { gi =>
      val g = new Array[Int](ndim)
      var rem = gi
      var k = ndim - 1
      while (k >= 0) { g(k) = rem % grid(k); rem /= grid(k); k -= 1 }
      val lo = Array.tabulate(ndim)(d2 => g(d2) * inner(d2))
      val hi = Array.tabulate(ndim)(d2 =>
        math.min((g(d2) + 1).toLong * inner(d2), extent(d2).toLong).toInt)
      if ((0 until ndim).exists(d2 => lo(d2) >= hi(d2))) None
      else {
        val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
        val idx = lo.clone()
        var done = false
        while (!done) {
          var e = 0
          var j = 0
          while (j < ndim) { e += idx(j) * stride(j); j += 1 }
          vals += get(e)
          var m2 = ndim - 1
          var carry = true
          while (carry && m2 >= 0) {
            idx(m2) += 1
            if (idx(m2) == hi(m2)) {
              idx(m2) = lo(m2)
              if (m2 == 0) done = true
              m2 -= 1
            } else carry = false
          }
        }
        minMaxBound(zt, vals)
      }
    }
  }

  /** One column's per-inner-chunk stats inside an [[InnerDoc]]. `mins`/
    * `maxs` are row-major over the column's inner grid; null entries
    * carry no bound (never-emitted fully-out-of-extent slots).
    * `mtime`/`indexSum` < 0 = unrecorded (guards degrade, see the
    * staleness notes above). */
  final case class InnerColStats(
      inner: Array[Int], objectLen: Long, mins: Array[Any], maxs: Array[Any],
      mtime: Long = -1L, indexSum: Long = -1L, etag: String = "") {
    def range(gi: Int): Option[(Any, Any)] =
      if (gi < 0 || gi >= mins.length || mins(gi) == null || maxs(gi) == null) None
      else Some((mins(gi), maxs(gi)))

    /** THE freshness rule — the one definition the reader, vacuum's doc
      * walk and incremental analyze's doc sweep all consume, so the
      * three can never drift: recorded length < 0 requires live
      * absence; otherwise the live length must match, the mtime must
      * match when recorded (mt < 0 = legacy doc, degrades to
      * length-only), and the etag must match when BOTH sides carry one
      * (the content-derived token closing the mtime-granularity
      * residue; empty on either side degrades to len+mt). */
    def freshAgainst(live: Option[ZarrStore.ObjStat]): Boolean =
      if (objectLen < 0) live.isEmpty
      else live.exists { st =>
        st.len == objectLen && (mtime < 0 || st.mtime == mtime) &&
          (etag.isEmpty || st.etag.isEmpty || st.etag == etag)
      }
  }

  final case class InnerDoc(
      shape: Array[Long], dims: Array[String], chunk: Array[Int],
      cols: Map[String, InnerColStats])

  /** Writer-side input for one column of an inner doc. `mtime` is the
    * stored object's modification time (-1 = unknown; staged swaps
    * record -1 and promotion fills it); `indexSum` is the CRC32 of the
    * shard's encoded index bytes (-1 = unknown/absent object); `etag`
    * is the store's content-derived object tag ("" where the FileSystem
    * exposes none — staged swaps record "" and promotion fills it). */
  final case class InnerColInput(
      name: String, zt: ZarrType, inner: Seq[Int], objectLen: Long,
      mtime: Long, indexSum: Long, bounds: IndexedSeq[Option[Bound]],
      etag: String = "")

  /** Whether column `m` gets per-inner-chunk stats: sharded, and not
    * binary (payloads carry no order, so its inner bounds would be
    * garbage; such columns are masked by coordinate predicates only). */
  def hasInnerStats(m: ZarrArrayMeta): Boolean =
    m.shardingSpec.isDefined && m.dataType != ZarrType.Bytes

  /** One sharded column's entry in an inner doc: the inner bounds of
    * one outer chunk's values (`get`, row-major over the chunk shape,
    * in-extent elements only) and the freshness tokens of its stored
    * shard — length and index checksum from `packed` (None = the shard
    * is absent), mtime and etag from `st` (None = unknown). */
  def innerCol(
      m: ZarrArrayMeta, packed: Option[Array[Byte]], st: Option[ZarrStore.ObjStat],
      get: Int => Any, extent: Array[Int]): InnerColInput = {
    val sp = m.shardingSpec.get
    InnerColInput(m.name, m.dataType, sp.innerShape,
      packed.fold(-1L)(_.length.toLong), st.fold(-1L)(_.mtime),
      packed.fold(-1L)(Sharding.encodedIndexSum(sp, _, m.chunkShape)),
      innerBounds(get, m.dataType, sp.innerShape.toArray, m.chunkShape, extent),
      st.fold("")(_.etag))
  }

  /** The per-chunk stats of one segment, the one recorder every
    * emitter (tabular writer, cube kernel, `analyze`) shares: each
    * [[record]] appends one chunk's bounds and exact sum per column,
    * and [[doc]] encodes the run as a segment document. */
  final class SegmentRecorder(cols: Seq[(String, ZarrType)]) {
    private val bounds = Array.fill(cols.length)(Vector.newBuilder[Option[Bound]])
    private val sums = Array.fill(cols.length)(Vector.newBuilder[Option[Long]])
    private var n = 0

    /** Chunks recorded since the last [[clear]]. */
    def chunks: Int = n

    /** Record one chunk: `vals(i)` are column i's values over the
      * chunk's output rows (edge-truncated, coordinates broadcast). */
    def record(vals: Int => scala.collection.Seq[Any]): Unit = {
      cols.indices.foreach { i =>
        val v = vals(i)
        bounds(i) += minMaxBound(cols(i)._2, v)
        sums(i) += chunkSum(cols(i)._2, v)
      }
      n += 1
    }

    /** The segment document; an empty `grid` leaves it grid-less (1-D). */
    def doc(grid: Seq[Int] = Nil, dims: Seq[String] = Nil): String =
      encodeBounds(cols.indices.map { i =>
        (cols(i)._1, cols(i)._2, bounds(i).result(), sums(i).result())
      }, grid, dims)

    def clear(): Unit = {
      bounds.foreach(_.clear())
      sums.foreach(_.clear())
      n = 0
    }
  }

  /** Encode one inner doc. An EMPTY `shape` marks a grid-less 1-D doc
    * (the tabular writer's — final shape unknown until commit),
    * accepted for 1-D scans only, like grid-less segments. */
  def encodeInner(
      shape: Seq[Long], dims: Seq[String], chunk: Seq[Int],
      cols: Seq[InnerColInput]): String = {
    val root = mapper.createObjectNode()
    root.put(strOrderField, strOrderCp)
    val sh = root.putArray("shape"); shape.foreach(sh.add)
    val dm = root.putArray("dims"); dims.foreach(dm.add)
    val ch = root.putArray("chunk"); chunk.foreach(ch.add)
    val colsNode = root.putObject("cols")
    cols.foreach { ci =>
      val c = colsNode.putObject(ci.name)
      val in = c.putArray("inner"); ci.inner.foreach(in.add)
      c.put("len", ci.objectLen)
      if (ci.mtime >= 0) c.put("mt", ci.mtime)
      if (ci.indexSum >= 0) c.put("isum", ci.indexSum)
      if (ci.etag.nonEmpty) c.put("et", ci.etag)
      val mins = c.putArray("min")
      val maxs = c.putArray("max")
      ci.bounds.foreach {
        case Some(b) => putVal(mins, ci.zt, b.lo); putVal(maxs, ci.zt, b.hi)
        case None => mins.addNull(); maxs.addNull()
      }
    }
    mapper.writeValueAsString(root)
  }

  /** May `doc`'s ordinal be interpreted against a store with the given
    * geometry? The inner-doc analogue of [[gridCompatible]], applied
    * through the one verdict [[InnerDocs]]:
    *  - empty doc shape (tabular writer): 1-D stores only, chunk must
    *    match (1-D ordinals are append-stable; rewrite paths retire);
    *  - else trailing extents, chunk shape and per-dim identity must
    *    match exactly; the LEADING extent may be smaller (a doc
    *    recorded before a dim-0 append describes exactly the same
    *    shard afterwards — append retires/re-emits its edge window's
    *    docs, so a surviving doc's chunk was never rewritten). A
    *    larger leading extent is a failed append's leftover: reject. */
  def innerDocCompatible(
      d: InnerDoc, shape: Seq[Long], chunk: Seq[Int], dims: Seq[String]): Boolean =
    if (d.shape.isEmpty) shape.length == 1 && d.chunk.toSeq == chunk
    else d.shape.length == shape.length && d.shape(0) <= shape(0) &&
      (1 until shape.length).forall(i => d.shape(i) == shape(i)) &&
      d.chunk.toSeq == chunk && d.dims.toSeq == dims

  /** Stamp the `mt`/`et` freshness tokens of every inner-doc column that
    * lacks `mt` from live object stats — the promotion step of
    * [[ZarrStore.Sidecar.promote]]. A staged swap's doc cannot know the
    * final object's modification time or etag (FileContext rename
    * preserves the staged file's mtime but the copy fallback does not,
    * and object-store etags are assigned at PUT), so it records none and
    * the promoter stats each final object once; a column that carries
    * `mt` was recorded next to its object's PUT and is left as written.
    * The stamp is only applied when the live length equals the doc's
    * recorded length (anything else leaves the tokens unset and the
    * reader's length guard declines the mask). */
  def stampInner(
      json: String, statOf: String => Option[ZarrStore.ObjStat]): String =
    try {
      val root = mapper.readTree(json)
      val colsNode = root.get("cols")
      if (colsNode == null) return json
      var stamped = false
      val it = colsNode.fieldNames()
      while (it.hasNext) {
        val name = it.next()
        val c = colsNode.get(name).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val lenN = c.get("len")
        if (lenN != null && !c.has("mt")) {
          stamped = true
          statOf(name) match {
            case Some(st) if st.len == lenN.asLong() =>
              c.put("mt", st.mtime)
              if (st.etag.nonEmpty) c.put("et", st.etag) else c.remove("et"): Unit
            case _ => c.remove("et"): Unit
          }
        }
      }
      if (stamped) mapper.writeValueAsString(root) else json
    } catch { case _: Exception => json }

  /** Parse + structurally validate an inner-stats doc; None on anything
    * malformed (the sidecar is auxiliary — a bad doc must never fail a
    * scan, it just stops masking). String columns require the
    * code-point order marker, like segment bounds. */
  def parseInner(json: String, ztOf: String => Option[ZarrType]): Option[InnerDoc] =
    try {
      val root = mapper.readTree(json)
      def longs(f: String): Option[Array[Long]] = Option(root.get(f))
        .filter(_.isArray).map(a => Array.tabulate(a.size())(i => a.get(i).asLong()))
      def strs(f: String): Option[Array[String]] = Option(root.get(f))
        .filter(_.isArray).map(a => Array.tabulate(a.size())(i => a.get(i).asText()))
      val shape = longs("shape").getOrElse(return None)
      val dims = strs("dims").getOrElse(return None)
      val chunk = longs("chunk").getOrElse(return None).map(_.toInt)
      val cpOrdered = {
        val n = root.get(strOrderField)
        n != null && n.asText() == strOrderCp
      }
      val colsNode = root.get("cols")
      if (colsNode == null) return None
      val b = Map.newBuilder[String, InnerColStats]
      val it = colsNode.fieldNames()
      while (it.hasNext) {
        val name = it.next()
        ztOf(name).filter(zt => (cpOrdered || zt != ZarrType.Str)
            && zt != ZarrType.Bytes).foreach { zt =>
          val c = colsNode.get(name)
          val innerN = c.get("inner")
          val minsN = c.get("min")
          val maxsN = c.get("max")
          val lenN = c.get("len")
          if (innerN != null && innerN.isArray && minsN != null && maxsN != null &&
            lenN != null && minsN.size() == maxsN.size()) {
            val inner = Array.tabulate(innerN.size())(i => innerN.get(i).asInt())
            val n = minsN.size()
            val mins = new Array[Any](n)
            val maxs = new Array[Any](n)
            var i = 0
            while (i < n) {
              if (!minsN.get(i).isNull && !maxsN.get(i).isNull) {
                mins(i) = readVal(minsN.get(i), zt)
                maxs(i) = readVal(maxsN.get(i), zt)
              }
              i += 1
            }
            val mtN = c.get("mt")
            val isumN = c.get("isum")
            val etN = c.get("et")
            b += name -> InnerColStats(inner, lenN.asLong(), mins, maxs,
              if (mtN == null) -1L else mtN.asLong(),
              if (isumN == null) -1L else isumN.asLong(),
              if (etN == null) "" else etN.asText())
          }
        }
      }
      Some(InnerDoc(shape, dims, chunk, b.result()))
    } catch { case _: Exception => None }

  /** THE inner-doc verdict on one geometry — the rule the reader's
    * inner masking, vacuum's doc walk and incremental analyze's doc
    * sweep all apply, so what a scan masks with, what vacuum keeps and
    * what analyze counts as coverage cannot drift. A doc is ACCEPTED
    * ([[read]]) when its ordinal lies in the grid and it parses and is
    * [[innerDocCompatible]] with the geometry; a column of an accepted
    * doc is USABLE ([[column]]) when it is a sharded, non-binary data
    * column whose recorded inner shape and bound count match the live
    * sharding spec; a usable column is FRESH ([[fresh]]) when it passes
    * [[InnerColStats.freshAgainst]] against one live HEAD of its object,
    * taken only when asked. The reader takes that HEAD itself, before
    * its ranged read. `geometry` resolves the arrays read (a scan's
    * selection or the whole store), `manifest` is the committed one. */
  final class InnerDocs(geometry: ScanGeometry, manifest: ChunkManifest) {
    private val ztOf: Map[String, ZarrType] =
      geometry.roles.map(r => r.meta.name -> r.meta.dataType).toMap

    /** The columns a doc can describe: each sharded, non-binary data
      * column with its inner grid under the live sharding spec (None
      * when the spec does not tile the chunk — never usable). */
    val columns: Map[String, (ZarrArrayMeta, Option[Array[Int]])] =
      geometry.roles.collect { case DataCol(m) if hasInnerStats(m) =>
        m.name -> ((m, Sharding.innerGrid(geometry.targetChunk, m.shardingSpec.get)))
      }.toMap

    /** The doc of ordinal `ord`, read and accepted; None when absent, out
      * of the grid, malformed or signed for another geometry (the
      * sidecar is auxiliary: any failure declines it). */
    def read(store: ZarrStore, ord: Long): Option[InnerDoc] =
      if (ord < 0 || ord >= geometry.numChunks) None
      else try store.readText(innerKey(ord)).flatMap(parseInner(_, ztOf.get))
        .filter(innerDocCompatible(_, geometry.targetShape.toSeq,
          geometry.targetChunk.toSeq, geometry.dimIdentity))
      catch { case _: Throwable => None }

    /** Column `name` of accepted doc `d`, when usable. */
    def column(d: InnerDoc, name: String): Option[InnerColStats] =
      columns.get(name).flatMap { case (m, grid) =>
        d.cols.get(name).filter(cs => grid.exists(g =>
          cs.inner.sameElements(m.shardingSpec.get.innerShape) && cs.mins.length == g.product))
      }

    /** Is column `name` of doc `d` (ordinal `ord`) usable and fresh? */
    def fresh(store: ZarrStore, d: InnerDoc, name: String, ord: Long): Boolean =
      column(d, name).exists { cs =>
        val idx = geometry.chunkIndex(ord)
        cs.freshAgainst(store.objectStat(name, manifest.chunkKeyOf(columns(name)._1, idx, ord)))
      }

    /** Does the doc of `ord` hold a fresh usable column for `every`
      * sharded data column (analyze's coverage) or for at least one
      * (vacuum's liveness: a doc a reader could still mask with)? */
    def live(store: ZarrStore, ord: Long, every: Boolean): Boolean =
      read(store, ord).exists { d =>
        if (every) columns.keys.forall(fresh(store, d, _, ord))
        else columns.keys.exists(fresh(store, d, _, ord))
      }
  }

  /** Strings up to this length are stored as EXACT bounds. */
  private val maxStrLen = 64

  /** Clamp length for longer strings (Parquet's truncate-and-increment
    * discipline): the stored bounds are a conservative SUPERSET interval. */
  private val strPrefixLen = 16

  /** Min/max of one chunk's values under [[ChunkFilter.cmp]] ordering, or
    * None when the column cannot be soundly summarized (non-finite floats,
    * un-clampable long strings, empty chunk).
    *
    * Long strings (document text) get CLAMPED bounds instead of no stats:
    * the min is truncated to [[strPrefixLen]] chars (a prefix always sorts
    * ≤ the full string — safe to weaken a lower bound), and the max is the
    * truncated prefix with its last character incremented (strictly > every
    * string sharing the prefix). The widened interval [lo', hi'] ⊇ [lo, hi]
    * keeps every interval proof in [[mayMatch]] sound — skips only get
    * rarer, never wrong. Truncation and increment operate in CODE-POINT
    * space (see [[strUpperBound]]) under the same code-point order
    * [[ChunkFilter.cmp]] compares with, so multilingual text — the common
    * case for a 100 TB document store — clamps just as well as ASCII;
    * only ill-formed UTF-16 declines. */
  def minMax(zt: ZarrType, vals: scala.collection.Seq[Any]): Option[(Any, Any)] =
    minMaxBound(zt, vals).map(b => (b.lo, b.hi))

  /** A chunk's recorded bounds. `exact = false` marks CLAMPED bounds
    * (long-string prefixes): sound as a superset interval for skip
    * proofs, but NOT actual data values — the metadata-only MIN/MAX
    * pushdown must never answer from them. */
  final case class Bound(lo: Any, hi: Any, exact: Boolean = true)

  def minMaxBound(zt: ZarrType, vals: scala.collection.Seq[Any]): Option[Bound] = {
    if (vals.isEmpty) return None
    // binary payloads carry no order the skip machinery could use, and
    // cmp's equality fallback on arrays would record garbage bounds
    if (zt == ZarrType.Bytes) return None
    zt match {
      case ZarrType.Float32 =>
        if (vals.exists(v => !java.lang.Float.isFinite(v.asInstanceOf[Float]))) return None
      case ZarrType.Float64 =>
        if (vals.exists(v => !java.lang.Double.isFinite(v.asInstanceOf[Double]))) return None
      case _ => ()
    }
    var lo = vals.head
    var hi = vals.head
    vals.foreach { v =>
      if (ChunkFilter.cmp(v, lo) < 0) lo = v
      if (ChunkFilter.cmp(v, hi) > 0) hi = v
    }
    zt match {
      case ZarrType.Str =>
        val loS = lo.asInstanceOf[String]
        val hiS = hi.asInstanceOf[String]
        if (loS.length <= maxStrLen && hiS.length <= maxStrLen) Some(Bound(loS, hiS))
        else {
          val loClamped =
            if (loS.length <= strPrefixLen) loS else strPrefix(loS)
          val hiClamped =
            if (hiS.length <= strPrefixLen) Some(hiS) else strUpperBound(hiS)
          hiClamped.map(h => Bound(loClamped, h, exact = false))
        }
      case _ => Some(Bound(lo, hi))
    }
  }

  /** Clamp prefix truncated at a CODE-POINT boundary (never mid surrogate
    * pair). A prefix sorts <= the full string in code-point order, so this
    * is always a sound lower-bound weakening. */
  private def strPrefix(s: String): String = {
    var cut = math.min(strPrefixLen, s.length)
    if (cut > 0 && cut < s.length && Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
    s.substring(0, cut)
  }

  /** Shortest string strictly greater — in the code-point order
    * [[ChunkFilter.cmp]] and the engine's UTF8String comparisons share —
    * than every string starting with the clamp prefix: truncate at a
    * code-point boundary, then increment the rightmost incrementable code
    * point and drop everything after it. The increment steps over the
    * surrogate gap (U+D7FF → U+E000, the next scalar value) and carries
    * past U+10FFFF; real multilingual text (accents, CJK, emoji) is
    * therefore always clampable. None only for ill-formed prefixes (lone
    * surrogates, where no order argument holds) or a prefix made entirely
    * of U+10FFFF. */
  private def strUpperBound(s: String): Option[String] = {
    val p = strPrefix(s)
    // decline ill-formed UTF-16: a lone surrogate has no scalar value and
    // the per-code-point order argument below does not apply
    var j = 0
    while (j < p.length) {
      val c = p.charAt(j)
      if (Character.isHighSurrogate(c)) {
        if (j + 1 >= p.length || !Character.isLowSurrogate(p.charAt(j + 1))) return None
        j += 2
      } else if (Character.isLowSurrogate(c)) return None
      else j += 1
    }
    var i = p.length
    while (i > 0) {
      val cp = p.codePointBefore(i)
      i -= Character.charCount(cp)
      if (cp < 0x10FFFF) {
        val inc = if (cp == 0xD7FF) 0xE000 else cp + 1
        return Some(p.substring(0, i) + new String(Character.toChars(inc)))
      }
    }
    None
  }

  private val mapper = new ObjectMapper()

  /** Exact sum of one chunk's values for integer-typed columns, or None
    * when the type is not exactly summable (strings, bools, floats —
    * float summation is order-dependent, so a stored float sum could not
    * reproduce an engine's scan result — and UInt64) or when the exact
    * sum overflows Long (a pushed SUM must be the mathematical sum; an
    * overflow's wrapped value would silently disagree with ANSI mode). */
  def chunkSum(zt: ZarrType, vals: scala.collection.Seq[Any]): Option[Long] = {
    if (vals.isEmpty) return None
    val asLong: Any => Long = zt match {
      case ZarrType.Int8 => v => v.asInstanceOf[Byte].toLong
      case ZarrType.Int16 => v => v.asInstanceOf[Short].toLong
      case ZarrType.Int32 => v => v.asInstanceOf[Int].toLong
      case ZarrType.Int64 => v => v.asInstanceOf[Long]
      case ZarrType.UInt8 => v => v.asInstanceOf[Short].toLong
      case ZarrType.UInt16 => v => v.asInstanceOf[Int].toLong
      case ZarrType.UInt32 => v => v.asInstanceOf[Long]
      case _ => return None
    }
    try {
      var s = 0L
      vals.foreach(v => s = Math.addExact(s, asLong(v)))
      Some(s)
    } catch { case _: ArithmeticException => None }
  }

  /** Encode one segment: per column, parallel min/max arrays with `null`
    * for chunks without a recorded range. */
  def encode(cols: Seq[(String, ZarrType, IndexedSeq[Option[(Any, Any)]],
      IndexedSeq[Option[Long]])]): String =
    encodeBounds(cols.map { case (n, zt, rs, ss) =>
      (n, zt, rs.map(_.map { case (lo, hi) => Bound(lo, hi) }), ss)
    })

  /** Marker recording which STRING ordering the segment's bounds were
    * selected under. Round 9 switched [[ChunkFilter.cmp]] from UTF-16
    * code-unit to code-point order; a pre-switch sidecar's string
    * min/max can be the WRONG extrema under the new order (supplementary
    * vs [U+E000,U+FFFF] characters), so segments without this marker
    * must not contribute string bounds — numeric bounds are
    * order-unaffected and stay live. */
  private val strOrderField = "sord"
  private val strOrderCp = "cp"

  def encodeBounds(cols: Seq[(String, ZarrType, IndexedSeq[Option[Bound]],
      IndexedSeq[Option[Long]])],
      grid: Seq[Int] = Nil,
      dims: Seq[String] = Nil): String = {
    val root = mapper.createObjectNode()
    root.put(strOrderField, strOrderCp)
    // grid signature: which chunk grid (row-major) the segment's ordinals
    // enumerate. Absent on the 1-D write path (final shape unknown until
    // commit) — readers accept grid-less segments for 1-D scans only.
    if (grid.nonEmpty) {
      val g = root.putArray("grid")
      grid.foreach(g.add)
      val d = root.putArray("dims")
      dims.foreach(d.add)
    }
    val colsNode = root.putObject("cols")
    cols.foreach { case (name, zt, ranges, sums) =>
      val c = colsNode.putObject(name)
      val mins = c.putArray("min")
      val maxs = c.putArray("max")
      ranges.foreach {
        case Some(b) => putVal(mins, zt, b.lo); putVal(maxs, zt, b.hi)
        case None => mins.addNull(); maxs.addNull()
      }
      // chunk ordinals (segment-relative) whose bounds are clamped —
      // usually absent, so the field costs nothing on numeric columns
      val approxIdx = ranges.zipWithIndex.collect {
        case (Some(b), i) if !b.exact => i
      }
      if (approxIdx.nonEmpty) {
        val ap = c.putArray("approx")
        approxIdx.foreach(ap.add)
      }
      if (sums.exists(_.isDefined)) {
        val ss = c.putArray("sum")
        sums.foreach {
          case Some(s) => ss.add(s)
          case None => ss.addNull()
        }
      }
    }
    mapper.writeValueAsString(root)
  }

  private def putVal(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      zt: ZarrType, v: Any): Unit = zt match {
    case ZarrType.Bool => arr.add(v.asInstanceOf[Boolean])
    case ZarrType.Int8 => arr.add(v.asInstanceOf[Byte].toInt)
    case ZarrType.Int16 => arr.add(v.asInstanceOf[Short].toInt)
    case ZarrType.Int32 => arr.add(v.asInstanceOf[Int])
    case ZarrType.Int64 => arr.add(v.asInstanceOf[Long])
    case ZarrType.UInt8 => arr.add(v.asInstanceOf[Short].toInt)
    case ZarrType.UInt16 => arr.add(v.asInstanceOf[Int])
    case ZarrType.UInt32 => arr.add(v.asInstanceOf[Long])
    case ZarrType.UInt64 => arr.add(v.asInstanceOf[java.math.BigDecimal].toPlainString)
    case ZarrType.Float32 => arr.add(v.asInstanceOf[Float])
    case ZarrType.Float64 => arr.add(v.asInstanceOf[Double])
    case ZarrType.Str => arr.add(v.asInstanceOf[String])
    case ZarrType.Bytes =>
      throw new ZarrException("binary columns carry no recorded stats")
  }

  private def readVal(n: JsonNode, zt: ZarrType): Any = zt match {
    case ZarrType.Bytes =>
      throw new ZarrException("binary columns carry no recorded stats")
    case ZarrType.Bool => n.asBoolean()
    case ZarrType.Int8 => n.asInt().toByte
    case ZarrType.Int16 => n.asInt().toShort
    case ZarrType.Int32 => n.asInt()
    case ZarrType.Int64 => n.asLong()
    case ZarrType.UInt8 => n.asInt().toShort
    case ZarrType.UInt16 => n.asInt()
    case ZarrType.UInt32 => n.asLong()
    case ZarrType.UInt64 => new java.math.BigDecimal(n.asText())
    case ZarrType.Float32 => n.floatValue()
    case ZarrType.Float64 => n.doubleValue()
    case ZarrType.Str => n.asText()
  }

  /** One parsed segment covering chunk ordinals [first, first+chunks). */
  final case class Segment(
      first: Long, chunks: Int,
      cols: Map[String, (Array[Any], Array[Any])],
      sums: Map[String, Array[java.lang.Long]] = Map.empty,
      approx: Map[String, Set[Int]] = Map.empty,
      /** (chunk-grid shape, per-dim identity) the ordinals enumerate;
        * None = legacy 1-D write-path segment (valid for 1-D scans). */
      grid: Option[(Array[Int], Array[String])] = None) {
    def contains(ord: Long): Boolean = ord >= first && ord < first + chunks
    /** Range of `col` at ordinal `ord`, or None when unrecorded. May be a
      * CLAMPED superset interval (long strings) — sound for skip proofs. */
    def range(col: String, ord: Long): Option[(Any, Any)] =
      cols.get(col).flatMap { case (mins, maxs) =>
        val i = (ord - first).toInt
        if (i < mins.length && mins(i) != null) Some((mins(i), maxs(i))) else None
      }
    /** Like [[range]] but only EXACT bounds (actual data values) — the
      * form the metadata-only MIN/MAX pushdown may answer from; clamped
      * prefix bounds return None here. */
    def exactRange(col: String, ord: Long): Option[(Any, Any)] =
      if (approx.get(col).exists(_.contains((ord - first).toInt))) None
      else range(col, ord)
    /** Exact sum of `col` at ordinal `ord`, or None when unrecorded
      * (pre-sum sidecars, non-integer columns, chunk-level overflow). */
    def sum(col: String, ord: Long): Option[Long] =
      sums.get(col).flatMap { ss =>
        val i = (ord - first).toInt
        if (i < ss.length && ss(i) != null) Some(ss(i).longValue) else None
      }
  }

  def parse(first: Long, chunks: Int, json: String,
      ztOf: String => Option[ZarrType]): Segment = {
    val root = mapper.readTree(json)
    val colsNode = root.get("cols")
    // pre-round-9 segments (no string-order marker) selected string
    // extrema under UTF-16 code-unit order — unsound as bounds under
    // the code-point comparator, so their STRING columns are ignored
    // (numeric columns are unaffected by the order change)
    val cpOrdered = {
      val n = root.get(strOrderField)
      n != null && n.asText() == strOrderCp
    }
    val b = Map.newBuilder[String, (Array[Any], Array[Any])]
    if (colsNode != null) {
      val it = colsNode.fieldNames()
      while (it.hasNext) {
        val name = it.next()
        ztOf(name).filter(zt => (cpOrdered || zt != ZarrType.Str)
            && zt != ZarrType.Bytes).foreach { zt =>
          val c = colsNode.get(name)
          val minsN = c.get("min")
          val maxsN = c.get("max")
          // tolerate truncated/asymmetric arrays (hand-edited or corrupt
          // sidecars): anything not covered simply has no recorded range
          val n = math.min(chunks, math.min(
            if (minsN == null) 0 else minsN.size(),
            if (maxsN == null) 0 else maxsN.size()))
          val mins = new Array[Any](chunks)
          val maxs = new Array[Any](chunks)
          var i = 0
          while (i < n) {
            if (!minsN.get(i).isNull && !maxsN.get(i).isNull) {
              mins(i) = readVal(minsN.get(i), zt)
              maxs(i) = readVal(maxsN.get(i), zt)
            }
            i += 1
          }
          b += name -> ((mins, maxs))
        }
      }
    }
    val sb = Map.newBuilder[String, Array[java.lang.Long]]
    val ab = Map.newBuilder[String, Set[Int]]
    if (colsNode != null) {
      val it = colsNode.fieldNames()
      while (it.hasNext) {
        val name = it.next()
        if (ztOf(name).isDefined) {
          val sumsN = colsNode.get(name).get("sum")
          if (sumsN != null) {
            val ss = new Array[java.lang.Long](chunks)
            var i = 0
            val n = math.min(chunks, sumsN.size())
            while (i < n) {
              if (!sumsN.get(i).isNull) ss(i) = sumsN.get(i).asLong()
              i += 1
            }
            sb += name -> ss
          }
          val approxN = colsNode.get(name).get("approx")
          if (approxN != null && approxN.isArray) {
            val s = Set.newBuilder[Int]
            var i = 0
            while (i < approxN.size()) { s += approxN.get(i).asInt(); i += 1 }
            ab += name -> s.result()
          }
        }
      }
    }
    val gridSig = {
      val g = root.get("grid")
      if (g == null || !g.isArray) None
      else {
        val gs = Array.tabulate(g.size())(i => g.get(i).asInt())
        val d = root.get("dims")
        val ds =
          if (d != null && d.isArray && d.size() == gs.length)
            Array.tabulate(d.size())(i => d.get(i).asText())
          else Array.fill(gs.length)("")
        Some((gs, ds))
      }
    }
    Segment(first, chunks, b.result(), sb.result(), ab.result(), gridSig)
  }

  /** Re-encode a CONTIGUOUS run of parsed segments as ONE document
    * covering `[first, first + total)` — the sidecar-compaction merge,
    * and (one source reaching past the range) a retire's straddle trim.
    * Bounds, sums and clamped-bound (approx) markers are preserved
    * per ordinal exactly; a column absent from a source segment is
    * simply unrecorded over that range (null bounds — the same shape a
    * reader sees today across two documents). String columns a source
    * dropped at parse time (pre-code-point-order legacy docs) stay
    * dropped — they were unsound as bounds and unusable anyway. The
    * merged doc is signed with the CURRENT grid (`grid`/`dims`):
    * ordinals are append-stable, so a current signature stays valid
    * across future dim-0 growth under the smaller-leading-extent
    * acceptance, exactly like an analyze-written segment. */
  def mergeSegments(
      first: Long, total: Int, sources: Seq[Segment],
      ztOf: String => Option[ZarrType],
      grid: Seq[Int], dims: Seq[String]): String = {
    val names = sources.flatMap(_.cols.keys).distinct.sorted
    val cols = names.flatMap { nm =>
      ztOf(nm).map { zt =>
        val bounds = Array.fill[Option[Bound]](total)(None)
        val sums = Array.fill[Option[Long]](total)(None)
        sources.foreach { s =>
          val off = (s.first - first).toInt
          // a source may reach past [first, first + total): only its
          // ordinals inside are carried (the straddle trim of a retire)
          val (lo, hi) = (math.max(0, -off), math.min(s.chunks, total - off))
          s.cols.get(nm).foreach { case (mins, maxs) =>
            var i = lo
            while (i < hi) {
              if (mins(i) != null)
                bounds(off + i) = Some(Bound(mins(i), maxs(i),
                  exact = !s.approx.get(nm).exists(_.contains(i))))
              i += 1
            }
          }
          s.sums.get(nm).foreach { ss =>
            var i = lo
            while (i < hi) {
              if (ss(i) != null) sums(off + i) = Some(ss(i).longValue)
              i += 1
            }
          }
        }
        (nm, zt, bounds.toIndexedSeq: IndexedSeq[Option[Bound]],
          sums.toIndexedSeq: IndexedSeq[Option[Long]])
      }
    }
    encodeBounds(cols, grid, dims)
  }

  /** May `seg`'s ordinals be interpreted against `geom`'s grid?
    *  - 1-D scan: any 1-D signature (or none — the write path's
    *    segments) is accepted. A single dimension cannot permute, and
    *    1-D ordinals are APPEND-STABLE (dim-0 chunk index never moves
    *    when the array grows), so requiring an exact chunk-count match
    *    would silently orphan an analyzed store's segments after its
    *    first append. Phantom ordinals past the committed grid are
    *    rejected by [[usableSegments]]' in-grid filter, and
    *    every rewrite path purges segments before changing the layout.
    *  - N-D scan: the TRAILING extents and per-dim identity must match
    *    exactly — a same-shape grid in a different dimension order (a
    *    reordered coordinate cross product) enumerates DIFFERENT chunks
    *    under the same ordinals. The LEADING extent may be smaller than
    *    the scan's: a row-major ordinal is a function of the trailing
    *    extents only (`ord = i0·∏grid[1:] + …`), so the 1-D
    *    append-stability argument generalizes to dim-0 growth — a
    *    segment recorded before a `append_dim` append describes exactly
    *    the same chunks afterwards, and appends never re-sign the
    *    sidecar (an O(segments) serial rewrite per append otherwise).
    *    Chunk-shape changes are covered by the store invariant every
    *    relayout path (compact, fresh cube write) purges segments
    *    before changing the layout; dim-0 growth itself preserves chunk
    *    shape and (append refuses unaligned extents) never rewrites a
    *    described chunk. A LARGER leading extent than the scan's is
    *    rejected: it could only be a leftover of a failed append that
    *    escaped its purge, and its ordinals prove nothing here. */
  def gridCompatible(seg: Segment, geom: ScanGeometry): Boolean =
    gridCompatibleWith(seg, geom.ndim, geom.gridShape.toSeq, geom.dimIdentity)

  /** [[gridCompatible]] against bare geometry facts — the form the
    * distributed vacuum visitor ships to executors (a task must not
    * capture a ScanGeometry; the rule itself must be ONE definition). */
  def gridCompatibleWith(
      seg: Segment, ndim: Int, gridShape: Seq[Int], dims: Seq[String]): Boolean =
    if (ndim == 1) seg.grid.forall(_._1.length == 1)
    else seg.grid.exists { case (gs, ds) =>
      gs.length == gridShape.length &&
        gs(0) <= gridShape(0) &&
        (1 until gs.length).forall(i => gs(i) == gridShape(i)) &&
        ds.toSeq == dims
    }

  /** Does segment `(first, n)` lie wholly inside a grid of `numChunks`
    * chunks? One reaching past the committed grid is a failed write's
    * leftover: the planner and aggregate pushdown never trust it, and
    * vacuum and incremental analyze delete it. */
  def inGrid(first: Long, n: Int, numChunks: Long): Boolean =
    first >= 0 && first + n <= numChunks

  /** The sidecar segments usable on `geom`'s grid, and whether they tile
    * `[0, numChunks)` EXACTLY — the precondition for any complete
    * metadata-only answer (aggregate pushdown, CBO column statistics);
    * the hybrid aggregate pushdown serves whatever chunks the usable
    * segments describe. Usable means in-grid (segments describing
    * ordinals past the committed grid are phantom leftovers of a failed
    * append) and [[gridCompatible]] (a segment recorded against a
    * DIFFERENT grid — a 1-D coordinate scan over an N-D-analyzed store, a
    * reordered cross product — enumerates different chunks under the
    * same ordinals). The segments are the plan's unsuppressed listing
    * ([[ZarrStore.Sidecar.unsuppressed]]: overlapping segments dropped
    * pairwise, stale vs live is undecidable), read through the plan's
    * [[PlanSidecar]], so no segment is GET twice in one plan. Over-coverage,
    * a grid-incompatible or vanished segment clears the flag; any read or
    * parse failure degrades to no segments at all (the sidecar is
    * auxiliary and must never fail a query). */
  def usableSegments(
      sidecar: PlanSidecar,
      geom: ScanGeometry): (Seq[Segment], Boolean) = {
    val total = geom.numChunks
    val listed = sidecar.listing.unsuppressed
    try {
      val within = listed.filter { case (first, n) => inGrid(first, n, total) }
      sidecar.load(within)
      val usable = within
        .flatMap { case (first, n) => sidecar.segment(first, n) }
        .filter(gridCompatible(_, geom))
      val tiled = usable.foldLeft(0L) { (next, seg) =>
        if (seg.first == next) next + seg.chunks else -1L
      }
      (usable, usable.length == listed.length && tiled == total)
    } catch { case _: Throwable => (Nil, false) }
  }

  /** Global exact (min, max) per column over fully-covering segments —
    * only columns with an EXACT recorded range in EVERY chunk (an
    * unrecorded chunk — including absent chunks that read as fill
    * values — or a clamped long-string prefix bound, which is a
    * superset interval rather than actual data values, makes the
    * answer unprovable). */
  def exactRanges(
      colNames: Seq[String], parsed: Seq[Segment]): Map[String, (Any, Any)] = {
    val b = Map.newBuilder[String, (Any, Any)]
    colNames.foreach { c =>
      var lo: Any = null
      var hi: Any = null
      var ok = true
      parsed.foreach { seg =>
        var ord = seg.first
        while (ok && ord < seg.first + seg.chunks) {
          seg.exactRange(c, ord) match {
            case Some((l, h)) =>
              if (lo == null || ChunkFilter.cmp(l, lo) < 0) lo = l
              if (hi == null || ChunkFilter.cmp(h, hi) > 0) hi = h
            case None => ok = false
          }
          ord += 1
        }
      }
      if (ok && lo != null) b += c -> ((lo, hi))
    }
    b.result()
  }

  // ---- sound interval evaluation -----------------------------------------

  /** Can any row with column values inside `range` satisfy ALL filters?
    * `range(col)` = None ⇒ that column is unconstrained (conservative). */
  def mayMatch(filters: Seq[Filter], range: String => Option[(Any, Any)]): Boolean =
    filters.forall(f => may(f, range))

  private def may(f: Filter, range: String => Option[(Any, Any)]): Boolean = f match {
    case EqualTo(a, v) => range(a).forall { case (lo, hi) =>
      ChunkFilter.cmp(v, lo) >= 0 && ChunkFilter.cmp(v, hi) <= 0 }
    case EqualNullSafe(a, v) => may(EqualTo(a, v), range)
    case GreaterThan(a, v) => range(a).forall { case (_, hi) => ChunkFilter.cmp(hi, v) > 0 }
    case GreaterThanOrEqual(a, v) =>
      range(a).forall { case (_, hi) => ChunkFilter.cmp(hi, v) >= 0 }
    case LessThan(a, v) => range(a).forall { case (lo, _) => ChunkFilter.cmp(lo, v) < 0 }
    case LessThanOrEqual(a, v) =>
      range(a).forall { case (lo, _) => ChunkFilter.cmp(lo, v) <= 0 }
    case In(a, vs) => range(a) match {
      case None => true
      case Some((lo, hi)) =>
        vs.exists(v => ChunkFilter.cmp(v, lo) >= 0 && ChunkFilter.cmp(v, hi) <= 0)
    }
    case IsNull(_) => false // zarr reads never produce nulls (SURVEY §1.3)
    case IsNotNull(_) => true
    case StringStartsWith(a, p) =>
      // every string starting with p is >= p, so hi < p refutes; the lo
      // side cannot refute (p + '￿'... exceeds any bound sharing p)
      range(a).forall { case (_, hi) => ChunkFilter.cmp(hi, p) >= 0 }
    case And(l, r) => may(l, range) && may(r, range)
    case Or(l, r) => may(l, range) || may(r, range)
    case Not(c) => !mustAll(c, range) // all rows match c ⇒ no row matches ¬c
    case _ => true
  }

  /** Do ALL values inside `range` provably satisfy `f`? (false = unknown) */
  private def mustAll(f: Filter, range: String => Option[(Any, Any)]): Boolean = f match {
    case EqualTo(a, v) => range(a).exists { case (lo, hi) =>
      ChunkFilter.cmp(lo, hi) == 0 && ChunkFilter.cmp(lo, v) == 0 }
    case GreaterThan(a, v) => range(a).exists { case (lo, _) => ChunkFilter.cmp(lo, v) > 0 }
    case GreaterThanOrEqual(a, v) =>
      range(a).exists { case (lo, _) => ChunkFilter.cmp(lo, v) >= 0 }
    case LessThan(a, v) => range(a).exists { case (_, hi) => ChunkFilter.cmp(hi, v) < 0 }
    case LessThanOrEqual(a, v) =>
      range(a).exists { case (_, hi) => ChunkFilter.cmp(hi, v) <= 0 }
    case IsNotNull(_) => true
    case IsNull(_) => false
    case And(l, r) => mustAll(l, range) && mustAll(r, range)
    case Or(l, r) => mustAll(l, range) || mustAll(r, range)
    case Not(c) => !may(c, range)
    case _ => false
  }
}
