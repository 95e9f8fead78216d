package graft.sources

import graft.zarr._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** N-D cube write: a relational DataFrame whose rows are the dense cross
  * product of `dims` coordinate columns becomes a Zarr store with one 1-D
  * coordinate array per dim and one N-D data array per remaining column —
  * the WRITE half of the reference's flagship lat/lon shape
  * (`/root/reference/crates/arrow-zarr/src/table/table_provider.rs:417-423`
  * reads such stores; its fixture writer `lib.rs:170-240` builds the 2-D
  * arrays by hand). Surfaced as
  * `df.write.format("zarr").option("dims", "time,lat,lon").save(path)`.
  *
  * Layout contract (loudly enforced, never guessed):
  *  - every dim column's DISTINCT values become the sorted coordinate
  *    axis; rows must cover the full cross product exactly once —
  *    duplicates and missing cells are refused with counts, because a
  *    silently fill-padded hole would read back as a fabricated value;
  *  - coordinate values must be non-NULL and (for floats) finite: the
  *    chunk-skip machinery and xarray-style alignment both rely on a
  *    totally ordered axis;
  *  - 1 to 8 dims — BEYOND the reference's `Only 1-3 dimensional
  *    arrays` rule: the 4-D time x level x lat x lon cube is the
  *    canonical real climate shape, and every stage of this engine
  *    (grid ordinals, coordinate broadcast, stats, append/region,
  *    sharding) is dimension-generic.
  *
  * Scale design — why this is NOT the 1-D staged-commit path: a cube
  * row's target chunk ordinal is a PURE FUNCTION of its coordinates, so
  * every task knows the final key of every chunk it assembles and writes
  * it directly — no manifest, and staging only for chunks that replace
  * committed objects. Fresh write, append and region overwrite all run
  * ONE routine, [[commitSlab]], over a window of dim-0 chunk rows. The
  * pipeline is: (a) axis-sized jobs (per-dim distinct — map-side combined
  * — and one groupBy-count density proof whose shuffle is bounded by the
  * cell count, not the row count); (b) per-dim BROADCAST joins attach
  * grid indices (axis-sized build sides; Spark's float normalization
  * defines value equality consistently with the distinct() that built
  * the axes); (c) ONE row shuffle clustered by contiguous chunk-ordinal
  * blocks, sorted within partitions by (ordinal, offset) so each task
  * assembles one chunk at a time (memory = one chunk per data column);
  * (d) tasks write chunks at final keys plus grid-signed `_stats`
  * segments (the same sidecar `analyze` builds, so chunk-skip,
  * metadata-only aggregates, hybrid pushdown and CBO stats work
  * immediately); (e) the driver writes the coordinate chunks
  * (axis-sized) and commits by writing per-array metadata then the
  * consolidated root LAST — the single-PUT commit point the read path
  * expects.
  */
object ZarrCubeWrite {

  /** Parse the `dims` write option: comma-separated column names. */
  def parseDims(s: String): Seq[String] = {
    val dims = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (dims.isEmpty)
      throw new ZarrException(s"dims option is empty: '$s'")
    if (dims.distinct.length != dims.length)
      throw new ZarrException(s"dims option repeats a column: '$s'")
    dims
  }

  /** Default chunk shape: halve the largest extent until the chunk holds
    * at most 2^18 elements (a few MB per chunk across codecs) — the
    * deterministic shape a caller gets without a `chunk_shape` option. */
  def defaultChunkShape(shape: Seq[Long]): Seq[Int] = {
    val c = shape.map(s => math.min(s, Int.MaxValue.toLong).toInt).toArray
    while (c.map(_.toLong).product > (1L << 18)) {
      val i = c.indexOf(c.max)
      c(i) = (c(i) + 1) / 2
    }
    c.toSeq
  }

  /** KNOWN HAZARD (shared with Spark's own non-file-source overwrites):
    * `mode("overwrite")` deletes the target BEFORE the lazy input
    * DataFrame runs its first job, so overwriting a store with data
    * read FROM that same store destroys the source unread. Spark's
    * self-overwrite lineage guard covers only its built-in file
    * sources; a DSv2 writer cannot see the reader's lineage. Write to
    * a fresh path instead (the read-transform-rewrite pattern is
    * `ZarrMaintenance.compact`'s job, which refuses a non-empty
    * destination for this reason). */
  // scalastyle:off method.length
  def write(
      df: DataFrame,
      path: String,
      dims: Seq[String],
      chunkShapeOpt: Option[Seq[Int]],
      codec: String,
      stats: Boolean,
      truncate: Boolean,
      maxAxisLen: Int = 1 << 22,
      rowsPerTask: Long = 1L << 22,
      shardShapeOpt: Option[Seq[Int]] = None): Unit = {
    val store = openStore(df, path, maxAxisLen)

    // ---- schema validation, all driver-side and before any IO ----
    if (dims.length > 8)
      throw new ZarrException(
        s"cube write supports 1-8 dims, got ${dims.length}")
    val fieldByName = df.schema.fields.map(f => f.name -> f).toMap
    dims.foreach(d => if (!fieldByName.contains(d))
      throw new ZarrException(
        s"dims column '$d' not in DataFrame columns ${df.columns.mkString(",")}"))
    val dataCols = df.schema.fields.filterNot(f => dims.contains(f.name)).toSeq
    if (dataCols.isEmpty)
      throw new ZarrException(
        "cube write needs at least one non-dim data column")
    if (df.columns.exists(_.startsWith("__zarr_")))
      throw new ZarrException(
        "column names starting with __zarr_ collide with cube-write internals")
    val dimZts = dims.map(d => ZarrWriteSupport.zarrTypeFor(fieldByName(d).dataType))
    // a coordinate axis must carry a total order (sorted distinct
    // collection, binary-search containment, range pushdown); opaque
    // binary payloads have none — they are data-column material only
    dims.zip(dimZts).find(_._2 == ZarrType.Bytes).foreach { case (d, _) =>
      throw new ZarrException(
        s"dims column '$d' is binary; binary columns cannot be coordinate " +
          "axes (no order) — keep them as data columns")
    }
    val dataZts = dataCols.map(f => ZarrWriteSupport.zarrTypeFor(f.dataType))
    val chain = ZarrWriteSupport.chainFor(codec)
    // statically-decidable layout-option validation runs BEFORE any job:
    // a wrong-arity chunk_shape must refuse here, not after the axis
    // collection and density proof already made full passes over
    // TB-scale input
    validateLayoutOptions(dims, chunkShapeOpt, shardShapeOpt)

    // fresh-store-only: a cube's shape is a global property of one
    // dataset; growing or replacing part of it goes through
    // append_dim / region_dim. The gate also decides the FAILURE-CLEANUP
    // scope: we may only delete the root wholesale if this write created
    // it (or the caller asked for overwrite) — a mistyped path pointing
    // at a user's existing directory must never be wiped by a refusal.
    val inventory = store.rootInventory()
    if (truncate) store.delete()
    else inventory.foreach { entries =>
      // the root commits a fresh store before its per-array documents,
      // so a committed array may not have one yet
      val arrays = (entries.collect { case (n, true) => n } ++
        store.readText("zarr.json").toSeq.flatMap(ZarrMeta.parseConsolidated).map(_.name))
        .distinct.sorted
      if (arrays.nonEmpty)
        throw new ZarrException(
          s"cube write targets a FRESH store but $path already holds arrays " +
            s"(${arrays.mkString(",")}); use mode('overwrite') to replace it, " +
            "or mode('append') with option('append_dim', <dim>) to extend it " +
            "along its first dimension")
      // an EMPTY zarr store root (a bare root doc / stats sidecar, no
      // arrays) is a legitimate fresh target, and so are this write's
      // own array dirs holding only chunks (a crashed attempt's uploads,
      // which the re-run overwrites); anything else present is
      // unrelated user data this write must not touch — refuse before
      // any IO so the failure cleanup can never reach it
      val own = (dims ++ dataCols.map(_.name)).toSet
      val foreign = entries.collect { case (n, false)
        if n != "zarr.json" && n != graft.zarr.ChunkStats.dirName &&
          !(own(n) && store.holdsOnlyChunks(n)) => n }.sorted
      if (foreign.nonEmpty)
        throw new ZarrException(
          s"cube write target $path is an existing directory holding non-zarr " +
            s"entries (${foreign.take(5).mkString(",")}); refusing to write " +
            "into — and potentially clean up over — unrelated files; point at " +
            "a fresh path or use mode('overwrite') on a zarr store")
    }

    // ---- coordinate axes: global sorted distincts (axis-sized) ----
    val axes: Seq[Array[Any]] = dims.map(d => collectAxis(df, d, maxAxisLen))
    val shape: Seq[Long] = axes.map(_.length.toLong)
    val totalCells: Long = shape.foldLeft(1L)((a, b) =>
      try Math.multiplyExact(a, b)
      catch { case _: ArithmeticException =>
        throw new ZarrException(s"cube volume overflows Long: axes ${shape.mkString("x")}")
      })
    if (totalCells == 0L)
      throw new ZarrException("cube write: input DataFrame is empty")

    // arity/value/divisibility of the explicit options were validated
    // pre-job by validateLayoutOptions
    val chunkShape: Seq[Int] = chunkShapeOpt.getOrElse(defaultChunkShape(shape))
    // sharding (ZEP 2): `shard_shape` makes the STORED object a shard
    // of inner `chunk_shape` chunks — at 100 TB the object-count lever
    // (a million-chunk cube becomes thousands of shards; listing and
    // request costs follow the shard count while logical chunks stay
    // small). Engine geometry — grid, ordinals, the clustered shuffle,
    // chunk-skip stats — all key on the OUTER (stored) shape; only the
    // per-object encode differs (ChunkColumn.encode packs the inner
    // chunks + index into one object).
    val outerShape: Seq[Int] = shardShapeOpt.getOrElse(chunkShape)
    // the entries are user-given: a wrapped product would pass this
    // bound and crash executors on Int-truncated allocations
    val chunkElems: Long =
      try outerShape.foldLeft(1L)((a, c) => Math.multiplyExact(a, c.toLong))
      catch { case _: ArithmeticException => Long.MaxValue }
    if (chunkElems > Int.MaxValue / 2)
      throw new ZarrException(
        s"${shardShapeOpt.map(_ => "shard_shape").getOrElse("chunk_shape")} " +
          s"too large: $chunkElems elements")

    // ---- per-array metadata documents (the writers derive codec
    //      chain / separator / element type from these; the commit
    //      persists these exact documents) ----
    // a column scanned from a v2 datetime64/timedelta64 array carries
    // zarr_time_kind/zarr_time_unit Spark field metadata — thread it
    // into the destination's v3 attributes so a migrated time axis
    // stays an ANNOTATED int64, not an anonymous one
    def timeMetaOf(name: String): Option[(String, String)] = {
      val md = fieldByName(name).metadata
      if (md.contains("zarr_time_kind") && md.contains("zarr_time_unit"))
        Some((md.getString("zarr_time_kind"), md.getString("zarr_time_unit")))
      else None
    }
    // data arrays: sharded when shard_shape was given (the stored
    // chunk_grid is the OUTER shape; the inner chunk_shape nests in
    // sharding_indexed). Coordinate arrays stay plain — they are
    // axis-sized, and their chunk extent mirrors the data arrays'
    // outer extent so every cube-target invariant (coord chunk ==
    // data chunk per dim) holds on read-back and append/region.
    val dataChain = shardShapeOpt.map(_ => chain.sharded(chunkShape)).getOrElse(chain)
    val coordMetas = dims.zip(dimZts).zipWithIndex.map { case ((d, zt), i) =>
      ZarrMeta.parse(d, ZarrWriter.metaJson(zt, Seq(shape(i)), Seq(outerShape(i)),
        ZarrBatchWrite.defaultFillJson(zt), Some(Seq(d)), chain, timeMeta = timeMetaOf(d)))
    }
    val dataMetas = dataCols.zip(dataZts).map { case (f, zt) =>
      ZarrMeta.parse(f.name, ZarrWriter.metaJson(zt, shape, outerShape,
        ZarrBatchWrite.defaultFillJson(zt), Some(dims), dataChain,
        timeMeta = timeMetaOf(f.name)))
    }
    commitSlab(df, store, "cube write", dims, axes.map(_.toIndexedSeq),
      coordMetas ++ dataMetas, slabLo0 = 0L, slabHi0 = shape.head, committed0 = 0L,
      stats, maxAxisLen, rowsPerTask, ownRoot = truncate || inventory.isEmpty)
  }
  // scalastyle:on method.length

  /** Append a slab along the FIRST dimension of an existing cube store —
    * the daily-ingest shape of real zarr pipelines (xarray's
    * `append_dim`): a climate store grows along `time`, everything else
    * stays put. Surfaced as
    * `df.write.format("zarr").mode("append").option("append_dim", "time").save(path)`.
    *
    * Contract (loud, never guess):
    *  - the target must be a coherent cube store (one coordinate array
    *    per dim, congruent N-D data arrays this writer can encode); the
    *    DataFrame's columns must be exactly dims + data arrays with
    *    matching types; the existing chunking and codec chain win —
    *    `chunk_shape`/`codec` options are refused;
    *  - `append_dim` must be the store's FIRST (slowest-varying) dim:
    *    row-major chunk keys and ordinals of existing chunks are
    *    functions of the TRAILING dims only, so a dim-0 append leaves
    *    every existing chunk object and stats ordinal untouched — an
    *    append along any other dim would re-key the whole store
    *    (refused; rewrite through a fresh cube write instead);
    *  - an existing dim-0 extent that is NOT a whole number of chunks
    *    is handled, not refused: the partial EDGE chunk-row's committed
    *    rows are read back through the scan and folded into the slab,
    *    so the edge chunks are rewritten complete — cost ∝ one
    *    chunk-row + slab (xarray's ragged `append_dim` semantics);
    *  - new dim-0 coordinates must sort strictly AFTER the existing
    *    axis (the axis stays ascending; interleaving would re-rank
    *    existing positions); trailing-dim coordinates must match the
    *    stored axes exactly;
    *  - the new slab must be dense: one row per (new dim-0 value ×
    *    existing trailing cross-section) cell.
    *
    * Scale: O(slab). Existing chunks below the edge and existing stats
    * segments are never touched — row-major ordinals are functions of
    * the trailing grid extents only, so dim-0 growth leaves every old
    * segment's ordinals and bounds exact, and the reader accepts their
    * smaller leading extent ([[graft.zarr.ChunkStats.gridCompatible]]).
    * Crash safety is [[commitSlab]]'s: new chunks land beyond the
    * committed shape (invisible until the root advances), the edge
    * chunk-row is staged and swapped, the root is the commit point. */
  def append(
      df: DataFrame,
      path: String,
      dimsOpt: Option[Seq[String]],
      appendDim: String,
      stats: Boolean,
      maxAxisLen: Int = 1 << 22,
      rowsPerTask: Long = 1L << 22): Unit = {
    val store = openStore(df, path, maxAxisLen)
    val t = resolveCubeTarget(store, path, dimsOpt, "append_dim")
    val dims = t.dims
    requireFirstDim(dims, appendDim, "append_dim",
      s"only the FIRST (slowest-varying) dim '${dims.head}' can grow in place — " +
        "row-major chunk keys and stats ordinals of existing chunks are " +
        "functions of the trailing dims, so any other axis would re-key the " +
        "whole store")
    validateSlabSchema(df, t, "append_dim")

    val existingAxes = readAxes(store, t, path)
    val l0 = t.dataMetas.head.shape(0)
    val newAxis0 = collectAxis(df, dims.head, maxAxisLen)
    if (newAxis0.isEmpty)
      throw new ZarrException("cube append: input DataFrame is empty")
    if (l0 + newAxis0.length > maxAxisLen)
      throw new ZarrException(
        s"append_dim: combined ${dims.head} axis (${l0 + newAxis0.length}) " +
          s"exceeds $maxAxisLen; raise max_axis_len if the driver can hold the axis")
    val lastExisting = existingAxes.head.last
    if (ChunkFilter.cmp(newAxis0.head, lastExisting) <= 0)
      throw new ZarrException(
        s"append_dim: new ${dims.head} values must sort strictly after the " +
          s"existing axis (existing max $lastExisting, new min ${newAxis0.head}); " +
          "interleaving would re-rank existing positions — rewrite the store instead")
    val newL0 = l0 + newAxis0.length
    // every dim-0 array grows; the trailing coordinates stay as they are
    val grown = t.metas.map(m =>
      if (dims.tail.contains(m.name)) m
      else ZarrMeta.parse(m.name, ZarrMeta.withShape0(m.sourceJson, newL0)))
    commitSlab(df, store, "append_dim",
      dims, (existingAxes.head ++ newAxis0) +: existingAxes.tail, grown,
      slabLo0 = l0, slabHi0 = newL0, committed0 = l0, stats, maxAxisLen, rowsPerTask)
  }

  /** Overwrite a REGION of an existing cube along its first dimension —
    * xarray's `region=` write, the reprocessing shape: one day of a
    * climate store (or one ingest batch of a feature cube) is recomputed
    * and swapped without touching the rest of the store or its
    * geometry. Surfaced as
    * `df.write.format("zarr").mode("overwrite").option("region_dim", "time").save(path)`.
    *
    * Contract (loud, never guess) — [[append]]'s target rules plus:
    *  - the slab's `region_dim` coordinates must EXACTLY equal a
    *    contiguous run of the existing axis (same values, same order);
    *    coordinates are identity here, so a value not already on the
    *    axis is a refusal, not an insert;
    *  - the run must be chunk-aligned on BOTH ends (a partial boundary
    *    chunk would need read-modify-write of rows outside the region);
    *  - trailing-dim coordinates must match the stored axes exactly
    *    (the region spans the full cross-section);
    *  - the slab must be dense over region × cross-section.
    *
    * No metadata or root document changes. Every region chunk is
    * STAGED and swapped over its committed key only once the whole
    * region is durable ([[commitSlab]]): a crash before the swap leaves
    * the region as it was, a crash mid-swap is chunk-granular — like
    * every zarr region write, xarray's included — with each chunk
    * wholly old or wholly new; re-running the same overwrite completes
    * it. A stats segment straddling the region boundary keeps its
    * out-of-region ordinals (trimmed), so zero-GET aggregates survive. */
  def overwriteRegion(
      df: DataFrame,
      path: String,
      dimsOpt: Option[Seq[String]],
      regionDim: String,
      stats: Boolean,
      maxAxisLen: Int = 1 << 22,
      rowsPerTask: Long = 1L << 22): Unit = {
    val store = openStore(df, path, maxAxisLen)
    val t = resolveCubeTarget(store, path, dimsOpt, "region_dim")
    val dims = t.dims
    requireFirstDim(dims, regionDim, "region_dim",
      "only FIRST-dim regions can be swapped in place — a trailing-dim " +
        "region intersects every chunk-row of the store")
    validateSlabSchema(df, t, "region_dim")

    // ---- locate the region on the existing axis ----
    val existingAxes = readAxes(store, t, path)
    val regionAxis = collectAxis(df, dims.head, maxAxisLen)
    if (regionAxis.isEmpty)
      throw new ZarrException("region overwrite: input DataFrame is empty")
    val axis0 = existingAxes.head
    val start = axis0.indices.find(i => ChunkFilter.cmp(axis0(i), regionAxis(0)) == 0)
      .getOrElse(throw new ZarrException(
        s"region_dim: first ${dims.head} value ${regionAxis(0)} is not on the " +
          "store's axis; region coordinates must already exist (regions " +
          "replace values, never positions — use append_dim to grow)"))
    if (start + regionAxis.length > axis0.length ||
      regionAxis.indices.exists(j => ChunkFilter.cmp(regionAxis(j), axis0(start + j)) != 0))
      throw new ZarrException(
        s"region_dim: the slab's ${regionAxis.length} ${dims.head} values do not " +
          s"form a contiguous run of the store's axis at position $start; " +
          "region coordinates must match the axis exactly")
    val end = start + regionAxis.length
    val c0 = t.dataMetas.head.chunkShape(0)
    if (start % c0 != 0 || (end % c0 != 0 && end != axis0.length))
      throw new ZarrException(
        s"region_dim: region [$start,$end) of ${dims.head} is not chunk-aligned " +
          s"(chunk extent $c0); a partial boundary chunk would need " +
          "read-modify-write of rows outside the region — align the region " +
          "or rewrite the store")
    commitSlab(df, store, "region_dim", dims, existingAxes, t.metas,
      slabLo0 = start, slabHi0 = end, committed0 = axis0.length,
      stats, maxAxisLen, rowsPerTask)
  }

  // scalastyle:off method.length parameter.number
  /** The one commit protocol behind [[write]], [[append]] and
    * [[overwriteRegion]] — xarray's `to_zarr` with `mode`, `append_dim`
    * or `region`, as one routine over a first-dim window.
    *
    * `metas` are every array's documents at the FINAL shape, in root
    * order; `axes` the final coordinate axes. The slab supplies dim-0
    * positions [slabLo0, slabHi0) of a store whose committed dim-0
    * extent is `committed0` (0 = fresh). In chunk ordinals that is the
    * window [ordLo, ordHi) over a committed grid of `committedHi`
    * chunks: a fresh write is [0, numChunks) over 0, an append
    * [edgeStart, newNumChunks) over the old grid, a region a window
    * inside the committed grid.
    *
    * Steps, in order:
    *  1. the slab's trailing axes must equal the target's, and the slab
    *     must be dense (every cell exactly once);
    *  2. window rows the slab does not supply — the committed part of a
    *     ragged edge chunk-row — are read back and folded in;
    *  3. every sidecar doc over the window retires
    *     ([[ZarrStore.Sidecar.retire]]);
    *  4. [[writeSlab]] writes each window chunk; the STAGING RULE: a
    *     chunk is staged under a write-scoped `c.part*` dir iff its
    *     ordinal is below `committedHi` (it replaces a committed
    *     object), and the slab's stats are staged iff the window
    *     overlaps committed ordinals (a final-key doc must never
    *     describe staged bytes);
    *  5. staged chunks swap over their committed keys, one
    *     single-object replace each, only once the whole slab is
    *     durable; changed coordinate chunks follow the same rule;
    *  6. commit: a growing write writes every changed array meta, the
    *     dim-0 coordinate LAST (the streaming sink's commit signal),
    *     then the consolidated root — the single commit point readers
    *     see; a fresh write commits its root before the metas (a crash
    *     between them is completed by the next append's target
    *     resolution); a region writes nothing;
    *  7. staged stats promote to final keys ([[ZarrStore.Sidecar.promote]]);
    *  8. on failure, one abort path: a fresh store's partial output is
    *     removed (the root itself only if `ownRoot`); otherwise the
    *     window's sidecar docs retire again and the write's staging
    *     goes. What a hard crash leaves is invisible to readers and
    *     reclaimed by a re-run or ZarrMaintenance.vacuum. */
  private def commitSlab(
      df: DataFrame,
      store: ZarrStore,
      opName: String,
      dims: Seq[String],
      axes: Seq[IndexedSeq[Any]],
      metas: Seq[ZarrArrayMeta],
      slabLo0: Long,
      slabHi0: Long,
      committed0: Long,
      stats: Boolean,
      maxAxisLen: Int,
      rowsPerTask: Long,
      ownRoot: Boolean = false): Unit = {
    // scalastyle:on parameter.number
    val coordMetas = dims.map(d => metas.find(_.name == d).get)
    val dataMetas = metas.filterNot(m => dims.contains(m.name))
    val grid: Seq[Int] = dataMetas.head.gridShape.toSeq
    val c0 = dataMetas.head.chunkShape(0)
    val trailingGrid = grid.tail.foldLeft(1L)(_ * _.toLong)
    val winLo0 = slabLo0 / c0 * c0
    val ordLo = winLo0 / c0 * trailingGrid
    val ordHi = (slabHi0 + c0 - 1) / c0 * trailingGrid
    val committedHi = (committed0 + c0 - 1) / c0 * trailingGrid
    // a window reaching the committed end also owns every ordinal past
    // it: those docs can only be a failed earlier write's leftovers
    val retireHi = if (ordHi >= committedHi) Long.MaxValue else ordHi
    val ztOf: String => Option[ZarrType] = n => metas.find(_.name == n).map(_.dataType)
    val fresh = committed0 == 0L
    val grows = slabHi0 > committed0

    // ---- 1. trailing axes, then density (a fresh write's axes ARE the slab's) ----
    if (!fresh) dims.zipWithIndex.tail.foreach { case (d, i) =>
      val got = collectAxis(df, d, maxAxisLen)
      val want = axes(i)
      if (got.length != want.length ||
        got.indices.exists(j => ChunkFilter.cmp(got(j), want(j)) != 0))
        throw new ZarrException(
          s"$opName: the slab's '$d' axis (${got.length} values) does not " +
            s"match the store's (${want.length}); trailing dims must align " +
            "exactly — a slab spans the full trailing cross-section")
    }
    // one aggregate job; the shuffle after map-side partial aggregation
    // is bounded by the CELL count, and the final reduction is 3 numbers
    val trailingCells = axes.tail.foldLeft(1L)((a, ax) => Math.multiplyExact(a, ax.length.toLong))
    val slabCells = Math.multiplyExact(slabHi0 - slabLo0, trailingCells)
    val proof = df.groupBy(dims.map(col): _*).agg(count(lit(1)).as("__zarr_c"))
      .agg(sum(col("__zarr_c")), max(col("__zarr_c"))).collect()(0)
    if (proof.getLong(1) > 1L)
      throw new ZarrException(
        s"$opName: duplicate coordinate tuples (a (${dims.mkString(",")}) " +
          s"combination appears ${proof.getLong(1)} times); deduplicate or aggregate first")
    if (proof.getLong(0) != slabCells)
      throw new ZarrException(
        s"$opName: the slab is not dense — ${slabHi0 - slabLo0}x$trailingCells = " +
          s"$slabCells cells but ${proof.getLong(0)} rows " +
          s"(${slabCells - proof.getLong(0)} missing); densify (cross join the " +
          "axes and fill) before writing")

    // ---- 2. committed window rows the slab does not supply ----
    // read back through the scan (coordinate pushdown prunes to exactly
    // that chunk-row) and MATERIALIZED before any chunk write: the
    // rewrite targets the very objects the read fetches, so the union
    // must never lazily re-scan them mid-write
    val keep = axes.head.slice(winLo0.toInt, slabLo0.toInt)
    val kept: Option[DataFrame] =
      if (keep.isEmpty) None
      else {
        val td = df.sparkSession.read.format("zarr").load(store.root)
          .filter(col(dims.head).isin(keep: _*))
          .select(df.columns.toSeq.map(col): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val got = td.count()
        val want = Math.multiplyExact(keep.length.toLong, trailingCells)
        if (got != want) {
          td.unpersist()
          throw new ZarrException(
            s"$opName: edge chunk-row read returned $got rows, expected " +
              s"$want — store and metadata disagree; run ZarrMaintenance.compact")
        }
        Some(td)
      }

    val writeId = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = s"c.part$writeId-slab"
    val stageStats = ordLo < committedHi
    val swapHi = math.min(ordHi, committedHi)
    try {
      // ---- 3. retire the window's sidecar docs ----
      store.sidecar().retire(store, ordLo, retireHi, writeId, ztOf)

      // ---- 4. write every window chunk, and the changed coordinate chunks ----
      writeSlab(kept.map(_.unionByName(df)).getOrElse(df),
        store, dims, axes, coordMetas.map(_.dataType), dataMetas,
        joinLo0 = winLo0, joinHi0 = slabHi0, stats = stats, rowsPerTask = rowsPerTask,
        expectRows = Math.multiplyExact(slabHi0 - winLo0, trailingCells),
        expectChunks = ordHi - ordLo, stageBelowOrd = committedHi, stageDir = stageDir,
        stageStatsWriteId = if (stageStats) writeId else "")

      val coordsToWrite = if (fresh) dims.indices else if (grows) Seq(0) else Nil
      val stagedCoords = coordsToWrite.flatMap { i =>
        writeCoordChunks(store, coordMetas(i), axes(i),
          fromChunk = if (i == 0) (winLo0 / c0).toInt else 0,
          stageBelow = if (i == 0) ((committed0 + c0 - 1) / c0).toInt else 0,
          stageDir = stageDir)
      }

      // ---- 5. swap the staged chunks over their committed keys ----
      // a crash before this loop leaves the committed store as it was; a
      // crash inside it leaves each object wholly old or wholly new (an
      // edge chunk-row reads identically either way over the committed
      // extent, whose positions the rewrite preserves)
      val staged = (ordLo until swapHi).flatMap { ord =>
        val idx = ScanGeometry.indexOf(ord, grid.toArray)
        dataMetas.map(m => m.name -> m.chunkKey(idx))
      } ++ stagedCoords
      staged.foreach { case (a, key) => store.replaceKey(s"$a/$stageDir/$key", s"$a/$key") }
      staged.map(_._1).distinct.foreach(store.cleanStaging(_, stageDir))

      // ---- 6. commit: changed metas, dim-0 coordinate last, root ----
      if (grows) {
        def root(): Unit =
          store.writeStoreRootMeta(metas.map(m => m.name -> m.sourceJson), ChunkManifest.empty)
        // a fresh store's root goes FIRST: readers of a store without a
        // root list its per-array documents, and some of them would
        // show a store missing arrays
        if (fresh) root()
        ((if (fresh) metas.filterNot(_.name == dims.head) else dataMetas) :+ coordMetas.head)
          .foreach(m => store.writeMeta(m.name, m.sourceJson))
        if (!fresh) root()
      }

      // ---- 7. promote the staged stats: their chunks are final and visible ----
      // stamping each final object's mtime/etag into the inner docs: the
      // staged docs cannot know them (the swap's copy fallback creates a
      // new object), and without them the freshness guard degrades to
      // length-only — the hole constant-length encodings exploit
      if (stageStats) store.sidecar().promote(store, writeId, _.target, (name, ord) =>
        dataMetas.find(_.name == name).map(_.chunkKey(ScanGeometry.indexOf(ord, grid.toArray))))
    } catch {
      case e: Throwable =>
        // ---- 8. abort ----
        def quietly(f: => Unit): Unit = try f catch { case _: Throwable => () }
        if (fresh) quietly(if (ownRoot) store.delete() else store.deleteRootContents())
        else {
          quietly(store.sidecar().retire(store, ordLo, retireHi, writeId, ztOf))
          quietly((dataMetas :+ coordMetas.head).foreach(m => store.cleanStaging(m.name, stageDir)))
        }
        throw e
    } finally kept.foreach(_.unpersist())
  }
  // scalastyle:on method.length

  /** The store a cube write targets ([[ZarrStore.forSession]]). */
  private def openStore(df: DataFrame, path: String, maxAxisLen: Int): ZarrStore = {
    if (maxAxisLen > (1 << 30))
      throw new ZarrException(
        s"max_axis_len $maxAxisLen exceeds 2^30 (grid-index arithmetic bound)")
    ZarrStore.forSession(df.sparkSession, path)
  }

  /** append_dim / region_dim must name the store's first dim. */
  private def requireFirstDim(
      dims: Seq[String], dim: String, opName: String, why: String): Unit = {
    val k = dims.indexOf(dim)
    if (k < 0)
      throw new ZarrException(
        s"$opName '$dim' is not a dim of the store (${dims.mkString(",")})")
    if (k != 0)
      throw new ZarrException(
        s"$opName '$dim' is dim $k; $why. Rewrite through a fresh cube write instead")
  }

  /** Every committed coordinate axis of a cube target, decoded. */
  private def readAxes(store: ZarrStore, t: CubeTarget, path: String): Seq[IndexedSeq[Any]] =
    t.coordMetas.map(m => readAscendingAxis(store, m, path,
      "cube layouts require an ascending axis — rewrite the store instead").toIndexedSeq)

  /** A resolved, validated cube-store modification target. */
  private final case class CubeTarget(
      metas: Seq[ZarrArrayMeta],
      dims: Seq[String],
      coordMetas: Seq[ZarrArrayMeta],
      dataMetas: Seq[ZarrArrayMeta])

  /** Layout-option validation that needs NOTHING from the data — the
    * contract every entry point (DSv2 options, ZarrCubeSink,
    * ZarrMaintenance.compact) shares, enforced before any Spark job:
    * sharding without an explicit chunk_shape would silently pin the
    * derived default as the store's permanent inner layout. */
  private[graft] def validateLayoutOptions(
      dims: Seq[String], chunkShapeOpt: Option[Seq[Int]],
      shardShapeOpt: Option[Seq[Int]]): Unit = {
    chunkShapeOpt.foreach { cs =>
      if (cs.length != dims.length)
        throw new ZarrException(
          s"chunk_shape has ${cs.length} entries for ${dims.length} dims")
      if (cs.exists(_ < 1))
        throw new ZarrException(s"chunk_shape entries must be >= 1: ${cs.mkString(",")}")
    }
    shardShapeOpt.foreach { ss =>
      if (chunkShapeOpt.isEmpty)
        throw new ZarrException(
          "shard_shape requires an explicit chunk_shape: the inner chunk " +
            "layout readers address is a permanent property of the store and " +
            "is never derived, so sharding requires chunk_shape, inner dividing outer")
      if (ss.length != dims.length)
        throw new ZarrException(
          s"shard_shape has ${ss.length} entries for ${dims.length} dims")
      ss.zip(chunkShapeOpt.get).zipWithIndex.foreach { case ((sh, c), i) =>
        if (sh < c || sh % c != 0)
          throw new ZarrException(
            s"shard_shape entry $sh (dim $i) must be a positive multiple of " +
              s"chunk_shape $c — a shard holds whole inner chunks")
      }
    }
  }

  /** Resolve an existing store as a coherent, modifiable cube: v3,
    * canonical-keyed, one coordinate array per dim, congruent data
    * arrays this writer can encode. Shared by [[append]] and
    * [[overwriteRegion]]; every refusal is prefixed with the option
    * name (`opName`) the caller surfaced. */
  private def resolveCubeTarget(
      store: ZarrStore, path: String, dimsOpt: Option[Seq[String]],
      opName: String): CubeTarget = {
    // ONE root read: the manifest gate, the committed (consolidated)
    // extents the torn-commit heal compares against, and the arrays a
    // fresh write committed before their per-array documents — a crash
    // between the two is completed here, so the listing sees them all
    val rootDoc = store.readText("zarr.json")
    rootDoc.toSeq.flatMap(ZarrMeta.parseConsolidated).foreach { m =>
      if (!store.chunkObjectExists(m.name, "zarr.json")) store.writeMeta(m.name, m.sourceJson)
    }
    val names =
      try store.listArrays()
      catch { case e: ZarrException =>
        throw new ZarrException(
          s"$opName: $path is not a readable zarr store (${e.getMessage})")
      }
    if (names.isEmpty)
      throw new ZarrException(
        s"$opName: $path has no arrays; write the initial cube with " +
          "option('dims', ...) first")
    val metas = names.map(store.readMeta)
    metas.find(_.formatVersion == 2).foreach { m =>
      throw new ZarrException(
        s"$opName: $path is a Zarr v2 store (array ${m.name}); the writer " +
          "is v3-only — compact it to a v3 store first")
    }
    if (rootDoc.exists(d => ChunkManifest.parse(d).parts.nonEmpty))
      throw new ZarrException(
        s"$opName: $path carries a chunk manifest (staged tabular " +
          "commits); cube modification targets canonical-keyed cube stores — compact first")

    val (coordMetasAll0, dataMetas0) = metas.partition(_.isCoordinate)
    if (dataMetas0.isEmpty)
      throw new ZarrException(
        s"$opName: $path holds only coordinate arrays; cube modification " +
          "needs at least one data array")
    val dims: Seq[String] = dataMetas0.head.dimensionNames.getOrElse(
      throw new ZarrException(
        s"$opName: data array ${dataMetas0.head.name} in $path has no " +
          "dimension_names; cannot identify the target axis (not a cube store)"))
    dimsOpt.foreach { ds =>
      if (ds != dims)
        throw new ZarrException(
          s"dims option (${ds.mkString(",")}) does not match the store's " +
            s"dims (${dims.mkString(",")}); omit dims — the store defines them")
    }
    val rootS0 = rootDoc.flatMap(d =>
      ZarrMeta.parseConsolidated(d).find(_.name == dims.head)).map(_.shape(0))
    val metasH = healTornShape0(store, metas, dims, rootS0)
    val (coordMetasAll, dataMetas) = metasH.partition(_.isCoordinate)
    // shape/chunkShape are Arrays on the meta — compare by VALUE
    val targetShape: IndexedSeq[Long] = dataMetas.head.shape.toIndexedSeq
    val targetChunk: IndexedSeq[Int] = dataMetas.head.chunkShape.toIndexedSeq
    if (dims.length != targetShape.length)
      throw new ZarrException(
        s"$opName: data array ${dataMetas.head.name} has ${targetShape.length} " +
          s"dims but dimension_names lists ${dims.length}")
    dataMetas.foreach { m =>
      if (!m.shape.sameElements(targetShape) || !m.chunkShape.sameElements(targetChunk) ||
        !m.dimensionNames.contains(dims))
        throw new ZarrException(
          s"$opName: data array ${m.name} is not congruent with " +
            s"${dataMetas.head.name} (shape/chunking/dimension_names differ)")
    }
    val stray = coordMetasAll.map(_.name).toSet -- dims.toSet
    if (stray.nonEmpty)
      throw new ZarrException(
        s"$opName: $path holds coordinate arrays (${stray.toSeq.sorted.mkString(",")}) " +
          "that are not dims of the data arrays; not a coherent cube store")
    val coordMetas: Seq[ZarrArrayMeta] = dims.zipWithIndex.map { case (d, i) =>
      val m = coordMetasAll.find(_.name == d).getOrElse(throw new ZarrException(
        s"$opName: store has no coordinate array '$d' (dim $i); cube " +
          "modification re-ranks positions from coordinates"))
      if (m.shape(0) != targetShape(i) || m.chunkShape(0) != targetChunk(i))
        throw new ZarrException(
          s"$opName: coordinate '$d' extent/chunking disagrees with " +
            s"dimension $i of the data arrays")
      m
    }
    (coordMetas ++ dataMetas).foreach { m =>
      // sharded targets are fine: the slab kernel packs each assembled
      // outer chunk into a shard object (ChunkColumn.encode), and
      // validateEncodable recursed into the inner chain; plain arrays
      // with a top-level transpose store each chunk permuted
      ZarrBatchWrite.validateEncodable(m, store.root)
    }
    // same per-chunk volume bound the fresh write enforces: a foreign
    // store with an enormous stored chunk_shape must refuse HERE, on the
    // driver, not as an Int-truncated allocation inside the slab kernel
    val storedElems: Long =
      try targetChunk.foldLeft(1L)((a, c) => Math.multiplyExact(a, c.toLong))
      catch { case _: ArithmeticException => Long.MaxValue }
    if (storedElems > Int.MaxValue / 2)
      throw new ZarrException(
        s"$opName: stored chunk_shape ${targetChunk.mkString("x")} of $path " +
          s"is too large to assemble ($storedElems elements per chunk)")
    CubeTarget(metasH, dims, coordMetas, dataMetas)
  }

  /** Run [[append]]'s target checks and torn-commit heal alone: a
    * replayed [[graft.streaming.ZarrCubeSink]] batch whose coordinates
    * are already on the axis completes a commit torn before the root. */
  private[graft] def healTornAppend(store: ZarrStore, path: String): Unit =
    resolveCubeTarget(store, path, None, "append_dim"): Unit

  /** Repair the torn-metadata window of an interrupted append commit.
    *
    * The append protocol writes every chunk object (slab data AND the
    * coordinate-axis extension) strictly BEFORE any metadata, then the
    * data-array metas, the dim-0 coordinate meta LAST (it is the commit
    * signal — see [[graft.streaming.ZarrCubeSink]]), the root after.
    * `shape[0]` is the only field that commit changes, so a store whose
    * arrays are congruent EXCEPT for `shape[0]` is the unique signature
    * of a crash inside it — any other incongruence keeps the caller's
    * loud refusal.
    *
    * The repair makes the coordinate meta's extent authoritative and
    * sets every data array's `shape[0]` to it:
    *  - coordinate BEHIND a data array (a crash after some data metas,
    *    before the signal): the commit never signaled, so this ROLLS
    *    the data metas back to the committed extent. The slab's chunks
    *    stay orphaned at final keys beyond the shape — invisible, and a
    *    replay of the same append overwrites them.
    *  - coordinate AHEAD of a data array (a store torn by the pre-r14
    *    unordered commit loop): the signal already raised, so this
    *    COMPLETES the commit. Sound because chunks precede all meta
    *    writes. Because the same signature can be produced by
    *    hand-editing a foreign store, the forward direction first
    *    PROBES that the grown region's expected chunk objects exist and
    *    refuses loudly if not (fill values must never silently replace
    *    a congruence refusal).
    *  - every per-array meta AHEAD of the consolidated root (`rootS0`;
    *    a crash after the signal, before the root): the signal raised
    *    and every chunk is durable, so the root is re-consolidated —
    *    the commit completes, and a replay of the same append is then
    *    refused as a duplicate (its coordinates are on the axis).
    * Either way the root is re-consolidated from the healed metas and
    * the sidecar docs beyond the healed grid retire (a rolled-back
    * slab's docs must not describe phantom ordinals). */
  private def healTornShape0(
      store: ZarrStore, metas: Seq[ZarrArrayMeta], dims: Seq[String],
      rootS0: Option[Long]): Seq[ZarrArrayMeta] = {
    val (coordsAll, datas) = metas.partition(_.isCoordinate)
    val coord0 = coordsAll.find(_.name == dims.head).getOrElse(return metas)
    val head = datas.head
    if (head.ndim != dims.length || coord0.ndim != 1 ||
      coord0.chunkShape(0) != head.chunkShape(0)) return metas
    val congruentButShape0 = datas.forall { m =>
      m.ndim == head.ndim &&
        m.shape.drop(1).sameElements(head.shape.drop(1)) &&
        m.chunkShape.sameElements(head.chunkShape) &&
        m.dimensionNames == head.dimensionNames
    }
    if (!congruentButShape0) return metas
    val committedS0 = coord0.shape(0)
    if (datas.forall(_.shape(0) == committedS0) && !rootS0.exists(_ < committedS0))
      return metas
    // forward-heal probe (arrays whose extent would GROW): advancing
    // shape[0] makes the grown region readable, and if its chunks were
    // never written the store would silently serve fill values where
    // the pre-change behavior was a loud congruence refusal — the
    // shape[0]-only signature can also be produced by a hand-edited or
    // foreign store, not only by an interrupted commit. Require the
    // physical evidence a real interrupted commit necessarily left:
    // the coordinate axis's LAST chunk object plus, per growing array,
    // the last dim-0 chunk (trailing indices 0) of the grown extent.
    // (Growth confined to the committed edge chunk probes objects that
    // predate the append and cannot distinguish — but there the edge
    // object's committed fill padding is exactly what the grown
    // positions would read anyway.)
    val growing = datas.filter(_.shape(0) < committedS0)
    if (growing.nonEmpty) {
      def refuse(name: String, key: String): Nothing = throw new ZarrException(
        s"torn shape[0] heal refused: coordinate '${dims.head}' extent " +
          s"$committedS0 is ahead of data array(s) " +
          s"${growing.map(_.name).mkString(",")}, but expected chunk " +
          s"object '$name/$key' is absent — an interrupted append commit " +
          "always writes chunks before metadata, so this store was torn " +
          "some other way; fix the metadata by hand or rewrite the store")
      val coordKey = coord0.chunkKey(
        Array(((committedS0 - 1) / coord0.chunkShape(0)).toInt))
      if (!store.chunkObjectExists(coord0.name, coordKey))
        refuse(coord0.name, coordKey)
      growing.foreach { m =>
        val idx = new Array[Int](m.ndim)
        idx(0) = ((committedS0 - 1) / m.chunkShape(0)).toInt
        val key = m.chunkKey(idx)
        if (!store.chunkObjectExists(m.name, key)) refuse(m.name, key)
      }
    }
    val healed = metas.map { m =>
      if (m.isCoordinate || m.shape(0) == committedS0) m
      else {
        store.writeMeta(m.name, ZarrMeta.withShape0(m.sourceJson, committedS0))
        store.readMeta(m.name)
      }
    }
    store.writeStoreRootMeta(
      healed.map(m => m.name -> m.sourceJson), ChunkManifest.empty)
    val grid0 = (committedS0 + head.chunkShape(0) - 1) / head.chunkShape(0)
    val trailingGrid = (1 until head.ndim).foldLeft(1L) { (a, d) =>
      a * ((head.shape(d) + head.chunkShape(d) - 1) / head.chunkShape(d))
    }
    store.sidecar().retire(store, grid0 * trailingGrid, Long.MaxValue, "",
      n => healed.find(_.name == n).map(_.dataType))
    healed
  }

  /** The slab DataFrame must carry exactly dims + data arrays with the
    * stored types. */
  private def validateSlabSchema(df: DataFrame, t: CubeTarget, opName: String): Unit = {
    if (df.columns.exists(_.startsWith("__zarr_")))
      throw new ZarrException(
        "column names starting with __zarr_ collide with cube-write internals")
    val wantCols = (t.dims ++ t.dataMetas.map(_.name)).toSet
    if (df.columns.toSet != wantCols)
      throw new ZarrException(
        s"$opName: DataFrame columns (${df.columns.sorted.mkString(",")}) != " +
          s"store arrays (${wantCols.toSeq.sorted.mkString(",")})")
    val fieldByName = df.schema.fields.map(f => f.name -> f).toMap
    (t.coordMetas ++ t.dataMetas).foreach { m =>
      val f = fieldByName(m.name)
      if (f.dataType != m.dataType.sparkType)
        throw new ZarrException(
          s"$opName: column ${m.name} type ${f.dataType.sql} != stored " +
            s"${m.dataType.sparkType.sql}")
    }
  }

  /** Decode a 1-D coordinate axis driver-side, enforcing the strictly
    * ascending order every cube-layout invariant rests on. Axis-sized
    * (bounded by the cube writer's own max_axis_len). */
  private[graft] def readAscendingAxis(
      store: ZarrStore, m: ZarrArrayMeta, path: String, advice: String): Array[Any] = {
    val n = m.shape(0)
    if (n > Int.MaxValue)
      throw new ZarrException(
        s"coordinate axis '${m.name}' of $path has $n values (driver bound)")
    val cs = m.chunkShape(0)
    val numChunks = ((n + cs - 1) / cs).toInt
    val out = new Array[Any](n.toInt)
    var pos = 0
    (0 until numChunks).foreach { ci =>
      val colv = ChunkColumn.decode(m, store.readChunk(m.name, m.chunkKey(Array(ci))))
      val extent = math.min(cs.toLong, n - ci.toLong * cs).toInt
      var e = 0
      while (e < extent) {
        val v = colv.get(e)
        if (pos > 0 && ChunkFilter.cmp(v, out(pos - 1)) <= 0)
          throw new ZarrException(
            s"coordinate axis '${m.name}' of store $path is not strictly " +
              s"ascending at position $pos; $advice")
        out(pos) = v
        pos += 1
        e += 1
      }
    }
    out
  }

  /** Write a 1-D coordinate array's chunks from `fromChunk` on, with
    * the array's own codec chain, padding the final edge chunk with the
    * declared fill value. Chunks below `stageBelow` replace COMMITTED
    * objects: they land under `stageDir` for the caller's swap, and are
    * returned as (array, key). */
  private def writeCoordChunks(
      store: ZarrStore, m: ZarrArrayMeta, axis: IndexedSeq[Any],
      fromChunk: Int, stageBelow: Int, stageDir: String): Seq[(String, String)] = {
    val cs = m.chunkShape(0)
    val nChunks = ((axis.length.toLong + cs - 1) / cs).toInt
    (fromChunk until nChunks).flatMap { ci =>
      val real = axis.slice(ci * cs, ci * cs + cs)
      // a foreign store may shard even its coordinate axes; pack the
      // padded chunk exactly like the data-array kernel does
      val packed = ChunkColumn.encode(m, real ++ Seq.fill(cs - real.length)(m.fillValue),
        Seq(real.length))
      val key = m.chunkKey(Array(ci))
      if (ci < stageBelow) {
        store.writeChunk(m.name, s"$stageDir/$key", packed)
        Some(m.name -> key)
      } else {
        store.writeChunk(m.name, key, packed)
        None
      }
    }
  }

  /** One coordinate axis as a global sorted distinct, with the cube
    * layout's validity checks (bounded, non-NULL, finite). */
  private[graft] def collectAxis(df: DataFrame, d: String, maxAxisLen: Int): Array[Any] = {
    val rows = df.select(col(d)).distinct().orderBy(col(d))
      .limit(maxAxisLen + 1).collect()
    if (rows.length > maxAxisLen)
      throw new ZarrException(
        s"coordinate axis '$d' exceeds $maxAxisLen distinct values; " +
          "raise max_axis_len if the driver can hold the axis")
    if (rows.exists(_.isNullAt(0)))
      throw new ZarrException(
        s"coordinate column '$d' contains NULL; zarr coordinates are total orders")
    val vals = rows.map(_.get(0))
    vals.foreach {
      case f: Float if !java.lang.Float.isFinite(f) =>
        throw new ZarrException(s"coordinate column '$d' contains non-finite $f")
      case x: Double if !java.lang.Double.isFinite(x) =>
        throw new ZarrException(s"coordinate column '$d' contains non-finite $x")
      case _ => ()
    }
    vals
  }

  /** The distributed middle of [[commitSlab]]: attach grid indices
    * via per-dim broadcast joins, shuffle ONCE into contiguous
    * chunk-ordinal blocks, assemble and write chunks, and verify the
    * expected (rows, chunks) all landed.
    *
    * `axes` are the final coordinate axes; the slab's dim-0 values are
    * indexed against positions [joinLo0, joinHi0) of the first (a row
    * outside them joins nothing and fails the row count). `dataMetas`
    * describe the FINAL store. */
  // scalastyle:off parameter.number
  private def writeSlab(
      df: DataFrame,
      store: ZarrStore,
      dims: Seq[String],
      axes: Seq[IndexedSeq[Any]],
      dimZts: Seq[ZarrType],
      dataMetas: Seq[ZarrArrayMeta],
      joinLo0: Long,
      joinHi0: Long,
      stats: Boolean,
      rowsPerTask: Long,
      expectRows: Long,
      expectChunks: Long,
      // chunks with ordinal < stageBelowOrd rewrite COMMITTED objects:
      // they land under `<array>/<stageDir>/` (invisible to readers,
      // vacuum-reclaimable) and the caller swaps them into place only
      // after the whole slab is durable
      stageBelowOrd: Long,
      stageDir: String,
      // when nonEmpty, this slab's stats segments are staged too
      // (ChunkStats.stagingKey) — a durable FINAL-key segment must
      // never describe chunk bytes that are still at staging keys; the
      // caller promotes them after the chunk swap
      stageStatsWriteId: String): Unit = {
    // scalastyle:on parameter.number
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val shape = dataMetas.head.shape.toSeq
    val chunkShape = dataMetas.head.chunkShape.toSeq
    val grid = dataMetas.head.gridShape.toSeq
    val chunkElems: Long = chunkShape.foldLeft(1L)(_ * _.toLong)

    // ---- attach grid indices via per-dim BROADCAST joins ----
    // each build side is one axis (value, index); equality semantics
    // (float normalization, -0.0, NaN) are Spark's own, i.e. exactly
    // the semantics of the distinct() that produced the axis
    var indexed = df
    dims.zipWithIndex.foreach { case (d, i) =>
      val base = if (i == 0) joinLo0 else 0L
      val vals = if (i == 0) axes(0).slice(joinLo0.toInt, joinHi0.toInt) else axes(i)
      val axisDf = spark.createDataFrame(
        new java.util.ArrayList[Row](vals.zipWithIndex.map { case (v, g) =>
          Row(v, base + g.toLong)
        }.asJava),
        StructType(Seq(
          StructField(s"__zarr_v$i", df.schema(d).dataType, nullable = false),
          StructField(s"__zarr_g$i", LongType, nullable = false))))
      indexed = indexed.join(broadcast(axisDf), col(d) === col(s"__zarr_v$i"))
    }
    // row-major chunk ordinal and offset within the (padded) chunk —
    // pure integer Column arithmetic, whole-stage-codegen'd. Spark's
    // `/` is double division, so integral div is (g - g % c) / c: the
    // numerator is an exact multiple and the quotient < 2^53 (axis
    // length is capped), so the double division is exact
    var ordCol: Column = lit(0L)
    var offCol: Column = lit(0L)
    dims.indices.foreach { i =>
      val g = col(s"__zarr_g$i")
      val inChunk = g % chunkShape(i)
      ordCol = ordCol * grid(i) + ((g - inChunk) / chunkShape(i)).cast(LongType)
      offCol = offCol * chunkShape(i) + inChunk
    }

    // ---- one clustered shuffle; contiguous ordinal blocks per task ----
    val chunksPerBlock: Long = math.max(1L, rowsPerTask / math.max(1L, chunkElems))
    val nBlocks: Int = math.min(1 << 16,
      ((expectChunks + chunksPerBlock - 1) / chunksPerBlock)).toInt
    val shuffled = indexed
      .select((dataMetas.map(m => col(m.name)) :+
        ordCol.as("__zarr_ord") :+ offCol.as("__zarr_off")): _*)
      .repartition(math.max(1, nBlocks), (col("__zarr_ord") / chunksPerBlock).cast(LongType))
      .sortWithinPartitions(col("__zarr_ord"), col("__zarr_off"))

    val gridArr = grid.toArray
    val chunkArr = chunkShape.toArray
    val shapeArr = shape.toArray
    val dimsArr = dims.toArray
    val dimZtArr = dimZts.toArray
    val dataNames = dataMetas.map(_.name).toArray
    val dataJsonArr = dataMetas.map(_.sourceJson).toArray
    val axesB = spark.sparkContext.broadcast(axes)

    import spark.implicits._
    val written = shuffled.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else Iterator.single(ZarrCubeWrite.assemblePartition(
        it, store, dataNames, dataJsonArr, dimsArr, dimZtArr,
        axesB.value, shapeArr, chunkArr, gridArr, stats,
        stageBelowOrd, stageDir, stageStatsWriteId))
    }.collect()

    val rowsWritten = written.map(_._1).sum
    val chunksWritten = written.map(_._2).sum
    if (rowsWritten != expectRows || chunksWritten != expectChunks)
      throw new ZarrException(
        s"cube write incomplete: $rowsWritten/$expectRows rows, " +
          s"$chunksWritten/$expectChunks chunks reached the store")
  }

  /** Task kernel: rows arrive sorted by (ordinal, offset); assemble and
    * write one chunk at a time at its FINAL key, flush grid-signed stats
    * segments per contiguous ordinal run. Returns (rows, chunks). */
  private def assemblePartition(
      it: Iterator[Row],
      store: ZarrStore,
      dataNames: Array[String],
      dataMetaJsons: Array[String],
      dims: Array[String],
      dimZts: Array[ZarrType],
      axes: Seq[IndexedSeq[Any]],
      shape: Array[Long],
      chunkShape: Array[Int],
      grid: Array[Int],
      stats: Boolean,
      stageBelowOrd: Long,
      stageDir: String,
      stageStatsWriteId: String): (Long, Long) = {
    val ndim = grid.length
    val ncols = dataNames.length
    val metas = dataNames.zip(dataMetaJsons).map { case (n, j) => ZarrMeta.parse(n, j) }
    val fills = metas.map(_.fillValue)
    val chunkElems = chunkShape.map(_.toLong).product.toInt

    val buf: Array[Array[Any]] = Array.tabulate(ncols)(_ => new Array[Any](chunkElems))
    // real (in-extent) values per data column, for stats over output rows
    val realVals: Array[scala.collection.mutable.ArrayBuffer[Any]] =
      Array.fill(ncols)(scala.collection.mutable.ArrayBuffer.empty)
    // positions outside an edge chunk's extent stay fill
    def resetBuffers(): Unit = (0 until ncols).foreach { c =>
      java.util.Arrays.fill(buf(c).asInstanceOf[Array[AnyRef]], fills(c).asInstanceOf[AnyRef])
      realVals(c).clear()
    }

    // stats segment: ALL columns (coords first, then data), matching
    // what `analyze` records for this grid
    val segment = new ChunkStats.SegmentRecorder(
      dims.zip(dimZts).toSeq ++ metas.map(m => m.name -> m.dataType))
    var segFirst = -1L

    def flushSegment(): Unit = {
      if (segment.chunks > 0) {
        // when this slab stages chunk rewrites, its segments stage too:
        // a durable final-key segment must never describe bytes readers
        // cannot see yet (the caller promotes after the chunk swap)
        val key =
          if (stageStatsWriteId.nonEmpty)
            ChunkStats.stagingKey(stageStatsWriteId,
              ChunkStats.SegmentFile(segFirst, segment.chunks))
          else ChunkStats.segmentKey(segFirst, segment.chunks)
        store.writeText(key, segment.doc(grid.toSeq, dims.toSeq))
      }
      segment.clear()
      segFirst = -1L
    }

    var rows = 0L
    var chunks = 0L
    var curOrd = -1L
    var rowsInChunk = 0

    def flushChunk(): Unit = {
      if (curOrd < 0) return
      val idx = ScanGeometry.indexOf(curOrd, grid)
      val extent = new Array[Int](ndim)
      var d = 0
      while (d < ndim) {
        val start = idx(d).toLong * chunkShape(d)
        extent(d) = math.min(chunkShape(d).toLong, shape(d) - start).toInt
        d += 1
      }
      val nReal = extent.product
      if (rowsInChunk != nReal)
        throw new ZarrException(
          s"cube write: chunk ordinal $curOrd assembled $rowsInChunk rows, " +
            s"expected $nReal — density proof violated mid-write")
      // write-time per-inner-chunk stats for sharded columns: the same
      // `_stats/i<ord>.json` doc `analyze` backfills, emitted here so an
      // engine-written sharded store gets data-predicate inner masking
      // without a second full-corpus read. Slabs that stage chunk
      // rewrites stage their docs too (promoted after the swap).
      val innerColsB = Seq.newBuilder[ChunkStats.InnerColInput]
      var c = 0
      while (c < ncols) {
        val m = metas(c)
        val vals = buf(c)
        val packed = ChunkColumn.encode(m, vals, extent.toSeq)
        // a committed object's rewrite is staged, never truncated in
        // place: the caller swaps it in only after the slab is durable
        val key =
          if (curOrd < stageBelowOrd) s"$stageDir/${m.chunkKey(idx)}"
          else m.chunkKey(idx)
        store.writeChunk(m.name, key, packed)
        if (stats && ChunkStats.hasInnerStats(m)) {
          // mtime/etag of the FINAL object: direct writes stat it here
          // (one HEAD per shard, next to its PUT); staged chunks are
          // stamped at promotion — the swap's copy fallback creates a
          // new object whose mtime/etag a pre-swap doc cannot know
          val ost = if (curOrd < stageBelowOrd) None else store.objectStat(m.name, key)
          innerColsB += ChunkStats.innerCol(m, Some(packed), ost, vals(_), extent)
        }
        c += 1
      }
      val innerCols = innerColsB.result()
      if (innerCols.nonEmpty) {
        val ikey =
          if (stageStatsWriteId.nonEmpty)
            ChunkStats.stagingKey(stageStatsWriteId, ChunkStats.InnerFile(curOrd))
          else ChunkStats.innerKey(curOrd)
        store.writeText(ikey, ChunkStats.encodeInner(
          shape.toSeq, dims.toSeq, chunkShape.toSeq, innerCols))
      }
      if (stats) {
        if (segFirst < 0) segFirst = curOrd
        // coordinate bounds/sums over the chunk's OUTPUT rows, computed
        // from the broadcast axes (broadcast multiplicity realized by a
        // strided view, not materialization)
        segment.record(i =>
          if (i < ndim) new CoordChunkView(axes(i), idx(i).toLong * chunkShape(i), extent, i)
          else realVals(i - ndim))
        if (segment.chunks == ChunkStats.maxSegmentChunks) flushSegment()
      }
      chunks += 1
      resetBuffers()
      rowsInChunk = 0
      curOrd = -1L
    }

    resetBuffers()
    it.foreach { row =>
      val ord = row.getLong(ncols)
      val off = row.getLong(ncols + 1).toInt
      if (ord != curOrd) {
        flushChunk()
        // segments must cover CONTIGUOUS ordinal runs (the key encodes
        // [first, first+n)); a block boundary or hash-collided partition
        // starts a new run
        if (segment.chunks > 0 && ord != segFirst + segment.chunks) flushSegment()
        curOrd = ord
      }
      var c = 0
      while (c < ncols) {
        val v = row.get(c)
        if (v == null)
          throw new ZarrException(
            s"zarr arrays cannot store NULL (column ${dataNames(c)}); " +
              "coalesce/filter nulls before writing")
        buf(c)(off) = v
        realVals(c) += v
        c += 1
      }
      rowsInChunk += 1
      rows += 1
    }
    flushChunk()
    flushSegment()
    (rows, chunks)
  }

  /** Output rows of one chunk for coordinate `d`: the axis slice repeated
    * with the broadcast multiplicity, as a strided O(1)-memory view. */
  private final class CoordChunkView(
      axis: IndexedSeq[Any], base: Long, extent: Array[Int], d: Int)
      extends IndexedSeq[Any] {
    private val strideAfter: Int = {
      var p = 1
      var i = d + 1
      while (i < extent.length) { p *= extent(i); i += 1 }
      p
    }
    override val length: Int = extent.product
    override def apply(r: Int): Any = axis((base + (r / strideAfter) % extent(d)).toInt)
  }
}
