package graft.zarr

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one scheduler of the maintenance/observability surface, and the
  * walks it schedules. Every sweep (analyze's sidecar validation,
  * compactStats' merges and deletes, vacuum's segment, inner-doc and
  * chunk walks, `describe(countStored)`) hands its items and ONE visitor
  * to [[run]], which runs the visitor on the driver for small work and
  * as one Spark job above [[InlineMax]] — the 100 TB shape, where a
  * serial driver pass over millions of objects is the bottleneck. One
  * visitor serves both schedulers, so their results cannot drift.
  *
  * Stored-object walks cut each array's key space into independently
  * walkable units after TWO driver LIST levels (array dir + its child
  * dirs): the files those listings saw are handled on the driver (1-D
  * layouts: every `c/<i>` file), and every grandchild DIRECTORY becomes
  * a recursive unit (for a cube that is one unit per dim-0 chunk row —
  * natural, even parallelism). Units are plain strings, so they ship to
  * executors; each unit opens its FileSystem through a [[ZarrStore]]
  * built from the same `fs.*` conf pairs every executor-side store
  * access uses. */
private[zarr] object ZarrDistWalk {

  /** Work size up to which [[run]] stays on the driver: above it one
    * Spark job's dispatch costs less than a serial driver pass. */
  final val InlineMax: Long = 64

  /** Run `visit` over `items` on the driver when `size` is at most
    * `inlineMax`; above, as ONE Spark job over
    * min(items, defaultParallelism) partitions, each visiting its slice.
    * `size` is the work the choice is made on — the item count, or a
    * bigger figure the caller already knows (a walk's grid capacity). */
  def run[A: ClassTag, B: ClassTag](
      spark: SparkSession, items: Seq[A], inlineMax: Long, size: Long)(
      visit: Seq[A] => Seq[B]): Seq[B] =
    if (items.isEmpty) Seq.empty
    else if (size <= inlineMax) visit(items)
    else {
      val parts = math.min(items.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(items, parts)
        .mapPartitions(it => visit(it.toSeq).iterator)
        .collect().toSeq
    }

  /** [[run]] deciding on the item count. */
  def run[A: ClassTag, B: ClassTag](
      spark: SparkSession, items: Seq[A], inlineMax: Long)(
      visit: Seq[A] => Seq[B]): Seq[B] =
    run(spark, items, inlineMax, items.size.toLong)(visit)

  /** Chunk slots the arrays' grids address — the size a stored-object
    * walk is scheduled on, known from metadata before any LIST. */
  def gridCapacity(metas: Seq[ZarrArrayMeta]): Long =
    metas.map(_.gridShape.map(_.toLong).product).sum

  val metaDocNames: Set[String] =
    Set("zarr.json", ".zarray", ".zattrs", ".zgroup")

  /** One independently walkable slice of an array's key space:
    * everything under `rel`, relative to the array dir ("" = the array
    * dir itself). */
  final case class WalkUnit(array: String, rel: String)

  private def child(rel: String, name: String): String =
    if (rel.isEmpty) name else s"$rel/$name"

  private def unitPath(root: Path, u: WalkUnit): Path =
    new Path(root, child(u.array, u.rel))

  private def listOrEmpty(fs: FileSystem, p: Path): Array[FileStatus] =
    try fs.listStatus(p)
    catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }

  /** One LIST of the unit's dir: its direct files (paths relative to the
    * array dir, metadata documents excluded) and one unit per child dir
    * — identical coverage, one level finer. */
  private def expand(fs: FileSystem, root: Path, u: WalkUnit): (Seq[String], Seq[WalkUnit]) = {
    val (dirs, files) = listOrEmpty(fs, unitPath(root, u)).toSeq.partition(_.isDirectory)
    (files.map(_.getPath.getName).filterNot(metaDocNames).map(child(u.rel, _)),
      dirs.map(d => WalkUnit(u.array, child(u.rel, d.getPath.getName))))
  }

  /** The segment document `doc` of (first, n), parsed, iff it parses and
    * is grid-compatible under [[ChunkStats.gridCompatibleWith]] — THE
    * segment-validity rule analyze, vacuum and compactStats apply, each
    * with its own rule for an absent document and its own keep/delete
    * decision on top. */
  def validSegment(
      first: Long, n: Int, doc: String, ndim: Int, gridShape: Seq[Int],
      dims: Seq[String], colTypes: Map[String, String]): Option[ChunkStats.Segment] =
    try Some(ChunkStats.parse(first, n, doc, ztOf(colTypes)))
      .filter(ChunkStats.gridCompatibleWith(_, ndim, gridShape, dims))
    catch { case _: Exception => None }

  private def ztOf(colTypes: Map[String, String]): String => Option[ZarrType] =
    n => colTypes.get(n).map(ZarrType.fromName)

  /** Chunk-grid indices a key-shaped relative path addresses, or None
    * for non-key-shaped names. Handles every layout the engine reads:
    * v3 '/'-separated (`c/0/1`), v3 '.'-separated flat (`c.0.1`), v2
    * flat (`0.1`). */
  def keyIndices(rel: String): Option[Seq[Long]] = {
    val parts0 = rel.split('/').toSeq.flatMap(_.split('.').toSeq)
    val parts = if (parts0.headOption.contains("c")) parts0.tail else parts0
    if (parts.isEmpty || !parts.forall(p => p.nonEmpty && p.forall(_.isDigit))) None
    else Some(parts.map(_.toLong))
  }

  /** A key-shaped path addressing a slot OUTSIDE the committed grid
    * (wrong rank or any index past its extent). Non-key-shaped names
    * are never orphans — foreign files are surfaced, not deleted. */
  def orphaned(rel: String, grid: Seq[Long]): Boolean =
    keyIndices(rel).exists(idx =>
      idx.length != grid.length ||
        idx.zip(grid).exists { case (i, g) => i >= g })

  /** Expand units one LIST level at a time until at least `target`
    * units exist (or nothing further splits): each expanded unit's
    * direct files join the driver's files and its child dirs become
    * units — IDENTICAL coverage, finer tasks. A unit at the file level
    * has no child dirs, so its one LIST already saw all of it and it
    * needs no task. This is how a cube with a short dim-0 (2 chunk rows
    * → 2 first-level units) still fans out across a cluster: the next
    * grid dimension supplies the parallelism. Cost: one LIST per
    * expanded unit per round, bounded by `maxLevels` rounds (grids are
    * ≤8-D and each round multiplies units by a grid dimension, so 3
    * rounds reach target or the file level for any realistic layout).
    * Returns (files, units). */
  private def refine(
      fs: FileSystem, root: Path, units: Seq[WalkUnit], target: Int,
      maxLevels: Int = 3): (Seq[String], Seq[WalkUnit]) = {
    var (files, cur) = (Seq.empty[String], units)
    var level = 0
    while (level < maxLevels && cur.nonEmpty && cur.size < target) {
      val listed = cur.map(expand(fs, root, _))
      files ++= listed.flatMap(_._1)
      cur = listed.flatMap(_._2)
      level += 1
    }
    (files, cur)
  }

  /** Walk units a Spark job should be cut into: four per core, so
    * uneven units still balance. */
  def fanTarget(spark: SparkSession): Int =
    4 * math.max(1, spark.sparkContext.defaultParallelism)

  /** Two driver LISTs deep (more when `targetUnits` asks for finer
    * fan-out — see [[refine]]; only the job path asks, a driver walk
    * keeps the cheapest plan, and unit shape never changes results):
    * returns (every non-metadata FILE those listings saw, relative to
    * the array dir; `c.part*` child-dir names; walk units over every
    * grandchild dir). Staging dirs are neither listed nor units — the
    * caller owns the manifest-aware staging decision (vacuum) or adds
    * them back as units (stored-object counting, which counts manifest
    * part files too). A plan without units is complete — the 1-D layout
    * (`c/<i>` files), or a short 2-D grid refined to its file level —
    * and needs no walk past the driver's listings. */
  def planArray(
      fs: FileSystem, root: Path, array: String,
      targetUnits: Int = 0): (Seq[String], Seq[String], Seq[WalkUnit]) = {
    val (topFiles, children) = expand(fs, root, WalkUnit(array, ""))
    val (staging, dirs) = children.partition(_.rel.startsWith("c.part"))
    val level2 = dirs.map(expand(fs, root, _))
    val units = level2.flatMap(_._2)
    val (finerFiles, finer) =
      if (units.size < targetUnits) refine(fs, root, units, targetUnits) else (Nil, units)
    (topFiles ++ level2.flatMap(_._1) ++ finerFiles, staging.map(_.rel), finer)
  }

  /** THE stored-object counter: per array, every file under its dir
    * except metadata documents — canonical and v2 chunk keys, shard
    * objects, manifest part files, foreign files — counting what is
    * physically present, so an absent-chunk (fill-value) store reports
    * fewer objects than its grid has slots. Scheduled on the arrays'
    * grid capacity: up to `inlineMax` one recursive listing per array on
    * the driver; above, the key spaces are planned ([[planArray]]; the
    * files its listings saw are counted there) and only the planned
    * units — the dirs below the listed levels, and staging dirs — are
    * counted in one Spark job. A plan with no units (the 1-D layout)
    * takes no job. */
  def countStored(
      spark: SparkSession, store: ZarrStore, metas: Seq[ZarrArrayMeta],
      inlineMax: Long): Map[String, Long] = {
    val (root, pairs) = (store.root, store.hadoopConfPairs)
    val capacity = gridCapacity(metas)
    if (capacity <= inlineMax)
      metas.map(m => m.name -> countUnit(root, pairs, WalkUnit(m.name, ""))).toMap
    else {
      val planned = metas.map { m =>
        val (files, staging, units) =
          planArray(store.fs, store.rootPath, m.name, fanTarget(spark))
        (m.name, files.size.toLong, units ++ staging.map(WalkUnit(m.name, _)))
      }
      val counts = run(spark, planned.flatMap(_._3), inlineMax, capacity)(
        _.map(u => u.array -> countUnit(root, pairs, u)))
        .groupMapReduce(_._1)(_._2)(_ + _)
      planned.map { case (name, files, _) => name -> (files + counts.getOrElse(name, 0L)) }.toMap
    }
  }

  /** Count the unit's stored files (metadata-document names excluded at
    * any depth). */
  def countUnit(root: String, pairs: Seq[(String, String)], u: WalkUnit): Long = {
    val store = ZarrStore(root, pairs)
    var n = 0L
    try {
      val it = store.fs.listFiles(unitPath(store.rootPath, u), true)
      while (it.hasNext)
        if (!metaDocNames.contains(it.next().getPath.getName)) n += 1
    } catch { case _: java.io.FileNotFoundException => () }
    n
  }

  /** Validate-and-reclaim a batch of per-inner-chunk stats docs
    * (`_stats/i<ord>.json`): a doc is a PHANTOM — deleted, counted —
    * when its ordinal is past the committed grid, it is unreadable,
    * its shape/chunk/dims signature is incompatible with the store's
    * geometry under [[ChunkStats.innerDocCompatible]] (a smaller
    * LEADING extent is compatible: docs survive dim-0 appends by
    * design), or EVERY recorded column fails the reader's
    * length/mtime/etag freshness rule against one live HEAD — object
    * mtimes only move forward, so an all-stale doc is PERMANENTLY
    * declined by every reader and is dead weight each scan re-HEADs
    * forever. A doc with ANY fresh column stays live (the reader still
    * uses that column's bounds). Names are driver-LISTed once; the
    * per-doc GET+parse+HEAD is the O(shards) cost [[run]] shards out. */
  def vacuumInnerDocsUnit(
      root: String, pairs: Seq[(String, String)], ords: Seq[Long],
      metaJsons: Seq[(String, String)],
      manifestParts: Vector[(Long, String, Int)]): Long = {
    val store = ZarrStore(root, pairs)
    val ms = metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }
    val g = ScanGeometry.resolve(ms)
    val mani = ChunkManifest(manifestParts)
    val ztOf: String => Option[ZarrType] =
      n => ms.find(_.name == n).map(_.dataType)
    val byName: Map[String, ZarrArrayMeta] = ms.map(m => m.name -> m).toMap
    val numChunks = g.numChunks
    var reclaimed = 0L
    ords.foreach { ord =>
      val live = ord < numChunks &&
        (store.readText(ChunkStats.innerKey(ord)) match {
          // the READER's acceptance rule, verbatim (innerDocCompatible
          // + the per-column freshness guard): vacuum must never
          // reclaim a doc a scan would still trust — in particular
          // docs with a SMALLER leading extent, which stay live across
          // dim-0 appends by design
          case Some(doc) => ChunkStats.parseInner(doc, ztOf)
            .exists(d => ChunkStats.innerDocCompatible(d,
              g.targetShape.toSeq, g.targetChunk.toSeq, g.dimIdentity) &&
              (d.cols.isEmpty || d.cols.exists { case (name, cs) =>
                // the reader's freshness rule (ONE shared definition)
                byName.get(name).exists(m => cs.freshAgainst(
                  store.objectStat(m.name, mani.chunkKeyOf(m, g, ord))))
              }))
          case None => false
        })
      // count only CONFIRMED deletions (the vacuumUnit discipline)
      if (!live && store.deleteKey(ChunkStats.innerKey(ord))) reclaimed += 1
    }
    reclaimed
  }

  /** Validate-and-reclaim a batch of stats SEGMENTS: a segment is a
    * PHANTOM — deleted, counted — when its range reaches past the
    * committed grid or it fails [[validSegment]]. The segment twin of
    * [[vacuumInnerDocsUnit]]: segment counts scale with WRITE TASKS (a
    * long-lived micro-batch ingest can hold 10^5), where a driver-serial
    * GET per segment is minutes at object-store latency. */
  def vacuumSegmentsUnit(
      root: String, pairs: Seq[(String, String)], segs: Seq[(Long, Int)],
      numChunks: Long, ndim: Int, gridShape: Seq[Int], dims: Seq[String],
      colTypes: Map[String, String]): Long = {
    val store = ZarrStore(root, pairs)
    segs.count { case (first, n) =>
      val key = ChunkStats.segmentKey(first, n)
      // an absent segment (deleted since the LIST) is left alone
      (first < 0 || first + n > numChunks || store.readText(key).exists(doc =>
        validSegment(first, n, doc, ndim, gridShape, dims, colTypes).isEmpty)) &&
        // count only CONFIRMED deletions (the vacuumUnit discipline)
        store.deleteKey(key)
    }.toLong
  }

  /** Coverage-validate a batch of per-inner-chunk stats docs for
    * INCREMENTAL analyze. Name-presence is NOT coverage: a
    * signature-incompatible or guard-stale doc keeps masking silently
    * declined on its shard while the run reports success — exactly the
    * degradation the sweep exists to repair. An ordinal COVERS iff a
    * full analyze of it would produce nothing better:
    *  - the doc parses and is [[ChunkStats.innerDocCompatible]] with the
    *    store's live geometry;
    *  - EVERY currently-sharded non-binary data column has an entry
    *    whose inner shape matches the live sharding spec (with the
    *    expected per-inner bound count), and whose recorded object
    *    length/mtime match one live HEAD under the READER's exact rule
    *    (recorded len < 0 requires live absence; mt < 0 degrades to
    *    length-only — legacy docs, matching what the reader will
    *    actually accept).
    * Non-covering docs are DELETED — re-analysis of the uncovered range
    * re-emits them fresh (same retire-then-rewrite discipline as the
    * append's edge window). Returns the covering ordinals. Metas ride
    * as (name, sourceJson) pairs and the 1-D manifest as raw parts so
    * the unit is a plain-strings task closure, like every walk unit. */
  def analyzeDocsUnit(
      root: String, pairs: Seq[(String, String)], ords: Seq[Long],
      metaJsons: Seq[(String, String)],
      manifestParts: Vector[(Long, String, Int)]): Seq[Long] = {
    val store = ZarrStore(root, pairs)
    val ms = metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }
    val g = ScanGeometry.resolve(ms)
    val mani = ChunkManifest(manifestParts)
    val ztOf: String => Option[ZarrType] =
      n => ms.find(_.name == n).map(_.dataType)
    val roleOf: Map[String, ColumnRole] = ms.map(_.name).zip(g.roles).toMap
    // the columns a fresh analyze of a covered ordinal would record
    val statCols = ms.filter(m => roleOf(m.name) match {
      case DataCol(_) => m.shardingSpec.isDefined && m.dataType != ZarrType.Bytes
      case _ => false
    })
    val numChunks = g.numChunks
    val covered = Seq.newBuilder[Long]
    ords.foreach { ord =>
      val ok = ord >= 0 && ord < numChunks &&
        (store.readText(ChunkStats.innerKey(ord)) match {
          case Some(json) => ChunkStats.parseInner(json, ztOf).exists { d =>
            ChunkStats.innerDocCompatible(d, g.targetShape.toSeq,
              g.targetChunk.toSeq, g.dimIdentity) &&
              statCols.forall { m =>
                d.cols.get(m.name).exists { cs =>
                  val spec = m.shardingSpec.get
                  val inner = spec.innerShape.toArray
                  // expected bound count under the live spec (the
                  // reader's nInner); non-dividing specs cannot occur
                  // in a readable store, but degrade to shape-only
                  val nInner =
                    if (inner.exists(i => i <= 0) || g.targetChunk.zip(inner)
                      .exists { case (c, i) => c % i != 0 }) -1
                    else g.targetChunk.zip(inner).map { case (c, i) => c / i }.product
                  cs.inner.sameElements(inner) &&
                    (nInner < 0 || cs.mins.length == nInner) &&
                    // the reader's freshness rule (ONE shared
                    // definition, one HEAD through the scan's own key
                    // resolution)
                    cs.freshAgainst(store.objectStat(m.name,
                      mani.chunkKeyOf(m, g, ord)))
                }
              }
          }
          case None => false
        })
      if (ok) covered += ord
      else store.deleteKey(ChunkStats.innerKey(ord)): Unit
    }
    covered.result()
  }

  /** Coverage-validate a batch of stats SEGMENTS for INCREMENTAL
    * analyze: `presumed` carries the driver's LIST-derived verdict
    * (unsuppressed, range inside the grid, every ordinal's inner doc
    * covering — all decidable from listings + the doc sweep, no GET).
    * A presumed-live segment covers iff it passes [[validSegment]];
    * everything else is DELETED up front — an invalid segment proves
    * nothing and, left in place, would overlap-suppress the fresh
    * segments re-analysis writes over its range. Returns the covered
    * `[first, end)` ranges. */
  def analyzeSegmentsUnit(
      root: String, pairs: Seq[(String, String)],
      segs: Seq[(Long, Int, Boolean)], ndim: Int, gridShape: Seq[Int],
      dims: Seq[String], colTypes: Map[String, String]): Seq[(Long, Long)] = {
    val store = ZarrStore(root, pairs)
    segs.flatMap { case (first, n, presumed) =>
      val key = ChunkStats.segmentKey(first, n)
      if (presumed && store.readText(key).exists(doc =>
        validSegment(first, n, doc, ndim, gridShape, dims, colTypes).isDefined))
        Some((first, first + n))
      else { store.deleteKey(key); None }
    }
  }

  /** Merge a batch of segment GROUPS for sidecar compaction: each group
    * is a contiguous run of committed segments to be rewritten as ONE
    * document. A group is merged only when EVERY source passes
    * [[validSegment]] — anything else skips the whole group untouched
    * (a compaction must never destroy information; junk is incremental
    * analyze's and vacuum's job). Returns the keys of the source
    * documents each successful merge superseded — the caller deletes
    * them only after ALL merged documents are committed, so a crash
    * mid-compaction leaves overlap-suppressed (degraded, never wrong)
    * coverage that the next incremental analyze heals. */
  def compactStatsUnit(
      root: String, pairs: Seq[(String, String)],
      groups: Seq[Seq[(Long, Int)]], ndim: Int, gridShape: Seq[Int],
      dims: Seq[String], colTypes: Map[String, String]): Seq[String] = {
    val store = ZarrStore(root, pairs)
    val superseded = Seq.newBuilder[String]
    // skipped groups are EXPECTED to be rare and must not be silent: a
    // persistently failing store (permissions, disk-full) would
    // otherwise fragment forever behind a compaction that "succeeds" —
    // one bounded log line per unit keeps the signal without a
    // per-group log flood at the 10^5-segment scale
    var skipped = 0
    var lastSkip: String = ""
    groups.foreach { group =>
      val first = group.head._1
      val total = group.map(_._2).sum
      // one guard over read, merge and commit: any failure skips THIS
      // group with its sources untouched, rather than abort the whole
      // compaction with the other groups' merges half-committed
      try {
        val ss = group.map { case (f, n) =>
          store.readText(ChunkStats.segmentKey(f, n))
            .flatMap(validSegment(f, n, _, ndim, gridShape, dims, colTypes))
            .getOrElse(throw new ZarrException(
              s"segment s${f}_$n vanished, unreadable or grid-incompatible"))
        }
        store.writeText(ChunkStats.segmentKey(first, total),
          ChunkStats.mergeSegments(first, total, ss, ztOf(colTypes), gridShape, dims))
        // the merged doc's key never equals a source key (single-source
        // groups are not planned, so total always differs) — every
        // SOURCE key is superseded
        superseded ++= group.map { case (f, n) => ChunkStats.segmentKey(f, n) }
      } catch { case e: Exception =>
        skipped += 1; lastSkip = String.valueOf(e.getMessage)
      }
    }
    if (skipped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[zarr-compact] $skipped group(s) skipped " +
          s"unmerged under $root (sources untouched; last cause: $lastSkip)")
    superseded.result()
  }

  /** Delete the unit's orphan key-shaped files (slots outside `grid`);
    * returns how many were deleted. Never touches directories,
    * metadata documents, or non-key-shaped (foreign) files. */
  def vacuumUnit(
      root: String, pairs: Seq[(String, String)], u: WalkUnit,
      grid: Seq[Long]): Long = {
    val store = ZarrStore(root, pairs)
    val fs = store.fs
    var deleted = 0L
    // count only confirmed deletions: a task retry (or a false return
    // for an already-absent file) must not inflate the reclaim report —
    // deletion itself is idempotent, the COUNT is what a re-run could
    // otherwise distort
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val childRel = child(rel, st.getPath.getName)
        if (st.isDirectory) walk(st.getPath, childRel)
        else if (orphaned(childRel, grid) && fs.delete(st.getPath, false)) deleted += 1
      }
    try walk(unitPath(store.rootPath, u), u.rel)
    catch { case _: java.io.FileNotFoundException => () }
    deleted
  }
}
