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
    * segment-validity rule the segment sweep and compactStats apply. */
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

  /** THE segment sweep of vacuum and incremental analyze: each listed
    * segment `(first, n, presumed)` is KEPT (`true`) when `presumed`,
    * inside the committed grid and its document passes [[validSegment]];
    * an absent document (deleted since the LIST) is left alone and not
    * reported; anything else is DELETED and reported `false` when the
    * deletion is confirmed (reclaim reports count only confirmed
    * deletions, so a task retry cannot inflate them). `presumed` is
    * the caller's listing-derived verdict — vacuum presumes every
    * unsuppressed segment, incremental analyze only those its refresh
    * windows and doc sweep leave standing — so a segment it rules out
    * costs no GET. Segment counts scale with WRITE TASKS (a long-lived
    * micro-batch ingest can hold 10^5), where a driver-serial GET per
    * segment is minutes at object-store latency: [[run]] shards it. */
  def sweepSegmentsUnit(
      root: String, pairs: Seq[(String, String)], segs: Seq[(Long, Int, Boolean)],
      numChunks: Long, ndim: Int, gridShape: Seq[Int], dims: Seq[String],
      colTypes: Map[String, String]): Seq[((Long, Int), Boolean)] = {
    val store = ZarrStore(root, pairs)
    segs.flatMap { case (first, n, presumed) =>
      val key = ChunkStats.segmentKey(first, n)
      val verdict =
        if (!presumed || !ChunkStats.inGrid(first, n, numChunks)) Some(false)
        else store.readText(key).map(doc =>
          validSegment(first, n, doc, ndim, gridShape, dims, colTypes).isDefined)
      verdict.collect {
        case true => (first, n) -> true
        case false if store.deleteKey(key) => (first, n) -> false
      }
    }
  }

  /** THE inner-doc sweep of vacuum and incremental analyze, under the
    * one verdict [[ChunkStats.InnerDocs]]: each listed doc `(ord,
    * presumed)` is KEPT (`true`) when `presumed` and the doc holds a
    * fresh usable column for `every` sharded data column (analyze's
    * coverage: an ordinal is covered iff a full analyze of it would
    * produce nothing better) or for at least one (vacuum's liveness:
    * a doc a reader could still mask with — object mtimes only move
    * forward, so a doc with none is declined by every reader forever
    * and is dead weight each scan re-HEADs). Anything else is DELETED
    * and reported `false` when the deletion is confirmed — re-analysis
    * re-emits a deleted ordinal's doc fresh. Names are driver-LISTed
    * once; the per-doc GET+parse+HEAD is the O(shards) cost [[run]]
    * shards out. Metas ride as (name, sourceJson) pairs, so the unit
    * is a plain-data task closure like every walk unit. */
  def sweepInnerDocsUnit(
      root: String, pairs: Seq[(String, String)], ords: Seq[(Long, Boolean)],
      metaJsons: Seq[(String, String)], manifest: ChunkManifest,
      every: Boolean): Seq[(Long, Boolean)] = {
    val store = ZarrStore(root, pairs)
    val docs = new ChunkStats.InnerDocs(ScanGeometry.resolve(
      metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }), manifest)
    ords.flatMap { case (ord, presumed) =>
      if (presumed && docs.live(store, ord, every)) Some(ord -> true)
      else if (store.deleteKey(ChunkStats.innerKey(ord))) Some(ord -> false)
      else None
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
