package graft.sources

import graft.zarr._
import org.apache.spark.sql.sources.Filter

/** The one partition planner of every Zarr read — batch scan
  * ([[ZarrScan]]), the uncovered chunks of a hybrid aggregate
  * ([[ZarrAggScan]]) and each micro-batch ([[ZarrMicroBatchStream]]).
  *
  * It prunes on the driver, before any task starts, the way Delta Lake
  * prunes files from the min/max in its log (Armbrust et al., VLDB
  * 2020): each `_stats/` segment overlapping the candidate ordinals is
  * GET and parsed once per plan ([[PlanSidecar]]), and a chunk whose
  * recorded ranges refute the filters never becomes part of a task.
  * The survivors are cut into contiguous [[ZarrInputPartition]]s; tasks
  * never read a segment. The coordinate chunks that several partitions
  * share are read once here too and shipped in the reader factory
  * ([[sharedCoords]]).
  */
object ZarrPlanner {

  /** A planned read: its partitions, the chunks they read and the
    * candidate chunks the sidecar pruned. */
  final case class Plan(partitions: Seq[ZarrInputPartition], planned: Long, pruned: Long)

  /** Decoded bytes of coordinate chunks one plan ships to its tasks. */
  val ShippedCoordBytes: Long = 1L << 20

  /** The ordinals a scan may read: the whole grid, or under a pushed
    * limit only the leading chunks that can hold `limit` rows. */
  def candidates(geometry: ScanGeometry, limit: Int): Seq[(Long, Long)] = {
    val total =
      if (limit < 0) geometry.numChunks
      else {
        val rowsPerChunk = math.max(1L, geometry.targetChunk.map(_.toLong).product)
        math.min(geometry.numChunks, (limit + rowsPerChunk - 1) / rowsPerChunk)
      }
    if (total > 0) Seq((0L, total)) else Nil
  }

  /** Plan `candidates` (sorted, disjoint ordinal runs) under `filters`
    * plus the `runtime` filters, which also ride on each partition for
    * the reader's decode-and-test. `count` gives the partition count
    * for a number of surviving chunks. `sidecar` is read only when there
    * are filters. */
  def plan(
      candidates: Seq[(Long, Long)],
      filters: Seq[Filter],
      geometry: ScanGeometry,
      sidecar: PlanSidecar,
      count: Long => Long,
      runtime: Seq[Filter] = Nil): Plan = {
    val runs = survivors(candidates, filters ++ runtime, geometry, sidecar)
    val kept = length(runs)
    val parts =
      if (kept == 0) Nil
      else pack(runs, count(kept)).map { case (lo, hi, skip) =>
        ZarrInputPartition(lo, hi, skip, runtime)
      }
    Plan(parts, kept, length(candidates) - kept)
  }

  private def length(runs: Seq[(Long, Long)]): Long = runs.map(r => r._2 - r._1).sum

  /** The runs of `candidates` the sidecar cannot refute. A chunk is
    * refuted when a listed segment that overlaps the candidates, lies
    * inside the grid ([[ChunkStats.inGrid]]), parses and is
    * [[ChunkStats.gridCompatible]] with `geometry` records
    * ranges under which no row can satisfy `filters`
    * ([[ChunkStats.mayMatch]]). A failed GET or parse prunes nothing:
    * the sidecar is auxiliary, and those chunks decode-and-test. */
  def survivors(
      candidates: Seq[(Long, Long)],
      filters: Seq[Filter],
      geometry: ScanGeometry,
      sidecar: PlanSidecar): Seq[(Long, Long)] = {
    if (filters.isEmpty || candidates.isEmpty) return candidates
    val overlapping = sidecar.listing.unsuppressed.filter { case (first, n) =>
      ChunkStats.inGrid(first, n, geometry.numChunks) &&
        candidates.exists { case (lo, hi) => first < hi && first + n > lo }
    }
    sidecar.load(overlapping)
    val segs = overlapping
      .flatMap { case (first, n) =>
        try sidecar.segment(first, n) catch { case _: Throwable => None }
      }
      .filter(ChunkStats.gridCompatible(_, geometry))
    if (segs.isEmpty) return candidates
    val out = Seq.newBuilder[(Long, Long)]
    var runStart = -1L
    def keep(o: Long): Unit = if (runStart < 0) runStart = o
    def drop(o: Long): Unit = if (runStart >= 0) { out += ((runStart, o)); runStart = -1L }
    candidates.foreach { case (lo, hi) =>
      // unsuppressed segments are disjoint and first-sorted: walk them
      // beside the ordinals; ordinals no segment covers survive whole
      var o = lo
      segs.iterator.filter(s => s.first < hi && s.first + s.chunks > lo).foreach { s =>
        if (o < s.first) { keep(o); o = s.first }
        val end = math.min(hi, s.first + s.chunks)
        while (o < end) {
          if (ChunkStats.mayMatch(filters, col => s.range(col, o))) keep(o) else drop(o)
          o += 1
        }
      }
      if (o < hi) keep(o)
      drop(hi)
    }
    out.result()
  }

  /** Cut `runs` (sorted, disjoint, non-empty) into contiguous
    * partitions `(lo, hi, skip)`:
    *  - at most `n` runs: exactly `n` pieces (at most one per chunk),
    *    no piece spanning two runs — so `hi - lo` is the chunk count —
    *    each further piece going to the run whose pieces are largest;
    *  - more runs than `n`: neighbouring runs merge across the shortest
    *    gaps into `n` partitions, each carrying the gaps it spans as
    *    `skip` ranges, which are never read. */
  def pack(runs: Seq[(Long, Long)], n: Long): Seq[(Long, Long, Seq[(Long, Long)])] = {
    if (runs.isEmpty) return Nil
    if (runs.length > n) {
      val cuts = runs.indices.tail
        .sortBy(i => (runs(i - 1)._2 - runs(i)._1, i)) // widest gap first
        .take(math.max(0L, n - 1).toInt).sorted
      (0 +: cuts).zip(cuts :+ runs.length).map { case (a, b) =>
        val group = runs.slice(a, b)
        (group.head._1, group.last._2, group.zip(group.tail).map(p => (p._1._2, p._2._1)))
      }
    } else {
      val len = runs.map(r => r._2 - r._1).toArray
      val pieces = Array.fill(runs.length)(1L)
      def size(i: Int): Long = (len(i) + pieces(i) - 1) / pieces(i)
      val queue = scala.collection.mutable.PriorityQueue(runs.indices: _*)(
        Ordering.by((i: Int) => (size(i), -i)))
      var left = n - runs.length
      while (left > 0 && size(queue.head) > 1) {
        val i = queue.dequeue()
        pieces(i) += 1
        queue.enqueue(i)
        left -= 1
      }
      runs.indices.flatMap { i =>
        val (lo, k) = (runs(i)._1, pieces(i))
        val (per, extra) = (len(i) / k, len(i) % k)
        def start(j: Long) = lo + j * per + math.min(j, extra)
        (0L until k).map(j => (start(j), start(j + 1), Nil))
      }
    }
  }

  /** The coordinate chunks of `names` that at least two of `parts` read,
    * fetched once, concurrently: (array, chunk index, stored bytes),
    * most-shared first while their decoded size stays within
    * [[ShippedCoordBytes]]. Each reader decodes them into its coordinate
    * cache before it fetches anything. N-D grids only: a 1-D scan's
    * coordinate chunks are never shared, and their keys may resolve
    * through the chunk manifest. A failed GET ships nothing: the tasks
    * read that chunk themselves. */
  def sharedCoords(
      store: ZarrStore,
      geometry: ScanGeometry,
      names: Seq[String],
      parts: Seq[ZarrInputPartition]): Seq[(String, Int, Option[Array[Byte]])] = {
    val coords = geometry.roles.collect {
      case CoordCol(m, d) if names.contains(m.name) && m.dataType.byteWidth > 0 => (m, d)
    }
    if (geometry.ndim < 2 || parts.length < 2 || coords.isEmpty) return Nil
    val touches = scala.collection.mutable.Map.empty[(String, Int), Int].withDefaultValue(0)
    parts.foreach { p =>
      coords.foreach { case (m, d) =>
        val grid = geometry.gridShape(d)
        val stride = geometry.gridShape.drop(d + 1).foldLeft(1L)(_ * _)
        val seen = scala.collection.mutable.BitSet.empty
        p.runs.foreach { case (a, b) =>
          val (q0, q1) = (a / stride, (b - 1) / stride)
          if (q1 - q0 + 1 >= grid) seen ++= 0 until grid
          else (q0 to q1).foreach(q => seen += (q % grid).toInt)
        }
        seen.foreach(ci => touches((m.name, ci)) += 1)
      }
    }
    val metaOf = coords.map { case (m, _) => m.name -> m }.toMap
    def bytes(name: String): Long =
      metaOf(name).chunkShape(0).toLong * metaOf(name).dataType.byteWidth
    val shared = touches.toSeq.filter(_._2 >= 2)
      .sortBy { case ((name, ci), c) => (-c, name, ci) }.map(_._1)
    val within = shared.scanLeft(0L)((acc, k) => acc + bytes(k._1)).tail
      .zip(shared).takeWhile(_._1 <= ShippedCoordBytes).map(_._2)
    ChunkPrefetcher.fetchAll(within) { case (name, ci) =>
      try Some((name, ci, store.readChunk(name, metaOf(name).chunkKey(Array(ci)))))
      catch { case _: Throwable => None }
    }.flatten
  }
}
