package perfbench

import java.util.concurrent.{ExecutorService, Future}

import scala.jdk.CollectionConverters._

import graft.sources.{ZarrDataSource, ZarrInputPartition}
import graft.zarr.{ChunkColumn, CoordCol, DataCol, ZarrArrayMeta, ZarrStore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Answer of one aggregate scan: matching rows, float64 sums of
  * `sumCols`, and an integer checksum sum(long(v * checksumScale)). */
final case class Answer(rows: Long, sums: Seq[Double], checksum: Long)

/** One aggregate query over a Zarr table: conjunctive filters, float sums
  * and an optional integer checksum column. The same spec runs through
  * Spark SQL (the untraced, user-visible path) and through the DSv2
  * interfaces driven directly (the traced path), so both compute the
  * same answer by construction. */
final case class ScanQuery(
    kind: String,
    filters: Seq[Filter],
    sumCols: Seq[String],
    checksumCol: Option[String] = None,
    checksumScale: Double = 1.0) {

  def referenced: Seq[String] =
    (sumCols ++ checksumCol ++ filters.flatMap(_.references)).distinct

  private def toColumn(f: Filter): Column = f match {
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case EqualTo(a, v) => col(a) === lit(v)
    case other => throw new IllegalArgumentException(s"unsupported filter $other")
  }

  def sparkAnswer(df: DataFrame): Answer = {
    val filtered = filters.map(toColumn).foldLeft(df)(_.filter(_))
    val aggs = Seq(count(lit(1))) ++ sumCols.map(c => sum(col(c))) ++
      checksumCol.map(c => sum((col(c) * lit(checksumScale)).cast("long")))
    val r = filtered.agg(aggs.head, aggs.tail: _*).collect()(0)
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    Answer(r.getLong(0), sumCols.indices.map(i => d(i + 1)),
      checksumCol.map(_ => if (r.isNullAt(sumCols.size + 1)) 0L else r.getLong(sumCols.size + 1))
        .getOrElse(0L))
  }

  /** Exact row predicate, evaluated by the benchmark on every emitted row
    * (the pushdown is inexact, as it is for Spark). */
  def matches(get: String => Double): Boolean = filters.forall {
    case GreaterThanOrEqual(a, v) => get(a) >= num(v)
    case GreaterThan(a, v) => get(a) > num(v)
    case LessThanOrEqual(a, v) => get(a) <= num(v)
    case LessThan(a, v) => get(a) < num(v)
    case EqualTo(a, v) => get(a) == num(v)
    case other => throw new IllegalArgumentException(s"unsupported filter $other")
  }
  private def num(v: Any): Double = v.asInstanceOf[Number].doubleValue()
}

/** What the traced DSv2 pass learned about one query. */
final case class ScanTrace(
    answer: Answer,
    planCounts: Counts, partitions: Int, chunksPlanned: Long, chunksTotal: Long,
    readNanos: Long, batches: Long, rows: Long, opened: Seq[BenchFs.Opened])

object Scan {

  /** Drive the connector's DSv2 interfaces for `q` the way Spark's planner
    * and executors call them: inferSchema, getTable, newScanBuilder,
    * pruneColumns, pushFilters, build, planInputPartitions and
    * createReaderFactory on this thread; then one columnar reader per
    * partition on `pool`, iterated with next/get. `root` is the local path
    * behind `url`, read without counting for the chunk-grid size. */
  def dsv2(url: String, root: String, q: ScanQuery, pool: ExecutorService): ScanTrace = {
    val props = new java.util.HashMap[String, String]()
    props.put("path", url)
    val options = new CaseInsensitiveStringMap(props)
    val provider = new ZarrDataSource
    val c0 = BenchFs.snapshot()
    val (schema, parts, factory) = Trace.span("plan") {
      val inferred = Trace.span("plan.inferSchema")(provider.inferSchema(options))
      val table = Trace.span("plan.getTable")(provider.getTable(inferred, Array.empty, props))
      val sb = Trace.span("plan.newScanBuilder")(
        table.asInstanceOf[SupportsRead].newScanBuilder(options))
      val required = StructType(inferred.fields.filter(f => q.referenced.contains(f.name)))
      sb.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(required)
      Trace.span("plan.pushFilters")(
        sb.asInstanceOf[SupportsPushDownFilters].pushFilters(q.filters.toArray))
      val scan = Trace.span("plan.build")(sb.build())
      val batch = scan.toBatch
      val parts = Trace.span("plan.planInputPartitions")(batch.planInputPartitions())
      val factory = Trace.span("plan.createReaderFactory")(batch.createReaderFactory())
      (scan.readSchema(), parts, factory)
    }
    val planCounts = BenchFs.snapshot() - c0
    val chunksPlanned = parts.collect { case p: ZarrInputPartition => p.hi - p.lo }.sum

    val names = schema.fields.map(_.name)
    val sumIdx = q.sumCols.map(names.indexOf(_))
    val checkIdx = q.checksumCol.map(names.indexOf(_)).getOrElse(-1)
    BenchFs.opened.clear()
    BenchFs.recordOpens = true
    val r0 = System.nanoTime()
    val partials: Seq[Future[(Answer, Long)]] = parts.toSeq.map { p =>
      pool.submit(() => Trace.span("read.reader") {
        val reader = Trace.span("read.create")(factory.createColumnarReader(p))
        var rows = 0L; var batches = 0L; var check = 0L
        val sums = new Array[Double](sumIdx.size)
        try {
          while (reader.next()) {
            val b: ColumnarBatch = reader.get()
            batches += 1
            var r = 0
            val n = b.numRows()
            while (r < n) {
              val row = r
              if (q.matches(c => value(b, names.indexOf(c), row))) {
                rows += 1
                var k = 0
                while (k < sumIdx.size) { sums(k) += b.column(sumIdx(k)).getDouble(r); k += 1 }
                if (checkIdx >= 0)
                  check += (b.column(checkIdx).getDouble(r) * q.checksumScale).toLong
              }
              r += 1
            }
          }
        } finally reader.close()
        (Answer(rows, sums.toSeq, check), batches)
      })
    }
    val done = partials.map(_.get())
    val readNanos = System.nanoTime() - r0
    BenchFs.recordOpens = false
    val opened = BenchFs.opened.asScala.toSeq
    BenchFs.opened.clear()
    val answer = Answer(done.map(_._1.rows).sum,
      sumIdx.indices.map(k => done.map(_._1.sums(k)).sum), done.map(_._1.checksum).sum)
    val geometry = graft.zarr.ScanGeometry.resolve(
      ZarrDataSource.metasOf(ZarrStore(root)).filter(m => names.contains(m.name)))
    ScanTrace(answer, planCounts, parts.length, chunksPlanned, geometry.numChunks,
      readNanos, done.map(_._2).sum, answer.rows, opened)
  }

  private def value(b: ColumnarBatch, c: Int, row: Int): Double = {
    val v = b.column(c)
    if (v.dataType() == org.apache.spark.sql.types.LongType) v.getLong(row).toDouble
    else v.getDouble(row)
  }

  /** The chunk data one object yielded to a traced scan: its array,
    * chunk key and (outer) chunk index, and the row-major ordinals of
    * the inner chunks whose bytes were fetched. A sharded object read
    * with ranged GETs fetched the inner chunks that lie wholly inside
    * one of its data ranges (the gaps a coalesced range spans
    * included); one read as a whole fetched all its present inner
    * chunks. An unsharded chunk object is one inner chunk, ordinal 0. */
  final case class Fetch(name: String, key: String, idx: Array[Int],
      inner: Array[Int], nInner: Int, whole: Boolean)

  /** The fetches behind the objects a traced scan opened under `root`
    * (a local path), one per chunk object; metadata and sidecar objects
    * are left out. The shard index is read from the local file,
    * outside the counted FileSystem. */
  def fetches(root: String, opened: Seq[BenchFs.Opened]): Seq[Fetch] = {
    val store = ZarrStore(root)
    val metas = scala.collection.mutable.Map[String, ZarrArrayMeta]()
    opened.groupBy(_.path).toSeq.sortBy(_._1).flatMap { case (path, opens) =>
      chunkRef(root, path).map { case (name, key, idx) =>
        val m = metas.getOrElseUpdate(name, store.readMeta(name))
        val ranges = opens.flatMap(_.ranges.asScala)
        m.shardingSpec match {
          case None => Fetch(name, key, idx, Array(0), 1, whole = true)
          case Some(spec) =>
            val index = shardIndex(java.nio.file.Paths.get(path), spec, m.chunkShape)
            val n = index.length / 2
            val present = (0 until n).filter(gi => index(2 * gi) >= 0)
            // a stream without positioned reads read the object whole
            val whole = opens.exists(_.ranges.isEmpty)
            val inner =
              if (whole) present
              else present.filter { gi =>
                val off = index(2 * gi); val end = off + index(2 * gi + 1)
                ranges.exists { case (p, len) => p <= off && end <= p + len }
              }
            Fetch(name, key, idx, inner.toArray, n, whole)
        }
      }
    }
  }

  /** (offset, length) pairs of a local shard file's index, row-major
    * over its inner grid; an absent inner chunk reads (-1, -1). */
  private def shardIndex(file: java.nio.file.Path, spec: graft.zarr.Sharding.Spec,
      shape: Array[Int]): Array[Long] = {
    val n = graft.zarr.Sharding.innerCount(shape, spec)
    val crc = 4 * spec.indexCodecs.count(_.name == "crc32c")
    val bytes = java.nio.file.Files.readAllBytes(file)
    val at = if (spec.indexAtEnd) bytes.length - 16 * n - crc else 0
    val bb = java.nio.ByteBuffer.wrap(bytes, at, 16 * n)
      .order(graft.zarr.Codecs.endianness(spec.indexCodecs))
    Array.fill(2 * n)(bb.getLong)
  }

  /** (lo, hi) box of inner chunk `gi` of outer chunk `idx`, in element
    * indices, not clipped to the array's shape. */
  def innerBox(m: ZarrArrayMeta, idx: Array[Int], gi: Int): (Array[Int], Array[Int]) = {
    val inner = m.shardingSpec.map(_.innerShape.toArray).getOrElse(m.chunkShape)
    val grid = m.chunkShape.indices.map(d => m.chunkShape(d) / inner(d))
    val pos = new Array[Int](inner.length)
    var rest = gi
    (inner.length - 1 to 0 by -1).foreach { d => pos(d) = rest % grid(d); rest /= grid(d) }
    val lo = inner.indices.map(d => idx(d) * m.chunkShape(d) + pos(d) * inner(d)).toArray
    (lo, lo.indices.map(d => lo(d) + inner(d)).toArray)
  }

  /** Decode and fill work of one traced query, replayed on one thread. */
  final case class Replay(decodeNanos: Long, chunks: Long, outBytes: Long,
      fillNanos: Long, rowsBulk: Long, rowsMapped: Long)

  /** Replay the connector's decode and fill for exactly what a traced
    * scan fetched, on one thread: `ZarrStore.readChunk` (or, for a
    * shard read with ranged GETs, `Sharding.readRanged` of its fetched
    * inner chunks) -> `ChunkColumn.decode` -> `ChunkColumn.writeTo`.
    * Only the decode and the fill are timed. A partial shard fills the
    * rows of its fetched inner chunks, as the reader emits only those;
    * a coordinate chunk fills one target chunk. */
  def replay(root: String, fetched: Seq[Fetch]): Replay = {
    val store = ZarrStore(root)
    val metas = scala.collection.mutable.Map[String, ZarrArrayMeta]()
    val dataChunk = ZarrDataSource.metasOf(store).filterNot(_.isCoordinate)
      .headOption.map(_.chunkShape).getOrElse(Array.empty[Int])
    var dec = 0L; var chunks = 0L; var out = 0L; var fill = 0L; var bulk = 0L; var mapped = 0L
    fetched.foreach { f =>
      val m = metas.getOrElseUpdate(f.name, store.readMeta(f.name))
      val raw = m.shardingSpec match {
        case Some(spec) if !f.whole =>
          val mask = new Array[Boolean](f.nInner)
          f.inner.foreach(mask(_) = true)
          graft.zarr.Sharding.readRanged(store, f.name, f.key, spec, m.chunkShape, mask)
        case _ => store.readChunk(f.name, f.key)
      }
      val t0 = System.nanoTime()
      val column = ChunkColumn.decode(m, raw)
      dec += System.nanoTime() - t0
      chunks += f.inner.length
      val innerElems = m.shardingSpec.map(_.innerElems.toLong).getOrElse(m.chunkShape.map(_.toLong).product)
      out += f.inner.length * innerElems * math.max(1, m.dataType.byteWidth)
      val (mapping, n) =
        if (m.isCoordinate && dataChunk.length > 1) {
          val d = coordDim(store, m.name).getOrElse(0)
          val extent = dataChunk.clone()
          extent(d) = math.min(m.chunkShape(0).toLong, m.shape(0) - f.idx(0).toLong * m.chunkShape(0)).toInt
          (ChunkColumn.mapping(CoordCol(m, d), dataChunk, extent), extent.product)
        } else {
          val extent = m.chunkShape.indices.map(d =>
            math.min(m.chunkShape(d).toLong, m.shape(d) - f.idx(d).toLong * m.chunkShape(d)).toInt).toArray
          val base = ChunkColumn.mapping(DataCol(m), m.chunkShape, extent)
          if (f.whole || m.shardingSpec.isEmpty) (base, extent.product)
          else {
            val rows = keptRows(m, f, extent)
            (if (base == null) rows else rows.map(base(_)), rows.length)
          }
        }
      val vec = new OnHeapColumnVector(n, graft.sources.ZarrDataSource.schemaOf(Seq(m)).head.dataType)
      try {
        val f0 = System.nanoTime()
        column.writeTo(vec, mapping, n, 0)
        fill += System.nanoTime() - f0
      } finally vec.close()
      if (mapping == null) bulk += n else mapped += n
    }
    Replay(dec, chunks, out, fill, bulk, mapped)
  }

  /** Row-major indices, over the chunk's valid `extent`, of the rows in
    * the fetched inner chunks of `f`. */
  private def keptRows(m: ZarrArrayMeta, f: Fetch, extent: Array[Int]): Array[Int] = {
    val inner = m.shardingSpec.get.innerShape.toArray
    val fetched = f.inner.toSet
    val grid = m.chunkShape.indices.map(d => m.chunkShape(d) / inner(d)).toArray
    val rows = Array.newBuilder[Int]
    val pos = new Array[Int](extent.length)
    var r = 0
    while (r < extent.product) {
      var gi = 0
      var d = 0
      while (d < extent.length) { gi = gi * grid(d) + pos(d) / inner(d); d += 1 }
      if (fetched(gi)) rows += r
      d = extent.length - 1
      var carry = true
      while (carry && d >= 0) {
        pos(d) += 1
        if (pos(d) == extent(d)) { pos(d) = 0; d -= 1 } else carry = false
      }
      r += 1
    }
    rows.result()
  }

  private val coordDims = scala.collection.mutable.Map[(String, String), Option[Int]]()
  /** Position of coordinate `name` among the data arrays' dimensions. */
  private def coordDim(store: ZarrStore, name: String): Option[Int] =
    coordDims.getOrElseUpdate((store.root, name),
      ZarrDataSource.metasOf(store).find(!_.isCoordinate)
        .flatMap(_.dimensionNames).map(_.indexOf(name)).filter(_ >= 0))

  /** (array, chunk key, chunk index) of an opened chunk object under
    * `root`; None for metadata, sidecar and other objects. */
  def chunkRef(root: String, path: String): Option[(String, String, Array[Int])] = {
    val prefix = root.stripSuffix("/") + "/"
    if (!path.startsWith(prefix)) None
    else {
      val rel = path.substring(prefix.length).split('/')
      if (rel.length >= 3 && rel(1) == "c" && rel.drop(2).forall(_.forall(_.isDigit)))
        Some((rel(0), rel.drop(1).mkString("/"), rel.drop(2).map(_.toInt)))
      else None
    }
  }
}
