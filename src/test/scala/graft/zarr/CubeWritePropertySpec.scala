package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the N-D cube write → DSv2 scan roundtrip: for
  * ARBITRARY grids (1–8 dims — a third of the cases exercise the 5–8-D
  * range up to the writer's cap, with short axes so the dense cell
  * product stays cheap —, axis lengths that force edge chunks on
  * any dimension, long/double/string coordinate types, multiple data
  * columns, chunk shapes that may exceed the axis) the store must hold
  * exactly the input's value at every coordinate, and the write-time
  * stats sidecar must cover the full grid. The example-based
  * ZarrCubeWriteSpec pins specific shapes; this spec walks the shape
  * space the examples can't enumerate — seeded-random generation, same
  * style as ChunkStatsPropertySpec / GeometryPropertySpec. */
class CubeWritePropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val rnd = new scala.util.Random(20260814L)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("cube-write-property-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("zarr-cube-prop").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One axis: (spark type, SORTED distinct values). Values are distinct
    * by construction (the cube contract); the INPUT rows are shuffled so
    * the writer must rank coordinates itself. */
  private def genAxis(): (DataType, IndexedSeq[Any]) = genAxisOfLength(1 + rnd.nextInt(9))

  private def genAxisOfLength(len: Int): (DataType, IndexedSeq[Any]) = {
    rnd.nextInt(3) match {
      case 0 => (LongType, (0 until len).map(i => (i * 7 + 3).toLong: Any))
      case 1 => (DoubleType, (0 until len).map(i => -4.25 + i * 0.5: Any))
      case _ => (StringType, (0 until len).map(i => f"k$i%02d-§": Any))
    }
  }

  test("roundtrip: arbitrary 1-8D grids, mixed coord types, edge chunks — per-coordinate value identity") {
    (1 to 30).foreach { caseNo =>
      val path = s"$base/case$caseNo"
      // every third case probes the 5-8-D range (the writer's cap is 8);
      // high-D axes stay short so the dense product stays <= 3^8
      val ndim = if (caseNo % 3 == 0) 5 + rnd.nextInt(4) else 1 + rnd.nextInt(4)
      val axes = IndexedSeq.fill(ndim)(
        if (ndim > 4) genAxisOfLength(1 + rnd.nextInt(3)) else genAxis())
      // chunk extent may EXCEED the axis (single padded chunk) — a shape
      // the example spec never tries
      val chunkShape = axes.map(a => 1 + rnd.nextInt(a._2.length + 1))
      // a third of the cases write SHARDED (ZEP 2): the stored object
      // packs 1-3 inner chunks per dim; the scan must decode both layouts
      // to the same values
      val shardShape =
        if (rnd.nextInt(3) == 0) Some(chunkShape.map(_ * (1 + rnd.nextInt(3))))
        else None
      val dimNames = (0 until ndim).map(d => s"d$d")

      def cells(axs: Seq[Seq[Any]]): Seq[Seq[Any]] =
        axs.foldLeft(Seq(Seq.empty[Any]))((acc, ax) => acc.flatMap(p => ax.map(v => p :+ v)))
      val tuples = cells(axes.map(_._2.toSeq))
      val rows = tuples.zipWithIndex.map { case (coord, i) =>
        Row.fromSeq(coord :+ i.toLong :+ (i * 0.25 - 3.0))
      }
      val schema = StructType(
        axes.zipWithIndex.map { case ((dt, _), d) => StructField(s"d$d", dt) } ++
          Seq(StructField("v1", LongType), StructField("v2", DoubleType)))
      val shuffled = new java.util.ArrayList[Row](rows.length)
      rnd.shuffle(rows).foreach(shuffled.add)
      val df = spark.createDataFrame(shuffled, schema).repartition(3)

      graft.sources.ZarrCubeWrite.write(
        df, path, dimNames, Some(chunkShape), codec = "blosc",
        stats = true, truncate = false, shardShapeOpt = shardShape)

      val back = spark.read.format("zarr").load(path)
        .select((dimNames :+ "v1" :+ "v2").map(org.apache.spark.sql.functions.col): _*)
        .orderBy(dimNames.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      // the input's axes were generated sorted, so the dense cross
      // product in generation order IS the expected per-coordinate order
      val expected = tuples.zipWithIndex.map { case (coord, i) =>
        (coord :+ i.toLong :+ (i * 0.25 - 3.0)).map(String.valueOf).mkString("|")
      }
      val got = back.map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq
      assert(got == expected,
        s"case $caseNo: axes=${axes.map(a => a._1.simpleString + ":" + a._2.length)} " +
          s"chunks=$chunkShape shards=$shardShape")

      // the write-time stats sidecar must cover the full grid on every
      // generated shape (the zero-GET aggregate surface)
      val store = ZarrStore(path)
      val geomChunks = ScanGeometry.resolve(
        store.listArrays().map(store.readMeta)).numChunks
      assert(store.listStatsSegments().map(_._2.toLong).sum == geomChunks,
        s"case $caseNo: sidecar does not cover the grid")
    }
  }

  test("append roundtrip: arbitrary grids split along dim 0 — per-coordinate value identity") {
    (1 to 15).foreach { caseNo =>
      val path = s"$base/app$caseNo"
      // every fifth case appends at 5-6 dims (short trailing axes)
      val ndim = if (caseNo % 5 == 0) 5 + rnd.nextInt(2) else 1 + rnd.nextInt(4)
      // dim-0: base extent may be RAGGED (not a multiple of the stored
      // chunk/shard extent — append folds the committed edge chunk-row
      // back into the slab) plus a nonempty slab whose final extent may
      // leave an edge chunk; a third of the cases SHARD — the edge
      // rewrite is then at the stored (shard) extent
      val chunk0 = 1 + rnd.nextInt(4)
      val sharded = rnd.nextInt(3) == 0
      val mult0 = if (sharded) 1 + rnd.nextInt(2) else 1
      val outer0 = chunk0 * mult0
      val baseLen = outer0 * (1 + rnd.nextInt(3)) + rnd.nextInt(outer0)
      val slabLen = 1 + rnd.nextInt(5)
      val (dt0, axis0) = genAxisOfLength(baseLen + slabLen)
      val trailing = IndexedSeq.fill(ndim - 1)(
        if (ndim > 4) genAxisOfLength(1 + rnd.nextInt(3)) else genAxis())
      val axes = (dt0, axis0) +: trailing
      val chunkShape = chunk0 +: trailing.map(a => 1 + rnd.nextInt(a._2.length + 1))
      val shardShape =
        if (sharded) Some(chunkShape.zipWithIndex.map { case (c, d) =>
          c * (if (d == 0) mult0 else 1 + rnd.nextInt(2))
        })
        else None
      val dimNames = (0 until ndim).map(d => s"d$d")

      def cells(axs: Seq[Seq[Any]]): Seq[Seq[Any]] =
        axs.foldLeft(Seq(Seq.empty[Any]))((acc, ax) => acc.flatMap(p => ax.map(v => p :+ v)))
      val tuples = cells(axes.map(_._2.toSeq))
      val rows = tuples.zipWithIndex.map { case (coord, i) =>
        Row.fromSeq(coord :+ i.toLong :+ (i * 0.25 - 3.0))
      }
      val schema = StructType(
        axes.zipWithIndex.map { case ((dt, _), d) => StructField(s"d$d", dt) } ++
          Seq(StructField("v1", LongType), StructField("v2", DoubleType)))
      val basePrefix = axis0.take(baseLen).toSet
      def frame(part: Seq[Row]) = {
        val l = new java.util.ArrayList[Row](part.length)
        rnd.shuffle(part).foreach(l.add)
        spark.createDataFrame(l, schema).repartition(3)
      }
      val (baseRows, slabRows) = rows.partition(r => basePrefix(r.get(0)))

      graft.sources.ZarrCubeWrite.write(
        frame(baseRows), path, dimNames, Some(chunkShape), codec = "blosc",
        stats = true, truncate = false, shardShapeOpt = shardShape)
      graft.sources.ZarrCubeWrite.append(
        frame(slabRows), path, dimsOpt = None, appendDim = "d0", stats = true)

      val back = spark.read.format("zarr").load(path)
        .select((dimNames :+ "v1" :+ "v2").map(org.apache.spark.sql.functions.col): _*)
        .orderBy(dimNames.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      val expected = tuples.zipWithIndex.map { case (coord, i) =>
        (coord :+ i.toLong :+ (i * 0.25 - 3.0)).map(String.valueOf).mkString("|")
      }
      val got = back.map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq
      assert(got == expected,
        s"append case $caseNo: axes=${axes.map(a => a._1.simpleString + ":" + a._2.length)} " +
          s"chunks=$chunkShape shards=$shardShape baseLen=$baseLen")

      // the grown store's sidecar must cover the FULL grid: the slab's
      // fresh segments plus the base segments (never rewritten — the
      // reader accepts their smaller leading grid extent)
      val store = ZarrStore(path)
      val geomChunks = ScanGeometry.resolve(
        store.listArrays().map(store.readMeta)).numChunks
      assert(store.listStatsSegments().map(_._2.toLong).sum == geomChunks,
        s"append case $caseNo: sidecar does not cover the grown grid")

      // round-16: the write + append emitted per-inner stats docs for
      // sharded columns — the base write's docs are now SHAPE-STALE
      // (must be ignored) while the slab's are fresh; a ranged read
      // mixing coordinate and data predicates must agree with the
      // whole-object path exactly over this mixed doc validity
      if (sharded) {
        val cut = (tuples.length * 0.6).toLong
        def run(mode: String): Seq[String] =
          spark.read.format("zarr").option("ranged_reads", mode).load(path)
            .filter(s"v1 >= $cut").collect().map(_.toString).sorted.toSeq
        val whole = run("never")
        assert(run("always") == whole,
          s"append case $caseNo: ranged != whole over mixed-validity inner docs")
      }
    }
  }

  test("region roundtrip: arbitrary grids, chunk-aligned dim-0 swaps — new values in, rest untouched") {
    (1 to 15).foreach { caseNo =>
      val path = s"$base/reg$caseNo"
      // every fifth case swaps a region at 5-6 dims (short trailing axes)
      val ndim = if (caseNo % 5 == 0) 5 + rnd.nextInt(2) else 1 + rnd.nextInt(4)
      // dim-0 long enough for several chunk rows; region = a random
      // chunk-aligned run (may start at 0, may end at the axis end —
      // including a ragged final chunk)
      val chunk0 = 1 + rnd.nextInt(3)
      // a third of the cases SHARD: region alignment is then at the
      // stored (shard) extent, and the swap must trim/replace segments
      // at shard granularity
      val sharded = rnd.nextInt(3) == 0
      val mult0 = if (sharded) 1 + rnd.nextInt(2) else 1
      val outer0 = chunk0 * mult0
      val len0 = outer0 * (2 + rnd.nextInt(3)) + rnd.nextInt(outer0)
      val (dt0, axis0) = genAxisOfLength(len0)
      val trailing = IndexedSeq.fill(ndim - 1)(
        if (ndim > 4) genAxisOfLength(1 + rnd.nextInt(3)) else genAxis())
      val axes = (dt0, axis0) +: trailing
      val chunkShape = chunk0 +: trailing.map(a => 1 + rnd.nextInt(a._2.length + 1))
      val shardShape =
        if (sharded) Some(chunkShape.zipWithIndex.map { case (c, d) =>
          c * (if (d == 0) mult0 else 1 + rnd.nextInt(2))
        })
        else None
      val dimNames = (0 until ndim).map(d => s"d$d")
      val chunkRows = (len0 + outer0 - 1) / outer0
      val startRow = rnd.nextInt(chunkRows)
      val start = startRow * outer0
      val end = math.min(len0, (startRow + 1 + rnd.nextInt(chunkRows - startRow)) * outer0)
      val inRegion = axis0.slice(start, end).toSet

      def cells(axs: Seq[Seq[Any]]): Seq[Seq[Any]] =
        axs.foldLeft(Seq(Seq.empty[Any]))((acc, ax) => acc.flatMap(p => ax.map(v => p :+ v)))
      val tuples = cells(axes.map(_._2.toSeq))
      val rows = tuples.zipWithIndex.map { case (coord, i) =>
        Row.fromSeq(coord :+ i.toLong :+ (i * 0.25 - 3.0))
      }
      val schema = StructType(
        axes.zipWithIndex.map { case ((dt, _), d) => StructField(s"d$d", dt) } ++
          Seq(StructField("v1", LongType), StructField("v2", DoubleType)))
      def frame(part: Seq[Row]) = {
        val l = new java.util.ArrayList[Row](part.length)
        rnd.shuffle(part).foreach(l.add)
        spark.createDataFrame(l, schema).repartition(3)
      }

      graft.sources.ZarrCubeWrite.write(
        frame(rows), path, dimNames, Some(chunkShape), codec = "blosc",
        stats = true, truncate = false, shardShapeOpt = shardShape)
      // reprocess the region with a value transform the oracle can mirror
      val regionRows = rows.filter(r => inRegion(r.get(0))).map { r =>
        Row.fromSeq(r.toSeq.dropRight(2) :+
          (r.getLong(ndim) + 1000000L) :+ (r.getDouble(ndim + 1) + 0.5))
      }
      graft.sources.ZarrCubeWrite.overwriteRegion(
        frame(regionRows), path, dimsOpt = None, regionDim = "d0", stats = true)

      val back = spark.read.format("zarr").load(path)
        .select((dimNames :+ "v1" :+ "v2").map(org.apache.spark.sql.functions.col): _*)
        .orderBy(dimNames.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      val expected = tuples.zipWithIndex.map { case (coord, i) =>
        val swap = inRegion(coord.head)
        (coord :+ (if (swap) i.toLong + 1000000L else i.toLong)
          :+ (if (swap) i * 0.25 - 2.5 else i * 0.25 - 3.0))
          .map(String.valueOf).mkString("|")
      }
      val got = back.map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq
      assert(got == expected,
        s"region case $caseNo: axes=${axes.map(a => a._1.simpleString + ":" + a._2.length)} " +
          s"chunks=$chunkShape shards=$shardShape region=[$start,$end)")

      // after trim + fresh region segments the sidecar must still cover
      // the FULL grid (zero-GET aggregates survive any aligned swap)
      val store = ZarrStore(path)
      val geomChunks = ScanGeometry.resolve(
        store.listArrays().map(store.readMeta)).numChunks
      assert(store.listStatsSegments().map(_._2.toLong).sum == geomChunks,
        s"region case $caseNo: sidecar does not cover the grid after the swap")

      // round-16: post-region the OUT-of-window inner docs from the
      // original write are still live (same shape, untouched objects)
      // while the window's were retired and re-emitted via staged
      // promotion with the NEW bounds — a ranged data-predicate read
      // over this mixed-provenance doc set must equal the whole path
      if (sharded) {
        val cut = 1000000L // exactly the reprocessed-region values
        def run(mode: String): Seq[String] =
          spark.read.format("zarr").option("ranged_reads", mode).load(path)
            .filter(s"v1 >= $cut").collect().map(_.toString).sorted.toSeq
        val whole = run("never")
        assert(whole.nonEmpty && run("always") == whole,
          s"region case $caseNo: ranged != whole over mixed-provenance inner docs")
      }
    }
  }
}
