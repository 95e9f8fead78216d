package graft.zarr

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** N-D cube REGION overwrite (`region_dim` option): replace a
  * chunk-aligned dim-0 slab of an existing cube in place — xarray's
  * `region=` reprocessing shape. Pins: value-exact swap (region new,
  * rest untouched — byte-identical chunks, untouched metadata), the
  * sidecar staying whole-store valid through segment TRIMMING (zero-GET
  * aggregates reflect the NEW values), idempotent re-run, and the loud
  * refusals (off-axis coordinates, non-contiguous runs, unaligned
  * regions, wrong mode). */
class ZarrCubeRegionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-cube-region-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-cube-region").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val t0 = 1700000000000000000L
  private val day = 86400L * 1000000000L

  /** Dense frame for days [tFrom, tUntil): 5 lats × 7 lons; temp is
    * `vBase + 1000t + 10i + j` so a reprocessed slab is distinguishable. */
  private def slab(tFrom: Int, tUntil: Int, vBase: Double = 0.0): DataFrame = {
    val sp = spark; import sp.implicits._
    val rows = for (t <- tFrom until tUntil; i <- 0 until 5; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j,
      vBase + 1000.0 * t + 10.0 * i + j)
    scala.util.Random.shuffle(rows).toDF("time", "lat", "lon", "temp").repartition(3)
  }

  private def writeBase(path: String, days: Int, chunk0: Int = 2): Unit =
    slab(0, days).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon").option("chunk_shape", s"$chunk0,2,4")
      .save(path)

  private def rewrite(df: DataFrame, path: String): Unit =
    df.write.format("zarr").mode("overwrite").option("region_dim", "time").save(path)

  test("region swap: new values land, everything else byte-identical, no metadata churn") {
    val path = s"$base/swap"
    writeBase(path, 6) // 6×5×7, chunk 2×2×4 → dim-0 chunk rows [0,2),[2,4),[4,6)
    val rootDoc = Files.readAllBytes(Paths.get(path, "zarr.json"))
    val outsideChunk = Files.readAllBytes(Paths.get(path, "temp", "c", "0", "0", "0"))

    rewrite(slab(2, 4, vBase = 500000.0), path) // replace days 2-3

    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 6 * 35)
    val exp = slab(0, 2).union(slab(2, 4, vBase = 500000.0)).union(slab(4, 6))
      .orderBy("time", "lat", "lon").collect().toSeq
    val got = back.select("time", "lat", "lon", "temp")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp)
    // out-of-region chunks and ALL metadata are untouched
    assert(java.util.Arrays.equals(outsideChunk,
      Files.readAllBytes(Paths.get(path, "temp", "c", "0", "0", "0"))),
      "out-of-region chunk must be byte-identical")
    assert(java.util.Arrays.equals(rootDoc,
      Files.readAllBytes(Paths.get(path, "zarr.json"))),
      "a region overwrite must not rewrite the root document")
    // idempotent re-run: same region, same data, same result
    rewrite(slab(2, 4, vBase = 500000.0), path)
    assert(spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp")
      .orderBy("time", "lat", "lon").collect().toSeq == got)
  }

  test("edge region including the final partial chunk row") {
    val path = s"$base/edge"
    writeBase(path, 5) // 5×5×7, chunk0=2 → dim-0 rows [0,2),[2,4),[4,5) partial
    rewrite(slab(4, 5, vBase = 900000.0), path)
    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 5 * 35)
    assert(back.filter(col("time") >= t0 + 4 * day).agg(min("temp"))
      .collect()(0).getDouble(0) == 900000.0 + 4000.0)
    assert(back.filter(col("time") < t0 + 4 * day).agg(max("temp"))
      .collect()(0).getDouble(0) == 3046.0)
  }

  test("sidecar survives the swap via segment trimming: zero-GET aggregates see new values") {
    val path = s"graftstat://$base/stat"
    writeBase(path, 6)
    rewrite(slab(2, 4, vBase = 500000.0), path)

    val df = spark.read.format("zarr").load(path)
    fsLog.clear()
    val r = df.agg(count(lit(1)).as("cnt"), min("temp"), max("temp")).collect()(0)
    assert(r.getLong(0) == 210L)
    assert(r.getDouble(1) == 0.0) // day 0 untouched
    assert(r.getDouble(2) == 500000.0 + 3046.0) // NEW day-3 maximum
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/stat/(time|lat|lon|temp)/c/.*"))
    assert(chunkOpens.isEmpty,
      s"metadata-only agg after a region swap read chunks: ${chunkOpens.mkString(", ")}")
  }

  test("region swap is staged: no c.part leftovers; a crashed attempt's staging and stale segments are retired") {
    val path = s"$base/staged"
    writeBase(path, 6) // grid 3x3x2 = 18 ordinals; region days 2-3 = [6,12)
    // simulate a CRASHED earlier attempt: a staged region object plus a
    // leftover fresh segment inside the region window (overlapping the
    // committed coverage, so the reader suppresses both sides)
    val deadDir = Paths.get(path, "temp", "c.partdead11-region", "c", "1", "0", "0")
    Files.createDirectories(deadDir.getParent)
    Files.write(deadDir, Array[Byte](9, 9))
    val store = ZarrStore(path, Nil)
    store.writeText(ChunkStats.segmentKey(6L, 6), "{\"not\":\"a segment\"}")
    assert(!store.listStatsSegments().contains((6L, 6)))

    rewrite(slab(2, 4, vBase = 700000.0), path)

    // values exact; the crashed attempt's segment is gone; fresh
    // coverage over the region is unsuppressed
    val got = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp")
      .orderBy("time", "lat", "lon").collect().toSeq
    val exp = slab(0, 2).union(slab(2, 4, vBase = 700000.0)).union(slab(4, 6))
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp)
    // the stale doc is gone: either its key is absent or the write
    // legitimately re-created it with a REAL grid-signed segment
    assert(!store.listStatsSegmentsRaw().contains((6L, 6)) ||
      store.readText(ChunkStats.segmentKey(6L, 6)).exists(_.contains("\"grid\"")),
      "a crashed attempt's stale segment must be retired from the raw listing")
    val covered = store.listStatsSegments()
      .flatMap { case (f, n) => f until (f + n) }.toSet
    assert((6L until 12L).forall(covered),
      s"the region's fresh segments must be unsuppressed; covered=$covered")
    // the write's own staging is gone; only the dead attempt's remains
    // (vacuum's job), and it never reached readers
    import scala.jdk.CollectionConverters._
    val staging = store.listArrays().flatMap { a =>
      Files.list(Paths.get(path, a)).iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("c.part"))
        .map(p => s"$a/${p.getFileName}").toSeq
    }
    assert(staging == Seq("temp/c.partdead11-region"), staging.toString)
    ZarrMaintenance.vacuum(spark, path).collect()
    assert(store.listArrays().forall { a =>
      !Files.list(Paths.get(path, a)).iterator().asScala
        .exists(_.getFileName.toString.startsWith("c.part"))
    }, "vacuum must reclaim the crashed attempt's region staging")
  }

  test("refusals: off-axis, non-contiguous, unaligned, wrong mode, option conflicts") {
    val sp = spark; import sp.implicits._
    val path = s"$base/guard"
    writeBase(path, 6)
    val before = spark.read.format("zarr").load(path)
      .orderBy("time", "lat", "lon").collect().toSeq

    // coordinates not on the axis (region replaces values, never positions)
    val e1 = intercept[Exception] { rewrite(slab(6, 7), path) }
    assert(e1.getMessage.contains("not on the store's axis"), e1.getMessage)
    // non-contiguous run (days 2 and 4, skipping 3)
    val e2 = intercept[Exception] {
      rewrite(slab(2, 3).union(slab(4, 5)), path)
    }
    assert(e2.getMessage.contains("contiguous"), e2.getMessage)
    // unaligned region (day 1 alone; chunk0=2 rows are [0,2)...)
    val e3 = intercept[Exception] { rewrite(slab(1, 2), path) }
    assert(e3.getMessage.contains("chunk-aligned"), e3.getMessage)
    // region requires the overwrite verb
    val e4 = intercept[Exception] {
      slab(2, 4).write.format("zarr").mode("append")
        .option("region_dim", "time").save(path)
    }
    assert(e4.getMessage.contains("mode('overwrite')"), e4.getMessage)
    // append_dim and region_dim are mutually exclusive
    val e5 = intercept[Exception] {
      slab(2, 4).write.format("zarr").mode("overwrite")
        .option("region_dim", "time").option("append_dim", "time").save(path)
    }
    assert(e5.getMessage.contains("mutually exclusive"), e5.getMessage)
    // only dim 0
    val e6 = intercept[Exception] {
      slab(2, 4).write.format("zarr").mode("overwrite")
        .option("region_dim", "lat").save(path)
    }
    assert(e6.getMessage.contains("FIRST"), e6.getMessage)
    // layout options are refused
    val e7 = intercept[Exception] {
      slab(2, 4).write.format("zarr").mode("overwrite")
        .option("region_dim", "time").option("codec", "zstd").save(path)
    }
    assert(e7.getMessage.contains("neither chunk_shape, shard_shape nor codec"), e7.getMessage)
    // trailing-axis drift
    val badLat = (for (t <- 2 until 4; i <- 0 until 6; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j, 1.0))
      .toDF("time", "lat", "lon", "temp")
    val e8 = intercept[Exception] { rewrite(badLat, path) }
    assert(e8.getMessage.contains("trailing cross-section"), e8.getMessage)
    // max_axis_len beyond the grid-index arithmetic bound (same guard
    // as write/append — an oversized value would overflow collectAxis)
    val e9 = intercept[Exception] {
      slab(2, 4).write.format("zarr").mode("overwrite")
        .option("region_dim", "time")
        .option("max_axis_len", Int.MaxValue.toString).save(path)
    }
    assert(e9.getMessage.contains("exceeds 2^30"), e9.getMessage)

    val after = spark.read.format("zarr").load(path)
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(after == before, "a refused region overwrite must leave the store untouched")
  }
}
