package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Sharded N-D cube write (`shard_shape` option, ZEP 2): the stored
  * object is a SHARD packing whole inner chunks — the object-count
  * lever at 100 TB (a million-chunk cube becomes thousands of shards;
  * listing and request costs follow shards, logical chunks stay small).
  * Pins: value-exact roundtrip through the shard encode/decode pair,
  * stored-object count == shard count, zero-GET write-time stats,
  * append and region overwrite on SHARDED targets (the lifted r13
  * refusal), the top-level-transpose encode on plain N-D targets, and
  * the loud refusals (non-multiple shard_shape, shard_shape without
  * chunk_shape, layout options on append/region). */
class ZarrCubeShardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-cube-shard-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-cube-shard").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val t0 = 1700000000000000000L
  private val day = 86400L * 1000000000L

  /** Dense days×5×7 frame, shuffled input order. */
  private def climate(days: Int, vBase: Double = 0.0): DataFrame = {
    val sp = spark; import sp.implicits._
    val rows = for (t <- 0 until days; i <- 0 until 5; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j,
      vBase + 1000.0 * t + 10.0 * i + j)
    scala.util.Random.shuffle(rows).toDF("time", "lat", "lon", "temp").repartition(3)
  }

  private def dataObjects(path: String, array: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val d = new java.io.File(s"$path/$array/c")
    if (!d.isDirectory) Seq.empty else walk(d)
  }

  test("sharded 3-D roundtrip: values exact, one stored object per SHARD, sharded metadata") {
    val path = s"$base/shard3d"
    climate(4).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon")
      .option("chunk_shape", "1,2,4")   // inner: 4x3x2 = 24 logical chunks
      .option("shard_shape", "2,4,4")   // outer: 2x2x2 = 8 stored shards
      .save(path)
    val back = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect().toSeq
    val exp = climate(4).select("time", "lat", "lon", "temp")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(back == exp, "sharded cube must hold the exact input at every coordinate")

    val store = ZarrStore(path)
    val m = store.readMeta("temp")
    assert(m.chunkShape.toSeq == Seq(2, 4, 4), "stored chunk grid is the SHARD shape")
    val sp = m.shardingSpec.getOrElse(fail("temp must carry sharding_indexed"))
    assert(sp.innerShape == Seq(1, 2, 4))
    assert(dataObjects(path, "temp").size == 8,
      "8 shards stored, not 24 inner-chunk objects")
    // coordinates stay plain (axis-sized), chunk extent mirrors the shard
    assert(store.readMeta("time").shardingSpec.isEmpty)
    assert(store.readMeta("time").chunkShape.toSeq == Seq(2))
  }

  test("fresh sharded cube serves zero-GET metadata aggregates (stats per shard)") {
    val path = s"graftstat://$base/shardstat"
    climate(4).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon")
      .option("chunk_shape", "1,2,4").option("shard_shape", "2,4,4")
      .save(path)
    val df = spark.read.format("zarr").load(path)
    RecordingFileSystem.opened.clear()
    val r = df.agg(count(lit(1)).as("cnt"), min("temp"), max("temp")).collect()(0)
    assert(r.getLong(0) == 140L)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 3046.0)
    val chunkOpens = RecordingFileSystem.opened.toArray.map(_.toString)
      .filter(_.matches(".*/shardstat/(time|lat|lon|temp)/c/.*"))
    assert(chunkOpens.isEmpty,
      s"metadata-only agg on a fresh sharded cube read chunks: ${chunkOpens.mkString(", ")}")
  }

  test("edge shards (shape divides neither shards nor inner chunks) roundtrip exact") {
    val sp0 = spark; import sp0.implicits._
    // 5x5 grid, inner 2x2, shard 4x4 -> 2x2 shards, 3 of 4 are edge
    val rows = for (i <- 0 until 5; j <- 0 until 5) yield
      (i.toLong, j.toLong, (i * 10 + j).toDouble)
    val path = s"$base/edge"
    scala.util.Random.shuffle(rows).toDF("a", "b", "v").repartition(3)
      .write.format("zarr").mode("append")
      .option("dims", "a,b").option("chunk_shape", "2,2").option("shard_shape", "4,4")
      .save(path)
    val got = spark.read.format("zarr").load(path)
      .select("a", "b", "v").orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == rows.sorted, "edge shards must hold exactly the in-extent cells")
    assert(dataObjects(path, "v").size == 4)
  }

  test("append_dim grows a SHARDED cube: existing shards byte-identical, values exact") {
    val path = s"$base/shardappend"
    climate(4).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon")
      .option("chunk_shape", "1,2,4").option("shard_shape", "2,4,4")
      .save(path)
    val before = dataObjects(path, "temp")
      .map(f => f.getPath -> java.util.Arrays.hashCode(
        Files.readAllBytes(f.toPath))).toMap

    climate(6).filter(col("time") >= t0 + 4 * day)
      .write.format("zarr").mode("append").option("append_dim", "time").save(path)

    val back = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect().toSeq
    val exp = climate(6).select("time", "lat", "lon", "temp")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(back == exp, "grown sharded cube must hold base + slab exactly")
    before.foreach { case (p, h) =>
      assert(java.util.Arrays.hashCode(Files.readAllBytes(
        new java.io.File(p).toPath)) == h, s"existing shard $p must stay byte-identical")
    }
  }

  test("region_dim swaps a shard row of a SHARDED cube in place") {
    val path = s"$base/shardregion"
    climate(4).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon")
      .option("chunk_shape", "1,2,4").option("shard_shape", "2,4,4")
      .save(path)
    val untouched = dataObjects(path, "temp")
      .filter(_.getPath.contains("/c/0/")) // shard row 0 = days 0-1
      .map(f => f.getPath -> java.util.Arrays.hashCode(
        Files.readAllBytes(f.toPath))).toMap

    // region must align to the SHARD extent (2 days); swap days 2-3
    climate(4, vBase = 777000.0).filter(col("time") >= t0 + 2 * day)
      .write.format("zarr").mode("overwrite").option("region_dim", "time").save(path)

    val got = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect().toSeq
    val exp = (climate(4).filter(col("time") < t0 + 2 * day) union
      climate(4, vBase = 777000.0).filter(col("time") >= t0 + 2 * day))
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp, "region swap on a sharded store: new values in, rest untouched")
    untouched.foreach { case (p, h) =>
      assert(java.util.Arrays.hashCode(Files.readAllBytes(
        new java.io.File(p).toPath)) == h, s"out-of-region shard $p must stay byte-identical")
    }

    // a region aligned to inner chunks but NOT to shards is refused —
    // the shard is the stored object, so day 1 alone cannot swap in place
    val e = intercept[Exception] {
      climate(4).filter(col("time") === t0 + 1 * day)
        .write.format("zarr").mode("overwrite").option("region_dim", "time").save(path)
    }
    assert(e.getMessage.contains("chunk-aligned"), e.getMessage)
  }

  test("plain N-D target with a top-level transpose codec stores permuted chunks (append)") {
    val path = s"$base/transposed"
    val store = ZarrStore(path)
    store.writeStoreRootMeta()
    val chain = ZarrWriter.CodecChain.bloscLz4.transposed(Seq(1, 0))
    ZarrWriter.writeArray(store, "t", ZarrType.Int64, Seq(2), Seq(1),
      (0 until 2).map(_.toLong), Some(Seq("t")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(store, "x", ZarrType.Int64, Seq(3), Seq(3),
      (0 until 3).map(_.toLong), Some(Seq("x")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(2, 3), Seq(1, 3),
      (0 until 6).map(e => (10 * (e / 3) + e % 3).toDouble), Some(Seq("t", "x")), chain)

    val sp0 = spark; import sp0.implicits._
    val slab = (for (x <- 0 until 3) yield (2L, x.toLong, (20 + x).toDouble))
      .toDF("t", "x", "v")
    slab.write.format("zarr").mode("append").option("append_dim", "t").save(path)

    val got = spark.read.format("zarr").load(path)
      .select("t", "x", "v").orderBy("t", "x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exp = for (t <- 0L until 3L; x <- 0L until 3L) yield (t, x, (10 * t + x).toDouble)
    assert(got == exp.toSeq,
      "append through a top-level transpose codec must store permuted chunks")
  }

  test("refusals: bad shard_shape, shard without chunk, layout options on append/region") {
    val path = s"$base/refuse"
    // shard_shape not a multiple of chunk_shape
    val e1 = intercept[Exception] {
      climate(4).write.format("zarr").mode("append")
        .option("dims", "time,lat,lon")
        .option("chunk_shape", "1,2,4").option("shard_shape", "2,3,4").save(path)
    }
    assert(e1.getMessage.contains("multiple of"), e1.getMessage)
    // shard_shape without chunk_shape
    val e2 = intercept[Exception] {
      climate(4).write.format("zarr").mode("append")
        .option("dims", "time,lat,lon").option("shard_shape", "2,4,4").save(path)
    }
    assert(e2.getMessage.contains("requires chunk_shape"), e2.getMessage)
    // wrong arity
    val e3 = intercept[Exception] {
      climate(4).write.format("zarr").mode("append")
        .option("dims", "time,lat,lon")
        .option("chunk_shape", "1,2,4").option("shard_shape", "2,4").save(path)
    }
    assert(e3.getMessage.contains("entries for"), e3.getMessage)
    assert(!new java.io.File(path).exists(), "refused write must leave nothing behind")

    climate(4).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon")
      .option("chunk_shape", "1,2,4").option("shard_shape", "2,4,4").save(path)
    // the store's layout wins on append/region: shard_shape is refused
    val e4 = intercept[Exception] {
      climate(6).filter(col("time") >= t0 + 4 * day)
        .write.format("zarr").mode("append")
        .option("append_dim", "time").option("shard_shape", "2,4,4").save(path)
    }
    assert(e4.getMessage.contains("shard_shape"), e4.getMessage)
    // the 1-D tabular path must refuse (not silently drop) shard_shape
    val sp0 = spark; import sp0.implicits._
    val e5 = intercept[Exception] {
      Seq((1L, 2.0)).toDF("id", "v").write.format("zarr").mode("overwrite")
        .option("shard_shape", "4").save(s"$base/refuse_tab")
    }
    assert(e5.getMessage.contains("inner_chunk_size"), e5.getMessage)
    // compact mirrors the option surface: sharding with a DEFAULTED
    // inner layout is refused before any Spark job runs
    val e6 = intercept[Exception] {
      ZarrMaintenance.compact(spark, path, s"$base/refuse_compact",
        shardShapeNd = Seq(4, 4, 4))
    }
    assert(e6.getMessage.contains("requires chunkShapeNd"), e6.getMessage)
    // a value that does not parse is refused naming its option and value
    Seq("chunk_shape" -> "1,x,4", "max_axis_len" -> "lots", "stats" -> "yes").foreach {
      case (k, v) =>
        val e = intercept[Exception] {
          climate(4).write.format("zarr").mode("overwrite")
            .option("dims", "time,lat,lon").option(k, v).save(s"$base/refuse_parse")
        }
        assert(e.getMessage.contains(k) && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
