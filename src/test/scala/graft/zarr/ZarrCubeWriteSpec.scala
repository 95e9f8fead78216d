package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** N-D cube write (`dims` option): relational rows → coordinate + data
  * arrays — the write half of the reference's flagship lat/lon shape
  * (`table_provider.rs:417-423`). Roundtrips pin value equality on cubes
  * with EDGE CHUNKS ON EVERY DIMENSION; refusal tests pin the loud-not-
  * silent contract for ragged/duplicate/NULL grids; stats tests pin that
  * a cube write lands with the full grid-signed sidecar (zero-GET
  * metadata aggregates, chunk-skip) exactly like `analyze` would build. */
class ZarrCubeWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-cube-write-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-cube").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Dense 4×5×7 climate-shaped frame: time (epoch-ns long), lat, lon
    * doubles, temp = 1000t + 10i + j, n = cell ordinal. Shuffled row
    * order (the writer must not rely on input order). */
  private def climateDf(): DataFrame = {
    val sp = spark; import sp.implicits._
    val t0 = 1700000000000000000L
    val day = 86400L * 1000000000L
    val rows = for (t <- 0 until 4; i <- 0 until 5; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j,
      1000.0 * t + 10.0 * i + j, (t * 35 + i * 7 + j).toLong)
    scala.util.Random.shuffle(rows).toDF("time", "lat", "lon", "temp", "n")
      .repartition(4)
  }

  test("3-D roundtrip with edge chunks on every dim; values and coordinates exact") {
    val path = s"$base/climate"
    climateDf().write.format("zarr").mode("append")
      .option("dims", "time,lat,lon").option("chunk_shape", "3,2,4")
      .save(path)
    val back = spark.read.format("zarr").load(path)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("lat", "lon", "n", "temp", "time"))
    assert(back.count() == 140)
    val exp = climateDf().select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    val got = back.select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp)
    // store shape: 1-D coordinate arrays + 3-D data arrays
    val store = ZarrStore(path, Nil)
    val metas = store.listArrays().map(store.readMeta).map(m => m.name -> m).toMap
    assert(metas("time").ndim == 1 && metas("time").isCoordinate)
    assert(metas("lat").ndim == 1 && metas("lon").ndim == 1)
    assert(metas("temp").ndim == 3)
    assert(metas("temp").shape.toSeq == Seq(4L, 5L, 7L))
    assert(metas("temp").chunkShape.toSeq == Seq(3, 2, 4))
    assert(metas("temp").dimensionNames.contains(Seq("time", "lat", "lon")))
    assert(metas("n").ndim == 3)
  }

  test("4-D cube (time×level×lat×lon): roundtrip, zero-GET agg, prune, append — beyond the reference's 3-dim cap") {
    val sp = spark; import sp.implicits._
    val t0 = 1700000000000000000L
    val day = 86400L * 1000000000L
    def frame(tFrom: Int, tUntil: Int): DataFrame = {
      val rows = for (t <- tFrom until tUntil; l <- 0 until 3; i <- 0 until 4; j <- 0 until 5)
        yield (t0 + t * day, 100.0 * l, 38.0 + 0.5 * i, -117.0 + 0.25 * j,
          (t * 60 + l * 20 + i * 5 + j).toLong)
      scala.util.Random.shuffle(rows)
        .toDF("time", "level", "lat", "lon", "v").repartition(3)
    }
    val path = s"graftstat://$base/four_d"
    frame(0, 4).write.format("zarr").mode("append")
      .option("dims", "time,level,lat,lon")
      .option("chunk_shape", "2,2,3,2") // edge chunks on every dim
      .save(path)

    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 4L * 3 * 4 * 5)
    val exp = frame(0, 4).orderBy("time", "level", "lat", "lon")
      .collect().map(_.toString).toSeq
    val got = back.select("time", "level", "lat", "lon", "v")
      .orderBy("time", "level", "lat", "lon").collect().map(_.toString).toSeq
    assert(got == exp, "4-D roundtrip must be value-exact")

    // zero-GET metadata aggregate over the 4-D grid-signed sidecar
    fsLog.clear()
    val agg = back.agg(count(lit(1)), min("v"), max("v"), sum("v")).collect()(0)
    assert(agg.getLong(0) == 240L && agg.getLong(1) == 0L &&
      agg.getLong(2) == 239L && agg.getLong(3) == (0 until 240).map(_.toLong).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/four_d/(time|level|lat|lon|v)/c/.*"))
    assert(chunkOpens.isEmpty,
      s"4-D metadata-only agg read chunks: ${chunkOpens.mkString(", ")}")

    // coordinate predicate prunes to one time-chunk-row of the grid
    fsLog.clear()
    val s3 = back.filter(col("time") >= t0 + 2 * day)
      .agg(sum("v")).collect()(0).getLong(0)
    assert(s3 == (120 until 240).map(_.toLong).sum)
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/four_d/v/c/.*")).distinct
    assert(dataOpens.length <= 12,
      s"4-D pruned scan read ${dataOpens.length} chunks: ${dataOpens.mkString(", ")}")

    // dim-0 append keeps working in 4-D (incl. the ragged-edge rewrite)
    frame(4, 5).write.format("zarr").mode("append")
      .option("append_dim", "time").save(path)
    frame(5, 6).write.format("zarr").mode("append")
      .option("append_dim", "time").save(path) // 5 % 2 != 0: ragged base
    val grown = spark.read.format("zarr").load(path)
    assert(grown.count() == 6L * 60)
    assert(grown.agg(sum("v")).collect()(0).getLong(0) ==
      (0 until 360).map(_.toLong).sum)
  }

  test("pushed coordinate predicate prunes cube chunks (write-time sidecar, zero extra IO)") {
    val path = s"graftstat://$base/climate_stat"
    climateDf().write.format("zarr").mode("append")
      .option("dims", "time,lat,lon").option("chunk_shape", "1,2,4")
      .save(path)
    val df = spark.read.format("zarr").load(path)
    // metadata-only aggregates answer with ZERO chunk GETs
    fsLog.clear()
    val r = df.agg(count(lit(1)).as("cnt"), min("temp"), max("temp"),
      min("time"), max("time"), sum("n")).collect()(0)
    assert(r.getLong(0) == 140L)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 3046.0)
    assert(r.getLong(5) == (0 until 140).map(_.toLong).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/climate_stat/(time|lat|lon|temp|n)/c/.*"))
    assert(chunkOpens.isEmpty, s"metadata-only agg read chunks: ${chunkOpens.mkString(", ")}")
    // time-slab predicate reads only the matching slab's data chunks
    val t0 = 1700000000000000000L
    val day = 86400L * 1000000000L
    fsLog.clear()
    val slab = df.filter(col("time") >= t0 + 3 * day)
      .agg(sum("n").as("s")).collect()(0).getLong(0)
    assert(slab == (105 until 140).map(_.toLong).sum)
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/climate_stat/(temp|n)/c/.*")).distinct
    // grid is 4×3×2 = 24 chunks; the t=3 slab is 6 of them, 2 data cols
    assert(dataOpens.length <= 12, s"slab scan read ${dataOpens.length}: ${dataOpens.mkString(", ")}")
  }

  test("JSON-special column names roundtrip: dimension_names are escaped, not spliced") {
    val sp = spark; import sp.implicits._
    // a legal Spark column name carrying a quote and a backslash: unescaped
    // interpolation would either break the document or — the worse
    // failure — parse as EXTRA dimension_names entries
    val dim = """t"i\m"""
    val path = s"$base/quoted-dims"
    (0L until 6L).map(t => (t, t * 2.0)).toDF(dim, "v")
      .write.format("zarr").mode("append")
      .option("dims", dim).option("chunk_shape", "3").save(path)
    val meta = ZarrStore(path, Nil).readMeta("v")
    assert(meta.dimensionNames.contains(Seq(dim)),
      s"dimension_names mangled: ${meta.dimensionNames}")
    val back = spark.read.format("zarr").load(path)
      .orderBy(col(s"`$dim`")).collect()
    assert(back.map(_.getLong(0)).toSeq == (0L until 6L))
    assert(back.map(_.getDouble(1)).toSeq == (0L until 6L).map(_ * 2.0))
  }

  test("2-D and 1-D cubes roundtrip") {
    val sp = spark; import sp.implicits._
    val df2 = (for (i <- 0 until 8; j <- 0 until 8)
      yield (38.0 + 0.1 * i, -117.0 + 0.1 * j, (i * 8 + j).toDouble))
      .toDF("lat", "lon", "data")
    df2.write.format("zarr").mode("append").option("dims", "lat,lon")
      .option("chunk_shape", "3,3").save(s"$base/latlon")
    val back2 = spark.read.format("zarr").load(s"$base/latlon")
    assert(back2.count() == 64)
    assert(back2.agg(sum("data")).collect()(0).getDouble(0) == (0 until 64).sum.toDouble)
    // the reference's own fixture shape: lat/lon coords chunk 3, data 8×8 chunk 3×3
    val m = ZarrStore(s"$base/latlon", Nil).readMeta("data")
    assert(m.ndim == 2 && m.chunkShape.toSeq == Seq(3, 3))

    val df1 = (0 until 10).map(i => (i.toLong * 100, s"v$i")).toDF("t", "label")
    df1.write.format("zarr").mode("append").option("dims", "t").option("chunk_shape", "4")
      .save(s"$base/one")
    val back1 = spark.read.format("zarr").load(s"$base/one")
    assert(back1.orderBy("t").select("label").as[String].collect().toSeq ==
      (0 until 10).map(i => s"v$i"))
  }

  test("string coordinate axis sorts and roundtrips") {
    val sp = spark; import sp.implicits._
    val df = (for (s <- Seq("alpha", "beta", "gamma"); k <- 0 until 4)
      yield (s, k.toLong, s.length.toLong * 10 + k)).toDF("src", "k", "v")
    df.write.format("zarr").mode("append").option("dims", "src,k").save(s"$base/strcoord")
    val back = spark.read.format("zarr").load(s"$base/strcoord")
    assert(back.count() == 12)
    assert(back.filter(col("src") === "beta").agg(sum("v")).collect()(0).getLong(0)
      == (40L + 41 + 42 + 43))
  }

  test("refusals: duplicates, ragged grid, NULL coordinate, no data cols, bad dims") {
    val sp = spark; import sp.implicits._
    val dup = Seq((1L, 1.0, 10.0), (1L, 1.0, 11.0), (1L, 2.0, 12.0), (2L, 1.0, 13.0))
      .toDF("t", "x", "v")
    val e1 = intercept[ZarrException] {
      dup.write.format("zarr").mode("append").option("dims", "t,x").save(s"$base/dup")
    }
    assert(e1.getMessage.contains("duplicate coordinate tuples"), e1.getMessage)

    val ragged = Seq((1L, 1.0, 10.0), (1L, 2.0, 11.0), (2L, 1.0, 12.0))
      .toDF("t", "x", "v")
    val e2 = intercept[ZarrException] {
      ragged.write.format("zarr").mode("append").option("dims", "t,x").save(s"$base/ragged")
    }
    assert(e2.getMessage.contains("not dense"), e2.getMessage)

    val nullCoord = Seq((Some(1L), 1.0), (None, 2.0)).toDF("t", "v")
    val e3 = intercept[ZarrException] {
      nullCoord.write.format("zarr").mode("append").option("dims", "t").save(s"$base/nullc")
    }
    assert(e3.getMessage.contains("NULL"), e3.getMessage)

    val noData = Seq((1L, 2.0)).toDF("t", "x")
    val e4 = intercept[ZarrException] {
      noData.write.format("zarr").mode("append").option("dims", "t,x").save(s"$base/nodata")
    }
    assert(e4.getMessage.contains("at least one non-dim data column"), e4.getMessage)

    val e5 = intercept[ZarrException] {
      Seq((1L, 2.0)).toDF("t", "v").write.format("zarr").mode("append")
        .option("dims", "t,missing").save(s"$base/baddim")
    }
    assert(e5.getMessage.contains("missing"), e5.getMessage)

    // tabular chunking options don't apply to cubes — including chunk_size,
    // the one a user most likely carries over from a 1-D write
    val e6 = intercept[ZarrException] {
      Seq((1L, 2.0)).toDF("t", "v").write.format("zarr").mode("append")
        .option("dims", "t").option("chunk_size", "64").save(s"$base/chunksz")
    }
    assert(e6.getMessage.contains("chunk_shape"), e6.getMessage)
    // a refused write must not leave a half-store behind
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/dup/zarr.json")))
  }

  test("fresh-only: existing store refused without overwrite; overwrite replaces") {
    val sp = spark; import sp.implicits._
    val df = (for (t <- 0 until 3; x <- 0 until 3)
      yield (t.toLong, x.toDouble, (t * 3 + x).toLong)).toDF("t", "x", "v")
    df.write.format("zarr").mode("append").option("dims", "t,x").save(s"$base/fresh")
    val e = intercept[Exception] {
      df.write.format("zarr").mode("append").option("dims", "t,x").save(s"$base/fresh")
    }
    assert(e.getMessage.contains("FRESH"), e.getMessage)
    val df2 = (for (t <- 0 until 2; x <- 0 until 2)
      yield (t.toLong, x.toDouble, (100 + t * 2 + x).toLong)).toDF("t", "x", "v")
    df2.write.format("zarr").mode("overwrite").option("dims", "t,x").save(s"$base/fresh")
    val back = spark.read.format("zarr").load(s"$base/fresh")
    assert(back.count() == 4)
    assert(back.agg(min("v")).collect()(0).getLong(0) == 100L)
  }

  test("existing non-empty non-zarr directory is refused and left untouched") {
    // the r12 ADVICE safety break: a mistyped path at a directory of
    // unrelated user files must not pass the fresh gate and then be
    // recursively deleted by the failure cleanup of a common refusal
    val sp = spark; import sp.implicits._
    val victim = s"$base/victim"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(victim))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$victim/precious.txt"),
      "do not delete".getBytes)
    // duplicate tuples — the exact "designed-to-be-common" refusal shape
    val dup = Seq((1L, 10.0), (1L, 11.0), (2L, 12.0)).toDF("t", "v")
    val e = intercept[Exception] {
      dup.write.format("zarr").mode("append").option("dims", "t").save(victim)
    }
    assert(e.getMessage.contains("non-zarr entries"), e.getMessage)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$victim/precious.txt"))) == "do not delete",
      "pre-existing user file must survive a refused cube write")
  }

  test("a pre-existing EMPTY zarr store root (bare root doc, no arrays) is a legit target") {
    val sp = spark; import sp.implicits._
    val path = s"$base/bare_root"
    ZarrStore(path).writeStoreRootMeta() // empty store: zarr.json, no arrays
    val df = (for (t <- 0 until 2; x <- 0 until 2)
      yield (t.toLong, x.toDouble, (t * 2 + x).toLong)).toDF("t", "x", "v")
    df.write.format("zarr").mode("append").option("dims", "t,x").save(path)
    assert(spark.read.format("zarr").load(path).count() == 4)
  }

  test("validation failure into a pre-existing EMPTY dir keeps the directory entry") {
    val sp = spark; import sp.implicits._
    val dir = s"$base/preexisting_empty"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val dup = Seq((1L, 10.0), (1L, 11.0), (2L, 12.0)).toDF("t", "v")
    intercept[Exception] {
      dup.write.format("zarr").mode("append").option("dims", "t").save(dir)
    }
    val p = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(p),
      "a pre-existing empty directory must keep its entry after cleanup")
    assert(!java.nio.file.Files.list(p).iterator().hasNext,
      "cleanup must remove only this write's partial output")
  }

  test("NULL in a data cell is refused loudly") {
    val sp = spark; import sp.implicits._
    val df = Seq((0L, Some(1.0)), (1L, None)).toDF("t", "v")
    val e = intercept[Exception] {
      df.write.format("zarr").mode("append").option("dims", "t").save(s"$base/nulldata")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("default chunk shape halves the largest extent to <= 2^18 elements") {
    assert(ZarrCubeWrite_defaultChunk(Seq(4L, 5L, 7L)) == Seq(4, 5, 7))
    val big = ZarrCubeWrite_defaultChunk(Seq(4000L, 2000L, 100L))
    assert(big.map(_.toLong).product <= (1L << 18), big)
    assert(big.forall(_ >= 1))
  }
  private def ZarrCubeWrite_defaultChunk(s: Seq[Long]) =
    graft.sources.ZarrCubeWrite.defaultChunkShape(s)
}
