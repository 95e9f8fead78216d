package graft.zarr

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** N-D cube APPEND (`append_dim` option): grow an existing cube store
  * along its first dimension — the xarray daily-ingest shape. Pins:
  * value-exact roundtrip of base+slab, existing chunk objects untouched
  * (byte-identical), the stats sidecar stays whole-store valid (zero-GET
  * metadata aggregates over base AND slab) with ZERO rewrites of
  * committed segments (the append commit is O(slab), not O(store)), and
  * the loud-refusal contract for every way an append can be unsound
  * (unaligned base, interleaved/duplicate coordinates, trailing-axis
  * drift, non-first append dim, schema mismatch). */
class ZarrCubeAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-cube-append-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-cube-append").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val t0 = 1700000000000000000L
  private val day = 86400L * 1000000000L

  /** Dense climate-shaped frame for days [tFrom, tUntil): 5 lats × 7
    * lons, temp = 1000t + 10i + j, n = global cell ordinal. Shuffled. */
  private def slab(tFrom: Int, tUntil: Int): DataFrame = {
    val sp = spark; import sp.implicits._
    val rows = for (t <- tFrom until tUntil; i <- 0 until 5; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j,
      1000.0 * t + 10.0 * i + j, (t * 35 + i * 7 + j).toLong)
    scala.util.Random.shuffle(rows).toDF("time", "lat", "lon", "temp", "n")
      .repartition(3)
  }

  private def writeBase(path: String, days: Int, chunk0: Int = 2): Unit =
    slab(0, days).write.format("zarr").mode("append")
      .option("dims", "time,lat,lon").option("chunk_shape", s"$chunk0,2,4")
      .save(path)

  private def appendSlab(df: DataFrame, path: String): Unit =
    df.write.format("zarr").mode("append").option("append_dim", "time").save(path)

  test("3-D append: base + slab roundtrip value-exact; existing objects untouched") {
    val path = s"$base/grow"
    writeBase(path, 4) // 4×5×7, chunk 2×2×4 — dim-0 aligned
    val store = ZarrStore(path, Nil)
    val oldTempChunk = Files.readAllBytes(
      Paths.get(path, "temp", "c", "0", "0", "0"))
    val oldTimeChunk = Files.readAllBytes(Paths.get(path, "time", "c", "0"))

    appendSlab(slab(4, 7), path) // +3 days → 7×5×7 (edge chunk on dim 0)

    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 7 * 35)
    val exp = slab(0, 7).select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    val got = back.select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp)

    // metadata advanced; dim-0 axis extended; trailing axes untouched
    val metas = store.listArrays().map(store.readMeta).map(m => m.name -> m).toMap
    assert(metas("temp").shape.toSeq == Seq(7L, 5L, 7L))
    assert(metas("time").shape.toSeq == Seq(7L))
    assert(metas("lat").shape.toSeq == Seq(5L))
    // a dim-0 append must not rewrite existing chunk objects
    assert(java.util.Arrays.equals(oldTempChunk,
      Files.readAllBytes(Paths.get(path, "temp", "c", "0", "0", "0"))),
      "existing data chunk must be byte-identical after append")
    assert(java.util.Arrays.equals(oldTimeChunk,
      Files.readAllBytes(Paths.get(path, "time", "c", "0"))),
      "existing coordinate chunk must be byte-identical after append")
  }

  test("appended store keeps full stats coverage: zero-GET aggregates, slab prune") {
    val path = s"graftstat://$base/grow_stat"
    writeBase(path, 4, chunk0 = 1)
    appendSlab(slab(4, 6), path) // 6×5×7, grid 6×3×2

    val df = spark.read.format("zarr").load(path)
    fsLog.clear()
    val r = df.agg(count(lit(1)).as("cnt"), min("time"), max("time"),
      min("temp"), max("temp"), sum("n")).collect()(0)
    assert(r.getLong(0) == 6 * 35L)
    assert(r.getLong(1) == t0 && r.getLong(2) == t0 + 5 * day)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 5046.0)
    assert(r.getLong(5) == (0 until 210).map(_.toLong).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/grow_stat/(time|lat|lon|temp|n)/c/.*"))
    assert(chunkOpens.isEmpty,
      s"metadata-only agg on an appended store read chunks: ${chunkOpens.mkString(", ")}")

    // predicate over the APPENDED slab prunes to that slab's data chunks
    fsLog.clear()
    val s5 = df.filter(col("time") >= t0 + 5 * day)
      .agg(sum("n").as("s")).collect()(0).getLong(0)
    assert(s5 == (175 until 210).map(_.toLong).sum)
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/grow_stat/(temp|n)/c/.*")).distinct
    assert(dataOpens.length <= 12,
      s"slab scan read ${dataOpens.length}: ${dataOpens.mkString(", ")}")
  }

  test("append is O(slab): committed stats segments are never rewritten") {
    val path = s"$base/nosign"
    writeBase(path, 4, chunk0 = 1) // grid 4×3×2 = 24 chunks, several segments
    import scala.jdk.CollectionConverters._
    def segs(): Map[String, Array[Byte]] =
      Files.list(Paths.get(path, "_stats")).iterator().asScala
        .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
    val before = segs()
    assert(before.nonEmpty, "base write should carry a stats sidecar")

    appendSlab(slab(4, 6), path)

    val after = segs()
    before.foreach { case (name, bytes) =>
      assert(after.contains(name), s"committed segment $name deleted by append")
      assert(java.util.Arrays.equals(bytes, after(name)),
        s"committed segment $name was rewritten by append — the commit must " +
          "be O(slab), not O(store)")
    }
    assert(after.size > before.size, "append must add fresh segments for the slab")
  }

  test("torn append commit heals: the coordinate meta is authoritative") {
    // coordinate BEHIND (crash after data metas, before the axis signal)
    // → the heal rolls data metas back to the committed extent and the
    // replayed append succeeds
    val path = s"$base/torn_back"
    writeBase(path, 4)
    val store = ZarrStore(path, Nil)
    Seq("temp", "n").foreach { a =>
      val m = store.readMeta(a)
      store.writeMeta(a, ZarrMeta.withShape0(m.sourceJson, 6L))
    }
    appendSlab(slab(4, 6), path)
    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 6 * 35)
    assert(back.agg(sum("n")).collect()(0).getLong(0) ==
      (0 until 210).map(_.toLong).sum)

    // coordinate AHEAD (a store torn by a pre-r14 unordered commit loop)
    // → the heal completes the commit: the data chunks are durably
    // present because chunk writes strictly precede every meta write
    val path2 = s"$base/torn_fwd"
    writeBase(path2, 4)
    appendSlab(slab(4, 6), path2) // real committed append: chunks present
    val store2 = ZarrStore(path2, Nil)
    val mTemp = store2.readMeta("temp")
    store2.writeMeta("temp", ZarrMeta.withShape0(mTemp.sourceJson, 4L))
    appendSlab(slab(6, 7), path2) // heals 'temp' forward to 6, appends day 6
    val back2 = spark.read.format("zarr").load(path2)
    assert(back2.count() == 7 * 35)
    assert(back2.agg(sum("n")).collect()(0).getLong(0) ==
      (0 until 245).map(_.toLong).sum)
  }

  test("double append; ragged extents keep growing (edge chunk-row rewrite)") {
    val path = s"$base/twice"
    writeBase(path, 2) // 2×5×7 chunk0=2
    appendSlab(slab(2, 4), path) // → 4, still aligned
    appendSlab(slab(4, 5), path) // → 5 (edge chunk)
    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 5 * 35)
    assert(back.agg(sum("n")).collect()(0).getLong(0) ==
      (0 until 175).map(_.toLong).sum)
    // a third append onto the UNALIGNED extent (5 % 2 != 0) folds the
    // committed edge chunk-row into the slab and keeps growing
    appendSlab(slab(5, 6), path)
    val back2 = spark.read.format("zarr").load(path)
    assert(back2.count() == 6 * 35)
    val exp = slab(0, 6).select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    val got = back2.select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp, "ragged append must preserve every committed value")
  }

  test("ragged appends: chunks below the edge untouched, sidecar stays whole") {
    val path = s"$base/ragged"
    writeBase(path, 3) // 3×5×7 chunk0=2 — UNALIGNED from the start
    val chunk00 = Paths.get(path, "temp", "c", "0", "0", "0")
    val before = Files.readAllBytes(chunk00)

    appendSlab(slab(3, 5), path) // edge row (day 2) rewritten with day 3
    appendSlab(slab(5, 7), path) // 5 % 2 != 0 again: edge (day 4) + 5,6

    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 7 * 35)
    val exp = slab(0, 7).select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    val got = back.select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(got == exp, "ragged appends must be value-exact over base+slabs")
    // the chunk-row BELOW the edge is never rewritten
    assert(java.util.Arrays.equals(before, Files.readAllBytes(chunk00)),
      "chunks below the edge row must stay byte-identical")
    // the sidecar still covers the whole grown grid (straddling segments
    // were trimmed at the edge; the rewrite re-covered the edge onward)
    val store = ZarrStore(path, Nil)
    val geomChunks = ScanGeometry.resolve(
      store.listArrays().map(store.readMeta)).numChunks
    assert(store.listStatsSegments().map(_._2.toLong).sum == geomChunks,
      "sidecar must cover the full grid after ragged appends")
  }

  test("1-D cube append") {
    val sp = spark; import sp.implicits._
    val path = s"$base/one"
    (0 until 8).map(i => (i.toLong * 10, s"v$i")).toDF("t", "label")
      .write.format("zarr").mode("append").option("dims", "t")
      .option("chunk_shape", "4").save(path)
    (8 until 11).map(i => (i.toLong * 10, s"v$i")).toDF("t", "label")
      .write.format("zarr").mode("append").option("append_dim", "t").save(path)
    val back = spark.read.format("zarr").load(path)
    assert(back.orderBy("t").select("label").as[String].collect().toSeq ==
      (0 until 11).map(i => s"v$i"))
  }

  test("datetime64 kind/unit attributes survive an append") {
    val sp = spark; import sp.implicits._
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("zarr_time_kind", "datetime64")
      .putString("zarr_time_unit", "ns").build()
    val path = s"$base/timeattr"
    val baseDf = (for (t <- 0 until 2; x <- 0 until 3)
      yield (t0 + t * day, x.toDouble, (t * 3 + x).toLong)).toDF("time", "x", "v")
      .withColumn("time", col("time").as("time", md))
    baseDf.write.format("zarr").mode("append").option("dims", "time,x")
      .option("chunk_shape", "2,3").save(path)
    val slab2 = (for (t <- 2 until 3; x <- 0 until 3)
      yield (t0 + t * day, x.toDouble, (t * 3 + x).toLong)).toDF("time", "x", "v")
    slab2.write.format("zarr").mode("append").option("append_dim", "time").save(path)
    val m = ZarrStore(path, Nil).readMeta("time")
    assert(m.timeMeta.contains(("datetime64", "ns")),
      s"time axis annotation lost on append: ${m.timeMeta}")
    assert(m.shape.toSeq == Seq(3L))
  }

  test("refusals: every unsound append is loud, store left exactly as committed") {
    val sp = spark; import sp.implicits._
    val path = s"$base/guard"
    writeBase(path, 4)
    val before = spark.read.format("zarr").load(path)
      .orderBy("time", "lat", "lon").collect().toSeq

    // interleaved / overlapping dim-0 coordinates
    val e1 = intercept[Exception] { appendSlab(slab(3, 6), path) }
    assert(e1.getMessage.contains("strictly after"), e1.getMessage)
    // trailing-axis drift (6 lats instead of 5)
    val badLat = (for (t <- 4 until 5; i <- 0 until 6; j <- 0 until 7) yield (
      t0 + t * day, 38.0 + 0.5 * i, -117.0 + 0.25 * j, 1.0, 1L))
      .toDF("time", "lat", "lon", "temp", "n")
    val e2 = intercept[Exception] { appendSlab(badLat, path) }
    assert(e2.getMessage.contains("trailing dims must align"), e2.getMessage)
    // only the FIRST dim can grow
    val e3 = intercept[Exception] {
      slab(4, 5).write.format("zarr").mode("append")
        .option("append_dim", "lat").save(path)
    }
    assert(e3.getMessage.contains("FIRST"), e3.getMessage)
    // unknown append dim
    val e4 = intercept[Exception] {
      slab(4, 5).write.format("zarr").mode("append")
        .option("append_dim", "altitude").save(path)
    }
    assert(e4.getMessage.contains("not a dim"), e4.getMessage)
    // schema drift: missing data column
    val e5 = intercept[Exception] {
      appendSlab(slab(4, 5).drop("n"), path)
    }
    assert(e5.getMessage.contains("store arrays"), e5.getMessage)
    // type drift
    val e6 = intercept[Exception] {
      appendSlab(slab(4, 5).withColumn("temp", col("temp").cast("long")), path)
    }
    assert(e6.getMessage.contains("type"), e6.getMessage)
    // duplicate tuples in the slab
    val e7 = intercept[Exception] {
      appendSlab(slab(4, 5).union(slab(4, 5).limit(1)), path)
    }
    assert(e7.getMessage.contains("duplicate coordinate tuples"), e7.getMessage)
    // ragged slab
    val e8 = intercept[Exception] {
      appendSlab(slab(4, 5).limit(30), path)
    }
    assert(e8.getMessage.contains("not dense"), e8.getMessage)
    // layout options cannot apply on append
    val e9 = intercept[Exception] {
      slab(4, 5).write.format("zarr").mode("append")
        .option("append_dim", "time").option("chunk_shape", "2,2,4").save(path)
    }
    assert(e9.getMessage.contains("neither chunk_shape, shard_shape nor codec"), e9.getMessage)
    // append conflicts with overwrite
    val e10 = intercept[Exception] {
      slab(4, 5).write.format("zarr").mode("overwrite")
        .option("append_dim", "time").save(path)
    }
    assert(e10.getMessage.contains("conflicts with overwrite"), e10.getMessage)
    // dims cross-check when both options are given
    val e11 = intercept[Exception] {
      slab(4, 5).write.format("zarr").mode("append")
        .option("append_dim", "time").option("dims", "time,lon,lat").save(path)
    }
    assert(e11.getMessage.contains("does not match the store's"), e11.getMessage)

    // after every refusal the store reads back exactly as committed
    val after = spark.read.format("zarr").load(path)
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(after == before, "a refused append must leave the store untouched")
  }

  test("ragged edge rewrite is staged + swapped: no c.part leftovers; a crashed attempt's staging is invisible and vacuum reclaims it") {
    val path = s"$base/staged"
    writeBase(path, 3) // extent 3, chunk0=2 — committed partial edge row
    // simulate a CRASHED earlier ragged append: staged edge objects left
    // under a write-scoped c.part dir (never swapped in)
    val deadDir = Paths.get(path, "temp", "c.partdead00-edge", "c", "1", "0", "0")
    Files.createDirectories(deadDir.getParent)
    Files.write(deadDir, Array[Byte](1, 2, 3))
    // staging keys are invisible to readers
    val before = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(before == slab(0, 3).select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq,
      "a crashed attempt's staging dir must not change what readers see")

    appendSlab(slab(3, 5), path) // ragged: edge row staged, then swapped

    val back = spark.read.format("zarr").load(path)
      .select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq
    assert(back == slab(0, 5).select("time", "lat", "lon", "temp", "n")
      .orderBy("time", "lat", "lon").collect().toSeq)
    // the append's own staging dirs are gone; only the dead one remains
    import scala.jdk.CollectionConverters._
    def stagingDirs(): Seq[String] =
      ZarrStore(path, Nil).listArrays().flatMap { a =>
        val d = Paths.get(path, a)
        Files.list(d).iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("c.part"))
          .map(p => s"$a/${p.getFileName}").toSeq
      }
    assert(stagingDirs() == Seq("temp/c.partdead00-edge"),
      s"append must clean its own staging; got ${stagingDirs()}")
    // vacuum reclaims the crashed attempt's staging dir
    ZarrMaintenance.vacuum(spark, path).collect()
    assert(stagingDirs().isEmpty, "vacuum must reclaim orphaned edge staging")
    // and the store still reads value-exact afterwards
    assert(spark.read.format("zarr").load(path).count() == 5 * 35)
  }

  test("forward heal refuses when the grown region's chunks are absent") {
    val path = s"$base/heal_probe"
    writeBase(path, 4) // aligned, grid0 = 2
    val store = ZarrStore(path, Nil)
    // hand-advance the coordinate meta past the data arrays WITHOUT any
    // chunk objects for the grown region — the shape[0]-only-incongruent
    // signature of a torn commit, but physically NOT one (an interrupted
    // commit always writes chunks first)
    val mTime = store.readMeta("time")
    store.writeMeta("time", ZarrMeta.withShape0(mTime.sourceJson, 6L))
    val e = intercept[Exception] { appendSlab(slab(6, 7), path) }
    assert(e.getMessage.contains("heal refused"), e.getMessage)
    assert(e.getMessage.contains("absent"), e.getMessage)
    // the data arrays were NOT silently advanced
    assert(store.readMeta("temp").shape(0) == 4L,
      "a refused forward heal must not advance data extents")
  }

  test("crash leftovers of a failed append's stats segments are retired even when overlap-suppressed") {
    val path = s"$base/stale_seg"
    writeBase(path, 3, chunk0 = 2) // extent 3 (ragged), grid 2x3x2 = 12
    val store = ZarrStore(path, Nil)
    // simulate a crashed (no-abort) ragged append: its fresh segments
    // start at the edge ordinal and survive on disk. edgeStart for
    // chunk0=2, extent 3 is ordinal 6 (second chunk-row).
    store.writeText(ChunkStats.segmentKey(6L, 6), "{\"not\":\"a real segment\"}")
    // the leftover overlaps committed coverage, so the reader suppresses
    // BOTH sides of the overlap — precisely why retirement must walk the
    // raw listing, not this view
    assert(!store.listStatsSegments().contains((6L, 6)))

    appendSlab(slab(3, 5), path) // ragged append reuses ordinal 6+

    // the leftover file is GONE and the fresh slab segments are
    // unsuppressed: coverage from the edge ordinal onward is complete
    // (grown grid 3x3x2 = 18 ordinals; the edge row starts at 6)
    val segs = store.listStatsSegmentsRaw()
    // gone, or legitimately re-created by the write as a REAL
    // grid-signed segment (never the crash leftover's garbage doc)
    assert(!segs.contains((6L, 6)) ||
      store.readText(ChunkStats.segmentKey(6L, 6)).exists(_.contains("\"grid\"")),
      s"stale leftover must be deleted (raw: $segs)")
    val covered = store.listStatsSegments()
      .flatMap { case (f, n) => f until (f + n) }.toSet
    assert((6L until 18L).forall(covered),
      s"fresh slab segments must be unsuppressed; covered=$covered")
    // value-exactness unaffected
    assert(spark.read.format("zarr").load(path).count() == 5 * 35)
  }

  test("non-cube targets are refused: tabular store, missing store") {
    val sp = spark; import sp.implicits._
    val tab = s"$base/tabular"
    (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("a", "b")
      .coalesce(1).write.format("zarr").mode("append").save(tab)
    val e1 = intercept[Exception] {
      (0 until 3).map(i => (i.toLong, i.toDouble)).toDF("a", "b")
        .write.format("zarr").mode("append").option("append_dim", "a").save(tab)
    }
    // a staged tabular store trips the manifest gate; an aligned one the
    // dimension_names gate — either way the refusal is loud and names why
    assert(e1.getMessage.contains("dimension_names") ||
      e1.getMessage.contains("coordinate") ||
      e1.getMessage.contains("chunk manifest"), e1.getMessage)
    val e2 = intercept[Exception] {
      (0 until 3).map(i => (i.toLong, i.toDouble)).toDF("a", "b")
        .write.format("zarr").mode("append").option("append_dim", "a")
        .save(s"$base/missing_store")
    }
    assert(e2.getMessage.contains("append_dim"), e2.getMessage)
  }
}
