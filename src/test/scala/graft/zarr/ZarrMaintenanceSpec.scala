package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Compaction: an append-grown store of many tiny chunks rewrites into
  * a sharded store that is value- and order-identical while storing
  * far fewer objects. */
class ZarrMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-maintenance-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("compact: identical values and order, far fewer stored objects") {
    val base = Files.createTempDirectory("zarr-compact").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    // simulate micro-batch growth: 8 appends of 64 rows, 16-row chunks
    // → 4 tiny objects per column per append
    (0 until 8).foreach { b =>
      spark.range(b * 64L, (b + 1) * 64L)
        .selectExpr("id", "cast(id as double) * 0.5 as x", "concat('n', id) as name")
        .coalesce(1)
        .write.format("zarr").mode("append")
        .option("chunk_size", "16")
        .save(src)
    }
    val (before, after) =
      ZarrMaintenance.compact(spark, src, dst, chunkSize = 256, innerChunkSize = 64)
    // 3 cols x 32 chunks -> 3 cols x 2 shard objects
    assert(before == 96L, s"before=$before")
    assert(after == 6L, s"after=$after")

    val a = spark.read.format("zarr").load(src).collect()
    val b = spark.read.format("zarr").load(dst).collect()
    assert(a.length == 512 && b.length == 512)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "compacted store must be value- and order-identical")
  }

  test("compact refuses a non-empty destination — a retry must not double the rows") {
    val base = Files.createTempDirectory("zarr-compact-rerun").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    spark.range(0L, 64L).selectExpr("id").coalesce(1)
      .write.format("zarr").mode("append").option("chunk_size", "16").save(src)
    ZarrMaintenance.compact(spark, src, dst, chunkSize = 32, innerChunkSize = 16)
    val n1 = spark.read.format("zarr").load(dst).count()
    assert(n1 == 64L)
    val e = intercept[ZarrException] {
      ZarrMaintenance.compact(spark, src, dst, chunkSize = 32, innerChunkSize = 16)
    }
    assert(e.getMessage.contains("FRESH"), e.getMessage)
    assert(spark.read.format("zarr").load(dst).count() == 64L,
      "a refused re-run must leave the destination untouched")
  }

  test("compact N-D: cube → cube, per-coordinate value identity, re-chunked") {
    // round 11 REFUSED N-D outright (an unguarded run flattened the 2-D
    // grid to chunk-order rows); round 12's cube writer gives N-D its
    // migration path: scan → dense rows → ZarrCubeWrite re-ranks them.
    // The N-D contract is PER-COORDINATE VALUE IDENTITY, not scan order:
    // a chunked scan enumerates chunk-major order of its OWN grid, so a
    // re-chunked destination (3×3 → 4×4) legitimately enumerates a
    // different permutation of the same tuples — compare orderBy(dims).
    val base = Files.createTempDirectory("zarr-compact-nd").toString
    val store = ZarrStore(s"$base/src")
    ZarrWriter.writeLatLonStore(store)
    ZarrMaintenance.compact(spark, s"$base/src", s"$base/dst",
      chunkShapeNd = Seq(4, 4))
    val a = spark.read.format("zarr").load(s"$base/src")
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    val b = spark.read.format("zarr").load(s"$base/dst")
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    assert(a.length == 64 && b.length == 64)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "compacted cube must hold identical values at every coordinate")
    val dstStore = ZarrStore(s"$base/dst")
    val m = dstStore.readMeta("data")
    assert(m.ndim == 2 && m.chunkShape.toSeq == Seq(4, 4))
    assert(dstStore.readMeta("lat").isCoordinate)
  }

  test("compact N-D into a SHARDED cube: fewer stored objects, values identical") {
    val base = Files.createTempDirectory("zarr-compact-ndshard").toString
    ZarrWriter.writeLatLonStore(ZarrStore(s"$base/src")) // 8x8, chunk 3x3 -> 9 objects/array
    val (srcObjs, dstObjs) = ZarrMaintenance.compact(
      spark, s"$base/src", s"$base/dst",
      chunkShapeNd = Seq(2, 2), shardShapeNd = Seq(8, 8))
    assert(dstObjs < srcObjs,
      s"sharded compaction must shrink the object count ($srcObjs -> $dstObjs)")
    val a = spark.read.format("zarr").load(s"$base/src")
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    val b = spark.read.format("zarr").load(s"$base/dst")
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val m = ZarrStore(s"$base/dst").readMeta("data")
    assert(m.chunkShape.toSeq == Seq(8, 8), "stored grid is the shard shape")
    assert(m.shardingSpec.exists(_.innerShape == Seq(2, 2)),
      "inner chunks stay addressable at 2x2")
  }

  test("compact N-D: v2 climate cube migrates to a v3 cube (datetime64 → raw int64)") {
    val fixture = new java.io.File("src/test/resources/zarr_v2_climate")
    assume(fixture.isDirectory, "fixture store present")
    val base = Files.createTempDirectory("zarr-compact-v2nd").toString
    ZarrMaintenance.compact(spark, fixture.getPath, s"$base/dst")
    // per-coordinate value identity (re-chunking permutes scan order)
    val a = spark.read.format("zarr").load(fixture.getPath)
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect()
    val b = spark.read.format("zarr").load(s"$base/dst")
      .select("time", "lat", "lon", "temp").orderBy("time", "lat", "lon").collect()
    assert(a.nonEmpty && a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // the dst is v3: its metadata parses as format 3 with 3-D data
    val m = ZarrStore(s"$base/dst").readMeta("time")
    assert(m.formatVersion == 3)
    assert(ZarrStore(s"$base/dst").readMeta("temp").ndim == 3)
    // the datetime64 kind/unit annotation survives the migration as v3
    // attributes and surfaces on re-read exactly like parseV2 did
    assert(m.timeMeta.contains(("datetime64", "ns")),
      s"migrated time axis lost its datetime64 annotation: ${m.timeMeta}")
    val timeField = spark.read.format("zarr").load(s"$base/dst")
      .schema.fields.find(_.name == "time").get
    assert(timeField.metadata.getString("zarr_time_kind") == "datetime64")
    assert(timeField.metadata.getString("zarr_time_unit") == "ns")
  }

  test("compact N-D refuses a descending coordinate axis (silent re-order hazard)") {
    // descending latitude is the norm in real climate stores; the cube
    // writer rebuilds axes sorted ASCENDING, so compacting would silently
    // flip the axis direction and chunk layout — must refuse loudly
    val base = Files.createTempDirectory("zarr-compact-desc").toString
    val store = ZarrStore(s"$base/src")
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "lat", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 45.0 - i * 0.1), Some(Seq("lat")))
    ZarrWriter.writeArray(store, "lon", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => -117.0 + i * 0.1), Some(Seq("lon")))
    ZarrWriter.writeArray(store, "data", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble), Some(Seq("lat", "lon")))
    val e = intercept[ZarrException] {
      ZarrMaintenance.compact(spark, s"$base/src", s"$base/dst")
    }
    assert(e.getMessage.contains("not strictly ascending"), e.getMessage)
  }

  test("compact mirrors the source codec instead of forcing blosc") {
    val base = Files.createTempDirectory("zarr-compact-codec").toString
    val src = s"$base/src"
    spark.range(0L, 64L).selectExpr("id", "cast(id as double) as x").coalesce(1)
      .write.format("zarr").mode("append")
      .option("chunk_size", "16").option("codec", "gzip").save(src)
    ZarrMaintenance.compact(spark, src, s"$base/dst", chunkSize = 32, innerChunkSize = 16)
    // 1-D compaction shards: the compression codec nests inside
    // sharding_indexed's inner chain — assert on the metadata document
    val dstJson = ZarrStore(s"$base/dst").readMeta("x").sourceJson
    assert(dstJson.contains("gzip") && !dstJson.contains("blosc"),
      s"dst codec chain must mirror the gzip source: $dstJson")
    // RE-compacting the (sharded) output must still see gzip: the
    // derivation has to look through sharding_indexed's inner chain,
    // or every second compaction silently writes an uncompressed store
    ZarrMaintenance.compact(spark, s"$base/dst", s"$base/dst2",
      chunkSize = 16, innerChunkSize = 8)
    val dst2Json = ZarrStore(s"$base/dst2").readMeta("x").sourceJson
    assert(dst2Json.contains("gzip") && !dst2Json.contains("blosc"),
      s"re-compaction must keep the inner-chain codec: $dst2Json")
    assert(spark.read.format("zarr").load(s"$base/dst2").count() == 64L)
    // N-D: a gzip-chained cube source compacts into a gzip cube
    val srcNd = s"$base/srcnd"
    ZarrWriter.writeLatLonStore(ZarrStore(srcNd), ZarrWriter.CodecChain.gzip)
    ZarrMaintenance.compact(spark, srcNd, s"$base/dstnd", chunkShapeNd = Seq(4, 4))
    val ndNames = ZarrStore(s"$base/dstnd").readMeta("data").codecs.map(_.name)
    assert(ndNames.contains("gzip") && !ndNames.contains("blosc"), ndNames.toString)

    // v2 zlib (the common v2 compressor, no same-name v3 writer chain)
    // maps to gzip — the same DEFLATE family; a compressed source must
    // never silently migrate to an UNCOMPRESSED store
    val v2Fixture = new java.io.File("src/test/resources/zarr_v2_latlon")
    assume(v2Fixture.isDirectory, "v2 fixture present")
    ZarrMaintenance.compact(spark, v2Fixture.getPath, s"$base/dstv2zlib")
    val v2Names = ZarrStore(s"$base/dstv2zlib").readMeta("data").codecs.map(_.name)
    assert(v2Names.contains("gzip") && !v2Names.contains("blosc"), v2Names.toString)
    val a2 = spark.read.format("zarr").load(v2Fixture.getPath)
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    val b2 = spark.read.format("zarr").load(s"$base/dstv2zlib")
      .select("lat", "lon", "data").orderBy("lat", "lon").collect()
    assert(a2.nonEmpty && a2.map(_.toString).toSeq == b2.map(_.toString).toSeq)
  }

  test("compact maps v2 bz2/lzma/lz4 sources into a compressed family, never none") {
    // parseV2 spells these compressors "v2-bz2"/"v2-lzma"/"v2-lz4" — the
    // codec derivation must match those names or a compressed v2 source
    // silently compacts into an UNCOMPRESSED store (r13 ADVICE). Solo
    // per-column copies of the typed fixture (the full fixture carries
    // binary columns the v3 writer refuses).
    val base = Files.createTempDirectory("zarr-compact-v2fam").toString
    val fixture = new java.io.File("src/test/resources/zarr_v2_typed")
    assume(fixture.isDirectory, "v2 fixture present")
    def solo(colName: String): String = {
      val root = java.nio.file.Paths.get(base, s"src_$colName")
      val dst = root.resolve(colName)
      val srcDir = fixture.toPath.resolve(colName)
      java.nio.file.Files.walk(srcDir).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val t = dst.resolve(srcDir.relativize(p).toString)
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t)
        }
      }
      root.toString
    }
    Seq("bzv" -> "zstd", "xzv" -> "zstd", "lzv" -> "blosc").foreach { case (c, want) =>
      val src = solo(c)
      val dstPath = s"$base/dst_$c"
      ZarrMaintenance.compact(spark, src, dstPath)
      val json = ZarrStore(dstPath).readMeta(c).sourceJson
      assert(json.contains(want),
        s"v2 '$c' source must compact into a $want-compressed store, got: $json")
      val a = spark.read.format("zarr").load(src)
        .orderBy(c).collect().map(_.toString).toSeq
      val b = spark.read.format("zarr").load(dstPath)
        .orderBy(c).collect().map(_.toString).toSeq
      assert(a.nonEmpty && a == b, s"column $c: compacted values differ")
    }
  }

  test("compact N-D refuses a dim without a coordinate array") {
    val base = Files.createTempDirectory("zarr-compact-nocoord").toString
    val store = ZarrStore(s"$base/src")
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "lat", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 38.0 + i * 0.1), Some(Seq("lat")))
    ZarrWriter.writeArray(store, "data", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble), Some(Seq("lat", "lon")))
    val e = intercept[ZarrException] {
      ZarrMaintenance.compact(spark, s"$base/src", s"$base/dst")
    }
    assert(e.getMessage.contains("no coordinate array"), e.getMessage)
  }

  test("vacuum: reclaims orphans/staging/phantoms, keeps every live object") {
    val base = Files.createTempDirectory("zarr-vacuum").toString
    val path = s"$base/cube"
    val sp = spark; import sp.implicits._
    (for (t <- 0 until 5; x <- 0 until 4) yield
      (t.toLong, x.toLong, (t * 10 + x).toDouble))
      .toDF("t", "x", "v").write.format("zarr").mode("append")
      .option("dims", "t,x").option("chunk_shape", "2,2").save(path)
    // append leaves the sidecar with smaller-leading-extent signatures —
    // vacuum must KEEP those (they are live, not phantom)
    (for (t <- 5 until 8; x <- 0 until 4) yield
      (t.toLong, x.toLong, (t * 10 + x).toDouble))
      .toDF("t", "x", "v").write.format("zarr").mode("append")
      .option("append_dim", "t").save(path)
    val cleanRead = spark.read.format("zarr").load(path)
      .orderBy("t", "x").collect().toSeq
    val segsBefore = ZarrStore(path).listStatsSegments()

    // pollute: orphan chunk past the grid, unreferenced staging dir,
    // phantom + staging stats docs, and a FOREIGN file that must survive
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v", "c", "9"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", "c", "9", "0"),
      Array[Byte](1))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path, "v", "c.part-dead-3"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "v", "c.part-dead-3", "0"), Array[Byte](2))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_stats", "s500_4.json"), "{}".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_stats", "c.partdead-0_4.json"), "{}".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "v", "NOTES.txt"), "keep me".getBytes)

    val counts = ZarrMaintenance.vacuum(spark, path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(counts("v") == ((1L, 1L, 0L)), counts.toString)
    assert(counts("_stats") == ((0L, 0L, 2L)), counts.toString)
    assert(counts("t") == ((0L, 0L, 0L)) && counts("x") == ((0L, 0L, 0L)))

    // live state intact: values, live sidecar segments, the foreign file
    assert(spark.read.format("zarr").load(path)
      .orderBy("t", "x").collect().toSeq == cleanRead)
    assert(ZarrStore(path).listStatsSegments() == segsBefore,
      "vacuum must keep every live (incl. pre-append) sidecar segment")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v", "NOTES.txt")),
      "foreign files are surfaced elsewhere, never silently deleted")

    // idempotent: a second vacuum finds nothing
    val again = ZarrMaintenance.vacuum(spark, path).collect()
    assert(again.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0),
      again.mkString(","))
  }

  test("vacuum reclaims an ALL-STALE inner doc, keeps a partially-fresh one") {
    // object mtimes only move forward, so a doc whose EVERY recorded
    // column fails the reader's len/mtime/etag rule is PERMANENTLY
    // declined — dead weight each scan re-HEADs forever: phantom. A doc
    // with ANY fresh column is still serving that column's bounds: live
    val base = Files.createTempDirectory("zarr-vacuum-stale").toString
    val path = s"$base/cube"
    val sp = spark; import sp.implicits._
    (for (d <- 0 until 8; x <- 0 until 8) yield
      (d.toLong, x.toLong, (d * 10 + x).toDouble, (d - x).toDouble))
      .toDF("day", "x", "v", "w").write.format("zarr").mode("append")
      .option("dims", "day,x").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").save(path)
    def bump(rel: String): Unit = {
      val p = java.nio.file.Paths.get(path, rel)
      java.nio.file.Files.setLastModifiedTime(p, java.nio.file.attribute
        .FileTime.fromMillis(java.nio.file.Files.getLastModifiedTime(p)
          .toMillis + 2000))
    }
    // doc i0: BOTH data columns' shards rewritten (simulated by the
    // mtime moving) -> all-stale -> phantom; doc i1: only v's shard
    // moved, w still fresh -> live
    bump("v/c/0/0"); bump("w/c/0/0"); bump("v/c/1/0")
    val counts = ZarrMaintenance.vacuum(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(counts("_stats") == 1L, counts.toString)
    assert(!Files.exists(java.nio.file.Paths.get(path, "_stats", "i0.json")),
      "the all-stale doc must be reclaimed")
    assert(Files.exists(java.nio.file.Paths.get(path, "_stats", "i1.json")),
      "a doc with one fresh column still serves it: keep")
    // values untouched; a second vacuum finds nothing
    assert(spark.read.format("zarr").load(path).count() == 64)
    val again = ZarrMaintenance.vacuum(spark, path).collect()
    assert(again.forall(_.getLong(3) == 0L), again.mkString(","))
  }

  test("vacuum on a SHARDED cube: orphan shard beyond the grid deleted, live edge shards kept") {
    // a deleting walk must know that a sharded array's stored grid is
    // the SHARD grid: judging shard keys against the inner-chunk grid
    // would either spare orphans (grid too big) or delete live edge
    // shards (extent-truncated, still holding committed data)
    val base = Files.createTempDirectory("zarr-vacuum-shard").toString
    val path = s"$base/cube"
    val sp = spark; import sp.implicits._
    (for (a <- 0 until 5; b <- 0 until 4) yield
      (a.toLong, b.toLong, (a * 10 + b).toDouble))
      .toDF("a", "b", "v").write.format("zarr").mode("append")
      .option("dims", "a,b")
      .option("chunk_shape", "2,2").option("shard_shape", "4,4")
      .save(path)
    val store = ZarrStore(path)
    val mV = store.readMeta("v")
    assume(mV.shardingSpec.isDefined, "expected a sharded data array")
    // stored grid = shard grid: ceil(5/4) x ceil(4/4) = 2 x 1; c/1/0 is
    // the live EDGE shard (1 of 4 inner rows real)
    assert(mV.gridShape.toSeq == Seq(2, 1))
    assert(store.chunkObjectExists("v", "c/1/0"), "edge shard present")
    val cleanRead = spark.read.format("zarr").load(path)
      .orderBy("a", "b").collect().toSeq

    // orphan shard object beyond the committed shard grid (crashed write)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v", "c", "3"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "v", "c", "3", "0"), Array[Byte](7))

    val counts = ZarrMaintenance.vacuum(spark, path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(counts("v") == ((1L, 0L, 0L)), counts.toString)
    assert(!store.chunkObjectExists("v", "c/3/0"), "orphan shard must be deleted")
    assert(store.chunkObjectExists("v", "c/1/0"), "live edge shard must survive")
    assert(spark.read.format("zarr").load(path)
      .orderBy("a", "b").collect().toSeq == cleanRead,
      "vacuum must not change a sharded store's readable contents")
    val again = ZarrMaintenance.vacuum(spark, path).collect()
    assert(again.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0))
  }

  test("vacuum on a v2 dot-key store: absent chunks are not garbage; out-of-grid dot-keys are") {
    val fixture = new java.io.File("src/test/resources/zarr_v2_2d")
    assume(fixture.isDirectory, "v2 fixture present")
    // vacuum deletes; always work on a copy of the committed fixture
    val base = Files.createTempDirectory("zarr-vacuum-v2").toString
    val path = s"$base/v2store"
    val src = fixture.toPath
    java.nio.file.Files.walk(src).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val t = java.nio.file.Paths.get(path).resolve(src.relativize(p).toString)
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t): Unit
      }
    }
    // a DELETED chunk (legal sparse store: reads as fill values) …
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "temp", "0.1"))
    val sparseRead = spark.read.format("zarr").load(path)
      .orderBy("temp", "pressure", "counts").collect().toSeq
    // … plus true garbage: dot-keys beyond the 2x2 grid / of wrong rank
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "temp", "9.9"), Array[Byte](1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "counts", "0.0.0"), Array[Byte](2))

    val counts = ZarrMaintenance.vacuum(spark, path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(counts("temp") == ((1L, 0L, 0L)), counts.toString)
    assert(counts("counts") == ((1L, 0L, 0L)), counts.toString)
    // the absent chunk stays absent (not "healed", nothing else deleted):
    // identical sparse reads, and every surviving dot-key object intact
    assert(spark.read.format("zarr").load(path)
      .orderBy("temp", "pressure", "counts").collect().toSeq == sparseRead,
      "vacuum must not change a sparse v2 store's readable contents")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "temp", "0.1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "temp", "0.0")))
    val again = ZarrMaintenance.vacuum(spark, path).collect()
    assert(again.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0))
  }

  test("DISTRIBUTED vacuum shards the SEGMENT validation loop (>64 segments)") {
    val base = Files.createTempDirectory("zarr-vacuum-segs").toString
    val sp = spark; import sp.implicits._
    def build(path: String): Unit = {
      (for (t <- 0 until 5; x <- 0 until 4) yield
        (t.toLong, x.toLong, (t * 10 + x).toDouble))
        .toDF("t", "x", "v").write.format("zarr").mode("append")
        .option("dims", "t,x").option("chunk_shape", "2,2").save(path)
      // 100 phantom segments past the committed grid — crosses the
      // distributed branch's inline threshold (64), so this pin runs
      // the validation as a Spark job on one store and inline on the
      // other; counts and survivors must be identical
      (0 until 100).foreach { i =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "_stats", s"s${1000 + i}_1.json"),
          "{}".getBytes)
      }
    }
    build(s"$base/a"); build(s"$base/b")
    def statsRow(df: org.apache.spark.sql.DataFrame): Long =
      df.collect().map(r => r.getString(0) -> r.getLong(3)).toMap.apply("_stats")
    val driver = statsRow(ZarrMaintenance.vacuumImpl(spark, s"$base/a", inlineMax = Long.MaxValue))
    val dist = statsRow(ZarrMaintenance.vacuumImpl(spark, s"$base/b", inlineMax = 0L))
    assert(driver == 100L, s"driver reclaimed $driver")
    assert(dist == driver, s"distributed segment vacuum diverged: $dist vs $driver")
    def liveSegs(p: String): Seq[String] =
      new java.io.File(s"$p/_stats").listFiles()
        .map(_.getName).filter(_.matches("s\\d+_\\d+\\.json")).sorted.toSeq
    assert(liveSegs(s"$base/b") == liveSegs(s"$base/a"),
      "both schedulers must keep exactly the live segments")
    assert(liveSegs(s"$base/a").nonEmpty, "the store's own segments must survive")
  }

  test("DISTRIBUTED vacuum: same reclaim, same keeps as the driver walk") {
    // two stores polluted identically; one vacuumed driver-side, one as
    // a Spark job — identical counts, identical surviving objects
    val base = Files.createTempDirectory("zarr-vacuum-dist").toString
    val sp = spark; import sp.implicits._
    def build(path: String): Unit = {
      (for (t <- 0 until 5; x <- 0 until 4) yield
        (t.toLong, x.toLong, (t * 10 + x).toDouble))
        .toDF("t", "x", "v").write.format("zarr").mode("append")
        .option("dims", "t,x").option("chunk_shape", "2,2").save(path)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v", "c", "9"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "v", "c", "9", "0"), Array[Byte](1))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(path, "v", "c.part-dead-7"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "v", "c.part-dead-7", "0"), Array[Byte](2))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_stats", "s500_4.json"), "{}".getBytes)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "v", "NOTES.txt"), "keep me".getBytes)
    }
    build(s"$base/a"); build(s"$base/b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("target").collect().map(_.toString).toSeq
    val driver = rows(ZarrMaintenance.vacuumImpl(spark, s"$base/a", inlineMax = Long.MaxValue))
    val dist = rows(ZarrMaintenance.vacuumImpl(spark, s"$base/b", inlineMax = 0L))
    assert(dist == driver, s"distributed vacuum diverged:\n$dist\nvs\n$driver")
    def survivors(path: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(survivors(s"$base/b") == survivors(s"$base/a"),
      "distributed vacuum must keep exactly what the driver walk keeps")
    assert(spark.read.format("zarr").load(s"$base/b")
      .orderBy("t", "x").collect().toSeq ==
      spark.read.format("zarr").load(s"$base/a")
        .orderBy("t", "x").collect().toSeq)
  }

  test("DISTRIBUTED stored-object counting equals the driver LIST on every layout") {
    val base = Files.createTempDirectory("zarr-desc-dist").toString
    val sp = spark; import sp.implicits._
    // sharded cube with an extra orphan + a staged tabular store with
    // manifest part dirs + a sparse v2 copy: the layouts whose object
    // shapes differ most
    val cube = s"$base/cube"
    (for (a <- 0 until 5; b <- 0 until 4) yield
      (a.toLong, b.toLong, (a * 10 + b).toDouble))
      .toDF("a", "b", "v").write.format("zarr").mode("append")
      .option("dims", "a,b")
      .option("chunk_shape", "2,2").option("shard_shape", "4,4").save(cube)
    val tab = s"$base/tab"
    (0 until 3).foreach { n =>
      (n * 32 until (n + 1) * 32).map(i => (i.toLong, s"v$i")).toDF("p", "q")
        .coalesce(1).write.format("zarr").mode("append")
        .option("chunk_size", "16").save(tab)
    }
    val fixture = new java.io.File("src/test/resources/zarr_v2_2d")
    val stores = Seq(cube, tab) ++ (if (fixture.isDirectory) {
      val v2 = s"$base/v2"
      val src = fixture.toPath
      java.nio.file.Files.walk(src).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val t = java.nio.file.Paths.get(v2).resolve(src.relativize(p).toString)
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t): Unit
        }
      }
      java.nio.file.Files.delete(java.nio.file.Paths.get(v2, "temp", "0.1"))
      Seq(v2)
    } else Seq.empty)
    stores.foreach { path =>
      def counts(distributed: Boolean) =
        ZarrInfo.describeImpl(spark, path, countStored = true,
          inlineMax = if (distributed) 0L else Long.MaxValue)
          .select("array", "n_stored_objects").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val driver = counts(distributed = false)
      val dist = counts(distributed = true)
      assert(dist == driver, s"$path: distributed $dist != driver $driver")
      assert(driver.values.sum > 0, s"$path: empty count proves nothing")
    }
  }

  test("describeStats: fragmentation visibility through ingest, compaction, vacuum") {
    val base = Files.createTempDirectory("zarr-desc-stats").toString
    val path = s"$base/cube"
    // deterministic write-task count: six single-day sink batches over
    // a 1x4-chunk grid are ONE write task (one chunk) each → exactly
    // one stats segment per batch, environment-independent
    val sp = spark
    import sp.implicits._
    def slab(d: Int) =
      (0 until 4).map(x => (d.toLong, 100L + x, (d * 10 + x).toDouble))
        .toDF("day", "sensor", "temp")
    (0 until 6).foreach(d => graft.streaming.ZarrCubeSink.appendBatch(
      slab(d), d.toLong, path, Seq("day", "sensor"),
      chunkShape = Some(Seq(1, 4))))
    def statsRow() = {
      val r = ZarrInfo.describeStats(spark, path).collect()
      assert(r.length == 1)
      r.head
    }
    val ingested = statsRow()
    // (n_arrays, grid, raw segs, live segs, min, inner docs, covered, fraction)
    assert(ingested.toSeq == Seq(3L, 6L, 6L, 6L, 1L, 0L, 6L, 1.0),
      s"post-ingest: $ingested")
    // junk the sidecar: a phantom segment past the grid is RAW but not
    // LIVE — the gap between the two columns is vacuum's work queue
    val store = ZarrStore(path)
    store.writeText(ChunkStats.segmentKey(99L, 1), "{\"junk\":1}")
    val junked = statsRow()
    assert(junked.getLong(2) == 7L && junked.getLong(3) == 6L,
      s"phantom must count raw-only: $junked")
    // compaction collapses the six live segments to min_segments; the
    // out-of-grid phantom is not compaction's to touch
    ZarrMaintenance.compactStats(spark, path)
    val compacted = statsRow()
    assert(compacted.getLong(2) == 2L && compacted.getLong(3) == 1L &&
      compacted.getLong(6) == 6L && compacted.getDouble(7) == 1.0,
      s"post-compaction: $compacted")
    // vacuum reclaims the phantom: raw == live == min_segments — the
    // steady state an operator schedules maintenance to restore
    ZarrMaintenance.vacuum(spark, path)
    val cleaned = statsRow()
    assert(cleaned.toSeq == Seq(3L, 6L, 1L, 1L, 1L, 0L, 6L, 1.0),
      s"post-vacuum: $cleaned")
  }

  test("vacuum keeps manifest-referenced part dirs of a staged tabular store") {
    val base = Files.createTempDirectory("zarr-vacuum-tab").toString
    val path = s"$base/tab"
    val sp = spark; import sp.implicits._
    // staged (non-rows_per_partition) appends accumulate manifest parts
    (0 until 3).foreach { b =>
      (b * 32 until (b + 1) * 32).map(i => (i.toLong, s"v$i")).toDF("a", "b")
        .coalesce(1).write.format("zarr").mode("append")
        .option("chunk_size", "16").save(path)
    }
    val store = ZarrStore(path)
    assume(store.committedView().manifest.parts.nonEmpty, "expected a staged commit")
    val before = spark.read.format("zarr").load(path)
      .orderBy("a").collect().toSeq
    val counts = ZarrMaintenance.vacuum(spark, path).collect()
    assert(counts.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0),
      s"nothing is garbage in a freshly committed staged store: ${counts.mkString(",")}")
    assert(spark.read.format("zarr").load(path)
      .orderBy("a").collect().toSeq == before)
  }

  test("compact resets an accumulated chunk manifest to zero parts") {
    val base = Files.createTempDirectory("zarr-compact-manifest").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    // staged (non-rows_per_partition) appends accumulate manifest parts
    (0 until 5).foreach { b =>
      spark.range(b * 32L, (b + 1) * 32L)
        .select(col("id"), (col("id") * 2.0).as("x"))
        .coalesce(1)
        .write.format("zarr").mode("append")
        .option("chunk_size", "16")
        .save(src)
    }
    val srcStore = ZarrStore(src)
    assert(srcStore.committedView().manifest.parts.length == 5)
    assert(srcStore.readMeta("id").sourceJson.contains(ChunkManifest.transformerName))
    ZarrMaintenance.compact(spark, src, dst, chunkSize = 64, innerChunkSize = 16)
    // the compacted store is fully canonical: no manifest entries in the
    // root doc, no must-understand transformer marker on any array —
    // generic Zarr v3 tools can read it again
    val dstStore = ZarrStore(dst)
    assert(dstStore.committedView().manifest.isEmpty,
      s"compacted store still carries manifest parts: ${dstStore.committedView().manifest.parts}")
    assert(!dstStore.readMeta("id").sourceJson.contains(ChunkManifest.transformerName))
    assert(spark.read.format("zarr").load(dst).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == (0L until 160L))
  }
}
