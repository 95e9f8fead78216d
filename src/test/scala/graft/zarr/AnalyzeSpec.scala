package graft.zarr

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `ZarrMaintenance.analyze` — the stats-sidecar backfill (ANALYZE) for
  * stores the engine did not write. A foreign store (Zarr v2, or a v3
  * store from another writer) arrives sidecar-less, so scans silently
  * degrade to decode-and-test; analyze restores chunk skipping and
  * metadata-only aggregate pushdown with one distributed pass. */
class AnalyzeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("analyze-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-analyze").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def copyDir(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  test("analyze a foreign Zarr v2 store: min/max pushdown then answers with zero chunk reads") {
    // fixtures are read-only — analyze writes a sidecar, so copy first
    copyDir(Paths.get("src/test/resources/zarr_v2_1d"), Paths.get(s"$base/v2"))
    val url = s"graftstat://$base/v2"
    val n = ZarrMaintenance.analyze(spark, url)
    assert(n == 3, s"11 rows / chunk 4 = 3 chunks, analyzed $n")
    val segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 3 && segs.head._1 == 0L,
      s"segments must cover ordinals [0, 3): $segs")
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(count(lit(1)), min("id64"), max("id64"), max("u8")).collect()(0)
    assert(r.getLong(0) == 11)
    assert(r.getLong(1) == 1000000000000L && r.getLong(2) == 1000000000010L)
    assert(r.getShort(3) == 255)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/v2/(flag|id64|u8)/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"post-analyze metadata-only aggregate read chunks: ${chunkOpens.mkString(", ")}")
  }

  test("analyze restores a v3 store whose sidecar was lost") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/v3"
    (0 until 60).map(i => (i.toLong, 3.5 * i)).toDF("id", "x")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    // lose the sidecar (a foreign copy, an object-store mishap, ...)
    val statsDir = Paths.get(s"$base/v3/${ChunkStats.dirName}")
    Files.walk(statsDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(ZarrStore(url).listStatsSegments().isEmpty)
    assert(ZarrMaintenance.analyze(spark, url) == 4) // 60/16 -> 4 chunks
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(min("x"), max("x"), sum("id")).collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 3.5 * 59)
    assert(r.getLong(2) == 59L * 60 / 2)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/v3/(id|x)/c/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"restored sidecar must serve the aggregate: ${chunkOpens.mkString(", ")}")
  }

  test("analyze a 2-D v2 store: metadata-only count/min/max/sum with zero chunk reads") {
    copyDir(Paths.get("src/test/resources/zarr_v2_2d"), Paths.get(s"$base/v2nd"))
    val url = s"graftstat://$base/v2nd"
    val n = ZarrMaintenance.analyze(spark, url)
    assert(n == 4, s"(5,7) grid with (3,4) chunks = 2x2 = 4 chunks, analyzed $n")
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    // temp[i][j] = 10i+j+0.5 with chunk (1,1) ABSENT (fill 99.5);
    // counts[i][j] = 100i+j (int32, F order) — sum is exact
    val r = df.agg(count(lit(1)), min("temp"), max("temp"),
      min("counts"), max("counts"), sum("counts")).collect()(0)
    assert(r.getLong(0) == 35)
    assert(r.getDouble(1) == 0.5 && r.getDouble(2) == 99.5)
    assert(r.getInt(3) == 0 && r.getInt(4) == 406)
    assert(r.getLong(5) == (for (i <- 0 until 5; j <- 0 until 7) yield 100L * i + j).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/v2nd/(temp|counts|pressure)/\\d+\\.\\d+$"))
    assert(chunkOpens.isEmpty,
      s"post-analyze 2-D metadata-only aggregate read chunks: ${chunkOpens.mkString(", ")}")
    assert(df.agg(min("temp")).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"))
  }

  test("analyze a lat/lon v3 store (the reference's flagship shape): segments carry the grid signature") {
    val url = s"graftstat://$base/latlon"
    val store = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    ZarrWriter.writeLatLonStore(store)
    assert(ZarrMaintenance.analyze(spark, url) == 9) // 8x8 / 3x3 -> 3x3 grid
    val segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 9 && segs.head._1 == 0L, segs.toString)
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    // MIN/MAX over the 2-D data array AND a broadcast coordinate answer
    // metadata-only (coordinate bounds were recorded per target chunk)
    val r = df.agg(count(lit(1)), min("data"), max("data"),
      min("lat"), max("lat")).collect()(0)
    assert(r.getLong(0) == 64)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 63.0)
    assert(r.getDouble(3) == 38.0 && r.getDouble(4) == 38.7)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/latlon/(lat|lon|data)/c/.*"))
    assert(chunkOpens.isEmpty,
      s"lat/lon metadata-only aggregate read chunks: ${chunkOpens.mkString(", ")}")
    // a LONE-coordinate selection resolves to a 1-D grid the 2-D
    // segments do not describe — but MIN/MAX are order statistics,
    // invariant under broadcast multiplicity, so (round 13) they serve
    // from the full-coverage STORE-grid segments, metadata-only
    fsLog.clear()
    val loneAgg = df.select("lat").agg(min("lat"), max("lat"))
    assert(loneAgg.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      loneAgg.queryExecution.executedPlan.toString)
    val lone = loneAgg.collect()(0)
    assert(lone.getDouble(0) == 38.0 && lone.getDouble(1) == 38.7)
    assert(fsLog.gets
      .count(_.matches(".*/latlon/(lat|lon|data)/c/.*")) == 0,
      "lone-coordinate min/max must be metadata-only")
    // SUM over the lone coordinate DOES depend on multiplicity (the 1-D
    // selection has none) — store-grid sums must keep declining
    assert(!df.select("lat").agg(sum("lat")).queryExecution.executedPlan
      .toString.contains("ZarrAggScan"))
  }

  test("analyze rebuilds a SHARDED store's lost sidecar (per-shard stats via the scan decode)") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/sharded"
    (0 until 64).map(i => (i.toLong, 1.5 * i)).toDF("id", "x")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").option("inner_chunk_size", "4").save(url)
    val statsDir = Paths.get(s"$base/sharded/${ChunkStats.dirName}")
    Files.walk(statsDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(ZarrMaintenance.analyze(spark, url) == 4) // 64/16 outer shards
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(min("x"), max("x"), sum("id")).collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.5 * 63)
    assert(r.getLong(2) == (0L until 64L).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/sharded/(id|x)/(c|c\\.part[^/]*)/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"restored sharded sidecar must serve the aggregate: ${chunkOpens.mkString(", ")}")
    // and a filtered scan skips whole shards via the rebuilt stats
    fsLog.clear()
    val rows = df.filter("id >= 48").select("id").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (48L until 64L))
    val opens = fsLog.gets
      .filter(_.matches(".*/sharded/id/(c|c\\.part[^/]*)/\\d+$")).distinct
    assert(opens.nonEmpty && opens.forall(_.endsWith("/3")),
      s"shards 0-2 must be stats-skipped: ${opens.mkString(", ")}")
  }

  test("3-D store: analyze, metadata-only aggregates, and chunk skip all work") {
    val url = s"graftstat://$base/cube"
    val store = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    store.writeStoreRootMeta()
    // 4x4x4 int64 cube, 2x2x2 chunks -> 2x2x2 grid = 8 chunks, plus a
    // `time` coordinate on dim 0
    ZarrWriter.writeArray(store, "time", ZarrType.Int64, Seq(4), Seq(2),
      (0 until 4).map(i => 1000L + i: Any), Some(Seq("time")),
      ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "val", ZarrType.Int64, Seq(4, 4, 4), Seq(2, 2, 2),
      (0 until 64).map(_.toLong: Any), Some(Seq("time", "y", "x")),
      ZarrWriter.CodecChain.raw)
    assert(ZarrMaintenance.analyze(spark, url) == 8)
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(count(lit(1)), min("val"), max("val"), sum("val"),
      min("time"), max("time")).collect()(0)
    assert(r.getLong(0) == 64)
    assert(r.getLong(1) == 0 && r.getLong(2) == 63)
    assert(r.getLong(3) == (0L until 64L).sum)
    assert(r.getLong(4) == 1000L && r.getLong(5) == 1003L)
    assert(fsLog.gets
      .count(_.matches(".*/cube/(time|val)/c/.*")) == 0,
      "3-D metadata-only aggregate must read no chunks")
    // a time-coordinate filter keeps grid slab 0 only: row-major 2x2x2
    // grid -> ordinals 0..3 (time chunk 0); chunks 4..7 skip with no GET
    fsLog.clear()
    val rows = df.filter("time <= 1001").select("val").collect()
    assert(rows.length == 32)
    val valOpens = fsLog.gets
      .filter(_.matches(".*/cube/val/c/\\d+/\\d+/\\d+$")).distinct
    assert(valOpens.length == 4 && valOpens.forall(_.contains("/c/0/")),
      s"time filter must prune to the first grid slab: ${valOpens.mkString(", ")}")
  }

  test("1-D analyze segments survive a later append (ordinals are append-stable)") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/grow"
    (0 until 32).map(i => Tuple1(i.toLong)).toDF("id")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").option("stats", "false").save(url)
    assert(ZarrMaintenance.analyze(spark, url) == 2) // grid-signed [2]
    // append WITH stats: the grid is now [3], but the analyze segments'
    // 1-D signature must stay live — dim-0 ordinals never move
    (32 until 48).map(i => Tuple1(i.toLong)).toDF("id")
      .coalesce(1).write.format("zarr").mode("append")
      .option("chunk_size", "16").save(url)
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(count(lit(1)), min("id"), max("id"), sum("id")).collect()(0)
    assert(r.getLong(0) == 48 && r.getLong(1) == 0 && r.getLong(2) == 47)
    assert(r.getLong(3) == (0L until 48L).sum)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/grow/id/(c|c\\.part[^/]*)/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"pre-append analyze segments must still serve the aggregate: ${chunkOpens.mkString(", ")}")
  }

  test("analyze a PURE cross-product store (coordinates only, no data array)") {
    val url = s"graftstat://$base/cross"
    val store = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "aa", ZarrType.Int64, Seq(6), Seq(2),
      (0 until 6).map(i => 10L + i: Any), Some(Seq("aa")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "bb", ZarrType.Int64, Seq(4), Seq(2),
      (0 until 4).map(i => 100L + i: Any), Some(Seq("bb")), ZarrWriter.CodecChain.raw)
    // all-coords geometry: cross product in (sorted) field order -> 3x2 grid
    assert(ZarrMaintenance.analyze(spark, url) == 6)
    val df = spark.read.format("zarr").load(url) // SELECT aa, bb = cross product
    fsLog.clear()
    val r = df.agg(count(lit(1)), min("aa"), max("aa"), sum("bb")).collect()(0)
    assert(r.getLong(0) == 24)
    assert(r.getLong(1) == 10L && r.getLong(2) == 15L)
    assert(r.getLong(3) == 6L * (100 + 101 + 102 + 103)) // each bb repeats 6x
    assert(fsLog.gets
      .count(_.matches(".*/cross/(aa|bb)/c/.*")) == 0,
      "cross-product metadata-only aggregate must read no chunks")
    // a lone-coordinate selection (1-D grid [3]) must not consume the
    // [3,2] segments — declines to a plain scan, stays exact
    val lone = df.select("aa").agg(min("aa"), max("aa"), count(lit(1))).collect()(0)
    assert(lone.getLong(0) == 10L && lone.getLong(1) == 15L && lone.getLong(2) == 6)
  }

  test("re-analyze refreshes: stale segments are purged, coverage stays whole") {
    val url = s"graftstat://$base/v2"
    assert(ZarrMaintenance.analyze(spark, url) == 3) // second run, same store
    val segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 3, s"re-analyze must not double segments: $segs")
  }

  test("INCREMENTAL analyze retires a doc-less segment instead of overlapping it") {
    // a VALID segment whose range lost an inner doc (e.g. a crash
    // between the promotion's segment and doc loops) must be RETIRED
    // and its whole range re-analyzed: writing a fresh segment over a
    // retained one would make listStatsSegments suppress BOTH sides —
    // the run would silently DESTROY the coverage it exists to restore
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/incrseg"
    (0 until 64).map(i => (i.toLong, 1.5 * i)).toDF("id", "x")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").option("inner_chunk_size", "4")
      .option("stats", "false").save(url)
    assert(ZarrMaintenance.analyze(spark, url) == 4)
    val st = ZarrStore(url)
    assert(st.deleteKey(ChunkStats.innerKey(2)))
    val n = ZarrMaintenance.analyze(spark, url, incremental = true)
    assert(n >= 1, s"the doc-less range must be re-analyzed, got $n")
    assert(Files.exists(Paths.get(s"$base/incrseg/_stats/i2.json")))
    val segs = st.listStatsSegments()
    assert(segs.map(_._2).sum == 4 && segs.head._1 == 0L,
      s"coverage must stay whole with no overlap suppression: $segs")
    assert(st.listStatsSegmentsRaw() == segs,
      s"no suppressed segment files may remain: ${st.listStatsSegmentsRaw()}")
  }

  test("INCREMENTAL analyze: a foreign append pays the slab, not the corpus") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/incr"
    def slab(dFrom: Int, dUntil: Int) =
      (for (d <- dFrom until dUntil; x <- 0 until 8)
        yield (d.toLong, x.toLong, d * 100.0 + x)).toDF("day", "x", "v")
    // foreign-like base: a sharded cube written WITHOUT the sidecar
    // (stats=false), then fully analyzed — 8 days, day-shard 4 →
    // shard ordinals 0,1 (day-grid 2, x-grid 1)
    slab(0, 8).write.format("zarr").mode("append")
      .option("dims", "day,x").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").option("stats", "false").save(url)
    assert(ZarrMaintenance.analyze(spark, url) == 2)
    val segsBefore = ZarrStore(url).listStatsSegments()
    val i0Before = Files.readAllBytes(Paths.get(s"$base/incr/_stats/i0.json"))
    // foreign-like append: days 8..11 with stats=false — the sidecar
    // now covers ordinals 0,1 but not the new shard 2
    slab(8, 12).write.format("zarr").mode("append")
      .option("append_dim", "day").option("stats", "false").save(url)
    // plus an out-of-grid junk segment the sweep must retire
    ZarrStore(url).writeText(ChunkStats.segmentKey(500, 4), "{}")
    fsLog.clear()
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 1,
      "incremental must analyze exactly the appended shard")
    // data reads touched ONLY the new shard's object (ordinal 2 = grid
    // index (2,0) → key c/2/0); the covered shards were never fetched
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/incr/v/c/\\d+/\\d+$")).distinct
    assert(dataOpens.nonEmpty && dataOpens.forall(_.endsWith("/c/2/0")),
      s"incremental must not re-read covered shards: ${dataOpens.mkString(", ")}")
    // surviving artifacts untouched; junk retired; coverage whole
    assert(Files.readAllBytes(Paths.get(s"$base/incr/_stats/i0.json"))
      .sameElements(i0Before), "covered docs must survive byte-identical")
    assert(!Files.exists(Paths.get(s"$base/incr/_stats/s500_4.json")))
    val segsAfter = ZarrStore(url).listStatsSegments()
    assert(segsBefore.toSet.subsetOf(segsAfter.toSet), s"$segsBefore vs $segsAfter")
    assert(segsAfter.map(_._2).sum == 3 && segsAfter.head._1 == 0L,
      s"coverage must be whole after incremental: $segsAfter")
    assert(Files.exists(Paths.get(s"$base/incr/_stats/i2.json")))
    // fully covered → the next incremental run is a data-free no-op
    fsLog.clear()
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 0L)
    assert(fsLog.gets
      .count(_.matches(".*/incr/v/c/\\d+/\\d+$")) == 0,
      "a covered store's incremental analyze must read no chunk bytes")
    // and the restored coverage serves: data-predicate masking on the
    // appended shard, metadata-only aggregates over the whole store
    val df = spark.read.format("zarr").load(url)
    fsLog.clear()
    val r = df.agg(count(lit(1)), min("v"), max("v")).collect()(0)
    assert(r.getLong(0) == 96 && r.getDouble(1) == 0.0 && r.getDouble(2) == 1107.0)
    assert(fsLog.gets
      .count(_.matches(".*/incr/(day|x|v)/c/.*")) == 0,
      "post-incremental metadata-only aggregate must read no chunks")
  }

  test("INCREMENTAL analyze refreshes guard-stale and unreadable docs, not just missing ones") {
    // name-presence is NOT coverage: a foreign in-place shard rewrite
    // leaves the doc's recorded mtime stale — the reader declines its
    // mask forever, so incremental analyze must count the ordinal as
    // UNCOVERED and refresh it (else masking stays silently degraded
    // on that shard until a full analyze, while every run reports
    // success)
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/stale"
    (for (d <- 0 until 8; x <- 0 until 8)
      yield (d.toLong, x.toLong, d * 100.0 + x)).toDF("day", "x", "v")
      .write.format("zarr").mode("append")
      .option("dims", "day,x").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").option("stats", "false").save(url)
    assert(ZarrMaintenance.analyze(spark, url) == 2)
    val i0Path = Paths.get(s"$base/stale/_stats/i0.json")
    val i1Path = Paths.get(s"$base/stale/_stats/i1.json")
    val i0Before = Files.readAllBytes(i0Path)
    val i1Before = Files.readAllBytes(i1Path)
    // foreign same-length in-place rewrite of shard 1, simulated by its
    // observable effect: the object's mtime moved past the doc's token
    val shard1 = Paths.get(s"$base/stale/v/c/1/0")
    Files.setLastModifiedTime(shard1, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(shard1).toMillis + 2000))
    fsLog.clear()
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 1,
      "the guard-stale doc's ordinal must be re-analyzed")
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/stale/v/c/\\d+/\\d+$")).distinct
    assert(dataOpens.nonEmpty && dataOpens.forall(_.endsWith("/c/1/0")),
      s"only the stale shard may be re-read: ${dataOpens.mkString(", ")}")
    assert(Files.readAllBytes(i0Path).sameElements(i0Before),
      "the fresh doc must survive byte-identical")
    assert(!Files.readAllBytes(i1Path).sameElements(i1Before),
      "the stale doc must be re-emitted with a fresh mtime token")
    var segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 2 && segs.head._1 == 0L,
      s"coverage must stay whole: $segs")
    // an unreadable doc is equally non-covering: corrupt i0 and the
    // next incremental run must re-analyze ordinal 0 and restore it
    Files.write(i0Path, "{}".getBytes)
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 1,
      "the unreadable doc's ordinal must be re-analyzed")
    assert(ChunkStats.parseInner(
      new String(Files.readAllBytes(i0Path)),
      n => if (n == "v") Some(ZarrType.Float64) else None).isDefined,
      "the corrupt doc must be re-emitted parseable")
    segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 2 && segs.head._1 == 0L, s"$segs")
    // fully covered and fresh: the next run is a data-free no-op
    fsLog.clear()
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 0L)
    assert(fsLog.gets
      .count(_.matches(".*/stale/v/c/\\d+/\\d+$")) == 0,
      "a fresh covered store's incremental analyze must read no chunks")
  }

  test("analyzeRefresh: forced window re-analysis heals an UNSHARDED store's stale segment bounds") {
    // unsharded stores record no per-object freshness token (only
    // sharded inner docs carry len/mtime/etag), so a foreign tool
    // rewriting chunk values in place leaves segment bounds stale and
    // UNDETECTABLE by any metadata sweep: plain incremental analyze is
    // rightly a no-op. The caller that ran the rewrite knows its
    // window; analyzeRefresh(window) must retire exactly the
    // overlapping segments, re-analyze only their extents, and restore
    // metadata-only aggregates to the live values
    val url = s"graftstat://$base/refresh"
    val st = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    st.writeStoreRootMeta()
    ZarrWriter.writeArray(st, "id", ZarrType.Int64, Seq(64), Seq(16),
      (0 until 64).map(_.toLong), None, ZarrWriter.CodecChain.raw,
      fillJson = "0")
    ZarrWriter.writeArray(st, "v", ZarrType.Float64, Seq(64), Seq(16),
      (0 until 64).map(_.toDouble), None, ZarrWriter.CodecChain.raw)
    assert(ZarrMaintenance.analyze(spark, url) == 4)
    // foreign in-place rewrite: chunk 2's window (ordinals 32..47)
    // shifted +1000, everything else unchanged
    ZarrWriter.writeArray(st, "v", ZarrType.Float64, Seq(64), Seq(16),
      (0 until 64).map(i => if (i >= 32 && i < 48) i + 1000.0 else i.toDouble),
      None, ZarrWriter.CodecChain.raw)
    // plain incremental: rightly a no-op (nothing detectable moved)
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 0L)
    // the surgical middle: refresh exactly the rewritten window
    fsLog.clear()
    assert(ZarrMaintenance.analyzeRefresh(spark, url, Seq((2L, 3L))) == 1,
      "exactly the refreshed window must be re-analyzed")
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/refresh/v/c/\\d+$")).distinct
    assert(dataOpens.nonEmpty && dataOpens.forall(_.endsWith("/v/c/2")),
      s"only the refreshed window may be re-read: ${dataOpens.mkString(", ")}")
    val segs = ZarrStore(url).listStatsSegments()
    assert(segs.map(_._2).sum == 4 && segs.head._1 == 0L,
      s"coverage must stay whole: $segs")
    // metadata-only max now sees the rewritten values (47 + 1000)
    fsLog.clear()
    val r = spark.read.format("zarr").load(url)
      .agg(max("v"), min("v")).collect()(0)
    assert(r.getDouble(0) == 1047.0 && r.getDouble(1) == 0.0,
      s"refreshed bounds must serve the live values: $r")
    assert(fsLog.gets
      .count(_.matches(".*/refresh/(id|v)/c/\\d+$")) == 0,
      "post-refresh metadata-only aggregate must read no chunks")
    // refusals stay loud: full mode rejects refresh, ranges must be in-grid
    intercept[ZarrException](ZarrMaintenance.analyzeImpl(
      spark, url, incremental = false, sweepInlineMax = 64, Seq((0L, 1L))))
    intercept[ZarrException](
      ZarrMaintenance.analyzeRefresh(spark, url, Seq((3L, 9L))))
  }

  test("INCREMENTAL sweep: driver and distributed schedulers agree on a >64-segment store") {
    // the sweep distributes above 64 objects (the 10^5-segment
    // micro-batch-ingest shape): pin that both schedulers retire the
    // same junk and keep the same coverage — one visitor, so drift is
    // impossible by construction, and this pin keeps it that way
    val sp = spark; import sp.implicits._
    def build(url: String): Unit = {
      // 66 aligned one-chunk write tasks -> 66 segments + 66 inner docs
      sp.range(0L, 66L * 16, 1L, 66)
        .select(col("id"), (col("id") * 1.5).as("x"))
        .write.format("zarr").mode("append")
        .option("chunk_size", "16").option("inner_chunk_size", "4")
        .option("rows_per_partition", "16") // aligned path: final keys
        .save(url)
      val st = ZarrStore(url)
      assert(st.listStatsSegmentsRaw().size > 64,
        s"fixture must exceed the inline threshold: ${st.listStatsSegmentsRaw().size}")
      assert(st.sidecar().innerOrds.size > 64)
      // junk every failure class: out-of-grid segment, unreadable doc,
      // guard-stale doc (mtime bumped past the recorded token)
      st.writeText(ChunkStats.segmentKey(500, 4), "{}")
      Files.write(Paths.get(s"${url.stripPrefix("graftstat://")}/_stats/i3.json"),
        "{}".getBytes)
      val shard5 = Paths.get(s"${url.stripPrefix("graftstat://")}/x/c/5")
      Files.setLastModifiedTime(shard5, java.nio.file.attribute.FileTime
        .fromMillis(Files.getLastModifiedTime(shard5).toMillis + 2000))
    }
    def sidecar(url: String): (Seq[(Long, Int)], Seq[Long]) = {
      val st = ZarrStore(url)
      (st.listStatsSegmentsRaw(), st.sidecar().innerOrds.sorted)
    }
    val urlA = s"graftstat://$base/abdrv"
    val urlB = s"graftstat://$base/abdist"
    build(urlA); build(urlB)
    val nA = ZarrMaintenance.analyzeImpl(spark, urlA,
      incremental = true, sweepInlineMax = Int.MaxValue) // force driver
    val nB = ZarrMaintenance.analyzeImpl(spark, urlB,
      incremental = true, sweepInlineMax = 0)            // force Spark job
    assert(nA == nB, s"schedulers must analyze the same ordinals: $nA vs $nB")
    assert(nA >= 2, s"the corrupt and stale ordinals must be re-analyzed: $nA")
    val (segA, docA) = sidecar(urlA)
    val (segB, docB) = sidecar(urlB)
    assert(segA == segB, s"segment sidecars diverged: $segA vs $segB")
    assert(docA == docB, s"doc sidecars diverged: $docA vs $docB")
    assert(segA.map(_._2).sum == 66 && !segA.exists(_._1 == 500L),
      s"coverage whole, junk retired: $segA")
    // both stores still answer identically
    val a = spark.read.format("zarr").load(urlA).agg(
      count(lit(1)), min("x"), max("x")).collect()(0)
    assert(a.getLong(0) == 66 * 16 && a.getDouble(1) == 0.0 &&
      a.getDouble(2) == (66 * 16 - 1) * 1.5)
  }
}
