package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-inner-chunk stats (`_stats/i<ord>.json`): DATA column predicates
  * mask inner chunks of sharded stores before any shard byte is
  * fetched. Pins the staleness guards (shape-signature compatibility
  * with smaller-leading-extent append survival, rewrite-path
  * retirement, object length + mtime verification) — a stale data
  * bound would silently DROP matching rows, so each guard gets an
  * adversarial case — and that docs of untouched shards stay LIVE
  * across dim-0 appends (the daily-ingest cube must not lose
  * data-predicate masking on its whole history per append). */
class InnerStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftlat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("inner-stats-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftlat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-innerstats").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("inner-doc encode/parse roundtrip") {
    val json = ChunkStats.encodeInner(
      Seq(32L, 32L), Seq("lat", "lon"), Seq(32, 32),
      Seq(ChunkStats.InnerColInput("data", ZarrType.Float64, Seq(8, 8), 1234L,
        5555L, 42L,
        IndexedSeq(Some(ChunkStats.Bound(0.0, 7.5)), None,
          Some(ChunkStats.Bound(-1.0, 2.0))),
        etag = "ab12cd")))
    val doc = ChunkStats.parseInner(json, _ => Some(ZarrType.Float64)).get
    assert(doc.shape.toSeq == Seq(32L, 32L))
    assert(doc.dims.toSeq == Seq("lat", "lon"))
    assert(doc.chunk.toSeq == Seq(32, 32))
    val cs = doc.cols("data")
    assert(cs.inner.toSeq == Seq(8, 8) && cs.objectLen == 1234L)
    assert(cs.mtime == 5555L && cs.indexSum == 42L && cs.etag == "ab12cd")
    // empty etag is OMITTED from the doc and parses back empty (legacy
    // docs and etag-less stores degrade to the len+mt check)
    val noTag = ChunkStats.parseInner(ChunkStats.encodeInner(
      Seq(32L), Seq("i"), Seq(32),
      Seq(ChunkStats.InnerColInput("data", ZarrType.Float64, Seq(8), 1L,
        -1L, -1L, IndexedSeq(None)))), _ => Some(ZarrType.Float64)).get
    assert(noTag.cols("data").etag.isEmpty && noTag.cols("data").mtime == -1L)
    assert(cs.range(0).contains((0.0, 7.5)))
    assert(cs.range(1).isEmpty)
    assert(cs.range(2).contains((-1.0, 2.0)))
    assert(ChunkStats.parseInner("{not json", _ => Some(ZarrType.Float64)).isEmpty)
    assert(ChunkStats.parseInnerName("i17.json").contains(17L))
    assert(ChunkStats.parseInnerName("s0_4.json").isEmpty)
  }

  /** 32x32 store, ONE (32,32) shard of 8x8 inner chunks (16), data =
    * row-major ordinal (spatially correlated, like real measurements). */
  private def buildStore(dir: String): Unit = {
    fsLog.clear()
    val st = ZarrStore(dir,
      Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName))
    st.writeStoreRootMeta()
    ZarrWriter.writeArray(st, "lat", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lat")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "lon", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lon")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(_.toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.bloscLz4.sharded(Seq(8, 8)))
  }

  test("data-predicate inner masking: fewer bytes, subset emission, identical rows") {
    val dir = s"$base/datapred"
    buildStore(dir)
    val url = s"graftlat://$dir"
    val n = ZarrMaintenance.analyze(spark, url)
    assert(n == 1L)
    assert(new java.io.File(s"$dir/_stats/i0.json").exists(), "analyze wrote the inner doc")
    // data >= 768 keeps exactly the last inner-lat band: 4 of 16 inner chunks
    def run(mode: String): (Seq[String], Int, Long, Long) = {
      fsLog.clear()
      val df = spark.read.format("zarr").option("ranged_reads", mode).load(url)
        .filter("data >= 768.0").select("data")
      val rows = df.collect().map(_.toString).sorted.toSeq
      val scanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.metrics("numOutputRows").value
      }.head
      (rows, fsLog.chunkGets("datapred"),
        fsLog.chunkBytes("datapred"), scanned)
    }
    val (wholeRows, wholeGets, wholeBytes, wholeScanned) = run("never")
    val (rangedRows, rangedGets, rangedBytes, rangedScanned) = run("always")
    assert(wholeRows == (768 until 1024).map(v => s"[$v.0]").sorted)
    assert(rangedRows == wholeRows)
    assert(wholeGets == 1 && wholeScanned == 1024L)
    // ranged: 1 index GET + 1 coalesced range (the kept band is one
    // contiguous run of inner chunks); only the kept rows are emitted
    assert(rangedGets == 2, s"ranged gets $rangedGets")
    assert(rangedScanned == 256L, s"ranged scan emitted $rangedScanned")
    assert(rangedBytes < wholeBytes / 2, s"bytes $rangedBytes vs $wholeBytes")
  }

  test("OBJECT-LENGTH guard: a foreign rewrite makes the doc stale, bounds are ignored") {
    val dir = s"$base/stale"
    buildStore(dir)
    val url = s"graftlat://$dir"
    ZarrMaintenance.analyze(spark, url)
    // rewrite the shard OUT OF BAND (no retirement ran): all zeros, so
    // the object length definitely changes while the stale doc claims
    // bounds 0..1023 per band
    val st = ZarrStore(dir,
      Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName))
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(_ => 0.0), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.bloscLz4.sharded(Seq(8, 8)))
    // stale bounds would keep only the band containing 0 and silently
    // drop 768 matching rows; the length check must reject the doc
    val rows = spark.read.format("zarr").option("ranged_reads", "always").load(url)
      .filter("data <= 0.0").select("data").collect()
    assert(rows.length == 1024, s"stale doc dropped rows: ${rows.length}")
  }

  private def cubeSlab(dFrom: Int, dUntil: Int, vBase: Double = 0.0) = {
    val sp = spark; import sp.implicits._
    (for (d <- dFrom until dUntil; s <- 0 until 8)
      yield (d.toLong, s.toLong, vBase + d * 100.0 + s))
      .toDF("day", "source", "value").repartition(3)
  }

  test("WRITE-TIME inner docs: a fresh sharded cube write masks with no analyze pass") {
    val dir = s"$base/writetime/store"
    cubeSlab(0, 8).write.format("zarr").mode("append")
      .option("dims", "day,source").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").save(dir)
    // the write itself emitted one doc per shard (2 shards), no analyze
    assert(new java.io.File(s"$dir/_stats/i0.json").exists())
    assert(new java.io.File(s"$dir/_stats/i1.json").exists())
    def run(mode: String): Seq[String] =
      spark.read.format("zarr").option("ranged_reads", mode).load(dir)
        .filter("value >= 600.0").collect().map(_.toString).sorted.toSeq
    val whole = run("never")
    assert(whole.length == 2 * 8) // days 6,7
    assert(run("always") == whole)
  }

  test("REGION overwrite retires the window's docs and promotes fresh ones post-swap") {
    val dir = s"$base/region/store"
    cubeSlab(0, 8).write.format("zarr").mode("append")
      .option("dims", "day,source").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").save(dir)
    ZarrMaintenance.analyze(spark, dir)
    assert(new java.io.File(s"$dir/_stats/i0.json").exists())
    assert(new java.io.File(s"$dir/_stats/i1.json").exists())
    // overwrite days 4..7 (= shard ordinal 1) with shifted values
    cubeSlab(4, 8, vBase = 50000.0).write.format("zarr").mode("overwrite")
      .option("region_dim", "day").save(dir)
    assert(new java.io.File(s"$dir/_stats/i0.json").exists(), "out-of-window doc kept")
    // the stale window doc was retired and the write's own staged doc
    // promoted after the chunk swap — its bounds describe the NEW values
    val st = ZarrStore(dir)
    val doc = ChunkStats.parseInner(
      st.readText("_stats/i1.json").getOrElse(fail("window doc missing")),
      _ => Some(ZarrType.Float64)).getOrElse(fail("window doc unparseable"))
    val vals = doc.cols("value")
    assert((0 until vals.mins.length).forall(gi =>
      vals.range(gi).forall { case (lo, _) =>
        lo.asInstanceOf[Double] >= 50000.0 }),
      "refreshed doc must describe the overwritten values")
    def run(mode: String): Seq[String] =
      spark.read.format("zarr").option("ranged_reads", mode).load(dir)
        .filter("value >= 50000.0").collect().map(_.toString).sorted.toSeq
    val whole = run("never")
    assert(whole.length == 32) // the 4 overwritten days x 8 sources
    assert(run("always") == whole)
    // no staging leftovers in the sidecar dir
    assert(!new java.io.File(s"$dir/_stats").listFiles()
      .exists(_.getName.startsWith("c.part")), "staged docs must be promoted away")
  }

  test("ALIGNED APPEND: pre-append docs survive, still mask, and vacuum keeps them") {
    val dir = s"$base/append/store"
    cubeSlab(0, 8).write.format("zarr").mode("append")
      .option("dims", "day,source").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").save(dir)
    ZarrMaintenance.analyze(spark, dir)
    cubeSlab(8, 12).write.format("zarr").mode("append")
      .option("append_dim", "day").save(dir)
    def run(filter: String, mode: String): Seq[String] =
      spark.read.format("zarr").option("ranged_reads", mode).load(dir)
        .filter(filter).collect().map(_.toString).sorted.toSeq
    val whole = run("value >= 800.0", "never")
    assert(whole.length == 4 * 8) // days 8..11
    assert(run("value >= 800.0", "always") == whole)
    // an aligned dim-0 append rewrites NO committed chunk: the old docs
    // (smaller leading extent) remain valid and must survive untouched
    val st = ZarrStore(dir)
    val i0 = ChunkStats.parseInner(st.readText("_stats/i0.json")
      .getOrElse(fail("pre-append doc i0 vanished")), _ => Some(ZarrType.Float64))
      .getOrElse(fail("i0 unparseable"))
    assert(i0.shape(0) == 8L, "i0 must still carry the PRE-append shape")
    // ... and still mask: a query inside the old extent reads identically
    // (days 0..1: 8 + 4 rows satisfy value <= 103)
    val old = run("value <= 103.0", "never")
    assert(old.length == 12 && run("value <= 103.0", "always") == old)
    // the append's own slab doc (ordinal 2, grown shape) is fresh too
    assert(new java.io.File(s"$dir/_stats/i2.json").exists())
    // vacuum must KEEP the surviving docs (reader-compatible) — nothing
    // in _stats is a phantom here
    val rows = ZarrMaintenance.vacuum(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows.getOrElse("_stats", 0L) == 0L, s"vacuum must keep live docs: $rows")
    assert(new java.io.File(s"$dir/_stats/i0.json").exists())
    assert(new java.io.File(s"$dir/_stats/i1.json").exists())
    assert(new java.io.File(s"$dir/_stats/i2.json").exists())
  }

  test("RAGGED APPEND: untouched shard's masking stays LIVE (byte-counted); edge docs retired and re-emitted") {
    val dir = s"$base/ragged/store"
    val url = s"graftlat://$dir"
    val pairs = Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName)
    fsLog.clear()
    // 7 days: ragged base (7 % 4 != 0) — shard 0 = days 0..3 (full),
    // shard 1 = days 4..6 (edge). Write-time docs, no analyze.
    cubeSlab(0, 7).write.format("zarr").mode("append")
      .option("dims", "day,source").option("chunk_shape", "2,4")
      .option("shard_shape", "4,8").save(url)
    // append days 7..10: rewrites the edge shard (ord 1), adds ord 2
    cubeSlab(7, 11).write.format("zarr").mode("append")
      .option("append_dim", "day").save(url)
    val st = ZarrStore(dir, pairs)
    val i0 = ChunkStats.parseInner(st.readText("_stats/i0.json")
      .getOrElse(fail("untouched shard's doc vanished")), _ => Some(ZarrType.Float64))
      .getOrElse(fail("i0 unparseable"))
    assert(i0.shape(0) == 7L, "i0 must be the PRE-append doc, not a rewrite")
    val i1 = ChunkStats.parseInner(st.readText("_stats/i1.json")
      .getOrElse(fail("edge doc not re-emitted")), _ => Some(ZarrType.Float64))
      .getOrElse(fail("i1 unparseable"))
    assert(i1.shape(0) == 11L, "edge doc must describe the grown extent")
    // the re-emitted edge doc's bounds must cover the appended day 7
    val v1 = i1.cols("value")
    assert((0 until v1.mins.length).exists(gi =>
      v1.range(gi).exists(_._2.asInstanceOf[Double] >= 700.0)),
      "edge doc must describe the post-swap values")
    // promotion stamped the FINAL object's mtime (the graftlat swap takes
    // the copy fallback, where the staged file's mtime would be wrong)
    val liveStat = st.objectStat("value", "c/1/0").getOrElse(fail("edge shard missing"))
    assert(v1.mtime == liveStat.mtime && v1.objectLen == liveStat.len,
      s"promoted doc must carry the live object's stat: doc=(${v1.objectLen},${v1.mtime}) live=$liveStat")
    // no staged docs left behind
    assert(!new java.io.File(s"$dir/_stats").listFiles()
      .exists(_.getName.startsWith("c.part")), "staged docs must be promoted away")
    // masking on the UNTOUCHED shard is LIVE: value <= 103 keeps 2 of 4
    // inner chunks of shard 0 → ranged read fetches index + half the data
    def run(mode: String): (Seq[String], Long) = {
      fsLog.clear()
      val rows = spark.read.format("zarr").option("ranged_reads", mode).load(url)
        .filter("value <= 103.0").collect().map(_.toString).sorted.toSeq
      (rows, fsLog.chunkBytes("ragged"))
    }
    val (wholeRows, wholeBytes) = run("never")
    val (rangedRows, rangedBytes) = run("always")
    assert(wholeRows.length == 12 && rangedRows == wholeRows)
    assert(rangedBytes < wholeBytes,
      s"data-predicate masking must be live on the untouched shard after an " +
        s"append: ranged $rangedBytes vs whole $wholeBytes bytes")
  }

  test("MTIME guard: a same-length foreign rewrite (constant-length encoding) is caught") {
    val dir = s"$base/mtguard"
    fsLog.clear()
    val st = ZarrStore(dir,
      Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName))
    st.writeStoreRootMeta()
    ZarrWriter.writeArray(st, "lat", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lat")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "lon", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lon")), ZarrWriter.CodecChain.bloscLz4)
    // RAW inner codec: every same-shape shard packs to IDENTICAL length
    // and identical index bytes — the adversarial case a length-only
    // (or index-checksum) guard cannot catch
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(_.toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.raw.sharded(Seq(8, 8)))
    val url = s"graftlat://$dir"
    ZarrMaintenance.analyze(spark, url)
    val doc0 = ChunkStats.parseInner(st.readText("_stats/i0.json").get,
      _ => Some(ZarrType.Float64)).get
    assert(doc0.cols("data").mtime >= 0, "analyze must record the mtime token")
    val lenBefore = st.objectStat("data", "c/0/0").get.len
    // out-of-band same-shape rewrite with the values REVERSED: same
    // global min/max (the outer segment stays un-refuting for any
    // in-range predicate), SAME object length, SAME index bytes — only
    // the per-inner-chunk distribution moved, the exact situation a
    // stale inner doc silently mis-masks. The object's mtime is forced
    // +7777 ms so a same-millisecond write cannot alias.
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(i => (1023 - i).toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.raw.sharded(Seq(8, 8)))
    assert(st.objectStat("data", "c/0/0").get.len == lenBefore,
      "test premise: the rewrite must be length-preserving")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/data/c/0/0"),
      java.nio.file.attribute.FileTime.fromMillis(doc0.cols("data").mtime + 7777))
    // data >= 1000 now lives in the FIRST inner-row band; the stale
    // doc places it in the LAST — trusting it fetches inner chunks
    // whose new values all refute the residual → ZERO rows emitted.
    // The mtime guard must reject the doc and fall back to the whole
    // read (24 values: 1000..1023).
    val rows = spark.read.format("zarr").option("ranged_reads", "always").load(url)
      .filter("data >= 1000.0").select("data").collect()
    assert(rows.length == 24, s"stale doc dropped rows: ${rows.length}")
  }

  test("ETAG guard: a same-length SAME-MTIME-GRANULE rewrite is caught on stores exposing etags") {
    // the mtime token inherits the store's modification-time
    // granularity (one second on S3-style stores): a same-length
    // foreign rewrite landing inside the same granule passes len+mt.
    // Where the FileSystem exposes a content-derived etag (S3A/ABFS,
    // Hadoop 3.4 EtagSource — EtagFileSystem is the local stand-in),
    // the doc records it and the reader's freshness HEAD must refute
    // the mask. Simulated at its worst: the rewrite RESTORES the
    // original mtime exactly (perfect granule alias), same length,
    // same index bytes (raw codec), values reversed.
    val dir = s"$base/etguard"
    val pairs = Seq("fs.graftetag.impl" ->
      classOf[EtagFileSystem].getName)
    val st = ZarrStore(dir, pairs)
    st.writeStoreRootMeta()
    ZarrWriter.writeArray(st, "lat", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lat")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "lon", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lon")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(_.toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.raw.sharded(Seq(8, 8)))
    val url = s"graftetag://$dir"
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftetag.impl", classOf[EtagFileSystem].getName)
    ZarrMaintenance.analyze(spark, url)
    val doc0 = ChunkStats.parseInner(st.readText("_stats/i0.json").get,
      _ => Some(ZarrType.Float64)).get
    assert(doc0.cols("data").etag.nonEmpty,
      "analyze must record the etag token on an etag-exposing store")
    val mtBefore = st.objectStat("data", "c/0/0").get.mtime
    val lenBefore = st.objectStat("data", "c/0/0").get.len
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(i => (1023 - i).toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.raw.sharded(Seq(8, 8)))
    // perfect granule alias: force the ORIGINAL mtime back
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/data/c/0/0"),
      java.nio.file.attribute.FileTime.fromMillis(mtBefore))
    val after = st.objectStat("data", "c/0/0").get
    assert(after.len == lenBefore && after.mtime == mtBefore,
      "test premise: length and mtime must alias the recorded tokens")
    assert(after.etag != doc0.cols("data").etag,
      "test premise: the content rewrite must move the etag")
    // identical adversary to the MTIME guard, with mtime aliased:
    // only the etag can refute the stale doc — trusting it emits
    // ZERO rows; the whole-read fallback emits 24 (values 1000..1023)
    val rows = spark.read.format("zarr").option("ranged_reads", "always").load(url)
      .filter("data >= 1000.0").select("data").collect()
    assert(rows.length == 24, s"granule-aliased rewrite dropped rows: ${rows.length}")
  }
}
