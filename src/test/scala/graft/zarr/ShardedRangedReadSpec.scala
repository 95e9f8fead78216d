package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Ranged shard reads: a selective scan over a sharded array fetches the
  * shard index plus only the inner chunks its coordinate predicate can
  * match, instead of whole shard objects — bytes proportional to
  * inner-chunk selectivity (the 100 TB object-store lever; see
  * [[Sharding.readRanged]] and the inner-mask logic in
  * ZarrPartitionReader). */
class ShardedRangedReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftlat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("sharded-ranged-read-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftlat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-ranged").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      spark.sparkContext.hadoopConfiguration.unset("graft.zarr.ranged.reads")
      spark.stop()
    }
  }

  // ---- Sharding.readRanged unit behavior ----

  private def buildShardedArray(dir: String, skipInner: Set[Int] = Set.empty): ZarrStore = {
    val st = ZarrStore(dir)
    st.writeStoreRootMeta()
    if (skipInner.isEmpty) {
      ZarrWriter.writeArray(st, "v", ZarrType.Float64, Seq(16, 16), Seq(16, 16),
        (0 until 256).map(_.toDouble), None,
        ZarrWriter.CodecChain.bloscLz4.sharded(Seq(4, 4)), fillJson = "-1.0")
    } else {
      // hand-encode so specific inner chunks are ABSENT in the object
      val metaJson = ZarrWriter.metaJson(ZarrType.Float64, Seq(16, 16), Seq(16, 16),
        "-1.0", None, ZarrWriter.CodecChain.bloscLz4.sharded(Seq(4, 4)))
      st.writeMeta("v", metaJson)
      val meta = ZarrMeta.parse("v", metaJson)
      val spec = meta.shardingSpec.get
      val shard = Sharding.encode(ZarrType.Float64, Seq(16, 16), spec,
        (0 until 256).map(_.toDouble), skipInner)
      st.writeChunk("v", meta.chunkKey(Array(0, 0)), shard)
    }
    st
  }

  /** Decode a (possibly synthetic) shard and return the 256 doubles. */
  private def valuesOf(st: ZarrStore, bytes: Array[Byte]): IndexedSeq[Double] = {
    val meta = st.readMeta("v")
    val col = ChunkColumn.decode(meta, Some(bytes))
    (0 until 256).map(i => col.get(i).asInstanceOf[Double])
  }

  test("readRanged reassembles exactly the masked inner chunks; the rest decode to fill") {
    val st = buildShardedArray(s"$base/unit")
    val meta = st.readMeta("v")
    val spec = meta.shardingSpec.get
    val key = meta.chunkKey(Array(0, 0))
    val whole = valuesOf(st, st.readChunk("v", key).get)
    assert(whole == (0 until 256).map(_.toDouble))

    // several masks, including scattered and all-false
    val masks = Seq(
      Array.tabulate(16)(gi => gi / 4 == 2), // one inner-row band
      Array.tabulate(16)(gi => gi % 5 == 0), // scattered
      Array.fill(16)(false),
      Array.fill(16)(true))
    masks.foreach { mask =>
      val got = valuesOf(st,
        Sharding.readRanged(st, "v", key, spec, meta.chunkShape, mask).get)
      (0 until 256).foreach { i =>
        // element (r, c) lives in inner chunk (r/4)*4 + c/4
        val gi = (i / 16 / 4) * 4 + (i % 16) / 4
        val expect = if (mask(gi)) whole(i) else -1.0
        assert(got(i) == expect, s"elem $i (inner $gi, mask ${mask(gi)})")
      }
    }
  }

  test("readRanged over a shard with ABSENT inner chunks") {
    val st = buildShardedArray(s"$base/absent", skipInner = Set(1, 6, 15))
    val meta = st.readMeta("v")
    val spec = meta.shardingSpec.get
    val key = meta.chunkKey(Array(0, 0))
    val mask = Array.tabulate(16)(gi => gi != 3) // wants absent ones too
    val got = valuesOf(st,
      Sharding.readRanged(st, "v", key, spec, meta.chunkShape, mask).get)
    (0 until 256).foreach { i =>
      val gi = (i / 16 / 4) * 4 + (i % 16) / 4
      val expect =
        if (gi == 3 || Set(1, 6, 15)(gi)) -1.0 // unneeded or absent → fill
        else i.toDouble
      assert(got(i) == expect, s"elem $i (inner $gi)")
    }
  }

  /** A store whose requests `fsLog` records, holding the metadata of a
    * 16x16 array in one shard of 4x4 inner chunks with its index at
    * `loc` ("start" or "end"), and that shard's bytes, not yet stored. */
  private def layoutStore(dir: String, loc: String): (ZarrStore, ZarrArrayMeta, Array[Byte]) = {
    val st = ZarrStore(s"graftlat://$dir",
      Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName))
    st.writeStoreRootMeta()
    val metaJson = ZarrWriter.metaJson(ZarrType.Float64, Seq(16, 16), Seq(16, 16),
      "-1.0", None, ZarrWriter.CodecChain.bloscLz4.sharded(Seq(4, 4)))
      .replaceAll("\"index_location\":\"\\w+\"", s""""index_location":"$loc"""")
    st.writeMeta("v", metaJson)
    val meta = ZarrMeta.parse("v", metaJson)
    assert(meta.shardingSpec.get.indexAtEnd == (loc == "end"))
    (st, meta, Sharding.encode(ZarrType.Float64, Seq(16, 16), meta.shardingSpec.get,
      (0 until 256).map(_.toDouble)))
  }

  test("readRanged honors index_location start") {
    // an index at the end is found from the object's length, one HEAD;
    // an index at offset 0 needs none
    Seq("start" -> 0, "end" -> 1).foreach { case (loc, heads) =>
      val dir = s"$base/idx$loc"
      val (st, meta, shard) = layoutStore(dir, loc)
      val key = meta.chunkKey(Array(0, 0))
      st.writeChunk("v", key, shard)
      val mask = Array.tabulate(16)(_ < 8)
      fsLog.clear()
      val got = valuesOf(st,
        Sharding.readRanged(st, "v", key, meta.shardingSpec.get, meta.chunkShape, mask).get)
      assert(fsLog.requests.filter(_.startsWith("HEAD ")) == List.fill(heads)(s"HEAD $dir/v/$key"),
        s"index_location $loc: ${fsLog.requests}")
      (0 until 256).foreach { i =>
        val gi = (i / 16 / 4) * 4 + (i % 16) / 4
        assert(got(i) == (if (gi < 8) i.toDouble else -1.0), s"index_location $loc, elem $i")
      }
    }
  }

  test("a shard cut short of its index fails by name at either index location") {
    Seq("start", "end").foreach { loc =>
      val (st, meta, shard) = layoutStore(s"$base/short$loc", loc)
      val key = meta.chunkKey(Array(0, 0))
      // 100 bytes: short of the 16 x 16-byte index plus its crc32c
      st.writeChunk("v", key, shard.take(100))
      val ranged = intercept[ZarrException] {
        Sharding.readRanged(st, "v", key, meta.shardingSpec.get, meta.chunkShape,
          Array.fill(16)(true))
      }
      assert(ranged.getMessage.startsWith("shard object too small for its index: "),
        s"index_location $loc: ${ranged.getMessage}")
      val whole = intercept[ZarrException](ChunkColumn.decode(meta, st.readChunk("v", key)))
      assert(whole.getMessage == "shard object too small for its index: 100 < 260 bytes")
    }
  }

  test("readRanged returns None for an absent shard object") {
    val st = buildShardedArray(s"$base/missing")
    val meta = st.readMeta("v")
    val spec = meta.shardingSpec.get
    assert(Sharding.readRanged(st, "v", "c/9/9", spec, meta.chunkShape,
      Array.fill(16)(true)).isEmpty)
  }

  // ---- end-to-end scan behavior ----

  /** lat/lon sharded store: data 32x32 in ONE 32x32 shard of 8x8 inner
    * chunks (16 inner), coords plain-chunked at 32. */
  private def buildLatLon(dir: String): Unit = {
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

  test("selective coord-predicate scan: ranged reads return identical rows with fewer bytes") {
    val dir = s"$base/e2e"
    buildLatLon(dir)
    val url = s"graftlat://$dir"
    val hc = spark.sparkContext.hadoopConfiguration
    // predicate keeps lat rows 8..15 AND lon cols 16..23: 1 inner chunk of 16
    // NOTE: no orderBy — a global sort adds a range-partitioner SAMPLING
    // pass that executes the scan twice; sort driver-side instead
    def run(): (Seq[String], Int, Long, Long) = {
      fsLog.clear()
      val df = spark.read.format("zarr").load(url)
        .filter("lat >= 8.0 AND lat < 16.0 AND lon >= 16.0 AND lon < 24.0")
      val rows = df.collect().map(_.toString).sorted.toSeq
      // rows the SCAN emitted into the residual filter (no AQE here —
      // no exchange — so BatchScanExec sits directly in the plan)
      val scanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.metrics("numOutputRows").value
      }.head
      (rows, fsLog.chunkGets("e2e"), fsLog.chunkBytes("e2e"), scanned)
    }
    hc.set("graft.zarr.ranged.reads", "never")
    val (wholeRows, wholeGets, wholeBytes, wholeScanned) = run()
    hc.set("graft.zarr.ranged.reads", "always")
    val (rangedRows, rangedGets, rangedBytes, rangedScanned) = run()
    hc.unset("graft.zarr.ranged.reads")

    assert(wholeRows.length == 64)
    assert(rangedRows == wholeRows)
    // whole path emits every extent row (fill in skipped regions) for
    // the residual to discard; the masked path emits ONLY the kept
    // inner region's rows (8x8 lat band x lon band of one inner chunk)
    assert(wholeScanned == 1024L, s"whole scan emitted $wholeScanned")
    assert(rangedScanned == 64L, s"ranged scan emitted $rangedScanned")
    // whole: lat + lon + 1 shard = 3 chunk GETs; ranged: lat + lon +
    // index GET + 1 coalesced range = 4, but far fewer bytes (1 of 16
    // inner chunks + the 260-byte index instead of the whole object)
    assert(rangedGets == wholeGets + 1, s"gets: ranged $rangedGets vs whole $wholeGets")
    assert(rangedBytes < wholeBytes / 2,
      s"bytes: ranged $rangedBytes vs whole $wholeBytes")
  }

  test("fully-refuted shard skips the object outright: coordinate GETs only") {
    val dir = s"$base/e2e-allref"
    buildLatLon(dir)
    val url = s"graftlat://$dir"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.zarr.ranged.reads", "always")
    fsLog.clear()
    // every inner chunk's lat box refutes the predicate: the all-false
    // mask already forces zero emitted rows, so the index GET and the
    // synthetic-shard decode the reader used to pay bought nothing
    val rows = spark.read.format("zarr").load(url)
      .filter("lat >= 100.0 AND lon >= 16.0").collect()
    hc.unset("graft.zarr.ranged.reads")
    assert(rows.isEmpty)
    assert(fsLog.chunkGets("e2e-allref") == 2,
      s"lat + lon only — got ${fsLog.chunkGets("e2e-allref")}")
  }

  test("unselective predicate keeps the single-GET whole-shard path") {
    val dir = s"$base/e2e-unsel"
    buildLatLon(dir)
    val url = s"graftlat://${dir}"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.zarr.ranged.reads", "always")
    fsLog.clear()
    // keeps 3 of 4 lat bands (75% of inner chunks): not worth the extra
    // index round-trip, so the reader must fall back to one whole GET
    val rows = spark.read.format("zarr").load(url)
      .filter("lat >= 8.0").collect()
    hc.unset("graft.zarr.ranged.reads")
    assert(rows.length == 24 * 32)
    assert(fsLog.chunkGets("e2e-unsel") == 3) // lat + lon + 1 whole shard
  }

  test("data-column predicates do not trigger inner masking (values unknown without the bytes)") {
    val dir = s"$base/e2e-datapred"
    buildLatLon(dir)
    val url = s"graftlat://${dir}"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.zarr.ranged.reads", "always")
    fsLog.clear()
    val rows = spark.read.format("zarr").load(url)
      .filter("data >= 1000.0").collect()
    hc.unset("graft.zarr.ranged.reads")
    assert(rows.length == 24)
    assert(fsLog.chunkGets("e2e-datapred") == 3)
  }

  test("edge shards: ranged reads trim to the valid extent like whole reads") {
    val dir = s"$base/e2e-edge"
    fsLog.clear()
    val st = ZarrStore(dir)
    st.writeStoreRootMeta()
    // 20 rows: shard rows of 16 → second shard row is a ragged edge
    ZarrWriter.writeArray(st, "lat", ZarrType.Float64, Seq(20), Seq(16),
      (0 until 20).map(_.toDouble), Some(Seq("lat")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "lon", ZarrType.Float64, Seq(16), Seq(16),
      (0 until 16).map(_.toDouble), Some(Seq("lon")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(20, 16), Seq(16, 16),
      (0 until 320).map(_.toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.bloscLz4.sharded(Seq(4, 4)))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.zarr.ranged.reads", "always")
    // keeps lat rows 16..19 (the ragged edge shard) and lon 0..3: 1 of
    // the edge shard's 16 inner slots, most of which are out of extent
    val rows = spark.read.format("zarr").load(dir)
      .filter("lat >= 16.0 AND lon < 4.0").collect()
    hc.unset("graft.zarr.ranged.reads")
    assert(rows.length == 16)
    // schema order is sorted array names: data, lat, lon
    assert(rows.map(r => r.getDouble(0)).sorted.toSeq ==
      (16 until 20).flatMap(r => (0 until 4).map(c => (r * 16 + c).toDouble)))
  }

  test("a store written with its shard indexes at the end keeps that layout through an append") {
    val p = s"$base/end-append"
    // three whole shards: a tabular append needs a whole last chunk
    spark.range(0, 96, 1, 1).selectExpr("id", "id * 2 AS w")
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "32").option("inner_chunk_size", "8").save(p)
    // convert to the end layout: every shard re-encoded under the end
    // spec, and index_location rewritten in the array and root documents
    val st = ZarrStore(p)
    val view = st.committedView()
    def toEnd(json: String) = json.replace(""""index_location":"start"""", """"index_location":"end"""")
    view.metas.foreach { m =>
      val endMeta = ZarrMeta.parse(m.name, toEnd(m.sourceJson))
      (0 until 3).foreach { o =>
        val key = view.manifest.chunkKeyOf(m, Array(o), o.toLong)
        val col = ChunkColumn.decode(m, st.readChunk(m.name, key))
        st.writeChunk(m.name, key, ChunkColumn.encode(endMeta, (0 until 32).map(col.get)))
      }
      st.writeMeta(m.name, endMeta.sourceJson)
    }
    st.writeText("zarr.json", toEnd(st.readText("zarr.json").get))
    assert(ZarrStore(p).committedView().metas.forall(_.shardingSpec.get.indexAtEnd))

    // two more shards, the last an edge shard of 22 rows
    spark.range(96, 150, 1, 1).selectExpr("id", "id * 2 AS w")
      .write.format("zarr").mode("append").save(p)
    val after = ZarrStore(p)
    assert(after.committedView().metas.map(m => m.name -> m.shardingSpec.get.indexAtEnd) ==
      Seq("id" -> true, "w" -> true))
    assert(Seq("id", "w").forall(n => after.readMeta(n).shardingSpec.get.indexAtEnd))
    def rows(df: DataFrame) = df.select("id", "w").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    Seq("never", "always").foreach { rr =>
      val df = spark.read.format("zarr").option("ranged_reads", rr).load(p)
      assert(rows(df) == (0L until 150L).map(i => (i, i * 2)), s"ranged_reads=$rr")
      assert(rows(df.filter("w >= 190 AND w < 220")) == (95L until 110L).map(i => (i, i * 2)),
        s"filtered, ranged_reads=$rr")
    }
  }

  test("per-scan ranged_reads option drives the policy and beats the session conf (r20)") {
    val dir = s"$base/e2e-opt"
    buildLatLon(dir)
    val url = s"graftlat://$dir"
    val hc = spark.sparkContext.hadoopConfiguration
    // session conf says NEVER; the scan-scoped option says ALWAYS — the
    // option must win (appended last into the store's conf pairs), so
    // concurrent readers of different stores can disagree without racing
    // a shared conf mutation
    hc.set("graft.zarr.ranged.reads", "never")
    try {
      fsLog.clear()
      val df = spark.read.format("zarr").option("ranged_reads", "always").load(url)
        .filter("lat >= 8.0 AND lat < 16.0 AND lon >= 16.0 AND lon < 24.0")
      val rows = df.collect()
      assert(rows.length == 64)
      // the masked kept-row emission is the ranged path's signature: the
      // whole-object path would emit all 1024 extent rows to the residual
      val scanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.metrics("numOutputRows").value
      }.head
      assert(scanned == 64L, s"option did not force ranged reads (scan emitted $scanned)")
    } finally hc.unset("graft.zarr.ranged.reads")
    // an unknown policy value refuses by name at scan construction
    val e = intercept[Exception] {
      spark.read.format("zarr").option("ranged_reads", "sometimes").load(url).collect()
    }
    assert(e.getMessage.contains("ranged_reads"), e.getMessage)
  }

  test("e2e: coordinate-masked ranged scan over a sharded BINARY data column (r20)") {
    // the q120 payload class at the r16 read altitude: a vlen blob
    // column rides the SAME coordinate-driven inner masks as fixed-width
    // data (binary itself never carries stats — no order), and the
    // ranged fetch must slice its variable-length inner chunks by the
    // shard index's stored offsets, byte-exactly, with fewer bytes
    val dir = s"$base/e2e-vlen"
    fsLog.clear()
    val st = ZarrStore(dir,
      Seq("fs.graftlat.impl" -> classOf[RecordingFileSystem].getName))
    st.writeStoreRootMeta()
    ZarrWriter.writeArray(st, "lat", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lat")), ZarrWriter.CodecChain.bloscLz4)
    ZarrWriter.writeArray(st, "lon", ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq("lon")), ZarrWriter.CodecChain.bloscLz4)
    def payload(i: Int, j: Int): Array[Byte] =
      Array.tabulate(1 + (i * 32 + j) % 13)(k => ((i * 131 + j * 31 + k) % 251).toByte)
    ZarrWriter.writeArray(st, "blob", ZarrType.Bytes, Seq(32, 32), Seq(32, 32),
      for (i <- 0 until 32; j <- 0 until 32) yield payload(i, j),
      Some(Seq("lat", "lon")), ZarrWriter.CodecChain.zstd.sharded(Seq(8, 8)),
      fillJson = "null")
    val url = s"graftlat://$dir"
    def run(mode: String): (Seq[(Double, Double, Array[Byte])], Int, Long) = {
      fsLog.clear()
      val rows = spark.read.format("zarr").option("ranged_reads", mode).load(url)
        .filter("lat >= 8.0 AND lat < 16.0 AND lon >= 16.0 AND lon < 24.0")
        .collect()
        .map(r => (r.getAs[Double]("lat"), r.getAs[Double]("lon"),
          r.getAs[Array[Byte]]("blob")))
        .sortBy(t => (t._1, t._2)).toSeq
      (rows, fsLog.chunkGets("e2e-vlen"), fsLog.chunkBytes("e2e-vlen"))
    }
    val (wholeRows, wholeGets, wholeBytes) = run("never")
    val (rangedRows, rangedGets, rangedBytes) = run("always")
    assert(wholeRows.length == 64)
    assert(rangedRows.map(t => (t._1, t._2)) == wholeRows.map(t => (t._1, t._2)))
    rangedRows.foreach { case (lat, lon, blob) =>
      assert(java.util.Arrays.equals(blob, payload(lat.toInt, lon.toInt)),
        s"payload at ($lat,$lon)")
    }
    // ranged = lat + lon + index GET + 1 coalesced inner range; whole =
    // lat + lon + the full shard object — one extra GET, far fewer bytes
    assert(rangedGets == wholeGets + 1, s"gets: ranged $rangedGets vs whole $wholeGets")
    assert(rangedBytes < wholeBytes / 2,
      s"bytes: ranged $rangedBytes vs whole $wholeBytes")
  }

  test("readRanged on a vlen BINARY shard slices inner chunks by stored offsets (r20)") {
    val st = ZarrStore(s"$base/vlenranged")
    st.writeStoreRootMeta()
    // 16 variable-length payloads, one shard of 4 inner chunks of 4
    val payloads = (0 until 16).map(i =>
      Array.tabulate(3 + (i % 5) * 7)(j => ((i * 31 + j) % 251).toByte))
    val metaJson = ZarrWriter.metaJson(ZarrType.Bytes, Seq(16), Seq(16), "null", None,
      ZarrWriter.CodecChain.zstd.sharded(Seq(4)))
    st.writeMeta("blob", metaJson)
    val meta = ZarrMeta.parse("blob", metaJson)
    val spec = meta.shardingSpec.get
    val key = meta.chunkKey(Array(0))
    st.writeChunk("blob", key,
      Sharding.encode(ZarrType.Bytes, Seq(16), spec, payloads))
    val masks = Seq(
      Array(true, false, true, false),
      Array(false, false, false, true),
      Array.fill(4)(true))
    masks.foreach { mask =>
      val col = ChunkColumn.decode(meta,
        Sharding.readRanged(st, "blob", key, spec, meta.chunkShape, mask))
      (0 until 16).foreach { i =>
        val expect: Array[Byte] =
          if (mask(i / 4)) payloads(i) else Array.emptyByteArray
        assert(java.util.Arrays.equals(col.get(i).asInstanceOf[Array[Byte]], expect),
          s"element $i under mask ${mask.mkString(",")}")
      }
    }
  }
}
