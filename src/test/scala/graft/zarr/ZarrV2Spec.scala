package graft.zarr

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Zarr v2 read support, validated against fixtures written by an
  * INDEPENDENT implementation of the v2 spec
  * (`tools/gen_zarr_v2_fixture.py` — stdlib json/struct/zlib only, no
  * shared code with this reader). The reference reads v2 transparently
  * (`zarrs`' `Array::async_open` falls back from `zarr.json` to
  * `.zarray`), so a user pointing the connector at an existing v2 store
  * must get the same behavior.
  *
  * Coverage: dtype translation incl. big-endian and unsigned, zlib and
  * raw chunks, C and F (transpose) order, edge chunks (v2 pads them to
  * full size), absent chunk → fill value, per-array
  * `dimension_separator`, `.zmetadata` consolidated inference, and the
  * v3-only write guard.
  */
class ZarrV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val store2d = new java.io.File("src/test/resources/zarr_v2_2d").getAbsolutePath
  private val store1d = new java.io.File("src/test/resources/zarr_v2_1d").getAbsolutePath

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-v2-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("2-D v2 store: schema is (counts int, pressure float, temp double)") {
    val sch = spark.read.format("zarr").load(store2d).schema
    assert(sch.fieldNames.toSeq == Seq("counts", "pressure", "temp"))
    assert(sch("counts").dataType.typeName == "integer")
    assert(sch("pressure").dataType.typeName == "float")
    assert(sch("temp").dataType.typeName == "double")
  }

  test("2-D v2 store: zlib/C, zlib/F(transpose), raw/big-endian all decode; absent chunk fills") {
    val rows = spark.read.format("zarr").load(store2d)
      .select("counts", "pressure", "temp").collect()
    assert(rows.length == 35)
    rows.foreach { r =>
      val c = r.getInt(0)
      val i = c / 100
      val j = c % 100
      assert(i >= 0 && i < 5 && j >= 0 && j < 7, s"counts=$c is not a valid position")
      assert(r.getFloat(1) == (0.25 * (7 * i + j)).toFloat, s"pressure at ($i,$j)")
      // chunk (1,1) of temp was deleted: rows i in 3..4, j in 4..6 read fill
      val expectTemp = if (i >= 3 && j >= 4) 99.5 else 10.0 * i + j + 0.5
      assert(r.getDouble(2) == expectTemp, s"temp at ($i,$j)")
    }
    // every grid position appears exactly once (F-order counts decode is a
    // permutation-free roundtrip)
    assert(rows.map(_.getInt(0)).sorted.toSeq ==
      (for { i <- 0 until 5; j <- 0 until 7 } yield 100 * i + j).sorted)
  }

  test("2-D v2 store: residual filter is exact over v2 chunks") {
    val n = spark.read.format("zarr").load(store2d)
      .where("counts >= 300 AND temp < 99.0").count()
    // i in 3..4; temp<99 excludes the filled region j>=4 -> j in 0..3
    assert(n == 2 * 4)
  }

  test("1-D v2 store: bool, unsigned u8 (short), '/'-separated int64 keys") {
    val rows = spark.read.format("zarr").load(store1d)
      .select("flag", "id64", "u8").orderBy("id64").collect()
    assert(rows.length == 11)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getBoolean(0) == (i % 3 == 0), s"flag[$i]")
      assert(r.getLong(1) == 1000000000000L + i, s"id64[$i]")
      assert(r.getShort(2) == (245 + i % 11).toShort, s"u8[$i] must be unsigned-widened")
    }
  }

  test(".zmetadata consolidated: one-GET inference returns all three arrays") {
    val view = ZarrStore(store1d).committedView()
    assert(view.consolidated, "v2 .zmetadata must satisfy the committed view")
    val (metas, manifest) = (view.metas, view.manifest)
    assert(metas.map(_.name) == Seq("flag", "id64", "u8"))
    assert(metas.forall(_.formatVersion == 2))
    assert(manifest.isEmpty)
    assert(metas.find(_.name == "id64").get.chunkKeySeparator == "/")
  }

  test("v2 chunk keys are bare dot/slash-separated indices") {
    val m2 = ZarrStore(store2d).readMeta("temp")
    assert(m2.chunkKey(Array(1, 0)) == "1.0")
    val m1 = ZarrStore(store1d).readMeta("id64")
    assert(m1.chunkKey(Array(2)) == "2")
  }

  test("v2 metadata translation rejects what it cannot decode, loudly") {
    def v2(dtype: String, filters: String = "null",
        compressor: String = "null"): String =
      s"""{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C",
         |"fill_value":0,"filters":$filters,"compressor":$compressor,
         |"dtype":"$dtype"}""".stripMargin
    intercept[ZarrException] { // unsupported numcodecs filter
      ZarrMeta.parse("a", v2("<i4", filters = """[{"id":"fixedscaleoffset"}]"""))
    }
    intercept[ZarrException] { // unknown compressor
      ZarrMeta.parse("a", v2("<i4", compressor = """{"id":"snappy"}"""))
    }
    intercept[ZarrException] { // '=' writer-native order is ambiguous
      ZarrMeta.parse("a", v2("=i4"))
    }
    intercept[ZarrException] { // '|' on a multi-byte numeric is malformed
      ZarrMeta.parse("a", v2("|i4"))
    }
    intercept[ZarrException] { // object dtype without an object codec
      ZarrMeta.parse("a", v2("|O"))
    }
    intercept[ZarrException] { // delta with a re-typing astype
      ZarrMeta.parse("a", v2("<i4",
        filters = """[{"id":"delta","dtype":"<i4","astype":"<i2"}]"""))
    }
    intercept[ZarrException] { // 'U' needs an explicit byte order
      ZarrMeta.parse("a", v2("|U5"))
    }
    intercept[ZarrException] { // delta over strings is meaningless
      ZarrMeta.parse("a", v2("|S4", filters = """[{"id":"delta"}]"""))
    }
    // and the happy path parses with the expected translation
    val m = ZarrMeta.parse("a", v2("<i4",
      compressor = """{"id":"zlib","level":6}"""))
    assert(m.formatVersion == 2)
    assert(m.codecs.map(_.name) == Seq("bytes", "zlib"))
  }

  private val storeTyped =
    new java.io.File("src/test/resources/zarr_v2_typed").getAbsolutePath

  test("v2 string dtypes: |O+vlen-utf8, |S4, <U5, >U3 all decode; absent vlen chunk fills ''") {
    val sch = spark.read.format("zarr").load(storeTyped).schema
    Seq("label", "code", "uname", "tag").foreach(n =>
      assert(sch(n).dataType.typeName == "string", s"$n must map to Spark string"))
    val rows = spark.read.format("zarr").load(storeTyped)
      .select("ds", "label", "code", "uname", "tag")
      .orderBy("ds").collect() // ds = 1e9 + 17*i*i is strictly increasing
    assert(rows.length == 11)
    val labels = Seq("", "néé", "doc-2", "αβγ", "doc-4", "x" * 7, "doc-6",
      "doc-7", "", "", "") // chunk 2 absent -> fill "" for i in 8..10
    val codes = Seq("AA", "BBB", "C", "DDDD", "E", "FF", "GGG", "H", "II",
      "JJJ", "K")
    val unames = Seq("αβ", "übèr", "ζ", "north", "süd", "ωμέγα", "east",
      "wést", "ñ", "δέλτα", "x")
    val tags = Seq("ab", "ω", "xyz", "t", "ββ", "qq", "r", "sss", "tt", "u",
      "vvv")
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(1) == labels(i), s"label[$i]")
      assert(r.getString(2) == codes(i), s"code[$i] (|S4 NUL-strip)")
      assert(r.getString(3) == unames(i), s"uname[$i] (<U5 UCS-4 LE)")
      assert(r.getString(4) == tags(i), s"tag[$i] (>U3 UCS-4 BE)")
    }
    // S-dtype fill_value is Base64 per the v2 spec: pad's fill is
    // b64("NA") and its chunk 1 (indices 4..7) is absent
    val pad = spark.read.format("zarr").load(storeTyped)
      .select("ds", "pad").orderBy("ds").collect().map(_.getString(1))
    val expectPad = Seq("p0", "p1", "p2", "p3", "NA", "NA", "NA", "NA",
      "p8", "p9", "p10")
    assert(pad.toSeq == expectPad, pad.mkString(","))
  }

  test("v2 numcodecs filters: delta(<i4,+zlib), delta(<f8), delta+shuffle(<i8,+zlib)") {
    val rows = spark.read.format("zarr").load(storeTyped)
      .select("ds", "dv", "dd").orderBy("ds").collect()
    assert(rows.length == 11)
    val dv = Seq(1000, 1007, 995, 1020, 1020, 980, 1001, 1002, 999, 1050, 1049)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == 1000000000L + 17L * i * i, s"ds[$i] (delta+shuffle)")
      assert(r.getInt(1) == dv(i), s"dv[$i] (delta int32)")
      assert(r.getDouble(2) == 0.5 * i * i - 3.0 * i, s"dd[$i] (delta float64)")
    }
  }

  test("v2 numcodecs filters: fixedscaleoffset, fso→delta re-typing, packbits, quantize") {
    val rows = spark.read.format("zarr").load(storeTyped)
      .select("ds", "fso", "fsod", "pb", "qz").orderBy("ds").collect()
    assert(rows.length == 11)
    rows.zipWithIndex.foreach { case (r, i) =>
      // decode = stored/scale + offset in float64 (numcodecs semantics),
      // with stored = round_half_even((x-offset)*scale) = exact 3i / 7i²
      assert(r.getDouble(1) == 3.0 * i / 10.0 + 1000.0, s"fso[$i]")
      assert(r.getDouble(2) == 7.0 * i * i / 100.0, s"fsod[$i] (delta over the i2 astype)")
      assert(r.getBoolean(3) == (i % 3 == 1), s"pb[$i] (packbits)")
      assert(r.getFloat(4) == 0.5f * i, s"qz[$i] (quantize = identity decode)")
    }
  }

  test("v2 |O + vlen-bytes object arrays read as Spark BinaryType (multimodal blobs)") {
    val df = spark.read.format("zarr").load(storeTyped)
    assert(df.schema("blob").dataType.typeName == "binary")
    val rows = df.select("ds", "blob").orderBy("ds").collect()
    assert(rows.length == 11)
    def payload(i: Int): Array[Byte] =
      Array.tabulate[Byte](i % 5 + 1)(j => ((i * 7 + j) % 256).toByte)
    rows.zipWithIndex.foreach { case (r, i) =>
      val got = r.getAs[Array[Byte]](1)
      // chunk 1 (indices 4..7) is absent -> fill = empty payload
      val expect = if (i >= 4 && i <= 7) Array.emptyByteArray else payload(i)
      assert(got.sameElements(expect), s"blob[$i]: ${got.mkString(",")}")
    }
    // binary payloads flow through Spark SQL functions (the multimodal
    // decode surface takes exactly this column shape)
    val lens = df.selectExpr("length(blob) AS l").orderBy(org.apache.spark.sql.functions.col("l"))
      .collect().map(_.getInt(0)).toSeq
    assert(lens.sum == (0 until 11).map(i => if (i >= 4 && i <= 7) 0 else i % 5 + 1).sum)
    // binary columns never record stats: raw bytes have no order the
    // skip machinery could soundly use
    assert(ChunkStats.minMaxBound(ZarrType.Bytes,
      Seq(Array[Byte](1, 2), Array[Byte](3))).isEmpty)
    assert(ChunkStats.chunkSum(ZarrType.Bytes, Seq(Array[Byte](1))).isEmpty)
    intercept[ZarrException] { // and a non-object dtype cannot claim the codec
      ZarrMeta.parse("a",
        """{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C","fill_value":0,
          |"filters":[{"id":"vlen-bytes"}],"compressor":null,"dtype":"<i4"}""".stripMargin)
    }
  }

  test("v2 bz2 and lzma(XZ) compressors decode via the bundled codecs") {
    val rows = spark.read.format("zarr").load(storeTyped)
      .select("ds", "bzv", "xzv").orderBy("ds").collect()
    assert(rows.length == 11)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(1) == 13 * i - 40, s"bzv[$i] (bz2)")
      assert(r.getDouble(2) == 2.5 * i - 7.0, s"xzv[$i] (lzma/XZ)")
    }
    // non-XZ lzma container formats are loud errors, not garbage
    intercept[ZarrException] {
      ZarrMeta.parse("a",
        """{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C","fill_value":0,
          |"filters":null,"dtype":"<i4",
          |"compressor":{"id":"lzma","format":2,"preset":null,"filters":null}}""".stripMargin)
    }
  }

  test("v2 filter translation rejects unsound stacks, loudly") {
    def v2(dtype: String, filters: String): String =
      s"""{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C",
         |"fill_value":0,"filters":$filters,"compressor":null,
         |"dtype":"$dtype"}""".stripMargin
    intercept[ZarrException] { // fso on an int array
      ZarrMeta.parse("a", v2("<i4",
        """[{"id":"fixedscaleoffset","offset":0,"scale":10,"dtype":"<i4","astype":"|u1"}]"""))
    }
    intercept[ZarrException] { // fso with a float astype
      ZarrMeta.parse("a", v2("<f8",
        """[{"id":"fixedscaleoffset","offset":0,"scale":10,"dtype":"<f8","astype":"<f4"}]"""))
    }
    intercept[ZarrException] { // delta width must match the RE-TYPED repr
      ZarrMeta.parse("a", v2("<f8",
        """[{"id":"fixedscaleoffset","offset":0,"scale":10,"dtype":"<f8","astype":"|u1"},
          |{"id":"delta","dtype":"<f8"}]""".stripMargin))
    }
    intercept[ZarrException] { // packbits needs bool
      ZarrMeta.parse("a", v2("<i4", """[{"id":"packbits"}]"""))
    }
    intercept[ZarrException] { // fso scale 0 would divide by zero on decode
      ZarrMeta.parse("a", v2("<f8",
        """[{"id":"fixedscaleoffset","offset":0,"scale":0,"dtype":"<f8","astype":"|u1"}]"""))
    }
    // the happy re-typing path parses with delta bound to the astype
    val m = ZarrMeta.parse("a", v2("<f8",
      """[{"id":"fixedscaleoffset","offset":0,"scale":100,"dtype":"<f8","astype":"<i2"},
        |{"id":"delta","dtype":"<i2"}]""".stripMargin))
    assert(m.codecs.map(_.name) == Seq("bytes", "v2-fso", "v2-delta"))
  }

  test("v2 filter ordering/default soundness: es default 4, pre-fso little binding") {
    def v2(dtype: String, filters: String): String =
      s"""{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C",
         |"fill_value":0,"filters":$filters,"compressor":null,
         |"dtype":"$dtype"}""".stripMargin
    // numcodecs Shuffle() defaults elementsize to 4, NOT the dtype width —
    // an omitted key on an f8 array must unshuffle with stride 4
    val sh = ZarrMeta.parse("a", v2("<f8", """[{"id":"shuffle"}]"""))
    assert(sh.codecs.find(_.name == "v2-shuffle").get
      .config("elementsize").asInt() == 4)
    // a delta BEFORE a fixedscaleoffset on a big-endian dtype must bind
    // little on the decode side: un-fso re-emits little-endian floats
    val df = ZarrMeta.parse("a", v2(">f8",
      """[{"id":"delta","dtype":">f8"},
        |{"id":"fixedscaleoffset","offset":0,"scale":10,"dtype":">f8","astype":"<i2"}]""".stripMargin))
    val d = df.codecs.find(_.name == "v2-delta").get
    assert(d.config("endian").asText() == "little",
      "pre-fso delta must read the normalized little-endian floats")
    assert(df.codecs.find(_.name == "bytes").get
      .config("endian").asText() == "little",
      "the final interpretation after un-fso is little-endian")
    // shuffle BEFORE fso on a big-endian dtype cannot be byte-faithful
    intercept[ZarrException] {
      ZarrMeta.parse("a", v2(">f8",
        """[{"id":"shuffle","elementsize":8},
          |{"id":"fixedscaleoffset","offset":0,"scale":10,"dtype":">f8","astype":"<i2"}]""".stripMargin))
    }
  }

  test("v2 S-dtype Base64 fills: NUL-stripped and strictly UTF-8, like chunk data") {
    def v2(fill: String): String =
      s"""{"zarr_format":2,"shape":[4],"chunks":[2],"order":"C",
         |"fill_value":"$fill","filters":null,"compressor":null,
         |"dtype":"|S4"}""".stripMargin
    // b64("NA\0\0") — a writer that encodes the full padded element
    val padded = java.util.Base64.getEncoder
      .encodeToString(Array[Byte]('N', 'A', 0, 0))
    assert(ZarrMeta.parse("a", v2(padded)).fillValue == "NA")
    // a non-UTF-8 fill byte fails as loudly as a non-UTF-8 chunk
    val latin1 = java.util.Base64.getEncoder.encodeToString(Array(0xe9.toByte))
    intercept[ZarrException] { ZarrMeta.parse("a", v2(latin1)) }
    intercept[ZarrException] { ZarrMeta.parse("a", v2("not-base64!!")) }
  }

  test("v2 string predicates evaluate over the translated decode") {
    val df = spark.read.format("zarr").load(storeTyped)
    assert(df.where("label = ''").count() == 4) // written "" + 3 filled
    assert(df.where("uname = 'übèr'").count() == 1)
    assert(df.where("code LIKE 'DD%'").count() == 1)
  }

  test("the writer refuses to append to a v2 store (read-only by design)") {
    val s = spark
    import s.implicits._
    val e = intercept[Exception] {
      s.createDataset(Seq(1L, 2L)).toDF("id64").write.format("zarr")
        .mode("append").save(store1d)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("v2")), s"got: ${messages(e)}")
  }

  test("xarray-style v2 store: _ARRAY_DIMENSIONS drives coordinate broadcast") {
    // the reference's flagship shape (lat/lon coords against 2-D data),
    // as xarray writes it in v2: dimension names live in .zattrs
    val latlon = new java.io.File("src/test/resources/zarr_v2_latlon").getAbsolutePath
    val rows = spark.read.format("zarr").load(latlon)
      .select("lat", "lon", "data").collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      val v = r.getDouble(2)
      val i = (v / 10).toInt
      val j = (v % 10).toInt
      assert(r.getDouble(0) == 38.0 + 0.5 * i, s"lat for data=$v")
      assert(r.getDouble(1) == -117.0 + 0.25 * j, s"lon for data=$v")
    }
    // predicate over a broadcast coordinate behaves like the v3 flagship
    val n = spark.read.format("zarr").load(latlon)
      .where("lat >= 39.0 AND lon < -116.5").count()
    assert(n == 2 * 2) // i in {2,3}, j in {0,1}
  }

  test("ZarrMaintenance.compact migrates a v2 store to a v3 store, value-identical") {
    // the documented v2 upgrade path: scan the v2 store, write a fresh
    // v3 (sharded, stats-sidecar) store — no in-place mutation
    val dst = java.nio.file.Files.createTempDirectory("v2mig").toString + "/migrated"
    val (srcObjs, _) =
      ZarrMaintenance.compact(spark, store1d, dst, chunkSize = 8, innerChunkSize = 4)
    // "objects before" is the stored-object count describe reports
    val described = graft.zarr.ZarrInfo.describe(spark, store1d, countStored = true)
      .collect().map(_.getLong(10)).sum
    assert(srcObjs == described && srcObjs > 0, s"srcObjs=$srcObjs describe=$described")
    val src = spark.read.format("zarr").load(store1d)
      .select("flag", "id64", "u8").orderBy("id64").collect()
    val mig = spark.read.format("zarr").load(dst)
      .select("flag", "id64", "u8").orderBy("id64").collect()
    assert(src.toSeq == mig.toSeq)
    assert(ZarrStore(dst).readMeta("id64").formatVersion == 3)
  }

  test("v2 lz4 compressor: numcodecs block container decodes (match + literal blocks)") {
    val df = spark.read.format("zarr").load(storeTyped)
      .select("ds", "lzv").orderBy("ds").collect()
    // constant-per-chunk values: full chunks are HANDCRAFTED
    // match-bearing LZ4 blocks, the padded tail chunk is literal-only
    assert(df.map(_.getLong(1)).toSeq ==
      Seq(500L, 500L, 500L, 500L, 511L, 511L, 511L, 511L, 522L, 522L, 522L))
    val meta = ZarrStore(storeTyped).readMeta("lzv")
    assert(meta.codecs.map(_.name) == Seq("bytes", "v2-lz4"),
      meta.codecs.map(_.name).mkString(","))
  }

  test("v2 datetime64[ns]: raw int64 counts, NaT passthrough, unit in field metadata") {
    val df = spark.read.format("zarr").load(storeTyped)
    val f = df.schema("ts")
    assert(f.dataType.typeName == "long", f.dataType.toString)
    assert(f.metadata.getString("zarr_time_kind") == "datetime64")
    assert(f.metadata.getString("zarr_time_unit") == "ns")
    val got = df.select("ts").orderBy("ds").collect().map(_.getLong(0)).toSeq
    val day = 86400L * 1000000000L
    val expected = (0 until 11).map {
      case 3 => Long.MinValue // numpy NaT sentinel, passed through raw
      case i => 1700000000000000000L + i * day
    }
    assert(got == expected, got.mkString(","))
    // malformed datetime dtypes are loud, not guessed
    intercept[ZarrException](ZarrMeta.v2Dtype("<M8", "t"))
    intercept[ZarrException](ZarrMeta.v2Dtype("<M8[parsec]", "t"))
    intercept[ZarrException](ZarrMeta.v2Dtype("|M8[ns]", "t"))
    // timedelta64 parses with its own kind marker
    val td = ZarrMeta.v2Dtype(">m8[us]", "t")
    assert(td.t == ZarrType.Int64 && td.big &&
      td.timeMeta.contains(("timedelta64", "us")))
  }

  test("zarr_timestamp: unit-aware TIMESTAMP conversion, NaT -> NULL, loud on bad units") {
    graft.functions.VectorFunctions.register(spark)
    val df = spark.read.format("zarr").load(storeTyped)
    val got = df.selectExpr("zarr_timestamp(ts, 'ns') AS t").orderBy("ds")
      .collect().map(r => if (r.isNullAt(0)) null else r.getAs[java.time.LocalDateTime](0))
    assert(got(3) == null, "NaT must convert to SQL NULL")
    // ns truncates to whole microseconds: 1700000000000000000 ns -> µs
    assert(got(0) == java.time.LocalDateTime.ofEpochSecond(
      1700000000L, 0, java.time.ZoneOffset.UTC), got(0).toString)
    val day = java.time.Duration.ofDays(1)
    assert(got(1) == got(0).plus(day) && got(10) == got(0).plus(day.multipliedBy(10)))
    // multiply units scale exactly; 's' on an epoch-seconds column
    val s0 = df.selectExpr("zarr_timestamp(ds, 's') AS t").orderBy("ds").collect()(0)
      .getAs[java.time.LocalDateTime](0)
    assert(s0 == java.time.LocalDateTime.ofEpochSecond(1000000000L, 0,
      java.time.ZoneOffset.UTC), s0.toString)
    // ns truncation is floorDiv (toward -inf), visible on a pre-epoch tick
    assert(graft.functions.ZarrTimestampExpr.toMicros(-1L, "ns") == -1L)
    assert(graft.functions.ZarrTimestampExpr.toMicros(999L, "ns") == 0L)
    // calendar units and garbage refuse at ANALYSIS, not row 1
    val e = intercept[Exception](
      df.selectExpr("zarr_timestamp(ts, 'M')").collect())
    assert(e.getMessage.contains("unsupported unit") ||
      e.getCause != null && e.getCause.getMessage.contains("unsupported unit"),
      e.getMessage)
    // multiply overflow is a loud error, never a wrapped instant
    intercept[ArithmeticException](
      graft.functions.ZarrTimestampExpr.toMicros(Long.MaxValue / 2, "s"))
  }

  test("v2 CLIMATE cube end to end: time x lat x lon with a datetime64 time coordinate") {
    // the canonical xarray layout — a 3-D data cube whose dims carry
    // 1-D coordinates, time typed <M8[ns]: read, broadcast, filter by
    // time, then analyze for zero-GET aggregates and slab-level skip
    val store = new java.io.File("src/test/resources/zarr_v2_climate").getAbsolutePath
    val df = spark.read.format("zarr").load(store)
    assert(df.schema("time").metadata.getString("zarr_time_unit") == "ns")
    assert(df.count() == 4 * 5 * 7)
    val day = 86400L * 1000000000L
    val t0 = 1700000000000000000L
    // temp[t][i][j] = 1000t + 10i + j; time filter keeps t in {2, 3}
    val rows = df.filter(org.apache.spark.sql.functions.col("time") >= t0 + 2 * day)
      .select("time", "lat", "lon", "temp").collect()
    assert(rows.length == 2 * 5 * 7)
    rows.foreach { r =>
      val t = (r.getLong(0) - t0) / day
      val i = math.round((r.getDouble(1) - 38.0) / 0.5)
      val j = math.round((r.getDouble(2) + 117.0) / 0.25)
      assert(r.getDouble(3) == 1000.0 * t + 10.0 * i + j, r.toString)
    }
    // analyze the FOREIGN climate cube (copy: fixtures are read-only)
    val base = java.nio.file.Files.createTempDirectory("v2climate").toString
    val copied = java.nio.file.Paths.get(base, "cube")
    val src = java.nio.file.Paths.get(store)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = copied.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    assert(ZarrMaintenance.analyze(spark, copied.toString) == 8) // 2x2x2 grid
    val adf = spark.read.format("zarr").load(copied.toString)
    val agg = adf.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min("temp"),
      org.apache.spark.sql.functions.max("temp"),
      org.apache.spark.sql.functions.min("time"),
      org.apache.spark.sql.functions.max("time"))
    assert(agg.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      "analyzed climate cube must answer aggregates metadata-only")
    val a = agg.collect()(0)
    assert(a.getLong(0) == 140)
    assert(a.getDouble(1) == 0.0 && a.getDouble(2) == 1000.0 * 3 + 10 * 4 + 6)
    assert(a.getLong(3) == t0 && a.getLong(4) == t0 + 3 * day)
  }

  test("typed store .zmetadata: one-GET snapshot covers all 18 arrays incl. strings/filters/binary") {
    val view = ZarrStore(storeTyped).committedView()
    assert(view.consolidated, "typed-store .zmetadata must satisfy the committed view")
    val (metas, manifest) = (view.metas, view.manifest)
    assert(metas.length == 18, metas.map(_.name).mkString(","))
    assert(manifest.isEmpty)
    assert(metas.find(_.name == "blob").get.dataType == ZarrType.Bytes)
    assert(metas.find(_.name == "label").get.dataType == ZarrType.Str)
    assert(metas.find(_.name == "fsod").get.codecs.map(_.name) ==
      Seq("bytes", "v2-fso", "v2-delta", "zlib"))
  }

  test("compact migrates v2 STRING columns to v3 vlen-utf8, value-identical") {
    // a small |O+vlen-utf8 v2 store written in-test (the READ side is
    // independently fixture-validated; this pins the MIGRATION path:
    // v2 object strings → v3 vlen-utf8 through scan+write)
    val dir = java.nio.file.Files.createTempDirectory("v2strmig")
    val arr = dir.resolve("s")
    java.nio.file.Files.createDirectories(arr)
    java.nio.file.Files.write(arr.resolve(".zarray"),
      """{"zarr_format":2,"shape":[6],"chunks":[3],"dtype":"|O",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":[{"id":"vlen-utf8"}]}""".stripMargin.getBytes("UTF-8"))
    val vals = Array("α", "deux", "", "four", "fünf", "六")
    java.nio.file.Files.write(arr.resolve("0"),
      ChunkColumn.encodeVlenUtf8(vals.slice(0, 3)))
    java.nio.file.Files.write(arr.resolve("1"),
      ChunkColumn.encodeVlenUtf8(vals.slice(3, 6)))
    val dst = dir.resolve("migrated").toString
    ZarrMaintenance.compact(spark, dir.toString, dst, chunkSize = 4, innerChunkSize = 2)
    val got = spark.read.format("zarr").load(dst)
      .orderBy("s").collect().map(_.getString(0))
    assert(got.toSeq == vals.sorted(Ordering.String).toSeq, got.mkString(","))
    assert(ZarrStore(dst).readMeta("s").formatVersion == 3)
  }

  test("compact migrates v2 BINARY columns to v3 vlen-bytes, value-identical (r20)") {
    // until r20 binary columns were read-only and this migration refused;
    // the v3 writer now emits the vlen-bytes object codec, so the typed
    // store (incl. its |O+vlen-bytes blob column) migrates whole —
    // SHARDED on the way out (innerChunkSize), pinning the vlen
    // inner-chunk write path through the migration too
    val dst = java.nio.file.Files.createTempDirectory("v2binmig").toString + "/out"
    ZarrMaintenance.compact(spark, storeTyped, dst, chunkSize = 8, innerChunkSize = 4)
    val mMig = ZarrStore(dst).readMeta("blob")
    assert(mMig.formatVersion == 3)
    assert(mMig.dataType == ZarrType.Bytes)
    assert(mMig.shardingSpec.isDefined, "migrated blob column must be sharded")
    val src = spark.read.format("zarr").load(storeTyped)
      .select("ds", "blob").orderBy("ds").collect()
    val mig = spark.read.format("zarr").load(dst)
      .select("ds", "blob").orderBy("ds").collect()
    assert(mig.length == src.length)
    src.zip(mig).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]](1), b.getAs[Array[Byte]](1)),
        s"blob at ds=${a.getLong(0)}")
    }
  }

  test("v2 numcodecs-blosc metadata maps onto the c-blosc container decode") {
    // numcodecs stores shuffle as an int (0/1/2) and writes the same
    // c-blosc container the v3 codec decodes (independently pinned
    // against a reference decoder in CodecsSpec); this test pins the v2
    // METADATA mapping: cname/clevel/int-shuffle -> the Blosc codec
    val dir = java.nio.file.Files.createTempDirectory("v2blosc")
    val arr = dir.resolve("x")
    java.nio.file.Files.createDirectories(arr)
    java.nio.file.Files.write(arr.resolve(".zarray"),
      """{"zarr_format":2,"shape":[10],"chunks":[4],"dtype":"<i8",
        |"compressor":{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1,"blocksize":0},
        |"fill_value":0,"order":"C","filters":null}""".stripMargin.getBytes("UTF-8"))
    val blosc = Codecs.Blosc(cname = "lz4", clevel = 5,
      shuffle = Codecs.Blosc.SHUFFLE, typesize = 8)
    def chunk(vals: Seq[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      blosc.encode(bb.array())
    }
    java.nio.file.Files.write(arr.resolve("0"), chunk((0L until 4L).map(_ * 11)))
    java.nio.file.Files.write(arr.resolve("1"), chunk((4L until 8L).map(_ * 11)))
    java.nio.file.Files.write(arr.resolve("2"), chunk(Seq(88L, 99L, 0L, 0L)))
    val got = spark.read.format("zarr").load(dir.toString)
      .orderBy("x").collect().map(_.getLong(0))
    assert(got.toSeq == (0L until 8L).map(_ * 11) ++ Seq(88L, 99L))
  }

  test("Zlib codec: roundtrip and interop with an independent zlib stream") {
    val data = Array.tabulate[Byte](10000)(i => (i * 31 % 251).toByte)
    val z = Codecs.Zlib(6)
    assert(z.decode(z.encode(data)).sameElements(data))
    // the fixture chunks themselves are python-zlib streams; decode one
    val enc = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store2d, "temp", "0.0"))
    val raw = Codecs.Zlib().decode(enc)
    assert(raw.length == 3 * 4 * 8) // full padded chunk, f8
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getDouble(0) == 0.5) // temp[0][0]
  }

  test("ZarrInfo.describe surfaces v2 layout facts, zero-coverage sidecar") {
    val latlon = new java.io.File("src/test/resources/zarr_v2_latlon").getAbsolutePath
    val rows = graft.zarr.ZarrInfo.describe(spark, latlon).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getLong(11))).toSeq
    // coordinates first, then data; v2 stores carry no sidecar -> 0 covered
    assert(rows.map(t => (t._1, t._2, t._3)) ==
      Seq(("lat", "coordinate", 2), ("lon", "coordinate", 2), ("data", "data", 2)))
    assert(rows.forall(_._6 == 0L), "a never-analyzed v2 store has zero stats coverage")
    val data = rows.find(_._1 == "data").get
    assert(data._4 == "float64" && data._5.contains("x"), data.toString)
  }

  test("describe on a sparse store: grid capacity != stored objects; count is opt-in") {
    // temp is 5x7 / chunks 3x4 -> a 2x2 grid (4 addressable slots), but
    // chunk (1,1) was DELETED from the fixture (reads as fill values):
    // the capacity column must not claim 4 stored objects, and the true
    // count is only computed when asked for (one LIST per array)
    val byName = graft.zarr.ZarrInfo.describe(spark, store2d, countStored = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val temp = byName("temp")
    assert(temp.getLong(9) == 4L, s"temp grid capacity: $temp")
    assert(temp.getLong(10) == 3L,
      s"temp stored objects must exclude the deleted chunk: $temp")
    val noCount = graft.zarr.ZarrInfo.describe(spark, store2d).collect()
    assert(noCount.forall(_.isNullAt(10)),
      "stored-object count must be NULL unless opted in (one-GET contract)")
  }
}
