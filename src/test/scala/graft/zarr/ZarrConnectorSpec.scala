package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DSv2 connector tests mirroring the reference's test matrix
  * (`/root/reference/crates/arrow-zarr/src/`: zarr_stream_tests,
  * table_provider_tests — SURVEY §5). Canonical fixture: `lat` (1-D, 8,
  * chunk 3), `lon` (1-D, 8, chunk 3), `data` (2-D 8×8, chunk 3×3, values
  * 0..64), reference `lib.rs:287-333`. */
class ZarrConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var storeDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-connector-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    storeDir = Files.createTempDirectory("zarr-spec").toString
    ZarrWriter.writeLatLonStore(ZarrStore(s"$storeDir/latlon"))
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def read(path: String): DataFrame =
    spark.read.format("zarr").load(path)

  private def latlon: DataFrame = read(s"$storeDir/latlon")

  // ---- schema inference (reference zarr_config_tests) ----

  test("schema inference: sorted fields, float64") {
    val sch = latlon.schema
    assert(sch.fieldNames.toSeq == Seq("data", "lat", "lon"))
    assert(sch.fields.forall(_.dataType.typeName == "double"))
    assert(sch.fields.forall(_.nullable))
  }

  // ---- full scan with coordinate broadcast (zarr_stream_tests) ----

  test("full scan: 64 rows, coords broadcast against 2-D data") {
    val rows = latlon.select("lat", "lon", "data")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length == 64)
    // data value v at (i,j) must carry lat=38.0+0.1i, lon=-117.0+0.1j
    rows.foreach { case (lat, lon, v) =>
      val i = math.round(v / 8).toInt min 7
      val row = v.toInt / 8
      val colIdx = v.toInt % 8
      assert(math.abs(lat - (38.0 + 0.1 * row)) < 1e-9, s"lat for $v")
      assert(math.abs(lon - (-117.0 + 0.1 * colIdx)) < 1e-9, s"lon for $v")
    }
    assert(rows.map(_._3).sorted.sameElements((0 until 64).map(_.toDouble)))
  }

  test("coordinate-only selection: full cross product, 64 rows (table_provider.rs:278-287)") {
    val rows = latlon.select("lat", "lon").collect()
    assert(rows.length == 64)
    val pairs = rows.map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(pairs.size == 64)
  }

  test("single coordinate selection: 8 rows, no broadcast") {
    val lats = latlon.select("lat").collect().map(_.getDouble(0)).sorted
    assert(lats.sameElements((0 until 8).map(i => 38.0 + 0.1 * i)))
  }

  // ---- WHERE semantics: flagship query (table_provider.rs:401-438) ----

  test("exact filtering: WHERE lat < 38.1 AND lon > -116.9") {
    val rows = latlon
      .filter(col("lat") < 38.1 && col("lon") > -116.9)
      .select("lat", "lon", "data")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // lat=38.0 (row 0), lon in -116.8..-116.3 (cols 2..7) → data 2..7
    assert(rows.length == 6)
    assert(rows.map(_._3).sorted.sameElements((2 to 7).map(_.toDouble)))
    rows.foreach { case (lat, lon, _) => assert(lat < 38.1 && lon > -116.9) }
  }

  test("chunk-skip produces same result as no pushdown") {
    val filtered = latlon.filter(col("data") >= 30 && col("data") < 40)
      .select("data").collect().map(_.getDouble(0)).sorted
    assert(filtered.sameElements((30 until 40).map(_.toDouble)))
  }

  // ---- LIMIT (table_provider.rs:300-307) ----

  test("limit") {
    assert(latlon.limit(10).collect().length == 10)
  }

  test("limit pushdown reaches the scan and bounds chunk planning") {
    val df = latlon.limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=5"), plan)
    assert(df.collect().length == 5)
    // with a filter, limit must NOT be pushed (chunk skip breaks counting)
    val f = latlon.filter(col("data") > 30).limit(3)
    assert(!f.queryExecution.executedPlan.toString.contains("limit=3"))
    assert(f.collect().length == 3)
  }

  // ---- partitioned scan (zarr_stream_tests partition split) ----

  test("explicit partitions option: same results, over-partitioning safe") {
    for (n <- Seq(1, 2, 5, 9, 50)) {
      val df = spark.read.format("zarr").option("partitions", n.toString)
        .load(s"$storeDir/latlon")
      assert(df.count() == 64, s"partitions=$n")
      assert(df.rdd.getNumPartitions == math.min(n, 9), s"partitions=$n")
    }
    // a malformed value is refused by name, not as a bare parse error
    val e = intercept[ZarrException](spark.read.format("zarr").option("partitions", "x")
      .load(s"$storeDir/latlon").collect())
    assert(e.getMessage.contains("partitions") && e.getMessage.contains("'x'"), e.getMessage)
  }

  // ---- fill values (zarr_data_stream.rs:1245-1278) ----

  test("missing chunks decode to fill value") {
    val dir = s"$storeDir/fills"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "sparse", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble), Some(Seq("x", "y")),
      ZarrWriter.CodecChain.bloscLz4, fillJson = "-999.0",
      skipChunks = Set(Seq(0, 0), Seq(2, 2)))
    val vals = read(dir).select("sparse").collect().map(_.getDouble(0))
    assert(vals.length == 64)
    assert(vals.count(_ == -999.0) == 9 + 4) // 3x3 interior + 2x2 edge chunk
  }

  // ---- pre-broadcast N-D coordinate (zarr_data_stream.rs:1205-1243) ----

  test("pre-broadcast 2-D coordinate is read as-is") {
    val dir = s"$storeDir/prebroadcast"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    // lat stored already broadcast to 2-D
    val lat2d = for (i <- 0 until 8; _ <- 0 until 8) yield 38.0 + 0.1 * i
    ZarrWriter.writeArray(store, "lat", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      lat2d, Some(Seq("lat", "lon")), ZarrWriter.CodecChain.gzip)
    ZarrWriter.writeArray(store, "data", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble), Some(Seq("lat", "lon")), ZarrWriter.CodecChain.gzip)
    val rows = read(dir).select("lat", "data").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.length == 64)
    rows.foreach { case (lat, v) =>
      assert(math.abs(lat - (38.0 + 0.1 * (v.toInt / 8))) < 1e-9)
    }
  }

  // ---- no-coordinate plain 1-D arrays (zarr_data_stream.rs:1129-1158) ----

  test("plain 1-D arrays without coordinate names concatenate positionally") {
    val dir = s"$storeDir/nocoords"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "a", ZarrType.Float64, Seq(10), Seq(4),
      (0 until 10).map(_.toDouble), None, ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "b", ZarrType.Float64, Seq(10), Seq(4),
      (0 until 10).map(i => i * 100.0), None, ZarrWriter.CodecChain.raw)
    val rows = read(dir).collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.length == 10)
    rows.foreach { case (a, b) => assert(b == a * 100.0) }
  }

  // ---- type coverage ----

  test("all primitive types roundtrip") {
    val dir = s"$storeDir/types"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    val n = 10L
    def w(nm: String, t: ZarrType, vals: IndexedSeq[Any], fill: String = "0"): Unit =
      ZarrWriter.writeArray(store, nm, t, Seq(n), Seq(4), vals, None,
        ZarrWriter.CodecChain.zstd, fillJson = fill)
    w("c_bool", ZarrType.Bool, (0 until 10).map(i => i % 2 == 0), "false")
    w("c_i8", ZarrType.Int8, (0 until 10).map(i => (i - 5).toByte))
    w("c_i16", ZarrType.Int16, (0 until 10).map(i => (i * 100).toShort))
    w("c_i32", ZarrType.Int32, (0 until 10).map(i => i * 100000))
    w("c_i64", ZarrType.Int64, (0 until 10).map(i => i * 10000000000L))
    w("c_u8", ZarrType.UInt8, (0 until 10).map(i => (i * 25).toShort))
    w("c_u16", ZarrType.UInt16, (0 until 10).map(i => i * 6000))
    w("c_u32", ZarrType.UInt32, (0 until 10).map(i => i * 400000000L))
    w("c_u64", ZarrType.UInt64, (0 until 10).map(i => -1L - i)) // huge unsigned
    w("c_f32", ZarrType.Float32, (0 until 10).map(i => i * 1.5f))
    w("c_f64", ZarrType.Float64, (0 until 10).map(i => i * 2.5d))
    ZarrWriter.writeArray(store, "c_str", ZarrType.Str, Seq(n), Seq(4),
      (0 until 10).map(i => s"s$i"), None, ZarrWriter.CodecChain.gzip, fillJson = "\"\"")

    val df = read(dir)
    import org.apache.spark.sql.types._
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("c_bool") == BooleanType)
    assert(types("c_i8") == ByteType)
    assert(types("c_u8") == ShortType)
    assert(types("c_u32") == LongType)
    assert(types("c_u64") == DecimalType(20, 0))
    assert(types("c_str") == StringType)

    val rows = df.orderBy("c_i32").collect()
    assert(rows.length == 10)
    val last = rows.last
    assert(last.getAs[Boolean]("c_bool") == false)
    assert(last.getAs[Byte]("c_i8") == 4)
    assert(last.getAs[Long]("c_i64") == 90000000000L)
    assert(last.getAs[java.math.BigDecimal]("c_u64").toString == "18446744073709551606")
    assert(last.getAs[Float]("c_f32") == 13.5f)
    assert(last.getAs[String]("c_str") == "s9")
  }

  // ---- SQL DDL + joins (table_provider_tests) ----

  test("CREATE TABLE USING zarr + CTE self-join (table_provider.rs:310-347)") {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW z USING zarr OPTIONS (path '$storeDir/latlon')")
    val df = spark.sql(
      """WITH d1 AS (SELECT lat, lon, data FROM z),
        |     d2 AS (SELECT lat, lon, data * 2 AS data2 FROM z)
        |SELECT d1.lat, d1.lon, d1.data, d2.data2
        |FROM d1 JOIN d2 ON d1.lat = d2.lat AND d1.lon = d2.lon""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 64)
    rows.foreach(r => assert(r.getDouble(3) == r.getDouble(2) * 2))
  }

  test("user-specified schema = column selection + type assertion (table_provider.rs:441-486)") {
    // valid subset selection
    val sel = spark.read.format("zarr").schema("lat DOUBLE, data DOUBLE")
      .load(s"$storeDir/latlon")
    assert(sel.columns.toSeq == Seq("lat", "data"))
    assert(sel.count() == 64)
    // wrong type must fail
    val err = intercept[Exception] {
      spark.read.format("zarr").schema("lat INT, data DOUBLE")
        .load(s"$storeDir/latlon").collect()
    }
    assert(err.getMessage.contains("lat"))
    // unknown column must fail
    val err2 = intercept[Exception] {
      spark.read.format("zarr").schema("nope DOUBLE")
        .load(s"$storeDir/latlon").collect()
    }
    assert(err2.getMessage.contains("nope"))
  }

  test("count(*) uses metadata geometry — no column read") {
    assert(latlon.count() == 64)
  }

  test("3-D data with three 1-D coordinates broadcasts to the full grid") {
    val dir = s"$storeDir/cube"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    // 4x3x2 cube, chunks 2x2x2 (edge chunks on dims 1,2)
    ZarrWriter.writeArray(store, "t", ZarrType.Float64, Seq(4), Seq(2),
      (0 until 4).map(_ * 10.0), Some(Seq("t")), ZarrWriter.CodecChain.gzip)
    ZarrWriter.writeArray(store, "y", ZarrType.Float64, Seq(3), Seq(2),
      (0 until 3).map(_ * 1.0), Some(Seq("y")), ZarrWriter.CodecChain.gzip)
    ZarrWriter.writeArray(store, "x", ZarrType.Float64, Seq(2), Seq(2),
      (0 until 2).map(_ * 0.1), Some(Seq("x")), ZarrWriter.CodecChain.gzip)
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(4, 3, 2), Seq(2, 2, 2),
      (0 until 24).map(_.toDouble), Some(Seq("t", "y", "x")), ZarrWriter.CodecChain.gzip)
    val rows = read(dir).select("t", "y", "x", "v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 24)
    rows.foreach { case (t, y, x, v) =>
      // v enumerated row-major over (t, y, x)
      val vi = v.toInt
      assert(t == (vi / 6) * 10.0, s"t for $v")
      assert(y == ((vi / 2) % 3) * 1.0, s"y for $v")
      assert(math.abs(x - (vi % 2) * 0.1) < 1e-9, s"x for $v")
    }
    // filter on one coordinate prunes via chunk skip and stays exact
    val f = read(dir).filter(col("t") === 20.0 && col("x") > 0.05)
      .select("v").collect().map(_.getDouble(0)).sorted
    assert(f.sameElements(Array(13.0, 15.0, 17.0)))
  }

  test("string filters (startswith/contains/in) push into chunk skip") {
    val dir = s"$storeDir/strfilter"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "name", ZarrType.Str, Seq(12), Seq(4),
      (0 until 12).map(i => s"cat${i / 4}_item$i"), None,
      ZarrWriter.CodecChain.gzip, fillJson = "\"\"")
    ZarrWriter.writeArray(store, "n", ZarrType.Int64, Seq(12), Seq(4),
      (0 until 12).map(_.toLong), None, ZarrWriter.CodecChain.gzip)
    val df = read(dir)
    assert(df.filter(col("name").startsWith("cat1")).count() == 4)
    assert(df.filter(col("name").contains("item7")).count() == 1)
    assert(df.filter(col("name").isin("cat0_item0", "cat2_item11", "nope"))
      .collect().map(_.getAs[Long]("n")).sorted.sameElements(Array(0L, 11L)))
  }

  test("broadcast join against the zarr table stays correct (runtime filtering path)") {
    val sp = spark
    import sp.implicits._
    // use stored lat values verbatim (double equality) and project data
    // columns so the scan keeps the full 2-D grid
    val two = latlon.select("lat").distinct().orderBy("lat")
      .limit(2).collect().map(_.getDouble(0))
    val keys = two.toSeq.toDF("k")
    val joined = latlon.select("lat", "lon", "data")
      .join(org.apache.spark.sql.functions.broadcast(keys), col("lat") === col("k"))
    assert(joined.collect().length == 16) // 2 lat rows x 8 lon
  }

  test("coordinate-only projection collapses cardinality (reference semantics)") {
    // counting a join pruned to only the coordinate joins against the
    // 1-D coordinate (8 rows), NOT the broadcast 64-row grid — exactly
    // the reference's SELECT lat => 8 rows model
    val sp = spark
    import sp.implicits._
    val keys = Seq(38.0).toDF("k")
    val pruned = latlon.join(org.apache.spark.sql.functions.broadcast(keys),
      col("lat") === col("k"))
    assert(pruned.count() == 1)
  }

  test("explain shows pushed filters reach the scan") {
    val plan = latlon.filter(col("lat") < 38.1).queryExecution.executedPlan.toString
    assert(plan.contains("ZarrScan") || plan.contains("BatchScan"))
  }

  test("reading a missing store with an explicit schema fails with a clear error") {
    // a user schema makes getTable tolerate a missing store (write
    // target); a READ must then fail at scan build with the store path,
    // not a key-not-found deep inside geometry resolution
    val e = intercept[Exception] {
      spark.read.format("zarr").schema("id BIGINT, v DOUBLE")
        .load("/tmp/graft-no-such-store-xyz").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("zarr store not found")), s"got: $e")
  }
}
