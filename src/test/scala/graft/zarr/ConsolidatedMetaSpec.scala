package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Consolidated metadata: DSv2-written stores embed every array's
  * zarr.json in the root group document, so schema inference is ONE
  * object read instead of a LIST + one GET per array; stores without the
  * field (all test-utility fixtures) use the per-array fallback. */
class ConsolidatedMetaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("consolidated-meta-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-consolidated").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("DSv2 write embeds consolidated metadata; inference never opens per-array docs") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/c1"
    (0 until 64).map(i => (i.toLong, i * 0.5, s"k$i")).toDF("id", "v", "name")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)

    val store = ZarrStore(s"$base/c1",
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    val view = store.committedView()
    val metas = Option.when(view.consolidated)(view.metas)
    assert(metas.isDefined && metas.get.map(_.name) == Seq("id", "name", "v"))
    assert(metas.get.forall(_.shape(0) == 64))

    RecordingFileSystem.opened.clear()
    val schema = spark.read.format("zarr").load(url).schema
    assert(schema.fieldNames.toSeq == Seq("id", "name", "v"))
    val metaOpens = RecordingFileSystem.opened.toArray.map(_.toString)
      .filter(_.endsWith("zarr.json"))
    assert(metaOpens.nonEmpty && metaOpens.forall(_.endsWith("/c1/zarr.json")),
      s"schema inference must read only the root document, opened: ${metaOpens.mkString(", ")}")
  }

  test("append refreshes the consolidated shape") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/c2"
    (0 until 32).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    (32 until 48).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("append").save(url)
    val view = ZarrStore(s"$base/c2").committedView()
    val metas = Option.when(view.consolidated)(view.metas)
    assert(metas.exists(_.forall(_.shape(0) == 48)))
    assert(spark.read.format("zarr").load(url).count() == 48)
  }

  test("stores without consolidated metadata fall back to per-array reads") {
    val store = ZarrStore(s"$base/c3")
    ZarrWriter.writeArray(store, "x", ZarrType.Int64,
      Seq(8L), Seq(4), (0 until 8).map(_.toLong: Any),
      None, ZarrWriter.CodecChain.raw)
    store.writeStoreRootMeta() // bare group doc, no consolidated field
    assert(!store.committedView().consolidated)
    val df = spark.read.format("zarr").load(s"$base/c3")
    assert(df.schema.fieldNames.toSeq == Seq("x"))
    assert(df.count() == 8)
  }

  test("a v3 root is the authority: a stale v2 .zmetadata sidecar never overrides it") {
    import java.nio.file.{Files => JF, Paths}
    val store = ZarrStore(s"$base/c4")
    ZarrWriter.writeArray(store, "x", ZarrType.Int64,
      Seq(8L), Seq(4), (0 until 8).map(_.toLong: Any),
      None, ZarrWriter.CodecChain.raw)
    store.writeStoreRootMeta() // v3 root WITHOUT inline consolidation
    // the v2→v3 migration leftover: a consolidated doc claiming an OLD
    // 4-row float64 shape for x — falling through to it would silently
    // override the live v3 store's schema
    val stale =
      """{"zarr_consolidated_format":1,"metadata":{
        |"x/.zarray":{"zarr_format":2,"shape":[4],"chunks":[4],
        |"dtype":"<f8","compressor":null,"fill_value":0,"order":"C"}}}""".stripMargin
    JF.write(Paths.get(s"$base/c4/.zmetadata"), stale.getBytes)
    assert(!store.committedView().consolidated,
      "v3 root present: the snapshot must decline, not read the sidecar")
    val df = spark.read.format("zarr").load(s"$base/c4")
    assert(df.count() == 8, "per-array fallback must see the live v3 store")
  }

  test("nested consolidated entries are filtered: schema cannot depend on the metadata path") {
    // zarr-python consolidates recursively; a 'grp/arr' entry must not
    // surface a column the listArrays fallback would omit
    val doc =
      """{"zarr_format":3,"node_type":"group","consolidated_metadata":
        |{"kind":"inline","must_understand":false,"metadata":{
        |"a":{"zarr_format":3,"node_type":"array","shape":[4],"data_type":"int64",
        |  "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |  "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |  "fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}]},
        |"grp/nested":{"zarr_format":3,"node_type":"array","shape":[4],"data_type":"int64",
        |  "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |  "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |  "fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}]}
        |}}}""".stripMargin
    assert(ZarrMeta.parseConsolidated(doc).map(_.name) == Seq("a"))
  }

  test("hostile metadata refuses loudly: bad separator, zero/overflowing chunk_shape, bad uint64 fill") {
    def arr(body: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[4],"data_type":"int64",
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
         |$body}""".stripMargin
    val sepDoc = arr("""
      "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}}""")
      .replace("""{"name":"default","configuration":{"separator":"/"}}""",
        """{"name":"default","configuration":{"separator":"-"}}""")
    val e1 = intercept[ZarrException](ZarrMeta.parse("x", sepDoc))
    assert(e1.getMessage.contains("separator"), e1.getMessage)
    val e2 = intercept[ZarrException](ZarrMeta.parse("x", arr(
      """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[0]}}""")))
    assert(e2.getMessage.contains("chunk_shape"), e2.getMessage)
    // Jackson asInt would silently truncate 2^32+1 to 1 — a WRONG grid
    val e3 = intercept[ZarrException](ZarrMeta.parse("x", arr(
      """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4294967297]}}""")))
    assert(e3.getMessage.contains("chunk_shape"), e3.getMessage)
    // big uint64 fills as JSON strings parse; garbage refuses (was: 0)
    def u64(fill: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[4],"data_type":"uint64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":$fill,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}]}""".stripMargin
    assert(ZarrMeta.parse("x", u64("\"18446744073709551615\"")).fillValue ==
      new java.math.BigDecimal("18446744073709551615"))
    val e4 = intercept[ZarrException](ZarrMeta.parse("x", u64("\"zero\"")))
    assert(e4.getMessage.contains("uint64"), e4.getMessage)
  }

  test("a truncated chunk object fails LOUDLY, never decodes garbage rows") {
    import java.nio.file.{Files => JF, Paths}
    val store = ZarrStore(s"$base/c5")
    ZarrWriter.writeArray(store, "x", ZarrType.Int64,
      Seq(8L), Seq(4), (0 until 8).map(_.toLong: Any),
      None, ZarrWriter.CodecChain.raw) // raw codec: no length-checked inflate
    val p = Paths.get(s"$base/c5/x/c/0")
    JF.write(p, java.util.Arrays.copyOf(JF.readAllBytes(p), 17)) // 32 -> 17 bytes
    val e = intercept[Exception] {
      spark.read.format("zarr").load(s"$base/c5").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("decoded") && m.contains("expected")),
      msgs(e).mkString(" | "))
  }
}
