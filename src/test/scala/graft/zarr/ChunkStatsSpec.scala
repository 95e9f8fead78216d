package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Chunk-statistics sidecar: write-side emission (staged + aligned paths,
  * append), read-side read-free skipping with zero chunk GETs, fallback
  * when absent, and interval-evaluation soundness. */
class ChunkStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("chunk-stats-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-stats").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeStore(url: String, opts: Map[String, String] = Map.empty): Unit = {
    val sp = spark; import sp.implicits._
    val w = (0 until 80).map(i => (i.toLong, i * 0.5, s"k$i"))
      .toDF("id", "v", "name")
      .coalesce(1)
      .write.format("zarr").mode("overwrite").option("chunk_size", "16")
    opts.foldLeft(w) { case (acc, (k, o)) => acc.option(k, o) }.save(url)
  }

  test("staged write emits a stats segment; filtered read skips with ZERO chunk GETs") {
    val url = s"graftstat://$base/s1"
    writeStore(url)
    val store = ZarrStore(s"$base/s1",
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    assert(store.listStatsSegments() == Seq((0L, 5)),
      "one segment covering chunks [0,5) expected")

    fsLog.clear()
    val rows = spark.read.format("zarr").load(url)
      .filter("id >= 64").select("id", "v").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (64L until 80L))
    // staged-write chunks live at manifest-mapped task-attempt keys
    // (c.part<writeId>-<pid>/<j>); ordinal 4 of this single-task write
    // is .../c.part*-0/4
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/s1/(id|v|name)/(c|c\\.part[^/]*)/\\d+$"))
    // only chunk 4 may be touched — chunks 0-3 are excluded by the
    // sidecar before any fetch is submitted
    assert(chunkOpens.nonEmpty && chunkOpens.forall(_.endsWith("/4")),
      s"stats-skipped chunks were fetched: ${chunkOpens.mkString(", ")}")
  }

  test("stats=false: no sidecar, decode-and-test fallback still correct") {
    val url = s"graftstat://$base/s2"
    writeStore(url, Map("stats" -> "false"))
    val store = ZarrStore(s"$base/s2",
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    assert(store.listStatsSegments().isEmpty)
    val rows = spark.read.format("zarr").load(url)
      .filter("id >= 64").select("id").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (64L until 80L))
  }

  test("aligned fast path writes final segment keys from the executors") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/s3"
    val df = graft.sources.ZarrWriteSupport.alignForWrite(
      (0 until 96).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), 32)
    df.write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").option("rows_per_partition", "32").save(url)
    val store = ZarrStore(s"$base/s3")
    assert(store.listStatsSegments() == Seq((0L, 2), (2L, 2), (4L, 2)),
      s"per-task segments expected, got ${store.listStatsSegments()}")
    // skip proof via values: a filter touching only the last task's range
    val got = spark.read.format("zarr").load(url).filter("id > 90").count()
    assert(got == 5)
  }

  test("append adds a segment for the new chunks") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/s4"
    writeStore(url.replace("file://", "file://"))
    val fresh = (0 until 80).map(i => (i.toLong, i * 0.5, s"k$i")).toDF("id", "v", "name")
    fresh.coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    (80 until 112).map(i => (i.toLong, i * 0.5, s"k$i")).toDF("id", "v", "name")
      .coalesce(1).write.format("zarr").mode("append").save(url)
    val store = ZarrStore(s"$base/s4")
    assert(store.listStatsSegments() == Seq((0L, 5), (5L, 2)))
    assert(spark.read.format("zarr").load(url).filter("id >= 100").count() == 12)
  }

  test("partial coverage: stats-less append keeps scans exact, declines min/max pushdown") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/s5"
    (0 until 80).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    // second write without stats: chunks [5,7) have no recorded ranges
    (80 until 112).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("append")
      .option("stats", "false").save(url)
    val df = spark.read.format("zarr").load(url)
    // filtered scan: covered chunks may stats-skip, uncovered ones decode
    assert(df.filter("id >= 100").count() == 12)
    assert(df.filter("id < 8").count() == 8)
    // min/max pushdown must decline on partial coverage (an uncovered
    // chunk could hold anything) — and still answer correctly by scanning
    val p = df.agg(org.apache.spark.sql.functions.max("id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("ZarrAggScan"), s"partial coverage must not push min/max\n$p")
    assert(df.agg(org.apache.spark.sql.functions.max("id")).collect()(0).getLong(0) == 111)
    // count(*) still pushes — it needs only shapes
    assert(df.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)))
      .queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    assert(df.count() == 112)
  }

  test("a corrupt sidecar never fails the scan and declines the pushdown") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/s6"
    (0 until 80).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    val store = ZarrStore(s"$base/s6")
    // clobber the segment with garbage (name still parses)
    store.writeText(ChunkStats.segmentKey(0L, 5), "{not json at all")
    val df = spark.read.format("zarr").load(url)
    // filtered scan falls back to decode-and-test, stays exact
    assert(df.filter("id >= 64").count() == 16)
    // min/max pushdown declines; the scan still answers correctly
    val p = df.agg(org.apache.spark.sql.functions.min("id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("ZarrAggScan"), s"corrupt sidecar must decline min/max\n$p")
    assert(df.agg(org.apache.spark.sql.functions.min("id")).collect()(0).getLong(0) == 0)
    // truncated-but-valid JSON: short arrays mean uncovered chunks
    store.writeText(ChunkStats.segmentKey(0L, 5),
      """{"cols":{"id":{"min":[0],"max":[15]}}}""")
    assert(spark.read.format("zarr").load(url).filter("id >= 64").count() == 16)
  }

  test("interval evaluation is sound on the tricky shapes") {
    val r: String => Option[(Any, Any)] = {
      case "x" => Some((10L, 20L))
      case _ => None
    }
    // excluded
    assert(!ChunkStats.mayMatch(Seq(GreaterThan("x", 20L)), r))
    assert(!ChunkStats.mayMatch(Seq(LessThan("x", 10L)), r))
    assert(!ChunkStats.mayMatch(Seq(EqualTo("x", 25L)), r))
    assert(!ChunkStats.mayMatch(Seq(In("x", Array(1L, 2L, 30L))), r))
    assert(!ChunkStats.mayMatch(Seq(IsNull("x")), r))
    // two conjuncts each individually satisfiable in [10,20]: per-leaf
    // interval evaluation cannot see their joint emptiness — stays true
    // (the decode-and-test pass still skips such chunks)
    assert(ChunkStats.mayMatch(Seq(And(GreaterThan("x", 12L), LessThan("x", 11L))), r))
    // must stay conservative
    assert(ChunkStats.mayMatch(Seq(EqualTo("x", 15L)), r))
    assert(ChunkStats.mayMatch(Seq(EqualTo("y", 999L)), r)) // unknown column
    assert(ChunkStats.mayMatch(Seq(Not(EqualTo("x", 15L))), r)) // some row may differ
    assert(ChunkStats.mayMatch(Seq(Or(LessThan("x", 5L), GreaterThan("x", 15L))), r))
    // Not(f) false only when ALL rows provably satisfy f
    assert(!ChunkStats.mayMatch(Seq(Not(GreaterThanOrEqual("x", 10L))), r))
    assert(!ChunkStats.mayMatch(Seq(Not(LessThanOrEqual("x", 20L))), r))
    val point: String => Option[(Any, Any)] = _ => Some((7L, 7L))
    assert(!ChunkStats.mayMatch(Seq(Not(EqualTo("x", 7L))), point))
    // strings
    val sr: String => Option[(Any, Any)] = _ => Some(("apple", "banana"))
    assert(!ChunkStats.mayMatch(Seq(StringStartsWith("s", "cherry")), sr))
    assert(ChunkStats.mayMatch(Seq(StringStartsWith("s", "app")), sr))
    assert(ChunkStats.mayMatch(Seq(StringEndsWith("s", "zzz")), sr)) // no range logic
  }

  test("-0.0 equals 0.0 through every skip layer (Spark/DuckDB float equality)") {
    // Double.compare alone orders -0.0 < 0.0; Spark's codegen'd
    // comparisons use primitive == (equal), so a skip verdict in
    // Double.compare order REFUTES a chunk of -0.0s against
    // EqualTo(0.0) — the silent-row-drop class
    assert(ChunkFilter.cmp(java.lang.Double.valueOf(-0.0), java.lang.Double.valueOf(0.0)) == 0)
    assert(ChunkFilter.cmp(java.lang.Float.valueOf(-0.0f), java.lang.Double.valueOf(0.0)) == 0)
    // NaN ordering stays Spark's: largest, self-equal
    assert(ChunkFilter.cmp(java.lang.Double.valueOf(Double.NaN), java.lang.Double.valueOf(Double.NaN)) == 0)
    assert(ChunkFilter.cmp(java.lang.Double.valueOf(Double.NaN), java.lang.Double.valueOf(1e308)) > 0)
    // sidecar bounds recorded from an all-negative-zero chunk must not
    // refute predicates 0.0 satisfies
    val nz: String => Option[(Any, Any)] = _ => Some((-0.0d, -0.0d))
    assert(ChunkStats.mayMatch(Seq(EqualTo("v", 0.0d)), nz))
    assert(ChunkStats.mayMatch(Seq(GreaterThanOrEqual("v", 0.0d)), nz))
    assert(ChunkStats.mayMatch(Seq(LessThanOrEqual("v", 0.0d)), nz))
    assert(!ChunkStats.mayMatch(Seq(GreaterThan("v", 0.0d)), nz))

    // end-to-end: a chunk holding only -0.0 must emit its rows for
    // `= 0.0` through the stats skip AND the decode-and-test pass
    val sp = spark; import sp.implicits._
    val url = s"file://$base/negzero"
    (0 until 32).map(i => (i.toLong, if (i < 16) -0.0d else 5.0d))
      .toDF("id", "v").coalesce(1)
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    val got = spark.read.format("zarr").load(url).filter("v = 0.0")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 16L), s"negative-zero rows dropped: $got")
  }

  test("minMax skips unsummarizable values") {
    assert(ChunkStats.minMax(ZarrType.Float64, Seq(1.0, Double.NaN)).isEmpty)
    assert(ChunkStats.minMax(ZarrType.Float64, Seq(1.0, Double.PositiveInfinity)).isEmpty)
    assert(ChunkStats.minMax(ZarrType.Int64, Seq(3L, 1L, 2L)).contains((1L, 3L)))
    assert(ChunkStats.minMax(ZarrType.Str, Seq("b", "a")).contains(("a", "b")))
    // non-ASCII long strings clamp in code-point space (round 9): the
    // upper bound increments the last code point of the truncated prefix
    val acc = ChunkStats.minMax(ZarrType.Str, Seq("a", "é" * 100)).get
    assert(acc._1 == "a" && acc._2 == "é" * 15 + "ê")
    assert(ChunkFilter.cmp(acc._2, "é" * 100) > 0)
    // DEL increments to U+0080 (no ASCII ceiling anymore)
    val del = ChunkStats.minMax(ZarrType.Str, Seq("a", "\u007f" * 100)).get
    assert(del._2 == "\u007f" * 15 + "\u0080")
    // U+D7FF steps over the surrogate gap to U+E000 (the next scalar)
    val gap = ChunkStats.minMax(ZarrType.Str, Seq("a", "\ud7ff" * 100)).get
    assert(gap._2 == "\ud7ff" * 15 + "\ue000")
    assert(ChunkFilter.cmp(gap._2, "\ud7ff" * 100) > 0)
    // supplementary (emoji) prefixes clamp too; truncation never splits
    // a surrogate pair
    val emoji = new String(Character.toChars(0x1F600))
    val em = ChunkStats.minMax(ZarrType.Str, Seq("a", emoji * 60)).get
    assert(ChunkFilter.cmp(em._2, emoji * 60) > 0)
    val emHi = em._2.asInstanceOf[String]
    assert(emHi.codePointCount(0, emHi.length) <= 8)
    // genuinely unclampable: all-U+10FFFF prefix (nothing to increment)
    // and ill-formed lone surrogates (no scalar order argument)
    assert(ChunkStats.minMax(ZarrType.Str,
      Seq("a", new String(Character.toChars(0x10FFFF)) * 60)).isEmpty)
    assert(ChunkStats.minMax(ZarrType.Str, Seq("a", "\ud800x" * 60)).isEmpty)
  }

  test("long strings get clamped prefix bounds that bracket the true range") {
    // lo is truncated (prefix sorts <= the full string); hi is truncated
    // and incremented (strictly > every string sharing the prefix)
    val got = ChunkStats.minMax(ZarrType.Str, Seq("a" * 100 + "b", "z" * 100))
    assert(got.isDefined)
    val (lo, hi) = got.get
    assert(lo == "a" * 16)
    assert(hi == "z" * 15 + "{") // 'z'+1
    assert(ChunkFilter.cmp(lo, "a" * 100 + "b") <= 0)
    assert(ChunkFilter.cmp(hi, "z" * 100) > 0)
    // short strings mixed with long: still clamped, still bracketing
    val mixed = ChunkStats.minMax(ZarrType.Str, Seq("k", "m" * 80)).get
    assert(mixed._1 == "k" && mixed._2 == "m" * 15 + "n")
  }

  test("prefix-boundary case: values sharing the full clamp prefix stay bracketed") {
    val p = "prefix0123456789" // exactly 16 chars (the clamp length)
    val got = ChunkStats.minMax(ZarrType.Str, Seq(p + "A" * 60, p + "Z" * 60)).get
    assert(got._1 == p)
    assert(got._2 == "prefix012345678:") // last kept char '9' incremented
    assert(ChunkFilter.cmp(got._2, p + "Z" * 60) > 0)
    // interval proofs stay sound on the widened range: a value sharing
    // the prefix cannot be refuted; one outside it can
    val r: String => Option[(Any, Any)] = { case "s" => Some(got); case _ => None }
    import org.apache.spark.sql.sources._
    assert(ChunkStats.mayMatch(Seq(EqualTo("s", p + "MMMM")), r))
    assert(!ChunkStats.mayMatch(Seq(EqualTo("s", "zebra")), r))
    assert(!ChunkStats.mayMatch(Seq(LessThan("s", "prefix")), r))
    assert(ChunkStats.mayMatch(Seq(GreaterThan("s", p)), r))
  }

  test("filtered scan over long strings skips chunks via clamped prefix stats") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/s7"
    // 80 docs whose text starts with a sortable key then a long tail —
    // the clamped 16-char prefixes of each 16-row chunk are disjoint
    (0 until 80).map(i => Tuple1(f"k$i%03d " + "x" * 100)).toDF("text")
      .coalesce(1)
      .write.format("zarr").mode("overwrite").option("chunk_size", "16").save(url)
    fsLog.clear()
    val rows = spark.read.format("zarr").load(url)
      .filter("text >= 'k064'").collect()
    assert(rows.length == 16)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/s7/text/(c|c\\.part[^/]*)/\\d+$"))
    // chunks 0-3 (k000..k063) are refuted by their clamped hi bounds
    // BEFORE any fetch; only chunk 4 is read
    assert(chunkOpens.nonEmpty && chunkOpens.forall(_.endsWith("/4")),
      s"prefix-stats-skipped chunks were fetched: ${chunkOpens.mkString(", ")}")
  }

  test("multilingual long strings roundtrip stats end-to-end: non-ASCII clamp skips chunks") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/s7u"
    // sortable Cyrillic keys + emoji tails: clamped prefixes are
    // non-ASCII AND contain surrogate pairs, so the sidecar JSON must
    // roundtrip supplementary characters and the skip math must hold in
    // code-point order end-to-end (write → JSON → parse → mayMatch)
    val cyr = "абвгдежзий"
    def key(i: Int): String =
      f"k$i%03d".map(c => if (c.isDigit) cyr(c - '0') else c).mkString
    (0 until 80).map(i => Tuple1(key(i) + " " + ("😀" * 40) + ("д" * 60))).toDF("text")
      .coalesce(1)
      .write.format("zarr").mode("overwrite").option("chunk_size", "16").save(url)
    fsLog.clear()
    val cut = key(64)
    val rows = spark.read.format("zarr").load(url)
      .filter(org.apache.spark.sql.functions.col("text") >= cut).collect()
    assert(rows.length == 16)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/s7u/text/(c|c\\.part[^/]*)/\\d+$"))
    // chunks 0-3 refuted by their clamped non-ASCII hi bounds with no
    // fetch; only chunk 4 is read
    assert(chunkOpens.nonEmpty && chunkOpens.forall(_.endsWith("/4")),
      s"prefix-stats-skipped chunks were fetched: ${chunkOpens.mkString(", ")}")
    // values survive byte-exact (vlen-utf8 + JSON sidecar both clean)
    assert(rows.map(_.getString(0)).sorted.head == key(64) + " " + ("😀" * 40) + ("д" * 60))
  }

  test("pre-round-9 sidecars (no string-order marker) contribute no string bounds") {
    val ztOf: String => Option[ZarrType] = {
      case "id" => Some(ZarrType.Int64)
      case "name" => Some(ZarrType.Str)
      case _ => None
    }
    // a legacy segment: same JSON shape, but no "sord" marker — its
    // string extrema were selected under UTF-16 code-unit order and can
    // be the wrong bracket under the code-point comparator
    val legacy = """{"cols":{"id":{"min":[1],"max":[9]},"name":{"min":["a"],"max":["z"]}}}"""
    val seg = ChunkStats.parse(0, 1, legacy, ztOf)
    assert(seg.range("id", 0).contains((1L, 9L)), "numeric bounds stay live")
    assert(seg.range("name", 0).isEmpty, "legacy string bounds must be dropped")
    // a current segment roundtrips with the marker and keeps strings
    val current = ChunkStats.encode(Seq(
      ("id", ZarrType.Int64, IndexedSeq(Some((1L: Any, 9L: Any))), IndexedSeq(None)),
      ("name", ZarrType.Str, IndexedSeq(Some(("a": Any, "z": Any))), IndexedSeq(None))))
    assert(current.contains("\"sord\":\"cp\""), current)
    val seg2 = ChunkStats.parse(0, 1, current, ztOf)
    assert(seg2.range("name", 0).contains(("a", "z")))
  }

  test("N-D store after analyze: coordinate + data filters skip chunks with ZERO GETs") {
    val url = s"graftstat://$base/latlon2d"
    val store = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    // the reference's flagship shape: lat/lon coords + 8x8 data, 3x3 chunks
    ZarrWriter.writeLatLonStore(store)
    assert(ZarrMaintenance.analyze(spark, url) == 9)
    val df = spark.read.format("zarr").load(url)

    // a coordinate predicate prunes a whole grid ROW: lat > 38.55 keeps
    // lat chunk 2 only -> target chunks (2,0),(2,1),(2,2)
    fsLog.clear()
    val rows = df.filter("lat > 38.55").select("lat", "lon", "data").collect()
    assert(rows.length == 16) // lat in {38.6, 38.7} x 8 lons
    assert(rows.map(_.getDouble(2)).sorted.toSeq == (48 until 64).map(_.toDouble))
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/latlon2d/data/c/\\d+/\\d+$")).distinct
    assert(dataOpens.length == 3 && dataOpens.forall(_.contains("/c/2/")),
      s"only grid row 2 may be fetched: ${dataOpens.mkString(", ")}")
    val latOpens = fsLog.gets
      .filter(_.matches(".*/latlon2d/lat/c/\\d+$")).distinct
    assert(latOpens.forall(_.endsWith("/2")),
      s"stats-skipped lat chunks were fetched: ${latOpens.mkString(", ")}")

    // a DATA predicate prunes to the matching chunks: row-major values
    // 0..63, so data > 59 (values 60..63, bottom row) lives in chunks
    // (2,1) and (2,2) only
    fsLog.clear()
    val hot = df.filter("data > 59.0").select("data").collect()
    assert(hot.map(_.getDouble(0)).sorted.toSeq == (60 until 64).map(_.toDouble))
    val hotOpens = fsLog.gets
      .filter(_.matches(".*/latlon2d/data/c/\\d+/\\d+$")).distinct.sorted.toSeq
    assert(hotOpens == Seq(s"$base/latlon2d/data/c/2/1", s"$base/latlon2d/data/c/2/2"),
      s"data > 59 must touch exactly chunks (2,1),(2,2): ${hotOpens.mkString(", ")}")

    // all-coordinates cross product (SELECT lat, lon) shares the same
    // grid signature -> the sidecar prunes it too, with zero lon GETs
    // for non-matching lon chunks
    fsLog.clear()
    val cross = df.filter("lon > -116.45").select("lat", "lon").collect()
    assert(cross.length == 8 * 2) // lon in {-116.4, -116.3}
    val lonOpens = fsLog.gets
      .filter(_.matches(".*/latlon2d/lon/c/\\d+$")).distinct
    assert(lonOpens.forall(_.endsWith("/2")),
      s"cross-product scan fetched stats-skipped lon chunks: ${lonOpens.mkString(", ")}")
  }

  test("MIN/MAX pushdown declines on clamped string bounds and scans the true value") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/s8"
    // mixed store: exact-summarizable numeric + clamped long strings
    (0 until 80).map(i => (i.toLong, f"k$i%03d " + "x" * 100)).toDF("id", "text")
      .coalesce(1)
      .write.format("zarr").mode("overwrite").option("chunk_size", "16").save(url)
    val df = spark.read.format("zarr").load(url)
    // the sidecar holds only a 16-char PREFIX of the true min — answering
    // MIN(text) from metadata would return a truncated non-value; the
    // pushdown must decline and the scan must return the real string
    val q = df.agg(org.apache.spark.sql.functions.min("text"))
    assert(!q.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      "clamped string bounds must not answer MIN/MAX from metadata")
    assert(q.collect()(0).getString(0) == "k000 " + "x" * 100)
    // numeric min/max on the same store still answers metadata-only
    val qn = df.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id"))
    assert(qn.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      "exact numeric bounds must still push")
    assert(qn.collect()(0).toSeq == Seq(0L, 79L))
  }
}
