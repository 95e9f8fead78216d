package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Metadata-only aggregate pushdown: ungrouped COUNT answers from array
  * shapes, MIN/MAX from the full-coverage stats sidecar — no chunk IO at
  * all; anything unprovable declines and scans. */
class AggPushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("agg-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-aggpush").toString
    val sp = spark; import sp.implicits._
    (0 until 80).map(i => (i.toLong, 100.5 - i, s"k$i"))
      .toDF("id", "v", "name")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(s"graftstat://$base/store")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("ungrouped count/min/max answer with ZERO chunk reads") {
    val df = spark.read.format("zarr").load(s"graftstat://$base/store")
    fsLog.clear()
    val r = df.agg(
      count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"),
      min("v").as("min_v"), max("v").as("max_v"),
      min("name").as("min_name")).collect()(0)
    assert(r.getLong(0) == 80)
    assert(r.getLong(1) == 0 && r.getLong(2) == 79)
    assert(r.getDouble(3) == 100.5 - 79 && r.getDouble(4) == 100.5)
    assert(r.getString(5) == "k0")
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/store/(id|v|name)/c/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"metadata-only aggregate read chunks: ${chunkOpens.mkString(", ")}")
    // and the plan says so
    val plan = df.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("ZarrAggScan"), plan)
  }

  test("CBO column statistics: exact min/max/nullCount from the sidecar, only under cbo.enabled") {
    val path = s"graftstat://$base/store"
    // CBO off (default): no column stats, no sidecar IO on planning
    val off = spark.read.format("zarr").load(path)
      .queryExecution.optimizedPlan.stats
    assert(off.attributeStats.isEmpty, off.attributeStats)
    assert(off.rowCount.contains(BigInt(80)), off.rowCount)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.read.format("zarr").load(path)
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(80)))
      val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
      val id = byName("id")
      assert(id.min.contains(0L) && id.max.contains(79L), id)
      assert(id.nullCount.contains(BigInt(0)), id)
      val v = byName("v")
      assert(v.min.contains(100.5 - 79) && v.max.contains(100.5), v)
      // strings carry no sidecar-derived stats (prefix bounds are not values)
      assert(!byName.contains("name"), byName.keys)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("filters, grouping, and unsupported functions decline the pushdown") {
    val df = spark.read.format("zarr").load(s"graftstat://$base/store")
    // filtered: must scan (and stay correct)
    val f = df.filter("id >= 64").agg(count(lit(1)), min("id")).collect()(0)
    assert(f.getLong(0) == 16 && f.getLong(1) == 64)
    assert(!df.filter("id >= 64").agg(count(lit(1)))
      .queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    // grouped: must scan
    val g = df.groupBy(expr("id % 2").as("p")).agg(count(lit(1)).as("n"))
    assert(g.collect().map(_.getLong(1)).sorted.toSeq == Seq(40L, 40L))
  }

  test("sum/avg answer from sidecar chunk sums with ZERO chunk reads") {
    val df = spark.read.format("zarr").load(s"graftstat://$base/store")
    fsLog.clear()
    val r = df.agg(sum("id").as("s"), avg("id").as("a")).collect()(0)
    assert(r.getLong(0) == (0L until 80L).sum)
    assert(r.getDouble(1) == (0L until 80L).sum.toDouble / 80)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/store/(id|v|name)/c/\\d+$"))
    assert(chunkOpens.isEmpty,
      s"sidecar sum/avg read chunks: ${chunkOpens.mkString(", ")}")
    assert(df.agg(sum("id")).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"))
    // doubles decline: a stored float sum is summation-order-dependent
    // and could not reproduce an engine's scan result
    assert(!df.agg(sum("v")).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"))
    assert(df.agg(sum("v")).collect()(0).getDouble(0) == (0 until 80).map(100.5 - _).sum)
    // strings can never sum; mixed provable/unprovable declines the batch
    assert(!df.agg(sum("id"), sum("v")).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"))
  }

  test("partial sidecar coverage: complete pushdown declines, HYBRID serves what it can") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/partialsum"
    (0 until 80).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    // append WITHOUT stats: chunks 5.. have no segment, coverage is partial
    (80 until 96).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("append")
      .option("chunk_size", "16").option("stats", "false").save(url)
    val df = spark.read.format("zarr").load(url)
    val plan = df.agg(sum("id")).queryExecution.executedPlan.toString
    assert(!plan.contains("ZarrAggScan"),
      s"partial coverage must not claim a complete metadata answer\n$plan")
    assert(plan.contains("ZarrPartialAggScan"),
      s"partial coverage should serve covered chunks from stats\n$plan")
    assert(df.agg(sum("id")).collect()(0).getLong(0) == (0L until 96L).sum)
    // count still answers from shapes alone
    assert(df.agg(count(lit(1))).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"))
  }

  test("HYBRID pushdown on a half-covered store: chunk GETs ∝ uncovered chunks only") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/halfcov"
    def rows(r: Range) = r.map(i => (i.toLong, 100.5 - i, "k%03d".format(i)))
    rows(0 until 64).toDF("id", "v", "name")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
    // the second half appends with stats disabled — the shape of a
    // foreign/partially-analyzed store: chunks 4..7 have no segment
    rows(64 until 128).toDF("id", "v", "name")
      .coalesce(1).write.format("zarr").mode("append")
      .option("chunk_size", "16").option("stats", "false").save(url)
    val df = spark.read.format("zarr").load(url)
    val agg = df.agg(min("id").as("mn"), max("id").as("mx"),
      sum("id").as("s"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrPartialAggScan"), plan)
    assert(plan.contains("served=4"), plan)
    assert(plan.contains("uncoveredChunks=4"), plan)
    fsLog.clear()
    val r = agg.collect()(0)
    assert(r.getLong(0) == 0 && r.getLong(1) == 127)
    assert(r.getLong(2) == (0L until 128L).sum && r.getLong(3) == 128)
    // appended chunks commit rename-free under manifest-staged keys, so
    // count every data open under the array dirs (exclude metadata/stats)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/halfcov/(id|v|name)/.*"))
      .filterNot(p => p.contains("_stats") || p.endsWith("zarr.json") || p.endsWith(".zarray"))
    assert(chunkOpens.nonEmpty && chunkOpens.forall(_.contains("/id/")),
      s"only the referenced column may be read: ${chunkOpens.mkString(", ")}")
    assert(chunkOpens.distinct.length == 4,
      s"hybrid must read exactly the 4 uncovered chunks, got ${chunkOpens.distinct.mkString(", ")}")
    assert(!chunkOpens.exists(_.matches(".*/id/c/[0-3]$")),
      s"covered chunks must be served from stats, not read: ${chunkOpens.mkString(", ")}")
    // string min/max across the covered/uncovered boundary
    val r2 = df.agg(min("name"), max("name")).collect()(0)
    assert(r2.getString(0) == "k000" && r2.getString(1) == "k127")
    // avg stays exact whichever path Spark picks for it in partial mode
    assert(df.agg(avg("id")).collect()(0).getDouble(0)
      == (0L until 128L).sum.toDouble / 128)
    // filters and grouping still decline to the plain scan
    val fplan = df.filter("id >= 5").agg(min("id")).queryExecution.executedPlan.toString
    assert(!fplan.contains("AggScan"), fplan)
    assert(df.filter("id >= 5").agg(min("id")).collect()(0).getLong(0) == 5)
    // COUNT needs no chunk bytes: count(v) alongside min(id) must not
    // fetch any v chunk — rows come from the extent
    fsLog.clear()
    val r3 = df.agg(count(col("v")).as("cv"), min("id").as("mn")).collect()(0)
    assert(r3.getLong(0) == 128 && r3.getLong(1) == 0)
    val vOpens = fsLog.gets
      .filter(p => p.contains("/halfcov/v/") && !p.contains("_stats")
        && !p.endsWith("zarr.json") && !p.endsWith(".zarray"))
    assert(vOpens.isEmpty,
      s"count-only columns must not be fetched: ${vOpens.mkString(", ")}")
  }

  test("HYBRID sum wraps like Spark's non-ANSI Sum when ANSI is off") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/wrapsum"
    val priorAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      (0 until 16).map(_ => Tuple1(1L)).toDF("x")
        .coalesce(1).write.format("zarr").mode("overwrite")
        .option("chunk_size", "16").save(url)
      // uncovered chunks hold values whose partial sums overflow a long
      (0 until 32).map(_ => Tuple1(Long.MaxValue / 4)).toDF("x")
        .coalesce(1).write.format("zarr").mode("append")
        .option("chunk_size", "16").option("stats", "false").save(url)
      val df = spark.read.format("zarr").load(url)
      val plan = df.agg(sum("x")).queryExecution.executedPlan.toString
      assert(plan.contains("ZarrPartialAggScan"), plan)
      // wrapping addition is associative, so the expected value is
      // partitioning-independent
      var expected = 16L
      (0 until 32).foreach(_ => expected += Long.MaxValue / 4)
      assert(df.agg(sum("x")).collect()(0).getLong(0) == expected,
        "hybrid partial sums must wrap, not throw, under non-ANSI")
    } finally spark.conf.set("spark.sql.ansi.enabled", priorAnsi)
  }

  test("count(*) pushes even without a stats sidecar; min/max falls back") {
    val sp = spark; import sp.implicits._
    val url = s"file://$base/nostats"
    (0 until 48).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").option("stats", "false").save(url)
    val df = spark.read.format("zarr").load(url)
    val pc = df.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(pc.contains("ZarrAggScan"), s"count(*) needs only shapes\n$pc")
    assert(df.count() == 48)
    val pm = df.agg(min("id")).queryExecution.executedPlan.toString
    assert(!pm.contains("ZarrAggScan"), "min without stats must scan")
    assert(df.agg(min("id")).collect()(0).getLong(0) == 0)
  }

  test("N-D store: metadata-only MIN/MAX/SUM after analyze; HYBRID after losing a segment") {
    val url = s"graftstat://$base/nd"
    val store = ZarrStore(url,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    store.writeStoreRootMeta()
    // integer 2-D data (exact sums) + float coordinates, 8x8 / 3x3 grid
    ZarrWriter.writeArray(store, "row", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 38.0 + i * 0.1), Some(Seq("row")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "col", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => -117.0 + i * 0.1), Some(Seq("col")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "v", ZarrType.Int64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toLong: Any), Some(Seq("row", "col")), ZarrWriter.CodecChain.raw)
    assert(ZarrMaintenance.analyze(spark, url) == 9)
    val df = spark.read.format("zarr").load(url)

    // full coverage: complete metadata-only answer, zero chunk GETs
    fsLog.clear()
    val full = df.agg(min("v").as("mn"), max("v").as("mx"),
      sum("v").as("s"), avg("v").as("a"), count(lit(1)).as("n"))
    assert(full.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    val r = full.collect()(0)
    assert(r.getLong(0) == 0 && r.getLong(1) == 63)
    assert(r.getLong(2) == (0L until 64L).sum && r.getLong(4) == 64)
    assert(r.getDouble(3) == (0L until 64L).sum.toDouble / 64)
    assert(fsLog.gets
      .count(_.matches(".*/nd/(row|col|v)/c/.*")) == 0)

    // lose ONE segment: the hybrid serves the remaining chunks from
    // stats and reads exactly the uncovered ordinals' v chunks
    val segs = store.listStatsSegments()
    val (lostFirst, lostN) = segs.find { case (f, n) => f <= 4 && 4 < f + n }.get
    store.deleteKey(ChunkStats.segmentKey(lostFirst, lostN))
    val agg = df.agg(min("v").as("mn"), max("v").as("mx"), sum("v").as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrPartialAggScan"), plan)
    assert(plan.contains(s"served=${9 - lostN}"), plan)
    assert(plan.contains(s"uncoveredChunks=$lostN"), plan)
    fsLog.clear()
    val r2 = agg.collect()(0)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 63)
    assert(r2.getLong(2) == (0L until 64L).sum)
    val vOpens = fsLog.gets
      .filter(_.matches(".*/nd/v/c/\\d+/\\d+$")).distinct
    val expected = (lostFirst until lostFirst + lostN)
      .map(o => s"$base/nd/v/c/${o / 3}/${o % 3}").toSet
    assert(vOpens.toSet == expected,
      s"hybrid must read exactly the uncovered chunks: got ${vOpens.mkString(", ")}")

    // HYBRID with a BROADCAST-coordinate aggregate alongside the data
    // column: served chunks answer min/max(row) from the per-target-
    // chunk coordinate bounds; the uncovered ordinals decode the
    // coordinate through the cache + broadcast mapping
    val mixed = df.agg(min("row").as("mnr"), max("row").as("mxr"),
      sum("v").as("s"))
    assert(mixed.queryExecution.executedPlan.toString.contains("ZarrPartialAggScan"))
    val rm = mixed.collect()(0)
    assert(rm.getDouble(0) == 38.0 && rm.getDouble(1) == 38.0 + 7 * 0.1)
    assert(rm.getLong(2) == (0L until 64L).sum)

    // SUM over a BROADCAST coordinate: selecting only `row` resolves to
    // the 1-D coordinate grid, which the 2-D segments do not describe —
    // declines safely and scans the 8-value coordinate
    val rowSum = df.select("row").agg(sum("row")).collect()(0)
    assert(math.abs(rowSum.getDouble(0) - (0 until 8).map(38.0 + _ * 0.1).sum) < 1e-9)
  }

  test("coverage sweep: every deleted-segment count answers like the declined scan") {
    // 2-D 8x8 store in 3x3 chunks (9 ordinals): integer and string data
    // columns, plus the broadcast coordinate `row`
    val url = s"file://$base/sweep"
    val store = ZarrStore(url)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "row", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 10.0 + i), Some(Seq("row")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "col", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 20.0 + i), Some(Seq("col")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "v", ZarrType.Int64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(i => (i * 7L % 64) - 20: Any), Some(Seq("row", "col")),
      ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "s", ZarrType.Str, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(i => "s%02d".format(i * 13 % 64)), Some(Seq("row", "col")),
      ZarrWriter.CodecChain.raw, fillJson = "\"\"")
    assert(ZarrMaintenance.analyze(spark, url) == 9)
    val segs = store.listStatsSegments()
    val n = segs.length
    assert(n >= 3, s"the sweep needs several segments: $segs")
    def agg(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)), count(col("s")),
      min("v"), max("v"), sum("v"), min("s"), max("s"), min("row"), max("row"))
    val load = () => spark.read.format("zarr").load(url)
    // a filter matching every row declines the pushdown: the scan's answer
    val declined = agg(load().filter("v >= -20"))
    assert(!declined.queryExecution.executedPlan.toString.contains("AggScan"))
    val expected = declined.collect()(0).toSeq
    assert(expected.take(2) == Seq(64L, 64L))
    // delete segments in an interleaved order so the uncovered runs split
    val order = segs.indices.sortBy(i => (i % 2, i)).map(segs)
    (0 to n).foreach { k =>
      if (k > 0) store.deleteKey(ChunkStats.segmentKey(order(k - 1)._1, order(k - 1)._2))
      val q = agg(load())
      val plan = q.queryExecution.executedPlan.toString
      val lost = order.take(k).map(_._2).sum
      if (k == 0) assert(plan.contains("ZarrAggScan") && plan.contains("metadata-only"), plan)
      else if (k < n) {
        assert(plan.contains("ZarrPartialAggScan"), s"k=$k\n$plan")
        assert(plan.contains(s"served=${9 - lost} ") &&
          plan.contains(s"uncoveredChunks=$lost "), s"k=$k\n$plan")
      } else assert(!plan.contains("AggScan"), s"k=$k\n$plan")
      assert(q.collect()(0).toSeq == expected, s"k=$k")
    }
    // a phantom segment past the grid: never exact coverage, yet every
    // in-grid chunk is still served
    assert(ZarrMaintenance.analyze(spark, url) == 9)
    store.writeText(ChunkStats.segmentKey(9, 2), ChunkStats.encode(Seq(
      ("v", ZarrType.Int64, IndexedSeq(Some((999L, 9999L)), Some((999L, 9999L))),
        IndexedSeq(Some(1L), Some(1L))))))
    val q = agg(load())
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrPartialAggScan") && plan.contains("served=9 ") &&
      plan.contains("uncoveredChunks=0 "), plan)
    assert(q.collect()(0).toSeq == expected)
  }

  test("CBO column statistics reach N-D stores after analyze") {
    val url = s"graftstat://$base/nd" // the (restored) analyzed 2-D store
    ZarrMaintenance.analyze(spark, url) // re-cover after the hybrid test's deletion
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.read.format("zarr").load(url).select("v", "row")
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(64)), st.rowCount)
      val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
      val v = byName("v")
      assert(v.min.contains(0L) && v.max.contains(63L), v)
      // the broadcast coordinate gets exact bounds too (recorded per
      // target chunk over its output rows)
      val rw = byName("row")
      assert(rw.min.contains(38.0), rw)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("lone-coordinate MIN/MAX on an analyzed N-D climate cube: zero GETs") {
    // SURVEY §7.11 lever 2: selecting only a coordinate resolves to its
    // own 1-D grid, which the store-grid segments don't describe — but
    // MIN/MAX are order statistics, invariant under broadcast
    // multiplicity, so the full-coverage STORE-grid segment set answers
    // them exactly. SUM/AVG must keep declining (multiplicity differs).
    val fixture = new java.io.File("src/test/resources/zarr_v2_climate")
    assume(fixture.isDirectory, "fixture store present")
    val dst = new java.io.File(s"$base/climate_lone")
    def cp(src: java.io.File, to: java.io.File): Unit = {
      if (src.isDirectory) { to.mkdirs(); src.listFiles().foreach(f => cp(f, new java.io.File(to, f.getName))) }
      else java.nio.file.Files.copy(src.toPath, to.toPath): Unit
    }
    cp(fixture, dst)
    val url = s"graftstat://$base/climate_lone"
    assert(ZarrMaintenance.analyze(spark, url) > 0)
    val df = spark.read.format("zarr").load(url)

    fsLog.clear()
    val agg = df.agg(min("time").as("mn"), max("time").as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      agg.queryExecution.executedPlan.toString)
    val r = agg.collect()(0)
    val t0 = 1700000000000000000L
    val day = 86400L * 1000000000L
    assert(r.getLong(0) == t0 && r.getLong(1) == t0 + 3 * day, r.toString)
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/climate_lone/(time|lat|lon|temp)/.*"))
      .filterNot(_.contains("zattrs")).filterNot(_.contains("zarray"))
    assert(chunkOpens.isEmpty,
      s"lone-coordinate min/max must be metadata-only: ${chunkOpens.mkString(", ")}")

    // two different lone coordinate axes in one aggregate
    val r2 = df.agg(min("lat").as("a"), max("lon").as("b")).collect()(0)
    assert(r2.getDouble(0) == 38.0 && r2.getDouble(1) == -117.0 + 0.25 * 6)

    // SUM over a lone coordinate still declines to the (tiny) axis scan
    val sumPlan = df.select("time").agg(sum("time"))
    assert(!sumPlan.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      "broadcast-multiplicity-dependent SUM must not serve from store-grid segments")
  }

  test("fixture N-D / coordinate stores decline min-max but keep exact count") {
    val store = ZarrStore(s"$base/fixture")
    ZarrWriter.writeArray(store, "x", ZarrType.Int64,
      Seq(8L), Seq(3), (0 until 8).map(_.toLong: Any),
      None, ZarrWriter.CodecChain.raw)
    store.writeStoreRootMeta()
    val df = spark.read.format("zarr").load(s"$base/fixture")
    assert(df.count() == 8)
    assert(df.agg(min("x")).collect()(0).getLong(0) == 0)
  }
}
