package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stats-sidecar hygiene against failed/aborted writes: stale final-keyed
  * segments must never poison aggregate pushdown or chunk skipping, and
  * the root metadata document must survive hostile array names. */
class StatsHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("stats-hygiene-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-hygiene").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeStore(url: String): Unit = {
    val sp = spark; import sp.implicits._
    (0 until 80).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
  }

  test("phantom segment past the grid declines min/max pushdown; next append purges it") {
    val url = s"file://$base/phantom"
    writeStore(url)
    val store = ZarrStore(s"$base/phantom")
    assert(store.listStatsSegments() == Seq((0L, 5)))
    val df0 = spark.read.format("zarr").load(url)
    assert(df0.agg(min("id")).queryExecution.executedPlan.toString
      .contains("ZarrAggScan"), "precondition: full coverage pushes down")

    // simulate an aborted aligned append: a FINAL-keyed segment at chunk
    // ordinals the store's shape does not own, claiming an id range far
    // outside the real data
    store.writeText(ChunkStats.segmentKey(5, 2), ChunkStats.encode(Seq(
      ("id", ZarrType.Int64, IndexedSeq(Some((9999L, 99999L)), Some((9999L, 99999L))),
        IndexedSeq(None, None)),
      ("v", ZarrType.Float64, IndexedSeq(Some((0.0, 0.0)), Some((0.0, 0.0))),
        IndexedSeq(None, None)))))

    // coverage is now 7 chunks for a 5-chunk grid: pushdown must decline
    // (a pushed MAX would otherwise answer 99999) and the scan stays exact
    val df = spark.read.format("zarr").load(url)
    val plan = df.agg(min("id"), max("id")).queryExecution.executedPlan.toString
    assert(!plan.contains("ZarrAggScan"), s"phantom segment folded into pushdown\n$plan")
    val r = df.agg(min("id"), max("id")).collect()(0)
    assert(r.getLong(0) == 0 && r.getLong(1) == 79)

    // a later append reusing those ordinals purges the stale segment
    // before writing, so coverage is exact again afterwards
    val sp = spark; import sp.implicits._
    (80 until 96).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("append")
      .option("chunk_size", "16").save(url)
    val segs = store.listStatsSegments()
    assert(segs.map(_._1).distinct == segs.map(_._1),
      s"stale segment survived the append: $segs")
    val df2 = spark.read.format("zarr").load(url)
    val r2 = df2.agg(min("id"), max("id")).collect()(0)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 95)
  }

  test("overlapping segments are dropped on BOTH sides; scans stay exact") {
    val url = s"file://$base/overlap"
    writeStore(url)
    val store = ZarrStore(s"$base/overlap")
    // a stale segment claiming chunks [2,4) with ranges describing bytes
    // that are no longer there — it overlaps the good (0,5) segment and
    // neither can be trusted for the contested ordinals
    store.writeText(ChunkStats.segmentKey(2, 2), ChunkStats.encode(Seq(
      ("id", ZarrType.Int64, IndexedSeq(Some((500L, 500L)), Some((600L, 600L))),
        IndexedSeq(None, None)),
      ("v", ZarrType.Float64, IndexedSeq(Some((0.0, 0.0)), Some((0.0, 0.0))),
        IndexedSeq(None, None)))))
    assert(store.listStatsSegments().isEmpty,
      "overlapping segments must both be ignored")
    // with the sidecar disabled the filtered read decode-and-tests — a
    // wrong skip from the stale segment would drop these rows
    val rows = spark.read.format("zarr").load(url)
      .filter("id >= 32 and id < 48").select("id").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (32L until 48L))
  }

  test("the _stats/ listing parses segments, inner docs and staging") {
    val store = ZarrStore(s"$base/cleanfrom")
    store.writeText(ChunkStats.segmentKey(5, 2), "{}")
    store.writeText(ChunkStats.segmentKey(0, 5), "{}")
    store.writeText(ChunkStats.innerKey(3), "{}")
    store.writeText(ChunkStats.stagingKey("w1-0", ChunkStats.SegmentFile(0L, 4)), "{}")
    store.writeText(s"${ChunkStats.dirName}/c.partdead-0_4.json", "{}") // old-form leftover
    store.writeText(s"${ChunkStats.dirName}/notes.txt", "{}") // foreign: not an entry
    val listing = store.sidecar()
    assert(listing.raw == Seq((0L, 5), (5L, 2)))
    assert(listing.innerOrds == Seq(3L))
    assert(listing.staged.map(_.name).sorted == Seq("c.partdead-0_4.json", "c.partw1-0-s0_4.json"))
    val staged = listing.staged.filter(_.ofWrite("w1"))
    assert(staged.map(s => (s.scope, s.target)) == Seq(("w1-0", Some(ChunkStats.SegmentFile(0L, 4)))))
    assert(listing.staged.filterNot(_.ofWrite("w1")).forall(_.target.isEmpty))
  }

  test("pushed SUM/AVG equals the scanned truth on random stores (staged + aligned)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7L)
    (0 until 6).foreach { trial =>
      val n = 30 + rnd.nextInt(120)
      val data = Seq.fill(n)(rnd.nextLong() % 100000L)
      val url = s"file://$base/sumprop$trial"
      val df0 = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
      // staged path: one partition (middle partitions must be
      // chunk-aligned, which random n is not)
      val w = df0.coalesce(1)
        .write.format("zarr").mode("overwrite").option("chunk_size", "16")
      // alternate staged and aligned write paths
      (if (trial % 2 == 0) w
       else graft.sources.ZarrWriteSupport.alignForWrite(df0, 16 * 4)
         .write.format("zarr").mode("overwrite").option("chunk_size", "16")
         .option("rows_per_partition", (16 * 4).toString)).save(url)
      val df = spark.read.format("zarr").load(url)
      val r = df.agg(sum("x").as("s"), avg("x").as("a")).collect()(0)
      val written = df.select("x").collect().map(_.getLong(0))
      assert(r.getLong(0) == written.sum, s"trial $trial")
      assert(r.getDouble(1) == written.sum.toDouble / written.length, s"trial $trial")
    }
  }

  test("root metadata document survives array names with quotes/backslashes") {
    assert(ZarrStore.jsonQuote("plain") == "\"plain\"")
    val hostile = "we\"ird\\name"
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = om.readTree(s"{${ZarrStore.jsonQuote(hostile)}: 1}")
    assert(parsed.fieldNames().next() == hostile)

    // full roundtrip: a consolidated root doc with a hostile array name
    // parses back (previously produced invalid JSON)
    val store = ZarrStore(s"$base/hostile")
    val meta = ZarrWriter.metaJson(ZarrType.Int64, Seq(4L), Seq(4),
      "0", None, ZarrWriter.CodecChain.raw)
    store.writeStoreRootMeta(Seq(hostile -> meta))
    val doc = store.readText("zarr.json").get
    assert(om.readTree(doc).path("consolidated_metadata").path("metadata")
      .has(hostile), s"root doc unparseable or name mangled: $doc")
  }
}
