package graft.zarr

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `ZarrMaintenance.compactStats` — sidecar compaction. A micro-batch
  * ingest accumulates one stats segment per write task (10^5 over a
  * year of 5-minute triggers), and every scan PLAN pays the `_stats/`
  * LIST while scan tasks GET each overlapping document; compaction
  * collapses both to O(chunks / 4096) with zero chunk reads. The
  * failure class is silent information loss (a dropped bound weakens
  * skips; a WRONG bound drops rows), so the pins compare per-ordinal
  * bounds byte-for-value across the merge. */
class StatsCompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("stats-compaction-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-statscompact").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 66 aligned one-chunk write tasks → 66 segments + 66 inner docs. */
  private def buildTabular(url: String): Unit = {
    val sp = spark
    sp.range(0L, 66L * 16, 1L, 66)
      .select(col("id"), (col("id") * 1.5).as("x"))
      .write.format("zarr").mode("append")
      .option("chunk_size", "16").option("inner_chunk_size", "4")
      .option("rows_per_partition", "16")
      .save(url)
  }

  /** Every recorded (column, ordinal) → range over the LIVE sidecar. */
  private def allRanges(url: String): Map[(String, Long), (Any, Any)] = {
    val st = ZarrStore(url)
    val metas = st.listArrays().map(st.readMeta)
    val ztOf: String => Option[ZarrType] =
      n => metas.find(_.name == n).map(_.dataType)
    val out = Map.newBuilder[(String, Long), (Any, Any)]
    st.listStatsSegments().foreach { case (f, n) =>
      val seg = ChunkStats.parse(f, n, st.readText(ChunkStats.segmentKey(f, n)).get, ztOf)
      seg.cols.keys.foreach { cn =>
        (f until f + n).foreach { ord =>
          seg.range(cn, ord).foreach(r => out += ((cn, ord)) -> r)
        }
      }
    }
    out.result()
  }

  test("66 write-task segments merge into ONE document; every bound survives byte-for-value") {
    val url = s"graftstat://$base/tab"
    buildTabular(url)
    val st = ZarrStore(url)
    assert(st.listStatsSegmentsRaw().size == 66)
    val rangesBefore = allRanges(url)
    assert(rangesBefore.nonEmpty)
    val aggBefore = spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("x"), max("x"), sum("id")).collect()(0)

    fsLog.clear()
    val (before, after) = ZarrMaintenance.compactStats(spark, url)
    assert(before == 66L && after == 1L, s"$before -> $after")
    assert(fsLog.gets
      .count(_.matches(".*/tab/(id|x)/c/\\d+$")) == 0,
      "sidecar compaction must read no chunk bytes")
    assert(allRanges(url) == rangesBefore,
      "per-ordinal bounds must survive the merge exactly")
    // inner docs untouched; aggregates identical; still metadata-only
    assert(st.sidecar().innerOrds.size == 66)
    fsLog.clear()
    val aggAfter = spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("x"), max("x"), sum("id")).collect()(0)
    assert(aggAfter == aggBefore)
    assert(fsLog.gets
      .count(_.matches(".*/tab/(id|x)/c/\\d+$")) == 0,
      "post-compaction metadata-only aggregate must read no chunks")
    // chunk skip still serves from the merged doc: one chunk matches
    fsLog.clear()
    assert(spark.read.format("zarr").load(url)
      .filter(col("id") >= 1040L).count() == 16)
    val opened = fsLog.gets
      .filter(_.matches(".*/tab/id/c/\\d+$")).distinct
    assert(opened.size <= 1, s"merged bounds must still skip: $opened")
    // idempotent: nothing left to merge
    assert(ZarrMaintenance.compactStats(spark, url) == ((1L, 1L)))
  }

  test("driver and distributed compaction produce identical sidecars (gapped runs, many groups)") {
    def build(url: String): Unit = {
      buildTabular(url)
      val st = ZarrStore(url)
      // gaps split the 66-segment run into 11 runs of 5 (every 6th
      // segment deleted) — enough groups to exercise the Spark job path
      (0 until 66 by 6).foreach { k =>
        assert(st.deleteKey(ChunkStats.segmentKey(k.toLong, 1)))
      }
    }
    val a = s"graftstat://$base/drv"
    val b = s"graftstat://$base/dist"
    build(a); build(b)
    val ra = ZarrMaintenance.compactStatsImpl(spark, a, inlineMax = Long.MaxValue)
    val rb = ZarrMaintenance.compactStatsImpl(spark, b, inlineMax = 0L)
    assert(ra == rb, s"$ra vs $rb")
    assert(ra == ((55L, 11L)), s"11 gapped runs of 5 must merge to 11: $ra")
    assert(ZarrStore(a).listStatsSegmentsRaw() == ZarrStore(b).listStatsSegmentsRaw())
    assert(allRanges(a) == allRanges(b))
  }

  test("N-D cube: append segments merge under the grid signature; junk never merges") {
    val sp = spark; import sp.implicits._
    val url = s"graftstat://$base/cube"
    def slab(dFrom: Int, dUntil: Int) =
      (for (d <- dFrom until dUntil; x <- 0 until 8)
        yield (d.toLong, x.toLong, d * 100.0 + x)).toDF("day", "x", "v")
    slab(0, 8).write.format("zarr").mode("append")
      .option("dims", "day,x").option("chunk_shape", "2,4").save(url)
    slab(8, 12).write.format("zarr").mode("append")
      .option("append_dim", "day").save(url)
    val st = ZarrStore(url)
    assert(st.listStatsSegmentsRaw().size >= 2)
    val rangesBefore = allRanges(url)
    // junk that must survive compaction untouched (vacuum's job):
    // an unreadable segment OUTSIDE the live runs' contiguity
    st.writeText(ChunkStats.segmentKey(500, 4), "{}")
    val (before, after) = ZarrMaintenance.compactStats(spark, url)
    assert(after < before, s"$before -> $after")
    assert(st.readText(ChunkStats.segmentKey(500, 4)).isDefined,
      "junk is not compaction's to delete")
    // bounds identical over the live range; reads identical
    val rangesAfter = allRanges(url)
    assert(rangesAfter == rangesBefore,
      "cube bounds must survive the merge exactly")
    val r = spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("v"), max("v")).collect()(0)
    assert(r.getLong(0) == 96 && r.getDouble(1) == 0.0 && r.getDouble(2) == 1107.0)
  }

  test("a ZERO-LENGTH junk segment cannot make the merge delete its own output") {
    // s<f>_0 parses, never overlaps (empty range), and survives the
    // suppression sweep — if it joined a group, the merged document's
    // key (same first, same total) would COLLIDE with a source key and
    // phase 2 would delete the merge's own output, silently destroying
    // the run's coverage. The n > 0 filter keeps it out; compaction
    // must merge around it and leave it untouched.
    val url = s"graftstat://$base/zero"
    buildTabular(url)
    val st = ZarrStore(url)
    st.writeText(ChunkStats.segmentKey(16, 0), "{}")
    val rangesBefore = allRanges(url)
    val (before, after) = ZarrMaintenance.compactStats(spark, url)
    assert(before == 67L && after == 2L, s"$before -> $after")
    assert(st.readText(ChunkStats.segmentKey(0, 66)).isDefined,
      "the merged document must exist at its own key")
    assert(st.readText(ChunkStats.segmentKey(16, 0)).isDefined,
      "junk is not compaction's to delete")
    assert(allRanges(url) == rangesBefore,
      "coverage must survive the merge with the junk present")
    val segs = st.listStatsSegments()
    assert(segs.map(_._2).sum == 66,
      s"the merged document must cover the whole grid: $segs")
    // the empty junk is inert to readers (claims no ordinals, must not
    // suppress a real neighbor) and is reclaimed by the incremental
    // analyze raw walk, like suppressed files
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) == 0L)
    assert(st.readText(ChunkStats.segmentKey(16, 0)).isEmpty,
      "incremental analyze must retire the empty junk segment")
  }

  test("crash window (merged committed, sources not yet deleted): reads degrade, analyze heals") {
    val url = s"graftstat://$base/crash"
    buildTabular(url)
    val st = ZarrStore(url)
    val metas = st.listArrays().map(st.readMeta).sortBy(_.name)
    val geom = ScanGeometry.resolve(metas)
    val colTypes = metas.map(m => m.name -> m.dataType.zarrName).toMap
    val truth = spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("x"), max("x")).collect()(0)
    // phase 1 ONLY — the crash state: merged doc committed, all 66
    // sources still present → everything overlap-suppressed
    val superseded = ZarrDistWalk.compactStatsUnit(
      s"$base/crash", Nil,
      Seq(st.listStatsSegments()), geom.ndim, geom.gridShape.toSeq,
      geom.dimIdentity, colTypes)
    assert(superseded.size == 66)
    assert(st.listStatsSegments().isEmpty,
      "crash state: mutual overlap suppression — degraded, never wrong")
    assert(spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("x"), max("x")).collect()(0) == truth,
      "suppressed coverage must not change results")
    // the next incremental analyze heals: suppressed docs retired,
    // coverage restored whole and unsuppressed
    assert(ZarrMaintenance.analyze(spark, url, incremental = true) > 0)
    val segs = st.listStatsSegments()
    assert(segs.map(_._2).sum == 66 && segs.head._1 == 0L, s"$segs")
    assert(st.listStatsSegmentsRaw() == segs,
      "no suppressed segment files may remain after the heal")
  }

  // deterministic-seed property driver (the CodecsSpec idiom)
  private def checkAll[A](g: org.scalacheck.Gen[A], n: Int = 120)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      f(g.pureApply(org.scalacheck.Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  /** First-sorted, pairwise-disjoint, positive-length live listings —
    * the exact input shape `ZarrStore.liveSegments` guarantees. Gaps
    * break contiguity; occasional oversize lengths model analyze-
    * written full documents that must pass through ungrouped. */
  private val liveListings: org.scalacheck.Gen[Seq[(Long, Int)]] = {
    import org.scalacheck.Gen
    for {
      k <- Gen.choose(0, 40)
      gaps <- Gen.listOfN(k, Gen.frequency(
        5 -> Gen.const(0L), 1 -> Gen.choose(1L, 3L)))
      lens <- Gen.listOfN(k, Gen.frequency(
        8 -> Gen.choose(1, 64),
        2 -> Gen.choose(1000, 3000),
        1 -> Gen.choose(ChunkStats.maxSegmentChunks + 1,
          ChunkStats.maxSegmentChunks + 2000)))
    } yield {
      var pos = 0L
      gaps.zip(lens).map { case (g, n) =>
        val f = pos + g; pos = f + n; (f, n)
      }
    }
  }

  test("PROPERTY: planCompaction groups are contiguous, bounded, disjoint, collision-free") {
    checkAll(liveListings) { live =>
      val liveSet = live.toSet
      val plan = ZarrMaintenance.planCompaction(live)
      val flat = plan.flatten
      // members are real live segments, used at most once across groups
      assert(flat.forall(liveSet.contains), s"foreign member in $plan")
      assert(flat.distinct.size == flat.size, s"segment reused across groups: $plan")
      plan.foreach { g =>
        assert(g.size >= 2, s"singleton group is never worth a rewrite: $g")
        // contiguity: each member starts where the previous ends — the
        // invariant that makes the merged doc's ordinal range exact
        g.sliding(2).foreach { case Seq((f1, n1), (f2, _)) =>
          assert(f1 + n1 == f2, s"gap inside group $g")
        }
        // the merged document obeys the same size bound task docs do
        assert(g.map(_._2).sum <= ChunkStats.maxSegmentChunks,
          s"group exceeds the doc bound: $g")
        // the merged key (first, total) collides with no LIVE key: phase
        // 2 deletes source keys, so a collision would delete the output
        assert(!liveSet.contains((g.head._1, g.map(_._2).sum)),
          s"merged key collides with a live segment: $g")
      }
      // an oversize (analyze-written full) doc passes through untouched
      live.filter(_._2 > ChunkStats.maxSegmentChunks).foreach { big =>
        assert(!flat.contains(big), s"oversize doc must not be grouped: $big")
      }
    }
  }
}
