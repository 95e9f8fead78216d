package graft.zarr

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A local FileSystem (scheme `graftcrash`) that models process death.
  * Every create, rename and delete is counted; once armed at N, the N-th
  * such call and EVERY later one fails — so an interrupted write cannot
  * clean up after itself either, exactly as when its JVM dies. Reads,
  * listings and existence probes keep working, so the state a crash
  * left can be inspected. Counters are JVM-wide (executor tasks of a
  * local session resolve the same cached instance). */
class CrashFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftcrash"
  override def getUri: URI = URI.create("graftcrash:///")

  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CrashFileSystem.mutate(s"create $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFileSystem.mutate(s"rename $src")
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFileSystem.mutate(s"delete $f")
    super.delete(f, recursive)
  }
}

object CrashFileSystem {
  private val calls = new AtomicLong(0)
  @volatile private var crashAt = Long.MaxValue

  /** Count from zero; fail the `n`-th mutation and every later one. */
  def arm(n: Long): Unit = { calls.set(0); crashAt = n }
  def disarm(): Unit = crashAt = Long.MaxValue
  def count: Long = calls.get()

  private def mutate(what: String): Unit =
    if (calls.incrementAndGet() >= crashAt)
      throw new IOException(s"injected crash at mutation #$crashAt ($what)")
}

/** Crash-point sweep of the cube commit routine and of store
  * maintenance: for every N from 1 to the number of create/rename/delete
  * calls an uninterrupted run makes, crash the run at call N and check
  * the store. Three write cases on a tiny sharded cube (2-D, inner
  * chunks 1x2 packed in 2x2 shards, write-time stats): an aligned
  * append, a ragged append (the edge chunk-row is rewritten) and a
  * region overwrite. Two maintenance cases: `compactStats` over a run
  * of per-append segments, and `vacuum` over a store polluted with
  * every kind of garbage it reclaims.
  *
  * After each crash:
  *  - a scan reads the OLD state or the NEW state — for a region
  *    overwrite per shard, which is its documented granularity;
  *  - metadata-only aggregates (count/min/max/sum, answered from the
  *    stats sidecar where it covers) agree with the scanned rows;
  *  - re-running the same write, then vacuum, leaves the NEW state and
  *    no `c.part*` staging. An append the crash left committed is a
  *    duplicate: its re-run is refused (its coordinates are on the
  *    axis), and the store must hold the new state all the same. That
  *    includes a crash after the dim-0 coordinate meta but before the
  *    root: readers still see the old root, and the re-run's torn-commit
  *    heal re-consolidates it before refusing.
  *
  * One case drives the same aligned append through `ZarrCubeSink`,
  * whose replay of a batch on the axis completes a torn root. One
  * sweeps the fresh cube write: each crash leaves no store or the new
  * one, and a re-run, vacuum and the next append all succeed.
  *
  * Two tabular cases sweep the DSv2 append (aligned and staged): each
  * crash must leave the old rows, and a re-run of the same batch
  * exactly the new ones.
  *
  * After each maintenance crash the store reads exactly as before the
  * run, scans and metadata-answered aggregates alike. A crashed
  * `compactStats` is healed by re-running it plus an incremental
  * `analyze` (sidecar coverage whole again); a crashed `vacuum` by
  * re-running it (exactly the files an uninterrupted vacuum leaves).
  *
  * The method follows Pillai et al., "All File Systems Are Not Created
  * Equal" (OSDI 2014): enumerate the crash points, don't hand-build them. */
class CrashPointSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("crash-point-sweep-spec")
      // a few hundred tiny writes: one shuffle partition and no adaptive
      // re-planning keep each Spark job short
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftcrash.impl", classOf[CrashFileSystem].getName)
      .getOrCreate()
    // also on a session some earlier suite left running
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcrash.impl", classOf[CrashFileSystem].getName)
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("zarr-crash-sweep").toString
  }

  override def afterAll(): Unit = {
    CrashFileSystem.disarm()
    if (spark != null) spark.stop()
  }

  /** Dense rows for time steps [t0, t1) x 2 sensors; value = vBase + 10t + x. */
  private def slab(t0: Int, t1: Int, vBase: Double = 0.0): DataFrame = {
    val sp = spark; import sp.implicits._
    (for (t <- t0 until t1; x <- 0 until 2) yield (t.toLong, x.toLong, vBase + 10.0 * t + x))
      .toDF("t", "x", "v")
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def scan(url: String): Seq[(Long, Long, Double)] =
    rowsOf(spark.read.format("zarr").load(url).select("t", "x", "v"))

  /** `keepTimes` copies modification times too, so the copied shards
    * stay fresh against the inner stats docs that record them. */
  private def copyTree(from: JPath, to: JPath, keepTimes: Boolean = false): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (keepTimes) Files.copy(p, q, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      else Files.copy(p, q)
    }

  private def filesUnder(dir: JPath): Seq[String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).toSeq.sorted

  private def stagingLeftovers(dir: JPath): Seq[String] =
    Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("c.part"))
      .map(p => dir.relativize(p).toString).toSeq

  /** Metadata-answerable aggregates must equal the same figures computed
    * from the scanned rows. */
  private def assertAggsAgree(url: String, rows: Seq[(Long, Long, Double)], at: String): Unit = {
    val r = spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("v"), max("v"), sum("t")).collect()(0)
    val vs = rows.map(_._3)
    assert(r.getLong(0) == rows.length &&
      r.getDouble(1) == vs.min && r.getDouble(2) == vs.max &&
      r.getLong(3) == rows.map(_._1).sum,
      s"$at: aggregates $r disagree with the scan")
  }

  /** One case: `baseRows` committed by a fresh write, then `run`; the
    * sweep crashes `run` at every mutation it makes. `checkState` judges
    * the scanned rows after a crash. */
  private def sweep(
      name: String, baseRows: DataFrame, expectNew: Seq[(Long, Long, Double)],
      run: String => Unit, duplicateOk: Boolean,
      checkState: (Seq[(Long, Long, Double)], String) => Unit): Unit = {
    val template = Paths.get(base, s"$name-template")
    baseRows.write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunk_shape", "1,2").option("shard_shape", "2,2")
      .save(template.toString)

    // the uninterrupted write: how many mutations it makes
    val probe = Paths.get(base, s"$name-probe")
    copyTree(template, probe)
    CrashFileSystem.arm(Long.MaxValue)
    run(s"graftcrash://$probe")
    val calls = CrashFileSystem.count
    CrashFileSystem.disarm()
    assert(scan(probe.toString) == expectNew, s"$name: uninterrupted write")
    assert(calls >= 5, s"$name: only $calls mutations — the sweep would prove little")

    (1L to calls).foreach { n =>
      val dir = Paths.get(base, s"$name-crash$n")
      copyTree(template, dir)
      val url = s"graftcrash://$dir"
      val at = s"$name, crash at mutation $n of $calls"
      CrashFileSystem.arm(n)
      val crashed = try { run(url); false } catch { case _: Exception => true }
      CrashFileSystem.disarm()
      assert(crashed, s"$at: the write survived its injected crash")

      val after = scan(url)
      checkState(after, at)
      assertAggsAgree(url, after, at)

      val rerun = try { run(url); None } catch { case e: Exception => Some(e) }
      rerun.foreach { e =>
        assert(duplicateOk && e.getMessage.contains("strictly after"),
          s"$at: re-running the write failed: $e")
      }
      ZarrMaintenance.vacuum(spark, url).collect()
      assert(scan(url) == expectNew, s"$at: re-run + vacuum did not reach the new state")
      assertAggsAgree(url, expectNew, s"$at, after re-run")
      assert(stagingLeftovers(dir).isEmpty,
        s"$at: staging left after re-run + vacuum: ${stagingLeftovers(dir)}")
    }
  }

  private def appendCase(name: String, baseSteps: Int, newSteps: Int): Unit = {
    val oldRows = rowsOf(slab(0, baseSteps))
    val newRows = rowsOf(slab(0, baseSteps + newSteps))
    sweep(name, slab(0, baseSteps), newRows,
      url => slab(baseSteps, baseSteps + newSteps).write.format("zarr")
        .mode("append").option("append_dim", "t").save(url),
      duplicateOk = true,
      (rows, at) => assert(rows == oldRows || rows == newRows,
        s"$at: store reads neither the old nor the new state: $rows"))
  }

  test("aligned append: every crash point leaves the old or the new state") {
    appendCase("aligned", baseSteps = 4, newSteps = 2)
  }

  test("ragged append: every crash point leaves the old or the new state") {
    appendCase("ragged", baseSteps = 3, newSteps = 2)
  }

  test("cube sink: a replay after any crash point reaches the new state") {
    // the sink classifies a replay by the dim-0 coordinate meta, so a
    // batch torn between that meta and the root is a replay: the replay
    // must complete the root, not leave readers on the old extent
    val oldRows = rowsOf(slab(0, 4))
    val newRows = rowsOf(slab(0, 6))
    sweep("sink", slab(0, 4), newRows,
      url => graft.streaming.ZarrCubeSink.appendBatch(slab(4, 6), 1L, url, Seq("t", "x")),
      duplicateOk = false,
      (rows, at) => assert(rows == oldRows || rows == newRows,
        s"$at: store reads neither the old nor the new state: $rows"))
  }

  test("region overwrite: every crash point leaves each shard old or new") {
    val oldRows = rowsOf(slab(0, 6))
    val newRows = rowsOf(slab(0, 2).union(slab(2, 4, vBase = 1000.0)).union(slab(4, 6)))
    sweep("region", slab(0, 6), newRows,
      url => slab(2, 4, vBase = 1000.0).write.format("zarr")
        .mode("overwrite").option("region_dim", "t").save(url),
      duplicateOk = false,
      (rows, at) => {
        // a shard holds 2 time steps: each must read wholly old or wholly new
        def shard(rs: Seq[(Long, Long, Double)], s: Long) = rs.filter(_._1 / 2 == s)
        (0L until 3L).foreach { s =>
          val got = shard(rows, s)
          assert(got == shard(oldRows, s) || got == shard(newRows, s),
            s"$at: shard $s reads neither old nor new: $got")
        }
      })
  }

  test("fresh cube write: every crash point leaves no store or the new one; a re-run completes it") {
    // the old state is no store at all: a crash before the root commits
    // must leave nothing a reader resolves to arrays, and the re-run must
    // take the crashed attempt's chunk uploads as its own; a crash after
    // the root leaves the new store, whose re-run is a refused duplicate
    val newRows = rowsOf(slab(0, 4))
    def run(url: String): Unit = slab(0, 4).write.format("zarr").mode("append")
      .option("dims", "t,x").option("chunk_shape", "1,2").option("shard_shape", "2,2").save(url)
    def state(url: String): Either[String, Seq[(Long, Long, Double)]] =
      try Right(scan(url)) catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    val probe = Paths.get(base, "fresh-probe")
    CrashFileSystem.arm(Long.MaxValue)
    run(s"graftcrash://$probe")
    val calls = CrashFileSystem.count
    CrashFileSystem.disarm()
    assert(scan(probe.toString) == newRows, "fresh: uninterrupted write")
    assert(calls >= 5, s"fresh: only $calls mutations — the sweep would prove little")
    (1L to calls).foreach { n =>
      val dir = Paths.get(base, s"fresh-crash$n")
      val url = s"graftcrash://$dir"
      val at = s"fresh, crash at mutation $n of $calls"
      CrashFileSystem.arm(n)
      val crashed = try { run(url); false } catch { case _: Exception => true }
      CrashFileSystem.disarm()
      assert(crashed, s"$at: the write survived its injected crash")
      state(url) match {
        case Left(why) => assert(why.contains("No such store") || why.contains("No Zarr arrays"),
          s"$at: the store fails to read for another reason: $why")
        case Right(rows) =>
          assert(rows == newRows, s"$at: store reads neither no store nor the new one: $rows")
          assertAggsAgree(url, rows, at)
      }
      val rerun = try { run(url); None } catch { case e: Exception => Some(e) }
      rerun.foreach { e =>
        assert(state(url) == Right(newRows) && e.getMessage.contains("already holds arrays"),
          s"$at: re-running the write failed: $e")
      }
      ZarrMaintenance.vacuum(spark, url).collect()
      assert(scan(url) == newRows, s"$at: re-run + vacuum did not reach the new state")
      assertAggsAgree(url, newRows, s"$at, after re-run")
      assert(stagingLeftovers(dir).isEmpty,
        s"$at: staging left after re-run + vacuum: ${stagingLeftovers(dir)}")
      // the store takes the next append: its per-array documents are whole
      slab(4, 5).write.format("zarr").mode("append").option("append_dim", "t").save(url)
      assert(scan(url) == rowsOf(slab(0, 5)), s"$at: the next append reads wrong")
    }
  }

  /** Tabular rows [from, until) in two equal partitions: (id, v = id/2). */
  private def tabRows(from: Int, until: Int): DataFrame =
    spark.range(from, until, 1, 2).select(col("id"), (col("id") * 0.5).as("v"))

  private def tabScan(url: String): Seq[(Long, Double)] =
    spark.read.format("zarr").load(url).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  /** One tabular append case: a 20-row store, then a 20-row append, in
    * chunks of 5 — `aligned` on the rows_per_partition path (final chunk
    * keys), else on the staged path (task-scoped keys the commit maps
    * through the root manifest), sharded with write-time inner docs.
    * The crash sweep: every crash leaves exactly the old rows (the root
    * is the commit point and is written last); re-running the same
    * batch gives exactly the new rows — no fill rows from a base taken
    * off a per-array document the lost root never committed, and no
    * duplicates; vacuum then leaves no `c.part*` name the root manifest
    * does not reference. */
  private def tabularAppendCase(name: String, aligned: Boolean): Unit = {
    def write(df: DataFrame, url: String, mode: String): Unit = {
      val w = df.write.format("zarr").mode(mode).option("chunk_size", "5")
      (if (aligned) w.option("rows_per_partition", "10") else w.option("inner_chunk_size", "1"))
        .save(url)
    }
    val template = Paths.get(base, s"$name-template")
    write(tabRows(0, 20), template.toString, "overwrite")
    val oldRows = tabScan(template.toString)
    val newRows = (0L until 40L).map(i => (i, i * 0.5))
    assert(oldRows == newRows.take(20))
    val run: String => Unit = url => write(tabRows(20, 40), url, "append")

    val probe = Paths.get(base, s"$name-probe")
    copyTree(template, probe)
    CrashFileSystem.arm(Long.MaxValue)
    run(s"graftcrash://$probe")
    val calls = CrashFileSystem.count
    CrashFileSystem.disarm()
    assert(tabScan(probe.toString) == newRows, s"$name: uninterrupted append")
    assert(calls >= 5, s"$name: only $calls mutations — the sweep would prove little")

    def assertTabAggs(url: String, rows: Seq[(Long, Double)], at: String): Unit = {
      val r = spark.read.format("zarr").load(url)
        .agg(count(lit(1)), sum("id"), min("v"), max("v")).collect()(0)
      assert(r.getLong(0) == rows.length && r.getLong(1) == rows.map(_._1).sum &&
        r.getDouble(2) == rows.map(_._2).min && r.getDouble(3) == rows.map(_._2).max,
        s"$at: aggregates $r disagree with the scan")
    }
    (1L to calls).foreach { n =>
      val dir = Paths.get(base, s"$name-crash$n")
      copyTree(template, dir)
      val url = s"graftcrash://$dir"
      val at = s"$name, crash at mutation $n of $calls"
      CrashFileSystem.arm(n)
      val crashed = try { run(url); false } catch { case _: Exception => true }
      CrashFileSystem.disarm()
      assert(crashed, s"$at: the append survived its injected crash")
      assert(tabScan(url) == oldRows, s"$at: the store does not read as before")
      assertTabAggs(url, oldRows, at)

      run(url)
      assert(tabScan(url) == newRows, s"$at: the re-run did not give exactly the new rows")
      assertTabAggs(url, newRows, s"$at, after re-run")
      ZarrMaintenance.vacuum(spark, url).collect()
      assert(tabScan(url) == newRows, s"$at: vacuum changed the rows")
      val referenced = ZarrStore(dir.toString).committedView().manifest.parts.map(_._2).toSet
      val stray = stagingLeftovers(dir).filterNot(p => referenced(Paths.get(p).getFileName.toString))
      assert(stray.isEmpty, s"$at: staging the manifest does not reference survived vacuum: $stray")
    }
  }

  test("tabular aligned append: every crash leaves the old rows; a re-run gives exactly the new") {
    tabularAppendCase("tab-aligned", aligned = true)
  }

  test("tabular staged append: every crash leaves the old rows; a re-run gives exactly the new") {
    tabularAppendCase("tab-staged", aligned = false)
  }

  test("torn staged append: a full analyze writes no segment past the root's grid") {
    // a staged tabular append crashed at its last mutation, the root
    // write: the per-array documents say 40 rows (8 chunks) over a root,
    // and a manifest, that still commit 20 (4 chunks)
    def write(df: DataFrame, url: String, mode: String): Unit =
      df.write.format("zarr").mode(mode).option("chunk_size", "5")
        .option("inner_chunk_size", "1").save(url)
    val template = Paths.get(base, "torn-template")
    write(tabRows(0, 20), template.toString, "overwrite")
    val probe = Paths.get(base, "torn-probe")
    copyTree(template, probe)
    CrashFileSystem.arm(Long.MaxValue)
    write(tabRows(20, 40), s"graftcrash://$probe", "append")
    val calls = CrashFileSystem.count
    val dir = Paths.get(base, "torn")
    copyTree(template, dir)
    CrashFileSystem.arm(calls)
    intercept[Exception](write(tabRows(20, 40), s"graftcrash://$dir", "append"))
    CrashFileSystem.disarm()
    val store = ZarrStore(dir.toString)
    assert(store.readMeta("id").shape(0) == 40 &&
      store.committedView().metas.forall(_.shape(0) == 20), "precondition: a torn commit")

    ZarrMaintenance.analyze(spark, dir.toString)
    def pastGrid(): Seq[String] = {
      val listing = store.sidecar()
      listing.raw.collect { case (f, n) if f + n > 4 => ChunkStats.segmentKey(f, n) } ++
        listing.innerOrds.collect { case o if o >= 4 => ChunkStats.innerKey(o) }
    }
    assert(pastGrid().isEmpty, s"analyze described chunks past the root's grid: ${pastGrid()}")
    // sidecar compaction plans over the same committed grid
    ZarrMaintenance.compactStats(spark, dir.toString)
    assert(pastGrid().isEmpty, s"compactStats merged past the root's grid: ${pastGrid()}")
    assert(tabScan(dir.toString) == (0L until 20L).map(i => (i, i * 0.5)))
  }

  private def aggs(url: String): org.apache.spark.sql.Row =
    spark.read.format("zarr").load(url)
      .agg(count(lit(1)), min("v"), max("v"), sum("t")).collect()(0)

  /** Crash `run` at every mutation it makes on a copy of `template`;
    * after each crash the copy must scan and aggregate exactly like the
    * template, then `heal(dir, url, at)` repairs and judges it. Returns
    * the copy an uninterrupted run left. */
  private def maintenanceSweep(name: String, template: JPath, run: String => Unit)(
      heal: (JPath, String, String) => Unit): JPath = {
    val before = scan(template.toString)
    val beforeAggs = aggs(template.toString)
    val probe = Paths.get(base, s"$name-probe")
    copyTree(template, probe, keepTimes = true)
    CrashFileSystem.arm(Long.MaxValue)
    run(s"graftcrash://$probe")
    val calls = CrashFileSystem.count
    CrashFileSystem.disarm()
    assert(calls >= 5, s"$name: only $calls mutations — the sweep would prove little")
    (1L to calls).foreach { n =>
      val dir = Paths.get(base, s"$name-crash$n")
      copyTree(template, dir, keepTimes = true)
      val url = s"graftcrash://$dir"
      val at = s"$name, crash at mutation $n of $calls"
      CrashFileSystem.arm(n)
      try run(url) catch { case _: Exception => () }
      val reached = CrashFileSystem.count
      CrashFileSystem.disarm()
      // compactStats skips a group whose merge fails rather than throw,
      // so the proof of the crash is that the n-th mutation was tried
      assert(reached >= n, s"$at: the run stopped after $reached mutations")
      assert(scan(url) == before, s"$at: the store reads differently")
      assert(aggs(url) == beforeAggs, s"$at: aggregates ${aggs(url)} != $beforeAggs")
      heal(dir, url, at)
    }
    probe
  }

  test("compactStats: every crash point reads as before; re-run + analyze restores coverage") {
    // one fresh write and four one-step appends: one segment per
    // committed slab, one contiguous run for compaction to merge
    val template = Paths.get(base, "compact-template")
    slab(0, 1).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunk_shape", "1,2").save(template.toString)
    (1 until 5).foreach { t =>
      slab(t, t + 1).write.format("zarr").mode("append")
        .option("append_dim", "t").save(template.toString)
    }
    val segs = ZarrStore(template.toString).listStatsSegments()
    assert(segs.size >= 4 && ZarrMaintenance.planCompaction(segs).nonEmpty,
      s"nothing for compaction to merge: $segs")
    def coveredFraction(url: String): Double =
      ZarrInfo.describeStats(spark, url).collect()(0).getDouble(7)
    assert(coveredFraction(template.toString) == 1.0)
    val probe = maintenanceSweep("compact", template,
      url => ZarrMaintenance.compactStats(spark, url): Unit) { (_, url, at) =>
      ZarrMaintenance.compactStats(spark, url)
      ZarrMaintenance.analyze(spark, url, incremental = true)
      assert(coveredFraction(url) == 1.0, s"$at: coverage not restored")
      assert(scan(url) == rowsOf(slab(0, 5)), s"$at: healed store reads differently")
    }
    assert(ZarrStore(probe.toString).listStatsSegments().size == 1,
      "the uninterrupted compaction merges the run into one document")
  }

  test("vacuum: every crash point reads as before; a re-run leaves what an uncrashed vacuum leaves") {
    val template = Paths.get(base, "vacuum-template")
    slab(0, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunk_shape", "1,2").option("shard_shape", "2,2")
      .save(template.toString)
    // the garbage of interrupted writes, one of each kind vacuum reclaims
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = template.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes): Unit
    }
    put("v/c/9/0", Array[Byte](1))                     // orphan shard beyond the grid
    put("v/c.9.0", Array[Byte](2))                     // orphan flat key beside the array
    put("v/c.part-dead-7/0", Array[Byte](3))           // unreferenced staging dir
    put("_stats/s500_4.json", "{}".getBytes)           // phantom segment past the grid
    put("_stats/c.part-dead-s0_1.json", "{}".getBytes) // stats staging leftover
    put("_stats/i99.json", "{}".getBytes)              // inner doc past the grid
    put("v/NOTES.txt", "keep me".getBytes)             // foreign file: never touched
    val probe = maintenanceSweep("vacuum", template,
      url => ZarrMaintenance.vacuum(spark, url).collect(): Unit) { (dir, url, at) =>
      ZarrMaintenance.vacuum(spark, url).collect()
      assert(filesUnder(dir) == filesUnder(Paths.get(base, "vacuum-probe")),
        s"$at: re-run left ${filesUnder(dir)}")
    }
    val left = filesUnder(probe)
    assert(left.contains("v/NOTES.txt") && left.exists(_.startsWith("_stats/i")) &&
      !left.exists(f => f.contains("c.part") || f == "v/c/9/0" || f == "v/c.9.0" ||
        f == "_stats/s500_4.json" || f == "_stats/i99.json"),
      s"the uninterrupted vacuum must reclaim exactly the garbage: $left")
  }
}
