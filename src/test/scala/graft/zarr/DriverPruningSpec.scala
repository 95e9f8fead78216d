package graft.zarr

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{ZarrInputPartition, ZarrPlanner}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver prunes chunks before any task starts ([[ZarrPlanner]]):
  * the packer's partition shapes, the scan node's driver metrics, one
  * GET per stats segment and per shared coordinate chunk, and the same
  * rows as a store without its `_stats/` sidecar. */
class DriverPruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftreq")
  // a 12 x 6 x 8 (t, y, x) cube in 2 x 6 x 8 shards: 6 scan chunks along
  // t, one y and one x coordinate chunk shared by all of them
  private var cube: String = _
  // the same cells in 2 x 3 x 4 shards (a 6 x 2 x 2 chunk grid)
  private var grid: String = _
  private var bare: String = _

  private def value(t: Int, y: Int, x: Int): Double = t * 100.0 + ((y * 7 + x * 3) % 11)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("driver-pruning-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftreq.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftreq.impl", classOf[RecordingFileSystem].getName)
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("zarr-driver-prune").toString
    val sp = spark; import sp.implicits._
    val cells = (for (t <- 0 until 12; y <- 0 until 6; x <- 0 until 8)
      yield (t.toLong, y.toLong, x.toLong, value(t, y, x))).toDF("t", "y", "x", "v")
    def write(dir: String, chunk: String, shard: String): String = {
      cells.write.format("zarr").mode("overwrite").option("dims", "t,y,x")
        .option("chunk_shape", chunk).option("shard_shape", shard).save(dir)
      ZarrMaintenance.analyze(spark, dir)
      dir
    }
    cube = write(s"$base/cube", "1,3,4", "2,6,8")
    // one segment over all 6 chunks, the shape every task once read
    ZarrMaintenance.compactStats(spark, cube)
    grid = write(s"$base/grid", "1,3,2", "2,3,4")
    bare = s"$base/bare"
    copyTree(Paths.get(grid), Paths.get(bare))
    deleteTree(Paths.get(bare, ChunkStats.dirName))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** The executed scan node; None when the optimizer proved the result
    * empty without a scan. */
  private def scanOf(df: DataFrame): Option[BatchScanExec] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectFirst { case b: BatchScanExec => b }

  private def scanNode(df: DataFrame): BatchScanExec =
    scanOf(df).getOrElse(fail(s"no scan in ${df.queryExecution.executedPlan}"))

  test("packer: contiguous runs, more runs than partitions, no survivors, a limit") {
    // one run: exactly n pieces, sizes differing by at most one
    assert(ZarrPlanner.pack(Seq((0L, 10L)), 4) ==
      Seq((0L, 3L, Nil), (3L, 6L, Nil), (6L, 8L, Nil), (8L, 10L, Nil)))
    // runs never share a piece; the longer run takes the extra pieces,
    // and no piece is smaller than a chunk
    assert(ZarrPlanner.pack(Seq((0L, 2L), (5L, 11L)), 4) ==
      Seq((0L, 2L, Nil), (5L, 7L, Nil), (7L, 9L, Nil), (9L, 11L, Nil)))
    assert(ZarrPlanner.pack(Seq((0L, 1L), (3L, 4L)), 8) == Seq((0L, 1L, Nil), (3L, 4L, Nil)))
    // four runs into two partitions: the widest gap (4..10) is the cut,
    // the narrow gaps become skip ranges
    val merged = ZarrPlanner.pack(Seq((0L, 2L), (3L, 4L), (10L, 12L), (13L, 14L)), 2)
    assert(merged == Seq((0L, 4L, Seq((2L, 3L))), (10L, 14L, Seq((12L, 13L)))))
    val parts = merged.map { case (lo, hi, skip) => ZarrInputPartition(lo, hi, skip) }
    assert(parts.flatMap(_.runs) == Seq((0L, 2L), (3L, 4L), (10L, 12L), (13L, 14L)))
    assert(ZarrPlanner.pack(Nil, 4).isEmpty)
    // a limit plans only the leading chunks that can hold its rows
    val g = ScanGeometry.resolve(ZarrStore(cube).committedView().arrays.filter(_.name == "v"))
    assert(g.numChunks == 6 && g.targetChunk.product == 96)
    assert(ZarrPlanner.candidates(g, 100) == Seq((0L, 2L)))
    assert(ZarrPlanner.candidates(g, -1) == Seq((0L, 6L)))
    assert(ZarrPlanner.candidates(g, 0).isEmpty)
  }

  test("a fully pruned scan plans no partition, and a limit plans its leading chunks") {
    val df = spark.read.format("zarr").load(cube)
    val none = df.filter(col("v") > 5000.0).select("v")
    assert(none.collect().isEmpty)
    assert(scanNode(none).inputRDD.getNumPartitions == 0)
    val limited = df.select("v").limit(100)
    assert(limited.collect().length == 100)
    val scan = scanNode(limited)
    assert(scan.inputRDD.partitions.length == 2)
    assert(scan.metrics("chunksPlanned").value == 2)
  }

  test("driver metrics on the scan node: chunks planned, pruned and coordinates shipped") {
    val q = spark.read.format("zarr").load(cube)
      .filter(col("t") >= 4L && col("t") <= 7L).select("t", "y", "x", "v")
    assert(q.collect().length == 4 * 6 * 8)
    val scan = scanNode(q)
    def metric(n: String) = scan.metrics(n).value
    assert(metric("chunksPlanned") == 2 && metric("chunksPruned") == 4,
      s"planned ${metric("chunksPlanned")}, pruned ${metric("chunksPruned")}")
    // y/c/0 and x/c/0 are read by both partitions: read once, shipped
    assert(metric("coordChunksShipped") == 2)
  }

  test("each stats segment and each shared coordinate chunk is GET once per query") {
    val url = s"graftreq://$cube"
    val listing = ZarrStore(cube).sidecar()
    assert(listing.unsuppressed == Seq((0L, 6)) && listing.innerOrds.nonEmpty,
      "precondition: analyzed, one segment")
    fsLog.clear()
    val q = spark.read.format("zarr").load(url)
      .filter(col("t").isin(0L, 11L)).select("t", "y", "x", "v")
    val rows = q.collect()
    val reqs = fsLog.requests
    assert(rows.length == 2 * 6 * 8)
    assert(rows.map(_.getDouble(3)).sorted.toSeq == (for (t <- Seq(0, 11); y <- 0 until 6;
      x <- 0 until 8) yield value(t, y, x)).sorted)
    val segGets = reqs.filter(_.matches(s"GET $cube/_stats/s\\d+_\\d+\\.json"))
    assert(segGets == Seq(s"GET $cube/_stats/s0_6.json"),
      s"the segment once:\n${reqs.mkString("\n")}")
    val coordGets = reqs.filter(_.matches(s"GET $cube/(y|x)/c/\\d+"))
    assert(coordGets.sorted == Seq(s"GET $cube/x/c/0", s"GET $cube/y/c/0"),
      s"each y/x chunk once:\n${reqs.mkString("\n")}")
    // chunks 0 and 5 survive: two runs, two partitions
    assert(scanNode(q).inputRDD.getNumPartitions == 2)
  }

  test("40 random conjunctions return the same rows with and without the sidecar") {
    val rnd = new scala.util.Random(20261019L)
    val bounds = Map("t" -> 12, "y" -> 6, "x" -> 8)
    def pred(): Column = rnd.nextInt(5) match {
      case 0 | 1 =>
        val c = Seq("t", "y", "x")(rnd.nextInt(3))
        val k = rnd.nextInt(bounds(c)).toLong
        Seq(col(c) >= k, col(c) <= k, col(c) > k, col(c) < k, col(c) === k)(rnd.nextInt(5))
      case 2 =>
        val v = rnd.nextInt(1200).toDouble
        if (rnd.nextBoolean()) col("v") >= v else col("v") < v
      case 3 => col("t").isin(Seq.fill(2)(rnd.nextInt(12).toLong): _*)
      case _ => col("x") <= rnd.nextInt(8).toLong || col("t") >= rnd.nextInt(12).toLong
    }
    def rows(dir: String, c: Column) = {
      val df = spark.read.format("zarr").load(dir).filter(c).select("t", "y", "x", "v")
      (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted, scanOf(df).map(_.metrics("chunksPruned").value).getOrElse(0L))
    }
    val runs = (0 until 40).map { i =>
      val c = Seq.fill(1 + rnd.nextInt(3))(pred()).reduce(_ && _)
      val (got, pruned) = rows(grid, c)
      val (want, none) = rows(bare, c)
      assert(got == want, s"query $i: $c")
      assert(none == 0, s"query $i pruned without a sidecar")
      (got.nonEmpty, pruned > 0)
    }
    assert(runs.count(_._1) >= 10 && runs.count(_._2) >= 10,
      s"${runs.count(_._1)} queries return rows, ${runs.count(_._2)} prune chunks")
  }
}
