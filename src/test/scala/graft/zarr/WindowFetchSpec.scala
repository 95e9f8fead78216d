package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The reader fetches every chunk inside its prefetch window: it
  * fetches and decodes the predicate columns, tests the chunk against
  * them, and fetches the rest of its output columns only when some row
  * can match. A read asks storage for exactly what it asked when only
  * the predicate columns went through the window: each query below pins
  * its GET and HEAD list per path, and its rows. */
class WindowFetchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val fsLog = RecordingFileSystem.log("graftwin")
  // every store holds t = 0, 2, 4, ..., 22: a filter on an odd t passes a
  // chunk's recorded [min, max] but refutes its exact coordinates
  private var cube: String = _ // (t, y, x) 12 x 6 x 8 in 2 x 6 x 8 shards of 1 x 3 x 4
  private var grid: String = _ // (t, x) 12 x 8 in unsharded 4 x 4 chunks
  private var mixed: String = _ // the cube's layout with a second data column, w = -v

  private def value(t: Int, y: Int, x: Int): Double = t * 100.0 + ((y * 7 + x * 3) % 11)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("window-fetch-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftwin.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftwin.impl", classOf[RecordingFileSystem].getName)
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("zarr-window-fetch").toString
    val sp = spark; import sp.implicits._
    cube = s"$base/cube"
    (for (t <- 0 until 12; y <- 0 until 6; x <- 0 until 8)
      yield (2L * t, y.toLong, x.toLong, value(2 * t, y, x))).toDF("t", "y", "x", "v")
      .write.format("zarr").mode("overwrite").option("dims", "t,y,x")
      .option("chunk_shape", "1,3,4").option("shard_shape", "2,6,8").save(cube)
    ZarrMaintenance.analyze(spark, cube)
    grid = s"$base/grid"
    (for (t <- 0 until 12; x <- 0 until 8)
      yield (2L * t, x.toLong, value(2 * t, 0, x))).toDF("t", "x", "v")
      .write.format("zarr").mode("overwrite").option("dims", "t,x")
      .option("chunk_shape", "4,4").save(grid)
    ZarrMaintenance.analyze(spark, grid)
    mixed = s"$base/mixed"
    (for (t <- 0 until 12; y <- 0 until 6; x <- 0 until 8)
      yield (2L * t, y.toLong, x.toLong, value(2 * t, y, x), -value(2 * t, y, x)))
      .toDF("t", "y", "x", "v", "w")
      .write.format("zarr").mode("overwrite").option("dims", "t,y,x")
      .option("chunk_shape", "1,3,4").option("shard_shape", "2,6,8").save(mixed)
    ZarrMaintenance.analyze(spark, mixed)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** GETs and HEADs under `dir`, counted per path relative to it. */
  private def reads(dir: String): Map[String, Int] =
    fsLog.requests.collect {
      case r if (r.startsWith("GET ") || r.startsWith("HEAD ")) && r.contains(s"$dir/") =>
        r.replace(s"$dir/", "")
    }.groupBy(identity).map { case (k, v) => k -> v.length }

  private def run(df: DataFrame): Seq[String] = {
    fsLog.clear()
    // collected unsorted: a global sort would scan twice
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
  }

  private def load(dir: String, partitions: Int = 2): DataFrame =
    spark.read.format("zarr").option("ranged_reads", "always")
      .option("partitions", partitions.toLong).load(s"graftwin://$dir")

  private def segments = Map(
    "GET _stats/s0_2.json" -> 1, "GET _stats/s2_2.json" -> 1, "GET _stats/s4_2.json" -> 1)

  test("sharded cube, coordinate filter: a masked shard, and a refuted one never touched") {
    // shards 0 (t 0, 2) and 2 (t 8, 10) survive the planner; t = 9 is
    // not a coordinate of shard 2, and y <= 2 masks shard 0's inner grid
    val rows = run(load(cube).filter(col("t").isin(2L, 9L) && col("y") <= 2L)
      .select("t", "y", "x", "v"))
    assert(rows == (for (y <- 0 to 2; x <- 0 until 8) yield s"2,$y,$x,${value(2, y, x)}").sorted)
    assert(reads(cube) == segments ++ Map(
      "GET t/c/0" -> 1, "GET t/c/2" -> 1, "GET y/c/0" -> 1, "GET x/c/0" -> 1,
      // length, then index, then the kept inner ranges
      "HEAD v/c/0/0/0" -> 1, "GET v/c/0/0/0" -> 2))
  }

  test("unsharded grid, coordinate filter: a chunk row its range keeps and its coordinates refute") {
    // one partition, so the four surviving chunks share one window;
    // chunk row 0 (t 0..6) holds no 5 and reads nothing past its t chunk
    val rows = run(load(grid, partitions = 1).filter(col("t").isin(5L, 8L)).select("t", "x", "v"))
    assert(rows == (for (x <- 0 until 8) yield s"8,$x,${value(8, 0, x)}").sorted)
    assert(reads(grid) == segments ++ Map(
      "GET t/c/0" -> 1, "GET t/c/1" -> 1, "GET x/c/0" -> 1, "GET x/c/1" -> 1,
      "GET v/c/1/0" -> 1, "GET v/c/1/1" -> 1))
  }

  test("unsharded grid, data predicate: a chunk its range keeps and its values refute") {
    // chunks (2, 0) and (2, 1) survive the planner; only (2, 0) holds
    // 1803, so (2, 1) reads no coordinate
    val rows = run(load(grid, partitions = 1).filter(col("v").isin(1803.0, 1805.0))
      .select("t", "x", "v"))
    assert(rows == Seq(s"18,1,${value(18, 0, 1)}"))
    assert(reads(grid) == segments ++ Map(
      "GET v/c/2/0" -> 1, "GET v/c/2/1" -> 1, "GET t/c/2" -> 1, "GET x/c/0" -> 1))
  }

  /** cube_select's `value` shape: a data predicate plus a time range. */
  private def valueQuery: Seq[String] =
    run(load(mixed).filter(col("v") > 605.0 && col("t").between(4L, 20L))
      .select("t", "y", "x", "v", "w"))

  private def valueRows: Seq[String] =
    (for (t <- 6 to 20 by 2; y <- 0 until 6; x <- 0 until 8 if value(t, y, x) > 605)
      yield s"$t,$y,$x,${value(t, y, x)},${-value(t, y, x)}").sorted

  test("sharded cube, data predicate and time range: shards tested on v, then w fetched") {
    // shards 1-5 survive the planner; each reads its analyze-written
    // inner doc; t <= 20 masks the inner grid of shard 5 (t 20, 22) for
    // both columns, and the inner bounds of v mask shard 1's t = 4
    assert(valueQuery == valueRows)
    assert(reads(mixed) == segments ++ (1 to 5).map(s => s"GET _stats/i$s.json" -> 1) ++
      (1 to 5).map(s => s"GET t/c/$s" -> 1) ++ Map(
      "GET y/c/0" -> 1, "GET x/c/0" -> 1,
      "HEAD v/c/1/0/0" -> 1, "GET v/c/1/0/0" -> 2, "GET v/c/2/0/0" -> 1,
      "GET v/c/3/0/0" -> 1, "GET v/c/4/0/0" -> 1, "HEAD v/c/5/0/0" -> 1, "GET v/c/5/0/0" -> 2,
      "GET w/c/1/0/0" -> 1, "GET w/c/2/0/0" -> 1, "GET w/c/3/0/0" -> 1,
      "GET w/c/4/0/0" -> 1, "HEAD w/c/5/0/0" -> 1, "GET w/c/5/0/0" -> 2))
  }

  test("no storage request of a data-predicate read comes from a task thread") {
    assert(valueQuery == valueRows)
    val fromTasks = fsLog.threadedRequests.collect {
      case (r, thread) if r.contains(s"$mixed/") &&
        thread.startsWith("Executor task launch worker") => r
    }
    assert(fromTasks.isEmpty, s"requests made on task threads: $fromTasks")
    assert(fsLog.gets.exists(_.contains(s"$mixed/w/")), "the read fetched no w chunk")
  }
}
