package graft.zarr

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A local FileSystem (scheme `graftreq`) recording every object GET
  * (`open`) and every directory LIST (`listStatus`, which
  * `listStatusIterator` pages through) as "GET <path>" / "LIST <path>". */
class RequestRecordingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftreq"
  override def getUri: URI = URI.create("graftreq:///")
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    RequestRecordingFileSystem.requests.add(s"GET ${f.toUri.getPath}")
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    RequestRecordingFileSystem.requests.add(s"LIST ${f.toUri.getPath}")
    super.listStatus(f)
  }
}

object RequestRecordingFileSystem {
  val requests: java.util.List[String] =
    Collections.synchronizedList(new java.util.ArrayList[String]())
}

/** One committed view and one `_stats/` listing per plan: a read plans
  * from one root-document GET and one sidecar LIST; a DataFrame pins the
  * manifest it was loaded with; `describe` counts only live coverage;
  * edge shards store no all-padding inner chunks, and every reader reads
  * those as fill. */
class CommittedViewSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("committed-view-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftreq.impl", classOf[RequestRecordingFileSystem].getName)
      .getOrCreate()
    // also on a session some earlier suite left running
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftreq.impl", classOf[RequestRecordingFileSystem].getName)
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("zarr-view").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def causes(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: causes(x.getCause))

  test("load plus a filtered aggregate: one root GET and one _stats/ LIST") {
    val sp = spark; import sp.implicits._
    val dir = s"$base/cube"
    (for (t <- 0 until 8; x <- 0 until 6) yield (t.toLong, x.toLong, t * 10.0 + x))
      .toDF("t", "x", "v").write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunk_shape", "1,3").option("shard_shape", "2,6")
      .save(dir)
    ZarrMaintenance.analyze(spark, dir)
    assert(ZarrStore(dir).sidecar().innerOrds.nonEmpty, "precondition: inner docs")

    RequestRecordingFileSystem.requests.clear()
    val got = spark.read.format("zarr").load(s"graftreq://$dir")
      .filter($"t" >= 5L).agg(sum("v")).collect()(0).getDouble(0)
    val reqs = RequestRecordingFileSystem.requests.asScala.toList
    assert(got == (for (t <- 5 until 8; x <- 0 until 6) yield t * 10.0 + x).sum)
    val rootGets = reqs.count(_ == s"GET $dir/zarr.json")
    val statsLists = reqs.count(_ == s"LIST $dir/_stats")
    assert(rootGets == 1 && statsLists == 1,
      s"$rootGets root GETs and $statsLists _stats/ LISTs:\n${reqs.mkString("\n")}")
    assert(!reqs.exists(r => r.startsWith("GET") && r.endsWith("zarr.json") &&
      r != s"GET $dir/zarr.json"), "no per-array document is read on a consolidated store")
  }

  test("a load() after an append sees the appended rows") {
    val p = s"$base/appended"
    spark.range(0, 20, 1, 2).write.format("zarr").mode("overwrite")
      .option("chunk_size", "5").save(p)
    val before = spark.read.format("zarr").load(p)
    assert(before.count() == 20)
    spark.range(20, 30, 1, 1).write.format("zarr").mode("append").save(p)
    val after = spark.read.format("zarr").load(p)
    assert(after.count() == 30)
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == (0L until 30L))
  }

  test("a DataFrame loaded before an overwrite of a manifest-keyed store fails when run") {
    val p = s"$base/stale"
    def write(lo: Long): Unit =
      spark.range(lo, lo + 40, 1, 2).write.format("zarr").mode("overwrite")
        .option("chunk_size", "10").save(p)
    write(0L)
    assert(ZarrStore(p).committedView().manifest.parts.nonEmpty, "precondition: staged store")
    val ran = spark.read.format("zarr").load(p)
    assert(ran.collect().map(_.getLong(0)).sorted.toSeq == (0L until 40L))
    val loaded = spark.read.format("zarr").load(p)
    write(100L)
    Seq("executed before" -> ran, "only loaded" -> loaded).foreach { case (what, df) =>
      val e = intercept[Exception](df.collect())
      assert(causes(e).exists(_.contains("resolves through the chunk manifest")),
        s"$what: expected the stale-manifest failure, got $e")
    }
    assert(spark.read.format("zarr").load(p).collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 140L), "a fresh load reads the new store")
  }

  test("vacuum between a torn cube append and its re-run keeps the appended slab") {
    val sp = spark; import sp.implicits._
    val dir = s"$base/torn-cube"
    def slab(t0: Int, t1: Int): DataFrame =
      (for (t <- t0 until t1; x <- 0 until 2) yield (t.toLong, x.toLong, 10.0 * t + x))
        .toDF("t", "x", "v")
    def scan(): Seq[(Long, Long, Double)] = spark.read.format("zarr").load(dir)
      .select("t", "x", "v").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    slab(0, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunk_shape", "2,2").save(dir)
    val root = Paths.get(dir, "zarr.json")
    val oldRoot = Files.readAllBytes(root)
    val append = slab(4, 6).write.format("zarr").mode("append").option("append_dim", "t")
    append.save(dir)
    // the append's root write was lost: every per-array document says 6
    // steps, the root still 4 — readers see 4 until a heal
    Files.write(root, oldRoot)
    assert(scan().length == 8)
    ZarrMaintenance.vacuum(spark, dir).collect()
    val e = intercept[Exception](append.save(dir))
    assert(causes(e).exists(_.contains("strictly after")),
      s"the heal completes the commit and the re-run is a duplicate: $e")
    assert(scan() ==
      (for (t <- 0 until 6; x <- 0 until 2) yield (t.toLong, x.toLong, 10.0 * t + x)),
      "the vacuumed slab must read back, not as fill values")
  }

  test("describe counts no phantom segment as coverage") {
    val p = s"$base/phantom"
    spark.range(0, 100, 1, 1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "10").option("stats", "false").save(p)
    val store = ZarrStore(p)
    store.writeText(ChunkStats.segmentKey(0, 5), "{}")
    store.writeText(ChunkStats.segmentKey(10, 5), "{}") // past the 10-chunk grid
    val live = ZarrInfo.describeStats(spark, p).collect()(0).getLong(6)
    val covered = ZarrInfo.describe(spark, p).collect().map(_.getLong(11)).toSeq
    assert(live == 5L && covered == Seq(5L), s"describeStats $live, describe $covered")
  }

  /** (stored inner chunks, total inner slots) of one shard object. */
  private def innerStored(store: ZarrStore, m: ZarrArrayMeta, key: String): (Int, Int) = {
    val spec = m.shardingSpec.get
    val n = Sharding.innerCount(m.chunkShape, spec)
    val shard = store.readChunk(m.name, key).get
    val index = java.nio.ByteBuffer.wrap(shard, shard.length - 4 - 16 * n, 16 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ((0 until n).count(_ => { val off = index.getLong(); index.getLong(); off != -1L }), n)
  }

  test("writeArray: edge shards store no padding inner chunk and read back exactly") {
    val dir = s"$base/edge-array"
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    val chain = ZarrWriter.CodecChain.raw.sharded(Seq(2, 2))
    ZarrWriter.writeArray(store, "r", ZarrType.Int64, Seq(10L), Seq(4),
      (0 until 10).map(_.toLong), Some(Seq("r")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "c", ZarrType.Int64, Seq(7L), Seq(4),
      (0 until 7).map(_.toLong), Some(Seq("c")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(10L, 7L), Seq(4, 4),
      (0 until 70).map(_ * 0.5), Some(Seq("r", "c")), chain)
    val m = store.readMeta("v")
    // rows 10-11 of the last shard row lie past the 10-row extent: 4 of
    // the 24 inner chunks are padding, and none of them is stored
    val counts = for (i <- 0 until 3; j <- 0 until 2) yield innerStored(store, m, s"c/$i/$j")
    assert(counts == Seq((4, 4), (4, 4), (4, 4), (4, 4), (2, 4), (2, 4)), counts)
    // 20 raw inner chunks of 32 bytes plus 6 indexes of 68 bytes
    // (24 x 32 + 408 = 1176 when the padding was stored)
    val stored = (for (i <- 0 until 3; j <- 0 until 2)
      yield store.readChunk("v", s"c/$i/$j").get.length).sum
    assert(stored == 1048, s"stored bytes of v: $stored")
    val truth = for (r <- 0L until 10L; c <- 0L until 7L) yield (r, c, (r * 7 + c) * 0.5)
    def read(ranged: String) = spark.read.format("zarr").option("ranged_reads", ranged).load(dir)
    def rows(df: DataFrame) = df.select("r", "c", "v").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq.sorted
    Seq("never", "always").foreach { rr =>
      assert(rows(read(rr)) == truth, s"ranged_reads=$rr")
      assert(rows(read(rr).filter(col("r") >= 8L && col("c") >= 4L)) ==
        truth.filter(t => t._1 >= 8 && t._2 >= 4), s"filtered, ranged_reads=$rr")
    }
    ZarrMaintenance.analyze(spark, dir)
    val agg = read("never").agg(min("v"), max("v"), sum("r")).collect()(0)
    assert(agg.getDouble(0) == 0.0 && agg.getDouble(1) == 34.5 && agg.getLong(2) == 7L * 45)
  }

  test("tabular sharded store: the last shard stores no padding inner chunk") {
    val p = s"$base/edge-tabular"
    spark.range(0, 100, 1, 1).select(col("id"), (col("id") * 2).as("w"))
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "32").option("inner_chunk_size", "8").save(p)
    val store = ZarrStore(p)
    val view = store.committedView()
    val m = view.metas.find(_.name == "w").get
    val keys = (0L until 4L).map(o => view.manifest.chunkKeyOf(m, Array(o.toInt), o))
    // rows 96-99 fill one inner chunk of the 4-row last shard
    assert(keys.map(innerStored(store, m, _)) == Seq((4, 4), (4, 4), (4, 4), (1, 4)))
    def rows(df: DataFrame) = df.select("id", "w").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    Seq("never", "always").foreach { rr =>
      val df = spark.read.format("zarr").option("ranged_reads", rr).load(p)
      assert(rows(df) == (0L until 100L).map(i => (i, i * 2)), s"ranged_reads=$rr")
      assert(rows(df.filter(col("w") >= 190L)) == (95L until 100L).map(i => (i, i * 2)),
        s"filtered, ranged_reads=$rr")
    }
    ZarrMaintenance.analyze(spark, p)
    val agg = spark.read.format("zarr").load(p).agg(max("w"), sum("id")).collect()(0)
    assert(agg.getLong(0) == 198L && agg.getLong(1) == 4950L)
    assert(Files.exists(Paths.get(p, "_stats", "i3.json")), "analyze covers the edge shard")
  }
}
