package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 runtime filtering (SPARK-35779): a join's executed build side
  * delivers IN-set filters to `ZarrScan.filter(...)` AFTER planning,
  * and those filters must feed the SAME stats-sidecar chunk-skip
  * machinery as static pushed filters — dynamic partition pruning for
  * array stores. The correctness side lives in ZarrConnectorSpec; this
  * spec proves the EFFECT: with a selective build side, chunks outside
  * the joined key range are never fetched. */
class RuntimeFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var url: String = _
  private val fsLog = RecordingFileSystem.log("graftstat")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("runtime-filter-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftstat.impl", classOf[RecordingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("zarr-rtf").toString
    url = s"graftstat://$base/store"
    val sp = spark; import sp.implicits._
    // 80 rows, chunk 16 -> 5 chunks; id is monotonically increasing so
    // the sidecar gives disjoint per-chunk id ranges
    (0 until 80).map(i => (i.toLong, i * 2.5)).toDF("id", "v")
      .coalesce(1).write.format("zarr").mode("overwrite")
      .option("chunk_size", "16").save(url)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a selective broadcast join prunes chunks at runtime via the stats sidecar") {
    val sp = spark; import sp.implicits._
    val fact = spark.read.format("zarr").load(url)
    // build side: 2 keys inside chunk 0's id range [0, 16), behind a
    // selective filter. The build side must NOT be a LocalRelation:
    // ConvertToLocalRelation would fold the filter away before the
    // PartitionPruning rule looks for it, and no runtime filter would
    // be injected at all — so stage the keys through parquet, the way
    // a real dimension arrives.
    val keysPath = Files.createTempDirectory("rtf-keys").toString + "/keys"
    Seq((3L, "a"), (7L, "b"), (200L, "zz")).toDF("k", "tag")
      .write.parquet(keysPath)
    val keys = spark.read.parquet(keysPath).where(col("tag") =!= "zz")
    val joined = fact.join(broadcast(keys), col("id") === col("k"))
    fsLog.clear()
    // no orderBy: a range exchange would SAMPLE the input first and read
    // every surviving chunk twice, muddying the open counts below
    val rows = joined.select(col("id"), col("v")).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 7L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(7.5, 17.5))
    // staged commits key chunks under c.part<writeId>-<p>/<ordinal>
    val chunkOpens = fsLog.gets
      .filter(_.matches(".*/store/(id|v)/c(\\.part[^/]+)?/\\d+$"))
    // both joined keys live in chunk ordinal 0: runtime filtering must
    // keep the scan to ONE chunk per column (vs 5 chunks unpruned)
    assert(chunkOpens.nonEmpty, "the matching chunk itself must be read")
    assert(chunkOpens.length <= 2 && chunkOpens.forall(_.endsWith("/0")),
      s"runtime IN-filter must skip chunks 1..4 via the sidecar, read: ${chunkOpens.mkString(", ")}")
  }

  test("runtime filtering prunes N-D grids: a coordinate join key skips whole 2-D rows") {
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("zarr-rtf-nd").toString
    val ndUrl = s"graftstat://$base/nd"
    val store = ZarrStore(ndUrl,
      Seq("fs.graftstat.impl" -> classOf[RecordingFileSystem].getName))
    store.writeStoreRootMeta()
    // INT coordinates: Spark wraps FLOAT join keys in
    // KnownFloatingPointNormalized(NormalizeNaNAndZero(...)), which its
    // own runtime-filter translation refuses ("Can't translate ... to
    // source filter"), so float-keyed joins never deliver an IN-set to
    // ANY DSv2 source (1-D or N-D alike) — an upstream translation
    // limit, not a connector one. Integer-keyed dims are the common
    // join shape anyway.
    ZarrWriter.writeArray(store, "row", ZarrType.Int64, Seq(8), Seq(3),
      (0 until 8).map(_.toLong: Any), Some(Seq("row")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "col", ZarrType.Int64, Seq(8), Seq(3),
      (100 until 108).map(_.toLong: Any), Some(Seq("col")), ZarrWriter.CodecChain.raw)
    ZarrWriter.writeArray(store, "data", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble: Any), Some(Seq("row", "col")), ZarrWriter.CodecChain.raw)
    assert(ZarrMaintenance.analyze(spark, ndUrl) == 9)
    val fact = spark.read.format("zarr").load(ndUrl)
    val keysPath = Files.createTempDirectory("rtf-nd-keys").toString + "/keys"
    // one live key = row 0 (grid row 0), one filtered decoy
    Seq((0L, "a"), (99L, "zz")).toDF("k", "tag").write.parquet(keysPath)
    val keys = spark.read.parquet(keysPath).where(col("tag") =!= "zz")
    val joined = fact.join(broadcast(keys), col("row") === col("k"))
    fsLog.clear()
    val rows = joined.select(col("row"), col("col"), col("data"))
      .collect().sortBy(_.getDouble(2))
    assert(rows.length == 8) // one grid row x 8 cols
    assert(rows.map(_.getDouble(2)).toSeq == (0 until 8).map(_.toDouble))
    val dataOpens = fsLog.gets
      .filter(_.matches(".*/nd/data/c/\\d+/\\d+$")).distinct
    // row = 0 lives in grid row 0 only: the runtime IN-set plus the
    // grid-signed sidecar must keep data GETs to chunks (0,0),(0,1),(0,2)
    assert(dataOpens.nonEmpty && dataOpens.forall(_.contains("/c/0/")),
      s"N-D runtime filter must prune to grid row 0: ${dataOpens.mkString(", ")}")
  }
}
