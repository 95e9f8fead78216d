package graft.zarr

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Store observability: `describe` returns one row per array with the
  * layout facts an operator of a large store needs BEFORE querying it —
  * dtype, shape, stored-chunk (shard) layout, inner chunking, codec
  * chain, grid capacity, optionally the TRUE stored-object count, and
  * how much of the store the chunk-stats sidecar covers (the zero-GET
  * aggregate / chunk-skip surface). Driver-side metadata only:
  * ONE consolidated root GET when the store carries it (engine-written
  * stores always do), else LIST + GET per array — never a chunk read,
  * so describing a 100 TB store costs the same as describing a 1 GB
  * one. */
object ZarrInfo {

  private val schema = StructType(Seq(
    StructField("array", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("format_version", IntegerType, nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("shape", StringType, nullable = false),
    StructField("chunk_shape", StringType, nullable = false),
    StructField("shard_inner_shape", StringType, nullable = true),
    StructField("codecs", StringType, nullable = false),
    StructField("dimension_names", StringType, nullable = true),
    StructField("n_grid_chunks", LongType, nullable = false),
    StructField("n_stored_objects", LongType, nullable = true),
    StructField("stats_covered_chunks", LongType, nullable = false)))

  /** One row per array. `n_grid_chunks` is the grid CAPACITY (number of
    * addressable chunk slots — a zarr array may store fewer objects:
    * absent chunks read as fill values, and a sharded array packs many
    * inner chunks per stored shard object). `n_stored_objects` is the
    * TRUE stored-object count, exact but costing a recursive LIST per
    * array — opt-in via `countStored` so the default keeps the one-GET
    * contract (NULL when not counted); with `distributed = true` the
    * LIST is sharded by [[ZarrDistWalk]] and counted in ONE Spark job —
    * the 100 TB shape, where a serial driver LIST over millions of
    * objects is the bottleneck (identical counts by construction; both
    * modes are spec-pinned equal). An operator sizing a compaction or
    * migration must use `n_stored_objects`, never the capacity.
    * `stats_covered_chunks` is the store-level sidecar coverage clamped
    * to each array's own grid (coverage counts grid ordinals, which can
    * exceed a 1-D coordinate's chunk count on an N-D store). */
  // ONE configuration source for the driver plan AND the shipped unit
  // pairs: sessionState.newHadoopConf() carries per-session overrides
  // (e.g. credentials) that sparkContext.hadoopConfiguration lacks —
  // deriving them separately could make the plan and the per-unit
  // walks see different stores
  private def fsPairs(spark: SparkSession): Seq[(String, String)] =
    ZarrStore.fsPairs(spark.sessionState.newHadoopConf())

  def describe(
      spark: SparkSession, path: String, countStored: Boolean = false,
      distributed: Boolean = false): DataFrame = {
    import scala.jdk.CollectionConverters._
    val sessionConf = spark.sessionState.newHadoopConf()
    val pairs = fsPairs(spark)
    val store = ZarrStore(path, pairs)
    val metas = store.readConsolidatedMetas()
      .getOrElse(store.listArrays().map(store.readMeta))
    // sidecar coverage is a STORE-level fact (segments describe grid
    // ordinals shared by every array of the grid); repeated per row —
    // clamped to the row's own grid — so a bare `describe(...).show()`
    // reads complete
    val covered = store.listStatsSegments().map(_._2.toLong).sum
    val storedCounts: Map[String, Long] =
      if (!countStored) Map.empty
      else if (!distributed)
        metas.map(m => m.name -> store.countStoredChunkObjects(m.name)).toMap
      else {
        // shard every array's key space into units (staging dirs count
        // too — manifest part files are stored objects) and count them
        // in one job; top-level files were already listed by the plan
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(sessionConf)
        // descend extra LIST levels when first-level units would
        // under-fill the cluster (short dim-0 grids)
        val fanTarget = 4 * math.max(1, spark.sparkContext.defaultParallelism)
        val planned = metas.map { m =>
          val (topFiles, stagingDirs, units) =
            ZarrDistWalk.planArray(fs, root, m.name, fanTarget)
          (m.name, topFiles.size.toLong,
            units ++ stagingDirs.map(sd =>
              ZarrDistWalk.WalkUnit(m.name, sd, subtree = true)))
        }
        val jobUnits = planned.flatMap(_._3)
        val unitCounts: Map[String, Long] =
          if (jobUnits.isEmpty) Map.empty
          else {
            val parts = math.min(jobUnits.size,
              math.max(1, spark.sparkContext.defaultParallelism))
            spark.sparkContext.parallelize(jobUnits, parts)
              .map(u => u.array -> ZarrDistWalk.countUnit(path, pairs, u))
              .reduceByKey(_ + _).collect().toMap
          }
        planned.map { case (name, top, _) =>
          name -> (top + unitCounts.getOrElse(name, 0L))
        }.toMap
      }
    val rows = metas.sortBy(m => (!m.isCoordinate, m.name)).map { m =>
      val gridChunks = m.gridShape.map(_.toLong).product
      Row(
        m.name,
        if (m.isCoordinate) "coordinate" else "data",
        m.formatVersion,
        m.dataType.zarrName,
        m.shape.mkString("x"),
        m.chunkShape.mkString("x"),
        m.shardingSpec.map(_.innerShape.mkString("x")).orNull,
        m.codecs.map(_.name).mkString(","),
        m.dimensionNames.map(_.mkString(",")).orNull,
        gridChunks,
        if (countStored) Long.box(storedCounts(m.name)) else null,
        math.min(covered, gridChunks))
    }
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
  }

  private val statsSchema = StructType(Seq(
    StructField("n_arrays", LongType, nullable = false),
    StructField("n_grid_chunks", LongType, nullable = false),
    StructField("n_stats_segments", LongType, nullable = false),
    StructField("n_live_segments", LongType, nullable = false),
    StructField("min_segments", LongType, nullable = false),
    StructField("n_inner_docs", LongType, nullable = false),
    StructField("covered_chunks", LongType, nullable = false),
    StructField("covered_fraction", DoubleType, nullable = false)))

  /** ONE store-level row describing the `_stats/` SIDECAR — the
    * fragmentation/coverage visibility an operator needs to decide
    * WHEN to run `ZarrMaintenance.compactStats` or an incremental
    * analyze (per-array `describe` rows clamp coverage to each array's
    * own grid, which makes a store-wide count unreadable from them).
    * `n_stats_segments` is the RAW segment-document count — exactly
    * what every scan PLAN's `_stats/` LIST pays for, one per write
    * task since the last compaction; `n_live_segments` drops
    * overlap-suppressed and out-of-grid documents (the gap between the
    * two is junk that vacuum reclaims); `min_segments` is the floor
    * compaction can reach for the current coverage
    * (ceil(covered / 4096)) — compact when `n_live_segments` is a
    * multiple of it you no longer want to pay per plan;
    * `covered_chunks`/`covered_fraction` say how much of the grid the
    * zero-GET aggregate/chunk-skip surface serves, i.e. whether an
    * incremental analyze is due. Cost: ONE metadata GET (consolidated
    * stores) + the `_stats/` LISTs — never a chunk read, 100 TB costs
    * the same as 1 GB. `distributed = true` runs the sidecar LIST as
    * ONE task of a Spark job instead of on the driver — for the store
    * that never ran the compaction cadence (10⁶+ raw segments), where
    * the paginated listing and its name materialization ARE the cost;
    * only four reduced longs return to the driver. Both modes execute
    * the same [[ZarrDistWalk.describeStatsUnit]] visitor, so their
    * rows are identical by construction (and spec-pinned). */
  def describeStats(
      spark: SparkSession, path: String,
      distributed: Boolean = false): DataFrame = {
    import scala.jdk.CollectionConverters._
    val pairs = fsPairs(spark)
    val store = ZarrStore(path, pairs)
    val metas = store.readConsolidatedMetas()
      .getOrElse(store.listArrays().map(store.readMeta))
    // a typo'd path / empty store fails inside geometry resolution with
    // a bare requirement message — the operator-facing dashboard call
    // must name itself and the store it could not describe
    val geom =
      try ScanGeometry.resolve(metas)
      catch { case e: Exception =>
        throw new ZarrException(s"describeStats($path): ${e.getMessage}") }
    // ONE `_stats/` LIST serves segments AND inner docs — this poll
    // exists for the 10^5-segment store, where the LIST is the cost
    val numChunks = geom.numChunks
    val (nRaw, nLive, nInner, covered) =
      if (distributed)
        spark.sparkContext.parallelize(Seq(path), 1)
          .map(p => ZarrDistWalk.describeStatsUnit(p, pairs, numChunks))
          .collect().head
      else ZarrDistWalk.describeStatsUnit(path, pairs, numChunks)
    val minSegs =
      (covered + ChunkStats.maxSegmentChunks - 1) / ChunkStats.maxSegmentChunks
    val row = Row(
      metas.size.toLong,
      geom.numChunks,
      nRaw,
      nLive,
      minSegs,
      nInner,
      covered,
      if (geom.numChunks == 0) 0.0 else covered.toDouble / geom.numChunks)
    spark.createDataFrame(
      new java.util.ArrayList[Row](Seq(row).asJava), statsSchema)
  }
}
