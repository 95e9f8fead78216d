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
    * TRUE stored-object count ([[ZarrDistWalk.countStored]]), exact but
    * costing a LIST walk of every array — opt-in via `countStored` so
    * the default keeps the one-GET contract (NULL when not counted). The
    * walk runs on the driver (one recursive listing per array) while the
    * arrays' total grid capacity is at most 64 chunk slots; above, the
    * planned [[ZarrDistWalk]] units (the dirs below the listed levels,
    * and staging dirs) are counted in one Spark job — the 100 TB shape,
    * where a serial driver LIST over millions of objects is the
    * bottleneck — and a plan without units (a 1-D store) is counted
    * from the driver's listings; the counts are identical either way
    * (spec-pinned). An operator sizing a compaction or migration must
    * use `n_stored_objects`, never the capacity. `stats_covered_chunks` is
    * the store-level sidecar coverage — the live segments
    * ([[ZarrStore.liveSegments]], the rule `describeStats` applies) of
    * the store grid, the largest array grid — clamped to each array's
    * own grid (coverage counts grid ordinals, which can exceed a 1-D
    * coordinate's chunk count on an N-D store). */
  def describe(
      spark: SparkSession, path: String, countStored: Boolean = false): DataFrame =
    describeImpl(spark, path, countStored, ZarrDistWalk.InlineMax)

  /** [[describe]] with the stored-object walk's driver/job threshold
    * exposed — the seam that pins both schedulers equal. */
  private[graft] def describeImpl(
      spark: SparkSession, path: String, countStored: Boolean,
      inlineMax: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    // sessionState.newHadoopConf() carries per-session overrides (e.g.
    // credentials) that sparkContext.hadoopConfiguration lacks
    val store = ZarrStore(path, ZarrStore.fsPairs(spark.sessionState.newHadoopConf()))
    val metas = store.committedView().arrays
    // sidecar coverage is a STORE-level fact (segments describe grid
    // ordinals shared by every array of the grid); repeated per row —
    // clamped to the row's own grid — so a bare `describe(...).show()`
    // reads complete. Segments past the grid are phantoms, not coverage.
    val gridOf = metas.map(m => m.name -> m.gridShape.map(_.toLong).product).toMap
    val covered = ZarrStore.liveSegments(store.sidecar().raw, gridOf.values.max)
      .map(_._2.toLong).sum
    val storedCounts =
      if (countStored) ZarrDistWalk.countStored(spark, store, metas, inlineMax)
      else Map.empty[String, Long]
    val rows = metas.sortBy(m => (!m.isCoordinate, m.name)).map { m =>
      val gridChunks = gridOf(m.name)
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
    * stores) + ONE streamed `_stats/` LIST on the driver — never a chunk
    * read, 100 TB costs the same as 1 GB. A LIST is sequential wherever
    * it runs, so there is nothing to schedule: the stores whose listing
    * is long (10⁶+ raw segments) are the ones `compactStats` is for.
    * The live rule is [[ZarrStore.liveSegments]] — shared with sidecar
    * compaction, never a private copy. */
  def describeStats(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val store = ZarrStore(path, ZarrStore.fsPairs(spark.sessionState.newHadoopConf()))
    val metas = store.committedView().arrays
    // a typo'd path / empty store fails inside geometry resolution with
    // a bare requirement message — the operator-facing dashboard call
    // must name itself and the store it could not describe
    val geom =
      try ScanGeometry.resolve(metas)
      catch { case e: Exception =>
        throw new ZarrException(s"describeStats($path): ${e.getMessage}") }
    // ONE `_stats/` LIST serves segments AND inner docs
    val listing = store.sidecar()
    val numChunks = geom.numChunks
    val live = ZarrStore.liveSegments(listing.raw, numChunks)
    val covered = math.min(live.map(_._2.toLong).sum, numChunks)
    val minSegs =
      (covered + ChunkStats.maxSegmentChunks - 1) / ChunkStats.maxSegmentChunks
    val row = Row(
      metas.size.toLong,
      numChunks,
      listing.raw.size.toLong,
      live.size.toLong,
      minSegs,
      listing.innerOrds.size.toLong,
      covered,
      if (numChunks == 0) 0.0 else covered.toDouble / numChunks)
    spark.createDataFrame(
      new java.util.ArrayList[Row](Seq(row).asJava), statsSchema)
  }
}
