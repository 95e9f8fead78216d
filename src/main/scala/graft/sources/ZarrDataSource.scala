package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.zarr._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DataSource V2 connector for Zarr v3 stores: the idiomatic-Spark
  * re-expression of the reference's DataFusion `TableProvider`
  * (`/root/reference/crates/arrow-zarr/src/table/table_provider.rs`).
  *
  *   spark.read.format("zarr").load("/path/to/store")
  *   CREATE TABLE z USING zarr LOCATION '/path/to/store'
  *
  * Cardinality caveat (inherent to the coordinate model, shared with the
  * reference): the projected column set determines the flattened grid —
  * `SELECT lat` yields the 1-D coordinate (8 rows on the canonical
  * fixture) while `SELECT lat, lon` yields the 64-row cross product, so
  * aggressive column pruning (e.g. `count()` over a join) can legally
  * reduce cardinality. The sharpest corner:
  * `df.filter($"time" >= x).count()` on an N-D cube prunes every column
  * but the predicate's, so it counts surviving COORDINATE values, not
  * cube rows — keep a data column in the aggregate
  * (`agg(count($"temp"))`) to count over the full grid
  * (pyzarr_smoke pins both behaviors).
  *
  * Scale design: one input partition per contiguous range of chunks
  * (reference `zarr_data_stream.rs:805-817`); Spark schedules them as
  * tasks across executors, so a 100 TB store with millions of chunks
  * fans out horizontally. Projection pushdown means unselected arrays
  * are never opened; filter pushdown is *inexact* (chunk-granularity
  * skip, `table_provider.rs:91-96`) with Spark's residual `Filter`
  * giving exact rows.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"
  override def supportsExternalMetadata(): Boolean = true

  private def storeFor(options: CaseInsensitiveStringMap): ZarrStore = {
    val path = Option(options.get("path")).getOrElse(
      throw new ZarrException("zarr source requires a path"))
    // carry fs.* credentials/endpoints (e.g. s3a) and graft.zarr.* reader
    // toggles (e.g. graft.zarr.ranged.reads) from the driver conf to
    // executor-side FileSystem resolution. sessionState.newHadoopConf
    // (not sparkContext.hadoopConfiguration) so per-session overrides —
    // runtime-set spark.hadoop.* credentials — reach executors too,
    // the same one-source discipline the maintenance walks use.
    val hadoopPairs = SparkSession.active.sessionState.newHadoopConf()
      .iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter(p => p._1.startsWith("fs.") || p._1.startsWith("graft.zarr."))
      .toSeq
    // per-SCAN override of the ranged-read policy: appended LAST so it
    // wins over any session-level `graft.zarr.ranged.reads` hadoop conf
    // (ZarrStore applies pairs in order). A scan-scoped option lets
    // concurrent readers of DIFFERENT stores disagree (object store vs
    // local mirror) without racing a shared session conf mutation.
    val rangedPairs = Option(options.get("ranged_reads")).map { v =>
      v match {
        case "always" | "never" | "auto" | "true" | "false" => ()
        case other => throw new ZarrException(
          s"ranged_reads option '$other' is not one of always|never|auto" +
            " (true/false accepted as aliases of always/never)")
      }
      "graft.zarr.ranged.reads" -> v
    }.toSeq
    ZarrStore(path, hadoopPairs ++ rangedPairs)
  }

  /** The committed view [[inferSchema]] read, for the [[getTable]] of the
    * same `load()`: Spark resolves a table through one provider instance,
    * inferSchema then getTable, and both must see ONE root read. getTable
    * takes it and clears it, so a view never outlives one load(). */
  private var pendingView: Option[(String, ZarrStore.View)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = storeFor(options)
    val view = store.committedView()
    val schema = ZarrDataSource.schemaOf(view.arrays)
    pendingView = Some(store.root -> view)
    schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val store = storeFor(options)
    // `dims` marks an N-D CUBE write target and `append_dim` a cube
    // APPEND: either way the table declares the V1_BATCH_WRITE
    // capability so Spark routes the write through the V1Write
    // whole-query seam (ZarrWriteBuilder returns one); read
    // capabilities are unchanged, and tables resolved WITHOUT the
    // options (every read, every tabular write) keep the pure-V2 path
    val cubeWrite = options.containsKey("dims") ||
      options.containsKey("append_dim") || options.containsKey("region_dim")
    val pending = pendingView.collect { case (root, v) if root == store.root => v }
    pendingView = None
    // a missing/empty store with a caller-supplied schema is a WRITE
    // target (df.write.format("zarr").save(path))
    val (metas, manifest) =
      try {
        val view = pending.getOrElse(store.committedView())
        (view.arrays, view.manifest)
      } catch {
        case _: ZarrException if schema != null && schema.nonEmpty =>
          (Seq.empty[ZarrArrayMeta], ChunkManifest.empty)
      }
    if (metas.isEmpty)
      return new ZarrTable(store, schema, Seq.empty, manifest, cubeWrite = cubeWrite)
    val inferred = ZarrDataSource.schemaOf(metas)
    // a user-supplied schema is a column selection + type assertion for
    // READS (reference `table_provider.rs:147-163`) — but the same entry
    // point also serves schema-changing OVERWRITE writes, so a mismatch
    // is only an error if the table is then scanned (validated lazily in
    // newScanBuilder)
    if (schema == null || schema.isEmpty || schema == inferred)
      return new ZarrTable(store, inferred, metas, manifest, cubeWrite = cubeWrite)
    val byName = inferred.fields.map(f => f.name -> f).toMap
    val mismatch: Option[String] = schema.fields.iterator.flatMap { f =>
      byName.get(f.name) match {
        case None => Some(s"Column ${f.name} not found in zarr store")
        case Some(inf) if inf.dataType != f.dataType =>
          Some(s"Column ${f.name}: requested type ${f.dataType.sql} does not match " +
            s"stored type ${inf.dataType.sql}")
        case _ => None
      }
    }.take(1).toSeq.headOption
    mismatch match {
      case Some(err) =>
        new ZarrTable(store, schema, metas, manifest, Some(err), cubeWrite = cubeWrite)
      case None =>
        val effective = StructType(schema.fields.map(f => byName(f.name)))
        val selected = effective.fields.map(_.name).toSet
        new ZarrTable(store, effective, metas.filter(m => selected(m.name)), manifest,
          cubeWrite = cubeWrite)
    }
  }
}

object ZarrDataSource {
  def schemaOf(metas: Seq[ZarrArrayMeta]): StructType =
    StructType(metas.map { m =>
      // v2 datetime64/timedelta64 decode as raw int64 counts; the
      // kind/unit ride the field metadata so a reader can interpret
      // (e.g. `timestamp_micros(ts DIV 1000)` for zarr_time_unit 'ns')
      val md = m.timeMeta match {
        case Some((kind, unit)) => new org.apache.spark.sql.types.MetadataBuilder()
          .putString("zarr_time_kind", kind)
          .putString("zarr_time_unit", unit)
          .build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      StructField(m.name, m.dataType.sparkType, nullable = true, metadata = md)
    })

  /** All array metadata of a store ([[ZarrStore.committedView]]): ONE
    * root-document read on consolidated stores (ZarrWrite output),
    * falling back to the reference's list-then-GET-per-array shape
    * (`config.rs:201-258`) everywhere else. */
  def metasOf(store: ZarrStore): Seq[ZarrArrayMeta] = store.committedView().arrays

  /** An option's value, parsed once; a malformed value is refused with
    * the option's name instead of escaping as a bare JVM parse error. */
  def opt[T](options: CaseInsensitiveStringMap, key: String)(parse: String => T): Option[T] =
    Option(options.get(key)).map { v =>
      try parse(v)
      catch { case _: IllegalArgumentException =>
        throw new ZarrException(s"option $key: cannot parse '$v'")
      }
    }
}

/** A store resolved by one `load()`: the metadata and chunk manifest of
  * ONE committed view ([[ZarrStore.committedView]]), pinned together for
  * every query over it — a scan never re-reads the root, so a DataFrame
  * over a manifest-keyed store run after an overwrite fails loudly (its
  * manifest parts are gone) rather than pairing old shapes with new
  * chunk keys. */
class ZarrTable(
    store: ZarrStore, tableSchema: StructType, metas: Seq[ZarrArrayMeta],
    manifest: ChunkManifest, schemaError: Option[String] = None, cubeWrite: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"zarr:${store.root}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // V1_BATCH_WRITE re-routes DataSourceV2Strategy to the V1Write
    // whole-query seam, and a table declaring it MUST return V1Write
    // from every write build — so it is declared only on tables
    // resolved with the cube `dims` option (whose builder always does).
    // BATCH_WRITE stays declared: DataFrameWriter's save() gate checks
    // it regardless of which write seam the strategy then picks.
    if (cubeWrite) caps.add(TableCapability.V1_BATCH_WRITE)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    schemaError.foreach(e => throw new ZarrException(e))
    // a missing/empty store with a user schema is tolerated at getTable
    // time (it may be a write target); actually SCANNING it must fail
    // here with a clear error, not a key-not-found deep in geometry
    // resolution
    if (metas.isEmpty)
      throw new ZarrException(
        s"zarr store not found or empty at ${store.root}: nothing to read " +
          "(the user-supplied schema deferred this check so the path could be a write target)")
    new ZarrScanBuilder(store, tableSchema, metas, manifest, options)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ZarrWriteBuilder(store, info)
}

class ZarrScanBuilder(
    store: ZarrStore,
    tableSchema: StructType,
    metas: Seq[ZarrArrayMeta],
    manifest: ChunkManifest,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggScan: Option[ZarrAggScan] = None

  /** The plan's ONE `_stats/` LIST, taken on first use and shared by
    * aggregate planning, CBO statistics, the reader factory (segment
    * index, inner-doc flag) and runtime-filter partitioning. The sidecar
    * is auxiliary: a failed LIST plans without it. */
  private lazy val sidecar: ZarrStore.Sidecar = ZarrStore.Sidecar.orEmpty(store)

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}

  /** Aggregate pushdown from metadata — a capability the reference cannot
    * have (its statistics are empty, `opener.rs:171-173`), after the
    * small-materialized-aggregates idea (Moerkotte, VLDB 1998). Ungrouped
    * COUNT(*)/COUNT(col) answer from array shapes alone (zarr reads never
    * produce nulls, SURVEY §1.3); MIN/MAX/SUM/AVG(col) answer from the
    * `_stats` sidecar (1-D tabular or N-D via `analyze`'s grid-signed
    * segments). One walk over the segments serves each chunk whose
    * segment records every needed statistic exactly, and collects the
    * other chunks as uncovered runs. The answer is
    *  - COMPLETE when the segments tile the grid exactly and nothing is
    *    uncovered: on a 100 TB store a full scan becomes a handful of
    *    driver-side metadata reads;
    *  - HYBRID when at least one chunk was served (a half-analyzed
    *    foreign store, a growing store whose tail appends postdate the
    *    last `analyze`): `supportCompletePushDown` = false, so Spark
    *    plans its own final aggregation over one pre-merged row for the
    *    served chunks plus one partial row per partition of uncovered
    *    chunks — after `analyze` backfills 90% of a store, MIN/MAX/SUM
    *    pay 10% of the scan;
    *  - declined (the plain scan) otherwise, and on filters, limits,
    *    grouping, functions beyond COUNT/MIN/MAX/SUM/AVG, a served-sum
    *    overflow (the answer must be the mathematical sum) or a selection
    *    resolving to a grid the segments don't describe. Unsupported
    *    functions decline before any storage call. */
  private def planAggregation(agg: Aggregation): Option[ZarrAggScan] = {
    if (pushed.nonEmpty || limit >= 0 || agg.groupByExpressions.nonEmpty || metas.isEmpty)
      return None
    val byName = metas.map(m => m.name -> m).toMap
    def colOf(e: Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 &&
        byName.contains(f.fieldNames.head) => Some(f.fieldNames.head)
      case _ => None
    }
    // SUM/AVG over integer columns only: the sidecar's per-chunk sums are
    // exact and merge exactly (floats decline — summation order would
    // make the stored sum unreproducible against any engine's scan)
    def intOf(e: Expression): Option[String] =
      colOf(e).filter(n => ZarrAggScan.integerTyped(byName(n).dataType))
    val parsed = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct => colOf(c.column).map(("count", _))
      case m: Min => colOf(m.column).map(("min", _))
      case m: Max => colOf(m.column).map(("max", _))
      case s: Sum if !s.isDistinct => intOf(s.column).map(("sum", _))
      case a: Avg if !a.isDistinct => intOf(a.column).map(("avg", _))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return None
    val fns = parsed.flatten
    val refCols = fns.map(_._2).toSet - ""
    // same cardinality semantics as the pruned scan would have: the grid
    // of the referenced columns (full table for pure COUNT(*))
    val aggMetas = if (refCols.nonEmpty) metas.filter(m => refCols(m.name)) else metas
    val geom =
      try ScanGeometry.resolve(aggMetas)
      catch { case _: ZarrException => return None }
    val schema = StructType(fns.map {
      case ("count_star", _) => StructField("count_star", LongType)
      case (fn @ ("count" | "sum"), c) => StructField(s"${fn}_$c", LongType)
      case ("avg", c) => StructField(s"avg_$c", DoubleType)
      case (fn, c) => StructField(s"${fn}_$c", byName(c).dataType.sparkType)
    })
    val stats = fns.filterNot(f => f._1 == "count" || f._1 == "count_star")
    if (stats.isEmpty)
      return Some(new ZarrAggScan(store, aggMetas, manifest, schema, fns,
        fns.map(_ => geom.numRows), complete = true, 0L, Nil, options))
    // SUM/AVG over zero rows is NULL, which this path does not model —
    // and a 0-chunk grid trivially "covers fully"; decline instead
    if (geom.numRows == 0) return None

    // the one ordinal walk over grid `g`: (complete, per-function merged
    // values, served chunks, served rows, uncovered runs)
    def walk(g: ScanGeometry, ms: Seq[ZarrArrayMeta]) = {
      val (segs, exact) = ChunkStats.usableSegments(store, sidecar.unsuppressed, ms, g)
      val acc = new Array[Any](fns.length)
      var served, servedRows = 0L
      val uncovered = Seq.newBuilder[(Long, Long)]
      var runStart = -1L
      var si = 0
      var ord = 0L
      while (ord < g.numChunks) {
        while (si < segs.length && segs(si).first + segs(si).chunks <= ord) si += 1
        val vals = segs.lift(si).filter(_.contains(ord)).map(s => fns.map {
          case ("min", c) => s.exactRange(c, ord).map(_._1)
          case ("max", c) => s.exactRange(c, ord).map(_._2)
          case ("sum" | "avg", c) => s.sum(c, ord)
          case _ => Some(null) // counts come from the served rows
        }).filter(_.forall(_.isDefined))
        vals match {
          case Some(vs) =>
            vs.indices.foreach { i =>
              acc(i) = ZarrAggScan.merge(fns(i)._1, acc(i), vs(i).get, checked = true)
            }
            served += 1
            servedRows += g.chunkExtent(g.chunkIndex(ord)).map(_.toLong).product
            if (runStart >= 0) { uncovered += ((runStart, ord)); runStart = -1L }
          case None => if (runStart < 0) runStart = ord
        }
        ord += 1
      }
      if (runStart >= 0) uncovered += ((runStart, g.numChunks))
      val runs = uncovered.result()
      (exact && runs.isEmpty, acc, served, servedRows, runs)
    }

    // Lone-coordinate MIN/MAX on an N-D analyzed store (SURVEY §7.11
    // lever 2): a coordinate-only selection resolves to its own 1-D (or
    // cross-product) grid, which the sidecar's grid-signed segments do
    // not describe — but MIN/MAX are ORDER statistics, invariant under
    // broadcast multiplicity, so a complete walk over the STORE grid
    // bounds every axis value exactly. Served only when every min/max
    // column is a coordinate axis of the store geometry and that walk is
    // complete. COUNT still answers from shapes (pruned-grid semantics);
    // SUM/AVG stay on the pruned grid — their values DO depend on
    // broadcast multiplicity.
    val storeGrid =
      if (stats.exists(f => f._1 == "sum" || f._1 == "avg")) None
      else try Some(ScanGeometry.resolve(metas)).filter(full =>
        full.ndim > geom.ndim && stats.forall(f => full.dimIdentity.contains(f._2)))
      catch { case _: ZarrException => None }
    val (complete, acc, served, servedRows, uncovered) =
      try storeGrid.map(walk(_, metas)).filter(_._1).getOrElse(walk(geom, aggMetas))
      catch { case _: ArithmeticException => return None }
    if (!complete && (served == 0 || fns.exists(_._1 == "avg"))) return None
    // AVG = exact long sum / exact count, guarded so toDouble is
    // lossless: the pushed AVG is the exactly-rounded true mean.
    // INTENTIONAL semantics note: Spark's fallback Average over integer
    // columns accumulates partials in DOUBLE, so on data whose RUNNING
    // sums transiently exceed 2^53 the scanned result depends on row
    // order/partitioning (plan-dependent rounding); the pushed result is
    // the one exactly-rounded answer every such ordering approximates. We
    // deliberately return the exact mean rather than emulate an
    // unspecifiable accumulation order.
    if (fns.indices.exists(i => fns(i)._1 == "avg" &&
      math.abs(acc(i).asInstanceOf[Long]) > (1L << 53))) return None
    val row = fns.indices.map { i =>
      fns(i)._1 match {
        case "count" | "count_star" => if (complete) geom.numRows else servedRows
        case "avg" => acc(i).asInstanceOf[Long].toDouble / geom.numRows
        case _ => acc(i)
      }
    }
    Some(new ZarrAggScan(store, aggMetas, manifest, schema, fns, row, complete, served,
      uncovered, options))
  }

  // Spark probes supportCompletePushDown then pushAggregation with the
  // same Aggregation; memoize so the segment GETs run once per builder,
  // not per probe
  private var aggMemo: Option[(String, Option[ZarrAggScan])] = None
  private def aggPlan(agg: Aggregation): Option[ZarrAggScan] = aggMemo match {
    case Some((k, plan)) if k == agg.toString => plan
    case _ =>
      val plan = planAggregation(agg)
      aggMemo = Some((agg.toString, plan))
      plan
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggPlan(agg).exists(_.complete)

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggScan = aggPlan(agg)
    aggScan.isDefined
  }

  /** LIMIT pushdown (the reference accepts and ignores limit,
    * `table_provider.rs:103` — here a pushed limit stops each partition
    * after `limit` rows, and partition planning shrinks to the chunks
    * that can possibly be needed). Partial: Spark keeps its own global
    * limit above the scan. */
  override def pushLimit(l: Int): Boolean = {
    // only safe without filters: a chunk-skipping scan cannot know how
    // many chunks satisfy the predicate
    if (pushed.isEmpty) { limit = l; true } else false
  }

  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** All filters are residual (kept by Spark for exact evaluation); the
    * supported subset is additionally used reader-side for chunk skipping
    * — the reference's Inexact pushdown contract. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val names = metas.map(_.name).toSet
    pushed = filters.filter(f =>
      ChunkFilter.supported(f) && ChunkFilter.references(f).forall(names))
    filters // Spark must re-evaluate everything exactly
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    aggScan.getOrElse(
      new ZarrScan(store, metas, manifest, required, pushed, options, limit, () => sidecar))
}

/** The aggregate scan (see [[ZarrScanBuilder.planAggregation]]). One
  * partition emits the driver-merged row of every stats-served chunk,
  * with no chunk read; a COMPLETE answer is that partition alone. A
  * HYBRID answer adds partitions over the uncovered ordinal runs, each
  * read by the ordinary scan reader and folded to one partial row;
  * Spark's final aggregate merges the rows. */
class ZarrAggScan(
    store: ZarrStore,
    aggMetas: Seq[ZarrArrayMeta],
    manifest: ChunkManifest,
    schema: StructType,
    fns: Seq[(String, String)],
    servedRow: Seq[Any],
    val complete: Boolean,
    servedChunks: Long,
    uncovered: Seq[(Long, Long)],
    options: CaseInsensitiveStringMap)
    extends Scan with Batch {

  private val uncoveredChunks = uncovered.map(r => r._2 - r._1).sum

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    (if (complete) s"ZarrAggScan ${store.root} metadata-only"
    else s"ZarrPartialAggScan ${store.root} served=$servedChunks " +
      s"uncoveredChunks=$uncoveredChunks") + s" [${schema.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // the served row rides a sentinel partition (lo = -1); the uncovered
    // ordinals are partitioned like the plain scan would partition them
    val per =
      if (uncovered.isEmpty) 1L
      else {
        val n = ZarrScan.partitionCount(options, uncoveredChunks)
        (uncoveredChunks + n - 1) / n
      }
    (ZarrInputPartition(-1L, -1L) +: uncovered.flatMap { case (lo, hi) =>
      (lo until hi by per).map(s => ZarrInputPartition(s, math.min(hi, s + per)))
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // COUNT needs no chunk bytes (rows come from the batches; zarr reads
    // never produce nulls): the reader emits only the value columns
    val valueCols = fns.collect { case (fn @ ("min" | "max" | "sum"), c) => c }.distinct
    val reader =
      if (uncovered.isEmpty) None
      else Some(ZarrReaderFactory.planned(store, aggMetas.map(m => m.name -> m.sourceJson),
        valueCols, Nil, ChunkManifest.validateRequired(store.root, aggMetas.map(_.sourceJson),
          manifest), () => ZarrStore.Sidecar.empty))
    // overflow semantics of the executor-side partial SUM must match
    // what Spark's Sum over the same scanned rows would do: throw under
    // ANSI (the 4.x default), wrap otherwise — resolved at plan time
    // because executors cannot read the session conf
    val ansi =
      try org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      catch { case _: Throwable => true }
    ZarrAggReaderFactory(schema.json, fns, servedRow, reader, ansi)
  }
}

object ZarrAggScan {
  val integerTyped: Set[ZarrType] = Set(ZarrType.Int8, ZarrType.Int16,
    ZarrType.Int32, ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16,
    ZarrType.UInt32)

  /** Fold value `v` into the running aggregate `acc` (null = nothing yet)
    * of a MIN/MAX/SUM/AVG; `checked` sums throw on overflow. */
  def merge(fn: String, acc: Any, v: Any, checked: Boolean): Any = fn match {
    case "min" => if (acc == null || ChunkFilter.cmp(v, acc) < 0) v else acc
    case "max" => if (acc == null || ChunkFilter.cmp(v, acc) > 0) v else acc
    case "sum" | "avg" =>
      val a = if (acc == null) 0L else acc.asInstanceOf[Long]
      val x = v.asInstanceOf[Number].longValue
      if (checked) Math.addExact(a, x) else a + x
    case _ => acc
  }

  /** Reads row `r` of `vec` as the JVM value the sidecar records for its
    * type. */
  def getter(vec: org.apache.spark.sql.vectorized.ColumnVector): Int => Any =
    vec.dataType match {
      case BooleanType => vec.getBoolean(_)
      case ByteType => vec.getByte(_)
      case ShortType => vec.getShort(_)
      case IntegerType => vec.getInt(_)
      case LongType => vec.getLong(_)
      case FloatType => vec.getFloat(_)
      case DoubleType => vec.getDouble(_)
      case d: DecimalType => vec.getDecimal(_, d.precision, d.scale).toJavaBigDecimal
      case _: StringType => vec.getUTF8String(_).toString
    }

  /** Re-box a JVM value as the Catalyst internal value for `dt`. */
  def internal(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (_: StringType, s: String) => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case (d: DecimalType, b: java.math.BigDecimal) => Decimal(b, d.precision, d.scale)
    case _ => v
  }
}

/** Emits one row per partition: the served row, or the fold of the
  * uncovered ordinals the scan reader `uncovered` emits. */
final case class ZarrAggReaderFactory(
    schemaJson: String,
    fns: Seq[(String, String)],
    servedRow: Seq[Any],
    uncovered: Option[ZarrReaderFactory],
    ansiSum: Boolean)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ZarrInputPartition]
    val fields = DataType.fromJson(schemaJson).asInstanceOf[StructType].fields
    val values = if (part.lo < 0) servedRow else fold(part)
    val row = InternalRow.fromSeq(fields.toSeq.zip(values).map { case (f, v) =>
      ZarrAggScan.internal(f.dataType, v)
    })
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  /** MIN/MAX/SUM over the value columns of the batches the scan reader
    * emits for [lo, hi); COUNT is their row count. SUM overflow matches
    * Spark's Sum over the same rows: throw under ANSI, wrap otherwise. */
  private def fold(part: ZarrInputPartition): Seq[Any] = {
    val scan = uncovered.get
    val acc = new Array[Any](fns.length)
    var rows = 0L
    val reader = scan.createColumnarReader(part)
    try while (reader.next()) {
      val batch = reader.get()
      rows += batch.numRows
      fns.indices.foreach { i =>
        fns(i) match {
          case (fn @ ("min" | "max" | "sum"), c) =>
            val get = ZarrAggScan.getter(batch.column(scan.outputNames.indexOf(c)))
            var r = 0
            while (r < batch.numRows) {
              acc(i) = ZarrAggScan.merge(fn, acc(i), get(r), ansiSum)
              r += 1
            }
          case _ =>
        }
      }
    } finally reader.close()
    fns.indices.map(i => if (fns(i)._1.startsWith("count")) rows else acc(i))
  }
}

class ZarrScan(
    store: ZarrStore,
    metas: Seq[ZarrArrayMeta],
    manifest: ChunkManifest,
    required: StructType,
    pushed: Array[Filter],
    options: CaseInsensitiveStringMap,
    limit: Int,
    sidecar: () => ZarrStore.Sidecar)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private val byName = metas.map(m => m.name -> m).toMap

  /** Arrays the reader must open: projected ones first (output order),
    * then any predicate-only columns (reference's filter/projection
    * column sharing, `zarr_data_stream.rs:943-963`). */
  private val readNames: Seq[String] = {
    val proj = required.fields.map(_.name).toSeq
    val predOnly = pushed.flatMap(ChunkFilter.references).distinct
      .filterNot(proj.contains).filter(byName.contains)
    val all = proj ++ predOnly
    if (all.nonEmpty) all else metas.map(_.name) // count(*): grid from full table
  }

  private[sources] lazy val geometry: ScanGeometry =
    ScanGeometry.resolve(readNames.map(byName))

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(
      store, readNames, required.fields.map(_.name).toSeq, pushed.toSeq,
      checkpointLocation,
      maxChunksPerTrigger =
        ZarrDataSource.opt(options, "max_chunks_per_trigger")(_.toLong).getOrElse(-1L),
      emitPartialTail =
        ZarrDataSource.opt(options, "emit_partial_tail")(_.toBoolean).getOrElse(false))

  override def description(): String =
    s"ZarrScan ${store.root} cols=[${readNames.mkString(",")}] " +
      s"pushed=[${pushed.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    // a pushed limit bounds how many chunks can possibly contribute rows
    val total =
      if (limit < 0) geometry.numChunks
      else {
        val rowsPerChunk = math.max(1L, geometry.targetChunk.map(_.toLong).product)
        math.min(geometry.numChunks, (limit + rowsPerChunk - 1) / rowsPerChunk)
      }
    val n = ZarrScan.partitionCount(options, total).toInt
    // runtime filters (delivered via filter() between the factory-built
    // planning pass and THIS post-filter re-plan) ride on the partitions,
    // with the plan's sidecar listing so readers can chunk-skip on them
    // with zero extra metadata round-trips
    val rt = runtimeFilters.toSeq
    val rtSegs = if (rt.isEmpty) Nil else sidecar().unsuppressed
    geometry.partitionRanges(n)
      .map { case (lo, hi) =>
        // each partition carries ONLY its overlapping slice of the
        // segment index — the full index duplicated across thousands of
        // serialized partitions would dominate task-binary size
        val mySegs = rtSegs.filter { case (first, c) => first < hi && first + c > lo }
        ZarrInputPartition(lo, hi, rt, mySegs): InputPartition
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val metaJsons = readNames.map(n => n -> byName(n).sourceJson)
    // rename-free staged commits key chunks through the root-doc
    // manifest the table's view pinned with these metas
    ZarrReaderFactory.planned(store, metaJsons, required.fields.map(_.name).toSeq,
      (pushed ++ runtimeFilters).toSeq,
      ChunkManifest.validateRequired(store.root, metaJsons.map(_._2), manifest), sidecar, limit)
  }

  /** Runtime (join-derived) filters — e.g. a broadcast join's IN-set on
    * a coordinate — feed the same chunk-skip machinery as static pushed
    * filters: dynamic pruning for array stores. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    val names = metas.map(_.name).toSet
    runtimeFilters = filters.filter(f =>
      ChunkFilter.supported(f) && ChunkFilter.references(f).forall(names))
  }

  /** Exact row count from array shapes — strictly better than the
    * reference's empty statistics (`opener.rs:171-173`) — plus, under
    * CBO, exact per-column min/max/nullCount from the stats sidecar. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): OptionalLong = OptionalLong.of(geometry.numRows)
    override def sizeInBytes(): OptionalLong = {
      val perRow = required.fields.map(_.dataType.defaultSize.toLong).sum
      OptionalLong.of(geometry.numRows * math.max(perRow, 1L))
    }
    override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = v2ColumnStats
  }

  /** Exact per-column statistics for Spark's cost-based optimizer, from
    * the chunk-stats sidecar (Catalyst folds them into `ColumnStat` via
    * `DataSourceV2Relation.transformV2Stats`, informing join reorder and
    * filter selectivity over zarr tables). Gated behind
    * `spark.sql.cbo.enabled`: the segment GETs are driver-side IO that
    * default planning must not pay on every query. Numeric columns only — their sidecar values are the same
    * boxed primitives catalyst `ColumnStat` carries; strings/decimals
    * are skipped. `nullCount` is exactly 0: zarr reads never produce
    * nulls (fill values, SURVEY §1.3). Memoized per Scan. */
  private lazy val v2ColumnStats: java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    val numeric: Set[ZarrType] = Set(ZarrType.Int8, ZarrType.Int16, ZarrType.Int32,
      ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16, ZarrType.UInt32,
      ZarrType.Float32, ZarrType.Float64)
    try {
      if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled) {
        val cols = required.fields.map(_.name).filter(n =>
          byName.get(n).exists(m => numeric(m.dataType)))
        if (cols.nonEmpty) {
          val (segs, exact) =
            ChunkStats.usableSegments(store, sidecar().unsuppressed, metas, geometry)
          if (exact) {
            val ranges = ChunkStats.exactRanges(cols.toSeq, segs)
            cols.foreach { n =>
              ranges.get(n).foreach { case (lo, hi) =>
                out.put(Expressions.column(n), new ColumnStatistics {
                  override def min(): java.util.Optional[Object] =
                    java.util.Optional.of(lo.asInstanceOf[Object])
                  override def max(): java.util.Optional[Object] =
                    java.util.Optional.of(hi.asInstanceOf[Object])
                  override def nullCount(): OptionalLong = OptionalLong.of(0L)
                })
              }
            }
          }
        }
      }
    } catch { case _: Throwable => () } // stats are auxiliary: never fail planning
    out
  }
}

object ZarrScan {
  /** Input partitions for `total` chunks: the `partitions` option, else
    * twice the session's default parallelism, never more than `total`. */
  def partitionCount(options: CaseInsensitiveStringMap, total: Long): Long = {
    val default =
      try math.max(2 * SparkSession.active.sparkContext.defaultParallelism, 1)
      catch { case _: Throwable => 32 }
    val requested = ZarrDataSource.opt(options, "partitions")(_.toInt).getOrElse(default)
    math.max(1L, math.min(total, requested.toLong))
  }
}

/** A contiguous chunk-ordinal range, plus any runtime (join-derived)
  * filters. Runtime filters travel on the partition because Spark may
  * build the reader factory BEFORE `SupportsRuntimeFiltering.filter`
  * fires, but re-plans partitions after it — `rtSegIndex` carries the
  * matching driver-side stats-segment listing for the same reason. */
final case class ZarrInputPartition(
    lo: Long, hi: Long,
    runtimeFilters: Seq[Filter] = Nil,
    rtSegIndex: Seq[(Long, Int)] = Nil) extends InputPartition
