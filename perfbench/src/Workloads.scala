package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ExecutorService

import scala.jdk.CollectionConverters._

import graft.sources.ZarrDataSource
import graft.zarr.{Sharding, ZarrMaintenance, ZarrStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThanOrEqual}

/** One timed step of a round. `run` returns whether its output was
  * correct; `scan` is the query the traced run replays through DSv2. */
final case class Op(name: String, kind: String, run: () => Boolean,
    scan: Option[ScanQuery] = None)

/** A measured op: wall time, storage calls and correctness. */
final case class Sample(op: Op, nanos: Long, counts: Counts, ok: Boolean)

/** A closed-loop workload: one client (the caller's thread) runs the
  * ops of `round` back to back. Inputs come from `seed` only. */
trait Workload {
  /** Build (or validate) the inputs from the seed. */
  def build(): Unit
  /** Compute expected answers (outside the set-up time: it is the
    * benchmark's work, not the program's). */
  def prepare(): Unit = ()
  /** Passes that load classes, JIT-compile and fill caches before timing. */
  def warmUp(): Unit
  /** The seeded op sequence of one round; the same for every round. */
  def round: Seq[Op]
  /** Workload-specific per-layer metrics from the traced round. */
  def layers(traced: Seq[Sample], pool: ExecutorService): Map[String, Double]
  /** Input sizes for the run record. */
  def sizes: Map[String, Long]
  /** Whether storage calls get the object-store latency model. */
  def latency: Boolean = false
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "scan_full" => new ScanFull(spark, seed, work)
    case "cube_select" => new CubeSelect(spark, seed, work)
    case "pipeline" => new Pipeline(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete(_))
      finally s.close()
    }

  /** (bytes, objects) stored under `p`. */
  def stored(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def url(p: Path): String = "benchfs://" + p.toAbsolutePath.toString

  /** Per-layer metrics of the DSv2 replay of a round's scans. Fetch,
    * skip and usefulness figures count inner chunks: a sharded object's
    * inner chunks, or one per unsharded chunk object. `useful` says
    * whether any cell of the element box [lo, hi) matches the query. */
  def scanLayers(ops: Seq[Op], url: String, root: String, pool: ExecutorService,
      useful: (ScanQuery, Array[Int], Array[Int]) => Boolean, expected: ScanQuery => Answer,
      same: (Answer, Answer) => Boolean): (Map[String, Double], Int) = {
    val scans = ops.flatMap(_.scan)
    var bad = 0
    val traces = scans.zipWithIndex.map { case (q, i) =>
      Trace.op(10000 + i, "dsv2." + q.kind) {
        val t = Scan.dsv2(url, root, q, pool)
        if (!same(t.answer, expected(q))) bad += 1
        (q, t)
      }
    }
    val dsv2Ops = (10000 until 10000 + scans.size).toSet
    val mine = Trace.all.filter(s => dsv2Ops(s.op))
    val n = scans.size.toDouble
    def ms(name: String) = mine.filter(_.name == name).map(_.nanos).sum / 1e6 / n
    val fetched = traces.map { case (_, t) => Scan.fetches(root, t.opened) }
    val replays = fetched.map(Scan.replay(root, _))
    val data = ZarrDataSource.metasOf(ZarrStore(root)).filterNot(_.isCoordinate)
      .map(m => m.name -> m).toMap
    val innerPerChunk = data.values.headOption.flatMap(m =>
      m.shardingSpec.map(Sharding.innerCount(m.chunkShape, _))).getOrElse(1)
    // per query: (inner chunks fetched, those useful, distinct positions)
    val dataFetched = traces.zip(fetched).map { case ((q, _), fs) =>
      val mine = fs.filter(f => data.contains(f.name))
      val usefulN = mine.map(f => f.inner.count { gi =>
        val (lo, hi) = Scan.innerBox(data(f.name), f.idx, gi)
        useful(q, lo, hi)
      }).sum
      (mine.map(_.inner.length).sum, usefulN,
        mine.flatMap(f => f.inner.map(gi => (f.idx.toSeq, gi))).distinct.size)
    }
    val layer = Map(
      "plan.ms" -> ms("plan"),
      "plan.requests" -> traces.map(_._2.planCounts.requests).sum / n,
      "plan.partitions" -> traces.map(_._2.partitions).sum / n,
      "plan.chunks_planned" -> traces.map(_._2.chunksPlanned).sum / n,
      "plan.chunks_pruned" -> traces.map(t => t._2.chunksTotal - t._2.chunksPlanned).sum / n,
      "read.ms" -> traces.map(_._2.readNanos).sum / 1e6 / n,
      "read.self_ms" -> Trace.selfNanos(mine, "read.reader") / 1e6 / n,
      "read.batches" -> traces.map(_._2.batches).sum / n,
      "read.rows" -> traces.map(_._2.rows).sum / n,
      "read.chunks_skipped" -> traces.zip(dataFetched).map { case ((_, t), (_, _, at)) =>
        math.max(0L, t.chunksPlanned * innerPerChunk - at) }.sum / n,
      "fetch.useful_ratio" -> {
        val all = dataFetched.map(_._1).sum
        if (all == 0) 0.0 else dataFetched.map(_._2).sum.toDouble / all
      },
      "decode.ms" -> replays.map(_.decodeNanos).sum / 1e6 / n,
      "decode.chunks" -> replays.map(_.chunks).sum / n,
      "decode.out_mb" -> replays.map(_.outBytes).sum / 1048576.0 / n,
      "fill.ms" -> replays.map(_.fillNanos).sum / 1e6 / n,
      "fill.rows_bulk" -> replays.map(_.rowsBulk).sum / n,
      "fill.rows_mapped" -> replays.map(_.rowsMapped).sum / n)
    (layer, bad)
  }
}

/** scan_full: repeated full-scan sums (4 data columns plus both broadcast
  * coordinates) and 1-column projections with an integer checksum, over
  * the local 2-D [[ScanStore]]. */
final class ScanFull(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val cpus = spark.sparkContext.defaultParallelism
  private val root = work.resolve("scan_store")
  private val url = Workloads.url(root)
  private var expect: ScanStore.Expect = _

  def build(): Unit = {
    Workloads.deleteTree(root)
    expect = ScanStore.write(root.toString, seed, cpus)
  }

  private val full = ScanQuery("full", Nil, Seq("y", "x") ++ ScanStore.data)
  private def proj(c: String) =
    ScanQuery("proj_" + c, Nil, Nil, Some(c), ScanStore.scale)

  private def expected(q: ScanQuery): Answer =
    if (q.kind == "full")
      Answer(expect.rows, Seq(expect.sumY, expect.sumX) ++ ScanStore.data.map(expect.sums), 0L)
    else Answer(expect.rows, Nil, expect.checksums(q.checksumCol.get))

  /** Counts, coordinate sums and checksums exactly; data sums within a
    * relative 1e-9 (summation order differs from the generator's). */
  private def same(a: Answer, e: Answer): Boolean =
    a.rows == e.rows && a.checksum == e.checksum && a.sums.size == e.sums.size &&
      a.sums.zip(e.sums).zipWithIndex.forall { case ((x, y), i) =>
        if (i < 2 && e.sums.size == 6) x == y
        else math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      }

  private def runScan(q: ScanQuery): Boolean =
    same(q.sparkAnswer(spark.read.format("zarr").load(url)), expected(q))

  private val projCols = {
    val r = new java.util.SplittableRandom(Gen.hash(seed, 7))
    Seq.fill(2)(ScanStore.data(r.nextInt(ScanStore.data.size)))
  }

  /** One round: the first scans of a JVM are several times slower than
    * the rest, and the next few still run partly interpreted. */
  def warmUp(): Unit = round.foreach(_.run())

  /** Six ops: twice a full scan, a projection of a seeded column and
    * another full scan. Full scans are two thirds of the ops, so the
    * median op is a full scan rather than a midpoint between the two
    * kinds. */
  def round: Seq[Op] = projCols.flatMap(c => Seq(full, proj(c), full)).map { q =>
    Op(if (q.kind == "full") "full" else "proj", "scan", () => runScan(q), Some(q))
  }

  def layers(traced: Seq[Sample], pool: ExecutorService): Map[String, Double] = {
    val (m, bad) = Workloads.scanLayers(round, url, root.toString, pool,
      (_, _, _) => true, expected, same)
    val (bytes, _) = Workloads.stored(root)
    m ++ Map("dsv2.failed" -> bad.toDouble,
      "store.bytes_per_user_byte" -> bytes.toDouble / userBytes)
  }

  private def userBytes: Double =
    (ScanStore.ny.toDouble * ScanStore.nx * ScanStore.data.size + ScanStore.ny + ScanStore.nx) * 8

  def sizes: Map[String, Long] = {
    val (b, o) = Workloads.stored(root)
    Map("rows" -> ScanStore.ny.toLong * ScanStore.nx, "data_arrays" -> ScanStore.data.size.toLong,
      "stored_bytes" -> b, "stored_objects" -> o, "user_bytes" -> userBytes.toLong)
  }
}

/** The answer of every cube query, from the generator directly: values of
  * both variables over t in [0, nT), with version 1 over time steps
  * [region._1, region._2). */
final class CubeTruth(seed: Long, nT: Int, region: (Int, Int)) {
  import Cube._
  private val v = Array.tabulate(2, nT * nLat * nLon) { (k, c) =>
    val t = c / (nLat * nLon); val i = (c / nLon) % nLat; val j = c % nLon
    val ver = if (t >= region._1 && t < region._2) 1 else 0
    value(seed, ver, k, t, i, j)
  }
  def at(k: Int, t: Int, i: Int, j: Int): Double = v(k)((t * nLat + i) * nLon + j)

  /** Column values of cell (t, i, j), as the table presents them. */
  private def cell(t: Int, i: Int, j: Int): String => Double = {
    case "time" => t.toDouble
    case "lat" => lat(i)
    case "lon" => lon(j)
    case name => at(vars.indexOf(name), t, i, j)
  }

  def answer(q: ScanQuery): Answer = {
    val ks = q.sumCols.map(vars.indexOf(_))
    var rows = 0L
    val sums = new Array[Double](ks.size)
    for (t <- 0 until nT; i <- 0 until nLat; j <- 0 until nLon) {
      if (q.matches(cell(t, i, j))) {
        rows += 1
        ks.indices.foreach(x => sums(x) += at(ks(x), t, i, j))
      }
    }
    Answer(rows, sums.toSeq, 0L)
  }

  /** Whether any cell of the time/lat/lon box [lo, hi) matches `q`. */
  def anyMatch(q: ScanQuery, lo: Array[Int], hi: Array[Int]): Boolean =
    (lo(0) until math.min(hi(0), nT)).exists(t => (lo(1) until math.min(hi(1), nLat)).exists(i =>
      (lo(2) until math.min(hi(2), nLon)).exists(j => q.matches(cell(t, i, j)))))
}

/** cube_select: seeded selective aggregates over an analyzed, sharded
  * 3-D cube, read through [[BenchFs]] with the object-store latency
  * model. Four query shapes, four of each per round: time slabs, lat/lon
  * boxes, single-point time series and value predicates.
  *
  * The set-up builds the cube through every commit path: a cube write,
  * appends along time, and a region overwrite that gives one time range
  * new values; then the maintenance passes analyze, compactStats and
  * vacuum. The queries' answers are checked against the generator's
  * final state, overwritten region included. */
final class CubeSelect(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import CubeSelect._
  private val parts = spark.sparkContext.defaultParallelism
  private val root = work.resolve("cube_store")
  private val url = Workloads.url(root)
  private val truth = new CubeTruth(seed, nT, region)
  override def latency: Boolean = true

  // the build's steps, timed and counted: the write and maint layers of
  // the traced run (a cold build: the first write also loads classes)
  private var buildSteps: Seq[Sample] = Nil
  // per write step, ms in PUTs of metadata and root documents; recorded
  // when the build runs traced
  private var commitMs: Seq[Double] = Nil

  def build(): Unit = {
    Workloads.deleteTree(root)
    def slab(version: Int, range: (Int, Int)) =
      Cube.slab(spark, seed, version, range._1, range._2, parts)
    def writer(df: org.apache.spark.sql.DataFrame) = df.write.format("zarr")
    val steps: Seq[(String, String, () => Unit)] =
      Seq(("write", "write", () => writer(slab(0, (0, t0))).mode("overwrite")
        .option("dims", "time,lat,lon").option("chunk_shape", Cube.chunkShape)
        .option("shard_shape", Cube.shardShape).save(url))) ++
      (0 until appends).map(k => ("append", "write", () => writer(slab(0, appendRange(k)))
        .mode("append").option("append_dim", "time").save(url))) ++
      Seq(
        ("region", "write", () => writer(slab(1, region)).mode("overwrite")
          .option("region_dim", "time").save(url)),
        ("analyze", "maint", () => { ZarrMaintenance.analyze(spark, url); () }),
        ("compact_stats", "maint", () => { ZarrMaintenance.compactStats(spark, url); () }),
        ("vacuum", "maint", () => { ZarrMaintenance.vacuum(spark, url).collect(); () }))
    buildSteps = steps.zipWithIndex.map { case ((name, kind, body), k) =>
      Trace.op(900 + k, name) {
        val c0 = BenchFs.snapshot()
        val t = System.nanoTime()
        body()
        val sample = Sample(Op(name, kind, () => true), System.nanoTime() - t,
          BenchFs.snapshot() - c0, ok = true)
        System.err.println(f"[perfbench] build step $name ${sample.nanos / 1e6}%.0f ms")
        sample
      }
    }
    val spans = Trace.all
    commitMs = buildSteps.zipWithIndex.collect { case (s, k) if s.op.kind == "write" =>
      spans.filter(sp => sp.op == 900 + k && sp.name == "fs.put.commit").map(_.nanos).sum / 1e6
    }
  }

  private val queries: Seq[ScanQuery] = {
    val r = new java.util.SplittableRandom(Gen.hash(seed, 11))
    def t(span: Int) = r.nextInt(nT - span).toLong
    val qs = (0 until 4).flatMap { _ =>
      val a = t(4); val d = t(8)
      val la = Cube.lat(r.nextInt(Cube.nLat - 10)); val lo = Cube.lon(r.nextInt(Cube.nLon - 15))
      val pla = Cube.lat(r.nextInt(Cube.nLat)); val plo = Cube.lon(r.nextInt(Cube.nLon))
      val thr = 10.0 + r.nextInt(10 * 1024) / 1024.0
      Seq(
        ScanQuery("time_slab", Seq(GreaterThanOrEqual("time", a), LessThanOrEqual("time", a + 3)),
          Seq("t2m")),
        ScanQuery("box", Seq(GreaterThanOrEqual("lat", la), LessThanOrEqual("lat", la + 18.0),
          GreaterThanOrEqual("lon", lo), LessThanOrEqual("lon", lo + 28.0)), Seq("pr")),
        ScanQuery("point", Seq(EqualTo("lat", pla), EqualTo("lon", plo)), Seq("t2m")),
        ScanQuery("value", Seq(GreaterThan("t2m", thr), GreaterThanOrEqual("time", d),
          LessThanOrEqual("time", d + 7)), Seq("pr")))
    }
    Gen.shuffled(qs, r) // seeded order, fixed mix
  }
  private lazy val answers: Map[ScanQuery, Answer] = queries.distinct.map(q => q -> truth.answer(q)).toMap

  private def same(a: Answer, e: Answer): Boolean = a == e

  override def prepare(): Unit = answers

  /** Two queries of each shape: the build has already run Spark jobs. */
  def warmUp(): Unit = round.groupBy(_.name).values.flatMap(_.take(2)).foreach(_.run())

  def round: Seq[Op] = queries.map { q =>
    Op(q.kind, "query",
      () => same(q.sparkAnswer(spark.read.format("zarr").load(url)), answers(q)), Some(q))
  }

  def layers(traced: Seq[Sample], pool: ExecutorService): Map[String, Double] = {
    val (m, bad) = Workloads.scanLayers(round, url, root.toString, pool,
      (q, lo, hi) => truth.anyMatch(q, lo, hi), answers, same)
    val writes = buildSteps.filter(_.op.kind == "write")
    val maint = buildSteps.filter(_.op.kind == "maint")
    def perWrite(f: Counts => Long): Double = writes.map(s => f(s.counts)).sum.toDouble / writes.size
    m ++ Map("dsv2.failed" -> bad.toDouble,
      "stats.segments" -> ZarrStore(root.toString).listStatsSegmentsRaw().size.toDouble,
      "store.bytes_per_user_byte" -> Workloads.stored(root)._1.toDouble / userBytes,
      "write.job_ms" -> writes.map(_.nanos).sum / 1e6 / writes.size,
      "commit.ms" -> commitMs.sum / writes.size,
      "upload.puts" -> perWrite(_.creates),
      "upload.bytes" -> perWrite(_.bytesWritten),
      "upload.renames" -> perWrite(_.renames),
      "upload.deletes" -> perWrite(_.deletes),
      "objects_written_per_op" -> perWrite(c => c.creates + c.renames + c.deletes),
      "maint.ms" -> maint.map(_.nanos).sum / 1e6,
      "maint.bytes_rewritten" -> maint.map(_.counts.bytesWritten).sum.toDouble,
      "maint.objects_deleted" -> maint.map(_.counts.deletes).sum.toDouble)
  }

  private def userBytes: Double = nT.toDouble * Cube.nLat * Cube.nLon * Cube.vars.size * 8

  def sizes: Map[String, Long] = {
    val (b, o) = Workloads.stored(root)
    Map("cells" -> nT.toLong * Cube.nLat * Cube.nLon, "variables" -> Cube.vars.size.toLong,
      "stored_bytes" -> b, "stored_objects" -> o, "queries_per_round" -> queries.size.toLong)
  }
}

object CubeSelect {
  /** Time steps of the cube write; then `appends` appends of
    * `appendLen` steps each. */
  val t0 = 24
  val appendLen = 6
  val appends = 2
  val nT: Int = t0 + appends * appendLen
  /** Time steps [a, b) the region overwrite gives version-1 values. */
  val region: (Int, Int) = (8, 16)

  def appendRange(k: Int): (Int, Int) = (t0 + k * appendLen, t0 + (k + 1) * appendLen)
}

/** pipeline: registry queries over a copy of four sf0.01 test tables
  * kept in `perfbench/data/sf0.01`, in a seeded order. Each result is
  * hashed and compared with the hash in `perfbench/pipeline_hashes.json`.
  * Parquet reads go through [[BenchFs]] (no latency), so storage calls
  * are counted here too. */
final class Pipeline(spark: SparkSession, seed: Long) extends Workload {
  import Pipeline._
  private val dir = Paths.get(dataDir).toAbsolutePath
  private val url = "benchfs://" + dir
  private val hashes = readHashes()

  def build(): Unit = {
    val missing = tables.filterNot(t => Files.isRegularFile(dir.resolve(s"$t.parquet")))
    require(missing.isEmpty, s"$dir lacks ${missing.mkString(", ")}")
    require(queries.forall(hashes.contains), s"$hashFile lacks a query's hash")
    tables.foreach(graft.Tables.load(spark, url, _))
  }

  /** Two rounds: the first measured round after a single one still ran
    * most queries 20-40% slower than the next. */
  def warmUp(): Unit = (1 to 2).foreach(_ => round.foreach(_.run()))

  private val order: Seq[String] =
    Gen.shuffled(queries, new java.util.SplittableRandom(Gen.hash(seed, 13)))

  def round: Seq[Op] = order.map { q =>
    Op(q, "query", () => {
      val h = try hash(graft.SparkEntry.queries(q)(spark, url))
        finally {
          spark.catalog.clearCache()
          graft.CacheRegistry.releaseAll()
        }
      val ok = hashes.get(q).contains(h)
      if (!ok) System.err.println(s"[perfbench] $q: digest $h, expected ${hashes.get(q)}")
      ok
    })
  }

  def layers(traced: Seq[Sample], pool: ExecutorService): Map[String, Double] =
    traced.map(s => s"query.${s.op.name}.s" -> s.nanos / 1e9).toMap

  def sizes: Map[String, Long] =
    Map("input_bytes" -> tables.map(t => Files.size(dir.resolve(s"$t.parquet"))).sum,
      "queries_per_round" -> order.size.toLong)
}

object Pipeline {
  val dataDir = "perfbench/data/sf0.01"
  val hashFile = "perfbench/pipeline_hashes.json"
  /** The tables the queries read. */
  val tables: Seq[String] = Seq("customer", "orders", "lineitem", "documents")
  /** An odd count, with three queries of similar cost in the middle, so
    * the median op falls inside a cluster rather than midway between the
    * cheap and the costly queries. */
  val queries: Seq[String] = Seq(
    "q97_copurchase_pagerank", "q35_ngram_jaccard", "q36_minhash_lsh", "q48_contamination",
    "q121_substring_dedup", "q126_substring_removal", "q03_join_agg")

  private def readHashes(): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(hashFile))).path("hashes")
    node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
  }

  /** Order-independent digest of a result: columns sorted by name, rows
    * rendered and sorted, SHA-256 over the lines. */
  def hash(df: org.apache.spark.sql.DataFrame): String = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names(_))
    val lines = df.collect().map { r =>
      order.map(i => s"${names(i)}=${String.valueOf(r.get(i))}").mkString("\u0001")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"${lines.length}\n".getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
