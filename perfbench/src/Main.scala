package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Zarr-connector benchmark: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir>
  * }}}
  *
  * Run from the repository root: the pipeline workload reads its tables
  * and hashes from perfbench/.
  *
  * Prints one JSON object as the last line of stdout. With --trace 0 it
  * holds the end-to-end metrics of closed-loop rounds run for --seconds;
  * with --trace 1 the per-layer metrics of one traced round. The exit
  * code is non-zero when any output was wrong. */
object Main {
  final case class Conf(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: String = "", out: String = "")

  def parse(args: List[String], c: Conf = Conf()): Conf = args match {
    case "--workload" :: v :: t => parse(t, c.copy(workload = v))
    case "--seed" :: v :: t => parse(t, c.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, c.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, c.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, c.copy(work = v))
    case "--out" :: v :: t => parse(t, c.copy(out = v))
    case Nil => c
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Task-side totals from Spark's listener bus. */
  final class SparkTotals extends SparkListener {
    val cpuNanos, gcMs, shuffleBytes, stages, tasks = new AtomicLong()
    def reset(): Unit = Seq(cpuNanos, gcMs, shuffleBytes, stages, tasks).foreach(_.set(0))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNanos.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args.toList)
    val code =
      try run(conf)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def session(conf: Conf, cpus: Int): SparkSession = {
    val work = Paths.get(conf.work).toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.benchfs.impl", classOf[BenchFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Calibration probe: median of three single-thread sorts of 2M seeded
    * longs, in ms. Recorded with every run to expose a busy machine. */
  def probeMs(): Double = {
    val ts = (1 to 3).map { _ =>
      val r = new java.util.SplittableRandom(42)
      val a = Array.fill(2000000)(r.nextLong())
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, at percentile 100 * (n - 10) / n. Below twenty
    * samples, where that would fall under the median, the 90th percentile
    * (nearest rank; the maximum below ten samples). Returns (percentile,
    * value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (90.0, s(math.ceil(0.9 * n).toInt - 1)) else (100.0 * (n - 10) / n, s(n - 11))
  }

  /** Memory the program still holds after the measured rounds: the live
    * heap after a full collection, plus non-heap memory (metaspace, code
    * cache) and direct and mapped buffers, in MiB. Peak resident memory
    * would mostly measure how far the collector let the heap grow. */
  private def retainedMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  private def timeOp(op: Op): Sample = {
    val c0 = BenchFs.snapshot()
    val t0 = System.nanoTime()
    val ok =
      try op.run()
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op ${op.name} failed: $e")
          false
      }
    val t1 = System.nanoTime()
    Sample(op, t1 - t0, BenchFs.snapshot() - c0, ok)
  }

  private def runRound(ops: Seq[Op], idBase: Int): Seq[Sample] =
    ops.zipWithIndex.map { case (op, i) => Trace.op(idBase + i, op.name)(timeOp(op)) }

  def run(conf: Conf): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(conf.work).toAbsolutePath
    Files.createDirectories(work)
    val probe = probeMs()

    val s0 = System.nanoTime()
    val spark = session(conf, cpus)
    val totals = new SparkTotals
    spark.sparkContext.addSparkListener(totals)
    val sessionS = (System.nanoTime() - s0) / 1e9

    val w = Workloads(conf.workload, spark, conf.seed, work)
    val b0 = System.nanoTime()
    // a traced run also traces the build, whose storage calls give
    // cube_select's write and maint layers
    Trace.on = conf.trace
    w.build()
    Trace.on = false
    val buildS = (System.nanoTime() - b0) / 1e9
    if (w.latency) {
      BenchFs.latencyMs.set(LatencyModel.requestMs)
      BenchFs.bandwidthMBps.set(LatencyModel.streamMBps)
    }
    w.prepare()
    val wu0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - wu0) / 1e9
    val setupS = sessionS + buildS + warmS

    val ops = w.round
    val pool = Executors.newFixedThreadPool(cpus)
    try {
      val (metrics, samples, extra) =
        if (!conf.trace) measure(conf, ops, setupS)
        else traced(conf, spark, w, ops, totals, pool)
      BenchFs.latencyMs.set(0)
      val attempted = samples.size
      val failed = samples.count(!_.ok) + extra
      val record = runRecord(conf, cpus, probe, sessionS, buildS, warmS, w.sizes,
        samples, metrics)
      Files.createDirectories(Paths.get(conf.out))
      Files.write(Paths.get(conf.out, s"run-${conf.workload}-${conf.seed}-t${if (conf.trace) 1 else 0}.json"),
        record.getBytes("UTF-8"))
      System.err.println(s"[perfbench] record $record")
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
      if (failed == 0) 0 else 1
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      spark.stop()
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Rounds a run times at least, whatever --seconds says: a fixed op
    * count keeps the tail percentile the same from run to run. */
  val MinRounds = 2

  /** Closed loop: whole rounds until --seconds have passed and at least
    * [[MinRounds]] rounds ran. */
  private def measure(conf: Conf, ops: Seq[Op], setupS: Double)
      : (Map[String, (Double, String)], Seq[Sample], Int) = {
    val t0 = System.nanoTime()
    val rounds = Seq.newBuilder[Seq[Sample]]
    var k = 0
    while (k < MinRounds || System.nanoTime() - t0 < conf.seconds * 1000000000L) {
      rounds += runRound(ops, k * ops.size)
      k += 1
    }
    val rs = rounds.result()
    val samples = rs.flatten
    val opMs = samples.map(_.nanos / 1e6)
    val total = samples.map(_.counts).foldLeft(Counts.zero)(_ + _)
    val n = samples.size.toDouble
    val (_, tailMs) = tail(opMs)
    val m = Map(
      "setup_s" -> (setupS, "s"),
      "round_s" -> (median(rs.map(_.map(_.nanos).sum / 1e9)), "s"),
      "op_p50_ms" -> (median(opMs), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "requests_per_op" -> (total.requests / n, "count"),
      "bytes_per_op" -> ((total.bytesRead + total.bytesWritten) / n, "bytes"),
      "retained_mb" -> (retainedMb(), "MB"))
    (m, samples, 0)
  }

  /** One untraced round, then the same round traced; storage calls must
    * match op by op. Then the workload's own layer passes. Layers a
    * workload does not exercise report 0. */
  private def traced(conf: Conf, spark: SparkSession, w: Workload, ops: Seq[Op],
      totals: SparkTotals, pool: java.util.concurrent.ExecutorService)
      : (Map[String, (Double, String)], Seq[Sample], Int) = {
    val plain = runRound(ops, 0)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    totals.reset()
    Trace.spans.clear()
    Trace.on = true
    val traced = runRound(ops, 1000)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spans = Trace.all
    val countsEqual = plain.zip(traced).forall { case (a, b) => a.counts == b.counts }
    plain.zip(traced).filterNot { case (a, b) => a.counts == b.counts }.foreach {
      case (a, b) => System.err.println(s"[perfbench] storage calls differ on ${a.op.name}: ${a.counts} vs ${b.counts}")
    }
    val n = traced.size.toDouble
    val total = traced.map(_.counts).foldLeft(Counts.zero)(_ + _)
    def spanMs(pred: Trace.Span => Boolean) = spans.filter(pred).map(_.nanos).sum / 1e6
    val common = Map(
      "fetch.gets" -> total.gets / n,
      "fetch.ranged_gets" -> total.rangedGets / n,
      "fetch.lists" -> total.lists / n,
      "fetch.stats" -> total.stats / n,
      "fetch.bytes" -> total.bytesRead / n,
      "fetch.busy_ms" -> spanMs(s => s.name.startsWith("fs.") && !s.name.startsWith("fs.put")) / n,
      "spark.task_cpu_ms" -> totals.cpuNanos.get / 1e6 / n,
      "spark.gc_ms" -> totals.gcMs.get / n,
      "spark.shuffle_bytes" -> totals.shuffleBytes.get / n,
      "spark.stages" -> totals.stages.get / n,
      "spark.tasks" -> totals.tasks.get / n,
      "trace.overhead_pct" ->
        (traced.map(_.nanos).sum.toDouble / plain.map(_.nanos).sum - 1.0) * 100.0,
      "trace.counts_equal" -> (if (countsEqual) 1.0 else 0.0))
    val own = w.layers(traced, pool)
    Trace.on = false
    Trace.writeJsonl(Paths.get(conf.out, s"trace-${conf.workload}-${conf.seed}.jsonl"))
    val dsv2Failed = own.getOrElse("dsv2.failed", 0.0).toInt
    val samples = plain ++ traced
    val failed = samples.count(!_.ok) + dsv2Failed + (if (countsEqual) 0 else 1)
    val layer = PerLayer.defaults ++ common ++ (own - "dsv2.failed") +
      ("failed_ratio" -> failed.toDouble / samples.size)
    (layer.map { case (k, v) => k -> (v, PerLayer.unit(k)) }, samples,
      dsv2Failed + (if (countsEqual) 0 else 1))
  }

  private def runRecord(conf: Conf, cpus: Int, probe: Double, sessionS: Double,
      buildS: Double, warmS: Double, sizes: Map[String, Long], samples: Seq[Sample],
      metrics: Map[String, (Double, String)]): String = {
    val opMs = samples.map(_.nanos / 1e6)
    val (p, _) = if (opMs.isEmpty) (0.0, 0.0) else tail(opMs)
    val sz = sizes.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, _)) => s""""$k":${num(v)}""" }.mkString(",")
    val ops = samples.map(s => s"""["${s.op.name}",${num(s.nanos / 1e6)},${s.counts.requests},${s.ok}]""")
      .mkString(",")
    s"""{"workload":"${conf.workload}","seed":${conf.seed},"trace":${conf.trace},""" +
      s""""cpus":$cpus,"xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""probe_ms":${num(probe)},"session_s":${num(sessionS)},""" +
      s""""build_s":${num(buildS)},"warmup_s":${num(warmS)},""" +
      s""""latency_ms":${LatencyModel.requestMs},"stream_mbps":${LatencyModel.streamMBps},""" +
      s""""tail_percentile":${num(p)},"sizes":{$sz},"metrics":{$ms},"ops":[$ops]}"""
  }
}

/** cube_select's object-store model: every open, list and stat waits a
  * fixed delay, and each read stream is capped in bandwidth. */
object LatencyModel {
  val requestMs = 5
  val streamMBps = 100
}

/** Every per-layer metric with its unit; metrics a workload does not
  * exercise report 0. */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "plan.ms" -> "ms", "plan.requests" -> "count", "plan.partitions" -> "count",
    "plan.chunks_planned" -> "count", "plan.chunks_pruned" -> "count",
    "fetch.gets" -> "count", "fetch.ranged_gets" -> "count", "fetch.lists" -> "count",
    "fetch.stats" -> "count", "fetch.bytes" -> "bytes", "fetch.busy_ms" -> "ms",
    "fetch.useful_ratio" -> "ratio",
    "read.ms" -> "ms", "read.self_ms" -> "ms", "read.batches" -> "count",
    "read.rows" -> "count", "read.chunks_skipped" -> "count",
    "decode.ms" -> "ms", "decode.chunks" -> "count", "decode.out_mb" -> "MB",
    "fill.ms" -> "ms", "fill.rows_bulk" -> "count", "fill.rows_mapped" -> "count",
    "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "write.job_ms" -> "ms", "commit.ms" -> "ms", "upload.puts" -> "count",
    "upload.bytes" -> "bytes", "upload.renames" -> "count", "upload.deletes" -> "count",
    "stats.segments" -> "count",
    "maint.ms" -> "ms", "maint.bytes_rewritten" -> "bytes", "maint.objects_deleted" -> "count",
    "store.bytes_per_user_byte" -> "ratio", "objects_written_per_op" -> "count",
    "failed_ratio" -> "ratio", "trace.overhead_pct" -> "%", "trace.counts_equal" -> "count") ++
    Pipeline.queries.map(q => s"query.$q.s" -> "s")

  def unit(name: String): String = units.find(_._1 == name).map(_._2).get
  def defaults: Map[String, Double] = units.map(_._1 -> 0.0).toMap
}
