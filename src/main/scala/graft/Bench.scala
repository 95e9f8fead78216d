package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Queries are forced
  * through the `noop` DSv2 sink — unlike `count()`, this materializes
  * every output column (no projection pruning), so timings reflect the
  * full operator cost. */
object Bench {
  /** BENCH_BEST replacement rule. `stored` = (worst probe, query count,
    * per-query medians) of the current record, or None when no guarded
    * record exists.
    *
    * QUIETNESS (the calibration probes) is necessary but not
    * sufficient: the two probes bracket a sweep but cannot see a
    * co-tenant wave in its MIDDLE — r18's first qualifying sweep
    * (worst probe 1.87 vs stored 1.90) was 9.4% slower per query
    * (median over 138 common queries) than the record it displaced.
    * The sweep's own queries are the only witness of mid-sweep
    * contention, so replacement also requires the median ratio over
    * the COMMON queries to be consistent with the probes:
    *  - same registry (the record's query NAMES equal the sweep's —
    *    name equality, not count equality: a registry churn that
    *    happens to preserve the count is still a different query set,
    *    and the count-keyed test once let such a sweep silently bypass
    *    the 1.15 band rationale): probe at least as quiet AND median
    *    ratio ≤ 1.0 (the record is the BEST-known clean sweep — a
    *    quieter box must not be slower per query);
    *  - registry CHANGED (the record's total is stale — different
    *    query set): probe within 15% of the record's AND median ratio
    *    over the common queries ≤ max(1, probe ratio) + 0.05 — the
    *    name-stale record stays replaceable from a comparably quiet
    *    box, but not by a sweep whose own queries say it was
    *    contended. (The 1.15 band is the r14 fix: an unconditional
    *    registry-changed branch let a worst-probe-2.43 sweep displace
    *    a probe-1.69 record.)
    * No common queries (full registry swap) degrades to probe-only
    * WITHIN the 1.15 band — a full swap always takes the
    * registry-changed branch, so the band applies even when the
    * median gate has nothing to witness with.
    * Known trade-off: if the box's quiet floor permanently worsens
    * past the band, a name-stale record can pin — the deliberate
    * escape hatch is deleting BENCH_BEST.json (a missing record is
    * always replaced), an explicit human action rather than an
    * automatic hole. */
  def shouldReplaceBest(
      stored: Option[(Double, Int, Map[String, Double])],
      newCal: Double, nQueries: Int,
      newQueries: Map[String, Double]): Boolean =
    stored match {
      case None => true
      case Some((cal, n, oldQ)) =>
        val ratios = newQueries.collect {
          case (q, t) if oldQ.get(q).exists(_ > 0) => t / oldQ(q)
        }.toSeq.sorted
        val medianOk: Double => Boolean = bound =>
          ratios.isEmpty || ratios(ratios.size / 2) <= bound
        // n (the stored record's query COUNT, which includes any
        // non-numeric entries oldQ dropped) must also agree, so a
        // record with unparseable timings can't pass as same-registry
        val sameRegistry = n == nQueries && oldQ.keySet == newQueries.keySet
        if (!sameRegistry)
          newCal <= cal * 1.15 && medianOk(math.max(1.0, newCal / cal) + 0.05)
        else newCal <= cal && medianOk(1.0)
    }

  /** Core count a BENCH_BEST record was measured at. Records written
    * before the `cpus` field existed were all set at `local[32]`. Only a
    * sweep at the same core count competes with a record: per-query
    * times at 4 and at 32 cores are not comparable, whatever the probe
    * says. */
  def bestCpus(record: com.fasterxml.jackson.databind.JsonNode): Int = {
    val c = record.path("cpus")
    if (c.isIntegralNumber) c.asInt else 32
  }

  def main(args: Array[String]): Unit = {
    // optional args: query names to time (isolated A/B runs with the
    // same warmup + calibration discipline); the driver runs unfiltered
    val only: Set[String] = args.toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the core count the records carry; `*` means every core
    val nCpus = cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // slow-stage trace: any stage >= 500 ms logs its wall time and
    // summed task GC time, tagged with the query being timed. Because
    // every shuffle is a stage boundary, iterative queries (q97's
    // per-step aggregates) get PER-ITERATION attribution for free, with
    // zero change to the measured plans — a sweep outlier now names the
    // stage (and its GC share) instead of needing post-hoc adjudication.
    // Attribution is race-free: stage ids are mapped to the query name
    // at JOB START from the job description (set synchronously by the
    // driver thread before each run), so a trailing stage of query N
    // that completes after the driver moved on to N+1 still logs q=N —
    // a mutable "current query" global would mislabel exactly the slow
    // trailing stages the trace exists to catch
    val currentQuery = new java.util.concurrent.atomic.AtomicReference[String]("warmup")
    def setPhase(name: String): Unit = {
      currentQuery.set(name)
      spark.sparkContext.setJobDescription(name)
    }
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(currentQuery.get)
        ev.stageIds.foreach(id => stageOwner.put(id, desc))
      }
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = for { s <- si.submissionTime; c <- si.completionTime }
          yield (c - s) / 1e3
        if (wall.exists(_ >= 0.5)) {
          val q = Option(stageOwner.get(si.stageId)).getOrElse(currentQuery.get)
          val name = si.name.linesIterator.nextOption().getOrElse("")
          System.err.println(f"[bench-stage] q=$q stage=${si.stageId} wall=${wall.get}%.2fs gcMs=${si.taskMetrics.jvmGCTime} $name")
        }
        stageOwner.remove(si.stageId)
      }
    })
    // untimed warmup of EVERY query at the smallest SF: pays one-time
    // codegen/classload costs (Dataset encoders, janino, noop sink)
    // outside the timings, so round-over-round deltas mean something
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    selected.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    CacheRegistry.releaseAll()
    // median of 3 timed runs per query: single-shot local[32] timings are
    // noisy by construction (JIT, GC, page cache)
    val runs = 3
    // fixed-cost calibration probe (constant in-memory shuffle+sort+agg,
    // no IO, no SF dependence) timed at sweep start AND end: cross-round
    // comparisons divide by it to cancel machine drift (the r6→r7 sweep
    // moved ~25% on machine contention alone), and start-vs-end exposes
    // within-sweep drift (thermal throttling, a co-tenant arriving)
    def probeOnce(): Double = {
      setPhase("calibration")
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id * 2654435761L % 1000003 AS k")
        .groupBy("k").count()
        .orderBy(org.apache.spark.sql.functions.desc("count"),
          org.apache.spark.sql.functions.col("k"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def calibrate(): Double =
      (1 to runs).map(_ => probeOnce()).sorted.apply(runs / 2)
    // warm the probe's own codegen/JIT untimed: the query-suite warmup
    // above doesn't compile THIS plan shape, and an unwarmed start probe
    // measures the JIT, not the machine (r8 recorded start 15.1 vs end
    // 8.9 purely from compilation) — start and end must both read a warm
    // probe for their ratio to mean machine drift
    probeOnce(); probeOnce()
    val calStart = calibrate()
    // queries that threw during any run: their wall time is the time-to-
    // crash, not a measurement — recording it would let a correctness
    // regression read as a near-zero "speedup" in the sweep total
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timedRuns(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Double] =
      (1 to runs).map { _ =>
        setPhase(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop any table the query persisted so runs don't cross-feed
        spark.catalog.clearCache()
        CacheRegistry.releaseAll()
        dt
      }.sorted
    val results = selected.map { case (name, fn) =>
      var times = timedRuns(name, fn)
      // a >3x min..max spread within one query means a transient stall
      // (GC pause, machine contention) polluted a run, not a plan
      // property — collect garbage and re-measure once, keeping the
      // cleaner (lower-median) set so one bad sweep moment can't fake a
      // per-query regression
      if (times.head > 0 && times.last / times.head > 3.0) {
        System.err.println(s"[bench] $name spread ${times.mkString(",")} — retrying")
        System.gc()
        val retry = timedRuns(name, fn)
        if (retry(runs / 2) < times(runs / 2)) times = retry
      }
      // park inter-query GC debt here, not in the next query's timing
      System.gc()
      name -> times
    }
    def fmt(v: Double): String = f"$v%.4f"
    val ok = results.filterNot { case (k, _) => failed.contains(k) }
    val qs = ok.map { case (k, t) => "\"" + k + "\":" + fmt(t(runs / 2)) }
      .mkString("{", ",", "}")
    val spread = ok.map { case (k, t) =>
      "\"" + k + "\":[" + fmt(t.head) + "," + fmt(t(runs / 2)) + "," + fmt(t.last) + "]"
    }.mkString("{", ",", "}")
    val total = ok.map(_._2(runs / 2)).sum
    val calEnd = calibrate()
    val cal = s"""{"start":${fmt(calStart)},"end":${fmt(calEnd)}}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"stat":"median","queries":$qs,"spread":$spread,"failed":$failedJson,"calibration":$cal,"sf":"$sfDir","cpus":$nCpus}"""
    // The process prints ONLY a bounded-size digest (~1 KB): the
    // driver's per-round capture keeps a small window, and the full
    // ~12 KB record flooded it every round since r7 (BENCH_r7..r15
    // "parsed": null — r15's tail was a 2 KB slice cut mid-spread,
    // BEFORE the trailing digest even appeared; sbt also re-logs forked
    // stderr onto stdout, so a stderr dump would flood it the same
    // way). One complete, parseable record is the last thing emitted:
    // total + calibration + the 20 slowest queries, flagged truncated.
    // The FULL record lives in BENCH_LOCAL.json (the canonical full
    // per-query artifact — see README).
    // repo root derived from the forked JVM's working directory (sbt
    // sets it to the build base), never hardcoded — the bench must
    // behave identically from any checkout
    val repoRoot = sys.props.getOrElse("user.dir", ".")
    val digestQs = ok.toSeq.sortBy { case (_, t) => -t(runs / 2) }.take(20)
      .map { case (k, t) => "\"" + k + "\":" + f"${t(runs / 2)}%.2f" }
      .mkString("{", ",", "}")
    val digestLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"stat":"median","queries":$digestQs,"queries_truncated":true,"n_queries":${ok.size},"failed":$failedJson,"calibration":$cal,"sf":"$sfDir","cpus":$nCpus}"""
    println(digestLine)
    // the stdout digest reaches the driver prefixed with sbt's "[info] "
    // logger tag, which defeats a strict JSON parse — the same line is
    // also written UNPREFIXED to BENCH_DIGEST.json so any consumer that
    // can read a file gets a clean record (see README). FULL sweeps
    // only: a filtered A/B invocation's 1-query "total" must not
    // clobber the committed full-sweep digest (same rule as
    // BENCH_LOCAL.json below), and a guard-rejected sweep restores the
    // pre-sweep digest alongside it.
    val digestPath = java.nio.file.Paths.get(s"$repoRoot/BENCH_DIGEST.json")
    val digestSnapshot: Option[Array[Byte]] =
      try {
        if (java.nio.file.Files.exists(digestPath))
          Some(java.nio.file.Files.readAllBytes(digestPath))
        else None
      } catch { case _: Throwable => None }
    if (only.isEmpty) {
      try java.nio.file.Files.write(digestPath,
        (digestLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] digest write failed: ${e.getMessage}") }
    }
    // durable copy of the FULL sweep: the driver's stdout capture has
    // truncated the per-query map two rounds running (BENCH_r7/r8 held
    // 43/108 entries, parsed:null) — the repo file is the inspectable
    // record regardless of how much of the tail survives upstream.
    // Filtered A/B invocations (args given) must NOT clobber the full
    // record; they only write when an explicit output path is given.
    val localPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"$repoRoot/BENCH_LOCAL.json"))
    // snapshot the pre-sweep record IN PROCESS so a guard-rejected sweep
    // can put it back verbatim — the previous `git checkout` shell-out
    // was wrong from any other checkout (hardcoded path) and silently
    // discarded uncommitted user edits to the file
    val localSnapshot: Option[Array[Byte]] =
      try {
        if (java.nio.file.Files.exists(localPath))
          Some(java.nio.file.Files.readAllBytes(localPath))
        else None
      } catch { case _: Throwable => None }
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      try java.nio.file.Files.write(localPath,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] local write failed: ${e.getMessage}") }
    }
    // BENCH_BEST.json: the best-known CLEAN sweep. BENCH_LOCAL.json is
    // overwritten by every full run — including ones on a contended
    // machine (the driver's sweeps share the box with its own verify) —
    // so the quiet-machine record was repeatedly clobbered. The
    // calibration probe is the machine-quietness signal: only a sweep
    // whose probe is at least as fast as the stored record's may
    // replace it.
    // only the canonical sf0.1 sweep competes: a faster-probe sf0.01 run
    // must not replace the record with times from 10x less data
    if (only.isEmpty && failed.isEmpty && sfDir.endsWith("sf0.1")) {
      try {
        val bestPath = java.nio.file.Paths.get(s"$repoRoot/BENCH_BEST.json")
        // quietness = the WORST of the two probes: a sweep that starts
        // quiet but ends contended produced contended numbers (min()
        // once let a degrading run replace a genuinely quiet record)
        val newCal = math.max(calStart, calEnd)
        // a stored record over a DIFFERENT query set (registry grew or
        // shrank) is stale — its total is not comparable to the current
        // sweep's — but it may only be reset from a comparably quiet
        // box (see shouldReplaceBest)
        val record: Option[com.fasterxml.jackson.databind.JsonNode] =
          if (java.nio.file.Files.exists(bestPath)) {
            try Some(new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(java.nio.file.Files.readAllBytes(bestPath)))
            catch { case _: Throwable => None }
          } else None
        // keyed on (sf, cpus): a record from another core count neither
        // guards this sweep nor is replaced by it
        val otherCpus = record.map(bestCpus).filter(_ != nCpus)
        val stored: Option[(Double, Int, Map[String, Double])] =
          record.flatMap { root =>
            try {
              val cal = root.path("calibration")
              // a record without BOTH numeric probes is unguarded (old
              // format / hand edit) — treat as absent so the current
              // sweep replaces it, rather than defaulting one side and
              // disabling the comparison
              if (cal.path("start").isNumber && cal.path("end").isNumber) {
                val qn = root.path("queries")
                val qm = Map.newBuilder[String, Double]
                val it = qn.fieldNames()
                while (it.hasNext) {
                  val k = it.next()
                  if (qn.get(k).isNumber) qm += k -> qn.get(k).asDouble()
                }
                Some((math.max(cal.path("start").asDouble,
                  cal.path("end").asDouble), qn.size(), qm.result()))
              } else None
            } catch { case _: Throwable => None }
          }
        val newMedians: Map[String, Double] =
          ok.map { case (k, t) => k -> t(runs / 2) }.toMap
        if (otherCpus.nonEmpty)
          System.err.println(
            s"[bench] BENCH_BEST kept (record at cpus=${otherCpus.get}, this sweep at cpus=$nCpus)")
        else if (shouldReplaceBest(stored, newCal, ok.size, newMedians)) {
          java.nio.file.Files.write(bestPath,
            (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(f"[bench] BENCH_BEST updated (probe $newCal%.2f)")
        } else {
          System.err.println(
            f"[bench] BENCH_BEST kept (probe $newCal%.2f vs stored ${stored.get._1}%.2f)")
          // a guard-rejected sweep measured a contended box; restore the
          // PRE-SWEEP BENCH_LOCAL.json (snapshotted in process above, so
          // uncommitted user edits survive and the restore works from
          // any checkout) — the sweep's own record survives in the
          // driver artifact (stdout digest) and stderr
          try localSnapshot match {
            case Some(bytes) =>
              java.nio.file.Files.write(localPath, bytes)
              System.err.println(
                "[bench] BENCH_LOCAL restored to pre-sweep record (guard-rejected sweep)")
            case None =>
              java.nio.file.Files.deleteIfExists(localPath)
              System.err.println(
                "[bench] BENCH_LOCAL removed (guard-rejected sweep; no pre-sweep record)")
          } catch { case _: Throwable => () }
          // the digest artifact tracks the same record semantics
          try digestSnapshot match {
            case Some(bytes) => java.nio.file.Files.write(digestPath, bytes)
            case None => java.nio.file.Files.deleteIfExists(digestPath)
          } catch { case _: Throwable => () }
        }
      } catch { case e: Throwable => System.err.println(s"[bench] best write failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
