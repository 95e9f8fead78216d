package graft.streaming

import graft.sources.ZarrCubeWrite
import graft.zarr.{ChunkFilter, ZarrException, ZarrMaintenance, ZarrStore}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming CUBE sink: grow an N-D cube store one dense slab per
  * micro-batch —
  * `ds.writeStream.foreachBatch(ZarrCubeSink.appendBatch(_, _, path,
  * Seq("time","lat","lon"))).start()` — the continuous-ingest shape of
  * a real array pipeline (each trigger delivers the next day/hour of a
  * feature or climate cube).
  *
  * Semantics are EXACTLY-ONCE, keyed on coordinates rather than batch
  * ids: the cube append commits its root document LAST, so the leading
  * coordinate axis containing a slab's coordinates is equivalent to
  * that slab being fully committed (chunks, stats, metadata and all).
  * Each batch therefore splits three ways, all decided by ONE
  * driver-side axis read:
  *  - no slab coordinate on the axis → append (a replay of a crash
  *    BEFORE the root commit re-runs the append; the orphaned
  *    final-key chunks beyond the committed shape are overwritten);
  *  - every slab coordinate on the axis → the batch already committed
  *    (a replay of a crash AFTER the root commit) → no-op;
  *  - a mix → not a replay shape at all (coordinate reuse / out-of-
  *    order slabs) → loud refusal, like every cube-write violation.
  * No marker file, no tail buffer, no per-query lifecycle: restarting
  * from an older checkpoint (or a brand-new query over the same
  * upstream) replays cleanly because identity lives in the data.
  *
  * Slabs may be ANY size — triggers need not align to `chunk_shape`'s
  * first entry: [[ZarrCubeWrite.append]] handles a ragged base by
  * folding the committed edge chunk-row back into the next slab (cost
  * ∝ one chunk-row + slab; committed positions keep their values, so
  * replay semantics are unaffected — the replay probe only classifies
  * the INCOMING batch's coordinates).
  *
  * Scale: identical to the batch cube append — ONE clustered shuffle of
  * the slab's rows, executor-direct final-key chunk writes, O(slab
  * metadata) commit (existing stats segments are never rewritten — the
  * reader accepts their smaller leading grid extent). A day's trigger
  * costs the day, not the store, and stays so as the store ages. */
object ZarrCubeSink {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** foreachBatch body. `dims` names the cube layout (first = the
    * append/growth dim); `chunkShape`/`shardShape`/`codec` apply only
    * to the FIRST batch (store creation) — afterwards the store's
    * layout wins, exactly like the DSv2 option surface.
    *
    * `compactEvery = Some(n)` folds SIDECAR COMPACTION into the ingest
    * lifecycle: every n-th batch (by batch id, so the cadence survives
    * restarts without any sink-side state) runs
    * [[graft.zarr.ZarrMaintenance.compactStats]] AFTER the batch
    * commits, merging the one-segment-per-write-task stats documents
    * this very workload accumulates (10^5 for a year of 5-minute
    * triggers) into ≤4096-chunk documents — without it the `_stats/`
    * LIST every scan PLAN pays grows with write-task count forever.
    * The compaction is metadata-only and crash-safe by commit order
    * (merged docs commit before sources delete; a crash between leaves
    * overlap-suppressed degraded-never-wrong coverage), so it composes
    * with the replay semantics above: the cadence fires on REPLAYED
    * batches too, which heals a crash that struck the original batch's
    * compaction rather than waiting for the next cadence hit — and on
    * EMPTY triggers (once a store exists), so quiet ingest windows
    * aligned with the cadence cannot defer compaction indefinitely. A
    * compaction failure never fails the batch — the data committed;
    * fragmentation is a deferred cost, not an error — it is logged and
    * retried at the next cadence. Large backlogs (a store that
    * pre-dates the option) distribute automatically; steady-state
    * cadence hits stay inline on the driver. */
  // scalastyle:off parameter.number
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      dims: Seq[String],
      chunkShape: Option[Seq[Int]] = None,
      shardShape: Option[Seq[Int]] = None,
      codec: String = "blosc",
      stats: Boolean = true,
      maxAxisLen: Int = 1 << 22,
      compactEvery: Option[Int] = None): Unit = {
    // scalastyle:on parameter.number
    if (dims.isEmpty)
      throw new ZarrException("ZarrCubeSink: dims must name the cube layout")
    if (maxAxisLen > (1 << 30))
      throw new ZarrException(
        s"max_axis_len $maxAxisLen exceeds 2^30 (grid-index arithmetic bound)")
    if (compactEvery.exists(_ < 1))
      throw new ZarrException(
        s"compact_every ${compactEvery.get} must be >= 1 (batches per compaction)")
    if (compactEvery.isDefined && !stats)
      throw new ZarrException(
        "compact_every requires stats=true — with the sidecar disabled there " +
          "is nothing to compact, and a silent no-op cadence would read as " +
          "bounded fragmentation that never happens")
    val spark = batch.sparkSession
    val store = ZarrStore(path, ZarrStore.fsPairs(spark.sparkContext.hadoopConfiguration))

    // post-commit cadence body, shared by the normal exit and the
    // empty-trigger early return below: keyed on batch id alone so the
    // cadence survives restarts with zero sink state, and a cadence hit
    // landing on an EMPTY trigger still compacts — quiet ingest windows
    // aligned with the cadence (every n-th trigger empty) must not defer
    // compaction indefinitely
    def runCadence(): Unit = compactEvery.foreach { n =>
      if ((batchId + 1) % n == 0) {
        try {
          // scheduled by size: a steady-state cadence hit merges a few
          // segments on the driver, a backlog of more than 64 source
          // segments gets one Spark job
          ZarrMaintenance.compactStats(spark, path): Unit
        } catch {
          // a compaction failure must never fail a batch that already
          // committed (fragmentation is a deferred cost, not an error);
          // logged through slf4j so the signal survives a real cluster's
          // log aggregation, unlike a bare stderr line
          case e: Exception =>
            log.warn("[zarr-cube-sink] batch {}: stats compaction failed " +
              "(will retry at the next cadence): {}", batchId, e.getMessage)
        }
      }
    }

    if (batch.isEmpty) {
      // nothing to commit — the cadence still fires on a hit (quiet
      // windows must not defer compaction), but ONLY a hit touches the
      // filesystem at all: an idle stream on 1 s empty triggers with no
      // cadence (or between hits) must stay zero-I/O, and the existence
      // probe itself must never fail a no-op batch (a transient LIST
      // error here means compaction defers to the next hit, not that a
      // committed-nothing batch dies)
      val cadenceHit = compactEvery.exists(n => (batchId + 1) % n == 0)
      if (cadenceHit) {
        val storeExists = // a first-ever empty trigger has nothing to compact
          try store.listArrays().nonEmpty
          catch {
            case _: ZarrException => false
            case e: Exception =>
              log.warn("[zarr-cube-sink] batch {}: store probe on empty " +
                "trigger failed (cadence deferred): {}", batchId, e.getMessage)
              false
          }
        if (storeExists) runCadence()
      }
      return
    }

    // only an ABSENT store/array is "no store yet" (the r9 ZarrWrite
    // posture): a transient IO error, unreadable metadata, or a
    // descending axis must surface as ITSELF — swallowed into the
    // fresh-create path it would die as a misattributed fresh-gate
    // refusal ("already holds arrays ... use mode(overwrite)")
    val axisMeta =
      try Some(store.readMeta(dims.head))
      catch { case _: java.io.FileNotFoundException => None }
    val existingAxis: Option[Array[Any]] =
      axisMeta.map(m => ZarrCubeWrite.readAscendingAxis(store, m, path,
        "the cube sink appends to ascending-axis cube stores only"))

    existingAxis match {
      case None =>
        // first batch creates the store (same one-writer-at-a-time
        // assumption as every streaming sink's first commit)
        ZarrCubeWrite.write(batch, path, dims, chunkShape, codec,
          stats = stats, truncate = false, maxAxisLen = maxAxisLen,
          shardShapeOpt = shardShape)
      case Some(axis) =>
        // ONE slab-axis-sized driver job decides replay vs append — the
        // shared cube-write collect (bounded, NULL/non-finite refused)
        val slabCoords =
          ZarrCubeWrite.collectAxis(batch, dims.head, maxAxisLen)
        // the axis is strictly ascending (readAscendingAxis enforced it):
        // binary-search containment, O(slab · log axis), never slab · axis
        def onAxisCoord(v: Any): Boolean = {
          var lo = 0
          var hi = axis.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val c = ChunkFilter.cmp(axis(mid), v)
            if (c == 0) return true
            else if (c < 0) lo = mid + 1
            else hi = mid - 1
          }
          false
        }
        val onAxis = slabCoords.count(onAxisCoord)
        if (onAxis == slabCoords.length) () // replayed batch: committed
        else if (onAxis == 0)
          ZarrCubeWrite.append(batch, path, dimsOpt = None,
            appendDim = dims.head, stats = stats, maxAxisLen = maxAxisLen)
        else
          throw new ZarrException(
            s"ZarrCubeSink batch $batchId: $onAxis of ${slabCoords.length} " +
              s"'${dims.head}' coordinates already exist in $path — neither a " +
              "fresh slab nor a replay; slabs must not reuse or interleave " +
              "coordinates")
    }
    // post-commit cadence: by this point the batch is fully committed
    // (create, append, or already-committed replay), so compaction can
    // never take a batch's data with it
    runCadence()
  }
}
