package graft.streaming

import graft.sources.ZarrWriteSupport
import graft.zarr.ZarrException
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming zarr sink: `df.writeStream.foreachBatch(ZarrSink.appendBatch(
  * _, _, path, chunkSize)).start()`, then [[flush]] once the stream stops.
  *
  * Zarr append requires the existing store to be chunk-aligned (a partial
  * last chunk would need read-modify-write on every micro-batch), but
  * micro-batches have arbitrary sizes. The sink keeps the invariant by
  * carrying the sub-chunk REMAINDER in a `_tail.parquet` directory inside
  * the store root (readers ignore it — array discovery requires a nested
  * `zarr.json`): each batch prepends the tail, appends the largest
  * chunk-aligned prefix to the zarr arrays via the DSv2 fast path, and
  * rewrites the tail. Store freshness therefore lags by < chunk_size rows
  * until the next batch (or the final [[flush]]).
  *
  * Crash-safety protocol (every window accounted for):
  *  - the tail swap is write-tmp → delete-old → rename-tmp; a crash
  *    between delete and rename is healed at the next batch start by
  *    adopting the orphaned tmp (it holds the complete new tail), and a
  *    stale tmp next to a live tail is discarded (that batch was never
  *    committed and will be replayed);
  *  - the replay marker (`_stream_commit`, last applied batchId) is
  *    swapped the same way and parsed defensively — a torn marker reads
  *    as "nothing committed", which only risks duplication, never loss;
  *  - a crash between the zarr append and the tail/marker swap
  *    duplicates that batch's aligned prefix on replay: **at-least-once**,
  *    the standard contract for foreachBatch sinks without a
  *    transactional target.
  *
  * Lifecycle: batchIds are monotone only within one streaming-query
  * checkpoint. [[flush]] deletes the marker, so the normal
  * stop → flush → new-query cycle is safe; pointing a NEW query (fresh
  * checkpoint) at a store without flushing first would replay-skip its
  * early batches — call [[flush]] (or delete `_stream_commit`) between
  * query incarnations.
  *
  * Scale: driver-side work is only the tail/marker bookkeeping
  * (< chunk_size rows); the aligned prefix is partitioned ONCE by
  * row-index/chunk_size (no extra count/sort jobs) and flows through the
  * same executor-parallel DSv2 fast write path as batch writes.
  */
object ZarrSink {

  /** The FileSystem of the tail and marker files, from the session's
    * Hadoop conf, as [[graft.zarr.ZarrStore.forSession]] opens the store. */
  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Adopt an orphaned tail tmp dir only when its parquet job COMPLETED
    * (_SUCCESS present): a crash mid-job leaves a tmp with only
    * _temporary/, which must be discarded (the batch replays anyway),
    * not adopted as a tail. */
  private def healTmp(f: org.apache.hadoop.fs.FileSystem, tmpP: Path, tailP: Path): Unit =
    if (f.exists(tmpP)) {
      if (!f.exists(tailP) && f.exists(new Path(tmpP, "_SUCCESS"))) swapIn(f, tmpP, tailP)
      else f.delete(tmpP, true)
    }

  private def swapIn(f: org.apache.hadoop.fs.FileSystem, tmp: Path, dst: Path): Unit = {
    f.delete(dst, true)
    if (!f.rename(tmp, dst))
      throw new ZarrException(s"rename $tmp -> $dst failed")
  }

  private def lastCommitted(spark: SparkSession, path: String): Long = {
    val p = new Path(s"$path/_stream_commit")
    val f = fs(spark, path)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      val txt = try new String(in.readAllBytes()).trim finally in.close()
      // a torn marker must read as "nothing committed" (duplication risk
      // only), never wedge the stream with a parse error
      try txt.toLong catch { case _: NumberFormatException => -1L }
    }
  }

  private def writeCommit(spark: SparkSession, path: String, batchId: Long): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(s"$path/_stream_commit.tmp")
    val out = f.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    swapIn(f, tmp, new Path(s"$path/_stream_commit"))
  }

  /** foreachBatch body. Appends `batch` to the zarr store at `path`,
    * carrying any sub-chunk remainder to the next batch. Pass a negative
    * `batchId` to bypass the replay guard (non-streaming use). */
  def appendBatch(batch: DataFrame, batchId: Long, path: String, chunkSize: Int): Unit = {
    require(chunkSize > 0, "chunkSize must be positive")
    val spark = batch.sparkSession
    if (batchId >= 0 && batchId <= lastCommitted(spark, path)) return // replay → no-op

    val f = fs(spark, path)
    val tailP = new Path(s"$path/_tail.parquet")
    val tmpP = new Path(s"$path/_tail.tmp.parquet")
    if (f.exists(new Path(s"$path/_tail.flush.parquet")))
      throw new ZarrException(
        s"$path has an unfinished flush staging dir; run ZarrSink.flush(path) " +
          "before appending new batches (its rows precede this batch)")
    // heal a crash that landed between delete-old-tail and rename-tmp:
    // a COMPLETE tmp dir holds the newer tail — adopt it; an incomplete
    // one (or a tmp next to a live tail) is a stale artifact of an
    // uncommitted batch and is discarded.
    healTmp(f, tmpP, tailP)

    val haveTail = f.exists(tailP)
    // tail rows FIRST so arrival order is preserved across batches
    val all =
      if (haveTail) spark.read.parquet(tailP.toString).unionByName(batch) else batch

    val schema = all.schema
    // zipWithIndex assigns indices in partition order → the pairs are
    // already globally ordered by index; no sort pass is needed
    val rows = all.rdd.zipWithIndex().map(_.swap).cache()
    try {
      val total = rows.count()
      val nFull = total / chunkSize * chunkSize
      if (nFull > 0) {
        // partition directly by idx / chunkSize: every partition holds
        // exactly chunk_size rows, so the DSv2 fast path lands chunks at
        // final keys — no extra count/zipWithIndex/sort jobs
        val mainRdd = ZarrWriteSupport.alignIndexed(
          rows.filter(_._1 < nFull), chunkSize, (nFull / chunkSize).toInt)
        spark.createDataFrame(mainRdd, schema)
          .write.format("zarr").mode("append")
          .option("chunk_size", chunkSize.toString)
          .option("rows_per_partition", chunkSize.toString)
          .save(path)
      }
      val rest = rows.filter(_._1 >= nFull).collect().sortBy(_._1).map(_._2)
      spark.createDataFrame(spark.sparkContext.parallelize(rest.toSeq, 1), schema)
        .write.mode("overwrite").parquet(tmpP.toString)
      swapIn(f, tmpP, tailP)
      if (batchId >= 0) writeCommit(spark, path, batchId)
    } finally rows.unpersist()
  }

  /** Committed store row count, from the same view the writer extends
    * ([[graft.zarr.ZarrStore.committedView]]): a commit writes the
    * per-array documents before the root, so after a lost root write a
    * per-array shape counts rows no reader sees — a flush re-run trusting
    * it would drop its tail as "already appended". Only an absent or
    * array-less store counts 0; an existing store whose metadata fails to
    * parse aborts the stream (treating it as empty would re-append the
    * whole replay). */
  private def storeRows(spark: SparkSession, path: String): Long = {
    val metas = graft.zarr.ZarrStore.forSession(spark, path).committedView().metas
    // the sink appends v3 chunk keys and rewrites shape metadata — a v2
    // destination must abort, not be half-upgraded in place
    metas.find(_.formatVersion == 2).foreach { m =>
      throw new ZarrException(
        s"streaming sink: $path is a Zarr v2 store (array ${m.name}); the sink is v3-only")
    }
    if (metas.isEmpty) 0L else metas.map(_.shape(0)).max
  }

  /** Drain the carried tail into the store as a final (possibly partial)
    * edge chunk and clear the replay marker — call after the stream
    * stops. Idempotent across crashes: the tail is renamed to a staging
    * dir alongside a `_flush_target` file recording the row count the
    * store must reach; a rerun compares the store's actual rows to the
    * target to decide whether the append already happened, so no crash
    * point duplicates or loses rows. Flush is terminal for the store:
    * it may leave a partial edge chunk, after which further
    * appendBatch/flush appends are rejected by the writer's alignment
    * check (loudly, never silently). */
  def flush(spark: SparkSession, path: String, chunkSize: Int): Unit = {
    val f = fs(spark, path)
    val tailP = new Path(s"$path/_tail.parquet")
    val tmpP = new Path(s"$path/_tail.tmp.parquet")
    val flushP = new Path(s"$path/_tail.flush.parquet")
    val targetP = new Path(s"$path/_flush_target")
    healTmp(f, tmpP, tailP) // as in appendBatch

    def drainStaging(): Unit = if (f.exists(flushP)) {
      val tail = spark.read.parquet(flushP.toString)
      val n = tail.count()
      if (n > 0) {
        val target: Long =
          if (f.exists(targetP)) {
            val in = f.open(targetP)
            try new String(in.readAllBytes()).trim.toLong finally in.close()
          } else {
            val t = storeRows(spark, path) + n
            val out = f.create(targetP, true)
            try out.write(t.toString.getBytes("UTF-8")) finally out.close()
            t
          }
        // below target → the append has not happened yet; at target → a
        // rerun after a post-append crash, only cleanup remains
        if (storeRows(spark, path) < target)
          tail.coalesce(1).write.format("zarr").mode("append")
            .option("chunk_size", chunkSize.toString)
            .save(path)
      }
      f.delete(flushP, true)
      f.delete(targetP, false)
    }

    drainStaging() // finish a crashed flush first — its rows precede the tail
    if (f.exists(tailP)) {
      f.delete(targetP, false)
      swapIn(f, tailP, flushP)
      drainStaging()
    }
    f.delete(new Path(s"$path/_stream_commit"), true)
  }
}
