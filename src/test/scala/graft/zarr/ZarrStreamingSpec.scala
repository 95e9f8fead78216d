package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming zarr source: a store appended along dim 0 is consumed
  * incrementally (offset = complete-chunk count). */
class ZarrStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-stream").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeSeries(dir: String, n: Int): Unit = {
    val store = ZarrStore(dir)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(n), Seq(4),
      (0 until n).map(_ * 1.0), None, ZarrWriter.CodecChain.gzip)
  }

  test("streaming source reads a FOREIGN Zarr v2 store (strings, filters, binary)") {
    // the typed v2 fixture: vlen-utf8/S/U strings, delta/shuffle/fso/
    // packbits filter stacks, bz2/lzma chunks, vlen-bytes blobs — all
    // riding the SAME micro-batch machinery as engine-written v3 stores
    // (ingest-from-foreign-store, the migration-tail shape). The store
    // is terminal with a 3-element edge chunk, so emit_partial_tail
    // delivers it.
    val fixture = new java.io.File("src/test/resources/zarr_v2_typed").getAbsolutePath
    val out = s"$base/v2out"
    val q = spark.readStream.format("zarr")
      .option("emit_partial_tail", "true")
      .load(fixture)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$base/v2ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(out).orderBy("ds").collect()
    assert(rows.length == 11, s"got ${rows.length} rows")
    assert(rows.map(_.getAs[Int]("dv")).toSeq ==
      Seq(1000, 1007, 995, 1020, 1020, 980, 1001, 1002, 999, 1050, 1049))
    assert(rows.head.getAs[String]("uname") == "αβ")
    assert(rows.last.getAs[String]("code") == "K")
    assert(rows(1).getAs[Array[Byte]]("blob").toSeq == Seq[Byte](7, 8))
    assert(rows(9).getAs[Double]("xzv") == 2.5 * 9 - 7.0)
  }

  test("micro-batch stream picks up appended chunks exactly once") {
    val dir = s"$base/grow"
    val ckpt = s"$base/ckpt"
    writeSeries(dir, 12) // 3 chunks of 4

    val outDir = s"$base/out"
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(first.length == 12)
    assert(first.sameElements((0 until 12).map(_ * 1.0)))

    // append: extend shape to 20 (5 chunks), write the 2 new chunks
    writeSeries(dir, 20)
    runOnce()
    val all = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(all.length == 20, s"expected 20 rows after growth, got ${all.length}")
    assert(all.sameElements((0 until 20).map(_ * 1.0)))
  }

  test("micro-batch stream over a GROWING 2-D store (time-slab ingestion, coords broadcast)") {
    // the climate-cube append pattern: shape[0] (time) advances, the
    // grid suffix (sensor dim) is fixed — offsets stay exactly-once
    // because the row-major slab per dim-0 chunk is constant
    val dir = s"$base/cube"
    def writeCube(t: Int): Unit = {
      val store = ZarrStore(dir)
      store.writeStoreRootMeta()
      ZarrWriter.writeArray(store, "sensor", ZarrType.Int64, Seq(8), Seq(4),
        (0 until 8).map(i => 100L + i: Any), Some(Seq("sensor")),
        ZarrWriter.CodecChain.raw)
      ZarrWriter.writeArray(store, "temp", ZarrType.Float64, Seq(t, 8), Seq(2, 4),
        (0 until t * 8).map(_ * 1.0: Any), Some(Seq("time", "sensor")),
        ZarrWriter.CodecChain.raw)
    }
    writeCube(4) // 2 time slabs of 2x8
    val outDir = s"$base/cubeout"
    val ckpt = s"$base/cubeckpt"
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val first = spark.read.parquet(outDir).collect()
    assert(first.length == 32, s"got ${first.length}")
    // grow time 4 -> 8 (two more slabs); earlier rows must not re-emit
    writeCube(8)
    runOnce()
    val all = spark.read.parquet(outDir).collect()
    assert(all.length == 64, s"expected 64 rows after growth, got ${all.length}")
    val temps = all.map(_.getAs[Double]("temp")).sorted
    assert(temps.sameElements((0 until 64).map(_ * 1.0)))
    // coordinate broadcast held across slabs: sensor = 100 + (temp % 8)
    all.foreach { r =>
      assert(r.getAs[Long]("sensor") ==
        100L + (r.getAs[Double]("temp").toLong % 8), r.toString)
    }
  }

  test("cube written via dims and grown via append_dim feeds the stream exactly once") {
    // r13 integration: the CUBE writer's append (dim-0 coordinate
    // extension + root-doc-last commit) is exactly the growth shape the
    // streaming source consumes — new slabs appear atomically with the
    // root commit, earlier chunk ordinals stay stable
    val sp = spark; import sp.implicits._
    val dir = s"$base/cubedsv2"
    def slab(tFrom: Int, tUntil: Int) =
      (for (t <- tFrom until tUntil; x <- 0 until 6) yield
        (t.toLong, 100L + x, (t * 10 + x).toDouble))
        .toDF("time", "sensor", "temp").repartition(2)
    slab(0, 4).write.format("zarr").mode("append")
      .option("dims", "time,sensor").option("chunk_shape", "2,3").save(dir)
    val outDir = s"$base/cubedsv2out"
    val ckpt = s"$base/cubedsv2ckpt"
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 24)
    // grow time 4 -> 8 through the cube append; prior rows must not re-emit
    slab(4, 8).write.format("zarr").mode("append")
      .option("append_dim", "time").save(dir)
    runOnce()
    val all = spark.read.parquet(outDir).collect()
    assert(all.length == 48, s"expected 48 rows after cube append, got ${all.length}")
    val temps = all.map(_.getAs[Double]("temp")).sorted
    assert(temps.sameElements(
      (for (t <- 0 until 8; x <- 0 until 6) yield (t * 10 + x).toDouble).sorted))
    // BOTH coordinates broadcast correctly across the appended slabs
    all.foreach { r =>
      val t = r.getAs[Double]("temp")
      assert(r.getAs[Long]("time") == (t / 10).toLong, r.toString)
      assert(r.getAs[Long]("sensor") == 100L + (t % 10).toLong, r.toString)
    }
  }

  test("partial trailing chunk is not consumed until complete (ADVICE r1 #4)") {
    val dir = s"$base/partial"
    val ckpt = s"$base/partial-ckpt"
    val outDir = s"$base/partial-out"
    writeSeries(dir, 10) // chunk 4: two complete chunks + a partial (2 rows)
    def drain(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    val first = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(first.length == 8, s"partial chunk must be excluded, got ${first.length} rows")
    assert(first.sameElements((0 until 8).map(_ * 1.0)))
    // grow the store so the third chunk becomes complete (plus a fourth)
    writeSeries(dir, 16)
    drain()
    val all = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(all.length == 16, s"expected 16 rows after growth, got ${all.length}")
    assert(all.sameElements((0 until 16).map(_ * 1.0)))
  }

  test("emit_partial_tail: a terminal store's partial edge chunk IS delivered") {
    val dir = s"$base/terminal"
    val ckpt = s"$base/terminal-ckpt"
    val outDir = s"$base/terminal-out"
    writeSeries(dir, 10) // chunk 4: 2 complete chunks + a flushed 2-row tail
    val q = spark.readStream.format("zarr")
      .option("emit_partial_tail", "true").load(dir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(got.length == 10, s"tail rows must be emitted, got ${got.length}")
    assert(got.sameElements((0 until 10).map(_ * 1.0)))
  }

  test("a checkpoint does not survive a rechunk: offset unit mismatch fails loudly") {
    val dir = s"$base/rechunk"
    val ckpt = s"$base/rechunk-ckpt"
    val outDir = s"$base/rechunk-out"
    writeSeries(dir, 12) // chunk 4
    def drain(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    // swap the store for a rechunked twin (the compact deploy pattern)
    // with more data — resuming the old checkpoint against the new grid
    // would misinterpret the chunk-count offset
    val store = ZarrStore(dir)
    store.delete()
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(20), Seq(5),
      (0 until 20).map(_ * 1.0), None, ZarrWriter.CodecChain.gzip)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("rechunked")), msgs(e).mkString(" | "))
  }

  test("end-to-end: DSv2 append writes feed the streaming source") {
    val sp = spark; import sp.implicits._
    val dir = s"$base/pipe"
    val ckpt = s"$base/pipe-ckpt"
    val outDir = s"$base/pipe-out"
    def appendRows(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong, i * 2.0)).toDF("id", "v").coalesce(1)
        .write.format("zarr").mode("append").option("chunk_size", "10").save(dir)
    def drain(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    appendRows(0, 20); drain()
    appendRows(20, 50); drain()
    val got = spark.read.parquet(outDir).orderBy("id").collect()
    assert(got.length == 50)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("id") == i.toLong && r.getAs[Double]("v") == i * 2.0)
    }
  }

  test("max_chunks_per_trigger caps each micro-batch; backlog drains exactly once") {
    val dir = s"$base/throttle"
    val ckpt = s"$base/throttle-ckpt"
    val outDir = s"$base/throttle-out"
    writeSeries(dir, 32) // 8 complete chunks of 4 — the "existing backlog"
    val q = spark.readStream.format("zarr")
      .option("max_chunks_per_trigger", "2")
      .load(dir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // everything arrives, exactly once...
    val rows = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(rows.length == 32, s"expected 32 rows, got ${rows.length}")
    assert(rows.sameElements((0 until 32).map(_ * 1.0)))
    // ...but across >= 4 capped batches, not one backlog-sized batch
    // (each committed batch leaves one offset file in the checkpoint)
    val offsets = new java.io.File(s"$ckpt/offsets").list()
      .filterNot(_.startsWith("."))
    assert(offsets.length >= 4,
      s"8-chunk backlog at cap 2 must take >=4 micro-batches, saw ${offsets.length}")
    // malformed values are refused by name, not as bare parse errors
    Seq("max_chunks_per_trigger" -> "two", "emit_partial_tail" -> "yes").foreach { case (k, v) =>
      val bad = spark.readStream.format("zarr").option(k, v).load(dir)
        .writeStream.format("noop").option("checkpointLocation", s"$base/throttle-bad-$k")
        .trigger(Trigger.AvailableNow()).start()
      val e = intercept[Exception] { try bad.processAllAvailable() finally bad.stop() }
      val zarr = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case z: ZarrException => z }
      assert(zarr.exists(z => z.getMessage.contains(k) && z.getMessage.contains(s"'$v'")), e)
    }
  }

  test("streaming read over a SHARDED store (append-grown, exactly once)") {
    val dir = s"$base/shardstream"
    val ckpt = s"$base/shardstream-ckpt"
    val outDir = s"$base/shardstream-out"
    def writeSharded(n: Int): Unit = {
      val store = ZarrStore(dir)
      store.writeStoreRootMeta()
      ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(n), Seq(4),
        (0 until n).map(_ * 1.0), None, ZarrWriter.CodecChain.gzip.sharded(Seq(2)))
    }
    def drain(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    writeSharded(12); drain()
    val first = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(first.length == 12 && first.sameElements((0 until 12).map(_ * 1.0)))
    writeSharded(20); drain()
    val all = spark.read.parquet(outDir).collect().map(_.getDouble(0)).sorted
    assert(all.length == 20, s"expected 20 rows after sharded growth, got ${all.length}")
    assert(all.sameElements((0 until 20).map(_ * 1.0)))
  }

  test("micro-batch factory consumes per-inner-chunk docs when filters are pushed") {
    // Spark 4.1 performs NO DSv2 filter pushdown into STREAMING scans
    // (MicroBatchExecution builds the Scan at stream start without the
    // push rule — verified empirically: a .filter over a readStream
    // reads every shard whole), so `pushed` is empty in real streaming
    // queries today and the inner-doc gate stays cold. The factory
    // plumbing must still be correct for the day upstream adds it:
    // drive the micro-batch stream DIRECTLY with a pushed filter and
    // pin that its reader masks inner chunks from the write-time docs.
    val sp = spark; import sp.implicits._
    val dir = s"$base/innerstream"
    // the tabular writer's own commit-time inner docs — no analyze pass
    (0 until 128).map(_.toLong).toDF("v").coalesce(1)
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "32").option("inner_chunk_size", "8").save(dir)
    def rowsEmitted(mode: String): Long = {
      val store = ZarrStore(dir, Seq("graft.zarr.ranged.reads" -> mode))
      val stream = new graft.sources.ZarrMicroBatchStream(
        store, Seq("v"), Seq("v"),
        pushed = Seq(org.apache.spark.sql.sources.LessThanOrEqual("v", 7L)),
        checkpointLocation = s"$base/is-ckpt-$mode")
      val parts = stream.planInputPartitions(
        stream.initialOffset(), stream.latestOffset())
      val factory = stream.createReaderFactory()
      var n = 0L
      parts.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) { r.get(); n += 1 } finally r.close()
      }
      n
    }
    // both modes: chunks 1..3 are segment-skipped; chunk 0 emits whole
    // (32 rows) unmasked vs ONE inner chunk (8 rows) under the docs
    assert(rowsEmitted("never") == 32L)
    assert(rowsEmitted("always") == 8L,
      "the micro-batch factory must wire innerStatsPresent into kept-row emission")
  }

  test("streaming aggregation over a zarr store") {
    val dir = s"$base/agg"
    writeSeries(dir, 16)
    val q = spark.readStream.format("zarr").load(dir)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .writeStream.format("memory").queryName("zagg")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val r = spark.table("zagg").collect()(0)
    assert(r.getLong(0) == 16 && r.getDouble(1) == (0 until 16).map(_ * 1.0).sum)
  }
}
