package graft.zarr

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property test for ranged shard reads + kept-row emission: over random
  * sharded stores (2-D/3-D, ragged edges, random inner shapes, sparse
  * inner chunks, non-monotonic coordinates) and random coordinate
  * predicates (ranges, In, Or/Not combos, mixed with data predicates),
  * a scan with `ranged_reads=always` must return EXACTLY the
  * rows of the whole-object scan — which itself must equal a driver-side
  * reference evaluation. The core soundness claim (mask-false regions
  * are provably refuted; kept-row emission loses nothing) rides on
  * this. */
class RangedReadPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ranged-read-property-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-ranged-prop").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def divisorsOf(n: Int): Seq[Int] = (1 to n).filter(n % _ == 0)

  test("random sharded stores + random coord predicates: ranged == whole == reference") {
    val rnd = new Random(1608202615L)
    (0 until 25).foreach { caseNo =>
      val ndim = 2 + rnd.nextInt(2) // 2-D or 3-D
      // shapes 6..20 per dim; chunk (= shard) 4..12, possibly ragged
      val shape = Array.fill(ndim)(6 + rnd.nextInt(15))
      val chunk = shape.map(s => math.min(s, 4 + rnd.nextInt(9)))
      val inner = chunk.map(c => {
        val ds = divisorsOf(c)
        ds(rnd.nextInt(ds.length))
      })
      val dims = Array.tabulate(ndim)(d => s"d$d")
      val nRows = shape.product
      // coordinate values: mostly ascending, every third case shuffled
      // (non-monotonic coords must still mask correctly — the mask uses
      // exact per-region min/max, not order assumptions)
      val coordVals: Array[Array[Double]] = Array.tabulate(ndim) { d =>
        val vs = Array.tabulate(shape(d))(i => i * 2.0 + rnd.nextInt(3))
        if (caseNo % 3 == 2) rnd.shuffle(vs.toSeq).toArray else vs
      }
      val dataVals = Array.tabulate(nRows)(i => (i * 37 % 101).toDouble)

      val dir = s"$base/case$caseNo"
      val st = ZarrStore(dir)
      st.writeStoreRootMeta()
      dims.zipWithIndex.foreach { case (dn, d) =>
        ZarrWriter.writeArray(st, dn, ZarrType.Float64,
          Seq(shape(d).toLong), Seq(chunk(d)),
          coordVals(d).toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
          Some(Seq(dn)), ZarrWriter.CodecChain.bloscLz4)
      }
      // every other case drops a random full CHUNK of the data array
      // (absent object → fill value -5), exercising missing-shard paths
      val skip: Set[Seq[Int]] =
        if (rnd.nextBoolean()) {
          val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
          Set(grid.map(g => rnd.nextInt(g)).toSeq)
        } else Set.empty
      ZarrWriter.writeArray(st, "data", ZarrType.Float64,
        shape.map(_.toLong).toSeq, chunk.toSeq,
        dataVals.toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
        Some(dims.toSeq), ZarrWriter.CodecChain.bloscLz4.sharded(inner.toSeq),
        fillJson = "-5.0", skipChunks = skip)

      // random predicate: 1-3 coordinate conjuncts + sometimes a data
      // conjunct; sometimes an Or / Not shape
      def coordPred(): String = {
        val d = rnd.nextInt(ndim)
        val vs = coordVals(d)
        rnd.nextInt(4) match {
          case 0 => s"d$d >= ${vs(rnd.nextInt(vs.length))}"
          case 1 => s"d$d < ${vs(rnd.nextInt(vs.length))}"
          case 2 => s"d$d IN (${Seq.fill(3)(vs(rnd.nextInt(vs.length))).mkString(",")})"
          case _ =>
            val a = vs(rnd.nextInt(vs.length)); val b = vs(rnd.nextInt(vs.length))
            s"(d$d < ${math.min(a, b)} OR d$d > ${math.max(a, b)})"
        }
      }
      val conjuncts = Seq.fill(1 + rnd.nextInt(2))(coordPred()) ++
        (if (rnd.nextBoolean()) Seq(s"data >= ${rnd.nextInt(101)}") else Nil) ++
        (if (rnd.nextInt(4) == 0) Seq(s"NOT (${coordPred()})") else Nil)
      val pred = conjuncts.mkString(" AND ")

      def run(mode: String): Seq[String] =
        spark.read.format("zarr").option("ranged_reads", mode).load(dir).filter(pred)
          .collect().map(_.toString).sorted.toSeq
      val whole = run("never")
      val ranged = run("always")
      assert(ranged == whole,
        s"case $caseNo: ranged != whole\nshape=${shape.mkString("x")} " +
          s"chunk=${chunk.mkString("x")} inner=${inner.mkString("x")}\npred=$pred\n" +
          s"whole=${whole.size} ranged=${ranged.size}")
      // after analyze, per-inner stats docs exist and DATA conjuncts can
      // mask inner chunks too — equivalence must still hold exactly
      ZarrMaintenance.analyze(spark, dir)
      val rangedStats = run("always")
      assert(rangedStats == whole,
        s"case $caseNo: post-analyze ranged != whole\n" +
          s"shape=${shape.mkString("x")} chunk=${chunk.mkString("x")} " +
          s"inner=${inner.mkString("x")}\npred=$pred\n" +
          s"whole=${whole.size} rangedStats=${rangedStats.size}")
      // sanity: whole path vs an in-memory DataFrame over the same rows
      // (catches a wrong store build masking a ranged bug as "equal")
      if (caseNo % 5 == 0) {
        import scala.jdk.CollectionConverters._
        val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
        def chunkOf(row: Array[Int]): Seq[Int] =
          row.zip(chunk).map { case (x, c) => x / c }.toSeq
        // zarr schema order is SORTED array names: d0, d1(, d2), data
        val rows = (0 until nRows).map { r =>
          val idx = new Array[Int](ndim)
          var rem = r
          var d = ndim - 1
          while (d >= 0) { idx(d) = rem % shape(d); rem /= shape(d); d -= 1 }
          val dv = if (skip(chunkOf(idx))) -5.0 else dataVals(r)
          org.apache.spark.sql.Row(
            ((0 until ndim).map(d2 => coordVals(d2)(idx(d2))) :+ dv): _*)
        }
        val schema = org.apache.spark.sql.types.StructType(
          (dims.toSeq :+ "data").map(n => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.DoubleType)))
        val ref = spark.createDataFrame(rows.asJava, schema)
          .filter(pred).collect().map(_.toString).sorted.toSeq
        assert(whole == ref, s"case $caseNo: whole != reference (store build wrong?)")
      }
    }
  }

  test("random sharded BINARY stores: ranged == whole == reference byte-exactly (r20)") {
    // the vlen inner-chunk surface under the same adversary as the
    // fixed-width case: random shapes/inner grids, random payload
    // lengths INCLUDING empty, absent chunks (fill = empty payload),
    // random coordinate predicates — and the post-analyze run proves
    // analyze both SKIPS the binary array (no order → no stats) and
    // leaves the coordinate-driven masks exact. Blob bytes compare via
    // hex() so equality is content, not array identity.
    val rnd = new Random(2008202620L)
    (0 until 15).foreach { caseNo =>
      val ndim = 2 + rnd.nextInt(2)
      val shape = Array.fill(ndim)(6 + rnd.nextInt(9))
      val chunk = shape.map(s => math.min(s, 4 + rnd.nextInt(7)))
      val inner = chunk.map { c =>
        val ds = divisorsOf(c)
        ds(rnd.nextInt(ds.length))
      }
      val dims = Array.tabulate(ndim)(d => s"d$d")
      val nRows = shape.product
      val coordVals: Array[Array[Double]] =
        Array.tabulate(ndim)(d => Array.tabulate(shape(d))(i => i * 2.0 + d))
      val payloads: Array[Array[Byte]] = Array.tabulate(nRows) { i =>
        Array.tabulate[Byte](rnd.nextInt(13))(k => ((i * 131 + k * 17) % 251).toByte)
      }
      val skip: Set[Seq[Int]] =
        if (rnd.nextBoolean()) {
          val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
          Set(grid.map(g => rnd.nextInt(g)).toSeq)
        } else Set.empty

      val dir = s"$base/vlencase$caseNo"
      val st = ZarrStore(dir)
      st.writeStoreRootMeta()
      dims.zipWithIndex.foreach { case (dn, d) =>
        ZarrWriter.writeArray(st, dn, ZarrType.Float64,
          Seq(shape(d).toLong), Seq(chunk(d)),
          coordVals(d).toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
          Some(Seq(dn)), ZarrWriter.CodecChain.bloscLz4)
      }
      ZarrWriter.writeArray(st, "blob", ZarrType.Bytes,
        shape.map(_.toLong).toSeq, chunk.toSeq,
        payloads.toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
        Some(dims.toSeq), ZarrWriter.CodecChain.zstd.sharded(inner.toSeq),
        fillJson = "null", skipChunks = skip)

      def coordPred(): String = {
        val d = rnd.nextInt(ndim)
        val vs = coordVals(d)
        rnd.nextInt(3) match {
          case 0 => s"d$d >= ${vs(rnd.nextInt(vs.length))}"
          case 1 => s"d$d < ${vs(rnd.nextInt(vs.length))}"
          case _ => s"d$d IN (${Seq.fill(3)(vs(rnd.nextInt(vs.length))).mkString(",")})"
        }
      }
      val pred = Seq.fill(1 + rnd.nextInt(2))(coordPred()).mkString(" AND ")

      def run(mode: String): Seq[String] =
        spark.read.format("zarr").option("ranged_reads", mode).load(dir).filter(pred)
          .select((dims.map(org.apache.spark.sql.functions.col).toSeq :+
            org.apache.spark.sql.functions.hex(
              org.apache.spark.sql.functions.col("blob")).as("h")): _*)
          .collect().map(_.toString).sorted.toSeq
      val whole = run("never")
      val ranged = run("always")
      assert(ranged == whole,
        s"vlencase $caseNo: ranged != whole\nshape=${shape.mkString("x")} " +
          s"chunk=${chunk.mkString("x")} inner=${inner.mkString("x")}\npred=$pred\n" +
          s"whole=${whole.size} ranged=${ranged.size}")
      // analyze must SKIP the binary array (no stats) yet keep coverage
      // semantics for the coordinate masks — equivalence still exact
      ZarrMaintenance.analyze(spark, dir)
      val rangedStats = run("always")
      assert(rangedStats == whole,
        s"vlencase $caseNo: post-analyze ranged != whole\npred=$pred")
      // driver-side reference over the same payloads (catches a wrong
      // store build masking a read bug as "equal")
      if (caseNo % 5 == 0) {
        import scala.jdk.CollectionConverters._
        val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
        def chunkOf(row: Array[Int]): Seq[Int] =
          row.zip(chunk).map { case (x, c) => x / c }.toSeq
        val rows = (0 until nRows).map { r =>
          val idx = new Array[Int](ndim)
          var rem = r
          var d = ndim - 1
          while (d >= 0) { idx(d) = rem % shape(d); rem /= shape(d); d -= 1 }
          val pv: Array[Byte] =
            if (skip(chunkOf(idx))) Array.emptyByteArray else payloads(r)
          org.apache.spark.sql.Row(
            ((0 until ndim).map(d2 => coordVals(d2)(idx(d2))) :+ pv): _*)
        }
        val schema = org.apache.spark.sql.types.StructType(
          dims.toSeq.map(n => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.DoubleType)) :+
            org.apache.spark.sql.types.StructField(
              "blob", org.apache.spark.sql.types.BinaryType))
        val ref = spark.createDataFrame(rows.asJava, schema).filter(pred)
          .select((dims.map(org.apache.spark.sql.functions.col).toSeq :+
            org.apache.spark.sql.functions.hex(
              org.apache.spark.sql.functions.col("blob")).as("h")): _*)
          .collect().map(_.toString).sorted.toSeq
        assert(whole == ref, s"vlencase $caseNo: whole != reference (store build wrong?)")
      }
    }
  }

  test("random APPENDED sharded stores: survived+re-emitted docs stay exact (ranged == whole == reference)") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(1708202617L)
    (0 until 12).foreach { caseNo =>
      val ndim = 2 + rnd.nextInt(2)
      // dim-0 grows; inner chunks 1..4 per dim, shard = inner × mult
      val shape = Array.fill(ndim)(5 + rnd.nextInt(8))
      val ic = shape.map(s => 1 + rnd.nextInt(math.min(4, s)))
      val shardShape = shape.indices.map { d =>
        val mult = 1 + rnd.nextInt(3)
        math.min(shape(d), ic(d) * mult) match {
          // shard must be a multiple of inner; clamp down to one
          case v => math.max(ic(d), (v / ic(d)) * ic(d))
        }
      }.toArray
      val dims = Array.tabulate(ndim)(d => s"d$d")
      // strictly ascending coordinates (append requires it on every axis)
      val coordVals: Array[Array[Double]] =
        Array.tabulate(ndim)(d => Array.tabulate(shape(d))(i => i * 3.0 + d))
      def cell(idx: Array[Int]): Double = {
        var r = 0
        var d = 0
        while (d < ndim) { r = r * shape(d) + idx(d); d += 1 }
        (r * 37 % 101).toDouble
      }
      val allRows: Seq[org.apache.spark.sql.Row] = {
        val idx = new Array[Int](ndim)
        (0 until shape.product).map { r =>
          var rem = r
          var d = ndim - 1
          while (d >= 0) { idx(d) = rem % shape(d); rem /= shape(d); d -= 1 }
          org.apache.spark.sql.Row(
            ((0 until ndim).map(d2 => coordVals(d2)(idx(d2))) :+ cell(idx)): _*)
        }
      }
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(
        (dims.toSeq :+ "v").map(n => org.apache.spark.sql.types.StructField(
          n, org.apache.spark.sql.types.DoubleType)))
      val df = spark.createDataFrame(allRows.asJava, schema)
      // RAGGED or aligned base at random: days [0, baseDays) then append
      val baseDays = 1 + rnd.nextInt(shape(0) - 1)
      val baseCut = coordVals(0)(baseDays - 1)
      val dir = s"$base/appcase$caseNo"
      // half the cases write sidecar-less (foreign-like) and restore
      // coverage via INCREMENTAL analyze after the append — the other
      // half rides the write-time docs through retire/re-emit
      val writeStats = caseNo % 2 == 0
      df.filter(org.apache.spark.sql.functions.col("d0") <= baseCut)
        .write.format("zarr").mode("append")
        .option("dims", dims.mkString(","))
        .option("chunk_shape", ic.mkString(","))
        .option("shard_shape", shardShape.mkString(","))
        .option("stats", writeStats.toString)
        .save(dir)
      df.filter(org.apache.spark.sql.functions.col("d0") > baseCut)
        .write.format("zarr").mode("append")
        .option("append_dim", "d0")
        .option("stats", writeStats.toString)
        .save(dir)
      if (!writeStats) ZarrMaintenance.analyze(spark, dir, incremental = true)
      def coordPred(): String = {
        val d = rnd.nextInt(ndim)
        val vs = coordVals(d)
        rnd.nextInt(3) match {
          case 0 => s"d$d >= ${vs(rnd.nextInt(vs.length))}"
          case 1 => s"d$d < ${vs(rnd.nextInt(vs.length))}"
          case _ => s"d$d IN (${Seq.fill(2)(vs(rnd.nextInt(vs.length))).mkString(",")})"
        }
      }
      val pred = (Seq.fill(1 + rnd.nextInt(2))(coordPred()) ++
        (if (rnd.nextBoolean()) Seq(s"v >= ${rnd.nextInt(101)}") else Nil))
        .mkString(" AND ")
      def run(mode: String): Seq[String] =
        spark.read.format("zarr").option("ranged_reads", mode).load(dir).filter(pred)
          .collect().map(_.toString).sorted.toSeq
      val whole = run("never")
      val ranged = run("always")
      val ref = df.filter(pred).collect().map(_.toString).sorted.toSeq
      assert(whole == ref,
        s"appcase $caseNo: whole != reference\nshape=${shape.mkString("x")} " +
          s"inner=${ic.mkString("x")} shard=${shardShape.mkString("x")} " +
          s"baseDays=$baseDays stats=$writeStats\npred=$pred")
      assert(ranged == whole,
        s"appcase $caseNo: ranged != whole after append\n" +
          s"shape=${shape.mkString("x")} inner=${ic.mkString("x")} " +
          s"shard=${shardShape.mkString("x")} baseDays=$baseDays " +
          s"stats=$writeStats\npred=$pred\nwhole=${whole.size} ranged=${ranged.size}")
    }
  }

  test("random FOREIGN REWRITES on an etag store: stale masks always refuted, rows exact") {
    // the silent-row-drop adversary, randomized: after analyze records
    // inner-doc bounds, a foreign tool rewrites the data array by
    // MIRRORING values within each shard — per-shard value sets are
    // preserved (outer segment bounds stay TRUE, so whole-mode reads
    // stay ground truth) while the per-INNER-chunk distribution moves
    // (every doc's bounds go stale). Codec is randomized (raw keeps
    // length AND index bytes identical), and half the cases RESTORE
    // every shard's pre-rewrite mtime — the perfect granule alias where
    // only the content-derived etag can refute the mask. On an
    // etag-exposing store (EtagFileSystem = the S3A/ABFS stand-in), a
    // ranged read with sidecar masking must equal the whole read must
    // equal an in-memory reference of the NEW values, for every case.
    val rnd = new Random(1808202618L)
    val etagPairs = Seq("fs.graftetag.impl" ->
      classOf[EtagFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftetag.impl", classOf[EtagFileSystem].getName)
    (0 until 10).foreach { caseNo =>
      val ndim = 2
      val shape = Array.fill(ndim)(8 + rnd.nextInt(9))        // 8..16
      val chunk = shape.map(s => math.min(s, 4 + rnd.nextInt(5))) // 4..8
      val inner = chunk.map { c =>
        val ds = divisorsOf(c).filter(_ < c) // strictly smaller: >1 inner
        ds(rnd.nextInt(ds.length))
      }
      val dims = Array("d0", "d1")
      val nRows = shape.product
      val coordVals = Array.tabulate(ndim)(d =>
        Array.tabulate(shape(d))(i => i * 2.0))
      def rowOf(idx: Array[Int]): Int = idx(0) * shape(1) + idx(1)
      val dataVals = Array.tabulate(nRows)(i => (i * 37 % 101).toDouble)
      val dir = s"$base/frw$caseNo"
      val st = ZarrStore(dir, etagPairs)
      st.writeStoreRootMeta()
      dims.zipWithIndex.foreach { case (dn, d) =>
        ZarrWriter.writeArray(st, dn, ZarrType.Float64,
          Seq(shape(d).toLong), Seq(chunk(d)),
          coordVals(d).toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
          Some(Seq(dn)), ZarrWriter.CodecChain.bloscLz4)
      }
      val codec =
        if (rnd.nextBoolean()) ZarrWriter.CodecChain.raw
        else ZarrWriter.CodecChain.bloscLz4
      def writeData(vals: Array[Double]): Unit =
        ZarrWriter.writeArray(st, "data", ZarrType.Float64,
          shape.map(_.toLong).toSeq, chunk.toSeq,
          vals.toIndexedSeq.asInstanceOf[IndexedSeq[Any]],
          Some(dims.toSeq), codec.sharded(inner.toSeq))
      writeData(dataVals)
      val url = s"graftetag://$dir"
      ZarrMaintenance.analyze(spark, url)
      val grid = shape.zip(chunk).map { case (s, c) => (s + c - 1) / c }
      val shardKeys =
        for (a <- 0 until grid(0); b <- 0 until grid(1)) yield s"c/$a/$b"
      val preMt = shardKeys
        .flatMap(k => st.objectStat("data", k).map(k -> _.mtime)).toMap
      // the foreign rewrite: mirror within each shard
      val newVals = Array.tabulate(nRows) { r =>
        val idx = Array(r / shape(1), r % shape(1))
        val mirrored = Array.tabulate(ndim) { d =>
          val c0 = (idx(d) / chunk(d)) * chunk(d)
          val hi = math.min(c0 + chunk(d), shape(d)) - 1
          hi - (idx(d) - c0)
        }
        dataVals(rowOf(mirrored))
      }
      writeData(newVals)
      val aliasMt = rnd.nextBoolean()
      if (aliasMt) preMt.foreach { case (k, mt) =>
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(s"$dir/data/$k"),
          java.nio.file.attribute.FileTime.fromMillis(mt))
      }
      // data conjunct always present — that is the stale-doc trap
      val pred = s"data >= ${rnd.nextInt(101)}" +
        (if (rnd.nextBoolean())
          s" AND d0 >= ${coordVals(0)(rnd.nextInt(shape(0)))}" else "")
      def run(mode: String): Seq[String] =
        spark.read.format("zarr").option("ranged_reads", mode).load(url).filter(pred)
          .collect().map(_.toString).sorted.toSeq
      val whole = run("never")
      val ranged = run("always")
      assert(ranged == whole,
        s"case $caseNo: ranged != whole after foreign rewrite\n" +
          s"shape=${shape.mkString("x")} chunk=${chunk.mkString("x")} " +
          s"inner=${inner.mkString("x")} raw=${codec.specs.isEmpty} " +
          s"aliasMt=$aliasMt\npred=$pred\n" +
          s"whole=${whole.size} ranged=${ranged.size}")
      // ground truth from the NEW values (every case: arrays are tiny)
      import scala.jdk.CollectionConverters._
      val rows = (0 until nRows).map { r =>
        val idx = Array(r / shape(1), r % shape(1))
        org.apache.spark.sql.Row(
          coordVals(0)(idx(0)), coordVals(1)(idx(1)), newVals(r))
      }
      val schema = org.apache.spark.sql.types.StructType(
        (dims.toSeq :+ "data").map(n => org.apache.spark.sql.types
          .StructField(n, org.apache.spark.sql.types.DoubleType)))
      val ref = spark.createDataFrame(rows.asJava, schema)
        .filter(pred).collect().map(_.toString).sorted.toSeq
      assert(whole == ref,
        s"case $caseNo: whole != reference of the rewritten values")
    }
  }
}
