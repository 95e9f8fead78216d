package graft.zarr

import java.nio.file.Files

import graft.sources.ZarrWriteSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write-path tests: df.write.format("zarr") → read back.
  * (The reference has no public write path; this is the SURVEY §7 stretch
  * / north-star extension.) */
class ZarrWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("zarr-write-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-write").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("roundtrip: single partition, mixed types, blosc") {
    val sp = spark; import sp.implicits._
    val df = (0 until 100)
      .map(i => (i.toLong, i * 1.5, s"row$i", i % 2 == 0))
      .toDF("id", "x", "name", "flag")
      .coalesce(1)
    df.write.format("zarr").mode("append").option("chunk_size", "16").save(s"$base/rt")

    val back = spark.read.format("zarr").load(s"$base/rt")
    assert(back.count() == 100)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("flag", "id", "name", "x"))
    val rows = back.orderBy("id").collect()
    assert(rows(42).getAs[Long]("id") == 42L)
    assert(rows(42).getAs[Double]("x") == 63.0)
    assert(rows(42).getAs[String]("name") == "row42")
    assert(rows(42).getAs[Boolean]("flag") == true)
  }

  test("staged multi-partition write commits correct global order via manifest") {
    val sp = spark; import sp.implicits._
    // 3 partitions × 20 rows each, chunk_size 10 → alignment holds (20 % 10 == 0)
    val df = ZarrWriteSupport.alignForWrite(
      (0 until 60).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), 20)
    df.write.format("zarr").mode("overwrite")
      .option("chunk_size", "10").save(s"$base/multi")
    val back = spark.read.format("zarr").load(s"$base/multi")
      .orderBy("id").collect()
    assert(back.length == 60)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("id") == i.toLong)
      assert(r.getAs[Double]("v") == i * 2.0)
    }
    // rename-free commit: chunks stay at their task-attempt keys (no
    // canonical c/<ord> objects), the root doc carries the manifest, and
    // every array is marked with the must-understand storage transformer
    // so generic Zarr tools fail loudly instead of reading fill values
    val store = ZarrStore(s"$base/multi")
    val manifest = store.committedView().manifest
    assert(manifest.parts.length == 3, manifest.parts)
    assert(manifest.parts.map(_._1) == Vector(0L, 2L, 4L))
    assert(manifest.parts.forall(_._3 == 2))
    val idDir = new java.io.File(s"$base/multi/id")
    assert(!idDir.listFiles().exists(_.getName == "c"), "no canonical chunk dir expected")
    assert(idDir.listFiles().count(_.getName.startsWith("c.part")) == 3)
    assert(store.readMeta("id").sourceJson.contains("graft-chunk-manifest"))
    // manifest lookups resolve every ordinal; outside range falls back
    assert(manifest.keyFor(0L).exists(_.endsWith("/0")))
    assert(manifest.keyFor(5L).exists(_.endsWith("/1")))
    assert(manifest.keyFor(6L).isEmpty)
  }

  test("staged append after a staged write keeps earlier manifest parts") {
    val sp = spark; import sp.implicits._
    val p = s"$base/multi-append"
    def part(lo: Int, hi: Int) = ZarrWriteSupport.alignForWrite(
      (lo until hi).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), 20)
    part(0, 40).write.format("zarr").mode("overwrite").option("chunk_size", "10").save(p)
    part(40, 100).write.format("zarr").mode("append").option("chunk_size", "10").save(p)
    val store = ZarrStore(p)
    assert(store.committedView().manifest.parts.length == 5) // 2 + 3 tasks
    val back = spark.read.format("zarr").load(p).orderBy("id").collect()
    assert(back.length == 100)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("id") == i.toLong)
      assert(r.getAs[Double]("v") == i * 2.0)
    }
    // filter pushdown still prunes/filters correctly through the manifest
    assert(spark.read.format("zarr").load(p).where("id >= 90").count() == 10)
  }

  test("manifest-keyed store with an unreadable manifest HARD-FAILS instead of reading fill values") {
    val sp = spark; import sp.implicits._
    val p = s"$base/multi-corrupt"
    ZarrWriteSupport.alignForWrite(
      (0 until 40).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), 20)
      .write.format("zarr").mode("overwrite").option("chunk_size", "10").save(p)
    assert(ZarrStore(p).committedView().manifest.parts.nonEmpty)
    // corrupt the root doc: drop the manifest attribute while the arrays
    // keep their must-understand transformer marker (a crashed/truncated
    // root rewrite, or a tool that stripped unknown attributes)
    val root = java.nio.file.Paths.get(p, "zarr.json")
    val doc = new String(java.nio.file.Files.readAllBytes(root), "UTF-8")
    java.nio.file.Files.write(root,
      doc.replace(ChunkManifest.attrName, "graft_chunk_manifest_gone").getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("zarr").load(p).collect()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("manifest")),
      s"expected a manifest hard-fail, got: $e")
  }

  test("manifest growth is O(write tasks) per append and warns past the threshold") {
    val sp = spark; import sp.implicits._
    val p = s"$base/multi-growth"
    def batch(lo: Int) = ZarrWriteSupport.alignForWrite(
      (lo until lo + 20).map(i => (i.toLong, i * 2.0)).toDF("id", "v"), 20)
    // 6 staged appends of ONE task each: the manifest must hold exactly
    // one part per task — commit count, not chunk count (each append is
    // 2 chunks; 12 chunks but only 6 parts)
    // capture via the warn sink (r22: the warning goes through slf4j
    // now, whose console appender pins the original System.err — a
    // setErr capture cannot see it)
    val warnings = new java.lang.StringBuilder
    val realSink = ZarrWriteSupport.warnSink
    ZarrWriteSupport.warnSink = msg => warnings.append(msg).append('\n'): Unit
    try {
      (0 until 6).foreach { b =>
        batch(b * 20).write.format("zarr").mode(if (b == 0) "overwrite" else "append")
          .option("chunk_size", "10")
          .option("manifest_warn_parts", "5")
          .save(p)
      }
    } finally ZarrWriteSupport.warnSink = realSink
    val store = ZarrStore(p)
    assert(store.committedView().manifest.parts.length == 6)
    // the 5th and 6th commits crossed the threshold (5 parts) — the
    // commit recommends compaction instead of growing silently
    val err = warnings.toString
    assert(err.contains("chunk manifest has 5 parts") ||
      err.contains("chunk manifest has 6 parts"), s"no threshold warning in: $err")
    assert(err.contains("ZarrMaintenance.compact"), err)
    // data unaffected by the warning path
    assert(spark.read.format("zarr").load(p).count() == 120)
  }

  test("fast path: rows_per_partition avoids staging entirely") {
    val sp = spark; import sp.implicits._
    val df = ZarrWriteSupport.alignForWrite(
      (0 until 50).map(i => (i.toLong, s"s$i")).toDF("id", "s"), 20)
    df.write.format("zarr").mode("overwrite")
      .option("chunk_size", "10").option("rows_per_partition", "20")
      .save(s"$base/fast")
    // no staging dirs should remain
    val idDir = new java.io.File(s"$base/fast/id")
    assert(!idDir.listFiles().exists(_.getName.startsWith("c.part")))
    val back = spark.read.format("zarr").load(s"$base/fast").orderBy("id").collect()
    assert(back.length == 50)
    assert(back(49).getAs[String]("s") == "s49")
  }

  test("misaligned partitions fail with a clear error") {
    val sp = spark; import sp.implicits._
    // 3 partitions of 7/7/7ish rows with chunk_size 10 → violation
    val df = (0 until 21).map(i => Tuple1(i.toLong)).toDF("id").repartition(3)
    val e = intercept[Exception] {
      df.write.format("zarr").mode("overwrite")
        .option("chunk_size", "10").save(s"$base/bad")
    }
    assert(e.getMessage.contains("alignment") ||
      e.getCause != null && e.getCause.getMessage.contains("alignment"))
  }

  test("overwrite replaces prior content") {
    val sp = spark; import sp.implicits._
    val p = s"$base/ow"
    (0 until 30).map(i => Tuple1(i.toLong)).toDF("a").coalesce(1)
      .write.format("zarr").mode("append").option("chunk_size", "8").save(p)
    (0 until 5).map(i => Tuple1(i * 10.0)).toDF("b").coalesce(1)
      .write.format("zarr").mode("overwrite").option("chunk_size", "8").save(p)
    val back = spark.read.format("zarr").load(p)
    assert(back.columns.toSeq == Seq("b"))
    assert(back.count() == 5)
  }

  test("append extends an existing store along dim 0") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/app"
    (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1)
      .write.format("zarr").mode("append").option("chunk_size", "10").save(pth)
    // second append continues at chunk 2 and preserves earlier data
    (20 until 35).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1)
      .write.format("zarr").mode("append").save(pth)
    val back = spark.read.format("zarr").load(pth).orderBy("id").collect()
    assert(back.length == 35)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("id") == i.toLong && r.getAs[Double]("v") == i * 1.0)
    }
    // third append with a partial existing last chunk (35 % 10 != 0) errors
    val e = intercept[Exception] {
      (35 until 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1)
        .write.format("zarr").mode("append").save(pth)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("append")), msgs(e).mkString(" | "))
  }

  test("a committed ZERO-row store keeps its metadata across append and failed-append abort") {
    val sp = spark; import sp.implicits._
    val p = s"$base/zero"
    // committed zero-row store with a non-default layout (gzip + sharding)
    sp.range(0).selectExpr("id", "cast(id as double) as v").coalesce(1)
      .write.format("zarr").mode("append")
      .option("chunk_size", "8").option("inner_chunk_size", "4")
      .option("codec", "gzip").save(p)
    val st = ZarrStore(p)
    val before = st.readMeta("v")
    assert(before.shape(0) == 0L)
    assert(Sharding.specOf(before.codecs).isDefined, before.sourceJson)
    // a FAILED append must not wipe the pre-existing store (abort used
    // to key 'this write created the store' on baseRows == 0)
    intercept[Exception] {
      sp.range(5).selectExpr("id", "cast(null as double) as v").coalesce(1)
        .write.format("zarr").mode("append").save(p) // nulls refuse mid-task
    }
    assert(st.readMeta("v").sourceJson == before.sourceJson,
      "failed append to a zero-row store must leave it intact")
    // a SUCCESSFUL append must reuse the stored documents, not regenerate
    // defaults (which would drop the sharding and reset the codec)
    sp.range(8).selectExpr("id", "cast(id as double) as v").coalesce(1)
      .write.format("zarr").mode("append").save(p)
    val after = st.readMeta("v")
    assert(after.shape(0) == 8L)
    assert(Sharding.specOf(after.codecs).isDefined,
      s"append regenerated metadata, sharding lost: ${after.sourceJson}")
    assert(after.codecs.map(_.name) == before.codecs.map(_.name),
      s"codec chain changed: ${before.codecs.map(_.name)} -> ${after.codecs.map(_.name)}")
  }

  test("append refuses a store whose 1-D arrays disagree on row layout") {
    val sp = spark; import sp.implicits._
    val p = s"$base/mixed-layout"
    val st = ZarrStore(p)
    st.writeStoreRootMeta()
    // legal store, illegal for this appender: same rows, different chunking
    ZarrWriter.writeArray(st, "a", ZarrType.Int64, Seq(8), Seq(4),
      (0L until 8L).toIndexedSeq)
    ZarrWriter.writeArray(st, "b", ZarrType.Int64, Seq(8), Seq(8),
      (0L until 8L).toIndexedSeq)
    val e = intercept[Exception] {
      sp.range(4).selectExpr("id as a", "id as b").coalesce(1)
        .write.format("zarr").mode("append").save(p)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("row layout")), msgs(e).mkString(" | "))
  }

  test("append preserves the store's original fill value and codecs") {
    val pth = s"$base/appfill"
    // store created externally with a non-default fill value
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(10), Seq(5),
      (0 until 10).map(_ * 1.0), None, ZarrWriter.CodecChain.gzip, fillJson = "-77.5")
    val sp = spark; import sp.implicits._
    (10 until 20).map(i => Tuple1(i * 1.0)).toDF("v").coalesce(1)
      .write.format("zarr").mode("append").save(pth)
    val meta = ZarrStore(pth).readMeta("v")
    assert(meta.shape(0) == 20)
    assert(meta.fillValue == -77.5d, s"fill clobbered: ${meta.fillValue}")
    assert(meta.codecs.exists(_.name == "gzip"), meta.codecs.map(_.name))
    val back = spark.read.format("zarr").load(pth).orderBy("v").collect()
    assert(back.length == 20 && back.last.getDouble(0) == 19.0)
  }

  test("edge-chunk padding uses the store's fill_value, not zero (ADVICE r2)") {
    val pth = s"$base/padfill"
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    // raw codec chain so the stored chunk bytes are directly inspectable
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(5), Seq(5),
      (0 until 5).map(_ * 1.0), None, ZarrWriter.CodecChain.raw, fillJson = "-77.5")
    val sp = spark; import sp.implicits._
    // append 3 rows → edge chunk holds 3 values + 2 PADDED elements
    // (aligned append → canonical c/1 key, so the chunk bytes are
    // directly addressable below)
    (5 until 8).map(i => Tuple1(i * 1.0)).toDF("v").coalesce(1)
      .write.format("zarr").mode("append").option("rows_per_partition", "5").save(pth)
    val chunk = ZarrStore(pth).readChunk("v", "c/1").get
    val bb = java.nio.ByteBuffer.wrap(chunk).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getDouble(0 * 8) == 5.0 && bb.getDouble(2 * 8) == 7.0)
    // a conforming writer pads with fill_value; zero-padding is an
    // interop inconsistency invisible to shape-truncating readers
    assert(bb.getDouble(3 * 8) == -77.5 && bb.getDouble(4 * 8) == -77.5,
      s"padded tail must carry the declared fill_value")
  }

  test("fast path rejects an empty middle partition (ADVICE r1 #1)") {
    val sp = spark
    // partitions 0 and 2 hold 10 rows each, partition 1 is empty — its
    // chunk-index slots would be silent fill-value holes
    val rdd = sp.sparkContext.parallelize(0 until 30, 3)
      .mapPartitionsWithIndex { case (idx, it) => if (idx == 1) Iterator.empty else it }
      .map(i => org.apache.spark.sql.Row(i.toLong))
    val df = sp.createDataFrame(rdd,
      new org.apache.spark.sql.types.StructType().add("id", "long"))
    val e = intercept[Exception] {
      df.write.format("zarr").mode("overwrite")
        .option("chunk_size", "10").option("rows_per_partition", "10")
        .save(s"$base/hole")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("alignment")), msgs(e).mkString(" | "))
  }

  test("fast path accepts trailing empty partitions") {
    val sp = spark
    val rdd = sp.sparkContext.parallelize(0 until 30, 3)
      .mapPartitionsWithIndex { case (idx, it) => if (idx == 2) Iterator.empty else it }
      .map(i => org.apache.spark.sql.Row(i.toLong))
    val df = sp.createDataFrame(rdd,
      new org.apache.spark.sql.types.StructType().add("id", "long"))
    df.write.format("zarr").mode("overwrite")
      .option("chunk_size", "10").option("rows_per_partition", "10")
      .save(s"$base/trail")
    val got = spark.read.format("zarr").load(s"$base/trail")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 20L))
  }

  test("append reproduces the exact codec chain incl. crc32c (ADVICE r1 #2)") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/appcrc"
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    val chain = ZarrWriter.CodecChain(Seq("gzip" -> """{"level":5}""", "crc32c" -> ""))
    ZarrWriter.writeArray(store, "v", ZarrType.Float64, Seq(10), Seq(5),
      (0 until 10).map(_ * 1.0), None, chain)
    (10 until 20).map(i => Tuple1(i * 1.0)).toDF("v").coalesce(1)
      .write.format("zarr").mode("append").save(pth)
    // pre-fix, appended chunks lacked the crc32c trailer → reads threw
    val back = spark.read.format("zarr").load(pth)
      .collect().map(_.getDouble(0)).sorted
    assert(back.toSeq == (0 until 20).map(_ * 1.0))
    val meta = ZarrStore(pth).readMeta("v")
    assert(meta.codecs.map(_.name).toSet == Set("bytes", "gzip", "crc32c"))
  }

  test("append honors a '.' chunk-key separator (ADVICE r1 #2)") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/appdot"
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    ZarrWriter.writeArray(store, "v", ZarrType.Int64, Seq(8), Seq(4),
      (0L until 8L).toIndexedSeq, None, ZarrWriter.CodecChain.gzip,
      fillJson = "0", separator = ".")
    // aligned append → canonical keys, which must honor the separator
    (8L until 16L).map(Tuple1(_)).toDF("v").coalesce(1)
      .write.format("zarr").mode("append").option("rows_per_partition", "8").save(pth)
    // pre-fix, appended chunks were keyed c/2,c/3 — invisible to a
    // '.'-separated reader, silently reading back as fill values
    val back = spark.read.format("zarr").load(pth)
      .collect().map(_.getLong(0)).sorted
    assert(back.toSeq == (0L until 16L))
    assert(new java.io.File(s"$pth/v/c.3").exists(), "appended chunk must use '.' keys")

    // a STAGED append to the same '.'-separated store resolves through
    // the manifest instead (separator-independent task-attempt keys)
    (16L until 24L).map(Tuple1(_)).toDF("v").coalesce(1)
      .write.format("zarr").mode("append").save(pth)
    val all = spark.read.format("zarr").load(pth)
      .collect().map(_.getLong(0)).sorted
    assert(all.toSeq == (0L until 24L))
    assert(ZarrStore(pth).committedView().manifest.keyFor(4L).isDefined)
  }

  test("append to an un-encodable codec chain fails with a clear error") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/appunk"
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    // read-valid (parses fine) but write-unencodable: blosc bitshuffle
    store.writeMeta("v",
      """{"zarr_format":3,"node_type":"array","shape":[10],"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[5]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |{"name":"blosc","configuration":{"cname":"lz4","clevel":5,"shuffle":"bitshuffle","typesize":8,"blocksize":0}}]}"""
        .stripMargin)
    val e = intercept[Exception] {
      (10 until 20).map(i => Tuple1(i * 1.0)).toDF("v").coalesce(1)
        .write.format("zarr").mode("append").save(pth)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cannot encode")), msgs(e).mkString(" | "))
  }

  test("append to a store with UNKNOWN codec metadata aborts, never treats it as empty") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/appunknowncodec"
    val store = ZarrStore(pth)
    store.writeStoreRootMeta()
    store.writeMeta("v",
      """{"zarr_format":3,"node_type":"array","shape":[10],"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[5]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"zlib"}]}"""
        .stripMargin)
    val e = intercept[Exception] {
      (10 until 20).map(i => Tuple1(i * 1.0)).toDF("v").coalesce(1)
        .write.format("zarr").mode("append").save(pth)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("zlib")), msgs(e).mkString(" | "))
    // and the store was not clobbered with a fresh array
    assert(!new java.io.File(s"$pth/v/c/0").exists())
  }

  test("null values are rejected with a clear error") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a"), (2L, null)).toDF("id", "s").coalesce(1)
    val e = intercept[Exception] {
      df.write.format("zarr").mode("overwrite").save(s"$base/nulls")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL")), msgs(e).mkString(" | "))
  }

  test("append with mismatched schema errors clearly") {
    val sp = spark; import sp.implicits._
    val pth = s"$base/appbad"
    (0 until 10).map(i => Tuple1(i.toLong)).toDF("a").coalesce(1)
      .write.format("zarr").mode("append").option("chunk_size", "5").save(pth)
    val e = intercept[Exception] {
      (0 until 10).map(i => Tuple1(i * 1.0)).toDF("b").coalesce(1)
        .write.format("zarr").mode("append").save(pth)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("append") || m.contains("not present")),
      msgs(e).mkString(" | "))
  }

  test("unsupported type fails fast") {
    val sp = spark; import sp.implicits._
    val df = Seq(Tuple1(Array(1, 2, 3))).toDF("arr").coalesce(1)
    val e = intercept[Exception] {
      df.write.format("zarr").mode("overwrite").save(s"$base/unsup")
    }
    assert(e.getMessage.contains("zarr") || e.getCause != null)
  }

  test("write then filter pushdown on the written store") {
    val sp = spark; import sp.implicits._
    val p = s"$base/pushdown"
    (0 until 1000).map(i => (i.toLong, i % 50))
      .toDF("id", "bucket").coalesce(1)
      .write.format("zarr").mode("append")
      .option("chunk_size", "100").option("codec", "zstd").save(p)
    val got = spark.read.format("zarr").load(p)
      .filter(col("id") >= 990).select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (990L until 1000L).toSeq)
  }

  test("sharded write emits per-inner-chunk docs: data predicates mask with ZERO analyze") {
    val sp = spark; import sp.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    // v <= 7 lives in ONE of four inner chunks of chunk 0 (outer
    // segments already confine the scan to chunk 0 in both modes);
    // numOutputRows pins that the inner-doc mask drove kept-row emission
    def run(path: String, mode: String): (Long, Seq[Long]) = {
      hc.set("graft.zarr.ranged.reads", mode)
      try {
        val df = spark.read.format("zarr").load(path).filter("v <= 7").select("v")
        val vals = df.collect().map(_.getLong(0)).sorted.toSeq
        val n = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            s.metrics("numOutputRows").value
        }.head
        (n, vals)
      } finally hc.unset("graft.zarr.ranged.reads")
    }
    def check(path: String, label: String): Unit = {
      (0 until 4).foreach(o => assert(
        new java.io.File(s"$path/_stats/i$o.json").exists(),
        s"$label write must leave a committed inner doc i$o — no analyze pass ran"))
      val (nWhole, vWhole) = run(path, "never")
      val (nRanged, vRanged) = run(path, "always")
      assert(vWhole == (0L to 7L).toVector && vRanged == vWhole, s"$label rows")
      assert(nWhole == 32L, s"$label whole-read emission $nWhole (outer skip only)")
      assert(nRanged == 8L, s"$label inner docs must mask 3 of 4 inner chunks: $nRanged")
    }
    // STAGED path (manifest-keyed chunks): tasks stage docs at
    // write-scoped names, the commit copies them to final ordinals
    val staged = s"$base/sharded-staged"
    (0 until 128).map(_.toLong).toDF("v").coalesce(2)
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "32").option("inner_chunk_size", "8").save(staged)
    assert(!new java.io.File(s"$staged/_stats").listFiles()
      .exists(_.getName.startsWith("c.part")), "staged docs must be consumed at commit")
    check(staged, "staged")
    // ALIGNED fast path: tasks know their global ordinals, docs land at
    // final keys directly
    val aligned = s"$base/sharded-aligned"
    ZarrWriteSupport.alignForWrite((0 until 128).map(_.toLong).toDF("v"), 64)
      .write.format("zarr").mode("overwrite")
      .option("chunk_size", "32").option("inner_chunk_size", "8")
      .option("rows_per_partition", "64").save(aligned)
    check(aligned, "aligned")
  }
}
