package graft.zarr

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The three judges of a `_stats/` doc must agree: a scan uses a doc
  * exactly when vacuum keeps it and incremental analyze counts it as
  * coverage. Each case plants one adversarial doc in an analyzed
  * sharded store on an etag-exposing FileSystem and asks all three.
  *
  * The planted docs LIE: their bounds for `data` say 5000, outside the
  * data's range 0..1023, so a scan that trusts one for `data < 100`
  * returns 0 rows instead of 100. That makes "the reader used it"
  * visible in the rows. Vacuum "keeps" a doc it leaves in place;
  * analyze "covers" with a doc it leaves byte-identical (a doc it does
  * not count is deleted and re-analyzed from the data, which does not
  * lie). The unharmed lying doc is accepted by all three; every defect
  * must make all three reject it. */
class SidecarVerdictSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: JPath = _
  private val mapper = new ObjectMapper()
  private val pairs = Seq("fs.graftetag.impl" -> classOf[EtagFileSystem].getName)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("sidecar-verdict-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftetag.impl", classOf[EtagFileSystem].getName)
      .getOrCreate()
    // also on a session some earlier suite left running
    spark.sparkContext.hadoopConfiguration.set("fs.graftetag.impl", classOf[EtagFileSystem].getName)
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("zarr-sidecar-verdict")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 32x32 `data` (values 0..1023) in ONE 32x32 shard of 8x8 inner
    * chunks over `lat`/`lon` axes, analyzed: `_stats/s0_1.json` and
    * `_stats/i0.json`, the latter with length, mtime and etag tokens. */
  private lazy val template: JPath = {
    val dir = base.resolve("template")
    val st = ZarrStore(dir.toString, pairs)
    st.writeStoreRootMeta()
    Seq("lat", "lon").foreach(d => ZarrWriter.writeArray(st, d, ZarrType.Float64, Seq(32), Seq(32),
      (0 until 32).map(_.toDouble), Some(Seq(d)), ZarrWriter.CodecChain.bloscLz4))
    ZarrWriter.writeArray(st, "data", ZarrType.Float64, Seq(32, 32), Seq(32, 32),
      (0 until 1024).map(_.toDouble), Some(Seq("lat", "lon")),
      ZarrWriter.CodecChain.bloscLz4.sharded(Seq(8, 8)))
    ZarrMaintenance.analyze(spark, s"graftetag://$dir")
    assert(ZarrStore(s"graftetag://$dir", pairs).objectStat("data", "c/0/0").get.etag.nonEmpty,
      "premise: the FileSystem exposes etags")
    dir
  }

  private def text(dir: JPath, key: String): Option[String] = {
    val p = dir.resolve(key)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None
  }

  /** The template's doc at `key` with every `data` bound set to 5000. */
  private def lying(key: String): ObjectNode = {
    val doc = mapper.readTree(text(template, key).get).asInstanceOf[ObjectNode]
    val col = doc.get("cols").get("data").asInstanceOf[ObjectNode]
    Seq("min", "max").foreach { f =>
      val arr = col.get(f).asInstanceOf[ArrayNode]
      (0 until arr.size()).foreach(i => arr.set(i, mapper.getNodeFactory.numberNode(5000.0)))
    }
    doc
  }

  private def dataCol(doc: ObjectNode): ObjectNode =
    doc.get("cols").get("data").asInstanceOf[ObjectNode]

  /** A copy of the template (modification times kept, so the shard stays
    * fresh against the analyzed tokens) with `plant` applied. */
  private def copyWith(name: String, plant: Map[String, Option[String]]): JPath = {
    val dir = base.resolve(name)
    Files.walk(template).iterator().asScala.foreach { p =>
      val q = dir.resolve(template.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
    plant.foreach {
      case (key, Some(doc)) => Files.write(dir.resolve(key), doc.getBytes("UTF-8"))
      case (key, None) => Files.deleteIfExists(dir.resolve(key))
    }
    dir
  }

  /** (scan uses it, vacuum keeps it, analyze counts it) for the doc
    * planted at `key`, each judge on its own copy. */
  private def verdicts(name: String, key: String, plant: Map[String, Option[String]]): (Boolean, Boolean, Boolean) = {
    val planted = plant(key).get
    val scanned = {
      val dir = copyWith(s"$name-scan", plant)
      spark.read.format("zarr").option("ranged_reads", "always").load(s"graftetag://$dir")
        .filter("data < 100.0").count()
    }
    assert(scanned == 0L || scanned == 100L, s"$name: a scan returned $scanned rows")
    val kept = {
      val dir = copyWith(s"$name-vacuum", plant)
      ZarrMaintenance.vacuum(spark, s"graftetag://$dir").collect()
      text(dir, key).isDefined
    }
    val covered = {
      val dir = copyWith(s"$name-analyze", plant)
      ZarrMaintenance.analyze(spark, s"graftetag://$dir", incremental = true)
      text(dir, key).contains(planted)
    }
    (scanned == 0L, kept, covered)
  }

  private def innerCase(name: String, accepted: Boolean)(defect: ObjectNode => Unit): Unit = {
    val doc = lying("_stats/i0.json")
    defect(doc)
    val v = verdicts(name, "_stats/i0.json", Map("_stats/i0.json" -> Some(mapper.writeValueAsString(doc))))
    assert(v == ((accepted, accepted, accepted)),
      s"$name: (scan uses, vacuum keeps, analyze covers) = $v, expected all $accepted")
  }

  test("inner docs: the three judges agree on a sound doc and on every defect") {
    innerCase("sound", accepted = true)(_ => ())
    innerCase("malformed", accepted = false)(doc => doc.remove("cols"): Unit)
    innerCase("larger-leading-extent", accepted = false)(doc =>
      doc.get("shape").asInstanceOf[ArrayNode].set(0, mapper.getNodeFactory.numberNode(64)): Unit)
    innerCase("wrong-inner-shape", accepted = false) { doc =>
      val in = dataCol(doc).putArray("inner"); in.add(4); in.add(16)
    }
    innerCase("wrong-bound-count", accepted = false) { doc =>
      Seq("min", "max").foreach(f => dataCol(doc).get(f).asInstanceOf[ArrayNode].remove(15))
    }
    innerCase("dropped-array-only", accepted = false) { doc =>
      val cols = doc.get("cols").asInstanceOf[ObjectNode]
      cols.set[ObjectNode]("gone", cols.remove("data"))
    }
    innerCase("stale-length", accepted = false)(doc =>
      dataCol(doc).put("len", dataCol(doc).get("len").asLong() + 1): Unit)
    innerCase("stale-mtime", accepted = false)(doc =>
      dataCol(doc).put("mt", dataCol(doc).get("mt").asLong() + 1000): Unit)
    innerCase("stale-etag", accepted = false)(doc => dataCol(doc).put("et", "bogus"): Unit)
  }

  test("inner docs: a doc past the grid, or not JSON at all, is used by no judge") {
    val past = verdicts("inner-past-grid", "_stats/i1.json",
      Map("_stats/i1.json" -> Some(mapper.writeValueAsString(lying("_stats/i0.json")))))
    assert(past == ((false, false, false)), s"past-grid doc: $past")
    val junk = verdicts("inner-junk", "_stats/i0.json", Map("_stats/i0.json" -> Some("{not json")))
    assert(junk == ((false, false, false)), s"unparseable doc: $junk")
  }

  test("segments: a sound lying segment is used by all three; out of grid or malformed by none") {
    val seg = mapper.writeValueAsString(lying("_stats/s0_1.json"))
    val sound = verdicts("seg-sound", "_stats/s0_1.json", Map("_stats/s0_1.json" -> Some(seg)))
    assert(sound == ((true, true, true)), s"sound segment: $sound")
    val past = verdicts("seg-past-grid", "_stats/s0_2.json",
      Map("_stats/s0_1.json" -> None, "_stats/s0_2.json" -> Some(seg)))
    assert(past == ((false, false, false)), s"past-grid segment: $past")
    val junk = verdicts("seg-junk", "_stats/s0_1.json", Map("_stats/s0_1.json" -> Some("{not json")))
    assert(junk == ((false, false, false)), s"unparseable segment: $junk")
  }
}
