package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.{Executors, TimeUnit}

import graft.zarr.{Codecs, ZarrMeta, ZarrStore, ZarrType, ZarrWriter}

/** Seeded input generators. Every value is a pure function of the seed
  * and its cell's position, so the checks evaluate the generator
  * directly instead of trusting anything the program wrote. */
object Gen {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  def hash(parts: Long*): Long = parts.foldLeft(0x5EEDL)((a, p) => mix(a ^ p))
  /** Fisher-Yates shuffle driven by `r`. */
  def shuffled[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** scan_full's local 2-D store: 4 float64 data arrays over (y, x) plus the
  * two 1-D coordinate arrays, in blosc-lz4 chunks of 256 x 1024 float64
  * (2 MiB). Neither extent divides by its chunk, so the last chunk row and
  * column are edge chunks. Values are quantized to 2^-20 (about 30
  * significant bits of seeded noise per value), so blosc cannot reduce a
  * chunk to nothing. */
object ScanStore {
  val ny = 4100
  val nx = 3950
  val cy = 256
  val cx = 1024
  val data: Seq[String] = Seq("a", "b", "c", "d")
  val scale = 1048576.0 // 2^20

  def y(i: Int): Double = 0.25 * i
  def x(j: Int): Double = 0.5 * j - 1000.0

  /** Expected aggregates, computed while generating. */
  final case class Expect(rows: Long, sumY: Double, sumX: Double,
      sums: Map[String, Double], checksums: Map[String, Long])

  /** Per-array separable base field plus per-cell seeded noise. */
  private final class Field(seed: Long, v: Int) {
    private val rowTerm = Array.tabulate(ny)(i =>
      40.0 * StrictMath.sin(i * 0.003 + Gen.unit(Gen.hash(seed, v, 1)) * 6.0))
    private val colTerm = Array.tabulate(nx)(j =>
      25.0 * StrictMath.cos(j * 0.002 + Gen.unit(Gen.hash(seed, v, 2)) * 6.0))
    private val salt = Gen.hash(seed, v, 3)
    def apply(i: Int, j: Int): Double = {
      val noise = Gen.unit(Gen.mix(salt ^ (i.toLong * nx + j))) * 8.0 - 4.0
      Math.rint((rowTerm(i) + colTerm(j) + noise) * scale) / scale
    }
  }

  /** Write the store at `root` (a local path) from `seed` on `threads`
    * threads; returns the expected aggregates. */
  def write(root: String, seed: Long, threads: Int): Expect = {
    val store = ZarrStore(root)
    store.writeStoreRootMeta()
    val chain = ZarrWriter.CodecChain.bloscLz4
    def meta(name: String, shape: Seq[Long], chunk: Seq[Int], dims: Seq[String]) = {
      val json = ZarrWriter.metaJson(ZarrType.Float64, shape, chunk, "0.0", Some(dims), chain)
      store.writeMeta(name, json)
      ZarrMeta.parse(name, json)
    }
    def encode(m: graft.zarr.ZarrArrayMeta, raw: Array[Byte]): Array[Byte] =
      Codecs.bytesCodecs(m.codecs, 8).foldLeft(raw)((b, c) => c.encode(b))
    def put1d(name: String, n: Int, c: Int, f: Int => Double): Unit = {
      val m = meta(name, Seq(n.toLong), Seq(c), Seq(name))
      (0 until (n + c - 1) / c).foreach { k =>
        val bb = ByteBuffer.allocate(c * 8).order(ByteOrder.LITTLE_ENDIAN)
        (0 until c).foreach(r => bb.putDouble(if (k * c + r < n) f(k * c + r) else 0.0))
        store.writeChunk(name, m.chunkKey(Array(k)), encode(m, bb.array()))
      }
    }
    put1d("y", ny, cy, y)
    put1d("x", nx, cx, x)

    val gy = (ny + cy - 1) / cy
    val gx = (nx + cx - 1) / cx
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val results = data.zipWithIndex.map { case (name, v) =>
        val m = meta(name, Seq(ny.toLong, nx.toLong), Seq(cy, cx), Seq("y", "x"))
        val field = new Field(seed, v)
        val tasks = for (bi <- 0 until gy; bj <- 0 until gx) yield pool.submit(() => {
          val bb = ByteBuffer.allocate(cy * cx * 8).order(ByteOrder.LITTLE_ENDIAN)
          var sum = 0.0; var comp = 0.0; var check = 0L
          var r = 0
          while (r < cy) {
            val i = bi * cy + r
            var c = 0
            while (c < cx) {
              val j = bj * cx + c
              val value = if (i < ny && j < nx) field(i, j) else 0.0
              bb.putDouble(value)
              if (i < ny && j < nx) {
                // compensated sum: the reference the scan's sum is checked against
                val yv = value - comp; val t = sum + yv
                comp = (t - sum) - yv; sum = t
                check += (value * scale).toLong
              }
              c += 1
            }
            r += 1
          }
          store.writeChunk(name, m.chunkKey(Array(bi, bj)), encode(m, bb.array()))
          (sum, check)
        })
        val parts = tasks.map(_.get())
        name -> (parts.map(_._1).sum, parts.map(_._2).sum)
      }
      val sumY = (0 until ny).map(y).sum * nx
      val sumX = (0 until nx).map(x).sum * ny
      Expect(ny.toLong * nx, sumY, sumX,
        results.map { case (n, (s, _)) => n -> s }.toMap,
        results.map { case (n, (_, c)) => n -> c }.toMap)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}

/** The 3-D time x lat x lon cube of cube_select: two
  * float64 variables, chunks of 4 x 45 x 60 packed into shards of
  * 8 x 90 x 180. Values are quantized to 2^-10 with |v| < 64, so every
  * sum over the cube is exact in float64 whatever the summation order,
  * and answers are compared exactly. */
object Cube {
  val nLat = 90
  val nLon = 180
  val vars: Seq[String] = Seq("t2m", "pr")
  val chunkShape = "4,45,60"
  val shardShape = "8,90,180"
  val q = 1024.0

  def lat(i: Int): Double = -89.0 + 2.0 * i
  def lon(j: Int): Double = 2.0 * j

  /** Value of variable `v` at (t, i, j) in data `version` (a region
    * overwrite writes version 1). */
  def value(seed: Long, version: Int, v: Int, t: Int, i: Int, j: Int): Double = {
    val base = if (v == 0) 20.0 * StrictMath.cos(lat(i) * Math.PI / 180.0) +
      5.0 * StrictMath.sin(lon(j) * Math.PI / 180.0 + 0.2 * t)
    else 8.0 + 6.0 * StrictMath.sin(0.05 * (i + j) + 0.3 * t)
    val noise = Gen.unit(Gen.hash(seed, version, v, t, i, j)) * 6.0 - 3.0
    Math.rint((base + noise + 7.0 * version) * q) / q
  }

  /** Rows of the time slab [t0, t1) as a DataFrame in cube-write shape. */
  def slab(spark: org.apache.spark.sql.SparkSession, seed: Long, version: Int,
      t0: Int, t1: Int, parts: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val perT = nLat * nLon
    spark.range(0L, (t1 - t0).toLong * perT, 1L, parts).map { id =>
      val t = t0 + (id / perT).toInt
      val i = ((id % perT) / nLon).toInt
      val j = (id % nLon).toInt
      (t.toLong, lat(i), lon(j), value(seed, version, 0, t, i, j), value(seed, version, 1, t, i, j))
    }.toDF("time", "lat", "lon", "t2m", "pr")
  }
}
