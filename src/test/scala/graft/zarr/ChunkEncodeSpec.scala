package graft.zarr

import org.scalatest.funsuite.AnyFunSuite

/** [[ChunkColumn.encode]] is the inverse of [[ChunkColumn.decode]]:
  * ∀ element type, layout and codec chain, decode(meta, encode(meta,
  * vals)) returns vals. Layouts: plain 1-D, N-D with a top-level
  * transpose, sharded with the edge shard's all-padding inner chunks
  * skipped (optionally with an inner transpose), and big-endian `bytes`
  * at the top level and inside a shard. Codec layer only, no Spark. */
class ChunkEncodeSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261018L)

  private val types: Seq[ZarrType] = Seq(ZarrType.Bool, ZarrType.Int8, ZarrType.Int16,
    ZarrType.Int32, ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16, ZarrType.UInt32,
    ZarrType.UInt64, ZarrType.Float32, ZarrType.Float64, ZarrType.Str, ZarrType.Bytes)

  private val chains = Seq(ZarrWriter.CodecChain.raw, ZarrWriter.CodecChain.gzip,
    ZarrWriter.CodecChain.zstd, ZarrWriter.CodecChain.bloscLz4, ZarrWriter.CodecChain.crc32c)

  /** A random value in the JVM type the reader boxes `zt` as. */
  private def value(zt: ZarrType): Any = zt match {
    case ZarrType.Bool => rnd.nextBoolean()
    case ZarrType.Int8 => rnd.nextInt().toByte
    case ZarrType.Int16 => rnd.nextInt().toShort
    case ZarrType.Int32 => rnd.nextInt()
    case ZarrType.Int64 => rnd.nextLong()
    case ZarrType.UInt8 => rnd.nextInt(256).toShort
    case ZarrType.UInt16 => rnd.nextInt(65536)
    case ZarrType.UInt32 => rnd.nextLong() >>> 32
    case ZarrType.UInt64 => new java.math.BigDecimal(new java.math.BigInteger(64, rnd.self))
    case ZarrType.Float32 => rnd.nextFloat() * 1000f - 500f
    case ZarrType.Float64 => rnd.nextGaussian() * 1e6
    case ZarrType.Str => rnd.alphanumeric.take(rnd.nextInt(6)).mkString + "é😀"
    case ZarrType.Bytes => Array.fill(rnd.nextInt(5))(rnd.nextInt().toByte)
  }

  private def fillJson(zt: ZarrType): String =
    graft.sources.ZarrBatchWrite.defaultFillJson(zt)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
    case _ => a == b
  }

  private def divisorOf(n: Int): Int = {
    val divs = (1 to n).filter(n % _ == 0)
    divs(rnd.nextInt(divs.length))
  }

  /** Meta of one chunk-sized array; `bigEndian` flips the first `bytes`
    * codec — the top-level one, or the inner one of a shard. */
  private def metaOf(zt: ZarrType, chunk: Seq[Int], chain: ZarrWriter.CodecChain,
      bigEndian: Boolean): ZarrArrayMeta = {
    val json = ZarrWriter.metaJson(zt, chunk.map(_.toLong), chunk, fillJson(zt), None, chain)
    val flipped =
      if (bigEndian) json.replaceFirst("\"endian\":\"little\"", "\"endian\":\"big\"") else json
    ZarrMeta.parse("a", flipped)
  }

  private def assertRoundTrip(meta: ZarrArrayMeta, vals: IndexedSeq[Any],
      extent: Seq[Int], what: String): Unit = {
    val col = ChunkColumn.decode(meta, Some(ChunkColumn.encode(meta, vals, extent)))
    vals.indices.foreach { e =>
      assert(same(col.get(e), vals(e)), s"$what: element $e ${col.get(e)} != ${vals(e)}")
    }
  }

  private def randomOrder(ndim: Int): Seq[Int] =
    Iterator.continually(rnd.shuffle((0 until ndim).toList))
      .find(o => o != (0 until ndim).toList).get

  test("plain 1-D chunks roundtrip for every type and chain") {
    for (zt <- types; i <- 0 until 5) {
      val n = 1 + rnd.nextInt(20)
      val chain = chains(rnd.nextInt(chains.length))
      assertRoundTrip(metaOf(zt, Seq(n), chain, bigEndian = false),
        IndexedSeq.fill(n)(value(zt)), Nil, s"$zt plain case $i")
    }
  }

  test("N-D chunks with a top-level transpose roundtrip for every type") {
    for (zt <- types; i <- 0 until 5) {
      val ndim = 2 + rnd.nextInt(2)
      val chunk = Seq.fill(ndim)(1 + rnd.nextInt(5))
      val order = randomOrder(ndim)
      val chain = chains(rnd.nextInt(chains.length)).transposed(order)
      val meta = metaOf(zt, chunk, chain, bigEndian = false)
      assert(meta.transposePerm.isDefined)
      assertRoundTrip(meta, IndexedSeq.fill(chunk.product)(value(zt)), Nil,
        s"$zt transposed ${chunk.mkString("x")} order $order case $i")
    }
  }

  test("edge shards with all-padding inner chunks skipped roundtrip for every type") {
    for (zt <- types; i <- 0 until 5) {
      val ndim = 1 + rnd.nextInt(3)
      val shard = Array.fill(ndim)(2 + rnd.nextInt(6))
      val inner = shard.map(divisorOf)
      val extent = shard.map(s => 1 + rnd.nextInt(s))
      val base = chains(rnd.nextInt(chains.length))
      val chain =
        (if (ndim > 1 && rnd.nextBoolean()) base.transposed(randomOrder(ndim)) else base)
          .sharded(inner.toSeq)
      val meta = metaOf(zt, shard.toSeq, chain, bigEndian = false)
      // in-extent elements carry data, padding carries fill — what every
      // writer hands the encoder for an edge chunk
      val vals = (0 until shard.product).map { e =>
        val idx = ScanGeometry.indexOf(e, shard)
        if (idx.indices.forall(d => idx(d) < extent(d))) value(zt) else meta.fillValue
      }
      assertRoundTrip(meta, vals, extent.toSeq,
        s"$zt shard ${shard.mkString("x")} inner ${inner.mkString("x")} " +
          s"extent ${extent.mkString("x")} case $i")
    }
  }

  test("big-endian bytes roundtrip at the top level and inside a shard") {
    for (zt <- types if zt.byteWidth > 0; i <- 0 until 5) {
      val chunk = Seq(2 + rnd.nextInt(4), 2 + rnd.nextInt(4))
      val chain = chains(rnd.nextInt(chains.length))
      val top = metaOf(zt, chunk, chain, bigEndian = true)
      assert(Codecs.endianness(top.codecs) == java.nio.ByteOrder.BIG_ENDIAN)
      assertRoundTrip(top, IndexedSeq.fill(chunk.product)(value(zt)), Nil,
        s"$zt big-endian case $i")
      val sharded = metaOf(zt, chunk, chain.sharded(chunk.map(divisorOf)), bigEndian = true)
      assert(Codecs.endianness(sharded.shardingSpec.get.innerCodecs) ==
        java.nio.ByteOrder.BIG_ENDIAN)
      assertRoundTrip(sharded, IndexedSeq.fill(chunk.product)(value(zt)), Nil,
        s"$zt big-endian inner case $i")
    }
  }

  test("a big-endian chunk really is stored big-endian") {
    val meta = metaOf(ZarrType.Int32, Seq(2), ZarrWriter.CodecChain.raw, bigEndian = true)
    assert(ChunkColumn.encode(meta, IndexedSeq(1, 258)).toSeq == Seq[Byte](0, 0, 0, 1, 0, 0, 1, 2))
  }
}
