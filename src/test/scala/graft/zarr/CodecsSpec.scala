package graft.zarr

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Codec-chain roundtrips (reference delegates these to the `zarrs` crate;
  * ours are hand-built — SURVEY §7.4 risk #1, so property-test them).
  * (scalatestplus isn't in the offline cache; generators are sampled
  * directly.) */
class CodecsSpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val payloads = Gen.oneOf(
    Gen.const(Array.empty[Byte]),
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    // highly compressible
    Gen.choose(1, 10000).map(n => Array.fill[Byte](n)(42)),
    // sequential longs shuffled-friendly
    Gen.choose(1, 1000).map { n =>
      val bb = java.nio.ByteBuffer.allocate(n * 8)
      (0 until n).foreach(i => bb.putLong(i.toLong))
      bb.array()
    })

  test("gzip roundtrip") {
    forAll(payloads) { b => assert(Codecs.Gzip(5).decode(Codecs.Gzip(5).encode(b)).sameElements(b)) }
  }

  test("zstd roundtrip") {
    forAll(payloads) { b => assert(Codecs.Zstd(3).decode(Codecs.Zstd(3).encode(b)).sameElements(b)) }
  }

  test("crc32c roundtrip + corruption detection") {
    val b = Array.tabulate[Byte](100)(_.toByte)
    val enc = Codecs.Crc32c.encode(b)
    assert(Codecs.Crc32c.decode(enc).sameElements(b))
    enc(3) = (enc(3) ^ 0xff).toByte
    intercept[ZarrException](Codecs.Crc32c.decode(enc))
  }

  test("blosc lz4 shuffle roundtrip") {
    forAll(payloads) { b =>
      val c = Codecs.Blosc(cname = "lz4", typesize = 8)
      assert(c.decode(c.encode(b)).sameElements(b))
    }
  }

  test("blosc zstd noshuffle roundtrip") {
    forAll(payloads) { b =>
      val c = Codecs.Blosc(cname = "zstd", shuffle = Codecs.Blosc.NOSHUFFLE, typesize = 4)
      assert(c.decode(c.encode(b)).sameElements(b))
    }
  }

  test("zstd frames without embedded content size (streaming writers) decode") {
    val raw = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zos.write(raw); zos.close()
    val enc = bos.toByteArray
    // streaming frames omit the optional content-size header field
    assert(com.github.luben.zstd.Zstd.getFrameContentSize(enc) <= 0,
      "fixture must exercise the unknown-content-size path")
    assert(Codecs.Zstd().decode(enc).sameElements(raw))
    // the one-shot form still roundtrips
    assert(Codecs.Zstd().decode(Codecs.Zstd().encode(raw)).sameElements(raw))
  }

  test("blosc incompressible data → memcpy form") {
    val rnd = new scala.util.Random(7)
    val b = Array.fill[Byte](4096)(rnd.nextInt().toByte)
    val c = Codecs.Blosc(cname = "lz4", shuffle = Codecs.Blosc.NOSHUFFLE, typesize = 1)
    val enc = c.encode(b)
    assert(c.decode(enc).sameElements(b))
  }

  /** Simulates stock c-blosc ≥ 1.11 output (what zarr-python/numcodecs
    * writes for lz4+shuffle): each block byte-shuffled BLOCK-LOCALLY
    * (blosc_c filters the block's own bytes, never a global transpose),
    * each FULL block split into `typesize` independently-compressed lane
    * streams (csize-prefixed), leftover block unsplit, DONT_SPLIT flag
    * clear. */
  private def encodeSplitBlosc(raw: Array[Byte], typesize: Int, blocksize: Int): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    require(raw.length % typesize == 0 && blocksize % typesize == 0)
    val n = raw.length
    val nblocks = (n + blocksize - 1) / blocksize
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
    val blocks = (0 until nblocks).map { i =>
      val off = i * blocksize
      val bsize = math.min(blocksize, n - off)
      val shuf = Codecs.Blosc.shuffleRange(raw, off, bsize, typesize)
      val nsplits = if (bsize == blocksize && typesize > 1 && typesize <= 16) typesize else 1
      val neblock = bsize / nsplits
      val bos = new java.io.ByteArrayOutputStream()
      (0 until nsplits).foreach { j =>
        val srcOff = j * neblock
        val out = new Array[Byte](lz4.maxCompressedLength(neblock))
        val m = lz4.compress(shuf, srcOff, neblock, out, 0)
        val (stored, csize) =
          if (m >= neblock) (java.util.Arrays.copyOfRange(shuf, srcOff, srcOff + neblock), neblock)
          else (java.util.Arrays.copyOf(out, m), m)
        bos.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(csize).array())
        bos.write(stored)
      }
      bos.toByteArray
    }
    val headerLen = 16 + 4 * nblocks
    val total = headerLen + blocks.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put((0x1 /* DOSHUFFLE */ | (1 << 5) /* lz4 */).toByte) // DONT_SPLIT clear
      .put(typesize.toByte)
      .putInt(n).putInt(blocksize).putInt(total)
    var pos = headerLen
    blocks.foreach { b => bb.putInt(pos); pos += b.length }
    blocks.foreach(bb.put)
    bb.array()
  }

  test("multi-split blosc buffers (stock c-blosc layout) decode correctly (ADVICE r1 #5)") {
    val n = 800 // 100 longs
    val bb = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 100).foreach(i => bb.putLong(i.toLong * 3 - 50))
    val raw = bb.array()
    // single full block; blocks + leftover; many small blocks
    Seq(800, 256, 64).foreach { blocksize =>
      val enc = encodeSplitBlosc(raw, 8, blocksize)
      val got = Codecs.Blosc.decode(enc)
      assert(got.sameElements(raw), s"blocksize=$blocksize")
    }
    // typesize 4 lanes too
    val enc4 = encodeSplitBlosc(raw, 4, 400)
    assert(Codecs.Blosc.decode(enc4).sameElements(raw))
  }

  test("our encoder sets DONT_SPLIT so c-blosc readers parse the layout") {
    val bb = java.nio.ByteBuffer.allocate(512).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 64).foreach(i => bb.putLong(i.toLong))
    val raw = bb.array()
    val enc = Codecs.Blosc(cname = "lz4", typesize = 8).encode(raw)
    assert((enc(2) & 0x10) != 0, "DONT_SPLIT flag must be set on single-stream blocks")
    assert(Codecs.Blosc.decode(enc).sameElements(raw))
  }

  /** Independent c-blosc-semantics decoder (per-block streams, BLOCK-LOCAL
    * unshuffle, memcpyed = original bytes) used to prove OUR encoder's
    * layout is what stock c-blosc would reconstruct — deliberately not
    * calling Blosc.decode. */
  private def referenceDecode(enc: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.wrap(enc).order(ByteOrder.LITTLE_ENDIAN)
    bb.get(); bb.get()
    val flags = bb.get() & 0xff
    val ts = bb.get() & 0xff
    val nbytes = bb.getInt
    val blocksize = bb.getInt
    bb.getInt
    val out = new Array[Byte](nbytes)
    if ((flags & 0x2) != 0) { bb.get(out); return out } // memcpyed: no filters
    val nblocks = (nbytes + blocksize - 1) / blocksize
    val bstarts = (0 until nblocks).map(_ => bb.getInt)
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().safeDecompressor()
    (0 until nblocks).foreach { i =>
      val off = i * blocksize
      val bsize = math.min(blocksize, nbytes - off)
      val dontSplit = (flags & 0x10) != 0
      val nsplits =
        if (!dontSplit && bsize == blocksize && ts > 1 && ts <= 16 && bsize % ts == 0) ts else 1
      val neblock = bsize / nsplits
      val block = new Array[Byte](bsize)
      var src = bstarts(i)
      (0 until nsplits).foreach { j =>
        val csize = ByteBuffer.wrap(enc, src, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
        src += 4
        if (csize == neblock) System.arraycopy(enc, src, block, j * neblock, neblock)
        else lz4.decompress(enc, src, csize, block, j * neblock, neblock)
        src += csize
      }
      if ((flags & 0x1) != 0 && ts > 1) {
        // blosc_d: unshuffle THIS block's bytes in isolation
        val n = bsize / ts
        (0 until n).foreach(k => (0 until ts).foreach(j =>
          out(off + k * ts + j) = block(j * n + k)))
        System.arraycopy(block, n * ts, out, off + n * ts, bsize - n * ts)
      } else System.arraycopy(block, 0, out, off, bsize)
    }
    out
  }

  test("multi-block chunks: our shuffle layout is block-local (what c-blosc reconstructs)") {
    // 768 KB of longs → 3 blocks at the 256 KB cap; values patterned so a
    // global-vs-per-block shuffle mixup cannot cancel out
    val n = 96 * 1024
    val bb = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => bb.putLong(i.toLong * 2654435761L))
    val raw = bb.array()
    val enc = Codecs.Blosc(cname = "lz4", typesize = 8).encode(raw)
    assert(referenceDecode(enc).sameElements(raw),
      "a c-blosc-semantics reader must reconstruct our multi-block output")
    assert(Codecs.Blosc.decode(enc).sameElements(raw))
    // and the reverse interop: stock-layout multi-block chunks (split,
    // per-block shuffle) decode correctly through our reader
    val stock = encodeSplitBlosc(raw, 8, 256 * 1024)
    assert(Codecs.Blosc.decode(stock).sameElements(raw))
  }

  test("byte shuffle/unshuffle inverse") {
    forAll2(Gen.choose(1, 64), Gen.choose(1, 200)) { (ts: Int, n: Int) =>
      val b = Array.tabulate[Byte](ts * n)(i => (i * 31).toByte)
      assert(Codecs.Blosc.byteUnshuffle(Codecs.Blosc.byteShuffle(b, ts), ts).sameElements(b))
    }
  }

  test("vlen-utf8 roundtrip") {
    forAll(Gen.listOf(Gen.alphaNumStr)) { ss =>
      val a = ss.toArray
      assert(ChunkColumn.decodeVlenUtf8(ChunkColumn.encodeVlenUtf8(a)).sameElements(a))
    }
  }

  test("v2 delta filter: roundtrip for all widths, integer wrap, endianness") {
    // int roundtrip across widths incl. values that wrap on subtract
    for ((w, big) <- Seq((1, false), (2, false), (4, false), (8, false),
        (4, true), (8, true)); be <- Seq(false, true)) {
      val d = Codecs.V2Delta(w, big, be)
      val bb = java.nio.ByteBuffer.allocate(16 * w)
        .order(if (be) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 16).foreach { i =>
        (w, big) match {
          case (1, _) => bb.put(((i * 117 - 128) & 0xff).toByte)
          case (2, _) => bb.putShort((i * 9973 - 30000).toShort)
          case (4, false) => bb.putInt(Int.MinValue + i * 715827882)
          case (8, false) => bb.putLong(Long.MinValue + i.toLong * 1537228672809129301L)
          case (4, true) => bb.putFloat(i * 2.5f - 10f)
          case (8, true) => bb.putDouble(i * 0.25 - 1.5)
          case _ => fail("unreachable")
        }
      }
      val raw = bb.array()
      assert(d.decode(d.encode(raw)).sameElements(raw), s"w=$w float=$big big=$be")
    }
    // decode is a RUNNING SUM (not a self-inverse): [5, 2, -3] -> [5, 7, 4]
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    val src = java.nio.ByteBuffer.allocate(12).order(le)
    Seq(5, 2, -3).foreach(src.putInt)
    val out = java.nio.ByteBuffer
      .wrap(Codecs.V2Delta(4, float = false, big = false).decode(src.array())).order(le)
    assert(Seq(out.getInt(0), out.getInt(4), out.getInt(8)) == Seq(5, 7, 4))
    // length not a multiple of the width is a loud error
    intercept[ZarrException] {
      Codecs.V2Delta(4, float = false, big = false).decode(new Array[Byte](6))
    }
  }

  test("v2 fixedscaleoffset: decode formula, wraps like numpy on encode, loud on misaligned") {
    val fso = Codecs.V2FixedScaleOffset(offset = 5.0, scale = 4.0,
      dtypeWidth = 8, astypeWidth = 2, astypeSigned = true, astypeBig = true)
    // exact quarters roundtrip losslessly through the quantizer
    val xs = Array(5.25, 4.75, 12.0, -3.5)
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putDouble)
    val dec = java.nio.ByteBuffer.wrap(fso.decode(fso.encode(bb.array())))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.indices.foreach(i => assert(dec.getDouble(i * 8) == xs(i), s"x[$i]"))
    intercept[ZarrException] { fso.decode(new Array[Byte](3)) }
  }

  test("v2 packbits: roundtrip all lengths incl. 0 and non-multiples of 8; bad padding is loud") {
    (0 to 19).foreach { n =>
      val bools = Array.tabulate[Byte](n)(i => if ((i * 5 + 3) % 7 < 3) 1 else 0)
      val enc = Codecs.V2PackBits.encode(bools)
      assert(enc.length == 1 + (n + 7) / 8)
      assert(Codecs.V2PackBits.decode(enc).sameElements(bools), s"n=$n")
    }
    intercept[ZarrException] { Codecs.V2PackBits.decode(Array.emptyByteArray) }
    intercept[ZarrException] { Codecs.V2PackBits.decode(Array[Byte](9, 0)) }
  }

  test("v2 lz4: block-container roundtrip, pinned layouts, loud on bad input") {
    val c = Codecs.V2Lz4()
    // roundtrip arbitrary buffers (incl. empty) through our own encode
    forAll(Gen.choose(0, 4096)) { n =>
      val data = Array.tabulate[Byte](n)(i => ((i * 37 + n) % 251).toByte)
      assert(java.util.Arrays.equals(c.decode(c.encode(data)), data))
    }
    // PINNED layout 1 — literal-only block with extended length (the
    // generator's independent pure-Python encoder emits exactly this):
    // u32-LE size prefix, token F0, extLen, literals
    val raw = "hello lz4 block container!".getBytes("UTF-8") // 26 bytes
    val lit = Array[Byte]((15 << 4).toByte, (raw.length - 15).toByte) ++ raw
    val encLit = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(raw.length).array() ++ lit
    assert(java.util.Arrays.equals(c.decode(encLit), raw))
    // PINNED layout 2 — match-bearing block with an OVERLAPPING copy
    // (the generator's pattern shape: 8 literals, match len 12 at
    // offset 8, 12-literal tail)
    val pat = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val full = pat ++ pat ++ pat ++ pat
    val mblk = Array[Byte](((8 << 4) | (12 - 4)).toByte) ++ pat ++
      Array[Byte](8, 0) ++ Array[Byte]((12 << 4).toByte) ++ full.slice(20, 32)
    val encM = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(32).array() ++ mblk
    assert(java.util.Arrays.equals(c.decode(encM), full))
    // truncated prefix, negative size, and wrong decoded length are loud
    intercept[ZarrException](c.decode(Array[Byte](1, 2)))
    intercept[ZarrException](c.decode(Array[Byte](-1, -1, -1, -1, 0)))
    val shortEnc = java.nio.ByteBuffer.allocate(5)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(64).put(0.toByte).array()
    intercept[Exception](c.decode(shortEnc))
  }

  test("v2 dtype fuzz: every typestr either parses or fails LOUD — never a silent guess") {
    // random-ish typestrs over the full alphabet the parser touches:
    // orders x kinds x widths/units, plus malformed tails
    val orders = Seq("<", ">", "|", "=", "?", "")
    val kinds = Seq("b", "i", "u", "f", "S", "U", "O", "M", "m", "x")
    val tails = Seq("", "1", "2", "4", "8", "16", "0", "-1", "8[ns]", "8[s]",
      "8[parsec]", "8[", "8]", "3", "abc", "8[ns]x")
    var parsed = 0
    var refused = 0
    for (o <- orders; k <- kinds; t <- tails) {
      val ts = o + k + t
      try {
        val d = ZarrMeta.v2Dtype(ts, "fuzz")
        parsed += 1
        // anything that parses must carry a concrete internal type and,
        // for time dtypes, a validated unit
        assert(d.t != null)
        d.timeMeta.foreach { case (kind, unit) =>
          assert(Set("datetime64", "timedelta64")(kind) && unit.nonEmpty)
        }
      } catch {
        case _: ZarrException => refused += 1 // loud is the contract
      }
    }
    assert(parsed > 0 && refused > 0, s"parsed=$parsed refused=$refused")
    // spot-pin the accept set hasn't silently widened: only these kinds
    // may parse at all
    for (o <- orders; k <- Seq("x", "?", "q"); t <- tails)
      intercept[ZarrException](ZarrMeta.v2Dtype(o + k + t, "fuzz"))
  }

  test("v2 standalone shuffle filter: inverse, tail bytes carried verbatim") {
    forAll2(Gen.choose(1, 16), Gen.choose(0, 200)) { (es: Int, len: Int) =>
      val b = Array.tabulate[Byte](len)(i => (i * 37 + 11).toByte)
      val sh = Codecs.V2Shuffle(es)
      assert(sh.decode(sh.encode(b)).sameElements(b))
    }
    // pinned layout: es=2 over [a0 a1 b0 b1 c0] -> [a0 b0 a1 b1 | c0]
    val enc = Codecs.V2Shuffle(2).encode(Array[Byte](1, 2, 3, 4, 5))
    assert(enc.toSeq == Seq[Byte](1, 3, 2, 4, 5))
  }

  test("null binary elements encode as the empty payload (Bytes fill), like null Str -> \"\"") {
    // ADVICE r20: a null element must map to the Bytes fill (empty
    // payload), mirroring the Str path — not throw per-element
    val viaEncoder = ChunkColumn.encodeElems(ZarrType.Bytes,
      Array[Any](null, Array[Byte](1, 2, 3)))
    for (framed <- Seq(viaEncoder)) {
      val back = ChunkColumn.decodeVlenBytes(framed)
      assert(back.length == 2)
      assert(back(0).isEmpty, "null must decode as the empty payload")
      assert(back(1).toSeq == Seq[Byte](1, 2, 3))
    }
    // a non-binary element still refuses loudly
    intercept[ZarrException] {
      ChunkColumn.encodeElems(ZarrType.Bytes, Array[Any]("nope"))
    }
  }
}
