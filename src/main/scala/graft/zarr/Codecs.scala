package graft.zarr

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32C, Deflater, GZIPInputStream, GZIPOutputStream}

/** Zarr v3 codec chain (reference delegates this to the `zarrs` crate —
  * `zarr_data_stream.rs:383-387`; reimplemented on the JVM per SURVEY §7.4
  * risk #1, using only Spark-classpath libraries: java.util.zip, lz4-java,
  * zstd-jni).
  *
  * A v3 codec list is ordered array→bytes→bytes...; decoding applies the
  * bytes→bytes codecs in reverse, then interprets the final buffer via the
  * array→bytes codec ("bytes" with endianness, or "vlen-utf8").
  */
object Codecs {

  /** Reversible bytes→bytes transform. */
  sealed trait BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte]
    def decode(enc: Array[Byte]): Array[Byte]
  }

  final case class Gzip(level: Int = 5) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
      val gz = new GZIPOutputStream(bos) { this.`def`.setLevel(level) }
      gz.write(raw); gz.close()
      bos.toByteArray
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(enc))
      in.readAllBytes()
    }
  }

  /** Raw zlib (RFC 1950) — numcodecs' `zlib`, the default-adjacent Zarr
    * v2 compressor family. Not a v3 registered codec; it enters codec
    * lists via the v2 metadata translation ([[ZarrMeta.parseV2]]). */
  final case class Zlib(level: Int = 1) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val d = new Deflater(level)
      try {
        d.setInput(raw); d.finish()
        val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        bos.toByteArray
      } finally d.end()
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(enc)
        val bos = new ByteArrayOutputStream(enc.length * 3 + 64)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput())
            throw new ZarrException("truncated zlib stream")
          // inflate() can also return 0 without consuming input when the
          // stream demands a preset dictionary (FDICT) or otherwise stalls;
          // without this guard a crafted chunk spins the executor forever
          if (n == 0 && !inf.finished())
            throw new ZarrException(
              if (inf.needsDictionary()) "zlib stream requires a preset dictionary (unsupported)"
              else "zlib inflate made no progress (corrupt stream)")
          bos.write(buf, 0, n)
        }
        bos.toByteArray
      } finally inf.end()
    }
  }

  /** numcodecs `Delta` filter (Zarr v2 `filters` stacks — the common
    * climate/geo store filter): element i stores `raw[i] - raw[i-1]`
    * (element 0 verbatim) in the array's own dtype; decode is the
    * running sum. Integer widths wrap (two's complement — exactly
    * numpy's wrapping subtract); float variants use IEEE arithmetic as
    * numcodecs does. Operates on the STORED element order (before any
    * Fortran-order untranspose), matching numcodecs' flatten-then-diff
    * of the chunk buffer. */
  final case class V2Delta(width: Int, float: Boolean, big: Boolean) extends BytesCodec {
    private def order = if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    private def check(b: Array[Byte]): Int = {
      if (b.length % width != 0)
        throw new ZarrException(
          s"delta buffer of ${b.length} bytes is not a multiple of element width $width")
      b.length / width
    }
    def encode(raw: Array[Byte]): Array[Byte] = transform(raw, decodeDir = false)
    def decode(enc: Array[Byte]): Array[Byte] = transform(enc, decodeDir = true)
    private def transform(in: Array[Byte], decodeDir: Boolean): Array[Byte] = {
      val n = check(in)
      val out = new Array[Byte](in.length)
      val ib = ByteBuffer.wrap(in).order(order)
      val ob = ByteBuffer.wrap(out).order(order)
      var i = 0
      (width, float) match {
        case (1, false) =>
          var acc: Byte = 0
          while (i < n) {
            val v = ib.get(i)
            if (decodeDir) { acc = (acc + v).toByte; ob.put(i, acc) }
            else { ob.put(i, (v - acc).toByte); acc = v }
            i += 1
          }
        case (2, false) =>
          var acc: Short = 0
          while (i < n) {
            val v = ib.getShort(i * 2)
            if (decodeDir) { acc = (acc + v).toShort; ob.putShort(i * 2, acc) }
            else { ob.putShort(i * 2, (v - acc).toShort); acc = v }
            i += 1
          }
        case (4, false) =>
          var acc = 0
          while (i < n) {
            val v = ib.getInt(i * 4)
            if (decodeDir) { acc += v; ob.putInt(i * 4, acc) }
            else { ob.putInt(i * 4, v - acc); acc = v }
            i += 1
          }
        case (8, false) =>
          var acc = 0L
          while (i < n) {
            val v = ib.getLong(i * 8)
            if (decodeDir) { acc += v; ob.putLong(i * 8, acc) }
            else { ob.putLong(i * 8, v - acc); acc = v }
            i += 1
          }
        case (4, true) =>
          var acc = 0f
          while (i < n) {
            val v = ib.getFloat(i * 4)
            if (decodeDir) { acc += v; ob.putFloat(i * 4, acc) }
            else { ob.putFloat(i * 4, v - acc); acc = v }
            i += 1
          }
        case (8, true) =>
          var acc = 0d
          while (i < n) {
            val v = ib.getDouble(i * 8)
            if (decodeDir) { acc += v; ob.putDouble(i * 8, acc) }
            else { ob.putDouble(i * 8, v - acc); acc = v }
            i += 1
          }
        case other =>
          throw new ZarrException(s"Unsupported delta element spec $other")
      }
      out
    }
  }

  /** numcodecs `FixedScaleOffset` filter: lossy float→int quantization
    * (`enc = round_half_even((x - offset) * scale)` stored in `astype`;
    * decode `x = enc / scale + offset` computed in float64 then cast to
    * the array dtype). The third common climate-store filter after
    * delta/shuffle. `astypeWidth`/`astypeSigned`/`astypeBig` describe
    * the stored integer; `dtypeWidth`∈{4,8} selects float32/float64
    * output. Encode exists for roundtrip tests only (reads are the
    * product surface); out-of-range encode values wrap exactly like
    * numpy's astype C-cast. */
  final case class V2FixedScaleOffset(
      offset: Double, scale: Double,
      dtypeWidth: Int, astypeWidth: Int, astypeSigned: Boolean, astypeBig: Boolean)
      extends BytesCodec {
    private def aOrder = if (astypeBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    def decode(enc: Array[Byte]): Array[Byte] = {
      if (enc.length % astypeWidth != 0)
        throw new ZarrException(
          s"fixedscaleoffset buffer of ${enc.length} bytes is not a multiple of $astypeWidth")
      val n = enc.length / astypeWidth
      val ib = ByteBuffer.wrap(enc).order(aOrder)
      val out = new Array[Byte](n * dtypeWidth)
      // the decoded floats are little-endian: the v2 translation puts
      // this codec BEFORE the dtype's endian marker cannot apply —
      // ZarrMeta emits a little-endian "bytes" codec alongside it
      val ob = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        val stored: Double = astypeWidth match {
          case 1 => val b = ib.get(i); if (astypeSigned) b.toDouble else (b & 0xff).toDouble
          case 2 => val s = ib.getShort(i * 2); if (astypeSigned) s.toDouble else (s & 0xffff).toDouble
          case 4 => val v = ib.getInt(i * 4); if (astypeSigned) v.toDouble else (v & 0xffffffffL).toDouble
          case 8 => ib.getLong(i * 8).toDouble // u8 beyond 2^63 unsupported upstream
          case w => throw new ZarrException(s"fixedscaleoffset astype width $w")
        }
        val v = stored / scale + offset
        if (dtypeWidth == 4) ob.putFloat(i * 4, v.toFloat) else ob.putDouble(i * 8, v)
        i += 1
      }
      out
    }
    def encode(raw: Array[Byte]): Array[Byte] = {
      val n = raw.length / dtypeWidth
      val ib = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Byte](n * astypeWidth)
      val ob = ByteBuffer.wrap(out).order(aOrder)
      var i = 0
      while (i < n) {
        val x = if (dtypeWidth == 4) ib.getFloat(i * 4).toDouble else ib.getDouble(i * 8)
        val q = Math.rint((x - offset) * scale).toLong
        astypeWidth match {
          case 1 => ob.put(i, q.toByte)
          case 2 => ob.putShort(i * 2, q.toShort)
          case 4 => ob.putInt(i * 4, q.toInt)
          case 8 => ob.putLong(i * 8, q)
          case w => throw new ZarrException(s"fixedscaleoffset astype width $w")
        }
        i += 1
      }
      out
    }
  }

  /** numcodecs `PackBits` filter (bool arrays): one leading byte holds
    * the count of MSB-first padding bits, then `packbits` bytes; decode
    * expands back to one 0/1 byte per element. */
  case object V2PackBits extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val n = raw.length
      val leftover = n % 8
      val padded = if (leftover == 0) 0 else 8 - leftover
      val out = new Array[Byte](1 + (n + 7) / 8)
      out(0) = padded.toByte
      var i = 0
      while (i < n) {
        if (raw(i) != 0) out(1 + i / 8) = (out(1 + i / 8) | (0x80 >> (i % 8))).toByte
        i += 1
      }
      out
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      if (enc.isEmpty) throw new ZarrException("packbits chunk is empty")
      val padded = enc(0) & 0xff
      if (padded > 7)
        throw new ZarrException(s"packbits padding byte $padded out of range")
      val nBits = (enc.length - 1) * 8 - padded
      if (nBits < 0) throw new ZarrException("packbits chunk shorter than its padding")
      val out = new Array[Byte](nBits)
      var i = 0
      while (i < nBits) {
        out(i) = if ((enc(1 + i / 8) & (0x80 >> (i % 8))) != 0) 1 else 0
        i += 1
      }
      out
    }
  }

  /** numcodecs standalone `Shuffle` filter: byte-transpose so all 0th
    * element bytes come first, then all 1st bytes, …; a trailing
    * remainder shorter than one element is carried verbatim at the end
    * (numcodecs' documented layout). Distinct from blosc's per-BLOCK
    * internal shuffle — this one spans the whole buffer. */
  final case class V2Shuffle(elementSize: Int) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val count = raw.length / elementSize
      val out = new Array[Byte](raw.length)
      var i = 0
      while (i < count) {
        var j = 0
        while (j < elementSize) {
          out(j * count + i) = raw(i * elementSize + j)
          j += 1
        }
        i += 1
      }
      val off = count * elementSize
      System.arraycopy(raw, off, out, off, raw.length - off)
      out
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val count = enc.length / elementSize
      val out = new Array[Byte](enc.length)
      var i = 0
      while (i < count) {
        var j = 0
        while (j < elementSize) {
          out(i * elementSize + j) = enc(j * count + i)
          j += 1
        }
        i += 1
      }
      val off = count * elementSize
      System.arraycopy(enc, off, out, off, enc.length - off)
      out
    }
  }

  /** numcodecs `BZ2` (Zarr v2 compressor) via the Spark-bundled
    * commons-compress. */
  final case class Bz2(level: Int = 9) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
      val out = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, math.max(1, math.min(9, level)))
      out.write(raw); out.close()
      bos.toByteArray
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(new java.io.ByteArrayInputStream(enc))
      try in.readAllBytes() finally in.close()
    }
  }

  /** numcodecs `LZMA` (Zarr v2 compressor): its default container is
    * the XZ format (python `lzma.FORMAT_XZ`), decoded via the
    * Spark-bundled org.tukaani.xz. Non-XZ formats (FORMAT_ALONE/RAW)
    * are not produced by default numcodecs configs and fail loudly in
    * the XZ reader rather than decoding garbage. */
  final case class Lzma(preset: Int = 1) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
      val opts = new org.tukaani.xz.LZMA2Options(math.max(0, math.min(9, preset)))
      val out = new org.tukaani.xz.XZOutputStream(bos, opts)
      out.write(raw); out.close()
      bos.toByteArray
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val in = new org.tukaani.xz.XZInputStream(
        new java.io.ByteArrayInputStream(enc))
      try in.readAllBytes() finally in.close()
    }
  }

  /** numcodecs `LZ4` (Zarr v2 compressor): a 4-byte LITTLE-ENDIAN
    * uncompressed-size prefix followed by ONE raw LZ4 block — NOT the
    * LZ4 frame format (no magic, no frame header), so it must not be
    * routed through a frame decoder. Decoded via the Spark-bundled
    * lz4-java block API ([[Blosc]] uses the same factory for its
    * per-block inner codec). `acceleration` affects compression effort
    * only; the block format is identical at every setting, so decode
    * ignores it. */
  final case class V2Lz4(acceleration: Int = 1) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val c = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
      val max = c.maxCompressedLength(raw.length)
      val out = new Array[Byte](4 + max)
      ByteBuffer.wrap(out, 0, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(raw.length)
      val n = c.compress(raw, 0, raw.length, out, 4, max)
      java.util.Arrays.copyOf(out, 4 + n)
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      if (enc.length < 4)
        throw new ZarrException(s"truncated lz4 chunk (${enc.length} bytes)")
      val n = ByteBuffer.wrap(enc, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (n < 0)
        throw new ZarrException(s"invalid lz4 uncompressed size $n")
      val out = new Array[Byte](n)
      if (n > 0) {
        val read = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()
          .safeDecompressor().decompress(enc, 4, enc.length - 4, out, 0)
        if (read != n)
          throw new ZarrException(s"lz4 chunk decoded $read bytes, expected $n")
      }
      out
    }
  }

  final case class Zstd(level: Int = 3) extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(raw, level)
    def decode(enc: Array[Byte]): Array[Byte] = {
      // the frame-header content size is OPTIONAL in the zstd format —
      // streaming compressors omit it and getFrameContentSize returns a
      // negative sentinel; such spec-valid chunks must decode via the
      // streaming API instead of crashing on a negative allocation
      val n = com.github.luben.zstd.Zstd.getFrameContentSize(enc)
      if (n > 0 && n <= Int.MaxValue) com.github.luben.zstd.Zstd.decompress(enc, n.toInt)
      else if (n == 0) Array.emptyByteArray
      else {
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(enc))
        try in.readAllBytes() finally in.close()
      }
    }
  }

  /** CRC32C checksum codec: 4-byte little-endian checksum appended. */
  case object Crc32c extends BytesCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      val c = new CRC32C(); c.update(raw)
      val out = java.util.Arrays.copyOf(raw, raw.length + 4)
      ByteBuffer.wrap(out, raw.length, 4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(c.getValue.toInt)
      out
    }
    def decode(enc: Array[Byte]): Array[Byte] = {
      val body = java.util.Arrays.copyOf(enc, enc.length - 4)
      val want = ByteBuffer.wrap(enc, enc.length - 4, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val c = new CRC32C(); c.update(body)
      if (c.getValue.toInt != want) throw new ZarrException("crc32c mismatch")
      body
    }
  }

  /** Blosc v1 container (the codec every reference fixture uses —
    * `lib.rs:159-168` blosc-LZ4 level 5). Pure-JVM implementation of the
    * public c-blosc format: 16-byte header, optional byte-shuffle filter,
    * per-block compression with LZ4/Zstd inner codecs.
    *
    * Split interop (c-blosc ≥ 1.11 / zarr-python's numcodecs): full
    * blocks are split into `typesize` independently compressed
    * sub-streams (one per shuffle lane) unless header flag bit 4
    * (DONT_SPLIT) is set. This encoder emits one stream per block and
    * SETS the flag; the decoder honors the flag and decodes both
    * layouts, so chunks written by stock zarr-python (lz4+shuffle →
    * split) read correctly.
    */
  final case class Blosc(
      cname: String = "lz4",
      clevel: Int = 5,
      shuffle: Int = Blosc.SHUFFLE,
      typesize: Int = 8,
      blocksize: Int = 0) extends BytesCodec {

    private val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()

    private def compressorCode: Int = cname match {
      case "lz4" | "lz4hc" => 1
      case "zstd" => 4
      case other => throw new ZarrException(s"Unsupported blosc cname: $other")
    }

    def encode(raw: Array[Byte]): Array[Byte] = {
      val n = raw.length
      val ts = math.max(1, typesize)
      val doShuffle = shuffle == Blosc.SHUFFLE && ts > 1 && n % ts == 0
      val bs0 = if (blocksize > 0) blocksize else math.min(math.max(n, 1), 256 * 1024)
      val bs = if (doShuffle) math.max(ts, bs0 - bs0 % ts) else bs0
      val nblocks = if (n == 0) 0 else (n + bs - 1) / bs

      val blocks = new Array[Array[Byte]](nblocks)
      var compressedTotal = 0
      var i = 0
      while (i < nblocks) {
        val off = i * bs
        val len = math.min(bs, n - off)
        // c-blosc applies the shuffle filter PER BLOCK (blosc_c shuffles
        // the block-local bytes before compressing) — a global shuffle
        // would interleave bytes across block boundaries and stock
        // c-blosc decoders would emit transposed garbage on any chunk
        // spanning more than one block
        val body =
          if (doShuffle) Blosc.shuffleRange(raw, off, len, ts)
          else java.util.Arrays.copyOfRange(raw, off, off + len)
        val comp = compressorCode match {
          case 1 =>
            val c = lz4.fastCompressor()
            val out = new Array[Byte](c.maxCompressedLength(len))
            val m = c.compress(body, 0, len, out, 0)
            java.util.Arrays.copyOf(out, m)
          case 4 =>
            com.github.luben.zstd.Zstd.compress(body, clevel)
        }
        // store the filtered block if compression didn't help
        // (csize == block len marker) — c-blosc stores post-shuffle bytes
        blocks(i) = if (comp.length >= len) body else comp
        compressedTotal += blocks(i).length + 4
        i += 1
      }

      val headerLen = 16 + 4 * nblocks
      val cbytes = headerLen + compressedTotal
      if (cbytes >= n + 16) {
        // incompressible: memcpy form — c-blosc stores the ORIGINAL
        // (unfiltered) bytes and decoders never unshuffle a memcpyed
        // container, so the shuffle flag must stay clear here
        val out = ByteBuffer.allocate(16 + n).order(ByteOrder.LITTLE_ENDIAN)
        out.put(2.toByte).put(1.toByte)
          .put((Blosc.MEMCPYED | Blosc.DONT_SPLIT_FLAG
            | (compressorCode << 5)).toByte)
          .put(ts.toByte)
          .putInt(n).putInt(bs).putInt(16 + n)
        out.put(raw)
        return out.array()
      }
      val out = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
      // DONT_SPLIT declares the one-stream-per-block layout this encoder
      // emits, so c-blosc ≥ 1.11 decoders (zarrs, numcodecs) read it back
      out.put(2.toByte).put(1.toByte)
        .put((Blosc.DONT_SPLIT_FLAG | (if (doShuffle) Blosc.DOSHUFFLE_FLAG else 0)
          | (compressorCode << 5)).toByte)
        .put(ts.toByte)
        .putInt(n).putInt(bs).putInt(cbytes)
      var pos = headerLen
      i = 0
      while (i < nblocks) { out.putInt(pos); pos += 4 + blocks(i).length; i += 1 }
      i = 0
      pos = headerLen
      while (i < nblocks) {
        val blkOff = i * bs
        val blkLen = math.min(bs, n - blkOff)
        val stored = blocks(i)
        out.putInt(if (stored.length >= blkLen) blkLen else stored.length)
        out.put(stored)
        i += 1
      }
      out.array()
    }

    def decode(enc: Array[Byte]): Array[Byte] = Blosc.decode(enc)
  }

  object Blosc {
    val NOSHUFFLE = 0
    val SHUFFLE = 1
    val BITSHUFFLE = 2
    private val DOSHUFFLE_FLAG = 0x1
    private val MEMCPYED = 0x2
    private val DOBITSHUFFLE_FLAG = 0x4
    private val DONT_SPLIT_FLAG = 0x10
    /** c-blosc MAX_SPLITS: blocks are lane-split only for typesize ≤ 16. */
    private val MAX_SPLITS = 16

    def decode(enc: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.wrap(enc).order(ByteOrder.LITTLE_ENDIAN)
      /* version */ bb.get(); /* versionlz */ bb.get()
      val flags = bb.get() & 0xff
      val typesize = bb.get() & 0xff
      val nbytes = bb.getInt
      val blocksize = bb.getInt
      /* cbytes */ bb.getInt
      if ((flags & DOBITSHUFFLE_FLAG) != 0)
        throw new ZarrException("blosc bitshuffle not supported")
      val shuffled = (flags & DOSHUFFLE_FLAG) != 0
      val compressor = (flags >> 5) & 0x7

      val body = new Array[Byte](nbytes)
      if ((flags & MEMCPYED) != 0) {
        // c-blosc memcpyed containers hold the ORIGINAL bytes; decoders
        // never unshuffle them regardless of the shuffle flag
        bb.get(body)
        body
      } else {
        val dontSplit = (flags & DONT_SPLIT_FLAG) != 0
        val nblocks = if (nbytes == 0) 0 else (nbytes + blocksize - 1) / blocksize
        val bstarts = new Array[Int](nblocks)
        var i = 0
        while (i < nblocks) { bstarts(i) = bb.getInt; i += 1 }
        val lz4dec = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().safeDecompressor()
        val blockTmp = new Array[Byte](math.min(blocksize.toLong, Int.MaxValue).toInt)
        i = 0
        while (i < nblocks) {
          val off = i * blocksize
          val bsize = math.min(blocksize, nbytes - off)
          // c-blosc ≥ 1.11: a full block is `typesize` independently
          // compressed lane sub-streams unless the DONT_SPLIT header flag
          // is set; leftover (partial trailing) blocks are never split.
          // The shuffle filter is BLOCK-LOCAL (blosc_d unshuffles each
          // block independently), so decompress the block's streams into
          // a scratch buffer and unshuffle that block into place.
          val leftover = bsize < blocksize
          val nsplits =
            if (!dontSplit && !leftover && typesize > 1 && typesize <= MAX_SPLITS &&
              bsize % typesize == 0) typesize
            else 1
          val neblock = bsize / nsplits
          val doUnshuffle = shuffled && typesize > 1
          val target = if (doUnshuffle) blockTmp else body
          var src = bstarts(i)
          var dst = if (doUnshuffle) 0 else off
          var j = 0
          while (j < nsplits) {
            val csize = ByteBuffer.wrap(enc, src, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
            src += 4
            if (csize == neblock) { // stored uncompressed
              System.arraycopy(enc, src, target, dst, neblock)
            } else compressor match {
              case 1 => lz4dec.decompress(enc, src, csize, target, dst, neblock)
              case 4 =>
                val out = com.github.luben.zstd.Zstd.decompress(
                  java.util.Arrays.copyOfRange(enc, src, src + csize), neblock)
                System.arraycopy(out, 0, target, dst, neblock)
              case other => throw new ZarrException(s"blosc compressor $other not supported")
            }
            src += csize
            dst += neblock
            j += 1
          }
          if (doUnshuffle) Blosc.unshuffleRangeInto(blockTmp, body, off, bsize, typesize)
          i += 1
        }
        body
      }
    }

    /** out[j*n + i] = in[i*ts + j] — the blosc byte-shuffle filter. */
    def byteShuffle(in: Array[Byte], ts: Int): Array[Byte] = {
      val n = in.length / ts
      val out = new Array[Byte](in.length)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < ts) { out(j * n + i) = in(i * ts + j); j += 1 }
        i += 1
      }
      out
    }

    def byteUnshuffle(in: Array[Byte], ts: Int): Array[Byte] = {
      val n = in.length / ts
      val out = new Array[Byte](in.length)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < ts) { out(i * ts + j) = in(j * n + i); j += 1 }
        i += 1
      }
      out
    }

    /** Block-local shuffle of `in[off, off+len)` (c-blosc's shuffle():
      * the ts-multiple prefix is lane-transposed, trailing
      * `len % ts` bytes are copied verbatim). */
    def shuffleRange(in: Array[Byte], off: Int, len: Int, ts: Int): Array[Byte] = {
      val out = new Array[Byte](len)
      val n = len / ts
      val main = n * ts
      var i = 0
      while (i < n) {
        var j = 0
        while (j < ts) { out(j * n + i) = in(off + i * ts + j); j += 1 }
        i += 1
      }
      System.arraycopy(in, off + main, out, main, len - main)
      out
    }

    /** Block-local unshuffle of `in[0, len)` into `out[outOff, outOff+len)`
      * (c-blosc's unshuffle(), leftover bytes copied verbatim). */
    def unshuffleRangeInto(
        in: Array[Byte], out: Array[Byte], outOff: Int, len: Int, ts: Int): Unit = {
      val n = len / ts
      val main = n * ts
      var i = 0
      while (i < n) {
        var j = 0
        while (j < ts) { out(outOff + i * ts + j) = in(j * n + i); j += 1 }
        i += 1
      }
      System.arraycopy(in, main, out, outOff + main, len - main)
    }
  }

  /** Every codec name this reader implements. A codec list naming
    * anything else MUST be rejected at metadata-parse time: `bytesCodecs`
    * is a `collect`, so an unrecognized codec would otherwise be silently
    * skipped and the chunk would decode to garbage — the same silent-
    * corruption class as applying blosc's shuffle at the wrong scope.
    * (The reference delegates this to `zarrs`, which errors on unknown
    * codecs; we must match that loudness.) */
  val knownCodecNames: Set[String] =
    Set("bytes", "endian", "vlen-utf8", "blosc", "gzip", "zstd", "crc32c",
      "sharding_indexed", "transpose", "zlib",
      // internal names minted by the v2 metadata translation only —
      // numcodecs filters and fixed-width string dtypes
      // ([[ZarrMeta.parseV2]]); never valid in a v3 zarr.json
      "v2-delta", "v2-shuffle", "v2-fixed-bytes-str", "v2-fixed-ucs4",
      "v2-fso", "v2-packbits", "v2-bz2", "v2-lzma", "v2-lz4",
      // variable-length binary object codec (v2 |O object arrays; also
      // zarr-python's experimental v3 name) — [[ChunkColumn.decodeVlenBytes]]
      "vlen-bytes")

  /** Validate a codec list for an array (or shard inner chain) of rank
    * `ndim`: unknown names are hard errors, a `transpose` order must be a
    * permutation of 0..ndim-1, and `transpose` alongside
    * `sharding_indexed` at the same level is unsupported (put the
    * transpose inside the shard's `codecs` instead — that is where
    * zarr-python nests it). */
  def validate(specs: Seq[CodecSpec], ndim: Int, ctx: String): Unit = {
    specs.foreach { s =>
      if (!knownCodecNames.contains(s.name))
        throw new ZarrException(s"Unsupported codec '${s.name}' for $ctx")
    }
    if (specs.exists(_.name == "transpose") && specs.exists(_.name == "sharding_indexed"))
      throw new ZarrException(
        s"transpose alongside sharding_indexed is not supported for $ctx " +
          "(nest the transpose inside the shard's codecs)")
    // spec-legal bytes→bytes codecs AFTER sharding_indexed apply to the
    // whole shard object; this reader's shard path slices the stored
    // bytes directly (ranged reads depend on stored offsets being
    // shard offsets), so accepting such a chain would decode garbage
    // (trailing gzip) or misalign the index (trailing crc32c with
    // index_location=end). Refuse loudly instead of silently ignoring —
    // the same degraded-never-wrong posture as every unknown codec.
    val shardIdx = specs.indexWhere(_.name == "sharding_indexed")
    if (shardIdx >= 0 && shardIdx != specs.length - 1)
      throw new ZarrException(
        s"codecs after sharding_indexed are not supported for $ctx " +
          "(this reader addresses stored shard bytes directly; nest " +
          "bytes->bytes codecs inside the shard's codecs)")
    transposeOrder(specs, ndim) // validates the permutation as a side effect
    ()
  }

  /** The codec list's NET dimension permutation, if non-identity. Zarr
    * v3 `transpose` semantics: encoded dimension j is input dimension
    * `order(j)` (encoded shape t(j) = s(order(j))). Multiple transpose
    * codecs compose in list order — encode applies t1 then t2, so the
    * stored dim j is t1-output dim o2(j) = input dim o1(o2(j)); taking
    * only the first would decode with a wrong permutation, the exact
    * silent-garbage class validate() exists to prevent. */
  def transposeOrder(specs: Seq[CodecSpec], ndim: Int): Option[Array[Int]] = {
    val orders = specs.collect { case CodecSpec("transpose", cfg) =>
      val node = cfg.getOrElse("order",
        throw new ZarrException("transpose codec requires an order"))
      if (!node.isArray || node.size() != ndim)
        throw new ZarrException(
          s"transpose order must list all $ndim dimensions, got $node")
      val order = Array.tabulate(node.size())(i => node.get(i).asInt(-1))
      if (order.sorted.toSeq != (0 until ndim))
        throw new ZarrException(
          s"transpose order ${order.mkString("[", ",", "]")} is not a permutation of 0..${ndim - 1}")
      order
    }
    orders
      .reduceOption((net, o) => Array.tabulate(ndim)(j => net(o(j))))
      .filter(o => !o.indices.forall(i => o(i) == i))
  }

  /** Encode-direction value gather B(b) = A(perm(b)) — the one shared
    * implementation for both the unsharded writer and shard inner
    * chunks. */
  def transposeValues(vals: scala.collection.IndexedSeq[Any], perm: Array[Int]): Array[Any] = {
    if (vals.length != perm.length)
      throw new ZarrException(s"chunk has ${vals.length} values, expected ${perm.length}")
    Array.tabulate[Any](vals.length)(b => vals(perm(b)))
  }

  /** Element permutation realizing the transpose: for encoded linear
    * index b (row-major over the transposed shape), `perm(b)` is the
    * decoded linear index a (row-major over `shape`). Encode reads
    * B(b) = A(perm(b)); decode scatters A(perm(b)) = B(b). */
  def transposePerm(shape: Array[Int], order: Array[Int]): Array[Int] = {
    val ndim = shape.length
    val strideA = new Array[Int](ndim)
    var acc = 1
    var d = ndim - 1
    while (d >= 0) { strideA(d) = acc; acc *= shape(d); d -= 1 }
    val shapeB = Array.tabulate(ndim)(j => shape(order(j)))
    val n = acc
    val perm = new Array[Int](n)
    val k = new Array[Int](ndim)
    var b = 0
    var a = 0
    while (b < n) {
      perm(b) = a
      var j = ndim - 1
      var carry = true
      while (carry && j >= 0) {
        k(j) += 1
        a += strideA(order(j))
        if (k(j) == shapeB(j)) { k(j) = 0; a -= shapeB(j) * strideA(order(j)); j -= 1 }
        else carry = false
      }
      b += 1
    }
    perm
  }

  /** Decode direction: reorder a transposed fixed-width buffer into
    * row-major chunk order (A(perm(b)) = B(b)). */
  def untransposeBytes(in: Array[Byte], perm: Array[Int], bw: Int): Array[Byte] = {
    if (in.length != perm.length * bw)
      throw new ZarrException(
        s"transposed chunk is ${in.length} bytes, expected ${perm.length * bw}")
    val out = new Array[Byte](in.length)
    var b = 0
    while (b < perm.length) {
      System.arraycopy(in, b * bw, out, perm(b) * bw, bw)
      b += 1
    }
    out
  }

  /** Encode direction: lay a row-major buffer out in transposed order
    * (B(b) = A(perm(b))). */
  def transposeBytes(in: Array[Byte], perm: Array[Int], bw: Int): Array[Byte] = {
    if (in.length != perm.length * bw)
      throw new ZarrException(
        s"chunk is ${in.length} bytes, expected ${perm.length * bw}")
    val out = new Array[Byte](in.length)
    var b = 0
    while (b < perm.length) {
      System.arraycopy(in, perm(b) * bw, out, b * bw, bw)
      b += 1
    }
    out
  }

  /** Resolve the bytes→bytes portion of a codec spec list. */
  def bytesCodecs(specs: Seq[CodecSpec], typesize: Int): Seq[BytesCodec] =
    specs.collect {
      case CodecSpec("gzip", cfg) =>
        Gzip(cfg.get("level").map(_.asInt(5)).getOrElse(5))
      case CodecSpec("zstd", cfg) =>
        Zstd(cfg.get("level").map(_.asInt(3)).getOrElse(3))
      case CodecSpec("zlib", cfg) =>
        Zlib(cfg.get("level").map(_.asInt(1)).getOrElse(1))
      case CodecSpec("crc32c", _) => Crc32c
      case CodecSpec("v2-delta", cfg) =>
        V2Delta(
          width = cfg.get("width").map(_.asInt(0)).getOrElse(0),
          float = cfg.get("float").exists(_.asBoolean(false)),
          big = cfg.get("endian").exists(_.asText("little") == "big"))
      case CodecSpec("v2-shuffle", cfg) =>
        V2Shuffle(cfg.get("elementsize").map(_.asInt(1)).getOrElse(1))
      case CodecSpec("v2-fso", cfg) =>
        V2FixedScaleOffset(
          offset = cfg.get("offset").map(_.asDouble(0)).getOrElse(0d),
          scale = cfg.get("scale").map(_.asDouble(1)).getOrElse(1d),
          dtypeWidth = cfg.get("dtype_width").map(_.asInt(8)).getOrElse(8),
          astypeWidth = cfg.get("astype_width").map(_.asInt(1)).getOrElse(1),
          astypeSigned = cfg.get("astype_signed").exists(_.asBoolean(false)),
          astypeBig = cfg.get("astype_big").exists(_.asBoolean(false)))
      case CodecSpec("v2-packbits", _) => V2PackBits
      case CodecSpec("v2-bz2", cfg) =>
        Bz2(cfg.get("level").map(_.asInt(9)).getOrElse(9))
      case CodecSpec("v2-lzma", cfg) =>
        Lzma(cfg.get("preset").map(_.asInt(1)).getOrElse(1))
      case CodecSpec("v2-lz4", cfg) =>
        V2Lz4(cfg.get("acceleration").map(_.asInt(1)).getOrElse(1))
      case CodecSpec("blosc", cfg) =>
        Blosc(
          cname = cfg.get("cname").map(_.asText("lz4")).getOrElse("lz4"),
          clevel = cfg.get("clevel").map(_.asInt(5)).getOrElse(5),
          shuffle = cfg.get("shuffle").map(_.asText("shuffle")).getOrElse("shuffle") match {
            case "noshuffle" => Blosc.NOSHUFFLE
            case "bitshuffle" => Blosc.BITSHUFFLE
            case _ => Blosc.SHUFFLE
          },
          typesize = cfg.get("typesize").map(_.asInt(typesize)).getOrElse(typesize),
          blocksize = cfg.get("blocksize").map(_.asInt(0)).getOrElse(0))
    }

  /** Endianness of the array→bytes "bytes" codec (default little).
    * "endian" is the codec's pre-rename ZEP1 name — zarrs registers it as
    * an alias, so the reference reads such stores; match that. */
  def endianness(specs: Seq[CodecSpec]): ByteOrder =
    specs.collectFirst { case CodecSpec("bytes" | "endian", cfg) =>
      if (cfg.get("endian").exists(_.asText("little") == "big")) ByteOrder.BIG_ENDIAN
      else ByteOrder.LITTLE_ENDIAN
    }.getOrElse(ByteOrder.LITTLE_ENDIAN)

  def isVlenUtf8(specs: Seq[CodecSpec]): Boolean =
    specs.exists(_.name == "vlen-utf8")

  def isVlenBytes(specs: Seq[CodecSpec]): Boolean =
    specs.exists(_.name == "vlen-bytes")

  /** Fixed-width v2 string element layout, if this codec list carries
    * one: (width, isUcs4, bigEndian). Width is bytes/element for `S`,
    * code points/element for `U`. */
  def fixedStrSpec(specs: Seq[CodecSpec]): Option[(Int, Boolean, Boolean)] =
    specs.collectFirst {
      case CodecSpec("v2-fixed-bytes-str", cfg) =>
        (cfg.get("width").map(_.asInt(0)).getOrElse(0), false, false)
      case CodecSpec("v2-fixed-ucs4", cfg) =>
        (cfg.get("width").map(_.asInt(0)).getOrElse(0), true,
          cfg.get("endian").exists(_.asText("little") == "big"))
    }
}
