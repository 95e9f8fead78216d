package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.Decimal

/** One decoded (or fill-synthesized) chunk of one array.
  *
  * Values live in *source element space* — the row-major flat index into
  * the stored chunk buffer (Zarr stores edge chunks at full `chunk_shape`,
  * padded with fill; the valid-extent subset is selected by the caller's
  * `mapping`, mirroring the reference's edge-truncation read path,
  * `zarr_data_stream.rs:335-372`).
  *
  * Two consumers:
  *  - [[writeTo]] bulk-copies mapped values into a Spark columnar vector
  *    (the hot path);
  *  - [[get]] boxes a single value (chunk-skip filter evaluation only).
  */
sealed trait ChunkColumn {
  def zt: ZarrType
  def get(elem: Int): Any
  /** Write mapped values into `vec` rows [off, off+nRows). */
  def writeTo(vec: WritableColumnVector, mapping: Array[Int], nRows: Int, off: Int): Unit
}

/** Fixed-width primitives over the decoded chunk buffer. */
final class PrimColumn(val zt: ZarrType, buf0: Array[Byte], order: ByteOrder)
    extends ChunkColumn {
  private val buf = ByteBuffer.wrap(buf0).order(order)

  def get(elem: Int): Any = zt match {
    case ZarrType.Bool => buf.get(elem) != 0
    case ZarrType.Int8 => buf.get(elem)
    case ZarrType.Int16 => buf.getShort(elem * 2)
    case ZarrType.Int32 => buf.getInt(elem * 4)
    case ZarrType.Int64 => buf.getLong(elem * 8)
    case ZarrType.UInt8 => (buf.get(elem) & 0xff).toShort
    case ZarrType.UInt16 => buf.getShort(elem * 2) & 0xffff
    case ZarrType.UInt32 => buf.getInt(elem * 4) & 0xffffffffL
    case ZarrType.UInt64 =>
      new java.math.BigDecimal(java.lang.Long.toUnsignedString(buf.getLong(elem * 8)))
    case ZarrType.Float32 => buf.getFloat(elem * 4)
    case ZarrType.Float64 => buf.getDouble(elem * 8)
    case ZarrType.Str => throw new ZarrException("string in PrimColumn")
    case ZarrType.Bytes => throw new ZarrException("binary in PrimColumn")
  }

  def writeTo(vec: WritableColumnVector, mapping: Array[Int], nRows: Int, off: Int): Unit = {
    // bulk path: identity mapping (interior chunk, non-coordinate column)
    // over little-endian storage — the *LittleEndian bulk puts copy the
    // raw buffer straight into the vector (Platform.copyMemory on LE
    // JVMs, byte-assembled on BE ones) instead of a bounds-checked
    // ByteBuffer read + virtual put per element. putBytes is
    // endian-neutral; Int16 has no LE bulk variant, so it only takes the
    // bulk path when the JVM itself is little-endian (putShorts copies in
    // platform order). Edge chunks, coordinate broadcasts, and big-endian
    // arrays fall through to the element loop.
    if ((mapping eq null) && order == ByteOrder.LITTLE_ENDIAN) {
      zt match {
        case ZarrType.Int8 => vec.putBytes(off, nRows, buf0, 0); return
        case ZarrType.Int16 if ByteOrder.nativeOrder() == ByteOrder.LITTLE_ENDIAN =>
          vec.putShorts(off, nRows, buf0, 0); return
        case ZarrType.Int32 => vec.putIntsLittleEndian(off, nRows, buf0, 0); return
        case ZarrType.Int64 => vec.putLongsLittleEndian(off, nRows, buf0, 0); return
        case ZarrType.Float32 => vec.putFloatsLittleEndian(off, nRows, buf0, 0); return
        case ZarrType.Float64 => vec.putDoublesLittleEndian(off, nRows, buf0, 0); return
        case _ => () // widened unsigned / bool / decimal need per-element work
      }
    }
    var r = 0
    zt match {
      case ZarrType.Bool =>
        while (r < nRows) { vec.putBoolean(off + r, buf.get(m(mapping, r)) != 0); r += 1 }
      case ZarrType.Int8 =>
        while (r < nRows) { vec.putByte(off + r, buf.get(m(mapping, r))); r += 1 }
      case ZarrType.Int16 =>
        while (r < nRows) { vec.putShort(off + r, buf.getShort(m(mapping, r) * 2)); r += 1 }
      case ZarrType.Int32 =>
        while (r < nRows) { vec.putInt(off + r, buf.getInt(m(mapping, r) * 4)); r += 1 }
      case ZarrType.Int64 =>
        while (r < nRows) { vec.putLong(off + r, buf.getLong(m(mapping, r) * 8)); r += 1 }
      case ZarrType.UInt8 =>
        while (r < nRows) { vec.putShort(off + r, (buf.get(m(mapping, r)) & 0xff).toShort); r += 1 }
      case ZarrType.UInt16 =>
        while (r < nRows) { vec.putInt(off + r, buf.getShort(m(mapping, r) * 2) & 0xffff); r += 1 }
      case ZarrType.UInt32 =>
        while (r < nRows) { vec.putLong(off + r, buf.getInt(m(mapping, r) * 4) & 0xffffffffL); r += 1 }
      case ZarrType.UInt64 =>
        while (r < nRows) {
          val v = Decimal(new java.math.BigDecimal(
            java.lang.Long.toUnsignedString(buf.getLong(m(mapping, r) * 8))))
          vec.putDecimal(off + r, v, 20); r += 1
        }
      case ZarrType.Float32 =>
        while (r < nRows) { vec.putFloat(off + r, buf.getFloat(m(mapping, r) * 4)); r += 1 }
      case ZarrType.Float64 =>
        while (r < nRows) { vec.putDouble(off + r, buf.getDouble(m(mapping, r) * 8)); r += 1 }
      case ZarrType.Str => throw new ZarrException("string in PrimColumn")
      case ZarrType.Bytes => throw new ZarrException("binary in PrimColumn")
    }
  }

  @inline private def m(mapping: Array[Int], r: Int): Int =
    if (mapping eq null) r else mapping(r)
}

/** Variable-length UTF-8 strings (`vlen-utf8` array→bytes codec). */
final class StrColumn(values: Array[String]) extends ChunkColumn {
  val zt: ZarrType = ZarrType.Str
  def get(elem: Int): Any = values(elem)
  def writeTo(vec: WritableColumnVector, mapping: Array[Int], nRows: Int, off: Int): Unit = {
    var r = 0
    while (r < nRows) {
      val b = values(if (mapping eq null) r else mapping(r)).getBytes(StandardCharsets.UTF_8)
      vec.putByteArray(off + r, b)
      r += 1
    }
  }
}

/** Missing chunk: every element is the array's fill value (reference
  * `zarr_data_stream.rs:388-398`). */
final class FillColumn(val zt: ZarrType, fill: Any) extends ChunkColumn {
  def get(elem: Int): Any = fill
  def writeTo(vec: WritableColumnVector, mapping: Array[Int], nRows: Int, off: Int): Unit = {
    var r = 0
    zt match {
      case ZarrType.Bool =>
        val v = fill.asInstanceOf[Boolean]
        while (r < nRows) { vec.putBoolean(off + r, v); r += 1 }
      case ZarrType.Int8 =>
        val v = fill.asInstanceOf[Byte]
        while (r < nRows) { vec.putByte(off + r, v); r += 1 }
      case ZarrType.Int16 | ZarrType.UInt8 =>
        val v = fill.asInstanceOf[Short]
        while (r < nRows) { vec.putShort(off + r, v); r += 1 }
      case ZarrType.Int32 | ZarrType.UInt16 =>
        val v = fill.asInstanceOf[Int]
        while (r < nRows) { vec.putInt(off + r, v); r += 1 }
      case ZarrType.Int64 | ZarrType.UInt32 =>
        val v = fill.asInstanceOf[Long]
        while (r < nRows) { vec.putLong(off + r, v); r += 1 }
      case ZarrType.UInt64 =>
        val v = Decimal(fill.asInstanceOf[java.math.BigDecimal])
        while (r < nRows) { vec.putDecimal(off + r, v, 20); r += 1 }
      case ZarrType.Float32 =>
        val v = fill.asInstanceOf[Float]
        while (r < nRows) { vec.putFloat(off + r, v); r += 1 }
      case ZarrType.Float64 =>
        val v = fill.asInstanceOf[Double]
        while (r < nRows) { vec.putDouble(off + r, v); r += 1 }
      case ZarrType.Str =>
        val b = fill.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
        while (r < nRows) { vec.putByteArray(off + r, b); r += 1 }
      case ZarrType.Bytes =>
        val b = fill.asInstanceOf[Array[Byte]]
        while (r < nRows) { vec.putByteArray(off + r, b); r += 1 }
    }
  }
}

/** Variable-length binary payloads (v2 `|O` + numcodecs `vlen-bytes`):
  * the multimodal-blob column type. */
final class BytesColumn(values: Array[Array[Byte]]) extends ChunkColumn {
  val zt: ZarrType = ZarrType.Bytes
  def get(elem: Int): Any = values(elem)
  def writeTo(vec: WritableColumnVector, mapping: Array[Int], nRows: Int, off: Int): Unit = {
    var r = 0
    while (r < nRows) {
      vec.putByteArray(off + r, values(if (mapping eq null) r else mapping(r)))
      r += 1
    }
  }
}

object ChunkColumn {

  /** Decode raw chunk-object bytes (or synthesize fill for a missing
    * chunk) into a [[ChunkColumn]]. */
  def decode(meta: ZarrArrayMeta, raw: Option[Array[Byte]]): ChunkColumn =
    raw match {
      case None => new FillColumn(meta.dataType, meta.fillValue)
      case Some(bytes) =>
        meta.shardingSpec match {
          case Some(spec) =>
            // sharded array: the stored object packs inner chunks with a
            // binary index; reassemble the outer chunk's row-major buffer
            Sharding.decode(meta, spec, bytes)
          case None =>
            // bytes→bytes codecs are applied in reverse on decode
            val ts = if (meta.dataType.byteWidth > 0) meta.dataType.byteWidth else 1
            val plain = Codecs.bytesCodecs(meta.codecs, ts).reverse
              .foldLeft(bytes)((b, c) => c.decode(b))
            // array→array `transpose`: the stored layout is dimension-
            // permuted; scatter back to row-major chunk order so every
            // consumer (mapping, stats, columnar copy) sees C order
            val tperm = meta.transposePerm
            if (meta.dataType == ZarrType.Str) {
              val strs = Codecs.fixedStrSpec(meta.codecs) match {
                case Some((w, ucs4, big)) =>
                  if (ucs4) decodeFixedUcs4(plain, w, big)
                  else decodeFixedBytesStr(plain, w)
                case None =>
                  if (!Codecs.isVlenUtf8(meta.codecs))
                    throw new ZarrException(s"string array ${meta.name} requires vlen-utf8 codec")
                  decodeVlenUtf8(plain)
              }
              new StrColumn(tperm.map(untransposeStrings(strs, _)).getOrElse(strs))
            } else if (meta.dataType == ZarrType.Bytes) {
              if (!meta.codecs.exists(_.name == "vlen-bytes"))
                throw new ZarrException(s"binary array ${meta.name} requires vlen-bytes codec")
              val bufs = decodeVlenBytes(plain)
              new BytesColumn(tperm.map(untransposeObjects(bufs, _)).getOrElse(bufs))
            } else {
              // LOUD length check on the straight primitive path (the
              // transpose path already validates inside untransposeBytes):
              // a truncated object would otherwise reach the columnar
              // bulk copy, whose Unsafe puts have no source bounds check
              // — short buffers read past the array end into garbage rows
              // and long buffers silently decode only a prefix
              val expected = meta.chunkShape.foldLeft(1L)(_ * _.toLong) * ts
              if (tperm.isEmpty && plain.length != expected)
                throw new ZarrException(
                  s"chunk of ${meta.name}: decoded ${plain.length} bytes, " +
                    s"expected $expected (${meta.chunkShape.mkString("x")} x $ts)")
              val ordered = tperm.map(Codecs.untransposeBytes(plain, _, ts)).getOrElse(plain)
              new PrimColumn(meta.dataType, ordered, Codecs.endianness(meta.codecs))
            }
        }
    }

  /** Encode one chunk's row-major values, padded to the full chunk shape
    * by the caller, into its stored object: the inverse of [[decode]].
    * `extent` is the chunk's in-array extent per dim (Nil: all of it). A
    * sharded array packs its inner chunks through [[Sharding.encode]];
    * those lying wholly past the extent hold only padding, so they are
    * omitted and indexed absent — no reader requests them, and an absent
    * inner chunk reads as fill. A plain one is transposed when its chain
    * says so, element-encoded and run through its bytes→bytes codecs. */
  def encode(
      meta: ZarrArrayMeta,
      vals: scala.collection.IndexedSeq[Any],
      extent: Seq[Int] = Nil): Array[Byte] =
    meta.shardingSpec match {
      case Some(spec) =>
        val padding =
          if (extent.isEmpty || extent == meta.chunkShape.toSeq) Set.empty[Int]
          else {
            val grid = Array.tabulate(extent.length)(d => meta.chunkShape(d) / spec.innerShape(d))
            (0 until grid.product).filter { gi =>
              ScanGeometry.indexOf(gi, grid).zipWithIndex
                .exists { case (g, d) => g.toLong * spec.innerShape(d) >= extent(d) }
            }.toSet
          }
        Sharding.encode(meta.dataType, meta.chunkShape.toSeq, spec, vals, padding)
      case None =>
        val stored: scala.collection.IndexedSeq[Any] =
          meta.transposePerm.fold(vals)(p => Codecs.transposeValues(vals, p))
        val ts = if (meta.dataType.byteWidth > 0) meta.dataType.byteWidth else 1
        Codecs.bytesCodecs(meta.codecs, ts).foldLeft(
          encodeElems(meta.dataType, stored, Codecs.endianness(meta.codecs)))((b, c) => c.encode(b))
    }

  /** The one element encoder: values → the `bytes`, `vlen-utf8` or
    * `vlen-bytes` layout. Numbers are coerced to the stored width in
    * `order` (unsigned types arrive widened; their low bytes are the
    * stored value); a null string encodes as "" and a null binary
    * element as the empty payload, each type's fill. */
  private[zarr] def encodeElems(
      zt: ZarrType,
      vals: scala.collection.IndexedSeq[Any],
      order: ByteOrder = ByteOrder.LITTLE_ENDIAN): Array[Byte] = zt match {
    case ZarrType.Str =>
      encodeVlenUtf8(vals.iterator.map(v => if (v == null) "" else v.toString).toArray)
    case ZarrType.Bytes =>
      encodeVlenBytes(vals.iterator.map {
        case null => Array.emptyByteArray
        case b: Array[Byte] => b
        case other => throw new ZarrException(s"binary array element is not Array[Byte]: $other")
      }.toArray)
    case _ =>
      def num(v: Any): Number = v match {
        case n: Number => n
        case b: Boolean => if (b) 1 else 0
        case other => throw new ZarrException(s"not numeric: $other")
      }
      val n = vals.length
      val bb = ByteBuffer.allocate(n * zt.byteWidth).order(order)
      var i = 0
      zt match {
        case ZarrType.Bool =>
          while (i < n) { bb.put(if (vals(i).asInstanceOf[Boolean]) 1.toByte else 0.toByte); i += 1 }
        case ZarrType.Int8 | ZarrType.UInt8 =>
          while (i < n) { bb.put(num(vals(i)).byteValue()); i += 1 }
        case ZarrType.Int16 | ZarrType.UInt16 =>
          while (i < n) { bb.putShort(num(vals(i)).shortValue()); i += 1 }
        case ZarrType.Int32 | ZarrType.UInt32 =>
          while (i < n) { bb.putInt(num(vals(i)).intValue()); i += 1 }
        case ZarrType.Int64 | ZarrType.UInt64 =>
          while (i < n) { bb.putLong(num(vals(i)).longValue()); i += 1 }
        case ZarrType.Float32 =>
          while (i < n) { bb.putFloat(num(vals(i)).floatValue()); i += 1 }
        case _ => // Float64
          while (i < n) { bb.putDouble(num(vals(i)).doubleValue()); i += 1 }
      }
      bb.array()
  }

  /** Scatter transposed-order strings back to row-major chunk order
    * (A(perm(b)) = B(b), see [[Codecs.transposePerm]]). */
  def untransposeStrings(strs: Array[String], perm: Array[Int]): Array[String] =
    untransposeObjects(strs, perm)

  /** Scatter transposed-order object elements back to row-major chunk
    * order (same contract as [[untransposeStrings]]). */
  def untransposeObjects[T >: Null <: AnyRef: scala.reflect.ClassTag](
      objs: Array[T], perm: Array[Int]): Array[T] = {
    if (objs.length != perm.length)
      throw new ZarrException(
        s"transposed chunk has ${objs.length} elements, expected ${perm.length}")
    val out = new Array[T](objs.length)
    var b = 0
    while (b < perm.length) { out(perm(b)) = objs(b); b += 1 }
    out
  }

  /** numcodecs VLenBytes layout — u32-LE item count, then per item a
    * u32-LE length + raw bytes. Every count/length is validated against
    * the buffer so a corrupt chunk fails with a [[ZarrException]]
    * instead of a raw JVM allocation/underflow error. */
  def decodeVlenBytes(b: Array[Byte]): Array[Array[Byte]] = {
    if (b.length < 4)
      throw new ZarrException(s"vlen chunk of ${b.length} bytes has no item count")
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    // each item costs at least its 4-byte length header, bounding any
    // claimed count by the remaining bytes
    if (n < 0 || n.toLong * 4L > bb.remaining().toLong)
      throw new ZarrException(s"vlen chunk claims $n items in ${bb.remaining()} bytes")
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (bb.remaining() < 4)
        throw new ZarrException(s"vlen chunk truncated at element $i")
      val len = bb.getInt
      if (len < 0 || len > bb.remaining())
        throw new ZarrException(s"vlen element $i has bad length $len")
      val v = new Array[Byte](len)
      bb.get(v)
      out(i) = v
      i += 1
    }
    out
  }

  /** numcodecs VLenUTF8 layout: the [[decodeVlenBytes]] framing with the
    * payloads interpreted as UTF-8. */
  def decodeVlenUtf8(b: Array[Byte]): Array[String] =
    decodeVlenBytes(b).map(new String(_, StandardCharsets.UTF_8))

  /** numpy `|S<n>` elements: n raw bytes each, NUL-padded on the right.
    * The byte→string mapping is strict UTF-8 (ASCII-compatible) — numpy
    * S data is raw bytes with no declared charset, and decoding them as
    * anything lossy would be the silent-garbage class this reader
    * refuses everywhere else. */
  def decodeFixedBytesStr(b: Array[Byte], width: Int): Array[String] = {
    if (width <= 0 || b.length % width != 0)
      throw new ZarrException(
        s"fixed-width string chunk of ${b.length} bytes is not a multiple of width $width")
    val n = b.length / width
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      var end = (i + 1) * width
      while (end > i * width && b(end - 1) == 0) end -= 1
      out(i) =
        try dec.decode(ByteBuffer.wrap(b, i * width, end - i * width)).toString
        catch {
          case e: java.nio.charset.CharacterCodingException =>
            throw new ZarrException(
              s"fixed-width S element $i is not valid UTF-8 " +
                "(non-UTF-8 byte-string stores are not supported)", e)
        }
      i += 1
    }
    out
  }

  /** numpy `<U<n>`/`>U<n>` elements: n UCS-4 code points each (4 bytes
    * per code point in the dtype's byte order), NUL-padded on the
    * right. */
  def decodeFixedUcs4(b: Array[Byte], width: Int, big: Boolean): Array[String] = {
    // metadata-supplied width: bound it BEFORE the *4, or an overflowing
    // value reaches the modulus as zero (raw ArithmeticException) or
    // negative (misleading message) instead of the ZarrException contract
    if (width <= 0 || width > Int.MaxValue / 4)
      throw new ZarrException(s"Bad fixed-width U string width: $width")
    val elemBytes = width * 4
    if (b.length % elemBytes != 0)
      throw new ZarrException(
        s"fixed-width U chunk of ${b.length} bytes is not a multiple of ${elemBytes}")
    val bb = ByteBuffer.wrap(b)
      .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val n = b.length / elemBytes
    val out = new Array[String](n)
    val sb = new java.lang.StringBuilder(width + 4)
    var i = 0
    while (i < n) {
      var len = width
      while (len > 0 && bb.getInt((i * width + len - 1) * 4) == 0) len -= 1
      sb.setLength(0)
      var k = 0
      while (k < len) {
        val cp = bb.getInt((i * width + k) * 4)
        if (cp < 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff))
          throw new ZarrException(s"fixed-width U element $i has invalid code point $cp")
        sb.appendCodePoint(cp)
        k += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def encodeVlenUtf8(values: Array[String]): Array[Byte] =
    encodeVlenBytes(values.map(_.getBytes(StandardCharsets.UTF_8)))

  /** Inverse of [[decodeVlenBytes]] — the numcodecs VLenBytes framing
    * (u32-LE item count, then u32-LE length + raw bytes per item): the
    * write-side twin that makes binary columns a full read/write
    * surface (multimodal blob payloads, [[BytesColumn]]). */
  def encodeVlenBytes(values: Array[Array[Byte]]): Array[Byte] = {
    val total = 4 + values.map(_.length.toLong + 4).sum
    if (total > Int.MaxValue)
      throw new ZarrException(
        s"vlen-bytes chunk of $total bytes exceeds the 2 GiB object bound; " +
          "use a smaller (inner) chunk size for large binary payloads")
    val bb = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(values.length)
    values.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  /** Row→source-element mappings for one target chunk.
    *
    * Output rows enumerate the chunk's valid extent row-major
    * (`zarr_data_stream.rs:239-242`). For a data column the source is the
    * full-`chunk_shape` stored buffer; for a coordinate column the source
    * is its own 1-D chunk and the mapping realizes the broadcast
    * (`broadcast_if_coord`, `zarr_data_stream.rs:243-281`).
    *
    * Returns null for the identity mapping (interior data chunk).
    */
  def mapping(role: ColumnRole, targetChunk: Array[Int], extent: Array[Int]): Array[Int] = {
    val ndim = extent.length
    val nRows = extent.product
    role match {
      case DataCol(_) =>
        if (java.util.Arrays.equals(targetChunk, extent)) null // identity
        else {
          val out = new Array[Int](nRows)
          // strides over the stored (full chunk_shape) buffer
          val stride = new Array[Int](ndim)
          var acc = 1
          var d = ndim - 1
          while (d >= 0) { stride(d) = acc; acc *= targetChunk(d); d -= 1 }
          fillMapping(out, extent, (idx: Array[Int]) => {
            var e = 0; var k = 0
            while (k < ndim) { e += idx(k) * stride(k); k += 1 }
            e
          })
          out
        }
      case CoordCol(_, dim) =>
        val out = new Array[Int](nRows)
        fillMapping(out, extent, (idx: Array[Int]) => idx(dim))
        out
    }
  }

  private def fillMapping(out: Array[Int], extent: Array[Int], f: Array[Int] => Int): Unit = {
    val ndim = extent.length
    val idx = new Array[Int](ndim)
    var r = 0
    val n = out.length
    while (r < n) {
      out(r) = f(idx)
      // row-major increment
      var d = ndim - 1
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) == extent(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      r += 1
    }
  }
}
