package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.JsonNode

/** Zarr v3 `sharding_indexed` codec (ZEP 2): many inner chunks packed
  * into one stored object ("shard") with a binary index locating each
  * inner chunk's byte range.
  *
  * This matters at 100 TB more than any other storage feature: with
  * chunk-per-object layouts, a petabyte-adjacent store becomes billions
  * of small objects (listing, request-count and metadata costs dominate);
  * sharding keeps the logical chunk small (good parallelism, good
  * chunk-skipping) while the stored object is large (few GETs, object-
  * store friendly). The reference delegates codecs to the `zarrs` crate
  * and its own fixtures never exercise sharding — this implementation is
  * from the public v3 codec spec.
  *
  * Layout per spec: the shard object holds each present inner chunk's
  * encoded bytes plus an index of `2 * n_inner` uint64 values (offset,
  * nbytes per inner chunk, row-major over the inner grid; both
  * `0xFFFF_FFFF_FFFF_FFFF` when the inner chunk is absent → fill value).
  * The index itself is encoded with `index_codecs` (typically `bytes` +
  * `crc32c`, fixed size) and lives at the start or end of the shard per
  * `index_location`.
  *
  * Integration: the outer chunk IS the shard — geometry, partitioning,
  * chunk-skip filters and the prefetch pipeline all operate on shards
  * unchanged; only [[ChunkColumn.decode]] branches here. One GET per
  * shard per column is the intended object-store IO shape.
  */
object Sharding {

  private val MISSING = -1L // 2^64 - 1 as a signed long

  final case class Spec(
      innerShape: Seq[Int],
      innerCodecs: Seq[CodecSpec],
      indexCodecs: Seq[CodecSpec],
      indexAtEnd: Boolean) {
    def innerElems: Int = innerShape.product

    /** Inner `transpose` element permutation (this is where zarr-python
      * nests it for F-order sharded arrays), memoized per Spec — the
      * Spec itself is memoized on [[ZarrArrayMeta.shardingSpec]], so
      * the O(innerElems) table is built once per task per array. */
    @transient lazy val innerPerm: Option[Array[Int]] =
      Codecs.transposeOrder(innerCodecs, innerShape.length)
        .map(o => Codecs.transposePerm(innerShape.toArray, o))
  }

  /** The sharding spec of a codec chain, if present. */
  def specOf(codecs: Seq[CodecSpec]): Option[Spec] =
    codecs.collectFirst { case CodecSpec("sharding_indexed", cfg) => parse(cfg) }

  private def parse(cfg: Map[String, JsonNode]): Spec = {
    val innerShape = cfg.get("chunk_shape") match {
      case Some(n) if n.isArray =>
        (0 until n.size()).map(i => n.get(i).asInt())
      case _ => throw new ZarrException("sharding_indexed requires chunk_shape")
    }
    val innerCodecs = cfg.get("codecs").map(ZarrMeta.codecSpecs)
      .getOrElse(throw new ZarrException("sharding_indexed requires codecs"))
    val indexCodecs = cfg.get("index_codecs").map(ZarrMeta.codecSpecs)
      .getOrElse(Seq(CodecSpec("bytes", Map.empty), CodecSpec("crc32c", Map.empty)))
    indexCodecs.foreach {
      case CodecSpec("bytes" | "endian", _) | CodecSpec("crc32c", _) => ()
      case CodecSpec(other, _) => throw new ZarrException(
        s"sharding_indexed index_codecs '$other' not supported (index must be fixed-size)")
    }
    val atEnd = cfg.get("index_location").forall(_.asText("end") != "start")
    Codecs.validate(innerCodecs, innerShape.length, "sharding_indexed inner codecs")
    if (innerCodecs.exists(_.name == "sharding_indexed"))
      throw new ZarrException("nested sharding_indexed is not supported")
    Spec(innerShape, innerCodecs, indexCodecs, atEnd)
  }

  private def gridOf(shardShape: Array[Int], spec: Spec): Array[Int] = {
    require(shardShape.length == spec.innerShape.length,
      s"sharding inner rank ${spec.innerShape.length} != chunk rank ${shardShape.length}")
    shardShape.zip(spec.innerShape).map { case (s, i) =>
      if (i <= 0 || s % i != 0)
        throw new ZarrException(
          s"sharding inner chunk_shape ${spec.innerShape.mkString("x")} does not divide " +
            s"outer chunk_shape ${shardShape.mkString("x")}")
      s / i
    }
  }

  private def indexEncodedSize(spec: Spec, nInner: Int): Int =
    16 * nInner + 4 * spec.indexCodecs.count(_.name == "crc32c")

  private def indexOrder(spec: Spec): ByteOrder = Codecs.endianness(spec.indexCodecs)

  /** Decode the shard index → flat array of 2*nInner longs. */
  private def decodeIndex(spec: Spec, shard: Array[Byte], nInner: Int): Array[Long] = {
    val encSize = indexEncodedSize(spec, nInner)
    if (shard.length < encSize)
      throw new ZarrException(
        s"shard object too small for its index: ${shard.length} < $encSize bytes")
    val slice =
      if (spec.indexAtEnd) java.util.Arrays.copyOfRange(shard, shard.length - encSize, shard.length)
      else java.util.Arrays.copyOfRange(shard, 0, encSize)
    decodeIndexBytes(spec, slice, nInner)
  }

  /** Decode an already-extracted encoded index slice (exactly
    * [[indexEncodedSize]] bytes) → flat array of 2*nInner longs. */
  private def decodeIndexBytes(spec: Spec, slice: Array[Byte], nInner: Int): Array[Long] = {
    // crc32c stages strip in reverse chain order; "bytes" is a no-op here
    val raw = spec.indexCodecs.reverse.foldLeft(slice) {
      case (b, CodecSpec("crc32c", _)) => Codecs.Crc32c.decode(b)
      case (b, _) => b
    }
    val bb = ByteBuffer.wrap(raw).order(indexOrder(spec))
    val out = new Array[Long](2 * nInner)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  private def encodeIndex(spec: Spec, index: Array[Long]): Array[Byte] = {
    val idx = ByteBuffer.allocate(8 * index.length).order(indexOrder(spec))
    index.foreach(idx.putLong)
    spec.indexCodecs.foldLeft(idx.array()) {
      case (b, CodecSpec("crc32c", _)) => Codecs.Crc32c.encode(b)
      case (b, _) => b
    }
  }

  /** Number of inner chunks of one outer chunk under `spec`. */
  def innerCount(shardShape: Array[Int], spec: Spec): Int = gridOf(shardShape, spec).product

  /** CRC32 of a shard object's ENCODED index bytes — the inner-doc
    * freshness token ([[graft.zarr.ChunkStats]] `isum`): writers record
    * it, and [[readRanged]] verifies it against the index it fetches
    * anyway, so a shard replaced after the freshness HEAD (but before
    * the index GET) with different index bytes is caught for free. */
  def encodedIndexSum(spec: Spec, shard: Array[Byte], shardShape: Array[Int]): Long = {
    val nInner = innerCount(shardShape, spec)
    val encSize = indexEncodedSize(spec, nInner)
    if (shard.length < encSize) return -1L
    val crc = new java.util.zip.CRC32()
    if (spec.indexAtEnd) crc.update(shard, shard.length - encSize, encSize)
    else crc.update(shard, 0, encSize)
    crc.getValue
  }

  /** Thrown by [[readRanged]] when the fetched index bytes fail the
    * caller's expected checksum: the mask that drove the read was
    * computed from a stale inner-stats doc — the caller must retry
    * with coordinate-only information (always sound). */
  final class StaleShardIndexException(msg: String) extends ZarrException(msg)

  /** Fetch a shard PARTIALLY: the index plus only the inner chunks marked
    * `needed` (row-major over the inner grid), reassembled into a
    * synthetic shard object that [[decode]] accepts — non-fetched inner
    * chunks are indexed as absent and decode to fill values.
    *
    * This is the object-store read shape for selective sharded scans: a
    * shard can be hundreds of MB, and a scan whose (coordinate) predicate
    * matches a fraction of its inner chunks should pay bytes proportional
    * to that fraction, not the object size. Costs one metadata probe
    * (object length, when the index is at the end) + one ranged GET for
    * the index + one ranged GET per coalesced needed range (ranges with
    * gaps below [[coalesceGapBytes]] merge: re-reading a small gap is
    * cheaper than another round-trip). Callers gate on
    * [[ZarrStore.supportsRangedReads]] — on local filesystems one
    * sequential whole read wins.
    *
    * Returns None when the shard object is absent (fill-value semantics,
    * matching [[ZarrStore.readChunk]]). A shard REPLACED between the
    * index read and the range reads surfaces as a loud bounds/crc error,
    * never silent garbage — same consistency contract as the whole-object
    * path, which can equally read a mid-swap object. */
  def readRanged(
      store: ZarrStore,
      arrayName: String,
      key: String,
      spec: Spec,
      shardShape: Array[Int],
      needed: Array[Boolean],
      /** Object length a caller already HEADed (freshness checks) — saves
        * the redundant metadata probe when the index sits at the end. */
      knownLen: Option[Long] = None,
      /** Expected CRC32 of the encoded index bytes (inner-doc `isum`);
        * < 0 = no expectation. On mismatch the mask that drove this
        * read is stale — throws [[StaleShardIndexException]]. */
      expectIndexSum: Long = -1L): Option[Array[Byte]] = {
    val nInner = innerCount(shardShape, spec)
    require(needed.length == nInner, s"needed mask ${needed.length} != $nInner inner chunks")
    val encSize = indexEncodedSize(spec, nInner)
    val idxOff: Long =
      if (!spec.indexAtEnd) 0L
      else {
        val len = knownLen.orElse(store.objectLength(arrayName, key))
          .getOrElse(return None)
        if (len < encSize)
          throw new ZarrException(
            s"shard object too small for its index: $len < $encSize bytes")
        len - encSize
      }
    val idxBytes = store.readRange(arrayName, key, idxOff, encSize).getOrElse(return None)
    if (expectIndexSum >= 0) {
      val crc = new java.util.zip.CRC32()
      crc.update(idxBytes, 0, idxBytes.length)
      if (crc.getValue != expectIndexSum)
        throw new StaleShardIndexException(
          s"shard $arrayName/$key index checksum ${crc.getValue} != recorded " +
            s"$expectIndexSum — inner-stats doc is stale")
    }
    val index = decodeIndexBytes(spec, idxBytes, nInner)

    // needed present inner chunks, sorted by stored offset for coalescing
    val wanted = (0 until nInner).iterator.filter { gi =>
      needed(gi) && !(index(2 * gi) == MISSING && index(2 * gi + 1) == MISSING)
    }.toArray.sortBy(gi => index(2 * gi))
    wanted.foreach { gi =>
      val off = index(2 * gi); val len = index(2 * gi + 1)
      if (off < 0 || len < 0 || len > Int.MaxValue)
        throw new ZarrException(
          s"shard index entry $gi out of range: offset=$off nbytes=$len")
    }

    // coalesce into ranged GETs
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (off, end)
    wanted.foreach { gi =>
      val off = index(2 * gi); val end = off + index(2 * gi + 1)
      if (ranges.nonEmpty && off - ranges.last._2 <= coalesceGapBytes && off >= ranges.last._1)
        ranges(ranges.length - 1) = (ranges.last._1, math.max(ranges.last._2, end))
      else ranges += ((off, end))
    }
    val fetched: Seq[(Long, Array[Byte])] = ranges.toSeq.map { case (off, end) =>
      val len = end - off
      if (len > Int.MaxValue)
        throw new ZarrException(s"coalesced shard range too large: $len bytes")
      off -> store.readRange(arrayName, key, off, len.toInt).getOrElse(
        throw new ZarrException(
          s"shard $arrayName/$key vanished between index and range reads"))
    }
    def sliceOf(off: Long, len: Int): Array[Byte] = {
      val (base, buf) = fetched.find { case (b, arr) =>
        off >= b && off + len <= b + arr.length
      }.getOrElse(throw new ZarrException(s"shard range bookkeeping hole at $off+$len"))
      java.util.Arrays.copyOfRange(buf, (off - base).toInt, (off - base).toInt + len)
    }

    // reassemble: same spec layout, fetched chunks repacked contiguously,
    // everything else indexed absent
    val newIndex = Array.fill(2 * nInner)(MISSING)
    val dataBase = if (spec.indexAtEnd) 0L else encSize.toLong
    var pos = dataBase
    wanted.foreach { gi =>
      val len = index(2 * gi + 1)
      newIndex(2 * gi) = pos
      newIndex(2 * gi + 1) = len
      pos += len
    }
    val dataLen = (pos - dataBase).toInt
    val out = new Array[Byte](dataLen + encSize)
    var cursor = dataBase.toInt
    wanted.foreach { gi =>
      val len = index(2 * gi + 1).toInt
      System.arraycopy(sliceOf(index(2 * gi), len), 0, out, cursor, len)
      cursor += len
    }
    val encIdx = encodeIndex(spec, newIndex)
    assert(encIdx.length == encSize)
    System.arraycopy(encIdx, 0, out, if (spec.indexAtEnd) dataLen else 0, encSize)
    Some(out)
  }

  /** Gaps below this merge into one ranged GET: at object-store latency a
    * round-trip costs ~20 ms ≈ 1-2 MB of streaming, so re-reading a small
    * gap beats opening another range. */
  private val coalesceGapBytes = 1L << 20

  /** Shared geometry between decode and encode: outer strides, run
    * shape, and the row-major walk over one inner chunk's rows. `copy`
    * receives (inner row index, outer flat element offset of that row);
    * each row is `rowLenElems` contiguous elements along the last dim. */
  private final class Runs(shardShape: Array[Int], spec: Spec) {
    val ndim: Int = shardShape.length
    val grid: Array[Int] = gridOf(shardShape, spec)
    val nInner: Int = grid.product
    val inner: Array[Int] = spec.innerShape.toArray
    val rowLenElems: Int = inner(ndim - 1)
    val rowsPerInner: Int = spec.innerElems / rowLenElems
    val stride: Array[Int] = new Array[Int](ndim)
    val outerElems: Int = {
      var acc = 1
      var d = ndim - 1
      while (d >= 0) { stride(d) = acc; acc *= shardShape(d); d -= 1 }
      acc
    }

    def forEachRun(gi: Int)(copy: (Int, Int) => Unit): Unit = {
      // grid coords of this inner chunk
      val g = new Array[Int](ndim)
      var rem = gi
      var k = ndim - 1
      while (k >= 0) { g(k) = rem % grid(k); rem /= grid(k); k -= 1 }
      val ic = new Array[Int](ndim) // coords within the inner chunk, last dim 0
      var r = 0
      while (r < rowsPerInner) {
        var flat = 0
        var j = 0
        while (j < ndim) { flat += (g(j) * inner(j) + ic(j)) * stride(j); j += 1 }
        copy(r, flat)
        // row-major increment over dims 0..ndim-2
        var m = ndim - 2
        var carry = true
        while (carry && m >= 0) {
          ic(m) += 1
          if (ic(m) == inner(m)) { ic(m) = 0; m -= 1 } else carry = false
        }
        r += 1
      }
    }
  }

  /** Shared decode pool for intra-shard parallelism. A shard packs many
    * independently-compressed inner chunks; decoding them serially
    * starves CPUs whenever there are fewer shard-tasks than cores (the
    * exact regime big-shard stores create: ScanBench's 8M-row store is
    * 4 shards — 4 tasks on a 32-core box). Inner chunks write disjoint
    * regions of the output buffer, so the fan-out is safe; when task
    * parallelism already saturates the cores, work-stealing just
    * interleaves at the same total cost. Daemon threads, JVM-wide. */
  private lazy val decodePool = java.util.concurrent.Executors.newWorkStealingPool(
    math.max(2, Runtime.getRuntime.availableProcessors()))

  private def parallelInner(nInner: Int)(body: Int => Unit): Unit =
    if (nInner < 4) {
      var gi = 0
      while (gi < nInner) { body(gi); gi += 1 }
    } else {
      val futs = (0 until nInner).map { gi =>
        decodePool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = body(gi)
        })
      }
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause match { case t: Throwable => t }
        }
      }
    }

  /** Decode a whole shard into a [[ChunkColumn]] covering the outer
    * chunk's elements row-major (absent inner chunks → fill value). */
  def decode(meta: ZarrArrayMeta, spec: Spec, shard: Array[Byte]): ChunkColumn = {
    // binary inner chunks carry the numcodecs VLenBytes element framing;
    // a binary shard declared with a fixed-width inner codec has no
    // addressable elements — refuse by name BEFORE touching the index so
    // hostile metadata cannot steer the failure into a bytes-level error
    if (meta.dataType == ZarrType.Bytes && !Codecs.isVlenBytes(spec.innerCodecs))
      throw new ZarrException(
        s"sharded binary array ${meta.name} requires vlen-bytes inner codec")
    val runs = new Runs(meta.chunkShape, spec)
    import runs.{nInner, rowLenElems, outerElems}
    val index = decodeIndex(spec, shard, nInner)
    val innerElems = spec.innerElems

    val bw0 = if (meta.dataType.byteWidth > 0) meta.dataType.byteWidth else 1
    val innerChain = Codecs.bytesCodecs(spec.innerCodecs, bw0).reverse
    val innerPerm = spec.innerPerm

    def innerBytes(gi: Int): Option[Array[Byte]] = {
      val off = index(2 * gi)
      val len = index(2 * gi + 1)
      if (off == MISSING && len == MISSING) None
      else {
        if (off < 0 || len < 0 || off + len > shard.length)
          throw new ZarrException(
            s"shard index entry $gi out of range: offset=$off nbytes=$len size=${shard.length}")
        val enc = java.util.Arrays.copyOfRange(shard, off.toInt, (off + len).toInt)
        val plain = innerChain.foldLeft(enc)((b, c) => c.decode(b))
        Some(
          // vlen element layouts (strings, binary) permute post-decode —
          // a byte-level untranspose cannot address their elements
          if (meta.dataType == ZarrType.Str || meta.dataType == ZarrType.Bytes) plain
          else innerPerm.map(Codecs.untransposeBytes(plain, _, bw0)).getOrElse(plain))
      }
    }

    def forEachRun(gi: Int)(copy: (Int, Int) => Unit): Unit = runs.forEachRun(gi)(copy)

    if (meta.dataType == ZarrType.Str) {
      if (!Codecs.isVlenUtf8(spec.innerCodecs))
        throw new ZarrException(s"sharded string array ${meta.name} requires vlen-utf8 inner codec")
      val out = new Array[String](outerElems)
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], meta.fillValue.asInstanceOf[String])
      parallelInner(nInner) { gi =>
        innerBytes(gi).foreach { plain =>
          val decoded = ChunkColumn.decodeVlenUtf8(plain)
          val strs = innerPerm.map(ChunkColumn.untransposeStrings(decoded, _)).getOrElse(decoded)
          if (strs.length != innerElems)
            throw new ZarrException(
              s"inner chunk $gi of ${meta.name}: ${strs.length} strings != $innerElems")
          forEachRun(gi) { (r, flat) =>
            System.arraycopy(strs, r * rowLenElems, out, flat, rowLenElems)
          }
        }
      }
      new StrColumn(out)
    } else if (meta.dataType == ZarrType.Bytes) {
      // variable-length binary inner chunks: the shard index addresses
      // each inner chunk by (offset, nbytes), so vlen payloads slice out
      // like any other — only the IN-MEMORY element copy differs (object
      // references, the Str shape, instead of the fixed-width run copy);
      // the vlen-bytes inner-codec requirement was checked at the top
      val out = new Array[Array[Byte]](outerElems)
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]],
        meta.fillValue.asInstanceOf[Array[Byte]])
      parallelInner(nInner) { gi =>
        innerBytes(gi).foreach { plain =>
          val decoded = ChunkColumn.decodeVlenBytes(plain)
          val bufs = innerPerm.map(ChunkColumn.untransposeObjects(decoded, _))
            .getOrElse(decoded)
          if (bufs.length != innerElems)
            throw new ZarrException(
              s"inner chunk $gi of ${meta.name}: ${bufs.length} payloads != $innerElems")
          forEachRun(gi) { (r, flat) =>
            System.arraycopy(bufs, r * rowLenElems, out, flat, rowLenElems)
          }
        }
      }
      new BytesColumn(out)
    } else {
      val bw = meta.dataType.byteWidth
      val order = Codecs.endianness(spec.innerCodecs)
      val out = new Array[Byte](outerElems * bw)
      fillPattern(out, meta, order)
      parallelInner(nInner) { gi =>
        innerBytes(gi).foreach { plain =>
          if (plain.length != innerElems * bw)
            throw new ZarrException(
              s"inner chunk $gi of ${meta.name}: ${plain.length} bytes != ${innerElems * bw}")
          forEachRun(gi) { (r, flat) =>
            System.arraycopy(plain, r * rowLenElems * bw, out, flat * bw, rowLenElems * bw)
          }
        }
      }
      new PrimColumn(meta.dataType, out, order)
    }
  }

  /** Pre-fill an output buffer with the array's fill value so absent
    * inner chunks read back correctly. Skips the memset when the fill
    * encoding is all-zero (fresh JVM arrays already are).
    *
    * NOTE: parseFill boxes unsigned types WIDENED (uint8→Short,
    * uint16→Int, uint32→Long) but the stored element is byteWidth bytes —
    * the value must be written at the STORED width, not the boxed one. */
  private def fillPattern(out: Array[Byte], meta: ZarrArrayMeta, order: ByteOrder): Unit = {
    val bw = meta.dataType.byteWidth
    val one = ByteBuffer.allocate(bw).order(order)
    meta.dataType match {
      case ZarrType.Bool => one.put(if (meta.fillValue.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
      case ZarrType.Int8 => one.put(meta.fillValue.asInstanceOf[Byte])
      case ZarrType.UInt8 => one.put(meta.fillValue.asInstanceOf[Short].toByte)
      case ZarrType.Int16 => one.putShort(meta.fillValue.asInstanceOf[Short])
      case ZarrType.UInt16 => one.putShort(meta.fillValue.asInstanceOf[Int].toShort)
      case ZarrType.Int32 => one.putInt(meta.fillValue.asInstanceOf[Int])
      case ZarrType.UInt32 => one.putInt(meta.fillValue.asInstanceOf[Long].toInt)
      case ZarrType.Int64 => one.putLong(meta.fillValue.asInstanceOf[Long])
      case ZarrType.UInt64 =>
        one.putLong(meta.fillValue.asInstanceOf[java.math.BigDecimal].toBigInteger.longValue())
      case ZarrType.Float32 => one.putFloat(meta.fillValue.asInstanceOf[Float])
      case ZarrType.Float64 => one.putDouble(meta.fillValue.asInstanceOf[Double])
      case ZarrType.Str => throw new ZarrException("fillPattern on string array")
      case ZarrType.Bytes => throw new ZarrException("fillPattern on binary array")
    }
    val pat = one.array()
    if (pat.exists(_ != 0)) {
      var i = 0
      while (i < out.length) { out(i) = pat(i % bw); i += 1 }
    }
  }

  /** Encode one full outer chunk (`vals`, row-major, padded to full
    * chunk_shape by the caller) as a shard object. Inner chunks listed in
    * `skipInner` (row-major grid order) are omitted and indexed as
    * absent. Each inner chunk runs through [[ChunkColumn.encodeElems]]
    * in the inner `bytes` codec's byte order, then the inner chain. */
  def encode(
      dtype: ZarrType,
      shardShape: Seq[Int],
      spec: Spec,
      vals: scala.collection.IndexedSeq[Any],
      skipInner: Set[Int] = Set.empty): Array[Byte] = {
    val shard = shardShape.toArray
    require(vals.length == shard.product, s"vals ${vals.length} != shard ${shard.product}")
    val runs = new Runs(shard, spec)
    import runs.{nInner, rowLenElems}
    val innerChain = Codecs.bytesCodecs(spec.innerCodecs,
      if (dtype.byteWidth > 0) dtype.byteWidth else 1)
    val order = Codecs.endianness(spec.innerCodecs)

    def gather(gi: Int): Array[Any] = {
      val out = new Array[Any](spec.innerElems)
      runs.forEachRun(gi) { (r, flat) =>
        var e = 0
        while (e < rowLenElems) { out(r * rowLenElems + e) = vals(flat + e); e += 1 }
      }
      // inner transpose: store the inner chunk dimension-permuted
      spec.innerPerm.map(Codecs.transposeValues(out, _)).getOrElse(out)
    }

    val encoded = Array.tabulate(nInner) { gi =>
      if (skipInner(gi)) null
      else innerChain.foldLeft(ChunkColumn.encodeElems(dtype, gather(gi), order))(
        (b, c) => c.encode(b))
    }
    val encIndexSize = indexEncodedSize(spec, nInner)
    val dataBase = if (spec.indexAtEnd) 0L else encIndexSize.toLong
    val index = new Array[Long](2 * nInner)
    var off = dataBase
    encoded.zipWithIndex.foreach { case (e, gi) =>
      if (e == null) { index(2 * gi) = MISSING; index(2 * gi + 1) = MISSING }
      else { index(2 * gi) = off; index(2 * gi + 1) = e.length.toLong; off += e.length }
    }
    val dataLen = (off - dataBase).toInt
    val out = new Array[Byte](dataLen + encIndexSize)
    var pos = dataBase.toInt
    encoded.foreach { e =>
      if (e != null) { System.arraycopy(e, 0, out, pos, e.length); pos += e.length }
    }
    System.arraycopy(encodeIndex(spec, index), 0, out,
      if (spec.indexAtEnd) dataLen else 0, encIndexSize)
    out
  }
}
