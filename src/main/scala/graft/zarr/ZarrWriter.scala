package graft.zarr

/** Minimal Zarr v3 writer: full chunks (edge chunks padded with fill, as
  * the v3 spec requires), little-endian `bytes` codec plus any configured
  * bytes→bytes codecs. Mirrors the reference's test-only writer
  * (`lib.rs:170-240`); chunks are encoded by [[ChunkColumn.encode]], the
  * one encoder every writer shares.
  */
object ZarrWriter {

  /** bytes→bytes codec chain to apply on write, as (name, jsonConfig).
    * With `innerChunk` set, the whole chain (array→bytes + these codecs)
    * nests INSIDE a `sharding_indexed` codec whose inner chunk shape is
    * `innerChunk` — the stored object becomes a shard. */
  final case class CodecChain(
      specs: Seq[(String, String)],
      innerChunk: Option[Seq[Int]] = None,
      transposeOrder: Option[Seq[Int]] = None) {
    def json: String = {
      val bb = specs.map { case (n, cfg) =>
        if (cfg.isEmpty) s"""{"name":"$n"}"""
        else s"""{"name":"$n","configuration":$cfg}"""
      }
      bb.mkString(",")
    }
    def sharded(inner: Seq[Int]): CodecChain = copy(innerChunk = Some(inner))
    /** Store chunks dimension-permuted via the v3 `transpose` codec
      * (nested inside the shard's codecs when sharded). */
    def transposed(order: Seq[Int]): CodecChain = copy(transposeOrder = Some(order))
    def transposeJson: Option[String] = transposeOrder.map(o =>
      s"""{"name":"transpose","configuration":{"order":[${o.mkString(",")}]}}""")
  }
  object CodecChain {
    val raw = CodecChain(Nil)
    val bloscLz4 = CodecChain(Seq(
      "blosc" -> """{"cname":"lz4","clevel":5,"shuffle":"shuffle","typesize":8,"blocksize":0}"""))
    val gzip = CodecChain(Seq("gzip" -> """{"level":5}"""))
    val zstd = CodecChain(Seq("zstd" -> """{"level":3}"""))
    val crc32c = CodecChain(Seq("crc32c" -> ""))
  }

  def metaJson(
      dtype: ZarrType,
      shape: Seq[Long],
      chunkShape: Seq[Int],
      fillJson: String,
      dimensionNames: Option[Seq[String]],
      chain: CodecChain,
      separator: String = "/",
      timeMeta: Option[(String, String)] = None): String = {
    val arrayBytesCodec =
      if (dtype == ZarrType.Str) """{"name":"vlen-utf8"}"""
      // binary: zarr-python's v3 name for the numcodecs VLenBytes object
      // codec (the same element framing the v2 |O read path decodes)
      else if (dtype == ZarrType.Bytes) """{"name":"vlen-bytes"}"""
      else """{"name":"bytes","configuration":{"endian":"little"}}"""
    // array→array codecs (transpose) precede the array→bytes codec
    val flatChain = (chain.transposeJson.toSeq ++ Seq(arrayBytesCodec) ++
      (if (chain.json.isEmpty) Nil else Seq(chain.json)))
      .mkString(",")
    // sharded: the full chain nests inside sharding_indexed, which is
    // then the array's only top-level codec
    val codecs = chain.innerChunk match {
      case Some(inner) =>
        s"""{"name":"sharding_indexed","configuration":{""" +
          s""""chunk_shape":[${inner.mkString(",")}],""" +
          s""""codecs":[$flatChain],""" +
          s""""index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
          s""""index_location":"end"}}"""
      case None => flatChain
    }
    // dimension names are USER column names — JSON-escape them, or a
    // quote/backslash in a (legal) Spark column name either breaks the
    // document at write time or, worse, parses as EXTRA entries
    // (lat\",\"lon) and persists corrupt metadata
    val dims = dimensionNames
      .map(ns => s""","dimension_names":[${ns.map(ZarrStore.jsonQuote).mkString(",")}]""")
      .getOrElse("")
    // a migrated v2 datetime64/timedelta64 axis keeps its kind/unit as
    // v3 attributes — the annotation a downstream xarray-style reader
    // needs to re-interpret the raw int64 counts (ZarrMeta.parse
    // surfaces them back as timeMeta)
    val attrs = timeMeta.map { case (k, u) =>
      s""","attributes":{"zarr_time_kind":${ZarrStore.jsonQuote(k)},"zarr_time_unit":${ZarrStore.jsonQuote(u)}}"""
    }.getOrElse("")
    s"""{
       |  "zarr_format": 3,
       |  "node_type": "array",
       |  "shape": [${shape.mkString(",")}],
       |  "data_type": "${dtype.zarrName}",
       |  "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${chunkShape.mkString(",")}]}},
       |  "chunk_key_encoding": {"name": "default", "configuration": {"separator": "$separator"}},
       |  "fill_value": $fillJson,
       |  "codecs": [$codecs]$dims$attrs
       |}""".stripMargin
  }

  /** Write a full array from a row-major flat `values` buffer.
    * `values.length` must equal `shape.product`. Supported element types:
    * Double, Float, Long, Int, Short, Byte, Boolean, String. */
  def writeArray(
      store: ZarrStore,
      name: String,
      dtype: ZarrType,
      shape: Seq[Long],
      chunkShape: Seq[Int],
      values: IndexedSeq[Any],
      dimensionNames: Option[Seq[String]] = None,
      chain: CodecChain = CodecChain.bloscLz4,
      fillJson: String = "0.0",
      skipChunks: Set[Seq[Int]] = Set.empty,
      separator: String = "/",
      timeMeta: Option[(String, String)] = None): Unit = {
    require(values.length == shape.product,
      s"values ${values.length} != shape ${shape.product}")
    val meta = ZarrMeta.parse(name,
      metaJson(dtype, shape, chunkShape, fillJson, dimensionNames, chain, separator, timeMeta))
    store.writeMeta(name, meta.sourceJson)

    val grid = meta.gridShape
    val nChunks = grid.map(_.toLong).product
    var ord = 0L
    while (ord < nChunks) {
      val idx = ScanGeometry.indexOf(ord, grid)
      val extent = idx.indices.map(d =>
        math.min(chunkShape(d).toLong, shape(d) - idx(d).toLong * chunkShape(d)).toInt)
      if (!skipChunks(idx.toSeq))
        store.writeChunk(name, meta.chunkKey(idx), ChunkColumn.encode(meta,
          extractChunk(values, shape.toArray, chunkShape.toArray, idx, meta.fillValue), extent))
      ord += 1
    }
  }

  /** Extract chunk `idx` at FULL chunk shape, padding out-of-bounds
    * positions with `fill`. */
  private def extractChunk(
      values: IndexedSeq[Any],
      shape: Array[Long],
      chunk: Array[Int],
      idx: Array[Int],
      fill: Any): Array[Any] = {
    val ndim = shape.length
    val n = chunk.product
    val out = new Array[Any](n)
    val pos = new Array[Int](ndim) // position within the chunk
    var r = 0
    while (r < n) {
      // global index per dim
      var inBounds = true
      var flat = 0L
      var d = 0
      while (d < ndim) {
        val g = idx(d).toLong * chunk(d) + pos(d)
        if (g >= shape(d)) inBounds = false
        flat = flat * shape(d) + math.min(g, shape(d) - 1)
        d += 1
      }
      out(r) = if (inBounds) values(flat.toInt) else fill
      var k = ndim - 1
      var carry = true
      while (carry && k >= 0) {
        pos(k) += 1
        if (pos(k) == chunk(k)) { pos(k) = 0; k -= 1 } else carry = false
      }
      r += 1
    }
    out
  }

  /** The reference's canonical fixture (`lib.rs:287-333`): `lat` 1-D len 8
    * chunk 3 (38.0..38.7), `lon` 1-D len 8 chunk 3 (-117.0..-116.3),
    * `data` 2-D 8×8 chunk 3×3 (0..64 row-major). */
  def writeLatLonStore(store: ZarrStore, chain: CodecChain = CodecChain.bloscLz4): Unit = {
    store.writeStoreRootMeta()
    writeArray(store, "lat", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => 38.0 + i * 0.1), Some(Seq("lat")), chain)
    writeArray(store, "lon", ZarrType.Float64, Seq(8), Seq(3),
      (0 until 8).map(i => -117.0 + i * 0.1), Some(Seq("lon")), chain)
    writeArray(store, "data", ZarrType.Float64, Seq(8, 8), Seq(3, 3),
      (0 until 64).map(_.toDouble), Some(Seq("lat", "lon")), chain)
  }
}
