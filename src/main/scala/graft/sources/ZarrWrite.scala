package graft.sources

import graft.zarr._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{V1Write, _}
import org.apache.spark.sql.types._

/** DSv2 write path: each DataFrame column becomes a 1-D Zarr v3 array;
  * rows are laid out in input-partition order. (The reference has no
  * write path at all — its writer is `#[cfg(test)]` only, `lib.rs:170-240`
  * — so this is an extension, not a port.)
  *
  * Distributed layout contract: with N input partitions, every partition
  * except the last must contain an exact multiple of `chunk_size` rows
  * (use [[ZarrWriteSupport.alignForWrite]] to repartition arbitrary data
  * into this shape). Each task then knows the global index of every chunk
  * it writes — chunk files go straight to their final keys from the
  * executors, with NO driver-side data movement; the driver's commit only
  * writes the per-array `zarr.json` once row counts are known. This is
  * what keeps a 100 TB write fully parallel.
  *
  * Options: `chunk_size` (rows/chunk, default 65536), `codec`
  * (`blosc`|`gzip`|`zstd`|`none`, default blosc-lz4).
  */
object ZarrWriteSupport {

  /** Warn sink for commit-path diagnostics — slf4j by default (r22:
    * was a bare System.err.println bypassing the logging config).
    * Overridable because log4j2's console appender pins the original
    * System.err at init, so a setErr-capturing spec cannot observe
    * logger output. Volatile: a spec swaps it on its own thread while a
    * commit may read it on another. */
  @volatile private[graft] var warnSink: String => Unit =
    msg => org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)

  def zarrTypeFor(dt: DataType): ZarrType = dt match {
    case BooleanType => ZarrType.Bool
    case ByteType => ZarrType.Int8
    case ShortType => ZarrType.Int16
    case IntegerType => ZarrType.Int32
    case LongType => ZarrType.Int64
    case FloatType => ZarrType.Float32
    case DoubleType => ZarrType.Float64
    case StringType => ZarrType.Str
    // opaque multimodal payloads: vlen-bytes element framing, usable
    // unsharded or packed into shards (offset-addressed inner chunks)
    case BinaryType => ZarrType.Bytes
    case d: DecimalType if d.precision == 20 && d.scale == 0 => ZarrType.UInt64
    case other =>
      throw new ZarrException(s"Cannot write ${other.sql} to zarr (no Zarr v3 mapping)")
  }

  def chainFor(codec: String): ZarrWriter.CodecChain = codec match {
    case "blosc" => ZarrWriter.CodecChain.bloscLz4
    case "gzip" => ZarrWriter.CodecChain.gzip
    case "zstd" => ZarrWriter.CodecChain.zstd
    case "none" => ZarrWriter.CodecChain.raw
    case other => throw new ZarrException(s"Unknown zarr codec: $other")
  }

  /** Repartition `df` so every partition except the last holds exactly
    * `rowsPerPartition` rows (which must be a multiple of the write
    * `chunk_size`). Row order is preserved.
    *
    * NOT for the hot path: this helper costs an extra `count()` pass, a
    * `zipWithIndex` (its own job), a full shuffle, and an in-memory
    * per-partition sort. It exists to let callers opt into the aligned
    * fast write path (chunks land at final keys, no commit-time renames)
    * when their data is not already partition-aligned; pipelines that
    * control their partitioning should align upstream instead. */
  def alignForWrite(
      df: org.apache.spark.sql.DataFrame,
      rowsPerPartition: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val n = df.count()
    val nPart = math.max(1, (n + rowsPerPartition - 1) / rowsPerPartition).toInt
    spark.createDataFrame(
      alignIndexed(df.rdd.zipWithIndex().map(_.swap), rowsPerPartition, nPart),
      df.schema)
  }

  /** Core of the alignment contract, shared with the streaming sink:
    * partition an already-indexed row RDD so partition p holds exactly
    * rows [p*rowsPerPartition, (p+1)*rowsPerPartition) in index order —
    * the layout the `rows_per_partition` fast write path requires. */
  def alignIndexed(
      indexed: org.apache.spark.rdd.RDD[(Long, org.apache.spark.sql.Row)],
      rowsPerPartition: Int,
      nPart: Int): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    indexed
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nPart
        override def getPartition(key: Any): Int =
          (key.asInstanceOf[Long] / rowsPerPartition).toInt
      })
      .mapPartitions(_.toSeq.sortBy(_._1).map(_._2).iterator, preservesPartitioning = true)
}

class ZarrWriteBuilder(store: ZarrStore, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { this.doTruncate = true; this }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val alwaysTrue = filters.isEmpty ||
      filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)
    if (!alwaysTrue)
      throw new ZarrException("zarr supports only whole-store overwrite")
    truncate()
  }

  private def opt[T](key: String)(parse: String => T): Option[T] =
    ZarrDataSource.opt(info.options, key)(parse)

  private def shapeOpt(key: String): Option[Seq[Int]] =
    opt(key)(_.split(",").map(_.trim.toInt).toSeq)

  override def build(): Write = {
    // `dims` selects the N-D CUBE write path. The cube layout is a
    // global property of the whole input (coordinate axes = global
    // sorted distincts, density = a full-cross-product proof), which a
    // single streaming DSv2 pass cannot compute — so this returns
    // Spark's sanctioned whole-query seam, `V1Write` (the same seam the
    // built-in JDBC v2 source uses), and ZarrCubeWrite runs the
    // multi-job pipeline with executor-side chunk writes.
    val dimsOpt = Option(info.options.get("dims")).map(ZarrCubeWrite.parseDims)
    val appendDim = Option(info.options.get("append_dim"))
    val regionDim = Option(info.options.get("region_dim"))
    if (appendDim.isDefined && regionDim.isDefined)
      throw new ZarrException(
        "append_dim (grow the store) and region_dim (replace a slab) are " +
          "mutually exclusive")
    if (dimsOpt.isDefined || appendDim.isDefined || regionDim.isDefined) {
      if (info.options.containsKey("rows_per_partition") ||
        info.options.containsKey("inner_chunk_size") ||
        info.options.containsKey("chunk_size"))
        throw new ZarrException(
          "cube writes (dims/append_dim/region_dim options) do not take " +
            "rows_per_partition/inner_chunk_size/chunk_size; chunking is " +
            "set via chunk_shape")
      val stats = opt("stats")(_.toBoolean).getOrElse(true)
      val maxAxis = opt("max_axis_len")(_.toInt).getOrElse(1 << 22)
      val wasTruncate = doTruncate
      // cube APPEND / REGION overwrite: the existing store's layout wins
      // wholesale — a chunk_shape or codec option could only be ignored
      // or contradict it, so both are refused rather than dropped
      if ((appendDim.isDefined || regionDim.isDefined) &&
        (info.options.containsKey("chunk_shape") || info.options.containsKey("codec") ||
          info.options.containsKey("shard_shape")))
        throw new ZarrException(
          "cube append/region (append_dim/region_dim) take neither " +
            "chunk_shape, shard_shape nor codec; the existing store's " +
            "chunking, sharding and codec chain win")
      (appendDim, regionDim) match {
        case (Some(ad), _) =>
          new V1Write {
            override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
                if (wasTruncate || overwrite)
                  throw new ZarrException(
                    "append_dim extends an existing store and conflicts with " +
                      "overwrite mode; use mode('append')")
                ZarrCubeWrite.append(data, store.root, dimsOpt, ad, stats,
                  maxAxisLen = maxAxis)
              }
          }
        case (None, Some(rd)) =>
          new V1Write {
            override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
                // region REPLACES committed data — require the overwrite
                // verb, and never truncate (the region swaps its own chunks)
                if (!(wasTruncate || overwrite))
                  throw new ZarrException(
                    "region_dim replaces a slab of an existing store; use " +
                      "mode('overwrite') to state that intent")
                ZarrCubeWrite.overwriteRegion(data, store.root, dimsOpt, rd,
                  stats, maxAxisLen = maxAxis)
              }
          }
        case (None, None) =>
          val dims = dimsOpt.get
          val chunkShape = shapeOpt("chunk_shape")
          // shard_shape (ZEP 2 sharding, zarr-python's `shards=`): the
          // stored object packs whole inner chunks. Checkable from the
          // option strings alone — refuse HERE, before the axis-collection
          // and density-proof jobs run over the (possibly TB-scale) input
          val shardShape = shapeOpt("shard_shape")
          ZarrCubeWrite.validateLayoutOptions(dims, chunkShape, shardShape)
          val codec = Option(info.options.get("codec")).getOrElse("blosc")
          new V1Write {
            override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) =>
                ZarrCubeWrite.write(data, store.root, dims, chunkShape, codec,
                  stats, truncate = wasTruncate || overwrite, maxAxisLen = maxAxis,
                  shardShapeOpt = shardShape)
          }
      }
    } else {
      // loud-refusal convention: a cube-only option on the tabular path
      // would otherwise be silently dropped (an unsharded store, no error)
      if (info.options.containsKey("shard_shape"))
        throw new ZarrException(
          "shard_shape applies to cube writes (with the dims option); the " +
            "1-D tabular path packs shards via inner_chunk_size")
      buildTabular()
    }
  }

  private def buildTabular(): Write = new Write {
    override def toBatch: BatchWrite = new ZarrBatchWrite(
      store, info.schema(),
      opt("chunk_size")(_.toInt).getOrElse(65536),
      Option(info.options.get("codec")).getOrElse("blosc"),
      opt("rows_per_partition")(_.toLong).getOrElse(0L),
      doTruncate,
      opt("inner_chunk_size")(_.toInt).getOrElse(0),
      opt("stats")(_.toBoolean).getOrElse(true),
      opt("manifest_warn_parts")(_.toInt).getOrElse(ChunkManifest.defaultWarnParts))
  }
}

class ZarrBatchWrite(
    store: ZarrStore, schema: StructType, chunkSize0: Int, codec0: String,
    rowsPerPartition: Long, truncate: Boolean, innerChunkSize: Int = 0,
    stats: Boolean = true, manifestWarnParts: Int = ChunkManifest.defaultWarnParts)
    extends BatchWrite {

  // validate types up front, driver-side
  schema.fields.foreach(f => ZarrWriteSupport.zarrTypeFor(f.dataType))

  /** Unique id for this write job: scopes staged chunk/stats keys so
    * attempts of distinct writes (and manifest parts committed by
    * EARLIER staged writes) can never collide or be cleaned by another
    * job's abort. */
  private val writeId: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(10)

  /** True append: when the target store already exists (and this is not
    * an overwrite), new rows EXTEND every array along dim 0. The existing
    * schema, chunk size and codec chain win over the options; the
    * existing row count must be a whole number of chunks (a partial last
    * chunk would need a read-modify-write — rejected with a clear
    * error). Metadata and the manifest parts of earlier staged writes
    * (which must survive this commit's root rewrite) come from ONE
    * committed view: after a root write lost behind the per-array
    * documents, an advanced base paired with the old manifest would
    * leave a gap of fill rows. No failure fallback: an absent store maps
    * to empty, so anything thrown is a REAL error (transient IO, an
    * unparseable array) that must abort, not be written over. */
  private val (existingMetas, existingManifest): (Seq[ZarrArrayMeta], ChunkManifest) =
    if (truncate) (Seq.empty, ChunkManifest.empty)
    else {
      val view = store.committedView()
      val metas = view.metas
      // v2 stores are READ-ONLY here: this writer emits v3 metadata
      // and v3 chunk keys, and mixing them into a v2 layout would
      // leave a store neither format reads back whole
      metas.find(_.formatVersion == 2).foreach { m =>
        throw new ZarrException(
          s"append: ${store.root} is a Zarr v2 store (array ${m.name}); " +
            "the writer is v3-only — read it and write a new store to migrate")
      }
      (metas, if (metas.isEmpty) ChunkManifest.empty else view.manifest)
    }

  private val appendState: (Long, Int, String) =
    if (existingMetas.isEmpty) (0L, chunkSize0, codec0)
    else {
      val byName = existingMetas.map(m => m.name -> m).toMap
      schema.fields.foreach { f =>
        val m = byName.getOrElse(f.name, throw new ZarrException(
          s"append: column ${f.name} not present in existing store ${store.root}"))
        if (m.dataType.sparkType != f.dataType)
          throw new ZarrException(
            s"append: column ${f.name} type ${f.dataType.sql} != stored ${m.dataType.sparkType.sql}")
        if (m.ndim != 1)
          throw new ZarrException(s"append: array ${f.name} is not 1-D")
      }
      if (byName.size != schema.fields.length)
        throw new ZarrException(
          s"append: store has arrays ${existingMetas.map(_.name).mkString(",")} but " +
            s"dataframe has columns ${schema.fieldNames.mkString(",")}")
      val m0 = byName(schema.fields.head.name)
      // the appender flushes ONE row layout (shape(0), chunk_size) for
      // every column; a legal store whose 1-D arrays are chunked or
      // sized differently would get chunks written at ordinals its own
      // metadata addresses elsewhere — refuse, never corrupt
      byName.values.foreach { m =>
        if (m.shape(0) != m0.shape(0) || m.chunkShape(0) != m0.chunkShape(0))
          throw new ZarrException(
            s"append: arrays disagree on row layout — ${m.name} has " +
              s"${m.shape(0)} rows in chunks of ${m.chunkShape(0)} vs " +
              s"${m0.name}'s ${m0.shape(0)} in ${m0.chunkShape(0)}; this " +
              "appender requires a uniform 1-D layout across columns")
      }
      val cs = m0.chunkShape(0)
      if (m0.shape(0) % cs != 0)
        throw new ZarrException(
          s"append: existing row count ${m0.shape(0)} is not a multiple of " +
            s"chunk_size $cs (partial last chunk); rewrite with mode(overwrite)")
      val cname = m0.codecs.map(_.name) match {
        case ns if ns.contains("blosc") => "blosc"
        case ns if ns.contains("gzip") => "gzip"
        case ns if ns.contains("zstd") => "zstd"
        case _ => "none"
      }
      (m0.shape(0), cs, cname)
    }

  private val baseRows: Long = appendState._1
  private val chunkSize: Int = appendState._2
  private val codec: String = appendState._3
  private val baseChunks: Long = baseRows / chunkSize

  if (rowsPerPartition > 0 && rowsPerPartition % chunkSize != 0)
    throw new ZarrException(
      s"rows_per_partition ($rowsPerPartition) must be a multiple of chunk_size ($chunkSize)")
  if (innerChunkSize > 0 && chunkSize % innerChunkSize != 0)
    throw new ZarrException(
      s"inner_chunk_size ($innerChunkSize) must divide chunk_size ($chunkSize)")

  /** Per-column zarr.json the writers derive the codec chain, chunk-key
    * separator and stored element type from. On append this is the EXACT
    * existing metadata document (a name-mapped default chain would
    * silently drop a crc32c stage, lose codec configuration, or write
    * '/'-keys into a '.'-separated store); on fresh writes it is the
    * document the commit will persist. */
  private val colMetaJsons: Seq[String] = schema.fields.toSeq.map { f =>
    existingMetas.find(_.name == f.name) match {
      // ANY existing array wins, including a committed ZERO-row store
      // (created by writing an empty frame): regenerating from defaults
      // would silently replace its dtype/codec/sharding/separator
      case Some(m) =>
        ZarrBatchWrite.validateEncodable(m, store.root)
        m.sourceJson
      case _ =>
        val zt = ZarrWriteSupport.zarrTypeFor(f.dataType)
        val chain0 = ZarrWriteSupport.chainFor(codec)
        // inner_chunk_size > 0 → each stored chunk object is a shard of
        // inner chunks (sharding_indexed); ignored on append (existing
        // metadata wins)
        val chain = if (innerChunkSize > 0) chain0.sharded(Seq(innerChunkSize)) else chain0
        ZarrWriter.metaJson(zt, Seq(chunkSize.toLong), Seq(chunkSize),
          ZarrBatchWrite.defaultFillJson(zt), None, chain)
    }
  }
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // KNOWN HAZARD (same as ZarrCubeWrite.write and Spark's own
    // non-file-source overwrites): this delete runs before the lazy
    // input scans, so overwriting a store with data read FROM it
    // destroys the source unread — write to a fresh path instead
    if (truncate) store.delete()
    // a previously-failed aligned append may have left final-keyed stats
    // segments AND inner docs at ordinals this write is about to (re)use
    // — purge them so a stale doc can never describe the chunks written
    // now
    else retireFrom(staged = false)
    ZarrWriterFactory(store, schema.json, chunkSize, colMetaJsons, rowsPerPartition,
      baseChunks, stats, writeId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val counts = messages.map(_.asInstanceOf[ZarrCommit]).sortBy(_.partitionId)
    val nonEmpty = counts.filter(_.rows > 0)
    var manifestOut = existingManifest
    if (rowsPerPartition > 0) {
      // fast path: tasks wrote final chunk keys derived from their
      // partition id, so EVERY partition before the last data-bearing one
      // must be exactly full — an empty or short middle partition would
      // leave holes in the chunk index space while shape[0] covers them,
      // and the holes would silently read back as fill values
      val lastData = counts.reverseIterator.find(_.rows > 0).map(_.partitionId).getOrElse(-1)
      counts.filter(_.partitionId < lastData).foreach { c =>
        if (c.rows != rowsPerPartition)
          throw new ZarrException(
            s"zarr write alignment violated: partition ${c.partitionId} has ${c.rows} rows, " +
              s"expected rows_per_partition=$rowsPerPartition (every partition before the " +
              "last data-bearing one must be exactly full); use ZarrWriteSupport.alignForWrite")
      }
    } else {
      // staged path: chunks were uploaded ONCE to task-attempt keys
      // (`c.part<writeId>-<pid>/<j>`) and are never moved — the commit
      // assigns global chunk ordinals by recording a per-task manifest
      // entry in the root document (ChunkManifest: on object stores a
      // rename is COPY+DELETE, so the old rename-commit re-paid the
      // store O(data bytes); this commit is metadata-only)
      nonEmpty.dropRight(1).foreach { c =>
        if (c.rows % chunkSize != 0)
          throw new ZarrException(
            s"zarr write alignment violated: partition ${c.partitionId} has ${c.rows} rows " +
              s"(not a multiple of chunk_size=$chunkSize); use ZarrWriteSupport.alignForWrite")
      }
      // each task staged its stats docs under scope `<writeId>-<pid>` at
      // task-local final names (`s0_<n>`, `i<j>`); ONE `_stats/` LIST
      // finds them all, and each is COPIED to its global ordinal
      // (metadata-sized text, not an O(data) rename) — inner docs exist
      // only for sharded columns, one per SHARD, and a sharded layout
      // exists precisely to keep the stored object count small
      val staged = if (stats) store.sidecar().staged.filter(_.ofWrite(writeId)) else Nil
      var nextChunk = baseChunks
      val newParts = Vector.newBuilder[(Long, String, Int)]
      nonEmpty.foreach { c =>
        val nChunks = ((c.rows + chunkSize - 1) / chunkSize).toInt
        newParts += ((nextChunk, s"c.part$writeId-${c.partitionId}", nChunks))
        val base = nextChunk
        staged.filter(_.scope == s"$writeId-${c.partitionId}").foreach { st =>
          st.target.collect {
            case ChunkStats.SegmentFile(0L, n) if n == nChunks => ChunkStats.SegmentFile(base, n)
            case ChunkStats.InnerFile(j) if j < nChunks => ChunkStats.InnerFile(base + j)
          }.foreach(fin => store.readText(st.key).foreach(store.writeText(fin.key, _)))
        }
        nextChunk += nChunks
      }
      manifestOut = existingManifest ++ newParts.result()
      // growth bound: the manifest is O(write tasks) PER COMMIT and
      // append commits concatenate, so a long-lived micro-batch ingest
      // (many small staged commits) grows the root document every reader
      // fetches. Surface the drift loudly once parts cross the
      // threshold — compaction rewrites to canonical keys and resets the
      // manifest to zero entries
      if (manifestWarnParts > 0 && manifestOut.parts.length >= manifestWarnParts)
        ZarrWriteSupport.warnSink(
          s"[zarr] store ${store.root}: chunk manifest has ${manifestOut.parts.length} " +
            s"parts (threshold $manifestWarnParts, ~${manifestOut.parts.length * 30}B " +
            "of root-document JSON fetched by every reader). Run " +
            "graft.zarr.ZarrMaintenance.compact to rewrite to canonical keys " +
            "and reset the manifest; raise via option manifest_warn_parts.")
      // this write's staged stats docs are all consumed — drop them
      // (scoped by writeId: a concurrent write's staging must survive)
      staged.foreach(st => store.deleteKey(st.key))
    }
    val total = baseRows + counts.map(_.rows).sum
    // the persisted zarr.json is the SAME document the writers derived
    // their codec chain / separator / element type from, with shape[0]
    // set to the final row count (plus the manifest storage-transformer
    // marker when any chunk is manifest-keyed); the root doc embeds
    // every array's metadata (consolidated_metadata) for one-GET schema
    // inference AND the chunk manifest. Per-array documents FIRST,
    // consolidated root LAST: the single root write is the effective
    // commit point — shape advance and staged-chunk visibility land in
    // the same atomic PUT, so a crash mid-commit can never leave
    // consolidated readers seeing a newer shape than the manifest.
    val finalJsons = schema.fields.toSeq.zip(colMetaJsons).map { case (f, json) =>
      val j = ZarrMeta.withShape0(json, total)
      f.name -> (if (manifestOut.isEmpty) j else ZarrMeta.withManifestTransformer(j))
    }
    finalJsons.foreach { case (name, json) => store.writeMeta(name, json) }
    store.writeStoreRootMeta(finalJsons, manifestOut)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // 'this write created the store' is keyed on the metadata snapshot,
    // NOT baseRows: a pre-existing committed ZERO-row store has
    // baseRows == 0, and a failed append to it must not wipe it
    if (existingMetas.isEmpty) store.delete() // fresh store: remove partial output
    else { // append: keep base data — including manifest parts of EARLIER
      // staged commits, which live under their own c.part<id>- dirs; only
      // THIS write's staging (scoped by writeId) is removed
      schema.fields.foreach(f => store.cleanStaging(f.name, s"c.part$writeId-"))
      // aligned tasks write FINAL segment keys and inner docs (no
      // staging) — remove any at ordinals past the surviving base or
      // they would describe chunks the rolled-back shape[0] does not own
      retireFrom(staged = true)
    }
  }

  /** Retire, from ONE `_stats/` listing, every committed sidecar doc at
    * an ordinal at or past the base — segments by first ordinal, inner
    * docs by ordinal — and, when `staged`, this write's staged docs
    * (scoped by writeId: a concurrent write's staging must survive). */
  private def retireFrom(staged: Boolean): Unit =
    store.sidecar().entries.foreach {
      case e @ ChunkStats.SegmentFile(first, _) if first >= baseChunks => store.deleteKey(e.key)
      case e @ ChunkStats.InnerFile(ord) if ord >= baseChunks => store.deleteKey(e.key)
      case e: ChunkStats.StagedFile if staged && e.ofWrite(writeId) => store.deleteKey(e.key)
      case _ => ()
    }
}

object ZarrBatchWrite {
  def defaultFillJson(zt: ZarrType): String = zt match {
    case ZarrType.Str => "\"\""
    // binary arrays have no declared fill beyond null → empty payload
    // (ZarrMeta.parseFill refuses anything else for Bytes)
    case ZarrType.Bytes => "null"
    case ZarrType.Bool => "false"
    case ZarrType.Float32 | ZarrType.Float64 => "0.0"
    case _ => "0"
  }

  private val encodableBytesCodecs = Set("gzip", "zstd", "crc32c", "blosc")

  /** Append must reproduce the existing codec chain EXACTLY — reject
    * anything this writer cannot encode, with a clear error, rather than
    * writing chunks that will not decode (or decode wrongly) later. */
  def validateEncodable(m: ZarrArrayMeta, root: String): Unit =
    validateCodecList(m.codecs, m.name, root)

  private def validateCodecList(codecs: Seq[CodecSpec], name: String, root: String): Unit = {
    codecs.foreach {
      // "endian" is the pre-rename alias of "bytes" (accepted on read);
      // ChunkColumn.encode honors either byte order, sharded or not
      case CodecSpec("bytes" | "endian", _) => ()
      case CodecSpec("vlen-utf8", _) => () // array→bytes
      case CodecSpec("vlen-bytes", _) => () // array→bytes (binary columns)
      // append targets are strictly 1-D, where any legal transpose order
      // is [0] = identity (ZarrMeta.parse rejects non-permutations), so
      // reproducing the chain without an explicit gather is byte-exact;
      // the sharded encode path applies inner transpose anyway
      case CodecSpec("transpose", _) => ()
      case CodecSpec("blosc", cfg) =>
        val cname = cfg.get("cname").map(_.asText("lz4")).getOrElse("lz4")
        if (cname != "lz4" && cname != "lz4hc" && cname != "zstd")
          throw new ZarrException(
            s"append: array $name in $root uses blosc cname '$cname' " +
              "which this writer cannot encode (supported: lz4, lz4hc, zstd)")
        if (cfg.get("shuffle").exists(_.asText("") == "bitshuffle"))
          throw new ZarrException(
            s"append: array $name in $root uses blosc bitshuffle " +
              "which this writer cannot encode")
      case CodecSpec("sharding_indexed", cfg) =>
        // the inner chain must be encodable too (Sharding.specOf also
        // rejects variable-size index codecs)
        val spec = Sharding.specOf(Seq(CodecSpec("sharding_indexed", cfg))).get
        validateCodecList(spec.innerCodecs, name, root)
      case CodecSpec(name0, _) if encodableBytesCodecs(name0) => ()
      case CodecSpec(name0, _) =>
        throw new ZarrException(
          s"append: array $name in $root uses codec '$name0' " +
            s"which this writer cannot encode (supported: bytes, vlen-utf8, sharding_indexed, " +
            s"${encodableBytesCodecs.toSeq.sorted.mkString(", ")})")
    }
  }
}

final case class ZarrCommit(partitionId: Int, rows: Long) extends WriterCommitMessage

final case class ZarrWriterFactory(
    store: ZarrStore, schemaJson: String, chunkSize: Int, colMetaJsons: Seq[String],
    rowsPerPartition: Long, baseChunks: Long, stats: Boolean = true,
    writeId: String = "w")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(store,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      chunkSize, colMetaJsons, partitionId, rowsPerPartition, baseChunks, stats, writeId)
}

/** Buffers `chunk_size` rows per column, then encodes+writes one chunk
  * file per column. Memory bound: chunk_size × row width.
  *
  * Codec chain, endianness, chunk-key separator and stored element type
  * all come from the per-column zarr.json (`colMetaJsons`) — on append
  * that is the store's EXISTING metadata, so e.g. a crc32c stage or a
  * '.'-separated key layout is reproduced exactly. */
final class ZarrDataWriter(
    store: ZarrStore, schema: StructType, chunkSize: Int, colMetaJsons: Seq[String],
    partitionId: Int, rowsPerPartition: Long, baseChunks: Long, stats: Boolean = true,
    writeId: String = "w")
    extends DataWriter[InternalRow] {

  private val ncols = schema.fields.length
  private val colMetas: Array[ZarrArrayMeta] =
    schema.fields.zip(colMetaJsons).map { case (f, j) => ZarrMeta.parse(f.name, j) }
  private val buf = Array.fill(ncols)(new scala.collection.mutable.ArrayBuffer[Any](chunkSize))
  private var rowsInChunk = 0
  private var localChunk = 0
  private var totalRows = 0L
  // per-chunk bounds and exact sums over the REAL rows (stats describe
  // stored values the reader will see within the array's valid extent —
  // padding is outside it)
  private val segment = new ChunkStats.SegmentRecorder(colMetas.map(m => m.name -> m.dataType))

  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < ncols) {
      if (row.isNullAt(c))
        throw new ZarrException(
          s"zarr arrays cannot store NULL (column ${schema.fields(c).name}); " +
            "coalesce/filter nulls before writing")
      val v = schema.fields(c).dataType match {
        case StringType => row.getUTF8String(c).toString
        case d: DecimalType => row.getDecimal(c, d.precision, d.scale).toJavaBigDecimal
        case dt => row.get(c, dt)
      }
      buf(c) += v
      c += 1
    }
    rowsInChunk += 1
    totalRows += 1
    if (rowsInChunk == chunkSize) flush()
  }

  private def flush(): Unit = {
    if (rowsInChunk == 0) return
    val realRows = rowsInChunk
    if (stats) segment.record(buf(_))
    // per-inner-chunk stats for SHARDED columns: the same
    // `_stats/i<ord>.json` doc analyze backfills, emitted at write time
    // so a sharded tabular store masks data predicates with no second
    // corpus read. Docs are grid-less (empty shape — the final shape is
    // unknown until commit), accepted for 1-D scans like grid-less
    // segments; the staged path parks them at task-scoped names the
    // commit copies to final ordinals. Padding inner chunks of the edge
    // shard are omitted (ChunkColumn.encode's extent rule).
    val docCols = Seq.newBuilder[ChunkStats.InnerColInput]
    var c = 0
    while (c < ncols) {
      val m = colMetas(c)
      val vals = buf(c)
      // pad edge chunk to full chunk_shape with the array's declared
      // fill_value (Zarr v3 stores full chunks; the reader truncates via
      // array shape) — a conforming writer pads with fill_value, not
      // zero, so appends to a non-zero-fill store stay interoperable
      while (vals.length < chunkSize) vals += m.fillValue
      val enc = ChunkColumn.encode(m, vals, Seq(realRows))
      val key =
        if (rowsPerPartition > 0) {
          val ord = baseChunks + partitionId * (rowsPerPartition / chunkSize) + localChunk
          Seq("c", ord.toString).mkString(m.chunkKeySeparator)
        } else s"c.part$writeId-$partitionId/$localChunk" // final key; commit maps it via manifest
      store.writeChunk(m.name, key, enc)
      if (stats && ChunkStats.hasInnerStats(m)) {
        // both key layouts are the object's FINAL resting place (the
        // manifest maps ordinals, it never moves bytes), so the
        // mtime/etag freshness tokens can be recorded right here — one
        // HEAD per shard, next to its PUT
        docCols += ChunkStats.innerCol(m, Some(enc), store.objectStat(m.name, key),
          vals(_), Array(realRows))
      }
      vals.clear()
      c += 1
    }
    val docs = docCols.result()
    if (docs.nonEmpty) {
      val dkey =
        if (rowsPerPartition > 0)
          ChunkStats.innerKey(
            baseChunks + partitionId * (rowsPerPartition / chunkSize) + localChunk)
        else ChunkStats.stagingKey(scope, ChunkStats.InnerFile(localChunk))
      store.writeText(dkey,
        ChunkStats.encodeInner(Nil, Nil, Seq(chunkSize), docs))
    }
    rowsInChunk = 0
    localChunk += 1
  }

  /** This task's staging scope for stats docs the commit promotes. */
  private def scope: String = s"$writeId-$partitionId"

  override def commit(): WriterCommitMessage = {
    flush()
    if (stats && localChunk > 0) {
      val key =
        if (rowsPerPartition > 0)
          // aligned fast path: the task knows its global first ordinal
          ChunkStats.segmentKey(
            baseChunks + partitionId * (rowsPerPartition / chunkSize), localChunk)
        else
          // staged path: driver commit copies to the final ordinal name
          ChunkStats.stagingKey(scope, ChunkStats.SegmentFile(0L, localChunk))
      store.writeText(key, segment.doc())
    }
    ZarrCommit(partitionId, totalRows)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
