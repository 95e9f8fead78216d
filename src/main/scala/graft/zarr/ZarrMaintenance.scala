package graft.zarr

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Store maintenance: compaction.
  *
  * A streaming ingest (ZarrSink) grows a store in micro-batch-sized
  * chunks; at object-store scale that accumulates into many small
  * objects per column — each a GET at read time, each a LIST entry.
  * `compact` rewrites the store into a fresh one with production
  * chunking and `sharding_indexed` packing (many logical chunks per
  * stored object with a binary index), which is the layout the read
  * path scans fastest (one GET per shard, and the inner chunks decode
  * in parallel — `Sharding`'s intra-shard decode pool).
  *
  * Runs as one distributed pass: the chunked scan feeds the parallel
  * append writer; row order is preserved (the scan enumerates chunks
  * in order and write tasks commit in partition order), so the
  * compacted store is value- AND order-identical — proven in
  * ZarrMaintenanceSpec. The swap is left to the caller (write to a
  * sibling path, then rename), matching how object-store compaction
  * jobs actually deploy.
  */
object ZarrMaintenance {

  /** Rewrite `srcPath` into `dstPath` with the given chunking. Returns
    * (objects before, objects after) summed over all arrays by the one
    * stored-object counter, [[ZarrDistWalk.countStored]] (the figure
    * `ZarrInfo.describe(countStored = true)` reports per array) — the
    * GET/LIST economy the compaction buys.
    *
    * 1-D tabular stores take the aligned append path (`chunkSize` rows
    * per chunk packed `innerChunkSize` per inner chunk via
    * sharding_indexed). N-D stores (round 12) take the CUBE path: the
    * chunked scan flattens the grid to coordinate+data rows — exactly
    * the dense cross product ZarrCubeWrite requires by construction on
    * any coherent store — and the cube writer re-chunks it at
    * `chunkShapeNd` (or its default sizing). The 1-D path preserves
    * values AND row order (aligned append commits in partition order);
    * the N-D contract is PER-COORDINATE VALUE IDENTITY: a chunked scan
    * enumerates chunk-major order of its own grid, so a re-chunked
    * destination legitimately emits a different permutation of the same
    * tuples. Both serve as the v2→v3
    * migration: a v2 climate cube compacts into a v3 cube store. v2
    * `datetime64` columns ride through as the raw int64 the scan
    * surfaces (values exact, NaT = Long.MinValue), and the kind/unit
    * annotation survives: the scan's `zarr_time_kind`/`zarr_time_unit`
    * field metadata is written as v3 array ATTRIBUTES on the
    * destination and surfaces identically on re-read.
    * N-D dims without a coordinate array are refused: rows
    * are the only transport between the stores, and only a coordinate
    * column can re-rank a dim's positions. */
  def compact(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      chunkSize: Int = 65536,
      innerChunkSize: Int = 8192,
      chunkShapeNd: Seq[Int] = Nil,
      codec: String = "",
      shardShapeNd: Seq[Int] = Nil): (Long, Long) = {
    // mirror the DSv2 option surface: sharding with a DEFAULTED inner
    // layout would pin an arbitrary heuristic chunking into the store's
    // metadata — and refuse BEFORE the source scan / density jobs run
    if (shardShapeNd.nonEmpty && chunkShapeNd.isEmpty)
      throw new ZarrException(
        "compact: shardShapeNd requires chunkShapeNd (the inner chunk " +
          "layout readers address); give both, inner dividing outer")
    // refuse a non-empty destination: the write below uses append
    // semantics, so a re-run (orchestrator retry, ambiguous failure)
    // against an existing dst would silently append a SECOND full copy
    // of every row — compaction must be write-fresh-then-swap
    val dstStore = ZarrStore.forSession(spark, dstPath)
    if (dstStore.rootInventory().exists(_.exists(_._2)))
      throw new ZarrException(
        s"compact destination $dstPath already holds arrays; compaction " +
          "writes a FRESH store — delete the destination (a prior/partial " +
          "run) and re-run")
    val srcStore = ZarrStore.forSession(spark, srcPath)
    val srcMetas = srcStore.committedView().arrays
    val geom = ScanGeometry.resolve(srcMetas)
    // one recursive driver listing per array, whatever the size: the
    // rewrite below is the job, the counts only report its economy
    def stored(st: ZarrStore, metas: Seq[ZarrArrayMeta]): Long =
      ZarrDistWalk.countStored(spark, st, metas, Long.MaxValue).values.sum
    // counted before the write: the destination may lie inside the source
    val before = stored(srcStore, srcMetas)
    // codec: explicit parameter wins; otherwise mirror the SOURCE store's
    // compression (a gzip or uncompressed source must not silently become
    // blosc — r12 ADVICE). Derivation looks at the bytes→bytes stage of
    // the first data array's chain; unknown/none → "none".
    val dstCodec =
      if (codec.nonEmpty) codec
      else {
        // a SHARDED array nests its whole chain inside sharding_indexed
        // (every 1-D compact output is shaped this way) — look through
        // to the inner codecs or a re-compaction of a compacted store
        // would silently read "sharding_indexed" only and decompress
        val names = srcMetas.flatMap { m =>
          m.codecs.flatMap { c =>
            c.name +: (if (c.name == "sharding_indexed")
              Sharding.specOf(Seq(c)).map(_.innerCodecs.map(_.name)).getOrElse(Nil)
            else Nil)
          }
        }.toSet
        // v2 compressors without a same-name v3 writer chain map to the
        // nearest family — a compressed source must stay compressed.
        // ZarrMeta.parseV2 spells them "v2-bz2"/"v2-lzma"/"v2-lz4"
        // ("zlib"/"gzip"/"zstd"/"blosc" keep their plain names): bz2 and
        // lzma(xz) are high-ratio codecs and zstd is the closest the
        // writer offers; numcodecs lz4 is a speed codec, blosc(lz4)'s
        // family
        if (names.contains("blosc") || names.contains("v2-lz4")) "blosc"
        else if (names.contains("zstd") || names.contains("v2-bz2") ||
          names.contains("v2-lzma")) "zstd"
        else if (names.contains("gzip") || names.contains("zlib")) "gzip"
        else "none"
      }
    val df = spark.read.format("zarr").load(srcPath)
    if (geom.ndim == 1) {
      // the source scan partitions at the OLD chunk granularity; re-align
      // to the new chunk size so the writer's aligned fast path applies
      // (one write task per new-layout partition, order preserved)
      graft.sources.ZarrWriteSupport.alignForWrite(df, chunkSize)
        .write.format("zarr").mode("append")
        .option("chunk_size", chunkSize.toString)
        .option("inner_chunk_size", innerChunkSize.toString)
        .option("rows_per_partition", chunkSize.toString)
        .option("codec", dstCodec)
        .save(dstPath)
    } else {
      // cube path: every dim needs a coordinate array — rows are the
      // only transport between the stores, and only a coordinate column
      // can re-rank a dim's positions in the destination grid
      val coordNames = (0 until geom.ndim).map { d =>
        geom.roles.collectFirst { case CoordCol(m, `d`) => m.name }.getOrElse(
          throw new ZarrException(
            s"compact: N-D store at $srcPath has no coordinate array for " +
              s"dimension $d; cube compaction rebuilds positions from coordinates"))
      }
      // the cube writer rebuilds every axis as a sorted-ASCENDING
      // distinct; a descending or unsorted source axis (descending
      // latitude is the norm in real climate datasets) would compact
      // into a silently re-ordered store — axis direction, chunk
      // layout and scan order all changed. Loud refusal, never guess.
      coordNames.foreach { cn =>
        val m = srcMetas.find(_.name == cn).get
        requireAscendingAxis(srcStore, m, srcPath)
      }
      // `shardShapeNd` is the N-D analog of the 1-D path's
      // sharding_indexed packing: the compacted cube's stored objects
      // become shards of `chunkShapeNd` inner chunks — the same
      // object-count compaction, N dimensions up
      graft.sources.ZarrCubeWrite.write(
        df, dstPath, coordNames,
        if (chunkShapeNd.nonEmpty) Some(chunkShapeNd) else None,
        codec = dstCodec, stats = true, truncate = false,
        shardShapeOpt = if (shardShapeNd.nonEmpty) Some(shardShapeNd) else None)
    }
    (before, stored(dstStore, dstStore.committedView().arrays))
  }

  /** Driver-side check that a 1-D coordinate axis is strictly ascending —
    * the order the cube writer will rebuild it in. Axis arrays are
    * axis-sized (bounded by the cube writer's own max_axis_len), so a
    * sequential decode is cheap relative to the compaction job. */
  private def requireAscendingAxis(
      store: ZarrStore, m: ZarrArrayMeta, srcPath: String): Unit = {
    graft.sources.ZarrCubeWrite.readAscendingAxis(store, m, srcPath,
      "the cube writer rebuilds axes sorted ascending, which would silently " +
        "re-order this store's axis direction and chunk layout — re-order " +
        "the source (or write the cube directly) instead")
    ()
  }

  /** Backfill the chunk-stats sidecar for an existing store this engine
    * did NOT write — a Zarr v2 store, a foreign v3 store, or a store
    * whose sidecar was lost. The engine's own writer emits stats at
    * write time; everything else arrives sidecar-less, which silently
    * degrades scans to decode-and-test exactly where a big store needs
    * chunk skipping most. The ANALYZE of this engine.
    *
    * Works on 1-D tabular stores AND N-D coordinate stores (the
    * reference's flagship lat/lon shape, `table_provider.rs:417-423`):
    * the store's arrays resolve to ONE scan geometry (data arrays
    * congruent, 1-D arrays broadcast as coordinates — the same rules
    * every scan enforces), chunks are enumerated by row-major ordinal
    * over that grid, and per-chunk bounds are recorded over the chunk's
    * OUTPUT rows (coordinate broadcast applied — min/max of a repeated
    * slice equal the slice's, and sums count repetitions exactly as a
    * scan's SUM would). Segments carry the grid signature so a scan
    * whose selection resolves to a DIFFERENT grid (a lone-coordinate
    * scan, a reordered cross product) safely ignores them.
    *
    * One distributed pass: each task decodes a CONTIGUOUS ordinal range
    * of every column's chunks (`spark.range` partitions are contiguous),
    * records per-chunk min/max bounds (+ integral sums), and writes ONE
    * committed segment document covering its range — so after analyze
    * the chunk-skip scan, metadata-only COUNT/MIN/MAX/SUM pushdown,
    * hybrid partial pushdown and CBO column statistics work exactly as
    * on engine-written stores. Existing segments are purged first
    * (re-analyze refreshes a stale sidecar).
    *
    * Returns the number of chunks analyzed. Manifest-keyed stores
    * (staged engine commits whose sidecar was since lost — 1-D only,
    * the only shape the DSv2 writer produces) resolve chunk keys
    * through the root-doc manifest, exactly as the scan does. Sharded
    * arrays analyze per OUTER chunk (= one stored shard, decoded
    * through the same [[ChunkColumn.decode]] path the scan uses).
    *
    * `incremental = true` analyzes ONLY the ordinals the existing
    * sidecar does not validly cover — the daily-foreign-ingest lever:
    * segments and inner docs both survive dim-0 appends (the
    * smaller-leading-extent acceptance), so after an xarray append only
    * the NEW slab's ordinals lack coverage, and incremental analyze
    * pays one metadata sweep (a GET per existing segment, one `_stats`
    * LIST) plus the data read of exactly those ordinals — O(day), not
    * O(corpus). Suppressed-overlap, grid-incompatible and unreadable
    * segments are DELETED and their ranges re-analyzed (they prove
    * nothing and would otherwise overlap-suppress the fresh segments);
    * on stores with sharded data columns an ordinal also needs a
    * COVERING `i<ord>.json` doc — one the reader would mask with for
    * every sharded column ([[ChunkStats.InnerDocs]] carries the exact
    * rule), so a foreign in-place shard rewrite gets
    * its bounds refreshed by the next incremental run instead of
    * leaving masking silently declined until a FULL analyze. The sweep
    * itself (one GET per segment + one GET/HEAD per doc) runs through
    * the same one-visitor-both-schedulers walk units as vacuum's —
    * inline on the driver up to 64 objects, one Spark job above (the
    * 10^5-segment micro-batch-ingest scale, where a driver-serial
    * sweep is minutes of GETs at object-store latency). */
  def analyze(spark: SparkSession, path: String, incremental: Boolean = false): Long =
    analyzeImpl(spark, path, incremental, ZarrDistWalk.InlineMax)

  /** Incremental analyze with FORCED re-analysis of the given ordinal
    * ranges (`[first, until)` pairs) — the bounds-freshness middle
    * between "covered is covered" and a full analyze. Sharded stores
    * self-heal from foreign in-place rewrites (the doc sweep's
    * length/mtime/etag guard detects them), but an UNSHARDED store
    * records no per-object token, so a foreign tool rewriting a known
    * window in place leaves segment bounds silently stale until a full
    * analyze. The caller that ran the foreign rewrite knows its window;
    * this retires every segment (and sharded doc) OVERLAPPING the given
    * ranges and re-analyzes their full extents plus everything else
    * uncovered — same all-or-nothing discipline as the append's edge
    * retirement, so coverage stays whole and unsuppressed. */
  def analyzeRefresh(
      spark: SparkSession, path: String, refresh: Seq[(Long, Long)]): Long =
    analyzeImpl(spark, path, incremental = true, ZarrDistWalk.InlineMax, refresh)

  /** Single-window [[analyzeRefresh]] — the Java/Python-gateway form
    * (primitive longs; a py4j caller cannot build `Seq[(Long, Long)]`
    * without boxing surprises). */
  def analyzeRefresh(
      spark: SparkSession, path: String, first: Long, until: Long): Long =
    analyzeRefresh(spark, path, Seq((first, until)))

  /** [[analyze]] with the sweep's driver/job threshold exposed — the
    * seam that pins both schedulers equal. */
  private[zarr] def analyzeImpl(
      spark: SparkSession, path: String, incremental: Boolean,
      sweepInlineMax: Long, refresh: Seq[(Long, Long)] = Nil): Long = {
    if (refresh.nonEmpty && !incremental)
      throw new ZarrException(
        "analyze: refresh ranges require incremental mode (a full analyze already refreshes everything)")
    val store = ZarrStore.forSession(spark, path)
    val hadoopPairs = store.hadoopConfPairs
    // the committed view: after a root write lost behind the per-array
    // documents, their shapes run past the root's grid and the manifest,
    // and bounds recorded there (fill values at canonical keys) would
    // describe the chunks a later re-run writes
    val view = store.committedView()
    val metas = view.arrays
    // sharded arrays analyze fine: a stored object is one outer chunk
    // (the shard), ChunkColumn.decode unpacks it exactly as the scan
    // does, and stats are recorded per outer chunk — the granularity
    // the skip machinery keys on. (Engine-written sharded stores carry
    // write-time stats, but a LOST sidecar must be rebuildable.)
    // the SAME consistency rules every scan applies: congruent data
    // arrays, 1-D arrays as coordinates; an incoherent store fails loud
    val geom =
      try ScanGeometry.resolve(metas)
      catch {
        case e: ZarrException =>
          throw new ZarrException(s"analyze: ${e.getMessage}")
      }
    val manifest = view.manifest
    val numChunks = geom.numChunks
    val metaJsons = metas.map(m => m.name -> m.sourceJson)
    // bound each segment DOCUMENT (one shared ceiling with sidecar
    // compaction's group packing — see ChunkStats.maxSegmentChunks)
    val maxSegChunks = ChunkStats.maxSegmentChunks
    // unit size balances two costs: units are both the SEGMENT documents
    // (bounded at maxSegChunks so a scan task's metadata read stays
    // small) and the TASKS of the analysis job (so a small store still
    // fans out across the cluster instead of one whole-grid unit)
    def splitRuns(runs: Seq[(Long, Long)]): Seq[(Long, Int)] = {
      val total = runs.map { case (lo, hi) => hi - lo }.sum
      val goal = 2L * math.max(1, spark.sparkContext.defaultParallelism)
      val unit = math.max(1L, math.min(maxSegChunks.toLong,
        (total + goal - 1) / goal)).toInt
      runs.flatMap { case (lo, hi) =>
        Iterator.iterate(lo)(_ + unit).takeWhile(_ < hi)
          .map(f => (f, math.min(hi - f, unit.toLong).toInt)).toSeq
      }
    }
    // the contiguous segment ranges to (re)analyze: full mode purges the
    // sidecar (inner docs too) and covers the whole grid; incremental
    // keeps every VALID segment/doc and covers only the complement. ONE
    // `_stats/` LIST serves either.
    val listing = store.sidecar()
    val targets: Seq[(Long, Int)] =
      if (!incremental) {
        listing.retire(store, 0L, Long.MaxValue, "", n => metas.find(_.name == n).map(_.dataType))
        splitRuns(Seq((0L, numChunks)))
      } else {
        // ---- sidecar sweep: docs first, then segments, both through
        // the ZarrDistWalk sweeps and scheduler (inline ≤
        // sweepInlineMax objects, one Spark job above; a driver-serial
        // GET per segment is minutes at the 10^5-segment ingest scale).
        //
        // sharded data columns additionally need a COVERING inner doc
        // per ordinal: the reader would mask with it for every sharded
        // column (ChunkStats.InnerDocs — name-presence alone would
        // leave a stale doc's shard silently unmasked forever while
        // every run reports success). Non-covering docs are deleted and
        // their ordinals re-analyzed. O(shards) GETs + HEADs, sharded
        // grids are small by design — but the sweep still shards out
        // with everything else.
        val needDocs = metas.zip(geom.roles).exists {
          case (m, DataCol(_)) => ChunkStats.hasInnerStats(m)
          case _ => false
        }
        refresh.foreach { case (lo, hi) =>
          if (lo < 0 || hi <= lo || hi > numChunks)
            throw new ZarrException(
              s"analyze refresh range [$lo, $hi) outside the chunk grid [0, $numChunks)")
        }
        def inRefresh(first: Long, n: Long): Boolean =
          refresh.exists { case (lo, hi) => first < hi && first + n > lo }
        // forced-refresh windows' docs are not presumed: they retire
        // UNVALIDATED (the retire-then-rewrite discipline — a declined
        // column during re-analysis must not leave a half-old doc
        // behind), without the GET + per-column HEAD validation costs
        val docOrds: Set[Long] =
          if (!needDocs) Set.empty
          else ZarrDistWalk.run(spark, listing.innerOrds.map(o => (o, !inRefresh(o, 1L))),
            sweepInlineMax)(ords => ZarrDistWalk.sweepInnerDocsUnit(
              path, hadoopPairs, ords, metaJsons, manifest, every = true))
            .collect { case (o, true) => o }.toSet
        // a segment counts as covering ONLY when every ordinal it
        // describes also has its COVERING inner doc (when docs are
        // needed): re-analyzing a doc-less ordinal writes a NEW segment
        // over its range, and an overlapping retained segment would
        // make the listing's overlap rule suppress BOTH sides — the run must
        // retire the partial segment and re-analyze its whole range,
        // the same all-or-nothing discipline the append's edge
        // retirement applies. Presumed-liveness (suppression, refresh,
        // doc coverage) is decidable from the listings + doc sweep, so
        // it rides the unit args; the per-segment GET+parse is the
        // distributed part.
        val unsuppressed = listing.unsuppressed.toSet
        val tagged = listing.raw.map { case (first, n) =>
          (first, n, unsuppressed((first, n)) && !inRefresh(first, n.toLong) &&
            (!needDocs || (first until first + n).forall(docOrds.contains)))
        }
        val colTypes = metas.map(m => m.name -> m.dataType.zarrName).toMap
        val (ndim, grid, dims) = (geom.ndim, geom.gridShape.toSeq, geom.dimIdentity)
        val covered = ZarrDistWalk.run(spark, tagged, sweepInlineMax)(segs =>
          ZarrDistWalk.sweepSegmentsUnit(
            path, hadoopPairs, segs, numChunks, ndim, grid, dims, colTypes))
          .collect { case ((first, n), true) => (first, first + n) }
        // merge valid coverage into disjoint sorted runs
        val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        covered.sortBy(_._1).foreach { case (lo, hi) =>
          if (merged.nonEmpty && lo <= merged.last._2)
            merged(merged.length - 1) =
              (merged.last._1, math.max(merged.last._2, hi))
          else merged += ((lo, hi))
        }
        // uncovered = grid minus covered
        val uncovered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var cursor = 0L
        merged.foreach { case (lo, hi) =>
          if (lo > cursor) uncovered += ((cursor, lo))
          cursor = math.max(cursor, hi)
        }
        if (cursor < numChunks) uncovered += ((cursor, numChunks))
        splitRuns(uncovered.toSeq)
      }
    if (numChunks == 0 || targets.isEmpty) return 0L
    val gridShape = geom.gridShape.toSeq
    val dimIdent = geom.dimIdentity
    val parts = math.min(targets.size,
      math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(targets, parts)
      .mapPartitions { ranges =>
        {
          val st = ZarrStore(path, hadoopPairs)
          val ms = metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }
          val g = ScanGeometry.resolve(ms)
          val roleOf: Map[String, ColumnRole] = ms.map(_.name).zip(g.roles).toMap
          // a coordinate chunk is shared by every target chunk in its
          // row/column — decode it once per task, not once per ordinal
          val coordCache = new java.util.HashMap[String, ChunkColumn]()
          var written = 0L
          ranges.map { case (segFirst, segLen) => (segFirst until segFirst + segLen).toArray }
            .foreach { seg =>
            val segment = new ChunkStats.SegmentRecorder(ms.map(m => m.name -> m.dataType))
            // data-column bytes ride a depth-bounded prefetch window so
            // decode overlaps IO — a blocking GET per chunk per column
            // would serialize the whole range at object-store latency
            val pf = new ChunkPrefetcher[Long,
                Map[String, (Option[Array[Byte]], Option[ZarrStore.ObjStat])]](
              seg.iterator.map(_.toLong),
              ord => {
                val idx = g.chunkIndex(ord)
                ms.flatMap { m =>
                  roleOf(m.name) match {
                    case DataCol(_) =>
                      val key = manifest.chunkKeyOf(m, idx, ord)
                      // PRE-GET stat for sharded stats columns: the
                      // mtime freshness token must BRACKET the data
                      // read — a same-length (constant-length codec)
                      // swap between this GET and the emission-time
                      // HEAD would otherwise pair the OLD bytes'
                      // bounds with the NEW object's mtime, defeating
                      // exactly the guard the token exists for
                      val pre =
                        if (ChunkStats.hasInnerStats(m)) st.objectStat(m.name, key)
                        else None
                      Some(m.name -> ((st.readChunk(m.name, key), pre)))
                    case CoordCol(_, _) => None // tiny + cached below
                  }
                }.toMap
              })
            try {
              seg.foreach { ord =>
                val idx = g.chunkIndex(ord)
                val extent = g.chunkExtent(idx)
                val nRows = extent.product
                val raw = pf.next()
                val cols = ms.map { m =>
                  roleOf(m.name) match {
                    case CoordCol(_, dim) =>
                      coordCache.computeIfAbsent(s"${m.name}/${idx(dim)}", (_: String) =>
                        ChunkColumn.decode(m, st.readChunk(m.name, m.chunkKey(Array(idx(dim))))))
                    case DataCol(_) => ChunkColumn.decode(m, raw(m.name)._1)
                  }
                }
                // bounds/sums over the chunk's OUTPUT rows: the mapping
                // realizes edge truncation and coordinate broadcast, so
                // recorded stats agree with what a scan of this chunk emits
                segment.record { i =>
                  val mapping = ChunkColumn.mapping(roleOf(ms(i).name), g.targetChunk, extent)
                  if (mapping == null) (0 until nRows).map(cols(i).get)
                  else (0 until nRows).map(r => cols(i).get(mapping(r)))
                }
                // sharded data columns additionally record per-INNER-chunk
                // bounds into one `_stats/i<ord>.json` doc per shard, so
                // data-column predicates can mask inner chunks before any
                // shard byte is fetched (see ChunkStats inner-doc notes).
                // Freshness tokens: index checksum from the bytes already
                // in hand; mtime from a HEAD that must AGREE with the
                // pre-GET stat captured in the prefetch lambda — a swap
                // anywhere inside the GET..HEAD bracket (same-length
                // encodings included) makes pre != post, and the column
                // is then SKIPPED for this ordinal: its bounds describe
                // bytes the store no longer holds, and even a
                // length-only record would let a constant-length rewrite
                // pass the guard. A stably absent shard records
                // fill-value bounds, and the reader's guard requires
                // live absence.
                val ic = ms.indices.flatMap { i =>
                  val m = ms(i)
                  roleOf(m.name) match {
                    case DataCol(_) if ChunkStats.hasInnerStats(m) =>
                      val (bytes, preStat) = raw(m.name)
                      val postStat = st.objectStat(m.name, manifest.chunkKeyOf(m, idx, ord))
                      val stable = postStat == preStat &&
                        bytes.fold(postStat.isEmpty)(b => postStat.exists(_.len == b.length.toLong))
                      if (!stable) None // swapped/appeared mid-analyze: decline
                      else Some(ChunkStats.innerCol(m, bytes, postStat, cols(i).get, extent))
                    case _ => None
                  }
                }
                if (ic.nonEmpty)
                  st.writeText(ChunkStats.innerKey(ord),
                    ChunkStats.encodeInner(g.targetShape.toSeq, g.dimIdentity,
                      g.targetChunk.toSeq, ic))
              }
            } finally pf.close()
            st.writeText(
              ChunkStats.segmentKey(seg.head, seg.length),
              segment.doc(gridShape, dimIdent))
            written += seg.length
          }
          Iterator.single(written)
        }
      }.reduce(_ + _)
  }

  /** Compaction PLANNING, pure over a first-sorted live-segment
    * listing ([[ZarrStore.liveSegments]]): greedy packing of
    * CONTIGUOUS ordinal runs into groups of ≤
    * [[ChunkStats.maxSegmentChunks]] total chunks; only groups that
    * actually merge ≥2 documents are worth a rewrite (singletons and
    * gaps are analyze's/vacuum's concern). Invariants
    * (property-pinned in StatsCompactionSpec): every group's members
    * are contiguous and input-ordered, group totals respect the doc
    * bound unless a single source already exceeds it (an analyze-
    * written full doc passes through untouched — it forms no ≥2
    * group), groups are pairwise disjoint, every group size ≥ 2, and
    * a group's merged key (first, total) never collides with a LIVE
    * source key — contiguity makes total strictly greater than the
    * first member's own length for ≥2 groups. */
  private[zarr] def planCompaction(
      live: Seq[(Long, Int)]): Seq[Seq[(Long, Int)]] = {
    val groups = Seq.newBuilder[Seq[(Long, Int)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var curTotal = 0
    def flush(): Unit = {
      if (cur.size >= 2) groups += cur.toSeq
      cur.clear(); curTotal = 0
    }
    live.foreach { case (f, n) =>
      val contiguous = cur.nonEmpty && cur.last._1 + cur.last._2 == f
      if (!contiguous || curTotal + n > ChunkStats.maxSegmentChunks) flush()
      cur += ((f, n)); curTotal += n
    }
    flush()
    groups.result()
  }

  /** SIDECAR compaction: merge contiguous runs of committed stats
    * segments into documents of up to [[ChunkStats]]' task-doc size
    * (4096 chunks), preserving every per-ordinal bound, sum and
    * clamped-bound marker exactly. A long-lived micro-batch ingest
    * accumulates one segment per WRITE TASK — 10^5 for a year of
    * 5-minute triggers — and every scan PLAN pays the `_stats/` LIST
    * (O(segments/1000) paginated requests on object stores) while scan
    * tasks GET each overlapping document: compaction collapses both to
    * O(chunks / 4096). Metadata-only — no chunk bytes are read.
    *
    * Crash-safe by ORDER, not staging: merged documents are all
    * committed BEFORE any superseded source is deleted. A crash in the
    * window leaves the merged document overlapping its sources, which
    * the reader's overlap suppression DEGRADES (those chunks
    * decode-and-test; never wrong) and the next incremental analyze
    * heals (it retires suppressed segments and re-analyzes their
    * range). Only groups of ≥2 fully-valid segments are touched; junk
    * and singletons are left for vacuum/analyze. Scheduled by size, like
    * vacuum: the merges run on the driver while the plan's source
    * segments number at most 64 and as one Spark job above (the
    * 10^5-segment shape); the deletes decide the same way on their own
    * count. Returns (segments before, segments after).
    * Single-maintainer contract, like every commit path. */
  def compactStats(spark: SparkSession, path: String): (Long, Long) =
    compactStatsImpl(spark, path, ZarrDistWalk.InlineMax)

  /** [[compactStats]] with the driver/job threshold exposed — the seam
    * that pins both schedulers equal. */
  private[graft] def compactStatsImpl(
      spark: SparkSession, path: String, inlineMax: Long): (Long, Long) = {
    val store = ZarrStore.forSession(spark, path)
    val pairs = store.hadoopConfPairs
    val metas = store.committedView().arrays
    val geom =
      try ScanGeometry.resolve(metas)
      catch { case e: ZarrException =>
        throw new ZarrException(s"compactStats: ${e.getMessage}") }
    // ONE raw LIST serves both the before-count and the live set (a
    // second `_stats/` LIST is O(segments/1000) paginated requests at
    // the scale this op targets)
    val raw = store.sidecar().raw
    val before = raw.size.toLong
    // committed, unsuppressed, in-grid, NON-EMPTY segments only —
    // sorted by first (ZarrStore.liveSegments, the ONE rule this op
    // shares with the describeStats dashboard). The n > 0 leg is
    // load-bearing here: a zero-length segment (foreign junk; s<f>_0
    // parses) in a group would make the merged document's key collide
    // with a SOURCE key (same first, same total), and phase 2 would
    // then delete the merge's own output
    val plan = planCompaction(ZarrStore.liveSegments(raw, geom.numChunks))
    if (plan.isEmpty) return (before, before)
    val colTypes = metas.map(m => m.name -> m.dataType.zarrName).toMap
    val (ndim, grid, dims) = (geom.ndim, geom.gridShape.toSeq, geom.dimIdentity)
    // phase 1: commit every merged document
    val superseded = ZarrDistWalk.run(spark, plan, inlineMax,
      plan.map(_.size.toLong).sum)(groups => ZarrDistWalk.compactStatsUnit(
        path, pairs, groups, ndim, grid, dims, colTypes))
    // phase 2: delete the superseded sources — only now, so the merge
    // is all-or-degrade (see the crash-window note above). Deletions
    // are COUNTED, not assumed: a false-returning deleteKey must not
    // be reported as reclaimed.
    val deleted = ZarrDistWalk.run(spark, superseded, inlineMax) { ks =>
      val st = ZarrStore(path, pairs)
      Seq(ks.count(st.deleteKey).toLong)
    }.sum
    // 'after' is DERIVED, not re-listed: the single raw LIST above must
    // serve both counts. A group either merged completely (all its
    // source keys superseded, one merged doc written) or was skipped
    // whole, so the successful-group count is exact in every committed
    // state. The one divergence is the documented crash window's
    // sibling: a writeText that dies AFTER creating the merged doc
    // counts its group as skipped while the doc exists — that doc
    // overlaps its undeleted sources, reads as suppressed (degraded,
    // never wrong), and the next incremental analyze retires it; until
    // then the derived count is low by at most the failed-group count.
    val supSet = superseded.toSet
    val mergedDocs = plan.count(_.forall { case (f, n) =>
      supSet.contains(ChunkStats.segmentKey(f, n)) })
    (before, before - deleted + mergedDocs)
  }

  /** Reclaim objects no committed state references — the garbage a
    * store accumulates from interrupted writes over its lifetime:
    *
    *  - ORPHAN CHUNKS: key-shaped objects addressing a slot outside the
    *    committed chunk grid (a crashed append's final-key chunks
    *    beyond `shape[0]`). Invisible to every reader (the shape bounds
    *    scans), but they cost storage and inflate `n_stored_objects`.
    *  - STAGING DIRS: `c.part*` directories the root-doc manifest does
    *    not reference (a crashed staged commit's uploads; the normal
    *    abort path cleans its own writeId, a killed driver cannot).
    *  - PHANTOM STATS SEGMENTS: sidecar docs describing ordinals past
    *    the committed grid or signed for a grid the store no longer
    *    has (every reader already ignores them), unreadable docs, and
    *    `_stats/c.part*` staging leftovers.
    *
    * Never touched: metadata documents, valid chunk keys (absent
    * chunks stay absent — fill-value semantics are state, not
    * garbage), manifest-referenced part dirs, and files whose names
    * are not key-shaped (foreign files are surfaced by the cube
    * writer's refusals, not silently deleted here).
    *
    * Returns one row per array plus a `_stats` row:
    * `(target, orphan_chunks, staging_dirs, phantom_segments)`.
    * Maintenance cost, like compact/analyze. The walk is planned by
    * [[ZarrDistWalk]] (two driver LIST levels → independent units) and
    * scheduled by size: on the driver while the arrays' total grid
    * capacity is at most 64 chunk slots; above, the plan's units (the
    * dirs below its listed levels) are walked in ONE Spark job — the
    * 100 TB shape, where a store can hold millions of objects and a
    * serial driver LIST is the bottleneck. A 1-D store's keys all sit
    * in the driver's listings, so its plan has no units and takes no
    * job. Segment and inner-doc validation decide the same way on
    * their document counts. Both
    * schedulers execute the SAME per-unit visitor, so their results are
    * identical by construction (and spec-pinned). Contract: one
    * maintainer at a time (the same single-writer assumption every
    * commit path documents) — a concurrent writer's in-flight staging
    * would read as garbage. */
  def vacuum(spark: SparkSession, path: String): DataFrame =
    vacuumImpl(spark, path, ZarrDistWalk.InlineMax)

  /** [[vacuum]] with the driver/job threshold exposed — the seam that
    * pins both schedulers equal. */
  private[graft] def vacuumImpl(
      spark: SparkSession, path: String, inlineMax: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val store = ZarrStore.forSession(spark, path)
    val pairs = store.hadoopConfPairs
    val view = store.committedView()
    val metas = view.arrays
    val partDirs: Set[String] = view.manifest.parts.map(_._2).toSet
    val capacity = ZarrDistWalk.gridCapacity(metas)

    // driver pass (two LIST levels per array): orphans among the files
    // those listings saw (every key of a 1-D store), the manifest-aware
    // staging decision, and the walk-unit plan; the job path descends
    // extra LIST levels when the first-level unit count would under-fill
    // the cluster (short dim-0 grids), and a plan without units takes no
    // job
    val fanTarget = if (capacity > inlineMax) ZarrDistWalk.fanTarget(spark) else 0
    val fs = store.fs
    // a commit writes the per-array documents before the root; after a
    // lost root write, the chunks a per-array shape addresses past the
    // root's belong to that commit, which the next cube write's
    // torn-commit heal brings into view — so no slot either document
    // addresses is an orphan
    def sparedGrid(m: ZarrArrayMeta): Seq[Long] = {
      val own =
        if (!view.consolidated) None
        else try Some(store.readMeta(m.name).gridShape).filter(_.length == m.ndim)
        catch { case _: Exception => None }
      m.gridShape.indices.map(d =>
        own.fold(m.gridShape(d))(g => math.max(g(d), m.gridShape(d))).toLong)
    }
    val planned = metas.map { m =>
      val grid = sparedGrid(m)
      val arrayDir = new Path(store.rootPath, m.name)
      val (files, stagingDirs, units) =
        ZarrDistWalk.planArray(fs, store.rootPath, m.name, fanTarget)
      // count only CONFIRMED deletions (fs.delete returned true), matching
      // ZarrDistWalk.vacuumUnit — an already-absent file must report the
      // same count from either scheduler
      val orphans = files.count(nm => ZarrDistWalk.orphaned(nm, grid) &&
        fs.delete(new Path(arrayDir, nm), false))
      val staging = stagingDirs.count(nm => !partDirs.contains(nm) &&
        fs.delete(new Path(arrayDir, nm), true))
      (m.name, grid, units, orphans.toLong, staging.toLong)
    }
    val unitOrphans = ZarrDistWalk.run(spark,
      planned.flatMap { case (_, grid, units, _, _) => units.map((_, grid)) },
      inlineMax, capacity)(_.map { case (u, grid) =>
        u.array -> ZarrDistWalk.vacuumUnit(path, pairs, u, grid)
      }).groupMapReduce(_._1)(_._2)(_ + _)
    val arrayRows = planned.map { case (name, _, _, orphans, staging) =>
      (name, orphans + unitOrphans.getOrElse(name, 0L), staging, 0L)
    }

    // ---- sidecar: phantom / foreign-signed / unreadable segments ----
    var phantoms = 0L
    val geomOpt =
      try Some(ScanGeometry.resolve(metas))
      catch { case _: ZarrException => None } // incoherent store: leave sidecar
    geomOpt.foreach { geom =>
      // segment validation: one GET+parse per segment — O(write tasks),
      // which a long-lived micro-batch ingest grows into the 10^5 range
      // (measured driver pass there: ~7 s local CPU; minutes of serial
      // GETs at object-store latency)
      val colTypes = metas.map(m => m.name -> m.dataType.zarrName).toMap
      val (numChunks, ndim, grid, dims) =
        (geom.numChunks, geom.ndim, geom.gridShape.toSeq, geom.dimIdentity)
      val listing = store.sidecar()
      phantoms += ZarrDistWalk.run(spark, listing.unsuppressed.map { case (f, n) => (f, n, true) },
        inlineMax)(segs => ZarrDistWalk.sweepSegmentsUnit(
          path, pairs, segs, numChunks, ndim, grid, dims, colTypes)).count(!_._2)
      phantoms += listing.staged.count(st => store.deleteKey(st.key))
      // per-inner-chunk docs: phantom unless a reader could still mask
      // with them (ChunkStats.InnerDocs: in grid, readable, signed for
      // this geometry, and some column usable under the live sharding
      // spec and fresh against its live object's length/mtime/etag) —
      // this reclaims the bytes and the per-scan HEAD-and-decline
      // they'd otherwise cost forever. One doc exists per analyzed
      // SHARD, so validation is a per-doc GET+HEAD the driver must not
      // serialize at scale.
      val metaJsons = metas.map(m => m.name -> m.sourceJson)
      phantoms += ZarrDistWalk.run(spark, listing.innerOrds.map((_, true)), inlineMax)(ords =>
        ZarrDistWalk.sweepInnerDocsUnit(path, pairs, ords, metaJsons, view.manifest, every = false))
        .count(!_._2)
    }

    val schema = StructType(StructField("target", StringType, nullable = false) +:
      Seq("orphan_chunks", "staging_dirs", "phantom_segments")
        .map(StructField(_, LongType, nullable = false)))
    val rows = (arrayRows :+ (("_stats", 0L, 0L, phantoms)))
      .map { case (t, o, s2, p) => Row(t, o, s2, p) }
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
  }
}
