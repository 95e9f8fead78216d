package graft.zarr

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** A Zarr store root. Backed by the Hadoop FileSystem abstraction so the
  * same code path serves `file://`, `hdfs://` and — with hadoop-aws on the
  * classpath — `s3a://` (the reference's local/S3 split lives at
  * `table/config.rs:120-136`; Hadoop FS collapses it). Instances are cheap value objects — the FileSystem handle is
  * resolved lazily per JVM (executor-side safe; Hadoop caches FS clients).
  *
  * `hadoopConfPairs` carries the driver's `spark.hadoop.*` overrides to
  * executors (credentials, endpoints) without relying on Spark internals.
  */
final case class ZarrStore(root: String, hadoopConfPairs: Seq[(String, String)] = Nil)
    extends Serializable {

  @transient private lazy val conf: Configuration = {
    val c = new Configuration()
    hadoopConfPairs.foreach { case (k, v) => c.set(k, v) }
    c
  }
  @transient private[zarr] lazy val rootPath = new Path(root)
  @transient private[zarr] lazy val fs: FileSystem = {
    val f = rootPath.getFileSystem(conf)
    // chunk integrity is covered by the zarr codec chain (crc32c codec);
    // Hadoop's local .crc sidecar files only add IO + rename hazards —
    // and they would pollute every store LISTING this engine reasons
    // over (rootInventory foreign-file refusals, vacuum's orphan walk,
    // describe's stored-object counts). KNOWN TRADE-OFF: getFileSystem
    // returns the JVM-wide CACHED instance per (scheme, authority), so
    // these flags apply to other users of the same FileSystem in this
    // JVM. newInstance() would confine them but leaks one unclosed FS
    // (threads, buffers) per ZarrStore — which is constructed per TASK
    // on executors. Object stores (S3A/ABFS) have no client-side .crc
    // sidecars, so the flags are no-ops exactly where sharing is real.
    f.setVerifyChecksum(false)
    f.setWriteChecksum(false)
    f
  }

  /** Array names directly under the root that carry a `zarr.json` (v3)
    * or `.zarray` (v2) document (mirrors schema-inference listing,
    * `config.rs:201-258`; the reference's `zarrs` opener likewise falls
    * back from v3 to v2 metadata). Sorted for a deterministic schema. */
  def listArrays(): Seq[String] = {
    if (!fs.exists(rootPath)) throw new ZarrException(s"No such store: $root")
    val arrays = fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => fs.exists(new Path(rootPath, s"$n/zarr.json")) ||
        fs.exists(new Path(rootPath, s"$n/.zarray")))
      .sorted
    if (arrays.isEmpty)
      throw new ZarrException(s"No Zarr arrays found under store: $root")
    arrays
  }

  def readMeta(arrayName: String): ZarrArrayMeta = {
    val v3 = new Path(rootPath, s"$arrayName/zarr.json")
    if (fs.exists(v3)) {
      val in = fs.open(v3)
      try ZarrMeta.parse(arrayName, new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } else {
      val in = fs.open(new Path(rootPath, s"$arrayName/.zarray"))
      val zarray = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      // xarray keeps dimension names in `.zattrs`; merge so ONE document
      // carries everything to executors (ZarrMeta.mergeV2Attrs)
      ZarrMeta.parse(arrayName,
        ZarrMeta.mergeV2Attrs(zarray, readText(s"$arrayName/.zattrs")))
    }
  }

  /** Raw chunk object bytes, or None when absent (absent != error:
    * fill-value semantics, `zarr_data_stream.rs:388-398`). Absence is
    * detected by catching FileNotFoundException from open() rather than a
    * prior exists() probe: on object stores exists() is a HEAD request,
    * and paying HEAD+GET per chunk per column doubles latency on the
    * hottest path in the engine. */
  def readChunk(arrayName: String, key: String): Option[Array[Byte]] = {
    val p = new Path(rootPath, s"$arrayName/$key")
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  // ---- write side (fixtures + DSv2 SupportsWrite) ----

  def writeMeta(arrayName: String, json: String): Unit = {
    val p = new Path(rootPath, s"$arrayName/zarr.json")
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def writeChunk(arrayName: String, key: String, bytes: Array[Byte]): Unit = {
    val p = new Path(rootPath, s"$arrayName/$key")
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Root group document. With `consolidated` (name → array zarr.json),
    * the Zarr v3 `consolidated_metadata` field is embedded so readers can
    * infer the whole schema from ONE object read — the reference issues
    * one metadata GET per array (`config.rs:201-258`), which at
    * object-store latency with hundreds of arrays is hundreds of
    * sequential round-trips. `must_understand: false` keeps the store
    * readable by consumers that ignore the field. */
  def writeStoreRootMeta(
      consolidated: Seq[(String, String)] = Nil,
      manifest: ChunkManifest = ChunkManifest.empty): Unit = {
    val attrs =
      if (manifest.isEmpty) ""
      else s""","attributes":{${ZarrStore.jsonQuote(ChunkManifest.attrName)}:${manifest.toJsonValue}}"""
    val doc =
      if (consolidated.isEmpty) s"""{"zarr_format":3,"node_type":"group"$attrs}"""
      else {
        val entries = consolidated.map { case (name, json) =>
          ZarrStore.jsonQuote(name) + ":" + json
        }.mkString(",")
        s"""{"zarr_format":3,"node_type":"group"$attrs,"consolidated_metadata":""" +
          s"""{"kind":"inline","must_understand":false,"metadata":{$entries}}}"""
      }
    val out = fs.create(new Path(rootPath, "zarr.json"), true)
    try out.write(doc.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Chunk manifest from the root document (rename-free staged commits;
    * empty for canonical-keyed stores). */
  def readChunkManifest(): ChunkManifest =
    readText("zarr.json").map(ChunkManifest.parse).getOrElse(ChunkManifest.empty)

  /** Array metadata from the root document's `consolidated_metadata`, or
    * None when absent/uninlined — callers fall back to per-array reads.
    * Sorted by name to match [[listArrays]] schema order. */
  def readConsolidatedMetas(): Option[Seq[ZarrArrayMeta]] =
    readRootSnapshot().map(_._1)

  /** ONE root-document read giving the store's atomic commit-point view:
    * consolidated array metadata AND the chunk manifest parsed from the
    * SAME document. Callers that need both (the streaming source's
    * per-trigger view) must use this rather than two separate root
    * reads — a staged-append commit replaces the root doc in one PUT,
    * and pairing a new shape with a stale manifest resolves fresh
    * ordinals to canonical keys that do not exist (silent fill values). */
  def readRootSnapshot(): Option[(Seq[ZarrArrayMeta], ChunkManifest)] =
    readText("zarr.json") match {
      case Some(doc) =>
        // a v3 root EXISTS: it is the authority. Returning None here
        // (uninlined consolidated metadata) sends callers to the live
        // per-array fallback — it must NOT fall through to a leftover
        // v2 `.zmetadata` sidecar, whose stale shapes/dtypes would
        // silently override the v3 store after a v2→v3 migration
        ZarrMeta.parseConsolidated(doc) match {
          case metas if metas.nonEmpty =>
            Some((metas.sortBy(_.name), ChunkManifest.parse(doc)))
          case _ => None
        }
      case None =>
        // Zarr v2 consolidated metadata (one-GET inference for v2
        // stores; v2 has no chunk manifest — canonical keys only)
        readText(".zmetadata").flatMap { doc =>
          ZarrMeta.parseV2Consolidated(doc) match {
            case metas if metas.nonEmpty =>
              Some((metas.sortBy(_.name), ChunkManifest.empty))
            case _ => None
          }
        }
    }

  /** The committed state a writer extends: array metadata and chunk
    * manifest from ONE root read ([[readRootSnapshot]]), per-array
    * documents only when the store has no consolidated root. A commit
    * writes the per-array documents first and the root last, so after a
    * lost root write a per-array shape runs ahead of the manifest;
    * extending from it would place the next rows past a gap that reads
    * as fill values. No metas for an absent or array-less store. */
  def committedView(): (Seq[ZarrArrayMeta], ChunkManifest) =
    readRootSnapshot().getOrElse {
      val names =
        try listArrays()
        catch { case _: ZarrException => Seq.empty }
      (names.map(readMeta), readChunkManifest())
    }

  def delete(): Unit = if (fs.exists(rootPath)) fs.delete(rootPath, true)

  /** Entries directly under the root as (name, isArrayDir), or None when
    * the root does not exist. An "array dir" carries a v3 `zarr.json` or
    * v2 `.zarray` document — the same detection [[listArrays]] applies.
    * The cube writer's fresh-gate/cleanup view, kept here so ALL store
    * filesystem access stays behind this one abstraction. */
  def rootInventory(): Option[Seq[(String, Boolean)]] =
    if (!fs.exists(rootPath)) None
    else Some(fs.listStatus(rootPath).toSeq.map { st =>
      val isArray = st.isDirectory &&
        (fs.exists(new Path(st.getPath, "zarr.json")) ||
          fs.exists(new Path(st.getPath, ".zarray")))
      st.getPath.getName -> isArray
    })

  /** Delete every entry under the root but KEEP the root directory
    * entry itself — the failure-cleanup scope for a write into a
    * pre-existing (verified safe) directory the caller does not own. */
  def deleteRootContents(): Unit =
    if (fs.exists(rootPath))
      fs.listStatus(rootPath).foreach(st => fs.delete(st.getPath, true))

  // ---- chunk-statistics sidecar (`_stats/` segments, ChunkStats) ----

  def writeText(key: String, text: String): Unit = {
    val p = new Path(rootPath, key)
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readText(key: String): Option[String] = {
    val p = new Path(rootPath, key)
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Every committed stats-segment file physically present, sorted by
    * first ordinal, WITHOUT the overlap suppression [[listStatsSegments]]
    * applies. Writers retiring segments must walk this raw listing:
    * overlap-suppressed files are exactly the leftovers of a failed
    * write whose ordinals are being reused, and skipping them would
    * leave them on disk to overlap (and suppress) the fresh segments. */
  def listStatsSegmentsRaw(): Seq[(Long, Int)] = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).toSeq
      .flatMap(st => ChunkStats.parseSegmentName(st.getPath.getName))
      .sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Committed stats segments READERS may trust: (firstChunkOrdinal,
    * nChunks), sorted, overlaps suppressed. One LIST of `_stats/` —
    * segment ordinal ranges live in the names, so a reader learns which
    * segments cover its chunk range without a read. */
  def listStatsSegments(): Seq[(Long, Int)] =
    ZarrStore.unsuppressedSegments(listStatsSegmentsRaw())


  /** Whether any per-inner-chunk stats doc (`_stats/i<ord>.json`,
    * [[ChunkStats.innerKey]]) exists — one LIST, evaluated at scan
    * planning so readers on never-analyzed stores don't pay a 404 GET
    * per shard probing for docs that cannot exist. */
  def hasInnerStatsDocs(): Boolean = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).exists(st =>
      ChunkStats.parseInnerName(st.getPath.getName).isDefined)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Ordinals of every committed per-inner-chunk stats doc — one LIST
    * of `_stats/` (incremental analyze's coverage sweep). */
  def listInnerStatsDocOrds(): Seq[Long] = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).toSeq
      .flatMap(st => ChunkStats.parseInnerName(st.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Delete every per-inner-chunk stats doc (re-analyze refresh). */
  def deleteInnerStatsDocs(): Unit = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).foreach { st =>
      if (ChunkStats.parseInnerName(st.getPath.getName).isDefined)
        fs.delete(st.getPath, false)
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Remove leftover staged stats segments of ONE write
    * (`_stats/c.part<writeId>*`). Staging keys embed the writeId exactly
    * so concurrent jobs cannot collide — an unscoped cleanup would let a
    * committing write delete a still-running write's staged stats, which
    * then commits silently without segments (pushdowns and chunk skips
    * quietly degrade for that data). */
  def cleanStatsStaging(writeId: String): Unit = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    if (fs.exists(dir))
      // the trailing '-' is load-bearing: every staged stats key is
      // c.part<writeId>-..., and without the delimiter one write's
      // cleanup matches any CONCURRENT write whose longer id extends
      // this one — exactly the cross-write deletion scoping forbids
      fs.listStatus(dir).filter(_.getPath.getName.startsWith(s"c.part$writeId-"))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** Metadata-only move of a chunk object. On true filesystems
    * (local/HDFS) this is cheap; on S3A it is COPY+DELETE — which is why
    * the DSv2 write path no longer renames chunks at all (manifest
    * commit, [[ChunkManifest]]) and this remains only for fixtures and
    * non-hot-path maintenance. Overwrites an existing destination so
    * crash retries re-landing the SAME deterministic bytes cannot wedge. */
  def rename(fromKey: String, toKey: String): Unit = {
    val to = new Path(rootPath, toKey)
    fs.mkdirs(to.getParent)
    if (fs.exists(to)) fs.delete(to, false)
    if (!fs.rename(new Path(rootPath, fromKey), to))
      throw new ZarrException(s"rename failed: $fromKey -> $toKey")
  }

  /** Move a staged object over a COMMITTED key without a window in which
    * the destination is absent or torn. Prefers FileContext rename with
    * OVERWRITE (an atomic swap on POSIX and HDFS); falls back to
    * [[rename]]'s delete-then-rename where FileContext is unsupported —
    * there a crash between the two steps leaves the destination absent,
    * but the staged source survives, so a retry of the same operation
    * heals it. On single-object-PUT stores (S3) the replace is a
    * single-object copy: a reader observes the old or the new object,
    * never a partial one. */
  // one FileContext per store instance: building it constructs an
  // AbstractFileSystem delegate (on object stores a full client), far
  // too heavy to pay once per swapped chunk in a replaceKey loop
  @transient private lazy val fileContext:
      Option[org.apache.hadoop.fs.FileContext] =
    try Some(org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(rootPath).toUri, conf))
    catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }

  def replaceKey(fromKey: String, toKey: String): Unit = {
    val from = new Path(rootPath, fromKey)
    val to = new Path(rootPath, toKey)
    fs.mkdirs(to.getParent)
    fileContext match {
      case Some(fc) =>
        fc.rename(fs.makeQualified(from), fs.makeQualified(to),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      case None =>
        // no FileContext binding: copy the staged bytes OVER the committed
        // destination (create-with-overwrite is the store's atomic-PUT
        // primitive on object stores) and only then delete the staged
        // source. The previous delete-then-rename fallback had a window
        // where the committed key was absent (concurrent readers saw fill
        // values — silently wrong data) and a crash inside it lost the
        // committed object; a crash mid-copy now leaves at worst a torn
        // destination that decodes LOUDLY (codec/crc error) while the
        // surviving staged source heals it on retry. Streamed copy —
        // shards can be hundreds of MB.
        val in = fs.open(from)
        try {
          val out = fs.create(to, true)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
          finally out.close()
        } finally in.close()
        fs.delete(from, false)
    }
  }

  /** Whether a chunk object is physically present (existence probe only;
    * no bytes are read). */
  def chunkObjectExists(arrayName: String, key: String): Boolean =
    fs.exists(new Path(rootPath, s"$arrayName/$key"))

  // ---- ranged sub-object reads (sharded scans, [[Sharding.readRanged]]) ----

  /** Whether ranged sub-object reads are worth issuing on this store.
    * On an object store, one shard is one object and a ranged GET costs
    * the same round-trip as a full GET — fetching only the inner chunks
    * a selective scan needs makes bytes proportional to selectivity. On
    * a local filesystem the whole object is one cheap sequential read
    * and splitting it only adds syscalls, so `auto` (the default) keys
    * off the filesystem scheme. Override with hadoop conf
    * `graft.zarr.ranged.reads` = `always` | `never` | `auto`
    * (forwarded from the Spark session by the DSv2 like `fs.*` keys). */
  @transient lazy val supportsRangedReads: Boolean =
    conf.get("graft.zarr.ranged.reads", "auto") match {
      case "always" | "true" => true
      case "never" | "false" => false
      case _ =>
        // FileSystem.getScheme's base implementation THROWS for
        // filesystems that never override it — such stores read whole
        // objects (the conservative default), they must not fail at
        // reader construction
        try fs.getScheme != "file"
        catch { case _: UnsupportedOperationException => false }
    }

  /** Stored byte length of a chunk object, or None when absent. One
    * metadata probe (HEAD on object stores) — callers that then issue
    * ranged reads pay it once per object, and S3A-style clients HEAD on
    * open() anyway. */
  def objectLength(arrayName: String, key: String): Option[Long] =
    try Some(fs.getFileStatus(new Path(rootPath, s"$arrayName/$key")).getLen)
    catch { case _: java.io.FileNotFoundException => None }

  /** (byte length, modification time, etag) of a chunk object, or None
    * when absent — the same single HEAD as [[objectLength]]. The mtime
    * is the inner-doc freshness token that catches same-length
    * replacement (constant-length encodings defeat a length-only
    * check), but it inherits the underlying store's modification-time
    * GRANULARITY — one second on S3-style object stores — so a
    * same-length foreign rewrite landing inside the same granule passes
    * it. The etag closes that residue where the FileSystem exposes one
    * (Hadoop 3.4 [[org.apache.hadoop.fs.EtagSource]]: S3A, ABFS —
    * content-derived, so ANY rewrite changes it); empty string where it
    * does not (local FS), degrading to the length+mtime check. */
  def objectStat(arrayName: String, key: String): Option[ZarrStore.ObjStat] =
    try {
      val st = fs.getFileStatus(new Path(rootPath, s"$arrayName/$key"))
      Some(ZarrStore.ObjStat(st.getLen, st.getModificationTime,
        ZarrStore.etagOf(st)))
    } catch { case _: java.io.FileNotFoundException => None }

  /** One ranged GET: `len` bytes at `off` of a chunk object, or None when
    * the object is absent. Each call opens the object once (on object
    * stores: exactly one ranged GET), so a caller's GET count is its
    * readRange call count — coalesce adjacent ranges before calling. */
  def readRange(arrayName: String, key: String, off: Long, len: Int): Option[Array[Byte]] = {
    val p = new Path(rootPath, s"$arrayName/$key")
    try {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](len)
        in.readFully(off, buf)
        Some(buf)
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Staged per-inner-chunk docs of ONE write: ordinals parsed from
    * `_stats/c.part<writeId>-i<ord>.json` names
    * ([[ChunkStats.cubeInnerStagingKey]]), for promotion to
    * [[ChunkStats.innerKey]] after the chunk swap. */
  def listCubeStagedInnerDocs(writeId: String): Seq[Long] = {
    val prefix = s"c.part$writeId-i"
    val re = "^i(\\d+)\\.json$".r
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).toSeq.flatMap { st =>
      val nm = st.getPath.getName
      if (!nm.startsWith(prefix)) None
      else re.findFirstMatchIn(nm.drop(prefix.length - 1)).map(_.group(1).toLong)
    }.sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Staged cube-slab segments of ONE write: the (first, n) ranges
    * parsed from `_stats/c.part<writeId>-s<first>_<n>.json` names
    * ([[ChunkStats.cubeStagingKey]]), for promotion to final keys after
    * the chunk swap. */
  def listCubeStagedSegments(writeId: String): Seq[(Long, Int)] = {
    val prefix = s"c.part$writeId-s"
    val re = "^s(\\d+)_(\\d+)\\.json$".r
    val dir = new Path(rootPath, ChunkStats.dirName)
    try fs.listStatus(dir).toSeq.flatMap { st =>
      val nm = st.getPath.getName
      if (!nm.startsWith(prefix)) None
      else re.findFirstMatchIn(nm.drop(prefix.length - 1))
        .map(m => (m.group(1).toLong, m.group(2).toInt))
    }.sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Delete one object; true iff it existed and the delete succeeded
    * (reclaim REPORTS count only confirmed deletions — callers that
    * just want the object gone ignore the result). */
  def deleteKey(key: String): Boolean = {
    val p = new Path(rootPath, key)
    fs.exists(p) && fs.delete(p, false)
  }

  /** Remove staging/part directories under `<arrayName>/` whose name
    * starts with `prefix`. The prefix MUST be scoped to one write's id
    * (`c.part<writeId>-`): committed manifest parts from earlier staged
    * writes live under sibling `c.part…` dirs and hold live data. */
  def cleanStaging(arrayName: String, prefix: String): Unit = {
    val dir = new Path(rootPath, arrayName)
    if (fs.exists(dir))
      fs.listStatus(dir).filter(_.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Delete committed (final-keyed) per-inner-chunk stats docs whose
    * ordinal is at or after `fromOrd` — the inner-doc twin of
    * [[cleanStatsSegmentsFrom]]: an aborted append's leftover docs
    * describe chunks a later append will reuse (and the cube append's
    * ragged-edge rewrite must retire its window's docs before the
    * swap, since the smaller-leading-extent acceptance would otherwise
    * keep them live over REWRITTEN chunks). */
  def cleanInnerDocsFrom(fromOrd: Long): Unit = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        ChunkStats.parseInnerName(st.getPath.getName).foreach { ord =>
          if (ord >= fromOrd) fs.delete(st.getPath, false)
        }
      }
  }

  /** Delete committed (final-keyed) stats segments whose range starts at
    * or after chunk ordinal `fromChunk`. Aligned appends write final
    * segment keys from the tasks, so an aborted aligned append leaves
    * segments describing chunks the store does not own (shape[0] excludes
    * them) — they would poison coverage checks and, once a later append
    * reuses those ordinals, describe since-overwritten chunks. Called
    * from abort() and defensively before every write. */
  def cleanStatsSegmentsFrom(fromChunk: Long): Unit = {
    val dir = new Path(rootPath, ChunkStats.dirName)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        ChunkStats.parseSegmentName(st.getPath.getName).foreach { case (first, _) =>
          if (first >= fromChunk) fs.delete(st.getPath, false)
        }
      }
  }
}

object ZarrStore {

  /** The `fs.*` settings of a Hadoop configuration — the credentials,
    * endpoints and scheme bindings a store needs wherever it is opened
    * (executors rebuild their FileSystem from these pairs). */
  def fsPairs(conf: Configuration): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter(_._1.startsWith("fs.")).toSeq
  }

  /** Overlap suppression over a raw (first-sorted) segment listing —
    * the rule [[ZarrStore.listStatsSegments]] applies; exposed so a
    * caller already holding the raw listing (sidecar compaction, which
    * also needs the raw COUNT) does not pay a second `_stats/` LIST —
    * O(segments/1000) paginated requests on object stores. */
  def unsuppressedSegments(raw0: Seq[(Long, Int)]): Seq[(Long, Int)] = {
    // zero-length entries claim NO ordinals: they can neither serve a
    // reader nor conflict with one, but left in the sweep they would
    // order-dependently trip the end-past-next-start check and suppress
    // a REAL neighbor sharing their first ordinal — inert junk must not
    // cost coverage. (They are reclaimed like suppressed files: the
    // incremental-analyze raw walk retires what this listing excludes.)
    val raw = raw0.filter(_._2 > 0)
    // drop BOTH sides of any range overlap: two segments claiming one
    // chunk ordinal means one is stale (e.g. left by a failed write whose
    // ordinals a later append reused) and there is no way to tell which
    // describes the bytes on disk — those chunks just decode-and-test,
    // the scan stays exact. Linear sweep over the first-sorted list (the
    // list is driver-side on EVERY scan plan; a long-lived micro-batch
    // ingest can hold 10k+ segments, where an all-pairs check is 10^8
    // comparisons): segment i overlaps something iff its start is below
    // the max end of any earlier segment, or its end reaches past the
    // next segment's start.
    if (raw.isEmpty) raw
    else {
      val n = raw.length
      val bad = new Array[Boolean](n)
      var maxEndBefore = Long.MinValue
      var i = 0
      while (i < n) {
        val (first, len) = raw(i)
        val end = first + len
        if (first < maxEndBefore) bad(i) = true
        if (i + 1 < n && end > raw(i + 1)._1) bad(i) = true
        if (end > maxEndBefore) maxEndBefore = end
        i += 1
      }
      raw.indices.collect { case i if !bad(i) => raw(i) }
    }
  }

  /** THE live-segment rule, shared by sidecar compaction (what may be
    * merged) and the describeStats dashboard (what coverage may trust):
    * committed/unsuppressed, non-empty, and wholly inside the grid.
    * One definition so the operator's fragmentation visibility can
    * never desynchronize from what maintenance actually touches. */
  def liveSegments(raw: Seq[(Long, Int)], numChunks: Long): Seq[(Long, Int)] =
    unsuppressedSegments(raw).filter { case (f, n) =>
      f >= 0 && n > 0 && f + n <= numChunks }

  /** One object HEAD's freshness-relevant facts. `etag` is "" when the
    * FileSystem's status does not implement
    * [[org.apache.hadoop.fs.EtagSource]] (local FS; Hadoop < 3.4). */
  final case class ObjStat(len: Long, mtime: Long, etag: String)

  /** The status's etag when it exposes one (S3A, ABFS), else "". */
  def etagOf(st: org.apache.hadoop.fs.FileStatus): String = st match {
    case e: org.apache.hadoop.fs.EtagSource =>
      val t = e.getEtag
      if (t == null) "" else t
    case _ => ""
  }

  /** JSON string literal for `s` (quotes, backslashes, control chars) —
    * an array name containing `"` must not corrupt the root document. */
  def jsonQuote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
    b.toString
  }
}
