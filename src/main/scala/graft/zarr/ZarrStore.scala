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

  /** THE committed state of the store, from ONE root-document read: the
    * consolidated array metadata (v3 `consolidated_metadata`, else a v2
    * `.zmetadata`) and the chunk manifest of the SAME document — a
    * staged-append commit replaces the root in one PUT, and pairing a
    * new shape with a stale manifest resolves fresh ordinals to
    * canonical keys that do not exist (silent fill values). Per-array
    * documents are read only when the store has no consolidated root:
    * a commit writes them first and the root last, so after a lost root
    * write a per-array shape runs ahead of what readers see. A v3 root
    * is the authority whenever it exists — a leftover v2 `.zmetadata`
    * must never override it after a v2→v3 migration. An absent or
    * array-less store yields no metas and records why
    * ([[ZarrStore.View.arrays]]). */
  def committedView(): ZarrStore.View = {
    val root = readText("zarr.json")
    val consolidated = root match {
      case Some(doc) => ZarrMeta.parseConsolidated(doc)
      case None =>
        readText(".zmetadata").fold(Seq.empty[ZarrArrayMeta])(ZarrMeta.parseV2Consolidated)
    }
    val manifest = root.fold(ChunkManifest.empty)(ChunkManifest.parse)
    if (consolidated.nonEmpty)
      ZarrStore.View(consolidated.sortBy(_.name), manifest, consolidated = true)
    else (try Right(listArrays()) catch { case e: ZarrException => Left(e.getMessage) }) match {
      case Right(names) => ZarrStore.View(names.map(readMeta), manifest, consolidated = false)
      case Left(why) => ZarrStore.View(Nil, manifest, consolidated = false, missing = Some(why))
    }
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

  /** The ONE listing of the `_stats/` sidecar: a single LIST, each name
    * parsed by [[ChunkStats.parseName]]. Segments, inner docs and staged
    * `c.part*` entries all come from it; callers filter it and delete
    * through [[deleteKey]]. Pages stream (RemoteIterator — S3A lists
    * lazily) and only parsed names are kept. Throws what the LIST
    * throws; an absent sidecar is an empty one. */
  def sidecar(): ZarrStore.Sidecar = {
    val out = Seq.newBuilder[ChunkStats.Entry]
    try {
      val it = fs.listStatusIterator(new Path(rootPath, ChunkStats.dirName))
      while (it.hasNext) ChunkStats.parseName(it.next().getPath.getName).foreach(out += _)
    } catch { case _: java.io.FileNotFoundException => () }
    ZarrStore.Sidecar(out.result())
  }

  /** Every committed stats-segment file physically present, sorted by
    * first ordinal, WITHOUT overlap suppression ([[ZarrStore.Sidecar.raw]]). */
  def listStatsSegmentsRaw(): Seq[(Long, Int)] = sidecar().raw

  /** Committed stats segments READERS may trust: (firstChunkOrdinal,
    * nChunks), sorted, overlaps suppressed ([[ZarrStore.Sidecar.unsuppressed]]). */
  def listStatsSegments(): Seq[(Long, Int)] = sidecar().unsuppressed

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

  /** A store's committed state ([[ZarrStore.committedView]]): array
    * metadata sorted by name, the chunk manifest of the same root
    * document, whether the metadata came from a consolidated root, and —
    * for an absent or array-less store — why it has no arrays. */
  final case class View(
      metas: Seq[ZarrArrayMeta], manifest: ChunkManifest,
      consolidated: Boolean, missing: Option[String] = None) {
    /** The metas of a store that must exist: an absent or array-less
      * store fails with [[ZarrStore.listArrays]]' message. */
    def arrays: Seq[ZarrArrayMeta] = {
      missing.foreach(why => throw new ZarrException(why))
      metas
    }
  }

  /** One `_stats/` listing ([[ZarrStore.sidecar]]), parsed. */
  final case class Sidecar(entries: Seq[ChunkStats.Entry]) {
    /** Segment files (first, n), first-sorted, WITHOUT overlap
      * suppression. Writers retiring segments must walk this: suppressed
      * files are exactly the leftovers of a failed write whose ordinals
      * are being reused, and skipping them would leave them to overlap
      * (and suppress) the fresh segments. */
    lazy val raw: Seq[(Long, Int)] =
      entries.collect { case ChunkStats.SegmentFile(f, n) => (f, n) }.sortBy(_._1)
    /** The segments readers may trust ([[unsuppressedSegments]]). */
    lazy val unsuppressed: Seq[(Long, Int)] = unsuppressedSegments(raw)
    /** Ordinals of the committed per-inner-chunk docs, sorted. */
    lazy val innerOrds: Seq[Long] =
      entries.collect { case ChunkStats.InnerFile(o) => o }.sorted
    /** Every staged `c.part*` entry, parseable suffix or not. */
    lazy val staged: Seq[ChunkStats.StagedFile] =
      entries.collect { case s: ChunkStats.StagedFile => s }
  }

  object Sidecar {
    val empty: Sidecar = Sidecar(Nil)

    /** The read side's listing: the sidecar is auxiliary there, so a
      * failed LIST plans without it (writers and maintenance call
      * [[ZarrStore.sidecar]] and let the failure abort them). */
    def orEmpty(store: ZarrStore): Sidecar =
      try store.sidecar() catch { case _: Throwable => empty }
  }

  /** Overlap suppression over a raw (first-sorted) segment listing —
    * the rule [[ZarrStore.Sidecar.unsuppressed]] applies. */
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
