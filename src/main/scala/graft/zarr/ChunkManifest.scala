package graft.zarr

import com.fasterxml.jackson.databind.ObjectMapper

/** Ordinal → storage-key mapping for stores committed by the rename-free
  * staged write path.
  *
  * The unaligned DSv2 write cannot know a task's global chunk ordinals
  * until every task's row count is in (the aligned `rows_per_partition`
  * path can, and writes canonical `c<sep>ordinal` keys directly). The
  * pre-round-8 staged commit assigned ordinals by RENAMING every staged
  * chunk — on S3-like object stores a rename is server-side COPY+DELETE,
  * i.e. the commit re-pays O(data bytes) and is non-atomic per object.
  *
  * Instead, staged chunk objects now stay at the task-attempt keys they
  * were uploaded to once (`c.part<writeId>-<pid>/<j>`), and the commit
  * records this compact manifest — one `[firstOrdinal, dir, nChunks]`
  * entry PER WRITE TASK, not per chunk — in the store root document's
  * attributes. The root-document write is already the store's metadata
  * commit point (consolidated schema + shapes), so chunk visibility and
  * shape advance in the same single PUT: a reader either sees the old
  * root (old shape, old manifest) or the new one — never half a commit.
  *
  * Every array's zarr.json additionally lists a
  * `storage_transformers: [{"name": "graft-chunk-manifest"}]` entry:
  * per the Zarr v3 spec readers MUST refuse arrays whose transformers
  * they do not understand, so a generic Zarr tool fails loudly instead
  * of silently reading fill values at the canonical keys. (A store can
  * be rewritten to fully canonical layout with `ZarrMaintenance.compact`.)
  *
  * Scale shape: the manifest is O(write tasks) entries (not O(chunks)),
  * lives in the root doc every reader already fetches for schema
  * inference, and lookup is a binary search — zero extra IO per chunk.
  */
final case class ChunkManifest(parts: Vector[(Long, String, Int)]) {

  def isEmpty: Boolean = parts.isEmpty

  /** Storage key (relative to an array root) of chunk `ordinal`, when
    * manifest-mapped; None → the canonical `c<sep>ordinal` key applies
    * (aligned writes, fixture writers). */
  def keyFor(ordinal: Long): Option[String] = {
    var lo = 0
    var hi = parts.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (first, dir, n) = parts(mid)
      if (ordinal < first) hi = mid - 1
      else if (ordinal >= first + n) lo = mid + 1
      else return Some(s"$dir/${ordinal - first}")
    }
    None
  }

  /** Storage key of `role`'s chunk at grid index `idx`, row-major
    * ordinal `ord` — THE manifest key rule, which the scan, the analyze
    * job and the sidecar sweeps all resolve through, so a maintenance
    * pass can never stat a different object than the reader fetches.
    * Entries map the ordinals of a 1-D grid (the only shape the staged
    * writer commits), so only a 1-D grid index resolves through them;
    * every other chunk — any N-D grid position, an unmapped ordinal —
    * keeps the canonical key of its array's own chunk index (a
    * coordinate's along its dim). */
  def chunkKeyOf(role: ColumnRole, idx: Array[Int], ord: Long): String =
    mappedKey(idx, ord).getOrElse(role match {
      case DataCol(m) => m.chunkKey(idx)
      case CoordCol(m, dim) => m.chunkKey(Array(idx(dim)))
    })

  /** [[chunkKeyOf]] for data array `m`. */
  def chunkKeyOf(m: ZarrArrayMeta, idx: Array[Int], ord: Long): String =
    chunkKeyOf(DataCol(m), idx, ord)

  /** The manifest-mapped key of the chunk at grid index `idx` under
    * [[chunkKeyOf]]'s rule, or None when its key is canonical. */
  def mappedKey(idx: Array[Int], ord: Long): Option[String] =
    if (idx.length == 1 && !isEmpty) keyFor(ord) else None

  /** JSON value for the root document attribute: `[[first,"dir",n],…]`. */
  def toJsonValue: String =
    parts.map { case (f, d, n) => s"[$f,${ZarrStore.jsonQuote(d)},$n]" }
      .mkString("[", ",", "]")

  /** Manifest extended by parts of a later (append) commit. Appends only
    * ever add ordinals past every existing part, so ordering holds. */
  def ++(more: Seq[(Long, String, Int)]): ChunkManifest =
    ChunkManifest((parts ++ more).sortBy(_._1))
}

object ChunkManifest {
  val empty: ChunkManifest = ChunkManifest(Vector.empty)

  /** Default part-count threshold past which a staged commit warns and
    * recommends compaction (override with write option
    * `manifest_warn_parts`; <= 0 disables). 1000 parts ≈ 30 KB of
    * root-doc JSON — still one GET, but a long-lived micro-batch ingest
    * should fold its accumulated parts back into canonical keys. */
  val defaultWarnParts: Int = 1000

  /** Root-document attribute carrying the manifest. */
  val attrName = "graft_chunk_manifest"

  /** Zarr v3 storage-transformer name marking manifest-keyed arrays. */
  val transformerName = "graft-chunk-manifest"

  private val mapper = new ObjectMapper()

  /** Does this array metadata document declare the manifest storage
    * transformer? Parses the `storage_transformers` array — a substring
    * probe would false-positive on e.g. an attribute VALUE mentioning
    * the transformer name and refuse a perfectly valid store. */
  def declaresTransformer(metaJson: String): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val st = mapper.readTree(metaJson).path("storage_transformers")
      st.isArray && st.elements().asScala.exists(
        _.path("name").asText("") == transformerName)
    } catch { case _: Throwable => false }

  /** Manifest parts for a scan over arrays with the given metadata
    * documents, `manifest` read from the same root document as the
    * metadata ([[ZarrStore.committedView]]). When any array carries the
    * must-understand manifest transformer, a missing/empty manifest is a
    * HARD error: falling back to canonical keys would resolve staged
    * ordinals to nonexistent objects and silently emit fill values — the
    * exact corruption the transformer marker exists to prevent, which
    * must protect this reader no less than generic Zarr tools. */
  def validateRequired(
      storeRoot: String,
      metaJsons: Seq[String],
      manifest: ChunkManifest): ChunkManifest = {
    if (metaJsons.exists(declaresTransformer) && manifest.isEmpty)
      throw new ZarrException(
        s"store $storeRoot: arrays are manifest-keyed ($transformerName) but the " +
          "root-document chunk manifest is missing or unreadable — refusing to read " +
          "(canonical-key fallback would silently return fill values)")
    manifest
  }

  /** Parse from a store root `zarr.json` document (empty when absent or
    * malformed — the manifest is load-bearing only for stores that wrote
    * one, and those always carry a well-formed root doc). */
  def parse(rootJson: String): ChunkManifest = {
    import scala.jdk.CollectionConverters._
    try {
      val node = mapper.readTree(rootJson).path("attributes").path(attrName)
      if (!node.isArray) empty
      else {
        val entries = node.elements().asScala.toVector
        // all-or-nothing: one malformed entry invalidates the document.
        // Jackson's asLong/asInt coerce non-numeric nodes to 0, so a
        // damaged entry would otherwise silently remap ordinal 0 to a
        // bogus directory (fill values for real chunks); dropping only
        // the bad entry is as unsound (its ordinal range would fall
        // back to canonical keys). Empty → validateRequired hard-fails for
        // manifest-keyed stores, which is the loud outcome we want.
        val wellFormed = entries.forall(e =>
          e.isArray && e.size() == 3 &&
            e.get(0).isIntegralNumber && e.get(0).canConvertToLong &&
            e.get(1).isTextual &&
            e.get(2).isIntegralNumber && e.get(2).canConvertToInt)
        if (!wellFormed) empty
        else ChunkManifest(entries.map(e =>
          (e.get(0).asLong(), e.get(1).asText(), e.get(2).asInt()))
          .sortBy(_._1))
      }
    } catch { case _: Throwable => empty }
  }
}
