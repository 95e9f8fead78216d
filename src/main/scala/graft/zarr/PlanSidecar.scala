package graft.zarr

import scala.util.Try

/** The `_stats/` sidecar as one plan reads it: ONE listing
  * ([[ZarrStore.Sidecar.orEmpty]], taken on first use) and each listed
  * segment GET and parsed at most once, whoever asks first — partition
  * pruning, aggregate planning or CBO statistics. Tasks never read
  * segments: the planner prunes with them on the driver. Segment
  * columns parse against the types of `metas`, the plan's table. */
final class PlanSidecar(store: ZarrStore, metas: Seq[ZarrArrayMeta]) {

  lazy val listing: ZarrStore.Sidecar = ZarrStore.Sidecar.orEmpty(store)

  private val ztOf: Map[String, ZarrType] = metas.map(m => m.name -> m.dataType).toMap
  private val parsed =
    scala.collection.concurrent.TrieMap.empty[(Long, Int), Try[Option[ChunkStats.Segment]]]

  /** GET and parse the segments `keys` names that are not yet held,
    * concurrently. A failure is held too, and rethrown by [[segment]]. */
  def load(keys: Seq[(Long, Int)]): Unit = {
    val missing = keys.distinct.filterNot(parsed.contains)
    ChunkPrefetcher.fetchAll(missing) { case k @ (first, n) =>
      parsed.putIfAbsent(k, Try(store.readText(ChunkStats.segmentKey(first, n))
        .map(ChunkStats.parse(first, n, _, ztOf.get))))
    }
  }

  /** Segment `(first, n)`, None when its object is absent; throws what
    * its GET or parse threw. */
  def segment(first: Long, n: Int): Option[ChunkStats.Segment] = {
    load(Seq((first, n)))
    parsed((first, n)).get
  }
}
