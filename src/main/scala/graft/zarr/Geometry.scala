package graft.zarr

/** Scan geometry: which chunk grid the scan iterates, and how each
  * projected column maps onto it.
  *
  * Re-expresses the reference's coordinate semantics
  * (`/root/reference/crates/arrow-zarr/src/zarr_store_opener/zarr_data_stream.rs:48-215`):
  *  - a *data* column is an N-D array congruent with the target grid;
  *  - a *coordinate* column is a 1-D array broadcast along one dimension
  *    of the target grid (`broadcast_if_coord`, `zarr_data_stream.rs:243-281`);
  *  - if ALL selected arrays are 1-D coordinates, the target grid is their
  *    cross product in schema field order (`zarr_data_stream.rs:146-158`).
  */
sealed trait ColumnRole {
  def meta: ZarrArrayMeta
}
/** N-D array congruent with the target grid: chunk index = target index. */
final case class DataCol(meta: ZarrArrayMeta) extends ColumnRole
/** 1-D coordinate broadcast along target dimension `dim`. */
final case class CoordCol(meta: ZarrArrayMeta, dim: Int) extends ColumnRole

final case class ScanGeometry(
    targetShape: Array[Long],
    targetChunk: Array[Int],
    roles: Seq[ColumnRole]) {

  def ndim: Int = targetShape.length

  /** Chunks along each dimension. */
  val gridShape: Array[Int] =
    targetShape.zip(targetChunk).map { case (s, c) => ((s + c - 1) / c).toInt }

  def numChunks: Long = gridShape.foldLeft(1L) { (a, g) =>
    try Math.multiplyExact(a, g.toLong)
    catch { case _: ArithmeticException =>
      throw new ZarrException(s"chunk grid ${gridShape.mkString("x")} overflows Long")
    }
  }

  def numRows: Long = targetShape.product

  /** Valid extent of target chunk `idx` (edge chunks truncated,
    * reference `zarr_data_stream.rs:577-594`). */
  def chunkExtent(idx: Array[Int]): Array[Int] = {
    val out = new Array[Int](ndim)
    var d = 0
    while (d < ndim) {
      val start = idx(d).toLong * targetChunk(d)
      out(d) = math.min(targetChunk(d).toLong, targetShape(d) - start).toInt
      d += 1
    }
    out
  }

  /** Row-major chunk index for ordinal `ord` in [0, numChunks). */
  def chunkIndex(ord: Long): Array[Int] = {
    val idx = new Array[Int](ndim)
    var rem = ord
    var d = ndim - 1
    while (d >= 0) {
      idx(d) = (rem % gridShape(d)).toInt
      rem /= gridShape(d)
      d -= 1
    }
    idx
  }

  /** Per-dimension identity for stats-grid matching: a 2-D-and-up chunk
    * ordinal is only meaningful relative to a row-major enumeration of a
    * SPECIFIC dimension order, and an all-coordinates cross product takes
    * its order from the selection (`zarr_data_stream.rs:146-158`) — so a
    * `_stats` segment recorded under one order must not be applied to a
    * scan whose grid merely has the same SHAPE in a different order.
    * Dimension d is named by the coordinate broadcast along it, else by
    * the data arrays' `dimension_names[d]`, else "" (unnamed dims cannot
    * permute ambiguously: all data arrays are congruent). */
  def dimIdentity: Seq[String] =
    (0 until ndim).map { d =>
      roles.collectFirst { case CoordCol(m, `d`) => m.name }
        .orElse(roles.collectFirst {
          case DataCol(m) if m.dimensionNames.exists(_.length == ndim) =>
            m.dimensionNames.get(d)
        })
        .getOrElse("")
    }
}

object ScanGeometry {

  /** Row-major chunk index of `ord` over an explicit grid — the static
    * twin of [[ScanGeometry.chunkIndex]] for write/maintenance kernels
    * that hold a grid array rather than a resolved geometry. ONE
    * definition of the ordinal arithmetic: the same loop was inlined at
    * five call sites, which any future hardening would have to find. */
  def indexOf(ord: Long, grid: Array[Int]): Array[Int] = {
    val idx = new Array[Int](grid.length)
    var rem = ord
    var d = grid.length - 1
    while (d >= 0) { idx(d) = (rem % grid(d)).toInt; rem /= grid(d); d -= 1 }
    idx
  }


  /** Resolve geometry for a selection of arrays, enforcing the reference's
    * consistency rules (`resolve_vector` `zarr_data_stream.rs:48-96` +
    * `ZarrCoordinates::new` `108-215`):
    *  - mixed dims: every 1-D array in a selection containing N-D (N>1)
    *    arrays must be a coordinate; data arrays must agree on shape and
    *    chunk shape; a coordinate's extent must match its dimension slot.
    *  - all 1-D coordinates: cross product in field order.
    *
    * `metas` must be in output-schema field order.
    */
  def resolve(metas: Seq[ZarrArrayMeta]): ScanGeometry = {
    require(metas.nonEmpty, "empty selection")
    val maxDim = metas.map(_.ndim).max

    val allCoords = metas.forall(_.isCoordinate)
    if (allCoords && metas.length > 1) {
      // full cross product in field order
      val shape = metas.map(_.shape(0)).toArray
      if (shape.length > 8)
        throw new ZarrException(
          s"Only 1-8 dimensional arrays are supported, got ${shape.length}")
      val chunk = metas.map(_.chunkShape(0)).toArray
      val roles = metas.zipWithIndex.map { case (m, i) => CoordCol(m, i) }
      return ScanGeometry(shape, chunk, roles)
    }

    if (maxDim == 1) {
      // single array, or several plain 1-D arrays: all must agree
      val first = metas.head
      checkCongruent(metas, first.shape, first.chunkShape)
      return ScanGeometry(first.shape, first.chunkShape, metas.map(DataCol))
    }

    // mixed: N-D data arrays define the target; 1-D arrays must be coords
    val dataMetas = metas.filter(_.ndim == maxDim)
    val target = dataMetas.head
    checkCongruent(dataMetas, target.shape, target.chunkShape)
    val dimNames: Seq[Option[String]] = target.dimensionNames match {
      case Some(names) => names.map(Some(_))
      case None => Seq.fill(maxDim)(None)
    }
    val roles = metas.map { m =>
      if (m.ndim == maxDim) DataCol(m)
      else if (m.ndim == 1) {
        if (!m.isCoordinate)
          throw new ZarrException(
            s"1-D array ${m.name} in a mixed-dimension selection must be a coordinate")
        val dim = dimNames.indexOf(Some(m.name))
        if (dim < 0)
          throw new ZarrException(
            s"coordinate ${m.name} does not match any dimension of ${target.name}")
        if (m.shape(0) != target.shape(dim) || m.chunkShape(0) != target.chunkShape(dim))
          throw new ZarrException(
            s"coordinate ${m.name} extent/chunking disagrees with dimension $dim of ${target.name}")
        CoordCol(m, dim)
      } else
        throw new ZarrException(
          s"array ${m.name} has incompatible dimensionality ${m.ndim} (target $maxDim)")
    }
    ScanGeometry(target.shape, target.chunkShape, roles)
  }

  private def checkCongruent(
      metas: Seq[ZarrArrayMeta], shape: Array[Long], chunk: Array[Int]): Unit =
    metas.foreach { m =>
      if (!m.shape.sameElements(shape) || !m.chunkShape.sameElements(chunk))
        throw new ZarrException(
          s"array ${m.name} shape/chunking disagrees with the other selected arrays")
    }
}
