package graft.zarr

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property test for the distributed-walk planner ([[ZarrDistWalk]]):
  * over random store layouts (v3 slash / v3 flat-dot / v2 dot / v2
  * slash keys, 1–8 dims, sparse deletions, orphan keys, staged
  * `c.part*` dirs, foreign files, metadata docs) the planned units —
  * at ANY refinement target — must cover exactly the same files as a
  * straight recursive walk: identical stored-object counts and
  * identical orphan-reclaim sets. The planner's key-shape parsing
  * (`keyIndices`) and the depth-adaptive `refine` both ride on this. */
class DistWalkPropertySpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def mkFile(root: JPath, rel: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array[Byte](1, 2, 3))
  }

  /** Recursive reference walk: rel paths of all files under dir. */
  private def allFiles(dir: JPath): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => dir.relativize(p).toString.replace('\\', '/'))
          .toSet
      } finally s.close()
    }

  /** One random array layout; returns (grid, expected orphan rel set). */
  private def buildRandomArray(rnd: Random, arrayDir: JPath): (Seq[Long], Set[String]) = {
    val ndim = 1 + rnd.nextInt(8)
    val grid: Seq[Long] = Seq.fill(ndim)(1L + rnd.nextInt(3))
    val layout = rnd.nextInt(4) // 0=v3 slash, 1=v3 flat dot, 2=v2 dot, 3=v2 slash
    def keyOf(idx: Seq[Long]): String = layout match {
      case 0 => "c/" + idx.mkString("/")
      case 1 => "c." + idx.mkString(".")
      case 2 => idx.mkString(".")
      case _ => idx.mkString("/")
    }
    // in-grid keys, sparsely present
    val inGrid = grid.map(g => (0L until g).toSeq)
      .foldLeft(Seq(Seq.empty[Long]))((acc, dim) => acc.flatMap(p => dim.map(p :+ _)))
    val present = inGrid.filter(_ => rnd.nextDouble() < 0.7)
    present.foreach(idx => mkFile(arrayDir, keyOf(idx)))
    // orphan keys: index past its extent, or wrong rank
    val orphans = scala.collection.mutable.Set.empty[String]
    (0 until rnd.nextInt(4)).foreach { _ =>
      val idx = grid.map(g => g + rnd.nextInt(2)) // at/past the extent
      val k = keyOf(idx)
      mkFile(arrayDir, k); orphans += k
    }
    if (rnd.nextBoolean() && ndim < 8) {
      val idx = grid.map(_ - 1) :+ 0L // wrong rank (one extra axis)
      val k = keyOf(idx)
      // in slash layouts the wrong-rank key's parent path can already be
      // an in-grid chunk FILE — then this key cannot exist on a real
      // filesystem either; skip it
      try { mkFile(arrayDir, k); orphans += k }
      catch { case _: java.io.IOException => () }
    }
    // metadata docs, foreign files, staged dirs
    mkFile(arrayDir, "zarr.json")
    if (rnd.nextBoolean()) mkFile(arrayDir, "notes.txt")
    (0 until rnd.nextInt(3)).foreach { s =>
      mkFile(arrayDir, s"c.part$s-w/0")
      if (rnd.nextBoolean()) mkFile(arrayDir, s"c.part$s-w/1")
    }
    (grid, orphans.toSet)
  }

  test("planned units cover exactly the recursive walk, at any refinement target") {
    val rnd = new Random(20260815L)
    val fs = new Path("/").getFileSystem(conf)
    (0 until 60).foreach { caseNo =>
      val base = Files.createTempDirectory(s"distwalk-$caseNo")
      val arrayDir = base.resolve("v")
      val (grid, expectedOrphans) = buildRandomArray(rnd, arrayDir)
      val all = allFiles(arrayDir)
      val expectedCount = all.count(f =>
        !ZarrDistWalk.metaDocNames(f.split('/').last))
      val target = rnd.nextInt(3) match {
        case 0 => 0
        case 1 => 1 + rnd.nextInt(8)
        case _ => 8 + rnd.nextInt(50)
      }
      val root = new Path(base.toString)
      val (topFiles, staging, units) =
        ZarrDistWalk.planArray(fs, root, "v", target)

      // --- count coverage (describe's shape: staging counts too) ---
      val countUnits = units ++ staging.map(sd =>
        ZarrDistWalk.WalkUnit("v", sd))
      val counted = topFiles.size +
        countUnits.map(u => ZarrDistWalk.countUnit(base.toString, Nil, u)).sum
      assert(counted == expectedCount,
        s"case $caseNo (grid ${grid.mkString("x")}, target $target): " +
          s"counted $counted != $expectedCount\nfiles: $all\nunits: $units")

      // --- vacuum coverage (driver pass + units; staging is caller policy) ---
      val arrayPath = new Path(root, "v")
      var deleted = topFiles.count(nm => ZarrDistWalk.orphaned(nm, grid) &&
        fs.delete(new Path(arrayPath, nm), false))
      deleted += units.map(u =>
        ZarrDistWalk.vacuumUnit(base.toString, Nil, u, grid)).sum.toInt
      assert(deleted == expectedOrphans.size,
        s"case $caseNo: deleted $deleted != ${expectedOrphans.size} $expectedOrphans")
      val survivors = allFiles(arrayDir)
      assert(survivors == all -- expectedOrphans,
        s"case $caseNo: wrong survivor set")

      // cleanup
      val s = Files.walk(base)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  test("depth-adaptive fan-out: a short-dim-0 cube refines past its 2 first-level units") {
    val base = Files.createTempDirectory("distwalk-fan")
    // 3-D grid 2x4x4, v3 slash keys: first-level plan = files-only 'c' +
    // 2 subtree units (c/0, c/1) — a 2-task cap on a big cluster
    for (i <- 0 until 2; j <- 0 until 4; k <- 0 until 4)
      mkFile(base.resolve("v"), s"c/$i/$j/$k")
    mkFile(base.resolve("v"), "zarr.json")
    val fs = new Path("/").getFileSystem(conf)
    val root = new Path(base.toString)
    val (_, _, unrefined) = ZarrDistWalk.planArray(fs, root, "v")
    assert(unrefined.size == 2)
    val (_, _, fanned) = ZarrDistWalk.planArray(fs, root, "v", targetUnits = 8)
    assert(fanned.size == 8, s"fanned: $fanned") // one per c/<i>/<j>
    // identical coverage either way
    def total(us: Seq[ZarrDistWalk.WalkUnit]) =
      us.map(u => ZarrDistWalk.countUnit(base.toString, Nil, u)).sum
    assert(total(unrefined) == 32L && total(fanned) == 32L)
    val s = Files.walk(base)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
