package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The oracle's memoized zarr stores are keyed on the code that writes
  * them ([[ZarrRoundtrip.writerFingerprint]]): unchanged code reuses a
  * store, a changed fingerprint builds a new one at a new path. */
class MemoizedStoreKeySpec extends AnyFunSuite {

  test("the fingerprint covers the store-writing classes and moves with their bytes") {
    val classes = ZarrRoundtrip.writerClasses
    val names = classes.map(_._1)
    assert(names.contains("graft/zarr/ZarrStore.class"))
    assert(names.contains("graft/sources/ZarrDataSource.class"))
    assert(!names.exists(_.startsWith("graft/queries/")))
    assert(ZarrRoundtrip.writerFingerprint == ZarrRoundtrip.fingerprint(classes))
    val (name, bytes) = classes.head
    val edited = bytes.clone()
    edited(edited.length - 1) = (edited.last ^ 1).toByte
    assert(ZarrRoundtrip.fingerprint((name -> edited) +: classes.tail) !=
      ZarrRoundtrip.writerFingerprint)
  }

  test("unchanged code reuses the store; a changed fingerprint builds a new one") {
    val root = Files.createTempDirectory("memo-store-key").toString
    val data = Files.createTempDirectory("memo-store-data").toString
    var builds = 0
    def ensure(code: String): String =
      ZarrRoundtrip.ensureMemoizedStore(data, "keyspec", root, "store", code) { path =>
        builds += 1
        Files.createDirectories(Paths.get(path))
        Files.write(Paths.get(path, "zarr.json"), "{}".getBytes("UTF-8"))
      }
    val first = ensure("code-a")
    assert(builds == 1 && Files.exists(Paths.get(first, "zarr.json")))
    assert(ensure("code-a") == first && builds == 1, "same code: the store is reused")
    val second = ensure("code-b")
    assert(second != first && builds == 2, "changed code: a new store at a new path")
    assert(Files.exists(Paths.get(second, "zarr.json")))
    assert(ensure("code-b") == second && builds == 2)
  }
}
