package graft.zarr

import org.scalatest.funsuite.AnyFunSuite

/** A store's Hadoop Configuration is built once per JVM for each set of
  * `hadoopConfPairs` ([[ZarrStore.confFor]]): stores with equal pairs
  * share one instance, any differing pair gets its own, and the memo
  * keeps at most [[ZarrStore.MaxConfs]] sets. */
class StoreConfSpec extends AnyFunSuite {

  private val pairs = Seq(
    "fs.storeconf.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
    "graft.zarr.ranged.reads" -> "auto")

  test("equal pairs share one Configuration, whatever the root or the Seq") {
    val a = ZarrStore("/tmp/store-conf-a", pairs)
    val b = ZarrStore("/tmp/store-conf-b", pairs.toVector)
    assert(a.conf eq b.conf)
    assert(a.copy().conf eq a.conf, "a store rebuilt from the same pairs, as in a task")
    assert(a.conf.get("fs.storeconf.impl") == "org.apache.hadoop.fs.RawLocalFileSystem")
  }

  test("a ranged_reads override or a changed fs.* key gets its own Configuration") {
    val plain = ZarrStore("/tmp/store-conf", pairs)
    // the scan option is appended last, as ZarrDataSource does
    val ranged = ZarrStore("/tmp/store-conf", pairs :+ ("graft.zarr.ranged.reads" -> "always"))
    assert(!(ranged.conf eq plain.conf))
    assert(ranged.supportsRangedReads && !plain.supportsRangedReads)
    val fsChanged = ZarrStore("/tmp/store-conf",
      Seq("fs.storeconf.impl" -> "org.apache.hadoop.fs.LocalFileSystem", pairs(1)))
    assert(!(fsChanged.conf eq plain.conf))
    assert(fsChanged.conf.get("fs.storeconf.impl") == "org.apache.hadoop.fs.LocalFileSystem")
    assert(plain.conf.get("fs.storeconf.impl") == "org.apache.hadoop.fs.RawLocalFileSystem")
  }

  test("the memo stays within its bound and drops the least recently used set") {
    def probe(i: Int) = ZarrStore("/tmp/store-conf", Seq("fs.storeconf.probe" -> i.toString)).conf
    val first = probe(0)
    (1 to ZarrStore.MaxConfs + 4).foreach { i =>
      probe(i)
      assert(ZarrStore.confCount <= ZarrStore.MaxConfs)
    }
    val last = probe(ZarrStore.MaxConfs + 4)
    assert(probe(ZarrStore.MaxConfs + 4) eq last, "the newest set is still held")
    assert(!(probe(0) eq first), "the eldest set was dropped and is built anew")
  }
}
