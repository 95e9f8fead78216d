package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-22 memo bounding (ADVICE): the [[Tables.load]]
  * DataFrame memo and [[graft.streaming.EventStream]]'s footer-schema
  * memo sweep entries owned by STOPPED SparkSessions on every access,
  * so a long-lived multi-session driver cannot accumulate dead
  * sessions' plans / file indexes / schemas without bound. */
class MemoBoundsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private var made = List.empty[SparkSession]

  /** A new session on its own SparkContext. The spec stops only the
    * sessions it made (one a failed test left live): a live session of
    * another suite shares the one SparkContext a JVM may hold, so
    * stopping ours would stop it too — the spec cannot run beside it
    * and is cancelled instead. */
  private def fresh(): SparkSession = {
    made.foreach(_.stop())
    val foreign = (SparkSession.getActiveSession ++ SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    assume(foreign.isEmpty, "another suite's SparkSession is live in this JVM")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("memo-bounds-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    made ::= s
    s
  }

  test("Tables.load sweeps a stopped session's entries") {
    val s1 = fresh()
    Tables.load(s1, dir, "region") // first access sweeps earlier suites' dead entries
    val base = Tables.memoSize     // live entries incl. s1's region
    Tables.load(s1, dir, "nation")
    assert(Tables.memoSize == base + 1)
    s1.stop()
    val s2 = fresh()
    Tables.load(s2, dir, "region")
    // s1's two entries swept, s2's one added: net size returns to base
    assert(Tables.memoSize == base,
      s"stopped session's entries must be swept (size ${Tables.memoSize}, base $base)")
    s2.stop()
  }

  test("EventStream's schema memo sweeps a stopped session's entries") {
    val s1 = fresh()
    graft.streaming.EventStream.fromFilesRaw(s1, dir)
    val base = graft.streaming.EventStream.schemaMemoSize
    s1.stop()
    val s2 = fresh()
    graft.streaming.EventStream.fromFilesRaw(s2, dir)
    assert(graft.streaming.EventStream.schemaMemoSize == base,
      s"stopped session's schema entry must be swept " +
        s"(size ${graft.streaming.EventStream.schemaMemoSize}, base $base)")
    s2.stop()
  }
}
