package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH_BEST replacement rule. The record is the quiet-box
  * per-query comparator the round-over-round perf audit reads; these
  * pins exist because the rule has been wrong three times: r13 fixed
  * min() letting a mid-sweep-degrading run replace a quiet record,
  * r14's unconditional registry-changed branch let the most contended
  * sweep ever recorded (worst probe 2.43) displace a probe-1.69
  * record, and r18's probe-only rule let a sweep whose END probes
  * bracketed quiet (1.87 vs stored 1.90) but whose MIDDLE a co-tenant
  * wave had contended (median per-query ratio 1.094) displace a
  * faster record — hence the per-query median evidence gate. */
class BenchGuardSpec extends AnyFunSuite {

  private def qmap(pairs: (String, Double)*): Map[String, Double] = pairs.toMap

  // a stored record whose queries the new sweep matches exactly
  private val oldQ = qmap("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.5)

  test("no stored record: any clean sweep establishes one") {
    assert(Bench.shouldReplaceBest(None, newCal = 9.99, nQueries = 136,
      newQueries = oldQ))
  }

  test("same registry: replace only when at least as quiet AND not slower per query") {
    val stored = Some((1.69, 3, oldQ))
    assert(Bench.shouldReplaceBest(stored, 1.69, 3, oldQ))
    assert(Bench.shouldReplaceBest(stored, 1.50, 3,
      qmap("q1" -> 0.9, "q2" -> 1.9, "q3" -> 0.5)))
    assert(!Bench.shouldReplaceBest(stored, 1.70, 3, oldQ),
      "noisier probe must not replace")
    // quieter probe but median per-query ratio > 1: mid-sweep
    // contention the probes could not see — keep the record
    assert(!Bench.shouldReplaceBest(stored, 1.50, 3,
      qmap("q1" -> 1.2, "q2" -> 2.4, "q3" -> 0.55)))
  }

  test("registry changed: reset needs the quietness band AND probe-consistent medians") {
    val stored = Some((1.69, 2, qmap("q1" -> 1.0, "q2" -> 2.0)))
    // comparably quiet box, per-query medians consistent: reset OK
    assert(Bench.shouldReplaceBest(stored, 1.69, 3, oldQ))
    assert(Bench.shouldReplaceBest(stored, 1.90, 3,
      qmap("q1" -> 1.1, "q2" -> 2.2, "q4" -> 9.0)))
    // the r14 incident: worst probe 2.43 vs stored 1.69 must NOT reset
    assert(!Bench.shouldReplaceBest(stored, 2.43, 3, oldQ))
    // the r18 incident: quieter probe (ratio ~0.98) but 9.4% slower
    // per query — the sweep's own queries witness the mid-sweep wave
    assert(!Bench.shouldReplaceBest(stored, 1.66, 3,
      qmap("q1" -> 1.094, "q2" -> 2.19, "q3" -> 0.547)))
    // no common queries (full registry swap): degrades to probe-only
    // WITHIN the band
    assert(Bench.shouldReplaceBest(stored, 1.90, 3,
      qmap("qx" -> 1.0, "qy" -> 2.0, "qz" -> 3.0)))
    assert(!Bench.shouldReplaceBest(stored, 2.43, 3,
      qmap("qx" -> 1.0, "qy" -> 2.0, "qz" -> 3.0)),
      "full swap must still respect the 1.15 band")
  }

  test("same COUNT, different names is a changed registry, not a same-registry pass") {
    val stored = Some((1.69, 3, oldQ))
    // a churned registry that preserves the count: the name-keyed test
    // must route it through the registry-changed branch — under the
    // old count-keyed test this sweep (probe noisier than the record
    // but inside the band, zero common queries so the median gate is
    // blind) was REJECTED as same-registry for the wrong reason, and
    // a probe-equal variant would have RESET the record with the band
    // rationale silently bypassed
    assert(Bench.shouldReplaceBest(stored, 1.75, 3,
      qmap("qx" -> 1.0, "qy" -> 2.0, "qz" -> 3.0)),
      "disjoint names take the registry-changed branch (band, not probe-only)")
    assert(!Bench.shouldReplaceBest(stored, 2.00, 3,
      qmap("qx" -> 1.0, "qy" -> 2.0, "qz" -> 3.0)),
      "disjoint names outside the band must not reset")
    // partial overlap at the same count: the common queries' medians
    // still witness contention through the registry-changed gate
    assert(!Bench.shouldReplaceBest(stored, 1.69, 3,
      qmap("q1" -> 1.2, "q2" -> 2.4, "q4" -> 1.0)),
      "churned registry with contended common queries must not reset")
  }

  test("a record is keyed by its core count; a record without one was set at 32") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    // every record before the field existed was set at local[32]
    assert(Bench.bestCpus(json.readTree("""{"metric":"total","sf":"/d/sf0.1"}""")) == 32)
    assert(Bench.bestCpus(json.readTree("""{"metric":"total","cpus":4}""")) == 4)
    // a malformed field is no core count: the legacy default holds
    assert(Bench.bestCpus(json.readTree("""{"metric":"total","cpus":"four"}""")) == 32)
  }
}
