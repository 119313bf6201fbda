package graft

import org.scalatest.funsuite.AnyFunSuite

/** The /proc/stat steal reader behind the benchmark's per-phase steal
  * reading. The math must be exact and the reader must degrade to None —
  * never throw, never fabricate — off-Linux or on a malformed file,
  * because a crashed reader would take the benchmark run down with it.
  */
class HostStealSpec extends AnyFunSuite {

  test("stolenFrac: exact fraction of runnable ticks") {
    val before = Some((1000L, 100L))
    val after = Some((2000L, 350L))
    // runnable delta 1000, steal delta 250
    assert(HostSteal.stolenFrac(before, after).contains(0.25))
  }

  test("stolenFrac: None when either snapshot is missing or no time passed") {
    assert(HostSteal.stolenFrac(None, Some((10L, 1L))).isEmpty)
    assert(HostSteal.stolenFrac(Some((10L, 1L)), None).isEmpty)
    // equal snapshots: no runnable time elapsed — undefined, not 0/0
    assert(HostSteal.stolenFrac(Some((10L, 1L)), Some((10L, 1L))).isEmpty)
  }

  test("ticks: reads the live /proc/stat on Linux and is monotone") {
    val t0 = HostSteal.ticks()
    assume(t0.isDefined, "no /proc/stat on this platform")
    // burn a little CPU so runnable ticks must advance
    val deadline = System.nanoTime() + 300000000L
    var x = 0L
    while (System.nanoTime() < deadline) x += 1
    val t1 = HostSteal.ticks()
    assert(t1.isDefined)
    val (r0, s0) = t0.get
    val (r1, s1) = t1.get
    assert(r1 >= r0 && s1 >= s0, s"ticks went backwards: ($r0,$s0) -> ($r1,$s1)")
    assert(r1 > r0, "runnable ticks did not advance across a busy spin")
    assert(s0 <= r0 && s1 <= r1, "steal cannot exceed runnable")
  }
}
