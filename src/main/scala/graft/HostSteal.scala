package graft

/** Hypervisor CPU-steal reader for the measurement protocol.
  *
  * The r19 discovery (SCALING.md "The whipsaw NAMED"): this host's
  * 2x-slow bench windows are co-tenant CPU steal, which load average
  * and trivial sentinels cannot see, and which point probes bracketing
  * a multi-second row miss entirely (the bursts live in the row's
  * interior — eight 1.3-2.0x loosenings were "certified" in-band by
  * brackets while /proc/stat showed mean stolen_frac 0.30). `graft.Bench`
  * therefore integrates steal OVER its whole timed pass and records the
  * fraction, which `tools/adopt_bench.py` gate 4 refuses above 0.05.
  * (The 1000x registry rows in SCALING_1000.json were certified with
  * per-row steal integration; `graft.Measure time` re-reads them
  * without a gate.)
  *
  * stolen_frac = steal / (busy + steal): the fraction of time the
  * guest's runnable vCPUs were denied the physical CPU; the effective
  * slowdown is 1/(1-f). Returns None off-Linux (or if /proc/stat is
  * unreadable), which callers treat as "steal unknown — don't gate".
  */
object HostSteal {
  /** (runnable ticks = busy + steal, steal ticks) from the aggregate
    * cpu line of /proc/stat. */
  def ticks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      Some((v(0) + v(1) + v(2) + v(5) + v(6) + v(7), v(7)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Stolen fraction between two tick snapshots; None if either side
    * is unavailable or no runnable time elapsed. */
  def stolenFrac(before: Option[(Long, Long)], after: Option[(Long, Long)]): Option[Double] =
    for ((r0, s0) <- before; (r1, s1) <- after; if r1 - r0 > 0)
      yield (s1 - s0).toDouble / (r1 - r0)

  /** Measure body's wall seconds and the stolen fraction across it. */
  def timed[A](body: => A): (A, Double, Option[Double]) = {
    val t0ticks = ticks()
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    (a, sec, stolenFrac(t0ticks, ticks()))
  }

  /** Memory-bandwidth probe — the instrument for the THIRD contention
    * channel (SCALING.md r19 "the second invisible channel"): a
    * co-tenant hammering memory bandwidth / LLC inflates a
    * shuffle-heavy job several-fold while accruing zero steal ticks
    * (stalled cycles count as busy) and barely moving a cache-resident
    * sentinel query. This probe streams a buffer far larger than any
    * LLC with several threads, so its wall time tracks the bandwidth
    * actually available to the guest. Returns seconds for one pass;
    * compare against a quiet-floor anchor exactly like the sentinel
    * probe. The buffer allocates once (lazily) and is shared across
    * calls — ~256 MiB resident, deliberately well past cache.
    */
  private lazy val memBuf: Array[Long] = {
    val a = new Array[Long](1 << 25) // 32M longs = 256 MiB
    var i = 0
    while (i < a.length) { a(i) = i; i += 1 }
    a
  }

  def memProbeOnce(threads: Int = 4): Double = {
    val buf = memBuf
    val chunk = buf.length / threads
    val sums = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var i = t * chunk
        val end = if (t == threads - 1) buf.length else (t + 1) * chunk
        var acc = 0L
        while (i < end) { acc += buf(i); i += 1 }
        sums(t) = acc
      })
      th.start(); th
    }
    ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    // the sums defeat dead-code elimination; they are otherwise unused
    if (sums.sum == Long.MinValue) println("")
    sec
  }

  /** min-of-2 memory-bandwidth read (first call pays the buffer init). */
  def memProbe(threads: Int = 4): Double =
    math.min(memProbeOnce(threads), memProbeOnce(threads))
}
