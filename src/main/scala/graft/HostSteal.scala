package graft

/** Hypervisor CPU-steal reader. Its one caller is the benchmark
  * (`perfbench`), which reports the stolen fraction of each timed phase
  * next to the phase's wall and CPU time, so a reader can tell a run the
  * host slowed from one the code slowed.
  *
  * stolen_frac = steal / (busy + steal): the fraction of time the
  * guest's runnable vCPUs were denied the physical CPU; the effective
  * slowdown is 1/(1-f). Returns None off-Linux (or if /proc/stat is
  * unreadable), which callers treat as "steal unknown".
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
}
