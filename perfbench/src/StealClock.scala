package perfbench

import java.nio.file.{Files, Path}

/** Wall-clock intervals with the time the hypervisor withheld from this
  * machine's busy CPUs taken out.
  *
  * On a shared virtual machine other tenants take CPU time from this one in
  * episodes lasting minutes ("steal" in `/proc/stat`), which slows a whole
  * run by up to a third. An interval's steal share, the steal ticks over the
  * busy plus steal ticks of all CPUs, is the share of the CPU time the
  * program asked for and did not get; scaling the wall time by one minus
  * that share estimates the interval on an uncontended machine. Where
  * `/proc/stat` is not readable, no correction is made.
  */
object StealClock {
  final case class Mark(nanos: Long, busy: Long, steal: Long)

  private val stat = Path.of("/proc/stat")

  def mark(): Mark = {
    val now = System.nanoTime()
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val in = Files.newBufferedReader(stat)
      val line = try in.readLine() finally in.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      Mark(now, f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => Mark(now, 0L, 0L) }
  }

  def stealShare(a: Mark, b: Mark): Double = {
    val steal = b.steal - a.steal
    val total = steal + b.busy - a.busy
    if (total <= 0) 0.0 else steal.toDouble / total
  }

  /** Seconds from `a` to `b` without the stolen share. */
  def seconds(a: Mark, b: Mark): Double = (b.nanos - a.nanos) / 1e9 * (1.0 - stealShare(a, b))
}
