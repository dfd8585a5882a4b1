package graft.tools

import java.util.concurrent.atomic.AtomicBoolean

/** Hypervisor-steal probe, so a bench artifact self-adjudicates
  * weather.
  *
  * Why this exists: guest load average CANNOT see host co-tenancy. A
  * byte-identical binary can bench far slower than its quiet posture
  * while `uptime` reads near zero, because the host is taking a third
  * of the guest's CPU; only spinning every vCPU and reading the
  * /proc/stat `steal` column shows it. A bench number recorded without
  * the steal measurement is uninterpretable.
  *
  * Protocol: saturate every core with busy-spin threads for `millis`
  * (steal only accrues to runnable-but-not-running vCPUs, so an IDLE
  * guest measures ~0% steal no matter how loaded the host is — the
  * spin is load-bearing), then compute the steal share of the
  * /proc/stat cpu-aggregate jiffy delta across the window.
  *
  * Returns steal as a percentage (0–100), or -1.0 when /proc/stat is
  * unavailable (non-Linux dev machine) so callers can emit the field
  * unconditionally and a reader can tell "quiet" from "unmeasured".
  */
object StealProbe {

  /** Parse the aggregate `cpu ` line of /proc/stat into jiffy counters:
    * user nice system idle iowait irq softirq steal guest guest_nice. */
  private def cpuJiffies(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Throwable => None }

  /** Spin `threads` busy loops for `millis`, measure the steal share of
    * the total jiffy delta. steal is /proc/stat cpu field 8 (index 7). */
  def measure(threads: Int, millis: Long): Double = {
    cpuJiffies() match {
      case None => -1.0
      case Some(before) =>
        val stop = new AtomicBoolean(false)
        val spinners = (1 to threads).map { _ =>
          val t = new Thread(() => {
            var x = 0L
            while (!stop.get()) { x += 1 }
            // keep the loop un-eliminable without a volatile in the hot path
            if (x == Long.MinValue) System.err.print("")
          })
          t.setDaemon(true)
          t.start()
          t
        }
        try Thread.sleep(millis) finally { stop.set(true); spinners.foreach(_.join(2000)) }
        cpuJiffies() match {
          case Some(after) if after.length > 7 && before.length > 7 =>
            val delta = after.zip(before).map { case (a, b) => a - b }
            // fields 0-7 only: guest/guest_nice (8, 9) are already
            // included in user/nice, so summing all ten would double-
            // count any nested-VM load and deflate the reported steal
            val total = delta.take(8).sum.toDouble
            if (total <= 0) -1.0 else 100.0 * delta(7) / total
          case _ => -1.0
        }
    }
  }

  /** Default protocol: saturate the advertised core count for 5 s. */
  def measureDefault(): Double =
    measure(Runtime.getRuntime.availableProcessors(), 5000L)

  /** Standalone gate: `runMain graft.tools.StealProbe [threads] [ms]` —
    * launch a bench only while steal reads below ~5%. */
  def main(args: Array[String]): Unit = {
    val threads =
      if (args.length > 0) args(0).toInt
      else Runtime.getRuntime.availableProcessors()
    val ms = if (args.length > 1) args(1).toLong else 5000L
    println(f"steal_pct=${measure(threads, ms)}%.1f")
  }
}
