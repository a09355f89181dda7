package graft.tools

/**
 * In-run host-weather probe: a TINY standalone JVM pinned (by its launcher,
 * `ScalingSuite.startWeatherProbe`) to one CPU OUTSIDE the measured job's
 * affinity mask, printing one `PROBE <sec>` canary duration every few
 * seconds for the parent to collect.
 *
 * Why it exists (round-4 trial): an 8-core scaling point walled 194 s
 * (≈5× the clean model) while BOTH its bracketing canaries read clean
 * (0.83 pre / 0.95 post) — the host's throttle window sat entirely inside
 * the ~3-minute timed run, invisible to before/after sampling. Host
 * throttling is VM-wide, so an outside-mask probe observes it WITHOUT
 * competing with the job's pinned cores; the parent folds `max(probe)` into
 * the sample's published canary, and the clean-pair selection (Bench) then
 * refuses samples whose timed window was secretly throttled.
 *
 * Same deterministic ALU loop as `ScalingSuite.canarySec` (~1 s on an
 * uncontended core). ~64 MB heap, ~17% duty cycle on its one CPU.
 */
object WeatherProbe {

  /** Seconds one core takes for a fixed xorshift loop (the canary; also
    * timed by BenchExtra around each of its rounds). */
  def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val periodMs = if (args.nonEmpty) args(0).toLong else 5000L
    while (true) {
      println(f"PROBE ${canarySec()}%.3f")
      Console.flush()
      Thread.sleep(periodMs)
    }
  }
}
