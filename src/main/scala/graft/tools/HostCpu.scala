package graft.tools

/** Host-level CPU accounting from /proc/stat — specifically STEAL time,
  * the contention loadavg cannot see. This box is a guest VM on a shared
  * host: when the host oversubscribes, the guest's runnable threads lose
  * whole scheduling slices ("stolen" ticks) while its own loadavg stays
  * low — identical work was measured at 138 vs 881 task-seconds across
  * reps in one session (d03, r9), a 6× swing with zero code or
  * data change. Cumulative steal on this box has historically equalled
  * cumulative USER time, so benches MUST record the steal share of their
  * own window: a timing taken at 30% steal is not comparable to one taken
  * at 2%, and artifacts that carry their steal% defend themselves the way
  * loadavg fields defended rounds 2–5 against guest-side contamination.
  */
object HostCpu {

  /** Snapshot of (busy, steal, total) jiffies across all CPUs; None when
    * /proc/stat is unreadable (non-Linux). */
  def snapshot(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val steal = if (f.length > 7) f(7) else 0L
        val idle = f(3) + (if (f.length > 4) f(4) else 0L)
        Some((f.sum - idle - steal, steal, f.sum))
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Percent of all CPU capacity stolen by the host between two
    * snapshots; -1.0 when unknown. */
  def stealPct(before: Option[(Long, Long, Long)],
               after: Option[(Long, Long, Long)]): Double =
    (before, after) match {
      case (Some((_, s0, t0)), Some((_, s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => -1.0
    }

  /** Convenience: run `body`, return (result, stealPct of the window). */
  def measuring[A](body: => A): (A, Double) = {
    val b = snapshot()
    val r = body
    (r, stealPct(b, snapshot()))
  }

  /** Direct CPU-throughput calibration: total iterations of a fixed
    * integer-mix loop across `threads` spinners in `ms` of wall time
    * (millions, rounded). This is the self-defense layer steal% cannot
    * provide: r9 observed bench windows where loadavg AND steal read
    * clean while identical queries ran 4–10× slow (host frequency
    * scaling / scheduling effects are invisible to guest accounting).
    * Two boxes — or two moments on one box — with the same spin score
    * are comparable; a 76 s bench next to a 55 s bench with HALF the
    * spin score indicts the box, not the code. Deterministic work
    * (xorshift mix), so scores are proportional to delivered cycles. */
  def spinScore(ms: Long = 200,
                threads: Int = Runtime.getRuntime.availableProcessors()): Long = {
    spinOnce(50, threads) // JIT/ramp-up warm pass — measure the box, not the JVM
    spinOnce(ms, threads)
  }

  /** The bench's default healthy-box floor for [[spinScore]] on `cpus`
    * cores. The 1800 floor was calibrated on a 32-core box (healthy
    * ≥ ~2800, host bursts < 1500), and the score sums one spinning thread
    * per core, so the floor scales with the core count: 225 on 4 cores,
    * where a healthy box scores ~315. */
  def defaultMinSpin(cpus: Int): Long = 1800L * cpus / 32

  /** 1-minute load average from /proc/loadavg (-1 if unreadable). */
  def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** The last reading of a bounded [[awaitHealthy]] wait: seconds waited,
    * the raw 1-min load, the all-core [[spinScore]], and whether both
    * gates held. */
  final case class Health(waitedSec: Long, load: Double, spin: Long, healthy: Boolean)

  /** Wait, at most `budgetSec`, for a healthy box: [[spinScore]] ≥
    * `minSpin` and the 1-min load ≤ `maxLoad`, re-read every `pollMs`.
    * The load gate discounts the spin probe's own runnable threads (one
    * per core for ~0.25 s per poll), so the instrument never blocks on
    * its own noise. A box that never recovers spends the budget and
    * returns unhealthy — never a deadlock. Each unhealthy poll logs one
    * `what`-prefixed line to stderr. */
  def awaitHealthy(minSpin: Long, maxLoad: Double, budgetSec: Long, pollMs: Long,
                   what: String): Health = {
    val probeLoad = Runtime.getRuntime.availableProcessors() * 0.25 / (pollMs / 1000.0)
    val t0 = System.nanoTime()
    def read(): Health = {
      val (load, spin) = (loadavg1(), spinScore())
      Health(((System.nanoTime() - t0) / 1e9).toLong, load, spin,
        load - probeLoad <= maxLoad && spin >= minSpin)
    }
    var h = read()
    while (!h.healthy && h.waitedSec < budgetSec) {
      val load = if (maxLoad.isInfinite) ""
        else f"1-min load ${h.load}%.2f (max $maxLoad%.1f + probe $probeLoad%.2f), "
      System.err.println(s"$what: ${load}spin ${h.spin} (min $minSpin) - waiting " +
        s"(${h.waitedSec}s of ${budgetSec}s budget)")
      Thread.sleep(pollMs)
      h = read()
    }
    h
  }

  /** Background capacity sampler: one daemon thread records a 50 ms
    * single-core spin score every `periodMs` for the life of the handle.
    * Endpoint scores miss mid-run dips (r9: bench endpoints read ~3100
    * while queries in between ran 4× slow); the timeline catches them at
    * ~1.7% of one core. `minIn(t0, t1)` answers "what was the worst
    * delivered capacity while THIS query ran" — the per-query field that
    * lets a slow timing indict the box with evidence.
    *
    * Scores are normalized by the sampler thread's DELIVERED CPU time
    * (ThreadMXBean), not the wall window: on a 32-thread bench saturating
    * 32 cores, the sampler competes with the workload it instruments and
    * a raw wall-window count reads 0 whenever the scheduler starves the
    * sampler's slice — which is exactly when the bench is busiest
    * (BENCH_r11 shipped `cpu_spin_sampled_min: 0`, and the instrument was
    * declared dark). iterations-per-delivered-cpu-ms is invariant to that
    * self-contention (both numerator and denominator shrink together) but
    * still falls with host frequency scaling / throttling — the effect
    * this sampler exists to catch; guest-visible steal is the per-query
    * steal%'s job. A window where the thread got zero cycles records no
    * sample and bumps `starved` instead of recording a lying 0. */
  final class Sampler(periodMs: Long) {
    private val samples =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    private val starvedCount = new java.util.concurrent.atomic.AtomicLong()
    @volatile private var running = true
    private val t = new Thread(() => {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      // spinCpuNormalized returns 0 PERMANENTLY when per-thread CPU time
      // is unsupported/disabled (getCurrentThreadCpuTime = -1): every
      // window would count as starved and the sampler would go dark with
      // no indication why. Check once; fall back to the wall-based score
      // (raw but never silent) and say so (r12 advice).
      val cpuTimeOk = mx.isCurrentThreadCpuTimeSupported &&
        mx.isThreadCpuTimeEnabled
      if (!cpuTimeOk) System.err.println(
        "[hostcpu] per-thread CPU time unavailable - sampler scores are " +
          "wall-based (read 0 under scheduler starvation, not normalized)")
      def sample(): Long =
        if (cpuTimeOk) spinCpuNormalized(mx, 50) else spinOnce(50, 1)
      sample() // JIT warm
      while (running) {
        val now = System.nanoTime()
        val score = sample()
        if (score > 0L) samples.add((now, score))
        else starvedCount.incrementAndGet()
        Thread.sleep(periodMs)
      }
    })
    t.setDaemon(true); t.setName("graft-hostcpu-sampler"); t.start()

    /** Minimum sampled score in [t0, t1) nanos; -1 when no sample fell
      * inside the window (short queries between samples). */
    def minIn(t0: Long, t1: Long): Long = {
      var min = -1L
      val it = samples.iterator()
      while (it.hasNext) {
        val (ts, s) = it.next()
        if (ts >= t0 && ts < t1 && (min < 0 || s < min)) min = s
      }
      min
    }

    def all(): Seq[(Long, Long)] = {
      val b = Seq.newBuilder[(Long, Long)]
      val it = samples.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    }

    /** Windows where the sampler thread received zero CPU (no sample
      * recorded) — a high count alongside clean scores means the box was
      * fast whenever measurable but the sampler was often squeezed out. */
    def starved(): Long = starvedCount.get()

    def stop(): Unit = { running = false }
  }

  def sampler(periodMs: Long = 3000): Sampler = new Sampler(periodMs)

  /** One 50 ms-budget single-thread spin, scored as iterations per 50 ms
    * of CPU time the thread actually received (millions) — ≈ the raw
    * 50 ms score when undisturbed, and unchanged under scheduler
    * starvation. 0 only when the thread got no measurable cycles. */
  private def spinCpuNormalized(
      mx: java.lang.management.ThreadMXBean, ms: Long): Long = {
    val cpu0 = mx.getCurrentThreadCpuTime
    var x = 0x9e3779b97f4a7c15L
    var n = 0L
    val deadline = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < deadline) {
      var k = 0
      while (k < 4096) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        k += 1
      }
      n += 4096
    }
    val cpuNs = mx.getCurrentThreadCpuTime - cpu0
    if (x == 0L || n == 0L || cpuNs <= 0L) 0L // x check keeps the loop live
    else math.round(n.toDouble * (ms * 1e6) / cpuNs / 1e6)
  }

  private def spinOnce(ms: Long, threads: Int): Long = {
    val total = new java.util.concurrent.atomic.AtomicLong()
    val deadline = System.nanoTime() + ms * 1000000L
    val ts = (1 to threads).map { i =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + i
        var n = 0L
        while (System.nanoTime() < deadline) {
          var k = 0
          while (k < 4096) { // check the clock every 4096 iterations
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            k += 1
          }
          n += 4096
        }
        if (x != 0L) total.addAndGet(n) // data-dependence: keep the loop live
        ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get / 1000000L
  }
}
