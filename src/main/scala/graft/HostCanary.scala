package graft

/** Fixed pure-CPU canary shared by every measurement tool (Bench, Probe,
  * ThroughputBench, DataPipelineBench): ~0.2-0.3 s of 64-bit mixing on a
  * quiet box, no Spark, no I/O, no allocation. The value is the host-health
  * context for a timing: the harness box shows sustained degraded windows
  * (co-tenant vCPU steal) that inflate every rep of a measurement together,
  * which a corroborated-min protocol cannot detect from the measurements
  * alone — BENCH_r08 recorded five queries at 7-12x their true numbers this
  * way. Emitting the canary next to every number makes a polluted
  * measurement visibly polluted to any later reader, and lets protocols
  * discard reps whose canary exceeds the run median (see graft.Bench).
  *
  * The single-thread loop ([[sec]]) catches whole-JVM freezes and frequency
  * drops but NOT parallel-capacity steal (a co-tenant taking 31 of 32 vCPUs
  * inflates every wide stage ~7-30x while single-thread speed stays flat —
  * BENCH_r09 shipped q32 at 15.6 s with a clean 0.36 s serial canary this
  * way; the isolated re-run was 2.1 s). [[parSec]] closes that blind spot:
  * the same mixing loop on every available core, wall-clocked, so stolen
  * capacity inflates it by exactly the factor it would inflate a wide
  * Spark stage. Protocols gate on BOTH ([[graft.Bench]]).
  */
object HostCanary {
  @volatile private var sink = 0L

  private def mix(seed: Long, iters: Int): Long = {
    var h = seed
    var i = 0
    while (i < iters) { h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i; i += 1 }
    h
  }

  /** Seconds for the fixed single-thread workload; call once untimed to
    * JIT-warm. */
  def sec(): Double = {
    val t0 = System.nanoTime()
    sink += mix(0x9E3779B97F4A7C15L, 150000000) // sink defeats DCE
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to run the mixing loop CONCURRENTLY on every available core
    * (one thread per processor, 50M iterations each — ~0.1 s on a quiet
    * box). With full parallel capacity the wall time is one thread's loop
    * time; with P of N cores effectively available it approaches N/P times
    * that, which is the same inflation a capacity-stolen wide stage sees.
    * Call once untimed to JIT-warm. */
  def parSec(): Double = {
    val n = math.max(1, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val threads = (0 until n).map { tid =>
      val t = new Thread(() => sink += mix(0x9E3779B97F4A7C15L + tid, 50000000))
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** OS 1-minute load average (-1 where unsupported) — recorded next to
    * measurements as adjudication context for later readers. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** `body` between JIT-warmed serial and parallel canaries, for the
    * pipeline benches: its result plus the artifact fields `canary_pre`,
    * `canary_post`, `par_canary_pre`, `par_canary_post` and `loadavg`. */
  def bracket[A](body: => A): (A, Seq[(String, Any)]) = {
    sec(); parSec()
    val (cPre, pcPre) = (sec(), parSec())
    val result = body
    val (cPost, pcPost) = (sec(), parSec())
    (result, Seq("canary_pre" -> cPre, "canary_post" -> cPost,
      "par_canary_pre" -> pcPre, "par_canary_post" -> pcPost,
      "loadavg" -> loadAvg()))
  }

  /** The box a clean canary band belongs to, as a file-name-safe key:
    * logical cores, max heap rounded to whole GiB, and the CPU model
    * slugged (`4c-3g-intel-xeon-platinum-8375c-cpu-2-90ghz`). The canary's
    * clean value is a property of exactly these, so bands measured on
    * different boxes never mix. Pure. */
  def boxKey(cores: Int, cpuModel: String, maxHeapBytes: Long): String = {
    val model = cpuModel.toLowerCase(java.util.Locale.ROOT)
      .replace("(r)", "").replace("(tm)", "")
      .replaceAll("[^a-z0-9]+", "-").stripPrefix("-").take(48).stripSuffix("-")
    val heapGb = math.round(maxHeapBytes.toDouble / (1L << 30))
    s"${cores}c-${heapGb}g-${if (model.isEmpty) "unknown" else model}"
  }

  /** [[boxKey]] of this JVM's box: available processors, `-Xmx`, and the
    * first `model name` in /proc/cpuinfo (the OS architecture where that
    * file is absent). */
  def thisBox(): String = {
    val model =
      try {
        val src = scala.io.Source.fromFile("/proc/cpuinfo")
        try src.getLines().collectFirst {
          case l if l.startsWith("model name") => l.dropWhile(_ != ':').drop(1).trim
        } finally src.close()
      } catch { case _: java.io.IOException => None }
    boxKey(Runtime.getRuntime.availableProcessors(),
      model.getOrElse(System.getProperty("os.arch", "")),
      Runtime.getRuntime.maxMemory())
  }
}
