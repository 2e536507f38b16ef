package graft

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, JObject}
import org.json4s.jackson.JsonMethods

import graft.queries.Catalog

/** Benchmark main (driver contract): run the headline queries against
  * SPARK_GRAFT_SF_DIR, print one JSON line PER QUERY as it completes (so a
  * truncated or noisy log still yields per-query numbers), then the final
  * summary line in the driver's `{"metric":"total",...}` shape.
  *
  * Methodology: one untimed warmup pass per query (JIT + Janino codegen
  * compile dominate at small SF — measured 3-27 s first-run vs ~1 s warm on
  * this box), then min of 2 timed passes. Execution uses a full-plan sink
  * (`noop` datasource write) rather than `count()` so Catalyst cannot prune
  * projections away from the measured work. Network/heartbeat timeouts are
  * raised because the harness box shows multi-second whole-JVM freezes that
  * can otherwise kill the local executor mid-run; if the context does die,
  * the session is rebuilt and the run continues.
  */
object Bench {
  private val sfDir = Sessions.sfDir

  /** Host-health canaries ([[HostCanary]]), timed immediately before every
    * rep. A rep whose SERIAL canary exceeds 1.5x the run's clean median ran
    * in a whole-JVM-degraded window; a rep whose PARALLEL canary exceeds
    * 1.5x its clean median ran under parallel-capacity steal (co-tenant
    * holding most vCPUs — flat serial speed, inflated wide stages; the
    * round-9 bench shipped q32 at 7x its true number with a CLEAN serial
    * canary this way). Either condition discards the rep and retries.
    * Rationale: the corroborated-min rule alone cannot detect a SUSTAINED
    * slowdown (both reps inflate together and corroborate each other — the
    * round-8 bench recorded five queries at 7-12x their true numbers this
    * way). Every per-query JSON line records both canaries plus the OS
    * loadavg, so even a run where the WHOLE window was slow (median itself
    * inflated — nothing discardable) is visibly polluted to any later
    * reader comparing canaries across rounds.
    */
  private val canaries    = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val parCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(s.size / 2)
  }

  /** Persisted clean canary band (`target/canary-ref.json`) — closes the
    * bootstrap-window blind spot: the live clean-median pool judges each
    * rep against the run SO FAR, so a run that STARTS in a degraded window
    * bootstraps a degraded pool and accepts inflated early reps as
    * "corroborated" (observed round 11: first 10 queries at canaries
    * 0.51-0.63 against a true clean band of 0.35, ~1.5x reality, all
    * accepted). The canary is a fixed CPU workload whose clean value is a
    * stable property of the box (serial 0.351-0.364 in every clean run
    * since round 9), so the band from PREVIOUS clean runs is a valid
    * reference from rep 1. Gating uses min(persisted band, live clean
    * median): a degraded start now SKIPS and retries instead of shipping;
    * a genuinely slower box degrades to forced reps whose inflated
    * canaries are printed beside them (visible, never silent). The file
    * updates monotonically downward (min of persisted and this run's
    * end-of-run clean medians, with >= 8 clean samples required), since
    * the clean floor of a fixed workload only moves if the hardware does.
    *
    * Keyed by box ([[HostCanary.boxKey]]: cores, CPU model, max heap), so
    * a run on one box neither reads nor lowers another box's band (an
    * sf0.01 smoke run on 4 cores once moved the 32-core band 0.165 →
    * 0.158). `bench-artifacts/canary-ref.json` is the unkeyed 32-core
    * record from before the key and is no longer read.
    *
    * Dual-located (round-14 lesson): `target/` is wiped by clean/round
    * resets — round 14 opened with the band file gone — so the band also
    * lives at the git-tracked `bench-artifacts/canary-ref-<box>.json`;
    * load prefers target (freshest) and falls back to the durable copy,
    * save writes both. */
  private val box = HostCanary.thisBox()
  private val CanaryRefPath = java.nio.file.Paths.get(s"target/canary-ref-$box.json")
  private val CanaryRefDurablePath =
    java.nio.file.Paths.get(s"bench-artifacts/canary-ref-$box.json")
  private def loadCanaryRef(): Option[(Double, Double)] =
    try {
      Seq(CanaryRefPath, CanaryRefDurablePath)
        .find(java.nio.file.Files.exists(_))
        .flatMap { p =>
          implicit val formats: DefaultFormats.type = DefaultFormats
          val band = JsonMethods.parse(java.nio.file.Files.readString(p))
          for {
            s <- (band \ "serial").extractOpt[Double]
            q <- (band \ "parallel").extractOpt[Double]
            if s > 0 && q > 0
          } yield (s, q)
        }
    } catch { case e: Exception =>
      System.err.println(s"[bench] canary-ref load failed (ignored): $e"); None
    }
  private def saveCanaryRef(serial: Double, parallel: Double): Unit =
    try {
      val band = BenchOut.render(BenchOut.obj("serial" -> serial, "parallel" -> parallel))
      Seq(CanaryRefPath, CanaryRefDurablePath).foreach { p =>
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, band + "\n")
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] canary-ref save failed (ignored): $e")
    }

  private def newSession(): SparkSession = Sessions.local("graft-bench")

  def main(args: Array[String]): Unit = {
    var spark = newSession()

    def execute(name: String): Unit = {
      if (spark.sparkContext.isStopped) spark = newSession()
      Catalog.byName(name).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    // BENCH_ONLY=q28,q32 restricts the run (dev isolation: distinguishes a
    // slow plan from slow accumulated-JVM-state when a full-run number
    // disagrees with a fresh-JVM Probe)
    val only = sys.env.get("BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val headline = Catalog.all.filter(_.bench).map(_.name)
      .filter(n => only.forall(_.contains(n)))
    // Per-query protocol: warmup immediately before that query's timed
    // reps (codegen + JIT), then JVM hygiene, then adaptively-extended
    // timed reps. Two measured failure modes motivated this shape:
    //  - accumulated JVM state: in a single long-lived bench JVM, a query
    //    timed after 8+ others reads up to 3x its fresh-JVM number (q28:
    //    3.4 s in the full run vs 1.15 s benched alone vs 1.3 s Probe) —
    //    dropping references + System.gc() lets the ContextCleaner drain
    //    broadcast/shuffle state from earlier queries so each query is
    //    timed against a quiet heap;
    //  - host freezes: random multi-second whole-JVM pauses faked 2x
    //    "regressions" on plans with zero diffs (round 5: q28). A minimum
    //    is only trusted once CORROBORATED — a second rep within 20% —
    //    so a query keeps re-running (up to 5 attempts) until one clean
    //    pair exists instead of shipping a min that may contain a freeze.
    // Attempt budget is higher than the old MaxReps=5 because
    // degraded-window reps are DISCARDED (not just out-voted) and so
    // consume attempts without contributing times.
    val MaxAttempts = 8
    // JIT-warm both canary loops UNTIMED first (an interpreter-speed first
    // sample would otherwise sit in the clean-median pool and skew the
    // 1.5x threshold for the first queries), then bootstrap the reference
    // pools with 3 warm samples each.
    HostCanary.sec(); HostCanary.parSec()
    (1 to 3).foreach { _ => canaries += HostCanary.sec(); parCanaries += HostCanary.parSec() }
    val persistedRef = loadCanaryRef()
    persistedRef.foreach { case (s, p) =>
      System.err.println(f"[bench] canary reference band (persisted, $box): serial $s%.3f, parallel $p%.3f")
    }
    // effective reference = min(persisted clean band, live clean median):
    // from rep 1 a degraded-start window is judged against the box's known
    // clean band, not the (possibly polluted) bootstrap pool
    def refSerial: Double = persistedRef
      .map(r => math.min(r._1, median(canaries.toSeq)))
      .getOrElse(median(canaries.toSeq))
    def refParallel: Double = persistedRef
      .map(r => math.min(r._2, median(parCanaries.toSeq)))
      .getOrElse(median(parCanaries.toSeq))
    val results = headline.map { n =>
      // Fresh SparkContext per query: clearCache+gc alone still let
      // shuffle files, localCheckpoint blocks, and broadcast state pile
      // up across a 20-query run — measured 10x inflation on the last
      // queries (q36: 68 s after 11 predecessors vs 6.7 s isolated in
      // the same hour). A context restart (~2-5 s, untimed) resets
      // executor state while keeping the JVM's JIT warm, so every query
      // is timed as if benched alone.
      if (!spark.sparkContext.isStopped) spark.stop()
      spark = newSession()
      try execute(n)
      catch { case e: Throwable => System.err.println(s"[bench] warmup $n: $e") }
      spark.catalog.clearCache()
      System.gc()
      val times       = scala.collection.mutable.ArrayBuffer.empty[Double]
      val qCanaries   = scala.collection.mutable.ArrayBuffer.empty[Double] // accepted reps
      val qAllCan     = scala.collection.mutable.ArrayBuffer.empty[Double] // incl. skipped
      val qParCan     = scala.collection.mutable.ArrayBuffer.empty[Double] // accepted reps
      val qAllParCan  = scala.collection.mutable.ArrayBuffer.empty[Double] // incl. skipped
      val qLoads      = scala.collection.mutable.ArrayBuffer.empty[Double] // accepted reps
      val qAllLoads   = scala.collection.mutable.ArrayBuffer.empty[Double] // incl. skipped
      var attempts    = 0
      def rep(force: Boolean): Unit = {
        attempts += 1
        val c = HostCanary.sec()
        val pc = HostCanary.parSec()
        val la = HostCanary.loadAvg()
        qAllCan += c; qAllParCan += pc; qAllLoads += la
        // Degradation is judged against the CLEAN-rep medians only: feeding
        // degraded samples back into the pool would drift the median up
        // during a sustained mid-run slowdown until inflated reps pass the
        // 1.5x test and ship as corroborated minimums — the exact failure
        // mode this canary exists to catch. Serial and parallel canaries
        // gate independently: serial catches whole-JVM freezes/frequency
        // drops, parallel catches capacity steal (r9's q32: 7x inflated
        // with a clean serial canary). A rep in a degraded window is
        // SKIPPED (running the query 7-12x slow just to discard the time
        // multiplies the whole run's wall clock for zero information);
        // after a short pause the canaries are re-probed.
        val serialBad = c > 1.5 * refSerial
        val parBad    = pc > 1.5 * refParallel
        val degraded  = serialBad || parBad
        if (degraded && !force) {
          val kind = if (serialBad && parBad) "serial+parallel"
            else if (serialBad) "serial" else "parallel-capacity"
          System.err.println(
            f"[bench] $n: rep skipped — $kind canary degraded " +
              f"(serial $c%.2f vs ref $refSerial%.2f, " +
              f"parallel $pc%.2f vs ref $refParallel%.2f, " +
              f"loadavg $la%.1f)")
          Thread.sleep(2000)
        } else {
          if (!degraded) { canaries += c; parCanaries += pc }
          qCanaries += c; qParCan += pc; qLoads += la
          val t0 = System.nanoTime()
          try { execute(n); times += (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] timed $n: $e") }
        }
      }
      rep(force = false); rep(force = false)
      while (attempts < MaxAttempts &&
          (times.size < 2 || times.count(_ <= times.min * 1.2) < 2))
        rep(force = false)
      // Sustained degradation can skip every attempt; one forced rep then
      // reports a NUMBER with its (visibly degraded) canary next to it —
      // more useful than a -1, and impossible to mistake for clean.
      if (times.isEmpty) rep(force = true)
      val best = if (times.nonEmpty) times.min else -1.0
      // canary context: accepted reps where any exist (a clean min must
      // not carry a degraded-looking canary from skipped attempts)
      val qc  = median(if (qCanaries.nonEmpty) qCanaries.toSeq else qAllCan.toSeq)
      val qpc = median(if (qParCan.nonEmpty) qParCan.toSeq else qAllParCan.toSeq)
      // like the canaries: accepted-rep loadavg where any rep was accepted
      // (a clean corroborated min must not carry a degraded-looking loadavg
      // sampled during SKIPPED attempts), all-sample fallback otherwise
      val ql  = median(if (qLoads.nonEmpty) qLoads.toSeq else qAllLoads.toSeq)
      val clean = times.size >= 2 && times.count(_ <= times.min * 1.2) >= 2
      // canary/band RATIO printed per query (round-12 finding: the driver's
      // q36 ran at 1.26x the clean band — under the 1.5x skip gate, so
      // "corroborated", but 1.4x the quiet-window number — and diagnosing
      // it required cross-referencing three maps; the ratio makes 1.2-1.5x
      // rows discountable on sight)
      val cRatio  = if (refSerial > 0) qc / refSerial else -1.0
      val pcRatio = if (refParallel > 0) qpc / refParallel else -1.0
      // incremental per-query line — parseable even if the run dies later
      emit(BenchOut.obj("metric" -> "query", "name" -> n, "value" -> best,
        "unit" -> "sec", "canary" -> qc, "par_canary" -> qpc,
        "canary_ratio" -> cRatio, "par_canary_ratio" -> pcRatio,
        "loadavg" -> ql, "corroborated" -> clean, "sf" -> sfDir))
      (n, best, qc, qpc, ql)
    }
    def perQuery(pick: ((String, Double, Double, Double, Double)) => Double) =
      BenchOut.obj(results.map(r => r._1 -> pick(r)): _*)
    val total = results.map(_._2).filter(_ >= 0).sum
    // Post-hoc pollution flag: the degradation gate judges each rep against
    // the canary pool AS OF THAT MOMENT, so a run that STARTS in a degraded
    // window bootstraps a degraded pool and accepts inflated early reps
    // (observed: a run whose first 10 queries carried canaries 0.51-0.63
    // against a true clean median of 0.35 — all "corroborated", all ~1.5x
    // reality). The END-of-run medians incorporate every clean sample, so
    // re-judging each query's accepted-rep canaries against them makes the
    // early-window pollution machine-readable: splice suspect queries from
    // a quieter re-run (BENCH_ONLY) rather than trusting their rows.
    val cMed  = median(canaries.toSeq)
    val pcMed = median(parCanaries.toSeq)
    // suspects judged against the tighter of (end-of-run clean medians,
    // persisted band) — a fully-degraded run cannot self-certify
    val cRef  = persistedRef.map(r => math.min(r._1, cMed)).getOrElse(cMed)
    val pcRef = persistedRef.map(r => math.min(r._2, pcMed)).getOrElse(pcMed)
    val suspect = results.collect {
      case (k, _, c, p, _) if c > 1.5 * cRef || p > 1.5 * pcRef => k
    }
    // amber = 1.2-1.5x the clean band on either canary: inside the skip
    // gate (so the row shipped) but far enough from clean that a reader
    // comparing rounds should discount the row before calling it a
    // regression — the residual instrument limit the >1.5x suspect list
    // cannot see (round-12 finding #4)
    val amber = results.collect {
      case (k, _, c, p, _)
        if (c > 1.2 * cRef || p > 1.2 * pcRef) &&
          !(c > 1.5 * cRef || p > 1.5 * pcRef) => k
    }
    // per-query ratios RECOMPUTED against the final cRef/pcRef — the
    // per-query lines' canary_ratio uses the rolling reference as of that
    // query, so a line can print <1.2x yet land in the amber list (which
    // buckets against the final refs); these summary maps are the ones the
    // amber/suspect membership arithmetic actually follows
    def ratios(pick: ((String, Double, Double, Double, Double)) => Double,
        ref: Double) = perQuery(r => if (ref > 0) pick(r) / ref else -1.0)
    val summary = BenchOut.obj("metric" -> "total", "value" -> total,
      "unit" -> "sec", "queries" -> perQuery(_._2),
      "canary_median" -> cMed, "par_canary_median" -> pcMed,
      "canary_ref" -> cRef, "par_canary_ref" -> pcRef,
      "canaries" -> perQuery(_._3), "par_canaries" -> perQuery(_._4),
      "canary_ratios" -> ratios(_._3, cRef),
      "par_canary_ratios" -> ratios(_._4, pcRef),
      "loadavgs" -> perQuery(_._5), "suspect" -> suspect, "amber" -> amber,
      "sf" -> sfDir)
    // The driver captures stdout's TAIL, which has truncated past runs into
    // unparseable fragments (BENCH_r10: total lost); the file copy makes
    // every run self-archiving. Summary alone in .json (one parseable
    // object, also printed), full line history in .jsonl.
    BenchOut.appendLine("bench-last", summary)
    BenchOut.writeSummary("bench-last", summary)
    // monotone-downward band update, only from a run with a real sample base
    if (canaries.size >= 8 && parCanaries.size >= 8) {
      val newS = persistedRef.map(r => math.min(r._1, cMed)).getOrElse(cMed)
      val newP = persistedRef.map(r => math.min(r._2, pcMed)).getOrElse(pcMed)
      saveCanaryRef(newS, newP)
    }
    spark.stop()
  }

  private def emit(line: JObject): Unit = {
    println(BenchOut.render(line))
    System.out.flush()
    BenchOut.appendLine("bench-last", line)
  }
}
