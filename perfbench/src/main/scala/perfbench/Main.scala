package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

/** One benchmark JVM. `--mode setup` only times set-up (launch to a ready
  * session with the inputs listed). `--mode run` is a round: set-up, one
  * cold job, warm jobs for `--seconds` (at least `--min-warm`), with
  * `--trace 1` one traced job, then the output checks of the round's jobs.
  * Everything it measured goes to `--result` as JSON; run.py starts the
  * JVMs and turns them into the reported metrics. */
object Main {
  final case class Rec(tag: String, wallS: Double, diskPeak: Long, heapPeak: Long,
      layers: Map[String, Double], signature: Option[Map[String, Any]], error: Option[String])

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val localDir = work.resolve("local")
    Files.createDirectories(localDir)
    val spark = session(name, work, localDir)
    try {
      val w = workload(name, spark, Paths.get(a("inputs")).toAbsolutePath, work)
      val (files, bytes) = Workload.listFiles(w.inputRoots)
      val setupS = (epochNanos() - a("launched-ns").toLong) / 1e9
      val head = Map("workload" -> name, "setup_s" -> setupS,
        "inputs" -> Map("files" -> files, "bytes" -> bytes))
      val result =
        if (a("mode") == "setup") head
        else head ++ measure(spark, w, localDir, a("seconds").toDouble,
          a("min-warm").toInt, a("trace") == "1", work.resolve("spans.json"))
      Workload.writeJson(Paths.get(a("result")), result)
    } finally spark.stop()
  }

  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def session(name: String, work: Path, localDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench $name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
    // each workload keeps the session settings of the tool it stands for
    name match {
      case "datapipe-dense" => b.config("spark.rdd.compress", "true")
      case _ => ()
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def workload(name: String, spark: SparkSession, in: Path,
      work: Path): Workload = name match {
    case "vspace-zipf6" => new Vspace(spark, in, work)
    case "datapipe-dense" => new Datapipe(spark, in, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def measure(spark: SparkSession, w: Workload, localDir: Path, seconds: Double,
      minWarm: Int, trace: Boolean, spansPath: Path): Map[String, Any] = {
    val sc = spark.sparkContext
    val ledger = if (trace) Some(new Ledger) else None
    ledger.foreach(sc.addSparkListener)
    val heap = new HeapWatcher
    val disk = new DiskSampler(localDir)
    Box.canaries() // JIT-warm the canary loops; the Spark code stays cold
    val canaryPre = Box.canaries()
    val box = Box.fingerprint(localDir)

    def timed(tag: String)(body: => JobOutput): Rec = {
      System.gc()
      disk.reset(); heap.reset()
      sc.setLocalProperty(Ledger.JobProperty, tag)
      val t0 = System.nanoTime()
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (diskPeak, heapPeak) = (disk.peak, heap.peak)
      val sig = r.flatMap(o => try Right(o.signature()) catch { case e: Throwable => Left(e) })
      sig.left.foreach(e => e.printStackTrace())
      Rec(tag, wall, diskPeak, heapPeak, r.map(_.layers).getOrElse(Map.empty), sig.toOption,
        sig.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }

    val recs = mutable.ArrayBuffer(timed("cold")(w.job()))
    val warmStart = System.nanoTime()
    var i = 0
    while (i < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      recs += timed(s"warm$i")(w.job())
      i += 1
    }
    val tracer = new Tracer
    ledger.foreach(l => recs += timed("traced")(w.traced(tracer, l)))
    val canaryPost = Box.canaries()
    disk.stop(); heap.stop()

    // output checks, after the timing so the oracle cannot warm the JVM
    val ran = recs.filter(_.signature.isDefined)
    val verdicts = try w.verify(ran.map(_.signature.get).toSeq)
    catch { case e: Throwable => e.printStackTrace(); ran.map(_ => Some(s"check failed: $e")).toSeq }
    val checkOf = ran.map(_.tag).zip(verdicts).toMap
    val jobs = recs.map { r =>
      val check = checkOf.getOrElse(r.tag, None)
      Map("tag" -> r.tag, "wall_s" -> r.wallS, "disk_peak_bytes" -> r.diskPeak,
        "heap_peak_bytes" -> r.heapPeak, "ok" -> (r.error.isEmpty && check.isEmpty),
        "error" -> r.error.orNull, "check" -> check.orNull,
        "signature" -> r.signature.getOrElse(Map.empty), "layers" -> r.layers)
    }

    val traceOut: Map[String, Any] =
      if (!trace) Map.empty
      else {
        BusAccess.drain(sc)
        val warm = recs.filter(_.tag.startsWith("warm"))
        val lastWarm = warm.last
        val tracedRec = recs.last
        // the traced job's root span; the traced wall above it may include
        // extra layers measured after the job (the catalog queries)
        val root = tracer.all.find(_.layer == "job")
        val layers = lastWarm.layers ++ tracedRec.layers ++
          w.sparkLayers(ledger.get.forJob(lastWarm.tag)) ++
          Map(
            "trace.overhead_s" -> (root.map(_.seconds).getOrElse(Double.NaN) -
              median(warm.map(_.wallS).toSeq)),
            "trace.unattributed_s" -> root.map(tracer.selfSeconds).getOrElse(Double.NaN))
        Workload.writeJson(spansPath, Map(
          "spans" -> tracer.records,
          "self_s_by_layer" -> tracer.selfByLayer,
          "traced_wall_s" -> tracedRec.wallS,
          "unattributed_s" -> root.map(tracer.selfSeconds).getOrElse(Double.NaN)))
        Map("layers" -> layers, "ledger" -> ledger.get.snapshot,
          "spans_file" -> spansPath.toString)
      }

    Map("jobs" -> jobs.toSeq, "text_bytes" -> w.textBytes, "box" -> box,
      "canary_pre" -> canaryPre, "canary_post" -> canaryPost) ++ traceOut
  }
}
