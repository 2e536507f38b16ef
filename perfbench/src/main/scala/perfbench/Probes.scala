package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytes held under a directory tree by files created since the last
  * `reset`, sampled from a daemon thread; `peak` is the largest total seen.
  * Files present at `reset` (an earlier job's shuffle files, which the
  * context cleaner deletes at its own pace) are not counted, so a job's
  * figure does not depend on when that cleanup happens to run. Files that
  * vanish while being walked (Spark deletes shuffle and spill files
  * concurrently) are skipped. */
final class DiskSampler(dir: Path, periodMs: Long = 20) {
  private val peakBytes = new AtomicLong(0)
  private val generation = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var before: Set[Path] = Set.empty
  @volatile private var running = true

  private def files(): Seq[(Path, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Path, Long)]
    if (Files.exists(dir)) {
      val stream = try Files.walk(dir) catch { case _: java.io.IOException => return Seq.empty }
      try stream.iterator().asScala.foreach { p =>
        try if (Files.isRegularFile(p)) out += p -> Files.size(p)
        catch { case _: java.io.IOException => () }
      } catch { case _: java.io.UncheckedIOException => () }
      finally stream.close()
    }
    out.toSeq
  }

  private def bytesNow(): Long = {
    val old = before
    files().collect { case (p, n) if !old.contains(p) => n }.sum
  }

  private val thread = new Thread(() => {
    while (running) {
      val gen = generation.get()
      val b = bytesNow()
      // a sample taken across a reset belongs to the previous job
      if (generation.get() == gen) peakBytes.accumulateAndGet(b, math.max)
      Thread.sleep(periodMs)
    }
  }, "perfbench-disk-sampler")
  thread.setDaemon(true)
  thread.start()

  def reset(): Unit = {
    generation.incrementAndGet()
    before = files().map(_._1).toSet
    peakBytes.set(0)
    generation.incrementAndGet()
  }
  def peak: Long = math.max(peakBytes.get(), bytesNow())
  def stop(): Unit = { running = false; thread.join() }
}

/** Largest heap in use right after a garbage collection, read from the GC
  * beans' notifications: what survives a collection is what the job holds. */
final class HeapWatcher {
  private val peakBytes = new AtomicLong(0)

  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
          .map(_.getUsed).sum
        peakBytes.accumulateAndGet(used, math.max)
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(listener, null, null))

  def reset(): Unit = peakBytes.set(0)
  def peak: Long = peakBytes.get()
  def stop(): Unit = beans.foreach(b => try
    b.asInstanceOf[javax.management.NotificationEmitter].removeNotificationListener(listener)
  catch { case _: Exception => () })
}

/** One traced interval. `layer` names the module the work belongs to. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, name, layer, parent, t0, System.nanoTime())
    }
  }

  /** Record an interval measured elsewhere (e.g. a stage lap reported by the
    * program's own callback) as a child of the innermost open span. */
  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, name, layer, stack.headOption.getOrElse(0), startNs, endNs)
    nextId += 1
  }

  def all: Seq[Span] = spans.sortBy(_.startNs).toSeq

  /** Duration of `s` minus the part of it covered by its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.seconds - covered / 1e9
  }

  /** Self time summed per layer. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  /** Every span with its self time, for the span file. */
  def records: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s))
  }
}

/** The machine a result came from, so results from different boxes or from
  * a degraded window are not compared blindly. */
object Box {
  def fingerprint(localDir: Path): Map[String, Any] = {
    val cpuModel =
      try Files.readAllLines(java.nio.file.Paths.get("/proc/cpuinfo")).asScala
        .find(_.startsWith("model name")).map(_.split(":", 2)(1).trim).getOrElse("unknown")
      catch { case _: Exception => "unknown" }
    val store = Files.getFileStore(localDir)
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "cpu_model" -> cpuModel,
      "local_dir_free_bytes" -> store.getUsableSpace,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "loadavg" -> graft.HostCanary.loadAvg())
  }

  /** Serial and parallel host canaries (seconds; lower is healthier). */
  def canaries(): Map[String, Double] =
    Map("serial_s" -> graft.HostCanary.sec(), "parallel_s" -> graft.HostCanary.parSec())
}
