package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** What one job returned: the per-layer numbers the program reports for
  * free (stage laps), and how to read the signature of its outputs (compared
  * against the expected values and across jobs), which runs after the timer
  * stops. */
final case class JobOutput(layers: Map[String, Double], signature: () => Map[String, Any])

/** One benchmark workload over generated or shipped inputs. */
trait Workload {
  /** Input files the job reads; listing them is part of set-up. */
  def inputRoots: Seq[Path]

  /** UTF-8 document-text bytes one job processes, delimiters excluded. */
  def textBytes: Long

  /** One untraced job, from submit until every output is committed. */
  def job(): JobOutput

  /** The same work through the program's public functions, one layer at a
    * time, each boundary materialized and wrapped in a span. `ledger` holds
    * the task metrics of every job so far. */
  def traced(tracer: Tracer, ledger: Ledger): JobOutput

  /** A failure message per job signature, or None when it checks out.
    * Called once, after the timed jobs, so an oracle computed here does not
    * warm the JVM before the first (cold) job. */
  def verify(signatures: Seq[Map[String, Any]]): Seq[Option[String]]

  /** `spark.<group>.*` metrics from one job's ledger cells. */
  def sparkLayers(cells: Map[String, GroupTotals]): Map[String, Double] =
    sparkGroups.flatMap { g =>
      cells.getOrElse(g, new GroupTotals).metrics.map { case (k, v) => s"spark.$g.$k" -> v }
    }.toMap

  /** Job groups reported as `spark.<group>.*`. */
  def sparkGroups: Seq[String]
}

object Workload {
  def listFiles(roots: Seq[Path]): (Int, Long) = {
    var n = 0; var bytes = 0L
    roots.foreach { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        n += 1; bytes += Files.size(p)
      } finally s.close()
    }
    (n, bytes)
  }

  def readJson(p: Path): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(Files.readString(p)).values
      .asInstanceOf[Map[String, Any]]

  def writeJson(p: Path, v: Map[String, Any]): Unit =
    Files.writeString(p, org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats))

  def num(m: Map[String, Any], k: String): Long = toLong(m(k))

  def toLong(v: Any): Long = v match {
    case d: Double => d.toLong
    case b: BigInt => b.toLong
    case l: Long => l
    case i: Int => i.toLong
    case other => other.toString.toLong
  }
}
