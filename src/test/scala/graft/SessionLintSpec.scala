package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to start a local session: only `Sessions.scala` builds one
  * (plus `VspacePipeline.scala`, the spark-submit entry, which keeps the
  * cluster's master) and only it reads the session env. The other
  * `SPARK_GRAFT_*` env levers are pinned, each to its one file. Explicit
  * GCs stay in the harness mains that quiet the heap between timed reps. */
class SessionLintSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  private def offenders(allowed: Set[String], pattern: String): Seq[String] =
    sources.filterNot { case (f, _) => allowed(f) }
      .filter { case (_, text) => pattern.r.findFirstIn(text).isDefined }
      .map(_._1)

  test("SparkSession.builder appears only in Sessions and VspacePipeline") {
    assert(sources.size > 50)
    assert(offenders(Set("graft/Sessions.scala", "graft/pipeline/VspacePipeline.scala"),
      """SparkSession\s*\.\s*builder""") == Nil)
  }

  /** Every `SPARK_GRAFT_*` env lever the program reads, and its one file. */
  private val envLevers = Map(
    "CPUS" -> "graft/Sessions.scala",
    "SF_DIR" -> "graft/Sessions.scala",
    "CONF" -> "graft/Sessions.scala",
    "BENCH_TAG" -> "graft/BenchOut.scala",
    "EXPLAIN" -> "graft/tools/Probe.scala",
    "DP_GENONLY" -> "graft/tools/DataPipelineBench.scala")

  test("SPARK_GRAFT_ env levers: each read in its one file, no others") {
    val read = (for {
      (f, text) <- sources
      m <- "\"SPARK_GRAFT_([A-Z0-9_]+)\"".r.findAllMatchIn(text)
    } yield m.group(1) -> f).toSet
    assert(read -- envLevers == Set.empty, "read outside the allowlist or its file")
    assert(envLevers.toSet -- read == Set.empty, "allowlisted but no longer read")
  }

  test("System.gc() appears only in the harness mains, between timed reps") {
    assert(offenders(Set("graft/Bench.scala", "graft/tools/ScalingProbe.scala",
      "graft/tools/StreamBench.scala", "graft/tools/AnnBench.scala"),
      """System\s*\.\s*gc\s*\(""") == Nil)
  }
}
