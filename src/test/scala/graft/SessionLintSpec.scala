package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to start a local session: only `Sessions.scala` builds one
  * (plus `VspacePipeline.scala`, the spark-submit entry, which keeps the
  * cluster's master) and only it reads the session env. Every other
  * environment read is pinned, each to its one file. Explicit
  * GCs stay in the harness mains that quiet the heap between timed reps.
  * JSON text is rendered by `BenchOut` alone, so no main spells an object
  * literal or pins the JVM locale to get a dot-decimal number. */
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

  /** Every environment variable the program reads, and its one file. */
  private val envLevers = Map(
    "SPARK_GRAFT_CPUS" -> "graft/Sessions.scala",
    "SPARK_GRAFT_SF_DIR" -> "graft/Sessions.scala",
    "SPARK_GRAFT_CONF" -> "graft/Sessions.scala",
    "SPARK_GRAFT_BENCH_TAG" -> "graft/BenchOut.scala",
    "SPARK_GRAFT_DP_GENONLY" -> "graft/tools/DataPipelineBench.scala",
    "BENCH_ONLY" -> "graft/Bench.scala")

  test("env levers: each read in its one file, by a literal name, no others") {
    val access = """sys\s*\.\s*env\b|System\s*\.\s*getenv\b"""
    val named = """(?:sys\s*\.\s*env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?""" +
      """|System\s*\.\s*getenv)\s*\(\s*"([A-Za-z0-9_]+)""""
    val unnamed = sources.filter { case (_, text) =>
      access.r.findAllIn(text).length != named.r.findAllIn(text).length
    }.map(_._1)
    assert(unnamed == Nil, "reads the environment without a literal name")
    val read = (for {
      (f, text) <- sources
      m <- named.r.findAllMatchIn(text)
    } yield m.group(1) -> f).toSet
    assert(read -- envLevers == Set.empty, "read outside the allowlist or its file")
    assert(envLevers.toSet -- read == Set.empty, "allowlisted but no longer read")
  }

  test("System.gc() appears only in the harness mains, between timed reps") {
    assert(offenders(Set("graft/Bench.scala", "graft/tools/StreamBench.scala"),
      """System\s*\.\s*gc\s*\(""") == Nil)
  }

  test("run artifacts are rendered only by BenchOut, with no global locale override") {
    assert(offenders(Set.empty, """Locale\s*\.\s*setDefault""") == Nil)
    assert(offenders(Set("graft/BenchOut.scala"),
      """[fs]?"{3}\{"|mkString\s*\(\s*"\{"""") == Nil,
      "hand-built JSON object literal")
  }
}
