package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.queries.Catalog

/** Dump `.explain("formatted")` for named catalog queries to files — the
  * evidence trail for plan-shape claims (Exchange counts, join strategy,
  * PushedFilters) in the optimization notes. The session is
  * [[graft.Bench]]'s ([[graft.Sessions]]), so the dumped plan is the one
  * the bench actually runs.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * Writes <outDir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names  = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir  = if (args.length > 3) args(3) else graft.Sessions.sfDir
    // SPARK_GRAFT_CONF can force a size-gated staging (e.g. the q32 verify
    // prefilter) the auto gate would not fire at plan-dump SF
    val spark  = graft.Sessions.local("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = Catalog.byName(n).fn(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
