package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to these queries (dev iteration)
    val only = args.drop(2).toSet
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL, in the given (catalog)
    * order, rendered by [[BenchOut]], so tabs, newlines, quotes and other
    * control characters in the SQL arrive escaped. */
  private[graft] def oracleJson(sql: Iterable[(String, String)]): String =
    BenchOut.render(BenchOut.obj(sql.toSeq: _*))
}
