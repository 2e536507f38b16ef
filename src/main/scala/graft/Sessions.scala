package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession

/** The one local-harness session policy: every graft main that runs on
  * `local[...]` builds its session here, so the catalog mains, the
  * throughput and pipeline benches and the dev tools all run with the same
  * confs (the reference has one `spark-defaults.conf` for the same reason).
  * `VspacePipeline.main`, the spark-submit entry, keeps the cluster's
  * master and UI and builds its own session; the specs keep a fixed
  * `local[4]` session of their own.
  *
  * Environment:
  *  - `SPARK_GRAFT_CPUS`: local cores (default: the JVM's available
  *    processors);
  *  - `SPARK_GRAFT_SF_DIR`: the harness dataset directory;
  *  - `SPARK_GRAFT_CONF="k=v;k2=v2"`: extra Spark confs, applied last, so
  *    they override anything below.
  */
object Sessions {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `SPARK_GRAFT_CONF` verbatim ("" when unset). */
  private def confExtra: String = sys.env.getOrElse("SPARK_GRAFT_CONF", "")

  /** `k=v;k2=v2` → confs. Entries without `=` are skipped, a value keeps
    * any further `=`, and a key given twice keeps its last value. */
  def parseConf(s: String): Map[String, String] =
    s.split(";").iterator.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k.trim -> v.trim
    }.filter(_._1.nonEmpty).toMap

  /** Shuffle partitions track data volume, not core count: the ≤6-gram
    * stats shuffle carries ~10-15x the corpus bytes and the band-key and
    * verify shuffles corpus-order bytes, and 32 partitions over a
    * multi-GB corpus put gigabytes through each hash-aggregate task
    * (measured: 16g heap OOMs at 6 GB input with 32 partitions). ~128
    * partitions/GB keeps a task's slice ~100 MB; AQE coalesces the small
    * stages back down, so over-partitioning is free. */
  def shufflePartitions(cpus: Int, targetGB: Double): Int =
    math.max(cpus, (targetGB * 128).toInt)

  /** DataPipelineBench's parquet scan split size: 512 MiB at >= 10 GB
    * corpora (~7% on the pipeline's scan+score stage; scan laps at 11.3 and
    * 13.6 GB in `bench-artifacts/iolap-11p3g.json` and `iolap-13p6g.json`),
    * Spark's 128 MiB default below, where bigger splits under-parallelize
    * the scan (512m splits a 2 GB corpus into ~4 scan tasks). Measured on
    * that scan only, so it is a call-site conf, not part of [[confs]]. */
  def maxPartitionBytes(targetGB: Double): Long =
    if (targetGB >= 10.0) 512L << 20 else 128L << 20

  /** The confs of a local session on `cpus` cores; `targetGB`, when given,
    * sizes shuffle partitions to that corpus. */
  def confs(cpus: Int, targetGB: Option[Double]): Map[String, String] = {
    val shared = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // Spark's own default on local[cpus] (leafNodeDefaultParallelism)
      "spark.sql.files.minPartitionNum" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the harness box freezes the whole JVM for seconds at a time; the
      // default 120s/10s timeouts have produced spurious mid-run RPC
      // failures
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.rpc.askTimeout" -> "600s")
    targetGB.fold(shared) { gb =>
      shared + ("spark.sql.shuffle.partitions" -> shufflePartitions(cpus, gb).toString)
    }
  }

  /** A local session on [[cpus]] cores with [[confs]], then the caller's
    * `fixed` confs, then `SPARK_GRAFT_CONF`; log level WARN. */
  def local(appName: String, targetGB: Option[Double] = None,
      fixed: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    (confs(cpus, targetGB) ++ fixed ++ parseConf(confExtra))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session decisions an artifact records, as [[BenchOut]] fields:
    * the effective shuffle partitions and scan split size, and `extra`
    * (`SPARK_GRAFT_CONF` unless given) verbatim. */
  def decisions(spark: SparkSession, extra: String = confExtra): Seq[(String, Any)] =
    Seq("shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "max_part_bytes" -> JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")),
      "conf_extra" -> extra)
}
