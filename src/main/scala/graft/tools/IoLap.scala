package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Within-window PAIRED probe of the two I/O-layout levers the optimization
  * guide (§6) names and round 15 had not yet measured on this box:
  *
  *  1. SCAN split sizing — `spark.sql.files.maxPartitionBytes` for the
  *     corpus parquet scan feeding the pipeline's stage-1 scan+score shape
  *     (guide §6: "for large sequential scans ... 512 MB - 1 GB splits cut
  *     task-scheduling overhead and reduce the map-task count feeding any
  *     shuffle"). Runtime-settable SQL conf, so variants interleave in ONE
  *     JVM (interleaved protocol: ABC ABC reps against one input, serial
  *     canary after every lap, equality witness across variants). The scan
  *     frame is re-read from disk per lap so each plan picks up the conf.
  *     Timed action: noop sink (§1.4); witness: an `Observation` row count
  *     + order-independent checksum computed DURING the same action.
  *
  *  2. WRITE output codec — parquet `compression` option on the pipeline's
  *     split_write shape: snappy (Spark's parquet default) vs zstd vs lz4
  *     (guide §6: "zstd: smaller than snappy at similar read speed").
  *     Input is one SER-checkpointed frame (so laps time the write, not
  *     the scan); each lap records seconds AND output bytes, then deletes
  *     the output. Witness: written row count identical across codecs
  *     (parquet footer count, untimed).
  *
  * The third codec lever (`spark.io.compression.codec` for shuffle/spill/
  * RDD-SER blocks) is SparkContext-static and CANNOT interleave in one JVM;
  * it is adjudicated by paired DataPipelineBench legs instead (see
  * OPTIMIZATION_r15.md). Usage:
  *   runMain graft.tools.IoLap [targetGB] [reps] [workDir]
  * The corpus must already exist (DataPipelineBench GENONLY). Prints one
  * JSON line and persists it via BenchOut ("iolap").
  */
object IoLap {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val targetGB = if (args.length > 0) args(0).toDouble else 2.0
    val reps     = if (args.length > 1) args(1).toInt else 2
    val workDir  = if (args.length > 2) args(2) else "target/dpbench"
    val cpus     = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

    val shufflePartitions = math.max(cpus.toInt, (targetGB * 128).toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .appName("graft-io-lap")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tag = f"${targetGB}%.2f".replace('.', 'p')
    val in = Paths.get(s"$workDir/in_$tag")
    require(Files.exists(in.resolve("_DONE")),
      s"corpus missing at $in — run DataPipelineBench GENONLY first")
    val docsPath = in.resolve("docs").toString
    val gb = spark.read.parquet(docsPath)
      .agg(sum(length(col("text")))).head().getLong(0) / 1e9

    import graft.functions.normalize_text
    // the pipeline's stage-1 scan+score shape, byte for byte
    def scoreOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("source"),
        normalize_text(col("text")).as("text"))
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("toks"),
        md5(col("text")).as("digest"))
      .select(col("doc_id"), col("source"), col("text"), col("digest"),
        size(col("toks")).as("wc"),
        (size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1))).as("diversity"))
      .withColumn("quality",
        least(col("wc") / 100.0, lit(1.0)) * 0.5 + col("diversity") * 0.5)

    val laps = scala.collection.mutable.ArrayBuffer[(String, String, Double, Long, Double)]()
    val witness = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def lap(kind: String, variant: String, secs: Double, bytes: Long): Unit = {
      System.gc(); Thread.sleep(2000)
      val c = graft.HostCanary.sec()
      laps += ((kind, variant, secs, bytes, c))
      println(f"[iolap] $kind/$variant: $secs%.1f s (bytes=$bytes, canary=$c%.3f)")
    }

    graft.HostCanary.sec(); graft.HostCanary.parSec() // JIT-warm
    val cPre = graft.HostCanary.sec()

    // kinds to run (comma list, default both) — a polluted half re-runs
    // alone without repaying the other's laps
    val kinds = sys.env.getOrElse("SPARK_GRAFT_IOLAP_KINDS", "scan,write")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet

    // --- 1. scan split sizing (interleaved reps; fresh read per lap so the
    // plan re-splits under the active conf; page cache is warm for every
    // variant equally after rep 1 — drift cancels in the ABC ABC structure)
    val scanVariants = Seq("128m", "512m", "1g")
    (1 to (if (kinds("scan")) reps else 0)).foreach { _ =>
      scanVariants.foreach { v =>
        spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        val obs = Observation()
        val scored = scoreOf(spark.read.parquet(docsPath)).observe(obs,
          count(lit(1)).as("n"),
          bit_xor(xxhash64(col("doc_id"), col("digest"), col("wc"))).as("chk"))
        val t0 = System.nanoTime()
        scored.write.format("noop").mode(SaveMode.Overwrite).save()
        val secs = (System.nanoTime() - t0) / 1e9
        val row = obs.get
        val nChk = (row("n").asInstanceOf[Long], row("chk").asInstanceOf[Long])
        witness.get(s"scan").foreach(prev => require(prev == nChk,
          s"scan witness changed across laps: $prev vs $nChk"))
        witness("scan") = nChk
        lap("scan", v, secs, 0L)
      }
    }
    spark.conf.unset("spark.sql.files.maxPartitionBytes")

    // --- 2. parquet output codec on the split_write shape (one checkpointed
    // input frame; seconds + on-disk bytes per codec; output deleted per lap)
    var nOut = 0L
    if (kinds("write")) {
      val outFrame = scoreOf(spark.read.parquet(docsPath))
        .withColumn("split",
          when(((col("doc_id") % 65536) * 40503L) % 65536 < 6554, "val")
            .otherwise("train"))
        .select(col("doc_id"), col("source"), col("split"),
          col("quality"), col("text"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      nOut = outFrame.count()
      // settle the checkpoint's dirty pages so the FIRST write lap does not
      // absorb its write-back (the r15 GENONLY lesson at stage scale)
      Runtime.getRuntime.exec(Array("sync")).waitFor()
      Thread.sleep(5000)
      val outDir = s"$workDir/iolap_out"
      def dirBytes(p: java.io.File): Long =
        if (p.isFile) p.length()
        else Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
      def rmrf(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete(); ()
      }
      val writeVariants = Seq("snappy", "zstd", "lz4")
      (1 to reps).foreach { _ =>
        writeVariants.foreach { v =>
          val t0 = System.nanoTime()
          outFrame.write.mode(SaveMode.Overwrite)
            .option("compression", v).partitionBy("split").parquet(outDir)
          val secs = (System.nanoTime() - t0) / 1e9
          val bytes = dirBytes(new java.io.File(outDir))
          val nBack = spark.read.parquet(outDir).count() // footer-count, untimed
          require(nBack == nOut, s"write/$v row count $nBack != input $nOut")
          rmrf(new java.io.File(outDir))
          lap("write", v, secs, bytes)
        }
      }
    }

    val lapsJson = laps.map { case (k, v, s, b, c) =>
      f"""{"kind":"$k","variant":"$v","secs":$s%.1f,"bytes":$b,"canary":$c%.3f}""" }
      .mkString("[", ",", "]")
    val (wn, wchk) = witness.getOrElse("scan", (0L, 0L))
    val summary = f"""{"metric":"iolap","gb":$gb%.3f,"reps":$reps,"cores":${cpus.toInt},"n_scan":$wn,"scan_chk":$wchk,"n_out":$nOut,"canary_pre":$cPre%.3f,"loadavg":${graft.HostCanary.loadAvg()}%.1f,"laps":$lapsJson}"""
    println(summary)
    graft.BenchOut.writeSummary("iolap", summary)
    spark.stop()
  }
}
