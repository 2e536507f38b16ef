package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.EventStreams

/** Structured Streaming THROUGHPUT benchmark — the one operator area with
  * no performance data through round 15 (VERDICT r15 #2): the EventStreams
  * surface measured end to end on a file source at sf-scale event volume.
  *
  * Setup (untimed): the harness events table is replicated `replicas`
  * times — event ids and user ids shifted per replica so id uniqueness and
  * key cardinality both scale with volume (the 100 TB shape: users grow
  * with data; per-user event counts stay constant) — and staged as
  * `files` parquet files, so `maxFilesPerTrigger` controls the
  * micro-batch decomposition exactly.
  *
  * Stages (each lap: fresh checkpoint, readStream over the staged files,
  * noop sink, processAllAvailable, min of `reps`):
  *  - `ingest`        stateless projection — the source+sink floor every
  *                    stateful rate is read against
  *  - `window_agg`    EventStreams.windowedCounts (watermark tumbling agg)
  *  - `dedup`         EventStreams.dedupStream on event_id
  *                    (dropDuplicatesWithinWatermark — one state row per id)
  *  - `tws_distinct`  EventStreams.runningDistinctTypes (transformWithState,
  *                    MapState point-writes; RocksDB-only by API contract)
  *  - `tws_sessions`  EventStreams.eventTimeSessions (transformWithState,
  *                    event-time timers; RocksDB-only)
  *
  * Variants: state-store provider (HDFSBackedStateStoreProvider vs
  * RocksDBStateStoreProvider) on the two provider-portable stateful stages,
  * and maxFilesPerTrigger ∈ {1, 8, all} on `dedup` (state-commit count
  * sensitivity: every micro-batch commits every modified state partition).
  *
  * Watermarks are set to 30 days — wider than the staged data's whole time
  * span — so NO row is ever late regardless of which file lands in which
  * micro-batch (replicas all cover the same range; a realistic 10-minute
  * watermark would make output counts depend on file order and break the
  * cross-variant equality witness). State-eviction cost is therefore NOT
  * measured here — state grows to its maximum — which is the conservative
  * direction for a throughput floor. `tws_sessions` keeps EventStreams'
  * own 0-second watermark (its semantics need it); its output count is
  * recorded but only compared across reps of the same variant.
  *
  * Witnesses: per (stage, mft), output row counts must be identical across
  * providers and reps; `ingest`/`dedup`/`tws_distinct` must equal the
  * staged row count exactly (unique ids ⇒ dedup drops nothing; the
  * running-distinct processor emits one row per input).
  *
  * Usage: runMain graft.tools.StreamBench [replicas] [files] [reps] [workDir]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR. One JSON line via BenchOut
  * ("streambench").
  */
object StreamBench {

  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val replicas = if (args.length > 0) args(0).toInt else 50
    val files    = if (args.length > 1) args(1).toInt else 32
    val reps     = if (args.length > 2) args(2).toInt else 2
    val workDir  = if (args.length > 3) args(3) else "target/streambench"
    val sfDir    = graft.Sessions.sfDir

    // shuffle partitions bound the state-store partition count (state
    // commits are per state partition per batch); cpus-sized like the
    // batch bench — at cluster scale this is the usual ~cores sizing
    implicit val spark: SparkSession = graft.Sessions.local("graft-stream-bench")
    import spark.implicits._

    // --- untimed staging ---------------------------------------------------
    val staged = Paths.get(s"$workDir/events_r${replicas}_f$files")
    if (!Files.exists(staged.resolve("_SUCCESS"))) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val ids = ev.agg(max(col("event_id")), max(col("user_id"))).head()
      val (maxId, maxUser) = (ids.getLong(0) + 1L, ids.getLong(1) + 1L)
      ev.crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("event_id") + col("rep") * maxId).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * maxUser).as("user_id"),
          col("event_type"), col("value"))
        .repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    }
    val nRows = spark.read.parquet(staged.toString).count()
    println(s"[streambench] staged rows=$nRows files=$files at $staged")

    // span-wide watermark: nothing is ever late (see scaladoc)
    val wm = "30 days"

    // maxFilesPerTrigger is a SOURCE option, so the reader takes it here;
    // the staged ts reads back as TIMESTAMP_NTZ (parquet micros without
    // isAdjustedToUTC) — cast to TIMESTAMP like eventsFileStream's
    // normalization, since watermarks require the instant type
    val stagedSchema = spark.read.parquet(staged.toString).schema
    def source(mft: Int): DataFrame = {
      val r = spark.readStream.schema(stagedSchema)
      val raw = (if (mft > 0) r.option("maxFilesPerTrigger", mft) else r)
        .parquet(staged.toString)
      if (stagedSchema("ts").dataType ==
          org.apache.spark.sql.types.TimestampNTZType)
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      else raw
    }

    def asEvents(df: DataFrame) = df
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]

    // one lap: fresh checkpoint, drain everything, return (secs, outRows,
    // stateRows, stateBytes). Output rows are counted by an `observe`
    // node directly above the sink (streaming-safe CollectMetrics; the
    // noop sink's own numOutputRows is not reliably reported), summed
    // across micro-batches from the progress history.
    var lapNo = 0
    def runLap(stage: String, provider: String, mft: Int,
        build: DataFrame => DataFrame, mode: OutputMode): (Double, Long, Long, Long) = {
      lapNo += 1
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      val ckpt = s"$workDir/ckpt/$stage-$lapNo"
      val out = build(source(mft)).observe(s"sb_$lapNo", count(lit(1)).as("n"))
      val t0 = System.nanoTime()
      val q: StreamingQuery = out.writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val outRows = progs.flatMap(p =>
        Option(p.observedMetrics.get(s"sb_$lapNo"))
          .map(_.getAs[Long]("n"))).sum
      val stateRows = progs.flatMap(p => p.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(0L)
      val stateBytes = progs.flatMap(p => p.stateOperators.map(_.memoryUsedBytes))
        .lastOption.getOrElse(0L)
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      (secs, outRows, stateRows, stateBytes)
    }

    val laps = scala.collection.mutable.ArrayBuffer[
      (String, String, Int, Double, Long, Long, Long, Double)]()
    def bench(stage: String, provider: String, mft: Int,
        build: DataFrame => DataFrame, mode: OutputMode,
        expectRows: Long = -1L): Unit = {
      val name = if (provider == Rocks) "rocksdb" else "hdfs"
      var outSeen = -1L
      (1 to reps).foreach { _ =>
        val (secs, outRows, stRows, stBytes) = runLap(stage, provider, mft, build, mode)
        if (expectRows >= 0) require(outRows == expectRows,
          s"$stage/$name/mft=$mft output $outRows != expected $expectRows")
        if (outSeen >= 0) require(outRows == outSeen,
          s"$stage/$name/mft=$mft output changed across reps: $outSeen vs $outRows")
        outSeen = outRows
        System.gc()
        val c = graft.HostCanary.sec()
        laps += ((stage, name, mft, secs, outRows, stRows, stBytes, c))
        println(f"[streambench] $stage/$name/mft=$mft: $secs%.1f s " +
          f"(${nRows / secs}%.0f rows/s in, out=$outRows, state_rows=$stRows, " +
          f"state_mb=${stBytes / 1e6}%.1f, canary=$c%.3f)")
      }
    }

    val (_, canary) = graft.HostCanary.bracket {
      val MftAll = 0 // no option: one batch over all files

      // stateless floor (provider irrelevant — stated as rocksdb for the row)
      bench("ingest", Rocks, MftAll,
        df => df.select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
        OutputMode.Append(), expectRows = nRows)

      // watermark tumbling agg: provider A/B at the default decomposition
      Seq(Hdfs, Rocks).foreach { p =>
        bench("window_agg", p, MftAll,
          df => EventStreams.windowedCounts(df, "5 minutes", wm),
          OutputMode.Update())
      }

      // watermark dedup: provider A/B, then mft sensitivity on rocksdb
      def dedup(df: DataFrame): DataFrame =
        EventStreams.dedupStream(df, "ts", wm, Seq("event_id"))
      Seq(Hdfs, Rocks).foreach { p =>
        bench("dedup", p, 8, dedup, OutputMode.Append(), expectRows = nRows)
      }
      Seq(1, MftAll).foreach { m =>
        bench("dedup", Rocks, m, dedup, OutputMode.Append(), expectRows = nRows)
      }

      // transformWithState stages (RocksDB-only by API contract)
      bench("tws_distinct", Rocks, MftAll,
        df => EventStreams.runningDistinctTypes(asEvents(df)).toDF(),
        OutputMode.Update(), expectRows = nRows)
      bench("tws_sessions", Rocks, MftAll,
        df => EventStreams.eventTimeSessions(asEvents(df)).toDF(),
        OutputMode.Append())
    }

    // provider equality witness at fixed decomposition (same batches ⇒
    // same semantics): every (stage, mft) must agree on output across
    // providers — reps already asserted equal inside bench()
    val byKey = laps.groupBy(l => (l._1, l._3)).view.mapValues(_.map(_._5).toSet)
    byKey.foreach { case ((st, m), outs) =>
      require(outs.size == 1,
        s"stage $st mft=$m output differs across providers: $outs")
    }

    val lapFields = laps.map { case (st, p, m, s, o, sr, sb, c) =>
      graft.BenchOut.obj("stage" -> st, "provider" -> p, "mft" -> m,
        "secs" -> s, "rows_per_sec" -> nRows / s, "out_rows" -> o,
        "state_rows" -> sr, "state_bytes" -> sb, "canary" -> c)
    }
    val summary = graft.BenchOut.obj(Seq("metric" -> "streambench",
      "rows" -> nRows, "files" -> files, "replicas" -> replicas, "reps" -> reps,
      "cores" -> graft.Sessions.cpus, "watermark" -> wm) ++ canary ++
      Seq("laps" -> lapFields): _*)
    graft.BenchOut.writeSummary("streambench", summary)
    spark.stop()
  }
}
