package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.queries.Catalog
import graft.tools.DataPipelineBench

/** The LLM training-data pipeline (normalize, quality, exact dedup,
  * near-dup keep-best, decontaminate, split and write) through
  * `DataPipelineBench.run`, over a generated corpus in 5-row groups. */
final class Datapipe(spark: SparkSession, in: Path, work: Path) extends Workload {
  private val meta = Workload.readJson(in.resolve("meta.json"))
  private val out = work.resolve("datapipe-out")

  override def inputRoots: Seq[Path] = Seq("docs", "bench", "planted").map(in.resolve)
  override def textBytes: Long = Workload.num(meta, "text_bytes")
  override def sparkGroups: Seq[String] = Seq("prep", "near", "post")

  private val StageNames = Map(
    "scan+score" -> "datapipe.scan_score_s",
    "quality" -> "datapipe.quality_s",
    "exact_dedup" -> "datapipe.exact_dedup_s",
    "near:bands" -> "datapipe.near_bands_s",
    "near:cands" -> "datapipe.near_cands_s",
    "near:verify" -> "datapipe.near_verify_s",
    "near:cc" -> "datapipe.near_cc_s",
    "near_dedup" -> "datapipe.near_keep_s",
    "decontam" -> "datapipe.decontam_s",
    "split_write" -> "datapipe.split_write_s")

  /** Groups the benchmark switches to when a stage's lap arrives. */
  private val NextGroup = Map("exact_dedup" -> "near", "near_dedup" -> "post")

  private def run(onLap: (String, Long, Long) => Unit): JobOutput = {
    val sc = spark.sparkContext
    sc.setJobGroup("prep", "datapipe prep")
    val laps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var lapStart = System.nanoTime()
    val counts = DataPipelineBench.run(spark,
      spark.read.parquet(in.resolve("docs").toString),
      spark.read.parquet(in.resolve("bench").toString),
      out.toString,
      plantedIds = Some(spark.read.parquet(in.resolve("planted").toString)),
      lapSink = (stage, secs) => {
        val now = System.nanoTime()
        StageNames.get(stage).foreach(laps(_) = secs)
        onLap(stage, lapStart, now)
        lapStart = now
        NextGroup.get(stage).foreach(g => sc.setJobGroup(g, s"datapipe $g"))
      },
      ckptLevel = Some(StorageLevel.MEMORY_AND_DISK_SER))
    sc.clearJobGroup()
    val c = counts.toMap
    val cands = c.getOrElse("near_candidates", 0L)
    val reached = c.getOrElse("planted_after_near", 0L)
    val caught = reached - c.getOrElse("planted_after_decontam", 0L)
    JobOutput(laps.toMap ++ Map(
      "near.candidates" -> cands.toDouble,
      "near.verified_pairs" -> c.getOrElse("near_verified_pairs", 0L).toDouble,
      "near.verify_yield" -> c.getOrElse("near_verified_pairs", 0L).toDouble / math.max(cands, 1L),
      "exact.removed" -> (c.getOrElse("after_quality", 0L) - c.getOrElse("after_exact_dedup", 0L)).toDouble,
      "decontam.caught_ratio" -> caught.toDouble / math.max(reached, 1L)), () => c)
  }

  override def job(): JobOutput = run((_, _, _) => ())

  override def traced(tracer: Tracer, ledger: Ledger): JobOutput = {
    val pipeline = tracer.span("datapipe.job", "job") {
      run((stage, t0, t1) => tracer.record(s"datapipe.$stage", "datapipe", t0, t1))
    }
    val (querySig, queryLayers) = queries(tracer, ledger)
    JobOutput(pipeline.layers ++ queryLayers, () => pipeline.signature() ++ querySig())
  }

  /** The catalog's document queries (term stats, n-grams, the LSH near-dup
    * pairs and clusters) over a sample of this corpus in the catalog's
    * documents schema: one compiling pass, then one timed pass with a span
    * per query. Planning time is read from each query's planning tracker. */
  private def queries(tracer: Tracer, ledger: Ledger): (() => Map[String, Any], Map[String, Double]) = {
    val sc = spark.sparkContext
    val dir = in.resolve("sf").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    def runQuery(q: String, tag: String): Unit = {
      sc.setJobGroup("queries", q)
      sc.setLocalProperty(Ledger.JobProperty, tag)
      Catalog.byName(q).fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    Datapipe.Queries.foreach(runQuery(_, "queries-compile"))
    BusAccess.drain(sc)
    spark.listenerManager.register(listener)
    val wall = tracer.span("queries.pass", "queries") {
      val t0 = System.nanoTime()
      Datapipe.Queries.foreach(q => tracer.span(s"queries.$q", "queries")(runQuery(q, "queries")))
      (System.nanoTime() - t0) / 1e9
    }
    BusAccess.drain(sc)
    spark.listenerManager.unregister(listener)
    sc.clearJobGroup()
    val planS = plans.asScala.toSeq.map { qe =>
      qe.tracker.phases.collect {
        case (p, s) if Set(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).contains(p) => s.durationMs
      }.sum / 1e3
    }.sum
    val timed = tracer.all.filter(s => s.layer == "queries" && s.name != "queries.pass")
    val cell = ledger.forJob("queries").getOrElse("queries", new GroupTotals)
    val layers = timed.map(s => s"${s.name}_s" -> s.seconds).toMap ++ Map(
      "queries.plan_s" -> planS,
      "queries.exec_s" -> (wall - planS),
      "queries.jobs" -> cell.jobs.toDouble) ++
      cell.metrics.map { case (k, v) => s"spark.queries.$k" -> v }
    val q21 = Catalog.byName("q21_term_stats_global").fn(spark, dir)
    val q22 = Catalog.byName("q22_term_stats_by_source").fn(spark, dir)
    (() => Map("queries.q21_rows" -> q21.count(), "queries.q22_rows" -> q22.count()), layers)
  }

  override def verify(signatures: Seq[Map[String, Any]]): Seq[Option[String]] = {
    // survivor counts against the generator; that the stage counts repeat
    // across the run's jobs is checked by run.py over every round
    val expectExact = Workload.num(meta, "expected_after_exact_dedup")
    val expectQuality = Workload.num(meta, "expected_after_quality")
    val expectPairs = Workload.num(meta, "expected_near_pairs")
    val expectNear = Workload.num(meta, "expected_after_near_dedup")
    val planted = Workload.num(meta, "planted")
    signatures.map { raw =>
      val s = raw.map { case (k, v) => k -> Workload.toLong(v) }
      val reached = s.getOrElse("planted_after_near", 0L)
      val caught = reached - s.getOrElse("planted_after_decontam", 0L)
      val bad = Seq(
        Option.when(s.get("after_exact_dedup") != Some(expectExact))(
          s"exact-dedup survivors ${s.get("after_exact_dedup").orNull} != generated $expectExact"),
        Option.when(s.get("after_quality") != Some(expectQuality))(
          s"quality survivors ${s.get("after_quality").orNull} != generated $expectQuality"),
        Option.when(s.get("near_verified_pairs") != Some(expectPairs))(
          s"verified near-dup pairs ${s.get("near_verified_pairs").orNull} != generated $expectPairs"),
        Option.when(s.get("after_near_dedup") != Some(expectNear))(
          s"near-dedup survivors ${s.get("after_near_dedup").orNull} != generated $expectNear"),
        Option.when(planted == 0 || caught < 0.9 * planted)(
          s"decontamination caught $caught of $planted planted rows (< 90%)")
      ).flatten ++ Seq("q21", "q22").flatMap { n =>
        val want = Workload.num(meta, s"expected_${n}_rows")
        s.get(s"queries.${n}_rows").filter(_ != want).map(got => s"$n rows $got != generated $want")
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
  }
}

object Datapipe {
  /** Catalog queries over the documents table, timed in the traced run. */
  val Queries: Seq[String] = Seq("q21_term_stats_global", "q22_term_stats_by_source",
    "q23_bigram_counts", "q28_everygram_vocab_stats", "q32_dedup_minhash_lsh",
    "q36_dedup_clusters")
}
