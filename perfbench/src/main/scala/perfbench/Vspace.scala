package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Corpus, Sinks, Stats, Vocabulary}
import graft.pipeline.{VspaceConfig, VspacePipeline}
import graft.sources.CorpusSources

/** The paper's job: vocabulary, normalized corpus and DF/TF/tdsum stats
  * (global and per source) over a generated Zipfian corpus. */
final class Vspace(spark: SparkSession, in: Path, work: Path) extends Workload {
  private val meta = Workload.readJson(in.resolve("meta.json"))
  private val maxN = Workload.num(meta, "max_ngrams").toInt
  private val out = work.resolve("vspace-out")

  private val cfg = VspaceConfig(
    stagingLoc = work.resolve("staging").toString,
    outputFolder = out.toString,
    maxNgrams = maxN,
    splits = None,
    corpus = in.resolve("corpus").toString,
    index2doc = in.resolve("index.tsv").toString,
    src2sub = in.resolve("src2sub.txt").toString,
    collections = in.resolve("collections.txt").toString,
    phrases = in.resolve("phrases.txt").toString)

  override def inputRoots: Seq[Path] = Seq("corpus", "index.tsv", "src2sub.txt",
    "collections.txt", "phrases.txt").map(in.resolve)
  override def textBytes: Long = Workload.num(meta, "text_bytes")
  override def sparkGroups: Seq[String] = Seq("vocabulary", "corpus", "stats")

  private val LapNames = Map(
    "vocabulary" -> "pipeline.lap.vocabulary_s",
    "read+normalize+corpus_sink" -> "pipeline.lap.corpus_s",
    "per_source_stats" -> "pipeline.lap.per_source_s",
    "global_stats" -> "pipeline.lap.global_s")

  override def job(): JobOutput = {
    val laps = scala.collection.mutable.Map.empty[String, Double]
    VspacePipeline.run(spark, cfg,
      onLap = (stage, s) => LapNames.get(stage).foreach(laps(_) = s))
    JobOutput(laps.toMap, () => signature())
  }

  /** Fingerprints of the three checked outputs, read back from disk. */
  private def signature(): Map[String, Any] = {
    def csv(path: Path, schema: String) = spark.read.schema(schema)
      .option("delimiter", "\t").option("header", "false").csv(path.toString)
    val stats = "token STRING, document_frequency LONG, term_frequency LONG, tdsum LONG"
    Map(
      "vocabulary" -> Digest.of(
        csv(out.resolve("vocabulary"), "token STRING, tokenid LONG").select("token").distinct()),
      "stats_global" -> Digest.of(csv(out.resolve("stats_global"), stats)),
      "stats_by_source" -> Digest.of(csv(out.resolve("stats_by_source"), stats)
        .select("token", "source", "document_frequency", "term_frequency", "tdsum")))
  }

  override def traced(tracer: Tracer, ledger: Ledger): JobOutput = {
    import tracer.span
    val lvl = StorageLevel.MEMORY_AND_DISK
    val sc = spark.sparkContext
    def group(g: String): Unit = sc.setJobGroup(g, s"vspace $g (traced)")
    def mat(df: DataFrame): (DataFrame, Long) = { val p = df.persist(lvl); (p, p.count()) }
    val m = scala.collection.mutable.Map.empty[String, Double]
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(x: (DataFrame, Long)): (DataFrame, Long) = { held += x._1; x }

    // counts fixed by the inputs go to the output checks, not the metrics
    val fixed = span("vspace.job", "job") {
      group("vocabulary")
      val (phrases, collections, index, sources) = span("sources.side", "sources") {
        val p = keep(mat(CorpusSources.loadPhrases(spark, cfg.phrases)))._1
        val c = keep(mat(CorpusSources.loadCollections(spark, cfg.collections)))._1
        val i = keep(mat(CorpusSources.loadIndex(spark, cfg.index2doc)))._1
        val s = keep(mat(CorpusSources.loadSources(spark, cfg.src2sub)))._1
        (p, c, i, s)
      }
      val (vocab, vocabSize) = keep(span("vocabulary.build", "vocabulary") {
        mat(Vocabulary.build(phrases, collections))
      })
      span("sinks.vocabulary", "sinks") {
        Sinks.writeVocabulary(vocab, out.resolve("vocabulary").toString)
      }
      group("corpus")
      val (raw, docs) = keep(span("sources.corpus", "sources") {
        mat(CorpusSources.loadRawCorpus(spark, cfg.corpus))
      })
      val (norm, _) = keep(span("corpus.normalize", "corpus") {
        mat(Corpus.normalized(raw))
      })
      span("sinks.normalized", "sinks") {
        Sinks.writeNormalizedCorpus(norm, out.resolve("normalized_corpus").toString)
      }
      val (grams, gramRows) = keep(span("corpus.ngram", "corpus") {
        mat(Corpus.tokenCountHashesFromNormalized(norm, cfg.maxNgrams, cfg.compatOffByOne))
      })
      group("stats")
      val (counts, kept) = keep(span("vocabulary.filter", "vocabulary") {
        mat(Vocabulary.hashedSemiJoinFilter(grams, vocab))
      })
      val (combined, combineRows) = keep(span("stats.combine", "stats") {
        mat(Stats.combineCorpusWithSources(counts, index, sources))
      })
      val (bySource, bySourceRows) = keep(span("stats.by_source", "stats") {
        mat(Stats.computeStatsHashed(combined, vocab, Seq("source")))
      })
      span("sinks.by_source", "sinks") {
        Sinks.writeStatsBySource(bySource, out.resolve("stats_by_source").toString)
      }
      val (global, globalRows) = keep(span("stats.global", "stats") {
        mat(Stats.computeStatsHashed(counts, vocab, Seq.empty))
      })
      span("sinks.global", "sinks") {
        Sinks.writeStatsGlobal(global, out.resolve("stats_global").toString)
      }
      m ++= Map(
        "corpus.gram_rows" -> gramRows.toDouble,
        "vocabulary.keep_ratio" -> kept.toDouble / math.max(gramRows, 1L),
        "vocabulary.broadcast" -> (if (usesBroadcastJoin(counts)) 1.0 else 0.0),
        "stats.combine_rows" -> combineRows.toDouble,
        "stats.by_source_rows" -> bySourceRows.toDouble,
        "stats.global_rows" -> globalRows.toDouble)
      held.foreach(_.unpersist())
      Map("sources.docs" -> docs, "vocabulary.size" -> vocabSize)
    }
    sc.clearJobGroup()
    m("sinks.out_mb") = Workload.listFiles(Seq(out))._2 / 1e6
    val spans = tracer.all
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    Seq("sources.corpus", "sources.side", "corpus.normalize", "corpus.ngram",
      "vocabulary.build", "vocabulary.filter", "stats.by_source", "stats.global",
      "sinks.vocabulary", "sinks.normalized", "sinks.by_source", "sinks.global")
      .foreach(n => m(n + "_s") = secs(n))
    JobOutput(m.toMap, () => signature() ++ fixed)
  }

  /** True when the plan that produced `df` contains a broadcast hash join. */
  private def usesBroadcastJoin(df: DataFrame): Boolean = {
    def walk(p: SparkPlan): Boolean = p match {
      case _: BroadcastHashJoinExec => true
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
      case other => other.children.exists(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  override def verify(signatures: Seq[Map[String, Any]]): Seq[Option[String]] = {
    val expected = oracle()
    // the traced job also reports the docs it read and the vocabulary size
    val counts = Map("sources.docs" -> Workload.num(meta, "docs"),
      "vocabulary.size" -> Workload.num(meta, "vocabulary"))
    signatures.map { sig =>
      val bad = expected.collect { case (k, v) if sig.get(k) != Some(v) =>
        s"$k: got ${sig.get(k).orNull}, expected $v" } ++
        counts.collect { case (k, v) if sig.get(k).exists(Workload.toLong(_) != v) =>
          s"$k: got ${sig(k)}, expected $v" }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
  }

  /** Expected fingerprints from an independent plan of Spark built-ins
    * alone (split, n-grams by slice, vocabulary semi-join, groupBy) over the
    * generator's canonical text. Computed once per seed and cached beside
    * the inputs. */
  private def oracle(): Map[String, Any] = {
    val cache = in.resolve("expected.json")
    if (Files.exists(cache)) {
      return Workload.readJson(cache).map { case (k, v) =>
        k -> v.asInstanceOf[Map[String, Any]].map { case (f, x) => f -> Workload.toLong(x) }
      }
    }
    val truth = in.resolve("truth")
    val docs = spark.read.parquet(truth.resolve("docs.parquet").toString)
      .select(col("document_index"), split(col("text"), " ").as("t"))
      .select(col("document_index"), size(col("t")).as("wc"), col("t"))
    val grams = (1 to maxN).map { n =>
      docs.filter(size(col("t")) >= n)
        .select(col("document_index"), col("wc"),
          explode(sequence(lit(1), size(col("t")) - n + 1)).as("i"), col("t"))
        .select(col("document_index"), col("wc"),
          array_join(slice(col("t"), col("i"), lit(n)), " ").as("token"), lit(n).as("n"))
    }.reduce(_ union _)
      .groupBy("document_index", "wc", "token", "n").agg(count(lit(1)).as("tf"))
    val vocab = spark.read.text(truth.resolve("vocabulary.txt").toString).toDF("token")
    // unigram doc-count sentinels are dropped; multigrams must be in the vocabulary
    val kept = grams.filter(col("n") === 1 && !col("token").rlike("^nferdoccount_[0-9]+$"))
      .union(grams.filter(col("n") > 1).join(vocab, Seq("token"), "left_semi")
        .select(grams.columns.map(col).toIndexedSeq: _*))
    def stats(df: DataFrame, keys: Seq[String]) = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("document_frequency"), sum(col("tf")).as("term_frequency"),
        sum(col("wc")).as("tdsum"))
    val docSources = spark.read.parquet(truth.resolve("doc_sources.parquet").toString)
    val expected: Map[String, Any] = Map(
      "vocabulary" -> Digest.of(vocab.distinct()),
      "stats_global" -> Digest.of(stats(kept, Seq("token"))),
      "stats_by_source" -> Digest.of(
        stats(kept.join(docSources, "document_index"), Seq("token", "source"))))
    Workload.writeJson(cache, expected)
    expected
  }
}
