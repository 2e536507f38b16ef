package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{Corpus, Sinks, Stats, Vocabulary}
import graft.sources.CorpusSources

/** Job configuration, INI-compatible with the reference's job.conf
  * (ConfigParser sections `vspace_conf` + `vspace_input`,
  * reference `base.py:306-328`).
  */
final case class VspaceConfig(
    stagingLoc: String,
    outputFolder: String,
    maxNgrams: Int,
    splits: Option[Int],
    corpus: String,
    index2doc: String,
    src2sub: String,
    collections: String,
    phrases: String,
    compatOffByOne: Boolean = false)

object VspaceConfig {
  /** Minimal INI parser with ConfigParser's key rules: `[section]`
    * headers (case-sensitive), `key = value` or `key: value` pairs split
    * at the first `=` or `:`, option names lowercased (`optionxform`),
    * `#`/`;` comments, and — as under ConfigParser's default
    * `strict=True` — a section or an option (after lowercasing) given
    * twice is an error, not a silent overwrite. No external deps. */
  def parseIni(text: String): Map[String, Map[String, String]] = {
    var section = ""
    val out = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, String]]()
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith(";"))
      .foreach { l =>
        if (l.startsWith("[") && l.endsWith("]")) {
          section = l.substring(1, l.length - 1).trim
          require(!out.contains(section), s"duplicate INI section [$section]")
          out(section) = scala.collection.mutable.Map()
        } else {
          val i = l.indexWhere(c => c == '=' || c == ':')
          if (i > 0) {
            val key  = l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
            val opts = out.getOrElseUpdate(section, scala.collection.mutable.Map())
            require(!opts.contains(key), s"duplicate INI option '$key' in [$section]")
            opts(key) = l.substring(i + 1).trim
          }
        }
      }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  def load(path: String): VspaceConfig = {
    val ini  = parseIni(Files.readString(Paths.get(path)))
    val conf = ini.getOrElse("vspace_conf", Map.empty)
    val in   = ini.getOrElse("vspace_input", Map.empty)
    VspaceConfig(
      stagingLoc   = conf.getOrElse("stagingloc", "/tmp/vspace-staging"),
      outputFolder = conf.getOrElse("outputfolder", "/tmp/vspace-out"),
      maxNgrams    = conf.getOrElse("maxngrams", "3").toInt,
      splits       = conf.get("splits").map(_.toInt),
      corpus       = in("corpus"),
      index2doc    = in("index2doc"),
      src2sub      = in("src2sub"),
      collections  = in("collections"),
      phrases      = in("phrases"),
      compatOffByOne = conf.get("compatoffbyone").exists(_.toBoolean))
  }
}

/** End-to-end vspace pipeline (reference `main()`, `base.py:306-441`):
  * vocabulary job -> corpus job -> stats job, with the same five outputs.
  * The vocabulary and the normalized corpus are persisted (each consumed
  * twice). The stats job is ONE pass over the gram stream
  * ([[Stats.computeScopedStatsHashed]]): the gram stream is keyed by
  * `xxhash64(gram)`, sources attach per document before the n-gram
  * kernel, one hash aggregation computes both stats tables, and only its
  * output-sized result is persisted; the gram stream itself is never
  * cached. VspacePipelineSpec checks both tables against a witness built
  * from the reference-shaped string operators ([[Corpus.tokenCounts]],
  * [[Vocabulary.SemiJoinFilter]], [[Stats.computeStats]]).
  */
object VspacePipeline {

  /** `onLap` receives (stage, seconds) after each output action
    * (vocabulary sink / normalized-corpus sink / per-source stats / global
    * stats); ThroughputBench persists the laps into its artifact (round-13
    * lesson: stage tables that live only in stderr get lost with the
    * window). The one stats pass runs inside `per_source_stats`;
    * `global_stats` writes from its persisted result.
    *
    * The session's `spark.sql.shuffle.partitions` (set from `cfg.splits`)
    * and the caller's job group are restored on return. */
  def run(spark: SparkSession, cfg: VspaceConfig,
      onLap: (String, Double) => Unit = (_, _) => ()): Unit = {
    val sc = spark.sparkContext
    val jobGroupProps = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val callerJobGroup = jobGroupProps.map(k => k -> sc.getLocalProperty(k))
    val callerPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      persisted += df; df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      cfg.splits.foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
      runJobs(spark, cfg, persist, onLap)
    } finally {
      persisted.foreach(_.unpersist())
      callerJobGroup.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spark.conf.set("spark.sql.shuffle.partitions", callerPartitions)
    }
  }

  private def runJobs(spark: SparkSession, cfg: VspaceConfig,
      persist: DataFrame => DataFrame,
      onLap: (String, Double) => Unit): Unit = {
    val out = cfg.outputFolder
    // stage attribution in the Spark UI (reference sets a job group per
    // stage the same way, base.py:341,362,373,399)
    def stage(name: String): Unit =
      spark.sparkContext.setJobGroup(name, s"vspace $name", interruptOnCancel = false)
    var tLap = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      onLap(name, (now - tLap) / 1e9)
      tLap = now
    }

    // --- vocabulary job (reference base.py:341-371) ---
    stage("vocabulary")
    val vocabulary = persist(Vocabulary.build(
      CorpusSources.loadPhrases(spark, cfg.phrases),
      CorpusSources.loadCollections(spark, cfg.collections)))
    Sinks.writeVocabulary(vocabulary, s"$out/vocabulary")
    lap("vocabulary")

    // --- corpus job (reference base.py:373-397) ---
    stage("corpus")
    val raw = CorpusSources.loadRawCorpus(spark, cfg.corpus)
    // Normalize ONCE and persist, like the reference's rdd1 (base.py:181,
    // persisted and feeding both the corpus write and the counts) — raw is
    // otherwise scanned + zipWithIndex'd + NFC-normalized twice. At cluster
    // scale the persist spills to local disk; that's still cheaper than a
    // second normalize pass over the full corpus.
    val norm = persist(Corpus.normalized(raw))
    Sinks.writeNormalizedCorpus(norm, s"$out/normalized_corpus")
    lap("read+normalize+corpus_sink")

    // --- stats job (reference base.py:399-439) ---
    stage("stats")
    val index   = CorpusSources.loadIndex(spark, cfg.index2doc)
    val sources = CorpusSources.loadSources(spark, cfg.src2sub)
    val vocabIndex = persist(Vocabulary.hashIndex(vocabulary))
    // sources attach per document, before the n-gram kernel
    val withSources = norm.join(Stats.documentSources(index, sources),
      Seq("document_index"), "left")
    val grams = Vocabulary.hashIndexFilter(
      Corpus.tokenCountHashesFromNormalized(withSources, cfg.maxNgrams,
        cfg.compatOffByOne),
      vocabIndex)
    val stats = persist(Stats.computeScopedStatsHashed(grams, vocabIndex))
    val measures = Seq("document_frequency", "term_frequency", "tdsum").map(col)
    Sinks.writeStatsBySource(
      stats.filter(!col("global"))
        .select(col("token") +: col("source") +: measures: _*),
      s"$out/stats_by_source")
    lap("per_source_stats")
    Sinks.writeStatsGlobal(
      stats.filter(col("global")).select(col("token") +: measures: _*),
      s"$out/stats_global")
    lap("global_stats")
  }

  def main(args: Array[String]): Unit = {
    val cfg = VspaceConfig.load(args(0))
    val spark = SparkSession.builder()
      .appName("graft-vspace")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", graft.Sessions.cpus.toString)
      .getOrCreate()
    try run(spark, cfg) finally spark.stop()
  }
}
