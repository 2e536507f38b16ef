package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.NGramCountHashes
import graft.operators.{Corpus, Sinks, Stats, Vocabulary}
import graft.sources.CorpusSources

/** End-to-end pipeline over a hand-verified mini fixture (SURVEY §5.4):
  * a 3-document corpus in vspace format (delimiter-separated), a tab
  * index, a source->subsource mapping, phrases + collections files.
  */
class VspacePipelineSpec extends SparkSpec {

  private lazy val dir = graft.SparkSpec.tempDir("vspace-fixture")

  private lazy val paths: Map[String, String] = {
    val delim = CorpusSources.RecordDelimiter
    // doc0: "Big Data! systems." -> [big, data, systems]
    // doc1: "data, data big"     -> [data, data, big]
    // doc2: "Spark."             -> [spark]
    val corpus = s"Big Data! systems. ${delim} data, data big ${delim} Spark."
    val index = Seq(
      "0\thttp://a\tsub1\t2020\t\tT0\tA\t\t\t",
      "1\thttp://b\tsub1\t2021\t\tT1\tB\t\t\t",
      "2\thttp://c\tsub2\t2021\t\tT2\tC\t\t\t").mkString("\n")
    val src2sub = Seq("SRC_A sub1", "SRC_B sub1,sub2").mkString("\n")
    val phrases = Seq("big_data extra", "ignored").mkString("\n")
    val collections = Seq("data_big").mkString("\n")
    val m = Map(
      "corpus" -> s"$dir/corpus.txt", "index" -> s"$dir/index.tsv",
      "src2sub" -> s"$dir/src2sub.txt", "phrases" -> s"$dir/phrases.txt",
      "collections" -> s"$dir/collections.txt")
    Files.writeString(java.nio.file.Paths.get(m("corpus")), corpus)
    Files.writeString(java.nio.file.Paths.get(m("index")), index)
    Files.writeString(java.nio.file.Paths.get(m("src2sub")), src2sub)
    Files.writeString(java.nio.file.Paths.get(m("phrases")), phrases)
    Files.writeString(java.nio.file.Paths.get(m("collections")), collections)
    m
  }

  test("corpus loader splits on the delimiter with contiguous ids") {
    val docs = CorpusSources.loadRawCorpus(spark, paths("corpus"))
      .orderBy("document_index").collect()
    assert(docs.length == 3)
    assert(docs.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(docs(2).getString(1).trim == "Spark.")
  }

  test("compat MapType output round-trips the long-format counts") {
    val corpus = CorpusSources.loadRawCorpus(spark, paths("corpus"))
    val long   = Corpus.tokenCounts(corpus, maxNgrams = 2)
    val mapped = Corpus.toTokenCountsMap(long).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getMap[String, Int](2))).toMap
    // doc1 "data, data big" -> wc 3; unigrams data:2 big:1; bigrams
    // "data data":1 "data big":1
    val (wc1, m1) = mapped(1L)
    assert(wc1 == 3)
    assert(m1("data") == 2 && m1("big") == 1 &&
      m1("data data") == 1 && m1("data big") == 1)
    // map cardinality equals long-format row count per doc
    val rows1 = long.filter(col("document_index") === 1).count()
    assert(m1.size.toLong == rows1)
  }

  test("sentinel tokens excluded; NFC unifies composed and decomposed forms") {
    import spark.implicits._
    // doc0 carries the reference's nferdoccount sentinel (base.py:378);
    // doc1/doc2 write café composed (U+00E9) vs decomposed (e + U+0301)
    val corpus = Seq(
      (0L, "big nferdoccount_7 data"),
      (1L, "café au lait"),
      (2L, "café au lait")).toDF("document_index", "text")
    val counts = Corpus.tokenCounts(corpus, maxNgrams = 1).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getInt(3)).toMap
    assert(!counts.keys.exists(_._2.contains("nferdoccount")))
    assert(counts((0L, "big")) == 1 && counts((0L, "data")) == 1)
    // both docs normalize to the same composed token
    assert(counts((1L, "café")) == 1 && counts((2L, "café")) == 1)
    // sentinel still counts toward wc (it is excluded from the gram
    // stream, not the tokenization; reference filters inside ngram_counts)
    val wc0 = Corpus.tokenCounts(corpus, 1).filter(col("document_index") === 0)
      .select("wc").head().getInt(0)
    assert(wc0 == 3)
  }

  test("vocabulary build: phrases+collections, underscores, dedup") {
    val vocab = Vocabulary.build(
      CorpusSources.loadPhrases(spark, paths("phrases")),
      CorpusSources.loadCollections(spark, paths("collections")))
    val tokens = vocab.select("token").collect().map(_.getString(0)).toSet
    // phrases: first field only, _ -> " "; collections: whole line
    assert(tokens == Set("big data", "ignored", "data big"))
  }

  test("latin-1 phrases decode via the encoding parameter (T5, base.py:253-266)") {
    val p = s"$dir/phrases_latin1.txt"
    val content = "café_crème extra\nnaïve"
    Files.write(java.nio.file.Paths.get(p),
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val latin1 = CorpusSources.loadPhrases(spark, p, encoding = "ISO-8859-1")
      .collect().map(_.getString(0)).toSet
    assert(latin1 == Set("café crème", "naïve"))
    // under the UTF-8 default those byte sequences are invalid and the
    // lines are dropped (reference try_decode semantics, enforced at the
    // byte level by is_valid_utf8 — T4)
    val utf8 = CorpusSources.loadPhrases(spark, p)
      .collect().map(_.getString(0)).toSet
    assert(utf8.isEmpty)
  }

  test("W1 divergence pinned: vocabulary is written pre-filtered") {
    import spark.implicits._
    // The reference writes the vocabulary CSV UNFILTERED and drops
    // null/empty tokens only while building the DAWG
    // (/root/reference/vspace/lookups/dawg.py:101-102); graft filters
    // BEFORE the write (Vocabulary.build), so on dirty input the written
    // vocabulary lacks the empty/whitespace rows the reference's file
    // would carry. Membership semantics are identical either way — the
    // reference's DAWG never contains those rows — only the written
    // artifact diverges. This fixture pins that choice.
    val phrases     = Seq("good one", "", "   ", "good one").toDF("phrase")
    val collections = Seq("other").toDF("phrase")
    val tokens = Vocabulary.build(phrases, collections)
      .select("token").collect().map(_.getString(0)).toSet
    assert(tokens == Set("good one", "other"))
  }

  test("token counts: normalized unigrams+bigrams, hand-checked") {
    val counts = Corpus.tokenCounts(
      CorpusSources.loadRawCorpus(spark, paths("corpus")), maxNgrams = 2)
    val rows = counts.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).toSet
    // doc0 [big, data, systems]: unigrams + "big data", "data systems"
    assert(rows.contains((0L, "big", 1)))
    assert(rows.contains((0L, "big data", 1)))
    assert(rows.contains((0L, "data systems", 1)))
    // doc1 [data, data, big]: data x2, "data data", "data big"
    assert(rows.contains((1L, "data", 2)))
    assert(rows.contains((1L, "data data", 1)))
    assert(rows.contains((1L, "data big", 1)))
    // doc2 [spark]
    assert(rows.contains((2L, "spark", 1)))
    // wc column
    val wc = counts.select("document_index", "wc").distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(wc == Map(0L -> 3, 1L -> 3, 2L -> 1))
  }

  test("vocabulary filter: unigrams pass, multigrams gated; both impls agree") {
    val counts = Corpus.tokenCounts(
      CorpusSources.loadRawCorpus(spark, paths("corpus")), maxNgrams = 2)
    val vocab = Vocabulary.build(
      CorpusSources.loadPhrases(spark, paths("phrases")),
      CorpusSources.loadCollections(spark, paths("collections")))

    val semi = Vocabulary.SemiJoinFilter(vocab)(counts, "token")
    val bcast = Vocabulary.BroadcastSetFilter(spark, vocab)(counts, "token")

    val semiSet = semi.select("document_index", "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val bcastSet = bcast.select("document_index", "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(semiSet == bcastSet)
    // all unigrams pass; of the bigrams only "big data" and "data big"
    // are in vocabulary
    assert(semiSet.contains((0L, "big data")))
    assert(semiSet.contains((1L, "data big")))
    assert(!semiSet.contains((0L, "data systems")))
    assert(!semiSet.contains((1L, "data data")))
    assert(semiSet.contains((2L, "spark")))
  }

  test("global stats DF/TF/tdsum hand-checked") {
    val counts = Corpus.tokenCounts(
      CorpusSources.loadRawCorpus(spark, paths("corpus")), maxNgrams = 1)
    val stats = Stats.computeStats(counts, Seq("token")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // data: docs 0,1; tf 1+2=3; tdsum 3+3=6
    assert(stats("data") == ((2L, 3L, 6L)))
    assert(stats("big") == ((2L, 2L, 6L)))
    assert(stats("systems") == ((1L, 1L, 3L)))
    assert(stats("spark") == ((1L, 1L, 1L)))
  }

  test("per-source stats through index and sources joins") {
    val counts = Corpus.tokenCounts(
      CorpusSources.loadRawCorpus(spark, paths("corpus")), maxNgrams = 1)
    val withSources = Stats.combineCorpusWithSources(counts,
      CorpusSources.loadIndex(spark, paths("index")),
      CorpusSources.loadSources(spark, paths("src2sub")))
    val stats = Stats.computeStats(withSources, Seq("token", "source"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // sub1 -> docs 0,1 via SRC_A and SRC_B; sub2 -> doc2 via SRC_B
    assert(stats(("data", "SRC_A")) == 2L) // docs 0,1
    assert(stats(("data", "SRC_B")) == 2L)
    assert(stats(("spark", "SRC_B")) == 1L)
    assert(!stats.contains(("spark", "SRC_A")))
  }

  test("full pipeline writes five outputs from an INI config") {
    val out = graft.SparkSpec.tempDir("vspace-out")
    val conf =
      s"""[vspace_conf]
         |stagingloc = $dir/staging
         |outputFolder = $out
         |maxngrams = 2
         |[vspace_input]
         |corpus = ${paths("corpus")}
         |index2doc = ${paths("index")}
         |src2sub = ${paths("src2sub")}
         |collections = ${paths("collections")}
         |phrases = ${paths("phrases")}
         |""".stripMargin
    val confPath = s"$dir/job.conf"
    Files.writeString(java.nio.file.Paths.get(confPath), conf)
    VspacePipeline.run(spark, VspaceConfig.load(confPath))
    val globals = spark.read.option("delimiter", "\t")
      .csv(s"$out/stats_global")
    assert(globals.count() > 0)
    val bySource = spark.read.option("delimiter", "\t")
      .csv(s"$out/stats_by_source")
    assert(bySource.count() > 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$out/vocabulary")))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/normalized_corpus")))
    // the job keys the gram stream by xxhash64(gram) and joins strings back
    // at the stats output; the string-operator witness must give BOTH
    // stats tables exactly (the check the hashed path's collision caveat
    // relies on)
    val witness = graft.SparkSpec.tempDir("vspace-out-witness")
    writeWitness(VspaceConfig.load(confPath), witness)
    assert(readStats(out) == readStats(witness))
  }

  test("INI option names are case-insensitive and `:` separates like `=`") {
    // ConfigParser lowercases option names (optionxform) and splits at the
    // first `=` or `:`; section names stay case-sensitive. An option the
    // job does not read (here the retired `corpusreader` and `hashedstats`)
    // is ignored, as ConfigParser ignores keys nobody asks for
    val conf =
      """[vspace_conf]
        |StagingLoc = /tmp/staging
        |CorpusReader = v2
        |outputFolder: /tmp/out
        |maxNgrams = 5
        |Splits = 8
        |HashedStats: false
        |[vspace_input]
        |Corpus = /data/corpus
        |index2doc: hdfs://nn:8020/index=v1
        |SRC2SUB = /data/src2sub
        |collections = /data/collections
        |Phrases = /data/phrases
        |[VSPACE_CONF]
        |maxngrams = 9
        |""".stripMargin
    val confPath = s"${graft.SparkSpec.tempDir("vspace-ini")}/job.conf"
    Files.writeString(Paths.get(confPath), conf)
    assert(VspaceConfig.load(confPath) == VspaceConfig(
      stagingLoc = "/tmp/staging", outputFolder = "/tmp/out",
      maxNgrams = 5, splits = Some(8),
      corpus = "/data/corpus", index2doc = "hdfs://nn:8020/index=v1",
      src2sub = "/data/src2sub", collections = "/data/collections",
      phrases = "/data/phrases"))
  }

  test("INI: a repeated option or section is an error, as under ConfigParser's strict mode") {
    // option names compare after lowercasing, so `maxNgrams` and
    // `maxngrams` are the same option; `[a]` and `[A]` are two sections
    val dupOption = intercept[IllegalArgumentException](VspaceConfig.parseIni(
      "[vspace_conf]\nmaxNgrams = 4\nmaxngrams: 5\n"))
    assert(dupOption.getMessage.contains("duplicate INI option 'maxngrams' in [vspace_conf]"))
    val dupSection = intercept[IllegalArgumentException](VspaceConfig.parseIni(
      "[vspace_conf]\nsplits = 8\n[vspace_input]\ncorpus = /c\n[vspace_conf]\nmaxngrams = 4\n"))
    assert(dupSection.getMessage.contains("duplicate INI section [vspace_conf]"))
    assert(VspaceConfig.parseIni("[a]\nk = 1\n[A]\nk = 2\n") ==
      Map("a" -> Map("k" -> "1"), "A" -> Map("k" -> "2")))
  }

  /** Edge-shape fixture for the stats job: a document with two index rows
    * (different subsources), a document with no index row, a subsource
    * claimed by two sources, and a subsource claimed by none.
    *   doc0 "Big data systems."  [big, data, systems]  index sub1 + sub2
    *   doc1 "data, data big"     [data, data, big]     index sub3 (unclaimed)
    *   doc2 "Spark data 𝐀lpha"   [spark, data, 𝐀lpha]  no index row
    *   doc3 "big data"           [big, data]           index sub1
    * sub1 -> SRC_A, SRC_B; sub2 -> SRC_B; so doc0's sources are the
    * multiset {SRC_A, SRC_B, SRC_B} and doc3's {SRC_A, SRC_B}. `𝐀`
    * (U+1D400) is a supplementary-plane letter that NFC and lowercasing
    * keep, so the vocabulary bigram "data 𝐀lpha" makes the hashed kernel
    * assemble a 4-byte UTF-8 character into a gram. */
  private lazy val edgeDir = graft.SparkSpec.tempDir("vspace-edge")

  private lazy val edgeConfig: VspaceConfig = {
    val delim = CorpusSources.RecordDelimiter
    def write(name: String, text: String): String = {
      val p = s"$edgeDir/$name"; Files.writeString(Paths.get(p), text); p
    }
    VspaceConfig(
      stagingLoc = s"$edgeDir/staging",
      outputFolder = s"$edgeDir/out",
      maxNgrams = 2,
      splits = None,
      corpus = write("corpus.txt", Seq("Big data systems.", "data, data big",
        "Spark data 𝐀lpha", "big data").mkString(s" $delim ")),
      index2doc = write("index.tsv", Seq(
        "0\thttp://a\tsub1\t2020\t\tT0\tA\t\t\t",
        "0\thttp://a\tsub2\t2020\t\tT0\tA\t\t\t",
        "1\thttp://b\tsub3\t2021\t\tT1\tB\t\t\t",
        "3\thttp://d\tsub1\t2022\t\tT3\tD\t\t\t").mkString("\n")),
      src2sub = write("src2sub.txt", Seq("SRC_A sub1", "SRC_B sub1,sub2").mkString("\n")),
      collections = write("collections.txt", "data_big\ndata_𝐀lpha"),
      phrases = write("phrases.txt", "big_data extra"))
  }

  private type Measures = (Long, Long, Long)

  /** Both stats tables a run wrote under `out`: token -> (DF, TF, tdsum)
    * and (token, source) -> (DF, TF, tdsum). */
  private def readStats(out: String): (Map[String, Measures], Map[(String, String), Measures]) = {
    val schema = "token STRING, document_frequency LONG, term_frequency LONG, tdsum LONG"
    def read(table: String) = spark.read.schema(schema).option("delimiter", "\t")
      .csv(s"$out/$table")
    def measures(r: org.apache.spark.sql.Row): Measures = (r.getLong(1), r.getLong(2), r.getLong(3))
    val global = read("stats_global").collect().map(r => r.getString(0) -> measures(r))
    val bySource = read("stats_by_source")
      .withColumn("source", regexp_extract(input_file_name(), "source=([^/]+)", 1))
      .collect().map(r => (r.getString(0), r.getString(4)) -> measures(r))
    assert(global.length == global.toMap.size && bySource.length == bySource.toMap.size,
      "a stats table repeats a key")
    (global.toMap, bySource.toMap)
  }

  /** The string-operator witness: both stats tables of `cfg`'s job built
    * from the reference-shaped operators (string grams over the raw corpus,
    * [[Vocabulary.SemiJoinFilter]], [[Stats.combineCorpusWithSources]] +
    * [[Stats.computeStats]]) and written through the job's sinks under
    * `out`, so a comparison with the job stays CSV to CSV. */
  private def writeWitness(cfg: VspaceConfig, out: String): Unit = {
    val vocabulary = Vocabulary.build(
      CorpusSources.loadPhrases(spark, cfg.phrases),
      CorpusSources.loadCollections(spark, cfg.collections))
    val counts = Vocabulary.SemiJoinFilter(vocabulary)(
      Corpus.tokenCounts(CorpusSources.loadRawCorpus(spark, cfg.corpus),
        cfg.maxNgrams, cfg.compatOffByOne),
      "token")
    Sinks.writeStatsBySource(
      Stats.computeStats(Stats.combineCorpusWithSources(counts,
        CorpusSources.loadIndex(spark, cfg.index2doc),
        CorpusSources.loadSources(spark, cfg.src2sub)), Seq("token", "source")),
      s"$out/stats_by_source")
    Sinks.writeStatsGlobal(Stats.computeStats(counts, Seq("token")),
      s"$out/stats_global")
  }

  test("edge-shape index: hashed stats equal the string path and hand-checked values") {
    val hashed = readStats {
      VspacePipeline.run(spark, edgeConfig.copy(outputFolder = s"$edgeDir/hashed"))
      s"$edgeDir/hashed"
    }
    writeWitness(edgeConfig, s"$edgeDir/witness")
    assert(hashed == readStats(s"$edgeDir/witness"))
    val (global, bySource) = hashed
    // doc0 counts ONCE in global DF despite its two index rows; doc2 (no
    // index row) and doc1 (unclaimed subsource) count too
    assert(global == Map(
      "big" -> ((3L, 3L, 8L)), "data" -> ((4L, 5L, 11L)),
      "systems" -> ((1L, 1L, 3L)), "spark" -> ((1L, 1L, 3L)),
      "𝐀lpha" -> ((1L, 1L, 3L)), "data 𝐀lpha" -> ((1L, 1L, 3L)),
      "big data" -> ((2L, 2L, 5L)), "data big" -> ((1L, 1L, 3L))))
    // SRC_A: docs 0, 3. SRC_B: doc0 twice (sub1 and sub2), doc3. Neither
    // doc1 nor doc2 reaches any source.
    assert(bySource == Map(
      ("big", "SRC_A") -> ((2L, 2L, 5L)), ("data", "SRC_A") -> ((2L, 2L, 5L)),
      ("systems", "SRC_A") -> ((1L, 1L, 3L)), ("big data", "SRC_A") -> ((2L, 2L, 5L)),
      ("big", "SRC_B") -> ((3L, 3L, 8L)), ("data", "SRC_B") -> ((3L, 3L, 8L)),
      ("systems", "SRC_B") -> ((2L, 2L, 6L)), ("big data", "SRC_B") -> ((3L, 3L, 8L))))
  }

  test("empty corpus: the job writes the vocabulary and empty stats equal to the witness") {
    val empty = edgeConfig.copy(corpus = s"$edgeDir/empty.txt",
      outputFolder = s"$edgeDir/empty")
    Files.writeString(Paths.get(empty.corpus), "")
    VspacePipeline.run(spark, empty)
    val vocab = spark.read.option("delimiter", "\t").csv(s"$edgeDir/empty/vocabulary")
    assert(vocab.count() == 3)
    writeWitness(empty, s"$edgeDir/empty-witness")
    val stats = readStats(s"$edgeDir/empty")
    assert(stats == ((Map.empty, Map.empty)))
    assert(stats == readStats(s"$edgeDir/empty-witness"))
  }

  test("run restores the caller's shuffle partitions and job group") {
    val sc = spark.sparkContext
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    sc.setJobGroup("caller", "caller jobs", interruptOnCancel = false)
    try {
      VspacePipeline.run(spark, edgeConfig.copy(outputFolder = s"$edgeDir/splits",
        splits = Some(7)))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
    } finally sc.clearJobGroup()
  }

  /** Children of `p`, looking through adaptive wrappers, query stages,
    * reused exchanges and cached relations. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  private def isGramGenerate(p: SparkPlan): Boolean = p match {
    case g: GenerateExec => g.generator.exists(_.isInstanceOf[NGramCountHashes])
    case _ => false
  }

  /** True when the rows of `p` are the gram stream: the n-gram Generate
    * reaches `p` without crossing an exchange. */
  private def carriesGrams(p: SparkPlan): Boolean =
    isGramGenerate(p) || (!p.isInstanceOf[Exchange] && kids(p).exists(carriesGrams))

  test("hashed stats plan: hash aggregates only, one gram-stream exchange, no cached gram stream") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val stats = try {
      VspacePipeline.run(spark, edgeConfig.copy(outputFolder = s"$edgeDir/lint"))
      // execution-listener dispatch is async: wait for both stats writes
      def statsPlans = plans.toArray(Array.empty[SparkPlan]).toSeq
        .filter(nodes(_).exists(isGramGenerate))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (statsPlans.length < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      statsPlans
    } finally spark.listenerManager.unregister(listener)
    assert(stats.length == 2, s"expected the two stats writes, got ${stats.length} plans")
    val all = stats.flatMap(nodes)
    val sortAggs = all.collect { case a: SortAggregateExec => a.simpleString(200) }
    assert(sortAggs.isEmpty, s"stats aggregations fell back to SortAggregate: $sortAggs")
    val gramExchanges = all.collect { case e: Exchange if e.children.exists(carriesGrams) => e }
      .foldLeft(List.empty[Exchange])((seen, e) => if (seen.exists(_ eq e)) seen else e :: seen)
    assert(gramExchanges.length == 1,
      s"expected one exchange over the gram stream, got ${gramExchanges.length}")
    assert(!all.exists {
      case m: InMemoryTableScanExec => carriesGrams(m.relation.cachedPlan)
      case _ => false
    }, "the gram stream is cached")
  }
}
