package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{VspaceConfig, VspacePipeline}
import graft.sources.CorpusSources

/** Throughput benchmark against BASELINE.md: run the FULL vspace pipeline
  * (normalize → everygrams ≤6 → vocabulary filter → source joins →
  * DF/TF/tdsum stats → all five sinks) on a generated reference-format
  * corpus of a target size, and report GB/hour — the unit the reference's
  * load-test log uses (`/root/reference/testing/vspace-loadTesting.csv`:
  * 0.15 h for 1 GB at ≤6-grams on 32 cores ≈ 6.7 GB/h at 1 GB, 18–20 GB/h
  * sustained at 100–265 GB).
  *
  * Usage: runMain graft.tools.ThroughputBench [targetGB] [workDir]
  * The corpus is synthesized once (documents.parquet text replicated into
  * the 239-char-delimiter corpus format plus index/src2sub/phrases/
  * collections side files) and reused across runs of the same size.
  */
object ThroughputBench {

  def main(args: Array[String]): Unit = {
    val targetGB = if (args.length > 0) args(0).toDouble else 1.0
    val workDir  = if (args.length > 1) args(1) else "target/tpbench"
    val sfDir    = graft.Sessions.sfDir
    // shuffle partitions sized to the corpus (Sessions.shufflePartitions);
    // the text scan keeps Spark's 128 MiB split: the 512 MiB rule
    // (Sessions.maxPartitionBytes) was measured on DataPipelineBench's
    // parquet scan only
    val spark = graft.Sessions.local("graft-throughput", Some(targetGB))

    val tag = "%.2f".formatLocal(java.util.Locale.ROOT, targetGB).replace('.', 'p')
    val in  = Paths.get(s"$workDir/in_$tag")
    if (!Files.exists(in.resolve("_DONE")))
      generate(spark, sfDir, in, targetGB, graft.Sessions.cpus)
    val corpusBytes = dirBytes(in.resolve("corpus"))

    val cfg = VspaceConfig(
      stagingLoc   = s"$workDir/staging",
      outputFolder = s"$workDir/out_$tag",
      maxNgrams    = 6, // the baseline's deeper depth (≤6-grams column)
      splits       = None, // the session's corpus-sized shuffle partitions
      corpus       = in.resolve("corpus").toString,
      index2doc    = in.resolve("index2doc").toString,
      src2sub      = in.resolve("src2sub").toString,
      collections  = in.resolve("collections").toString,
      phrases      = in.resolve("phrases").toString)

    // per-stage laps persist in the artifact (round-13 lesson: stage
    // tables that live only in stderr/prose get lost with the window)
    val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val (secs, canary) = graft.HostCanary.bracket {
      val t0 = System.nanoTime()
      VspacePipeline.run(spark, cfg, onLap = (s, t) => stageSecs(s) = t)
      (System.nanoTime() - t0) / 1e9
    }

    val gb      = corpusBytes / 1e9
    val gbPerHr = gb / (secs / 3600.0)
    // Reference context at the same core count (4 exec x 8 cores): 1 GB
    // ≤6g = 0.15 h => 6.7 GB/h; sustained 100-265 GB => 18-20 GB/h.
    val summary = graft.BenchOut.obj(Seq("metric" -> "throughput", "gb" -> gb,
      "secs" -> secs, "gb_per_hour" -> gbPerHr, "cores" -> graft.Sessions.cpus,
      "ngrams" -> 6) ++ graft.Sessions.decisions(spark) ++ canary ++ Seq(
      "stage_secs" -> stageSecs, "ref_1gb_gb_per_hour" -> 6.7,
      "ref_sustained_gb_per_hour" -> 19.5): _*)
    graft.BenchOut.writeSummary("throughput-last", summary)
    spark.stop()
  }

  /** Synthesize reference-format inputs of ~targetGB corpus text by
    * replicating the harness documents with a per-copy marker token (keeps
    * per-doc token distributions realistic; the marker makes copies
    * distinct so downstream per-doc aggregation sees unique documents). */
  private def generate(spark: SparkSession, sfDir: String, in: Path,
      targetGB: Double, cpus: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val stats = docs.agg(count(lit(1)), sum(length(col("text")))).head()
    val nDocs = stats.getLong(0)
    val bytes = stats.getLong(1)
    val copies = math.max(1L,
      math.ceil(targetGB * 1e9 / (bytes + nDocs * 8)).toLong)

    // corpus: text records joined by the 239-char delimiter, split across
    // enough files that the read side can parallelize (lineSep scans split
    // per file)
    docs.crossJoin(spark.range(copies).toDF("copy"))
      .select(concat(col("text"), lit(" c"), col("copy")).as("value"))
      .repartition(cpus * 4)
      .write.mode(SaveMode.Overwrite)
      .option("lineSep", " " + CorpusSources.RecordDelimiter + " ")
      .text(in.resolve("corpus").toString)

    val total = nDocs * copies
    // index2doc: 10-col TSV; subsource cycles over 20 values
    spark.range(total).toDF("document_index")
      .select(col("document_index"),
        concat(lit("http://x/"), col("document_index")).as("url"),
        concat(lit("sub"), col("document_index") % 20).as("subsource"),
        (lit(2000) + col("document_index") % 25).cast("int").as("year"),
        lit("m1").as("meta1"), lit("t").as("title"), lit("a").as("author"),
        lit("m2").as("meta2"), lit("m3").as("meta3"), lit("m4").as("meta4"))
      .repartition(cpus)
      .write.mode(SaveMode.Overwrite).option("delimiter", "\t")
      .csv(in.resolve("index2doc").toString)

    // src2sub: 5 sources x 4 subsources, space-delimited, comma-joined
    import spark.implicits._
    (0 until 5).map { s =>
      val subs = (0 until 4).map(i => s"sub${s * 4 + i}").mkString(",")
      s"source$s $subs"
    }.toDF("value").coalesce(1)
      .write.mode(SaveMode.Overwrite).text(in.resolve("src2sub").toString)

    // phrases: top distinct bigrams (underscored; loader maps _ -> space)
    val toks = docs.select(split(col("text"), " ").as("t"))
    toks.select(explode(graft.functions.word_ngrams(col("t"), 2)).as("bg"))
      .groupBy("bg").count().orderBy(col("count").desc, col("bg")).limit(20000)
      .select(regexp_replace(col("bg"), " ", "_").as("value"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).text(in.resolve("phrases").toString)

    // collections: top distinct trigrams (whole line, underscored)
    toks.select(explode(graft.functions.word_ngrams(col("t"), 3)).as("tg"))
      .groupBy("tg").count().orderBy(col("count").desc, col("tg")).limit(2000)
      .select(regexp_replace(col("tg"), " ", "_").as("value"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).text(in.resolve("collections").toString)

    Files.createDirectories(in)
    Files.write(in.resolve("_DONE"), Array.emptyByteArray)
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
