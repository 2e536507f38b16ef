package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the vspace input formats (reference
  * `/root/reference/vspace/pipelines/base.py:56-118, 234-303`), re-expressed
  * as Catalyst scans — no RDD record readers, no per-line Python decode.
  *
  * Scale posture: every loader is a plain DataFrame scan, so splitting,
  * predicate pushdown and column pruning apply; the corpus reader relies on
  * Spark's multi-char `lineSep` text source (splittable per file, streamed —
  * never materializes a whole file on one executor).
  */
object CorpusSources {

  /** The corpus document separator: 15 repetitions of the magic stopword
    * (reference `base.py:36`). */
  val RecordDelimiter: String = List.fill(15)("nferstopword").mkString(" ")

  /** Fixed 10-column index schema (reference `base.py:38-51`). */
  val IndexSchema: StructType = StructType(Seq(
    StructField("document_index", LongType),
    StructField("url", StringType),
    StructField("subsource", StringType),
    StructField("year", IntegerType),
    StructField("meta1", StringType),
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("meta2", StringType),
    StructField("meta3", StringType),
    StructField("meta4", StringType)))

  /** Corpus files under `path` (plain file, directory, or glob),
    * lexicographically sorted by full path string — the file order that
    * fixes [[loadRawCorpus]]'s doc ids. Hidden files (`_`/`.` prefixed)
    * are skipped, like Spark's file sources. */
  private[graft] def listCorpusFiles(spark: SparkSession, path: String): Seq[String] = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty)
      throw new java.io.FileNotFoundException(
        s"corpus path does not exist or matches no files: $path")
    matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && {
            val n = f.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
          })
      else Seq(st)
    }.map(_.getPath.toString).sorted
  }

  /** T1: read a delimiter-separated corpus into (document_index, text).
    *
    * Doc ids are contiguous zero-based in (lexicographic file path, offset
    * within file) order, matching the reference's `zipWithIndex`
    * (`base.py:73`); CorpusSourcesSpec pins it on a multi-file fixture and
    * across split boundaries. Files are enumerated explicitly and read one
    * per scan, unioned in sorted order: handing the built-in text source
    * several paths at once lets it pack splits largest-file-first
    * internally, which permutes ids. Within one
    * file, split planning is offset-ordered (equal-size splits under a
    * stable sort), so per-file order is the file's record order. The
    * per-file unions are balanced pairwise (O(log files) plan depth, order
    * preserved).
    */
  def loadRawCorpus(spark: SparkSession, path: String,
      recordDelimiter: String = RecordDelimiter): DataFrame = {
    import spark.implicits._
    @annotation.tailrec
    def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.size == 1) dfs.head
      else balancedUnion(dfs.grouped(2)
        .map(g => if (g.size == 2) g(0).union(g(1)) else g(0)).toSeq)
    val raw = balancedUnion(listCorpusFiles(spark, path)
      .map(f => spark.read.option("lineSep", recordDelimiter).text(f)))
    raw.rdd.map(_.getString(0)).zipWithIndex()
      .map { case (text, idx) => (idx, text) }
      .toDF("document_index", "text")
  }

  /** T2: tab-separated index file with the fixed 10-col schema. */
  def loadIndex(spark: SparkSession, path: String,
      delimiter: String = "\t", schema: StructType = IndexSchema): DataFrame =
    spark.read.schema(schema)
      .options(Map("delimiter" -> delimiter, "header" -> "false"))
      .csv(path)

  /** T3: source -> comma-joined subsources file, normalized to
    * `subsource -> array<source>` (reference `base.py:94-118`). */
  def loadSources(spark: SparkSession, path: String,
      delimiter: String = " "): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("source", StringType),
        StructField("subsources", StringType))))
      .options(Map("delimiter" -> delimiter, "header" -> "false"))
      .csv(path)
      .withColumn("subsource", explode(split(col("subsources"), ",")))
      .groupBy("subsource")
      .agg(collect_list("source").as("sources"))

  /** T4: line file with control-char stripping and a configurable input
    * encoding (reference `try_decode`, `base.py:234-266`, whose loaders all
    * take an `encoding` parameter). Matches the reference's semantics
    * exactly: lines whose bytes are not valid in the charset are DROPPED.
    *
    * UTF-8 uses Spark's native text source with an `is_valid_utf8` filter —
    * Spark never decodes text-source bytes (UTF8String wraps them raw), so
    * validity must be checked at the byte level; a replacement-char
    * `contains` filter can never fire because U+FFFD only appears when the
    * raw bytes are rendered at collect time. Other charsets read raw line
    * bytes via the Hadoop line reader (splits on the byte '\n' — correct
    * for the ASCII-superset encodings the reference passes, e.g. latin-1/
    * windows-1252) and strict-decode per partition, dropping failures. */
  def loadDecoded(spark: SparkSession, path: String,
      encoding: String = "UTF-8"): DataFrame = {
    val lines =
      if (encoding.equalsIgnoreCase("UTF-8"))
        spark.read.text(path)
          .filter(is_valid_utf8(col("value")))
      else {
        import spark.implicits._
        val enc = encoding // serialize the string, not `this`
        spark.sparkContext
          .hadoopFile(path, classOf[org.apache.hadoop.mapred.TextInputFormat],
            classOf[org.apache.hadoop.io.LongWritable],
            classOf[org.apache.hadoop.io.Text])
          .mapPartitions { it =>
            val decoder = java.nio.charset.Charset.forName(enc).newDecoder()
            it.flatMap { case (_, t) =>
              // strict decode (REPORT on malformed) = reference's try/except
              try Some(decoder.decode(
                java.nio.ByteBuffer.wrap(t.getBytes, 0, t.getLength)).toString)
              catch {
                case _: java.nio.charset.CharacterCodingException => None
              }
            }
          }
          .toDF("value")
      }
    lines.select(regexp_replace(col("value"), "[\\x00\\x01\\t]", "").as("value"))
  }

  /** T5: phrases file — first space-separated field, underscores to
    * spaces (reference `base.py:278-289`). */
  def loadPhrases(spark: SparkSession, path: String,
      encoding: String = "UTF-8"): DataFrame =
    loadDecoded(spark, path, encoding)
      .select(translate(split(col("value"), " ").getItem(0), "_", " ").as("phrase"))

  /** T6: collections file — whole line, underscores to spaces
    * (reference `base.py:292-303`). */
  def loadCollections(spark: SparkSession, path: String,
      encoding: String = "UTF-8"): DataFrame =
    loadDecoded(spark, path, encoding)
      .select(translate(col("value"), "_", " ").as("phrase"))
}
