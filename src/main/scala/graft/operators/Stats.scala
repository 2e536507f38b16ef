package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The stats spine (reference `compute_stats` +
  * `combine_corpus_with_sources`, `base.py:192-231`).
  *
  * Scale posture: the index->sources join broadcasts the small mapping
  * (reference hinted the same, `base.py:223`) and groups it to ONE row per
  * document ([[documentSources]]), so sources attach at document
  * granularity, before the n-gram kernel, instead of by a join over the
  * exploded gram stream. The hashed job ([[computeScopedStatsHashed]])
  * then expands each gram row into a global scope plus one scope per
  * source and computes both stats tables in one partial+final hash
  * aggregation: one exchange over the gram stream, fixed-width buffers,
  * and an output-sized result. count and sum are decomposable, so
  * aggregating both scopes in one pass is exact (eager aggregation, Yan &
  * Larson, VLDB 1995). The string operators keep the reference's
  * dataflow: [[combineCorpusWithSources]] fans each gram row out to one
  * row per (doc, source) before [[computeStats]] aggregates each table.
  * q28 runs them, and VspacePipelineSpec builds from them the
  * string-operator witness the hashed job is checked against.
  */
object Stats {

  /** DF/TF/tdsum grouped by `grouping` over long-format token counts
    * `(document_index, wc, token, tf)`. DF counts docs containing the
    * token (long format has one row per (doc, token), so count(*) ==
    * reference's count over map keys). The one spelling of the three
    * measures: the hashed job, the catalog's term-stats queries and the
    * streaming term-stats table all aggregate through it. */
  def computeStats(tokenCounts: DataFrame, grouping: Seq[String]): DataFrame =
    tokenCounts
      .groupBy(grouping.map(col): _*)
      .agg(count(lit(1)).as("document_frequency"),
        sum(col("tf")).as("term_frequency"),
        sum(col("wc")).as("tdsum"))

  /** [[computeStats]] over the HASH-keyed gram frame
    * ([[graft.operators.Corpus.tokenCountHashesFromNormalized]] shape):
    * aggregate DF/TF/tdsum by `(h, tok[, extra])` (the exchange carries
    * 8-byte keys, plus the string of unigram rows only), then restore
    * `token` at the vocab-sized OUTPUT: unigram strings ride the grouping
    * key itself (`tok`, non-null only on unigram rows), multigram strings
    * come from the broadcast [[Vocabulary.hashIndex]] (post-filter
    * multigrams are vocabulary members by construction). Column
    * names/order match [[computeStats]] exactly.
    *
    * Exactness caveat: two MULTIGRAMS colliding on the full 64-bit
    * `xxhash64(gram)` would merge one stats row (~n²/2⁶⁵ odds); the
    * hashed path is checked against the string-operator witness in
    * VspacePipelineSpec, not exact by construction. A unigram
    * never merges with another gram: its string is part of the key. */
  def computeStatsHashed(countsHashed: DataFrame, vocabulary: DataFrame,
      extraGrouping: Seq[String]): DataFrame =
    aggregateHashed(countsHashed, extraGrouping, Vocabulary.hashIndex(vocabulary))

  /** Both hashed stats tables in ONE aggregation. `grams` is the
    * vocabulary-filtered hash-keyed gram frame carrying each row's
    * document `sources` (the corpus left-joined with [[documentSources]]
    * before the n-gram kernel, so null when the document has none). Every
    * gram row expands into the global scope (`global = true`, `source`
    * null) plus one scope per element of `sources` (`global = false`; a
    * null source stays distinct from the global scope); DF/TF/tdsum are
    * aggregated by
    * `(h, tok, global, source)` and the strings restored from `index`
    * ([[Vocabulary.hashIndex]]). Output
    * `(token, global, source, document_frequency, term_frequency, tdsum)`:
    * the `global` rows are [[computeStatsHashed]] with no extra grouping,
    * the others are [[computeStatsHashed]] over
    * [[combineCorpusWithSources]] grouped by `source`, row for row. */
  def computeScopedStatsHashed(grams: DataFrame, index: DataFrame): DataFrame = {
    val scopes = concat(array(lit(null).cast(StringType)),
      coalesce(col("sources"), typedLit(Seq.empty[String])))
    val scoped = grams
      .select(col("h"), col("tok"), col("tf"), col("wc"),
        posexplode(scopes).as(Seq("scope", "source")))
      .withColumn("global", col("scope") === 0)
    aggregateHashed(scoped, Seq("global", "source"), index)
  }

  private def aggregateHashed(countsHashed: DataFrame, extraGrouping: Seq[String],
      index: DataFrame): DataFrame =
    computeStats(countsHashed, Seq("h", "tok") ++ extraGrouping)
      .join(broadcast(index.withColumnRenamed("token", "__vtok")), Seq("h"), "left")
      .select(coalesce(col("tok"), col("__vtok")).as("token") +:
        (extraGrouping.map(col) ++
          Seq(col("document_frequency"), col("term_frequency"),
            col("tdsum"))): _*)

  /** The doc -> sources map: index ⋈ broadcast(sources) on subsource,
    * grouped to ONE row per document. `sources` is the multiset over all
    * the document's index rows, each contributing the sources that claim
    * its subsource, so a document listed under two subsources that one
    * source both claims appears under that source twice, exactly as in the
    * reference's row-level join. Documents with no index row, or whose
    * subsources no source claims, have no row. */
  def documentSources(index: DataFrame, sources: DataFrame): DataFrame =
    index
      .select(col("document_index"), col("subsource"))
      .join(broadcast(sources), Seq("subsource"))
      .groupBy(col("document_index"))
      .agg(flatten(collect_list(col("sources"))).as("sources"))

  /** corpus ⋈ [[documentSources]] on document_index, then explode to one
    * row per (row, source). */
  def combineCorpusWithSources(corpus: DataFrame, index: DataFrame,
      sources: DataFrame): DataFrame =
    corpus
      .join(documentSources(index, sources), Seq("document_index"))
      .withColumn("source", explode(col("sources")))
      .drop("sources")
}
