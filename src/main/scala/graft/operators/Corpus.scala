package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{everygrams, norm_tokens, normalize_text}

/** Corpus processing (reference `process_corpus` + `ngram_counts`,
  * `/root/reference/vspace/pipelines/base.py:128-189`) as one declarative
  * plan: normalize -> tokenize -> n-grams -> per-doc counts.
  *
  * Where the reference pipes every document through three Python closures
  * (`mapValues(normalize|tokenize|ngram_counter)`), this stays inside
  * whole-stage codegen end-to-end: the normalizer is a codegen'd Catalyst
  * expression, n-grams are built-in `transform/sequence/slice`, counting is
  * a partial+final hash aggregation. The canonical output is LONG format
  * `(document_index, wc, token, tf)` — the natural shuffle-friendly shape
  * at 100 TB (a MapType column would concentrate each doc's entire n-gram
  * histogram in one row; long format lets tokens hash-partition evenly).
  * `toTokenCountsMap` recovers the reference's map-typed schema when
  * compatibility matters.
  */
object Corpus {

  /** The reference drops pseudo-tokens `nferdoccount_<n>` from every n-gram
    * stream (`base.py:378, 385-389`). */
  val DocIdPattern = "^nferdoccount_[0-9]+$"

  /** N-gram depth semantics. The reference's `max_len = (max_len else wc)+1`
    * (`base.py:143`) makes nltk's inclusive bound emit up to
    * (maxNgrams+1)-grams; `compatOffByOne=true` reproduces that, the
    * default treats maxNgrams as inclusive (SURVEY §7.0 decision). */
  def maxDepth(maxNgrams: Int, compatOffByOne: Boolean): Int =
    if (compatOffByOne) maxNgrams + 1 else maxNgrams

  /** (document_index, text) -> (document_index, wc, token, tf) where token
    * ranges over 1..maxN word n-grams of the normalized text. `wc` is the
    * unigram count of the normalized doc (reference `base.py:142`).
    *
    * Counting is IN-ROW via the codegen'd ngram_counts kernel — a doc's
    * histogram needs only its own row, so the old explode+groupBy shape
    * paid the pipeline's largest exchange (every n-gram instance, ~maxN x
    * the token count) to recreate locality the data already had. This plan
    * has no shuffle at all; (token)-keyed stats downstream become the
    * pipeline's only exchange. */
  def tokenCounts(corpus: DataFrame, maxNgrams: Int,
      compatOffByOne: Boolean = false): DataFrame =
    corpus
      .select(col("document_index"), norm_tokens(col("text")).as("tokens"))
      .select(col("document_index"), size(col("tokens")).as("wc"),
        explode(graft.functions.ngram_counts(col("tokens"),
          maxDepth(maxNgrams, compatOffByOne))).as("e"))
      .select(col("document_index"), col("wc"),
        col("e.token").as("token"), col("e.tf").as("tf"))
      // prefix short-circuit (round 12): every DocIdPattern match starts
      // with the literal prefix, so `rlike => startsWith` and the regex
      // (a per-ROW java.util.regex match + UTF8String->String conversion,
      // paid once per exploded n-gram at corpus scale) only runs on the
      // vanishingly rare prefixed tokens; And-codegen short-circuits.
      .filter(!(col("token").startsWith("nferdoccount_") &&
        col("token").rlike(DocIdPattern)))

  /** [[tokenCounts]] over ALREADY normalized (single-space separated)
    * text, with HASH gram keys. The job normalizes once and feeds both the
    * normalized-corpus write and this kernel, as the reference's persisted
    * `rdd1` does (`base.py:181-189,392-394`); tokenization is then a plain
    * whitespace split. Output is long format
    * `(document_index, wc, h, n, tf, tok)` where `h = xxhash64(gram)`,
    * `n` is the gram order, and `tok` carries the STRING for unigrams
    * only. The scale rationale: every downstream consumer of the gram
    * stream — the counts block-store materialization, the vocabulary
    * probe, both stats exchanges — pays gram-string bytes it only needs
    * again at the vocab-sized report, so keying the corpus-scale rows by
    * 8-byte hashes and joining strings back at the OUTPUT
    * ([[Stats.computeStatsHashed]]) shrinks the pipeline's dominant
    * storage and shuffle volume to fixed-width rows. The pseudo-token
    * drop matches [[tokenCounts]] exactly: only unigrams can match the
    * anchored [[DocIdPattern]] (multigrams contain a space), and unigram
    * rows carry their string. Any input column besides `document_index`
    * and `text` (e.g. the document's `sources`, [[Stats.documentSources]])
    * rides along on every gram row of its document, after `tok`. */
  def tokenCountHashesFromNormalized(normalized: DataFrame, maxNgrams: Int,
      compatOffByOne: Boolean = false): DataFrame = {
    val maxN = maxDepth(maxNgrams, compatOffByOne)
    val carry = normalized.columns.toSeq
      .filterNot(Set("document_index", "text")).map(col)
    normalized
      .select(col("document_index") +:
        graft.functions.ws_tokens(col("text")).as("tokens") +: carry: _*)
      .select(Seq(col("document_index"), size(col("tokens")).as("wc"),
        explode(graft.functions.ngram_count_hashes(col("tokens"), maxN)).as("e")) ++
        carry: _*)
      .select(Seq(col("document_index"), col("wc"), col("e.h").as("h"),
        col("e.n").as("n"), col("e.tf").as("tf"), col("e.tok").as("tok")) ++
        carry: _*)
      .filter(col("n") =!= 1 ||
        !(col("tok").startsWith("nferdoccount_") &&
          col("tok").rlike(DocIdPattern)))
  }

  /** Reference-shape output: one row per doc with a token_counts map
    * (`base.py:165-188`). Only for compat surfaces — prefer long format. */
  def toTokenCountsMap(tokenCounts: DataFrame): DataFrame =
    tokenCounts
      .groupBy(col("document_index"), col("wc"))
      .agg(map_from_entries(collect_list(struct(col("token"), col("tf"))))
        .as("token_counts"))

  /** The normalized corpus side-output (reference `base.py:392-394`). */
  def normalized(corpus: DataFrame): DataFrame =
    corpus.select(col("document_index"), normalize_text(col("text")).as("text"))
}
