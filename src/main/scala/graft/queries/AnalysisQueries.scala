package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{rolling_hash, word_ngrams}

/** Text-analysis battery over `documents`: language-ID heuristic, quality
  * scoring, regex token estimation, and winnowing document fingerprints.
  * All per-document map-side work (no shuffle except the final aggregates)
  * — at 100 TB these run as a single scan + whole-stage-codegen'd pass.
  */
object AnalysisQueries {

  /** Per-document quality metrics (shared by q51 scoring and the q55
    * filter verdict): word count, lexical diversity, stopword ratio, mean
    * token length, and the composite quality score — all map-side. */
  private[queries] def qualityMetrics(docs: org.apache.spark.sql.DataFrame) = {
    fanout(docs)
      .select(col("doc_id"),
        split(col("text"), " ").as("toks"),
        length(regexp_replace(col("text"), " ", "")).as("letters"))
      .select(col("doc_id"),
        size(col("toks")).as("wc"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("diversity"),
        (size(filter(col("toks"), t => t.isin("the", "a"))).cast("double")
          / size(col("toks"))).as("stop_ratio"),
        (col("letters").cast("double") / size(col("toks"))).as("mean_tok_len"))
      .withColumn("quality",
        least(col("wc") / 100.0, lit(1.0)) * 0.4
          + col("diversity") * 0.4
          + (lit(1.0) - col("stop_ratio")) * 0.2)
  }

  /** DuckDB CTE chain shared by q122 (training audit) and q130 (AUC of
    * the trained scorer): the integer feature frame plus the 5 perceptron
    * epochs unrolled (w1..w5; w5 = final weights). Integer arithmetic
    * keeps every epoch bit-identical to the Spark fit. */
  private val PerceptronCtes: String =
    """WITH f AS (SELECT
             |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             |    1::BIGINT AS x0,
             |    len(string_split(text, ' '))::BIGINT AS x1,
             |    len(list_filter(string_split(text, ' '),
             |        t -> len(t) >= 8))::BIGINT AS x2,
             |    (n_chars // 100)::BIGINT AS x3
             |  FROM documents),
             |e1 AS (SELECT sum(CASE WHEN y*0 <= 0 THEN y*x0 ELSE 0 END) AS g0,
             |    sum(CASE WHEN y*0 <= 0 THEN y*x1 ELSE 0 END) AS g1,
             |    sum(CASE WHEN y*0 <= 0 THEN y*x2 ELSE 0 END) AS g2,
             |    sum(CASE WHEN y*0 <= 0 THEN y*x3 ELSE 0 END) AS g3,
             |    count(*) FILTER (y*0 <= 0) AS m, count(*) AS n FROM f),
             |w1 AS (SELECT g0 AS w0, g1 AS w1, g2 AS w2, g3 AS w3, m, n
             |       FROM e1),
             |e2 AS (SELECT
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x0 ELSE 0 END) AS g0,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x1 ELSE 0 END) AS g1,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x2 ELSE 0 END) AS g2,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x3 ELSE 0 END) AS g3,
             |    count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0) AS m,
             |    count(*) AS n
             |  FROM f CROSS JOIN w1),
             |w2 AS (SELECT w0+g0 AS w0, w1+g1 AS w1, w2+g2 AS w2,
             |              w3+g3 AS w3, e2.m AS m, e2.n AS n FROM w1, e2),
             |e3 AS (SELECT
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x0 ELSE 0 END) AS g0,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x1 ELSE 0 END) AS g1,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x2 ELSE 0 END) AS g2,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x3 ELSE 0 END) AS g3,
             |    count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0) AS m,
             |    count(*) AS n
             |  FROM f CROSS JOIN w2),
             |w3_ AS (SELECT w0+g0 AS w0, w1+g1 AS w1, w2+g2 AS w2,
             |               w3+g3 AS w3, e3.m AS m, e3.n AS n FROM w2, e3),
             |e4 AS (SELECT
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x0 ELSE 0 END) AS g0,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x1 ELSE 0 END) AS g1,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x2 ELSE 0 END) AS g2,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x3 ELSE 0 END) AS g3,
             |    count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0) AS m,
             |    count(*) AS n
             |  FROM f CROSS JOIN w3_),
             |w4 AS (SELECT w0+g0 AS w0, w1+g1 AS w1, w2+g2 AS w2,
             |              w3+g3 AS w3, e4.m AS m, e4.n AS n FROM w3_, e4),
             |e5 AS (SELECT
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x0 ELSE 0 END) AS g0,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x1 ELSE 0 END) AS g1,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x2 ELSE 0 END) AS g2,
             |    sum(CASE WHEN y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0
             |        THEN y*x3 ELSE 0 END) AS g3,
             |    count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3) <= 0) AS m,
             |    count(*) AS n
             |  FROM f CROSS JOIN w4),
             |w5 AS (SELECT w0+g0 AS w0, w1+g1 AS w1, w2+g2 AS w2,
             |              w3+g3 AS w3, e5.m AS m, e5.n AS n FROM w4, e5)""".stripMargin

  /** Per-doc bigram histogram (doc_id, bg, c), shared by the bigram-LM
    * family (q82 MLE, q131 Kneser-Ney). One corpus pass: the histogram
    * feeds BOTH the model aggregation and the scoring join (Catalyst has
    * no cross-branch subexpression reuse — without materializing, the
    * corpus-sized explode would run twice). The histogram is also smaller
    * than the raw explode (within-doc repeats collapse), and the
    * per-occurrence mean becomes the c-weighted mean. */
  private def bigramHistogram(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    fanout(Tables(s, dir, "documents"))
      .select(col("doc_id"),
        explode(word_ngrams(split(col("text"), " "), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint()

  /** Per-doc Kneser-Ney NLL (q131 body, shared with the q192 perplexity
    * bucketer): interpolated KN bigram model fit on the corpus itself,
    * scored per doc; nll rounded to 4 so every downstream consumer works
    * from the same engine-stable values. */
  private def knNllPerDoc(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val D = 0.75
    val perDoc = bigramHistogram(s, dir)
    val types = perDoc.groupBy(col("bg")).agg(sum(col("c")).as("c12"))
      .localCheckpoint()
    val total = broadcast(types.agg(count(lit(1)).as("t")))
    val byW1 = Window.partitionBy(col("w1"))
    val byW2 = Window.partitionBy(col("w2"))
    val model = types
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .withColumn("c1", sum(col("c12")).over(byW1))
      .withColumn("n1", count(lit(1)).over(byW1))
      .withColumn("n2", count(lit(1)).over(byW2))
      .crossJoin(total)
      .select(col("bg"),
        log(greatest(col("c12") - lit(D), lit(0.0)) / col("c1")
          + lit(D) * col("n1") / col("c1") * col("n2") / col("t"))
          .as("logp"))
    perDoc.join(model, "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        round(-(sum(col("c") * col("logp")) / sum(col("c"))), 4)
          .as("nll_kn"))
  }

  /** Integer feature frame for the perceptron family (q122 fit audit, q130
    * AUC): label y = +-1 on lang='en'; features bias, token count,
    * long-token count, n_chars/100. localCheckpoint'ed — the fit scans it
    * once per epoch and the AUC scorer once more. */
  private def perceptronFeatures(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    fanout(Tables(s, dir, "documents"))
      .select(
        when(col("lang") === "en", 1).otherwise(-1).as("y"),
        lit(1L).as("x0"),
        size(toks).cast("long").as("x1"),
        size(filter(toks, t => length(t) >= 8)).cast("long").as("x2"),
        floor(col("n_chars") / 100).cast("long").as("x3"))
      .localCheckpoint()
  }

  /** Deterministic epoch shuffle (q105 + EpochShuffleSpec): seeded-hash
    * training order, sharded by pmod(hash, nShards), position within shard
    * by hash order (doc_id tiebreak — xxhash64 collisions are 2^-64 but
    * the output must be a total order regardless). */
  private[graft] def epochShuffle(docs: org.apache.spark.sql.DataFrame,
      seed: Long, nShards: Int): org.apache.spark.sql.DataFrame = {
    val h = graft.functions.xxhash64_seeded(seed, col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    fanout(docs)
      .select(col("doc_id"), h.as("h"),
        pmod(h, lit(nShards.toLong)).cast("int").as("shard"))
      .withColumn("pos", row_number().over(w))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Hashed-TF featurizer (the feature-hashing trick): token → bucket via
    * seeded xxhash64, per-doc bucket counts densified in-row to a unit
    * `array<double>` of length `dim`. One explode + one (doc,bucket) agg +
    * one doc agg — no vocabulary, no fit, fixed output width at any
    * corpus size. */
  private[graft] def hashedTfVectors(docs: org.apache.spark.sql.DataFrame,
      dim: Int): org.apache.spark.sql.DataFrame = {
    val raw = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        pmod(graft.functions.xxhash64_seeded(7L, col("t")), lit(dim.toLong))
          .cast("int").as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("double").as("n"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("n")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("raw"))
    raw
      .select(col("doc_id"), col("raw"),
        sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)).as("nrm"))
      .select(col("doc_id"),
        transform(col("raw"), x => x / col("nrm")).as("v"))
  }

  val queries: Seq[Q] = Seq(

    // --- stopword-ratio language heuristic vs the labeled lang column.
    //     (The synthetic corpus shares one vocabulary across langs, so this
    //     grades the plumbing, not linguistics.) ---
    Q("q50_langid_confusion",
      (s, dir) => {
        val toks = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).as("wc"),
            explode(split(col("text"), " ")).as("token"))
        toks.groupBy(col("doc_id"), col("lang"), col("wc"))
          .agg(count(when(col("token").isin("the", "a"), 1)).as("n_stop"))
          .select(col("lang"),
            when(col("n_stop").cast("double") / col("wc") >= 0.05, "en")
              .otherwise("unk").as("predicted"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, len(string_split(text,' ')) AS wc,
             |         unnest(string_split(text,' ')) AS token
             |  FROM documents),
             |per_doc AS (
             |  SELECT doc_id, lang, wc,
             |         count(*) FILTER (token IN ('the','a')) AS n_stop
             |  FROM toks GROUP BY 1,2,3),
             |pred AS (
             |  SELECT lang, CASE WHEN n_stop::DOUBLE / wc >= 0.05
             |    THEN 'en' ELSE 'unk' END AS predicted
             |  FROM per_doc)
             |SELECT lang, predicted, count(*) AS n FROM pred
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- quality scoring: length, lexical diversity, stopword ratio,
    //     mean token length -> one composite score per document ---
    Q("q51_quality_scores",
      (s, dir) => {
        qualityMetrics(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("wc"),
            round(col("diversity"), 4).as("diversity"),
            round(col("stop_ratio"), 4).as("stop_ratio"),
            round(col("mean_tok_len"), 4).as("mean_tok_len"),
            round(col("quality"), 4).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text,' ') AS toks,
             |         len(replace(text,' ','')) AS letters
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, len(toks) AS wc,
             |         len(list_distinct(toks))::DOUBLE / len(toks) AS diversity,
             |         len(list_filter(toks, t -> t IN ('the','a')))::DOUBLE
             |           / len(toks) AS stop_ratio,
             |         letters::DOUBLE / len(toks) AS mean_tok_len
             |  FROM d)
             |SELECT doc_id, wc, round(diversity,4) AS diversity,
             |       round(stop_ratio,4) AS stop_ratio,
             |       round(mean_tok_len,4) AS mean_tok_len,
             |       round(least(wc/100.0, 1.0)*0.4 + diversity*0.4
             |             + (1.0-stop_ratio)*0.2, 4) AS quality
             |FROM m ORDER BY doc_id""".stripMargin),
      bench = true),

    // --- codegen'd char-entropy quality signal (functions.CharEntropy —
    //     a native Catalyst expression, so the whole scan->score->filter
    //     pipeline is ONE generated loop, no UDF boundary): Shannon entropy
    //     in nats over each doc's codepoint distribution; boilerplate and
    //     repeated-char junk score low. Oracled against DuckDB computing
    //     the identical sum over char groups (round 6 absorbs the two
    //     engines' float summation orders). ---
    Q("q103_char_entropy",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            round(graft.functions.char_entropy(col("text")), 6).as("h"),
            (graft.functions.char_entropy(col("text")) < lit(2.0))
              .as("low_diversity"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id, unnest(string_split(text,'')) AS ch,
             |                  len(text) AS n
             |           FROM documents),
             |f AS (SELECT doc_id, n, ch, count(*) AS k FROM c
             |      GROUP BY 1,2,3),
             |h AS (SELECT doc_id,
             |             -sum((k::DOUBLE/n) * ln(k::DOUBLE/n)) AS h
             |      FROM f GROUP BY 1)
             |SELECT doc_id, round(h, 6) AS h, h < 2.0 AS low_diversity
             |FROM h ORDER BY doc_id""".stripMargin)),

    // --- regex token estimate (BPE-ish segmentation: letter runs, digit
    //     runs, other non-space symbols) ---
    Q("q52_token_estimate",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |  AS n_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- winnowing fingerprints: rolling hash of 3-token shingles, min per
    //     sliding window of 4 -> distinct fingerprints per doc. The custom
    //     codegen'd rolling_hash (h = h*1000003 + UTF-16 unit over the
    //     2^64 ring — Java long wraparound) is reproduced in the oracle
    //     with HUGEINT list_reduce arithmetic + an explicit mod-2^64 and a
    //     two's-complement cast back to BIGINT. DuckDB's unicode(ch)
    //     yields CODEPOINTS where Java charAt yields UTF-16 units — equal
    //     on BMP text (the corpus is ASCII); supplementary-plane input
    //     would diverge. list_distinct drops NULLs where array_distinct
    //     keeps them, which matters only for docs under 3 tokens (none in
    //     the corpus; every doc has >= 10). ---
    Q("q53_fingerprint_winnow",
      (s, dir) => {
        // word_ngram_rolling_hashes + window_mins (round 12): BOTH halves
        // of the composed chain fused — the gram-string construction
        // (transform+slice+array_join, interpreted) and the per-position
        // slice+array_min window fold (bit-identical incl. short/empty
        // arrays — FoldKernelsSpec)
        val sh = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            graft.functions.word_ngram_rolling_hashes(
              split(col("text"), " "), 3).as("hashes"))
        sh.select(col("doc_id"),
            graft.functions.window_mins(col("hashes"), 4).as("wins"))
          .select(col("doc_id"),
            size(array_distinct(col("wins"))).as("n_fingerprints"),
            array_min(col("wins")).as("min_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |g AS (SELECT doc_id,
             |        [array_to_string(toks[i:i+2], ' ')
             |         FOR i IN range(1, len(toks)-1)] AS grams
             |      FROM t),
             |h AS (SELECT doc_id,
             |        [CASE WHEN x >= 9223372036854775808::HUGEINT
             |              THEN (x - 18446744073709551616::HUGEINT)::BIGINT
             |              ELSE x::BIGINT END
             |         FOR x IN [list_reduce(
             |             list_prepend(0::HUGEINT,
             |               [unicode(ch)::HUGEINT FOR ch IN string_split(gm, '')]),
             |             (acc, c) -> (acc * 1000003::HUGEINT + c)
             |                         % 18446744073709551616::HUGEINT)
             |           FOR gm IN grams]] AS hashes
             |      FROM g),
             |w AS (SELECT doc_id,
             |        [list_min(hashes[i:i+3])
             |         FOR i IN range(1, greatest(len(hashes)-3, 1)+1)] AS wins
             |      FROM h)
             |SELECT doc_id, len(list_distinct(wins)) AS n_fingerprints,
             |       list_min(wins) AS min_fp
             |FROM w ORDER BY doc_id""".stripMargin)),

    // --- Zipf profile: frequency-of-frequencies of the term distribution
    //     (log2 buckets) — the shape check every corpus pipeline runs ---
    Q("q54_zipf_profile",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("tf"))
          .select(floor(log2(col("tf"))).cast("long").as("log2_tf_bucket"))
          .groupBy(col("log2_tf_bucket"))
          .agg(count(lit(1)).as("n_terms"))
          .orderBy(col("log2_tf_bucket"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text,' ')) AS token FROM documents),
             |tf AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1)
             |SELECT floor(log2(tf))::BIGINT AS log2_tf_bucket,
             |       count(*) AS n_terms
             |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- the corpus-filter verdict: the keep/drop decision a training-data
    //     pipeline actually materializes, with the FIRST failing rule as
    //     the reject reason (length bounds -> quality floor -> diversity
    //     floor). Pure map-side over the shared quality metrics; at 100 TB
    //     this is the single-scan pass that writes the kept corpus. ---
    Q("q55_corpus_filter",
      (s, dir) => {
        qualityMetrics(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("wc"),
            round(col("quality"), 4).as("quality"),
            when(col("wc") < 5 || col("wc") > 1000, "len")
              .when(col("quality") < 0.5, "quality")
              .when(col("diversity") < 0.2, "diversity")
              .otherwise("keep").as("verdict"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |m AS (
             |  SELECT doc_id, len(toks) AS wc,
             |         len(list_distinct(toks))::DOUBLE / len(toks) AS diversity,
             |         len(list_filter(toks, t -> t IN ('the','a')))::DOUBLE
             |           / len(toks) AS stop_ratio
             |  FROM d),
             |q AS (
             |  SELECT doc_id, wc, diversity,
             |         least(wc/100.0, 1.0)*0.4 + diversity*0.4
             |           + (1.0-stop_ratio)*0.2 AS quality
             |  FROM m)
             |SELECT doc_id, wc, round(quality,4) AS quality,
             |       CASE WHEN wc < 5 OR wc > 1000 THEN 'len'
             |            WHEN quality < 0.5 THEN 'quality'
             |            WHEN diversity < 0.2 THEN 'diversity'
             |            ELSE 'keep' END AS verdict
             |FROM q ORDER BY doc_id""".stripMargin)),

    // --- repetition filter (the Gopher-style repeated-n-gram rules):
    //     duplicate-bigram and duplicate-trigram fractions per document,
    //     entirely map-side from the token array (no explode, no shuffle —
    //     at 100 TB this is part of the single quality scan). Thresholds
    //     flag ~1/5 of the synthetic corpus so both classes appear. ---
    Q("q57_repetition_filter",
      (s, dir) => {
        // gram-free like q57b (round 12): distinct counts via the fused
        // kernel, raw counts arithmetically — no gram arrays materialized
        import graft.functions.{word_ngram_count, word_ngrams_distinct}
        val toks = split(col("text"), " ")
        def dupFrac(n: Int): Column = round(lit(1.0) -
          size(word_ngrams_distinct(toks, n)).cast("double")
            / greatest(word_ngram_count(toks, n), lit(1)), 4)
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            dupFrac(2).as("dup_bigram_frac"),
            dupFrac(3).as("dup_trigram_frac"))
          .withColumn("repetitive",
            col("dup_bigram_frac") > 0.05 || col("dup_trigram_frac") > 0.02)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |g AS (SELECT doc_id,
             |        [array_to_string(toks[i:i+1],' ')
             |         for i in range(1, len(toks))] AS bg,
             |        [array_to_string(toks[i:i+2],' ')
             |         for i in range(1, len(toks)-1)] AS tg
             |      FROM t),
             |m AS (SELECT doc_id,
             |        round(1 - len(list_distinct(bg))::DOUBLE
             |          / greatest(len(bg), 1), 4) AS dup_bigram_frac,
             |        round(1 - len(list_distinct(tg))::DOUBLE
             |          / greatest(len(tg), 1), 4) AS dup_trigram_frac
             |      FROM g)
             |SELECT doc_id, dup_bigram_frac, dup_trigram_frac,
             |       (dup_bigram_frac > 0.05 OR dup_trigram_frac > 0.02)
             |         AS repetitive
             |FROM m ORDER BY doc_id""".stripMargin)),

    // --- Gopher-complete repetition rules (q57's companion; "Scaling
    //     Language Models: Methods, Analysis & Insights from Training
    //     Gopher", Rae et al. 2021, Table A1 uses duplicate-n-gram
    //     fractions up to n=10 plus top-n-gram share): longer-window
    //     duplicate fractions (5-/10-grams) and the share of the most
    //     frequent bigram. All in-row from the token array like q57 — the
    //     top-bigram mode is a nested higher-order expression over the
    //     in-row bigram array (O(distinct x len) per doc, bounded by doc
    //     length), so there is still no explode and no shuffle: at 100 TB
    //     this stays part of the single quality scan. ---
    Q("q57b_gopher_repetition",
      (s, dir) => {
        val toks = split(col("text"), " ")
        // Fully gram-free (round 12): the composed-vs-fused laps (SURVEY.md
        // "The interpreted-HOF hunt") showed fusing only the terminal
        // mode fold was NEUTRAL at pipeline scale — the interpreted
        // word_ngrams ARRAY construction was the cost (the r11
        // shingle lesson again). Now: distinct counts via the fused
        // word_ngrams_distinct, raw gram counts computed arithmetically
        // (word_ngram_count — the transform's output length), and the mode
        // via the gram-fused word_ngram_top_count; no gram array is ever
        // materialized. Value-identical (FoldKernelsSpec; oracle
        // unchanged).
        import graft.functions.{word_ngram_count, word_ngram_top_count, word_ngrams_distinct}
        def dupFrac(n: Int): Column = round(lit(1.0) -
          size(word_ngrams_distinct(toks, n)).cast("double")
            / greatest(word_ngram_count(toks, n), lit(1)), 4)
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            dupFrac(5).as("dup_5gram_frac"),
            dupFrac(10).as("dup_10gram_frac"),
            round(coalesce(
              word_ngram_top_count(toks, 2).cast("double")
                / greatest(word_ngram_count(toks, 2), lit(1)), lit(0.0)), 4)
              .as("top_bigram_share"))
          .withColumn("repetitive",
            col("dup_5gram_frac") > 0.10 || col("dup_10gram_frac") > 0.05 ||
              col("top_bigram_share") > 0.18)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |g AS (SELECT doc_id,
             |        [array_to_string(toks[i:i+1],' ')
             |         for i in range(1, len(toks))] AS bg,
             |        [array_to_string(toks[i:i+4],' ')
             |         for i in range(1, len(toks)-3)] AS g5,
             |        [array_to_string(toks[i:i+9],' ')
             |         for i in range(1, len(toks)-8)] AS g10
             |      FROM t),
             |m AS (SELECT doc_id,
             |        round(1 - len(list_distinct(g5))::DOUBLE
             |          / greatest(len(g5), 1), 4) AS dup_5gram_frac,
             |        round(1 - len(list_distinct(g10))::DOUBLE
             |          / greatest(len(g10), 1), 4) AS dup_10gram_frac,
             |        round(coalesce(
             |          list_max([len(list_filter(bg, y -> y = x))
             |                    for x in list_distinct(bg)])::DOUBLE
             |            / greatest(len(bg), 1), 0), 4) AS top_bigram_share
             |      FROM g)
             |SELECT doc_id, dup_5gram_frac, dup_10gram_frac, top_bigram_share,
             |       (dup_5gram_frac > 0.10 OR dup_10gram_frac > 0.05
             |        OR top_bigram_share > 0.18) AS repetitive
             |FROM m ORDER BY doc_id""".stripMargin)),

    // --- sequence packing (concat-then-chunk): documents are concatenated
    //     in doc_id order WITHIN EACH SOURCE and cut into 512-token bins —
    //     the standard pretraining packing shape. Packing per source (not
    //     globally) is the scale decision: a single global ordered cumsum
    //     would funnel 100 TB through one partition; per-source windows
    //     parallelize across sources while keeping each bin deterministic. ---
    Q("q58_sequence_packing",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Long.MinValue, -1)
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("wc"))
          .withColumn("cum_before", coalesce(sum(col("wc")).over(w), lit(0L)))
          .withColumn("bin_id", expr("cum_before div 512"))
          .groupBy(col("source"), col("bin_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("source"), col("bin_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, len(string_split(text,' '))::BIGINT AS wc
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, wc,
             |    coalesce(sum(wc) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |      AS cum_before
             |  FROM d)
             |SELECT source, cum_before // 512 AS bin_id, count(*) AS n_docs,
             |       sum(wc)::BIGINT AS n_tokens,
             |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- deterministic stratified sampling: keep a per-language fraction
    //     chosen by an md5 threshold on doc_id (en downsampled to ~25%,
    //     others kept at ~75%) — the rebalancing pass every multilingual
    //     training mix runs. Hash-threshold sampling is reproducible across
    //     runs/engines/cluster sizes and needs no shuffle or state, unlike
    //     rand()-based sampling; the first two hex chars of md5 give 256
    //     uniform buckets and hex strings compare lexicographically. ---
    Q("q59_stratified_sample",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
              .as("h"))
          .filter(col("h") < when(col("lang") === "en", "40").otherwise("c0"))
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, substr(md5(doc_id::VARCHAR),1,2) AS h
             |  FROM documents)
             |WHERE h < CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END
             |ORDER BY doc_id""".stripMargin)),

    // --- weighted reservoir sampling without replacement (Efraimidis &
    //     Spirakis 2006, A-ES): per-stratum top-k by the exponential key
    //     -ln(u)/w, which selects each doc with probability proportional
    //     to its weight — the quality-weighted subsampling pass that picks
    //     the best k docs per source WITHOUT a global sort. u is an md5-
    //     derived 52-bit uniform (reproducible across runs, engines, and
    //     cluster sizes — same rationale as q59; and md5 exists in DuckDB,
    //     so the whole sampler is ORACLED, not rows-only). The top-k per
    //     stratum runs through the bounded-heap top_k aggregate: map-side
    //     partial heaps of size k, so the stratum shuffle carries
    //     k·n_partitions rows, never the corpus. WeightedSampleSpec pins
    //     the inclusion-probability ∝ weight law across 2000 seeds. ---
    Q("q104_weighted_sample",
      (s, dir) => {
        val d = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars").as("w"),
            conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 13),
              16, 10).cast("long").as("x"))
        // u in (0,1]: (x+1) / (2^52+1); key = -ln(u)/w, smaller = better
        val key = -log((col("x") + 1) / lit(4503599627370497.0)) / col("w")
        d.select(col("source"),
            struct(key.as("k"), col("doc_id"), col("w")).as("e"))
          .groupBy(col("source"))
          .agg(graft.functions.top_k(col("e"), 10, smallest = true).as("top"))
          .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
          .select(col("source"), col("e.doc_id").as("doc_id"),
            col("e.w").as("w"), (col("i") + 1).as("rk"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars AS w,
             |  ('0x' || substr(md5(doc_id::VARCHAR),1,13))::BIGINT AS x
             |  FROM documents),
             |k AS (SELECT doc_id, source, w,
             |        -ln((x+1) / 4503599627370497.0) / w AS key FROM d),
             |r AS (SELECT doc_id, source, w,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY key, doc_id) AS rk FROM k)
             |SELECT source, doc_id, w, rk::INT AS rk FROM r
             |WHERE rk <= 10 ORDER BY source, rk""".stripMargin)),

    // --- deterministic epoch shuffle: the training-order randomization
    //     pass — a seeded hash ordering instead of rand(), so every
    //     re-run / resumed job / engine sees the identical permutation.
    //     Sharding is pmod(hash, n): at cluster scale the writer is
    //     repartition(shard) + sortWithinPartitions(hash) (one shuffle,
    //     no global sort, no window); the gate formulation adds the
    //     per-shard position explicitly. New seed => fresh decorrelated
    //     permutation per epoch (EpochShuffleSpec pins permutation,
    //     balance, determinism, and seed sensitivity). Oracle: Spark's
    //     XxHash64 over an 8-byte little-endian long is a fixed, public
    //     formula (seed + PRIME5 + 8; one mul/rotl31/mul round; one
    //     rotl27·PRIME1+PRIME4 fold; the standard avalanche), reproduced
    //     here with HUGEINT arithmetic — 64×64-bit products split at 2^32
    //     because a full product overflows HUGEINT, rotations as
    //     mul/div by powers of two, xor natively. pmod(h, 8) equals the
    //     unsigned value mod 8 since 8 divides 2^64. ---
    Q("q105_epoch_shuffle",
      (s, dir) =>
        epochShuffle(Tables(s, dir, "documents"), seed = 2026L, nShards = 8),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    doc_id::HUGEINT AS lu, -- doc ids are non-negative
             |    11400714785074694791::HUGEINT AS p1,
             |    14029467366897019727::HUGEINT AS p2,
             |    1609587929392839161::HUGEINT AS p3,
             |    9650029242287828579::HUGEINT AS p4,
             |    (2026 + 2870177450012600261::HUGEINT + 8)
             |      % 18446744073709551616::HUGEINT AS h0,
             |    ((lu % 4294967296) * (p2 % 4294967296)
             |      + ((lu // 4294967296) * (p2 % 4294967296)
             |         + (lu % 4294967296) * (p2 // 4294967296)) * 4294967296)
             |      % 18446744073709551616::HUGEINT AS k1,
             |    (k1 * 2147483648 + k1 // 8589934592)
             |      % 18446744073709551616::HUGEINT AS k2,
             |    ((k2 % 4294967296) * (p1 % 4294967296)
             |      + ((k2 // 4294967296) * (p1 % 4294967296)
             |         + (k2 % 4294967296) * (p1 // 4294967296)) * 4294967296)
             |      % 18446744073709551616::HUGEINT AS k3,
             |    xor(h0, k3) AS h1,
             |    (h1 * 134217728 + h1 // 137438953472)
             |      % 18446744073709551616::HUGEINT AS h1r,
             |    (((h1r % 4294967296) * (p1 % 4294967296)
             |      + ((h1r // 4294967296) * (p1 % 4294967296)
             |         + (h1r % 4294967296) * (p1 // 4294967296)) * 4294967296)
             |     + p4) % 18446744073709551616::HUGEINT AS h2,
             |    xor(h2, h2 // 8589934592) AS f1,
             |    ((f1 % 4294967296) * (p2 % 4294967296)
             |      + ((f1 // 4294967296) * (p2 % 4294967296)
             |         + (f1 % 4294967296) * (p2 // 4294967296)) * 4294967296)
             |      % 18446744073709551616::HUGEINT AS f2,
             |    xor(f2, f2 // 536870912) AS f3,
             |    ((f3 % 4294967296) * (p3 % 4294967296)
             |      + ((f3 // 4294967296) * (p3 % 4294967296)
             |         + (f3 % 4294967296) * (p3 // 4294967296)) * 4294967296)
             |      % 18446744073709551616::HUGEINT AS f4,
             |    xor(f4, f4 // 4294967296) AS f5,
             |    CASE WHEN f5 >= 9223372036854775808::HUGEINT
             |         THEN (f5 - 18446744073709551616::HUGEINT)::BIGINT
             |         ELSE f5::BIGINT END AS h
             |  FROM documents),
             |r AS (SELECT (f5 % 8)::INTEGER AS shard,
             |        row_number() OVER (PARTITION BY f5 % 8
             |          ORDER BY h, doc_id)::INTEGER AS pos,
             |        doc_id
             |      FROM s)
             |SELECT shard, pos, doc_id FROM r ORDER BY shard, pos""".stripMargin)),

    // --- DSIR importance weights (Xie et al. 2023, "Data Selection for
    //     Language Models via Importance Resampling"): score every raw doc
    //     by how target-like its unigram bag is — log w(x) = Σ_tok
    //     tf(x,tok)·[ln p_target(tok) − ln p_raw(tok)], add-0.5 smoothing
    //     over the raw vocab. Target exemplar here is source 'src0'; at
    //     scale the features are HASH BUCKETS (fixed-width table) — with
    //     the gate's tiny vocab, token strings keep the oracle exact. Two
    //     token aggs build the (vocab-sized, broadcast) weight table; the
    //     scoring pass is explode → broadcast join → per-doc sum — no
    //     corpus-scale shuffle beyond the doc-keyed agg. Paired with q104
    //     the weights drive the actual resample. Rounding absorbs the
    //     engines' float summation orders. ---
    Q("q108_dsir_weights",
      (s, dir) => {
        val tok = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("token"))
        val raw = tok.groupBy(col("token")).agg(
          count(lit(1)).as("cr"),
          count(when(col("source") === "src0", 1)).as("ct"))
        val tot = raw.agg(sum(col("cr")).cast("double").as("nr"),
          sum(col("ct")).cast("double").as("nt"),
          count(lit(1)).cast("double").as("v"))
        val w = raw.crossJoin(broadcast(tot))
          .select(col("token"),
            (log((col("ct") + 0.5) / (col("nt") + col("v") * 0.5)) -
             log((col("cr") + 0.5) / (col("nr") + col("v") * 0.5)))
              .as("lw"))
        tok.join(broadcast(w), "token")
          .groupBy(col("doc_id"))
          .agg(round(sum(col("lw")), 4).as("dsir_logw"),
            count(lit(1)).as("n_toks"))
          .orderBy(col("dsir_logw").desc, col("doc_id"))
          .limit(100)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, source, unnest(string_split(text,' ')) AS token
             |  FROM documents),
             |raw AS (SELECT token, count(*) AS cr,
             |               count(*) FILTER (source = 'src0') AS ct
             |        FROM tok GROUP BY 1),
             |tot AS (SELECT sum(cr)::DOUBLE AS nr, sum(ct)::DOUBLE AS nt,
             |               count(*)::DOUBLE AS v FROM raw),
             |w AS (SELECT token,
             |        ln((ct + 0.5) / (nt + 0.5 * v)) -
             |        ln((cr + 0.5) / (nr + 0.5 * v)) AS lw
             |      FROM raw CROSS JOIN tot)
             |SELECT doc_id, round(sum(lw), 4) AS dsir_logw,
             |       count(*) AS n_toks
             |FROM tok JOIN w USING (token)
             |GROUP BY doc_id
             |ORDER BY dsir_logw DESC, doc_id LIMIT 100""".stripMargin)),

    // --- token dispersion (Gries 2008, "DP"): how unevenly a token
    //     spreads across sources — 0.5·Σ_parts |v_i − s_i| with v the
    //     token's per-part share and s the part's corpus share. Bursty
    //     boilerplate scores high even when frequent, which is why DP
    //     complements raw DF for stopword/boilerplate decisions. Absent
    //     parts are folded in CLOSED FORM (Σ_absent s = 1 − Σ_present s),
    //     so the plan touches only observed (source, token) rows — a
    //     parts×vocab frame never materializes at any corpus size. ---
    Q("q118_token_dispersion",
      (s, dir) => {
        val st = fanout(Tables(s, dir, "documents"))
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("c_st"))
          .localCheckpoint()
        val perTok = st.groupBy(col("token")).agg(sum(col("c_st")).as("ct"))
        val perSrc = st.groupBy(col("source")).agg(sum(col("c_st")).as("cs"))
        val grand = perSrc.agg(sum(col("cs")).cast("double").as("c"))
        st.join(broadcast(perSrc), "source")
          .crossJoin(broadcast(grand))
          .join(perTok, "token")
          .groupBy(col("token"), col("ct"))
          .agg(sum(abs(col("c_st") / col("ct") - col("cs") / col("c")))
            .as("present_term"),
            sum(col("cs") / col("c")).as("present_share"))
          .filter(col("ct") >= 100)
          .select(col("token"), col("ct").as("n"),
            round((col("present_term") + 1.0 - col("present_share")) * 0.5, 4)
              .as("dp"))
          .orderBy(col("dp").desc, col("token"))
          .limit(50)
      },
      Some("""WITH tok AS (SELECT source,
             |               unnest(string_split(text,' ')) AS token
             |             FROM documents),
             |st AS (SELECT source, token, count(*) AS c_st
             |       FROM tok GROUP BY 1,2),
             |t AS (SELECT token, sum(c_st) AS ct FROM st GROUP BY 1),
             |s AS (SELECT source, sum(c_st) AS cs FROM st GROUP BY 1),
             |g AS (SELECT sum(cs)::DOUBLE AS c FROM s)
             |SELECT token, ct::BIGINT AS n,
             |  round((sum(abs(c_st / ct::DOUBLE - cs / c))
             |         + 1.0 - sum(cs / c)) * 0.5, 4) AS dp
             |FROM st JOIN s USING (source) JOIN t USING (token) CROSS JOIN g
             |GROUP BY token, ct
             |HAVING ct >= 100
             |ORDER BY dp DESC, token LIMIT 50""".stripMargin)),

    // --- document clustering over hashed-TF vectors: the text→vector
    //     bridge (feature hashing, Weinberger et al. 2009) composed with
    //     the trained KMeans — topic-shaped corpus profiling without
    //     embeddings. Featurization is pure Catalyst (one explode, one
    //     (doc,bucket) agg, dense 64-dim reassembly in-row); training
    //     collects only k×64 doubles per round; assignment is the
    //     map-side codegen'd struct-argmin. Per-cluster avg cosine to the
    //     (unit) centroid is the in-engine cohesion metric — trained
    //     model => rows-only gate; DocClusterSpec pins the featurizer. ---
    Q("q117_doc_clusters",
      (s, dir) => {
        val vecs = hashedTfVectors(
          fanout(Tables(s, dir, "documents")), dim = 64).localCheckpoint()
        val centroids = graft.operators.KMeans.fit(
          vecs, "v", "doc_id", k = 8, iters = 10)
        val unit = centroids.map { c =>
          val n = math.sqrt(c.map(x => x * x).sum)
          if (n == 0) c else c.map(_ / n)
        }
        val cos = unit.zipWithIndex
          .foldLeft(lit(Double.NaN)) { case (acc, (c, i)) =>
            when(col("cluster") === i,
              graft.functions.vec_dot(col("v"), typedLit(c.toSeq)))
              .otherwise(acc)
          }
        vecs
          .withColumn("cluster",
            graft.operators.KMeans.nearestCentroid(col("v"), centroids))
          .select(col("cluster"), cos.as("cos"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_docs"), round(avg(col("cos")), 4).as("avg_cos"))
          .orderBy(col("cluster"))
      },
      None),

    // --- DSIR selection end-to-end (q108 ∘ q104): the actual data-
    //     selection pass — importance weights from the target-vs-raw
    //     unigram models, length-normalized (per-token mean log ratio, so
    //     long docs aren't favored), exponentiated into sampling weights,
    //     and drawn WITHOUT a global sort via the Efraimidis–Spirakis
    //     exponential keys through the bounded-heap top_k (k·n_partitions
    //     rows cross the final shuffle). The md5-derived uniform keeps the
    //     draw reproducible across engines and cluster sizes, so the whole
    //     composed pipeline is ORACLED. ---
    Q("q116_dsir_resample",
      (s, dir) => {
        val tok = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("token"))
        val raw = tok.groupBy(col("token")).agg(
          count(lit(1)).as("cr"),
          count(when(col("source") === "src0", 1)).as("ct"))
        val tot = raw.agg(sum(col("cr")).cast("double").as("nr"),
          sum(col("ct")).cast("double").as("nt"),
          count(lit(1)).cast("double").as("v"))
        val w = raw.crossJoin(broadcast(tot))
          .select(col("token"),
            (log((col("ct") + 0.5) / (col("nt") + col("v") * 0.5)) -
             log((col("cr") + 0.5) / (col("nr") + col("v") * 0.5)))
              .as("lw"))
        val perDoc = tok.join(broadcast(w), "token")
          .groupBy(col("doc_id"))
          .agg((sum(col("lw")) / count(lit(1))).as("mean_lw"))
        val key = -log((conv(substring(
            md5(col("doc_id").cast("string").cast("binary")), 1, 13),
            16, 10).cast("long") + 1) / lit(4503599627370497.0)) /
          exp(col("mean_lw"))
        perDoc
          .select(struct(key.as("k"), col("doc_id"),
            round(col("mean_lw"), 4).as("mean_lw")).as("e"))
          .agg(graft.functions.top_k(col("e"), 50, smallest = true).as("top"))
          .select(posexplode(col("top")).as(Seq("i", "e")))
          .select((col("i") + 1).as("rk"), col("e.doc_id").as("doc_id"),
            col("e.mean_lw").as("mean_lw"))
          .orderBy(col("rk"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, source, unnest(string_split(text,' ')) AS token
             |  FROM documents),
             |raw AS (SELECT token, count(*) AS cr,
             |               count(*) FILTER (source = 'src0') AS ct
             |        FROM tok GROUP BY 1),
             |tot AS (SELECT sum(cr)::DOUBLE AS nr, sum(ct)::DOUBLE AS nt,
             |               count(*)::DOUBLE AS v FROM raw),
             |w AS (SELECT token,
             |        ln((ct + 0.5) / (nt + 0.5 * v)) -
             |        ln((cr + 0.5) / (nr + 0.5 * v)) AS lw
             |      FROM raw CROSS JOIN tot),
             |pd AS (SELECT doc_id, sum(lw) / count(*) AS mean_lw
             |       FROM tok JOIN w USING (token) GROUP BY 1),
             |k AS (SELECT doc_id, mean_lw,
             |        -ln((('0x' || substr(md5(doc_id::VARCHAR),1,13))::BIGINT
             |             + 1) / 4503599627370497.0) / exp(mean_lw) AS key
             |      FROM pd),
             |r AS (SELECT doc_id, mean_lw,
             |        row_number() OVER (ORDER BY key, doc_id) AS rk FROM k)
             |SELECT rk::INT AS rk, doc_id, round(mean_lw, 4) AS mean_lw
             |FROM r WHERE rk <= 50 ORDER BY rk""".stripMargin)),

    // --- PII scrubbing: redact emails / IPv4s / phone numbers and count
    //     redactions per doc — the compliance pass every training corpus
    //     runs before release. Map-side regex only (single scan, stays in
    //     codegen). The synthetic corpus carries no PII, so each doc is
    //     salted with deterministic doc_id-derived PII on both engines —
    //     the fixture makes the redaction counts nonzero and the
    //     Java-vs-RE2 regex agreement gate-checkable. ---
    Q("q72_pii_scrub",
      (s, dir) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
        val salted = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com from 10.0."),
              (col("doc_id") % 256).cast("string"),
              lit(".1 tel 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("raw"))
        salted
          .select(col("doc_id"),
            size(regexp_extract_all(col("raw"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("raw"), lit(ip), lit(0)))
              .cast("long").as("n_ips"),
            size(regexp_extract_all(col("raw"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("raw"), email, "<EMAIL>"),
                ip, "<IP>"),
              phone, "<PHONE>").as("scrubbed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH salted AS (
             |  SELECT doc_id,
             |         text || ' contact user' || doc_id::VARCHAR ||
             |         '@example.com from 10.0.' || (doc_id % 256)::VARCHAR ||
             |         '.1 tel 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             |           AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             |    AS n_emails,
             |  len(regexp_extract_all(raw,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
             |  len(regexp_extract_all(raw,
             |    '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(raw,
             |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |        '<EMAIL>', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
             |FROM salted ORDER BY doc_id""".stripMargin),
      bench = true),

    // --- quality tiers: ntile(4) per LANGUAGE over the composite quality
    //     score (curriculum/mix binning — assign every doc a quartile, then
    //     summarize each bin). Tiling per language keeps the window
    //     partitioned (a global ntile would serialize the sort on one
    //     partition at 100 TB); ordering by (rounded score, doc_id) makes
    //     tie-breaks deterministic on both engines. ---
    Q("q73_quality_tiers",
      (s, dir) => {
        val docs = fanout(Tables(s, dir, "documents"))
        val scored = docs
          .select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("lang"),
            size(col("toks")).as("wc"),
            (size(array_distinct(col("toks"))).cast("double")
              / size(col("toks"))).as("diversity"),
            (size(filter(col("toks"), t => t.isin("the", "a"))).cast("double")
              / size(col("toks"))).as("stop_ratio"))
          .select(col("doc_id"), col("lang"),
            round(least(col("wc") / 100.0, lit(1.0)) * 0.4
              + col("diversity") * 0.4
              + (lit(1.0) - col("stop_ratio")) * 0.2, 4).as("q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("q"), col("doc_id"))
        scored
          .withColumn("tier", ntile(4).over(w))
          .groupBy(col("lang"), col("tier"))
          .agg(count(lit(1)).as("n_docs"),
            round(min(col("q")), 4).as("min_q"),
            round(max(col("q")), 4).as("max_q"),
            round(avg(col("q")), 4).as("avg_q"))
          .orderBy(col("lang"), col("tier"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, string_split(text,' ') AS toks
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, lang, len(toks) AS wc,
             |         len(list_distinct(toks))::DOUBLE / len(toks) AS diversity,
             |         len(list_filter(toks, t -> t IN ('the','a')))::DOUBLE
             |           / len(toks) AS stop_ratio
             |  FROM d),
             |s AS (
             |  SELECT doc_id, lang,
             |         round(least(wc/100.0, 1.0)*0.4 + diversity*0.4
             |               + (1.0-stop_ratio)*0.2, 4) AS q
             |  FROM m),
             |t AS (
             |  SELECT lang, q,
             |         ntile(4) OVER (PARTITION BY lang ORDER BY q, doc_id)
             |           AS tier
             |  FROM s)
             |SELECT lang, tier, count(*) AS n_docs,
             |       round(min(q),4) AS min_q, round(max(q),4) AS max_q,
             |       round(avg(q),4) AS avg_q
             |FROM t GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- exact interpolated length deciles per language (§2.4 percentile
    //     coverage): Spark's `percentile` and DuckDB's `quantile_cont` use
    //     the same linear-interpolation definition, so this is hash-gated
    //     exact, not a sketch. One hash agg per language; the per-group
    //     sort lives inside the aggregate. (The approx_percentile sketch
    //     twin for 100 TB single-pass use is q19b's territory.) ---
    Q("q75_length_deciles",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("wc"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            round(expr("percentile(wc, 0.1)"), 2).as("p10"),
            round(expr("percentile(wc, 0.5)"), 2).as("p50"),
            round(expr("percentile(wc, 0.9)"), 2).as("p90"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  round(quantile_cont(wc, 0.1), 2) AS p10,
             |  round(quantile_cont(wc, 0.5), 2) AS p50,
             |  round(quantile_cont(wc, 0.9), 2) AS p90
             |FROM (SELECT lang, len(string_split(text,' '))::BIGINT AS wc
             |      FROM documents)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // --- the 100 TB twin of q75: single-pass mergeable decile sketch
    //     (approx_percentile) with an in-engine error gate against the
    //     exact per-group percentiles. The exact path sorts every group
    //     inside its aggregate — at scale the sketch is the only one-pass
    //     option, and this query MEASURES the accuracy it trades: max
    //     relative error across all langs and deciles. Rows-only by
    //     design (the sketch is engine-specific); the within_5pct verdict
    //     is the verification. ---
    Q("q75b_decile_sketch_error",
      (s, dir) => {
        val wc = fanout(Tables(s, dir, "documents"))
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("wc"))
        wc.groupBy(col("lang"))
          .agg(expr("percentile(wc, array(0.1, 0.5, 0.9))").as("exact"),
            expr("approx_percentile(wc, array(0.1, 0.5, 0.9), 2500)")
              .as("approx"))
          .select(explode(arrays_zip(col("exact"), col("approx"))).as("z"))
          .select((abs(col("z.exact") - col("z.approx")) / col("z.exact"))
            .as("rel_err"))
          .agg(round(max(col("rel_err")), 6).as("max_rel_err"),
            (max(col("rel_err")) <= 0.05).as("within_5pct"))
      },
      None),

    // --- RAG/context-window chunking: fixed 200-char windows on a
    //     150-char stride (50-char overlap), start offset carried for
    //     provenance. One Generate per document, zero shuffles before the
    //     output sort — at 100 TB a pure map stage whose output
    //     partitions by doc range for writing. ---
    Q("q81_doc_chunking",
      (s, dir) => {
        fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0),
              greatest(length(col("text")) - 1, lit(0)), lit(150)))
              .as("cs"))
          .select(col("doc_id"), col("cs").cast("long").as("chunk_start"),
            col("text").substr(col("cs") + 1, lit(200)).as("chunk"))
          .withColumn("chunk_len", length(col("chunk")).cast("long"))
          .orderBy(col("doc_id"), col("chunk_start"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, text,
             |         unnest(generate_series(0, greatest(len(text)-1, 0),
             |                                150)) AS cs
             |  FROM documents)
             |SELECT doc_id, cs::BIGINT AS chunk_start,
             |       substr(text, cs::INT + 1, 200) AS chunk,
             |       len(substr(text, cs::INT + 1, 200))::BIGINT AS chunk_len
             |FROM c ORDER BY doc_id, chunk_start""".stripMargin),
      bench = true),

    // --- bigram language-model scoring: train P(w2|w1) = c(w1 w2)/c(w1 .)
    //     on the corpus itself (the KenLM-style quality signal used to
    //     filter pretraining data), then score each document by its
    //     per-bigram negative log-likelihood. The model is a term-level
    //     aggregate (vocabulary-sized, NOT corpus-sized) so at 100 TB it
    //     is the small side; documents join against it on the bigram key.
    //     No smoothing needed: the model trains on the same corpus it
    //     scores, so every observed bigram has mass. ---
    Q("q82_bigram_lm_nll",
      (s, dir) => {
        val perDoc = bigramHistogram(s, dir)
        val model = perDoc.groupBy(col("bg")).agg(sum(col("c")).as("c12"))
          .withColumn("logp",
            log(col("c12") / sum(col("c12")).over(
              Window.partitionBy(substring_index(col("bg"), " ", 1)))))
          .select(col("bg"), col("logp"))
        perDoc.join(model, "bg")
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bigrams"),
            round(-(sum(col("c") * col("logp")) / sum(col("c"))), 4).as("nll"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |b AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1],' ')
             |        for i in range(1, len(toks))]) AS bg FROM t),
             |c AS (SELECT bg, count(*) AS c12 FROM b GROUP BY bg),
             |p AS (SELECT bg, ln(c12::DOUBLE / sum(c12) OVER (
             |        PARTITION BY string_split(bg,' ')[1])) AS logp FROM c)
             |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             |       round(-avg(logp), 4) AS nll
             |FROM b JOIN p USING (bg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    //     Goodman 1998 eq. 4.19, D = 0.75): the production smoothing next
    //     to q82's MLE —
    //       P(w2|w1) = max(c12 - D, 0)/c1 + (D·N1+(w1·)/c1)·(N1+(·w2)/T)
    //     where the continuation counts N1+ are DISTINCT-neighbor counts
    //     and T = distinct bigram types. All model terms come from windows
    //     over the DISTINCT-bigram frame (vocab²-bounded, never corpus
    //     rows; c1/N1 sums are integer-exact), T from one broadcast
    //     scalar. Scoring reuses the q82 histogram join; the arithmetic
    //     mirrors the oracle operation-for-operation so the doubles agree
    //     bit-for-bit. At 100 TB: one corpus scan (the shared histogram),
    //     two vocab-keyed window shuffles, one broadcast. ---
    Q("q131_kneser_ney_nll",
      (s, dir) => knNllPerDoc(s, dir).orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |b AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1],' ')
             |        for i in range(1, len(toks))]) AS bg FROM t),
             |h AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1,2),
             |m AS (SELECT bg, sum(c) AS c12 FROM h GROUP BY bg),
             |w AS (SELECT bg, c12, string_split(bg,' ')[1] AS w1,
             |             string_split(bg,' ')[-1] AS w2 FROM m),
             |p AS (SELECT bg,
             |        ln(greatest(c12 - 0.75, 0.0)
             |             / sum(c12) OVER (PARTITION BY w1)
             |           + 0.75 * count(*) OVER (PARTITION BY w1)
             |             / sum(c12) OVER (PARTITION BY w1)
             |             * count(*) OVER (PARTITION BY w2)
             |             / (SELECT count(*) FROM m)) AS logp
             |      FROM w)
             |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
             |       round(-(sum(c * logp) / sum(c)), 4) AS nll_kn
             |FROM h JOIN p USING (bg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- domain-mixture resampling: downsample every source to the
    //     smallest source's size (uniform mixture), deterministically via
    //     a 16-bit Fibonacci multiplicative hash of doc_id — reduce mod
    //     2^16 BEFORE multiplying so the arithmetic never exceeds
    //     65535*40503 (~2.7e9) and stays int64-exact on both engines for
    //     ANY doc_id (a raw doc_id * 2654435761 overflows past doc_id
    //     ~3.4e9 — negative in Spark, an error in DuckDB). 40503 is odd,
    //     so the map is a bijection on 16-bit values. One broadcast join
    //     (the per-source counts are K rows) + one scan; the per-source
    //     keep ratio generalizes to any target mixture vector. ---
    Q("q83_domain_mixture",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("n_min", min(col("n_docs")).over(Window.partitionBy()))
        docs.select(col("doc_id"), col("source"),
            (((col("doc_id") % 65536) * 40503L) % 65536).as("h"))
          .join(broadcast(counts), "source")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("h") * col("n_docs") < col("n_min") * 65536, 1L)
              .otherwise(0L)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents
             |           GROUP BY source),
             |m AS (SELECT min(n_docs) AS n_min FROM c),
             |d AS (SELECT doc_id, source,
             |             ((doc_id % 65536) * 40503) % 65536 AS h
             |      FROM documents)
             |SELECT d.source, count(*) AS n_docs,
             |       sum(CASE WHEN h * c.n_docs < m.n_min * 65536
             |                THEN 1 ELSE 0 END)::BIGINT AS n_kept
             |FROM d JOIN c USING (source) CROSS JOIN m
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // --- temperature-scaled mixture weights (the multilingual sampling
    //     standard — XLM-R / mT5 use alpha ≈ 0.3-0.7): w_s ∝ n_s^T with
    //     T = 0.7 upsamples small sources relative to proportional
    //     sampling without q83's hard floor. Reported per source: raw
    //     share, tempered weight, and the boost ratio — the table a
    //     mixture designer reads before an ablation. One partial-agg'd
    //     count shuffle; the power/normalize math runs on the
    //     sources-sized frame against one broadcast scalar. ---
    Q("q137_temperature_mixture",
      (s, dir) => {
        // sources-sized; materialized so the corpus count scan runs once,
        // not once per branch (the scalar frame re-derives from c)
        val c = fanout(Tables(s, dir, "documents"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .localCheckpoint()
        val tot = broadcast(c.agg(
          sum(col("n_docs")).as("tot_n"),
          sum(pow(col("n_docs"), 0.7)).as("tot_p")))
        c.crossJoin(tot)
          .select(col("source"), col("n_docs"),
            round(col("n_docs") / col("tot_n"), 6).as("raw_share"),
            round(pow(col("n_docs"), 0.7) / col("tot_p"), 6).as("weight"),
            round(pow(col("n_docs"), 0.7) / col("tot_p")
              / (col("n_docs") / col("tot_n")), 4).as("boost"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs
             |           FROM documents GROUP BY source),
             |m AS (SELECT sum(n_docs) AS tot_n,
             |             sum(pow(n_docs, 0.7)) AS tot_p FROM c)
             |SELECT source, n_docs,
             |       round(n_docs / tot_n, 6) AS raw_share,
             |       round(pow(n_docs, 0.7) / tot_p, 6) AS weight,
             |       round(pow(n_docs, 0.7) / tot_p
             |             / (n_docs / tot_n), 4) AS boost
             |FROM c CROSS JOIN m ORDER BY source""".stripMargin)),

    // --- vocabulary growth (Heaps' law) profile: how many NEW distinct
    //     trigrams each tenth of the corpus contributes, plus the running
    //     vocabulary size. Trigrams, not unigrams: the synthetic corpus
    //     draws from a small fixed word list, so the unigram curve
    //     saturates in bucket 0 — the trigram space is where growth is
    //     observable (the real-corpus diagnostic works at any n).
    //     Formulated as a first-occurrence aggregate — min(doc_id) per
    //     term, then a 10-bucket histogram + cumsum — so the corpus is
    //     scanned once and the window runs on 10 rows, never on term
    //     rows. The curve's flattening rate is the standard "is more data
    //     still adding vocabulary?" diagnostic. ---
    Q("q87_vocab_growth",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val n = docs.agg(count(lit(1)).as("n_total"))
        val firstSeen = fanout(docs)
          .select(col("doc_id"),
            explode(word_ngrams(split(col("text"), " "), 3)).as("tok"))
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
        firstSeen.crossJoin(broadcast(n))
          .select(least(floor(col("first_doc") * 10 / col("n_total")), lit(9L))
            .cast("long").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_tokens"))
          .withColumn("vocab_size",
            sum(col("new_tokens")).over(
              Window.orderBy(col("bucket"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("bucket"))
      },
      Some("""WITH n AS (SELECT count(*) AS n_total FROM documents),
             |t AS (SELECT doc_id, string_split(text,' ') AS toks
             |      FROM documents),
             |f AS (SELECT tok, min(doc_id) AS first_doc FROM (
             |        SELECT doc_id, unnest([array_to_string(toks[i:i+2],' ')
             |          for i in range(1, len(toks)-1)]) AS tok
             |        FROM t)
             |      GROUP BY tok),
             |b AS (SELECT least(floor(first_doc * 10 / n_total), 9)::BIGINT
             |        AS bucket FROM f CROSS JOIN n)
             |SELECT bucket, count(*) AS new_tokens,
             |  sum(count(*)) OVER (ORDER BY bucket
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |    AS vocab_size
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // --- leave-one-source-out influence (the groupwise jackknife): how
    //     much each source SHIFTS the corpus means — the companion to
    //     q128's sampling CI (is a drift driven by one feed?) and to
    //     q83's mixture design (which sources would change the mix if
    //     dropped). Closed form from per-source integer sums — no
    //     re-aggregation per held-out group, one partial-agg'd groupBy
    //     plus a broadcast totals row; sums are exact so the whole
    //     report is hash-oracled. Token counts go through the
    //     size(split) idiom, i.e. through the TokenCountRewrite path. ---
    Q("q129_source_influence",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("nt"))
        val per = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"),
            sum(col("nt")).as("st"))
        val tot = per.agg(sum(col("n")).as("tn"), sum(col("sc")).as("tsc"),
          sum(col("st")).as("tst"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n").as("n_docs"),
            round((col("tsc") - col("sc"))
              / (col("tn") - col("n")).cast("double")
              - col("tsc") / col("tn").cast("double"), 4)
              .as("chars_influence"),
            round((col("tst") - col("st"))
              / (col("tn") - col("n")).cast("double")
              - col("tst") / col("tn").cast("double"), 4)
              .as("tokens_influence"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, n_chars,
             |            len(string_split(text, ' '))::BIGINT AS nt
             |          FROM documents),
             |p AS (SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS sc,
             |             sum(nt)::BIGINT AS st
             |      FROM d GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS tn, sum(sc)::BIGINT AS tsc,
             |             sum(st)::BIGINT AS tst FROM p)
             |SELECT source, n AS n_docs,
             |  round((tsc - sc) / (tn - n)::DOUBLE
             |        - tsc / tn::DOUBLE, 4) AS chars_influence,
             |  round((tst - st) / (tn - n)::DOUBLE
             |        - tst / tn::DOUBLE, 4) AS tokens_influence
             |FROM p CROSS JOIN t ORDER BY source""".stripMargin)),

    // --- Poisson bootstrap CI (Chamandy et al. 2012 — the distributed
    //     bootstrap): instead of resampling rows (impossible in one pass
    //     at corpus scale), every row draws an independent Poisson(1)
    //     weight per replicate — one scan, no resampling index, and the
    //     replicate means' spread is the sampling distribution of the
    //     estimator. Weights come from the engine's md5-uniform contract
    //     (q104) through the exact inverse-CDF ladder, so they are
    //     INTEGER and the weighted sums stay bit-exact in both engines —
    //     the entire bootstrap, CI order statistics included, is
    //     hash-oracled. Scale shape: the exploded (rep, w, x) frame is
    //     narrow and partial-aggregates to reps x partitions rows before
    //     the shuffle; the CI window runs on 50 rows. ---
    Q("q128_poisson_bootstrap",
      (s, dir) => {
        val reps = 50
        val d = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        val e = fanout(d)
          .select(col("doc_id"), col("n_chars"),
            explode(sequence(lit(1), lit(reps))).as("rep"))
        val x = conv(substring(
          md5(concat(col("doc_id").cast("string"), lit("_"),
            col("rep").cast("string")).cast("binary")), 1, 13),
          16, 10).cast("long")
        val u = (x + 1) / lit(4503599627370497.0)
        // Poisson(1) inverse CDF: cumulative e^-1 * sum 1/k!
        val w = when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .when(u < 0.9994058151824183, 5L)
          .when(u < 0.9999167588507119, 6L)
          .otherwise(7L)
        val repMeans = e.select(col("rep"), w.as("w"), col("n_chars"))
          .groupBy(col("rep"))
          .agg(sum(col("w") * col("n_chars")).as("sx"), sum(col("w")).as("sw"))
          .select(col("rep"), (col("sx") / col("sw")).as("m"))
        val ranked = repMeans.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("m"), col("rep"))))
        d.agg(count(lit(1)).as("n_docs"),
            round(avg(col("n_chars")), 4).as("mean_nchars"))
          .crossJoin(broadcast(ranked.filter(col("rk") === 2)
            .select(round(col("m"), 4).as("ci_lo"))))
          .crossJoin(broadcast(ranked.filter(col("rk") === 49)
            .select(round(col("m"), 4).as("ci_hi"))))
          .withColumn("n_reps", lit(reps))
      },
      Some("""WITH d AS (SELECT doc_id, n_chars FROM documents),
             |e AS (SELECT doc_id, n_chars, rep FROM d, range(1, 51) t(rep)),
             |x AS (SELECT rep, n_chars,
             |        ('0x' || substr(md5(doc_id::VARCHAR || '_' ||
             |          rep::VARCHAR), 1, 13))::BIGINT AS x
             |      FROM e),
             |u AS (SELECT rep, n_chars,
             |        (x + 1) / 4503599627370497.0 AS u FROM x),
             |w AS (SELECT rep, n_chars, CASE
             |        WHEN u < 0.36787944117144233 THEN 0
             |        WHEN u < 0.7357588823428847 THEN 1
             |        WHEN u < 0.9196986029286058 THEN 2
             |        WHEN u < 0.9810118431238462 THEN 3
             |        WHEN u < 0.9963401531726563 THEN 4
             |        WHEN u < 0.9994058151824183 THEN 5
             |        WHEN u < 0.9999167588507119 THEN 6
             |        ELSE 7 END AS w
             |      FROM u),
             |m AS (SELECT rep,
             |        sum(w * n_chars)::DOUBLE / sum(w)::DOUBLE AS m
             |      FROM w GROUP BY rep),
             |r AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rk
             |      FROM m)
             |SELECT (SELECT count(*) FROM d) AS n_docs,
             |       (SELECT round(avg(n_chars), 4) FROM d) AS mean_nchars,
             |       (SELECT round(m, 4) FROM r WHERE rk = 2) AS ci_lo,
             |       (SELECT round(m, 4) FROM r WHERE rk = 49) AS ci_hi,
             |       50::INT AS n_reps""".stripMargin)),

    // --- compressibility quality signal: per-doc deflate ratio
    //     (compressed/raw bytes) — the cheap language-agnostic
    //     boilerplate/template/log-spam detector that complements the
    //     explicit repetition fractions (q57/q57b): templated structure
    //     n-gram rules miss still crushes under deflate. Pure map-side
    //     (one Deflater per partition, reset per row, payloads never
    //     shuffle); summarized per source with the flag rate so the
    //     output is sources-sized. zlib bytes are engine-internal =>
    //     rows-only; CompressionSignalSpec pins the ordering invariants
    //     (repetition << prose << noise) and determinism. ---
    Q("q127_compress_ratio",
      (s, dir) => {
        val d = fanout(Tables(s, dir, "documents"))
        graft.operators.CompressionSignal.ratios(d)
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("ratio")), 4).as("avg_ratio"),
            round(min(col("ratio")), 4).as("min_ratio"),
            sum(when(col("ratio") < 0.3, 1L).otherwise(0L))
              .as("n_flagged"))
          .orderBy(col("source"))
      },
      None),

    // --- k-anonymity audit over release metadata: group size of every
    //     quasi-identifier combination (lang, source, length bucket) and a
    //     below-k flag — the privacy-governance companion to q72's PII
    //     scrub: a scrubbed corpus shipped WITH metadata still re-identifies
    //     documents that are the only member of their metadata cell. One
    //     partial-agg'd groupBy; output bounded by the quasi-id cross
    //     product, corpus-size-independent. ---
    Q("q125_k_anonymity",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(col("lang"), col("source"),
            floor(col("n_chars") / 100).cast("long").as("len_bucket"))
          .agg(count(lit(1)).as("n"))
          .withColumn("at_risk", (col("n") < 5).cast("int"))
          .orderBy(col("lang"), col("source"), col("len_bucket"))
      },
      Some("""SELECT lang, source, (n_chars // 100)::BIGINT AS len_bucket,
             |       count(*) AS n, (count(*) < 5)::INT AS at_risk
             |FROM documents GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin)),

    // --- source-pair Jensen-Shannon divergence over unigram
    //     distributions: the drift matrix behind mixture design — which
    //     sources are near-duplicates of each other distributionally
    //     (candidates for merged sampling weight) vs genuinely diverse.
    //     JSD(P,Q) = 0.5 KL(P||M) + 0.5 KL(Q||M), M = (P+Q)/2; symmetric,
    //     bounded by ln 2. Tokens present in only one source are folded in
    //     CLOSED FORM (each contributes 0.5 p ln 2; Sigma p over them is
    //     1 - Sigma matched p), the q118 trick — so the plan only ever
    //     touches observed (source, token) rows: vocab-sized frames
    //     shuffle on token, pairs expand per token (bounded by sources^2),
    //     and the corpus itself is read once for the count frame. ---
    Q("q123_source_jsd",
      (s, dir) => {
        val st = fanout(Tables(s, dir, "documents"))
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val tot = st.groupBy(col("source")).agg(sum(col("c")).as("cs"))
        val p = st.join(broadcast(tot), "source")
          .select(col("source"), col("token"),
            (col("c") / col("cs")).as("p"))
        val m = col("pa") + col("pb")
        p.toDF("src_a", "token", "pa")
          .join(p.toDF("src_b", "token", "pb"), Seq("token"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(
            sum(col("pa") * log(lit(2.0) * col("pa") / m) +
                col("pb") * log(lit(2.0) * col("pb") / m)).as("mterm"),
            sum(col("pa")).as("sp"), sum(col("pb")).as("sq"),
            count(lit(1)).as("n_shared"))
          .select(col("src_a"), col("src_b"), col("n_shared"),
            round((col("mterm") +
              log(lit(2.0)) * (lit(2.0) - col("sp") - col("sq"))) * 0.5, 4)
              .as("jsd"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH tok AS (SELECT source,
             |               unnest(string_split(text,' ')) AS token
             |             FROM documents),
             |st AS (SELECT source, token, count(*) AS c
             |       FROM tok GROUP BY 1,2),
             |t AS (SELECT source, sum(c) AS cs FROM st GROUP BY 1),
             |p AS (SELECT source, token, c / cs::DOUBLE AS p
             |      FROM st JOIN t USING (source)),
             |j AS (SELECT a.source AS src_a, b.source AS src_b,
             |             a.p AS pa, b.p AS pb
             |      FROM p a JOIN p b
             |        ON a.token = b.token AND a.source < b.source)
             |SELECT src_a, src_b, count(*)::BIGINT AS n_shared,
             |  round((sum(pa * ln(2*pa/(pa+pb)) + pb * ln(2*pb/(pa+pb)))
             |         + ln(2) * (2 - sum(pa) - sum(pb))) * 0.5, 4) AS jsd
             |FROM j GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- trained quality/language classifier: distributed BATCH PERCEPTRON
    //     over integer corpus features (bias, token count, long-token count,
    //     n_chars/100) predicting lang='en'. Unlike float gradient descent —
    //     whose sum order diverges between engines — integer features keep
    //     every epoch's weights exact, so the full 5-epoch TRAINING RUN is
    //     oracled: the SQL twin unrolls the epochs as chained CTEs and must
    //     reproduce every weight, mistake count, and accuracy bit-for-bit.
    //     Scale shape: features materialize in one corpus scan; each epoch
    //     is one map-side integer aggregate over the numeric frame (d+2
    //     longs to the driver — the model-sized collect, like KMeans). ---
    Q("q122_perceptron_quality",
      (s, dir) => {
        import s.implicits._
        val feats = perceptronFeatures(s, dir)
        graft.operators.Perceptron
          .fit(feats, Seq("x0", "x1", "x2", "x3"), "y", epochs = 5)
          .map(e => (e.epoch, e.w(0), e.w(1), e.w(2), e.w(3), e.mistakes,
            BigDecimal(1.0 - e.mistakes.toDouble / e.n)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
          .toDF("epoch", "w_bias", "w_toks", "w_long", "w_chars",
            "mistakes", "accuracy")
      },
      Some(PerceptronCtes + "\n" + """SELECT epoch::INT AS epoch, w0::BIGINT AS w_bias,
             |       w1::BIGINT AS w_toks, w2::BIGINT AS w_long,
             |       w3::BIGINT AS w_chars, m::BIGINT AS mistakes,
             |       round(1.0 - m::DOUBLE / n, 4) AS accuracy
             |FROM (SELECT 1 AS epoch, * FROM w1 UNION ALL
             |      SELECT 2, * FROM w2 UNION ALL
             |      SELECT 3, * FROM w3_ UNION ALL
             |      SELECT 4, * FROM w4 UNION ALL
             |      SELECT 5, * FROM w5)
             |ORDER BY epoch""".stripMargin)),

    // --- ROC AUC of the trained quality classifier: the calibration audit
    //     behind any learned data-filtering gate — is the score actually
    //     discriminative, independent of the 0-threshold q122 reports
    //     accuracy at? Scores are the EXACT integer dot products w5·x, so
    //     the tie-aware rank-sum AUC (Mann-Whitney with ties counted half)
    //     is bit-reproducible across engines. Plan shape: group by score
    //     (map-side partial agg — the only corpus-sized shuffle), then a
    //     two-pass exact prefix sum over the DISTINCT-score frame
    //     accumulates negatives-below; the numerator Σ p·(2·cumNeg + n)
    //     stays integer, one division at the end. At 100 TB: one scan +
    //     one range-partitioned rank pass — no corpus-row global sort,
    //     which is what a naive per-row rank AUC would cost. ---
    Q("q130_classifier_auc",
      (s, dir) => {
        val feats = perceptronFeatures(s, dir)
        val xCols = Seq("x0", "x1", "x2", "x3")
        val w = graft.operators.Perceptron
          .fit(feats, xCols, "y", epochs = 5).last.w
        val scored = feats.select(col("y"),
          xCols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
            .reduce(_ + _).as("score"))
        val byScore = scored.groupBy(col("score")).agg(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("p"),
          sum(when(col("y") === -1, 1L).otherwise(0L)).as("n"))
        // negatives-below accumulates over the DISTINCT-score frame, which
        // still grows with the corpus (integer dot products widen with doc
        // length): two-pass exact prefix sum (GlobalRank) rather than a
        // single-partition window — same integers, no global sort stage
        graft.operators.GlobalRank
          .withPrefixSumExcl(byScore, Seq(col("score")), col("n"), "cum_n")
          .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
            round(sum(col("p") * (lit(2L) * col("cum_n") + col("n")))
                .cast("double")
              / (lit(2.0) * sum(col("p")) * sum(col("n"))), 6).as("auc"))
      },
      Some(PerceptronCtes + ",\n" + """s AS (SELECT y,
             |       w0*x0 + w1*x1 + w2*x2 + w3*x3 AS score
             |     FROM f CROSS JOIN w5),
             |g AS (SELECT score, count(*) FILTER (y = 1) AS p,
             |             count(*) FILTER (y = -1) AS n
             |      FROM s GROUP BY score),
             |c AS (SELECT p, n, coalesce(sum(n) OVER (ORDER BY score
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        0) AS cum_n FROM g)
             |SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
             |       round(sum(p * (2*cum_n + n))::DOUBLE
             |             / (2.0 * sum(p) * sum(n)), 6) AS auc
             |FROM c""".stripMargin)),

    // --- int8 scalar quantization of the embedding column with an
    //     in-engine fidelity gate: per-vector symmetric scale
    //     (max|x|/127), quantize, reconstruct, and measure the cosine
    //     between original and reconstruction. 4x storage reduction for
    //     the 100 TB embedding store (float32 -> int8) — the gate reports
    //     the worst and mean cosine fidelity; all map-side arithmetic on
    //     codegen'd HOFs, aggregated to one row. Rows-only by design
    //     (quantization is engine-internal; the fidelity metric IS the
    //     verification). ---
    Q("q88_int8_quant_error",
      (s, dir) => {
        val v = col("vd")
        val scale = aggregate(transform(v, x => abs(x)), lit(0.0d),
          (acc, x) => greatest(acc, x)) / 127.0
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"),
            x => x.cast("double")).as("vd"))
          .withColumn("scale", scale)
          // an all-zero vector (padding row / failed embed) has scale 0 and
          // would NaN-poison the cosine and the avg; it carries no fidelity
          // signal, so exclude it from the gate
          .filter(col("scale") > 0)
          .withColumn("recon",
            transform(v, x => round(x / col("scale")) * col("scale")))
        val dot = aggregate(zip_with(v, col("recon"), (a, b) => a * b),
          lit(0.0d), (acc, x) => acc + x)
        def norm(c: org.apache.spark.sql.Column) =
          sqrt(aggregate(transform(c, x => x * x), lit(0.0d), (acc, x) => acc + x))
        emb
          .select((dot / (norm(v) * norm(col("recon")))).as("cos"))
          .agg(count(lit(1)).as("n_vectors"),
            round(min(col("cos")), 6).as("min_cosine"),
            round(avg(col("cos")), 6).as("avg_cosine"),
            (min(col("cos")) >= 0.999).as("fidelity_ok"))
      },
      None),

    // --- two-sample Kolmogorov–Smirnov distance per source: each source's
    //     doc-length (n_chars) distribution vs the REST of the corpus —
    //     the distribution-shift screen behind "does this source look like
    //     the mix?" (complements q123's JSD over term mass: KS sees shape,
    //     JSD sees vocabulary). No per-doc windows anywhere: docs reduce to
    //     a (source × distinct length) grid of counts, every source's CDF
    //     and the complement CDF come from integer cumulative sums over
    //     that grid, and the sup-norm is one max per source. Exact integer
    //     arithmetic until the final division. ---
    Q("q165_ks_distance",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val perSrcLen = docs.groupBy(col("source"), col("n_chars"))
          .agg(count(lit(1)).as("c"))
        val lens = docs.groupBy(col("n_chars"))
          .agg(count(lit(1)).as("g"))
        val sources = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val total = docs.count()
        val grid = broadcast(sources).crossJoin(lens)
          .join(perSrcLen, Seq("source", "n_chars"), "left")
          .na.fill(0L, Seq("c"))
        val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid
          .withColumn("cs", sum(col("c")).over(wCum))
          .withColumn("cg", sum(col("g")).over(wCum))
          .select(col("source"), col("n_docs"),
            abs(col("cs") / col("n_docs")
              - (col("cg") - col("cs")) / (lit(total) - col("n_docs")))
              .as("d"))
          .groupBy(col("source"), col("n_docs"))
          .agg(round(max(col("d")), 6).as("ks"))
          .orderBy(col("source"))
      },
      Some("""WITH sl AS (SELECT source, n_chars, count(*) AS c
             |            FROM documents GROUP BY 1, 2),
             |l AS (SELECT n_chars, count(*) AS g FROM documents GROUP BY 1),
             |s AS (SELECT source, count(*) AS n_docs FROM documents
             |      GROUP BY 1),
             |tot AS (SELECT count(*) AS t FROM documents),
             |grid AS (
             |  SELECT s.source, s.n_docs, l.n_chars, l.g,
             |         coalesce(sl.c, 0) AS c
             |  FROM s CROSS JOIN l
             |  LEFT JOIN sl ON sl.source = s.source
             |    AND sl.n_chars = l.n_chars),
             |cum AS (
             |  SELECT source, n_docs,
             |    sum(c) OVER w AS cs, sum(g) OVER w AS cg
             |  FROM grid
             |  WINDOW w AS (PARTITION BY source ORDER BY n_chars
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT source, n_docs,
             |  round(max(abs(cs / n_docs
             |    - (cg - cs) / ((SELECT t FROM tot) - n_docs))), 6) AS ks
             |FROM cum GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // --- robust outlier gate: per-source modified z-score (Iglewicz–
    //     Hoaglin, 0.6745·|x−median|/MAD > 3.5) over doc lengths — the
    //     scanner that survives the heavy tails that wreck mean/stddev
    //     gates (one 10 MB doc moves a source's σ, not its MAD). Median
    //     and MAD are two exact-percentile aggregates on the sources-sized
    //     frame, each joined back broadcast; docs are scanned, never
    //     windowed. Spark `percentile` and DuckDB `quantile_cont` share
    //     interpolation (the q75 parity). ---
    Q("q167_mad_outliers",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("double").as("x"))
        val med = docs.groupBy(col("source"))
          .agg(expr("percentile(x, 0.5)").as("med"))
        val dev = docs.join(broadcast(med), "source")
          .withColumn("ad", abs(col("x") - col("med")))
        val mad = dev.groupBy(col("source"))
          .agg(expr("percentile(ad, 0.5)").as("mad"))
        dev.join(broadcast(mad), "source")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(first(col("med")), 4).as("med"),
            round(first(col("mad")), 4).as("mad"),
            sum(when(lit(0.6745) * col("ad") / col("mad") > 3.5, 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, n_chars::DOUBLE AS x
             |           FROM documents),
             |m AS (SELECT source, quantile_cont(x, 0.5) AS med FROM d
             |      GROUP BY 1),
             |dev AS (SELECT d.source, d.x, m.med, abs(d.x - m.med) AS ad
             |        FROM d JOIN m USING (source)),
             |md AS (SELECT source, quantile_cont(ad, 0.5) AS mad FROM dev
             |       GROUP BY 1)
             |SELECT dev.source, count(*) AS n_docs,
             |  round(any_value(dev.med), 4) AS med,
             |  round(any_value(md.mad), 4) AS mad,
             |  sum(CASE WHEN 0.6745 * dev.ad / md.mad > 3.5
             |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers
             |FROM dev JOIN md USING (source)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- epoch budgeting under a token budget (the data-constrained
    //     scaling allocation, Muennighoff 2023's practical face): given a
    //     training budget of 2× the corpus tokens, an equal per-source
    //     share, and a 4-epoch repetition cap, how many epochs does each
    //     source run and how much of the budget goes unused by capped
    //     sources? Token totals come off the TokenCountRewrite kernel in
    //     one scan; the allocation arithmetic runs on the sources-sized
    //     frame. Integer token counts keep everything exact until the
    //     final rounding. ---
    Q("q184_epoch_budget",
      (s, dir) => {
        val perSrc = Tables(s, dir, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("tokens"))
        val nSrc = count(lit(1)).over(Window.partitionBy())
        val totTokens = sum(col("tokens")).over(Window.partitionBy())
        perSrc
          .withColumn("share", lit(2.0) * totTokens / nSrc)
          .withColumn("epochs_raw", col("share") / col("tokens"))
          .withColumn("epochs", least(col("epochs_raw"), lit(4.0)))
          .select(col("source"), col("tokens"),
            round(col("epochs"), 4).as("epochs"),
            (col("epochs_raw") > 4.0).as("capped"),
            round(col("epochs") * col("tokens"), 2).as("alloc_tokens"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (
             |  SELECT source,
             |         sum(len(string_split(text, ' ')))::BIGINT AS tokens
             |  FROM documents GROUP BY 1),
             |g AS (SELECT count(*) AS n_src, sum(tokens) AS tot FROM t)
             |SELECT source, tokens,
             |  round(least(2.0 * tot / n_src / tokens, 4.0), 4) AS epochs,
             |  (2.0 * tot / n_src / tokens > 4.0) AS capped,
             |  round(least(2.0 * tot / n_src / tokens, 4.0) * tokens, 2)
             |    AS alloc_tokens
             |FROM t, g ORDER BY source""".stripMargin)),

    // --- l-diversity audit (the release-gate companion to q125's
    //     k-anonymity): a quasi-identifier group that is k-anonymous can
    //     still leak its members' sensitive attribute if every member
    //     shares one value. Per QI group (source, 100-char length bucket):
    //     group size, DISTINCT count of the sensitive attribute (lang),
    //     and the 2-diverse flag. One scan, one shuffle on the QI key;
    //     count_distinct is partial-aggregated map-side. ---
    Q("q191_l_diversity",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(col("source"),
            floor(col("n_chars") / 100).cast("long").as("len_bucket"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("lang")).as("n_langs"))
          .withColumn("diverse", (col("n_langs") >= 2).cast("int"))
          .orderBy(col("source"), col("len_bucket"))
      },
      Some("""SELECT source, (n_chars // 100)::BIGINT AS len_bucket,
             |       count(*) AS n, count(DISTINCT lang) AS n_langs,
             |       (count(DISTINCT lang) >= 2)::INT AS diverse
             |FROM documents GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // --- CCNet-style perplexity bucketing: score every doc with the
    //     corpus-trained KN bigram LM (the q131 frame, shared helper) and
    //     split the corpus into head/middle/tail thirds by NLL — the
    //     classic LM-filtering tiering. ntile runs over the ROUNDED NLL
    //     (stable across engines) with doc_id tiebreak, so bucket edges
    //     are deterministic. The frame is doc-count-sized (id + one
    //     double), so the ntile is computed as a two-pass exact global
    //     rank (range-partition on (nll_kn, doc_id), local rank + per-range
    //     offsets — GlobalRank) instead of a single-partition window:
    //     identical buckets (the order is total), no
    //     Exchange SinglePartition at any corpus size. ---
    Q("q192_perplexity_buckets",
      (s, dir) => {
        val nd = knNllPerDoc(s, dir)
        val (ranked, n) = graft.operators.GlobalRank.withRowNumber(
          nd, Seq(col("nll_kn"), col("doc_id")), "_rk")
        ranked
          .withColumn("bucket",
            graft.operators.GlobalRank.ntileFromRank(col("_rk"), n, 3))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            round(min(col("nll_kn")), 4).as("nll_lo"),
            round(max(col("nll_kn")), 4).as("nll_hi"),
            round(avg(col("nll_kn")), 4).as("nll_avg"))
          .orderBy(col("bucket"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |b AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1],' ')
             |        for i in range(1, len(toks))]) AS bg FROM t),
             |h AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1,2),
             |m AS (SELECT bg, sum(c) AS c12 FROM h GROUP BY bg),
             |w AS (SELECT bg, c12, string_split(bg,' ')[1] AS w1,
             |             string_split(bg,' ')[-1] AS w2 FROM m),
             |p AS (SELECT bg,
             |        ln(greatest(c12 - 0.75, 0.0)
             |             / sum(c12) OVER (PARTITION BY w1)
             |           + 0.75 * count(*) OVER (PARTITION BY w1)
             |             / sum(c12) OVER (PARTITION BY w1)
             |             * count(*) OVER (PARTITION BY w2)
             |             / (SELECT count(*) FROM m)) AS logp
             |      FROM w),
             |nd AS (SELECT doc_id,
             |         round(-(sum(c * logp) / sum(c)), 4) AS nll_kn
             |       FROM h JOIN p USING (bg) GROUP BY doc_id),
             |bk AS (SELECT nll_kn,
             |         ntile(3) OVER (ORDER BY nll_kn, doc_id) AS bucket
             |       FROM nd)
             |SELECT bucket, count(*) AS n_docs,
             |  round(min(nll_kn), 4) AS nll_lo,
             |  round(max(nll_kn), 4) AS nll_hi,
             |  round(avg(nll_kn), 4) AS nll_avg
             |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // --- q192's 100 TB twin: the SAME tiering via exact percentile
    //     cutpoints (p33/p67 of the rounded NLL) instead of a global-sort
    //     ntile — two scalar aggregates broadcast back over the frame, so
    //     the plan is scan + agg + map-side bucket assignment with NO
    //     single-partition window. Bucket edges use <= on the interpolated
    //     cutpoint (Spark percentile and DuckDB quantile_cont share the
    //     p*(n-1) linear-interpolation definition); counts differ from
    //     q192's rank-split only where NLL values tie across an ntile
    //     boundary, which the rounded values make engine-stable. ---
    Q("q192b_perplexity_cuts",
      (s, dir) => {
        val nd = knNllPerDoc(s, dir).localCheckpoint()
        val cuts = broadcast(nd.agg(
          expr("percentile(nll_kn, 1.0d/3)").as("c1"),
          expr("percentile(nll_kn, 2.0d/3)").as("c2")))
        nd.crossJoin(cuts)
          .select(col("nll_kn"),
            when(col("nll_kn") <= col("c1"), 1)
              .when(col("nll_kn") <= col("c2"), 2)
              .otherwise(3).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("nll_kn")), 4).as("nll_avg"))
          .orderBy(col("bucket"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |b AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1],' ')
             |        for i in range(1, len(toks))]) AS bg FROM t),
             |h AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1,2),
             |m AS (SELECT bg, sum(c) AS c12 FROM h GROUP BY bg),
             |w AS (SELECT bg, c12, string_split(bg,' ')[1] AS w1,
             |             string_split(bg,' ')[-1] AS w2 FROM m),
             |p AS (SELECT bg,
             |        ln(greatest(c12 - 0.75, 0.0)
             |             / sum(c12) OVER (PARTITION BY w1)
             |           + 0.75 * count(*) OVER (PARTITION BY w1)
             |             / sum(c12) OVER (PARTITION BY w1)
             |             * count(*) OVER (PARTITION BY w2)
             |             / (SELECT count(*) FROM m)) AS logp
             |      FROM w),
             |nd AS (SELECT doc_id,
             |         round(-(sum(c * logp) / sum(c)), 4) AS nll_kn
             |       FROM h JOIN p USING (bg) GROUP BY doc_id),
             |cuts AS (SELECT quantile_cont(nll_kn, 1.0/3) AS c1,
             |                quantile_cont(nll_kn, 2.0/3) AS c2 FROM nd),
             |bk AS (SELECT nll_kn,
             |         CASE WHEN nll_kn <= c1 THEN 1
             |              WHEN nll_kn <= c2 THEN 2 ELSE 3 END AS bucket
             |       FROM nd, cuts)
             |SELECT bucket, count(*) AS n_docs,
             |  round(avg(nll_kn), 4) AS nll_avg
             |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // --- grid-density clustering classification (the DBSCAN recipe at
    //     warehouse scale): quantize the first two embedding axes into
    //     grid cells, then classify every cell as core (>= minPts points),
    //     border (non-core touching a core cell), or noise. The
    //     8-neighborhood test is an EQUI-join — core cells fan out to
    //     their 9 neighbor coordinates (9x a core-cell-sized frame, tiny)
    //     and candidates semi-join on the exact cell key — never a
    //     distance theta-join over points. Cluster merging (connected
    //     components over adjacent core cells) is the q36 operator reused
    //     on a cells-sized edge list; this query gates the density
    //     classification, which is the part DBSCAN adds. ---
    Q("q194_grid_density",
      (s, dir) => {
        val minPts = 10
        val cells = Tables(s, dir, "embeddings")
          .select(
            floor(element_at(col("embedding"), 1).cast("double") * 16)
              .cast("long").as("cx"),
            floor(element_at(col("embedding"), 2).cast("double") * 16)
              .cast("long").as("cy"))
          .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val offsets = Seq(-1L, 0L, 1L)
        val nbrs = cells.filter(col("n") >= minPts)
          .select(explode(array(offsets.map(lit(_)): _*)).as("dx"),
            col("cx"), col("cy"))
          .select(explode(array(offsets.map(lit(_)): _*)).as("dy"),
            (col("cx") + col("dx")).as("cx"), col("cy"), col("dx"))
          .select(col("cx"), (col("cy") + col("dy")).as("cy"))
          .distinct()
        cells.join(broadcast(nbrs.withColumn("near_core", lit(1))),
            Seq("cx", "cy"), "left")
          .select(col("cx"), col("cy"), col("n"),
            when(col("n") >= minPts, "core")
              .when(col("near_core").isNotNull, "border")
              .otherwise("noise").as("cls"))
          .orderBy(col("cx"), col("cy"))
      },
      Some("""WITH pts AS (
             |  SELECT floor(embedding[1]::DOUBLE * 16)::BIGINT AS cx,
             |         floor(embedding[2]::DOUBLE * 16)::BIGINT AS cy
             |  FROM embeddings),
             |cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
             |nbrs AS (
             |  SELECT DISTINCT c.cx + dx.x AS cx, c.cy + dy.y AS cy
             |  FROM cells c, unnest([-1, 0, 1]) AS dx(x),
             |       unnest([-1, 0, 1]) AS dy(y)
             |  WHERE c.n >= 10)
             |SELECT c.cx, c.cy, c.n,
             |  CASE WHEN c.n >= 10 THEN 'core'
             |       WHEN nb.cx IS NOT NULL THEN 'border'
             |       ELSE 'noise' END AS cls
             |FROM cells c LEFT JOIN nbrs nb ON c.cx = nb.cx AND c.cy = nb.cy
             |ORDER BY c.cx, c.cy""".stripMargin)),

    // --- classifier calibration curve (reliability diagram): does a
    //     predicted probability of 0.8 come true 80% of the time? The
    //     q122/q130 perceptron's margins pass through a sigmoid, scores
    //     are grouped FIRST (integer features x fixed weights => discrete
    //     margins, a model-sized frame), then ntile(10) runs over the
    //     distinct-score groups — deterministic on both engines and never
    //     a corpus-sized window. Per bin: examples, mean predicted
    //     probability, empirical positive rate — the ECE inputs. ---
    Q("q195_calibration",
      (s, dir) => {
        val feats = perceptronFeatures(s, dir)
        val xCols = Seq("x0", "x1", "x2", "x3")
        val w = graft.operators.Perceptron
          .fit(feats, xCols, "y", epochs = 5).last.w
        val scored = feats.select(col("y"),
          xCols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
            .reduce(_ + _).as("score"))
        val byScore = scored.groupBy(col("score")).agg(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("p"),
          sum(when(col("y") === -1, 1L).otherwise(0L)).as("n"))
        // ntile over the distinct-score frame via two-pass exact rank
        // (GlobalRank) — identical bins, no single-partition window
        val (ranked, nScores) = graft.operators.GlobalRank.withRowNumber(
          byScore, Seq(col("score")), "_rk")
        ranked
          .withColumn("bin",
            graft.operators.GlobalRank.ntileFromRank(col("_rk"), nScores, 10))
          .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("score"))))
          .groupBy(col("bin"))
          .agg(sum(col("p") + col("n")).as("n_examples"),
            round(sum((col("p") + col("n")) * col("prob"))
              / sum(col("p") + col("n")), 6).as("mean_pred"),
            round(sum(col("p")) / sum(col("p") + col("n")).cast("double"), 6)
              .as("pos_rate"))
          .orderBy(col("bin"))
      },
      Some(PerceptronCtes + ",\n" + """s AS (SELECT y,
             |       w0*x0 + w1*x1 + w2*x2 + w3*x3 AS score
             |     FROM f CROSS JOIN w5),
             |g AS (SELECT score, count(*) FILTER (y = 1) AS p,
             |             count(*) FILTER (y = -1) AS n
             |      FROM s GROUP BY score),
             |b AS (SELECT score, p, n,
             |        ntile(10) OVER (ORDER BY score) AS bin,
             |        1.0 / (1.0 + exp(-score)) AS prob FROM g)
             |SELECT bin, sum(p + n)::BIGINT AS n_examples,
             |  round(sum((p + n) * prob) / sum(p + n), 6) AS mean_pred,
             |  round(sum(p) / sum(p + n)::DOUBLE, 6) AS pos_rate
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
      bench = false),

    // --- expected calibration error: the q195 reliability diagram folded
    //     to its headline scalar, ECE = Σ (n_b/N)·|mean_pred_b − rate_b|
    //     over the same 10 score bins (computed from the ROUNDED per-bin
    //     stats so the fold is engine-exact). ---
    Q("q195b_ece",
      (s, dir) => {
        val feats = perceptronFeatures(s, dir)
        val xCols = Seq("x0", "x1", "x2", "x3")
        val w = graft.operators.Perceptron
          .fit(feats, xCols, "y", epochs = 5).last.w
        val scored = feats.select(col("y"),
          xCols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
            .reduce(_ + _).as("score"))
        val byScore = scored.groupBy(col("score")).agg(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("p"),
          sum(when(col("y") === -1, 1L).otherwise(0L)).as("n"))
        // same two-pass exact ntile as q195 (GlobalRank): identical bins,
        // no single-partition window
        val (ranked, nScores) = graft.operators.GlobalRank.withRowNumber(
          byScore, Seq(col("score")), "_rk")
        ranked
          .withColumn("bin",
            graft.operators.GlobalRank.ntileFromRank(col("_rk"), nScores, 10))
          .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("score"))))
          .groupBy(col("bin"))
          .agg(sum(col("p") + col("n")).as("nb"),
            round(sum((col("p") + col("n")) * col("prob"))
              / sum(col("p") + col("n")), 6).as("mp"),
            round(sum(col("p")) / sum(col("p") + col("n")).cast("double"), 6)
              .as("pr"))
          .agg(sum(col("nb")).as("n_examples"),
            round(sum(col("nb") * abs(col("mp") - col("pr")))
              / sum(col("nb")), 6).as("ece"))
      },
      Some(PerceptronCtes + ",\n" + """s AS (SELECT y,
             |       w0*x0 + w1*x1 + w2*x2 + w3*x3 AS score
             |     FROM f CROSS JOIN w5),
             |g AS (SELECT score, count(*) FILTER (y = 1) AS p,
             |             count(*) FILTER (y = -1) AS n
             |      FROM s GROUP BY score),
             |b AS (SELECT score, p, n,
             |        ntile(10) OVER (ORDER BY score) AS bin,
             |        1.0 / (1.0 + exp(-score)) AS prob FROM g),
             |c AS (SELECT bin, sum(p + n) AS nb,
             |        round(sum((p + n) * prob) / sum(p + n), 6) AS mp,
             |        round(sum(p) / sum(p + n)::DOUBLE, 6) AS pr
             |      FROM b GROUP BY bin)
             |SELECT sum(nb)::BIGINT AS n_examples,
             |  round(sum(nb * abs(mp - pr)) / sum(nb), 6) AS ece
             |FROM c""".stripMargin)),

    // --- autocorrelation function of the daily event series, lags 1-7:
    //     the seasonality detector behind q187's day-of-week index (a
    //     strong lag-7 spike IS weekly seasonality). Daily counts are a
    //     days-sized frame, so the lag self-join fans out 7 x days rows —
    //     metadata scale — and corr() partial-aggregates map-side. ---
    Q("q196_acf",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("x"))
          .localCheckpoint()
        val lags = (1 to 7).map(lit(_))
        // a.day = b.day + lag, keyed on b's day so it plans as an
        // equi-join rather than a nested loop over day pairs
        daily
          .select(explode(array(lags: _*)).as("lag"), col("day"), col("x"))
          .withColumn("b_day", date_sub(col("day"), col("lag")))
          .as("a")
          .join(daily.as("b"), col("a.b_day") === col("b.day"))
          .groupBy(col("lag"))
          .agg(count(lit(1)).as("n_pairs"),
            round(corr(col("a.x"), col("b.x")), 4).as("acf"))
          .orderBy(col("lag"))
      },
      Some("""WITH daily AS (
             |  SELECT ts::DATE AS day, count(*)::DOUBLE AS x
             |  FROM events GROUP BY 1),
             |l AS (SELECT unnest(range(1, 8)) AS lag)
             |SELECT l.lag, count(*) AS n_pairs,
             |  round(corr(a.x, b.x), 4) AS acf
             |FROM daily a, l, daily b
             |WHERE a.day = b.day + l.lag::INTEGER
             |GROUP BY l.lag ORDER BY l.lag""".stripMargin)),

    // --- JSONL ingestion with corrupt-record quarantine — the format a
    //     real training-data pipeline actually receives. The corpus is
    //     round-tripped through to_json -> text files (memoized per
    //     (session, dir), the zonemap pattern) with TWO planted malformed
    //     lines, then ingested via spark.read.json in PERMISSIVE mode
    //     with an explicit schema + _corrupt_record column (schema
    //     provided, so no inference pass; corrupt rows carry the raw line
    //     for quarantine instead of killing the job, which is the only
    //     acceptable failure mode at 100 TB). The oracle knows the
    //     original table: losslessness of the round trip IS the gate —
    //     good-row count, corrupt count, and the summed payload sizes
    //     must reproduce the source exactly. ---
    Q("q201_jsonl_ingest",
      (s, dir) => {
        val jsonlDir = SimilarityQueries.memoFit(s, dir, "jsonl-docs") {
          val d = scratchDir("jsonl")
          Tables(s, dir, "documents")
            .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
              col("source"), col("n_chars"))).as("value"))
            .coalesce(2).write.mode("overwrite").text(d)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/zz_corrupt.txt"),
            "{this is not json\n\"}{ neither is this\n")
          d
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(jsonlDir)
          .agg(
            sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
              .as("n_good"),
            sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            sum(when(col("_corrupt_record").isNull, col("n_chars")))
              .as("sum_chars"),
            sum(when(col("_corrupt_record").isNull, length(col("text"))))
              .as("sum_text_len"))
      },
      Some("""SELECT count(*) AS n_good, 2::BIGINT AS n_corrupt,
             |  sum(n_chars)::BIGINT AS sum_chars,
             |  sum(len(text))::BIGINT AS sum_text_len
             |FROM documents""".stripMargin)),

    // --- parquet schema evolution via mergeSchema: a long-lived corpus
    //     directory accumulates files written under DIFFERENT schema
    //     generations (here: the lang column added mid-stream). The read
    //     must unify the schemas (old files surface the new column as
    //     NULL) — silently dropping or failing on either generation is
    //     how production datasets lose columns. Fixture memoized per
    //     (session, dir); the oracle reconstructs every aggregate from
    //     the source table, so a generation lost on read breaks the
    //     hash gate. mergeSchema costs a footer read per file — at
    //     100 TB, enable it on the ingest that registers the unified
    //     schema once, not on every query. ---
    Q("q202_schema_evolution",
      (s, dir) => {
        val evoDir = SimilarityQueries.memoFit(s, dir, "schema-evo-docs") {
          val d = scratchDir("schema-evo")
          val docs = Tables(s, dir, "documents")
          docs.filter(col("doc_id") < 250)
            .select(col("doc_id"), col("text"))
            .write.mode("append").parquet(d)
          docs.filter(col("doc_id") >= 250)
            .select(col("doc_id"), col("text"), col("lang"))
            .write.mode("append").parquet(d)
          d
        }
        s.read.option("mergeSchema", "true").parquet(evoDir)
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("lang").isNotNull, 1L).otherwise(0L))
              .as("n_with_lang"),
            sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_old_gen"),
            sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("text_len_sum"))
      },
      Some("""SELECT count(*) AS n_total,
             |  count(*) FILTER (doc_id >= 250) AS n_with_lang,
             |  count(*) FILTER (doc_id < 250) AS n_old_gen,
             |  sum(doc_id)::BIGINT AS id_sum,
             |  sum(len(text))::BIGINT AS text_len_sum
             |FROM documents""".stripMargin)),

    // --- one-shot data-quality audit: the nightly gate a 100 TB warehouse
    //     runs before publishing a snapshot. Eight independent checks
    //     (referential orphans via anti-joins, duplicate keys, empty/null
    //     payloads, domain violations, embedding-dimension drift), each a
    //     scan + aggregate producing ONE row, unioned into a fixed-shape
    //     report. Every frame that reaches the union is a scalar; the
    //     anti-joins shuffle on their keys (broadcast when the dim side
    //     fits) and everything else is a map-side predicate count. ---
    Q("q193_dq_audit",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val ord = Tables(s, dir, "orders")
        val cust = Tables(s, dir, "customer")
        val nat = Tables(s, dir, "nation")
        val docs = Tables(s, dir, "documents")
        val ev = Tables(s, dir, "events")
        val emb = Tables(s, dir, "embeddings")
        def check(name: String, d: org.apache.spark.sql.DataFrame) =
          d.agg(count(lit(1)).as("n_bad")).select(
            lit(name).as("check_name"), col("n_bad"))
        val dimMax = broadcast(
          emb.agg(max(size(col("embedding"))).as("dmax")))
        check("customer_orphan_nation",
            cust.join(nat, cust("c_nationkey") === nat("n_nationkey"),
              "left_anti"))
          .unionAll(check("docs_empty_text",
            docs.filter(col("text").isNull || length(col("text")) === 0)))
          .unionAll(check("dup_doc_ids",
            docs.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
              .filter(col("c") > 1)))
          .unionAll(check("embedding_dim_drift",
            emb.crossJoin(dimMax)
              .filter(size(col("embedding")) =!= col("dmax"))))
          .unionAll(check("events_null_user", ev.filter(col("user_id").isNull)))
          .unionAll(check("lineitem_nonpositive_qty",
            li.filter(col("l_quantity") <= 0)))
          .unionAll(check("lineitem_orphan_order",
            li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")))
          .unionAll(check("orders_orphan_customer",
            ord.join(cust, ord("o_custkey") === cust("c_custkey"),
              "left_anti")))
          .orderBy(col("check_name"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'customer_orphan_nation' AS check_name, count(*) AS n_bad
             |  FROM customer WHERE c_nationkey NOT IN
             |    (SELECT n_nationkey FROM nation)
             |  UNION ALL
             |  SELECT 'docs_empty_text', count(*) FROM documents
             |  WHERE text IS NULL OR len(text) = 0
             |  UNION ALL
             |  SELECT 'dup_doc_ids', count(*) FROM (
             |    SELECT doc_id FROM documents GROUP BY doc_id
             |    HAVING count(*) > 1)
             |  UNION ALL
             |  SELECT 'embedding_dim_drift', count(*) FROM embeddings
             |  WHERE len(embedding) <>
             |    (SELECT max(len(embedding)) FROM embeddings)
             |  UNION ALL
             |  SELECT 'events_null_user', count(*) FROM events
             |  WHERE user_id IS NULL
             |  UNION ALL
             |  SELECT 'lineitem_nonpositive_qty', count(*) FROM lineitem
             |  WHERE l_quantity <= 0
             |  UNION ALL
             |  SELECT 'lineitem_orphan_order', count(*) FROM lineitem
             |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
             |  UNION ALL
             |  SELECT 'orders_orphan_customer', count(*) FROM orders
             |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |ORDER BY check_name""".stripMargin))
  )
}
