package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Public Column-level API of the engine: text normalization, tokenization,
  * n-gram generation, vector math. Everything here composes into Catalyst
  * plans (built-in functions + two custom codegen'd expressions) — no UDFs,
  * no Python workers, no RDD lambdas (contrast with the reference's
  * `mapValues` chains at `/root/reference/vspace/pipelines/base.py:181-185`).
  */
package object functions {

  private def ex(c: Column) = Bridge.expression(c)

  /** NFC-normalize + lowercase + keep `\w+` runs joined by single spaces.
    * Mirrors reference `vspace/utils/text.py:5-17`. */
  def normalize_text(c: Column): Column =
    Bridge.column(NormalizeText(ex(c.cast("string"))))

  /** Deterministic 64-bit polynomial hash of a string (2^64 ring). */
  def rolling_hash(c: Column): Column =
    Bridge.column(RollingHash(ex(c.cast("string"))))

  /** Shannon entropy (nats) of the string's codepoint distribution —
    * character-diversity quality signal, codegen'd in-row. */
  def char_entropy(c: Column): Column =
    Bridge.column(CharEntropy(ex(c.cast("string"))))

  /** xxhash64 with an explicit seed — gives us k independent hash families
    * for MinHash signatures (public Catalyst XxHash64 expression). */
  def xxhash64_seeded(seed: Long, cols: Column*): Column =
    Bridge.column(
      org.apache.spark.sql.catalyst.expressions.XxHash64(cols.map(ex), seed))

  /** Fused distinct n-grams: bit-identical to
    * `array_distinct(word_ngrams(tokens, n))` in one codegen'd pass
    * (see [[WordNgramsDistinct]]). */
  def word_ngrams_distinct(tokens: Column, n: Int): Column =
    Bridge.column(WordNgramsDistinct(ex(tokens), n))

  /** Fused word-n-gram hashing: one hash per n-token window, bit-equal to
    * `transform(word_ngrams(tokens, n), g => xxhash64_seeded(seed, g))`
    * but with no gram-string materialization (see [[WordNgramHashes]]). */
  def word_ngram_hashes(tokens: Column, n: Int, seed: Long): Column =
    Bridge.column(WordNgramHashes(ex(tokens), n, seed))

  /** Fused exact set-Jaccard of two string arrays — identical to
    * `size(array_intersect(a,b))/size(array_union(a,b))` without
    * materializing either intermediate array (see [[SetJaccard]]). */
  def set_jaccard(a: Column, b: Column): Column =
    Bridge.column(SetJaccard(ex(a), ex(b)))

  /** [[set_jaccard]] over array<long> shingle-hash sets (see
    * [[SetJaccardHashes]]) — equal values modulo 64-bit collisions, with
    * the arrays ~4-5x smaller through any exchange. */
  def set_jaccard_hashes(a: Column, b: Column): Column =
    Bridge.column(SetJaccardHashes(ex(a), ex(b)))

  /** Fused k-family MinHash signature over an array<long> of base hashes:
    * element i = min over the array of xxhash64(seed = i, x), all families
    * in one codegen'd pass (see [[MinHashSignatures]]). */
  def minhash_signatures(hashes: Column, k: Int): Column =
    Bridge.column(MinHashSignatures(ex(hashes), k))

  /** Map-side membership probe of a broadcast long-key Bloom filter (see
    * [[BloomMightContainLong]]) — the near-dup operator's participant
    * prefilters. */
  def bloom_might_contain_long(
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      c: Column): Column =
    Bridge.column(BloomMightContainLong(ex(c), bloom))

  /** Max element multiplicity of a string array — value-identical to
    * `array_max(transform(array_distinct(a), x => size(filter(a, y => y === x))))`
    * in one hashed pass (see [[TopCount]]). */
  def top_count(a: Column): Column = Bridge.column(TopCount(ex(a)))

  /** Sliding minima over an array<long>: element k = min of the w-wide
    * window starting at k, output length max(n - w + 1, 1) — the q53
    * winnowing fold, fused (see [[WindowMins]]). */
  def window_mins(hashes: Column, w: Int): Column =
    Bridge.column(WindowMins(ex(hashes), w))

  /** Sum of squared codepoints of a string — the frame-energy inner fold,
    * fused (see [[CodepointEnergy]]). */
  def codepoint_energy(c: Column): Column =
    Bridge.column(CodepointEnergy(ex(c.cast("string"))))

  /** Best cosine match of `v` against a broadcast array of (id, bv)
    * structs: struct(sim, id) with HALF_UP 4-dp rounding and lowest-id
    * tie-break — q121's fold, fused (see [[BestCosine]]). */
  def best_cosine(v: Column, bench: Column): Column =
    Bridge.column(BestCosine(ex(v), ex(bench)))

  /** Shared-span statistics struct(n, mx, cov) for one candidate pair's
    * window arrays — q91's position scan + interval-merge fold, fused
    * (see [[SharedSpanStats]]). */
  def shared_span_stats(wa: Column, wb: Column, w: Int): Column =
    Bridge.column(SharedSpanStats(ex(wa), ex(wb), w))

  /** 64-bit SimHash of an array<long> of token hashes — the q34 nested
    * majority fold, fused into one pass (see [[SimHash64]]). */
  def simhash64(hashes: Column): Column = Bridge.column(SimHash64(ex(hashes)))

  /** Max n-gram multiplicity straight from tokens, no gram array —
    * value-identical to `top_count(word_ngrams(tokens, n))`
    * (see [[WordNgramTopCount]]). */
  def word_ngram_top_count(tokens: Column, n: Int): Column =
    Bridge.column(WordNgramTopCount(ex(tokens), n))

  /** Rolling hash of every n-token window, bit-equal to
    * `transform(word_ngrams(tokens, n), g => rolling_hash(g))` with no
    * gram materialization (see [[WordNgramRollingHashes]]). */
  def word_ngram_rolling_hashes(tokens: Column, n: Int): Column =
    Bridge.column(WordNgramRollingHashes(ex(tokens), n))

  /** Gram count of the materialized `word_ngrams(tokens, n)` array without
    * materializing it: `when(size(tokens) >= n, size - n + 1).otherwise(0)`
    * — the composed form's transform output length (its when-guard yields
    * an empty array below n tokens). Null tokens -> 0 like size(empty)
    * after the guard's null-condition fallthrough. */
  def word_ngram_count(tokens: Column, n: Int): Column =
    when(size(tokens) >= n, size(tokens) - n + 1).otherwise(lit(0))

  /** Whitespace tokens of the normalized text; empty array for empty text
    * (plain `split("")` would yield `[""]`). */
  def norm_tokens(c: Column): Column = {
    val n = normalize_text(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Tokens of already-clean space-separated text. */
  def ws_tokens(c: Column): Column =
    when(length(c) === 0, array().cast("array<string>")).otherwise(split(c, "\\s+"))

  /** All n-grams of exactly `n` words from a token array, space-joined.
    * Pure built-ins (`transform`/`sequence`/`slice`) => codegen-friendly,
    * no shuffle, no UDF. */
  def word_ngrams(tokens: Column, n: Column): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - n + lit(1)),
        i => array_join(slice(tokens, i, n), " ")))
      .otherwise(array().cast("array<string>"))

  def word_ngrams(tokens: Column, n: Int): Column = word_ngrams(tokens, lit(n))

  /** All n-grams for n in [minN, maxN] (the reference's `everygrams`,
    * `base.py:128-152`), flattened into one array. */
  def everygrams(tokens: Column, minN: Int, maxN: Int): Column =
    flatten(transform(sequence(lit(minN), lit(maxN)), n => word_ngrams(tokens, n)))

  /** Per-document n-gram histogram (all n in [1, maxN]) computed in-row by
    * the codegen'd [[NGramCounts]] kernel: `array<struct<token, tf>>`.
    * Replaces explode+groupBy for per-doc counting — see the expression's
    * doc for why that shuffle is pure waste. */
  def ngram_counts(tokens: Column, maxN: Int): Column =
    Bridge.column(NGramCounts(ex(tokens), maxN))

  /** Hash-keyed per-document n-gram histogram:
    * `array<struct<h = xxhash64(gram), n, tf, tok>>` with `tok` carried
    * for unigrams only — the fixed-width-row form of [[ngram_counts]] for
    * stats pipelines that only need gram strings at the vocab-sized
    * OUTPUT (see [[NGramCountHashes]]). */
  def ngram_count_hashes(tokens: Column, maxN: Int): Column =
    Bridge.column(NGramCountHashes(ex(tokens), maxN))

  /** Bounded-heap top-k aggregate (public Catalyst `CollectTopK`): keeps
    * the k greatest — or, with `smallest = true`, the k least — values of
    * `e` per group in a k-element priority queue and returns them sorted
    * best-first.
    *
    * Honest comparison with the `row_number()<=k` window idiom: Spark
    * 3.5+ already mitigates that shape (`InferWindowGroupLimit` inserts a
    * partial WindowGroupLimit before the shuffle), so shuffle VOLUME is
    * comparable. What the aggregate still wins: the window path must SORT
    * every map partition by (key, order) to feed its group-limit
    * (O(n log n) over all candidates) and sort again per key after the
    * shuffle, while the heap is O(n log k) map-side and the final merge
    * touches only k rows per partition-key with no sort of the candidate
    * set; and as an aggregate it composes (one operator, no
    * Sort+GroupLimit+Sort+Window+Filter chain). Mixed-direction rankings
    * (score desc, id asc) order by a struct whose leading field is
    * sign-flipped. */
  def top_k(e: Column, k: Int, smallest: Boolean = false): Column =
    Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
        ex(e), k, smallest, 0, 0).toAggregateExpression())

  /** `collect_list` that stops collecting past `maxItems` elements per
    * group (lazily-grown buffer — near-singleton groups cost one append,
    * hot keys are bounded; see [[CollectCapped]]). Groups with <= maxItems
    * rows collect exactly what collect_list would. */
  def collect_capped(e: Column, maxItems: Int): Column =
    Bridge.column(CollectCapped(ex(e), maxItems).toAggregateExpression())

  /** Z-order (Morton) clustering key over n non-negative dimension
    * columns (ints cast to long; callers normalize to rank-like values
    * first). Sort or range-partition by this before writing so range
    * predicates on ANY dimension prune files/row-groups — see
    * [[ZOrderKey]]. */
  def zorder_key(cols: Column*): Column =
    Bridge.column(ZOrderKey(cols.map(c => ex(c.cast("long")))))

  // ---- Bloom-filter semi-join pre-filtering ----

  /** Seed shared by build and probe — the two hash the same way or the
    * filter is garbage. */
  private val BloomSeed = 42L

  /** Build a Bloom filter over `xxhash64(e)` across all rows of `df` and
    * return its serialized bytes. This is Spark's own runtime-filter
    * machinery (public Catalyst `BloomFilterAggregate`) exposed for
    * EXPLICIT pre-filtering: the aggregate is partial+final, so each map
    * task builds a local filter and only filter-sized blobs are merged —
    * the keys themselves never move. The result is model-sized (like a
    * KMeans centroid set); ship it back into plans as a literal via
    * [[bloom_might_contain]]. For very large builds raise
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4M items / 64M bits ≈ 8 MB). */
  def bloom_build(df: DataFrame, e: Column, expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems=$expectedItems must be positive")
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val agg = Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        XxHash64(Seq(ex(e)), BloomSeed),
        Literal(expectedItems), Literal(numBits), 0, 0).toAggregateExpression())
    df.select(agg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Membership probe against a [[bloom_build]] filter: true for every
    * inserted value, false with probability ~(1 - fpp) for others — NEVER
    * a false negative, which is what makes it sound as a PRE-filter whose
    * survivors still flow through the exact semi-join (q78's contract:
    * the pre-filtered plan hash-matches the unfiltered oracle). Codegen'd
    * predicate, evaluated map-side against the literal filter bytes. */
  def bloom_might_contain(bloomBytes: Array[Byte], e: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    Bridge.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(ex(e)), BloomSeed)))
  }

  // ---- vector math over array<double> (embedding columns) ----

  /** Dot product via the codegen'd [[VecDot]] kernel (bit-identical to the
    * `aggregate(zip_with(...))` fold, but it stays in WholeStageCodegen —
    * HOF lambdas never do). */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(ex(a), ex(b)))

  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Jaro-Winkler similarity via the codegen'd [[JaroWinkler]] kernel
    * (standard Winkler parameters — matches DuckDB / Postgres fuzzystrmatch
    * conventions; either side empty -> 0.0). */
  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(ex(a), ex(b)))

  /** Cosine similarity computed in double precision with sequential
    * accumulation (matches DuckDB's list_cosine_similarity fold order). */
  def cosine_sim(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))
}
