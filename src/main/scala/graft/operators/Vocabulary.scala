package graft.operators

import java.util.Arrays

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vocabulary construction and membership filtering (reference
  * `base.py:341-371` + `lookups/dawg.py`).
  *
  * The reference materializes the whole vocabulary on the driver as a list
  * of range-partitioned DAWG tries and broadcasts the pickle
  * (`dawg.py:107-117`, `base.py:364-367`) — workable at GB scale, a
  * driver-memory wall at 100 TB. Here membership is a relational join:
  * the vspace job probes the vocabulary's hash index on `xxhash64(gram)`
  * ([[hashIndexFilter]]), q28 joins gram strings ([[SemiJoinFilter]]).
  * Both are fully Catalyst-planned, broadcast automatically when the
  * vocabulary is small, shuffle-partitioned when it is not, no driver
  * materialization ever. BroadcastSetFilter keeps the reference's shape
  * (driver collect + broadcast + per-row membership probe against a
  * sorted array — binary search replaces the DAWG, which the reference
  * only ever uses for `__contains__`, `dawg.py:179-193`).
  */
object Vocabulary {

  /** Union phrases + collections, dedup, assign ids
    * (reference `base.py:341-355`; ids via monotonically_increasing_id are
    * non-contiguous there too and never consumed downstream).
    *
    * Null/blank tokens are dropped BEFORE the vocabulary is written — a
    * pinned divergence: the reference writes the CSV unfiltered and only
    * drops those rows inside the DAWG build (`dawg.py:101-102`), so
    * membership semantics are identical either way. */
  def build(phrases: DataFrame, collections: DataFrame): DataFrame =
    phrases.toDF("token").union(collections.toDF("token"))
      .na.drop().filter(length(trim(col("token"))) =!= 0)
      .distinct().withColumn("tokenid", monotonically_increasing_id())

  /** Keep rows of `df` whose `tokenCol` passes the reference predicate:
    * unigrams (no space) always pass; multi-grams must be in the
    * vocabulary (`base.py:385-389`).
    *
    * Default, scale path: ONE left join against the (distinct) vocabulary
    * marks membership, one filter keeps unigrams (bypass) or marked
    * multigrams, and the original column order is restored.
    *
    * History (round-12 stage laps): the previous shape — a UNION of a
    * unigram filter branch and a multigram left-semi branch — computed the
    * expensive upstream TWICE, because Spark shares no sub-plan across
    * union branches without an explicit cache, and the upstream here is
    * the full exploded n-gram pipeline (measured as 72% of the vspace
    * run's wall clock at 13 GB, paid once per branch). Semantics are
    * identical: the vocabulary is distinct'd before the join so the left
    * join cannot duplicate rows, and `unigram OR marked` is exactly
    * `unigram ∪ (multigram ⋉ vocabulary)` row-for-row (the oracle gate
    * and the filter-agreement spec pin it). At huge vocabularies the join
    * degrades to SMJ exactly like the semi-join did — the one-pass shape
    * then shuffles unigram rows too (~1/6 of ≤6-gram traffic), still far
    * cheaper than recomputing the gram pipeline per branch. */
  final case class SemiJoinFilter(vocabulary: DataFrame) {
    def apply(df: DataFrame, tokenCol: String): DataFrame = {
      val marked = vocabulary.select(col("token").as(tokenCol)).distinct()
        .withColumn("__invocab", lit(true))
      df.join(marked, Seq(tokenCol), "left")
        .filter(!col(tokenCol).contains(" ") || col("__invocab"))
        .select(df.columns.map(col): _*)
    }
  }

  /** [[SemiJoinFilter]] for HASH-keyed gram frames
    * ([[graft.operators.Corpus.tokenCountHashesFromNormalized]] shape):
    * the same one-pass membership-marker left join, probing on the 8-byte
    * `h` column against `xxhash64(vocabulary.token)` instead of on gram
    * strings, with the unigram bypass read from the explicit gram order
    * `n` instead of from a contains-space test. */
  def hashedSemiJoinFilter(df: DataFrame, vocabulary: DataFrame): DataFrame =
    hashIndexFilter(df,
      vocabulary.select(xxhash64(col("token")).as("h")).distinct())

  /** [[hashedSemiJoinFilter]] against a frame whose `h` column is already
    * distinct, such as [[hashIndex]]: no `distinct` exchange on the
    * vocabulary side. */
  def hashIndexFilter(df: DataFrame, index: DataFrame): DataFrame = {
    val marked = index.select(col("h"), lit(true).as("__invocab"))
    df.join(marked, Seq("h"), "left")
      .filter(col("n") === 1 || col("__invocab"))
      .select(df.columns.map(col): _*)
  }

  /** The vocabulary as a hash index `(h, token)`, `h = xxhash64(token)`,
    * one row per `h`: the dictionary the hashed stats path probes for
    * membership ([[hashIndexFilter]]) and restores gram strings from
    * ([[Stats.computeStatsHashed]]).
    *
    * Vocabulary-side hash collisions are DETECTABLE in one vocab-sized
    * aggregation (unlike the gram-stream side, which is checked against
    * the string-operator witness in VspacePipelineSpec), so this detects
    * them and throws: silently keeping one string per hash would mislabel
    * one token's stats with another's string. countDistinct on the token
    * (not count(*)) so duplicate vocabulary ROWS (the same string twice,
    * legitimately deduped) don't trip the guard. The guard runs one job
    * when this is called, so build the index once per run. */
  def hashIndex(vocabulary: DataFrame): DataFrame = {
    val card = vocabulary.agg(
      countDistinct(col("token")).as("t"),
      countDistinct(xxhash64(col("token"))).as("h")).head()
    if (card.getLong(0) != card.getLong(1))
      throw new IllegalStateException(
        s"hashIndex: xxhash64 collision inside the vocabulary " +
        s"(${card.getLong(0)} distinct tokens -> ${card.getLong(1)} " +
        "distinct hashes) — the hashed stats job would mislabel a " +
        "token's stats")
    // one row per h: the guard makes (h, token) pairs 1:1, and distinct
    // (unlike dropDuplicates' first(token) buffer) stays a hash aggregate
    vocabulary.select(xxhash64(col("token")).as("h"), col("token")).distinct()
  }

  /** Reference-shaped path: the [[SemiJoinFilter]] predicate with the
    * vocabulary collected once, broadcast as a sorted array, probed per
    * row by binary search. Bounded by driver memory — use only when the
    * vocabulary is known-small. */
  final class BroadcastSetFilter(bc: Broadcast[Array[String]]) {
    def apply(df: DataFrame, tokenCol: String): DataFrame = {
      val localBc  = bc // avoid capturing non-serializable `this` in the UDF
      val contains = udf { t: String =>
        !t.contains(" ") || Arrays.binarySearch(localBc.value.asInstanceOf[Array[AnyRef]], t) >= 0
      }
      df.filter(contains(col(tokenCol)))
    }
  }

  /** Id-keyed lookup (reference `dawg.py:60-65,108-110` with
    * `has_index=True` — a variant the reference defines but never enables,
    * `base.py:366`): resolve token → tokenid. Scale path: a plain left
    * join against the vocabulary relation — Catalyst broadcasts it when
    * small, shuffles when not; OOV tokens keep a null id. */
  def resolveIds(df: DataFrame, tokenCol: String,
      vocabulary: DataFrame): DataFrame =
    df.join(
      vocabulary.select(col("token").as(tokenCol), col("tokenid")),
      Seq(tokenCol), "left")

  object BroadcastSetFilter {
    /** Range-partition + in-partition sort before collecting (the
      * reference's DAWG prep, `dawg.py:96-98`): executors do the sort work
      * and collect() preserves partition order, so the concatenated array
      * arrives globally ordered. The driver-side Arrays.sort then only
      * re-checks order under Java's UTF-16 comparator (binary UTF-8 and
      * UTF-16 order diverge for supplementary-plane chars) — near-linear
      * on already-sorted input. */
    def apply(spark: SparkSession, vocabulary: DataFrame,
        numPartitions: Int = 20): BroadcastSetFilter = {
      val sorted = vocabulary.select("token").na.drop()
        .repartitionByRange(numPartitions, col("token"))
        .sortWithinPartitions("token")
        .as(org.apache.spark.sql.Encoders.STRING)
        .collect()
      Arrays.sort(sorted.asInstanceOf[Array[AnyRef]])
      new BroadcastSetFilter(spark.sparkContext.broadcast(sorted))
    }
  }
}
