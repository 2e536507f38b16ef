package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.xxhash64_seeded

/** MinHash + LSH banding primitives under the near-dup operator
  * ([[NearDup]]), which every near-dup consumer — the catalog queries, the
  * data pipeline and the streaming flagger — goes through, so all of them
  * use the identical hash family and banding scheme.
  *
  * Everything here but [[bucketPairs]] is map-side: shingling, the 64-hash
  * signature (one fused codegen'd pass), and the band-key explosion (one
  * `bh` row per band per document). The only shuffle of candidate
  * generation is [[bucketPairs]]' grouping on `bh`.
  */
object MinHash {

  val NumHashes = 64
  val BandRows  = 2 // 32 bands x 2 rows: P(miss | j>=0.8) ~ 6e-15
  val NumBands: Int = NumHashes / BandRows

  /** Distinct n-token shingles of a whitespace-tokenized text column —
    * the fused one-pass kernel, bit-identical to
    * `array_distinct(word_ngrams(split(text, " "), n))` (spec'd in
    * MinHashSpec; the composed form is interpreted end to end and was the
    * dominant CPU of the verification stage at pipeline scale). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.word_ngrams_distinct(split(text, " "), n)

  /** Seed for the one-per-shingle base hash the signature family derives
    * from (distinct from the family seeds 0..63 and the band seeds
    * 1000+). */
  val BaseHashSeed = -9L

  /** Seed for VERIFICATION-stage shingle hashes (exact hashed-set Jaccard
    * over candidate pairs), deliberately DISTINCT from [[BaseHashSeed]]:
    * with a shared seed, a 64-bit collision that helped create a spurious
    * candidate would be the identical collision at verify time, making the
    * two stages' (already negligible) collision errors correlated instead
    * of independent. A distinct seed keeps exact verification an
    * independent check of candidate generation. */
  val VerifyHashSeed = -77L

  /** The 64 MinHash signature values of a hashed-shingle array column
    * (array<long>), one column per family: for family i (seeded xxhash64),
    * the min over the document's shingle hashes. The column-per-family
    * reference formulation of the fused `minhash_signatures` kernel that
    * [[bandHashKeys]] runs (equality spec'd in MinHashSpec).
    *
    * Family value i of a shingle is xxhash64(i, xxhash64(base, shingle)):
    * the string is hashed once and the 64 family hashes re-mix the 8-byte
    * result — the standard minwise-family construction (one strong base
    * hash + derived family, as in datasketch / Spark MLlib's
    * MinHashLSH). */
  def signatureFromHashes(hashCol: Column): Seq[Column] =
    (0 until NumHashes).map { i =>
      array_min(transform(hashCol, h => xxhash64_seeded(i.toLong, h)))
        .as(s"mh_$i")
    }

  /** Band bucket keys for every row of `df`: `carryCols` + `bh`, NumBands
    * rows per input row. `bh` hashes one band's signature rows under the
    * band's own seed (1000 + band), so the band ordinal lives INSIDE the
    * hash and no band column is ever materialized: buckets merge across
    * bands only on a 64-bit cross-band collision (~1e-19 per bucket
    * pair), and a merged bucket only ADDS candidate pairs, which every
    * consumer's exact verification discards. The (doc_id, bh) row is 24
    * bytes where a (doc_id, band, bh) row is 32, and the candidate
    * aggregation keys one long: measured 1.5x on the data pipeline's
    * candidate stage at 11.32 GB with candidates bit-identical
    * (`bench-artifacts/candslap-11p3g.json`).
    *
    * Rows with no shingles (< n tokens) are dropped. Works on streaming
    * frames too — every step is a stateless projection. */
  def bandHashKeys(df: DataFrame, textCol: String, carryCols: Seq[String],
      n: Int = 3): DataFrame = {
    val sigs = df
      // Exactly `size(shingles) > 0`, but stated over the raw token count:
      // a doc has >= 1 n-shingle iff it has >= n whitespace tokens. The
      // distinction matters physically — Catalyst pushes this filter below
      // any downstream repartition into the scan stage, and there a
      // predicate over the shingle ARRAY would evaluate the whole shingle
      // pipeline once per row inside the (often single-split) scan task,
      // then recompute it again after the exchange. The token-count form
      // keeps the pushed-down predicate a cheap split+size.
      .filter(size(split(col(textCol), " ")) >= n)
      // FUSED base-hash projection: one hash per n-token window straight
      // off the token array (word_ngram_hashes — bit-equal to hashing the
      // joined gram string, no gram-string materialization, no
      // array_distinct: the signature is a per-family MINIMUM, so
      // duplicate shingles cannot change it; spec'd in MinHashSpec), then
      // the FUSED 64-family signature: one codegen'd pass computing all
      // minima, instead of 64 interpreted array_min(transform(...))
      // traversals per document. The explicit select boundaries keep
      // CollapseProject from folding either non-cheap projection into its
      // downstream consumers.
      .select(carryCols.map(col) :+
        graft.functions.word_ngram_hashes(split(col(textCol), " "), n,
          BaseHashSeed).as("__h"): _*)
      .select(carryCols.map(col) :+
        graft.functions.minhash_signatures(col("__h"), NumHashes).as("__sig"): _*)
    sigs.select(carryCols.map(col) :+
      explode(array((0 until NumBands).map { b =>
        xxhash64_seeded(1000L + b,
          (0 until BandRows).map(r => col("__sig").getItem(b * BandRows + r)): _*)
      }: _*)).as("bh"): _*)
  }

  /** Default per-bucket row cap for LSH candidate joins. Work inside one
    * bucket is quadratic in its size, and a single saturated key is
    * invisible to AQE skew handling (it is one KEY, not one partition) —
    * so on a boilerplate-heavy corpus (templated pages, licence headers)
    * an uncapped band join is the one plan that can go quadratic. 1000
    * bounds any single bucket's expansion at ~0.5M pairs. */
  val MaxBucketSize = 1000

  /** Drop buckets (distinct `keyCols` groups) holding more than `cap`
    * rows. This is the standard production guard for LSH candidate
    * generation: a bucket with thousands of members means near-identical
    * content that exact dedup (or a lower-threshold pass) already owns, so
    * dropping it bounds the join at no recall cost for the non-degenerate
    * pairs — every pair NOT in an oversized bucket still collides on its
    * other bands exactly as before (capping removes keys, never rows of
    * other keys).
    *
    * PLAN-PURE: this is pure plan construction — no job runs until the
    * consumer's own action (asserted with a job listener in
    * LshBucketCapSpec). The hot-keys frame is always `left_anti`-joined
    * (broadcast): in the normal no-hot-key case it is an empty broadcast,
    * which costs one key-only aggregation pass over `buckets` (8-byte
    * keys, map-side partial agg) and microseconds in the join itself.
    * The dropped-bucket count is surfaced at action time via
    * `Dataset.observe` (metric name `graft.lsh.cap.N`, fields
    * `hot_buckets`/`hot_rows`) and logged to stderr by a per-session
    * QueryExecutionListener whenever any bucket was dropped.
    */
  def capBuckets(buckets: DataFrame, keyCols: Seq[String],
      cap: Int = MaxBucketSize): DataFrame = {
    val keys = keyCols.map(col)
    val hot = buckets.groupBy(keys: _*).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      // observation names must be unique within a plan; one query may cap
      // several bucket tables (e.g. index + probe sides), hence the counter
      .observe(s"graft.lsh.cap.${capId.incrementAndGet()}",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("bucket_n")), lit(0L)).as("hot_rows"),
        first(lit(s"capBuckets(${keyCols.mkString(",")}) cap=$cap"))
          .as("cap_site"))
    registerCapLogger(buckets.sparkSession)
    buckets.join(broadcast(hot.select(keys: _*)), keyCols, "left_anti")
  }

  /** Candidate pairs from a bucket-keyed frame, capped, in ONE pass: group
    * rows by `keyCols`, collect the bucket's ids, drop oversized buckets,
    * and expand each surviving bucket's pairs IN-ROW (`least`/`greatest`
    * ordering, so (id_a < id_b) like the join formulation). Returns
    * (id_a, id_b) — callers `distinct()` across buckets.
    *
    * This is the scale shape for LSH candidate generation, replacing the
    * round-8 self-join: a self-join references the bucket pipeline on BOTH
    * sides (plus a third time in the cap's key-count pass), and Spark has
    * no reliable cross-branch sharing for it — persist() races when AQE
    * launches the branches concurrently (each computed the full pipeline
    * before any cache block landed), localCheckpoint() executes stages at
    * plan-construction time, and exchange reuse is defeated by optimizer
    * reordering around the cap's anti-join. Grouping instead references
    * the pipeline ONCE and shuffles it ONCE (map-side partial
    * collect_list, 8-byte ids), and the quadratic expansion is bounded by
    * `cap` (≤ cap²/2 in-row pairs per bucket, ~0.5M at the default —
    * bounded work per task, where an uncapped hot KEY would be invisible
    * to AQE skew splitting). Dropped-bucket counts surface at action time
    * via `Dataset.observe` (metric `graft.lsh.cap.N`), logged by the
    * per-session listener; dropping whole oversized buckets is the
    * standard LSH guard — their members are near-identical content exact
    * dedup owns, and every other pair keeps its remaining band collisions.
    *
    * Plan-pure: construction launches no jobs (LshBucketCapSpec asserts
    * with a job listener).
    *
    * Sizing: the collect_list aggregation is an ObjectHashAggregate with
    * sort-based fallback — callers should pin the partitioning of
    * `buckets` proportional to data (an explicit repartition on
    * `keyCols`, which this groupBy then reuses shuffle-free) so per-task
    * aggregation state spills a handful of files, not hundreds (the
    * spill-merge phase allocates one reader buffer per file). Because
    * the frame is consumed exactly ONCE here, callers need no
    * checkpoint/persist on it — at the 6.4M-doc pipeline scale the old
    * two-reference materialization cached 7.5 GB for nothing.
    */
  def bucketPairs(buckets: DataFrame, keyCols: Seq[String], idCol: String,
      cap: Int = MaxBucketSize): DataFrame = {
    // The id collector must hold at most cap+1 elements of aggregation
    // state per group: a plain collect_list materializes a hot bucket's
    // ENTIRE id array before the size filter can drop it, which on the
    // motivating input (one key shared by 10^8+ boilerplate rows at corpus
    // scale) is an executor OOM, not a cap. collect_capped grows its buffer
    // lazily and stops appending at cap+1 — enough to prove oversize —
    // while the exact bucket_n count (O(1) state) drives the filter and the
    // drop metrics, and any SURVIVING bucket (n <= cap < cap+1) kept all
    // its ids, so results are identical to the unbounded collect. For
    // effectively uncapped calls (cap near Int.MaxValue — the spec's
    // equivalence twin), cap+1 would overflow, so fall back to
    // collect_list.
    val collector =
      if (cap >= (1 << 20)) collect_list(col(idCol))
      else graft.functions.collect_capped(col(idCol), cap + 1)
    // NULL key semantics must match the equality self-join this operator
    // replaced: a join emits nothing for NULL keys, while groupBy would
    // collect them into one group and emit pairs — drop them up front.
    // (Current callers' band keys are never null; this guards the general
    // contract.)
    require(keyCols.nonEmpty, "bucketPairs needs at least one key column")
    val nonNullKeys = buckets.filter(keyCols.map(col(_).isNotNull)
      .reduce(_ && _))
    val ids = col("__ids")
    registerCapLogger(buckets.sparkSession)
    nonNullKeys.groupBy(keyCols.map(col): _*)
      .agg(collector.as("__ids"), count(lit(1)).as("__n"))
      .observe(s"graft.lsh.cap.${capId.incrementAndGet()}",
        coalesce(sum(when(col("__n") > cap, 1L)), lit(0L)).as("hot_buckets"),
        coalesce(sum(when(col("__n") > cap, col("__n"))), lit(0L))
          .as("hot_rows"),
        first(lit(s"bucketPairs(${keyCols.mkString(",")}) cap=$cap"))
          .as("cap_site"))
      .filter(col("__n") <= cap)
      // all unordered pairs of the bucket: for element i, pair it with
      // every LATER element (slice is 1-based; transform's index 0-based;
      // slice length size(ids) rather than `cap` — start+cap can overflow
      // Int for an effectively-uncapped call), ordered (least, greatest)
      // so id_a < id_b matches the join form
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)), y =>
          struct(least(x, y).as("id_a"), greatest(x, y).as("id_b"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      // guard the join-form contract (a.id < b.id) against a caller whose
      // bucket frame repeats an id under one key: least/greatest would
      // emit a self-pair there where the strict self-join emitted nothing
      .filter(col("id_a") =!= col("id_b"))
  }

  private val capId = new java.util.concurrent.atomic.AtomicLong()

  /** Sessions that already carry the cap-logging listener (weak keys so a
    * stopped session isn't pinned by this map). */
  private val capLoggerSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Log dropped-bucket counts when any consumer of a capped frame runs:
    * reads the `graft.lsh.cap.*` observed metrics off the finished query
    * execution. Registered once per session. */
  private def registerCapLogger(s: org.apache.spark.sql.SparkSession): Unit =
    if (capLoggerSessions.putIfAbsent(s, java.lang.Boolean.TRUE) == null)
      s.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft.lsh.cap.") && row.getLong(0) > 0L) {
                val site = if (row.length > 2 && !row.isNullAt(2))
                  row.getString(2) else "?"
                System.err.println(
                  s"[graft] MinHash $site: dropped ${row.getLong(0)} " +
                    s"oversized bucket(s) (${row.getLong(1)} rows total) — " +
                    "members are near-identical content owned by exact dedup")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
}
