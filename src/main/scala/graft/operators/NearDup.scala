package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.Checkpoints.release

/** The near-duplicate operator: exact-verified MinHash-LSH over a
  * `(doc_id, text)` frame, the one implementation behind the catalog's
  * near-dup queries (q32/q36/q37/q92/q94/q95/q120/q152), the data
  * pipeline's near-dup stage and the streaming flagger.
  *
  *  - candidates: band keys keyed by `bh` alone ([[MinHash.bandHashKeys]])
  *    → one explicit exchange on `bh` sized by the session's
  *    `spark.sql.shuffle.partitions` → [[MinHash.bucketPairs]] (grouped,
  *    capped, in-row pair expansion) → `distinct`;
  *  - verify: exact Jaccard over hashed 3-shingle sets, in the
  *    single-reference explode/join/regroup shape, with a size-gated Bloom
  *    prefilter on the candidate participants;
  *  - keep-best: the best-quality member per cluster, losers removed by a
  *    Bloom-staged anti-join.
  *
  * Connected components between verify and keep-best stay
  * [[Dedup.connectedComponents]].
  *
  * The verify stage is the string-similarity join of "Highly Efficient
  * String Similarity Search and Join over Compressed Indexes" (ICDE
  * 2022): a candidate filter, then exact verification of the survivors
  * only.
  */
object NearDup {

  /** Input-size gate for the verify participant prefilter: it fires when
    * the optimizer's size estimate of the docs frame reaches 2 GiB. The
    * prefilter runs two driver-side actions (participant count + Bloom
    * build) on materialized candidates; at catalog scale (~5k docs, < 1 MB
    * scan) those cost more than the shingle pass they save, and at
    * 11.32 GB it cut the verify stage from 58.0 to 47.8 s with identical
    * pair counts (`bench-artifacts/verifylap-11p3g.json`). */
  val PrefilterMinBytes: Long = 2L << 30

  /** Called with each stage's frame (`bands`, `cands`, `verify`); the frame
    * it returns replaces the stage's output downstream, so a caller may
    * materialize, count and time each stage. Return `bands` as given: the
    * candidate generator reads it once, and caching it (~7.5 GB at 6.4 M
    * docs) starved the aggregation's execution memory into an OOM. */
  type Stage = (String, DataFrame) => DataFrame

  val NoStage: Stage = (_, df) => df

  /** Verified pairs `(id_a, id_b, jac)` and the number of distinct
    * candidate participants the prefilter counted (-1 when the size gate
    * kept it off). */
  final case class Verified(pairs: DataFrame, participants: Long)

  /** Band keys `carryCols + bh` of a frame with a `text` column: the one
    * keying the candidate generator, a persisted index and a probe
    * share. */
  def bucketKeys(docs: DataFrame, carryCols: Seq[String] = Seq("doc_id")): DataFrame =
    MinHash.bandHashKeys(docs, "text", carryCols)

  /** Rows of `docs` (projected to `carryCols`) sharing a bucket with
    * `index`, a frame holding `bh` (e.g. `bucketKeys(corpus)`, persisted
    * once). `joinType` `left_semi` flags docs; `inner` pairs them with the
    * index's other columns. A stateless equi-join on one long, so it also
    * works stream-static. */
  def probe(docs: DataFrame, index: DataFrame,
      carryCols: Seq[String] = Seq("doc_id"),
      joinType: String = "left_semi"): DataFrame =
    bucketKeys(docs, carryCols).join(index, Seq("bh"), joinType)

  /** Distinct candidate pairs `(id_a, id_b)`, id_a < id_b, of a
    * `(doc_id, text)` frame.
    *
    * Grouped, not self-joined: [[MinHash.bucketPairs]] references the
    * signature pipeline ONCE and shuffles it ONCE, then expands each
    * bucket's pairs in-row, with the oversized-bucket cap as the quadratic
    * guard (a saturated key is one KEY — AQE skew handling splits
    * partitions, never keys — and dropped buckets hold near-identical
    * content exact dedup owns). The explicit repartition on `bh` pins the
    * aggregation's partitioning (user repartitions are exempt from AQE
    * coalescing, which would size it by the compact 8-byte ids, blind to
    * the in-row expansion downstream) at the session's shuffle partitions:
    * sizing it by band-key bytes instead (~6x fewer partitions) measured
    * slower at 11.32 GB (`bench-artifacts/candslap-11p3g.json`). */
  def candidates(docs: DataFrame, bucketCap: Int = MinHash.MaxBucketSize,
      stage: Stage = NoStage): DataFrame = {
    val buckets = stage("bands", bucketKeys(docs)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("bh")))
    MinHash.bucketPairs(buckets, Seq("bh"), "doc_id", bucketCap).distinct()
  }

  /** Candidates, verified at `threshold`; `stage` sees the band keys, the
    * candidate pairs and the verified pairs in turn. */
  def pairs(docs: DataFrame, threshold: Double,
      bucketCap: Int = MinHash.MaxBucketSize, stage: Stage = NoStage): Verified = {
    val v = verify(stage("cands", candidates(docs, bucketCap, stage)), docs,
      threshold)
    v.copy(pairs = stage("verify", v.pairs))
  }

  /** Exact Jaccard of candidate pairs `(id_a, id_b)` over `docs`' hashed
    * 3-shingle sets, keeping pairs at or above `threshold`. */
  def verify(cands: DataFrame, docs: DataFrame, threshold: Double): Verified =
    verify(cands, docs, threshold, PrefilterMinBytes)

  /** [[verify]] with the prefilter gate as a parameter (0 forces the
    * prefilter on, Long.MaxValue off); results are identical either way.
    *
    * Verification references the shingle frame ONCE: each pair explodes
    * into its two (pair, doc) rows, joins the shingle frame id-keyed, and
    * regroups per pair, so shingles are computed once and only
    * candidates' shingles cross the regroup shuffle (a two-join form
    * computes the full-corpus shingle frame on both sides).
    * `max(when(...))` picks each side's array — exactly one non-null per
    * group.
    *
    * Shingles travel as 8-byte hashes under [[MinHash.VerifyHashSeed]]:
    * Jaccard over hashed shingle sets equals Jaccard over the shingle
    * strings except on a 64-bit collision (~n²/2⁶⁵ per pair), and the
    * hashed arrays are ~4-5x smaller through both shuffles. The seed
    * differs from the band keys' so the two stages' collision classes are
    * independent.
    *
    * The prefilter: the shingle frame is the stage's one
    * corpus-proportional term, though the join consumes only docs in at
    * least one candidate pair. Above the gate, the candidates are
    * materialized once, their distinct participant ids fold into a
    * broadcast Bloom filter, and docs are filtered map-side before
    * shingling. False positives cost one wasted array each, which the
    * inner join drops; there are no false negatives, so the verified pair
    * set is identical (NearDupSpec). */
  private[graft] def verify(cands: DataFrame, docs: DataFrame,
      threshold: Double, prefilterMinBytes: Long): Verified = {
    val gated =
      docs.queryExecution.optimizedPlan.stats.sizeInBytes >= prefilterMinBytes
    val (pairCands, base, participants) =
      if (!gated) (cands, docs, -1L)
      else {
        // both actions below read the candidates: materialize them once,
        // unless the caller's stage callback already did
        val candsM = cands.queryExecution.logical match {
          case _: LogicalRDD => cands
          case _ => cands.localCheckpoint()
        }
        val ids = candsM
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct()
        val n = ids.count()
        (candsM, docs.filter(graft.functions.bloom_might_contain_long(
          broadcastBloom(ids, n), col("doc_id"))), n)
      }
    val sh = base.select(col("doc_id"),
      array_distinct(graft.functions.word_ngram_hashes(
        split(col("text"), " "), 3, MinHash.VerifyHashSeed)).as("sh"))
    val verified = pairCands
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .join(sh, "doc_id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(when(col("doc_id") === col("id_a"), col("sh"))).as("sh_a"),
        max(when(col("doc_id") === col("id_b"), col("sh"))).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.set_jaccard_hashes(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)
    Verified(verified, participants)
  }

  /** Keep-best survivors: every row of `docs` (`doc_id`, `quality`, ...)
    * outside any cluster, plus the best-quality member of each cluster
    * (lowest id on ties), from the cluster assignment `(doc_id,
    * cluster_id)`. Returns (plan, cleanup). The plan reads a local
    * checkpoint of the losers; cleanup frees its blocks irrecoverably, so
    * run it once the caller has materialized the plan and never reads it
    * again. `clusters` stays the caller's to free.
    *
    * The losers (cluster members minus winners, id-sized) fold into a
    * broadcast Bloom filter: rows missing it are provably keepers and
    * bypass the exchange map-side, and only probable losers shuffle their
    * text through the anti-join, which drops the true losers and recovers
    * the ~1% false positives. The survivor set is that of the plain
    * anti-join; measured 16.1/17.4 s against its 68.9/16.9 s at 11.32 GB
    * (`bench-artifacts/deduplap-11p3g.json`). */
  def keepBest(docs: DataFrame, clusters: DataFrame): (DataFrame, () => Unit) = {
    val winners = clusters
      .join(docs.select(col("doc_id"), col("quality")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("doc_id"))
    val losers = clusters.select(col("doc_id"))
      .join(winners, Seq("doc_id"), "left_anti")
      .localCheckpoint() // read twice: Bloom build + recovery join
    val mightLose = graft.functions.bloom_might_contain_long(
      broadcastBloom(losers, losers.count()), col("doc_id"))
    (docs.filter(!mightLose)
      .unionByName(docs.filter(mightLose).join(losers, Seq("doc_id"), "left_anti")),
      () => release(losers))
  }

  /** A broadcast 1%-fpp Bloom filter of the `n` ids in `ids.doc_id`. An
    * empty frame gets an empty filter: `stat.bloomFilter` fails on one. */
  private def broadcastBloom(ids: DataFrame, n: Long)
      : Broadcast[BloomFilter] =
    ids.sparkSession.sparkContext.broadcast(
      if (n == 0) BloomFilter.create(1000L, 0.01)
      else ids.stat.bloomFilter("doc_id", math.max(1000L, n), 0.01))
}
