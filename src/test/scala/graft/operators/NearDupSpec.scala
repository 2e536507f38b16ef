package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The near-dup operator on edge inputs: every case checks the actual
  * verified pairs or keep-best survivors, not just that a job ran. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

  /** Ids of the RDDs the session holds persisted. */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("empty input: no candidates, no pairs, no survivors") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(NearDup.candidates(empty).isEmpty)
    val v = NearDup.pairs(empty, 0.7)
    assert(v.pairs.isEmpty && v.participants == -1L)
    val forced = NearDup.verify(NearDup.candidates(empty), empty, 0.7,
      prefilterMinBytes = 0L)
    assert(forced.pairs.isEmpty && forced.participants == 0L)
    val before = persisted()
    val (kept, cleanup) = NearDup.keepBest(
      Seq.empty[(Long, Double)].toDF("doc_id", "quality"),
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
    assert(kept.isEmpty)
    cleanup()
    assert(persisted() -- before == Set.empty)
  }

  test("null text and docs under 3 tokens yield no pairs and no error") {
    // identical pairs among them, so only the < 3-token guard keeps them
    // out: two nulls, two empties, two single tokens, two 2-token docs
    val docs = Seq[(Long, String)]((1L, null), (2L, null), (3L, ""), (4L, ""),
        (5L, "a"), (6L, "a"), (7L, "a b"), (8L, "a b"))
      .toDF("doc_id", "text")
    assert(NearDup.bucketKeys(docs).isEmpty)
    assert(NearDup.pairs(docs, 0.7).pairs.isEmpty)
    // the prefilter path over the same input: no participants, no pairs
    val forced = NearDup.verify(NearDup.candidates(docs), docs, 0.7,
      prefilterMinBytes = 0L)
    assert(forced.pairs.isEmpty && forced.participants == 0L)
    // and alongside a real near-dup pair, only that pair is found
    val withPair = docs.unionByName(Seq(
        (10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "the quick brown fox jumps over the lazy dog today again"))
      .toDF("doc_id", "text"))
    assert(pairSet(NearDup.pairs(withPair, 0.7).pairs) == Set((10L, 11L)))
  }

  test("all-identical corpus: a small bucketCap drops every pair, a large one keeps all") {
    val n = 30L
    val docs = (1L to n).map(i => (i, "one shared boilerplate text for every row"))
      .toDF("doc_id", "text")
    // all 32 band keys hold n rows: over the cap, every bucket is dropped
    assert(NearDup.pairs(docs, 0.7, bucketCap = 10).pairs.isEmpty)
    val all = NearDup.pairs(docs, 0.7, bucketCap = 100).pairs
      .select(col("id_a"), col("id_b"), col("jac")).as[(Long, Long, Double)]
      .collect()
    assert(all.map(p => (p._1, p._2)).toSet ==
      (for (a <- 1L to n; b <- a + 1 to n) yield (a, b)).toSet)
    assert(all.forall(_._3 == 1.0))
    // one cluster; keep-best keeps its best-quality member (lowest id on
    // the tie at 0.9), and every doc outside the cluster
    val clusters = Dedup.connectedComponents(NearDup.pairs(docs, 0.7).pairs
        .select(col("id_a").as("a"), col("id_b").as("b")))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scored = docs.select(col("doc_id"),
        when(col("doc_id").isin(7L, 9L), 0.9).otherwise(0.5).as("quality"))
      .unionByName(Seq((100L, 0.1)).toDF("doc_id", "quality"))
    val before = persisted()
    val (kept, cleanup) = NearDup.keepBest(scored, clusters)
    assert(kept.select(col("doc_id")).as[Long].collect().toSet == Set(7L, 100L))
    cleanup()
    assert(persisted() -- before == Set.empty)
  }

  test("prefilter forced on vs off: bit-identical verified pairs") {
    // per group: a 20-token base, its near-dup (one extra token, J ~0.95)
    // and a half-rewritten twin (J ~0.3) that may band-collide but fails
    // verification
    def toks(g: Int, from: Int) = (from until from + 20).map(k => s"g${g}t$k")
    val docs = (0 until 60).flatMap { g =>
      val base = toks(g, 0)
      Seq((g * 3L, base.mkString(" ")),
        (g * 3L + 1, (base :+ "extra").mkString(" ")),
        (g * 3L + 2, (base.take(10) ++ toks(g, 100).take(10)).mkString(" ")))
    }.toDF("doc_id", "text")
    val cands = NearDup.candidates(docs)
    def run(minBytes: Long) = {
      val v = NearDup.verify(cands, docs, 0.7, minBytes)
      (v.pairs.orderBy(col("id_a"), col("id_b")).collect().toSeq, v.participants)
    }
    val (off, offParts) = run(Long.MaxValue)
    val (on, onParts) = run(0L)
    assert(off.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0 until 60).map(g => (g * 3L, g * 3L + 1)).toSet)
    assert(cands.count() > off.size, "no candidate failed verification")
    assert(on == off, "the prefilter changed the verified pairs")
    assert(offParts == -1L)
    val ids = off.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    // every verified pair's docs are participants; candidates add more
    assert(onParts > ids.size.toLong)
    // the default gate: this corpus is KBs, far below 2 GiB, so it stays off
    assert(NearDup.verify(cands, docs, 0.7).participants == -1L)
  }
}
