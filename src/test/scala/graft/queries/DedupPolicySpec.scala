package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The dedup POLICY queries hold their contracts on real data — not just
  * hash-matching their oracles, but the properties that make them useful:
  * q94's split never separates a near-dup pair, q92's kept doc really is
  * its cluster's best. */
class DedupPolicySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q94: no verified near-dup pair straddles the train/val split") {
    val split = Catalog.byName("q94_leakage_free_split").fn(spark, dir)
      .select(col("doc_id"), col("split"))
    val pairs = Catalog.byName("q32_dedup_minhash_lsh").fn(spark, dir)
      .select(col("id_a"), col("id_b"))
    val straddling = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddling == 0L, "a near-dup pair crossed the split boundary")
    // and the split actually splits: both sides populated
    val sides = split.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.getOrElse("train", 0L) > 0 && sides.getOrElse("val", 0L) > 0)
  }

  test("q92: every kept doc has its cluster's maximal quality") {
    val kept = Catalog.byName("q92_dedup_keep_best").fn(spark, dir)
    val docs = graft.Tables(spark, dir, "documents")
    val qual = AnalysisQueries.qualityMetrics(docs)
      .select(col("doc_id"), round(col("quality"), 4).as("q"))
    val pairs = Catalog.byName("q32_dedup_minhash_lsh").fn(spark, dir)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val clusterMax = graft.operators.Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .join(qual, "doc_id")
      .groupBy(col("cluster_id")).agg(max(col("q")).as("qmax"))
    val bad = kept
      .join(clusterMax, "cluster_id")
      .filter(col("kept_quality") =!= col("qmax"))
      .count()
    assert(bad == 0L, "a kept doc is not its cluster's quality argmax")
    // sanity: at least one cluster exists and kept ids are cluster members
    assert(kept.count() > 0)
  }
}
