package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** bloom_might_contain_long: no false negatives ever (every inserted key
  * probes true), false positives bounded — the properties the near-dup
  * operator's participant prefilters rely on (their end-to-end equivalence
  * is pinned in NearDupSpec). */
class BloomMightContainSpec extends SparkSpec {

  test("no false negatives; false-positive rate near the requested fpp") {
    val keys = spark.range(0, 20000).select((col("id") * 2L).as("k")) // evens
    val bloom = keys.stat.bloomFilter("k", 20000L, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    // every inserted key must probe true
    val misses = keys
      .filter(!graft.functions.bloom_might_contain_long(bc, col("k"))).count()
    assert(misses == 0L)
    // odd keys were never inserted: only fp-rate-many may probe true
    val fps = spark.range(0, 20000).select((col("id") * 2L + 1L).as("k"))
      .filter(graft.functions.bloom_might_contain_long(bc, col("k"))).count()
    assert(fps < 20000L * 0.05, s"fp count $fps far above requested 1% fpp")
  }
}
