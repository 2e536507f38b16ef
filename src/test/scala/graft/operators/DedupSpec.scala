package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Connected-components (duplicate-cluster) resolution: hand-checked
  * component structure, convergence on a chain whose diameter exceeds one
  * round, and the bounded-iteration escape hatch. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("two components resolve to their min ids") {
    // component A: 1-2, 2-3 (chain); component B: 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("chain longer than one propagation round still converges") {
    // a 9-node path: min label must travel 8 hops, each round reading the
    // previous round's checkpoint
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 8L).map(_ -> 0L).toMap)
  }

  test("maxIter caps the rounds and still returns a labeling") {
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: every node has its min neighbor's id — not converged
    // (node 8 still labeled 7), which the operator warns about on stderr
    assert(got.size == 9)
    assert(got(1L) == 0L && got(8L) == 7L)
  }

  test("result stays valid after input caches are released") {
    // the returned frame is lineage-truncated: re-collecting after the
    // internal release of the edge checkpoint must not recompute (or fail
    // on) the edge plan
    val edges = Seq((5L, 4L), (4L, 3L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges)
    val first  = cc.orderBy(col("id")).collect().map(_.getLong(1)).toSeq
    val second = cc.orderBy(col("id")).collect().map(_.getLong(1)).toSeq
    assert(first == Seq(3L, 3L, 3L) && first == second)
  }
}
