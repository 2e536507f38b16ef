package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed training-data pipeline on a hand-built corpus with known
  * structure: every stage's removal set is predictable, so the survivor
  * counts and the final output are asserted exactly. */
class DataPipelineSpec extends SparkSpec {

  test("pipeline removes exact dups, near-dups, and planted contamination") {
    import spark.implicits._
    // 40-token docs in per-doc token namespaces, so the ONLY shared
    // n-grams are the ones planted below (a shared cyclic vocabulary
    // would collide 7-token runs across unrelated docs)
    def doc(p: String): String = (0 until 40).map(i => s"$p$i").mkString(" ")

    val corpus = Seq(
      // exact-dup pair: 0 kept (lowest id), 1 dropped
      (0L, "s0", doc("a")),
      (1L, "s0", doc("a")),
      // near-dup pair (one appended token): higher word count wins the
      // keep-best policy => 3 kept, 2 dropped
      (2L, "s0", doc("b")),
      (3L, "s0", doc("b") + " extra"),
      // unique survivors
      (4L, "s1", doc("c")),
      (5L, "s1", doc("d")),
      // contaminated: shares a >= 7-token run with the benchmark doc
      (6L, "s1", doc("e") + " " + doc("q").split(" ").take(12).mkString(" ")),
      // too short for the quality floor (wc < 5)
      (7L, "s1", "a b c")
    ).toDF("doc_id", "source", "text")
    val benchmark = Seq((100L, doc("q"))).toDF("bench_id", "text")

    val out = graft.SparkSpec.tempDir("graft-dp-spec")
    val counts = DataPipelineBench.run(spark, corpus, benchmark, out).toMap

    assert(counts("docs_in") == 8L)
    assert(counts("after_quality") == 7L)      // doc 7 out
    assert(counts("after_exact_dedup") == 6L)  // doc 1 out
    assert(counts("after_near_dedup") == 5L)   // doc 2 out (3 kept: longer)
    assert(counts("after_decontam") == 4L)     // doc 6 out
    assert(counts("train") + counts("val") == 4L)

    val kept = spark.read.parquet(out).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 5L))
  }
}
