package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Property-based laws (SURVEY §5.2), sampled with scalacheck generators
  * from a fixed seed (no scalatestplus bridge needed). Normalizer laws run
  * on the driver — the kernel is the same code the codegen'd expression
  * calls; Spark-side counting laws use small corpora to bound job counts.
  */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val anyText: Gen[String] = Gen.asciiPrintableStr
  private val uniText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\t', 'é', 'ß',
      '中', '!', '.', 'A', 'e'))).map(_.mkString)

  test("normalize is idempotent") {
    (samples(anyText) ++ samples(uniText)).foreach { s =>
      val once = TextKernels.normalize(s)
      assert(TextKernels.normalize(once) == once, s"input: '$s'")
    }
  }

  test("normalize output is single-spaced trimmed lowercase") {
    (samples(anyText) ++ samples(uniText)).foreach { s =>
      val n = TextKernels.normalize(s)
      assert(!n.contains("  ") && !n.startsWith(" ") && !n.endsWith(" "), s"'$s'")
      assert(n == n.toLowerCase(java.util.Locale.ROOT), s"'$s'")
    }
  }

  test("normalize strips every non-word char") {
    samples(uniText).foreach { s =>
      val n = TextKernels.normalize(s)
      assert(n.forall(c => c == ' ' || Character.isLetterOrDigit(c) || c == '_'), s"'$s' -> '$n'")
    }
  }

  test("rolling hash is deterministic") {
    samples(anyText).foreach { a =>
      assert(TextKernels.rollingHash(a) == TextKernels.rollingHash(a))
    }
  }
}

/** Spark-side counting laws on a mixed corpus. */
class NGramLawsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val docs: Seq[String] = Seq(
    "a b c d e", "a a a", "x", "q w e r t y u i o p",
    "the quick brown fox jumps over the lazy dog", "a b",
    "z z z z z z z z")

  test("count of exact n-grams per doc is max(wc - n + 1, 0)") {
    import spark.implicits._
    for (n <- 1 to 4) {
      docs.toDF("text")
        .select(size(ws_tokens(col("text"))).as("wc"),
          size(word_ngrams(ws_tokens(col("text")), n)).as("k"))
        .collect()
        .foreach { r =>
          assert(r.getInt(1) == math.max(r.getInt(0) - n + 1, 0), s"n=$n")
        }
    }
  }

  test("sum of everygram tf per doc equals total gram count") {
    import spark.implicits._
    val maxN = 3
    val corpus = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("document_index", "text")
    val got = graft.operators.Corpus.tokenCounts(corpus, maxN)
      .groupBy(col("document_index"))
      .agg(sum(col("tf")).as("total")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.zipWithIndex.foreach { case (t, i) =>
      val wc = t.split(" ").length
      val expected = (1 to maxN).map(n => math.max(wc - n + 1, 0)).sum.toLong
      assert(got(i.toLong) == expected, s"doc $i '$t'")
    }
  }

  test("semi-join and broadcast-set vocabulary filters agree") {
    import spark.implicits._
    val tokens = docs.zipWithIndex.flatMap { case (t, i) =>
      val ws = t.split(" ")
      (ws ++ ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
        .map(g => (i.toLong, g))
    }.toDF("document_index", "token")
    val vocab = Seq("a b", "quick brown", "lazy dog", "z z").toDF("token")
    val semi = graft.operators.Vocabulary.SemiJoinFilter(vocab)
      .apply(tokens, "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val bset = graft.operators.Vocabulary.BroadcastSetFilter(spark, vocab)
      .apply(tokens, "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // the vspace job's filter: a probe of the vocabulary's hash index on
    // xxhash64(gram), with the unigram bypass read from the gram order
    val hashed = graft.operators.Vocabulary.hashIndexFilter(
        tokens.withColumn("h", xxhash64(col("token")))
          .withColumn("n", size(split(col("token"), " "))),
        graft.operators.Vocabulary.hashIndex(vocab))
      .select("document_index", "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(semi == bset && semi == hashed && semi.nonEmpty)
    // multigrams outside the vocabulary are gone; unigrams all survive
    assert(!semi.exists { case (_, g) => g.contains(" ") && !Set("a b", "quick brown", "lazy dog", "z z")(g) })
    assert(semi.count(!_._2.contains(" ")) == docs.map(_.split(" ").length).sum)
  }
}
