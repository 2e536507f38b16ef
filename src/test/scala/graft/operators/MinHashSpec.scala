package graft.operators

import graft.SparkSpec

/** The MinHash operator's contract, pinned independently of the dedup
  * queries that consume it. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e"),
    (2L, "a b c d e"),        // exact copy of 1
    (3L, "v w x y z"),        // disjoint tokens
    (4L, "a b"))              // < 3 tokens: no shingles
    .toDF("doc_id", "text")

  test("band keys: 32 bands per doc, shingle-less docs dropped") {
    val keys = MinHash.bandHashKeys(docs, "text", Seq("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perDoc = keys.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perDoc == Map(1L -> MinHash.NumBands, 2L -> MinHash.NumBands,
      3L -> MinHash.NumBands))
    assert(!perDoc.contains(4L)) // two tokens -> zero 3-shingles -> dropped
  }

  test("identical text collides on every band; disjoint text on none") {
    val keys = MinHash.bandHashKeys(docs, "text", Seq("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == byDoc(2L))            // same signature, all 32 bands
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty) // no shared shingles
  }

  test("signature is deterministic across evaluations") {
    val a = MinHash.bandHashKeys(docs, "text", Seq("doc_id")).collect().toSet
    val b = MinHash.bandHashKeys(docs, "text", Seq("doc_id")).collect().toSet
    assert(a == b)
  }

  test("word_ngram_hashes is bit-equal to hashing the joined gram strings") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(col("text"), " ").as("toks"))
    for (n <- Seq(3, 7)) {
      val fused = real.select(graft.functions.word_ngram_hashes(
        col("toks"), n, MinHash.BaseHashSeed).as("h"))
      val viaStrings = real.select(transform(
        graft.functions.word_ngrams(col("toks"), n),
        g => graft.functions.xxhash64_seeded(MinHash.BaseHashSeed, g)).as("h"))
      assert(fused.exceptAll(viaStrings).isEmpty &&
        viaStrings.exceptAll(fused).isEmpty, s"n=$n")
    }
    // edges: fewer tokens than n -> empty; empty-string tokens (doubled
    // spaces) hash like the string path; a NULL token array -> empty
    // array, exactly like the composed form's when()-guard fallthrough
    val edge = Seq(Seq("a"), Seq.empty[String], Seq("a", "", "b", "c"),
        null.asInstanceOf[Seq[String]])
      .toDF("toks")
    val f = edge.select(graft.functions.word_ngram_hashes(col("toks"), 3, -9L).as("h"))
    val s = edge.select(transform(graft.functions.word_ngrams(col("toks"), 3),
      g => graft.functions.xxhash64_seeded(-9L, g)).as("h"))
    assert(f.exceptAll(s).isEmpty && s.exceptAll(f).isEmpty)
  }

  test("fused shingles equal array_distinct(word_ngrams(...)) bit-for-bit") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(col("text"), " ").as("toks"))
    for (n <- Seq(1, 3, 5)) {
      val fused = real.select(
        graft.functions.word_ngrams_distinct(col("toks"), n).as("sh"))
      val composed = real.select(
        array_distinct(graft.functions.word_ngrams(col("toks"), n)).as("sh"))
      // exceptAll compares full arrays — ORDER included, so this pins
      // first-occurrence order, not just set equality
      assert(fused.exceptAll(composed).isEmpty &&
        composed.exceptAll(fused).isEmpty, s"n=$n")
    }
    // incl. a NULL token array -> empty array, like the composed form
    val edge = Seq(Seq("a", "b"), Seq.empty[String], Seq("a", "", "a", ""),
        null.asInstanceOf[Seq[String]])
      .toDF("toks")
    val f = edge.select(graft.functions.word_ngrams_distinct(col("toks"), 3).as("sh"))
    val c = edge.select(
      array_distinct(graft.functions.word_ngrams(col("toks"), 3)).as("sh"))
    assert(f.exceptAll(c).isEmpty && c.exceptAll(f).isEmpty)
  }

  /** The (carry, band, bh) band keys: one row per band per document, the
    * band ordinal kept as a column beside its band hash. [[MinHash.bandHashKeys]]
    * emits the same rows minus the band column — `bh` is already seeded by
    * the band ordinal — so its output must equal this frame's (carry, bh)
    * projection. Built from the same fused kernels as bandHashKeys. */
  private def keyedByBand(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), graft.functions.minhash_signatures(
        graft.functions.word_ngram_hashes(split(col("text"), " "), 3,
          MinHash.BaseHashSeed), MinHash.NumHashes).as("sig"))
      .select(col("doc_id"), explode(array((0 until MinHash.NumBands).map { b =>
        struct(lit(b).as("band"),
          graft.functions.xxhash64_seeded(1000L + b,
            col("sig").getItem(b * MinHash.BandRows),
            col("sig").getItem(b * MinHash.BandRows + 1)).as("bh"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  test("bandKeys equals the round-10 shingle-string formulation") {
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the band keys as the pipeline stages them (band folded into bh)
    val now = MinHash.bandHashKeys(real, "text", Seq("doc_id"))
    // the old path: distinct shingle STRINGS -> per-shingle hash -> 64
    // column-per-family signature -> same band structs (distinct vs
    // multiset cannot matter: each family takes a MINIMUM)
    val old = real
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("__h", transform(MinHash.shingles(col("text")),
        s => graft.functions.xxhash64_seeded(MinHash.BaseHashSeed, s)))
      .select(col("doc_id") +: MinHash.signatureFromHashes(col("__h")): _*)
      .select(col("doc_id"), explode(array((0 until MinHash.NumBands).map { b =>
        struct(lit(b).as("band"),
          graft.functions.xxhash64_seeded(1000L + b,
            col(s"mh_${b * MinHash.BandRows}"),
            col(s"mh_${b * MinHash.BandRows + 1}")).as("bh"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val fusedBanded = keyedByBand(real)
    assert(fusedBanded.exceptAll(old).isEmpty && old.exceptAll(fusedBanded).isEmpty)
    val oldBh = old.select(col("doc_id"), col("bh"))
    assert(now.exceptAll(oldBh).isEmpty && oldBh.exceptAll(now).isEmpty)
  }

  test("fused signature equals the column-per-family formulation") {
    import org.apache.spark.sql.functions._
    // real text: the harness documents at the smallest SF
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("__h", transform(MinHash.shingles(col("text")),
        s => graft.functions.xxhash64_seeded(MinHash.BaseHashSeed, s)))
    val fused = real.select(col("doc_id"),
      graft.functions.minhash_signatures(col("__h"), MinHash.NumHashes).as("sig"))
    val perCol = real.select(col("doc_id") +: MinHash.signatureFromHashes(col("__h")): _*)
      .select(col("doc_id"),
        array((0 until MinHash.NumHashes).map(i => col(s"mh_$i")): _*).as("sig"))
    assert(fused.exceptAll(perCol).isEmpty && perCol.exceptAll(fused).isEmpty)

    // edge cases the real corpus can't produce: empty hash array (all-null
    // signature like array_min(empty)) and a null element (hashes to its
    // family seed, exactly xxhash64_seeded(i, null))
    val edge = Seq(
      (1L, Seq.empty[java.lang.Long]),
      (2L, Seq[java.lang.Long](42L, null, -7L)))
      .toDF("id", "__h")
    val fusedEdge = edge.select(col("id"),
      graft.functions.minhash_signatures(col("__h"), MinHash.NumHashes).as("sig"))
    val perColEdge = edge.select(col("id") +: MinHash.signatureFromHashes(col("__h")): _*)
      .select(col("id"),
        array((0 until MinHash.NumHashes).map(i => col(s"mh_$i")): _*).as("sig"))
    assert(fusedEdge.exceptAll(perColEdge).isEmpty &&
      perColEdge.exceptAll(fusedEdge).isEmpty)
  }

  test("bandHashKeys equals bandKeys' bh column (band folded into the seeded hash)") {
    // the bh-only staging the candidate stage shuffles: same carry + bh
    // MULTISET as the (carry, band, bh) keys (each bh is already seeded by
    // its band ordinal), just without ever materializing the band column
    import org.apache.spark.sql.functions.col
    val a = keyedByBand(docs).select(col("doc_id"), col("bh"))
    val b = MinHash.bandHashKeys(docs, "text", Seq("doc_id"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(b.count() == 3L * MinHash.NumBands) // doc 4 still dropped
    // the band seed separates bands: one document's 32 band hashes are
    // pairwise distinct, so no two bands of it share a bucket
    val perDoc = b.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    assert(perDoc.values.forall(_ == MinHash.NumBands))
  }
}
