package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{word_ngrams, xxhash64_seeded}

/** Training-data deduplication over `documents`: exact (hash groupBy),
  * MinHash+LSH banding with exact-Jaccard verification, all-pairs n-gram
  * Jaccard, SimHash hamming pairs, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB): exact dedup is one hash-partitioned groupBy on a
  * 128-bit digest (no text shuffle — only the digest and ids move). MinHash
  * reduces each document to a 64-long signature (map-side), and candidate
  * generation groups documents by band hash ([[graft.operators.NearDup]])
  * — the only all-pairs work happens inside a MinHash bucket, never
  * globally, and bucket sizes are hard-capped so a saturated key can never
  * drive the expansion quadratic.
  * The brute-force Jaccard query is intentionally bounded (doc_id filter)
  * and exists as the small-scale oracle twin; LSH is the scale path.
  */
object DedupQueries {

  /** doc_id + distinct 3-token shingles (fanned out first: shingling and
    * everything downstream is CPU-bound, not scan-bound). */
  private def shingled(docs: DataFrame): DataFrame =
    fanout(docs).select(col("doc_id"),
      graft.operators.MinHash.shingles(col("text")).as("shingles"))

  /** Exact Jaccard between two pre-distinct shingle arrays (set semantics
    * on both engines, matching the oracles' list_intersect/list_distinct
    * form). Fused one-pass kernel — value-identical to
    * `size(array_intersect)/size(array_union)` but without materializing
    * either intermediate array per pair (see functions.SetJaccard; the
    * equivalence is spec'd in TextKernelsSpec). */
  private def jaccard(a: Column, b: Column): Column =
    graft.functions.set_jaccard(a, b)

  /** Multi-table random-hyperplane LSH over cosine similarity: 8
    * independent plane-sets, each vector exploded to one (table, bucket)
    * key per set map-side, candidates = pairs sharing any key (equi-join,
    * never a cartesian), verified by exact cosine. More tables = higher
    * recall at linear candidate cost — the cosine analogue of MinHash
    * banding. Same staging as lshVerifiedPairs: the bucket join moves only
    * (id, table, bucket) — never the vectors — and candidate pairs are
    * DISTINCT'd before verification, so each pair is scored once however
    * many tables it collides in and vector payloads move only in the
    * id-keyed verification joins, proportional to candidates.
    * `e` must carry (vec_id, v). */
  private val CosineTables = 8

  private[graft] def cosineBucketedPairs(e: DataFrame, threshold: Double,
      bucketCap: Int = graft.operators.MinHash.MaxBucketSize): DataFrame = {
    val keyed0 = e.select(col("vec_id"),
        explode(array((0 until CosineTables).map(t =>
          struct(lit(t).as("t"),
            SimilarityQueries.lshSignature(col("v"), t).as("bk"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bk").as("bk"))
      // The (t, bk) keyed rows are tiny, so AQE coalesces the aggregation
      // shuffle to a handful of partitions — but the work AFTER the
      // shuffle is the quadratic in-bucket pair expansion, which that
      // coalescing serializes. An explicit user repartition on the group
      // keys is exempt from AQE coalescing, so the expansion keeps full
      // parallelism.
      .repartition(e.sparkSession.sparkContext.defaultParallelism,
        col("t"), col("bk"))
    // Grouped candidate generation with the oversized-bucket cap as a
    // size filter — one pipeline reference, one shuffle, bounded in-row
    // expansion (see MinHash.bucketPairs and lshVerifiedPairs; a
    // capBuckets + self-join variant probed no faster here and references
    // the signature pipeline three times).
    val cands = graft.operators.MinHash
      .bucketPairs(keyed0, Seq("t", "bk"), "vec_id", bucketCap)
      .distinct()
    // Two id-keyed verification joins. Unlike lshVerifiedPairs' shingle
    // frame, `e` is a plain (vec_id, v) projection of the source — cheap
    // to reference twice and small enough to broadcast, so the vectors
    // never cross a shuffle here (an explode-regroup formulation was
    // measured 2x slower at sf0.1: it forced every candidate's vector
    // through the regroup exchange).
    cands
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.functions.cosine_sim(col("va"), col("vb")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** LSH candidate pairs, exact-verified at `threshold` — the near-dup
    * operator ([[graft.operators.NearDup]]) over the fanned-out documents;
    * shared by q32/q36/q37/q92/q94/q120/q152. */
  private[graft] def lshVerifiedPairs(docs: DataFrame, threshold: Double,
      bucketCap: Int = graft.operators.MinHash.MaxBucketSize): DataFrame =
    graft.operators.NearDup.pairs(
      fanout(docs).select(col("doc_id"), col("text")), threshold, bucketCap).pairs

  val queries: Seq[Q] = Seq(

    // --- exact duplicate summary: one hash groupBy over a 128-bit digest ---
    Q("q30_dedup_exact_summary",
      (s, dir) => {
        Tables(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_unique"),
            (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"))
      },
      Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
             |count(*) - count(DISTINCT md5(text)) AS n_dup_docs
             |FROM documents""".stripMargin)),

    // --- exact dedup, keep-first: representative id per content group ---
    Q("q31_dedup_exact_keepfirst",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // --- MinHash + LSH banding, exact-verified (the scale path).
    //     Candidates: pairs sharing any of 32 (band, band-hash) keys;
    //     verification: exact shingle Jaccard >= 0.7. Oracle is the
    //     brute-force pair join — identical iff LSH recall is 1 at the
    //     threshold, which the 32x2 banding guarantees to ~1e-14. ---
    Q("q32_dedup_minhash_lsh",
      (s, dir) => {
        lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        len(list_intersect(a.sh,b.sh))::DOUBLE
             |          / len(list_distinct(list_concat(a.sh,b.sh))) AS jac
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
             |SELECT id_a, id_b, round(jac,4) AS jac FROM p
             |WHERE jac >= 0.7 ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // --- duplicate clusters: transitive closure of the verified near-dup
    //     pairs via distributed min-label propagation (operators/Dedup) —
    //     one (doc_id, cluster_id) row per document in any near-dup pair,
    //     cluster id = min doc id of the component. Oracle: recursive-CTE
    //     reachability over the same pair set. ---
    Q("q36_dedup_clusters",
      (s, dir) => {
        val pairs = lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        graft.operators.Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
             |        / len(list_distinct(list_concat(a.sh,b.sh))) >= 0.7),
             |e AS (SELECT ida AS a, idb AS b FROM p
             |      UNION SELECT idb, ida FROM p),
             |reach(a, b) AS (
             |  SELECT a, b FROM e
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
             |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),
      bench = true),

    // --- the deduplicated corpus view: every doc outside any near-dup
    //     pair, plus one representative (min id) per cluster — the actual
    //     output a training-data pipeline materializes. ---
    Q("q37_dedup_kept_docs",
      (s, dir) => {
        val docs  = Tables(s, dir, "documents").select(col("doc_id"))
        val pairs = lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val clustered = graft.operators.Dedup.connectedComponents(pairs)
        val reps    = clustered.filter(col("id") === col("cluster_id"))
          .select(col("id").as("doc_id"))
        val inPairs = clustered.select(col("id").as("doc_id"))
        docs.join(inPairs, Seq("doc_id"), "left_anti")
          .unionByName(reps)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
             |        / len(list_distinct(list_concat(a.sh,b.sh))) >= 0.7),
             |e AS (SELECT ida AS a, idb AS b FROM p
             |      UNION SELECT idb, ida FROM p),
             |reach(a, b) AS (
             |  SELECT a, b FROM e
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
             |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |       FROM reach GROUP BY a)
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (SELECT doc_id FROM cc)
             |UNION ALL
             |SELECT doc_id FROM cc WHERE doc_id = cluster_id
             |ORDER BY doc_id""".stripMargin)),

    // --- quality-aware canonical selection: per near-dup cluster keep the
    //     HIGHEST-QUALITY member (tie -> lowest id), not the lowest id —
    //     what a production pipeline actually does when duplicates differ
    //     by truncation or boilerplate. Clusters ride q36's machinery;
    //     quality is q51's composite (rounded to 4 dp BEFORE the argmax so
    //     the winner is engine-independent); the argmax is a struct-max
    //     aggregate over the cluster-keyed rows — no window, and the only
    //     inputs are the (id, cluster) pairs frame (docs in near-dup pairs
    //     only) joined id-keyed to map-side quality rows. ---
    Q("q92_dedup_keep_best",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = lshVerifiedPairs(docs, 0.7)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val qual = AnalysisQueries.qualityMetrics(docs)
          .select(col("doc_id"), round(col("quality"), 4).as("q"))
        graft.operators.Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .join(qual, "doc_id")
          .groupBy(col("cluster_id"))
          .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m"),
            count(lit(1)).as("n_members"))
          .select(col("cluster_id"), (-col("m.nid")).as("kept_id"),
            col("m.q").as("kept_quality"), col("n_members"))
          .orderBy(col("cluster_id"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
             |        / len(list_distinct(list_concat(a.sh,b.sh))) >= 0.7),
             |e AS (SELECT ida AS a, idb AS b FROM p
             |      UNION SELECT idb, ida FROM p),
             |reach(a, b) AS (
             |  SELECT a, b FROM e
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
             |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |       FROM reach GROUP BY a),
             |qual AS (SELECT doc_id,
             |    round(least(len(string_split(text,' '))/100.0, 1.0)*0.4
             |      + (len(list_distinct(string_split(text,' ')))::DOUBLE
             |         / len(string_split(text,' ')))*0.4
             |      + (1.0 - len(list_filter(string_split(text,' '),
             |            x -> x IN ('the','a')))::DOUBLE
             |           / len(string_split(text,' ')))*0.2, 4) AS q
             |  FROM documents),
             |r AS (SELECT cc.cluster_id, cc.doc_id, qual.q,
             |        count(*) OVER (PARTITION BY cluster_id) AS n_members,
             |        row_number() OVER (PARTITION BY cluster_id
             |          ORDER BY qual.q DESC, cc.doc_id) AS rn
             |      FROM cc JOIN qual USING (doc_id))
             |SELECT cluster_id, doc_id AS kept_id, q AS kept_quality,
             |       n_members::BIGINT AS n_members
             |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // --- leakage-free train/val split: near-dup CLUSTERS are the unit of
    //     assignment, so no split ever holds a near-duplicate of the other
    //     side's data (the eval-contamination guard a training pipeline
    //     runs after dedup — splitting by doc hash leaks every cluster
    //     that straddles the boundary). Group key = cluster id for
    //     clustered docs, own id for singletons; assignment is q83's
    //     int64-exact 16-bit multiplicative hash (cross-engine
    //     reproducible, ~10% val at h < 6554), entirely map-side after
    //     the CC labels join. ---
    Q("q94_leakage_free_split",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"))
        val pairs = lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val cc = graft.operators.Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
        docs.join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
          .withColumn("split",
            when(((col("group_id") % 65536) * 40503L) % 65536 < 6554, "val")
              .otherwise("train"))
          .select(col("doc_id"), col("group_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
             |        / len(list_distinct(list_concat(a.sh,b.sh))) >= 0.7),
             |e AS (SELECT ida AS a, idb AS b FROM p
             |      UNION SELECT idb, ida FROM p),
             |reach(a, b) AS (
             |  SELECT a, b FROM e
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
             |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |       FROM reach GROUP BY a),
             |g AS (SELECT d.doc_id,
             |        coalesce(cc.cluster_id, d.doc_id) AS group_id
             |      FROM documents d LEFT JOIN cc USING (doc_id))
             |SELECT doc_id, group_id,
             |       CASE WHEN ((group_id % 65536) * 40503) % 65536 < 6554
             |            THEN 'val' ELSE 'train' END AS split
             |FROM g ORDER BY doc_id""".stripMargin)),

    // --- incremental dedup against a PERSISTED signature index — the
    //     ingest shape: the standing corpus (doc_id % 8 != 7 here) writes
    //     its banded MinHash keys to parquet ONCE; a new batch
    //     (doc_id % 8 == 7) signatures only ITSELF, probes the index with
    //     a bh equi-join, and exact-verifies candidates id-keyed.
    //     At 100 TB the index is built during initial ingestion and
    //     appended per accepted batch — corpus text is never re-shingled
    //     at probe time, and the probe-side shuffle is batch-sized, not
    //     corpus-sized. Keys, probe and verify are operators.NearDup (the
    //     same operator the batch q32 and streaming flagger use), so index
    //     rows and probe rows agree by construction. Oracle: brute-force cross-set
    //     Jaccard (banding misses above 0.7 with P ~ 6e-15). ---
    Q("q95_incremental_index_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 8 =!= 7)
        val batch  = docs.filter(col("doc_id") % 8 === 7)
        val idxDir = scratchDir("sig-idx")
        graft.operators.NearDup.bucketKeys(
            fanout(corpus).select(col("doc_id"), col("text")))
          .write.mode("overwrite").parquet(idxDir)
        // Cap the standing-index side: a hot bh key there multiplies every
        // probe batch forever, so the guard belongs on the index.
        val index = graft.operators.MinHash.capBuckets(
          s.read.parquet(idxDir), Seq("bh"))
        val cands = graft.operators.NearDup
          .probe(fanout(batch).select(col("doc_id"), col("text")),
            index.withColumnRenamed("doc_id", "corpus_id"), joinType = "inner")
          .select(col("doc_id").as("id_a"), col("corpus_id").as("id_b"))
          .distinct()
        graft.operators.NearDup
          .verify(cands, fanout(docs).select(col("doc_id"), col("text")), 0.7)
          .pairs
          .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
            round(col("jac"), 4).as("jac"))
          .orderBy(col("batch_id"), col("corpus_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t)
             |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             |       round(len(list_intersect(b.sh,c.sh))::DOUBLE
             |         / len(list_distinct(list_concat(b.sh,c.sh))), 4) AS jac
             |FROM s b JOIN s c ON b.doc_id % 8 = 7 AND c.doc_id % 8 <> 7
             |WHERE len(list_intersect(b.sh,c.sh))::DOUBLE
             |    / len(list_distinct(list_concat(b.sh,c.sh))) >= 0.7
             |ORDER BY 1, 2""".stripMargin)),

    // --- passage-block dedup — the LINE-level dedup of CCNet/RefinedWeb
    //     re-expressed over aligned 20-token blocks (the corpus has no
    //     newline structure): hash-count every block across the corpus,
    //     drop blocks occurring >= 2 times (boilerplate/navigation in the
    //     web analogy), reassemble each doc from its kept blocks in
    //     order. Scale shape: the block count is one partial+final agg —
    //     map-side partial aggregation collapses repeated blocks per
    //     partition BEFORE the shuffle, which on boilerplate-heavy
    //     corpora (the reason this op exists) is a massive reduction; the
    //     frequent-block set is small by construction (only repeated
    //     blocks) so the drop join broadcasts; reassembly is one per-doc
    //     agg with an in-row sort, no window. ---
    Q("q96_passage_dedup",
      (s, dir) => {
        val b = 20
        val blocks = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0),
              greatest(ceil(size(col("toks")) / (b * 1.0)).cast("int") - 1,
                lit(0)))).as("pos"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            array_join(slice(col("toks"), col("pos") * b + 1, lit(b)), " ")
              .as("blk"))
        val freq = blocks.groupBy(col("blk"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
          .select(col("blk"), lit(1).as("dup"))
        blocks.join(broadcast(freq), Seq("blk"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_blocks"),
            sum(coalesce(col("dup"), lit(0))).cast("long").as("n_removed"),
            length(array_join(transform(array_sort(collect_list(
                when(col("dup").isNull,
                  struct(col("pos").as("pos"), col("blk").as("blk"))))),
              e => e.getField("blk")), " ")).cast("long").as("clean_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |b0 AS (SELECT doc_id,
             |         unnest([{'pos': i,
             |                  'blk': array_to_string(
             |                           toks[i*20+1 : i*20+20], ' ')}
             |                 for i in range(0,
             |                   greatest(ceil(len(toks)/20.0)::INT, 1))])
             |           AS pb
             |       FROM t),
             |b AS (SELECT doc_id, pb.pos AS pos, pb.blk AS blk FROM b0),
             |f AS (SELECT blk FROM b GROUP BY blk HAVING count(*) >= 2),
             |j AS (SELECT b.doc_id, b.pos, b.blk,
             |             CASE WHEN f.blk IS NULL THEN 0 ELSE 1 END AS dup
             |      FROM b LEFT JOIN f ON b.blk = f.blk)
             |SELECT doc_id, count(*)::BIGINT AS n_blocks,
             |       sum(dup)::BIGINT AS n_removed,
             |       coalesce(len(array_to_string(
             |         list(blk ORDER BY pos) FILTER (WHERE dup = 0),
             |         ' ')), 0)::BIGINT AS clean_len
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- cross-source duplication flow (q32's governance rollup): which
    //     sources copy from which — verified near-dup pairs joined to each
    //     side's source and aggregated to an unordered source-pair matrix
    //     (n_pairs, avg Jaccard). The rollup runs on the already-bounded
    //     VERIFIED pair set (banded candidates → exact re-check), so its
    //     own cost is pair-count-sized; the two source lookups are
    //     id-keyed joins; output is sources², corpus-independent. The
    //     report that decides per-source dedup policy and licensing
    //     exposure. ---
    Q("q120_dup_flow",
      (s, dir) => {
        val src = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .join(src.toDF("id_a", "source_a"), "id_a")
          .join(src.toDF("id_b", "source_b"), "id_b")
          .groupBy(least(col("source_a"), col("source_b")).as("src_lo"),
            greatest(col("source_a"), col("source_b")).as("src_hi"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg(col("jac")), 4).as("avg_jac"))
          .orderBy(col("src_lo"), col("src_hi"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        len(list_intersect(a.sh,b.sh))::DOUBLE
             |          / len(list_distinct(list_concat(a.sh,b.sh))) AS jac
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id),
             |j AS (SELECT least(da.source, db.source) AS src_lo,
             |             greatest(da.source, db.source) AS src_hi, jac
             |      FROM p JOIN documents da ON p.id_a = da.doc_id
             |             JOIN documents db ON p.id_b = db.doc_id
             |      WHERE jac >= 0.7)
             |SELECT src_lo, src_hi, count(*) AS n_pairs,
             |       round(avg(jac), 4) AS avg_jac
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --- brute-force n-gram Jaccard on a bounded slice (oracle twin /
    //     correctness baseline for the LSH path) ---
    Q("q33_dedup_ngram_jaccard",
      (s, dir) => {
        val sh = shingled(Tables(s, dir, "documents").filter(col("doc_id") < 250))
        sh.toDF("id_a", "sh_a")
          .join(broadcast(sh.toDF("id_b", "sh_b")), col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(jaccard(col("sh_a"), col("sh_b")), 4).as("jac"))
          .filter(col("jac") >= 0.2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |           FROM documents WHERE doc_id < 250),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       round(len(list_intersect(a.sh,b.sh))::DOUBLE
             |         / len(list_distinct(list_concat(a.sh,b.sh))), 4) AS jac
             |FROM s a JOIN s b ON a.doc_id < b.doc_id
             |WHERE round(len(list_intersect(a.sh,b.sh))::DOUBLE
             |         / len(list_distinct(list_concat(a.sh,b.sh))), 4) >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // --- SimHash near-dup pairs: 64-bit signature from seeded token
    //     hashes, computed ENTIRELY map-side — per doc, a fold over the
    //     bit positions of a fold over the token-hash array (the same
    //     shuffle-free transform/aggregate shape MinHash uses above; the
    //     explode-to-(doc,bit,±1) alternative pushes 64x every token row
    //     through an exchange, and at 100 TB that shuffle IS the job).
    //     Pair generation via 4x16-bit chunk pigeonhole (hamming <= 3 =>
    //     at least one chunk equal), verified by bit_count(xor). Oracle:
    //     Spark's XxHash64 over a token's UTF-8 bytes is the public XXH64
    //     algorithm, reproduced in generated DuckDB CTEs ([[XxhSql]]) —
    //     one HUGEINT step per round (64x64 products split at 2^32), the
    //     simhash fold as a (doc, bit) sum over a 64-row powers table,
    //     and the pairs brute-forced (pigeonhole candidates == the full
    //     hamming<=3 set by construction, so results agree exactly). ---
    Q("q34_dedup_simhash",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // fused simhash64 (round 12): the composed nested fold re-walked
        // the token-hash array 64 times interpreted (O(64 x tokens) lambda
        // steps per doc); the kernel is one pass over 64 counters —
        // value-identical incl. empty/null edges (FoldKernelsSpec). The
        // token hashing itself fuses to word_ngram_hashes at n=1 (bit-equal
        // to transform + xxhash64_seeded — MinHashSpec, n-generic).
        // NULL-text edge pinned explicitly: word_ngram_hashes(null) → []
        // → simhash 0, so without the guard every null-text doc would
        // share signature 0 and band-collide (the composed
        // transform/aggregate form yielded NULL, which never joins); the
        // when() restores the composed semantics on corpora with nulls.
        val sims = fanout(docs)
          .select(col("doc_id"),
            when(col("text").isNotNull,
              graft.functions.word_ngram_hashes(
                split(col("text"), " "), 1, 7L)).as("hs"))
          .select(col("doc_id"),
            graft.functions.simhash64(col("hs")).as("simhash"))
        val chunks = sims.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("c"))
          .select(col("doc_id"), col("simhash"), col("c"),
            expr("shiftrightunsigned(simhash, c * 16) & 65535L").as("chunk"))
        chunks.as("a")
          .join(chunks.as("b"),
            col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(XxhSql.simhashOracle)),

    // --- embedding-cosine near-dup, exact bounded twin: all-pairs cosine
    //     on an explicitly bounded id slice (like q33 for shingles) — the
    //     correctness baseline for the bucketed scale path q38 below.
    //     Never run unbounded: all-pairs over the full table is O(n²). ---
    Q("q35_dedup_embedding_cosine",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 500)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        e.toDF("id_a", "va")
          .join(broadcast(e.toDF("id_b", "vb")), col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(graft.functions.cosine_sim(col("va"), col("vb")), 4).as("sim"))
          .filter(col("sim") >= 0.4)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |           FROM embeddings WHERE vec_id < 500)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_cosine_similarity(a.v,b.v), 4) AS sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v,b.v), 4) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // --- embedding-cosine near-dup, bucketed scale path: candidates are
    //     pairs sharing any of 8 random-hyperplane signature buckets
    //     (multi-table LSH — the q42 family with independent plane-sets
    //     unioned for recall), verified by exact cosine. An equi-join on
    //     (table, bucket) instead of an unbounded cartesian, so the only
    //     all-pairs work happens inside a bucket. Engine-internal hash
    //     family -> rows-only gate; q35 is the exact twin on the bounded
    //     slice and q39 measures this path's recall against it. ---
    Q("q38_dedup_cosine_lsh",
      (s, dir) => {
        val e = fanout(Tables(s, dir, "embeddings"))
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        cosineBucketedPairs(e, 0.4)
          .orderBy(col("id_a"), col("id_b"))
      },
      None,
      bench = true),

    // --- recall of the bucketed path (q38) against the exact all-pairs
    //     twin (q35) on the same bounded slice — the honest quality number
    //     for the hyperplane bucketing, mirroring what q43 does for ANN.
    //     Depends on the engine-internal hash family -> rows-only gate. ---
    Q("q39_cosine_lsh_recall",
      (s, dir) => {
        val e = fanout(Tables(s, dir, "embeddings"))
          .filter(col("vec_id") < 500)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val exact = e.toDF("id_a", "va")
          .join(broadcast(e.toDF("id_b", "vb")), col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(graft.functions.cosine_sim(col("va"), col("vb")), 4).as("sim"))
          .filter(col("sim") >= 0.4)
          .select(col("id_a"), col("id_b"))
        val bucketed = cosineBucketedPairs(e, 0.4)
          .select(col("id_a"), col("id_b"))
        exact
          .join(bucketed.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0))).as("n_found"),
            round(sum(coalesce(col("hit"), lit(0))) / count(lit(1)), 4)
              .as("recall"))
      },
      None),

    // --- benchmark decontamination: flag training documents sharing any
    //     8-gram with a held-out benchmark set (here: the lang='zh' slice
    //     stands in for an eval suite). Scale shape: benchmark n-grams are
    //     tiny next to the corpus -> distinct + BROADCAST; corpus grams
    //     explode map-side into the broadcast join, then one partial-agg'd
    //     count per doc — the corpus text itself never shuffles. ---
    Q("q56_decontaminate",
      (s, dir) => {
        val docs = fanout(Tables(s, dir, "documents"))
        val bench = docs.filter(col("lang") === "zh")
          .select(explode(word_ngrams(split(col("text"), " "), 8)).as("g"))
          .distinct()
        docs.filter(col("lang") =!= "zh")
          .select(col("doc_id"),
            explode(word_ngrams(split(col("text"), " "), 8)).as("g"))
          .join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("g")).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks
             |           FROM documents),
             |bg AS (SELECT DISTINCT
             |         unnest([array_to_string(toks[i:i+7],' ')
             |                 for i in range(1, len(toks)-6)]) AS g
             |       FROM t WHERE lang='zh'),
             |cg AS (SELECT doc_id,
             |         unnest([array_to_string(toks[i:i+7],' ')
             |                 for i in range(1, len(toks)-6)]) AS g
             |       FROM t WHERE lang<>'zh')
             |SELECT doc_id, count(DISTINCT cg.g)::BIGINT AS n_hits
             |FROM cg JOIN bg USING (g)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- embedding-space decontamination (semantic twin of q56): flag
    //     training vectors whose nearest held-out benchmark vector (label 0
    //     stands in for an eval suite) exceeds a cosine threshold —
    //     paraphrased contamination that shares no 8-gram still lands near
    //     the benchmark in embedding space. Scale shape: benchmark suites
    //     are tiny next to the corpus, so the whole set is packed into ONE
    //     sorted array and broadcast; each training vector folds over it
    //     map-side (`aggregate`, codegen'd) keeping the best (sim, id) —
    //     zero shuffle, zero candidate blow-up, linear in the corpus. Ties
    //     on the rounded sim keep the lowest benchmark id (the fold visits
    //     ids ascending and replaces only on strictly-greater), which is
    //     what the oracle's (sim DESC, bid ASC) row_number picks. ---
    Q("q121_embed_decontaminate",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val benchArr = e.filter(col("label") === 0)
          .agg(sort_array(collect_list(
            struct(col("vec_id").as("id"), col("v").as("bv")))).as("bench"))
        // fused broadcast fold (round 12): the composed `aggregate` was an
        // interpreted struct-state lambda per bench element that also
        // recomputed the invariant query-vector norm per element;
        // best_cosine is one codegen'd pass (value-identical incl. the
        // HALF_UP rounding and lowest-id tie-break — FoldKernelsSpec)
        fanout(e.filter(col("label") =!= 0))
          .crossJoin(broadcast(benchArr))
          .select(col("vec_id"),
            graft.functions.best_cosine(col("v"), col("bench")).as("best"))
          .select(col("vec_id"), col("best.id").as("near_id"),
            col("best.sim").as("max_sim"))
          .withColumn("contaminated", (col("max_sim") >= 0.4).cast("int"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |           FROM embeddings),
             |b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE label = 0),
             |t AS (SELECT vec_id, v FROM e WHERE label <> 0),
             |scored AS (SELECT t.vec_id, bid,
             |             round(list_cosine_similarity(v, bv), 4) AS sim
             |           FROM t CROSS JOIN b),
             |ranked AS (SELECT vec_id, bid, sim,
             |             row_number() OVER (PARTITION BY vec_id
             |               ORDER BY sim DESC, bid) AS rn
             |           FROM scored)
             |SELECT vec_id, bid AS near_id, sim AS max_sim,
             |       (sim >= 0.4)::INT AS contaminated
             |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      bench = true),

    // --- near-verbatim overlap via shared fixed-length token windows —
    //     the exact-substring dedup signal ("Deduplicating Training Data
    //     Makes Language Models Better" uses 50-token windows; 30 here,
    //     scaled to this corpus's doc lengths). The shipped plan is the
    //     hash-keyed scale shape (see [[sharedWindowOverlap]]): the per-doc
    //     dedup and the candidate equi-join run on the window's 8-byte
    //     xxhash64, so window TEXT never crosses a corpus-wide shuffle
    //     (~30x doc bytes at stride 1 in the string-keyed twin), and the
    //     id-keyed verify removes hash collisions — the result is
    //     oracle-exact (equal strings always hash equal: no false
    //     negatives; SharedWindowSpec pins the equivalence). ---
    Q("q89_shared_window_overlap",
      (s, dir) => sharedWindowOverlap(Tables(s, dir, "documents"), w = 30,
        hashKeyed = true),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |g AS (SELECT doc_id,
             |        unnest([array_to_string(toks[i:i+29],' ')
             |                for i in range(1, len(toks)-28)]) AS win
             |      FROM t),
             |d AS (SELECT DISTINCT doc_id, win FROM g)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       count(*) AS n_shared_windows
             |FROM d a JOIN d b ON a.win = b.win AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // --- the bounded string-keyed twin (the q35/q38 pattern: the oracle's
    //     literal shape stays gated next to the scale plan). Same oracle;
    //     at corpus scale its equi-join shuffles ~30x the corpus bytes, so
    //     q89 is the shipped path and this is the small-SF cross-check. ---
    Q("q89b_shared_window_string",
      (s, dir) => sharedWindowOverlap(Tables(s, dir, "documents"), w = 30,
        hashKeyed = false),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |g AS (SELECT doc_id,
             |        unnest([array_to_string(toks[i:i+29],' ')
             |                for i in range(1, len(toks)-28)]) AS win
             |      FROM t),
             |d AS (SELECT DISTINCT doc_id, win FROM g)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       count(*) AS n_shared_windows
             |FROM d a JOIN d b ON a.win = b.win AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --- maximal shared spans per doc pair — the span-level report the
    //     exact-substring dedup paper actually acts on (see
    //     [[sharedSpans]]): shared windows merged into maximal contiguous
    //     token runs; per pair the span count, longest span, and covered
    //     tokens in the lower-id doc. Candidates ride q89's 8-byte hash
    //     machinery; positions and interval merging are in-row (a
    //     transform/filter + one aggregate fold) — no text through any
    //     exchange, no window functions. ---
    Q("q91_shared_span_merge",
      // fused span kernel (round 12): O(|wa|+|wb|) hashed per pair instead
      // of the composed O(|wa| x |wb|) interpreted scan; value-identical
      // (FoldKernelsSpec pins kernel equality AND full-body equality vs
      // the composed sharedSpans on real corpus data)
      (s, dir) => sharedSpansFused(Tables(s, dir, "documents"), w = 30),
      oracle = Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |g AS (SELECT doc_id,
             |        unnest([{'pos': i,
             |                 'win': array_to_string(toks[i:i+29],' ')}
             |                for i in range(1, len(toks)-28)]) AS pw
             |      FROM t),
             |g2 AS (SELECT doc_id, pw.pos AS pos, pw.win AS win FROM g),
             |b AS (SELECT DISTINCT doc_id, win FROM g2),
             |sp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos
             |       FROM g2 a JOIN b ON a.win = b.win
             |         AND a.doc_id < b.doc_id),
             |isl AS (SELECT id_a, id_b, pos,
             |          CASE WHEN pos - coalesce(lag(pos) OVER
             |                 (PARTITION BY id_a, id_b ORDER BY pos),
             |                 -1000000) > 30
             |               THEN 1 ELSE 0 END AS brk
             |        FROM sp),
             |sid AS (SELECT id_a, id_b, pos,
             |          sum(brk) OVER (PARTITION BY id_a, id_b
             |                         ORDER BY pos) AS span_id
             |        FROM isl),
             |spans AS (SELECT id_a, id_b, span_id,
             |            min(pos) AS s, max(pos) + 29 AS e
             |          FROM sid GROUP BY 1, 2, 3)
             |SELECT id_a, id_b,
             |       count(*)::BIGINT AS n_spans,
             |       max(e - s + 1)::BIGINT AS max_span_tokens,
             |       sum(e - s + 1)::BIGINT AS covered_tokens
             |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // --- SemDeDup ("SemDeDup: Data-efficient learning at web-scale
    //     through semantic deduplication", Abbas et al. 2023): partition
    //     the embedding space with a trained k-means quantizer, compare
    //     pairs EXHAUSTIVELY only within a cluster, drop the higher id of
    //     every pair above the cosine threshold. The cluster is the
    //     candidate generator — the trained complement to q38's random
    //     hyperplanes (data-adapted cells find dups hyperplanes split
    //     apart). Each vector keys to its 2 nearest cells (multi-
    //     assignment — the recall lever for boundary pairs, see
    //     [[semDedupPairs]]). At 100 TB: k scales with the corpus (the
    //     paper runs ~100k clusters) so in-cell pair counts stay bounded;
    //     assignment is an in-row struct sort over the scored centroids
    //     and the only shuffle of candidate generation is the cell-keyed
    //     self-join on (vec_id, cell) rows. Trained model -> rows-only
    //     gate; q90b measures recall vs exact pairs. ---
    Q("q90_semdedup",
      (s, dir) => {
        semDedupPairs(s, dir, threshold = 0.4)
          .groupBy(col("id_b"))
          .agg(min(col("id_a")).as("kept_by"),
            round(max(col("sim")), 4).as("max_sim"))
          .select(col("id_b").as("dropped_id"), col("kept_by"), col("max_sim"))
          .orderBy(col("dropped_id"))
      },
      None),

    // --- recall of the cluster-partitioned pass vs exact all-pairs cosine
    //     on a bounded id subset (the q39/q43 pattern): SemDeDup misses
    //     exactly the above-threshold pairs whose members land in
    //     different cells — this measures that loss in-engine. ---
    Q("q90b_semdedup_recall",
      (s, dir) => {
        val bound = 500
        val sub = SimilarityQueries.unitVecs(s, dir)
          .filter(col("vec_id") < bound)
          .select(col("vec_id"), col("v"))
        val exact = sub.as("a")
          .join(broadcast(sub.as("b")), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            graft.functions.cosine_sim(col("a.v"), col("b.v")).as("sim"))
          .filter(col("sim") >= 0.4)
          .select(col("id_a"), col("id_b"))
        val sem = semDedupPairs(s, dir, threshold = 0.4)
          .filter(col("id_a") < bound && col("id_b") < bound)
          .select(col("id_a"), col("id_b"))
        exact.join(sem.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0))).as("n_found"),
            round(sum(coalesce(col("hit"), lit(0)))
              / greatest(count(lit(1)), lit(1L)), 4).as("recall"))
      },
      None),

    // --- asymmetric containment dedup: Jaccard (q32/q33) under-scores a
    //     short doc embedded verbatim in a long one (|A∩B|/|A∪B| stays low
    //     when |B| ≫ |A|), so excerpt/quote/aggregator duplication needs
    //     the CONTAINMENT score |A∩B|/min(|A|,|B|) (Broder 1997's
    //     resemblance-vs-containment split). Pairs sharing ≥1 shingle come
    //     from the shingle-keyed equi-join (never a cartesian); the shared
    //     count is one agg on the join output; set sizes join back
    //     id-keyed. At 100 TB candidates route through q32's MinHash-LSH
    //     first (banding approximates Jaccard; a containment-biased
    //     variant hashes only the SHORTER doc's bands) and this exact
    //     score runs on candidates only. ---
    Q("q140_containment",
      (s, dir) => {
        // Three-stage exact plan. (1) Shared counts ride the shingle's
        // 8-byte xxhash64 through the self-join — shingle text never
        // crosses an exchange, and because equal strings always hash
        // equal, the hash-keyed count n_shared' ≥ true n_shared (a
        // collision can only ADD). (2) The ≥ 0.8 filter on the
        // over-approximation therefore yields a candidate SUPERSET —
        // per-doc set sizes are a docs-sized broadcast, so this is
        // map-side. (3) Survivors (output-sized, ~tens of pairs) are
        // re-scored exactly with an in-row array_intersect on the two
        // docs' shingle arrays, pruning any collision-inflated pair —
        // the result is oracle-exact at hash-join cost.
        val sh = shingled(Tables(s, dir, "documents")).localCheckpoint()
        val keys = sh.select(col("doc_id"),
            explode(col("shingles")).as("s0"))
          .select(col("doc_id"), xxhash64(col("s0")).as("h"))
        val sizes = sh.select(col("doc_id"),
          size(col("shingles")).cast("long").as("sz"))
        val approx = keys.as("a")
          .join(keys.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("ns_approx"))
          .join(broadcast(sizes.select(col("doc_id").as("id_a"),
            col("sz").as("sz_a"))), "id_a")
          .join(broadcast(sizes.select(col("doc_id").as("id_b"),
            col("sz").as("sz_b"))), "id_b")
          .filter(col("ns_approx") * 10 >= least(col("sz_a"), col("sz_b")) * 8)
        approx
          .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")),
            "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")),
            "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
              .as("n_shared"),
            col("sz_a"), col("sz_b"))
          .withColumn("containment",
            round(col("n_shared") / least(col("sz_a"), col("sz_b"))
              .cast("double"), 4))
          .filter(col("containment") >= 0.8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |sz AS (SELECT doc_id, len(sh)::BIGINT AS sz FROM s),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        len(list_intersect(a.sh, b.sh))::BIGINT AS n_shared
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh, b.sh)) > 0)
             |SELECT id_a, id_b, n_shared, za.sz AS sz_a, zb.sz AS sz_b,
             |       round(n_shared / least(za.sz, zb.sz)::DOUBLE, 4)
             |         AS containment
             |FROM p JOIN sz za ON za.doc_id = id_a
             |       JOIN sz zb ON zb.doc_id = id_b
             |WHERE n_shared / least(za.sz, zb.sz)::DOUBLE >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // --- cross-source contamination matrix: distinct 8-gram overlap
    //     between every source pair — the corpus-level view of q56's
    //     doc-level decontamination (which sources share templated or
    //     copied text, and how much). Per pair: shared distinct 8-grams
    //     and the overlap coefficient vs the smaller source's 8-gram
    //     vocabulary. Scale shape: the (source, ngram) frame is DISTINCT'd
    //     BEFORE the self-join (collapsing repeats map-side), the join key
    //     is the n-gram, and the matrix output is sources² rows. At
    //     100 TB the join key drops to the n-gram's 8-byte xxhash64 with
    //     q89's per-pair verify; source counts stay broadcast-sized. ---
    Q("q142_contamination_matrix",
      (s, dir) => {
        val g = fanout(Tables(s, dir, "documents"))
          .select(col("source"),
            explode(graft.functions.word_ngrams(split(col("text"), " "), 8))
              .as("g"))
          .distinct()
        val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        g.as("a")
          .join(g.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("sz").as("sz_a"))), "source_a")
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("sz").as("sz_b"))), "source_b")
          .select(col("source_a"), col("source_b"), col("n_shared"),
            round(col("n_shared") / least(col("sz_a"), col("sz_b"))
              .cast("double"), 4).as("overlap_coef"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH t AS (SELECT source, string_split(text,' ') AS toks
             |            FROM documents),
             |g AS (SELECT DISTINCT source,
             |        unnest([array_to_string(toks[i:i+7],' ')
             |                for i in range(1, len(toks)-6)]) AS g
             |      FROM t),
             |sz AS (SELECT source, count(*) AS sz FROM g GROUP BY 1),
             |p AS (SELECT a.source AS source_a, b.source AS source_b,
             |        count(*) AS n_shared
             |      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
             |      GROUP BY 1,2)
             |SELECT source_a, source_b, n_shared,
             |  round(n_shared / least(za.sz, zb.sz)::DOUBLE, 4)
             |    AS overlap_coef
             |FROM p JOIN sz za ON za.source = source_a
             |       JOIN sz zb ON zb.source = source_b
             |ORDER BY source_a, source_b""".stripMargin)),

    // --- ingest-order novelty profile: per document, the share of its
    //     distinct 8-grams whose FIRST corpus occurrence (min doc_id) is
    //     this document — the signal dedup-aware data ordering reads
    //     (novelty collapsing toward 0 over ingest order ⇒ the stream has
    //     gone stale; also the per-doc complement of q87's corpus-level
    //     Heaps curve). Scale shape: one pass — a min-over-gram-partition
    //     window, so the gram frame shuffles once on g and is never
    //     recomputed for a join-back; at 100 TB the window keys on the
    //     gram's 8-byte hash (first-owner attribution tolerates the 2⁻⁶⁴
    //     collision: a collision only steals novelty from one gram). ---
    Q("q146_novelty",
      (s, dir) => {
        val g = fanout(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            explode(array_distinct(graft.functions.word_ngrams(
              split(col("text"), " "), 8))).as("g"))
        // first-owner via a partition window: ONE pass over the gram
        // frame and one shuffle on g — the agg+join-back shape ran the
        // scan+ngram pipeline once per join side and paid a second
        // gram-keyed exchange for the same answer
        g.withColumn("first_doc",
            min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"),
            round(sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)) / count(lit(1)).cast("double"), 4)
              .as("novelty"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
             |            FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        unnest([array_to_string(toks[i:i+7],' ')
             |                for i in range(1, len(toks)-6)]) AS g
             |      FROM t),
             |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
             |SELECT doc_id, count(*) AS n_grams,
             |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT
             |    AS n_novel,
             |  round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             |    / count(*)::DOUBLE, 4) AS novelty
             |FROM g JOIN f USING (g)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      bench = true),

    // --- near-dup cluster SIZE distribution: how duplication is shaped —
    //     many pairs (size-2 templates) vs few giant boilerplate
    //     components — which decides the dedup policy (keep-best per pair
    //     vs aggressive cluster collapse) and is the first thing to read
    //     off a new crawl. q36's connected-components machinery, then two
    //     tiny aggs: component → size → histogram; output is
    //     max-cluster-size rows. Oracle reconstructs clusters with the
    //     recursive min-label CTE. ---
    Q("q152_cluster_sizes",
      (s, dir) => {
        val pairs = lshVerifiedPairs(Tables(s, dir, "documents"), 0.7)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        graft.operators.Dedup.connectedComponents(pairs)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("sz"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id
             |      WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
             |        / len(list_distinct(list_concat(a.sh,b.sh))) >= 0.7),
             |e AS (SELECT ida AS a, idb AS b FROM p
             |      UNION SELECT idb, ida FROM p),
             |r AS (SELECT a AS id, a AS lbl FROM e
             |      UNION SELECT a AS id, b AS lbl FROM e
             |      UNION
             |      SELECT e.a AS id, r.lbl FROM e JOIN r ON r.id = e.b),
             |cc AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY 1),
             |cs AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY 1)
             |SELECT sz, count(*) AS n_clusters FROM cs
             |GROUP BY sz ORDER BY sz""".stripMargin)),

    // --- prefix-filtered set-similarity join (AllPairs/PPJoin family,
    //     Bayardo et al. 2007 / Xiao et al. 2008): the EXACT middle path
    //     between brute force (q33) and probabilistic MinHash-LSH (q32).
    //     Under one global token order (rarest first), a pair with
    //     Jaccard ≥ t MUST share a token inside both docs' first
    //     |d| − ⌈t·|d|⌉ + 1 tokens — so only prefixes are indexed and
    //     joined, the frequent-token tail (which drives the candidate
    //     blowup of a naive shingle join) never enters the equi-join, and
    //     NO true pair can be missed (unlike LSH there is no recall
    //     loss). Candidates are then exact-verified id-keyed. Scale
    //     shape: the df frame is vocab-sized; per-doc prefix extraction
    //     is an in-row sort + slice; the only corpus-scale shuffles are
    //     the prefix equi-join (a bounded subset of q33's fanout —
    //     PrefixFilterSpec measures the pruning) and the verify joins.
    //     At 100 TB the prefix join key drops to the shingle's 8-byte
    //     hash exactly as in q89/q140. ---
    Q("q159_prefix_filter_join",
      (s, dir) => {
        prefixFilteredPairs(Tables(s, dir, "documents"), 0.5)
          .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
             |        for i in range(1, len(toks)-1)]) AS sh FROM t),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        len(list_intersect(a.sh,b.sh))::DOUBLE
             |          / len(list_distinct(list_concat(a.sh,b.sh))) AS jac
             |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
             |SELECT id_a, id_b, round(jac,4) AS jac FROM p
             |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin))
  )

  /** Prefix-filter candidate pairs (exposed to PrefixFilterSpec so it can
    * count candidates against the unfiltered shingle-join fanout). */
  private[queries] def prefixFilterCandidates(docs: DataFrame,
      t: Double): DataFrame = {
    val sh = shingled(docs).localCheckpoint()
    val toks = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // per-doc tokens sorted rarest-first under ONE global total order
    // (df, then token) — the order every doc must share for the prefix
    // guarantee to hold
    val sorted = toks.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("ord"),
        count(lit(1)).as("sz"))
    val pref = sorted.select(col("doc_id"),
      slice(transform(col("ord"), e => e.getField("sh")), lit(1),
        (col("sz") - ceil(col("sz") * t) + 1).cast("int")).as("prefix"))
    val cand = pref.select(col("doc_id"), explode(col("prefix")).as("sh"))
    cand.as("a")
      .join(cand.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** q159 body: prefix-filtered candidates, verified in two stages (the
    * q140 staging): candidate pairs first score an over-approximate
    * Jaccard on 8-byte shingle-HASH arrays (equal strings always hash
    * equal, and Jaccard is increasing in the intersection size, so
    * jac_hash ≥ jac_true — the ≥ t filter keeps a superset), then the
    * output-sized survivors are re-scored exactly on the string arrays.
    * The corpus-wide candidate join never moves shingle text. */
  private[queries] def prefixFilteredPairs(docs: DataFrame,
      t: Double): DataFrame = {
    val sh = shingled(docs).localCheckpoint()
    val shh = sh.select(col("doc_id"),
      transform(col("shingles"), xxhash64(_)).as("h"))
    val approx = prefixFilterCandidates(docs, t)
      .join(shh.select(col("doc_id").as("id_a"), col("h").as("h_a")), "id_a")
      .join(shh.select(col("doc_id").as("id_b"), col("h").as("h_b")), "id_b")
      .filter(size(array_intersect(col("h_a"), col("h_b"))).cast("double")
        / size(array_union(col("h_a"), col("h_b"))) >= t)
      .select(col("id_a"), col("id_b"))
    approx
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")),
        "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= t)
  }

  /** Above-threshold cosine pairs found via trained k-means cells (q90
    * body): (id_a, id_b, sim), exact-verified. Each vector is keyed to its
    * `Assign` nearest cells map-side (an in-row struct sort over the k
    * scored centroids, like the IVF probe — no join, no window); candidate
    * pairs share ANY cell. Multi-assignment is SemDeDup's recall lever:
    * with one cell per vector, every above-threshold pair straddling a
    * cell boundary is lost (measured 0.25 recall at k=32 on the isotropic
    * harness embeddings); 2 assignments catch boundary pairs at 2x keyed
    * rows. The cell join moves only (vec_id, cell) — vectors travel in
    * id-keyed verification joins, proportional to candidates (the
    * q32/q38 staging). k = 32 here; the deployment knob is
    * k ≈ n / desired-cell-size so the in-cell quadratic stays bounded.
    * Centroids memoized like the IVF family's. */
  private val SemDedupAssign = 2

  private[queries] def semDedupPairs(s: SparkSession, dir: String,
      threshold: Double, assign: Int = SemDedupAssign): DataFrame = {
    val all = SimilarityQueries.unitVecs(s, dir)
    val cents = SimilarityQueries.memoFit(s, dir, "semdedup-centroids-32")(
      graft.operators.KMeans.fit(all, "v", "vec_id", k = 32, iters = 3))
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val d = lit(c.map(x => x * x).sum) -
        lit(2.0) * graft.functions.vec_dot(col("v"), typedLit(c.toSeq))
      struct(d.as("d"), lit(i.toLong).as("cell"))
    }
    // (vec_id, cell) for the `assign` nearest cells — tiny rows; checkpointed
    // so the argsort pipeline runs once, not once per self-join side
    val keyed = all.select(col("vec_id"),
        explode(slice(array_sort(array(scored.toSeq: _*)), 1, assign)).as("p"))
      .select(col("vec_id"), col("p.cell").as("cell"))
      .localCheckpoint()
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cands
      .join(all.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(all.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.cosine_sim(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Seed for the q89 window hash — any fixed value; pinned so the plan is
    * deterministic across runs. */
  private val WindowHashSeed = 89L

  /** Candidate doc pairs sharing >= 1 stride-1 `w`-token window, generated
    * entirely on 8-byte window hashes: every window reduces map-side to its
    * `xxhash64`, the per-doc dedup and the self-join shuffle only
    * (doc_id, hash) rows, so window TEXT never crosses a corpus-wide
    * exchange. Equal strings always hash equal — no false negatives; the
    * (rare) collision pairs are false CANDIDATES only, removed exactly by
    * the caller's string-level verification. localCheckpoint: the pair
    * frame feeds three+ branches downstream (both id-list semi-joins and
    * the verification spine) and Catalyst has no cross-branch subexpression
    * reuse — materializing the candidates-sized frame keeps the hash
    * self-join pipeline from re-expanding per branch (q32's band staging).
    */
  private def hashWindowCands(docs: DataFrame, w: Int): DataFrame = {
    val hwins = fanout(docs)
      .select(col("doc_id"),
        explode(word_ngrams(split(col("text"), " "), w)).as("win"))
      .select(col("doc_id"), xxhash64_seeded(WindowHashSeed, col("win")).as("h"))
      .distinct()
    hwins.as("a")
      .join(hwins.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint()
  }

  /** Shared fixed-length-window overlap (q89 body), two plans:
    *
    * `hashKeyed = true` — the shipped 100 TB shape. Every stride-1 window
    * is reduced map-side to its 8-byte `xxhash64`; the per-doc dedup
    * (distinct) and the candidate self-join both run on (doc_id, hash), so
    * the only corpus-wide shuffles carry 16-byte rows instead of 30-token
    * strings (~30x the corpus bytes). Candidate pairs are then verified
    * id-keyed: the window SETS of candidate docs only are rebuilt straight
    * from the docs table (semi-join pushes into the scan; array_distinct
    * over the in-row generate — no shuffle of text at all) and the true
    * shared count is size(array_intersect(a, b)), which removes hash
    * collisions exactly. Equal strings always hash equal, so the hash join
    * admits no false negatives — the result is identical to the
    * string-keyed plan on any input (SharedWindowSpec pins it).
    *
    * `hashKeyed = false` — the bounded string-keyed twin (the oracle's
    * literal shape): windows join as full text. Correct, and fine at spec
    * scale; at corpus scale its shuffle carries ~30x the corpus bytes.
    */
  private[queries] def sharedWindowOverlap(docs: DataFrame, w: Int,
      hashKeyed: Boolean): DataFrame = {
    if (!hashKeyed) {
      val wins = fanout(docs)
        .select(col("doc_id"),
          explode(word_ngrams(split(col("text"), " "), w)).as("win"))
        .distinct()
      wins.as("a")
        .join(wins.as("b"),
          col("a.win") === col("b.win") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared_windows"))
        .orderBy(col("id_a"), col("id_b"))
    } else {
      val cands = hashWindowCands(docs, w)
      val candIds = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id")))
        .distinct()
      val winSets = docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(word_ngrams(split(col("text"), " "), w)).as("wins"))
      cands
        .join(winSets.select(col("doc_id").as("id_a"), col("wins").as("wa")), "id_a")
        .join(winSets.select(col("doc_id").as("id_b"), col("wins").as("wb")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("wa"), col("wb"))).cast("long")
            .as("n_shared_windows"))
        .filter(col("n_shared_windows") > 0)
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** Maximal shared-span merge (q91 body) — the ExactSubstr-style report
    * built on q89's candidate machinery ("Deduplicating Training Data Makes
    * Language Models Better" reports duplicated SPANS, not window counts:
    * a 500-token verbatim block is one finding, not 471 window hits).
    *
    * For each candidate pair (id_a < id_b): the positions in doc a whose
    * `w`-token window also occurs anywhere in doc b are computed IN-ROW
    * (transform-with-index + array_contains over the two id-key-joined
    * window arrays — true strings, so hash collisions vanish here), then
    * the overlapping/adjacent token intervals [p, p+w-1] are merged into
    * maximal spans by a single in-row `aggregate` fold over the ordered
    * position list. Per pair: span count, longest span, covered tokens.
    *
    * Scale shape: candidate generation is [[hashWindowCands]] (8-byte keys
    * through every corpus-wide shuffle); everything after is id-keyed joins
    * proportional to candidate docs plus per-row work bounded by doc
    * length² — no window functions, no per-pair shuffle, no text through
    * any exchange. */
  private[graft] def sharedSpans(docs: DataFrame, w: Int): DataFrame = {
    val cands = hashWindowCands(docs, w)
    val toks = split(col("text"), " ")
    val aWins = docs.join(cands.select(col("id_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_a"), word_ngrams(toks, w).as("wa"))
    val bWins = docs.join(cands.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_b"),
        array_distinct(word_ngrams(toks, w)).as("wb"))
    // 1-based positions in doc a whose window doc b also contains, ascending
    // (transform emits in array order; filter preserves it)
    val ps = filter(
      transform(col("wa"), (x, i) =>
        when(array_contains(col("wb"), x), i + 1).otherwise(-1)),
      p => p > 0)
    // fold state: n spans closed-or-open, current span [s, e] in token
    // coords, max closed length, covered closed tokens; a position extends
    // the open span iff its interval [p, p+w-1] overlaps or touches it
    // (p <= e + 1), else it closes the span and opens a new one
    def spanLen(st: Column): Column =
      when(st.getField("n") === 0, lit(0))
        .otherwise(st.getField("e") - st.getField("s") + 1)
    val init = struct(lit(0).as("n"), lit(0).as("s"), lit(-2).as("e"),
      lit(0).as("mx"), lit(0).as("cov"))
    val folded = aggregate(col("ps"), init,
      (st, p) => when(st.getField("n") === 0 || p > st.getField("e") + 1,
          struct((st.getField("n") + 1).as("n"), p.as("s"),
            (p + lit(w - 1)).as("e"),
            greatest(st.getField("mx"), spanLen(st)).as("mx"),
            (st.getField("cov") + spanLen(st)).as("cov")))
        .otherwise(struct(st.getField("n").as("n"), st.getField("s").as("s"),
          (p + lit(w - 1)).as("e"), st.getField("mx").as("mx"),
          st.getField("cov").as("cov"))),
      st => struct(st.getField("n").as("n"),
        greatest(st.getField("mx"), spanLen(st)).as("mx"),
        (st.getField("cov") + spanLen(st)).as("cov")))
    cands
      .join(aWins, "id_a")
      .join(bWins, "id_b")
      .select(col("id_a"), col("id_b"), ps.as("ps"))
      .select(col("id_a"), col("id_b"), folded.as("sp"))
      .select(col("id_a"), col("id_b"),
        col("sp.n").cast("long").as("n_spans"),
        col("sp.mx").cast("long").as("max_span_tokens"),
        col("sp.cov").cast("long").as("covered_tokens"))
      .filter(col("n_spans") > 0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[sharedSpans]] with the per-pair position scan + interval-merge fold
    * replaced by the fused [[graft.functions.SharedSpanStats]] kernel —
    * O(|wa| + |wb|) hashed per pair instead of O(|wa| x |wb|) interpreted
    * string comparisons. Value-identical (FoldKernelsSpec pins kernel
    * equality against the composed fold; the surrounding plan is shared
    * code). */
  private[graft] def sharedSpansFused(docs: DataFrame, w: Int): DataFrame = {
    val cands = hashWindowCands(docs, w)
    val toks = split(col("text"), " ")
    val aWins = docs.join(cands.select(col("id_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_a"), word_ngrams(toks, w).as("wa"))
    val bWins = docs.join(cands.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_b"),
        array_distinct(word_ngrams(toks, w)).as("wb"))
    cands
      .join(aWins, "id_a")
      .join(bWins, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.shared_span_stats(col("wa"), col("wb"), w).as("sp"))
      .select(col("id_a"), col("id_b"),
        col("sp.n").cast("long").as("n_spans"),
        col("sp.mx").cast("long").as("max_span_tokens"),
        col("sp.cov").cast("long").as("covered_tokens"))
      .filter(col("n_spans") > 0)
      .orderBy(col("id_a"), col("id_b"))
  }
}
