package graft.queries

import graft.SparkSpec

/** Physical-plan hygiene gate for the whole catalog: a plan whose cost
  * grows with the data instead of with the answer — a cartesian product,
  * or a nested-loop join no query asks for — fails here instead of
  * surfacing in a 100x-scale run.
  *
  * Plans are built at sf0.001 with size-based broadcasting off, so every
  * join strategy is the one the query itself forces (an explicit
  * broadcast()/localCheckpoint, equi-join keys), as at a scale where no
  * data-sized side fits a broadcast: a join with no equi keys and no
  * broadcast side plans as a CartesianProduct.
  */
class BenchPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // why a nested loop is the right plan at any scale
  private val Scalar   = "a 1-row scalar or grand-total side"
  private val QuerySet = "a collected query or benchmark set"
  private val Baseline = "a documented brute-force baseline over a bounded id slice"
  private val KeyGrid  = "a dense grid over a small closed key set"

  /** Broadcast nested-loop allowances: each is exact, so a new nested
    * loop in an allowed query still fails. */
  private val allowedBnlj: Map[String, (Int, String)] = Map(
    "q25_tfidf" -> (1 -> Scalar), // n_docs
    "q98_pmi_cooccur" -> (2 -> Scalar), // n_bi and n_uni
    "q84_bm25" -> (1 -> Scalar), // n and avgdl
    "q138_keyness" -> (1 -> Scalar), // corpus token total
    "q139_good_turing" -> (2 -> Scalar), // token total, in both union branches
    "q144_rank_stability" -> (1 -> KeyGrid), // top-50 terms x sources
    "q145_rrf_fusion" -> (1 -> Scalar), // n and avgdl
    "q33_dedup_ngram_jaccard" -> (1 -> Baseline), // doc_id < 250
    "q35_dedup_embedding_cosine" -> (1 -> Baseline), // vec_id < 500
    "q39_cosine_lsh_recall" -> (1 -> Baseline), // q35's slice
    "q121_embed_decontaminate" -> (1 -> QuerySet), // collected benchmark array
    "q90b_semdedup_recall" -> (1 -> Baseline), // vec_id < 500
    "q40_knn_bruteforce" -> (1 -> QuerySet), // 5 queries
    "q43_ann_recall" -> (1 -> QuerySet), // q40's exact side
    "q47_ann_pq" -> (1 -> QuerySet), // per-query ADC tables
    "q48_pq_recall" -> (2 -> QuerySet), // exact side + ADC tables
    "q49b_ivfpq_recall" -> (1 -> QuerySet), // exact side
    "q49d_rerank_recall" -> (1 -> QuerySet), // exact side
    "q45_ivf_recall" -> (1 -> QuerySet), // exact side
    "q93b_pca_knn_recall" -> (2 -> QuerySet), // exact + projected queries
    "q147_label_separation" -> (1 -> Scalar), // n_tot
    "q185_bq_topk" -> (1 -> QuerySet), // packed query signatures
    "q185b_bq_recall" -> (2 -> QuerySet), // exact side + signatures
    "q203_knn_loo_accuracy" -> (1 -> Baseline), // vec_id < 500
    "q200_filtered_knn" -> (1 -> QuerySet), // 5 queries
    "q200b_filtered_ivf_recall" -> (1 -> QuerySet), // q200's exact side
    "q108_dsir_weights" -> (1 -> Scalar), // token totals
    "q118_token_dispersion" -> (1 -> Scalar), // grand total
    "q116_dsir_resample" -> (1 -> Scalar), // token totals
    "q131_kneser_ney_nll" -> (1 -> Scalar), // bigram type count T
    "q137_temperature_mixture" -> (1 -> Scalar), // tot_n and tot_p
    "q87_vocab_growth" -> (1 -> Scalar), // n_total
    "q129_source_influence" -> (1 -> Scalar), // corpus totals
    "q128_poisson_bootstrap" -> (2 -> Scalar), // the rank-2 and rank-49 replicates
    "q165_ks_distance" -> (1 -> KeyGrid), // sources x lengths
    "q192b_perplexity_cuts" -> (1 -> Scalar), // the two tercile cuts
    "q193_dq_audit" -> (1 -> Scalar), // max embedding width
    "q100_gapfill_locf" -> (1 -> KeyGrid), // hours x event types
    "q153_stickiness" -> (2 -> Scalar), // avg_wau and user totals
    "q204_degree_powerlaw" -> (1 -> Scalar), // n_nodes and d_max
    "q207_chi2_independence" -> (1 -> Scalar), // n
    "q169_hll_union" -> (1 -> Scalar), // direct estimate
    "q179_decayed_engagement" -> (1 -> Scalar)) // t_max

  /** q124 is the exact all-vectors kNN join: both sides are the whole
    * table, block-partitioned so each cartesian task pairs two blocks. */
  private val allowedCartesian = Map("q124_knn_join" -> 1)

  test("no catalog query plans a cartesian or an unallowed nested-loop join") {
    val names = Catalog.all.map(_.name).toSet
    assert((allowedBnlj.keySet ++ allowedCartesian.keySet) -- names == Set.empty,
      "allowance for a query the catalog no longer has")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val offenders = try Catalog.all.flatMap { q =>
      val plan = q.fn(spark, dir).queryExecution.executedPlan.toString
      val cart = "CartesianProduct".r.findAllIn(plan).length
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      val okCart = allowedCartesian.getOrElse(q.name, 0)
      val (okBnlj, why) = allowedBnlj.getOrElse(q.name, (0, "none allowed"))
      if (cart != okCart || bnlj != okBnlj)
        Some(s"${q.name} (cartesian=$cart allowed=$okCart, " +
          s"bnlj=$bnlj allowed=$okBnlj: $why)")
      else None
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(offenders.isEmpty, s"scale red flags in catalog plans: $offenders")
  }
}
