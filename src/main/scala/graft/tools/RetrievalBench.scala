package graft.tools

import org.apache.spark.sql.functions._

/** End-to-end RETRIEVAL benchmark — the ANN family's capstone, in the
  * DataPipelineBench mold: train + build the IVF-PQ index once (timed as
  * BUILD), then run a query batch through two-stage retrieval (ADC
  * shortlist → exact re-rank; timed as QUERY over several reps) and score
  * recall@k against the brute-force exact baseline computed on the same
  * vectors. Reports one JSON line:
  * build_s, best query-batch wall, queries/sec, recall@k.
  *
  * Query cost model: the batch shape is one plan for ALL queries (queries
  * are ROWS of a broadcast frame, q47's design), so queries/sec here is
  * thousands-of-queries-per-plan throughput, not per-query launch latency
  * — the number that matters for offline eval sweeps and batched serving.
  *
  * Usage: runMain graft.tools.RetrievalBench [nQueries] [k] [nprobe] [shortlist]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object RetrievalBench {

  def main(args: Array[String]): Unit = {
    val nQueries  = if (args.length > 0) args(0).toInt else 100
    val k         = if (args.length > 1) args(1).toInt else 10
    val nprobe    = if (args.length > 2) args(2).toInt else 3
    val shortlist = if (args.length > 3) args(3).toInt else 3 * k
    val sfDir = graft.Sessions.sfDir
    val spark = graft.Sessions.local("graft-retrieval-bench")

    def lap[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // BUILD: the first rerank call trains the coarse quantizer + residual
    // PQ and memoizes them (the session-scoped model cache all recall
    // queries share) — everything after re-uses the trained index.
    val (_, buildS) = lap {
      graft.queries.SimilarityQueries
        .ivfPqRerank(spark, sfDir, nQueries, k, nprobe, shortlist)
        .write.format("noop").mode("overwrite").save()
    }

    // QUERY: warm reps over the trained index; min of 3 (Bench protocol).
    val times = (1 to 3).map { _ =>
      lap {
        graft.queries.SimilarityQueries
          .ivfPqRerank(spark, sfDir, nQueries, k, nprobe, shortlist)
          .write.format("noop").mode("overwrite").save()
      }._2
    }
    val queryS = times.min
    val qps = nQueries / queryS

    // RECALL vs the brute-force exact baseline on the same vectors
    val exact = graft.queries.SimilarityQueries
      .knn(spark, sfDir, nQueries, k).select(col("query_id"), col("vec_id"))
    val ann = graft.queries.SimilarityQueries
      .ivfPqRerank(spark, sfDir, nQueries, k, nprobe, shortlist)
      .select(col("query_id"), col("vec_id"))
    val recall = exact
      .join(ann.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0)))
        / (nQueries.toDouble * k)).as("r"))
      .head().getDouble(0)

    println(f"""{"metric":"retrieval","n_queries":$nQueries,"k":$k,""" +
      f""""nprobe":$nprobe,"shortlist":$shortlist,""" +
      f""""build_s":$buildS%.2f,"query_s":$queryS%.3f,""" +
      f""""qps":$qps%.1f,"recall_at_k":$recall%.4f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
