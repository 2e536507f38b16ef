package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Checkpoints.release

/** Duplicate-cluster resolution: after near-dup PAIR detection (MinHash/
  * SimHash/cosine), production dedup needs the transitive closure — one
  * canonical representative per connected component of the pair graph.
  *
  * Implemented as iterative min-label propagation: each node starts
  * labeled with its own id; every round each node takes the min of its
  * label and its neighbors' labels; converges in O(component diameter)
  * rounds. Each round is one shuffle on the node id — the standard
  * large-scale shape (what GraphFrames/Pregel do under the hood), safe at
  * any graph size because nothing is ever collected to the driver; the
  * driver only checks the "any label changed?" bit per round.
  *
  * Iteration hygiene (the part naive loops get wrong at scale): the edge
  * set is checkpointed once up front — its lineage is often an expensive
  * candidate-generation pipeline (MinHash→LSH→verification) that must not
  * re-run per round — and so is every round's label frontier, so the plan
  * never accretes one join per iteration (growing lineage blows up
  * planning time and, on executor loss, recompute cost). Local
  * checkpoints rather than persisted frames: each is
  * written by its own SQL execution, which owns that round's shuffles, so
  * a session with `spark.sql.classic.shuffleDependency.fileCleanup.enabled`
  * removes them as the rounds go (a persisted frame's cached-plan
  * shuffles wait for a driver GC).
  */
object Dedup {

  /** edges: undirected pairs in columns (a, b). Returns (id, cluster_id)
    * for every node that appears in an edge, cluster_id = min node id of
    * its component. Warns on stderr if maxIter is hit before convergence
    * (returned labels are then an upper bound, not final clusters).
    *
    * The returned labels read a local checkpoint that the caller owns:
    * free it with [[graft.Checkpoints.release]] once nothing reads them
    * again (otherwise its blocks stay until a driver GC collects the RDD).
    *
    * CONCURRENCY: when `numPartitions` is set, this method temporarily
    * overrides the SESSION's `spark.sql.shuffle.partitions` for the
    * duration of the iteration (restored in `finally`; rationale in the
    * body — the per-round exchanges plan at the session count). Do NOT
    * run other actions on the same SparkSession concurrently with such a
    * call: they would plan their shuffles at the edge-sized count. All of
    * this library's own callers run it synchronously. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      numPartitions: Option[Int] = None): DataFrame = {
    // Pre-partition the symmetric edge set on the join key BEFORE
    // checkpointing: every iteration joins sym on `b`, and a checkpoint
    // keeps its physical partitioning, so the per-round plan reuses this one shuffle
    // instead of re-exchanging the (potentially huge) edge set every round.
    //
    // `numPartitions` sizes that ONE partitioning — and with it every
    // per-round stage, because the iterative joins co-partition to the
    // checkpointed sym (a USER repartition, exempt from AQE coalescing).
    // Pass it when the session's shuffle partitions are sized for a much
    // larger frame: inside the data pipeline the session runs ~128
    // partitions/GB-of-corpus for the text shuffles, but the edge frame is
    // 1000x smaller than the corpus, so inheriting the session count made
    // every CC round pay ~1800 near-empty tasks x several stages x 2
    // count actions — measured as the stage's 4.5x-time-at-2x-data
    // super-linearity at the 14.4 GB scale point (the per-round work is
    // label-sized; the task/shuffle-file OVERHEAD was the scaling term,
    // doubling with corpus-tracked partitions on top of doubled rounds'
    // data). Default (None) keeps the session conf — correct wherever the
    // session is sized for frames like the edges themselves.
    val parts = numPartitions.getOrElse(
      edges.sparkSession.sessionState.conf.numShufflePartitions)
    // Scoping the conf (not just sym's repartition) matters: the per-round
    // groupBy/join exchanges are planned at the session count, which AQE
    // can only coalesce after paying its map-side files. All actions
    // against these plans happen inside this function (the checkpoints and
    // counts in the loop), so restoring the conf afterwards is safe.
    val sessConf = edges.sparkSession.conf
    val prevParts = sessConf.get("spark.sql.shuffle.partitions")
    if (numPartitions.isDefined)
      sessConf.set("spark.sql.shuffle.partitions", parts)
    try connectedComponentsImpl(edges, maxIter, parts)
    finally if (numPartitions.isDefined)
      sessConf.set("spark.sql.shuffle.partitions", prevParts)
  }

  private def connectedComponentsImpl(edges: DataFrame, maxIter: Int,
      parts: Int): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(parts, col("b"))
      .localCheckpoint(eager = true)
    // `cached` is the checkpoint actually holding the labels; `labels` is
    // the (id, lbl) view over it.
    var cached = sym.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(eager = true)
    var labels  = cached
    var iter    = 0
    var changed = true
    while (changed && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("lbl").as("blbl")), Seq("b"))
        .groupBy(col("a")).agg(min(col("blbl")).as("nbl"))
      // Carry the "did this node improve?" bit through the update itself so
      // the convergence check is a count on the materialized frame, not a
      // second labels join per round.
      val next = labels
        .join(nbrMin.select(col("a").as("id"), col("nbl")), Seq("id"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("plbl"))
        .select(col("id"), col("plbl").as("lbl"),
          (col("plbl") < col("lbl")).as("improved"))
        .localCheckpoint(eager = true)
      changed = next.filter(col("improved")).limit(1).count() > 0
      release(cached)
      cached = next
      labels = next.drop("improved")
      iter += 1
    }
    if (changed)
      System.err.println(
        s"[graft] Dedup.connectedComponents: NOT converged after $maxIter " +
          "iterations — labels are not final; raise maxIter (graph diameter " +
          "exceeds it)")
    release(sym)
    labels.withColumnRenamed("lbl", "cluster_id")
  }
}
