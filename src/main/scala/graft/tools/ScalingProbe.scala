package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf-scaling probe for the most expensive bench headliners: synthesize a
  * ~`factor`x copy of the tables they read, then time each query at x1 and
  * x`factor` IN THE SAME BOX-HOUR and report the growth ratio. The per-round
  * sf0.1 bench can verify a plan's shape but not its scaling EXPONENT — a
  * super-linear cliff (e.g. a CC round count that grows with component
  * diameter, or a bucket join whose occupancy quadratics) only shows up
  * when the same plan runs against a strictly larger input.
  *
  * Synthesis preserves each query's WORK STRUCTURE, not just row count:
  *
  *  - documents: `factor` copies; every 3rd token replaced by a per-COPY
  *    salt. Any 3-shingle covers exactly one salted position, so shingles
  *    carry their copy id — cross-copy Jaccard is 0 (no new near-dup
  *    pairs, no new band collisions) while WITHIN a copy the original
  *    pair/cluster structure survives (both members salted identically).
  *    Near-dup pairs, clusters, and cluster diameters therefore scale by
  *    exactly `factor` with structure intact — the honest growth mode for
  *    q32/q36 (an unsalted replication would instead weld all copies of a
  *    doc into one giant clique and measure a workload no dedup pipeline
  *    sees).
  *  - embeddings: `factor` copies, ids offset; copies beyond the first get
  *    deterministic hash-derived noise (amplitude 1.0 per component: the
  *    testdata vectors are unit-norm dim-64, so the noise norm ~4.6 pushes
  *    a copy's cosine to its source to ~0.21±0.12 — clearly under q38's
  *    0.4 threshold; at amplitude 0.5 the expectation lands ON the
  *    threshold and every source sprouts ~f/2 spurious near-dups).
  *  - lineitem: `factor` copies with BOTH l_orderkey and l_partkey offset
  *    per copy — `factor` disjoint isomorphic copurchase graphs (nodes and
  *    edges x`factor`, identical structure), the honest growth mode for
  *    q188's fixed-iteration PageRank.
  *
  * Protocol per (query, scale): fresh SparkContext (the Bench rationale —
  * executor state from earlier timings otherwise inflates later ones),
  * untimed warmup, then min of 2 timed reps, dual host canaries recorded
  * beside every number. Output: one JSON line per measurement plus a
  * summary with growth ratios, persisted via [[graft.BenchOut]]
  * (`target/scaling-last.json[l]`).
  *
  * Usage: runMain graft.tools.ScalingProbe [factor] [workDir] [qcsv]
  */
object ScalingProbe {

  private val DefaultQueries = Seq(
    "q36_dedup_clusters", "q188_pagerank", "q32_dedup_minhash_lsh",
    "q38_dedup_cosine_lsh", "q28_everygram_vocab_stats")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // dot-decimal JSON under any host locale
    val factor  = if (args.length > 0) args(0).toInt else 10
    val workDir = if (args.length > 1) args(1) else "target/scaleprobe"
    val queries = if (args.length > 2) args(2).split(",").toSeq else DefaultQueries
    val sfDir   = graft.Sessions.sfDir

    val scaled = Paths.get(s"$workDir/x$factor")
    if (!Files.exists(scaled.resolve("_DONE"))) {
      val s = graft.Sessions.local("graft-scaling-probe")
      generate(s, sfDir, scaled.toString, factor)
      s.stop()
    }

    graft.HostCanary.sec(); graft.HostCanary.parSec() // JIT-warm

    val rows = for (q <- queries; (tag, dir) <- Seq(
        "x1" -> sfDir, s"x$factor" -> scaled.toString)) yield {
      val spark = graft.Sessions.local("graft-scaling-probe")
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.queries.Catalog.byName(q).fn(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try run() // warmup (codegen + JIT + any memoized per-(session,dir) fits)
      catch { case e: Throwable => System.err.println(s"[scale] warmup $q: $e") }
      spark.catalog.clearCache()
      System.gc()
      val c  = graft.HostCanary.sec()
      val pc = graft.HostCanary.parSec()
      // a failing (query, scale) cell records a -1 sentinel instead of
      // aborting the probe — the remaining measurements of a long box-hour
      // run are the point; growth ratios skip sentinel cells below
      val t = try math.min(run(), run())
        catch { case e: Throwable =>
          System.err.println(s"[scale] timed $q@$tag FAILED: $e"); -1.0 }
      spark.stop()
      val line = f"""{"metric":"scale","name":"$q","scale":"$tag","value":$t%.2f,"unit":"sec","canary":$c%.3f,"par_canary":$pc%.3f,"loadavg":${graft.HostCanary.loadAvg()}%.1f}"""
      println(line)
      System.out.flush()
      graft.BenchOut.appendLine("scaling-last", line)
      (q, tag, t)
    }

    val byQ = rows.groupBy(_._1)
    val growth = queries.flatMap { q =>
      for {
        cells <- byQ.get(q)
        t1 <- cells.find(r => r._2 == "x1" && r._3 >= 0).map(_._3)
        tf <- cells.find(r => r._2 == s"x$factor" && r._3 >= 0).map(_._3)
      } yield f""""$q":{"t1":$t1%.2f,"tf":$tf%.2f,"growth":${tf / t1}%.2f}"""
    }
    val summary =
      s"""{"metric":"scaling","factor":$factor,"queries":${growth.mkString("{", ",", "}")}}"""
    println(summary)
    System.out.flush()
    graft.BenchOut.writeSummary("scaling-last", summary)
  }

  private def generate(spark: SparkSession, sfDir: String, out: String,
      factor: Int): Unit = {
    val copies = spark.range(factor).toDF("copy")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy") * docStride).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          (x, p) => when(p % 3 === 2,
            concat(lit("xc"), col("copy"))).otherwise(x)), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(copies)
      .select(
        (col("vec_id") + col("copy") * vecStride).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(col("copy") === 0, x).otherwise(
            (x + (pmod(xxhash64(col("copy"), col("vec_id"), i), lit(2001L))
              - lit(1000L)) / lit(1000.0)).cast("float"))).as("embedding"),
        col("label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val okStride = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val pkStride = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
    val rest = li.columns.filterNot(c => c == "l_orderkey" || c == "l_partkey")
    li.crossJoin(copies)
      .select((col("l_orderkey") + col("copy") * okStride).as("l_orderkey") +:
        (col("l_partkey") + col("copy") * pkStride).as("l_partkey") +:
        rest.map(col): _*)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")

    Files.write(Paths.get(out).resolve("_DONE"), Array.emptyByteArray)
  }
}
