package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.MinHash

/** The LSH bucket-size cap (`MinHash.capBuckets`), spec'd on a corpus with
  * a PLANTED hot bucket: a block of identical boilerplate documents large
  * enough that, uncapped, the band self-join would expand quadratically on
  * their shared keys. The contract under test:
  *
  *  1. the job completes with BOUNDED candidates — no in-bucket expansion
  *     ever exceeds cap² (asserted by counting the raw candidate pairs);
  *  2. recall on the NON-degenerate pairs is unchanged — every genuine
  *     near-dup pair outside the hot bucket is still found, because
  *     capping removes whole keys and those pairs still collide on their
  *     other bands;
  *  3. the dropped pairs are exactly the ones exact-dedup already owns
  *     (identical text ⇒ identical md5 ⇒ one q31 content group).
  */
class LshBucketCapSpec extends SparkSpec {
  import spark.implicits._

  private val boiler =
    "this document is auto generated boilerplate text repeated verbatim " +
      "across the whole mirror of the site with no variation at all"

  /** 120 identical boilerplate docs (the hot bucket: one signature, so all
    * 32 bh keys hold 120 rows each) + two genuine near-dup pairs
    * + unrelated singletons. */
  private lazy val docs = {
    val hot = (0L until 120L).map(i => (i, boiler))
    val nearDups = Seq(
      (200L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (201L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (202L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (203L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"))
    val singles = Seq(
      (300L, "completely unrelated content about databases and query planning"),
      (301L, "another standalone document covering distributed shuffle strategy"))
    (hot ++ nearDups ++ singles).toDF("doc_id", "text")
  }

  test("capBuckets drops exactly the oversized keys, keeps the rest") {
    val buckets = MinHash.bandHashKeys(docs, "text", Seq("doc_id"))
    val capped  = MinHash.capBuckets(buckets, Seq("bh"), cap = 50)
    // Every one of the hot block's 32 keys holds 120 > 50 rows -> all
    // dropped; every other doc's keys hold <= a handful of rows -> kept.
    val survivors = capped.select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(!survivors.exists(_ < 120L),
      "hot-bucket members must lose all their (shared) keys")
    assert(Set(200L, 201L, 202L, 203L, 300L, 301L).subsetOf(survivors))
    // No surviving bucket exceeds the cap.
    val maxBucket = capped.groupBy("bh").count()
      .agg(max("count")).as[Long].head()
    assert(maxBucket <= 50)
  }

  test("cap is a no-op when no bucket is oversized") {
    val quiet = docs.filter(col("doc_id") >= 200L)
    val buckets = MinHash.bandHashKeys(quiet, "text", Seq("doc_id"))
    assert(MinHash.capBuckets(buckets, Seq("bh"), cap = 50)
      .count() === buckets.count())
  }

  test("planted hot bucket: job completes bounded, non-degenerate recall unchanged") {
    val cap = 50
    val capped = DedupQueries.lshVerifiedPairs(docs, 0.7, bucketCap = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (2) recall on non-degenerate pairs: both genuine near-dup pairs
    // survive — their keys were never oversized.
    assert(capped.contains((200L, 201L)) && capped.contains((202L, 203L)))
    // (1) bounded: the hot block's 120*119/2 = 7140 identical pairs are
    // gone; what remains is the genuine near-dup set. Compare against the
    // UNCAPPED run restricted to non-hot ids — identical.
    val uncapped = DedupQueries.lshVerifiedPairs(docs, 0.7, bucketCap = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count { case (a, b) => a < 120L && b < 120L } === 7140)
    assert(capped === uncapped.filterNot { case (a, b) => a < 120L && b < 120L })
    // (3) the dropped pairs are exact duplicates: every dropped pair's two
    // sides carry the same md5 digest — exact dedup (q31) owns them.
    val digests = docs.select(col("doc_id"), md5(col("text")).as("d"))
      .as[(Long, String)].collect().toMap
    val dropped = uncapped -- capped
    assert(dropped.nonEmpty &&
      dropped.forall { case (a, b) => digests(a) == digests(b) })
  }

  test("bucketPairs == capped self-join on synthetic buckets") {
    // The in-row pair expansion (collect_list + slice/transform) must
    // produce exactly the pairs the join formulation produced: every
    // unordered pair of distinct ids sharing a key, id_a < id_b, from
    // buckets at or under the cap only.
    val rows = for {
      (band, bh, n) <- Seq((0, 10L, 3), (0, 11L, 5), (1, 10L, 1), (2, 12L, 7))
      i <- 0 until n
    } yield (band, bh, (bh * 100 + i * 7 % n).toLong + i) // unique ids per bucket
    val buckets = rows.toDF("band", "bh", "doc_id")
    val cap = 5 // drops the 7-row bucket
    val grouped = MinHash.bucketPairs(buckets, Seq("band", "bh"), "doc_id", cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted
    val capped = MinHash.capBuckets(buckets, Seq("band", "bh"), cap)
    val joined = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .as[(Long, Long)].collect().sorted
    assert(grouped.nonEmpty && grouped.sameElements(joined))
  }

  test("bucketPairs drops NULL-keyed rows (join semantics)") {
    // The equality self-join this operator replaced emits NOTHING for a
    // NULL key; groupBy would collect all NULL-keyed rows into one group
    // and pair them. bucketPairs must match the join.
    val buckets = Seq(
      (0, Option(10L), 1L), (0, Option(10L), 2L),
      (0, Option.empty[Long], 3L), (0, Option.empty[Long], 4L),
      (1, Option.empty[Long], 5L))
      .toDF("band", "bh", "doc_id")
    val pairs = MinHash.bucketPairs(buckets, Seq("band", "bh"), "doc_id", 5)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("bucketPairs == capped self-join on randomized bucket tables") {
    // Property-style sweep with a fixed seed: random bucket populations
    // (including empty buckets' absence, singletons, exactly-at-cap and
    // just-over-cap sizes, ids shared across buckets so the downstream
    // distinct() contract matters) must agree with the join formulation
    // pair-for-pair after distinct.
    val rnd = new scala.util.Random(20260814L)
    (1 to 3).foreach { round =>
      val rows = for {
        key <- 0 until 12
        n = rnd.nextInt(9) // 0..8 rows per bucket
        id <- rnd.shuffle((0 until 30).toList).take(n)
      } yield (key % 4, (key / 4).toLong, id.toLong)
      val buckets = rows.toDF("band", "bh", "doc_id")
      val cap = 6
      val grouped = MinHash.bucketPairs(buckets, Seq("band", "bh"), "doc_id", cap)
        .distinct().as[(Long, Long)].collect().toSet
      val capped = MinHash.capBuckets(buckets, Seq("band", "bh"), cap)
      val joined = capped.as("a").join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(grouped === joined, s"round $round: grouped != joined")
    }
  }

  test("capBuckets is plan-pure: constructing q32/q38 frames launches zero jobs") {
    // Round-8 shape ran a key-count job + localCheckpoint at CONSTRUCTION
    // time, so explain() and catalog plan sweeps (BenchPlanSpec) launched
    // Spark jobs. The plan-pure shape (always left_anti against the
    // observed hot frame, lazy checkpoints) must not: full physical
    // planning of both LSH pair generators — the frames capBuckets
    // participates in — runs no job.
    // (q36 = this + connected components, q95 = this + an index WRITE;
    // those run jobs by design of their iterative/materializing stages.)
    // Scoped by JOB GROUP, not a raw job counter: job groups are
    // thread-local, so any job launched by THIS thread's construction
    // lands in the group, while async listener-bus stragglers from
    // earlier tests (which would flake a global counter) belong to other
    // groups and are invisible to the assertion.
    val group = "lsh-plan-purity"
    spark.sparkContext.setJobGroup(group, "plan-purity assertion")
    try {
      DedupQueries.lshVerifiedPairs(docs, 0.7, bucketCap = 50)
        .queryExecution.executedPlan
      val base = Array.tabulate(64)(i => 1.0 / (i + 1))
      val e = Seq((0L, base), (1L, base)).toDF("vec_id", "v")
      DedupQueries.cosineBucketedPairs(e, 0.9, bucketCap = 40)
        .queryExecution.executedPlan
      // Status-store updates are async: a fixed sleep can false-PASS if a
      // construction-launched job lands late. Poll the group's job list
      // for a full deadline window, failing the moment anything appears —
      // a late-landing job now has 3 s to show up instead of 1.
      val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline) {
        val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
        assert(jobs.isEmpty,
          s"construction launched ${jobs.length} job(s); must be plan-pure")
        Thread.sleep(100)
      }
    } finally spark.sparkContext.clearJobGroup()
  }

  test("dropped-bucket count surfaces as an observed metric at action time") {
    @volatile var seen = Option.empty[(Long, Long)]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.lsh.cap.") && row.getLong(0) > 0L)
            seen = Some((row.getLong(0), row.getLong(1)))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val buckets = MinHash.bandHashKeys(docs, "text", Seq("doc_id"))
      MinHash.capBuckets(buckets, Seq("bh"), cap = 50)
        .write.format("noop").mode("overwrite").save()
      // execution-listener dispatch is async — poll
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      // the 120-doc hot block shares one signature -> all 32 bh keys
      // oversized, 120 rows each
      assert(seen.contains((32L, 32L * 120L)),
        s"expected observed metric (32, 3840), got $seen")
    } finally spark.listenerManager.unregister(l)
  }

  test("cosine bucket cap: hot embedding bucket dropped, distinct pairs kept") {
    // 80 identical 64-dim vectors (one direction, so every LSH table puts
    // them all in one bucket) plus a genuinely-similar DISTINCT-direction
    // pair whose buckets are their own.
    val base = Array.tabulate(64)(i => 1.0 / (i + 1))
    val alt  = Array.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)
    val near = alt.clone(); near(63) = -0.8 // cosine(alt, near) ~ 0.9996
    val vecs = (0L until 80L).map(i => (i, base)) ++
      Seq((100L, alt), (101L, near))
    val e = vecs.toDF("vec_id", "v")
    val capped = DedupQueries.cosineBucketedPairs(e, 0.9, bucketCap = 40)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists { case (a, b) => a < 80L && b < 80L },
      "hot-bucket pairs must be dropped")
    assert(capped.contains((100L, 101L)),
      "pair outside the hot bucket must keep its collisions")
  }
}
