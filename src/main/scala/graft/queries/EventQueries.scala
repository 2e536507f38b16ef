package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream analytics over `events` (batch plans; the Structured
  * Streaming variants of the windowed aggregations live in
  * `graft.streaming` and are exercised by scalatest, since the driver's
  * DuckDB gate is batch-only).
  *
  * Scale posture: time-bucketed aggregations shuffle on (bucket, type) with
  * partial aggregation; sessionization is one shuffle on user_id with
  * window functions inside the partition — the standard scalable shape.
  */
object EventQueries {

  /** Co-purchase pair graph shared by the graph-analytics family
    * (q178 triangles, q188 PageRank, q204 power-law, q205 assortativity):
    * undirected support-thresholded edges (u < v) from parts appearing on
    * the same order. The order-keyed item frame is materialized once so
    * the self-join's two sides share one scan+distinct. */
  private def copurchasePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val items = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .repartition(col("okey"))
      .localCheckpoint()
    items.as("a")
      .join(items.withColumnRenamed("part", "part_b").as("b"), "okey")
      .filter(col("part") < col("part_b"))
      .groupBy(col("part"), col("part_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2)
      .select(col("part").as("u"), col("part_b").as("v"))
  }

  /** Row-normalized event-type transition matrix (restricted to states
    * with outgoing edges) and its stationary distribution after 8 power-
    * iteration steps — shared by q197 (the distribution itself) and q208
    * (the chain's entropy rate). Matrix is types²-sized and checkpointed;
    * iterations are metadata-scale. */
  private def markovChain(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("next", lead(col("cur"), 1).over(w))
      .filter(col("next").isNotNull)
      .groupBy(col("cur"), col("next")).agg(count(lit(1)).as("n"))
    val states = counts.select(col("cur")).distinct()
    val trans = counts
      .join(states.select(col("cur").as("next")), "next")
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy(col("cur"))))
      .select(col("cur"), col("next"), (col("n") / col("tot")).as("p"))
      .localCheckpoint()
    val k = states.count().toDouble // number of types: a tiny scalar
    var pi = trans.select(col("cur").as("st")).distinct()
      .withColumn("pi", lit(1.0 / k))
    for (_ <- 1 to 8) {
      pi = trans.join(pi, trans("cur") === pi("st"))
        .groupBy(col("next"))
        .agg(sum(col("p") * col("pi")).as("pi"))
        .select(col("next").as("st"), col("pi"))
    }
    (trans, pi)
  }

  val queries: Seq[Q] = Seq(

    // --- hourly tumbling counts (batch twin of the streaming window agg) ---
    Q("q60_hourly_counts",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("h"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
             |round(sum(value),2) AS sum_value
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
      bench = true),

    // --- 6-hour tumbling buckets via Spark's window() expression (start
    //     timestamp only, for oracle parity with epoch bucketing) ---
    Q("q61_window_6h",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("bucket"), col("event_type"), col("n"))
          .orderBy(col("bucket"), col("event_type"))
      },
      // epoch_us + integer floor division: epoch(ts)::BIGINT ROUNDS
      // half-even in DuckDB, which mis-buckets events within 0.5 s below
      // a window boundary (surfaced by the sf0.1 oracle sweep — two
      // cells off; sf0.01 never sampled the hazard window)
      Some("""SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS bucket,
             |event_type, count(*) AS n
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- sessionization: 30-min inactivity gap, one shuffle on user_id ---
    Q("q62_sessionize",
      (s, dir) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val withGap = Tables(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
              .otherwise(0))
          .withColumn("session_id",
            sum(col("new_session")).over(
              byUser.rowsBetween(Long.MinValue, 0)))
        withGap
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            round(avg(col("n_events")), 4).as("avg_events_per_session"))
          .orderBy(col("user_id"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
             |    THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM g),
             |per_sess AS (
             |  SELECT user_id, session_id, count(*) AS n_events
             |  FROM sess GROUP BY 1,2)
             |SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
             |       round(avg(n_events),4) AS avg_events_per_session
             |FROM per_sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- semi-structured JSON extraction from the props column ---
    Q("q63_json_extract",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(avg(col("k")), 4).as("avg_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |round(avg(CAST(json_extract(props,'$.k') AS BIGINT)),4) AS avg_k,
             |max(CAST(json_extract(props,'$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- pivot: daily counts, one column per event type ---
    Q("q64_pivot_daily",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0)
          .orderBy(col("day"))
      },
      Some("""SELECT date_trunc('day', ts) AS day,
             |count(*) FILTER (event_type='click') AS click,
             |count(*) FILTER (event_type='view') AS view,
             |count(*) FILTER (event_type='purchase') AS purchase,
             |count(*) FILTER (event_type='signup') AS signup,
             |count(*) FILTER (event_type='error') AS error
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- as-of join (an operator the reference lacks, SURVEY §2.3
    //     absent-note): each purchase matched to the user's most recent
    //     strictly-prior click. Composed from a running max over a
    //     user-partitioned window — one shuffle on user_id, no range-join
    //     blowup; the standard Spark shape for temporal as-of matching. ---
    Q("q65_asof_join",
      (s, dir) => {
        val w = Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir, "events")
          .withColumn("last_click_ts",
            max(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"), col("last_click_ts"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, ts, last_click_ts FROM (
             |  SELECT user_id, event_id, ts, event_type,
             |    max(CASE WHEN event_type='click' THEN ts END) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS last_click_ts
             |  FROM events)
             |WHERE event_type = 'purchase'
             |ORDER BY user_id, event_id""".stripMargin)),

    // --- salted two-phase aggregation: event_type has only 5 values, so a
    //     direct groupBy funnels the final agg through 5 reducers. Salting
    //     with a deterministic 32-way key spreads phase one across the
    //     cluster; phase two combines 5x32 partials — the standard
    //     skewed-key aggregation shape. Oracle is the plain aggregate. ---
    Q("q66_salted_agg",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("salt", pmod(xxhash64(col("event_id")), lit(32)))
          .groupBy(col("event_type"), col("salt"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), round(sum(col("sv")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- conversion funnel: users who clicked, and users who purchased
    //     AFTER their first click (event-order-sensitive per-user agg —
    //     one shuffle on user_id) ---
    Q("q67_funnel",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "click", col("ts"))).as("first_click"),
            max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
          .agg(
            count(col("first_click")).as("n_clicked"),
            count(when(col("last_purchase") > col("first_click"), 1))
              .as("n_converted"))
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type='click' THEN ts END) AS first_click,
             |    max(CASE WHEN event_type='purchase' THEN ts END) AS last_purchase
             |  FROM events GROUP BY 1)
             |SELECT count(first_click) AS n_clicked,
             |       count(CASE WHEN last_purchase > first_click THEN 1 END)
             |         AS n_converted
             |FROM u""".stripMargin)),

    // --- two-proportion z-test on the q67 funnel: does weekend-entering
    //     cohort conversion differ from weekday significantly, or is the
    //     gap noise? Pooled z = (p1 − p2)/√(p̂(1−p̂)(1/n1 + 1/n2)) — the
    //     inference layer the funnel family (q67/q148/q161) reports
    //     without. One user-level aggregate, then a single conditional-
    //     aggregation row; all arithmetic stated identically by the
    //     oracle (DuckDB dayofweek 0-based, aligned by +1). ---
    Q("q209_funnel_ztest",
      (s, dir) => {
        // conversion = first purchase within 12 h of the first click
        // (the bounded window keeps the rate inside (0, 1) — with the
        // unbounded q67 definition every clicker eventually purchases in
        // this data, and a pooled p-hat of 1 makes the z denominator 0)
        val u = Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "click", col("ts")))
              .as("first_click"),
            min(when(col("event_type") === "purchase", col("ts")))
              .as("first_purchase"))
          .filter(col("first_click").isNotNull)
          .select(
            dayofweek(col("first_click")).isin(1, 7).as("weekend"),
            when(col("first_purchase") > col("first_click")
                && col("first_purchase") <=
                  col("first_click") + expr("INTERVAL 12 HOURS"), 1L)
              .otherwise(0L).as("conv"))
        u.agg(
            sum(when(!col("weekend"), 1L).otherwise(0L)).as("n_wd"),
            sum(when(!col("weekend"), col("conv")).otherwise(0L)).as("k_wd"),
            sum(when(col("weekend"), 1L).otherwise(0L)).as("n_we"),
            sum(when(col("weekend"), col("conv")).otherwise(0L)).as("k_we"))
          .select(col("n_wd"), col("k_wd"), col("n_we"), col("k_we"),
            round(col("k_wd") / col("n_wd").cast("double"), 6).as("p_wd"),
            round(col("k_we") / col("n_we").cast("double"), 6).as("p_we"),
            round(
              (col("k_wd") / col("n_wd").cast("double")
                - col("k_we") / col("n_we").cast("double"))
              / sqrt(((col("k_wd") + col("k_we"))
                  / (col("n_wd") + col("n_we")).cast("double"))
                * (lit(1.0) - (col("k_wd") + col("k_we"))
                  / (col("n_wd") + col("n_we")).cast("double"))
                * (lit(1.0) / col("n_wd") + lit(1.0) / col("n_we"))), 4)
              .as("z"))
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type='click' THEN ts END) AS first_click,
             |    min(CASE WHEN event_type='purchase' THEN ts END) AS first_purchase
             |  FROM events GROUP BY 1),
             |c AS (SELECT
             |        (dayofweek(first_click) + 1) IN (1, 7) AS weekend,
             |        CASE WHEN first_purchase > first_click
             |              AND first_purchase <= first_click + INTERVAL 12 HOUR
             |             THEN 1 ELSE 0 END AS conv
             |      FROM u WHERE first_click IS NOT NULL),
             |g AS (SELECT
             |        sum(CASE WHEN NOT weekend THEN 1 ELSE 0 END)::BIGINT AS n_wd,
             |        sum(CASE WHEN NOT weekend THEN conv ELSE 0 END)::BIGINT AS k_wd,
             |        sum(CASE WHEN weekend THEN 1 ELSE 0 END)::BIGINT AS n_we,
             |        sum(CASE WHEN weekend THEN conv ELSE 0 END)::BIGINT AS k_we
             |      FROM c)
             |SELECT n_wd, k_wd, n_we, k_we,
             |  round(k_wd / n_wd::DOUBLE, 6) AS p_wd,
             |  round(k_we / n_we::DOUBLE, 6) AS p_we,
             |  round((k_wd / n_wd::DOUBLE - k_we / n_we::DOUBLE)
             |    / sqrt(((k_wd + k_we) / (n_wd + n_we)::DOUBLE)
             |      * (1.0 - (k_wd + k_we) / (n_wd + n_we)::DOUBLE)
             |      * (1.0 / n_wd + 1.0 / n_we)), 4) AS z
             |FROM g""".stripMargin)),

    // --- interval-join attribution: every purchase paired with the same
    //     user's views in the preceding 30 min (batch twin of the
    //     stream-stream EventStreams.intervalJoin — identical semantics,
    //     this one DuckDB-oracled). Scale shape: equi-join on user_id with
    //     the time predicate as a post-join filter — one shuffle per side,
    //     per-user fan-in bounded by the lag window; a pathological
    //     single-user skew is AQE-split. ---
    Q("q68_attribution",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("v_ts"),
            col("event_id").as("view_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
        purch.join(views, Seq("user_id"))
          .filter(col("p_ts") > col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 1800 SECONDS"))
          .groupBy(col("user_id"), col("purchase_id"))
          .agg(count(lit(1)).as("n_views"), min(col("view_id")).as("first_view_id"))
          .orderBy(col("user_id"), col("purchase_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |       count(*) AS n_views, min(v.event_id) AS first_view_id
             |FROM events p JOIN events v ON p.user_id = v.user_id
             |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
             |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1800 SECONDS
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- lag/lead inter-event gaps (the §2.5 offset-window pair not yet
    //     demonstrated elsewhere): per user, the seconds since the previous
    //     and until the next event. One shuffle on user_id; bounded output
    //     via the user_id < 50 slice. ---
    Q("q69_lag_lead",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .filter(col("user_id") < 50)
          .withColumn("prev_gap_s",
            col("ts").cast("long") - lag(col("ts"), 1).over(byUser).cast("long"))
          .withColumn("next_gap_s",
            lead(col("ts"), 1).over(byUser).cast("long") - col("ts").cast("long"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("prev_gap_s"), col("next_gap_s"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, event_type,
             |  (epoch_us(ts) // 1000000) - (epoch_us(lag(ts, 1) OVER w) // 1000000)
             |    AS prev_gap_s,
             |  (epoch_us(lead(ts, 1) OVER w) // 1000000) - (epoch_us(ts) // 1000000)
             |    AS next_gap_s
             |FROM events WHERE user_id < 50
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // --- CDC-style upsert / keep-latest merge: treat the first half of the
    //     event log as the snapshot and the second half as a late-arriving
    //     delta; merge to one row per user carrying the latest state. The
    //     standard warehouse MERGE expressed as union + row_number over
    //     (key ORDER BY ts DESC) — one shuffle on the key, no driver
    //     state, works identically on a 100 TB snapshot + any delta. ---
    Q("q74_upsert_latest",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val mid = 5000L
        val snapshot = ev.filter(col("event_id") < mid)
        val delta    = ev.filter(col("event_id") >= mid)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        snapshot.unionByName(delta)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("latest_event_id"),
            col("ts").as("latest_ts"), col("event_type").as("latest_type"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id AS latest_event_id, ts AS latest_ts,
             |       event_type AS latest_type
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // --- Z-order clustering key (the codegen'd ZOrderKey kernel,
    //     hash-gated against a bit-by-bit DuckDB reconstruction): the
    //     multi-dim layout key — sort/range-partition by it before
    //     writing and range predicates on ANY interleaved dimension
    //     touch a bounded subset of files (ZOrderSpec measures the
    //     file-pruning effect against a linear sort). ---
    Q("q80_zorder_key",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("event_id"),
            graft.functions.zorder_key(
              col("user_id") % 1024, col("event_id") % 1024).as("zkey"))
          .orderBy(col("event_id"))
      },
      Some {
        val zBits = (0 until 10).map(b =>
          s"(((x >> $b) & 1) << ${2 * b}) | (((y >> $b) & 1) << ${2 * b + 1})")
          .mkString(" | ")
        s"""WITH d AS (SELECT event_id, user_id % 1024 AS x,
           |                  event_id % 1024 AS y FROM events)
           |SELECT event_id, ($zBits)::BIGINT AS zkey
           |FROM d ORDER BY event_id""".stripMargin
      }),

    // --- z-order box query (q80's consumer): a 2-D box predicate served
    //     as ONE 1-D key range plus a residual filter — the access pattern
    //     a z-clustered table turns into file/row-group skipping. The
    //     range [z(lo corner), z(hi corner)] is a correct cover because
    //     bit interleaving is monotone in each coordinate; the query
    //     reports how much of the table the cover admits (frac_scanned)
    //     vs the true box hits — the measurable skipping win, exact on
    //     both engines. ---
    Q("q114_zorder_box",
      (s, dir) => {
        val (xlo, xhi, ylo, yhi) = (100L, 300L, 200L, 400L)
        val zlo = graft.functions.ZOrderKernel.interleave(Array(xlo, ylo))
        val zhi = graft.functions.ZOrderKernel.interleave(Array(xhi, yhi))
        Tables(s, dir, "events")
          .select((col("user_id") % 1024).as("x"),
            (col("event_id") % 1024).as("y"))
          .select(col("x"), col("y"),
            graft.functions.zorder_key(col("x"), col("y")).as("z"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("z").between(zlo, zhi), 1L).otherwise(0L))
              .as("n_zrange"),
            sum(when(col("x").between(xlo, xhi)
              && col("y").between(ylo, yhi), 1L).otherwise(0L)).as("n_box"),
            round(sum(when(col("z").between(zlo, zhi), 1L).otherwise(0L))
              / count(lit(1)).cast("double"), 4).as("frac_scanned"))
      },
      Some {
        val zBits = (0 until 10).map(b =>
          s"(((x >> $b) & 1) << ${2 * b}) | (((y >> $b) & 1) << ${2 * b + 1})")
          .mkString(" | ")
        val zlo = graft.functions.ZOrderKernel.interleave(Array(100L, 200L))
        val zhi = graft.functions.ZOrderKernel.interleave(Array(300L, 400L))
        s"""WITH d AS (SELECT user_id % 1024 AS x, event_id % 1024 AS y
           |           FROM events),
           |z AS (SELECT x, y, ($zBits)::BIGINT AS z FROM d)
           |SELECT count(*) AS n_total,
           |  sum(CASE WHEN z BETWEEN $zlo AND $zhi THEN 1 ELSE 0 END)::BIGINT
           |    AS n_zrange,
           |  sum(CASE WHEN x BETWEEN 100 AND 300 AND y BETWEEN 200 AND 400
           |      THEN 1 ELSE 0 END)::BIGINT AS n_box,
           |  round(sum(CASE WHEN z BETWEEN $zlo AND $zhi THEN 1 ELSE 0 END)
           |    / count(*)::DOUBLE, 4) AS frac_scanned
           |FROM z""".stripMargin
      }),

    // --- join-key skew profile: the diagnostic a pipeline runs BEFORE
    //     choosing salting/AQE-skew-join for a key (§2.6 posture). One
    //     groupBy on the key, then constant-size aggregates: skew factor
    //     (max key count / mean key count) and the share of rows held by
    //     the 10 hottest keys. The per-key frame is keys-sized, the
    //     ranking window runs on that reduced frame, and the output is
    //     one row regardless of input scale. ---
    Q("q85_join_skew_profile",
      (s, dir) => {
        val byKey = Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        // the per-key frame grows with the data (users ∝ corpus), so the
        // hot-key rank is a two-pass exact row_number (GlobalRank), not a
        // single-partition window
        graft.operators.GlobalRank.withRowNumber(
            byKey, Seq(col("c").desc, col("user_id")), "rn")._1
          .agg(count(lit(1)).as("n_keys"),
            sum(col("c")).as("n_rows"),
            max(col("c")).as("max_key_rows"),
            round(max(col("c")) * count(lit(1)) / sum(col("c")).cast("double"), 4)
              .as("skew_factor"),
            round(sum(when(col("rn") <= 10, col("c")).otherwise(0L))
              / sum(col("c")).cast("double"), 4).as("top10_share"))
      },
      Some("""WITH k AS (SELECT user_id, count(*) AS c FROM events
             |           GROUP BY user_id),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, user_id)
             |        AS rn FROM k)
             |SELECT count(*) AS n_keys, sum(c)::BIGINT AS n_rows,
             |  max(c)::BIGINT AS max_key_rows,
             |  round(max(c) * count(*) / sum(c)::DOUBLE, 4) AS skew_factor,
             |  round(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END)
             |    / sum(c)::DOUBLE, 4) AS top10_share
             |FROM r""".stripMargin)),

    // --- sparse->dense time-series gap-fill: the hourly grid is generated
    //     (sequence over the corpus' [min,max] hour x distinct types — both
    //     dimension frames are tiny and scale-independent), counts zero-fill,
    //     and the per-type mean is carried forward (LOCF) over the filled
    //     grid. The one big-side shuffle is the hourly pre-aggregation; its
    //     output is grid-sized, so the left join and the LOCF window both
    //     run on hours x types rows regardless of event volume. ---
    Q("q100_gapfill_locf",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val hourly = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          // sum, not avg: the 2-decimal values make per-group means land
          // exactly on .xx5 half-way points (614 groups at sf0.01), where
          // Spark (HALF_UP) and DuckDB disagree; 2-decimal sums are exact
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        val hours = bounds.select(
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
        val types = ev.select(col("event_type")).distinct()
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hours.crossJoin(broadcast(types))
          .join(hourly, Seq("h", "event_type"), "left")
          .select(col("h"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0.0))
              .as("v_locf"))
          .orderBy(col("h"), col("event_type"))
      },
      Some("""WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type,
             |                  count(*) AS n, round(sum(value),2) AS v
             |           FROM events GROUP BY 1,2),
             |b AS (SELECT date_trunc('hour', min(ts)) AS lo,
             |             date_trunc('hour', max(ts)) AS hi FROM events),
             |hours AS (SELECT unnest(generate_series(lo, hi,
             |                 INTERVAL 1 HOUR)) AS h FROM b),
             |ty AS (SELECT DISTINCT event_type FROM events),
             |g AS (SELECT h, event_type, n, v
             |      FROM hours CROSS JOIN ty LEFT JOIN e USING (h, event_type))
             |SELECT h, event_type, coalesce(n, 0)::BIGINT AS n,
             |       coalesce(last_value(v IGNORE NULLS) OVER (
             |         PARTITION BY event_type ORDER BY h
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |         0.0) AS v_locf
             |FROM g ORDER BY h, event_type""".stripMargin)),

    // --- SCD-2 interval construction from an append-only change log: each
    //     event becomes a dimension version valid [ts, next ts) for its
    //     user, closed by lead() over (user, ts, event_id) — the standard
    //     warehouse pattern for as-of dimension joins. One shuffle (the
    //     user_id window partition); ties on ts are broken by event_id so
    //     the intervals are deterministic on both engines. user_id < 200
    //     bounds the gate's output; the plan is key-partitioned and holds
    //     at any user count. ---
    Q("q101_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("event_id"))
        Tables(s, dir, "events")
          .filter(col("user_id") < 200)
          .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
            round(col("value"), 2).as("v"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts AS valid_from,
             |                  round(value,2) AS v
             |           FROM events WHERE user_id < 200)
             |SELECT user_id, event_id, valid_from, v,
             |  lead(valid_from) OVER (PARTITION BY user_id
             |    ORDER BY valid_from, event_id) AS valid_to,
             |  (lead(valid_from) OVER (PARTITION BY user_id
             |    ORDER BY valid_from, event_id) IS NULL) AS is_current
             |FROM e ORDER BY user_id, valid_from, event_id""".stripMargin)),

    // --- cohort retention triangle: users grouped by first-activity week,
    //     activity counted at week offsets — the standard product-analytics
    //     matrix. Two user-keyed aggs (first week, then the distinct-user
    //     rollup on (cohort, offset)); the join back to activity is on
    //     user_id, so every shuffle is key-partitioned and the output is
    //     weeks², independent of event volume. Integer week arithmetic on
    //     both engines (floor division, week-truncated stamps). ---
    Q("q110_cohort_retention",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
        e.join(first, "user_id")
          .groupBy(col("cohort"),
            floor(datediff(col("wk"), col("cohort")) / 7).cast("int")
              .as("offset_wk"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort"), col("offset_wk"))
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk
             |           FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
             |SELECT cohort,
             |       (date_diff('day', cohort, wk) // 7)::INT AS offset_wk,
             |       count(DISTINCT user_id) AS n_users
             |FROM e JOIN f USING (user_id)
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // --- zone-map data skipping: the lakehouse min/max file-pruning
    //     pattern (Delta/Iceberg stats, Moerkotte's small materialized
    //     aggregates) done with plain parquet. A time-clustered copy of
    //     events is written as 8 range-partitioned files; a per-file
    //     (min ts, max ts) zone map — driver metadata, files-sized, the
    //     thing a table format stores at write time — prunes the file list
    //     BEFORE the scan, so the range query reads only overlapping
    //     files (the predicate still reaches the row groups of the
    //     survivors via normal pushdown). At 100 TB this is the difference
    //     between scanning a month and scanning four days; correctness is
    //     oracled against the UNPRUNED table, and ZoneMapSpec pins that
    //     the plan actually read fewer files than it wrote. ---
    Q("q133_zonemap_prune",
      (s, dir) => {
        val (lo, hi) = (lit("2024-01-10").cast("timestamp"),
          lit("2024-01-14").cast("timestamp"))
        val files = zoneMapSurvivors(s, dir, lo, hi)
        s.read.parquet(files: _*)
          .filter(col("ts") >= lo && col("ts") < hi)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |       round(sum(value), 2) AS sum_value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10'
             |  AND ts <  TIMESTAMP '2024-01-14'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- native session windows: Spark's session_window() merge-on-overlap
    //     operator (the engine-level twin of q62's hand-rolled lag/cumsum
    //     sessionization — same 30-min gap, but expressed as a first-class
    //     grouping window, the form that also runs under Structured
    //     Streaming with state merge). Each event opens [ts, ts+gap);
    //     overlapping windows fuse, so a session breaks exactly when the
    //     inter-event gap is ≥ 30 min — the oracle restates that boundary
    //     with the gap-marker cumsum. One shuffle on (user_id, window);
    //     the session merge is in-partition state, no second pass. ---
    Q("q141_session_window",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
          .select(col("user_id"),
            col("session_window.start").as("s_start"),
            (col("session_window.end") - expr("INTERVAL 30 MINUTES"))
              .as("s_last"),
            col("n_events"), col("sum_value"))
          .orderBy(col("user_id"), col("s_start"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
             |    THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM g)
             |SELECT user_id, min(ts) AS s_start, max(ts) AS s_last,
             |       count(*) AS n_events, round(sum(value),2) AS sum_value
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, s_start""".stripMargin),
      bench = true),

    // --- strict-order 3-step funnel (q67 generalized): click, then the
    //     first view AFTER that click, then the first purchase AFTER that
    //     view — order-sensitive per-user matching, the product-analytics
    //     shape windowless conversion counts get wrong (q67's min/max
    //     trick can't express ordered middle steps). Three user-keyed
    //     conditional aggregations, each over the events table joined to
    //     the prior step's per-user anchor timestamp — every shuffle is on
    //     user_id, intermediate frames are one row per qualifying user,
    //     and the final output is one row at any scale. ---
    Q("q148_strict_funnel",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val c = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val v = ev.filter(col("event_type") === "view")
          .join(c, "user_id").filter(col("ts") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(v, "user_id").filter(col("ts") > col("t_view"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
        c.join(v.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
          .join(p.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_click"),
            sum(coalesce(col("s2"), lit(0))).cast("long").as("n_click_view"),
            sum(coalesce(col("s3"), lit(0))).cast("long")
              .as("n_click_view_purchase"))
      },
      Some("""WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
             |           WHERE event_type = 'click' GROUP BY 1),
             |v AS (SELECT e.user_id, min(ts) AS t_view
             |      FROM events e JOIN c USING (user_id)
             |      WHERE e.event_type = 'view' AND e.ts > c.t_click
             |      GROUP BY 1),
             |p AS (SELECT e.user_id, min(ts) AS t_purchase
             |      FROM events e JOIN v USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
             |      GROUP BY 1)
             |SELECT count(*) AS n_click,
             |  sum(CASE WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             |    AS n_click_view,
             |  sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             |    AS n_click_view_purchase
             |FROM c LEFT JOIN v USING (user_id)
             |       LEFT JOIN p USING (user_id)""".stripMargin)),

    // --- burst detection over daily event volume: days where a type's
    //     count exceeds its own mean by 2 population-σ — the monitoring
    //     primitive for traffic anomalies / crawler loops / spam floods
    //     (the batch twin of what a streaming job alerts on). The daily
    //     pre-agg is the only corpus-scale shuffle (output days×types);
    //     per-type mean/σ are computed over that tiny frame and joined
    //     back broadcast. z-scores compare integer day counts against
    //     4-dp-rounded thresholds on both engines. ---
    Q("q149_burst_days",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val st = daily.groupBy(col("event_type"))
          .agg(avg(col("n")).as("mu"), stddev_pop(col("n")).as("sigma"))
        daily.join(broadcast(st), "event_type")
          .withColumn("z", round((col("n") - col("mu")) / col("sigma"), 4))
          .filter(col("z") >= 2.0)
          .select(col("event_type"), col("day"), col("n"), col("z"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1,2),
             |st AS (SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma
             |       FROM d GROUP BY 1)
             |SELECT event_type, day, n, round((n - mu) / sigma, 4) AS z
             |FROM d JOIN st USING (event_type)
             |WHERE round((n - mu) / sigma, 4) >= 2.0
             |ORDER BY event_type, day""".stripMargin)),

    // --- RANGE-frame window (the §2.5 frame type rows-frames can't
    //     express): per event, how many of the same user's events fall in
    //     the trailing hour — a VALUE-bounded frame over event time, so
    //     co-timed events are peers regardless of row order (rate limiting
    //     / velocity checks read exactly this). One shuffle on user_id;
    //     the frame is evaluated with a sliding pointer inside the sorted
    //     partition. user_id < 50 bounds the gate's output. ---
    Q("q150_range_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").cast("long"))
          .rangeBetween(-3599, 0)
        Tables(s, dir, "events")
          .filter(col("user_id") < 50)
          .withColumn("n_trailing_1h", count(lit(1)).over(w))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("n_trailing_1h"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, ts,
             |  count(*) OVER (PARTITION BY user_id
             |    ORDER BY (epoch_us(ts) // 1000000)
             |    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
             |    AS n_trailing_1h
             |FROM events WHERE user_id < 50
             |ORDER BY user_id, event_id""".stripMargin)),

    // --- engagement stickiness (DAU/WAU/MAU): average daily active users
    //     over the span, weekly/monthly actives, and the DAU/MAU ratio —
    //     the product-analytics headline the events table exists for.
    //     Every frame is a distinct-user aggregate keyed by a calendar
    //     bucket (partial agg collapses repeats map-side); outputs are
    //     day-/week-/one-row-sized regardless of event volume. ---
    Q("q153_stickiness",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
            date_trunc("week", col("ts")).as("week"))
          .localCheckpoint()
        val dau = ev.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        val wau = ev.groupBy(col("week"))
          .agg(countDistinct(col("user_id")).as("wau"))
        val tot = ev.agg(countDistinct(col("user_id")).as("total_users"),
          countDistinct(col("day")).as("n_days"))
        dau.agg(round(avg(col("dau")), 4).as("avg_dau"),
            max(col("dau")).as("max_dau"))
          .crossJoin(broadcast(wau.agg(round(avg(col("wau")), 4).as("avg_wau"))))
          .crossJoin(broadcast(tot))
          .select(col("avg_dau"), col("max_dau"), col("avg_wau"),
            col("total_users"), col("n_days"),
            round(col("avg_dau") / col("total_users"), 4).as("stickiness"))
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('day', ts) AS day,
             |                  date_trunc('week', ts) AS week FROM events),
             |d AS (SELECT day, count(DISTINCT user_id) AS dau FROM e
             |      GROUP BY 1),
             |w AS (SELECT week, count(DISTINCT user_id) AS wau FROM e
             |      GROUP BY 1),
             |t AS (SELECT count(DISTINCT user_id) AS total_users,
             |             count(DISTINCT day) AS n_days FROM e)
             |SELECT round(avg(dau), 4) AS avg_dau,
             |       max(dau) AS max_dau,
             |       (SELECT round(avg(wau), 4) FROM w) AS avg_wau,
             |       total_users, n_days,
             |       round(avg(dau) / total_users, 4) AS stickiness
             |FROM d CROSS JOIN t
             |GROUP BY total_users, n_days""".stripMargin)),

    // --- first-significant-digit (Benford) audit of the value column:
    //     the classic fabricated/synthetic-data screen — natural
    //     multiplicative data follows log10(1+1/d), uniform or injected
    //     data doesn't. Digit extraction is string-free integer/log
    //     arithmetic (floor(v / 10^floor(log10 v))); per-digit shares
    //     compare against the Benford expectation with the deviation per
    //     digit. One groupBy on 9 keys — partial agg makes the shuffle
    //     9×partitions rows at any scale. (The harness values are uniform
    //     on [0,100), so the EXPECTED verdict here is "not Benford" —
    //     the query is the audit, not a fit assertion.) ---
    Q("q156_benford",
      (s, dir) => {
        val v = Tables(s, dir, "events")
          .filter(col("value") > 0)
          .select(floor(col("value")
            / pow(lit(10.0), floor(log10(col("value")))))
            .cast("int").as("d"))
        val tot = Window.partitionBy()
        v.groupBy(col("d")).agg(count(lit(1)).as("n"))
          .withColumn("share",
            round(col("n") / sum(col("n")).over(tot).cast("double"), 4))
          .withColumn("benford",
            round(log10(lit(1.0) + lit(1.0) / col("d")), 4))
          .withColumn("deviation", round(col("share") - col("benford"), 4))
          .select(col("d"), col("n"), col("share"), col("benford"),
            col("deviation"))
          .orderBy(col("d"))
      },
      Some("""WITH v AS (SELECT floor(value
             |             / power(10, floor(log10(value))))::INT AS d
             |           FROM events WHERE value > 0),
             |c AS (SELECT d, count(*) AS n FROM v GROUP BY 1)
             |SELECT d, n,
             |  round(n / (sum(n) OVER ())::DOUBLE, 4) AS share,
             |  round(log10(1.0 + 1.0 / d), 4) AS benford,
             |  round(n / (sum(n) OVER ())::DOUBLE
             |    - log10(1.0 + 1.0 / d), 4) AS deviation
             |FROM c ORDER BY d""".stripMargin)),

    // --- engagement concentration (Gini coefficient): how unequally
    //     events distribute over users — the one-number skew summary that
    //     says whether per-user work needs salting (q66/q85's decision
    //     input) and whether "active users" metrics hide a whale economy.
    //     Exact Gini from the sorted per-user counts via the rank
    //     identity G = (2·Σᵢ i·cᵢ)/(n·Σc) − (n+1)/n — one groupBy to
    //     counts (the only corpus-scale shuffle), then rank + two sums on
    //     the users-sized frame; integer arithmetic until the final
    //     division. ---
    Q("q157_user_gini",
      (s, dir) => {
        val counts = Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        // users-sized frame: exact rank via the two-pass GlobalRank, not a
        // single-partition window (same integers feed the Gini identity)
        graft.operators.GlobalRank.withRowNumber(
            counts, Seq(col("c"), col("user_id")), "i")._1
          .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
            max(col("c")).as("max_events"),
            round(lit(2.0) * sum(col("i") * col("c"))
              / (count(lit(1)) * sum(col("c")).cast("double"))
              - (count(lit(1)) + 1) / count(lit(1)).cast("double"), 4)
              .as("gini"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS c FROM events
             |           GROUP BY 1),
             |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i
             |      FROM c)
             |SELECT count(*) AS n_users, sum(c)::BIGINT AS n_events,
             |  max(c)::BIGINT AS max_events,
             |  round(2.0 * sum(i * c) / (count(*) * sum(c)::DOUBLE)
             |    - (count(*) + 1) / count(*)::DOUBLE, 4) AS gini
             |FROM r""".stripMargin)),

    // --- the custom interval-stabbing JOIN operator (plans/RangeJoin —
    //     logical node + planner strategy + exec, injected via
    //     GraftExtensions): every event matched to the overlapping
    //     value-band intervals with NO equi key. Vanilla Spark plans this
    //     join shape as BroadcastNestedLoopJoin (O(points×intervals));
    //     the custom exec broadcasts the intervals sorted with a
    //     prefix-max index and binary-searches per row — O(log m + hits),
    //     point side never shuffles. Inclusive bounds; bands overlap
    //     (stride 2, length 3) so boundary and multi-match paths are
    //     exercised; RangeJoinSpec pins naive-join equivalence and that
    //     the plan really runs RangePointJoinExec. ---
    Q("q158_range_join",
      (s, dir) => {
        val intervals = s.range(64).select(col("id").as("bucket"),
          (col("id") * 2.0).as("lo"), (col("id") * 2.0 + 3.0).as("hi"))
        val ev = Tables(s, dir, "events")
          .select(col("value"), col("event_type"))
        graft.operators.RangeJoin
          .pointInInterval(ev, intervals, "value", "lo", "hi")
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("bucket"))
      },
      Some("""WITH iv AS (SELECT i AS bucket, i*2.0 AS lo, i*2.0+3.0 AS hi
             |            FROM range(64) t(i))
             |SELECT bucket, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events e JOIN iv ON e.value >= lo AND e.value <= hi
             |GROUP BY bucket ORDER BY bucket""".stripMargin),
      bench = true),

    // --- relative-rank windows (percent_rank + cume_dist — the §2.5
    //     functions not exercised elsewhere): each user placed within the
    //     engagement distribution. Unique ordering (count, then user_id)
    //     makes both functions deterministic; the window runs on the
    //     users-sized aggregate, never on raw events. ---
    Q("q160_percent_rank",
      (s, dir) => {
        val counts = Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        // percent_rank/cume_dist over the UNIQUE (n_events, user_id) order
        // reduce to (rk-1)/(n-1) and rk/n of the exact two-pass rank —
        // the same IEEE divisions the window functions perform, with no
        // single-partition window on the users-sized frame
        val (ranked, n) = graft.operators.GlobalRank.withRowNumber(
          counts, Seq(col("n_events"), col("user_id")), "_rk")
        ranked
          .withColumn("pr", round(
            graft.operators.GlobalRank.percentRankFromRank(col("_rk"), n), 6))
          .withColumn("cd", round(
            graft.operators.GlobalRank.cumeDistFromRank(col("_rk"), n), 6))
          .filter(col("user_id") < 100)
          .select(col("user_id"), col("n_events"), col("pr"), col("cd"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS n_events FROM events
             |           GROUP BY 1)
             |SELECT user_id, n_events,
             |  round(percent_rank() OVER (ORDER BY n_events, user_id), 6)
             |    AS pr,
             |  round(cume_dist() OVER (ORDER BY n_events, user_id), 6)
             |    AS cd
             |FROM c QUALIFY user_id < 100
             |ORDER BY user_id""".stripMargin)),

    // --- time-to-convert distribution: for users completing q148's
    //     click→view→purchase chain, the click→purchase latency summary
    //     with EXACT interpolated percentiles (Spark `percentile` ==
    //     DuckDB `quantile_cont`, the q75 parity). The chain frames are
    //     one row per qualifying user; the percentile aggregate runs on
    //     that users-sized frame. ---
    Q("q161_time_to_convert",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val c = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val v = ev.filter(col("event_type") === "view")
          .join(c, "user_id").filter(col("ts") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("t_click")).as("t_click"),
            min(col("ts")).as("t_view"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(v, "user_id").filter(col("ts") > col("t_view"))
          .groupBy(col("user_id")).agg(min(col("t_click")).as("t_click"),
            min(col("ts")).as("t_purchase"))
        p.select((col("t_purchase").cast("long")
            - col("t_click").cast("long")).as("d"))
          .agg(count(lit(1)).as("n_converted"),
            min(col("d")).as("min_s"),
            round(expr("percentile(d, 0.5)"), 4).as("p50_s"),
            round(expr("percentile(d, 0.9)"), 4).as("p90_s"),
            max(col("d")).as("max_s"))
      },
      Some("""WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
             |           WHERE event_type = 'click' GROUP BY 1),
             |v AS (SELECT e.user_id, min(t_click) AS t_click,
             |             min(ts) AS t_view
             |      FROM events e JOIN c USING (user_id)
             |      WHERE e.event_type = 'view' AND e.ts > c.t_click
             |      GROUP BY 1),
             |p AS (SELECT e.user_id, min(t_click) AS t_click,
             |             min(ts) AS t_purchase
             |      FROM events e JOIN v USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
             |      GROUP BY 1),
             |d AS (SELECT (epoch_us(t_purchase) // 1000000)
             |             - (epoch_us(t_click) // 1000000) AS d FROM p)
             |SELECT count(*) AS n_converted, min(d) AS min_s,
             |  round(quantile_cont(d, 0.5), 4) AS p50_s,
             |  round(quantile_cont(d, 0.9), 4) AS p90_s,
             |  max(d) AS max_s
             |FROM d""".stripMargin)),

    // --- sequential path mining: the 25 most frequent contiguous 3-step
    //     event-type sequences across users (the contiguous-k-gram slice
    //     of PrefixSpan — what "which journeys dominate" actually asks).
    //     One user-keyed shuffle for the lead() windows, then a
    //     paths-keyed aggregate on 3-token rows; n_users is exact
    //     count_distinct on the same shuffle. Fully deterministic order
    //     (count desc, then lexicographic) so LIMIT is engine-stable. ---
    Q("q163_event_paths",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("e1"))
          .withColumn("e2", lead(col("e1"), 1).over(w))
          .withColumn("e3", lead(col("e1"), 2).over(w))
          .filter(col("e3").isNotNull)
          .groupBy(col("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
          .limit(25)
      },
      Some("""WITH p AS (
             |  SELECT user_id, event_type AS e1,
             |    lead(event_type, 1) OVER w AS e2,
             |    lead(event_type, 2) OVER w AS e3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT e1, e2, e3, count(*) AS n,
             |       count(DISTINCT user_id) AS n_users
             |FROM p WHERE e3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, e1, e2, e3 LIMIT 25""".stripMargin)),

    // --- first-order Markov transition matrix over event types: P(next |
    //     current) from consecutive per-user pairs. The transition counts
    //     are a types²-sized frame, so the per-state normalisation join is
    //     broadcast; only the lead() window touches corpus-scale rows.
    //     This is the chain the q62/q141 sessionizers feed, and the input
    //     to any next-event simulator. ---
    Q("q164_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("cur"))
          .withColumn("next", lead(col("cur"), 1).over(w))
          .filter(col("next").isNotNull)
        val counts = pairs.groupBy(col("cur"), col("next"))
          .agg(count(lit(1)).as("n"))
        val totals = counts.groupBy(col("cur"))
          .agg(sum(col("n")).as("tot"))
        counts.join(broadcast(totals), "cur")
          .select(col("cur"), col("next"), col("n"),
            round(col("n") / col("tot"), 6).as("p"))
          .orderBy(col("cur"), col("next"))
      },
      Some("""WITH pr AS (
             |  SELECT event_type AS cur,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next
             |  FROM events),
             |c AS (SELECT cur, next, count(*) AS n FROM pr
             |      WHERE next IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT cur, sum(n) AS tot FROM c GROUP BY 1)
             |SELECT c.cur, c.next, c.n,
             |       round(c.n / t.tot, 6) AS p
             |FROM c JOIN t USING (cur) ORDER BY 1, 2""".stripMargin)),

    // --- stationary distribution of the q164 event-type Markov chain:
    //     where does user attention settle in steady state? 8 unrolled
    //     power-iteration steps over the row-normalized transition matrix
    //     (transitions restricted to states WITH outgoing edges, then
    //     renormalized, so rows still sum to 1). The only corpus-scale
    //     work is the q164 lead-window pair count; the matrix is
    //     types²-sized and checkpointed once, so each iteration is
    //     metadata-scale. Oracled with the same 8 iterations as chained
    //     DuckDB CTEs (the q188 technique). ---
    Q("q197_markov_stationary",
      (s, dir) => {
        val (_, pi) = markovChain(s, dir)
        pi.select(col("st").as("event_type"), round(col("pi"), 6).as("pi"))
          .orderBy(col("event_type"))
      },
      Some("""WITH pr AS (
             |  SELECT event_type AS cur,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next
             |  FROM events),
             |c AS (SELECT cur, next, count(*) AS n FROM pr
             |      WHERE next IS NOT NULL GROUP BY 1, 2),
             |st AS (SELECT DISTINCT cur FROM c),
             |tr AS (SELECT c.cur, c.next,
             |         c.n / sum(c.n) OVER (PARTITION BY c.cur) AS p
             |       FROM c JOIN st ON c.next = st.cur),
             |kk AS (SELECT count(*)::DOUBLE AS k FROM st),
             |p0 AS (SELECT cur AS st, 1.0 / kk.k AS pi FROM st, kk),
             |p1 AS (SELECT tr.next AS st, sum(tr.p * p0.pi) AS pi
             |       FROM tr JOIN p0 ON tr.cur = p0.st GROUP BY 1),
             |p2 AS (SELECT tr.next AS st, sum(tr.p * p1.pi) AS pi
             |       FROM tr JOIN p1 ON tr.cur = p1.st GROUP BY 1),
             |p3 AS (SELECT tr.next AS st, sum(tr.p * p2.pi) AS pi
             |       FROM tr JOIN p2 ON tr.cur = p2.st GROUP BY 1),
             |p4 AS (SELECT tr.next AS st, sum(tr.p * p3.pi) AS pi
             |       FROM tr JOIN p3 ON tr.cur = p3.st GROUP BY 1),
             |p5 AS (SELECT tr.next AS st, sum(tr.p * p4.pi) AS pi
             |       FROM tr JOIN p4 ON tr.cur = p4.st GROUP BY 1),
             |p6 AS (SELECT tr.next AS st, sum(tr.p * p5.pi) AS pi
             |       FROM tr JOIN p5 ON tr.cur = p5.st GROUP BY 1),
             |p7 AS (SELECT tr.next AS st, sum(tr.p * p6.pi) AS pi
             |       FROM tr JOIN p6 ON tr.cur = p6.st GROUP BY 1),
             |p8 AS (SELECT tr.next AS st, sum(tr.p * p7.pi) AS pi
             |       FROM tr JOIN p7 ON tr.cur = p7.st GROUP BY 1)
             |SELECT st AS event_type, round(pi, 6) AS pi FROM p8
             |ORDER BY event_type""".stripMargin)),

    // --- entropy rate of the event-type Markov chain: H = −Σ_i π_i
    //     Σ_j P_ij ln P_ij — how predictable the NEXT action is given the
    //     current one, the sequence-predictability scalar over q197's
    //     chain (0 = deterministic behavior, ln(k) = uniform). Per-state
    //     conditional entropies aggregate the types²-sized matrix;
    //     weighting by the stationary distribution is a types-sized join.
    //     Oracled by extending the q197 unrolled-CTE oracle one step. ---
    Q("q208_markov_entropy_rate",
      (s, dir) => {
        val (trans, pi) = markovChain(s, dir)
        val h = trans.groupBy(col("cur"))
          .agg((-sum(col("p") * log(col("p")))).as("h"))
        h.join(pi, h("cur") === pi("st"))
          .agg(count(lit(1)).as("n_states"),
            round(sum(col("pi") * col("h")), 6).as("entropy_rate"))
      },
      Some("""WITH pr AS (
             |  SELECT event_type AS cur,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next
             |  FROM events),
             |c AS (SELECT cur, next, count(*) AS n FROM pr
             |      WHERE next IS NOT NULL GROUP BY 1, 2),
             |st AS (SELECT DISTINCT cur FROM c),
             |tr AS (SELECT c.cur, c.next,
             |         c.n / sum(c.n) OVER (PARTITION BY c.cur) AS p
             |       FROM c JOIN st ON c.next = st.cur),
             |kk AS (SELECT count(*)::DOUBLE AS k FROM st),
             |p0 AS (SELECT cur AS st, 1.0 / kk.k AS pi FROM st, kk),
             |p1 AS (SELECT tr.next AS st, sum(tr.p * p0.pi) AS pi
             |       FROM tr JOIN p0 ON tr.cur = p0.st GROUP BY 1),
             |p2 AS (SELECT tr.next AS st, sum(tr.p * p1.pi) AS pi
             |       FROM tr JOIN p1 ON tr.cur = p1.st GROUP BY 1),
             |p3 AS (SELECT tr.next AS st, sum(tr.p * p2.pi) AS pi
             |       FROM tr JOIN p2 ON tr.cur = p2.st GROUP BY 1),
             |p4 AS (SELECT tr.next AS st, sum(tr.p * p3.pi) AS pi
             |       FROM tr JOIN p3 ON tr.cur = p3.st GROUP BY 1),
             |p5 AS (SELECT tr.next AS st, sum(tr.p * p4.pi) AS pi
             |       FROM tr JOIN p4 ON tr.cur = p4.st GROUP BY 1),
             |p6 AS (SELECT tr.next AS st, sum(tr.p * p5.pi) AS pi
             |       FROM tr JOIN p5 ON tr.cur = p5.st GROUP BY 1),
             |p7 AS (SELECT tr.next AS st, sum(tr.p * p6.pi) AS pi
             |       FROM tr JOIN p6 ON tr.cur = p6.st GROUP BY 1),
             |p8 AS (SELECT tr.next AS st, sum(tr.p * p7.pi) AS pi
             |       FROM tr JOIN p7 ON tr.cur = p7.st GROUP BY 1),
             |h AS (SELECT cur, -sum(p * ln(p)) AS h FROM tr GROUP BY 1)
             |SELECT count(*) AS n_states,
             |  round(sum(p8.pi * h.h), 6) AS entropy_rate
             |FROM h JOIN p8 ON h.cur = p8.st""".stripMargin)),

    // --- degree distribution + power-law tail exponent of the q178
    //     co-purchase graph: the degree histogram (metadata-sized) and
    //     the Hill/MLE estimate alpha = 1 + n / Σ ln(d / (dmin − 0.5))
    //     over degrees ≥ dmin — the standard continuous-correction
    //     estimator (Clauset-Shalizi-Newman 2009 form). Degrees come from
    //     ONE groupBy over the symmetric edge list; everything after is
    //     histogram-sized. ---
    Q("q204_degree_powerlaw",
      (s, dir) => {
        val e0 = copurchasePairs(s, dir)
        val deg = e0
          .union(e0.select(col("v").as("u"), col("u").as("v")))
          .groupBy(col("u")).agg(count(lit(1)).as("d"))
        val dmin = 3
        deg.filter(col("d") >= dmin)
          .agg(count(lit(1)).as("n_tail"),
            round(lit(1.0) + count(lit(1))
              / sum(log(col("d") / (dmin - 0.5))), 4).as("alpha"))
          .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
            max(col("d")).as("d_max"))))
          .select(col("n_nodes"), col("d_max"), col("n_tail"), col("alpha"))
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |e0 AS (
             |  SELECT a.part AS u, b.part AS v
             |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT u, count(*) AS d FROM
             |  (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)
             |  GROUP BY u),
             |tail AS (SELECT count(*) AS n_tail,
             |           round(1.0 + count(*) / sum(ln(d / 2.5)), 4) AS alpha
             |         FROM deg WHERE d >= 3),
             |tot AS (SELECT count(*) AS n_nodes, max(d) AS d_max FROM deg)
             |SELECT n_nodes, d_max, n_tail, alpha
             |FROM tail CROSS JOIN tot""".stripMargin)),

    // --- degree assortativity: the Pearson correlation of endpoint
    //     degrees over all DIRECTED edges (the standard Newman r) —
    //     positive means hubs link hubs. The degree frame is node-sized;
    //     two broadcast-able joins decorate the edge list and corr()
    //     partial-aggregates map-side. Negative r is the typical
    //     co-purchase signature (popular parts pair with the long tail). ---
    Q("q205_degree_assortativity",
      (s, dir) => {
        val e0 = copurchasePairs(s, dir)
        val edges = e0
          .union(e0.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint()
        val deg = edges.groupBy(col("u"))
          .agg(count(lit(1)).cast("double").as("d"))
        edges
          .join(deg, "u")
          .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
          .agg(count(lit(1)).as("n_edges"),
            round(corr(col("d"), col("dv")), 4).as("assortativity"))
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |e0 AS (
             |  SELECT a.part AS u, b.part AS v
             |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
             |deg AS (SELECT u, count(*)::DOUBLE AS d FROM edges GROUP BY u)
             |SELECT count(*) AS n_edges,
             |  round(corr(du.d, dv.d), 4) AS assortativity
             |FROM edges e JOIN deg du ON e.u = du.u
             |             JOIN deg dv ON e.v = dv.u""".stripMargin)),

    // --- 3-core of the co-purchase graph by iterative peeling (k-core
    //     decomposition, the density skeleton community detection starts
    //     from): each round drops nodes whose degree WITHIN the surviving
    //     subgraph is < 3, looped to a DRIVER-CHECKED fixpoint
    //     (operators.KCore — a fixed unroll silently returns a
    //     non-fixpoint on a deep peel cascade; KCoreSpec plants one).
    //     The oracle's unrolled CTE rounds reach the same fixpoint on the
    //     gate data (an extra CTE peel is a no-op there — spec'd), so the
    //     two engines agree exactly. Each round is a semi-join of the
    //     edge list against the survivor set + one degree agg —
    //     edge-list-sized work per round, the edge frame checkpointed
    //     once. ---
    Q("q206_kcore",
      (s, dir) => {
        val e0 = copurchasePairs(s, dir)
        val edges = e0
          .union(e0.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint()
        graft.operators.KCore.core(edges, 3).orderBy(col("u"))
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |e0 AS (
             |  SELECT a.part AS u, b.part AS v
             |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |edges AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
             |s0 AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS d FROM edges
             |       GROUP BY u) WHERE d >= 3),
             |s1 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s0 a ON e.u = a.u JOIN s0 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s2 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s1 a ON e.u = a.u JOIN s1 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s3 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s2 a ON e.u = a.u JOIN s2 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s4 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s3 a ON e.u = a.u JOIN s3 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s5 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s4 a ON e.u = a.u JOIN s4 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s6 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s5 a ON e.u = a.u JOIN s5 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s7 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s6 a ON e.u = a.u JOIN s6 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s8 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s7 a ON e.u = a.u JOIN s7 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s9 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s8 a ON e.u = a.u JOIN s8 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s10 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s9 a ON e.u = a.u JOIN s9 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s11 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s10 a ON e.u = a.u JOIN s10 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3),
             |s12 AS MATERIALIZED (SELECT u FROM (
             |  SELECT e.u, count(*) AS d FROM edges e
             |  JOIN s11 a ON e.u = a.u JOIN s11 b ON e.v = b.u
             |  GROUP BY e.u) WHERE d >= 3)
             |SELECT e.u, count(*) AS core_degree FROM edges e
             |JOIN s12 a ON e.u = a.u JOIN s12 b ON e.v = b.u
             |GROUP BY e.u ORDER BY e.u""".stripMargin)),

    // --- chi-square test of independence: is event TYPE independent of
    //     DAY OF WEEK? The contingency table is (types x 7)-sized from
    //     one scan; expected counts from broadcast margins; the statistic
    //     and per-cell standardized residuals are pure arithmetic both
    //     engines state identically. Completes the distribution-test
    //     family (two-sample KS q165, Benford q156) with the categorical
    //     independence test. ---
    Q("q207_chi2_independence",
      (s, dir) => {
        val obs = Tables(s, dir, "events")
          .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
          .agg(count(lit(1)).cast("double").as("o"))
          .localCheckpoint()
        val rowM = obs.groupBy(col("event_type")).agg(sum(col("o")).as("rm"))
        val colM = obs.groupBy(col("dow")).agg(sum(col("o")).as("cm"))
        val n = broadcast(obs.agg(sum(col("o")).as("n")))
        obs.join(broadcast(rowM), "event_type")
          .join(broadcast(colM), "dow")
          .crossJoin(n)
          .select(col("event_type"), col("dow"), col("o"),
            (col("rm") * col("cm") / col("n")).as("e"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(pow(col("o") - col("e"), 2) / col("e")), 4)
              .as("chi2"),
            round(max(abs(col("o") - col("e")) / sqrt(col("e"))), 4)
              .as("max_abs_resid"))
      },
      Some("""WITH obs AS (
             |  SELECT event_type, dayofweek(ts) + 1 AS dow,
             |         count(*)::DOUBLE AS o
             |  FROM events GROUP BY 1, 2),
             |rm AS (SELECT event_type, sum(o) AS rm FROM obs GROUP BY 1),
             |cm AS (SELECT dow, sum(o) AS cm FROM obs GROUP BY 1),
             |nn AS (SELECT sum(o) AS n FROM obs)
             |SELECT count(*) AS n_cells,
             |  round(sum((o - rm.rm * cm.cm / nn.n)
             |    * (o - rm.rm * cm.cm / nn.n) / (rm.rm * cm.cm / nn.n)), 4)
             |    AS chi2,
             |  round(max(abs(o - rm.rm * cm.cm / nn.n)
             |    / sqrt(rm.rm * cm.cm / nn.n)), 4) AS max_abs_resid
             |FROM obs JOIN rm USING (event_type) JOIN cm USING (dow), nn""".stripMargin)),

    // --- running distinct-type count per user: after each event, how many
    //     distinct event types has this user produced so far? Expressed as
    //     first-occurrence flags (row_number over (user, type) == 1) summed
    //     by a running frame — windows never carry sets, only 0/1 ints, so
    //     state per row is constant. Batch twin of the streaming
    //     transformWithState processor (EventStreams.runningDistinctTypes),
    //     which holds the seen-set in keyed state instead. Output bounded
    //     to users < 20 (the gate frame); the windows run corpus-wide. ---
    Q("q168_running_distinct",
      (s, dir) => {
        val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("is_new",
            when(row_number().over(wFirst) === 1, 1).otherwise(0))
          .withColumn("k_types", sum(col("is_new")).over(wRun))
          .filter(col("user_id") < 20)
          .select(col("user_id"), col("event_id"), col("k_types"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH f AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN row_number() OVER (PARTITION BY user_id,
             |        event_type ORDER BY ts, event_id) = 1
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events)
             |SELECT user_id, event_id,
             |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |    AS k_types
             |FROM f QUALIFY user_id < 20
             |ORDER BY user_id, event_id""".stripMargin)),

    // --- NATIVE as-of join (plans/AsOfJoin.scala — the second custom
    //     LogicalPlan + Strategy + SparkPlan triple after q158): each
    //     purchase matched to the user's last click AT OR BEFORE it.
    //     Unlike the q65 window composition, the purchase side never
    //     shuffles and never sorts — clicks broadcast as per-user sorted
    //     arrays, one binary search per probe row. Oracled against
    //     DuckDB's own native ASOF LEFT JOIN; build side distinct'd on
    //     (user, ts) so both engines' tie behavior is irrelevant. ---
    Q("q173_asof_native",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .distinct()
        graft.operators.AsOfJoin.backward(purchases, clicks,
            col("user_id"), col("ts"), col("c_user"), col("c_ts"))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("c_ts").as("last_click_ts"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT p.user_id, p.event_id, p.ts, c.c_ts AS last_click_ts
             |FROM (SELECT user_id, event_id, ts FROM events
             |      WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN
             |     (SELECT DISTINCT user_id AS c_user, ts AS c_ts
             |      FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.c_user AND p.ts >= c.c_ts
             |ORDER BY p.user_id, p.event_id""".stripMargin),
      bench = true),

    // --- EWMA (α = 0.3) over each event type's daily volume — the
    //     smoothed trend line behind q149's burst gate. The recursion
    //     y_t = αx_t + (1−α)y_{t−1} is closed-formed into cumulative sums
    //     (y_t = α(1−α)^t · Σ x_i(1−α)^(−i) + (1−α)^t x_0) so the window
    //     is one running sum over the (type × day) pre-aggregate — no
    //     sequential recursion, no UDAF; the only corpus-scale shuffle is
    //     the daily count. Day index is the row_number over OBSERVED days
    //     (gaps don't decay), identical on both engines. ---
    Q("q171_ewma_daily",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("x"))
        val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val a = 0.3
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("i", row_number().over(wOrd) - 1)
          .withColumn("u",
            when(col("i") === 0, 0.0)
              .otherwise(col("x") * pow(lit(1 - a), -col("i"))))
          .withColumn("x0", first(col("x")).over(wCum))
          .withColumn("ewma",
            round(lit(a) * pow(lit(1 - a), col("i")) * sum(col("u")).over(wCum)
              + pow(lit(1 - a), col("i")) * col("x0"), 4))
          .withColumn("rn_back", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day").desc)))
          .filter(col("rn_back") <= 5)
          .select(col("event_type"), col("day"), col("x").cast("long").as("n"),
            col("ewma"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::DOUBLE AS x
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT *, row_number() OVER (PARTITION BY event_type
             |    ORDER BY day) - 1 AS i FROM daily),
             |u AS (
             |  SELECT *, CASE WHEN i = 0 THEN 0.0
             |    ELSE x * power(0.7, -i) END AS u FROM idx),
             |e AS (
             |  SELECT event_type, day, x, i,
             |    first(x) OVER w AS x0, sum(u) OVER w AS su,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY day DESC) AS rn_back
             |  FROM u
             |  WINDOW w AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, day, x::BIGINT AS n,
             |  round(0.3 * power(0.7, i) * su + power(0.7, i) * x0, 4)
             |    AS ewma
             |FROM e WHERE rn_back <= 5
             |ORDER BY event_type, day""".stripMargin)),

    // --- market-basket association rules over orders: part-pair support /
    //     confidence / lift from lineitem baskets (the co-purchase signal
    //     behind "frequently bought together"). Pair generation is the
    //     standard orderkey self-join — baskets are a handful of items, so
    //     the fan-out is Σ|basket|², not |corpus|²; per-part totals join
    //     broadcast. Minimum support 3 then top-20 by lift with full
    //     deterministic tie-break. ---
    Q("q172_basket_rules",
      (s, dir) => {
        // one basket frame, hash-partitioned on okey and checkpointed so
        // BOTH self-join sides reuse the same partitioning (no re-shuffle
        // per side — the q32 banded-keys pattern)
        val items = Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .distinct()
          .repartition(col("okey"))
          .localCheckpoint()
        val nOrders = items.select(col("okey")).distinct().count()
        val partCounts = items.groupBy(col("part"))
          .agg(count(lit(1)).as("n_part"))
        val pairs = items.as("a")
          .join(items.withColumnRenamed("part", "part_b").as("b"), "okey")
          .filter(col("part") < col("part_b"))
          .groupBy(col("part"), col("part_b"))
          .agg(count(lit(1)).as("n_pair"))
          .filter(col("n_pair") >= 3)
        pairs
          .join(broadcast(partCounts), "part")
          .join(broadcast(partCounts
            .withColumnRenamed("part", "part_b")
            .withColumnRenamed("n_part", "n_part_b")), "part_b")
          .select(col("part"), col("part_b"), col("n_pair"),
            round(col("n_pair") / lit(nOrders.toDouble), 6).as("support"),
            round(col("n_pair") / col("n_part"), 6).as("confidence"),
            round(col("n_pair") * lit(nOrders.toDouble)
              / (col("n_part") * col("n_part_b")), 4).as("lift"))
          .orderBy(col("lift").desc, col("part"), col("part_b"))
          .limit(20)
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
             |pc AS (SELECT part, count(*) AS n_part FROM items GROUP BY 1),
             |pairs AS (
             |  SELECT a.part, b.part AS part_b, count(*) AS n_pair
             |  FROM items a JOIN items b ON a.okey = b.okey
             |    AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT p.part, p.part_b, p.n_pair,
             |  round(p.n_pair / (SELECT n_orders FROM n), 6) AS support,
             |  round(p.n_pair / pa.n_part, 6) AS confidence,
             |  round(p.n_pair * (SELECT n_orders FROM n)
             |    / (pa.n_part * pb.n_part), 4) AS lift
             |FROM pairs p
             |JOIN pc pa ON pa.part = p.part
             |JOIN pc pb ON pb.part = p.part_b
             |ORDER BY lift DESC, p.part, p.part_b LIMIT 20""".stripMargin)),

    // --- single-pass column profiler (operators/Profile.scala): per
    //     column, nulls / exact distinct / rows from ONE scan — the
    //     multi-distinct agg plans as one Expand, proven in ProfileSpec.
    //     The ANALYZE TABLE surface every ingest pipeline runs first. ---
    Q("q174_profile",
      (s, dir) => {
        graft.operators.Profile
          .profile(Tables(s, dir, "events"),
            Seq("user_id", "event_type", "value", "props"))
          .orderBy(col("col_name"))
      },
      Some("""SELECT 'event_type' AS col_name,
             |  count(*) - count(event_type) AS null_count,
             |  count(DISTINCT event_type) AS n_distinct,
             |  count(*) AS n_rows FROM events
             |UNION ALL SELECT 'props', count(*) - count(props),
             |  count(DISTINCT props), count(*) FROM events
             |UNION ALL SELECT 'user_id', count(*) - count(user_id),
             |  count(DISTINCT user_id), count(*) FROM events
             |UNION ALL SELECT 'value', count(*) - count(value),
             |  count(DISTINCT value), count(*) FROM events
             |ORDER BY col_name""".stripMargin)),

    // --- mergeable-sketch cardinality (Datasketches HLL): per-event-type
    //     user sketches unioned into a global distinct-user estimate — the
    //     incremental/distributed counting architecture (persist per-shard
    //     sketches, merge on read; at 100 TB the nightly union touches
    //     sketch bytes, never raw ids). Self-verifying rows-only gate: the
    //     merged estimate must EQUAL the single global sketch's estimate
    //     (union exactness) and sit within 5% of the exact count. ---
    Q("q169_hll_union",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val perType = ev.groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = perType
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
        val direct = ev
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_direct"),
            count_distinct(col("user_id")).as("n_exact"))
        merged.crossJoin(broadcast(direct))
          .select(col("n_exact"), col("est_merged"), col("est_direct"),
            (col("est_merged") === col("est_direct")).as("merge_consistent"),
            (abs(col("est_merged") - col("n_exact"))
              / col("n_exact") <= 0.05).as("within_5pct"))
      },
      None),

    // --- RFM segmentation: users placed into recency / frequency /
    //     monetary quintiles (the standard engagement cube). All three
    //     ntile windows run on the users-sized aggregate, never raw
    //     events; output is the 5³-bounded segment histogram. ntile on a
    //     UNIQUELY ordered frame (metric, then user_id) is engine-stable. ---
    Q("q175_rfm_segments",
      (s, dir) => {
        val perUser = Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"),
            count(lit(1)).as("freq"),
            round(sum(col("value")), 2).as("monetary"))
        // three exact two-pass ranks (GlobalRank) replace three
        // single-partition ntile windows on the users-sized frame; the
        // (metric desc, user_id) orders are total, so the quintiles are
        // identical
        import graft.operators.GlobalRank
        val (a, n) = GlobalRank.withRowNumber(
          perUser, Seq(col("last_ts").desc, col("user_id")), "_rr")
        val (b, _) = GlobalRank.withRowNumber(
          a, Seq(col("freq").desc, col("user_id")), "_rf")
        val (c2, _) = GlobalRank.withRowNumber(
          b, Seq(col("monetary").desc, col("user_id")), "_rm")
        c2
          .withColumn("r", GlobalRank.ntileFromRank(col("_rr"), n, 5))
          .withColumn("f", GlobalRank.ntileFromRank(col("_rf"), n, 5))
          .withColumn("m", GlobalRank.ntileFromRank(col("_rm"), n, 5))
          .groupBy(col("r"), col("f"), col("m"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("r"), col("f"), col("m"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
             |         round(sum(value), 2) AS monetary
             |  FROM events GROUP BY 1),
             |t AS (
             |  SELECT
             |    ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r,
             |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
             |    ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
             |  FROM u)
             |SELECT r, f, m, count(*) AS n_users FROM t
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // --- CUSUM changepoint screen: for each event type's daily volume,
    //     the day maximising |cumulative deviation from the type's mean| —
    //     where the level shift happened, and its normalized magnitude.
    //     Two windows over the (type × day) pre-aggregate; the daily count
    //     is the only corpus-scale shuffle (the q149/q171 family's third
    //     member: burst days, smoothed trend, now the changepoint). ---
    Q("q176_cusum_changepoint",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("x"))
        val byType = Window.partitionBy(col("event_type"))
        val cum = byType.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scored = daily
          .withColumn("mu", avg(col("x")).over(byType))
          .withColumn("sd", stddev_pop(col("x")).over(byType))
          .withColumn("cusum", sum(col("x") - col("mu")).over(cum))
          .withColumn("score", abs(col("cusum")) / col("sd"))
        val top = Window.partitionBy(col("event_type"))
          .orderBy(col("score").desc, col("day"))
        scored
          .withColumn("rn", row_number().over(top))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day").as("cp_day"),
            round(col("score"), 4).as("cp_score"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::DOUBLE AS x
             |  FROM events GROUP BY 1, 2),
             |s AS (
             |  SELECT event_type, day, x,
             |    avg(x) OVER (PARTITION BY event_type) AS mu,
             |    stddev_pop(x) OVER (PARTITION BY event_type) AS sd
             |  FROM daily),
             |c AS (
             |  SELECT event_type, day, sd,
             |    sum(x - mu) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cusum
             |  FROM s),
             |r AS (
             |  SELECT event_type, day, abs(cusum) / sd AS score,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY abs(cusum) / sd DESC, day) AS rn
             |  FROM c)
             |SELECT event_type, day AS cp_day, round(score, 4) AS cp_score
             |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // --- equi-width value histogram per event type: the one-pass
    //     distribution sketch (bounds from a first tiny agg, broadcast
    //     back). The bucket formula is spelled out IDENTICALLY on both
    //     sides (DuckDB has no width_bucket, and matching another
    //     engine's float rounding inside a builtin is exactly the hazard
    //     the explicit form removes); one corpus-scale shuffle on
    //     (type, bucket). ---
    Q("q177_value_histogram",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val bounds = ev.groupBy(col("event_type"))
          .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        ev.join(broadcast(bounds), "event_type")
          .withColumn("bucket",
            least(floor((col("value") - col("lo"))
              / ((col("hi") - col("lo")) / 10.0)).cast("long") + 1,
              lit(10L)))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("value")), 4).as("lo_val"),
            round(max(col("value")), 4).as("hi_val"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""WITH b AS (
             |  SELECT event_type, min(value) AS lo, max(value) AS hi
             |  FROM events GROUP BY 1)
             |SELECT e.event_type,
             |  least(floor((e.value - b.lo) / ((b.hi - b.lo) / 10.0))::BIGINT
             |    + 1, 10) AS bucket,
             |  count(*) AS n,
             |  round(min(e.value), 4) AS lo_val,
             |  round(max(e.value), 4) AS hi_val
             |FROM events e JOIN b USING (event_type)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --- triangle counting on the co-purchase graph (q172's edge set,
    //     support ≥ 3): the standard two-hop motif join with edges
    //     oriented a < b < c so each triangle counts once. Edge lists are
    //     support-thresholded aggregates (graph-sized, not corpus-sized);
    //     the hop joins shuffle on the shared endpoint — the same shape
    //     GraphFrames plans. Output: triangle total + the 10 most
    //     triangle-dense parts (the "clique hub" detector). ---
    Q("q178_triangles",
      (s, dir) => {
        val edges = copurchasePairs(s, dir).localCheckpoint()
        val tri = edges.as("e1")
          .join(edges.select(col("u").as("v"), col("v").as("w")).as("e2"), "v")
          .join(edges.select(col("u"), col("v").as("w")).as("e3"),
            Seq("u", "w"))
          .select(col("u"), col("v"), col("w"))
        tri.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
          .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("n_triangles").desc, col("part"))
          .limit(10)
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |edges AS (
             |  SELECT a.part AS u, b.part AS v
             |  FROM items a JOIN items b ON a.okey = b.okey
             |    AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (
             |  SELECT e1.u, e1.v, e2.w
             |  FROM edges e1
             |  JOIN (SELECT u AS v, v AS w FROM edges) e2 USING (v)
             |  JOIN (SELECT u, v AS w FROM edges) e3
             |    ON e3.u = e1.u AND e3.w = e2.w),
             |nodes AS (
             |  SELECT unnest([u, v, w]) AS part FROM tri)
             |SELECT part, count(*) AS n_triangles FROM nodes
             |GROUP BY 1 ORDER BY n_triangles DESC, part LIMIT 10""".stripMargin)),

    // --- exponentially time-decayed engagement score (half-life 7 days):
    //     Σ value · 2^(−age/half_life), aged against the corpus max ts —
    //     the recency-weighted ranking signal (leaderboards, champion
    //     selection, freshness-aware retrieval). One scan + one users-key
    //     agg; the anchor max(ts) is a 1-row broadcast. Ages are exact
    //     integer seconds before the one float op, and the decay term is
    //     spelled identically on both engines. ---
    Q("q179_decayed_engagement",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val anchor = ev.agg(max(col("ts")).as("t_max"))
        ev.crossJoin(broadcast(anchor))
          .withColumn("age_s",
            col("t_max").cast("long") - col("ts").cast("long"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")
              * pow(lit(2.0), -col("age_s") / (7.0 * 86400))), 4)
              .as("decayed_score"))
          .orderBy(col("user_id"))
          .limit(200)
      },
      Some("""WITH a AS (SELECT max(ts) AS t_max FROM events)
             |SELECT user_id, count(*) AS n_events,
             |  round(sum(value * power(2.0,
             |    -(epoch_us(t_max) // 1000000 - epoch_us(ts) // 1000000)
             |      / (7.0 * 86400))), 4) AS decayed_score
             |FROM events, a GROUP BY 1 ORDER BY 1 LIMIT 200""".stripMargin)),

    // --- inter-event time distribution: per event type, exact percentiles
    //     of the gap between a user's consecutive events of that type —
    //     the recurrence-cadence profile (retention half-life, re-purchase
    //     cycle). One (user, type) window computes gaps; the percentile
    //     aggregate reduces to a types-sized frame. Gaps are exact integer
    //     seconds; Spark `percentile` == DuckDB `quantile_cont` (q75
    //     parity). ---
    Q("q181_interevent_gaps",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("gap_s",
            col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
          .filter(col("gap_s").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"),
            round(expr("percentile(gap_s, 0.5)"), 2).as("p50_s"),
            round(expr("percentile(gap_s, 0.9)"), 2).as("p90_s"),
            max(col("gap_s")).as("max_s"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (
             |  SELECT event_type,
             |    epoch_us(ts) // 1000000
             |      - epoch_us(lag(ts) OVER (PARTITION BY user_id,
             |          event_type ORDER BY ts, event_id)) // 1000000
             |      AS gap_s
             |  FROM events)
             |SELECT event_type, count(*) AS n_gaps,
             |  round(quantile_cont(gap_s, 0.5), 2) AS p50_s,
             |  round(quantile_cont(gap_s, 0.9), 2) AS p90_s,
             |  max(gap_s) AS max_s
             |FROM g WHERE gap_s IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- abandoned-intent cohort: users with a click but NO purchase
    //     within 1 hour after ANY of their clicks — the time-bounded
    //     NOT EXISTS shape (plain anti-join can't say "not within the
    //     window"). Per-user click/purchase minutes join once on user_id;
    //     the existence test is an interval-conditioned left-anti join.
    //     Output bounded to user_id < 300 for the gate. ---
    Q("q182_abandoned_intent",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        val converted = clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("p_ts") > col("c_ts") &&
              col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
            "left_semi")
          .select(col("user_id")).distinct()
        clicks.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_clicks"))
          .join(converted, Seq("user_id"), "left_anti")
          .filter(col("user_id") < 300)
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, ts AS c_ts FROM events
             |           WHERE event_type = 'click'),
             |conv AS (
             |  SELECT DISTINCT c.user_id
             |  FROM c JOIN events p ON p.user_id = c.user_id
             |    AND p.event_type = 'purchase'
             |    AND p.ts > c.c_ts
             |    AND p.ts <= c.c_ts + INTERVAL 1 HOUR)
             |SELECT user_id, count(*) AS n_clicks FROM c
             |WHERE user_id NOT IN (SELECT user_id FROM conv)
             |  AND user_id < 300
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- day-of-week seasonality index per event type: each weekday's
    //     daily volume relative to the type's average day (the
    //     multiplicative seasonal factor behind capacity planning and the
    //     q149/q176 anomaly baselines). Two tiny aggs over the daily
    //     pre-aggregate; dayofweek mapped to ISO (1 = Monday) identically
    //     on both engines. ---
    Q("q187_dow_seasonality",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("x"))
        val byDow = daily
          .withColumn("dow", dayofweek(col("day")))
          // Spark dayofweek: 1 = Sunday; re-base to ISO 1 = Monday
          .withColumn("dow", when(col("dow") === 1, 7)
            .otherwise(col("dow") - 1))
          .groupBy(col("event_type"), col("dow"))
          .agg(avg(col("x")).as("dow_avg"), count(lit(1)).as("n_days"))
        val overall = daily.groupBy(col("event_type"))
          .agg(avg(col("x")).as("all_avg"))
        byDow.join(broadcast(overall), "event_type")
          .select(col("event_type"), col("dow"), col("n_days"),
            round(col("dow_avg") / col("all_avg"), 4).as("index"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::DOUBLE AS x
             |  FROM events GROUP BY 1, 2),
             |d AS (SELECT event_type, isodow(day) AS dow,
             |        avg(x) AS dow_avg, count(*) AS n_days
             |      FROM daily GROUP BY 1, 2),
             |o AS (SELECT event_type, avg(x) AS all_avg FROM daily
             |      GROUP BY 1)
             |SELECT event_type, dow, n_days,
             |  round(dow_avg / all_avg, 4) AS index
             |FROM d JOIN o USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    // --- PageRank by power iteration over the q178 co-purchase graph
    //     (symmetrized, support >= 2), damping 0.85, 5 fixed iterations.
    //     The iteration-invariant state — edges pre-joined with 1/outdeg —
    //     is materialized ONCE, hash-partitioned on the join key, so each
    //     iteration moves only the node-sized rank frame: join on u
    //     (edge side already partitioned; AliasAwareOutputPartitioning
    //     carries the rank frame's v->u rename, so the groupBy output
    //     re-enters the join without an extra exchange), then a map-side-
    //     partial sum into v. Per-iteration cost at 100 TB = one node-sized
    //     shuffle, never an edge re-scan; the symmetrized graph has no
    //     dangling nodes, so no dangling-mass redistribution term is
    //     needed. Oracled by unrolling the same 5 iterations as chained
    //     CTEs in DuckDB (recursive CTEs disallow the per-level aggregate
    //     this needs). ---
    Q("q188_pagerank",
      (s, dir) => {
        val e0 = copurchasePairs(s, dir)
        // ONE adjacency aggregation gives everything iteration-invariant:
        // grouped (u, [v...]) is hash-partitioned on u by its own groupBy,
        // the out-degree is the list size (no separate degree frame, no
        // join), and the checkpoint materializes it once for all 5 rounds
        val grouped = e0
          .union(e0.select(col("v").as("u"), col("u").as("v")))
          .groupBy(col("u")).agg(collect_list(col("v")).as("vs"))
          .localCheckpoint()
        val w = grouped
          .select(col("u"), (lit(1.0) / size(col("vs"))).as("w"),
            explode(col("vs")).as("v"))
        val n = grouped.count().toDouble // node count: a model-sized scalar
        var ranks = grouped.select(col("u"), lit(1.0 / n).as("r"))
        for (_ <- 1 to 5) {
          ranks = w.join(ranks, "u")
            .groupBy(col("v"))
            .agg((lit(0.15 / n) + lit(0.85) * sum(col("w") * col("r"))).as("r"))
            .select(col("v").as("u"), col("r"))
        }
        ranks
          .select(col("u").as("part"), round(col("r"), 6).as("rank"))
          .orderBy(col("rank").desc, col("part"))
          .limit(20)
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
             |  FROM lineitem),
             |e0 AS (
             |  SELECT a.part AS u, b.part AS v
             |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
             |deg AS (SELECT u, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
             |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
             |w AS (SELECT e.u, e.v, 1.0 / d.outdeg AS w
             |      FROM edges e JOIN deg d ON e.u = d.u),
             |r0 AS (SELECT u, 1.0 / nn.n AS r FROM deg, nn),
             |r1 AS (SELECT w.v AS u, 0.15 / any_value(nn.n) + 0.85 * sum(w.w * r0.r) AS r
             |       FROM w JOIN r0 ON w.u = r0.u, nn GROUP BY w.v),
             |r2 AS (SELECT w.v AS u, 0.15 / any_value(nn.n) + 0.85 * sum(w.w * r1.r) AS r
             |       FROM w JOIN r1 ON w.u = r1.u, nn GROUP BY w.v),
             |r3 AS (SELECT w.v AS u, 0.15 / any_value(nn.n) + 0.85 * sum(w.w * r2.r) AS r
             |       FROM w JOIN r2 ON w.u = r2.u, nn GROUP BY w.v),
             |r4 AS (SELECT w.v AS u, 0.15 / any_value(nn.n) + 0.85 * sum(w.w * r3.r) AS r
             |       FROM w JOIN r3 ON w.u = r3.u, nn GROUP BY w.v),
             |r5 AS (SELECT w.v AS u, 0.15 / any_value(nn.n) + 0.85 * sum(w.w * r4.r) AS r
             |       FROM w JOIN r4 ON w.u = r4.u, nn GROUP BY w.v)
             |SELECT u AS part, round(r, 6) AS rank FROM r5
             |ORDER BY rank DESC, part LIMIT 20""".stripMargin),
      bench = true)
  )

  /** Time-clustered multi-file copy of `events` + its zone map, memoized
    * per (session, dir) like the ANN fits: 8 files range-partitioned and
    * sorted on ts (what any time-partitioned ingest produces), then one
    * stats pass collecting per-file (min ts, max ts) to the driver — the
    * zone map is file-count-sized metadata by construction. Returns the
    * files whose [min, max] interval overlaps [lo, hi). Exposed to
    * ZoneMapSpec so it can count survivors against the file total. */
  private[queries] def zoneMapSurvivors(s: org.apache.spark.sql.SparkSession,
      dir: String, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): Seq[String] = {
    val clusteredDir = SimilarityQueries.memoFit(s, dir, "zonemap-events") {
      val d = scratchDir("zonemap")
      Tables(s, dir, "events")
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(d)
      d
    }
    val zones = s.read.parquet(clusteredDir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    zones.filter(col("mx") >= lo && col("mn") < hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }
}
