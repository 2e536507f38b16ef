package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Structured Streaming surface (green-field extension — the reference is
  * batch-only, SURVEY §2.9). Transform builders take unbounded DataFrames
  * from any source (`readStream` file/kafka/rate or MemoryStream in tests)
  * so the same code runs in tests and against a real bus.
  *
  * Scale posture: windowed counts are partial-aggregated per trigger with
  * watermark-bounded state; sessionization keeps one state object per
  * user_id (keyed state, timeout-driven eviction) — both are the standard
  * unbounded-state-safe shapes.
  */
object EventStreams {

  /** Tumbling-window counts per event_type with late-data handling. */
  def windowedCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming twin of the batch chunking operator (q81): fixed
    * `window`-char chunks on a `stride`-char stride with start offsets —
    * a pure stateless projection (sequence + explode + substr), so it
    * needs no watermark or state and keeps the micro-batch fully
    * pipelined. The shape a streaming RAG-ingest pipeline runs between
    * the document source and the embedder. */
  def chunkStream(docs: DataFrame, window: Int = 200, stride: Int = 150): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)), lit(stride))).as("cs"))
      .select(col("doc_id"), col("cs").cast("long").as("chunk_start"),
        col("text").substr(col("cs") + 1, lit(window)).as("chunk"))

  /** Tumbling-window token counts over a text stream — the streaming twin
    * of the vspace term-frequency core. */
  def windowedTokenCounts(docs: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(graft.functions.norm_tokens(col("text"))).as("token"))
      .groupBy(window(col("ts"), window_), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("token"), col("n"))

  /** Streaming exact deduplication: drop repeats of `keyCols` with
    * watermark-bounded dedup state (the streaming twin of the q30/q31
    * exact-dedup path — e.g. key on a content digest column to dedup a
    * document stream). `withWatermark` + `dropDuplicatesWithinWatermark`
    * keeps the state store bounded: a key is only remembered until the
    * watermark passes it, which is the only unbounded-state-safe shape for
    * an infinite stream. */
  def dedupStream(rows: DataFrame, eventTimeCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    rows
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming near-dup candidate flagging: stream-static LEFT-SEMI join
    * of the stream's MinHash band keys against a pre-built corpus band
    * index — each incoming document is flagged iff it shares any LSH
    * bucket with the reference corpus. This is the candidate stage only
    * (band collision, no exact-Jaccard verification — that stays a batch
    * join against the matched corpus docs); the same keys and probe as
    * the batch path ([[graft.operators.NearDup.probe]]), so a doc flagged
    * here is exactly a doc the batch pipeline would have candidate-paired.
    * Stream-static joins keep no state; the trailing dedup of band
    * matches is watermark-bounded. */
  def nearDupFlags(docs: DataFrame, corpusIndex: DataFrame,
      eventTimeCol: String = "ts", watermark: String = "10 minutes"): DataFrame =
    graft.operators.NearDup
      .probe(docs.withWatermark(eventTimeCol, watermark), corpusIndex,
        Seq("doc_id", eventTimeCol))
      .dropDuplicatesWithinWatermark("doc_id")

  /** The static side for [[nearDupFlags]]: distinct bh bucket keys of a
    * reference corpus (at scale: computed once, written to parquet, and
    * re-read — it is ~32 small rows per corpus document). */
  def corpusBandIndex(corpus: DataFrame): DataFrame =
    graft.operators.NearDup.bucketKeys(corpus).select(col("bh")).distinct()

  /** Stream-stream interval join: pair each `effectType` event with every
    * `causeType` event by the same user in the preceding `maxLagSecs`
    * (e.g. purchases attributed to recent views). Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * which is exactly what lets Spark evict join state — the only
    * unbounded-state-safe shape for a stream-stream join. The batch twin
    * (identical semantics, DuckDB-oracled) is q68_attribution. */
  def intervalJoin(causes: DataFrame, effects: DataFrame,
      maxLagSecs: Long = 1800, watermark: String = "10 minutes"): DataFrame = {
    val c = causes
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("cause_id"))
      .withWatermark("c_ts", watermark)
    val e = effects
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("effect_id"))
      .withWatermark("e_ts", watermark)
    c.join(e,
        col("c_user") === col("e_user") &&
          col("e_ts") > col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr(s"INTERVAL $maxLagSecs SECONDS"))
      .select(col("c_user").as("user_id"), col("cause_id"), col("effect_id"),
        col("c_ts"), col("e_ts"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(nEvents: Long, start: Long, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long,
      duration_secs: Long)

  /** Session aggregation with explicit keyed state: a session closes after
    * `gapSecs` of inactivity (processing-time timeout), emitting one row
    * per closed session. */
  def sessionize(events: Dataset[Event], gapSecs: Long = 1800)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.nEvents, (s.lastTs - s.start) / 1000)
          } else {
            val evs  = batch.toSeq
            val tsMs = evs.map(_.ts.getTime)
            val prev = state.getOption
            val next = prev match {
              case Some(s) => SessionState(s.nEvents + evs.size,
                s.start, math.max(s.lastTs, tsMs.max))
              case None => SessionState(evs.size, tsMs.min, tsMs.max)
            }
            state.update(next)
            state.setTimeoutDuration(gapSecs * 1000)
            SessionOut(userId, next.nEvents, (next.lastTs - next.start) / 1000)
          }
      }
  }

  final case class DistinctOut(user_id: Long, event_id: Long, k_types: Long)

  /** Arbitrary keyed state via the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed state variables, the successor to
    * [[sessionize]]'s mapGroupsWithState): after each event, emit how many
    * DISTINCT event types the user has produced so far. The seen-set lives
    * in a [[MapState]] keyed by event type — adding a type writes ONE state
    * row instead of rewriting a serialized set blob, which is the point of
    * the new API (RocksDB-backed point writes; at 100 TB the state is
    * (users × types) tiny rows, never a per-user monolith). Rows within a
    * micro-batch are folded in (ts, event_id) order so replays and batch
    * boundaries can't reorder the running count. Requires the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass`);
    * batch twin (DuckDB-oracled): q168_running_distinct. */
  class RunningDistinctProcessor
      extends StatefulProcessor[Long, Event, DistinctOut] {
    @transient private var seen: MapState[String, Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Boolean]("seen_types",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[DistinctOut] = {
      var k = seen.keys().size.toLong
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).iterator.map { e =>
        if (!seen.containsKey(e.event_type)) {
          seen.updateValue(e.event_type, true)
          k += 1
        }
        DistinctOut(key, e.event_id, k)
      }
    }
  }

  def runningDistinctTypes(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[DistinctOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningDistinctProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class OpenSession(nEvents: Long, firstMs: Long, lastMs: Long,
      timerMs: Long)

  /** Event-time sessionization on transformWithState TIMERS: a session
    * closes when the WATERMARK passes lastTs + gap — deterministic in
    * event time (replay-stable), unlike [[sessionize]]'s processing-time
    * timeouts which fire on the wall clock. Each batch extends the open
    * session, deletes the previously registered timer, and re-arms at the
    * new expiry; `handleExpiredTimer` emits the closed session and clears
    * state — so state is exactly one small row per OPEN session, evicted
    * by the engine's timer sweep, and output is Append-clean. The q62
    * batch sessionizer is the oracled twin of the same gap semantics. */
  class EventTimeSessionProcessor(gapSecs: Long)
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open_session",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val tsMs = rows.map(_.ts.getTime).toSeq
      val prev = if (open.exists()) Some(open.get()) else None
      prev.foreach(s => getHandle.deleteTimer(s.timerMs))
      val next = prev match {
        case Some(s) => OpenSession(s.nEvents + tsMs.size,
          s.firstMs, math.max(s.lastMs, tsMs.max), 0L)
        case None => OpenSession(tsMs.size, tsMs.min, tsMs.max, 0L)
      }
      val expiry = next.lastMs + gapSecs * 1000
      open.update(next.copy(timerMs = expiry))
      getHandle.registerTimer(expiry)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      val out = if (open.exists()) {
        val s = open.get()
        // only the CURRENT timer closes the session (a stale timer from a
        // since-extended session may still sweep through)
        if (s.timerMs == expired.getExpiryTimeInMs()) {
          open.clear()
          Iterator.single(
            SessionOut(key, s.nEvents, (s.lastMs - s.firstMs) / 1000))
        } else Iterator.empty
      } else Iterator.empty
      out
    }
  }

  /** See [[EventTimeSessionProcessor]]; `events` must carry a watermark on
    * `ts` before the keyed transform. */
  def eventTimeSessions(events: Dataset[Event], gapSecs: Long = 1800)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new EventTimeSessionProcessor(gapSecs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class BloomIn(shard: Int, digest: Long, doc_id: Long)
  final case class BloomOut(doc_id: Long, digest: Long)

  /** All-history streaming dedup with BOUNDED state: a sharded Bloom
    * filter in keyed ValueState. [[dedupStream]]'s exact state is only
    * bounded because the watermark evicts it — dedup across the WHOLE
    * stream history (the training-corpus contract: a document is ingested
    * once, ever) would grow exact state forever. Here state is fixed at
    * `shards * mBits/8` bytes total no matter how many documents pass,
    * traded against a quantifiable false-positive rate (a tiny fraction of
    * genuinely-new docs dropped as dupes — the right direction for corpus
    * dedup). k bit positions derive from the digest by splitmix64 steps,
    * so the filter needs only the one 64-bit content digest the batch
    * dedup (q30/q31) already computes; shard = floor-mod of the digest
    * spreads state rows and parallelism. Per active shard and batch the
    * blob is rewritten once (mBits/8 bytes) — sized so that's a few KB,
    * not the per-bit MapState extreme.
    *
    * Memory bound: STATE is fixed, but each shard's micro-BATCH is
    * materialized and sorted before the fold (replay-identical output
    * needs a deterministic first-occurrence order), so a shard's slice of
    * one micro-batch must fit in executor memory. Shards are
    * digest-mod-N, so slices are balanced ~batch/N; size the trigger
    * interval (or raise `shards`) so that holds — the sort is per shard
    * per batch, never across batches. */
  class BloomDedupProcessor(mBits: Int, k: Int)
      extends StatefulProcessor[Int, BloomIn, BloomOut] {
    @transient private var bits: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bits = getHandle.getValueState[Array[Byte]]("bloom_bits",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[BloomIn],
        timers: TimerValues): Iterator[BloomOut] = {
      val arr = if (bits.exists()) bits.get() else new Array[Byte](mBits / 8)
      var dirty = false
      // deterministic fold order within the batch: replays must drop the
      // same rows (first occurrence by (digest, doc_id) wins)
      val out = rows.toSeq.sortBy(r => (r.digest, r.doc_id)).iterator.flatMap { r =>
        var h = r.digest
        var seen = true
        var i = 0
        val pos = new Array[Int](k)
        while (i < k) {
          // splitmix64 mixing per probe
          h += 0x9e3779b97f4a7c15L
          var z = h
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          val p = ((z % mBits) + mBits).toInt % mBits
          pos(i) = p
          if ((arr(p >>> 3) & (1 << (p & 7))) == 0) seen = false
          i += 1
        }
        if (seen) Iterator.empty
        else {
          var j = 0
          while (j < k) {
            val p = pos(j)
            arr(p >>> 3) = (arr(p >>> 3) | (1 << (p & 7))).toByte
            j += 1
          }
          dirty = true
          Iterator.single(BloomOut(r.doc_id, r.digest))
        }
      }.toVector
      if (dirty) bits.update(arr)
      out.iterator
    }
  }

  /** See [[BloomDedupProcessor]]. `docs` must carry (doc_id, digest);
    * shard count fixes both state size and the dedup parallelism. */
  def bloomDedupStream(docs: Dataset[(Long, Long)], shards: Int = 64,
      mBits: Int = 1 << 16, k: Int = 5)(
      implicit spark: SparkSession): Dataset[BloomOut] = {
    import spark.implicits._
    docs
      .map { case (docId, digest) =>
        BloomIn((((digest % shards) + shards) % shards).toInt, digest, docId) }
      .groupByKey(_.shard)
      .transformWithState(new BloomDedupProcessor(mBits, k),
        TimeMode.None(), OutputMode.Update())
  }

  final case class HeavyIn(group: String, item: String)
  final case class HeavyOut(group: String, item: String, cnt: Long, err: Long)

  /** Streaming heavy hitters via the SpaceSaving sketch in keyed state —
    * the streaming twin of the q79 approx_top_k batch path. Exact per-item
    * streaming counts need unbounded state (one row per DISTINCT item,
    * ever); SpaceSaving caps state at `capacity` counters per group and
    * guarantees (a) any item with true count > N/capacity is present and
    * (b) every reported `cnt` overestimates truth by at most its `err`.
    * The whole summary lives in ONE ValueState blob (parallel arrays via
    * a product encoder) rewritten once per (group, batch) — per-row
    * RocksDB point ops would scan `capacity` entries per input row, the
    * wrong trade for a capacity-sized summary. Rows fold in (item) order
    * within a batch so replays produce the identical sketch. Emits the
    * full summary each batch (Update mode); downstream takes top-k. */
  final case class SSSummary(items: Seq[String], counts: Seq[Long],
      errs: Seq[Long])

  class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[String, HeavyIn, HeavyOut] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SSSummary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SSSummary]("space_saving",
        org.apache.spark.sql.Encoders.product[SSSummary], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[HeavyIn],
        timers: TimerValues): Iterator[HeavyOut] = {
      val cur = if (state.exists()) state.get() else SSSummary(Nil, Nil, Nil)
      val counts = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
      cur.items.indices.foreach { i =>
        counts(cur.items(i)) = (cur.counts(i), cur.errs(i))
      }
      rows.toSeq.map(_.item).sorted.foreach { it =>
        counts.get(it) match {
          case Some((c, e)) => counts(it) = (c + 1, e)
          case None if counts.size < capacity => counts(it) = (1L, 0L)
          case None =>
            // evict the min-count counter (ties: lexicographic item, so
            // the choice is deterministic); the newcomer inherits its
            // count as the overestimate bound
            val (minItem, (minC, _)) =
              counts.minBy { case (i2, (c2, _)) => (c2, i2) }
            counts.remove(minItem)
            counts(it) = (minC + 1, minC)
        }
      }
      val snap = counts.toSeq
      state.update(SSSummary(snap.map(_._1), snap.map(_._2._1),
        snap.map(_._2._2)))
      snap.iterator.map { case (it, (c, e)) => HeavyOut(key, it, c, e) }
    }
  }

  /** See [[SpaceSavingProcessor]]; `items` is (group, item). */
  def heavyHittersStream(items: Dataset[(String, String)], capacity: Int = 8)(
      implicit spark: SparkSession): Dataset[HeavyOut] = {
    import spark.implicits._
    items
      .map { case (g, it) => HeavyIn(g, it) }
      .groupByKey(_.group)
      .transformWithState(new SpaceSavingProcessor(capacity),
        TimeMode.None(), OutputMode.Update())
  }

  /** The built-in session_window twin of [[sessionize]]: event-time gap
    * sessions closed by the WATERMARK (not processing-time timeouts), so
    * results are deterministic in event time and late data inside the
    * watermark still extends its session. State is merge-sorted per key by
    * the engine; one row per closed session in Append mode. Prefer this
    * for event-time semantics; [[sessionize]] remains the template for
    * custom state (fields the built-in can't carry). */
  def sessionWindowCounts(events: DataFrame, gapSecs: Long = 1800,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSecs seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        // window end = last event + gap, so subtract the gap back out to
        // get first→last span, [[sessionize]]'s duration_secs
        (unix_timestamp(col("session_window.end"))
          - unix_timestamp(col("session_window.start"))
          - gapSecs).as("duration_secs"),
        col("n_events"))

  /** One CDC merge step: reduce new rows to the latest state per user and
    * merge them over the current state table — the q74 keep-latest logic
    * (DuckDB-oracled there) applied incrementally. The merge input is
    * |keys in batch| + |table|, never the full history. Plain parquet has
    * no atomic MERGE, so the new table is written next to the old one and
    * swapped; on a table format (Delta/Iceberg) this step IS `MERGE INTO`
    * and the swap disappears. */
  def upsertBatch(batch: DataFrame, tableDir: String): Unit = {
    val spark = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("latest_ts").desc, col("latest_event_id").desc)
    val incoming = batch.select(col("user_id"),
      col("event_id").as("latest_event_id"), col("ts").as("latest_ts"),
      col("event_type").as("latest_type"))
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(path)) spark.read.parquet(tableDir) else incoming.limit(0)
    val merged = incoming.unionByName(current)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val tmp = new org.apache.hadoop.fs.Path(tableDir + "__tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(path, true)
    fs.rename(tmp, path)
  }

  /** Additive CDC merge for the vspace term-stats table (A2's DF/TF/tdsum,
    * `TextQueries.termStats` semantics): the batch's per-token increments
    * are SUM-merged into the standing table. Because DF/TF/tdsum are all
    * pure sums over docs, incremental maintenance is exact — after any
    * batch split, the table equals the batch recompute (pinned in the
    * spec). Merge input is |batch vocab| + |table vocab|, never the doc
    * history; on Delta/Iceberg this is `MERGE INTO … UPDATE SET x = x+inc`
    * and the tmp-swap disappears. */
  def termStatsUpsertBatch(batchDocs: DataFrame, tableDir: String): Unit = {
    val spark = batchDocs.sparkSession
    val inc = termStatsOf(batchDocs)
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(path)) spark.read.parquet(tableDir) else inc.limit(0)
    val merged = inc.unionByName(current)
      .groupBy(col("token"))
      .agg(sum(col("document_frequency")).as("document_frequency"),
        sum(col("term_frequency")).as("term_frequency"),
        sum(col("tdsum")).as("tdsum"))
    val tmp = new org.apache.hadoop.fs.Path(tableDir + "__tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(path, true)
    fs.rename(tmp, path)
  }

  /** The term-stats aggregation itself (A2's DF/TF/tdsum over (doc_id,
    * text) docs) — factored out of [[termStatsUpsertBatch]] so the
    * reconciliation helpers recompute with DEFINITIONALLY the same
    * aggregation the incremental merge applies. */
  def termStatsOf(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("wc"),
        explode(graft.functions.ngram_counts(col("toks"), 1)).as("e"))
      .select(col("wc"), col("e.token").as("token"), col("e.tf").as("tf"))
    graft.operators.Stats.computeStats(perDoc, Seq("token"))
  }

  /** Reconciliation DIFF for the additive term-stats table — the
    * actionable half of [[ingestPipelineBatch]]'s warnings: both the
    * cross-stream marker case ("the additive table may already hold rows
    * a fresh stream will re-offer") and the corrupt-marker failure
    * ("reconcile the stats table, then delete the marker") need the
    * operator to compare the table against a ground-truth recompute.
    *
    * `docs` is the authoritative ingested-document set (whatever the
    * stream actually committed — e.g. the deduped corpus table the same
    * pipeline maintains); the expected stats are [[termStatsOf]] over it,
    * definitionally the aggregation the incremental merge sums. Returns
    * one row per DIVERGENT token: (token, expected_df/tf/tdsum,
    * actual_df/tf/tdsum), where a token missing from the table carries
    * NULL actuals and a token wrongly present carries NULL expecteds.
    * Empty result = table is exactly the recompute. */
  def reconcileTermStats(docs: DataFrame, tableDir: String): DataFrame = {
    val spark = docs.sparkSession
    val expected = termStatsOf(docs)
      .select(col("token"), col("document_frequency").as("expected_df"),
        col("term_frequency").as("expected_tf"), col("tdsum").as("expected_tdsum"))
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actual =
      (if (fs.exists(path)) spark.read.parquet(tableDir)
       else termStatsOf(docs).limit(0))
        .select(col("token"), col("document_frequency").as("actual_df"),
          col("term_frequency").as("actual_tf"), col("tdsum").as("actual_tdsum"))
    expected.join(actual, Seq("token"), "full_outer")
      .filter(!(col("expected_df") <=> col("actual_df")) ||
        !(col("expected_tf") <=> col("actual_tf")) ||
        !(col("expected_tdsum") <=> col("actual_tdsum")))
  }

  /** Reconciliation REPAIR: overwrite the term-stats table with the
    * [[termStatsOf]] recompute over `docs` (same atomic tmp-swap as the
    * merge) and, by default, delete the commit marker — after a repair
    * the table reflects exactly `docs`, so any old marker (another
    * stream's, or the corrupt one being recovered from) is stale; the
    * next stream run starts from batch 0 against a correct table.
    * Returns the number of divergent tokens that were corrected (0 = the
    * table was already exact; the swap still runs, making repair
    * idempotent). Logs the correction count. */
  def repairTermStats(docs: DataFrame, tableDir: String,
      dropCommitMarker: Boolean = true): Long = {
    val spark = docs.sparkSession
    val divergent = reconcileTermStats(docs, tableDir).count()
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(tableDir + "__tmp")
    termStatsOf(docs).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(path, true)
    fs.rename(tmp, path)
    if (dropCommitMarker)
      fs.delete(new org.apache.hadoop.fs.Path(tableDir + "__commit"), false): Unit
    System.err.println(
      s"[graft] repairTermStats: rewrote $tableDir from the document set " +
      s"($divergent divergent token(s) corrected" +
      (if (dropCommitMarker) "; commit marker dropped)" else ")"))
    divergent
  }

  /** Streaming vocabulary-statistics maintenance: docs stream in, the
    * term-stats warehouse table stays current — the streaming twin of the
    * reference's batch stats job (q21). Exactly-once caveat: an additive
    * merge is NOT idempotent under batch replay, so a production deploy
    * records the committed batch id next to the table and skips replays;
    * here the checkpoint's at-least-once is accepted for the template. */
  def termStatsStream(docs: DataFrame, tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        termStatsUpsertBatch(batch, tableDir)
      }
      .start()

  /** The composed streaming ingest pipeline in ONE query — the streaming
    * twin of the batch training-data chain (read → exact dedup → near-dup
    * drop → term stats): watermark-bounded exact dedup on the content
    * digest (stateful `dropDuplicatesWithinWatermark` — replayed or
    * re-crawled documents are dropped while their key is within the
    * watermark) feeds a foreachBatch sink that (a) drops documents
    * near-duplicating the STANDING corpus — the batch MinHash band keys
    * of the micro-batch, LEFT ANTI the static band index, exactly the
    * candidate-level drop [[nearDupFlags]] flags — and (b) additively
    * merges the survivors' term stats into the warehouse table
    * ([[termStatsUpsertBatch]]; exact because DF/TF/tdsum are pure sums).
    * `docs` must carry (doc_id, `eventTimeCol`, digest, text). The spec
    * pins the composition end-to-end: after replayed duplicates and a
    * corpus near-dup flow through, the table equals the batch recompute
    * over exactly the unique, non-near-dup documents.
    *
    * Replay guard: an additive merge is NOT idempotent under foreachBatch's
    * at-least-once, so the committed batch id is recorded next to the table
    * (`tableDir + "__commit"`) and an already-committed batch id is skipped
    * — the standard restart path (Structured Streaming re-offers the last
    * un-checkpointed batch) no longer double-counts DF/TF/tdsum. The
    * residual window is a crash BETWEEN the table swap and the marker
    * write (one batch double-counted once); closing it needs a sink with
    * transactional batch-id storage (Delta/Iceberg `txn` metadata). */
  def ingestPipelineStream(docs: DataFrame, corpusIndex: DataFrame,
      tableDir: String, checkpointDir: String,
      eventTimeCol: String = "ts", watermark: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val deduped = dedupStream(docs, eventTimeCol, watermark, Seq("digest"))
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the checkpoint location IS the batch-id namespace: Structured
        // Streaming numbers batches per checkpoint, so the marker must
        // carry it or a restart with a FRESH checkpoint (batchId back at
        // 0) would silently skip every batch up to the old marker
        ingestPipelineBatch(batch, corpusIndex, tableDir, batchId,
          streamId = checkpointDir): Unit
      }
      .start()
  }

  /** The foreachBatch body of [[ingestPipelineStream]], extracted so the
    * replay guard is directly testable: an already-committed batchId is a
    * no-op (returns false); otherwise the near-dup drop + term-stats merge
    * run and the committed id marker advances (returns true).
    *
    * `streamId` is the batch-id NAMESPACE (the checkpoint location):
    * batch ids are per-checkpoint, so a marker written under a different
    * streamId never suppresses this stream's batches — it is warned about
    * (the additive table may already contain data the new stream will
    * re-offer; only the caller can know) and treated as no-commit. The
    * marker itself is written atomically (temp file + rename-with-
    * overwrite), so a crash mid-write can never leave a half-written
    * marker; an unparseable marker therefore means external tampering and
    * fails loudly instead of wedging every subsequent batch on a parse
    * error or silently double-counting. */
  def ingestPipelineBatch(batch: DataFrame, corpusIndex: DataFrame,
      tableDir: String, batchId: Long, streamId: String = ""): Boolean = {
    val commitPath = new org.apache.hadoop.fs.Path(tableDir + "__commit")
    val hadoopConf = batch.sparkSession.sparkContext.hadoopConfiguration
    val fs = commitPath.getFileSystem(hadoopConf)
    // marker format: "<streamId>\n<batchId>" (legacy bare "<batchId>"
    // markers — no identity line — are honored as belonging to this stream)
    val lastCommitted =
      if (!fs.exists(commitPath)) -1L
      else {
        val in = fs.open(commitPath)
        val raw =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = raw.split("\n", -1).map(_.trim)
        val parsed: Option[(String, Long)] = lines match {
          case Array(id, b, _*) if b.nonEmpty && b.forall(_.isDigit) =>
            Some((id, b.toLong))
          case Array(b) if b.nonEmpty && b.forall(_.isDigit) =>
            Some((streamId, b.toLong)) // legacy single-line marker
          case _ => None
        }
        parsed match {
          case None =>
            // atomic writes make a torn marker impossible; an unparseable
            // one is corruption — failing is recoverable (delete the
            // marker after reconciling the table), silence is not
            throw new IllegalStateException(
              s"ingestPipelineBatch: unparseable commit marker at " +
              s"$commitPath (${raw.take(80)}...) — refusing to guess; " +
              "reconcile the stats table, then delete the marker")
          case Some((id, b)) if id == streamId => b
          case Some((id, b)) =>
            System.err.println(
              s"[graft] ingestPipelineBatch: commit marker at $commitPath " +
              s"belongs to stream '$id' (batch $b), not '$streamId' — " +
              "treating as no prior commit; NOTE the additive stats table " +
              "may already hold rows a fresh stream will re-offer")
            -1L
        }
      }
    if (batchId <= lastCommitted) {
      System.err.println(
        s"[graft] ingestPipelineBatch: skipping replayed batch $batchId " +
        s"(committed through $lastCommitted for stream '$streamId')")
      false
    } else {
      val flagged = graft.operators.NearDup.probe(batch, corpusIndex)
        .select(col("doc_id")).distinct()
      val clean = batch.join(flagged, Seq("doc_id"), "left_anti")
      termStatsUpsertBatch(clean, tableDir)
      // atomic marker advance: write a temp file, rename OVER the old
      // marker (FileContext.rename(OVERWRITE) is atomic on posix and
      // HDFS) — a crash anywhere leaves either the old marker or the new
      // one, never a truncated file
      val tmpPath = new org.apache.hadoop.fs.Path(
        tableDir + s"__commit.tmp.$batchId")
      val out = fs.create(tmpPath, true)
      try out.write(s"$streamId\n$batchId".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(commitPath.toUri, hadoopConf)
        .rename(tmpPath, commitPath,
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      true
    }
  }

  /** Streaming CDC keep-latest upsert: each micro-batch flows through
    * [[upsertBatch]] via foreachBatch — the standard stream-to-warehouse
    * MERGE shape (arbitrary batch logic per trigger, exactly-once via the
    * checkpoint's batch-id dedup as long as the merge is idempotent,
    * which keep-latest is). The streaming twin of batch q74. */
  def upsertLatestStream(events: DataFrame, tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, tableDir)
      }
      .start()

  /** Convenience: stream the testdata events parquet as a file source. */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // File streams need an explicit schema; probe it with a batch read so
    // the stream tolerates both testdata generations (ts as raw nanos
    // BIGINT vs. native TIMESTAMP micros) — same normalisation as Tables.
    val probed = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(probed).parquet(dir)
    probed("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the sink table name (test/dev helper). */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
  }
}
