package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the events table.
  *
  * The declared query runs the real streaming engine (FileStreamSource ->
  * windowed stateful aggregation -> memory sink) with Trigger.AvailableNow,
  * so a bounded run is reproducible and oracle-comparable against the batch
  * equivalent; on a cluster the same pipeline with a kafka source, a
  * watermark, and append mode is the intended deployment (watermarked
  * variants are exercised in StreamingSpec with a controllable source).
  */
object EventsStreaming {

  /** Raw events schema AS STORED in this sfDir's parquet — probed from the
    * file footer, not declared, because the testdata generator has shipped
    * `ts` as both TIMESTAMP(NANOS) (→ long nanos under the legacy conf)
    * and TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ). FileStreamSource requires an
    * explicit schema, and declaring the wrong one doesn't crash — a LONG
    * schema over a micros file yields micros-as-long, which a nanos
    * conversion then silently shrinks 1000×. Probing makes that failure
    * mode structurally impossible; the matching value conversion lives in
    * graft.Engine.normalizeEventsTs (one definition for batch + both
    * stream reads).
    */
  def rawSchema(spark: SparkSession, sfDir: String): StructType =
    graft.Engine.eventsStoredSchema(spark, sfDir)

  /** Runs `body` (a streaming start/await/stop) with
    * `spark.sql.shuffle.partitions` set to the state-partition count, then
    * restores the session value for the batch work that follows.
    *
    * A stateful streaming query turns the shuffle-partition setting at
    * START time into its state-store partition count — checkpointed for
    * the query's LIFETIME — and every micro-batch pays a per-store commit
    * (delta file + maintenance) on each one. So the right number tracks
    * the STATE volume and arrival throughput, not the box's core count: a
    * symmetric-hash join here keeps 4 stores per partition, and at 32
    * partitions a bounded local run spends more wall-clock on 128 store
    * commits than on the data. `spark.graft.streamStateParts` (default 8)
    * sizes the bounded declared queries; a kafka deployment at cluster
    * scale sets it to hundreds ONCE, before first start, and keeps it for
    * the checkpoint's life. The special value `auto` derives the count
    * from the query's own state-row estimate (`stateRows` — a cheap batch
    * count over the same source, the dry-run equivalent) via
    * [[autoStateParts]].
    *
    * NOT thread-safe: the shuffle-partition setting is session-global, so
    * a concurrent batch query in the same session during the window plans
    * with the streaming value, and overlapping calls can restore a stale
    * prior. The bench/verify harness is sequential by construction; a
    * multi-tenant service should give streaming starts their own cloned
    * session (`spark.newSession()`), which shares the catalog but scopes
    * the conf.
    */
  private def withStateParts[T](spark: SparkSession, stateRows: () => Long = null)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val parts = graft.GraftConf.StreamStateParts(spark).getOrElse(
      autoStateParts(if (stateRows == null) -1L else stateRows()))
    spark.conf.set(key, parts.toString)
    // Skip the trailing zero-input micro-batch (round 21): after the data
    // batch, AvailableNow schedules one more batch purely to advance the
    // watermark and evict state — a full per-store commit cycle (~0.8-1.9 s
    // measured on the attrib lane) that cannot change THESE queries'
    // output. Every declared streaming lane emits eagerly: the aggregation
    // lanes run in complete mode (each data batch re-emits full state),
    // the dedup lane appends first-seen rows in the batch that carries
    // them, and the attribution join is INNER (matches emit on arrival;
    // the outer variants that only emit on watermark passage are
    // deliberately not declared — see attributionJoin's note). Eviction
    // itself is pointless here: the bounded run discards all state at
    // stop. A production query whose output mode withholds rows until the
    // watermark passes (outer joins, append-mode aggregation) must keep
    // no-data batches on — this override is scoped to the bounded starts.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val priorNoData = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    try body finally {
      spark.conf.set(key, prior)
      spark.conf.set(noDataKey, priorNoData)
    }
  }

  /** State-store partition count for `streamStateParts=auto`: one store
    * per ~16k state rows (the volume a store's per-micro-batch commit
    * cost amortizes against — at sf0.1 this lands on the measured-tuned
    * value: 100k dedup keys → 8 stores, where 32 ran 2.2x slower on
    * commit overhead), rounded up to a power of two, clamped to [1, 64]
    * locally. A negative estimate (caller couldn't produce one) falls
    * back to the tuned default 8. Cluster deployments with real state
    * volumes size explicitly — this automates the bounded/local regime.
    */
  private[graft] def autoStateParts(stateRows: Long): Int = {
    if (stateRows < 0) return 8
    val target = 16384L
    val need = math.min(64L, math.max(1L, (stateRows + target - 1) / target)).toInt
    val pow = Integer.highestOneBit(need)
    if (pow == need) pow else math.min(pow * 2, 64)
  }

  /** Batch read of the same events file the streams consume — the cheap
    * state-row estimator source for `streamStateParts=auto` (count rows /
    * keys without starting a streaming query).
    */
  private def rawBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.Engine.normalizeEventsTs(
      spark.read.schema(rawSchema(spark, sfDir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))

  /** The streaming twin of [[rawBatch]], shared by every streaming query:
    * FileStreamSource wants a directory, so the events file is selected
    * out of the shared testdata dir with a glob filter, and the stored
    * timestamps (probed schema) become a real event-time column via the
    * shared normalization. One definition — a schema or conversion change
    * must not need four synchronized edits.
    */
  private def rawStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Engine.normalizeEventsTs(
      spark.readStream
        .schema(rawSchema(spark, sfDir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Hourly tumbling-window counts/sums per event_type, computed by the
    * streaming engine. Output matches the batch q25 shape:
    * (hour_epoch, event_type, n, value_cents).
    */
  def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // window(ts, '1 hour') buckets are EPOCH-aligned while the batch
    // q25's date_trunc('hour') truncates in the session timezone; the two
    // agree because Engine.session pins spark.sql.session.timeZone=UTC.
    // Under a non-whole-hour-offset zone (e.g. +05:30) they would
    // diverge — if the UTC pin is ever relaxed, window() needs a
    // startTime offset matching the zone.
    val agg = rawStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
    val name = "graft_stream_hourly"
    // auto estimate: state rows = live (hour window, event_type) groups.
    withStateParts(spark, () => rawBatch(spark, sfDir)
        .select(date_trunc("hour", col("ts")), col("event_type"))
        .distinct().count()) {
      val q = agg.writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    spark.table(name)
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("value_cents"))
      .orderBy("hour_epoch", "event_type")
  }

  /** Stream-static join: the streaming events enriched against the static
    * customer dimension (no state needed — the static side is re-read per
    * micro-batch and broadcast when small), then aggregated per market
    * segment. On a cluster this is the standard dimension-enrichment shape
    * for a kafka stream against a slowly-changing parquet table.
    */
  /** The streaming aggregation plan behind [[enrichedBySegment]], exposed
    * so StreamingSpec can start it and assert the micro-batch join
    * strategy. The dimension side carries an EXPLICIT broadcast hint: the
    * static side of a stream-static join is re-planned every micro-batch
    * from size estimates, and a mis-estimate silently shuffles the whole
    * stream each batch — the hint pins the only sane strategy for a
    * dimension that fits an executor (Spark never spontaneously broadcasts
    * the streaming side).
    */
  private[graft] def enrichedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = rawStream(spark, sfDir) // ts unused here; pruned by Catalyst
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    stream
      .join(broadcast(customers), stream("user_id") === customers("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
  }

  def enrichedBySegment(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "graft_stream_enriched"
    // auto estimate: (segment x event_type) groups — segments bounded at 5.
    withStateParts(spark, () => rawBatch(spark, sfDir)
        .select("event_type").distinct().count() * 5) {
      val q = enrichedAgg(spark, sfDir).writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    spark.table(name).orderBy("c_mktsegment", "event_type")
  }

  /** Native streaming session windows: the engine's own gap-based
    * `session_window` run INSIDE the streaming engine — windows merge as
    * events arrive (state per (user, open session), merged on overlap).
    * Complete output mode, matching [[hourlyCounts]]' bounded-run
    * contract (append mode withholds every session the final watermark
    * hasn't passed, so a bounded run would under-report the tail; a
    * production kafka deployment uses withWatermark + append and accepts
    * emission-on-close latency). Output matches the batch q33 shape:
    * (user_id, session_start_epoch, n_events).
    */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = rawStream(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val name = "graft_stream_sessions"
    // auto estimate: state rows = open+closed sessions ~= distinct
    // (user, 30-min floor bucket) — an overcount of true gap-sessions
    // (adjacent buckets merge), the right side to err on for sizing.
    withStateParts(spark, () => rawBatch(spark, sfDir)
        .select(col("user_id"),
          (unix_micros(col("ts")) / (1800L * 1000000L)).cast("long"))
        .distinct().count()) {
      val q = agg.writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    spark.table(name)
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_epoch"),
        col("n_events"))
      .orderBy("user_id", "session_start_epoch")
  }

  /** Streaming deduplication: the same events feed read as TWO streams and
    * unioned (every event arrives twice — the at-least-once delivery shape
    * a kafka replay or backfill produces), then deduplicated by event_id
    * with `dropDuplicatesWithinWatermark`, so the dedup state is EVICTED
    * once the event-time watermark passes — bounded state on an unbounded
    * stream, unlike plain dropDuplicates whose key set grows forever. The
    * deduplicated append stream lands in a memory sink and is aggregated
    * in batch (chaining the stateful dedup straight into a stateful
    * aggregation is deliberately avoided — one stateful operator per
    * stream keeps the watermark semantics trivially auditable).
    *
    * Output matches the batch per-type aggregate over the ORIGINAL events:
    * (event_type, n, value_cents).
    */
  def dedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val doubled = rawStream(spark, sfDir).union(rawStream(spark, sfDir))
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val name = "graft_stream_dedup"
    // auto estimate: dedup state keys = distinct event ids ~= event count.
    withStateParts(spark, () => rawBatch(spark, sfDir).count()) {
      val q = deduped.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  /** The stream-stream join plan behind [[clickAttribution]], exposed so
    * StreamingSpec can assert the executed micro-batch strategy
    * (StreamingSymmetricHashJoin — both sides keep watermark-bounded
    * state, streamed against each other; no static side exists to
    * broadcast).
    */
  private[graft] def attributionJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def read() = rawStream(spark, sfDir)
    val clicks = read().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = read().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    // INNER join with a range predicate on both watermarked event-time
    // columns: the range is what lets the engine EVICT state (a click
    // older than watermark - 30 min can never match a future purchase).
    // Outer variants are deliberately avoided in the declared query: their
    // null-side results only emit once the watermark passes, so rows near
    // end-of-stream are withheld and the result would not be
    // batch-comparable.
    purchases.join(clicks,
      expr("""c_user = p_user AND
              click_ts >= purchase_ts - INTERVAL 30 MINUTES AND
              click_ts <= purchase_ts"""))
  }

  /** Stream-stream join: click→purchase attribution. For every purchase,
    * the clicks by the same user in the preceding 30 minutes, joined
    * ENTIRELY inside the streaming engine (symmetric hash join with
    * watermark-bounded buffers on both sides — the kafka↔kafka funnel
    * shape), then aggregated per user in batch off the append sink.
    *
    * Output: (user_id, n_pairs, n_purchases) for users with ≥1 attributed
    * pair.
    */
  def clickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "graft_stream_attrib"
    // auto estimate: both join buffers hold clicks + purchases (inner,
    // watermark-bounded) — count those rows.
    withStateParts(spark, () => rawBatch(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase")).count()) {
      val q = attributionJoin(spark, sfDir).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    spark.table(name)
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("purchase_id")).as("n_purchases"))
      .orderBy("user_id")
  }

  /** Input row for stateful sessionization. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Open-session state per user. Times are epoch millis. */
  final case class SessionAgg(startMs: Long, lastMs: Long, n: Long, sumValue: Double)

  /** A closed session, emitted when the event-time watermark passes the
    * session gap.
    */
  final case class SessionOut(
      user_id: Long, n_events: Long, duration_secs: Long, sum_value: Double)

  /** Custom streaming state: gap-based sessionization with
    * flatMapGroupsWithState + event-time timeout. A session closes (and is
    * emitted) when the watermark passes last-event + gap. The state per
    * user is O(1) — start/last/count/sum — so a billion-user stream holds
    * state proportional to distinct active users, not events.
    */
  def sessionize(events: Dataset[Ev], gapSecs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSecs * 1000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionAgg]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, (s.lastMs - s.startMs) / 1000L, s.sumValue))
          } else {
            // A micro-batch can carry a user's events spanning SEVERAL
            // sessions (bursty sources, backfill replay) — split on gaps
            // within the batch, emitting every session that closes, and
            // keep only the trailing open one in state. Merging the whole
            // batch into one session would silently under-split.
            val evs = rows.toArray.sortBy(_.ts.getTime)
            val closed = Seq.newBuilder[SessionOut]
            var open = state.getOption
            evs.foreach { ev =>
              val ms = ev.ts.getTime
              open match {
                case Some(s) if ms < s.startMs - gapMs =>
                  // Within-watermark late event more than a full gap BEFORE
                  // the open session's start: gap semantics place it in an
                  // EARLIER session, never this one. Emit it as its own
                  // closed session rather than stretching the open session
                  // backwards across a gap.
                  closed += SessionOut(userId, 1L, 0L, ev.value)
                case Some(s) if ms - s.lastMs <= gapMs =>
                  // min() on start matters for CROSS-batch late events:
                  // this batch is sorted, but a within-watermark event can
                  // arrive in a later batch BEFORE the open session's
                  // start — flatMapGroupsWithState does not drop late rows,
                  // so the session must extend backwards (bounded by the
                  // gap guard above), not just forwards.
                  open = Some(SessionAgg(math.min(s.startMs, ms),
                    math.max(s.lastMs, ms),
                    s.n + 1, s.sumValue + ev.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.n,
                    (s.lastMs - s.startMs) / 1000L, s.sumValue)
                  open = Some(SessionAgg(ms, ms, 1L, ev.value))
                case None =>
                  open = Some(SessionAgg(ms, ms, 1L, ev.value))
              }
            }
            val s = open.get
            state.update(s)
            // A late event merged into an old session can leave
            // lastMs+gap at-or-below the watermark other keys have already
            // advanced; setTimeoutTimestamp throws on a past timestamp, so
            // clamp just above the watermark — the timeout then fires in
            // the next batch and closes the session normally.
            state.setTimeoutTimestamp(
              math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1L))
            closed.result().iterator
          }
        })
  }
}
