package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming formulation of the incremental extract (SURVEY.md §1.1:
  * the reference polls a 4.5h window every 4h; the honest Spark shape
  * is a Structured Streaming source with watermark + windowed aggs).
  *
  * Every transform here is defined once and applied to EITHER a batch
  * or a streaming DataFrame — the ScalaTest runs the same function over
  * readStream and asserts equality with the batch run, which is the
  * point: micro-batch replay of the polling loop with exactly-once
  * state instead of overlap-window dedup.
  */
object EventsStream {

  /** Tumbling 5-minute windowed aggregation by event type. On a stream,
    * pair with `withWatermark(df, "10 minutes")`.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("total_value"))

  def withWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Stream-static dimension enrichment: the event stream left-joins a
    * static dimension table. The dim side is broadcast — on a stream
    * this is the ONLY join shape that needs no state store at all
    * (each micro-batch joins against the same static relation), and
    * in batch it is the standard small-dim broadcast. The same call
    * works under readStream and as a plain batch join, which is what
    * the oracle and the stream≡batch spec both exploit.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String,
                    dimCols: Seq[String]): DataFrame = {
    val slim = dim.select((dimKey +: dimCols).map(col): _*)
    events.join(broadcast(slim), col(eventKey) === col(dimKey), "left")
      .drop(dimKey)
  }

  /** Trailing-window per-event features (online-ML feature
    * engineering): for every event, the count and value sum of the
    * SAME user's events in the preceding `windowUs` microseconds,
    * inclusive of the event itself. A RANGE-frame window — one shuffle
    * on user, one sort, no self-join; ties on ts_us share a frame, so
    * the result is ordering-independent and exact. `value` should be
    * pre-cast to DECIMAL by the caller when the sum feeds a
    * value-level oracle (double accumulation is order-dependent).
    */
  def trailingFeatures(events: DataFrame, windowUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-windowUs, org.apache.spark.sql.expressions.Window.currentRow)
    events.select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("n_trailing", count(lit(1)).over(w))
      .withColumn("sum_trailing", sum(col("value")).over(w))
      .drop("value")
  }

  /** Click attribution: each purchase joined to every click by the same
    * user within the preceding `window`. Defined once over two frames:
    * on batch inputs it's a plain range join; on WATERMARKED streaming
    * inputs the same call is a stream-stream interval join — the time-
    * range condition is what lets Spark expire join state, so the state
    * store holds only one window of clicks per user, not the stream's
    * history. Output carries integer-µs timestamps (engine-exact).
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
                      window: String = "30 minutes"): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"), col("ts_us").as("purchase_ts_us"))
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"), col("ts_us").as("click_ts_us"))
    p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $window") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("purchase_ts_us"),
        col("click_id"), col("click_ts_us"))
  }

  final case class SessionEvent(user_id: Long, ts_us: Long, value: Double)
  final case class SessionOut(user_id: Long, session_start_us: Long, n_events: Int, total_value: Double)
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Int, sumValue: Double)

  val sessionGapUs: Long = 30L * 60 * 1000000

  /** Batch sessionization (30-minute inactivity gap) with window
    * functions — lag flags session starts, a running sum numbers them.
    * This is the DuckDB-oracle-checkable twin of the stateful stream.
    *
    * Boundary semantics, stated explicitly: an event EXACTLY
    * `sessionGapUs` after its predecessor stays in the SAME session
    * here (strict `>` splits), whereas Spark's native
    * `session_window` (q_stream_session_window / q_session_lengths)
    * starts a NEW one (its window end is exclusive). The two operators
    * are intentionally independent formulations; don't swap one for
    * the other without accounting for the exact-boundary event.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    events
      .withColumn("__new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > sessionGapUs, 1)
          .when(lag(col("ts_us"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("__session", sum(col("__new_session")).over(byUser))
      .groupBy(col("user_id"), col("__session"))
      .agg(min(col("ts_us")).as("session_start_us"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_start_us"), col("n_events"), col("total_value"))
  }

  /** Streaming sessionization via typed state (the
    * KeyValueGroupedDataset.flatMapGroupsWithState surface). Emits
    * closed sessions; with ProcessingTimeTimeout the in-flight session
    * closes when the group goes quiet. The unit test drives it with
    * Trigger.AvailableNow and compares against sessionizeBatch.
    */
  def sessionizeStream(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // Micro-batch may deliver unordered rows; order within batch.
          val sorted = rows.toSeq.sortBy(_.ts_us)
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us < s.startUs - sessionGapUs =>
                // An event more than the gap BEFORE the session's start
                // cannot belong to it. Emit it as its own CLOSED past
                // session — exactly what the batch twin produces for an
                // isolated late event — and leave the current session's
                // state untouched. Residual cross-batch limit, stated
                // honestly: if OTHER late events near it arrive in yet
                // later batches, the batch twin would merge them while
                // this emits them separately (state holds one window
                // per user); bound such lateness with a watermark.
                closed += SessionOut(user, e.ts_us, 1, e.value)
              case Some(s) if e.ts_us - s.lastUs <= sessionGapUs =>
                // min/max, not assignment: a moderately LATE event from
                // a later micro-batch (ts within the gap below lastUs —
                // possibly extending the session backward) merges here,
                // and naively setting lastUs backward would wrongly
                // re-split the session for the next on-time event while
                // keeping a too-late session_start.
                cur = Some(s.copy(
                  startUs = math.min(s.startUs, e.ts_us),
                  lastUs = math.max(s.lastUs, e.ts_us),
                  nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
              case Some(s) =>
                closed += SessionOut(user, s.startUs, s.nEvents, s.sumValue)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          closed.result().iterator
      }
  }

  final case class TrendEvent(window_start_us: Long, term: String)
  final case class TrendOut(window_start_us: Long, rank: Int, term: String, cnt: Long)

  /** Trending heavy hitters per tumbling window — batch twin: the
    * SpaceSaving sketch aggregate over (window, term). Bounded memory
    * at any term cardinality; exact (and oracle-checkable) while
    * `capacity` exceeds the per-window cardinality.
    */
  def trendingBatch(events: DataFrame, windowMinutes: Int, k: Int, capacity: Int): DataFrame =
    events
      .groupBy(window(col("ts"), s"$windowMinutes minutes").as("w"))
      .agg(graft.functions.TopKCount.of(col("event_type"), k, capacity).as("tk"))
      .select(col("w.start").as("window_start"), posexplode(col("tk")).as(Seq("idx", "e")))
      .select(col("window_start"), (col("idx") + 1).as("rank"),
        col("e.term").as("term"), col("e.cnt").as("cnt"))

  /** Streaming twin: the SAME sketch is the per-window stream state
    * (flatMapGroupsWithState keyed on the window start), updated per
    * micro-batch and re-emitting the window's current top-k — the
    * live "trending now" surface. State per window is one serialized
    * capacity-bounded summary, NOT the term set; a production deploy
    * would add an event-time timeout to drop window state once the
    * watermark passes the window end (same trade as sessionizeStream).
    */
  def trendingStream(events: Dataset[TrendEvent], k: Int, capacity: Int): Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.window_start_us)
      .flatMapGroupsWithState[Array[Byte], TrendOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (ws: Long, rows: Iterator[TrendEvent], state: GroupState[Array[Byte]]) =>
          val summary = state.getOption
            .map(graft.functions.TopKCount.Summary.fromBytes)
            .getOrElse(new graft.functions.TopKCount.Summary(capacity))
          rows.foreach(r =>
            summary.add(org.apache.spark.unsafe.types.UTF8String.fromString(r.term)))
          state.update(summary.toBytes)
          val arr = summary.topK(k)
          (0 until arr.numElements()).iterator.map { i =>
            val s = arr.getStruct(i, 3)
            TrendOut(ws, i + 1, s.getUTF8String(0).toString, s.getLong(1))
          }
      }
  }

  /** Exactly-once over overlapping poll windows. The reference re-reads
    * a 30-minute overlap on every 4-hour poll (the T-SQL window is
    * 4.5 h wide) and relies on downstream dedup to not double-load the
    * overlap rows. Batch twin: union the overlapping extraction windows
    * and keep one copy per key — overlap copies are identical rows, so
    * a full-row distinct is the deterministic formulation (and the
    * oracle is a plain SELECT DISTINCT). Streaming twin:
    * `dropDuplicatesWithinWatermark(key)` on the event-time-watermarked
    * stream — state for a key is held only within the watermark delay,
    * which is exactly the overlap width, so state stays bounded no
    * matter how long the stream runs.
    */
  def dedupOverlap(windows: Seq[DataFrame]): DataFrame =
    windows.reduce(_ unionByName _).distinct()

  def dedupStream(events: DataFrame, key: String, tsCol: String = "ts",
                  overlap: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, overlap).dropDuplicatesWithinWatermark(key)

  /** Micro-batch MERGE sink: every batch upserts into a partitioned
    * parquet table on `key` via the partition-pruned, crash-safe
    * `Sinks.upsertPartitioned`. The merge is idempotent on `key`, which
    * is the exactly-once story for a plain-parquet target: a replayed
    * micro-batch (checkpoint says it ran, sink crashed mid-write)
    * converges to the same table instead of duplicating rows as an
    * append sink would. The streaming twin of D2-at-scale.
    */
  def upsertSink(events: DataFrame, tablePath: String, key: String, partCol: String,
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sink.Sinks.upsertPartitioned(batch.sparkSession, tablePath, batch, key, partCol)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
