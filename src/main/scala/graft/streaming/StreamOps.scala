package graft.streaming

import graft.queries.EventTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming forms of the event-time operators (SURVEY.md §2.3
  * `stream_ingest`, `stream_late_data`, `stream_dedup`).
  *
  * The transforms are the SAME functions the batch oracle checks
  * ([[EventTime.tumblingHourly]], [[EventTime.sessions]]) — batch and
  * streaming share one code path, so t2 indirectly covers the streaming
  * logic (SURVEY.md §7.5 item 4). A micro-batch here ≙ one scheduled
  * invocation of the reference connector (task.ts:87).
  */
object StreamOps {
  /** One event row — the streaming-side schema of the events table. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Watermarked tumbling 1-hour aggregation (append-mode capable). */
  def tumblingWithWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    EventTime.tumblingHourly(events.withWatermark("ts", watermark))

  /** Tumbling aggregation without watermark — for complete-mode
    * batch-equivalence checks.
    */
  def tumbling(events: DataFrame): DataFrame = EventTime.tumblingHourly(events)

  /** Watermarked session windows per user. */
  def sessionsWithWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    EventTime.sessions(events.withWatermark("ts", watermark))

  /** Stateful streaming dedup on event_id, state bounded by watermark. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join (the canonical streaming enrichment):
    * for each 'error' event, the same user's 'click' events in the
    * preceding `window`. Both sides carry watermarks and the join
    * condition bounds event time on BOTH ends, so Spark can size and
    * expire the join state — unbounded-state stream joins are rejected
    * in append mode by design. A self-joined single source is still a
    * true stream-stream join (two stateful sides).
    */
  def errorClickJoin(events: DataFrame, watermark: String = "10 minutes",
                     window: String = "10 minutes"): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("u_err"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("u_click"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    errors.join(clicks,
      col("u_err") === col("u_click") &&
        col("click_ts") >= col("err_ts") - expr(s"INTERVAL $window") &&
        col("click_ts") <= col("err_ts"))
      .select(col("err_id"), col("u_err").as("user_id"), col("err_ts"),
        col("click_id"), col("click_ts"))
  }

  /** LEFT OUTER form of [[errorClickJoin]]: every error emits — enriched
    * when preceding clicks exist, with NULL click columns otherwise. The
    * outer side's null rows can only emit once the watermark proves no
    * matching click can still arrive, so unmatched errors surface one
    * watermark-advance later than matched ones (inner-join rows emit
    * immediately). Same bounded state as the inner join; the time-bound
    * condition is what makes the outer semantics decidable at all.
    */
  def errorClickJoinLeft(events: DataFrame, watermark: String = "10 minutes",
                         window: String = "10 minutes"): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("u_err"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("u_click"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    errors.join(clicks,
      col("u_err") === col("u_click") &&
        col("click_ts") >= col("err_ts") - expr(s"INTERVAL $window") &&
        col("click_ts") <= col("err_ts"),
      "left_outer")
      .select(col("err_id"), col("u_err").as("user_id"), col("err_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Per-user cumulative totals emitted each micro-batch. */
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 `transformWithState` form of [[runningUserTotals]]: the
    * arbitrary-state API with named, schema-evolvable state variables
    * (requires the RocksDB state store provider). Same semantics as the
    * flatMapGroupsWithState version — both are tested to agree.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserTotal] = {
      val (n0, v0) = Option(state.get()).getOrElse((0L, 0.0))
      var n = n0
      var v = v0
      rows.foreach { e => n += 1; v += e.value }
      state.update((n, v))
      Iterator.single(UserTotal(user, n, v))
    }
  }

  /** [[RunningTotalsProcessor]] wired onto a stream. */
  def runningUserTotalsTws(events: org.apache.spark.sql.Dataset[Event])
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** A closed session emitted by [[SessionCloseProcessor]]. */
  case class ClosedSession(user_id: Long, n_events: Long,
                           start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

  /** Timer-driven session close — the event-time TIMER surface of
    * `transformWithState` (the one stateful-API feature the
    * running-totals processor doesn't exercise): each user's state
    * carries (count, first, last); every batch re-arms one timer at
    * `last + gap`, and when the WATERMARK passes it the session is
    * emitted and cleared. This is the arbitrary-state formulation of
    * `win_session`/`EventTime.sessions` for pipelines that need to act
    * at close time (emit, write, alert) rather than aggregate after the
    * fact.
    */
  class SessionCloseProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[(Long, Long, Long)] = _ // (n, first, last) ms

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)]("session",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[ClosedSession] = {
      var (n, first, last) = Option(state.get()).getOrElse((0L, Long.MaxValue, 0L))
      rows.foreach { e =>
        val t = e.ts.getTime
        n += 1
        if (t < first) first = t
        if (t > last) last = t
      }
      state.update((n, first, last))
      // one armed timer per key: re-arm at the new session end.
      // listTimers() is a lazy iterator over timer state — materialise
      // it BEFORE deleting, or the deletes mutate the state under the
      // live iterator (surfaces only on the re-arm path, i.e. a key
      // seen in two different micro-batches).
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val out = Option(state.get()).map { case (n, first, last) =>
        ClosedSession(user, n, new java.sql.Timestamp(first), new java.sql.Timestamp(last))
      }
      state.clear()
      out.iterator
    }
  }

  /** [[SessionCloseProcessor]] wired onto a watermarked stream. */
  def sessionClose(events: org.apache.spark.sql.Dataset[Event],
                   gap: String = "1 minute", watermark: String = "1 second")
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    // month-bearing intervals have no fixed millisecond length — a
    // "1 month" gap would silently become 0 ms; reject it loudly
    require(gapMs.months == 0,
      s"sessionClose gap must be day-time ('$gap' has months); use days/hours/minutes")
    val ms = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    require(ms > 0, s"sessionClose gap must be positive, got '$gap'")
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(ms),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** A closed merged interval emitted by [[IntervalMergeProcessor]] —
    * the streaming row shape of the batch `win_interval_merge` query.
    */
  case class MergedInterval(user_id: Long, merged_start: java.sql.Timestamp,
                            merged_end: java.sql.Timestamp, n_events: Long)

  /** Streaming overlapping-interval coalesce — `win_interval_merge`'s
    * streaming form (round 11). Each event opens a span
    * [ts, ts + spanMs); per user, overlapping-or-touching spans merge
    * incrementally into the open-interval LIST state (normally one
    * entry; out-of-order arrivals inside the watermark can briefly hold
    * disjoint earlier intervals, which is why the state is a list and
    * not a scalar). An interval closes when the WATERMARK passes its
    * max end: any future event has ts ≥ watermark > maxEnd, so it can
    * never touch-or-overlap again — the emission is final, with the
    * exact batch semantics (touching merges: s ≤ maxEnd, the batch
    * query's `s > pmax` negated; closes strictly: maxEnd < watermark).
    *
    * State is O(open intervals per user), independent of event count —
    * the merge happens at ingest, not at query time. One armed timer
    * per key at (earliest open end + 1 ms), re-armed on change (the
    * GridResample discipline; listTimers materialised before deleting).
    */
  class IntervalMergeProcessor(spanMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, MergedInterval] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders

    // open merged intervals, sorted by start: (startMs, endMs, count)
    @transient private var open: ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState[(Long, Long, Long)]("open",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def rearm(intervals: Seq[(Long, Long, Long)]): Unit = {
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      if (intervals.nonEmpty)
        getHandle.registerTimer(intervals.map(_._2).min + 1L)
    }

    /** Sort by (start, end) and coalesce touching-or-overlapping runs —
      * the batch query's running-max grouping, replayed locally over
      * the (tiny) open set plus this batch's spans.
      */
    private def coalesce(all: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
      val sorted = all.sortBy(t => (t._1, t._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { case (s, e, n) =>
        if (out.nonEmpty && s <= out.last._2) {
          val (ps, pe, pn) = out.last
          out(out.size - 1) = (ps, math.max(pe, e), pn + n)
        } else out += ((s, e, n))
      }
      out.toSeq
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[MergedInterval] = {
      val spans = rows.map(e => (e.ts.getTime, e.ts.getTime + spanMs, 1L)).toSeq
      val merged = coalesce(open.get().toSeq ++ spans)
      open.put(merged.toArray)
      rearm(merged)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[MergedInterval] = {
      val wm = timers.getCurrentWatermarkInMs()
      val (closed, stillOpen) = open.get().toSeq.partition(_._2 < wm)
      if (stillOpen.isEmpty) open.clear() else open.put(stillOpen.toArray)
      rearm(stillOpen)
      closed.sortBy(_._1).map { case (s, e, n) =>
        MergedInterval(user, new java.sql.Timestamp(s),
          new java.sql.Timestamp(e), n)
      }.iterator
    }
  }

  /** [[IntervalMergeProcessor]] wired onto a watermarked stream. */
  def intervalMerge(events: org.apache.spark.sql.Dataset[Event],
                    span: String = "5 minutes", watermark: String = "1 second")
      : org.apache.spark.sql.Dataset[MergedInterval] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(span))
    require(iv.months == 0,
      s"intervalMerge span must be day-time ('$span' has months); use days/hours/minutes")
    val ms = iv.days * 86400000L + iv.microseconds / 1000L
    require(ms > 0, s"intervalMerge span must be positive, got '$span'")
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new IntervalMergeProcessor(ms),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One emitted grid cell of [[gridResample]] — the streaming row shape
    * of the batch `ts_resample` query (same columns, same fill rule).
    */
  case class GridPoint(user_id: Long, hour: java.sql.Timestamp,
                       v_avg: Option[Double], n_events: Long,
                       is_gap: Boolean, v_filled: Option[Double])

  /** Streaming regular-grid resample with LOCF gap fill — `ts_resample`'s
    * streaming form. Per user, hourly means are accumulated in a MapState
    * of open hours; when the WATERMARK closes an hour, it is emitted in
    * grid order together with synthetic rows for every skipped hour in
    * between (v_avg null, n_events 0, is_gap true, v_filled carried
    * forward from the last real hour). Like the batch grid (which spans
    * [first, last] event hour), gaps are filled BETWEEN observed hours
    * only — no timer fires forever after the last event.
    *
    * The hourly mean replicates the batch query's arithmetic exactly:
    * values are accumulated as HALF_UP 2-dp cents (the decimal(18,2)
    * cast), and cents/100.0/n divides in double — bit-identical to
    * casting the exact decimal sum to double and dividing.
    */
  class GridResampleProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, GridPoint] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    private val HourMs = 3600000L
    // open hours: hourMs -> (sumCents, n)
    @transient private var pending: MapState[Long, (Long, Long)] = _
    // LOCF continuity: (last closed hourMs, its mean)
    @transient private var lastClosed: ValueState[(Long, Double)] = _
    // expiry of the one armed timer — re-arming only on CHANGE avoids a
    // delete+register pair of timer-state writes per key per micro-batch
    // (pure write amplification for a key that receives events every
    // batch: the earliest open hour rarely moves)
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, (Long, Long)]("pending",
        Encoders.scalaLong, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      lastClosed = getHandle.getValueState[(Long, Double)]("lastClosed",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** HALF_UP 2-dp cents — the exact mirror of `cast(value as decimal(18,2))`. */
    private def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[GridPoint] = {
      // rows here are never older than the watermark (TimeMode.EventTime
      // drops late input before the processor), so an already-CLOSED hour
      // can never reopen — lastClosed only moves forward.
      rows.foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, HourMs) * HourMs
        val (s0, n0) = Option(pending.getValue(h)).getOrElse((0L, 0L))
        pending.updateValue(h, (s0 + cents(e.value), n0 + 1))
      }
      // one armed timer per key, at the earliest open hour's end;
      // re-arm only if that target CHANGED (covers a within-watermark
      // event opening an hour EARLIER than the current minimum too)
      val hours = pending.keys().toSeq
      if (hours.nonEmpty) {
        val want = hours.min + HourMs
        val cur = if (armed.exists()) armed.get() else 0L
        if (cur != want) {
          if (cur != 0L) getHandle.deleteTimer(cur)
          getHandle.registerTimer(want)
          armed.update(want)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[GridPoint] = {
      val wm = timers.getCurrentWatermarkInMs()
      val all = pending.iterator().toSeq.sortBy(_._1)
      val (closed, open) = all.partition { case (h, _) => h + HourMs <= wm }
      val out = Seq.newBuilder[GridPoint]
      var last = Option(lastClosed.get())
      closed.foreach { case (h, (s, n)) =>
        last.foreach { case (lh, lv) =>
          var g = lh + HourMs
          while (g < h) {
            out += GridPoint(user, new java.sql.Timestamp(g), None, 0L,
              is_gap = true, Some(lv))
            g += HourMs
          }
        }
        val avg = s / 100.0 / n
        out += GridPoint(user, new java.sql.Timestamp(h), Some(avg), n,
          is_gap = false, Some(avg))
        last = Some((h, avg))
        pending.removeKey(h)
      }
      last.foreach(lastClosed.update)
      if (open.nonEmpty) {
        val want = open.map(_._1).min + HourMs
        getHandle.registerTimer(want)
        armed.update(want)
      } else armed.clear()
      out.result().iterator
    }
  }

  /** [[GridResampleProcessor]] wired onto a watermarked stream. */
  def gridResample(events: org.apache.spark.sql.Dataset[Event],
                   watermark: String = "1 second")
      : org.apache.spark.sql.Dataset[GridPoint] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new GridResampleProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming ANN — approximate top-k neighbours for a STREAM of query
    * vectors against a static indexed corpus, closing the streaming
    * analogue of the `sim_ann` batch operator.
    *
    * Shape: the static side's LSH bucket index is built ONCE and
    * persisted ([[graft.operators.Ann.dataIndex]]); each micro-batch of
    * (vec_id, e) query rows then runs the exact batch operator
    * ([[graft.operators.Ann.lshTopK]] with the prebuilt index) inside
    * `foreachBatch` — the idiomatic Structured Streaming pattern for
    * whole-batch stream-static analytics that need per-group top-k
    * (append-mode window functions over an unbounded stream would need
    * per-query state and watermark closure for no benefit: a query's
    * candidates all arrive with the query row itself). Streaming results
    * are batch-identical BY CONSTRUCTION — it is the same code path.
    *
    * `onBatch` receives each batch's (qid, rn, vec_id, c) top-k frame
    * plus the batchId; foreachBatch replays a failed batch, so sinks
    * must be idempotent by batchId (same discipline as [[cdcMergeSink]]).
    */
  def annTopKSink(queries: DataFrame, data: DataFrame, k: Int = 5,
                  tables: Int = 16, planesPerTable: Int = 5, dim: Int = 64,
                  seed: Long = 42L, nprobe: Int = 0, checkpoint: String,
                  onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = graft.operators.Ann
      .dataIndex(data, tables, planesPerTable, dim, seed)
    index.keys.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no per-batch isEmpty probe: lshTopK on an empty batch yields an
    // empty frame and sinks must tolerate empty batches anyway — an
    // extra Spark job per trigger would double tiny-batch overhead
    // start() can throw before the termination listener below ever
    // registers (bad checkpoint path, duplicate query name) — unpersist
    // eagerly on that path or the 16×-corpus cache leaks for the session
    // lifetime (r6 advice).
    val q =
      try queries.writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val topk = graft.operators.Ann.lshTopK(batch, data, k,
            tables, planesPerTable, dim, seed, nprobe, index = Some(index))
          onBatch(topk, batchId)
        }
        .start()
      catch { case e: Throwable =>
        index.keys.unpersist(false)
        throw e
      }
    // the 16×-corpus cached index must die with the query, not the
    // session: unpersist on this query's termination (listener removes
    // itself — one registration per sink, no accumulation)
    val spark = queries.sparkSession
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            index.keys.unpersist(false)
            spark.streams.removeListener(this)
          }
      })
    q
  }

  /** Streaming CDC apply — the `foreachBatch` pattern for maintaining a
    * keyed snapshot from a change stream: each micro-batch of change
    * rows (upserts/tombstones + a version column) is merged onto the
    * current snapshot with [[graft.operators.Merge.applyCdc]] and the
    * result becomes the next snapshot.
    *
    * Snapshot storage is versioned-dir + pointer: every batch writes a
    * FRESH `snap_<batchId>` directory and then atomically swaps the
    * `LATEST` pointer file — never an in-place overwrite of the
    * directory being read (parquet reads are lazy; overwriting the
    * input mid-job corrupts it). Retried batches rewrite the same
    * batch-stamped dir and re-point — idempotent, so foreachBatch's
    * at-least-once becomes effectively exactly-once. This is precisely
    * the manifest/pointer discipline a transactional table format
    * (Delta/Iceberg) systematises; at production scale use one — the
    * merge itself is unchanged.
    *
    * Retention: superseded `snap_*` dirs from more than one batch ago
    * are deleted after the swap (the previous one is kept because a
    * concurrent reader may have just resolved the old pointer).
    */
  def cdcMergeSink(changes: DataFrame, snapshotDir: String,
                   keys: Seq[String], versionCol: String,
                   opCol: String, deleteOp: String,
                   checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val dataCols = changes.columns.filterNot(c => c == versionCol || c == opCol).toSeq
    val dataSchema = org.apache.spark.sql.types.StructType(
      changes.schema.fields.filter(f => dataCols.contains(f.name)))
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, batchId, snapshotDir, dataSchema, keys,
          versionCol, opCol, deleteOp)
      }
      .start()
  }

  /** One micro-batch of [[cdcMergeSink]] — public so the replay guard is
    * directly testable. REPLAY GUARD: foreachBatch re-runs a batch whose
    * pointer swap landed but whose streaming commit didn't (crash in
    * that window). Without the guard the replay would resolve LATEST to
    * its OWN snapshot and overwrite the directory it is lazily reading —
    * wedging the stream permanently (and retention would delete the
    * genuinely-previous generation). If LATEST already names this
    * batch's snapshot, the batch's effects are fully applied: skip.
    */
  def applyCdcBatch(batch: DataFrame, batchId: Long, snapshotDir: String,
                    dataSchema: org.apache.spark.sql.types.StructType,
                    keys: Seq[String], versionCol: String,
                    opCol: String, deleteOp: String): Unit = {
    val snapName = s"snap_$batchId"
    val s = batch.sparkSession
    // Hadoop FS, NOT java.nio: the snapshot parquet already goes through
    // Hadoop, so an hdfs:/// or s3a:/// snapshotDir must resolve the
    // pointer through the SAME filesystem — a driver-local java.nio read
    // would silently never see LATEST and merge every batch onto an
    // empty base.
    val fs = pointerFs(s, snapshotDir)
    val current = readPointer(fs, snapshotDir).getOrElse("")
    if (current != snapName) {
      val base = readSnapshot(s, snapshotDir, dataSchema)
      val merged = graft.operators.Merge.applyCdc(
        base, batch, keys, col(versionCol), opCol, deleteOp)
      merged.write.mode("overwrite").parquet(s"$snapshotDir/$snapName")
      swapPointer(s, snapshotDir, snapName)
    }
  }

  /** Resolve the current snapshot (empty frame with the data schema when
    * no batch has committed yet).
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, snapshotDir: String,
                   schema: org.apache.spark.sql.types.StructType): DataFrame =
    readPointer(pointerFs(spark, snapshotDir), snapshotDir) match {
      case Some(snap) => spark.read.schema(schema).parquet(s"$snapshotDir/$snap")
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  private def pointerFs(spark: org.apache.spark.sql.SparkSession,
                        snapshotDir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
                          snapshotDir: String): Option[String] = {
    val ptr = new org.apache.hadoop.fs.Path(snapshotDir, "LATEST")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } else None
  }

  /** Atomic pointer swap (write-temp + rename-with-overwrite) + retention
    * of the one previous snapshot. FileContext.rename(OVERWRITE) is the
    * Hadoop-wide atomic-replace primitive (plain FileSystem.rename
    * refuses an existing destination on HDFS).
    */
  private def swapPointer(spark: org.apache.spark.sql.SparkSession,
                          snapshotDir: String, snapName: String): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val dir = new Path(snapshotDir)
    val fs = pointerFs(spark, snapshotDir)
    fs.mkdirs(dir)
    val prev = readPointer(fs, snapshotDir)
    val tmp = new Path(dir, "LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(snapName.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(dir.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(dir, "LATEST"), Options.Rename.OVERWRITE)
    // delete snapshots older than the immediately-previous one
    val keep = Set(snapName) ++ prev
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("snap_") && !keep.contains(n)) {
        fs.delete(st.getPath, true)
        (): Unit
      }
    }
    (): Unit
  }

  /** Custom streaming state via `flatMapGroupsWithState` (the
    * KeyValueGroupedDataset surface): per user, carry (count, sum) state
    * across micro-batches and emit the updated running totals whenever
    * the user appears in a batch. The state is two numbers per key —
    * bounded by key cardinality, not event volume.
    */
  /** Exact incremental triangle maintenance over an edge stream —
    * `graph_triangles`' streaming form (round-15 verdict #7: decided
    * FOR implementation rather than an out-of-scope row, but NOT in
    * the watermark model — deliberately).
    *
    * Why this is a foreachBatch ACCUMULATOR and not a watermarked
    * stateful aggregation: an old edge never expires from
    * triangle-closing relevance (the triangle closed today may lean on
    * an edge from the first batch), so there is no event-time horizon
    * after which state may be evicted — the state IS the graph, and
    * any watermark would silently undercount. The literature's
    * watermark-friendly alternatives (TRIÈST-style reservoir sampling)
    * trade exactness for bounded state; this engine's batch operator
    * is exact, so its streaming form stays exact and prices the
    * O(edges) state honestly instead of hiding it behind a watermark.
    *
    * Incrementality: each micro-batch's NEW edges (canonicalized a<b,
    * deduped within and across batches) enumerate only the triangles
    * they close — [[graft.operators.Triangles.newTriangleRows]]'s
    * three disjoint slot cases, every join carrying the batch as a
    * side — so per-batch cost is batch-proportional, never a
    * re-enumeration. Cumulative per-node counts merge by full outer
    * coalesce; both accumulators live as snapshots
    * ([[graft.operators.Iterate.snap]]) with superseded blocks
    * freed per batch, so resident state is one generation of
    * (edges + counts) and the accumulated plan never regrows lineage.
    *
    * `onBatch` receives the CUMULATIVE (node, n_triangles) frame after
    * each batch — by construction equal to
    * [[graft.operators.Triangles.perNodeCounts]] over every edge seen
    * so far (StreamingSpec pins the equality). Restart contract:
    * single-run WITHOUT `stateDir` (driver-local frames outside the
    * streaming checkpoint — a restart does not replay committed
    * batches; see [[editDistDedupSink]] for the full caveat);
    * restart-CORRECT with it ([[scd2Sink]]'s [[StreamState]] protocol
    * — O(seen-edges + nodes) committed per batch, the honest price of
    * exact cumulative triangle state).
    */
  def triangleCountSink(edges: DataFrame, checkpoint: String,
                        onBatch: (DataFrame, Long) => Unit,
                        stateDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Iterate, Triangles}
    val spark = edges.sparkSession
    // accumulated state: (wrapped frame, checkpoint handle) pairs
    var acc: DataFrame = null    // oriented edge set
    var counts: DataFrame = null // cumulative per-node
    var restored = false
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!restored) {
          restored = true
          stateDir.foreach { sd =>
            val sess = batch.sparkSession
            StreamState.latest(sess, sd, batchId).foreach { v =>
              acc = Iterate.snap(StreamState.frame(sess, sd, v, "edges"))
              counts = Iterate.snap(StreamState.frame(sess, sd, v, "counts"))
            }
          }
        }
        // canonicalize to the id order (the batch may carry either
        // orientation), drop self-loops and within-batch dupes, then
        // cross-batch dupes — newTriangleRows requires disjointness
        val canon = batch
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") < col("b"))
          .dropDuplicates("a", "b")
        val fresh0 =
          if (acc == null) canon
          else canon.join(acc, Seq("a", "b"), "left_anti")
        val fresh = Iterate.snap(fresh0)
        val delta = Triangles
          .newTriangleRows(
            if (acc == null) fresh.limit(0) else acc, fresh)
          .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        val merged =
          if (counts == null)
            delta.select(col("node"), col("d").as("n_triangles"))
          else counts.join(delta, Seq("node"), "full_outer")
            .select(col("node"),
              (coalesce(col("n_triangles"), lit(0L))
                + coalesce(col("d"), lit(0L))).as("n_triangles"))
        val newCounts = Iterate.snap(merged)
        val newAcc = Iterate.snap(
          if (acc == null) fresh else acc.unionAll(fresh))
        if (counts != null) Iterate.free(counts)
        if (acc != null) Iterate.free(acc)
        Iterate.free(fresh)
        counts = newCounts
        acc = newAcc
        // durable commit before the user sees the batch (the scd2Sink
        // crash-window analysis)
        stateDir.foreach { sd =>
          StreamState.write(batch.sparkSession, sd, batchId,
            Seq("edges" -> acc, "counts" -> counts))
        }
        onBatch(counts, batchId)
      }
      .start()
  }

  /** BOUNDED-STATE approximate triangle counting over an edge stream —
    * the TRIÈST-style option [[triangleCountSink]]'s own scaladoc names
    * (De Stefani, Epasto, Riondato & Upfal, KDD 2016; round-15 verdict
    * #5): where the exact sink prices O(edges) state honestly, this one
    * holds a FIXED reservoir of `m` edges and a scalar stream length —
    * the 100 TB bounded-state alternative, with the accuracy trade
    * declared instead of hidden.
    *
    * Design: a bottom-m PRIORITY sample instead of TRIÈST's sequential
    * per-edge coin flips — each canonical edge draws the deterministic
    * priority xxhash64(a, b), and the reservoir is the m smallest
    * priorities seen (ties broken by (a, b) — a total order). This is
    * the same uniform m-subset TRIÈST-BASE maintains, but MERGEABLE:
    * each batch is one union + orderBy-limit(m) over m + batch rows, so
    * the update distributes, and the final reservoir depends only on
    * the edge SET — the estimate is exactly invariant under re-batching
    * (spec-pinned), which sequential reservoir sampling cannot promise.
    * Estimator: triangles counted EXACTLY on the reservoir (three
    * [[graft.operators.Triangles]] equi joins over m rows), scaled by
    * the inverse sampling probability of a triangle surviving —
    * max(1, t(t−1)(t−2) / (m(m−1)(m−2))) — TRIÈST-BASE's unbiased
    * scale. With m ≥ t the reservoir holds everything and the estimate
    * is EXACT (scale 1).
    *
    * Contract: edges stream (a, b), canonicalized and deduped WITHIN a
    * batch here; each undirected edge must arrive ONCE across batches —
    * cross-batch dedup would need the O(edges) seen-set this sink
    * exists to avoid (use [[triangleCountSink]] when re-delivery is
    * possible; a Bloom front is the probabilistic middle ground).
    * Under at-least-once re-delivery the sink degrades as far as O(m)
    * state allows, no further: a re-delivered edge still RESIDENT in
    * the reservoir is fully ignored (anti-joined before the t count
    * and deduped in the merge — neither t nor the sample moves), but a
    * re-delivery of an edge the reservoir already evicted is
    * indistinguishable from a new edge, counts into t, and inflates
    * the t(t−1)(t−2) scale factor accordingly. That residual is the
    * price of bounded state, and it is part of this contract — not an
    * implementation accident.
    *
    * Restart contract: WITHOUT `stateDir`, single-run
    * ([[editDistDedupSink]]). WITH `stateDir` (round-16 verdict #2),
    * restart-CORRECT — and this sink is the NATURAL durable candidate:
    * the bottom-m priority sample is mergeable by design, so the whole
    * state is the ≤ m-row reservoir plus one scalar, O(m) committed to
    * [[StreamState]] per batch (contrast scd2Sink's O(seen) state
    * rewrite, priced in its scaladoc). An interrupted run's estimates
    * converge byte-equal to the uninterrupted one (StreamRestartSpec).
    *
    * `onBatch` receives (batchId, edges seen, reservoir triangle count,
    * estimate).
    */
  def triestTriangleSink(edges: DataFrame, m: Int, checkpoint: String,
                         onBatch: (Long, Long, Long, Double) => Unit,
                         stateDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Iterate, Triangles}
    require(m >= 3, s"reservoir must hold >= 3 edges, got $m")
    var reservoir: DataFrame = null // ≤ m canonical edges
    var t = 0L                      // distinct edges seen
    var restored = false
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!restored) {
          restored = true
          stateDir.foreach { sd =>
            val sess = batch.sparkSession
            StreamState.latest(sess, sd, batchId).foreach { v =>
              reservoir = Iterate.snap(
                StreamState.frame(sess, sd, v, "reservoir"))
              t = StreamState.meta(sess, sd, v)("t")
            }
          }
        }
        val canon = batch.select(
            least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b"))
          .dropDuplicates("a", "b")
          .withColumn("pri", xxhash64(col("a"), col("b")))
        // t counts DISTINCT edges seen, as far as bounded memory allows
        // (ADVICE r16 + r18): edges still IN the m-row reservoir are the
        // only cross-batch memory this sink keeps, so a re-delivered
        // edge that is still resident is excluded exactly (one
        // broadcast anti join against the bounded reservoir); a
        // re-delivery of an edge the reservoir already EVICTED is
        // indistinguishable from a new edge under O(m) state and still
        // inflates t — the remaining once-per-edge delivery requirement
        // is part of this sink's contract (see scaladoc), not silently
        // assumed exact.
        t +=
          (if (reservoir == null) canon
           else canon.join(reservoir.select(col("a"), col("b")),
             Seq("a", "b"), "left_anti")).count()
        // the same dedup guards the reservoir itself: two copies of a
        // re-delivered resident edge would both survive the limit,
        // double-counting its triangles in the sample
        val merged =
          if (reservoir == null) canon
          else reservoir.unionByName(canon).dropDuplicates("a", "b")
        val next = Iterate.snap(
          merged.orderBy(col("pri"), col("a"), col("b")).limit(m))
        if (reservoir != null) Iterate.free(reservoir)
        reservoir = next
        val sampleTri = Triangles
          .triangleRows(reservoir.select(col("a"), col("b"))).count()
        val scale = math.max(1.0,
          (t.toDouble * (t - 1) * (t - 2)) /
            (m.toDouble * (m - 1) * (m - 2)))
        // durable commit before the user sees the batch (the scd2Sink
        // crash-window analysis; the strictly-below restore rule makes
        // a re-delivered crash batch recompute idempotently)
        stateDir.foreach { sd =>
          StreamState.write(batch.sparkSession, sd, batchId,
            Seq("reservoir" -> reservoir), Seq("t" -> t))
        }
        onBatch(batchId, t, sampleTri, sampleTri * scale)
      }
      .start()
  }

  /** Exact incremental shortest-path maintenance over a weighted edge
    * stream — the traversal family's streaming form (`graph_bfs` /
    * `graph_sssp`), and the natural contrast to [[triangleCountSink]]:
    * where triangle state has NO expiry structure to exploit (any old
    * edge can close today's triangle), shortest-path state is MONOTONE
    * under the append model — an arriving edge (or an improved weight
    * for a seen pair) can only DECREASE distances — so each batch
    * needs to re-relax only the region its delta actually improves,
    * not the graph.
    *
    * Per batch: canonicalize (a<b, non-negative integral weights, min
    * per pair), keep the DELTA (pairs that are new or strictly
    * cheaper than the accumulated adjacency), min-merge the adjacency
    * accumulator, then relax to quiescence from a frontier seeded at
    * the delta's endpoints that already carry a distance — the first
    * improvement provably happens across a delta edge from a
    * finite-distance endpoint, and every later one at a node a prior
    * step improved, so the loop touches only the affected region.
    * Distances are integers and strictly decrease, so the loop
    * terminates; each step is one frontier ⋈ adjacency equi join + one
    * node-keyed min + one full-outer min-merge, with per-step state
    * snapped ([[graft.operators.Iterate.snap]]) and superseded blocks
    * freed (the KCore/PageRank discipline — the merge reads the state
    * twice, so lazy chaining across steps is unavailable).
    *
    * NOT watermarked, deliberately (the [[triangleCountSink]]
    * argument): an edge never expires from shortest-path relevance,
    * so the state is the accumulated adjacency + one distance row per
    * reached node, priced honestly.
    *
    * `onBatch` receives the CUMULATIVE converged (node, dist) frame —
    * by construction equal to running the batch relaxation to
    * convergence over every edge seen so far (StreamingSpec pins the
    * equality against [[graft.operators.Bfs.weightedDistances]] at a
    * convergence-sized round budget, with reversed, overlapping, and
    * weight-improving batches). Restart contract: single-run WITHOUT
    * `stateDir` (driver-local accumulators outside the streaming
    * checkpoint — see [[editDistDedupSink]] for the full caveat);
    * restart-CORRECT with it ([[scd2Sink]]'s [[StreamState]] protocol,
    * committing the adjacency + converged distances per batch). The
    * seed set is a sink PARAMETER, not state — a restart must pass the
    * same seeds (the restored distances embed them anyway).
    */
  def shortestPathSink(edges: DataFrame, seeds: DataFrame, checkpoint: String,
                       onBatch: (DataFrame, Long) => Unit,
                       stateDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Iterate
    var adj: DataFrame = null  // canonical (a, b, w), min weight
    var dist: DataFrame = null // converged (v, d); seeds at 0
    var restored = false
    val seed = seeds.toDF("v").distinct()
      .select(col("v"), lit(0L).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val builder = edges.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // restart-correct option (the scd2Sink StreamState protocol):
        // restore the newest committed (adjacency, distances) strictly
        // below the delivered batchId before processing it. The seed
        // set must be the SAME across the restart — it is a sink
        // parameter, not state (documented; the restored distances
        // embed it anyway).
        if (!restored) {
          restored = true
          stateDir.foreach { sd =>
            val sess = batch.sparkSession
            StreamState.latest(sess, sd, batchId).foreach { v =>
              adj = Iterate.snap(StreamState.frame(sess, sd, v, "adj"))
              dist = Iterate.snap(StreamState.frame(sess, sd, v, "dist"))
            }
          }
        }
        // contract enforcement BEFORE the long cast: a fractional
        // weight would silently truncate (0.9 → 0: the sink would
        // converge distances the batch operator disagrees with) and a
        // small negative (-0.5 → 0) would slip past a post-cast
        // non-negativity guard — both are producer bugs and must fail
        // loudly, not round
        val bad = batch.filter(col("w") < 0 ||
            col("w").cast("double") =!= col("w").cast("long").cast("double"))
          .limit(1).count()
        require(bad == 0L,
          s"batch $batchId carries negative or non-integral weights — " +
            "shortestPathSink requires non-negative integral w")
        val canon = batch
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"),
            col("w").cast("long").as("w"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
        // delta: new pairs, or strictly cheaper re-arrivals
        val delta0 =
          if (adj == null) canon
          else canon
            .join(adj.withColumnRenamed("w", "pw"), Seq("a", "b"), "left")
            .filter(col("pw").isNull || col("w") < col("pw"))
            .select(col("a"), col("b"), col("w"))
        val delta = Iterate.snap(delta0)
        // empty-delta early-out: a quiet trigger must not rewrite the
        // O(|E|) accumulated adjacency for zero information — keep the
        // existing generation (the frontier below is empty for the same
        // reason, so the whole batch is O(batch) work)
        val deltaEmpty = delta.limit(1).count() == 0
        val newAdj =
          if (deltaEmpty && adj != null) adj
          else Iterate.snap(
            if (adj == null) delta
            else adj.withColumnRenamed("w", "pw")
              .join(delta.withColumnRenamed("w", "nw"), Seq("a", "b"), "full_outer")
              .select(col("a"), col("b"),
                least(coalesce(col("pw"), col("nw")),
                  coalesce(col("nw"), col("pw"))).as("w")))
        val sym = newAdj.select(col("a").as("v"), col("b").as("n"), col("w"))
          .union(newAdj.select(col("b").as("v"), col("a").as("n"), col("w")))
        var cur: DataFrame = if (dist == null) Iterate.snap(seed) else dist
        // frontier: on the first batch every seed must propagate; after
        // that, only finite-distance endpoints of the delta can start
        // an improvement wave
        val deltaEnds = delta.select(col("a").as("v"))
          .union(delta.select(col("b").as("v"))).distinct()
        var frontier: DataFrame = Iterate.snap(
          if (dist == null) cur else cur.join(deltaEnds, Seq("v")))
        var steps = 0
        var live = frontier.limit(1).count() > 0
        while (live) {
          steps += 1
          // distances strictly decrease on non-negative integers, so
          // quiescence is guaranteed; a runaway here is a bug, not a
          // slow graph — fail loudly instead of spinning
          require(steps <= 100000, s"relaxation did not quiesce in $steps steps")
          val props = frontier.join(sym, Seq("v"))
            .select(col("n").as("v"), (col("d") + col("w")).as("cand"))
            .groupBy(col("v")).agg(min(col("cand")).as("cand"))
          val improved0 = props
            .join(cur, Seq("v"), "left")
            .filter(col("d").isNull || col("cand") < col("d"))
            .select(col("v"), col("cand").as("d"))
          val newFrontier = Iterate.snap(improved0)
          live = newFrontier.limit(1).count() > 0
          if (live) {
            val merged = Iterate.snap(
              cur.withColumnRenamed("d", "pd")
                .join(newFrontier.withColumnRenamed("d", "nd"),
                  Seq("v"), "full_outer")
                .select(col("v"),
                  least(coalesce(col("pd"), col("nd")),
                    coalesce(col("nd"), col("pd"))).as("d")))
            if (cur ne dist) Iterate.free(cur)
            cur = merged
          }
          Iterate.free(frontier)
          frontier = newFrontier
        }
        Iterate.free(frontier)
        Iterate.free(delta)
        if (adj != null && (newAdj ne adj)) Iterate.free(adj)
        adj = newAdj
        if ((dist != null) && (cur ne dist)) Iterate.free(dist)
        dist = cur
        stateDir.foreach { sd =>
          StreamState.write(batch.sparkSession, sd, batchId,
            Seq("adj" -> adj, "dist" -> dist))
        }
        onBatch(dist, batchId)
      }
    // the accumulated adjacency/distance blocks and the cached seed
    // frame must die with the query, not the session (the annTopKSink
    // lifecycle discipline): unpersist eagerly if start() itself throws
    // (bad checkpoint path, duplicate name — the listener below never
    // registers on that path), and free the final generations when the
    // query terminates (listener removes itself — one registration per
    // sink, no accumulation)
    val q =
      try builder.start()
      catch { case e: Throwable =>
        seed.unpersist(false)
        throw e
      }
    val spark = edges.sparkSession
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            seed.unpersist(false)
            if (adj != null) Iterate.free(adj)
            if (dist != null) Iterate.free(dist)
            spark.streams.removeListener(this)
          }
      })
    q
  }

  /** Exact incremental edit-distance dedup over a document stream —
    * the PassJoin join's streaming form, and the near-dup family's
    * online contract: as documents arrive, every pair (seen doc, new
    * doc) and (new doc, new doc) at levenshtein ≤ k is reported, with
    * per-batch JOIN/PROBE cost proportional to the BATCH, never the
    * corpus (the state REWRITE is not: each batch re-materializes the
    * accumulated docs/segments/pairs through
    * [[graft.operators.Iterate.snap]], an O(corpus-seen) checkpoint
    * write per batch — the price of the snapshot discipline; an
    * incremental append-only state store would shed it at the cost of
    * a durable sink dependency). The
    * exploitable structure (the [[triangleCountSink]] /
    * [[shortestPathSink]] design question — what does each arrival
    * actually touch?) is that the segment index is APPEND-ONLY under
    * document arrivals: [[graft.operators.EditDistJoin.segmentIndex]]
    * rows for old docs never change, so the accumulated index is the
    * state and each batch (1) probes its OWN windowed substrings
    * against that index (old×new pairs — the pigeonhole holds from the
    * indexed side), (2) runs the batch-local self-join (new×new), and
    * (3) appends its segments. Like triangleCountSink this is
    * deliberately NOT watermarked: an old document never expires from
    * near-dup relevance, and a watermark would silently miss
    * duplicates of early docs.
    *
    * Restart contract (shared with [[triangleCountSink]] and
    * [[shortestPathSink]]): WITHOUT `stateDir`, single-run — the
    * cumulative state lives in driver-local frames OUTSIDE the
    * streaming checkpoint; `checkpointLocation` makes re-DELIVERIES
    * within one run idempotent, but a RESTART from the checkpoint does
    * not replay committed batches, so the accumulator restarts empty
    * and the cumulative-equality contract holds only within a single
    * query run. WITH `stateDir` (round-16 verdict #2, extended round
    * 17 to all five accumulator sinks), restart-CORRECT: docs +
    * segment index + cumulative pairs commit to [[StreamState]] as one
    * version per batch and the first post-restart batch restores them
    * — the durable pair/segment sink the single-run caveat asked for,
    * built in.
    *
    * `docs` streams (id, t) with unique ids (re-deliveries of a seen
    * id are dropped); `onBatch` receives the CUMULATIVE canonical
    * (d1 < d2, len1, len2, dist) pair frame after each batch —
    * row-identical to the batch operator
    * [[graft.operators.EditDistJoin.pairs]] over all documents seen so
    * far (spec-pinned, overlapping and reordered batches included).
    */
  def editDistDedupSink(docs: DataFrame, k: Int, checkpoint: String,
                        onBatch: (DataFrame, Long) => Unit,
                        stateDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{EditDistJoin, Iterate}
    var accDocs: DataFrame = null  // (id, t) seen so far
    var accSegs: DataFrame = null  // their segment index
    var accPairs: DataFrame = null // cumulative result
    var restored = false
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // restart-correct option (the scd2Sink StreamState protocol);
        // all three accumulators restore together or not at all —
        // they are one consistent version by construction
        if (!restored) {
          restored = true
          stateDir.foreach { sd =>
            val sess = batch.sparkSession
            StreamState.latest(sess, sd, batchId).foreach { v =>
              accDocs = Iterate.snap(StreamState.frame(sess, sd, v, "docs"))
              accSegs = Iterate.snap(StreamState.frame(sess, sd, v, "segs"))
              accPairs = Iterate.snap(StreamState.frame(sess, sd, v, "pairs"))
            }
          }
        }
        val canon = batch.select(col("id"), col("t")).dropDuplicates("id")
        val fresh0 =
          if (accDocs == null) canon
          else canon.join(accDocs.select(col("id")), Seq("id"), "left_anti")
        val fresh = Iterate.snap(fresh0)
        // old×new (index side = accumulated segments) + new×new
        val within = EditDistJoin.pairs(fresh, k)
        val delta =
          if (accDocs == null) within
          else within.unionByName(
            EditDistJoin.pairsAgainstIndex(accSegs, accDocs, fresh, k)
              // canonicalize to d1 < d2 by id — the index side may hold
              // the numerically larger id; lens travel with their ids
              .select(
                least(col("d1"), col("d2")).as("d1"),
                greatest(col("d1"), col("d2")).as("d2"),
                when(col("d1") < col("d2"), col("len1"))
                  .otherwise(col("len2")).as("len1"),
                when(col("d1") < col("d2"), col("len2"))
                  .otherwise(col("len1")).as("len2"),
                col("dist")))
        val newPairs = Iterate.snap(
          if (accPairs == null) delta else accPairs.unionByName(delta))
        val newDocs = Iterate.snap(
          if (accDocs == null) fresh else accDocs.unionAll(fresh))
        val newSegs = Iterate.snap(
          if (accSegs == null) EditDistJoin.segmentIndex(fresh, k)
          else accSegs.unionAll(EditDistJoin.segmentIndex(fresh, k)))
        if (accPairs != null) Iterate.free(accPairs)
        if (accDocs != null) Iterate.free(accDocs)
        if (accSegs != null) Iterate.free(accSegs)
        Iterate.free(fresh)
        accPairs = newPairs
        accDocs = newDocs
        accSegs = newSegs
        stateDir.foreach { sd =>
          StreamState.write(batch.sparkSession, sd, batchId,
            Seq("docs" -> accDocs, "segs" -> accSegs,
              "pairs" -> accPairs))
        }
        onBatch(accPairs, batchId)
      }
      .start()
  }

  /** Streaming SCD2 maintenance with LATE-DATA correction — the
    * `merge_scd2_late` query's streaming twin: as CDC events arrive
    * (including OUT-OF-ORDER ones — a late event lands mid-history,
    * splits an existing validity range, and renumbers every later
    * version of its entity), the sink maintains a type-2 dimension
    * snapshot that always equals [[graft.operators.Merge.scd2Dim]] over
    * every event seen so far (MergeSpec pins the equality, late
    * arrivals included).
    *
    * Per batch: re-delivered event_ids drop (anti-join — ids are
    * unique per the events contract), the batch's entities become the
    * AFFECTED set, and [[graft.operators.Merge.scd2ApplyLate]] rebuilds
    * exactly those entities' histories from the accumulated event state
    * while every other entity's dimension rows pass through an
    * entity-keyed anti-join — per-batch REBUILD cost is bounded by the
    * affected entities' history mass, not the corpus. The accumulated
    * events and the dimension are snapped
    * ([[graft.operators.Iterate.snap]]) with superseded generations
    * freed per batch; the state REWRITE is O(seen) per batch (the
    * [[editDistDedupSink]] pricing note). NOT watermarked, deliberately:
    * arbitrarily late events must still split ranges — a watermark
    * would silently freeze old history.
    *
    * Restart contract: WITHOUT `stateDir`, single-run
    * ([[editDistDedupSink]] — driver-local state, not replayed on
    * restart from `checkpoint`). WITH `stateDir` (round-16 verdict #2),
    * restart-CORRECT: the accumulated events and the snapshot commit to
    * [[StreamState]] after every batch (the snapshot effectively IS the
    * state — O(seen) rewrite per batch, the same pricing as the
    * in-memory accumulator), and the first batch after a restart
    * restores the newest committed version below its batchId, so an
    * interrupted run converges byte-equal to the uninterrupted one
    * (StreamRestartSpec) and a re-delivered crash batch recomputes
    * idempotently.
    *
    * `onBatch` receives the CUMULATIVE corrected dimension after each
    * batch.
    */
  def scd2Sink(events: DataFrame, checkpoint: String,
               onBatch: (DataFrame, Long) => Unit,
               stateDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Iterate, Merge}
    var accEv: DataFrame = null // every event seen so far
    var dim: DataFrame = null   // current SCD2 snapshot
    var restored = false
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!restored) {
          restored = true
          stateDir.foreach { sd =>
            val sess = batch.sparkSession
            StreamState.latest(sess, sd, batchId).foreach { v =>
              accEv = Iterate.snap(StreamState.frame(sess, sd, v, "events"))
              dim = Iterate.snap(StreamState.frame(sess, sd, v, "dim"))
            }
          }
        }
        val canon = batch
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .dropDuplicates("event_id")
        val fresh0 =
          if (accEv == null) canon
          else canon.join(accEv.select(col("event_id")),
            Seq("event_id"), "left_anti")
        val fresh = Iterate.snap(fresh0)
        val newEv = Iterate.snap(
          if (accEv == null) fresh else accEv.unionByName(fresh))
        val newDim = Iterate.snap(
          if (dim == null) Merge.scd2Dim(newEv)
          else Merge.scd2ApplyLate(dim, newEv, fresh))
        if (accEv != null) Iterate.free(accEv)
        if (dim != null) Iterate.free(dim)
        Iterate.free(fresh)
        accEv = newEv
        dim = newDim
        // durable commit BEFORE the user sees the batch. Crash windows:
        // before this line ⇒ batch re-delivered, restore picks the
        // newest version BELOW batchId (the previous one), recompute;
        // after this line but before the streaming commit ⇒ batch
        // re-delivered, restore still skips v(batchId) (strictly-below
        // rule) and the overwrite makes the rewrite idempotent.
        stateDir.foreach { sd =>
          StreamState.write(batch.sparkSession, sd, batchId,
            Seq("events" -> accEv, "dim" -> dim))
        }
        onBatch(dim, batchId)
      }
      .start()
  }

  def runningUserTotals(events: org.apache.spark.sql.Dataset[Event])
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserTotal](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var v = v0
          batch.foreach { e => n += 1; v += e.value }
          state.update((n, v))
          Iterator.single(UserTotal(user, n, v))
      }
  }
}
