package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ops.{CountMin, Hll, Merge}
import graft.sources.LakeWriter

/** Structured Streaming over the events stream.
  *
  * The reference has no real streaming — its "hourly" path is cron
  * micro-batching (dags/hourly_dag.py:27), and streaming is roadmap
  * intent (README.md:72-75). Its hand-rolled incremental pattern —
  * watermark read → fetch delta → merge — IS Structured Streaming's
  * model: checkpointing subsumes the watermark reads, triggers subsume
  * cron, and `foreachBatch` + upsert subsumes the merge loop.
  *
  * Scale notes: stateful aggregations keep state per (window, key) in the
  * state store — bounded by the watermark, which expires state for
  * windows older than the lateness horizon. Without `withWatermark` an
  * append-mode windowed agg would hold state forever; every operator here
  * therefore takes an explicit watermark.
  */
object EventStreams {

  /** File-source stream over a parquet events directory — the lake-tail
    * shape (`Trigger.AvailableNow` turns it into an incremental batch,
    * exactly the reference's hourly cadence done right). */
  def fromParquetDir(spark: SparkSession, path: String,
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Tumbling-window counts/sums per event type; late rows beyond
    * `lateness` are dropped and their window state expired. */
  def tumblingAgg(events: DataFrame, tsCol: String = "ts_utc",
                  windowLen: String = "1 hour",
                  lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Windowed Count-Min maintenance on a stream: each event expands to
    * its `depth` sketch cells (a pure map — [[graft.ops.CountMin]]'s
    * md5 buckets, so every cell replays in any engine) and a
    * watermarked windowed aggregation keeps ONE depth×width counter
    * grid per window. State is bounded by depth·width·open-windows
    * REGARDLESS of key cardinality — the reason a sketch, not a
    * per-key aggregation, is what monitors key frequencies on a
    * 100 TB/day stream whose key space would drown the state store.
    * Emits (window_start, window_end, cms_row, cms_bucket, cnt);
    * probe finalized windows with [[graft.ops.CountMin.bucketOf]]
    * cells + min-over-rows, exactly like the batch estimate. */
  def cmsWindowed(events: DataFrame, key: String, depth: Int, width: Int,
                  tsCol: String = "ts_utc", windowLen: String = "1 hour",
                  lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .select(col(tsCol), posexplode(array((0 until depth).map(i =>
        CountMin.bucketOf(i, col(key), width)): _*))
        .as(Seq("cms_row", "cms_bucket")))
      .groupBy(window(col(tsCol), windowLen), col("cms_row"), col("cms_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("cms_row"), col("cms_bucket"), col("cnt"))

  /** Windowed HyperLogLog maintenance on a stream: each event maps to
    * its (register, rank) cell ([[graft.ops.Hll]]'s md5/binary-length
    * math, fully engine-replayable) and a watermarked windowed max
    * keeps ONE ≤ 2^b register set per window — the DISTINCT-count
    * sibling of [[cmsWindowed]]'s frequency grid. State is bounded by
    * 2^b·open-windows regardless of key cardinality, which is what
    * makes per-window unique-user monitoring affordable on a
    * 100 TB/day stream (an exact distinct would key state on every
    * user). Emits (window_start, window_end, hll_register, hll_rank);
    * estimate finalized windows with
    * [[graft.ops.Hll.estimateByGroup]]. */
  def hllWindowed(events: DataFrame, key: String, b: Int,
                  tsCol: String = "ts_utc", windowLen: String = "1 hour",
                  lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .filter(col(key).isNotNull)
      .select(col(tsCol), Hll.registerOf(col(key), b).as("hll_register"),
        Hll.rankOf(col(key), b).as("hll_rank"))
      .groupBy(window(col(tsCol), windowLen), col("hll_register"))
      .agg(max(col("hll_rank")).as("hll_rank"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("hll_register"), col("hll_rank"))

  /** Windowed fixed-width value histogram: each event maps to its cent
    * bin (integer floor division — values are REQUIRED non-negative,
    * where trunc == floor in every engine) and a watermarked windowed
    * count keeps one ≤ (range/binWidth)-bin histogram per window —
    * the percentile-latency monitor's state (p50/p95/p99 per window
    * with bounded error = binWidth/2), independent of event volume.
    * An exact per-window percentile would sort each window's full
    * event set in one task — the shape that dies at 100 TB/day; the
    * histogram trades a declared quantization for bounded state.
    * Emits (window_start, window_end, bin, cnt); fold finalized
    * windows with a cumulative-count nearest-rank pick. */
  def histWindowed(events: DataFrame, value: String = "value",
                   binWidthCents: Long = 100L, tsCol: String = "ts_utc",
                   windowLen: String = "1 hour",
                   lateness: String = "10 minutes"): DataFrame = {
    require(binWidthCents >= 1, s"binWidthCents must be >= 1, got $binWidthCents")
    val cents = graft.ops.Indicators.toCents(col(value))
    events.withWatermark(tsCol, lateness)
      .filter(col(value).isNotNull && col(value) >= 0)
      // cents/width via double division + trunc: exact for the
      // non-negative sub-2^53 cent magnitudes the filter guarantees
      .select(col(tsCol), (cents / lit(binWidthCents)).cast("long").as("bin"))
      .groupBy(window(col(tsCol), windowLen), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("bin"), col("cnt"))
  }

  /** Sliding-window average (overlapping windows: `windowLen` long,
    * advancing every `slide`). `value` is the summed column — pass a
    * DECIMAL cast for an order-independent exact sum (the avg divides
    * once in double at the end); emits `window_end` so append-mode
    * consumers can reason about finalization. */
  def slidingAvg(events: DataFrame, tsCol: String = "ts_utc",
                 windowLen: String = "1 hour", slide: String = "15 minutes",
                 lateness: String = "10 minutes",
                 value: Column = col("value")): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen, slide), col("event_type"))
      .agg((sum(value).cast("double") / count(lit(1))).as("avg_value"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("avg_value"), col("n_events"))

  /** Tumbling OHLC candles per event type — the continuous form of
    * [[graft.ops.Resample.ohlc]]: open/close are `min_by`/`max_by`
    * over the total (ts, event_id) order, which makes an ORDER-
    * DEPENDENT output computable by an order-INSENSITIVE streaming
    * aggregate (the accumulator keeps the arg-min/max pair, so
    * micro-batch arrival order cannot change the result); high/low/
    * count and the exact cents volume are plain aggs. Watermarked
    * append mode: a candle emits once its window finalizes.
    *
    * `tsCol` drives the window/watermark (typically the truncated
    * display timestamp); `tieTs`/`tieId` drive the open/close total
    * order and default to the events schema's full-precision `ts` +
    * `event_id` — pass both when the frame uses different names, or
    * the analyzer fails loudly on the missing default columns. */
  def ohlcCandles(events: DataFrame, tsCol: String = "ts_utc",
                  windowLen: String = "1 day",
                  lateness: String = "10 minutes",
                  tieTs: String = "ts",
                  tieId: String = "event_id"): DataFrame =
    events.filter(col("value").isNotNull)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(
        min_by(col("value"), struct(col(tieTs), col(tieId))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col(tieTs), col(tieId))).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(round(col("value") * 100).cast("long")).as("vol_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n_ticks"), col("vol_cents"))

  /** Session windows per user: a session extends while events arrive
    * within `gap` of each other. `value` as in [[slidingAvg]] (pass a
    * DECIMAL cast for an exact sum). */
  def sessionize(events: DataFrame, tsCol: String = "ts_utc",
                 gap: String = "30 minutes",
                 lateness: String = "10 minutes",
                 value: Column = col("value")): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(value).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream → lake: land micro-batches in a partitioned parquet zone via
    * the built-in file sink, whose commit manifest gives exactly-once
    * (retried batches re-commit the same files; readers see only
    * committed ones). NOT dynamic partition overwrite: two batches
    * routinely hit the same time partition, and overwrite would delete
    * the earlier batch's rows. */
  def toLake(stream: DataFrame, path: String, checkpoint: String,
             partitionCols: Seq[String]): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionCols: _*)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming dedup: drop rows whose key was already seen within the
    * watermark horizon — the streaming form of the training-data exact
    * dedup (state expires with the watermark, so memory stays bounded
    * by the lateness window, not the stream's lifetime). */
  def streamingDedup(events: DataFrame, keys: Seq[String],
                     tsCol: String = "ts_utc",
                     lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream INNER join within an event-time horizon: every right
    * row pairs with the left rows of the same key whose timestamp is in
    * [rightTs − horizon, rightTs] — the click→purchase attribution /
    * impression→conversion shape. Both sides are watermarked (mandatory
    * for stream-stream joins) and the range condition is what lets the
    * engine EXPIRE buffered left rows once the right watermark passes
    * leftTs + horizon — without it, join state grows with the stream's
    * lifetime, the canonical unbounded-state bug. Column sets must be
    * disjoint so the join condition is unambiguous. */
  def intervalJoin(left: DataFrame, leftKey: String, leftTs: String,
                   right: DataFrame, rightKey: String, rightTs: String,
                   horizon: String, lateness: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "full_outer")(joinType),
      s"intervalJoin supports inner | left_outer | full_outer, got $joinType")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left and right must have disjoint columns, both have: $overlap")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    // outer flavors: an unmatched row null-pads ONLY when the engine
    // can prove no future partner can match — left rows once the
    // watermark passes leftTs + horizon, right rows once it passes
    // rightTs (their match window lies entirely in the past then) —
    // i.e. when the buffered state evicts. Unmatched rows younger than
    // their boundary at stream end are discarded WITHOUT a null
    // emission (their answer was still open); these watermark-cutoff
    // boundaries are exactly what the stream_interval_*_join_live
    // oracles replay.
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"), joinType)
  }

  final case class UserEvent(user_id: Long, ts_utc: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * totals that survive across micro-batches (the shape of any
    * online-feature / anomaly-score stream). State lives in the state
    * store per key; emits one updated row per key per batch.
    *
    * Keys idle longer than `idleGapMs` of EVENT time have their state
    * expired once the watermark passes — without expiry, unbounded key
    * cardinality grows the state store forever (the invariant every
    * operator in this file keeps). Event-time (not processing-time)
    * timeouts: watermark-driven, replay-deterministic, and they don't
    * make the engine busy-loop empty batches waiting for wall-clock
    * timers. */
  def runningUserTotals(events: Dataset[UserEvent],
                        lateness: String = "10 minutes",
                        idleGapMs: Long = 3600000L): Dataset[UserRunning] = {
    implicit val stateEnc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val outEnc: Encoder[UserRunning] = Encoders.product[UserRunning]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.withWatermark("ts_utc", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserRunning](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (n, s) = state.getOption.getOrElse((0L, 0.0))
            var maxTs = 0L
            it.foreach { e =>
              n += 1; s += e.value
              maxTs = math.max(maxTs, e.ts_utc.getTime)
            }
            state.update((n, s))
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + idleGapMs)
            Iterator(UserRunning(uid, n, s))
          }
      }
  }

  final case class CusumEvent(user_id: Long, ts_utc: java.sql.Timestamp,
                              ts_nanos: Long, event_id: Long, cents: Long)
  final case class CusumRow(user_id: Long, n_events: Long,
                            cusum_up: Long, cusum_down: Long, n_late: Long)
  /** streamingCusum's carried fold: counts, both running sums with
    * their minima, the last folded (tick, id) position, and the
    * dropped-late tally. Public: the state encoder's generated code
    * must construct it. */
  final case class CusumFold(n: Long, ru: Long, minU: Long,
                             rd: Long, minD: Long,
                             lastNanos: Long, lastId: Long, nLate: Long)

  /** ORDER-AWARE keyed state: per-user one-sided CUSUM (Page's test)
    * streamed through flatMapGroupsWithState — the online form of
    * [[graft.ops.Anomaly.cusum]], and the one stateful operator in this
    * file whose semantics depend on event ORDER, not just membership
    * (totals/dedup commute; a drift statistic does not). Each
    * micro-batch sorts its per-key rows by the RAW event-time tick with
    * an id tie-break — the exact total order the batch operator uses —
    * and folds them onto state carried across batches: the running
    * deviation sums and their running minima (seeded at 0 = the closed
    * form's empty-prefix term), from which S = R − min(R_prefix) reads
    * off directly. Emits the post-batch statistic per key.
    *
    * The per-(key, batch) sort buffers that key's batch rows in memory —
    * bounded by batch size per key, the standard price of order-aware
    * state. A row arriving in a LATER batch with a tick at or before
    * the last folded position cannot be folded correctly (the
    * statistic is order-sensitive and already advanced past it) — it
    * is DROPPED and counted in `n_late`, never folded misordered: a
    * visibly-smaller fold beats a silently-wrong statistic, and the
    * tally tells the operator to widen the batch boundary (or replay)
    * when it grows. Watermark-driven event-time timeout expires idle
    * keys exactly as [[runningUserTotals]]. */
  def streamingCusum(events: Dataset[CusumEvent], targetCents: Long,
                     slackCents: Long = 0L,
                     lateness: String = "10 minutes",
                     idleGapMs: Long = 3600000L): Dataset[CusumRow] = {
    implicit val stateEnc: Encoder[CusumFold] = Encoders.product[CusumFold]
    implicit val outEnc: Encoder[CusumRow] = Encoders.product[CusumRow]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.withWatermark("ts_utc", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumFold, CusumRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // mins seeded at 0 = the closed form's empty-prefix term;
            // last position seeded below any real tick
            var st = state.getOption.getOrElse(
              CusumFold(0L, 0L, 0L, 0L, 0L, Long.MinValue, Long.MinValue, 0L))
            var maxTs = 0L
            it.toSeq.sortBy(e => (e.ts_nanos, e.event_id)).foreach { e =>
              val inOrder = e.ts_nanos > st.lastNanos ||
                (e.ts_nanos == st.lastNanos && e.event_id > st.lastId)
              st = if (!inOrder) st.copy(nLate = st.nLate + 1) else {
                val ru = st.ru + (e.cents - targetCents - slackCents)
                val rd = st.rd - (e.cents - targetCents + slackCents)
                CusumFold(st.n + 1, ru, math.min(st.minU, ru),
                  rd, math.min(st.minD, rd), e.ts_nanos, e.event_id, st.nLate)
              }
              maxTs = math.max(maxTs, e.ts_utc.getTime)
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + idleGapMs)
            Iterator(CusumRow(uid, st.n, st.ru - st.minU, st.rd - st.minD,
              st.nLate))
          }
      }
  }

  final case class FunnelEvent(user_id: Long, ts_utc: java.sql.Timestamp,
                               ts_nanos: Long, event_id: Long, step: Int)
  final case class FunnelRow(user_id: Long, reached: Long, t_final: Long,
                             n_late: Long)
  /** streamingFunnel's carried fold: completion times of the steps
    * reached so far (ascending), the last folded (tick, id) position,
    * and the dropped-late tally. Public for the state encoder. */
  final case class FunnelFold(times: Seq[Long], lastNanos: Long,
                              lastId: Long, nLate: Long)

  /** ORDER-AWARE keyed state: the online form of
    * [[graft.ops.Funnel.orderedFunnel]] — the greedy earliest-
    * completion chain folded through flatMapGroupsWithState. Because
    * each batch's per-key rows fold in ascending (tick, id) order, the
    * FIRST qualifying event per step is exactly the batch operator's
    * conditional-min — the two formulations agree whenever events fold
    * in order, and an out-of-order straggler is DROPPED into `n_late`
    * (the [[streamingCusum]] contract: a visibly-smaller fold beats a
    * silently-wrong chain — an order-sensitive statistic cannot fold a
    * row it has already advanced past). `step` is the 0-based step
    * index (pre-map event types; non-step events must be filtered
    * out). Emits each key's post-batch chain; keys with no step-0
    * event stay silent. */
  def streamingFunnel(events: Dataset[FunnelEvent], nSteps: Int,
                      maxGapNanos: Long,
                      lateness: String = "10 minutes",
                      idleGapMs: Long = 3600000L): Dataset[FunnelRow] = {
    require(nSteps >= 2, s"a funnel needs at least 2 steps, got $nSteps")
    require(maxGapNanos > 0, s"maxGap must be positive, got $maxGapNanos")
    implicit val stateEnc: Encoder[FunnelFold] = Encoders.product[FunnelFold]
    implicit val outEnc: Encoder[FunnelRow] = Encoders.product[FunnelRow]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.withWatermark("ts_utc", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelFold, FunnelRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              FunnelFold(Seq.empty, Long.MinValue, Long.MinValue, 0L))
            var maxTs = 0L
            it.toSeq.sortBy(e => (e.ts_nanos, e.event_id)).foreach { e =>
              val inOrder = e.ts_nanos > st.lastNanos ||
                (e.ts_nanos == st.lastNanos && e.event_id > st.lastId)
              st = if (!inOrder) st.copy(nLate = st.nLate + 1) else {
                val advanced =
                  if (st.times.size < nSteps && e.step == st.times.size &&
                    (st.times.isEmpty ||
                      (e.ts_nanos > st.times.last &&
                        e.ts_nanos <= st.times.last + maxGapNanos)))
                    st.times :+ e.ts_nanos
                  else st.times
                FunnelFold(advanced, e.ts_nanos, e.event_id, st.nLate)
              }
              maxTs = math.max(maxTs, e.ts_utc.getTime)
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + idleGapMs)
            if (st.times.isEmpty) Iterator.empty
            else Iterator(FunnelRow(uid, st.times.size.toLong,
              st.times.last, st.nLate))
          }
      }
  }

  /** Per-micro-batch partial KLL sketches per window, appended to the
    * lake — the quantile monitor for UNBOUNDED value domains where
    * [[histWindowed]]'s declared range/binWidth contract has nothing
    * to declare (latencies, token counts, heavy tails). ZERO streaming
    * state: each batch builds its own ≤ k-row deterministic sketch per
    * window ([[graft.ops.Kll.buildByGroup]] — one groupBy + ledger
    * prefix sum on batch-local data) and appends it; no state store,
    * no watermark expiry to size, sink growth ≤ k rows per (window,
    * batch). The fold is ONE multiway merge per window
    * ([[graft.ops.Kll.compactByGroup]] over the ≤ k·batches partial
    * rows) plus a weighted nearest-rank pick — Kll's documented
    * additive error band, with merge depth = the number of batches
    * that touched the window. Emits (window_start, window_end,
    * kll_value, kll_weight) partials; finalize windows with the
    * watermark-bound filter the other stream folds use.
    *
    * IDEMPOTENT on retried batches, like [[toLake]]'s file-sink
    * commit manifest but by construction: foreachBatch is
    * at-least-once, so a blind append would let a micro-batch
    * replayed after a crash land its per-window partial TWICE —
    * silently doubling those windows' weights and skewing every
    * folded quantile. Each batch therefore writes under its own
    * `batch_id=<id>` subpath in overwrite mode ([[kllPartialBatch]]):
    * a replay overwrites its own previous (possibly torn) files and
    * can never double a weight. Readers glob the sink ROOT —
    * partition discovery surfaces batch_id as an extra column the
    * fold ignores. */
  def kllPartialsToLake(stream: DataFrame, sinkPath: String,
                        checkpoint: String, value: String = "value",
                        k: Int = 256, tsCol: String = "ts_utc",
                        windowLen: String = "1 hour",
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kllPartialBatch(batch, sinkPath, batchId, value, k, tsCol, windowLen)
      }
      .trigger(trigger)
      .start()

  /** One micro-batch of [[kllPartialsToLake]]: build the batch-local
    * per-window sketch and land it idempotently at
    * `sinkPath/batch_id=<id>` in OVERWRITE mode — the replay-safety
    * leg. Public so the idempotence is spec-testable without
    * engineering a mid-stream crash: calling it twice with the same
    * batchId must leave the sink's fold unchanged. */
  def kllPartialBatch(batch: DataFrame, sinkPath: String, batchId: Long,
                      value: String, k: Int, tsCol: String,
                      windowLen: String): Unit =
    graft.ops.Kll.buildByGroup(
        batch.filter(col(value).isNotNull)
          .withColumn("__w", window(col(tsCol), windowLen))
          .select(col("__w.start").as("window_start"),
            col("__w.end").as("window_end"), col(value)),
        Seq("window_start", "window_end"), value, k)
      .write.mode("overwrite").parquet(s"$sinkPath/batch_id=$batchId")

  /** Stream → serving upsert: merge each micro-batch into a keyed
    * warehouse (streaming replacement for the reference's
    * watermark+DELETE+append load, load_stock_metrics.py:40-89),
    * committed through [[LakeWriter.replaceSnapshot]]: a replayed batch
    * lands on the snapshot it heals back from a torn swap. */
  def mergeIntoWarehouse(stream: DataFrame, warehousePath: String,
                         checkpoint: String, keys: Seq[String],
                         tiebreak: String,
                         trigger: Option[Trigger] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        LakeWriter.replaceSnapshot(batch.sparkSession, warehousePath, Seq.empty) {
          case None => Merge.dedupByKey(batch, keys, tiebreak)
          case Some(warehouse) => Merge.upsert(warehouse, batch, keys, tiebreak)
        }
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Stream-static dimension enrichment: join a streaming fact frame
    * with a BATCH dimension frame. Stateless — no watermark, no state
    * store; each micro-batch plans a fresh join against the dimension
    * (so a dim refresh between triggers is picked up automatically,
    * the Spark answer to the reference's per-run dim reload,
    * scripts/load_sp500.py:43-51). The broadcast hint keeps the stream side
    * shuffle-free; at 100 TB of stream and a genuinely large dim,
    * drop the hint and let AQE choose. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Streaming CDC fold: every micro-batch of changelog rows (key, seq,
    * tiebreak, op ∈ {U, D}, full row image) folds onto the warehouse
    * snapshot — per-key highest (seq, tiebreak) wins, exactly
    * [[graft.ops.Cdc.apply]]'s batch semantics extended across batches.
    *
    * The snapshot carries `__seq`/`__tie`/`__op` alongside the base
    * columns: ordering survives the fold, so batches arriving OUT OF
    * `seqCol` order still converge to the global last-wins answer (a
    * late batch with older changes loses to what the snapshot already
    * holds), and a delete persists as a TOMBSTONE row (`__op = 'D'`)
    * rather than a bare removal — without it, a late-arriving older
    * upsert would silently resurrect a deleted key. Readers filter
    * `__op != 'D'`. Base rows seed with null seq (sorted below every
    * real change). The fold is idempotent, so checkpoint replay after a
    * crash re-applies a batch harmlessly onto the snapshot that
    * [[LakeWriter.replaceSnapshot]] restores from a torn swap. */
  def cdcIntoWarehouse(changes: DataFrame, base: DataFrame,
                       warehousePath: String, checkpoint: String,
                       key: String, seqCol: String, tieCol: String,
                       opCol: String,
                       trigger: Option[Trigger] = None): StreamingQuery = {
    val baseCols = base.columns.toSeq
    // [[graft.ops.Cdc.apply]]'s schema guards, checked at stream
    // CONSTRUCTION time: mid-stream these surface as an opaque
    // AnalysisException inside foreachBatch (or, for the reserved
    // working columns, silently corrupt the fold when a pre-existing
    // __seq/__tie/__op shadows the one this sink writes)
    require(baseCols.contains(key), s"base lacks key column $key")
    val missingCols = baseCols.filterNot(changes.columns.contains)
    require(missingCols.isEmpty,
      s"changes lack base columns ${missingCols.mkString(", ")} — a CDC row " +
        "must carry the full image of the row it upserts")
    val reserved = Seq("__seq", "__tie", "__op", "__rn")
    val clash = reserved.filter(c =>
      baseCols.contains(c) || changes.columns.contains(c))
    require(clash.isEmpty,
      s"cdcIntoWarehouse uses working columns ${clash.mkString(", ")} — " +
        "rename them in base/changes first")
    val w = changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val batchImg = batch
          // validate BEFORE any per-key selection: a corrupt op must fail
          // the run even when a later change for the same key shadows it
          .where(assert_true(col(opCol).isin("U", "D"),
            lit(s"bad CDC op in $opCol (want U|D)")).isNull)
          .select(baseCols.map(col) :+ col(seqCol).as("__seq") :+
            col(tieCol).as("__tie") :+ col(opCol).as("__op"): _*)
        val byKey = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(col("__seq").desc_nulls_last, col("__tie").desc_nulls_last)
        LakeWriter.replaceSnapshot(batch.sparkSession, warehousePath, Seq.empty) { snapshot =>
          val current = snapshot.getOrElse(
            base.withColumn("__seq", lit(null).cast(batch.schema(seqCol).dataType))
              .withColumn("__tie", lit(null).cast(batch.schema(tieCol).dataType))
              .withColumn("__op", lit("U")))
          current.unionByName(batchImg)
            .withColumn("__rn", row_number().over(byKey))
            .filter(col("__rn") === 1)
            .drop("__rn")
        }
      }
    trigger.fold(w)(w.trigger).start()
  }
}
