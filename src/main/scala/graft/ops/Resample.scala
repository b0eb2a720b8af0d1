package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-bucket downsampling to OHLC candles — the standard
  * finance-series resample (pandas `df.resample('W').ohlc()` shape)
  * the reference's daily bars would feed a weekly dashboard with
  * (`app.py:50-72` plots raw dailies; any zoomed-out view needs this).
  *
  * One grouped aggregation, no window and no self-join: open/close are
  * `min_by`/`max_by` over the (ts, tie) struct (Spark's order-reducing
  * aggregates — map-side combined like any agg, so the shuffle carries
  * one candle per partition per group, not the raw ticks). The tie
  * column makes the order total — first/last are then well-defined and
  * engine-portable (the oracle replays them as row_number picks over
  * the same total order). Volume sums in integer cents (exact,
  * order-independent).
  */
object Resample {

  /** (key, bucket) → open/high/low/close of `value`, tick count, and
    * exact cents volume. `tsNanos` is the engine-contract nanos-Long;
    * `bucketNanos` the candle width (e.g. 7×86400e9 for weekly). */
  def ohlc(df: DataFrame, key: String, tsNanos: String, tie: String,
           value: String, bucketNanos: Long): DataFrame = {
    require(bucketNanos > 0, s"bucketNanos must be positive, got $bucketNanos")
    val in = df.filter(col(value).isNotNull)
    val ord = struct(col(tsNanos), col(tie))
    // integer `div` (not float /): epoch nanos exceed double's exact
    // integer range, so a float quotient can flip boundary ticks
    in.groupBy(col(key).as("k"),
        expr(s"`$tsNanos` div ${bucketNanos}L").as("b"))
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(round(col(value) * 100).cast("long")).as("vol_cents"))
  }

  private val d38 = (c: Column) => c.cast("decimal(38,0)")

  /** Time-weighted average price per key (TWAP): each observation holds
    * from its timestamp until the key's next one; the average weights
    * each held value by its holding duration — the execution-quality
    * benchmark a plain mean misstates whenever sampling is irregular
    * (one stale quote held for a day outweighs a burst of ticks).
    *
    * Exactness: integer cents × integer nano-durations accumulate in
    * DECIMAL(38,0) (cents·duration products clear int64), one double
    * division at the end. The final (unterminated) observation carries
    * no duration and is excluded — the standard right-open convention.
    * Plan: one lead() window + one aggregation, same key exchange. */
  def timeWeightedAvg(df: DataFrame, key: String, tsNanos: String,
                      tie: String, value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsNanos), col(tie))
    val cents = round(col(value) * 100).cast("long")
    df.filter(col(value).isNotNull)
      .withColumn("__next", lead(col(tsNanos), 1).over(w))
      .filter(col("__next").isNotNull)
      .withColumn("__dur", col("__next") - col(tsNanos))
      .groupBy(col(key).as("k"))
      .agg(
        (sum(d38(cents) * d38(col("__dur"))).cast("double") /
          sum(d38(col("__dur"))).cast("double") / lit(100.0))
          .cast("float").as("twap"),
        sum(col("__dur")).as("span_nanos"),
        count(lit(1)).as("n_holds"))
  }

  /** Resample an irregular series onto a REGULAR time grid by forward
    * fill — the pandas `resample(...).ffill()` / `date_range + merge_asof`
    * shape every downstream model with a fixed time step needs (a join
    * between two irregular series is ill-posed; a join between their
    * grids is trivial). Per key, grid instants are the multiples of
    * `stepNanos` inside [min(ts), max(ts)] (integer ceil/floor division
    * — epoch nanos exceed double's exact range, so no float quotient
    * touches a boundary), and each instant carries the latest
    * observation at-or-before it via the [[AsOfJoin]] backward pass.
    * Observations collapse to one row per (key, ts) first (max value —
    * a deterministic pick both engines replay), so the as-of match is
    * unambiguous under duplicate timestamps.
    *
    * Scale shape: grid size is span/step per key — generated, never
    * shuffled from data; the as-of is the linear windowed pass, not an
    * inequality join. A pathological step (nanos-scale over a year span)
    * would explode the generated grid, so the per-key grid size is
    * guarded at `maxGridPerKey` — fail loudly, not OOM quietly. */
  def gridForwardFill(df: DataFrame, key: String, tsNanos: String,
                      value: String, stepNanos: Long,
                      maxGridPerKey: Long = 10L * 1000 * 1000): DataFrame = {
    require(stepNanos > 0, s"stepNanos must be positive, got $stepNanos")
    val obs = df.filter(col(value).isNotNull && col(tsNanos).isNotNull)
      .groupBy(col(key), col(tsNanos))
      .agg(max(col(value)).as("__gv"))
    val bounds = obs.groupBy(col(key))
      .agg(min(col(tsNanos)).as("__mn"), max(col(tsNanos)).as("__mx"))
      .withColumn("__lo", expr(s"(__mn + ${stepNanos - 1}L) div ${stepNanos}L"))
      .withColumn("__hi", expr(s"__mx div ${stepNanos}L"))
      .where(assert_true(col("__hi") - col("__lo") <= maxGridPerKey,
        lit(s"gridForwardFill: a key's span/step exceeds $maxGridPerKey " +
          "grid points — coarsen stepNanos")).isNull)
    val grid = bounds.filter(col("__lo") <= col("__hi"))
      .select(col(key),
        explode(sequence(col("__lo"), col("__hi"))).as("__m"))
      .select(col(key), (col("__m") * stepNanos).as(tsNanos))
    AsOfJoin.asOf(grid, obs, on = tsNanos, by = Seq(key),
        valueCols = Seq("__gv"), direction = "backward")
      .select(col(key), col(tsNanos), col("asof___gv").as(value))
  }

  /** Classical additive seasonal decomposition of a regular integer-
    * indexed series: value = trend + seasonal + residual — the
    * visibility primitive behind "is this metric's drop real or just
    * the weekend?" (and the input anomaly detectors should z-score
    * instead of the raw series).
    *
    *  - trend: centered moving average over `trendWindow` consecutive
    *    index values (RANGE frame, so a GAP in the series suppresses
    *    the trend instead of silently averaging the wrong span) — null
    *    until the full window exists;
    *  - seasonal: per (key, t mod `period`) mean of the detrended
    *    values, re-centered so the period's seasonal terms sum to 0
    *    (the classical identifiability constraint);
    *  - residual: value − trend − seasonal, null wherever trend is.
    *
    * Exactness contract: `value` must be exact (integer counts or
    * decimal sums). The trend is one double division of a
    * DECIMAL(30,12)-quantized window sum; detrended values quantize to
    * DECIMAL(20,12) before every order-sensitive reduction; each output
    * is then a short chain of identical double ops both engines replay
    * bit-for-bit.
    *
    * Scale shape: one hash exchange on key feeds the trend window; the
    * seasonal aggregation is map-side combined down to period×keys
    * rows; the join back BROADCASTS only while that frame is provably
    * small — a bounded `limit(n+1).count()` probe (never a full count)
    * checks it against `maxBroadcastSeasonal`, and above the threshold
    * the join falls back to a plain hash join on (key, pos) so millions
    * of series never force a driver-sized broadcast. Same rows out
    * either way; only the join strategy changes. No collects, nothing
    * quadratic. */
  /** Seasonal-naive forecast backtest: predict each bucket as the
    * SAME series `period` buckets earlier (ŷ_t = y_{t−period}, the
    * no-parameter baseline every real forecaster must beat) and score
    * the prediction wherever both sides exist. Per series: n_eval,
    * MAE and sMAPE — the standard backtest readout, and the
    * regression gate for any fancier model over the same lake.
    *
    * Input: a [[CrossSeries.bucketSeries]]-shaped frame (k, b, v) with
    * exact integer cents. Exactness: errors |y − ŷ| are exact BIGINTs;
    * MAE is one double division of an exact sum; each sMAPE term
    * 2|e|/(|y|+|ŷ|) quantizes to DECIMAL(20,12) before the order-free
    * mean (zero-denominator pairs — both sides zero — contribute a 0
    * term by the standard convention, not a NULL). FLOAT surface.
    *
    * Plan: ONE self-join on (k, b−period) — both sides already reduced
    * to series granularity — then a map-side-combined rollup; no
    * windows, nothing corpus-sized. Gaps are honest: a bucket with no
    * t−period observation is not evaluated (seasonal-naive has no
    * forecast there). */
  def seasonalNaiveBacktest(series: DataFrame, period: Long): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val prev = series.select(col("k"),
      (col("b") + lit(period)).as("b"), col("v").as("__pv"))
    val e = abs(col("v") - col("__pv"))
    val smapeTerm = when(col("v") === 0L && col("__pv") === 0L,
        lit(0).cast("decimal(20,12)"))
      .otherwise((lit(2.0) * e.cast("double") /
        (abs(col("v")) + abs(col("__pv"))).cast("double"))
        .cast("decimal(20,12)"))
    series.join(prev, Seq("k", "b"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_eval"),
        (sum(e).cast("double") / count(lit(1)).cast("double"))
          .cast("float").as("mae_cents"),
        (sum(smapeTerm).cast("double") / count(lit(1)).cast("double"))
          .cast("float").as("smape"))
  }

  def seasonalDecompose(df: DataFrame, key: String, t: String,
                        value: String, period: Int = 7,
                        trendWindow: Int = 7,
                        maxBroadcastSeasonal: Int = 1000000): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(trendWindow >= 3 && trendWindow % 2 == 1,
      s"trendWindow must be odd and >= 3, got $trendWindow")
    val h = trendWindow / 2
    val d30 = (c: Column) => c.cast("decimal(30,12)")
    val d12 = (c: Column) => c.cast("decimal(20,12)")
    val w = Window.partitionBy(col(key)).orderBy(col(t).cast("long"))
      .rangeBetween(-h, h)
    // duplicate (key, t) rows would make the RANGE-frame count exceed
    // trendWindow and silently NULL the trend — fail loudly instead.
    // The lag check rides the same key-hash partitioning as the trend
    // window, so the assertion costs no extra exchange.
    val wOrd = Window.partitionBy(col(key)).orderBy(col(t).cast("long"))
    val tr = df
      .select(col(key), col(t).cast("long").as(t), col(value))
      .withColumn("__prev_t", lag(col(t), 1).over(wOrd))
      .where(assert_true(
        col("__prev_t").isNull || col("__prev_t") =!= col(t),
        lit("seasonalDecompose: duplicate t within a key — the series " +
          "must be regular (one row per (key, t))")).isNull)
      .drop("__prev_t")
      .withColumn("__trend",
        when(count(lit(1)).over(w) === trendWindow,
          sum(d30(col(value))).over(w).cast("double") /
            lit(trendWindow.toDouble)))
      .withColumn("__det", col(value).cast("double") - col("__trend"))
    val wk = Window.partitionBy(col("__k"))
    val seasonal = tr.filter(col("__det").isNotNull)
      .groupBy(col(key).as("__k"), pmod(col(t), lit(period.toLong)).as("__pos"))
      .agg((sum(d12(col("__det"))).cast("double") /
        count(lit(1)).cast("double")).as("__srw"))
      .withColumn("__m",
        sum(d12(col("__srw"))).over(wk).cast("double") /
          count(lit(1)).over(wk).cast("double"))
      .select(col("__k"), col("__pos"),
        (col("__srw") - col("__m")).as("__seasonal"))
    // keys×period rows: broadcast while a bounded probe proves it fits,
    // plain hash join past the threshold (the queryProductJoin guard
    // pattern — an unconditional hint here is a driver OOM at millions
    // of series). The probe re-runs the aggregation once, but only ever
    // scans maxBroadcastSeasonal+1 of its rows.
    val over =
      seasonal.limit(maxBroadcastSeasonal + 1).count() > maxBroadcastSeasonal
    // PlanAudit sf0.1, 1 MB threshold: ts_seasonal_anomaly 17 exch/1 SMJ, 29/5 without
    val seasonalSide = if (over) seasonal else broadcast(seasonal)
    tr.join(seasonalSide,
        col(key) === col("__k") &&
          pmod(col(t), lit(period.toLong)) === col("__pos"), "left")
      .select(col(key), col(t), col(value),
        col("__trend").as("trend"), col("__seasonal").as("seasonal"),
        (col("__det") - col("__seasonal")).as("residual"))
  }
}
