package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-series analytics: pairwise statistics BETWEEN keyed time
  * series (correlation matrix, beta against the cross-sectional
  * aggregate). The reference's dashboard compares tickers one at a
  * time (`app.py:50-72` relative series, `app.py:77-93` top movers);
  * the natural next question — "which tickers move together, and how
  * much of each move is just the market" — is a pairwise join the
  * reference never scales to. Here it is the standard two-step:
  *
  *  1. REDUCE each series to one row per (key, bucket) with an exact
  *     integer value (cents sum) — the raw table never joins itself.
  *  2. Pair-join the reduced frame on bucket. The intermediate is
  *     |keys|² · |buckets| rows — governed by key cardinality (a few
  *     thousand tickers), NOT raw row count, which is what makes the
  *     correlation matrix tractable at 100 TB: the petabyte table
  *     collapses to a ~MB series frame before any quadratic step.
  *
  * Float discipline follows [[graft.queries.AnalyticsQueries]]'s
  * `agg_exact_corr`: per-row values quantize to integer cents, all
  * co-moments accumulate in DECIMAL(38,0) (order-independent, no
  * BIGINT wrap at any cardinality), and only the final ratio divides
  * in IEEE double — so DuckDB's HUGEINT oracle replays the result
  * bit-for-bit.
  */
object CrossSeries {

  private val d38 = (c: Column) => c.cast("decimal(38,0)")

  /** Reduce a raw event frame to one exact integer observation per
    * (key, bucket): the cents sum of `value` in the bucket. Sums (not
    * means) keep the series value integral — means would divide too
    * early and re-introduce engine-order float drift. */
  def bucketSeries(df: DataFrame, key: String, tsNanos: String,
                   value: String, bucketNanos: Long): DataFrame = {
    require(bucketNanos > 0, s"bucketNanos must be positive, got $bucketNanos")
    // integer `div`, never float division: epoch nanos (~1.7e18) sit far
    // beyond double's 2^53 integer range, so a float quotient can flip
    // bucket-boundary rows; `div` keeps both engines on exact int64
    df.filter(col(value).isNotNull)
      .groupBy(col(key).as("k"),
        expr(s"`$tsNanos` div ${bucketNanos}L").as("b"))
      .agg(sum(round(col(value) * 100).cast("long")).as("v"))
  }

  /** Pearson correlation between every unordered pair of series,
    * aligned on shared buckets (inner join: a bucket contributes only
    * where BOTH series observed — the pairwise-complete convention).
    * Output: (k1, k2, n, corr) with k1 < k2, one row per pair.
    *
    * Plan: one self-join of the reduced series frame on bucket with
    * `k1 < k2` inside the join, then one grouped co-moment pass —
    * |keys|²/2 groups. No window, no driver loop; with thousands of
    * keys the pair frame still fits comfortably in one shuffle. */
  def corrPairs(series: DataFrame, minOverlap: Int = 2): DataFrame = {
    require(minOverlap >= 2, s"corr needs at least 2 shared buckets, got $minOverlap")
    val a = series.select(col("k").as("k1"), col("b"), col("v").as("x"))
    val bf = series.select(col("k").as("k2"), col("b"), col("v").as("y"))
    a.join(bf, Seq("b")).filter(col("k1") < col("k2"))
      .groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      .filter(col("n") >= minOverlap)
      .withColumn("cov_n", d38(col("n")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", d38(col("n")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", d38(col("n")) * col("syy") - col("sy") * col("sy"))
      .select(col("k1"), col("k2"), col("n"),
        (col("cov_n").cast("double") /
          nullif(sqrt(col("var_x").cast("double") * col("var_y").cast("double")),
            lit(0.0))).cast("float").as("corr"))
  }

  /** CAPM-style beta of each series against the MARKET series — the
    * cross-sectional cents total per bucket (an index weighting every
    * key equally by observed volume, computed in the same pass family
    * as the series themselves). β(k) = cov(series k, market) /
    * var(market) over the buckets where k observed.
    *
    * The market frame is |buckets| rows → broadcast onto the series
    * frame; the whole operator is two aggregations and one broadcast
    * join. The broadcast is bounded by TIME, not by data: buckets are
    * wall-clock intervals, so the frame grows with calendar span ÷
    * bucket width (daily ≈ 3.7k rows/decade, minutely ≈ 5.3M/decade —
    * pick the bucket so span/width stays ≪ 10⁷ and the hint is safe at
    * ANY entity count; entity growth never touches this frame, unlike
    * the per-GROUP frames Percentiles/Moments probe-guard).
    * Self-inclusion (k's own cents are inside the market total)
    * is the index convention — S&P constituents are inside the S&P. */
  /** TRAILING-window correlation of each series against the market —
    * [[betaVsMarket]]'s global regression localized in time: corr over
    * the last `window` observed buckets per key, emitted per (key,
    * bucket). The regime-change detector ("this ticker decoupled from
    * the index in March") a single whole-history coefficient averages
    * away.
    *
    * Same exactness contract: co-moment sums are DECIMAL(38,0) window
    * sums over integer cents, one double combination per row, float
    * out. Plan: the broadcast market join (|buckets| rows — bounded by
    * calendar span ÷ bucket width, NOT by entity count; see
    * [[betaVsMarket]]'s bound note), then ONE key-partitioned window
    * ordering — all six frame sums share it. */
  def rollingCorrVsMarket(series: DataFrame, window: Int,
                          minOverlap: Int = 2): DataFrame = {
    require(window >= 2, s"window must be at least 2, got $window")
    require(minOverlap >= 2, s"corr needs at least 2 buckets, got $minOverlap")
    val market = series.groupBy(col("b")).agg(sum(col("v")).as("m"))
    val w = Window.partitionBy(col("k")).orderBy(col("b"))
      .rowsBetween(-(window - 1), Window.currentRow)
    // PlanAudit sf0.01: w_rolling_corr_market 5 exch/1 bcast with this hint, 0/0 without
    series.join(broadcast(market), Seq("b"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(d38(col("v"))).over(w))
      .withColumn("sy", sum(d38(col("m"))).over(w))
      .withColumn("sxy", sum(d38(col("v")) * d38(col("m"))).over(w))
      .withColumn("sxx", sum(d38(col("v")) * d38(col("v"))).over(w))
      .withColumn("syy", sum(d38(col("m")) * d38(col("m"))).over(w))
      .filter(col("n") >= minOverlap)
      .withColumn("cov_n", d38(col("n")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", d38(col("n")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", d38(col("n")) * col("syy") - col("sy") * col("sy"))
      .select(col("k"), col("b"), col("n"),
        (col("cov_n").cast("double") /
          nullif(sqrt(col("var_x").cast("double") * col("var_y").cast("double")),
            lit(0.0))).cast("float").as("corr"))
  }

  def betaVsMarket(series: DataFrame, minOverlap: Int = 2): DataFrame = {
    require(minOverlap >= 2, s"beta needs at least 2 shared buckets, got $minOverlap")
    val market = series.groupBy(col("b")).agg(sum(col("v")).as("m"))
    // PlanAudit sf0.01: beta_vs_market 5 exch/1 bcast with this hint, 0/0 without
    series.join(broadcast(market), Seq("b"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("v"))).as("sx"), sum(d38(col("m"))).as("sm"),
        sum(d38(col("v")) * d38(col("m"))).as("sxm"),
        sum(d38(col("m")) * d38(col("m"))).as("smm"))
      .filter(col("n") >= minOverlap)
      .withColumn("cov_n", d38(col("n")) * col("sxm") - col("sx") * col("sm"))
      .withColumn("var_m", d38(col("n")) * col("smm") - col("sm") * col("sm"))
      .select(col("k"), col("n"),
        (col("cov_n").cast("double") /
          nullif(col("var_m").cast("double"), lit(0.0))).cast("float").as("beta"))
  }

  /** Sample autocorrelation of each series at lags 1..`maxLag` — the
    * seasonality detector behind "pick `period` for
    * [[Resample.seasonalDecompose]] from the data, don't guess": a
    * weekly cycle shows as a spike at lag 7.
    *
    * r(ℓ) = Σ_pairs (x_t − x̄)(x_{t+ℓ} − x̄) / Σ_t (x_t − x̄)², with x̄
    * the FULL-series mean and the numerator over every pair at bucket
    * distance exactly ℓ (a gap simply contributes no pair — the
    * pairwise-complete convention, same as [[corrPairs]]). Multiplying
    * both sides by n² clears the rational mean, so everything up to the
    * final division is integer DECIMAL(38,0) arithmetic on cents:
    *   n²·num = n²·Σxy − n·S·(Σx_a + Σx_b) + m·S²
    *   n²·den = n²·Σx² − n·S²
    * Headroom contract: |cents|·n must stay under ~10¹⁹ so the n²-
    * scaled co-moments fit DECIMAL(38,0) (same budget as [[corrPairs]];
    * a century of daily buckets against trillion-cent sums still
    * clears it by two orders).
    *
    * Plan: the lag fan-out explodes the REDUCED series frame (maxLag
    * copies of |keys|·|buckets| rows, megabytes at any SF), one
    * self-join on (k, b+ℓ), one grouped pass, and a broadcast join of
    * the per-key totals. Raw events never move twice. */
  def acf(series: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val tot = series.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(d38(col("v"))).as("s"),
        sum(d38(col("v")) * d38(col("v"))).as("sxx"))
    val a = series.select(col("k"), col("b"), col("v").as("x"))
      .withColumn("lag", explode(sequence(lit(1L), lit(maxLag.toLong))))
    val bf = series.select(col("k"), col("b").as("b2"), col("v").as("y"))
    a.join(bf, a("k") === bf("k") && col("b2") === col("b") + col("lag"))
      .drop(bf("k"))
      .groupBy(col("k"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x"))).as("sa"), sum(d38(col("y"))).as("sb"))
      // PlanAudit sf0.1, 1 MB threshold: ts_acf 7 exch/1 SMJ with this hint, 8/2 without
      .join(broadcast(tot), Seq("k"))
      .withColumn("num",
        d38(col("n")) * d38(col("n")) * col("sxy") -
          d38(col("n")) * col("s") * (col("sa") + col("sb")) +
          d38(col("n_pairs")) * col("s") * col("s"))
      .withColumn("den",
        d38(col("n")) * d38(col("n")) * col("sxx") -
          d38(col("n")) * col("s") * col("s"))
      .select(col("k"), col("lag"), col("n_pairs"),
        (col("num").cast("double") /
          nullif(col("den").cast("double"), lit(0.0))).cast("float").as("acf"))
  }

  /** Theil–Sen robust trend slope per series: the MEDIAN of the
    * pairwise slopes (v_j − v_i)/(b_j − b_i) over all bucket pairs
    * i < j — a 29%-breakdown estimator a single outlier bucket cannot
    * drag, unlike the OLS slope inside [[betaVsMarket]].
    *
    * Median convention: sort the slopes, average the lower and upper
    * nearest-rank elements ((n+1) div 2 and (n+2) div 2 — equal when n
    * is odd). Each slope is ONE double division of exact integers and
    * the average sums at most two doubles, so both engines replay the
    * value bit-for-bit.
    *
    * Scale contract: the pair fan-out is |buckets|² per key — the
    * operator is for REDUCED series (thousands of buckets at most,
    * millions of pairs per key), never raw events; the reduction to
    * [[bucketSeries]] is what keeps it tractable at 100 TB. */
  def theilSen(series: DataFrame): DataFrame = {
    val a = series.select(col("k"), col("b").as("b1"), col("v").as("v1"))
    val b2 = series.select(col("k"), col("b").as("b2"), col("v").as("v2"))
    val slopes = a.join(b2, Seq("k")).filter(col("b2") > col("b1"))
      .select(col("k"),
        ((col("v2") - col("v1")).cast("double") /
          (col("b2") - col("b1")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("k")).orderBy(col("slope"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("(np + 2) div 2"))
      .groupBy(col("k"))
      .agg(max(col("np")).as("n_pairs"), avg(col("slope")).as("slope"))
  }

  /** Single changepoint per series by binary segmentation: the split
    * that removes the most within-segment variance. For every
    * candidate boundary i (1 ≤ i < n in bucket order) the SSE reduction
    * is gain(i) = s₁²/n₁ + s₂²/n₂ − S²/n (the Σx² term cancels), where
    * s₁ is the exact DECIMAL prefix-sum of cents — so each candidate's
    * gain is the same three-term double chain in both engines, and the
    * argmax (ties → smallest bucket) is engine-portable. Emits one row
    * per key with ≥ 2 buckets: the last bucket of the left segment,
    * both segment means, and the gain.
    *
    * Plan: ONE key-partitioned ordered window produces every prefix
    * sum; the argmax is a second tiny window over |keys|·|buckets|
    * candidate rows. Nothing quadratic, nothing collected. */
  def changepoint(series: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("k")).orderBy(col("b"))
    val wAll = Window.partitionBy(col("k"))
    val cand = series
      .withColumn("i", row_number().over(wOrd))
      .withColumn("s1", sum(d38(col("v")))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(d38(col("v"))).over(wAll))
      .filter(col("i") < col("n"))
      .withColumn("s2", col("s") - col("s1"))
      .withColumn("n2", col("n") - col("i"))
      .withColumn("gain",
        (col("s1").cast("double") * col("s1").cast("double")) /
          col("i").cast("double") +
          (col("s2").cast("double") * col("s2").cast("double")) /
            col("n2").cast("double") -
          (col("s").cast("double") * col("s").cast("double")) /
            col("n").cast("double"))
    cand
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("gain").desc, col("b"))))
      .filter(col("pick") === 1)
      .select(col("k"), col("b").as("split_b"), col("n"),
        (col("s1").cast("double") / col("i").cast("double")).as("mean_left"),
        (col("s2").cast("double") / col("n2").cast("double")).as("mean_right"),
        col("gain").cast("float").as("gain"))
  }
}
