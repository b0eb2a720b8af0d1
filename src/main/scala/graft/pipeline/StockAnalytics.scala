package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Returns, Snapshot}

/** The reference dashboard's analytics (scripts/app.py), as one Spark
  * tier: what the reference splits between warehouse SQL and client-side
  * pandas collapses into DataFrame transforms over the enriched lake.
  */
object StockAnalytics {

  /** Ticker history slice (reference: app.py:31-44 — projection,
    * IN-list + BETWEEN filter, output sort). All three predicates push
    * down to the parquet scan. */
  def history(metrics: DataFrame, tickers: Seq[String],
              from: String, to: String): DataFrame =
    metrics
      .filter(col("ticker").isin(tickers: _*) && col("date").between(lit(from), lit(to)))
      .select(col("date"), col("ticker"), col("close"), col("daily_return"), col("ingest_ts"))
      .orderBy(col("date"), col("ticker"))

  /** Cumulative compounded return + absolute value of an investment
    * (reference: app.py:46-52 — fillna(0) then cumprod). */
  def computeTrends(history: DataFrame, investment: Double = 10000.0): DataFrame =
    Returns.cumulativeReturn(
        history.na.fill(0.0, Seq("daily_return")),
        partition = Seq("ticker"), order = Seq("date"),
        ret = "daily_return", out = "cumulative_return")
      .withColumn("abs_return", lit(investment) * col("cumulative_return"))

  /** Final return + freshness per ticker (reference: app.py:54-66 —
    * pandas positional 'last'; here deterministic max_by). */
  def finalReturns(trends: DataFrame): DataFrame =
    trends.groupBy(col("ticker")).agg(
      max_by(col("cumulative_return"), col("date")).as("final_return"),
      max(col("ingest_ts")).as("last_ingested"))

  /** Relative performance of two tickers (reference: app.py:68-73). */
  def relativeReturns(trends: DataFrame, base: String, comp: String): DataFrame =
    Returns.relativeReturns(
      trends.select(col("date"), col("ticker"), col("cumulative_return")),
      axis = "date", seriesCol = "ticker", base = base, comp = comp,
      value = "cumulative_return")

  /** Final relative-performance figure — the last element of the ordered
    * relative series, the single number the dashboard prints
    * (reference: app.py:247). Deterministic max_by, not positional last. */
  def finalRelativeReturn(trends: DataFrame, base: String, comp: String): DataFrame =
    relativeReturns(trends, base, comp)
      .agg(max_by(col("pct_diff"), col("date")).as("final_pct_diff"))

  /** Latest-day snapshot joined with the dimension table
    * (reference: app.py:75-97 — dim join, ROW_NUMBER window, rn=1).
    * When the warehouse and dimension files together are at or below
    * the broadcast threshold, the whole query is one job of one task
    * ([[graft.functions.CoalesceSmallScans]]: both scans coalesced, a
    * shuffle-hash join with no exchange). At scale the planner
    * broadcasts the dimension by its size, and the join finishes in one
    * task: Spark's partial `WindowGroupLimit` keeps at most one row per
    * ticker per map task ahead of the hash exchange, so the single final
    * task reads at most |tickers| × map-tasks rows, and the display sort
    * on that one partition needs no range exchange. */
  def latestSnapshot(metrics: DataFrame, dim: DataFrame): DataFrame = {
    val latest = Snapshot.latestPerKey(metrics, keys = Seq("ticker"), order = Seq("date"))
      .coalesce(1)
    latest.join(dim, latest("ticker") === dim("ticker_symbol"))
      .select(col("ticker"), col("security_name"), col("gics_sector"),
        col("date"), col("close"), col("daily_return"), col("rolling_vol_30d"))
      .orderBy(col("daily_return").desc)
  }

  /** Sector top gainers/losers (reference: app.py:140-148 —
    * n = min(count/2, 20)). Over a [[latestSnapshot]] the whole query
    * stays in that snapshot's single task: its windows need no
    * `SinglePartition` exchange, and the snapshot's display sort is
    * dropped by [[graft.functions.EliminateSortBelowWindow]]. Over small
    * files that is the query's only task and job; at scale the
    * dimension's broadcast runs first, as in [[latestSnapshot]]. */
  def topMovers(snapshot: DataFrame, sector: String,
                gainers: Boolean): DataFrame = {
    val by: Column = if (gainers) col("daily_return").desc else col("daily_return").asc
    // one pass: rank and count share the same single-partition window
    // frame (snapshots are ≤ |tickers| rows), so no pre-count scan
    val w = Window.orderBy(by, col("ticker"))
    val wAll = Window.partitionBy()
    snapshot.filter(col("gics_sector") === sector)
      .withColumn("__rank", row_number().over(w))
      .withColumn("__n", least(floor(count(lit(1)).over(wAll) / 2), lit(20L)))
      .filter(col("__rank") <= col("__n"))
      .orderBy(by, col("ticker"))
      .drop("__rank", "__n")
  }

  /** Display formatting (reference: app.py:121-124 — ⬆/⬇ glyph + 2dp
    * percent) as a native Column expression, not a UDF. Reference
    * surface: the engine serves data and renders nothing, so only its
    * spec calls this; it stands for the dashboard's display step. */
  def formatDailyReturn(c: Column): Column =
    concat(
      when(c >= 0, lit("⬆ ")).otherwise(lit("⬇ ")),
      format_number(abs(c) * 100, 2), lit("%"))

  /** Edge-of-system timezone conversion: storage stays UTC, display
    * converts (reference: app.py:212-213, config.py:46 US/Eastern).
    * Reference surface, like [[formatDailyReturn]]: only its spec calls
    * it. */
  def displayInTz(utcTs: Column, tz: String = "America/New_York"): Column =
    from_utc_timestamp(utcTs, tz)
}
