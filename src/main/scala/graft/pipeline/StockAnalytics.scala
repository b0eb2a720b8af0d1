package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Returns, Snapshot}

/** The reference dashboard's analytics (scripts/app.py), as one Spark
  * tier: what the reference splits between warehouse SQL and client-side
  * pandas collapses into DataFrame transforms over the enriched lake.
  *
  * The two reads that touch the warehouse, [[history]] and
  * [[latestSnapshot]], are served per warehouse snapshot, as the
  * reference's `@st.cache_data` serves them (app.py:31,75,99; see
  * [[Served]]):
  *  - key: the session and its confs, the call's arguments, and the
  *    canonicalized analyzed plans of the input frames with the identity
  *    of their relations. `LakeReader.read` returns the same relation
  *    only over an unchanged listing, so a load, swap, append or heal is
  *    a new key;
  *  - bound: the kept rows hold at most
  *    `spark.sql.autoBroadcastJoinThreshold` bytes summed over entries,
  *    least recently used evicted first. A result over it, or any result
  *    under a threshold below 0, comes back as the computed lazy frame;
  *  - a miss runs the query eagerly, once, and keeps its rows. Its
  *    tasks stop reading, and the driver stops keeping what arrives,
  *    once past the bound. It then returns a frame over the kept rows,
  *    so a caller that collects it reads the rows a second time;
  *  - a hit returns a frame over the kept rows with fresh attribute ids.
  *    It scans no file and starts at most one job of one task, and so do
  *    the windows and aggregates that [[computeTrends]],
  *    [[finalRelativeReturn]] and [[topMovers]] run over it.
  * [[Computed]] holds the queries as computed on every call.
  */
object StockAnalytics {

  /** Ticker history slice (reference: app.py:31-44 — projection,
    * IN-list + BETWEEN filter, output sort), served per warehouse
    * snapshot ([[Served]]). */
  def history(metrics: DataFrame, tickers: Seq[String],
              from: String, to: String): DataFrame =
    Served(Seq("history", tickers, from, to), metrics)(Computed.history(metrics, tickers, from, to))

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
    * (reference: app.py:75-97 — dim join, ROW_NUMBER window, rn=1),
    * served per warehouse snapshot ([[Served]]). */
  def latestSnapshot(metrics: DataFrame, dim: DataFrame): DataFrame =
    Served(Seq("latestSnapshot"), metrics, dim)(Computed.latestSnapshot(metrics, dim))

  /** Sector top gainers/losers (reference: app.py:140-148 —
    * n = min(count/2, 20)). Over a [[latestSnapshot]] the whole query
    * stays in that snapshot's single task: its windows need no
    * `SinglePartition` exchange. Over kept rows that is the query's only
    * task and job. Over a computed snapshot the snapshot's display sort
    * is dropped by [[graft.functions.EliminateSortBelowWindow]]; at scale
    * the dimension's broadcast runs first, as in
    * [[Computed.latestSnapshot]]. */
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

  /** The served queries as computed on every call: what [[Served]]
    * runs on a miss, and what a spec plans to check their shape. */
  private[pipeline] object Computed {

    /** Its predicates push down to the parquet scan. Over a
      * pipeline zone (a frame with the `year` partition column, which
      * the writer derives as `year(date)`, see [[StockPipeline]]) the
      * date bounds also bound `year`, so the scan lists only the years
      * in the window. */
    def history(metrics: DataFrame, tickers: Seq[String],
                from: String, to: String): DataFrame = {
      val inWindow = col("date").between(lit(from), lit(to))
      val years =
        if (metrics.columns.contains("year")) col("year").between(year(lit(from)), year(lit(to)))
        else lit(true)
      metrics
        .filter(col("ticker").isin(tickers: _*) && inWindow && years)
        .select(col("date"), col("ticker"), col("close"), col("daily_return"), col("ingest_ts"))
        .orderBy(col("date"), col("ticker"))
    }

    /** Every ticker's latest row over all years, as the reference's
      * ROW_NUMBER over the whole table. When the warehouse and
      * dimension files together are at or below the broadcast
      * threshold, the whole query is one job of one task
      * ([[graft.functions.CoalesceSmallScans]]: both scans coalesced, a
      * shuffle-hash join with no exchange). At scale the planner
      * broadcasts the dimension by its size, and the join finishes in
      * one task: Spark's partial `WindowGroupLimit` keeps at most one
      * row per ticker per map task ahead of the hash exchange, so the
      * single final task reads at most |tickers| × map-tasks rows, and
      * the display sort on that one partition needs no range exchange. */
    def latestSnapshot(metrics: DataFrame, dim: DataFrame): DataFrame = {
      val latest = Snapshot.latestPerKey(metrics, keys = Seq("ticker"), order = Seq("date"))
        .coalesce(1)
      latest.join(dim, latest("ticker") === dim("ticker_symbol"))
        .select(col("ticker"), col("security_name"), col("gics_sector"),
          col("date"), col("close"), col("daily_return"), col("rolling_vol_30d"))
        .orderBy(col("daily_return").desc)
    }
  }
}
