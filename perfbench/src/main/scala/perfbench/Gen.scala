package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic inputs, derived from the workload seed only.
  *
  * Bars are daily OHLCV rows for `tickers` symbols on weekdays, priced as
  * a geometric random walk whose steps come from md5 of
  * (seed, ticker, day), so any two runs with one seed see identical
  * inputs and another seed gives another market. */
object Gen {

  /** Uniform [0,1) from md5 of the seed and the given parts. */
  def unif(seed: Long, parts: Column*): Column =
    conv(substring(md5(concat_ws(":", (lit(seed.toString) +: parts): _*)), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  def bars(spark: SparkSession, seed: Long, tickers: Int,
           from: LocalDate, calendarDays: Int): DataFrame = {
    val t = (col("id") / calendarDays).cast("int")
    val d = (col("id") % calendarDays).cast("int")
    val walk = Window.partitionBy(col("t")).orderBy(col("d"))
    spark.range(tickers.toLong * calendarDays)
      .select(t.as("t"), d.as("d"))
      .withColumn("day", date_add(lit(from.toString).cast("date"), col("d")))
      .filter(!dayofweek(col("day")).isin(1, 7))
      .withColumn("step", (unif(seed, lit("r"), col("t"), col("d")) - 0.5) * 0.04)
      .withColumn("base", lit(20.0) + unif(seed, lit("b"), col("t")) * 480.0)
      .withColumn("close", round(col("base") * exp(sum(col("step")).over(walk)), 4))
      .withColumn("open", round(col("close") * (lit(1.0) + (unif(seed, lit("o"), col("t"), col("d")) - 0.5) * 0.02), 4))
      .withColumn("hi", unif(seed, lit("h"), col("t"), col("d")) * 0.01)
      .withColumn("lo", unif(seed, lit("l"), col("t"), col("d")) * 0.01)
      .select(
        col("day").cast("timestamp").as("date"),
        col("open"),
        round(greatest(col("open"), col("close")) * (lit(1.0) + col("hi")), 4).as("high"),
        round(least(col("open"), col("close")) * (lit(1.0) - col("lo")), 4).as("low"),
        col("close"),
        (lit(100000L) + (unif(seed, lit("v"), col("t"), col("d")) * 1.0e7).cast("long")).as("volume"),
        format_string("T%03d", col("t")).as("ticker"),
        col("close").as("adj_close"))
  }

  /** sp500-style dimension: every ticker in one of `sectors`. */
  def dimension(spark: SparkSession, seed: Long, tickers: Int, sectors: Seq[String]): DataFrame =
    spark.range(tickers).select(
      format_string("T%03d", col("id")).as("ticker_symbol"),
      format_string("Company %03d", col("id")).as("security_name"),
      element_at(array(sectors.map(lit): _*),
        (unif(seed, lit("s"), col("id")) * sectors.size).cast("int") + 1).as("gics_sector"),
      lit("Generated").as("gics_sub_industry"))
}
