package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{LakeReader, LakeWriter}
import graft.ops.Reshape

class StockPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
  private val ingestTs = Timestamp.valueOf("2024-01-05 12:00:00")

  /** 2 tickers × 3 days of synthetic OHLCV, long format. */
  private def bars = Seq(
    (ts("2024-01-01"), 10.0, 11.0, 9.0, 10.0, 100L, "AAA", 10.0),
    (ts("2024-01-02"), 10.0, 12.0, 9.0, 11.0, 110L, "AAA", 11.0),
    (ts("2024-01-03"), 11.0, 13.0, 10.0, 12.1, 120L, "AAA", 12.1),
    (ts("2024-01-01"), 50.0, 51.0, 49.0, 50.0, 500L, "BBB", 50.0),
    (ts("2024-01-02"), 50.0, 52.0, 48.0, 40.0, 510L, "BBB", 40.0)
  ).toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")

  test("end-to-end: ingest → transform → load, derived metrics correct") {
    val dir = Files.createTempDirectory("stockpipe").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")

    val result = StockPipeline.run(spark, bars, ingestTs, raw, enr, wh)
    result shouldBe Right(5L)

    val m = LakeReader.read(spark, wh)
      .orderBy("ticker", "date")
      .select("ticker", "daily_return", "rolling_vol_30d")
      .rows
    assert(m(0)(1) == null)                                   // AAA day1: no prev close
    m(1)(1).asInstanceOf[Double] shouldBe 0.10 +- 1e-12       // 10 → 11
    m(2)(1).asInstanceOf[Double] shouldBe 0.10 +- 1e-12       // 11 → 12.1
    assert(m(1)(2) == null)                                   // std of 1 sample (ddof=1)
    m(2)(2).asInstanceOf[Double] shouldBe 0.0 +- 1e-12        // std([0.1, 0.1])
    m(4)(1).asInstanceOf[Double] shouldBe -0.20 +- 1e-12      // BBB 50 → 40
  }

  test("load is idempotent: re-running the pipeline does not duplicate") {
    val dir = Files.createTempDirectory("stockpipe2").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    StockPipeline.run(spark, bars, ingestTs, raw, enr, wh) shouldBe Right(5L)
    StockPipeline.run(spark, bars, ingestTs, raw, enr, wh) shouldBe Right(5L)
    LakeReader.read(spark, wh).count() shouldBe 5L
  }

  test("incremental day loads without touching old rows; lake is partition-pruned") {
    val dir = Files.createTempDirectory("stockpipe3").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    StockPipeline.run(spark, bars, ingestTs, raw, enr, wh)

    val day4 = Seq((ts("2024-01-04"), 12.0, 13.0, 11.0, 13.31, 130L, "AAA", 13.31))
      .toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")
    StockPipeline.run(spark, bars.unionByName(day4),
      Timestamp.valueOf("2024-01-06 12:00:00"), raw, enr, wh) shouldBe Right(6L)

    val aaa4 = LakeReader.read(spark, wh)
      .filter(col("ticker") === "AAA" && col("date") === ts("2024-01-04"))
    aaa4.select("daily_return").rows.head.head.asInstanceOf[Double] shouldBe 0.10 +- 1e-12
    // old rows kept their original ingest_ts (incremental filter dropped them)
    LakeReader.read(spark, wh).filter(col("ingest_ts") === lit(ingestTs)).count() shouldBe 5L

    // partition pruning: a year-filtered scan of the raw zone reads only that partition
    val plan = LakeReader.read(spark, raw).filter(col("year") === 2024)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("PartitionFilters: []"))
  }

  test("zones hold one directory per year, files sorted by (ticker, date), ticker filters pushed") {
    val dir = Files.createTempDirectory("stockpipe6").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    val lastYear = Seq(
      (ts("2023-12-29"), 9.0, 10.0, 8.0, 9.5, 90L, "BBB", 9.5),
      (ts("2023-12-28"), 9.0, 10.0, 8.0, 9.0, 90L, "AAA", 9.0))
      .toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")
    // input deliberately out of (ticker, date) order
    val shuffled = bars.unionByName(lastYear).orderBy(col("date").desc, col("ticker").desc)
    StockPipeline.run(spark, shuffled, ingestTs, raw, enr, wh) shouldBe Right(7L)

    for (zone <- Seq(raw, enr)) {
      val root = new java.io.File(zone)
      val dirs = root.listFiles().filter(_.isDirectory)
      dirs.map(_.getName).sorted.toSeq shouldBe Seq("year=2023", "year=2024")
      for (d <- dirs) {
        d.listFiles().filter(_.isDirectory) shouldBe empty
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        files should not be empty
        for (f <- files) {
          val keys = spark.read.parquet(f.getPath).select("ticker", "date").collect()
            .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSeq
          keys shouldBe keys.sorted
        }
      }
    }

    // a ticker filter reaches the parquet reader (row-group min/max pruning)
    val tickerPlan = LakeReader.read(spark, raw).filter(col("ticker") === "AAA")
      .queryExecution.executedPlan.toString
    assert(tickerPlan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(ticker,AAA)")),
      s"expected ticker pushdown in:\n$tickerPlan")
  }

  test("numeric-looking tickers stay strings through the pipeline") {
    val dir = Files.createTempDirectory("stockpipe7").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    val hk = bars.withColumn("ticker",
      when(col("ticker") === "AAA", lit("0700")).otherwise(lit("0005")))
    StockPipeline.run(spark, hk, ingestTs, raw, enr, wh) shouldBe Right(5L)
    LakeReader.read(spark, wh).schema("ticker").dataType shouldBe
      org.apache.spark.sql.types.StringType
    LakeReader.read(spark, wh).select("ticker").distinct().rows.map(_.head).toSet shouldBe
      Set("0700", "0005")
  }

  test("load returns the deduplicated row count it wrote") {
    val dir = Files.createTempDirectory("stockpipe8").toString
    val (enr, wh) = (s"$dir/enriched", s"$dir/warehouse")
    // one enriched zone per ingest_ts, then all of them appended into one
    def enrichedAt(name: String, input: org.apache.spark.sql.DataFrame, at: Timestamp): Unit = {
      StockPipeline.ingest(input, at, s"$dir/raw_$name")
      StockPipeline.transform(spark, s"$dir/raw_$name", s"$dir/enr_$name").isRight shouldBe true
      LakeWriter.append(LakeReader.read(spark, s"$dir/enr_$name"), enr, StockPipeline.partitionCols)
    }
    val later = Timestamp.valueOf("2024-01-06 12:00:00")
    enrichedAt("a", bars, ingestTs)
    enrichedAt("b", bars, later)
    LakeReader.read(spark, enr).count() shouldBe 10L     // every (ticker, date) twice

    // the returned count is the warehouse's, read back independently
    def loadChecked(expected: Long): Unit = {
      StockPipeline.load(spark, enr, wh) shouldBe expected
      LakeReader.read(spark, wh).count() shouldBe expected
    }
    loadChecked(5L)
    // the latest ingest_ts wins the dedup
    LakeReader.read(spark, wh).filter(col("ingest_ts") === lit(later)).count() shouldBe 5L

    loadChecked(5L)                                        // re-run: no-op

    val day4 = Seq((ts("2024-01-04"), 12.0, 13.0, 11.0, 13.31, 130L, "AAA", 13.31))
      .toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")
    enrichedAt("c", bars.unionByName(day4), Timestamp.valueOf("2024-01-07 12:00:00"))
    loadChecked(6L)                                        // incremental: one new row
  }

  test("transform quarantines on schema violation (DQ gate)") {
    val dir = Files.createTempDirectory("stockpipe4").toString
    val bad = bars.withColumn("volume", col("volume").cast("double"))  // wrong dtype
    StockPipeline.ingest(bad, ingestTs, s"$dir/raw")
    val out = StockPipeline.transform(spark, s"$dir/raw", s"$dir/enriched",
      quarantinePath = Some(s"$dir/quarantine"))
    out.isLeft shouldBe true
    // the rejected batch landed in the quarantine zone with reasons attached
    val q = spark.read.parquet(s"$dir/quarantine")
    q.count() shouldBe 5
    q.select("dq_violations").rows.head.head.toString should include("volume")
  }

  test("analytics: trends, final returns, relative, snapshot, top movers, unpivot") {
    val dir = Files.createTempDirectory("stockpipe5").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    StockPipeline.run(spark, bars, ingestTs, raw, enr, wh)
    val metrics = LakeReader.read(spark, wh)

    val hist = StockAnalytics.history(metrics, Seq("AAA", "BBB"), "2024-01-01", "2024-01-31")
    val trends = StockAnalytics.computeTrends(hist, investment = 100.0)
    val aaaFinal = StockAnalytics.finalReturns(trends)
      .filter(col("ticker") === "AAA").select("final_return").rows.head.head.asInstanceOf[Double]
    aaaFinal shouldBe 1.21 +- 1e-12                            // (1.1)(1.1)

    val rel = StockAnalytics.relativeReturns(trends, "AAA", "BBB")
      .orderBy("date").select("pct_diff").rows.map(_.head.asInstanceOf[Double])
    rel.head shouldBe 0.0 +- 1e-12                             // day1: both 1.0
    rel.last shouldBe 100.0 * (1.1 - 0.8) +- 1e-9              // day2: 1.1 vs 0.8

    val dim = Seq(("AAA", "Alpha Corp", "Tech", "Software"),
      ("BBB", "Beta Inc", "Energy", "Oil"))
      .toDF("ticker_symbol", "security_name", "gics_sector", "gics_sub_industry")
    val snap = StockAnalytics.latestSnapshot(metrics, dim)
    snap.count() shouldBe 2
    snap.select("ticker").rows.map(_.head).toSet shouldBe Set("AAA", "BBB")

    // reference semantics: n = min(count/2, 20) → a 1-row sector yields 0
    StockAnalytics.topMovers(snap, "Tech", gainers = true).count() shouldBe 0

    // history slice pushes its predicates into the parquet scan
    val histPlan = StockAnalytics.history(metrics, Seq("AAA"), "2024-01-01", "2024-01-31")
      .queryExecution.executedPlan.toString
    assert(histPlan.contains("PushedFilters") && histPlan.contains("EqualTo(ticker,AAA)"),
      s"expected ticker pushdown in:\n$histPlan")

    // display formatting (F7) + tz conversion (F6): native expressions
    val fmt = Seq((0.01234, ts("2024-01-01"))).toDF("r", "t")
      .select(StockAnalytics.formatDailyReturn(col("r")).as("f"),
        StockAnalytics.displayInTz(col("t")).as("est")).rows.head
    fmt(0) shouldBe "⬆ 1.23%"
    fmt(1) shouldBe java.sql.Timestamp.valueOf("2023-12-31 19:00:00")  // UTC→EST −5h

    // unpivot: wide quotes → long (reference P4)
    val wide = Seq((ts("2024-01-01"), 10.0, 50.0)).toDF("date", "AAA", "BBB")
    val long = Reshape.unpivot(wide, ids = Seq("date"), values = Seq("AAA", "BBB"),
      varName = "ticker", valueName = "close")
    long.orderBy("ticker").select("ticker", "close").rows shouldBe
      Seq(Seq("AAA", 10.0), Seq("BBB", 50.0))
  }
}
