package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.LakeReader
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
      LakeReader.read(spark, s"$dir/enr_$name").write.mode("append")
        .partitionBy(StockPipeline.partitionCols: _*).parquet(enr)
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

  test("load after a torn warehouse swap keeps the history") {
    val day4 = Seq((ts("2024-01-04"), 12.0, 13.0, 11.0, 13.31, 130L, "AAA", 13.31))
      .toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")
    // a history warehouse, then an enriched zone holding only the next
    // day: the increment ingest leaves when a batch carries one day
    def loadedOnce(tear: Boolean): (String, Long) = {
      val dir = Files.createTempDirectory("stockpipe9").toString
      val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
      StockPipeline.run(spark, bars, ingestTs, raw, enr, wh) shouldBe Right(5L)
      StockPipeline.ingest(day4, Timestamp.valueOf("2024-01-06 12:00:00"), raw)
      StockPipeline.transform(spark, raw, enr).isRight shouldBe true
      LakeReader.read(spark, enr).count() shouldBe 1L
      if (tear) {
        // a load that died between its two renames
        Files.move(java.nio.file.Paths.get(wh), java.nio.file.Paths.get(s"$wh.__old__"))
        day4.write.parquet(s"$wh.__staging__")
      }
      (wh, StockPipeline.load(spark, enr, wh))
    }
    def rows(wh: String) = LakeReader.read(spark, wh)
      .select("ticker", "date", "close", "ingest_ts").rows.sortBy(_.mkString("|"))
    val (clean, cleanCount) = loadedOnce(tear = false)
    val (torn, tornCount) = loadedOnce(tear = true)
    cleanCount shouldBe 6L
    tornCount shouldBe cleanCount
    rows(torn) shouldBe rows(clean)
    for (p <- Seq(s"$torn.__old__", s"$torn.__staging__"))
      assert(!Files.exists(java.nio.file.Paths.get(p)))
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
    // three more Tech tickers, two days each: latest returns +0.25, -0.10, +0.05
    val tech = Seq(("CCC", 20.0, 25.0), ("DDD", 30.0, 27.0), ("EEE", 40.0, 42.0)).flatMap {
      case (t, c1, c2) => Seq(
        (ts("2024-01-01"), c1, c1, c1, c1, 100L, t, c1),
        (ts("2024-01-02"), c1, c2, c1, c2, 100L, t, c2))
    }.toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")
    StockPipeline.run(spark, bars.unionByName(tech), ingestTs, raw, enr, wh) shouldBe Right(11L)
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

    Seq(("AAA", "Alpha Corp", "Tech", "Software"),
      ("BBB", "Beta Inc", "Energy", "Oil"),
      ("CCC", "Gamma Co", "Tech", "Software"),
      ("DDD", "Delta Ltd", "Tech", "Hardware"),
      ("EEE", "Epsilon AG", "Tech", "Hardware"))
      .toDF("ticker_symbol", "security_name", "gics_sector", "gics_sub_industry")
      .write.parquet(s"$dir/dim")
    val dim = LakeReader.read(spark, s"$dir/dim")
    // the queries as computed on every call (StockAnalytics.Computed):
    // both tables are small files, so snapshot and movers each collect
    // in one job, with no exchange and no broadcast
    // (graft.functions.CoalesceSmallScans)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    def inOneJob[T](body: => T): T = {
      var out: Option[T] = None
      jobsStartedBy { out = Some(body) } should have size 1
      out.get
    }
    val snap = StockAnalytics.Computed.latestSnapshot(metrics, dim)
    assert(!plan(snap).contains("Exchange"), plan(snap))
    val snapRows = inOneJob(snap.select("ticker", "daily_return").rows)
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Double]))
    snapRows.map(_._1) shouldBe Seq("CCC", "AAA", "EEE", "DDD", "BBB")  // daily_return desc
    snapRows.map(_._2).zip(Seq(0.25, 0.10, 0.05, -0.10, -0.20)).foreach {
      case (got, want) => got shouldBe want +- 1e-12 }

    // reference semantics: n = min(count/2, 20) → 4 Tech tickers give 2 a side
    def movers(sector: String, gainers: Boolean) = {
      val df = StockAnalytics.topMovers(snap, sector, gainers)
      assert(!plan(df).contains("Exchange"), plan(df))
      inOneJob(df.select("ticker").rows.map(_.head))
    }
    movers("Tech", gainers = true) shouldBe Seq("CCC", "AAA")
    movers("Tech", gainers = false) shouldBe Seq("DDD", "EEE")
    movers("Energy", gainers = true) shouldBe empty              // a 1-row sector yields 0

    // plan shape: the display sorts the windows re-sort plan no range
    // exchange
    val computedHist = StockAnalytics.Computed.history(metrics, Seq("AAA", "BBB"),
      "2024-01-01", "2024-01-31")
    val trendsPlan = plan(StockAnalytics.computeTrends(computedHist, investment = 100.0))
    // a warehouse this small is one partition: history's display sort
    // plans no range exchange either
    val histSortPlan = plan(computedHist)
    assert(!histSortPlan.contains("rangepartitioning"), histSortPlan)
    val moversPlan = plan(StockAnalytics.topMovers(snap, "Tech", gainers = true))
    assert(!trendsPlan.contains("rangepartitioning"), trendsPlan)
    assert(!moversPlan.contains("rangepartitioning"), moversPlan)

    // at scale, with the small-scan rule out: the planner broadcasts the
    // dimension by its size (no hint), and the snapshot's one task reads
    // only the partial per-ticker limit's survivors, never the whole
    // warehouse
    val atScale = spark.newSession()
    atScale.conf.set("spark.sql.optimizer.excludedRules",
      graft.functions.CoalesceSmallScans.ruleName)
    val scaleSnap = StockAnalytics.Computed.latestSnapshot(LakeReader.read(atScale, wh),
      LakeReader.read(atScale, s"$dir/dim"))
    val snapLines = plan(scaleSnap).linesIterator.toSeq
    val exchange = snapLines.indexWhere(_.contains("Exchange hashpartitioning(ticker"))
    val partial = snapLines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(snapLines.exists(_.contains("Coalesce 1")), snapLines.mkString("\n"))
    assert(snapLines.exists(_.contains("BroadcastHashJoin")), snapLines.mkString("\n"))
    assert(exchange >= 0 && partial > exchange, snapLines.mkString("\n"))
    scaleSnap.select("ticker", "daily_return").rows shouldBe snap.select("ticker", "daily_return").rows

    // history slice pushes its predicates into the parquet scan
    val histPlan = StockAnalytics.Computed.history(metrics, Seq("AAA"), "2024-01-01", "2024-01-31")
      .queryExecution.executedPlan.toString
    assert(histPlan.contains("PushedFilters") && histPlan.contains("EqualTo(ticker,AAA)"),
      s"expected ticker pushdown in:\n$histPlan")

    // served (the public calls): the same rows from the kept rows, each
    // frame with no file scan and at most one job
    val servedSnap = StockAnalytics.latestSnapshot(metrics, dim)
    for (df <- Seq(servedSnap, StockAnalytics.topMovers(servedSnap, "Tech", gainers = true),
                   hist, trends, StockAnalytics.finalRelativeReturn(trends, "AAA", "BBB"))) {
      assert(!plan(df).contains("FileScan"), plan(df))
      jobsStartedBy { df.collect(); () }.size should be <= 1
    }
    servedSnap.select("ticker", "daily_return").rows shouldBe snap.select("ticker", "daily_return").rows
    StockAnalytics.topMovers(servedSnap, "Tech", gainers = true).select("ticker").rows
      .map(_.head) shouldBe Seq("CCC", "AAA")

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
