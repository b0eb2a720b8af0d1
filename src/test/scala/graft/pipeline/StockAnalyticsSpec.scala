package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.LakeReader

/** The dashboard's served reads ([[Served]]) against the same queries
  * computed on every call ([[StockAnalytics.Computed]]). */
class StockAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def bars(rows: (String, String, Double)*): DataFrame =
    rows.map { case (t, d, c) => (ts(d), c, c, c, c, 100L, t, c) }
      .toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")

  /** AAA and BBB through 2024-01-03, each with a bar in December 2023. */
  private val twoYears = Seq(
    ("AAA", "2023-12-28", 9.0), ("AAA", "2024-01-01", 10.0), ("AAA", "2024-01-02", 11.0),
    ("AAA", "2024-01-03", 12.1), ("BBB", "2023-12-28", 48.0), ("BBB", "2024-01-01", 50.0),
    ("BBB", "2024-01-02", 40.0), ("CCC", "2024-01-01", 20.0), ("CCC", "2024-01-02", 25.0))

  /** A pipeline run into fresh zones under `dir`; the warehouse path. */
  private def pipeline(dir: String, input: DataFrame, at: String): String = {
    StockPipeline.run(spark, input, Timestamp.valueOf(at), s"$dir/raw", s"$dir/enriched",
      s"$dir/warehouse").isRight shouldBe true
    s"$dir/warehouse"
  }

  private def dimension(dir: String, tickers: (String, String)*): String = {
    tickers.map { case (t, sector) => (t, s"$t Inc", sector, "Sub") }
      .toDF("ticker_symbol", "security_name", "gics_sector", "gics_sub_industry")
      .write.parquet(s"$dir/dim")
    s"$dir/dim"
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** `df`'s rows, checking that collecting it starts at most one job
    * and that its plan scans no file. */
  private def servedRows(df: DataFrame): Seq[Seq[Any]] = {
    assert(!plan(df).contains("FileScan"), plan(df))
    var out = Seq.empty[Seq[Any]]
    jobsStartedBy { out = df.rows }.size should be <= 1
    out
  }

  /** Whether `read` is served from kept rows: a miss runs its query
    * while the call returns, a hit starts no job until collected. */
  private def hit(read: => DataFrame): Boolean = jobsStartedBy { read; () }.isEmpty

  test("history prunes years from its date bounds: a one-month window lists one year") {
    val dir = Files.createTempDirectory("analytics1").toString
    val metrics = LakeReader.read(spark, pipeline(dir, bars(twoYears: _*), "2024-01-05 12:00:00"))
    val month = StockAnalytics.Computed.history(metrics, Seq("AAA", "BBB"), "2024-01-01", "2024-01-31")
    val scan = month.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "year")), plan(month))
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.values.getInt(0)) shouldBe Seq(2024)
    // without the year column no predicate is added, and the rows agree
    val unpruned = StockAnalytics.Computed.history(metrics.drop("year"),
      Seq("AAA", "BBB"), "2024-01-01", "2024-01-31")
    assert(plan(unpruned).contains("PartitionFilters: []"), plan(unpruned))
    month.rows should have size 5
    month.rows shouldBe unpruned.rows
    StockAnalytics.history(metrics, Seq("AAA", "BBB"), "2024-01-01", "2024-01-31").rows shouldBe
      month.rows
  }

  test("a ticker whose last bar is in an older year keeps it in the snapshot") {
    val dir = Files.createTempDirectory("analytics2").toString
    val input = bars(twoYears :+ (("OLD", "2023-12-27", 7.0)) :+ (("OLD", "2023-12-29", 7.7)): _*)
    val metrics = LakeReader.read(spark, pipeline(dir, input, "2024-01-05 12:00:00"))
    val dim = LakeReader.read(spark,
      dimension(dir, "AAA" -> "Tech", "BBB" -> "Energy", "CCC" -> "Tech", "OLD" -> "Tech"))
    def old(snap: DataFrame) = snap.filter(col("ticker") === "OLD")
      .select(col("date"), col("close"), round(col("daily_return"), 9)).rows
    val want = Seq(Seq(ts("2023-12-29"), 7.7, 0.1))
    old(StockAnalytics.Computed.latestSnapshot(metrics, dim)) shouldBe want
    old(StockAnalytics.latestSnapshot(metrics, dim)) shouldBe want
    // the second read is served from the first's kept rows
    assert(hit(StockAnalytics.latestSnapshot(metrics, dim)))
    old(StockAnalytics.latestSnapshot(metrics, dim)) shouldBe want
    StockAnalytics.latestSnapshot(metrics, dim).count() shouldBe 4
  }

  test("served reads equal computed ones across a pipeline run that changes the warehouse") {
    val dir = Files.createTempDirectory("analytics3").toString
    val first = bars(twoYears: _*)
    val wh = pipeline(dir, first, "2024-01-05 12:00:00")
    val dimPath = dimension(dir, "AAA" -> "Tech", "BBB" -> "Energy", "CCC" -> "Tech")
    val (tickers, from, to) = (Seq("AAA", "BBB"), "2024-01-01", "2024-01-31")

    /** One dashboard render, served and computed, frame by frame. */
    def render(): Map[String, Seq[Seq[Any]]] = {
      val (m, dim) = (LakeReader.read(spark, wh), LakeReader.read(spark, dimPath))
      def frames(hist: DataFrame, snap: DataFrame): Seq[(String, DataFrame)] = {
        val trends = StockAnalytics.computeTrends(hist)
        Seq("history" -> hist,
          "trends" -> StockAnalytics.finalReturns(trends).orderBy("ticker"),
          "relative" -> StockAnalytics.finalRelativeReturn(trends, "AAA", "BBB"),
          "snapshot" -> snap,
          "gainers" -> StockAnalytics.topMovers(snap, "Tech", gainers = true),
          "losers" -> StockAnalytics.topMovers(snap, "Tech", gainers = false))
      }
      val served = frames(StockAnalytics.history(m, tickers, from, to),
        StockAnalytics.latestSnapshot(m, dim))
      val computed = frames(StockAnalytics.Computed.history(m, tickers, from, to),
        StockAnalytics.Computed.latestSnapshot(m, dim))
      served.zip(computed).map { case ((name, s), (_, c)) =>
        withClue(name) {
          s.schema shouldBe c.schema
          val rows = servedRows(s)
          rows shouldBe c.rows
          name -> rows
        }
      }.toMap
    }

    val before = render()
    assert(hit(StockAnalytics.history(LakeReader.read(spark, wh), tickers, from, to)))
    render() shouldBe before

    // ingest → transform → load of a later day changes the warehouse
    pipeline(dir, first.unionByName(bars(("AAA", "2024-01-04", 13.31))), "2024-01-06 12:00:00")
    assert(!hit(StockAnalytics.history(LakeReader.read(spark, wh), tickers, from, to)))
    val after = render()
    after("history").size shouldBe before("history").size + 1
    after("history").last.take(2) shouldBe Seq(ts("2024-01-04"), "AAA")
    after("snapshot").find(_.head == "AAA").get(3) shouldBe ts("2024-01-04")
  }

  test("served reads: conf changes miss, over-bound results stay lazy, frames self-join") {
    val dir = Files.createTempDirectory("analytics4").toString
    val wh = pipeline(dir, bars(twoYears: _*), "2024-01-05 12:00:00")
    val session = spark.newSession()
    val m = LakeReader.read(session, wh)
    def read(s: SparkSession = session, to: String = "2024-01-31") =
      StockAnalytics.history(if (s eq session) m else LakeReader.read(s, wh), Seq("AAA", "BBB"),
        "2024-01-01", to)

    assert(!hit(read()))
    assert(hit(read()))
    // the same input frame under another conf value is another key
    session.conf.set("spark.sql.shuffle.partitions", "3")
    assert(!hit(read()))
    assert(hit(read()))

    // two frames of one kept result self-join like two lake reads
    val (a, b) = (read(), read())
    a.join(b, a("date") === b("date") && a("ticker") === b("ticker")).count() shouldBe 5

    // over the bound, or under a threshold below 0: the computed frame, nothing kept
    val computed = StockAnalytics.Computed.history(m, Seq("AAA", "BBB"), "2024-01-01", "2024-01-30")
    for (threshold <- Seq("64", "-1")) withClue(threshold) {
      val small = spark.newSession()
      small.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val lazyFrame = read(small, to = "2024-01-30")
      assert(plan(lazyFrame).contains("FileScan"), plan(lazyFrame))
      lazyFrame.rows shouldBe computed.rows
      Served.keptCalls should not contain Seq("history", Seq("AAA", "BBB"), "2024-01-01", "2024-01-30")
    }
  }
}
