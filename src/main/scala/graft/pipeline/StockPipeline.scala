package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.ops.{Merge, Quality, Returns, Volatility}
import graft.sources.{LakeReader, LakeWriter}

/** The reference's three-stage pipeline (ingest → transform → load),
  * re-expressed as Spark jobs over a partitioned parquet lake.
  *
  * Reference shape (dags/hourly_dag.py:48): three OS processes passing
  * state through S3/Postgres, with per-(year,ticker) thread-pool loops
  * inside each. Here each stage is ONE Spark job; the loops become
  * partitions of the job, and the only shuffle anywhere is the window
  * partitioning by ticker in [[transform]].
  *
  * Layout: the raw and enriched zones are partitioned by `year` only,
  * with each file's rows sorted by (ticker, date). The reference keeps
  * one object per (year, ticker); here a year is one directory, a
  * ticker filter prunes row groups through parquet min/max statistics,
  * and `ticker` stays a string column (a `ticker=0700` directory would
  * be read back as the integer 700).
  *
  * Zone contract: in every zone (raw, enriched, warehouse) a row's
  * `year` is `year(date)` in the session time zone. The writers here
  * derive it and nothing else sets it, so a `date` bound is also a
  * `year` bound: [[StockAnalytics.history]] turns its date window into a
  * `year` predicate that prunes year directories.
  *
  * Idempotency / incrementality:
  *  - ingest: dynamic partition overwrite — re-running a batch rewrites
  *    exactly its year partitions (replaces the reference's
  *    read-filter-concat-write merge, ingest_hourly.py:117-131). A batch
  *    therefore replaces every ticker's rows in the years it touches and
  *    must carry all of them, as a backfill does;
  *  - transform: processes only years ≥ the enriched zone's watermark
  *    (transform.py:39-44) — partition pruning makes the re-read cheap;
  *  - load: per-ticker watermark anti-join + deterministic dedup before
  *    the warehouse upsert (load_stock_metrics.py:40-88), committed as
  *    one snapshot swap.
  */
object StockPipeline {

  val partitionCols: Seq[String] = Seq("year")

  /** Rows in the `rolling_vol_30d` window. */
  private val RollingWindow = 30

  /** Dynamic-overwrite write of a raw or enriched zone, each file sorted
    * by (ticker, date). The sort leads with the partition column, so it
    * also meets the writer's required ordering and no second sort is
    * planned. */
  private def writeZone(df: DataFrame, path: String): Unit =
    LakeWriter.overwritePartitions(
      df.sortWithinPartitions(col("year"), col("ticker"), col("date")), path, partitionCols)

  /** Stage 1 — ingest: long-format OHLCV bars into the raw zone.
    *
    * `ingestTs` is a parameter, not `current_timestamp()` — the reference
    * stamps now() (ingest_backfill_raw.py:46) which breaks replay; a
    * passed-in timestamp keeps every run reproducible. */
  def ingest(bars: DataFrame, ingestTs: Timestamp, rawPath: String): Unit = {
    val stamped = bars
      .withColumn("ingest_ts", lit(ingestTs))
      .withColumn("year", year(col("date")))
    writeZone(stamped, rawPath)
  }

  /** Stage 2 — transform: derive `daily_return` (lag pct-change) and
    * `rolling_vol_30d` (trailing sample stddev over [[RollingWindow]] =
    * 30 rows, the width the column name states) per ticker in date
    * order, gate on the canonical schema, write the enriched zone.
    *
    * Both windows share ONE spec (partitionBy ticker, orderBy date) so
    * Catalyst plans a single exchange + sort + WindowExec.
    *
    * `sinceYear` prunes the raw scan to years ≥ watermark (None = full
    * backfill). Returns Left(violations) on DQ failure — the caller
    * quarantines, mirroring transform.py:133-136. */
  def transform(spark: SparkSession, rawPath: String, enrichedPath: String,
                sinceYear: Option[Int] = None,
                quarantinePath: Option[String] = None): Either[Seq[Quality.Violation], DataFrame] = {
    val raw0 = LakeReader.read(spark, rawPath)
    val raw = sinceYear.fold(raw0)(y => raw0.filter(col("year") >= y))
    val withRet = Returns.lagReturn(raw.drop("adj_close"),
      partition = Seq("ticker"), order = Seq("date"),
      value = "close", out = "daily_return")
    val enriched = Volatility.rollingStd(withRet,
      partition = Seq("ticker"), order = Seq("date"),
      value = "daily_return", window = RollingWindow, out = "rolling_vol_30d")
    Quality.check(enriched.drop("year"), Schemas.stockMetrics, Seq("ticker", "date"))
      .left.map { violations =>
        // quarantine the rejected batch with the reasons attached — the
        // durable form of the reference's log-and-skip (transform.py:133-136)
        quarantinePath.foreach { qp =>
          enriched
            .withColumn("dq_violations", lit(violations.map(_.detail).mkString("; ")))
            .write.mode("append").parquet(qp)
        }
        violations
      }
      .map { clean =>
        val out = clean.withColumn("year", year(col("date")))
        writeZone(out, enrichedPath)
        out
      }
  }

  /** Stage 3 — load: incremental upsert of the enriched zone into the
    * (parquet) serving warehouse. Only rows strictly newer than their
    * ticker's warehouse watermark load; duplicates collapse
    * deterministically (latest ingest_ts survives). Re-running is a
    * no-op — the reference needs DELETE-then-append for that
    * (load_stock_metrics.py:56-61); here idempotency falls out of the
    * anti-join. Each load rewrites the whole warehouse, which is small
    * next to the lake (reference: ≤2.6M rows), and commits it through
    * [[LakeWriter.replaceSnapshot]], which first heals a torn earlier
    * load, so the previous warehouse is never lost. Returns the
    * warehouse row count, observed on the rows as the snapshot write
    * streams them, so the new snapshot is never listed or read back. */
  def load(spark: SparkSession, enrichedPath: String, warehousePath: String): Long = {
    val incoming = LakeReader.read(spark, enrichedPath).drop("year")
    val written = Observation("load")
    LakeWriter.replaceSnapshot(spark, warehousePath, partitionCols) { current =>
      val merged = current.map(_.drop("year")) match {
        case None => Merge.dedupByKey(incoming, Seq("ticker", "date"), "ingest_ts")
        case Some(warehouse) =>
          val wm = Merge.watermarks(warehouse, "ticker", "date")
          val fresh = Merge.incrementalFilter(incoming, wm, "ticker", "date")
          warehouse.unionByName(Merge.dedupByKey(fresh, Seq("ticker", "date"), "ingest_ts"))
      }
      merged.withColumn("year", year(col("date")))
        .observe(written, count(lit(1)).as("rows"))
    }
    written.get("rows").asInstanceOf[Long]
  }

  /** Run all three stages (reference: run_pipeline.py / hourly DAG). */
  def run(spark: SparkSession, bars: DataFrame, ingestTs: Timestamp,
          rawPath: String, enrichedPath: String, warehousePath: String,
          sinceYear: Option[Int] = None): Either[Seq[Quality.Violation], Long] = {
    ingest(bars, ingestTs, rawPath)
    transform(spark, rawPath, enrichedPath, sinceYear)
      .map(_ => load(spark, enrichedPath, warehousePath))
  }

}
