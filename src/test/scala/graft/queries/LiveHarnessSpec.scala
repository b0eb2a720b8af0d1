package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.SparkSpec

/** The live-query harness of [[PipelineQueries]]: staging, the drain,
  * and the live entries built on them. */
class LiveHarnessSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val partitionsKey = "spark.sql.shuffle.partitions"

  test("staging starts no Spark job and gives events the batch read's event time") {
    var staged: Seq[(org.apache.spark.sql.DataFrame, String)] = Nil
    jobsStartedBy {
      staged = Seq("events", "orders")
        .map(PipelineQueries.stageStream(spark, sfDir, _, "graft_spec_stage"))
    } shouldBe empty
    val (events, _) = staged.head
    events.isStreaming shouldBe true
    events.schema("ts").dataType shouldBe LongType
    events.schema("ts_utc").dataType shouldBe TimestampType
    events.columns.toSeq shouldBe graft.Tables.events(spark, sfDir).columns.toSeq
    staged(1)._1.columns.toSeq shouldBe graft.Tables.orders(spark, sfDir).columns.toSeq
  }

  test("a drain restores the partition count and stops its query, also when a batch throws") {
    val before = spark.conf.get(partitionsKey)
    val inside = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val (ok, okTmp) = PipelineQueries.stageStream(spark, sfDir, "events", "graft_spec_drain")
    PipelineQueries.drainBatches(spark, okTmp, ok.select(col("event_id"))) { b =>
      inside.add(b.sparkSession.conf.get(partitionsKey)); ()
    }
    inside.asScala.toSeq should not be empty
    inside.asScala.toSet shouldBe Set("8")
    spark.conf.get(partitionsKey) shouldBe before
    spark.streams.active shouldBe empty

    val (bad, badTmp) = PipelineQueries.stageStream(spark, sfDir, "events", "graft_spec_drain")
    val e = intercept[StreamingQueryException] {
      PipelineQueries.drainBatches(spark, badTmp, bad.select(col("event_id"))) { _ =>
        throw new IllegalStateException("batch failed on purpose")
      }
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("batch failed on purpose")) shouldBe true
    spark.conf.get(partitionsKey) shouldBe before
    spark.streams.active shouldBe empty
  }

  // one entry per sink kind: file sink, foreachBatch, memory sink (whose
  // query name the second build reuses)
  for (name <- Seq("stream_ohlc_live", "stream_upsert_live", "stream_running_totals_live"))
    test(s"$name built twice in one JVM returns the same rows") {
      val build = PipelineQueries.queries(name)
      val first = build(spark, sfDir)
      val second = build(spark, sfDir)
      val rows = first.rows
      rows should not be empty
      second.rows shouldBe rows
      spark.streams.active shouldBe empty
    }

  test("stream_sessionize_merge_live leaves no file under a checkpoint dir, with the no-dir rows") {
    val build = PipelineQueries.queries("stream_sessionize_merge_live")
    val expected = build(spark, sfDir).rows
    expected should not be empty
    withCheckpointDir { dir =>
      build(spark, sfDir).rows shouldBe expected
      filesUnder(dir) shouldBe 0
    }
  }
}
