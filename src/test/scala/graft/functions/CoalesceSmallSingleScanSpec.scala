package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class CoalesceSmallSingleScanSpec extends SparkSpec {

  /** 40 rows in 3 groups over 4 parquet files; `x` is unique. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("coalescescan").toString
    spark.range(40).select((col("id") % 3).as("g"), ((col("id") * 7) % 40).as("a"),
        col("id").as("x"), array(col("id"), col("id") + 1).as("xs"))
      .repartition(4).write.parquet(s"$d/t")
    d
  }

  /** An isolated session with `confs` set: suites share the default one. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def withoutRule: SparkSession =
    session("spark.sql.optimizer.excludedRules" -> CoalesceSmallSingleScan.ruleName)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def sortedRows(df: DataFrame): Seq[String] = df.rows.map(_.mkString(",")).sorted

  private val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
    "sort" -> (s => s.read.parquet(s"$dir/t").filter(col("x") > 3).orderBy("a")),
    "window" -> (s => s.read.parquet(s"$dir/t")
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("x")))),
    "aggregate" -> (s => s.read.parquet(s"$dir/t").groupBy("g").agg(sum("a"), max("x"))))

  for ((name, q) <- queries)
    test(s"a small single-scan $name runs in one partition with no exchange; rows unchanged") {
      val on = q(session())
      val p = plan(on)
      assert(!p.contains("Exchange") && p.contains("Coalesce 1"), p)
      val off = q(withoutRule)
      assert(plan(off).contains("Exchange"), plan(off))
      if (name == "sort") on.rows shouldBe off.rows
      else sortedRows(on) shouldBe sortedRows(off)
    }

  /** The rule left the plan as it was: exchanges kept, no coalesce. */
  private def unchanged(p: String): Unit =
    assert(p.contains("Exchange") && !p.contains("Coalesce"), p)

  test("a join keeps its exchanges") {
    val s = session()
    val t = s.read.parquet(s"$dir/t")
    val u = s.read.parquet(s"$dir/t").select(col("x").as("y"), col("g").as("h"))
    unchanged(plan(t.join(u, col("x") === col("y")).groupBy("h").count()))
  }

  test("a generator keeps its exchanges") {
    unchanged(plan(session().read.parquet(s"$dir/t")
      .select(col("g"), explode(col("xs")).as("e")).groupBy("g").agg(sum("e"))))
  }

  test("a union keeps its exchanges") {
    val s = session()
    unchanged(plan(s.read.parquet(s"$dir/t").union(s.read.parquet(s"$dir/t"))
      .groupBy("g").count()))
  }

  test("a streaming query keeps its exchanges: stateful operators need their state partitions") {
    val s = session()
    val q = s.readStream.schema(s.read.parquet(s"$dir/t").schema).parquet(s"$dir/t")
      .groupBy("g").count()
      .writeStream.format("memory").queryName("coalesce_scan_stream").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      unchanged(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString)
    } finally q.stop()
  }

  test("a scan above the broadcast threshold keeps its exchanges: history's range sort at scale") {
    val history = (s: SparkSession) =>
      s.read.parquet(s"$dir/t").filter(col("x") > 3).orderBy("a", "x")
    for (threshold <- Seq("1", "-1"))
      assert(plan(history(session("spark.sql.autoBroadcastJoinThreshold" -> threshold)))
        .contains("rangepartitioning"))
    assert(!plan(history(session())).contains("rangepartitioning"))
  }
}
