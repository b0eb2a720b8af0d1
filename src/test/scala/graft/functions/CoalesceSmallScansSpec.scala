package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class CoalesceSmallScansSpec extends SparkSpec {

  /** `t`: 40 rows in 3 groups over 4 parquet files; `x` is unique.
    * `d`: a 2-row dimension naming groups 0 and 1 only. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("coalescescan").toString
    spark.range(40).select((col("id") % 3).as("g"), ((col("id") * 7) % 40).as("a"),
        col("id").as("x"), array(col("id"), col("id") + 1).as("xs"))
      .repartition(4).write.parquet(s"$d/t")
    spark.range(2).select(col("id").as("h"), concat(lit("group "), col("id")).as("name"))
      .write.parquet(s"$d/d")
    d
  }

  /** An isolated session with `confs` set: suites share the default one. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private val excluded = "spark.sql.optimizer.excludedRules" -> CoalesceSmallScans.ruleName

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def sortedRows(df: DataFrame): Seq[String] = df.rows.map(_.mkString(",")).sorted

  private def t(s: SparkSession): DataFrame = s.read.parquet(s"$dir/t")

  /** `t` again, renamed so that it joins with `t` on `x === y`. */
  private def u(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/t").select(col("x").as("y"), col("g").as("h"))

  private val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
    "single-scan sort" -> (s => t(s).filter(col("x") > 3).orderBy("a")),
    "single-scan window" -> (s => t(s)
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("x")))),
    "single-scan aggregate" -> (s => t(s).groupBy("g").agg(sum("a"), max("x"))),
    "two-scan inner join" -> (s => t(s).join(u(s), col("x") === col("y")).groupBy("h").count()),
    "two-scan left-anti join" -> (s =>
      t(s).join(s.read.parquet(s"$dir/d"), col("g") === col("h"), "left_anti")))

  for ((name, q) <- queries)
    test(s"a small $name runs in one partition with no exchange; rows unchanged") {
      val on = q(session())
      val p = plan(on)
      assert(!p.contains("Exchange") && p.contains("Coalesce 1"), p)
      if (name.contains("join")) assert(p.contains("ShuffledHashJoin"), p)
      val off = q(session(excluded))
      assert(plan(off).contains("Exchange"), plan(off))
      if (name.contains("sort")) on.rows shouldBe off.rows
      else sortedRows(on) shouldBe sortedRows(off)
    }

  /** The rule left `q`'s plan as it was under `confs`: the optimized
    * plan equals the rule-excluded session's (expression ids aside), and
    * the executed plan keeps an exchange and has no coalesce. */
  private def unchanged(q: SparkSession => DataFrame, confs: (String, String)*): Unit = {
    val on = q(session(confs: _*))
    def logical(df: DataFrame) = df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")
    logical(on) shouldBe logical(q(session(confs :+ excluded: _*)))
    val p = plan(on)
    assert(p.contains("Exchange") && !p.contains("Coalesce"), p)
  }

  test("a join with a user broadcast or merge hint keeps its plan") {
    unchanged(s => t(s).join(broadcast(u(s)), col("x") === col("y")))
    unchanged(s => t(s).join(u(s).hint("merge"), col("x") === col("y")))
  }

  test("a non-equi join keeps its plan") {
    unchanged(s => t(s).join(u(s), col("x") < col("y")).groupBy("h").count())
  }

  test("a cross join keeps its plan, also with an equality filter pushed into it") {
    val q = (s: SparkSession) => t(s).crossJoin(u(s)).filter(col("x") === col("y"))
    q(session()).queryExecution.optimizedPlan.collect { case j: Join => j.joinType } shouldBe
      Seq(Cross)
    unchanged(q)
  }

  test("two scans each under the threshold but above it in sum keep their plan") {
    val size = t(spark).queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = "spark.sql.autoBroadcastJoinThreshold" -> (size * 3 / 2).toString
    unchanged(s => t(s).join(u(s), col("x") === col("y")).groupBy("h").count(), threshold)
    // the same threshold still covers one of the scans alone
    assert(plan(t(session(threshold)).groupBy("g").count()).contains("Coalesce 1"))
  }

  test("a generator keeps its exchanges") {
    unchanged(s => t(s).select(col("g"), explode(col("xs")).as("e")).groupBy("g").agg(sum("e")))
  }

  test("a union keeps its exchanges") {
    unchanged(s => t(s).union(t(s)).groupBy("g").count())
  }

  test("a streaming query keeps its exchanges: stateful operators need their state partitions") {
    val s = session()
    val q = s.readStream.schema(t(s).schema).parquet(s"$dir/t")
      .groupBy("g").count()
      .writeStream.format("memory").queryName("coalesce_scan_stream").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(p.contains("Exchange") && !p.contains("Coalesce"), p)
    } finally q.stop()
  }

  test("a scan above the broadcast threshold keeps its exchanges: history's range sort at scale") {
    val history = (s: SparkSession) => t(s).filter(col("x") > 3).orderBy("a", "x")
    for (threshold <- Seq("1", "-1"))
      assert(plan(history(session("spark.sql.autoBroadcastJoinThreshold" -> threshold)))
        .contains("rangepartitioning"))
    assert(!plan(history(session())).contains("rangepartitioning"))
  }
}
