package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EliminateSortBelowWindowSpec extends SparkSpec {

  /** 40 rows in 3 groups; `x` is unique, so row_number over (g, x) is a total order. */
  private def input: DataFrame = spark.range(40).select(
    (col("id") % 3).as("g"), ((col("id") * 7) % 40).as("a"), col("id").as("x"))

  private val ordered = Window.partitionBy("g").orderBy("x")

  private def hasGlobalSort(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists { case s: Sort => s.global; case _ => false }

  private def rangeExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("rangepartitioning")

  /** Runs `body` with the rule excluded from this session's optimizer. */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, EliminateSortBelowWindow.ruleName)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a global sort under an ordered window is dropped with its range exchange; rows unchanged") {
    def q = input.orderBy("a").withColumn("rn", row_number().over(ordered))
    hasGlobalSort(q) shouldBe false
    assert(!rangeExchange(q), q.queryExecution.executedPlan.toString)
    val (expected, baselineRange) = withoutRule((q.rows, rangeExchange(q)))
    baselineRange shouldBe true
    q.rows.map(_.mkString(",")).sorted shouldBe expected.map(_.mkString(",")).sorted
  }

  test("a Limit between the sort and the window keeps the sort") {
    val q = input.orderBy("a").limit(10).withColumn("rn", row_number().over(ordered))
    hasGlobalSort(q) shouldBe true
    q.select("a").rows.map(_.head.asInstanceOf[Long]).toSet shouldBe (0L until 10L).toSet
  }

  test("an unordered window keeps the sort") {
    val q = input.orderBy("a").withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
    hasGlobalSort(q) shouldBe true
  }

  test("a sort on window partition keys only keeps its range order in the output") {
    val q = input.orderBy("g").withColumn("rn", row_number().over(ordered))
    hasGlobalSort(q) shouldBe true
    val gs = q.rows.map(_.head.asInstanceOf[Long])
    gs shouldBe gs.sorted
  }

  test("a nondeterministic projection between the sort and the window keeps the sort") {
    val q = input.orderBy("a").withColumn("r", rand(7))
      .withColumn("rn", row_number().over(ordered))
    hasGlobalSort(q) shouldBe true
  }
}
