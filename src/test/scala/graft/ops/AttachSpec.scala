package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Attach]] is the engine's one way to attach a total: unkeyed it
  * takes only a frame the analyzer bounds to one row and plans a
  * broadcast nested-loop join, keyed it is a null-safe equi-join the
  * planner places. */
class AttachSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.rows.map(_.mkString(",")).sorted

  test("an unkeyed attach of a grouped frame raises") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val grouped = df.groupBy(col("k")).agg(sum(col("v")).as("s"))
    an[IllegalArgumentException] should be thrownBy Attach(df, grouped)
    // a global aggregate, and a projection and filter of one, pass
    val total = df.agg(sum(col("v")).as("s"))
    Attach(df, total.select((col("s") * 2).as("s2")).filter(col("s2") > 0))
      .rows.map(_.last) shouldBe Seq(6L, 6L)
  }

  test("a keyed attach keeps a null-key group and equals the hand-written null-safe join") {
    val df = Seq[(Option[String], Long)]((Some("a"), 1L), (Some("a"), 2L),
      (None, 5L), (None, 7L), (Some("b"), 3L)).toDF("k", "v")
    val tot = df.groupBy(col("k")).agg(sum(col("v")).as("__n"))
    val attached = Attach(df, tot, Seq("k"))
    attached.columns.toSeq shouldBe Seq("k", "v", "__n")
    val handWritten = df.as("__a").join(tot.as("__b"), col("__a.k") <=> col("__b.k"))
      .select(df.columns.map(c => col(s"__a.$c")) :+ col("__b.__n"): _*)
    sortedRows(attached) shouldBe sortedRows(handWritten)
    // the null key is a group: its two rows carry their own total
    attached.filter(col("k").isNull).rows.map(_.last) shouldBe Seq(12L, 12L)
    // a plain equi-join would drop it
    df.join(tot, Seq("k")).filter(col("k").isNull).count() shouldBe 0L
  }

  test("with broadcasts off by size, an unkeyed attach still plans a broadcast nested-loop join") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val ledger = Cut(s.range(0, 1000).toDF("v")
      .groupBy((col("v") % 10).as("g")).agg(count(lit(1)).as("c")))
    val total = ledger.agg(sum(col("c")).as("__n"))
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    val attached = Attach(ledger, total)
    plan(attached) should include("BroadcastNestedLoopJoin")
    plan(attached) should not include "CartesianProduct"
    attached.rows.map(_.last).distinct shouldBe Seq(1000L)
    // the hint is what keeps it there: the same cross join without it
    // takes the cartesian path at this threshold
    plan(ledger.crossJoin(total)) should include("CartesianProduct")
  }

  test("crossJoin( and <=>-keyed total joins in src/main appear only in Attach and the listed sites") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files should not be empty
    def count(re: scala.util.matching.Regex): Map[String, Int] = files.flatMap { f =>
      val n = re.findAllIn(new String(Files.readAllBytes(f), "UTF-8")).length
      if (n > 0) Some(root.relativize(f).toString.replace('\\', '/') -> n) else None
    }.toMap
    // explicit cross joins: a real cross product, or one row the analyzer
    // cannot bound (a median picked by a filter over a ledger)
    count("""crossJoin\(""".r) shouldBe Map(
      "graft/ops/Attach.scala" -> 1,
      "graft/ops/Percentiles.scala" -> 2,   // unkeyed median / MAD rows
      "graft/ops/Similarity.scala" -> 1,    // every vector × every label centroid
      "graft/queries/PipelineQueries.scala" -> 1) // window spine × reference buckets
    // null-safe equality over aliased key columns: the hand-written keyed
    // join. Left: Ranking's per-partition offsets and Kll's triangular close.
    count("""col\(s"[\w.]*\$\w+"\) <=> col\(s"[\w.]*\$\w+"\)""".r) shouldBe Map(
      "graft/ops/Ranking.scala" -> 1,
      "graft/ops/Kll.scala" -> 1)
  }
}
