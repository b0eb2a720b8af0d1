package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: structural audit of every query's physical plan — shuffle
  * count, join strategies, scan count, cartesian products. Run per round
  * after correctness is green; a query whose numbers jump has regressed
  * its plan even if it still returns the right rows.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  /** Shuffle exchanges of every partitioning flavor (hash, range,
    * single-partition, round-robin) in a physical plan's string form,
    * the count `PlanBudgetSpec` budgets. Broadcast exchanges are not
    * shuffles and are counted with their joins instead. */
  def exchanges(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
      .r.findAllIn(plan).length

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-26s ${"exch"}%4s ${"bcast"}%5s ${"smj"}%3s ${"bnlj"}%4s ${"cart"}%4s ${"scan"}%4s ${"wscg"}%4s")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        println(f"$name%-26s ${exchanges(plan)}%4d " +
          f"${n("BroadcastHashJoin|BroadcastNestedLoopJoin")}%5d ${n("SortMergeJoin")}%3d " +
          f"${n("BroadcastNestedLoopJoin")}%4d ${n("CartesianProduct")}%4d " +
          f"${n("Scan parquet|FileScan")}%4d ${n("WholeStageCodegen")}%4d")
      } catch { case e: Throwable => println(f"$name%-26s ERROR ${e.getMessage.take(60)}") }
    }
    spark.stop()
  }
}
