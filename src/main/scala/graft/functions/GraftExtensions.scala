package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{SORT, WINDOW}
import org.apache.spark.sql.functions.call_function

/** Session wiring for graft's native expressions and optimizer rules.
  *
  * Install either declaratively
  * (`.config("spark.sql.extensions", "graft.functions.GraftExtensions")` /
  * `.withExtensions(new GraftExtensions)`) or imperatively on a live
  * session (`GraftFunctions.register(spark)`). After installation the
  * functions are available to SQL (`SELECT dot_product(a, b)`) and to the
  * Column API via [[GraftFunctions.dotProduct]] / [[GraftFunctions.cosineSim]].
  * The declarative forms also install [[EliminateSortBelowWindow]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => EliminateSortBelowWindow)
  }
}

/** Drops a global `Sort` whose only consumer is an ordered `Window`
  * (`orderSpec.nonEmpty`) reached through deterministic `Project`s and
  * `Filter`s. Such a window sorts its input again by its own partition
  * and order keys, after an exchange whenever its input has more than
  * one partition; the earlier order can show only in ties of the
  * window's own keys, which Spark leaves nondeterministic already. The
  * dropped sort is a range exchange plus its sampling job. Spark's `EliminateSorts` covers
  * Sort-over-Sort, join children and order-irrelevant aggregates, not
  * windows. Anything else in between (a `Limit`, an unordered window, a
  * nondeterministic expression) keeps the sort, and so do sort keys
  * that are all window partition keys: their range partitioning then
  * serves as the window's clustering, and its order reaches the output.
  */
object EliminateSortBelowWindow extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(WINDOW, SORT)) {
      case w: Window if w.orderSpec.nonEmpty => w.copy(child = dropSort(w.child, w.partitionSpec))
    }

  private def dropSort(plan: LogicalPlan, partitionKeys: Seq[Expression]): LogicalPlan = plan match {
    case Sort(order, true, child, _)
        if !order.forall(o => partitionKeys.exists(_.semanticEquals(o.child))) => child
    case p: Project if p.projectList.forall(_.deterministic) =>
      p.copy(child = dropSort(p.child, partitionKeys))
    case f: Filter if f.condition.deterministic => f.copy(child = dropSort(f.child, partitionKeys))
    case other => other
  }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions." + name, "", name.toLowerCase, usage,
      "", "", "", "", "", "", "scala_udf")

  val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product"),
      info("DotProduct", "dot_product(a, b) - dot product of two float/double arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("cosine_sim"),
      info("CosineSimilarity", "cosine_sim(a, b) - cosine similarity of two float/double arrays"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    (FunctionIdentifier("pq_encode"),
      info("PqEncodeExpr", "pq_encode(v, codebooks) - product-quantization codes per subspace"),
      (es: Seq[Expression]) => PqEncodeExpr(es(0), es(1))),
    (FunctionIdentifier("might_contain_bloom"),
      info("BloomMightContain", "might_contain_bloom(key, filter) - bloom-filter membership probe"),
      (es: Seq[Expression]) => BloomMightContain(es(0), es(1)))
  )

  /** Imperative registration on an existing session (idempotent). */
  def register(spark: SparkSession): Unit = registry.foreach {
    case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
  }

  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def pqEncode(v: Column, codebooks: Column): Column = call_function("pq_encode", v, codebooks)
  def mightContainBloom(key: Column, filterBytes: Array[Byte]): Column =
    call_function("might_contain_bloom", key, org.apache.spark.sql.functions.lit(filterBytes))
}
