package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, HintInfo, Join,
  JoinHint, LocalLimit, LogicalPlan, Project, Repartition, SHUFFLE_HASH, Sort, Window,
  WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{SORT, WINDOW}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.call_function

/** Session wiring for graft's native expressions and optimizer rules.
  *
  * Install either declaratively
  * (`.config("spark.sql.extensions", "graft.functions.GraftExtensions")` /
  * `.withExtensions(new GraftExtensions)`) or imperatively on a live
  * session (`GraftFunctions.register(spark)`). After installation the
  * functions are available to SQL (`SELECT dot_product(a, b)`) and to the
  * Column API via [[GraftFunctions.dotProduct]] / [[GraftFunctions.cosineSim]].
  * The declarative forms also install the optimizer rules
  * [[EliminateSortBelowWindow]] and [[CoalesceSmallScans]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => EliminateSortBelowWindow)
    ext.injectPreCBORule(_ => CoalesceSmallScans)
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

/** Runs a small query over file scans in one task. When every leaf of a
  * batch plan is a file scan, every operator is a `Project`, `Filter`,
  * `Sort`, `Window`, `Aggregate`, `WindowGroupLimit`, `Limit`, coalesce
  * to one partition, or an equi-join that is not a cross join and
  * carries no user hint, every expression is deterministic, and Catalyst
  * sizes the scans at or below `spark.sql.autoBroadcastJoinThreshold` in
  * sum (the size Spark already holds whole in one place), each scan with
  * its filters and projections is coalesced to one partition, and each
  * join gets Spark's `SHUFFLE_HASH` strategy on both sides. With both
  * inputs in one partition the hash join then needs no exchange, and
  * neither do the global sorts, windows and aggregates above the scans;
  * a global sort loses its sampling job, and a join its broadcast. The
  * bound: one task reads at most the threshold's bytes of files. No
  * operator but a join emits more rows than it reads; a join emits the
  * rows a broadcast join of the same inputs gives, from one task. A
  * generator or union, a non-equi, cross or hinted join, a streaming
  * plan (its stateful operators keep their fixed state partitions),
  * larger scans, a threshold of -1, a plan with nothing to distribute,
  * or a nondeterministic expression (its values may depend on the
  * partition) leaves the plan unchanged. Injected as a pre-CBO rule, it
  * runs once after operator optimization, whose fixed-point rules would
  * push a semi or anti join below the coalesce of its left input.
  */
object CoalesceSmallScans extends Rule[LogicalPlan] {
  private val shuffleHash = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val scans = plan.collectLeaves()
    if (!plan.isStreaming && conf.autoBroadcastJoinThreshold >= 0 && scans.forall(fileScan) &&
        !plan.exists(!bounded(_)) && plan.exists(distributes) && !plan.exists(coalesced) &&
        scans.map(_.stats.sizeInBytes).sum <= conf.autoBroadcastJoinThreshold) coalesce(plan)
    else plan
  }

  private def fileScan(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }

  private def bounded(p: LogicalPlan): Boolean = p.expressions.forall(_.deterministic) && (p match {
    case _: LogicalRelation | _: Project | _: Filter | _: Sort | _: Window | _: Aggregate |
         _: WindowGroupLimit | _: GlobalLimit | _: LocalLimit => true
    case r: Repartition => r.numPartitions == 1 && !r.shuffle
    case j: Join =>
      j.joinType != Cross && j.hint == JoinHint.NONE && ExtractEquiJoinKeys.unapply(j).isDefined
    case _ => false
  })

  private def distributes(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case _: Window | _: Aggregate | _: Join => true
    case _ => false
  }

  /** The scan with the filters and projections the file source plans
    * into it: the coalesce goes above them, so they still push down. */
  private def scanChain(p: LogicalPlan): Boolean = p match {
    case _: LogicalRelation => true
    case Project(_, child) => scanChain(child)
    case Filter(_, child) => scanChain(child)
    case _ => false
  }

  private def coalesced(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, child) => scanChain(child)
    case _ => false
  }

  private def coalesce(p: LogicalPlan): LogicalPlan = p match {
    case _ if scanChain(p) => Repartition(1, shuffle = false, p)
    case j: Join => j.copy(left = coalesce(j.left), right = coalesce(j.right),
      hint = JoinHint(shuffleHash, shuffleHash))
    case _ => p.mapChildren(coalesce)
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
