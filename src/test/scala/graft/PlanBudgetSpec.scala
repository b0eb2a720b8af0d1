package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The plan audit as a FAILING test: every batch query's physical-plan
  * structure is checked against a recorded budget
  * (src/test/resources/plan_budgets.tsv), so a change that introduces a
  * cartesian product, an extra shuffle, a new sort-merge join, or an
  * unexplained broadcast-nested-loop join fails `sbt test` instead of
  * waiting for a human to eyeball the next PLAN_AUDIT printout.
  *
  * Invariants:
  *  - CartesianProduct count is 0 for EVERY query, budget file or not;
  *  - per-query exchanges / SMJ / BNLJ must not EXCEED the recorded
  *    budget (doing better is fine — regenerate to ratchet down);
  *  - every auditable query must HAVE a budget row (a new query cannot
  *    ship without recording its plan shape).
  *
  * Regenerate after an intentional plan change with:
  *   PLAN_BUDGET_REGEN=1 sbt "testOnly graft.PlanBudgetSpec"
  * and review the diff like any other code change.
  *
  * `stream_*` entries are excluded: constructing them runs a real
  * Structured Streaming job whose returned frame is just a batch read
  * of the sink — the interesting plan lives inside the streaming
  * engine, and the boot cost (~1-2 s each) belongs in the bench, not in
  * every test run. Spark 4 defaults AQE ON and the test session leaves
  * it on, so the two budget files differ by UNEXECUTED vs EXECUTED, not
  * by the adaptive flag: plan_budgets.tsv counts the initial
  * (pre-reoptimization) adaptive plan as built, plan_budgets_aqe.tsv
  * counts the FINAL plan after execution lets AQE re-plan (broadcast
  * promotions, coalesced exchanges) — the production-posture shapes.
  */
class PlanBudgetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val budgetPath = Paths.get("src/test/resources/plan_budgets.tsv")
  private val aqeBudgetPath =
    Paths.get("src/test/resources/plan_budgets_aqe.tsv")

  // (exchanges incl. every shuffle flavor, sort-merge joins,
  // broadcast-nested-loop joins, cartesian products)
  private def metrics(plan: String): Seq[Int] = {
    def n(p: String) = p.r.findAllIn(plan).length
    Seq(PlanAudit.exchanges(plan),
      n("SortMergeJoin"), n("BroadcastNestedLoopJoin"), n("CartesianProduct"))
  }

  private def auditable(s: org.apache.spark.sql.SparkSession)
      : Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("stream_"))
      .map { case (name, fn) => name -> fn(s, sfDir) }

  private def readBudget(path: java.nio.file.Path): Map[String, Seq[Int]] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .map { l =>
        val f = l.split('\t'); f(0) -> f.drop(1).map(_.toInt).toSeq
      }.toMap

  /** Check-time EXCHANGE slack for the executed-AQE audit only:
    * queries whose final adaptive shape varies with box load (a
    * cached-checkpoint size stat tipping a runtime broadcast decision),
    * with the spread measured between quiet and contended runs:
    * rec_topn_recall 11 → 13, sim_recall_eval 5 → 7, agg_mad ±1 (two
    * `withRunningTotals` checkpoints carry the same stat). Anything beyond
    * the slack still fails, after the re-measure pass confirms it
    * reproduces. PLAN_BUDGET_REGEN keeps the larger of the committed and
    * the measured exchange count for these queries, so the budget the
    * slack is added to never falls to a quiet run's floor. */
  private val aqeExchangeSlack = Map(
    "rec_topn_recall" -> 2,
    "sim_recall_eval" -> 2,
    "agg_mad" -> 1)

  /** (query name, human message) per budget violation. */
  private def violationsOf(budget: Map[String, Seq[Int]],
                           current: Seq[(String, Seq[Int])],
                           exchangeSlack: Map[String, Int] = Map.empty)
      : Seq[(String, String)] = {
    val labels = Seq("exchanges", "smj", "bnlj", "cart")
    current.flatMap { case (name, m) =>
      val cart =
        if (m(3) > 0)
          Seq(name -> s"$name: ${m(3)} CartesianProduct (must be 0)")
        else Seq.empty
      budget.get(name) match {
        case None =>
          cart :+ (name -> (s"$name: no budget row — run PLAN_BUDGET_REGEN=1 " +
            "sbt 'testOnly graft.PlanBudgetSpec' and commit the diff"))
        case Some(b) =>
          val slack = exchangeSlack.getOrElse(name, 0)
          cart ++ m.zip(b).zip(labels).collect {
            case ((cur, bud), lab)
                if cur > bud + (if (lab == "exchanges") slack else 0) =>
              name -> (s"$name: $lab $cur > budget $bud" +
                (if (lab == "exchanges" && slack > 0) s" (+$slack slack)" else ""))
          }
      }
    }
  }

  /** Regenerate-or-ratchet a (name -> metrics) set against a budget
    * file: shared by the pre-adaptive and the executed-AQE audits.
    * `remeasure` (AQE audit only): AQE's FINAL shapes depend on runtime
    * size stats, and under parallel-suite memory pressure a cached-
    * checkpoint stat can tip a runtime broadcast decision the other way
    * (observed: rec_topn_recall 11→13 exchanges, sim_recall_eval 5→7 —
    * both only on contended runs, both passing in isolation). The
    * budgets are recorded at the CONTENDED max, and a first-pass
    * violation re-measures ONLY the violating queries on a fresh pinned
    * session: a real plan regression reproduces deterministically, a
    * load transient does not — so the suite stays green under parallel
    * execution without ever waving through a reproducible regression. */
  private def checkBudget(path: java.nio.file.Path,
                          current: Seq[(String, Seq[Int])],
                          remeasure: Option[Set[String] => Seq[(String, Seq[Int])]] = None,
                          exchangeSlack: Map[String, Int] = Map.empty)
      : Unit = {
    if (sys.env.contains("PLAN_BUDGET_REGEN")) {
      // a query whose exchange count varies from run to run keeps the
      // larger of its committed and its measured count, so a quiet
      // regeneration cannot lower the budget its slack is measured from
      val committed = if (Files.exists(path)) readBudget(path) else Map.empty[String, Seq[Int]]
      val lines = "# query\texchanges\tsmj\tbnlj\tcart" +:
        current.map { case (n, m) =>
          val kept = committed.get(n).filter(_ => exchangeSlack.contains(n))
            .fold(m)(b => m.updated(0, m(0) max b(0)))
          s"$n\t${kept.mkString("\t")}"
        }
      Files.createDirectories(path.getParent)
      Files.write(path, lines.asJava, StandardCharsets.UTF_8)
      info(s"regenerated $path with ${current.size} rows")
    } else {
      val budget = readBudget(path)
      val first = violationsOf(budget, current, exchangeSlack)
      val confirmed = (first, remeasure) match {
        case (v, Some(again)) if v.nonEmpty =>
          val names = v.map(_._1).toSet
          info(s"budget exceeded on first pass — re-measuring under a " +
            s"fresh session: ${names.mkString(", ")}")
          violationsOf(budget, again(names), exchangeSlack)
        case _ => first
      }
      assert(confirmed.isEmpty,
        s"\nplan-budget regressions ($path):\n  " +
          s"${confirmed.map(_._2).mkString("\n  ")}\n" +
          "If the new shape is intentional, regenerate the budget file " +
          "and justify the diff in the commit message.")
    }
  }

  /** A child session with the confs the audit DEPENDS on pinned to
    * their expected values — newSession() clones the shared session's
    * conf at call time, and a concurrently-running suite mutating the
    * shared session (suites run in parallel threads in the forked test
    * JVM) must not leak a mid-test threshold into the recorded-budget
    * comparison. */
  private def auditSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // the confs AQE's runtime re-planning consults, pinned to their
    // expected defaults so a future leak can never skew the executed
    // audit (the stat-dependence itself is handled by checkBudget's
    // re-measure pass)
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // the budgets audit the at-scale plan shape: at this scale factor
    // every single-table scan is under the broadcast threshold, and the
    // one-partition rule would drop exchanges a larger input keeps
    s.conf.set("spark.sql.optimizer.excludedRules",
      graft.functions.CoalesceSmallScans.ruleName)
    s
  }

  test("every batch query plan stays within its recorded structural budget") {
    val current = auditable(auditSession()).map { case (name, df) =>
      name -> metrics(df.queryExecution.executedPlan.toString)
    }
    checkBudget(budgetPath, current)
  }

  // The audit above reads UNEXECUTED plans — under AQE that is the
  // initial (pre-adaptive) shape, deterministic but not what production
  // runs. This one EXECUTES every query so AdaptiveSparkPlanExec
  // re-plans for real (broadcast demotions/promotions, coalesced
  // shuffles, skew splits) and audits the FINAL plan section only —
  // the budget divergence the pre-adaptive audit cannot see (e.g. a
  // broadcast silently demoting to SMJ at runtime).
  test("AQE-executed (production posture) plans stay within their own budget") {
    // (measured queries optionally restricted to `names` — construction
    // is filtered BEFORE fn() runs, so a re-measure pass never re-pays
    // the eager localCheckpoints of the non-violating queries)
    def measure(names: Option[Set[String]])
        : (Seq[(String, Seq[Int])], Boolean) = {
      val s2 = auditSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      var sawFinal = false
      val cur = SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(_._1.startsWith("stream_"))
        .filter { case (n, _) => names.forall(_.contains(n)) }
        .map { case (name, fn) => name -> fn(s2, sfDir) }
        .map { case (name, df) =>
          // drive THIS df's own physical plan (df.count() would wrap the
          // logical plan in a fresh QueryExecution and leave this one —
          // the one we stringify — unexecuted, i.e. never final)
          val exec = df.queryExecution.executedPlan
          exec.execute().count()
          val plan = exec.toString
          sawFinal ||= plan.contains("isFinalPlan=true")
          // executed adaptive strings carry BOTH sections; audit the final
          name -> metrics(plan.split("== Initial Plan ==").head)
        }
      (cur, sawFinal)
    }
    val (current, sawFinal) = measure(None)
    // guard against vacuity: if no plan ever reached isFinalPlan=true
    // the slicing/metrics would be auditing initial shapes twice
    assert(sawFinal, "no executed query produced a final adaptive plan — " +
      "is AQE actually enabled on the audit session?")
    checkBudget(aqeBudgetPath, current,
      remeasure = Some(names => measure(Some(names))._1),
      exchangeSlack = aqeExchangeSlack)
  }
}
