package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-quality gate.
  *
  * Reference: `data_quality_checks` (scripts/transform.py:81-111) —
  * column presence, dtype equality, and non-null critical columns, with
  * quarantine-on-failure (scripts/transform.py:133-136).
  *
  * Schema checks are analysis-time (free); the null check is ONE
  * aggregate over the frame (a single scan with map-side partial
  * aggregation — no per-column passes).
  */
object Quality {

  sealed trait Violation { def detail: String }
  final case class MissingColumn(detail: String) extends Violation
  final case class TypeMismatch(detail: String) extends Violation
  final case class NullsInCritical(detail: String) extends Violation

  /** Validate `df` against an expected schema and critical non-null
    * columns. Returns Right(df) when clean, Left(violations) otherwise —
    * callers quarantine on Left, mirroring the reference's skip-and-log. */
  /** The reference stores naive (timezone-less) datetimes
    * (scripts/transform.py:82-87); parquet lakes surface those as either
    * TIMESTAMP or TIMESTAMP_NTZ depending on writer flags — the gate
    * treats them as the same logical type. */
  private def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case org.apache.spark.sql.types.TimestampNTZType => org.apache.spark.sql.types.TimestampType
      case other => other
    }

  def check(df: DataFrame, expected: StructType,
            criticalNonNull: Seq[String]): Either[Seq[Violation], DataFrame] = {
    val actual = df.schema.map(f => f.name -> f.dataType).toMap

    val missing = expected.fields.collect {
      case f if !actual.contains(f.name) => MissingColumn(f.name)
    }.toSeq
    val mismatched = expected.fields.collect {
      case f if actual.get(f.name).exists(a => norm(a) != norm(f.dataType)) =>
        TypeMismatch(s"${f.name}: expected ${f.dataType.simpleString}, got ${actual(f.name).simpleString}")
    }.toSeq

    val structural = missing ++ mismatched
    if (structural.nonEmpty) return Left(structural)

    val present = criticalNonNull.filter(actual.contains)
    val nullViolations = if (present.isEmpty) Seq.empty else {
      val aggs = present.map(c => count(when(col(c).isNull, 1)).as(c))
      val counts = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      present.zipWithIndex.collect {
        case (c, i) if counts.getLong(i) > 0 =>
          NullsInCritical(s"$c: ${counts.getLong(i)} null rows")
      }
    }
    if (nullViolations.nonEmpty) Left(nullViolations) else Right(df)
  }

  /** Column-level null/row audit as a one-row DataFrame — the queryable
    * form of the gate (reference: transform.py:104-109). */
  def nullAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.map(c => count(when(col(c).isNull, 1)).as(s"null_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-column table profile, long form — the ANALYZE-TABLE shape every
    * warehouse keeps (and the first thing to run on an unknown 100 TB
    * drop before writing any query against it): one output row per
    * profiled column with exact `n_rows` / `n_null` / `n_distinct`.
    *
    * ONE pass over the data: the per-column distinct counts plan as a
    * single multi-distinct aggregate (Catalyst's Expand rewrite — the
    * input is replicated once per distinct-column internally, never
    * rescanned), and the long form unpivots the single result row at
    * zero data cost. Distinct counts are EXACT — that is what makes the
    * profile oracle-checkable; at petabyte cardinalities swap in
    * [[Dedup.corpusProfile]]'s portable HLL/KLL sketches, which keep
    * constant memory (and, being md5-replayable, keep the oracle
    * too). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct.size == cols.size,
      s"profile: duplicate columns ${cols.diff(cols.distinct).mkString(", ")}")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns ${missing.mkString(", ")}")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(when(col(c).isNull, 1)).as(s"__null_$c"),
      count_distinct(col(c)).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.flatMap(c => Seq(
      lit(c), struct(col("__n").as("n_rows"), col(s"__null_$c").as("n_null"),
        col(s"__nd_$c").as("n_distinct"))))
    one.select(explode(map(entries: _*)).as(Seq("col_name", "s")))
      .select(col("col_name"), col("s.n_rows"), col("s.n_null"),
        col("s.n_distinct"))
  }

  /** Declarative expectation suite (the Great-Expectations shape): one
    * audit row per rule — (rule, n_violations, passed) — covering
    * row-local predicates, key uniqueness, and referential integrity.
    * The generalization of [[check]]'s fixed three rules to a
    * user-declared contract; run it before promoting any batch.
    *
    * Plan shape by rule class:
    *  - every ROW-LOCAL rule (not-null, range, regex, set membership —
    *    any boolean Column) folds into ONE shared aggregation pass:
    *    a conditional count per rule, one scan total;
    *  - each UNIQUE rule is one groupBy on its key columns counting
    *    rows beyond the keeper (Σ max(c−1, 0));
    *  - each REFERENTIAL rule is one left-anti join against the
    *    (deduplicated) dimension key — broadcastable when the dim is.
    * The per-rule one-row results union at zero data cost.
    *
    * `rowRules` maps rule name → VIOLATION predicate (true = bad row;
    * null predicates count as violations — an unevaluable expectation
    * is a failed one). */
  def expectations(df: DataFrame,
                   rowRules: Seq[(String, org.apache.spark.sql.Column)],
                   uniqueKeys: Seq[(String, Seq[String])] = Seq.empty,
                   refIntegrity: Seq[(String, DataFrame, String, String)] = Seq.empty): DataFrame = {
    require(rowRules.nonEmpty || uniqueKeys.nonEmpty || refIntegrity.nonEmpty,
      "expectations: declare at least one rule")
    val names = rowRules.map(_._1) ++ uniqueKeys.map(_._1) ++ refIntegrity.map(_._1)
    require(names.distinct.size == names.size,
      s"expectations: duplicate rule names ${names.diff(names.distinct).mkString(", ")}")
    val rowPart: Seq[DataFrame] =
      if (rowRules.isEmpty) Seq.empty
      else {
        val aggs = rowRules.map { case (name, bad) =>
          count(when(coalesce(bad, lit(true)), 1)).as(name)
        }
        val one = df.agg(aggs.head, aggs.tail: _*)
        Seq(one.select(explode(map(rowRules.flatMap { case (n, _) =>
          Seq(lit(n), col(n)) }: _*)).as(Seq("rule", "n_violations"))))
      }
    val uniquePart = uniqueKeys.map { case (name, keys) =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(col("__c") - lit(1)), lit(0L)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }
    val refPart = refIntegrity.map { case (name, dim, fk, pk) =>
      df.filter(col(fk).isNotNull)
        .join(dim.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }
    (rowPart ++ uniquePart ++ refPart)
      .reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0)
  }

  /** Benford's-law first-digit audit: the leading-digit distribution
    * of a positive measure against log₁₀(1 + 1/d) — the classic
    * fabricated-data screen for financial columns (organic multi-
    * magnitude amounts follow it; invented ones rarely do). One
    * aggregation pass; output one row per digit 1–9 with observed
    * count/share, expected share, and the digit's χ² term.
    *
    * The leading digit is extracted from the INTEGER-CENTS STRING
    * (`substr(cast(round(x·100) as string), 1, 1)`) — a log₁₀/floor
    * extraction flips digits when two engines' `log10` differ by one
    * ulp at a power of ten; string length of an integer cannot.
    * Non-positive and null values are excluded (Benford is defined on
    * positive magnitudes). Shares and χ² terms combine doubles in a
    * fixed order and surface as FLOAT. */
  def benfordAudit(df: DataFrame, value: String): DataFrame = {
    val cents = round(col(value) * 100).cast("long")
    val counts = df
      .filter(col(value).isNotNull && col(value) > 0 && cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    Attach(counts, total)
      .withColumn("expected_share",
        log(10.0, lit(1.0) + lit(1.0) / col("digit")))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total")).cast("float").as("share"),
        col("expected_share").cast("float").as("expected"),
        (((col("n").cast("double") - col("total") * col("expected_share")) *
          (col("n").cast("double") - col("total") * col("expected_share"))) /
          (col("total") * col("expected_share"))).cast("float").as("chi2_term"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between two
    * snapshots of a NUMERIC column — the continuous complement of
    * [[psiDrift]]'s categorical gate: ks = max_v |F₁(v) − F₂(v)| over
    * the union of observed values, no binning choice to argue about.
    * Evaluating the ECDF gap at observed values only is exact: between
    * observations both ECDFs are constant, so the supremum is attained
    * at a sample point.
    *
    * Scale shape: each side collapses to its DISTINCT-value histogram
    * first (map-side combined), and BOTH running ECDF sums ride
    * [[Ranking.withRunningTotals]]'s range-partition + triangular-
    * ledger prefix sum in one pass — no unpartitioned Window, so a
    * near-unique continuous column (where the distinct ledger is
    * ≈ row-sized) no longer funnels into a single task; quantizing
    * (e.g. rounding to cents) remains advisable purely to shrink the
    * ledger. The division is the only float step; comparisons and the
    * max are order-free, so the statistic replays exactly. */
  def ksDrift(base: DataFrame, current: DataFrame, value: String): DataFrame = {
    def hist(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull)
        .groupBy(col(value)).agg(count(lit(1)).as(out))
    val j = hist(base, "__c1").join(hist(current, "__c2"), Seq(value), "full_outer")
      .select(col(value),
        coalesce(col("__c1"), lit(0L)).as("__c1"),
        coalesce(col("__c2"), lit(0L)).as("__c2"))
    val f = Ranking.withRunningTotals(j, Seq.empty, Seq(col(value)),
      Seq("__c1" -> "__f1", "__c2" -> "__f2"))
    // totals off the ledger the prefix sum already checkpointed — the
    // two corpus-sized histogram scans are never re-executed
    val totals = f.agg(sum(col("__c1")).as("__n1"), sum(col("__c2")).as("__n2"))
    Attach(f, totals)
      // an ECDF over zero observations is undefined — surface a clear
      // message instead of a bare ANSI divide-by-zero
      .where(assert_true(col("__n1") > 0 && col("__n2") > 0,
        lit("ksDrift: a snapshot has no non-null values")).isNull)
      .agg(
        max(abs(col("__f1").cast("double") / col("__n1").cast("double") -
          col("__f2").cast("double") / col("__n2").cast("double")))
          .cast("float").as("ks_stat"),
        max(col("__n1")).as("n_base"), max(col("__n2")).as("n_cur"))
  }

  /** Two-sample Cramér–von Mises statistic — [[ksDrift]]'s INTEGRAL-
    * norm sibling (Anderson, "On the distribution of the two-sample
    * Cramér–von Mises criterion", Ann. Math. Stat. 1962): where KS
    * reads only the single worst ECDF gap, CvM accumulates the squared
    * gap over every pooled observation, so a broad mild shift that
    * never produces one large gap (the common slow-drift failure mode)
    * still scores. T = n₁n₂/(n₁+n₂)² · Σ_pooled (F₁(x)−F₂(x))², the
    * sum running over pooled observations WITH multiplicity — on the
    * distinct-value ledger that is Σ_v (c₁+c₂)(F₁(v)−F₂(v))².
    *
    * Same scale shape as [[ksDrift]]: one ledger, one
    * [[Ranking.withRunningTotals]] pass for both ECDFs, no
    * unpartitioned Window. Exactness: unlike KS's order-free max, CvM
    * SUMS float terms — each per-value term is quantized to
    * DECIMAL(30,12) before the sum (order-independent, the repo's
    * standing discipline) and the statistic surfaces as FLOAT, so any
    * engine replays the hash. */
  def cvmDrift(base: DataFrame, current: DataFrame, value: String): DataFrame = {
    def hist(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull)
        .groupBy(col(value)).agg(count(lit(1)).as(out))
    val j = hist(base, "__c1").join(hist(current, "__c2"), Seq(value), "full_outer")
      .select(col(value),
        coalesce(col("__c1"), lit(0L)).as("__c1"),
        coalesce(col("__c2"), lit(0L)).as("__c2"))
    val f = Ranking.withRunningTotals(j, Seq.empty, Seq(col(value)),
      Seq("__c1" -> "__f1", "__c2" -> "__f2"))
    val totals = f.agg(sum(col("__c1")).as("__n1"), sum(col("__c2")).as("__n2"))
    val gap = col("__f1").cast("double") / col("__n1").cast("double") -
      col("__f2").cast("double") / col("__n2").cast("double")
    Attach(f, totals)
      .where(assert_true(col("__n1") > 0 && col("__n2") > 0,
        lit("cvmDrift: a snapshot has no non-null values")).isNull)
      .agg(
        sum(((col("__c1") + col("__c2")).cast("double") * gap * gap)
          .cast("decimal(30,12)")).as("__t"),
        max(col("__n1")).as("n_base"), max(col("__n2")).as("n_cur"))
      .select(
        ((col("n_base") * col("n_cur")).cast("double") /
          ((col("n_base") + col("n_cur")).cast("double") *
            (col("n_base") + col("n_cur")).cast("double")) *
          col("__t").cast("double")).cast("float").as("cvm_stat"),
        col("n_base"), col("n_cur"))
  }

  /** Population Stability Index between two snapshots of a categorical
    * column — THE drift gate for training-data mixtures (did the lang /
    * domain / source distribution move between yesterday's corpus and
    * today's?): psi = Σ_buckets (p − q)·ln(p/q), with the usual call
    * thresholds (< 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).
    *
    * Shares use add-1 smoothing over the UNION of observed buckets
    * (p = (c+1)/(n+B)): a bucket present in only one snapshot —
    * exactly the event a drift monitor must catch — contributes a
    * finite term instead of ln(0), and the smoothing rule is integer
    * arithmetic both engines replay. One aggregation per side on the
    * bucket key, one |buckets|-sized outer join, broadcast totals —
    * nothing corpus-sized shuffles twice. Per-bucket contributions
    * surface (the actionable part: WHICH bucket moved), with the total
    * on every row via a DECIMAL(30,12)-quantized window sum (order-
    * independent, so the cross-engine equality survives the float
    * downcast). */
  def psiDrift(base: DataFrame, current: DataFrame, bucket: String): DataFrame = {
    def side(df: DataFrame, out: String) =
      df.filter(col(bucket).isNotNull)
        .groupBy(col(bucket)).agg(count(lit(1)).as(out))
    val joined = side(base, "n_base").join(side(current, "n_cur"),
        Seq(bucket), "full_outer")
      .select(col(bucket),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("tb"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("nb"))
    val p = (col("n_base") + 1).cast("double") / (col("tb") + col("nb"))
    val q = (col("n_cur") + 1).cast("double") / (col("tc") + col("nb"))
    val contrib = (p - q) * log(p / q)
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    Attach(joined, totals)
      .withColumn("contribution", contrib)
      .withColumn("psi_total",
        sum(col("contribution").cast("decimal(30,12)")).over(w)
          .cast("double"))
      .select(col(bucket), col("n_base"), col("n_cur"),
        col("contribution").cast("float").as("contribution"),
        col("psi_total").cast("float").as("psi_total"))
  }

  /** Jensen–Shannon divergence between two snapshots of a categorical
    * column (Lin, "Divergence measures based on the Shannon entropy",
    * IEEE Trans. IT 1991) — [[psiDrift]]'s bounded, symmetric sibling:
    * jsd = ½·KL(p‖m̄) + ½·KL(q‖m̄) with m̄ = (p+q)/2, always in
    * [0, ln 2], so one exploding bucket cannot blow the score past the
    * scale the alert thresholds were tuned on (PSI's ln(p/q) is
    * unbounded; JSD saturates — the right gate when a feed can GAIN a
    * brand-new dominant bucket).
    *
    * Same smoothing and scale shape as [[psiDrift]]: add-1 over the
    * union of observed buckets (both shares strictly positive, so no
    * ln(0) branch), one aggregation per side, one |buckets|-sized outer
    * join, broadcast totals. Per-bucket contributions surface (WHICH
    * bucket moved) with the total on every row via a DECIMAL(30,12)-
    * quantized window sum — order-independent, FLOAT at the surface, so
    * the cross-engine hash survives. */
  def jsdDrift(base: DataFrame, current: DataFrame, bucket: String): DataFrame = {
    def side(df: DataFrame, out: String) =
      df.filter(col(bucket).isNotNull)
        .groupBy(col(bucket)).agg(count(lit(1)).as(out))
    val joined = side(base, "n_base").join(side(current, "n_cur"),
        Seq(bucket), "full_outer")
      .select(col(bucket),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("tb"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("nb"))
    val p = (col("n_base") + 1).cast("double") / (col("tb") + col("nb"))
    val q = (col("n_cur") + 1).cast("double") / (col("tc") + col("nb"))
    // ½(p·ln(2p/(p+q)) + q·ln(2q/(p+q))) — each ln argument is a ratio
    // of the same exact-integer-derived doubles both engines compute
    val contrib = (p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q))) * lit(0.5)
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    Attach(joined, totals)
      .withColumn("contribution", contrib)
      .withColumn("jsd_total",
        sum(col("contribution").cast("decimal(30,12)")).over(w)
          .cast("double"))
      .select(col(bucket), col("n_base"), col("n_cur"),
        col("contribution").cast("float").as("contribution"),
        col("jsd_total").cast("float").as("jsd_total"))
  }

  /** Shannon entropy of `bucket`'s distribution within each `key`
    * group, H = −Σ p·ln p (nats) — the single-snapshot mixture health
    * number beside [[psiDrift]]'s two-snapshot comparison: a language
    * whose source entropy collapses toward 0 is being fed by one
    * domain (mixture collapse, the classic silent curation failure);
    * ln(n_buckets) is its maximum, so the pair reads as "how even, out
    * of how many". Each p·ln p is a short double chain on exact
    * integer ratios, DECIMAL(20,12)-quantized before the group sum —
    * order-free, FLOAT at the surface. One (key, bucket) aggregation,
    * one key-partitioned window over the bucket-granular frame. */
  def groupEntropy(df: DataFrame, key: String, bucket: String): DataFrame = {
    val counts = df.filter(col(bucket).isNotNull)
      .groupBy(col(key), col(bucket)).agg(count(lit(1)).as("__c"))
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    counts.withColumn("__n", sum(col("__c")).over(wk))
      .withColumn("__p", col("__c").cast("double") / col("__n").cast("double"))
      .groupBy(col(key))
      .agg(
        (-sum((col("__p") * log(col("__p"))).cast("decimal(20,12)")))
          .cast("double").cast("float").as("entropy"),
        count(lit(1)).as("n_buckets"),
        max(col("__n")).as("n_rows"))
  }

  /** Referential-integrity audit: how many child rows point at a
    * parent key that does not exist — the foreign-key orphan count a
    * lake without enforced constraints must MEASURE instead of assume
    * (a partial parent-side backfill silently orphans children; joins
    * downstream then drop them without a trace). One distinct on the
    * parent key + one anti join, both hashed on the key — the scale
    * shape of any equi-join. Null child keys are excluded from both
    * counts (they are [[nullAudit]]'s finding, not an orphan). */
  def referentialOrphans(child: DataFrame, childKey: String,
                         parent: DataFrame, parentKey: String,
                         name: String): DataFrame = {
    val c = child.filter(col(childKey).isNotNull)
    val orphan = c.join(
      parent.select(col(parentKey).as(childKey)).distinct(),
      Seq(childKey), "left_anti")
    Attach(c.agg(count(lit(1)).as("n_child")),
        orphan.agg(count(lit(1)).as("n_orphans")))
      .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
  }
}
