package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-group quantiles by the NEAREST-RANK definition: the p-th
  * quantile of n ordered values is the value at rank ⌈p·n⌉ — a value
  * that EXISTS in the data, no interpolation. Chosen over
  * interpolating definitions (Spark `percentile`, DuckDB
  * `quantile_cont`) deliberately: interpolation arithmetic is
  * engine-library-dependent, while rank selection is pure integer math
  * on a shared sort order — bit-identical everywhere, and at 100 TB a
  * real observed value is usually more useful than a synthetic
  * midpoint (reference: the dashboard's summary stats are all
  * min/max/last — app.py:171-189 — this generalizes them to any p).
  *
  * Plan shape: collapse to the per-(keys, value) DISTINCT ledger first
  * (map-side combined), then [[Ranking.withRunningTotals]]'s
  * distributed prefix sum gives every distinct value its cumulative
  * rank range [cum−c+1, cum] — the value at rank ⌈p·n⌉ is the ledger
  * row whose range contains it, closed by a pure filter. No per-key
  * row_number window, so a HOT key (or an unkeyed call, where the
  * "group" is the whole dataset) never funnels its rows through one
  * task; the p-list explodes over the ledger, never over raw rows.
  */
object Percentiles {

  private val Reserved = Seq("__c", "__cum", "__n", "p", "pct_value")

  /** One row per (group, p): (keys..., p, pct_value). `ps` values must
    * lie in (0, 1]. Null values are excluded from ranking (a null is
    * not an observation, matching aggregate-function semantics). */
  def nearestRank(df: DataFrame, keys: Seq[String], value: String,
                  ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must lie in (0, 1], got $ps")
    val clash = df.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty,
      s"nearestRank appends working columns ${Reserved.mkString(", ")} — " +
        s"the input already has: $clash; rename first")
    val vc = df.filter(col(value).isNotNull)
      .groupBy((keys.map(col) :+ col(value)): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = Ranking.withRunningTotals(vc, keys, Seq(col(value)),
      Seq("__c" -> "__cum"))
    // per-key totals off the checkpointed ledger
    val tot = cum.groupBy(keys.map(col): _*).agg(sum(col("__c")).as("__n"))
    // the value AT rank ⌈p·n⌉: ⌈p·n⌉ lands inside exactly one distinct
    // value's [cum−c+1, cum] — same row the per-key row_number picked,
    // same ceil arithmetic, so results replay bit-identically
    Attach(cum, tot, keys)
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__cum") - col("__c") < ceil(col("p") * col("__n")) &&
        ceil(col("p") * col("__n")) <= col("__cum"))
      .select(keys.map(col) :+ col("p") :+ col(value).as("pct_value"): _*)
  }

  /** Winsorization: clip `value` into its own group's exact
    * [pLo, pHi] nearest-rank quantile bounds — the standard heavy-tail
    * guard before statistics or training on raw telemetry (one sensor
    * stuck at 1e12 otherwise owns every mean). Appends `winsorized`.
    *
    * Both bounds are OBSERVED values ([[nearestRank]]) and clipping is
    * pure comparison, so every output value is a value from the data —
    * engine-exact by construction, no float discipline needed. Groups
    * with no non-null observation pass values through unclipped.
    *
    * Plan shape: the bounds frame is |groups| rows (one lo/hi pair
    * each) — BROADCAST back onto the input only while a bounded
    * `limit(n+1).count()` probe proves it fits `maxBroadcastGroups`
    * (never a full count); above the threshold the join falls back to
    * a plain hash join on the keys, so per-user winsorization at
    * millions of groups never forces a driver-sized build. Same rows
    * out either way; only the join strategy changes. The data-side
    * cost stays the one (keys, value) sort the ranking needs. */
  def winsorize(df: DataFrame, keys: Seq[String], value: String,
                pLo: Double = 0.01, pHi: Double = 0.99,
                maxBroadcastGroups: Int = 1000000): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"need 0 < pLo < pHi <= 1, got pLo=$pLo pHi=$pHi")
    require(!df.columns.contains("winsorized"),
      "winsorize appends column winsorized — rename the existing one first")
    val bounds = nearestRank(df, keys, value, Seq(pLo, pHi))
      .groupBy(keys.map(col): _*)
      .agg(min(when(col("p") === pLo, col("pct_value"))).as("__lo"),
        min(when(col("p") === pHi, col("pct_value"))).as("__hi"))
    // bounded probe, the seasonalDecompose guard pattern
    // (Resample.scala): re-runs the bounds aggregation once but only
    // ever scans maxBroadcastGroups+1 of its rows.
    val over =
      bounds.limit(maxBroadcastGroups + 1).count() > maxBroadcastGroups
    // PlanAudit: sample_winsorize 1 SMJ fewer with this hint (sf0.01 and sf0.1)
    val boundsSide = if (over) bounds else broadcast(bounds)
    df.join(boundsSide, keys, "left")
      .withColumn("winsorized",
        when(col(value).isNull, lit(null))
          .when(col("__lo").isNull, col(value))
          .otherwise(greatest(least(col(value), col("__hi")), col("__lo"))))
      .drop("__lo", "__hi")
  }

  /** Per-group median and median absolute deviation (both exact
    * nearest-rank selections) sharing ONE raw-data collapse — the
    * robust outlier-stat pair. Output: (keys..., med, mad).
    *
    * Two chained [[nearestRank]] calls pay the full ledger scaffolding
    * twice ON RAW ROWS (collapse + range exchange + checkpoint +
    * triangular pass, then AGAIN on the data joined back to the
    * median): 21 exchanges in the shipped agg_mad plan. The fold here
    * rests on |x − med| being a function of the VALUE alone once med
    * is known — so the deviation ledger derives from the (keys, value)
    * COUNT LEDGER, never from raw rows: values symmetric around the
    * median collapse together and their counts ADD. The data is
    * scanned and exchanged exactly once (the ledger groupBy); both
    * prefix sums, the totals, and the deviation fold all run over
    * ledger-sized (≤ |distinct values| per key) frames, and the group
    * total n is computed once and reused (|x − med| is a bijection on
    * multiset size: both rankings select rank ⌈n/2⌉ of n values).
    *
    * Engine-exactness matches the two-pass form bit for bit: same
    * multiset of deviations (a ledger value with count c contributes c
    * identical deviations), same ⌈n/2⌉ rank, |x − med| a single IEEE
    * subtraction. */
  def medianAbsoluteDeviation(df: DataFrame, keys: Seq[String],
                              value: String): DataFrame = {
    val keyCols = keys.map(col)
    // the single raw-data pass: collapse to the (keys, value) ledger;
    // checkpointed because THREE consumers read it (median prefix sum,
    // group totals, deviation fold) and each would otherwise re-run
    // the full scan+exchange
    val vc = Cut(df.filter(col(value).isNotNull)
      .groupBy((keyCols :+ col(value)): _*)
      .agg(count(lit(1)).as("__c")))
    val tot = vc.groupBy(keyCols: _*).agg(sum(col("__c")).as("__n"))
    // rank-⌈n/2⌉ selection over a cumulated ledger: the shared close
    // for both passes
    def pickMedian(cum: DataFrame, v: String, out: String): DataFrame =
      Attach(cum, tot, keys)
        .filter(col("__cum") - col("__c") < ceil(col("__n") * 0.5) &&
          ceil(col("__n") * 0.5) <= col("__cum"))
        .select(keyCols :+ col(v).as(out): _*)
    val med = pickMedian(
      Ranking.withRunningTotals(vc, keys, Seq(col(value)),
        Seq("__c" -> "__cum")), value, "med")
    // deviation ledger FOLDED FROM THE VALUE LEDGER (med is ≤ one row
    // per key — joined onto the ledger, never onto the data). Unkeyed,
    // med is one row the analyzer cannot bound (a filter over the
    // ledger), so the cross join is written out with its broadcast.
    val devLedger = (
      if (keys.isEmpty) vc.crossJoin(broadcast(med)) else Attach(vc, med, keys))
      .select(keyCols ++ Seq(abs(col(value) - col("med")).as("__dev"),
        col("__c")): _*)
      .groupBy((keyCols :+ col("__dev")): _*)
      .agg(sum(col("__c")).as("__c"))
    val mad = pickMedian(
      Ranking.withRunningTotals(devLedger, keys, Seq(col("__dev")),
        Seq("__c" -> "__cum")), "__dev", "mad")
    // unkeyed, both sides are one row the analyzer cannot bound
    if (keys.isEmpty) med.crossJoin(mad) else Attach(med, mad, keys)
  }

  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the group total (the lower weighted median —
    * a value FROM the data, no interpolation, so the result is
    * engine-exact by construction like [[nearestRank]]).
    *
    * Weights must be non-negative integers (exact cumulative compare:
    * `2·cum ≥ total` in int64 — a float half-total would put boundary
    * groups on an ulp). Zero-weight rows carry no mass but remain
    * eligible carriers only if some positive mass lands on them —
    * i.e. never, so they are excluded up front with nulls.
    *
    * Shape: one groupBy collapses to (key, value, weight-sum), then
    * the cumulative weight rides [[Ranking.withRunningTotals]]'s
    * distributed per-key prefix sum — an UNKEYED call (or one hot key)
    * makes the distinct-value ledger effectively global, where a
    * single-task cumulative window would funnel it; the ledger
    * machinery keeps every stage partitioned. The median itself closes
    * as min(v) over the suffix where 2·cum ≥ total — the cumulative is
    * monotone per key, so the qualifying set is a suffix and its min
    * is the answer (no row_number pass needed). */
  def weightedMedian(df: DataFrame, keys: Seq[String], value: String,
                     weight: String): DataFrame = {
    val vw = df.filter(col(value).isNotNull && col(weight).isNotNull &&
        col(weight) > 0)
      .groupBy((keys.map(col) :+ col(value).as("__v")): _*)
      .agg(sum(col(weight).cast("long")).as("__w"))
    val cum = Ranking.withRunningTotals(vw, keys, Seq(col("__v")),
      Seq("__w" -> "__cum"))
    // per-key totals off the checkpointed ledger (map-side combined, ≤
    // |keys| rows)
    val tot = cum.groupBy(keys.map(col): _*).agg(sum(col("__w")).as("__tot"))
    Attach(cum, tot, keys).filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(keys.map(col): _*)
      .agg(min(col("__v")).as("weighted_median"),
        max(col("__tot")).as("total_weight"))
  }

  /** Weighted nearest-rank quantiles per group — [[weightedMedian]]
    * generalized to any p-list (and [[nearestRank]] generalized to
    * weighted rows): for each p in (0, 1] the value whose cumulative
    * weight range contains ⌈p·W⌉, W = the group's total weight. A
    * row with weight w stands for w observations, so this over a
    * (value, count) ledger is EXACTLY nearestRank over the rows the
    * ledger summarizes — the shared-ledger form for pipelines that
    * already hold weighted/aggregated data (pre-collapsed ledgers,
    * sketch partials, importance weights).
    *
    * Weights must be non-negative integers ([[weightedMedian]]'s
    * contract — the cumulative compare stays exact int64), and the
    * contract is enforced ROW-WISE AND LOUD ([[Kll]]'s ledger
    * discipline): a negative or non-integral weight raises with the
    * offending value — silently dropping a negative or truncating 2.7
    * to 2 would shift every cumulative rank into a plausible-but-wrong
    * pick (and Spark's cast truncates where other engines round, an
    * engine-divergence for out-of-contract input). The guard wraps the
    * weight itself, which the zero-mass filter and the sum both
    * consume, so no projection can prune it. Zero-weight rows carry no
    * mass and are excluded like nulls. ⌈p·W⌉ is the one double
    * product, the same fixed chain in both engines ([[nearestRank]]'s
    * discipline). Output: (keys…, p, pct_value).
    *
    * Shape: one groupBy collapses duplicate values (map-side
    * combined), [[Ranking.withRunningTotals]] cumulates the ledger
    * distributed, the p-list explodes over ledger rows, the pick is a
    * pure filter — no per-group sort, no single-task window. The
    * totals ride [[Attach]]. */
  def weightedNearestRank(df: DataFrame, keys: Seq[String], value: String,
                          weight: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must lie in (0, 1], got $ps")
    val wd = col(weight).cast("double")
    val wChecked = when(wd >= 0.0 && wd === floor(wd),
        col(weight).cast("long"))
      .otherwise(raise_error(concat(
        lit("weight must be a non-negative integer, got "),
        col(weight).cast("string"))))
    val vw = df.filter(col(value).isNotNull && col(weight).isNotNull)
      .select((keys.map(col) :+ col(value).as("__v") :+
        wChecked.as("__w0")): _*)
      .filter(col("__w0") > 0)
      .groupBy((keys.map(col) :+ col("__v")): _*)
      .agg(sum(col("__w0")).as("__w"))
    val cum = Ranking.withRunningTotals(vw, keys, Seq(col("__v")),
      Seq("__w" -> "__cum"))
    val tot = cum.groupBy(keys.map(col): _*).agg(sum(col("__w")).as("__tot"))
    Attach(cum, tot, keys)
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__cum") - col("__w") < ceil(col("p") * col("__tot")) &&
        ceil(col("p") * col("__tot")) <= col("__cum"))
      .select(keys.map(col) :+ col("p") :+ col("__v").as("pct_value"): _*)
  }

  /** Equi-depth histogram: `buckets` variable-width bins each holding
    * ~n/buckets rows — the ANALYZE-style statistic behind selectivity
    * estimation and quantile-bucketed feature binning (equal-WIDTH is
    * `value_histogram` in the query layer; equal-DEPTH is this one).
    * Output: (bucket 1..buckets, lo, hi, n_rows), bucket boundaries on
    * observed values only.
    *
    * Shape: the ranking runs over the DISTINCT-VALUE frame (one count
    * exchange collapses the data first), and the cumulative rank rides
    * [[Ranking.withRunningTotals]]'s distributed prefix sum — for a
    * continuous column the distinct ledger is ≈ row-sized, so a
    * single-task cumulative window here would funnel the dataset at
    * 100×. Tied rows share a value, hence a cumulative rank, hence
    * a bucket: bucket = ⌈cum·b / n⌉ in INTEGER arithmetic, so both
    * engines bin identically (a float ratio would split grid-boundary
    * ties engine-specifically). Buckets can be empty only when heavy
    * ties swallow a whole depth stripe; they are simply absent. */
  def equiDepthHistogram(df: DataFrame, value: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"need at least one bucket, got $buckets")
    val vc = df.filter(col(value).isNotNull)
      .groupBy(col(value).as("v")).agg(count(lit(1)).as("c"))
    val cum = Ranking.withRunningTotals(vc, Seq.empty, Seq(col("v")),
      Seq("c" -> "cum"))
    // total off the checkpointed ledger, never a second data scan
    val n = cum.agg(sum(col("c")).as("n"))
    Attach(cum, n)
      .withColumn("bucket",
        expr(s"(cum * $buckets + n - 1) div n"))
      .groupBy(col("bucket"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("c")).as("n_rows"))
  }
}
