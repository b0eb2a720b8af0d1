package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Higher central moments per group: skewness (g₁ = m₃/m₂^1.5) and
  * excess kurtosis (g₂ = m₄/m₂² − 3) — the distribution-shape audit
  * behind heavy-tail detection that mean/stddev (`table_profile`) and
  * quantiles (`agg_percentiles`) do not capture.
  *
  * Numeric discipline (the two-pass SHIFTED-moment form):
  *  1. pass 1 computes each group's exact integer-cents floor-mean μ
  *     (integer arithmetic only — `(Σx − pmod(Σx, n)) div n` is floor
  *     division for either sign, identical in Spark and DuckDB, where
  *     bare `div`/`//` disagree on negatives);
  *  2. pass 2 sums shifted powers Σd, Σd², Σd³, Σd⁴ (d = x − μ) in
  *     DECIMAL(38,0) — exact and order-independent at any cardinality.
  *     Shifting is what makes the power-sum form numerically sane: the
  *     raw-moment identity cancels catastrophically when μ ≫ σ, while
  *     |Σd| ≤ n/2 by construction so every term stays O(σ-scaled);
  *  3. the closing arithmetic runs in IEEE doubles over the exact
  *     integer sums, in a FIXED textual order the oracle mirrors
  *     token-for-token — deterministic bit-equality, float downcast
  *     at the surface.
  *
  * Plan: two grouped aggregations over the same key exchange plus one
  * join of the |groups|-row μ frame back onto the input — BROADCAST
  * only while a bounded `limit(n+1).count()` probe proves the frame
  * fits `maxBroadcastGroups` (never a full count); above the threshold
  * it falls back to a plain hash join on the keys, so per-entity
  * moments at millions of groups never force a driver-sized build.
  * Same rows out either way. Nulls excluded. */
object Moments {

  private val d38 = (c: Column) => c.cast("decimal(38,0)")

  def skewKurtosis(df: DataFrame, keys: Seq[String], value: String,
                   maxBroadcastGroups: Int = 1000000): DataFrame = {
    require(keys.nonEmpty, "skewKurtosis needs at least one grouping key")
    val x = round(col(value) * 100).cast("long")
    val in = df.filter(col(value).isNotNull)
      .select(keys.map(col) :+ x.as("__x"): _*)
    val mu = in.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(d38(col("__x"))).as("__s1"))
      .withColumn("__mu",
        expr("(__s1 - pmod(__s1, cast(n as decimal(38,0)))) div cast(n as decimal(38,0))"))
      .select(keys.map(col) :+ col("n") :+ col("__mu"): _*)
    // bounded probe, the seasonalDecompose guard pattern
    // (Resample.scala): re-runs the μ aggregation once but only ever
    // scans maxBroadcastGroups+1 of its rows.
    val over = mu.limit(maxBroadcastGroups + 1).count() > maxBroadcastGroups
    // PlanAudit sf0.1, 1 MB threshold: agg_skew_kurt 3 exch with this hint, 2 without
    val muSide = if (over) mu else broadcast(mu)
    val d = col("__x") - col("__mu")
    val t = in.join(muSide, keys)
      .groupBy(keys.map(col): _*)
      .agg(min(col("n")).as("n"),
        sum(d38(d)).as("t1"),
        sum(d38(d) * d38(d)).as("t2"),
        sum(d38(d) * d38(d) * d38(d)).as("t3"),
        sum(d38(d) * d38(d) * d38(d) * d38(d)).as("t4"))
    val n = col("n").cast("double")
    val m1 = col("t1").cast("double") / n
    val q2 = col("t2").cast("double") / n
    val q3 = col("t3").cast("double") / n
    val q4 = col("t4").cast("double") / n
    // fixed evaluation order — the oracle mirrors these expressions
    // token-for-token (no pow(): x*x is the replayable form)
    val m2 = q2 - m1 * m1
    val m3 = q3 - lit(3.0) * q2 * m1 + lit(2.0) * m1 * m1 * m1
    val m4 = q4 - lit(4.0) * q3 * m1 + lit(6.0) * q2 * m1 * m1 -
      lit(3.0) * m1 * m1 * m1 * m1
    t.select(keys.map(col) :+ col("n") :+
      (m3 / nullif(m2 * sqrt(m2), lit(0.0))).cast("float").as("skewness") :+
      (m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0)).cast("float").as("kurtosis"): _*)
  }
}
