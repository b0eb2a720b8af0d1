package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline): the points not dominated on a
  * (maximize `hi`, minimize `lo`) objective pair — "highest price at
  * the lowest discount" style trade-off queries, the classic
  * multi-objective cut a WHERE clause cannot express. Dominance is
  * strict: p' dominates p iff hi' ≥ hi ∧ lo' ≤ lo with at least one
  * strict; exact ties are co-frontier.
  *
  * In 2-D the frontier is a staircase, which makes the exact algorithm
  * a SORT, not a quadratic join:
  *
  *  1. collapse to one candidate per distinct `hi` (its min `lo`) —
  *     a real map-side-combined exchange over the data;
  *  2. PRUNE: range-bucket the `hi` axis into `buckets` cells (one
  *     global min/max agg picks the grid); a candidate dominated by a
  *     whole strictly-higher bucket's min-`lo` is discarded. The
  *     running min over buckets is a ≤`buckets`-row window — driver
  *     tiny. Under any non-adversarial distribution this leaves
  *     ~frontier-sized survivors out of billions of rows;
  *  3. EXACT: one window over the survivors ordered by `hi` desc keeps
  *     a candidate iff every strictly-higher-`hi` survivor has larger
  *     `lo`. The pass is exact no matter what step 2 left — the prune
  *     only shrinks the window's input, never changes the answer (an
  *     all-one-bucket adversary degrades speed, not correctness).
  *
  * Both objectives sort engine-identically (comparisons only, no
  * arithmetic), so the NOT EXISTS oracle matches bit-for-bit.
  */
object Skyline {

  def frontier2d(df: DataFrame, hi: String, lo: String,
                 buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"need at least one bucket, got $buckets")
    val pts = df.filter(col(hi).isNotNull && col(lo).isNotNull)
      .groupBy(col(hi).as("h")).agg(min(col(lo)).as("l"))
    val bounds = pts.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
    // ratio computed in DOUBLE: a native (h - hmin) * buckets on a
    // long-typed axis whose range exceeds Long.MaxValue/buckets (epoch
    // nanos) would wrap silently and break bucket monotonicity — the
    // prune's only correctness requirement. Double division with a
    // fixed positive denominator is monotonic non-decreasing in h, so a
    // rounding-blurred bucket EDGE can only move a point to an adjacent
    // bucket, never reorder two points — the guard stays sound at any
    // axis magnitude (precision loss degrades prune selectivity only).
    // feeds BOTH the per-bucket guard and the survivor filter: cut once
    // so the grouped candidate scan — the only data-sized stage — runs
    // once
    val bucketed = Cut(Attach(pts, bounds)
      .withColumn("bkt",
        when(col("hmax") === col("hmin"), lit(0)).otherwise(
          least(lit(buckets - 1),
            floor((col("h") - col("hmin")).cast("double") * buckets /
              (col("hmax") - col("hmin")).cast("double")).cast("int"))))
      .select(col("h"), col("l"), col("bkt")))
    // min-lo per bucket, then running min over STRICTLY higher buckets
    val perBucket = bucketed.groupBy(col("bkt")).agg(min(col("l")).as("bl"))
    val wb = Window.orderBy(col("bkt").desc).rowsBetween(Window.unboundedPreceding, -1)
    val guard = perBucket.withColumn("hb_min", min(col("bl")).over(wb))
      .select(col("bkt"), col("hb_min"))
    // PlanAudit sf0.1, 1 MB threshold: skyline_pareto 3 exch/0 SMJ with this hint, 5/1 without
    val survivors = bucketed.join(broadcast(guard), Seq("bkt"))
      .filter(col("hb_min").isNull || col("l") < col("hb_min"))
      .select(col("h"), col("l"))
    val w = Window.orderBy(col("h").desc).rowsBetween(Window.unboundedPreceding, -1)
    survivors.withColumn("run_min", min(col("l")).over(w))
      .filter(col("run_min").isNull || col("l") < col("run_min"))
      .select(col("h").as(hi), col("l").as(lo))
  }
}
