package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-store primitives: per-entity aggregates with recency
  * semantics, computed at the frame's own watermark so a backfill and
  * a live run produce the same rows for the same data (no wall-clock
  * anywhere — the [[graft.pipeline.StockPipeline]] literal-ingest-ts
  * contract applied to features).
  */
object Features {

  private val d12 = (c: Column) => c.cast("decimal(20,12)")

  /** Leave-one-out target encoding of a categorical key — the standard
    * high-cardinality categorical feature for tree/linear models:
    * each row's encoding is its GROUP's mean target EXCLUDING the row
    * itself, (Σ_g − x_i)/(n_g − 1), so the feature carries no direct
    * target leakage. Rows with a null target take the plain group mean
    * (they contributed nothing to exclude); singleton groups (nothing
    * left after exclusion) surface NULL, never a fabricated value.
    *
    * Exactness: targets quantize to DECIMAL(20,12) before the group
    * sum (order-free); the leave-one-out subtraction stays in decimal
    * (exact), then ONE double division per row, FLOAT at the surface.
    *
    * Plan: one map-side-combined groupBy to |groups| rows, joined back
    * (the planner broadcasts it from stats) — the input is scanned
    * twice, shuffled never. Null keys drop (no group to encode
    * against). */
  def targetEncodeLoo(df: DataFrame, key: String, target: String,
                      out: String = "te"): DataFrame = {
    require(!df.columns.contains(out),
      s"targetEncodeLoo appends column '$out' — rename the existing one")
    val t12 = d12(col(target))
    val g = df.filter(col(key).isNotNull)
      .groupBy(col(key))
      .agg(sum(t12).as("__s"), count(col(target)).as("__n"))
    df.filter(col(key).isNotNull)
      .join(g, key)
      .withColumn(out,
        when(col(target).isNull,
          when(col("__n") >= 1, col("__s").cast("double") / col("__n")))
          .otherwise(when(col("__n") >= 2,
            (col("__s") - t12).cast("double") / (col("__n") - 1)))
          .cast("float"))
      .drop("__s", "__n")
  }

  /** Exponentially time-decayed count and value-sum per key — THE
    * standard recency-weighted engagement feature (a click yesterday
    * is worth more than one last month): each event contributes
    * 0.5^((T − t) / halfLife), where T is the frame's max timestamp
    * (the watermark — a pure function of the data, so replays are
    * deterministic).
    *
    * Exactness: the weight is one fixed chain exp(−ln2 · Δt / h) —
    * Δt in integer nanos (≤ 2^53, exact as a double), ln 2 a shared
    * IEEE literal, exp the libm both engines already agree on for the
    * w3 exp∘sum∘ln contract — and every term quantizes to
    * DECIMAL(20,12) BEFORE its sum, so accumulation order cannot leak
    * into the result. Output weights/sums downcast to FLOAT.
    *
    * Plan: one broadcast one-row watermark, one map-side-combined
    * aggregation — scales as a plain groupBy. Null timestamps drop
    * (not an observation); null values contribute to the count but
    * not the sum, matching aggregate semantics. */
  def decayedCounts(df: DataFrame, key: String, tsNanos: String,
                    value: String, halfLifeNanos: Long): DataFrame = {
    require(halfLifeNanos > 0,
      s"halfLifeNanos must be positive, got $halfLifeNanos")
    val wm = df.filter(col(tsNanos).isNotNull)
      .agg(max(col(tsNanos)).as("__wm"))
    val w = exp(lit(-math.log(2.0)) *
      (col("__wm") - col(tsNanos)).cast("double") /
      lit(halfLifeNanos.toDouble))
    Attach(df.filter(col(tsNanos).isNotNull), wm)
      .withColumn("__w", w)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_events"),
        max(col(tsNanos)).as("last_ts"),
        sum(d12(col("__w"))).cast("double").cast("float")
          .as("decayed_count"),
        sum(d12(col("__w") * col(value))).cast("double").cast("float")
          .as("decayed_sum"))
  }

  /** The hashing trick (Weinberger 2009): bag-of-words folded into a
    * FIXED `dim`-bucket sparse vector — the vocabulary-free featurizer
    * for linear/tree models over unbounded token spaces (no vocab
    * build, no OOV, the feature space never grows with the corpus).
    * Signed variant: each token also draws a ±1 sign from an
    * independent hash bit, so colliding tokens cancel in expectation
    * instead of always inflating a bucket.
    *
    * Output: one row per (id, bucket) with the signed count `weight`
    * (exact BIGINT) — the sparse-row layout; buckets whose collisions
    * cancel to 0 are dropped (a sparse vector stores no zeros).
    *
    * Engine-portable by construction: bucket and sign both come from
    * md5 prefixes ([[Sampling.hashBucket]]'s contract — any engine
    * with md5 replays the identical vector), integer arithmetic only.
    * Pure map + one map-side-combinable groupBy on (id, bucket);
    * nothing driver-side, nothing vocabulary-sized anywhere. */
  def hashingTrick(df: DataFrame, id: String, text: String,
                   dim: Int): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val tok = df.select(col(id),
        explode(filter(TextAnalysis.tokens(col(text)),
          t => length(t) > 0)).as("__tok"))
    val sign = when(
      conv(substring(md5(concat(lit("featsign:"), col("__tok"))), 1, 1),
        16, 10).cast("long") % 2 === 0, 1L).otherwise(-1L)
    tok
      .withColumn("bucket", Sampling.hashBucket(col("__tok"), dim, "feat:"))
      .withColumn("__sign", sign)
      .groupBy(col(id), col("bucket"))
      .agg(sum(col("__sign")).as("weight"))
      .filter(col("weight") =!= 0L)
  }

  /** Empirical-Bayes rate shrinkage (beta-binomial, method-of-moments
    * prior): per-key success rates pulled toward the corpus prior in
    * proportion to how little evidence each key carries —
    * rate_shrunk = (x + α)/(n + α + β). THE fix for the
    * small-n-rates-dominate-every-ranking failure (a 1/1 key must not
    * outrank a 950/1000 key), fitted from the data itself: α, β solve
    * mean/variance of the OBSERVED per-key rates over keys with
    * n ≥ `minTrials` (m(1−m)/v − 1 times m and 1−m).
    *
    * Exactness: per-key (n, x) are exact integers; each observed rate
    * is one double division, quantized to DECIMAL(20,12) (rate and
    * rate²) before the prior's order-free sums; α/β and every shrunk
    * rate are then fixed double chains, FLOAT at the surface. A
    * degenerate prior (variance 0, or v ≥ m(1−m) so α or β would go
    * non-positive) surfaces NULL α/β and NULL shrunk rates — the
    * caller sees "no information to shrink with", never a fabricated
    * posterior.
    *
    * Plan: one map-side-combined groupBy to |keys| rows, a 1-row
    * broadcast prior, one join — nothing event-granular shuffles
    * twice. */
  def ebShrinkRates(df: DataFrame, key: String, success: Column,
                    minTrials: Long = 5L): DataFrame = {
    require(minTrials >= 1, s"minTrials must be >= 1, got $minTrials")
    val perKey = df.filter(col(key).isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(success.cast("long")).as("x"))
      .withColumn("rate_raw",
        col("x").cast("double") / col("n").cast("double"))
    val prior = perKey.filter(col("n") >= minTrials)
      .agg(
        count(lit(1)).as("__k"),
        sum(d12(col("rate_raw"))).as("__sr"),
        sum(d12(col("rate_raw") * col("rate_raw"))).as("__srr"))
      .select(
        (col("__sr").cast("double") / col("__k").cast("double")).as("__m"),
        // population variance of the observed rates: Σr²/k − (Σr/k)²
        (col("__srr").cast("double") / col("__k").cast("double") -
          (col("__sr").cast("double") / col("__k").cast("double")) *
          (col("__sr").cast("double") / col("__k").cast("double")))
          .as("__v"))
      .select(col("__m"), col("__v"),
        when(col("__v") > 0 && col("__v") < col("__m") * (lit(1.0) - col("__m")),
          col("__m") * (col("__m") * (lit(1.0) - col("__m")) / col("__v") -
            lit(1.0))).as("alpha"),
        when(col("__v") > 0 && col("__v") < col("__m") * (lit(1.0) - col("__m")),
          (lit(1.0) - col("__m")) *
            (col("__m") * (lit(1.0) - col("__m")) / col("__v") - lit(1.0)))
          .as("beta"))
    Attach(perKey, prior.select(col("alpha"), col("beta")))
      .select(col(key), col("n"), col("x"),
        col("rate_raw").cast("float").as("rate_raw"),
        col("alpha").cast("float").as("alpha"),
        col("beta").cast("float").as("beta"),
        ((col("x").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta")))
          .cast("float").as("rate_shrunk"))
  }
}
