package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys at cluster scale.
  *
  * At 100 TB a handful of heavy keys (one boilerplate document hash, one
  * mega-customer) can pin a single reducer while the rest of the cluster
  * idles. AQE's skew-join handles the sort-merge case at runtime; these
  * utilities cover the two patterns AQE does not:
  *
  *  - [[saltedAggregate]]: two-phase aggregation — partial agg on
  *    (key, salt), final agg on key. The hot key's rows spread over
  *    `salts` reducers in phase 1; phase 2 combines `salts` partial rows
  *    per key. Works for any algebraic aggregate (sum/count/min/max —
  *    pass the re-combine step).
  *  - [[saltedJoin]]: replicate the SMALL side `salts` times (one copy
  *    per salt value), salt the big side randomly-but-deterministically
  *    (hash of a unique column, not `rand()` — replayable), join on
  *    (key, salt). The hot key's big-side rows land on `salts` different
  *    reducers, each holding its own small-side copy.
  *
  * Salting is deterministic (hash-based), so re-runs and retried tasks
  * produce identical partitioning — `rand()`-based salting breaks
  * task-retry correctness (a retried task would re-salt differently).
  */
object Skew {

  /** Deterministic salt in [0, salts) from an arbitrary discriminator
    * column (a unique id, or the row's natural ordering key). */
  def salt(discriminator: Column, salts: Int): Column =
    pmod(xxhash64(discriminator), lit(salts.toLong)).cast("int")

  /** Round-robin rebalance to the cluster's parallelism when the
    * frame's underlying scan has fewer FILE SPLITS than cores — one
    * small parquet file is one task, so a CPU-heavy map or
    * broadcast-join probe stage downstream would run single-threaded
    * however many cores exist (the er_fuzzy_pairs lesson: a BHJ whose
    * probe side is a one-file scan evaluated 15M join-condition
    * levenshteins in ONE task). The file count proxies split count
    * WITHOUT touching `.rdd` (which would instantiate a physical plan
    * outside AQE); the explicit partition number is respected by AQE
    * (only sizeless `repartition()` is coalescible). A no-op whenever
    * splits ≥ cores — the 100 TB case by construction, where the extra
    * shuffle would be pure waste.
    *
    * FILE-LESS frames (in-memory, checkpointed, cached) report zero
    * `inputFiles`, and their true partitioning cannot be inspected
    * without instantiating the physical plan, so they are ASSUMED
    * parallel and returned unchanged: a large checkpointed batch or
    * post-shuffle intermediate is already spread across the cluster,
    * and a mandatory repartition there is pure waste. A genuinely
    * narrow file-less frame (a driver-built Seq) must be repartitioned
    * by its caller. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files == 0 || files >= target) df else df.repartition(target)
  }

  /** Two-phase (salted) aggregation.
    *
    * @param partialAggs aggregates for phase 1, keyed (keys..., salt)
    * @param finalAggs   aggregates re-combining phase-1 outputs, keyed (keys)
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], discriminator: String,
                      salts: Int,
                      partialAggs: Seq[Column], finalAggs: Seq[Column]): DataFrame =
    df.withColumn("__salt", salt(col(discriminator), salts))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)

  /** Salted equi-join of a skewed big side against a small side.
    * Inner or left-outer semantics preserved via `joinType`. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 bigDiscriminator: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    val saltedBig = big.withColumn("__salt", salt(col(bigDiscriminator), salts))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicatedSmall, keys :+ "__salt", joinType).drop("__salt")
  }
}
