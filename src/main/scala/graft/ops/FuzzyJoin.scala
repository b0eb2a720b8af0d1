package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocked fuzzy self-join for entity resolution: find id pairs whose
  * string column is within `maxDist` Levenshtein edits — the classic
  * record-linkage primitive (name/address dedup), bounded for scale by
  * BLOCKING, the standard ER technique: only records sharing a block
  * key are compared, so the quadratic edit-distance work is confined to
  * block-local pairs instead of the full cross product.
  *
  * Recall is governed by the caller's `block` expression (a pair whose
  * members land in different blocks is never compared — run several
  * passes with different blocking keys for higher recall, exactly like
  * LSH banding in [[Dedup]]). `maxBlock` caps pathological blocks (a
  * degenerate key covering half the table would otherwise reintroduce
  * the quadratic blowup); dropped blocks mean dropped recall, never
  * wrong pairs.
  *
  * Plan shape: one window count on the block key (same exchange the
  * pair join needs), a block-local equi-join — never a cartesian — and
  * the codegen'd `levenshtein` with the THRESHOLD argument, which
  * abandons a row's DP loop as soon as the running distance exceeds
  * `maxDist` (O(maxDist·len) per pair, not O(len²)).
  */
object FuzzyJoin {

  /** (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist; `block` is
    * evaluated against `df`'s columns to form the blocking key.
    *
    * `salts` parallelizes the HOT-BLOCK regime: when distinct blocks
    * number fewer than the cluster's cores (15 blocks on 32 cores — the
    * sf0.1 customer shape), the pair join runs on at most |blocks|
    * tasks and the quadratic per-block work serializes. Salting via
    * [[Skew.saltedJoin]] splits each block's pair generation across
    * `salts` tasks at the cost of replicating the b-side `salts`× —
    * pairs still meet exactly once (at the a-row's salt), so the output
    * is identical. Leave at 1 (off) when blocks are plentiful: the
    * 100 TB name-prefix regime has millions of blocks and natural
    * parallelism, and there the replication would be pure shuffle
    * waste.
    *
    * Parallelism caveat: [[Skew.spread]] ASSUMES file-LESS frames
    * (in-memory, `localCheckpoint`ed, cached) are already parallel and
    * skips the rebalance. A genuinely NARROW file-less `df` — a
    * driver-built frame, or a checkpoint taken at 1 partition — will
    * run the quadratic edit-distance stage on that few cores (the
    * documented 12 s → 1.3 s pathology in reverse); `repartition` such
    * a frame before calling, or the spread protection cannot see it. */
  def blockedLevenshtein(df: DataFrame, id: String, str: String,
                         block: Column, maxDist: Int,
                         maxBlock: Int = 1000, salts: Int = 1): DataFrame = {
    // the cap trades recall for a bound — measure the trade with
    // [[droppedBlocks]] alongside any production run, never assume it
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be at least 2, got $maxBlock")
    require(salts >= 1, s"salts must be at least 1, got $salts")
    val blocked = df.select(col(id), col(str), block.as("__blk"))
      .filter(col("__blk").isNotNull)
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__blk"))))
      .filter(col("__bn") <= maxBlock)
      .drop("__bn")
    // spread the probe/stream side: when the small side broadcasts, the
    // edit-distance work runs in the JOIN CONDITION on the stream side's
    // tasks — a one-file scan would serialize all of it on one core
    // (measured 12 s → 1.3 s at sf0.1; see Skew.spread)
    val a = Skew.spread(
      blocked.select(col("__blk"), col(id).as("id_a"), col(str).as("__sa")))
    val b = blocked.select(col("__blk"), col(id).as("id_b"), col(str).as("__sb"))
    val paired =
      if (salts <= 1) a.join(b, Seq("__blk"))
      else Skew.saltedJoin(a, b, Seq("__blk"),
        bigDiscriminator = "id_a", salts = salts)
    paired
      .filter(col("id_a") < col("id_b"))
      // 3-arg levenshtein early-abandons past the threshold and returns
      // -1 there; the filter keeps only genuine ≤ maxDist distances
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** The blocks [[blockedLevenshtein]]'s `maxBlock` cap EXCLUDES, as
    * (block, n_members) — the no-silent-caps companion: a capped run
    * should always surface (count, log, alert on) this frame so dropped
    * recall is a measured quantity, not an assumption. Same single
    * aggregation exchange the pair join's window count needs; empty
    * output proves the cap never fired on this input. */
  def droppedBlocks(df: DataFrame, block: Column,
                    maxBlock: Int = 1000): DataFrame =
    df.select(block.as("block"))
      .filter(col("block").isNotNull)
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBlock)
}
