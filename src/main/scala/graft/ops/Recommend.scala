package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over implicit feedback — the
  * classic neighborhood recommender (Sarwar 2001; Amazon's item-to-item
  * shape): items are similar when the same users touch both, and a
  * user's recommendations are the items most similar to what they
  * already have, excluding what they already have.
  *
  * Shares [[Market]]'s Apriori machinery verbatim — a user here IS a
  * basket — so the co-touch counting inherits the support prune, the
  * `maxUserItems` mega-user cap, and the [[Market.oversizeBaskets]]
  * observer (run it with the same parameters to see exactly which
  * users were excluded from pair generation). At catalog scale the
  * per-user pair expansion is the standard hazard; the cap is the
  * declared, observable bound.
  *
  * Exactness: co-touch counts are exact BIGINTs; cosine = n_ij /
  * √(n_i·n_j) is ONE double chain per pair; recommendation scores sum
  * per-path cosines QUANTIZED to DECIMAL(20,12) (order-free), and the
  * per-user ranking orders by that exact decimal (never a raw double)
  * with the item id as tie-break — total order, engine-portable.
  */
object Recommend {

  /** One row per unordered item pair (item_a < item_b) with co-touch
    * count and cosine similarity over binary user-presence vectors:
    * cos(i,j) = n_ij / √(n_i·n_j). Support-pruned at `minUsers` per
    * item and `minPairUsers` per pair. */
  def itemSims(df: DataFrame, user: String, item: String,
               minUsers: Long, minPairUsers: Long,
               maxUserItems: Int = 10000): DataFrame = {
    require(minUsers >= 1, s"minUsers must be >= 1, got $minUsers")
    require(minPairUsers >= 1,
      s"minPairUsers must be >= 1, got $minPairUsers")
    val (itemCounts, _, inPlay) =
      Market.frequentPresence(df, user, item, minUsers, maxUserItems)
    simsFromPrelude(itemCounts, inPlay, minPairUsers)
  }

  /** [[itemSims]] over an ALREADY-MATERIALIZED presence frame (columns
    * `__basket`/`__item`, distinct, checkpointed — the
    * [[presenceAndSims]] cut): skips [[Market.presence]]'s
    * distinct+checkpoint, which on such input is one full shuffle plus
    * one job barrier for identity output. Same rows as
    * `itemSims(pres, "__basket", "__item", ...)`. */
  private def itemSimsOn(pres: DataFrame, minUsers: Long, minPairUsers: Long,
                         maxUserItems: Int): DataFrame = {
    require(minUsers >= 1, s"minUsers must be >= 1, got $minUsers")
    require(minPairUsers >= 1,
      s"minPairUsers must be >= 1, got $minPairUsers")
    val (itemCounts, _, inPlay) =
      Market.frequentPresenceOn(pres, minUsers, maxUserItems)
    simsFromPrelude(itemCounts, inPlay, minPairUsers)
  }

  /** Shared closing of [[itemSims]]/[[itemSimsOn]]: pair counts over
    * the pruned presence, then the two n_i joins and the cosine. */
  private def simsFromPrelude(itemCounts: DataFrame, inPlay: DataFrame,
                              minPairUsers: Long): DataFrame =
    Market.pairCounts(inPlay, minPairUsers)
      .join(itemCounts.select(col("__item").as("item_a"),
        col("n_i").as("n_a")), "item_a")
      .join(itemCounts.select(col("__item").as("item_b"),
        col("n_i").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        (col("n_ab").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")))
          .as("cosine"))

  /** The directional (i → j) expansion of an unordered sim frame:
    * every pair contributes both orientations. 2·|pairs| rows. */
  private def directional(sims: DataFrame): DataFrame =
    sims.select(col("item_a").as("__i"), col("item_b").as("__j"),
        col("cosine"))
      .unionByName(sims.select(col("item_b").as("__i"),
        col("item_a").as("__j"), col("cosine")))

  /** The truncation observer for [[recommendTopN]]'s
    * `maxSimilarPerItem` knob — same contract as
    * [[Market.oversizeBaskets]]: run it with the SAME sims frame and M
    * to see exactly what the cut discards. One row per item that LOST
    * neighbors: (item, n_kept = M, n_dropped, dropped_mass = the
    * decimal-quantized cosine mass removed from that item's outgoing
    * edges). Empty output = the truncation was a no-op at this support
    * level. Per-item window over the catalog-sized sim frame — never
    * touches the fact table.
    *
    * The input is localCheckpointed HERE because [[directional]]
    * intrinsically scans it twice (one union branch per orientation):
    * a caller passing a raw [[itemSims]] lineage would otherwise pay
    * the whole Apriori chain twice for one observer read. Idempotent
    * (cheap) on an already-checkpointed frame. */
  def truncationDropped(sims: DataFrame, maxSimilarPerItem: Int): DataFrame = {
    require(maxSimilarPerItem >= 1,
      s"maxSimilarPerItem must be >= 1, got $maxSimilarPerItem")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__i"))
      .orderBy(col("cosine").desc, col("__j"))
    directional(sims.localCheckpoint())
      .withColumn("__sr", row_number().over(w))
      .filter(col("__sr") > maxSimilarPerItem)
      .groupBy(col("__i").as("item"))
      .agg(lit(maxSimilarPerItem.toLong).as("n_kept"),
        count(lit(1)).as("n_dropped"),
        sum(col("cosine").cast("decimal(20,12)")).as("dropped_mass"))
  }

  /** Top-`n` recommendations per user: score(u, j) = Σ over the user's
    * items i of cos(i, j), for unseen j reachable through at least one
    * similar item. Output: (user, item, score FLOAT, n_paths, rank).
    *
    * `maxSimilarPerItem` (M): when set, each item's outgoing sim edges
    * are truncated to its M strongest (cosine DESC, neighbor-id
    * tie-break — the cosine is the one double chain both engines
    * replay, so the cut is engine-portable) BEFORE the candidate join
    * — the production item-CF shape: the candidate expansion drops
    * from Σ_u k_u·deg(i) to ≤ Σ_u k_u·M, turning an unbounded
    * popular-item degree into a declared constant. The discarded mass
    * is OBSERVABLE via [[truncationDropped]], and scores over the
    * truncated graph are exact for the graph actually used (approx
    * only vs the full graph — audit with a recall query against the
    * untruncated run, the sim_recall_eval pattern).
    *
    * Plan: the directional sim frame is 2·|frequent pairs| rows
    * (catalog-sized, usually broadcastable — the planner decides from
    * stats; the truncation window partitions BY ITEM over that frame,
    * parallel); candidates are Σ_u k_u·deg(i) rows, reduced map-side
    * by the score aggregation; ranking is a WINDOW PARTITIONED BY USER
    * — parallel, never a global sort. */
  def recommendTopN(df: DataFrame, user: String, item: String, n: Int,
                    minUsers: Long, minPairUsers: Long,
                    maxUserItems: Int = 10000,
                    maxSimilarPerItem: Option[Int] = None): DataFrame = {
    val (pres, sims) = presenceAndSims(df, user, item, minUsers,
      minPairUsers, maxUserItems)
    scoreTopN(pres, sims, user, item, n, maxSimilarPerItem)
  }

  /** The shared CF prelude, materialized ONCE: the (user, item)
    * presence frame (serves both the similarity build — via
    * [[itemSimsOn]], which consumes it as-is instead of re-running
    * distinct+checkpoint on it — and the seen-set) and the item-item
    * sims frame, each localCheckpointed. Public so audits that score
    * the SAME graph more than once (the full-vs-truncated recall
    * audit, rec_topn_recall) pay the Apriori chain — the dominant cost
    * — exactly once and feed every [[scoreTopN]] pass from the cut. */
  def presenceAndSims(df: DataFrame, user: String, item: String,
                      minUsers: Long, minPairUsers: Long,
                      maxUserItems: Int = 10000): (DataFrame, DataFrame) = {
    val pres = Market.presence(df, user, item).localCheckpoint()
    val sims = itemSimsOn(pres, minUsers, minPairUsers, maxUserItems)
      .localCheckpoint() // feeds both join orientations
    (pres, sims)
  }

  /** The scoring leg of [[recommendTopN]] over a prepared
    * ([[presenceAndSims]]) pair — same semantics, no rebuild: edge
    * truncation (when M is set), candidate join, seen-set anti-join,
    * decimal-quantized score sum, per-user ranking. */
  def scoreTopN(pres: DataFrame, sims: DataFrame, user: String, item: String,
                n: Int, maxSimilarPerItem: Option[Int] = None): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxSimilarPerItem.forall(_ >= 1),
      s"maxSimilarPerItem must be >= 1, got $maxSimilarPerItem")
    val dirAll = directional(sims)
    val dir = maxSimilarPerItem match {
      case Some(m) =>
        val wi = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__i"))
          .orderBy(col("cosine").desc, col("__j"))
        dirAll.withColumn("__sr", row_number().over(wi))
          .filter(col("__sr") <= m).drop("__sr")
      case None => dirAll
    }
    // seen-set anti-join BEFORE the aggregation: on a dense catalog
    // most candidate rows point at already-seen items (exclusion and
    // summation commute, but aggregating first was MEASURED 2× slower —
    // ScoreTime r19: the early cut does real work). The seen side is
    // HASH-built, not sort-merged: the streamed side is the candidate
    // expansion (|pres| × sim fan-out — strictly the larger side), and
    // an SMJ pays a full sort of it, measured +3 s at sf0.1 (ScoreTime
    // interleaved A/C: med 7.0 → 4.1 s). The build side is the DISTINCT
    // presence frame — one row per (user, item), |pres|/R rows per
    // reducer with no per-key skew, so the per-partition hash table is
    // bounded the same way the SMJ sort buffer would be, and AQE's
    // skew-split still applies to shuffled-hash joins. Trade-off: a
    // shuffled-hash build side cannot spill to disk, so a reducer whose
    // presence slice outgrows executor memory fails where an SMJ would
    // spill; the bound above assumes R grows with the data.
    val scored = pres
      .join(dir, col("__item") === col("__i"))
      .join(pres.select(col("__basket"), col("__item").as("__j"))
          .hint("shuffle_hash"),
        Seq("__basket", "__j"), "left_anti")
      .groupBy(col("__basket"), col("__j"))
      .agg(sum(col("cosine").cast("decimal(20,12)")).as("__score"),
        count(lit(1)).as("n_paths"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__basket"))
      .orderBy(col("__score").desc, col("__j"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("__basket").as(user), col("__j").as(item),
        col("__score").cast("double").cast("float").as("score"),
        col("n_paths"), col("rank"))
  }
}
