package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket association-rule mining: which items co-occur in the
  * same basket more often than independence predicts — the classic
  * affinity query (reference's grouped-aggregation tier generalized to
  * pairwise structure; cf. Agrawal & Srikant 1994's Apriori and the
  * SON two-phase counting its distributed form descends from).
  *
  * Two support-pruned passes, never an unbounded pair explosion:
  *
  *  1. presence pass — (basket, item) DISTINCT (multiplicity inside a
  *     basket is irrelevant to co-occurrence), then per-item basket
  *     counts; items under `minSupport` leave the game here, the
  *     Apriori monotonicity step (a pair can never be more frequent
  *     than its rarer item);
  *  2. pair pass — the surviving rows self-join ON BASKET, `item_a <
  *     item_b` (each unordered pair once), count per pair, prune at
  *     `minPairSupport`.
  *
  * Scale shape: the presence frame feeds four consumers (item counts,
  * basket total, support prune, pair join), so [[pairRules]] is EAGER
  * — it materializes (basket, item) once ([[Cut]], the
  * [[Vocab.unigramLogProb]] contract) instead of re-deriving the
  * distinct from the raw fact per consumer. Pass 1 is one hash
  * exchange on item (map-side combined). The pair expansion is
  * Σ_b k_b² over FREQUENT items per
  * basket — bounded by the support prune for real catalogs, but a
  * degenerate mega-basket (one basket holding thousands of frequent
  * items) would still blow it up, so baskets with more than
  * `maxBasketItems` frequent items are EXCLUDED from pair generation.
  * The cap is part of the declared semantics (the oracle mirrors it)
  * and never silent: [[oversizeBaskets]] reports exactly what was
  * dropped, the same observer contract as the semantic-dedup cluster
  * cap. Item counts and the basket total are measured on the FULL
  * input — support/confidence/lift denominators don't shift when the
  * cap engages.
  *
  * Exactness: every count is an exact BIGINT; support, confidence and
  * lift are each ONE double expression over those integers, downcast
  * to FLOAT at the output — the [[graft.ops.Quality]] PMI replay
  * contract, no order-dependent float reduction anywhere.
  */
object Market {

  /** (item_a, item_b, n_a, n_b, n_ab, support, conf_a_to_b,
    * conf_b_to_a, lift) — one row per unordered frequent pair,
    * item_a < item_b. `lift > 1` ⇒ the pair co-occurs more often than
    * independent items would. */
  def pairRules(df: DataFrame, basket: String, item: String,
                minSupport: Long, minPairSupport: Long,
                maxBasketItems: Int = 10000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(minPairSupport >= 1,
      s"minPairSupport must be >= 1, got $minPairSupport")
    require(maxBasketItems >= 2,
      s"maxBasketItems must be >= 2, got $maxBasketItems")
    val (itemCounts, nBaskets, inPlay) =
      frequentPresence(df, basket, item, minSupport, maxBasketItems)
    val pairs = pairCounts(inPlay, minPairSupport)
    Attach(pairs
      .join(itemCounts.select(col("__item").as("item_a"),
        col("n_i").as("n_a")), "item_a")
      .join(itemCounts.select(col("__item").as("item_b"),
        col("n_i").as("n_b")), "item_b"), nBaskets)
      .select(col("item_a"), col("item_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_baskets").cast("double"))
          .cast("float").as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .cast("float").as("conf_a_to_b"),
        (col("n_ab").cast("double") / col("n_b").cast("double"))
          .cast("float").as("conf_b_to_a"),
        (col("n_ab").cast("double") * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .cast("float").as("lift"))
  }

  /** The cap's observer: baskets whose FREQUENT-item count exceeds
    * `maxBasketItems` (and were therefore excluded from
    * [[pairRules]]'s pair generation), with their sizes — run it
    * whenever the cap might have engaged; an empty frame proves the
    * rules are cap-free. */
  def oversizeBaskets(df: DataFrame, basket: String, item: String,
                      minSupport: Long, maxBasketItems: Int): DataFrame = {
    val bi = presence(df, basket, item)
    val itemCounts = bi.groupBy(col("__item")).agg(count(lit(1)).as("n_i"))
    bi.join(itemCounts.filter(col("n_i") >= minSupport), "__item")
      .groupBy(col("__basket").as(basket))
      .agg(count(lit(1)).as("n_frequent_items"))
      .filter(col("n_frequent_items") > maxBasketItems)
  }

  /** Apriori level 3: frequent TRIPLES, candidates generated ONLY from
    * frequent pairs (the monotonicity prune — a triple can never be
    * more frequent than its rarest sub-pair, so per basket the
    * expansion is |frequent pairs in basket| × k_b, never k_b³).
    * `minTripleSupport >= minPairSupport` is required: it makes every
    * surviving triple's three sub-pairs frequent BY monotonicity, so
    * the inner joins that fetch n_ab/n_ac/n_bc are provably lossless.
    *
    * Output: one row per unordered frequent triple (item_a < item_b <
    * item_c) with its pair counts, the three rule confidences
    * conf({x,y} → z) = n_abc / n_xy, and the independence lift
    * n_abc·N² / (n_a·n_b·n_c). Same exactness and cap-with-observer
    * contract as [[pairRules]] ([[oversizeBaskets]] is the shared
    * observer — the prune frames are identical). */
  def tripleRules(df: DataFrame, basket: String, item: String,
                  minSupport: Long, minPairSupport: Long,
                  minTripleSupport: Long,
                  maxBasketItems: Int = 10000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(minPairSupport >= 1,
      s"minPairSupport must be >= 1, got $minPairSupport")
    require(minTripleSupport >= minPairSupport,
      s"minTripleSupport ($minTripleSupport) must be >= minPairSupport " +
        s"($minPairSupport) so every surviving triple's sub-pairs are " +
        "frequent by monotonicity")
    require(maxBasketItems >= 3,
      s"maxBasketItems must be >= 3, got $maxBasketItems")
    val (itemCounts, nBaskets, inPlay) =
      frequentPresence(df, basket, item, minSupport, maxBasketItems)
    // four consumers (candidate gen + three count joins) — cut once
    val fp = Cut(pairCounts(inPlay, minPairSupport))
    val pb = inPlay.as("a").join(inPlay.as("b"),
        col("a.__basket") === col("b.__basket") &&
          col("a.__item") < col("b.__item"))
      .select(col("a.__basket").as("__basket"),
        col("a.__item").as("item_a"), col("b.__item").as("item_b"))
      .join(fp.select(col("item_a"), col("item_b")), Seq("item_a", "item_b"))
    val tri = pb
      .join(inPlay.select(col("__basket"), col("__item").as("item_c")),
        Seq("__basket"))
      .filter(col("item_c") > col("item_b"))
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= minTripleSupport)
    val dbl = (c: Column) => c.cast("double")
    Attach(tri
      .join(fp.select(col("item_a"), col("item_b"), col("n_ab")),
        Seq("item_a", "item_b"))
      .join(fp.select(col("item_a"), col("item_b").as("item_c"),
        col("n_ab").as("n_ac")), Seq("item_a", "item_c"))
      .join(fp.select(col("item_a").as("item_b"), col("item_b").as("item_c"),
        col("n_ab").as("n_bc")), Seq("item_b", "item_c"))
      .join(itemCounts.select(col("__item").as("item_a"),
        col("n_i").as("n_a")), "item_a")
      .join(itemCounts.select(col("__item").as("item_b"),
        col("n_i").as("n_b")), "item_b")
      .join(itemCounts.select(col("__item").as("item_c"),
        col("n_i").as("n_c")), "item_c"), nBaskets)
      .select(col("item_a"), col("item_b"), col("item_c"),
        col("n_ab"), col("n_ac"), col("n_bc"), col("n_abc"),
        (dbl(col("n_abc")) / dbl(col("n_baskets")))
          .cast("float").as("support"),
        (dbl(col("n_abc")) / dbl(col("n_ab")))
          .cast("float").as("conf_ab_to_c"),
        (dbl(col("n_abc")) / dbl(col("n_ac")))
          .cast("float").as("conf_ac_to_b"),
        (dbl(col("n_abc")) / dbl(col("n_bc")))
          .cast("float").as("conf_bc_to_a"),
        (dbl(col("n_abc")) * dbl(col("n_baskets")) * dbl(col("n_baskets")) /
          (dbl(col("n_a")) * dbl(col("n_b")) * dbl(col("n_c"))))
          .cast("float").as("lift"))
  }

  /** The shared Apriori prelude: per-item basket counts, the basket
    * total, and the support-pruned + cap-filtered presence frame —
    * the last MATERIALIZED here, once (the
    * [[Recommend.presenceAndSims]] discipline): `inPlay` feeds the
    * pair self-join twice and [[tripleRules]] five times, and every
    * scan would otherwise re-run both prune joins from `bi`
    * (measured: tripleRules 3.95→3.02 s min at sf0.1 from this cut
    * alone). `itemCounts`/`nBaskets` stay lazy deliberately — they
    * are one groupBy over the already-checkpointed `bi` per consumer,
    * and an eager cut of each added a job barrier that cost more than
    * the recomputation it saved (measured, same A/B). */
  private[ops] def frequentPresence(df: DataFrame, basket: String, item: String,
                               minSupport: Long, maxBasketItems: Int)
      : (DataFrame, DataFrame, DataFrame) =
    frequentPresenceOn(Cut(presence(df, basket, item)),
      minSupport, maxBasketItems)

  /** [[frequentPresence]] over an ALREADY-MATERIALIZED presence frame
    * (columns `__basket`/`__item`, distinct, checkpointed) — the entry
    * for callers that hold the presence cut already
    * ([[Recommend.presenceAndSims]]): re-running distinct+checkpoint on
    * a frame that IS the distinct would pay one full shuffle and one
    * job barrier for identity output. */
  private[ops] def frequentPresenceOn(bi: DataFrame, minSupport: Long,
                                      maxBasketItems: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val itemCounts = bi.groupBy(col("__item")).agg(count(lit(1)).as("n_i"))
    val nBaskets = bi.select(col("__basket")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val kept = bi.join(itemCounts.filter(col("n_i") >= minSupport), "__item")
    val sized = kept.groupBy(col("__basket"))
      .agg(count(lit(1)).as("__k"))
      .filter(col("__k") <= maxBasketItems)
      .select(col("__basket"))
    (itemCounts, nBaskets, Cut(kept.join(sized, "__basket")))
  }

  /** Per-basket unordered pair expansion + support prune: one row per
    * frequent pair (item_a < item_b, n_ab). */
  private[ops] def pairCounts(inPlay: DataFrame, minPairSupport: Long): DataFrame =
    inPlay.as("a").join(inPlay.as("b"),
        col("a.__basket") === col("b.__basket") &&
          col("a.__item") < col("b.__item"))
      .groupBy(col("a.__item").as("item_a"), col("b.__item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairSupport)

  private[graft] def presence(df: DataFrame, basket: String, item: String) =
    df.filter(col(basket).isNotNull && col(item).isNotNull)
      .select(col(basket).as("__basket"), col(item).as("__item"))
      .distinct()
}
