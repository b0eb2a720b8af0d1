package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Anomaly, Attach, Cdc, Cut, CrossSeries, Eval, Experiment, Features, FuzzyJoin, Indicators, Intervals, Market, Markov, Moments, Percentiles, Quality, Ranking, Recommend, Reconcile, Resample, Skyline}

/** OLAP / warehouse-analytics extensions: grouping sets, event-path
  * transitions, exact nearest-rank quantiles, batch CDC apply, and
  * binned distributions. Same determinism conventions as
  * [[RelationalQueries]] (DECIMAL sums, FLOAT ratio surfacing, BIGINT
  * computed integers, total ORDER BY, NULLS FIRST pinned wherever a
  * rolled-up null can reach a sort key).
  */
object AnalyticsQueries {

  import QuerySql.d2

  /** (customer, brand) implicit-feedback frame shared by the two
    * collaborative-filtering queries: lineitem × orders for the
    * customer, broadcast part dim for the 25-value brand. */
  private def custBrand(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      // PlanAudit sf0.01: basket_oversize_observer 6 exch/4 bcast/1 SMJ, 10/0/0 without
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("user_id"), col("p_brand").as("brand"))

  /** The CF oracles' shared prelude: (customer, brand) presence,
    * per-brand user counts, the support prune (≥50 users), the
    * mega-user cap (10000), and co-touch pair counts (≥20 users) —
    * kept in one string so the two queries' oracles cannot drift. */
  private val custBrandCtes =
    """ub AS (SELECT DISTINCT o.o_custkey AS u, p.p_brand AS i
      |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |     JOIN part p ON p.p_partkey = l.l_partkey),
      | ic AS (SELECT i, count(*) AS n_i FROM ub GROUP BY 1),
      | keep AS (SELECT ub.u, ub.i FROM ub JOIN ic ON ic.i = ub.i
      |   WHERE ic.n_i >= 50),
      | sized AS (SELECT u FROM keep GROUP BY u HAVING count(*) <= 10000),
      | ip AS MATERIALIZED (SELECT k.u, k.i FROM keep k
      |   JOIN sized s ON s.u = k.u),
      | pr AS MATERIALIZED (SELECT a.i AS item_a, c.i AS item_b,
      |     count(*) AS n_ab
      |   FROM ip a JOIN ip c ON a.u = c.u AND a.i < c.i
      |   GROUP BY 1, 2 HAVING count(*) >= 20)""".stripMargin

  /** Orders-as-changelog projection shared by the batch `cdc_apply` and
    * the streaming `stream_cdc_live` queries — one definition so the two
    * cannot drift apart (they are claimed to be equivalent). */
  private[queries] def ordersChangelog(orders: DataFrame): DataFrame =
    orders.select(
      col("o_custkey").as("c_custkey"),
      col("o_orderdate"), col("o_orderkey"),
      when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
      col("o_totalprice").as("bal"))

  /** The matching DuckDB oracle, shared for the same reason. */
  private[queries] val cdcSnapshotOracle: String =
    """WITH ch AS (SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey,
      |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
      |         o_totalprice AS bal,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders),
      | latest AS (SELECT c_custkey, op, bal FROM ch WHERE rn = 1)
      |SELECT c.c_custkey, c.c_acctbal AS bal
      |FROM customer c LEFT JOIN latest l USING (c_custkey)
      |WHERE l.c_custkey IS NULL
      |UNION ALL
      |SELECT c_custkey, bal FROM latest WHERE op = 'U'
      |ORDER BY c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── ROLLUP grouping sets: per-(flag, status), per-flag subtotals and
    // the grand total in ONE pass — Spark plans a single Expand +
    // aggregate, not three scans. grouping_id() disambiguates levels.
    "agg_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ── CUBE: all four grouping sets of (year, priority) in one pass.
    "agg_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority"))
        .cube(col("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"),
          col("o_year").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ── Event-transition matrix: count of (type → next type) steps per
    // user timeline — the Markov-chain view of event paths. One exchange
    // on user_id; the pair count reuses nothing heavier than a lead.
    "event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_steps"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // ── Stationary distribution of the event-type Markov chain — where
    // users spend their time in the long run, given the observed hop
    // counts. 8 quantized power iterations from uniform (the PageRank
    // replay contract); sink states fail loudly instead of leaking mass.
    "event_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_steps"))
      Markov.stationary(trans, cur = "event_type", nxt = "next_type",
          n = "n_steps", iters = 8)
        .select(col("state").as("event_type"), col("prob"))
        .orderBy(col("event_type"))
    }),

    // ── Exact nearest-rank quantiles of value per event type: rank
    // selection, no interpolation — bit-identical in any engine.
    "agg_percentiles" -> ((s, dir) =>
      Percentiles.nearestRank(
          Tables.events(s, dir).select(col("event_type"), col("value")),
          keys = Seq("event_type"), value = "value",
          ps = Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("p"))),

    // ── Volume-weighted price quantiles per return flag: each price
    // counts its quantity, not its row — the weighted nearest-rank
    // pick (weightedMedian generalized to a p-list). Exact int64
    // cumulative over the (flag, price) ledger, no per-group sort.
    "agg_weighted_quantiles" -> ((s, dir) =>
      Percentiles.weightedNearestRank(
          Tables.lineitem(s, dir).select(col("l_returnflag"),
            col("l_extendedprice"), col("l_quantity")),
          keys = Seq("l_returnflag"), value = "l_extendedprice",
          weight = "l_quantity", ps = Seq(0.5, 0.9))
        .orderBy(col("l_returnflag"), col("p"))),

    // ── Batch CDC apply: orders act as a balance changelog over the
    // customer base — last change per key wins, 'F' status deletes,
    // open/pending statuses upsert o_totalprice as the new balance.
    "cdc_apply" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))
      Cdc.apply(base, ordersChangelog(Tables.orders(s, dir)),
          key = "c_custkey",
          seqCol = "o_orderdate", tieCol = "o_orderkey", opCol = "op")
        .orderBy(col("c_custkey"))
    }),

    // ── Binned value distribution: fixed-width integer bins — exact
    // counts, zero shuffle beyond the one aggregation exchange.
    "value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(floor(col("value") / 10.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(d2(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("bin"))),

    // ── Entity-resolution fuzzy pairs: customer names within 1 edit,
    // blocked on the first 6 digits of the customer number so the
    // comparisons stay block-local. FULL customer input — the operator's
    // maxBlock cap does the bounding (no demo filter), and
    // er_dropped_blocks below MEASURES what the cap excludes instead of
    // assuming it (nothing at the default 1000 on any test sf).
    "er_fuzzy_pairs" -> ((s, dir) =>
      FuzzyJoin.blockedLevenshtein(
          Tables.customer(s, dir),
          id = "c_custkey", str = "c_name",
          block = substring(col("c_name"), 10, 6), maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))),

    // ── The no-silent-caps observer for er_fuzzy_pairs: blocks a
    // maxBlock cap would exclude, with their sizes. Run at maxBlock=500
    // (where the testdata's ~1000-member blocks actually trip it) so
    // the observer itself is exercised on real content; the main
    // query's 1000-cap drop set is empty at every test sf.
    "er_dropped_blocks" -> ((s, dir) =>
      FuzzyJoin.droppedBlocks(
          Tables.customer(s, dir),
          block = substring(col("c_name"), 10, 6), maxBlock = 500)
        .orderBy(col("block"))),

    // ── Indicator tier (see ops/Indicators): EWMA with exact decimal
    // weights, Bollinger bands, Cutler's RSI — per event type over the
    // total (ts, event_id) order, null values excluded up front.
    "w_ewma" -> ((s, dir) =>
      Indicators.ewma(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "event_type", order = Seq("ts", "event_id"),
          value = "value", n = 8)
        .select(col("event_type"), col("event_id"), col("ewma_cents"))
        .orderBy(col("event_type"), col("event_id"))),

    "w_bollinger" -> ((s, dir) =>
      Indicators.bollinger(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "event_type", order = Seq("ts", "event_id"),
          value = "value", n = 20, k = 2.0)
        .select(col("event_type"), col("event_id"),
          col("bb_mid"), col("bb_upper"), col("bb_lower"))
        .orderBy(col("event_type"), col("event_id"))),

    "w_rsi" -> ((s, dir) =>
      Indicators.rsi(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "event_type", order = Seq("ts", "event_id"),
          value = "value", n = 14)
        .select(col("event_type"), col("event_id"), col("rsi"))
        .orderBy(col("event_type"), col("event_id"))),

    // Wilder-smoothing RSI (the recursive industry-default form) per
    // user — the recursion is an IEEE-double chain DuckDB replays
    // bit-for-bit with a recursive CTE, so even the "not finitely
    // decimal" variant sits on the hash-equality signal
    "w_rsi_wilder" -> ((s, dir) =>
      Indicators.rsiWilder(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "user_id", order = Seq("ts", "event_id"),
          value = "value", n = 14)
        .select(col("user_id"), col("event_id"), col("rsi_wilder"))
        .orderBy(col("user_id"), col("event_id"))),

    // recursive infinite-history EMA, α = 1/8 (exact in binary, so 1−α
    // is too) — same recursive-CTE replay argument
    "w_ema_recursive" -> ((s, dir) =>
      Indicators.emaRecursive(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "user_id", order = Seq("ts", "event_id"),
          value = "value", alpha = 0.125)
        .select(col("user_id"), col("event_id"), col("ema_rec_cents"))
        .orderBy(col("user_id"), col("event_id"))),

    // MACD momentum crossover (12/26/9): three recursive-EMA folds over
    // one key exchange; α = 2/(n+1) doubles computed by one IEEE
    // division in both engines, recursion replayed row-for-row by the
    // oracle's recursive CTEs.
    "w_macd" -> ((s, dir) =>
      Indicators.macd(
          Tables.events(s, dir).filter(col("value").isNotNull),
          key = "user_id", order = Seq("ts", "event_id"),
          value = "value")
        .select(col("user_id"), col("event_id"),
          col("macd"), col("signal"), col("histogram"))
        .orderBy(col("user_id"), col("event_id"))),

    // ── Interval coalescing: each order opens a 30-day active window;
    // overlapping windows per customer merge into coverage islands
    // (running-max-of-ends, one key-partitioned window + one agg).
    "interval_coalesce" -> ((s, dir) => {
      // NTZ→timestamp is identity under the UTC session, then →long is
      // epoch seconds — DuckDB's epoch() on the same naive value
      val sec = col("o_orderdate").cast("timestamp").cast("long")
      val iv = Tables.orders(s, dir).select(col("o_custkey"),
        sec.as("active_from"),
        (sec + 30L * 86400L).as("active_to"))
      Intervals.coalesce(iv, keys = Seq("o_custkey"),
          startCol = "active_from", endCol = "active_to")
        .orderBy(col("o_custkey"), col("start"))
    }),

    // ── Peak concurrency per week: how many 30-day order windows were
    // open at once, at worst — sweep-line over collapsed ±1 boundary
    // deltas, half-open (a window closing exactly when another opens
    // never double-counts), the running sum over distinct boundary
    // instants only.
    "interval_peak_concurrency" -> ((s, dir) => {
      val sec = col("o_orderdate").cast("timestamp").cast("long")
      val iv = Tables.orders(s, dir).select(
        sec.as("active_from"), (sec + 30L * 86400L).as("active_to"))
      Intervals.peakConcurrency(iv, startCol = "active_from",
          endCol = "active_to", bucket = 7L * 86400L)
        .orderBy(col("bucket"))
    }),

    // ── Market-basket association rules: which part BRANDS co-occur in
    // the same order more often than independence predicts. Baskets are
    // orders, items are brands (a broadcast dim join collapses partkey
    // to its 25-value brand before any pair work), Apriori support
    // pruning before the per-basket pair expansion — support /
    // confidence / lift each one double op over exact counts.
    "basket_brand_rules" -> ((s, dir) => {
      val baskets = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("brand"))
      Market.pairRules(baskets, basket = "basket", item = "brand",
          minSupport = 50L, minPairSupport = 5L)
        .orderBy(col("item_a"), col("item_b"))
    }),

    // ── Apriori level 3: frequent brand TRIPLES, candidates generated
    // only from the frequent pairs (monotonicity prune — never a k³
    // per-basket expansion); minTripleSupport ≥ minPairSupport makes
    // the sub-pair count joins provably lossless. Three rule
    // confidences conf({x,y}→z) plus the independence lift over exact
    // integer counts.
    "basket_brand_triples" -> ((s, dir) => {
      val baskets = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("brand"))
      Market.tripleRules(baskets, basket = "basket", item = "brand",
          minSupport = 50L, minPairSupport = 5L, minTripleSupport = 5L)
        .orderBy(col("item_a"), col("item_b"), col("item_c"))
    }),

    // ── The mega-basket cap's OBSERVER, first-class (the
    // rec_truncation_dropped contract applied to the basket cap):
    // exactly which customers hold more than maxBasketItems FREQUENT
    // brands — and would therefore be excluded from pair generation
    // at that cap — with their sizes. An empty frame proves a rules
    // run at this cap is cap-free; a non-empty one is the declared
    // bound engaging, named row by row instead of silently.
    "basket_oversize_observer" -> ((s, dir) =>
      Market.oversizeBaskets(custBrand(s, dir), basket = "user_id",
          item = "brand", minSupport = 50L, maxBasketItems = 20)
        .orderBy(col("user_id"))),

    // ── Item-item collaborative filtering, similarity leg: brands are
    // similar when the same customers buy both — cosine over binary
    // user-presence vectors (n_ab / √(n_a·n_b)), support-pruned via the
    // shared Apriori machinery. The neighborhood model behind
    // rec_user_topn.
    "rec_item_sims" -> ((s, dir) => {
      Recommend.itemSims(custBrand(s, dir), user = "user_id",
          item = "brand", minUsers = 50L, minPairUsers = 20L)
        .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
          col("n_ab"), col("cosine").cast("float").as("cosine"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // ── Item-item CF, recommendation leg: per customer the top-3
    // unseen brands by summed similarity to their basket — scores sum
    // DECIMAL-quantized cosines (order-free) and rank on the exact
    // decimal with the brand tie-break; ranking is a per-user window,
    // never a global sort.
    "rec_user_topn" -> ((s, dir) => {
      Recommend.recommendTopN(custBrand(s, dir), user = "user_id",
          item = "brand", n = 3, minUsers = 50L, minPairUsers = 20L)
        .orderBy(col("user_id"), col("rank"))
    }),

    // ── Item-item CF, PRODUCTION shape: each item's sim edges cut to
    // its 10 strongest before the candidate join — the candidate
    // expansion drops from Σ k_u·deg(i) to ≤ Σ k_u·10, turning the
    // popular-item degree into a declared constant. The cut is
    // engine-portable (cosine DESC, neighbor tie-break) and its
    // discarded mass is rec_truncation_dropped's output.
    "rec_user_topn_truncated" -> ((s, dir) => {
      Recommend.recommendTopN(custBrand(s, dir), user = "user_id",
          item = "brand", n = 3, minUsers = 50L, minPairUsers = 20L,
          maxSimilarPerItem = Some(10))
        .orderBy(col("user_id"), col("rank"))
    }),

    // ── The truncation observer: exactly which items lost edges to the
    // top-10 cut and how much cosine mass went with them — the
    // oversizeBaskets contract applied to the sim graph.
    "rec_truncation_dropped" -> ((s, dir) => {
      Recommend.truncationDropped(
          Recommend.itemSims(custBrand(s, dir), user = "user_id",
            item = "brand", minUsers = 50L, minPairUsers = 20L),
          maxSimilarPerItem = 10)
        .select(col("item"), col("n_kept"), col("n_dropped"),
          col("dropped_mass").cast("double").cast("float")
            .as("dropped_mass"))
        .orderBy(col("item"))
    }),

    // ── Recall audit of the truncated run against the full scoring
    // (the sim_recall_eval contract for the CF family): what fraction
    // of the exact top-3 pairs survive the top-10 edge cut, one row.
    // The presence + sims frames materialize ONCE (presenceAndSims)
    // and feed BOTH scoring passes — the audit is 2× scoring by
    // construction, not 2× the whole Apriori chain.
    "rec_topn_recall" -> ((s, dir) => {
      val (pres, sims) = Recommend.presenceAndSims(custBrand(s, dir),
        user = "user_id", item = "brand", minUsers = 50L,
        minPairUsers = 20L)
      def run(m: Option[Int]) =
        Recommend.scoreTopN(pres, sims, user = "user_id", item = "brand",
          n = 3, maxSimilarPerItem = m)
      val full = run(None).select(col("user_id"), col("brand"))
      val trunc = run(Some(10)).select(col("user_id"), col("brand"))
        .withColumn("__hit", lit(1))
      full.join(trunc, Seq("user_id", "brand"), "left")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_pairs"),
          count(col("__hit")).as("n_found"))
        .select(col("n_users"), col("n_pairs"), col("n_found"),
          (col("n_found").cast("double") / col("n_pairs").cast("double"))
            .cast("float").as("recall"))
    }),

    // ── Global percent_rank + cume_dist of every order's total price —
    // the tie-aware global-order family Ranking.withGlobalRank can't
    // express (equal prices must share a value): the two-phase prefix
    // sum over the distinct-price ledger, no unpartitioned Window.
    "w_global_percentiles" -> ((s, dir) =>
      Ranking.withGlobalPercentiles(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
          order = Seq("o_totalprice"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("pct_rank"), col("cume_dist"))
        .orderBy(col("o_orderkey"))),

    // ── Global rank() + dense_rank() with ties shared exactly — the
    // last two of the SQL global-ranking family, same distinct-value
    // ledger, no unpartitioned Window. All-integer outputs.
    "w_global_rank_ties" -> ((s, dir) =>
      Ranking.withGlobalRankTies(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
          order = Seq("o_totalprice"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("rank_ties"), col("dense_rank"))
        .orderBy(col("o_orderkey"))),

    // ── Recency-weighted engagement features at the lake watermark:
    // per user, count and value-sum where each event decays by
    // 0.5^(age / 7 days). Terms quantize to DECIMAL(20,12) before the
    // sum (order-free), the exp chain is the shared w3 contract; no
    // wall-clock — the watermark is the frame's own max ts, so
    // backfills replay byte-identically.
    "feat_decayed_engagement" -> ((s, dir) =>
      Features.decayedCounts(Tables.events(s, dir), key = "user_id",
          tsNanos = "ts", value = "value",
          halfLifeNanos = 7L * 86400000000000L)
        .orderBy(col("user_id"))),

    // ── Leave-one-out target encoding of event_type against value:
    // each event's feature is its type's mean value EXCLUDING itself —
    // the leakage-free categorical encoding. Group sums in
    // DECIMAL(20,12), exact decimal LOO subtraction, one double
    // division per row.
    "feat_target_encoding" -> ((s, dir) =>
      Features.targetEncodeLoo(
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value")),
          key = "event_type", target = "value")
        .orderBy(col("event_id"))),

    // ── TWAP per event type: duration-weighted mean value, integer
    // cents × nano-durations in DECIMAL(38,0), right-open holds.
    "ts_twap" -> ((s, dir) =>
      Resample.timeWeightedAvg(Tables.events(s, dir), key = "event_type",
          tsNanos = "ts", tie = "event_id", value = "value")
        .select(col("k").as("event_type"), col("twap"),
          col("span_nanos"), col("n_holds"))
        .orderBy(col("event_type"))),

    // ── Regular-grid forward-fill resample: each event type's irregular
    // series sampled onto daily instants (integer ceil/floor grid
    // bounds), value = latest observation at-or-before the instant via
    // the as-of backward pass; duplicate-timestamp observations collapse
    // to max(value) first so the fill is unambiguous in both engines.
    "ts_resample_ffill" -> ((s, dir) =>
      Resample.gridForwardFill(Tables.events(s, dir), key = "event_type",
          tsNanos = "ts", value = "value",
          stepNanos = 86400L * 1000000000L)
        .orderBy(col("event_type"), col("ts"))),

    // ── Table profile: exact per-column n/null/distinct over orders —
    // one multi-distinct aggregate pass, unpivoted to long form.
    "table_profile" -> ((s, dir) =>
      graft.ops.Quality.profile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name"))),

    // ── Snapshot reconciliation: what did the CDC load DO — every key
    // classified added/removed/changed between the pre-load base
    // (customers excluding the %100 cohort) and the post-apply
    // snapshot; unchanged keys emit nothing. Exact values ride through
    // untouched, so the diff compares bit-exactly.
    "snapshot_diff" -> ((s, dir) => {
      val before = Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))
      val after = Cdc.apply(before, ordersChangelog(Tables.orders(s, dir)),
        key = "c_custkey",
        seqCol = "o_orderdate", tieCol = "o_orderkey", opCol = "op")
      Reconcile.snapshotDiff(before, after,
          keys = Seq("c_custkey"), compareCols = Seq("bal"))
        .orderBy(col("c_custkey"))
    }),

    // ── Winsorization: clip value into its group's exact nearest-rank
    // [p01, p99] — every output is an observed value (no arithmetic),
    // so the doubles compare bit-exactly with no float downcast.
    "sample_winsorize" -> ((s, dir) =>
      Percentiles.winsorize(
          Tables.events(s, dir)
            .filter(col("value").isNotNull)
            .select(col("event_type"), col("event_id"), col("value")),
          keys = Seq("event_type"), value = "value",
          pLo = 0.01, pHi = 0.99)
        .select(col("event_type"), col("event_id"), col("winsorized"))
        .orderBy(col("event_type"), col("event_id"))),

    // ── CUSUM drift detection (Page's test) per event type: cumulative
    // deviation from a $50 target with $1 slack, $1000 decision — exact
    // integer cents end-to-end via the closed form R_t − min(0, min R).
    "cusum_drift" -> ((s, dir) =>
      Anomaly.cusum(
          Tables.events(s, dir).filter(col("value").isNotNull),
          partition = Seq("event_type"), order = Seq("ts", "event_id"),
          value = "value", targetCents = 5000L, slackCents = 100L,
          decisionCents = 100000L)
        .select(col("event_type"), col("event_id"),
          col("cusum_up"), col("cusum_down"), col("drift"))
        .orderBy(col("event_type"), col("event_id"))),

    // ── Distribution-free CI for the A−B mean gap via the POISSON
    // bootstrap: every row enters replica r with a deterministic
    // md5-drawn Poisson(1) weight, so 64 replicas cost one ×64 map +
    // ONE combine to ≤ |groups|·2·64 rows — the massive-data bootstrap
    // shape. CI bounds are nearest-rank order statistics over the
    // replica diffs; Welch (ab_welch_t) gives the parametric CI, this
    // gives the one a skewed metric actually satisfies.
    "ab_bootstrap_ci" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          col("value"), col("event_id"))
      Experiment.bootstrapMeanDiffCi(ev, group = "event_type",
          variant = "variant", value = "value", id = "event_id",
          replicas = 64)
        .orderBy(col("event_type"))
    }),

    // ── Rank-family windows: quartile, percent_rank, cume_dist per
    // event type over a TOTAL order (value, event_id) — unique sort
    // keys make peer groups singletons, so every rank is deterministic.
    "w_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w).cast("float"))
        .withColumn("cd", cume_dist().over(w).cast("float"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ── Q3-style shipping priority: exact DECIMAL revenue, top-10 via
    // TakeOrdered. The segment-filtered customer projection carries NO
    // broadcast hint: it is ~1/5 of the customer table — data-sized,
    // unlike the nation/region dims hinted elsewhere — so the planner/
    // AQE broadcasts it while measured small and shuffle-joins past
    // that (the canonical Q3 plan at warehouse scale).
    "j5_shipping_priority" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord.join(cust,
            col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // ── Q5-shape local-supplier volume: six-table join where customer
    // and supplier must share a nation — dims (nation, region,
    // supplier) broadcast, the two fact shuffles keyed on
    // orderkey/custkey, the co-nationality predicate applied after the
    // last broadcast (a join condition, never a cartesian). DECIMAL
    // revenue, ties pinned by name.
    "j6_local_supplier_volume" -> ((s, dir) => {
      // PlanAudit sf0.1, 1 MB threshold: 2 exch/5 bcast/0 SMJ with these hints, 4/4/1 without
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ── Q8-shape national market share: the nation table plays TWO
    // roles (customer's region gate, supplier's share bucket), so it is
    // broadcast twice under different aliases. Part/supplier/nation/
    // region all broadcast; the only shuffles are the two fact joins
    // (lineitem⋈orders keyed on orderkey, then custkey) — at 100 TB the
    // dim-filter on part (1/6 selectivity) rides the broadcast into the
    // scan as a runtime filter. Share = two exact DECIMAL volume sums
    // divided once in double, so both engines replay it bit-for-bit.
    "j8_market_share" -> ((s, dir) => {
      val vol = d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount"))
      // PlanAudit sf0.1, 1 MB threshold: 4 exch/6 bcast/1 SMJ with these hints, 6/5/2 without
      val econPart = Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val amerNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val suppNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(econPart), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(amerNations), col("c_nationkey") === col("cn_key"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", vol)
            .otherwise(lit(0))).cast("double").as("nation_volume"),
          sum(vol).cast("double").as("total_volume"))
        .withColumn("mkt_share",
          col("nation_volume") / col("total_volume"))
        .orderBy(col("o_year"))
    }),

    // ── Herfindahl–Hirschman concentration of supplier revenue within
    // each nation: Σ share² over a nation's suppliers. Revenue sums are
    // exact DECIMAL per (nation, supplier) — one fact shuffle keyed on
    // suppkey, then the per-nation rollup moves only |suppliers| rows.
    // Each share divides the same two decimals in both engines; squares
    // quantize to DECIMAL(20,12) before the final sum so reduction
    // order cannot smear the last bit.
    "agg_hhi" -> ((s, dir) => {
      // PlanAudit sf0.1, 1 MB threshold: 3 exch/2 bcast/0 SMJ with these hints, 4/1/1 without
      val supRev = Tables.lineitem(s, dir)
        .select(col("l_suppkey"),
          (d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount"))).as("__v"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("__v")).as("__rev"))
        .join(broadcast(Tables.supplier(s, dir)
            .join(broadcast(Tables.nation(s, dir)
                .select(col("n_nationkey"), col("n_name"))),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name"))),
          col("l_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy(col("n_name"))
      supRev
        .withColumn("__share",
          col("__rev").cast("double") / sum(col("__rev")).over(w).cast("double"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum((col("__share") * col("__share")).cast("decimal(20,12)"))
            .cast("double").as("hhi"))
        .orderBy(col("n_name"))
    }),

    // ── Daily gap fill with forward fill: build each key's full day
    // grid (sequence+explode — no driver loop), left-join actuals, and
    // carry the last non-null value forward. The grid explode is
    // map-side on a one-row-per-key aggregate, never on raw events.
    "ts_gap_fill" -> ((s, dir) => {
      val dv = Tables.events(s, dir)
        .select(col("user_id"),
          expr("ts div 86400000000000").as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(d2(col("value"))).cast("double").as("day_val"))
      val grid = dv.groupBy(col("user_id"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(dv, Seq("user_id", "day"), "left")
        .withColumn("filled", last(col("day_val"), ignoreNulls = true).over(w))
        .withColumn("is_gap", col("day_val").isNull)
        .select(col("user_id"), col("day"), col("filled"), col("is_gap"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ── Classical additive seasonal decomposition of the per-type
    // daily event-count series: value = trend (centered 7-day MA over a
    // RANGE frame — gaps suppress the trend rather than average the
    // wrong span) + weekly seasonal (re-centered to sum 0) + residual.
    // The "is the drop real or just the weekend?" primitive; residual
    // is what an anomaly detector should score.
    "ts_seasonal_decompose" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_events"))
      Resample.seasonalDecompose(daily, key = "event_type", t = "day",
          value = "n_events", period = 7, trendWindow = 7)
        .select(col("event_type"), col("day"), col("n_events"),
          col("trend").cast("float").as("trend"),
          col("seasonal").cast("float").as("seasonal"),
          col("residual").cast("float").as("residual"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ── Seasonality-aware anomaly detection: the loop
    // seasonalDecompose's scaladoc promises — z-score the RESIDUAL, not
    // the raw series, so a weekend dip stops masquerading as an
    // incident. Median/MAD are exact nearest-rank picks (lower median,
    // no interpolation — element selection is engine-exact on the
    // bit-identical residual doubles); the Iglewicz–Hoaglin modified z
    // surfaces FLOAT, with the flag cut on the double chain.
    "ts_seasonal_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_events"))
      val dec = Resample.seasonalDecompose(daily, key = "event_type",
          t = "day", value = "n_events", period = 7, trendWindow = 7)
        .filter(col("residual").isNotNull)
      val wMed = Window.partitionBy(col("event_type"))
        .orderBy(col("residual"), col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      val med = dec
        .withColumn("__rn", row_number().over(wMed))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rn") === expr("(__n + 1) div 2"))
        .select(col("event_type"), col("residual").as("__med"))
      val withMed = dec.join(med, Seq("event_type"))
        .withColumn("__ad", abs(col("residual") - col("__med")))
      val wMad = Window.partitionBy(col("event_type"))
        .orderBy(col("__ad"), col("day"))
      val mad = withMed
        .withColumn("__rn", row_number().over(wMad))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rn") === expr("(__n + 1) div 2"))
        .select(col("event_type"), col("__ad").as("__mad"))
      withMed.join(mad, Seq("event_type"))
        .withColumn("__z",
          lit(0.6745) * (col("residual") - col("__med")) /
            nullif(col("__mad"), lit(0.0)))
        .select(col("event_type"), col("day"), col("n_events"),
          col("residual").cast("float").as("residual"),
          col("__z").cast("float").as("robust_z"),
          coalesce(abs(col("__z")) > 3.5, lit(false)).as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ── Grouped collect: per-customer sorted distinct order years as a
    // joined string (arrays stay engine-internal; the string surface is
    // hash-comparable everywhere).
    "agg_year_lists" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .groupBy(col("o_custkey"))
        // one collected array serves both outputs — a separate
        // countDistinct would force the planner's distinct-aggregate
        // expansion for a value that is just the set's size
        .agg(sort_array(collect_set(col("yr"))).as("__yrs"))
        .select(col("o_custkey"),
          array_join(transform(col("__yrs"), y => y.cast("string")), ",")
            .as("years"),
          size(col("__yrs")).cast("long").as("n_years"))
        .orderBy(col("o_custkey"))),

    // ── RANGE-frame trailing window: the sum of the PRECEDING TWO HOURS
    // by event TIME, not row count — peers enter by timestamp range, so
    // ties need no tiebreak and sparse/dense series get the same
    // semantics. Exact integer cents, no decimal needed.
    "w_range_trailing" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("t_us"),
        round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-7200000000L, 0L)
      ev.withColumn("trail_cents", sum(col("cents")).over(w))
        .withColumn("trail_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("trail_cents"), col("trail_n"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Exact trailing-window MEDIAN: nearest-rank (lower) element of
    // the last 15 rows per user — the robust rolling baseline
    // (rolling-z on a median resists the exact outliers it should
    // flag). No built-in exact windowed median exists; the frame is
    // bounded (15 rows), so sorting the collected frame is O(k log k)
    // per row with k fixed — a deliberate small-frame pattern that
    // stays inside one window exchange. Integer cents ⇒ exact replay.
    "w_rolling_median" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
        .rowsBetween(-14, 0)
      ev.withColumn("__win", array_sort(collect_list(col("cents")).over(w)))
        .select(col("user_id"), col("event_id"),
          element_at(col("__win"),
            floor((size(col("__win")) + 1) / 2).cast("int")).as("med_cents"),
          size(col("__win")).cast("long").as("win_n"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Robust outlier stats: per-group median and median absolute
    // deviation, both exact nearest-rank selections sharing ONE
    // raw-data collapse — the deviation ledger derives from the value
    // COUNT LEDGER (|x − med| folds symmetric values; counts add), so
    // the data is scanned and exchanged once and both prefix sums run
    // over ledger-sized frames (was: two full nearestRank passes over
    // raw rows — 21 exchanges; values straight from the data either
    // way: |x − med| is a single IEEE subtraction, identical in any
    // engine).
    "agg_mad" -> ((s, dir) =>
      Percentiles.medianAbsoluteDeviation(
          Tables.events(s, dir).select(col("event_type"), col("value")),
          Seq("event_type"), "value")
        .orderBy(col("event_type"))),

    // ── Set operations (SURVEY §2.8 beyond union): customers ordering
    // in 1994 split into INTERSECT (also in 1995) and EXCEPT (1994
    // only) — both distinct-set semantics, labeled and unioned.
    "u2_except_intersect" -> ((s, dir) => {
      def buyers(yr: Int) = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey")).distinct()
      val both = buyers(1994).intersect(buyers(1995))
        .withColumn("kind", lit("both_years"))
      val only94 = buyers(1994).except(buyers(1995))
        .withColumn("kind", lit("only_1994"))
      both.unionByName(only94).orderBy(col("o_custkey"))
    }),

    // ── Exact Pearson correlation + OLS slope of value (cents) against
    // event day, per type. Built-in corr() accumulates co-moments in
    // engine- and partition-order-dependent double arithmetic; here
    // every Σ is an exact integer/DECIMAL, the co-moment combination
    // happens in DECIMAL (n·Σxy overflows BIGINT), and only the final
    // sqrt/divide touches doubles — identical bits in any engine.
    "agg_exact_corr" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val ev = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x"),
        expr("ts div 86400000000000").as("y"))
      // DECIMAL(38,0) INSIDE the products/sums, not just at combination
      // time: a BIGINT Σx² wraps (or throws under ANSI) once rows×x²
      // outruns int64 — e.g. x²≈3.6e8 per row at ~2.5e10 rows — while
      // the DuckDB oracle's HUGEINT stays exact; decimal sums keep both
      // engines exact at any cardinality
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(d38(col("x"))).as("sx"),
          sum(d38(col("y"))).as("sy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum(d38(col("y")) * d38(col("y"))).as("syy"))
        .select(col("event_type"), col("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy"))
        // cast BEFORE combining: n·Σxy outruns BIGINT, so every product
        // happens in DECIMAL(38,0) where it is exact
        .withColumn("cov_n", d38(col("n")) * d38(col("sxy")) - d38(col("sx")) * d38(col("sy")))
        .withColumn("var_x", d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx")))
        .withColumn("var_y", d38(col("n")) * d38(col("syy")) - d38(col("sy")) * d38(col("sy")))
        .select(col("event_type"), col("n"),
          (col("cov_n").cast("double") /
            nullif(sqrt(col("var_x").cast("double") * col("var_y").cast("double")), lit(0.0)))
            .cast("float").as("corr"),
          (col("cov_n").cast("double") /
            nullif(col("var_x").cast("double"), lit(0.0))).cast("float").as("slope"))
        .orderBy(col("event_type"))
    }),

    // ── Exact per-group mode: most frequent source per language, count
    // + rank with a lexicographic tiebreak (built-in mode() functions
    // break frequency ties engine-specifically; the explicit rank pins
    // one answer everywhere). Two exchanges: the count and the
    // key-partitioned rank share nothing heavier than |groups| rows.
    "agg_mode" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("source"))
      counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("lang"), col("source").as("mode_source"), col("n"))
        .orderBy(col("lang"))
    }),

    // ── Semi/anti join pair: per-segment counts of customers WITH and
    // WITHOUT 1995 orders — the EXISTS / NOT EXISTS shapes, each a real
    // LeftSemi/LeftAnti in the plan (broadcastable key set).
    "j4_semi_anti" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val o95 = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey").as("c_custkey"))
      val withO = cust.join(o95, Seq("c_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("with_orders"))
      val withoutO = cust.join(o95, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("without_orders"))
      withO.unionByName(withoutO)
        .select(col("c_mktsegment"), col("kind"), col("n"))
        .orderBy(col("c_mktsegment"), col("kind"))
    }),

    // ── Q21-shape "suppliers who kept orders waiting": the EXISTS +
    // NOT EXISTS pair over the same fact — a late supplier on a
    // multi-supplier order where NO other supplier was late. Both
    // subqueries become hash joins on l_orderkey against ONE
    // checkpointed base (left_semi, then left_anti), so the fact table
    // is scanned once and the exists-pair costs two key-partitioned
    // joins — the decorrelated plan a 100 TB run needs (a correlated
    // rewrite would re-scan per row). "Late" = shipped > 60 days after
    // order date (this lake carries no receipt/commit dates). Exact:
    // date arithmetic is integer days; counts are exact.
    "j21_waiting_supplier" -> ((s, dir) => {
      // cut: three consumers (late picks, exists, anti)
      val base = Cut(Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 60)).as("late")))
      val lateSupp = base.filter(col("late"))
        .select(col("ok"), col("sk")).distinct()
      val others = base.select(col("ok").as("ok2"), col("sk").as("sk2"),
        col("late").as("late2"))
      val waited = lateSupp
        .join(others, col("ok") === col("ok2") && col("sk2") =!= col("sk"),
          "left_semi")
        .join(others.filter(col("late2")),
          col("ok") === col("ok2") && col("sk2") =!= col("sk"), "left_anti")
      waited.join(Tables.supplier(s, dir),
          col("s_suppkey") === col("sk")) // no hint: supplier is data-sized
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // ── Q17-shape small-quantity revenue: a correlated scalar-agg
    // predicate (qty < 0.2 × that part's own avg qty), decorrelated
    // into one grouped aggregate joined back — the fact scans once for
    // the per-part stats and once for the probe, both on the same
    // partkey exchange. The comparison is EXACT integer algebra:
    // qty < sum/(5n) ⇔ 5·qty·n < sum, no 0.2 double anywhere; the
    // closing /7.0 is the single replayable double step.
    "j17_small_quantity_revenue" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23" && col("p_size") <= 10)
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .join(p, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
          col("l_extendedprice"))
      val a = li.groupBy(col("l_partkey"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      li.join(a, Seq("l_partkey"))
        .filter(lit(5L) * col("q") * col("n") < col("sq"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(d2(col("l_extendedprice"))).cast("double") / lit(7.0))
            .cast("float").as("avg_yearly"))
    }),

    // ── Q15-shape top supplier: a correlated scalar-MAX subquery
    // (revenue = (SELECT max(revenue) FROM view)) decorrelated into one
    // grouped aggregate + a 1-row broadcast max joined back — the fact
    // scans ONCE, and the equality comparison runs on the EXACT DECIMAL
    // sums (never on doubles, whose cross-engine last-ulp could flip a
    // tie); double only at the surface. All max-revenue suppliers
    // surface on a tie, per the spec's semantics.
    "j15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount")))
          .as("__rev"))
      Attach(rev, rev.agg(max(col("__rev")).as("__mx")))
        .filter(col("__rev") === col("__mx"))
        // no hint on supplier: it is SF-scaled — AQE sees the tiny
        // filtered probe side and picks the broadcast itself
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("__rev").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // ── Cross-series tier (ops/CrossSeries): the raw table reduces to
    // one exact cents row per (key, day) FIRST, so the quadratic pair
    // step is keys², never rows² — the shape that makes a correlation
    // matrix tractable at lake scale.
    "corr_series_pairs" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.corrPairs(series)
        .select(col("k1"), col("k2"), col("n"), col("corr"))
        .orderBy(col("k1"), col("k2"))
    }),

    // ── Q19-shape disjunctive-predicate revenue: an OR-of-ANDs across
    // BOTH join sides — the planner must keep the per-side conjuncts
    // pushable (brand/size prune the broadcast part build; the quantity
    // bounds reach the lineitem scan) while the cross-side disjunction
    // evaluates post-join. DECIMAL-exact revenue, one broadcast join.
    "j19_disjunctive_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .filter(col("p_size") >= 1 && col("p_size") <= 15 &&
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      // PlanAudit sf0.01: 2 exch/1 bcast with this hint, 0/0 without
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size") <= 5 &&
            col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#2" && col("p_size") <= 10 &&
            col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#3" &&
            col("l_quantity") >= 20))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount")))
            .cast("double").as("revenue"))
        .orderBy(col("p_brand"))
    }),

    // ── RFM customer scoring: recency (days since last order at the
    // lake's watermark), frequency (order count), monetary (exact
    // DECIMAL spend) → per-dimension quintiles over a total
    // tie-broken order, concatenated into the classic 3-digit segment
    // code. Quintiles via Ranking.withGlobalNtile — bit-identical to
    // SQL ntile(5) but range-partitioned two-phase, so no dimension
    // ever funnels the whole customer frame through one task (the
    // un-partitioned-Window plan this replaced).
    "rfm_scores" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val base = o
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("__last"),
          count(lit(1)).as("frequency"),
          sum(d2(col("o_totalprice"))).as("__mon"))
      val edge = o.agg(max(col("o_orderdate")).as("__edge"))
      val rfm = Attach(base, edge)
        .withColumn("recency_days",
          datediff(col("__edge"), col("__last")).cast("long"))
      // quintile orderings carry the custkey tiebreak so the
      // bucket-boundary assignment is total and engine-portable;
      // recency ASCENDS (most recent = best = 5 after the flip below).
      // Multi-order variant: ONE base materialization, each dimension
      // ranks only its narrow (key, value) projection, never the full
      // customer frame.
      val scored = Ranking.withGlobalNtiles(rfm, key = Seq("o_custkey"),
        specs = Seq(
          (Seq("recency_days", "o_custkey"), 5, "__rq"),
          (Seq("frequency", "o_custkey"), 5, "f_score"),
          (Seq("__mon", "o_custkey"), 5, "m_score")))
      scored
        .withColumn("r_score", lit(6L) - col("__rq"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("__mon").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score")).as("rfm"))
        .orderBy(col("o_custkey"))
    }),

    // ── Welch two-sample t-test per event_type: arms split by user_id
    // parity (the deterministic, engine-portable stand-in for the hash
    // split the Sampling family provides). One map-side-combinable
    // groupBy reduces the fact table to 2 rows per group; the t/df
    // chain is fixed-order double math over exact decimal sums.
    "ab_ttest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          col("value"))
      Experiment.welchTTest(ev, group = "event_type", variant = "variant",
          value = "value")
        .orderBy(col("event_type"))
    }),

    // ── Mann–Whitney U per event_type, same parity arms as ab_ttest:
    // the rank-based readout a heavy-tailed metric can't fool. All
    // integer arithmetic (doubled ranks) up to one final double chain.
    "ab_mannwhitney" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          col("value"))
      Experiment.mannWhitneyU(ev, group = "event_type",
          variant = "variant", value = "value")
        .orderBy(col("event_type"))
    }),

    // ── Pearson χ² of variant × outcome per event_type (outcome = the
    // lo/hi value band): the categorical readout — did the OUTCOME MIX
    // shift, not just the mean? Counts exact; each cell term quantizes
    // to DECIMAL(20,12) before the order-free sum.
    "ab_chisquare" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          when(col("value") < 50, "lo").otherwise("hi").as("outcome"))
      Experiment.chiSquare(ev, group = "event_type", variant = "variant",
          outcome = "outcome")
        .orderBy(col("event_type"))
    }),

    // ── Two-sample proportion z per event_type: conversion = the
    // value ≥ 50 band (the ab_chisquare outcome, now directional).
    // Exact counts, one double chain.
    "ab_proportion_z" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          (col("value") >= 50).as("converted"))
      Experiment.proportionZTest(ev, group = "event_type",
          variant = "variant", success = "converted")
        .orderBy(col("event_type"))
    }),

    // ── Wilson error bars for the same conversion, per arm: the
    // small-n-safe interval a dashboard draws NEXT TO the z-test's
    // significance call (Wald collapses at p̂∈{0,1}; Wilson never
    // leaves [0,1]). Exact counts, one double chain per arm row.
    "ab_wilson_ci" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          (col("value") >= 50).as("converted"))
      Experiment.wilsonCi(ev, group = "event_type", variant = "variant",
          success = col("converted"))
        .orderBy(col("event_type"), col("variant"))
    }),

    // ── Always-valid sequential testing (mSPRT): the same A/B split
    // peeked at EVERY day boundary — the readout a dashboard polling
    // hourly needs, because stopping a fixed-n Welch/z test at the
    // first p < α inflates false positives several-fold. ln Λ per
    // peek from exact cumulative (n, Σx, Σx²); the always-valid p is
    // monotone by construction and, on this null split (arms by
    // user-id parity), correctly never crosses the α boundary on any
    // of the ~150 peeks.
    "ab_msprt_sequential" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          col("value"),
          date_format(col("ts_utc"), "yyyy-MM-dd").as("peek_day"))
      Experiment.msprt(ev, group = "event_type", variant = "variant",
          value = "value", peek = "peek_day", tauSq = 25.0)
        .orderBy(col("event_type"), col("peek_day"))
    }),

    // ── Reliability diagram + ECE for a score against an outcome —
    // the PROBABILITY half of model eval (emb_dim_auc is the rank
    // half): a gate whose scores lie about their confidence silently
    // shifts how much corpus a threshold keeps. The dummy value/100
    // scorer against the purchase outcome reads ECE ≈ 0.23 — exactly
    // the miscalibration readout the diagram exists to surface.
    "eval_calibration" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.calibration(ev,
          score = col("value").cast("double") / lit(100.0),
          label = col("event_type") === "purchase", bins = 10)
        .orderBy(col("bin"))
    }),

    // ── Split-conformal prediction intervals, self-auditing: md5
    // train/cal/test split, per-type mean predictor, q̂ = the
    // ⌈(n+1)(1−α)⌉-th smallest calibration residual, then the TEST
    // coverage measured beside the 1−α = 0.9 target — the
    // distribution-free "next observation" error bar (Wilson/bootstrap
    // bound a MEAN; this bounds a point), valid for ANY model under
    // exchangeability.
    "eval_conformal_interval" -> ((s, dir) => {
      // the bucketed frame feeds THREE consumers (train mean, cal
      // residuals, test audit) — cut once (the agg_mad ledger
      // pattern), narrowed to the three columns they read
      val ev = Cut(Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull)
        .select(col("event_type"), col("value"),
          graft.ops.Sampling.hashBucket(col("event_id"), 100,
            tag = "split:").as("__b")))
      val model = ev.filter(col("__b") < 50).groupBy(col("event_type"))
        .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("__yhat"))
      // PlanAudit sf0.1, 1 MB threshold: 19 exch/7 bcast/3 SMJ with these hints, 24/4/6 without
      val calRes = ev.filter(col("__b") >= 50 && col("__b") < 75)
        .join(broadcast(model), Seq("event_type"))
        .select(col("event_type"),
          abs(col("value") - col("__yhat")).as("res"))
      val q = Eval.conformalQuantile(calRes, Seq("event_type"), "res",
        alpha = 0.1)
      val audit = ev.filter(col("__b") >= 75)
        .join(broadcast(model), Seq("event_type"))
        .join(broadcast(q.select(col("event_type"), col("q_conformal"))),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("value") - col("__yhat")) <=
            col("q_conformal").cast("double"), 1L).otherwise(0L))
            .as("n_covered"))
      q.join(model, Seq("event_type")).join(audit, Seq("event_type"))
        .select(col("event_type"), col("n_cal"),
          col("__yhat").cast("float").as("yhat"),
          col("q_conformal"), col("finite_sample_exact"),
          col("n_test"), col("n_covered"),
          (col("n_covered").cast("double") / col("n_test").cast("double"))
            .cast("float").as("coverage"))
        .orderBy(col("event_type"))
    }),

    // ── Binned ROC operating points for the same score/outcome —
    // the threshold-choice front behind emb_dim_auc's scalar AUC: a
    // quality gate picks "keep score >= t" off this curve. The dummy
    // scorer traces the diagonal (TPR ≈ FPR at every threshold) —
    // exactly what an uninformative score must read.
    "eval_roc_points" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.rocPoints(ev,
          score = col("value").cast("double") / lit(100.0),
          label = col("event_type") === "purchase", bins = 20)
        .orderBy(col("threshold"))
    }),

    // ── Binned precision/recall/F1 operating points — the
    // imbalanced-corpus view the ROC front is numb to: precision
    // reads "of what the gate keeps, how much is good", the number a
    // curation threshold is chosen by at a rare-positive rate. Same
    // ≤ bins machinery as eval_roc_points; the ~15% purchase base
    // rate shows precision ≈ base rate at every threshold (the
    // uninformative-score signature, beside the ROC diagonal).
    "eval_pr_points" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.prPoints(ev,
          score = col("value").cast("double") / lit(100.0),
          label = col("event_type") === "purchase", bins = 20)
        .orderBy(col("threshold"))
    }),

    // ── Binned average precision — the PR front's scalar (AUC's
    // counterpart for rare positives: a random scorer reads AP ≈ the
    // prevalence, which is exactly what the dummy value/100 scorer
    // shows here, emitted beside it). Reuses prPoints' cumulatives;
    // terms DECIMAL-quantized, order-free.
    "eval_avg_precision" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.averagePrecision(ev,
        score = col("value").cast("double") / lit(100.0),
        label = col("event_type") === "purchase", bins = 20)
    }),

    // ── Brier score with the Murphy calibration/refinement
    // decomposition over the eval_calibration bins: the exact
    // probability loss, what recalibration could remove
    // (reliability), what the score genuinely separates (resolution
    // ≈ 0 for the dummy scorer), the no-skill floor (uncertainty),
    // and the measured binning residual — diagnosis beside the
    // one number.
    "eval_brier" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.brier(ev,
          score = col("value").cast("double") / lit(100.0),
          label = col("event_type") === "purchase", bins = 10)
    }),

    // ── Cumulative gains / lift by global score decile (the
    // targeting readout): bands from the distributed global ntile —
    // never a single-task window — running totals closed over the ≤ k
    // band rows by a bounded triangular self-join.
    "eval_cumulative_gains" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("value") >= 0 && col("value") <= 100)
      Eval.cumulativeGains(ev,
          score = col("value").cast("double") / lit(100.0),
          label = col("event_type") === "purchase",
          tiebreak = col("event_id"), k = 10)
        .orderBy(col("band"))
    }),

    // ── Empirical-Bayes shrinkage of per-user purchase rates
    // (beta-binomial MoM prior): a 1/1 user must not outrank a
    // 95/100 user in any rate ranking — each rate pulls toward the
    // corpus prior in proportion to its evidence. Prior fitted from
    // the observed rates themselves; degenerate priors surface NULL,
    // never a fabricated posterior.
    "rate_eb_shrinkage" -> ((s, dir) =>
      Features.ebShrinkRates(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          key = "user_id", success = col("event_type") === "purchase")
        .orderBy(col("user_id"))),

    // ── CUPED variance-reduced readout per event_type: each user's
    // PRE-period value sum (first half of the lake's day range —
    // integer-day split, no wall-clock) adjusts their post-period
    // metric; θ and the diffs close in aggregates alone. The
    // industry-standard CI shrink, as one map-side aggregation chain.
    "ab_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), col("user_id"), col("value"),
          expr("ts div 86400000000000").as("__day"))
      val split = ev.agg(min(col("__day")).as("__mn"),
          max(col("__day")).as("__mx"))
        .select(expr("(__mn + __mx) div 2").as("__split"))
      val zero = lit(0).cast("decimal(18,2)")
      val perUser = Attach(ev, split)
        .groupBy(col("event_type"),
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
            .as("variant"),
          col("user_id"))
        .agg(coalesce(sum(when(col("__day") < col("__split"),
            col("value").cast("decimal(18,2)"))), zero)
            .cast("decimal(18,2)").as("pre"),
          coalesce(sum(when(col("__day") >= col("__split"),
            col("value").cast("decimal(18,2)"))), zero)
            .cast("decimal(18,2)").as("post"))
      // the narrow (18,2) cast keeps the cuped products at (37,4) —
      // sum's widened type would push pre×post past 38 digits, where
      // Spark and DuckDB clamp precision differently
      Experiment.cuped(perUser, group = "event_type", variant = "variant",
          pre = "pre", post = "post")
        .orderBy(col("event_type"))
    }),

    // ── Seasonal-naive forecast backtest: ŷ_t = y_{t−7 days} per
    // series, scored wherever both sides exist — MAE + sMAPE per
    // event_type, the no-parameter baseline any forecaster must beat
    // and the regression gate for one. Integer-cent errors, one
    // self-join at series granularity.
    "ts_forecast_backtest" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      Resample.seasonalNaiveBacktest(series, period = 7L)
        .select(col("k").as("event_type"), col("n_eval"),
          col("mae_cents"), col("smape"))
        .orderBy(col("event_type"))
    }),

    // ── Sample ACF at lags 1..7 per series — the data-driven way to
    // pick seasonalDecompose's period. Integer co-moments scaled by n²
    // (DECIMAL(38,0) ↔ HUGEINT), one double division, float out.
    "ts_acf" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.acf(series, maxLag = 7)
        .select(col("k").as("event_type"), col("lag"), col("n_pairs"), col("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // ── Theil–Sen robust slope per series: median of all pairwise
    // slopes on the REDUCED daily frame (30 buckets → 435 pairs/key;
    // the quadratic step never touches raw events). Each slope and the
    // two-element median average are bit-exact double chains.
    "ts_theil_sen" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.theilSen(series)
        .select(col("k").as("event_type"), col("n_pairs"), col("slope"))
        .orderBy(col("event_type"))
    }),

    // ── Single changepoint by binary segmentation: argmax SSE-reduction
    // split of each daily series. Prefix sums exact (DECIMAL ↔ HUGEINT);
    // each candidate gain is the same 3-term double chain both engines;
    // ties pinned to the earliest bucket.
    "ts_changepoint" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.changepoint(series)
        .select(col("k").as("event_type"), col("split_b"), col("n"),
          col("mean_left"), col("mean_right"), col("gain"))
        .orderBy(col("event_type"))
    }),

    "w_rolling_corr_market" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.rollingCorrVsMarket(series, window = 14)
        .select(col("k"), col("b"), col("n"), col("corr"))
        .orderBy(col("k"), col("b"))
    }),

    "beta_vs_market" -> ((s, dir) => {
      val series = CrossSeries.bucketSeries(Tables.events(s, dir),
        key = "event_type", tsNanos = "ts", value = "value",
        bucketNanos = 86400000000000L)
      CrossSeries.betaVsMarket(series)
        .select(col("k").as("event_type"), col("n"), col("beta"))
        .orderBy(col("event_type"))
    }),

    // ── Equi-depth histogram: 16 bins of ~equal row count over
    // l_extendedprice — the ANALYZE statistic; the ranking window runs
    // over the distinct-value frame, not raw rows.
    "hist_equi_depth" -> ((s, dir) =>
      Percentiles.equiDepthHistogram(
          Tables.lineitem(s, dir), value = "l_extendedprice", buckets = 16)
        .select(col("bucket"), col("lo"), col("hi"), col("n_rows"))
        .orderBy(col("bucket"))),

    // ── 2-D Pareto frontier over orders: the (highest price, earliest
    // date) staircase — no order on the frontier is beaten on both
    // axes. Sort-based exact algorithm with a bucket prune, never a
    // quadratic dominance join.
    "skyline_pareto" -> ((s, dir) =>
      Skyline.frontier2d(Tables.orders(s, dir),
          hi = "o_totalprice", lo = "o_orderdate")
        .orderBy(col("o_totalprice"))),

    // ── Weekly OHLC candles per event type: the finance downsample
    // (pandas resample('W').ohlc() shape) as ONE map-side-combined
    // aggregation — min_by/max_by over the total (ts, event_id) order,
    // no window, no self-join.
    "ts_ohlc_weekly" -> ((s, dir) =>
      Resample.ohlc(Tables.events(s, dir), key = "event_type",
          tsNanos = "ts", tie = "event_id", value = "value",
          bucketNanos = 604800000000000L)
        .select(col("k").as("event_type"), col("b"), col("open"),
          col("high"), col("low"), col("close"), col("n_ticks"),
          col("vol_cents"))
        .orderBy(col("event_type"), col("b"))),

    // ── Gini coefficient of order value per priority class — the
    // inequality audit (how concentrated is revenue among orders).
    // Rank-weighted form G = 2·Σrᵢxᵢ/(n·Σx) − (n+1)/n over cents with
    // row_number ranks: Σrᵢxᵢ is TIE-INVARIANT (swapping equal x's
    // changes nothing), so the arbitrary tie order cannot leak into
    // the result; sums in DECIMAL(38,0), one double combination.
    "agg_gini" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("__x"))
      Tables.orders(s, dir)
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority"), cents.as("__x"))
        .withColumn("__r", row_number().over(w))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(d38(col("__x"))).as("sx"),
          sum(d38(col("__r")) * d38(col("__x"))).as("srx"))
        .select(col("o_orderpriority"), col("n"),
          ((lit(2.0) * col("srx").cast("double") /
            (col("n").cast("double") * col("sx").cast("double"))) -
            (col("n").cast("double") + lit(1.0)) / col("n").cast("double"))
            .cast("float").as("gini"))
        .orderBy(col("o_orderpriority"))
    }),

    // ── Benford first-digit audit over order totals: leading digit
    // from the integer-cents STRING (a log10/floor extraction flips
    // digits on a one-ulp engine difference at powers of ten; string
    // length of an integer cannot).
    "dq_benford" -> ((s, dir) =>
      Quality.benfordAudit(Tables.orders(s, dir), value = "o_totalprice")
        .orderBy(col("digit"))),

    // ── Weighted median: quantity-weighted median unit price per
    // return flag — exact integer cumulative-weight compare, the
    // window over DISTINCT values only.
    "agg_weighted_median" -> ((s, dir) =>
      Percentiles.weightedMedian(Tables.lineitem(s, dir),
          keys = Seq("l_returnflag"), value = "l_extendedprice",
          weight = "l_quantity")
        .orderBy(col("l_returnflag"))),

    // ── Distribution-shape audit: per-type skewness + excess kurtosis
    // from exact shifted power sums (two grouped passes, one broadcast
    // μ join; the IEEE tail mirrored token-for-token by the oracle).
    "agg_skew_kurt" -> ((s, dir) =>
      Moments.skewKurtosis(Tables.events(s, dir),
          keys = Seq("event_type"), value = "value")
        .orderBy(col("event_type")))
  )

  /** Markov power-iteration replay: per round, mass products quantize
    * to DECIMAL(30,12) before the per-state sum, states with no inbound
    * mass re-enter at 0 — token-for-token [[graft.ops.Markov.stationary]]. */
  private def markovIterCtes(iters: Int): String = (1 to iters).map { k =>
    s""" v$k AS MATERIALIZED (SELECT s.state, COALESCE(r.np, 0) AS prob
       |   FROM states s LEFT JOIN (
       |     SELECT p.nxt AS state,
       |       CAST(sum(CAST(v.prob * p.pr AS DECIMAL(30,12))) AS DOUBLE) AS np
       |     FROM v${k - 1} v JOIN p ON p.cur = v.state GROUP BY 1) r
       |   ON r.state = s.state)""".stripMargin
  }.mkString(",\n")

  val oracle: Map[String, String] = Map(

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |                  o_orderpriority FROM orders)
        |SELECT o_year, o_orderpriority, count(*) AS n_orders,
        | CAST(GROUPING(o_year, o_orderpriority) AS BIGINT) AS gid
        |FROM o GROUP BY CUBE (o_year, o_orderpriority)
        |ORDER BY gid, o_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "event_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        | s AS (SELECT event_type, lead(event_type) OVER
        |         (PARTITION BY user_id ORDER BY t, event_id) AS next_type
        |       FROM e)
        |SELECT event_type, next_type, count(*) AS n_steps
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "event_markov_stationary" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id,
         |        event_type FROM events),
         | st AS (SELECT event_type, lead(event_type) OVER
         |         (PARTITION BY user_id ORDER BY t, event_id) AS next_type
         |       FROM e),
         | tr AS (SELECT event_type AS cur, next_type AS nxt,
         |        count(*) AS n FROM st WHERE next_type IS NOT NULL
         |       GROUP BY 1, 2),
         | tot AS (SELECT cur, sum(n) AS t FROM tr GROUP BY 1),
         | p AS MATERIALIZED (SELECT tr.cur, tr.nxt,
         |     CAST(tr.n AS DOUBLE) / CAST(tot.t AS DOUBLE) AS pr
         |   FROM tr JOIN tot USING (cur)),
         | states AS MATERIALIZED (SELECT DISTINCT cur AS state FROM p),
         | v0 AS (SELECT state, CAST(1 AS DOUBLE) /
         |     CAST((SELECT count(*) FROM states) AS DOUBLE) AS prob
         |   FROM states),
         |${markovIterCtes(8)}
         |SELECT state AS event_type, CAST(prob AS REAL) AS prob
         |FROM v8 ORDER BY event_type""".stripMargin,

    // nearest-rank: value at row_number ceil(p·n) in value order. The ps
    // are cast to DOUBLE so the rank arithmetic is the SAME IEEE math as
    // Spark's — a DECIMAL list literal would compute ceil(0.9·n) exactly
    // while the double 0.9 sits just above it, flipping boundary ranks
    "agg_percentiles" ->
      """WITH r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |       FROM events WHERE value IS NOT NULL),
        | x AS (SELECT event_type, value, rn, n,
        |        unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p
        |       FROM r)
        |SELECT event_type, p, value AS pct_value
        |FROM x WHERE rn = ceil(p * n)
        |ORDER BY event_type, p""".stripMargin,

    // weighted ledger + window prefix sum; the same ceil(p·W) pick in
    // exact integer cumulative arithmetic
    "agg_weighted_quantiles" ->
      """WITH vw AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    sum(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0
        |  GROUP BY 1, 2),
        | cum AS (SELECT g, v, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cm FROM vw),
        | tot AS (SELECT g, sum(w) AS n FROM vw GROUP BY 1)
        |SELECT c.g AS l_returnflag, p, c.v AS pct_value
        |FROM cum c JOIN tot t ON t.g = c.g,
        |  (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS p)
        |WHERE c.cm - c.w < ceil(p * t.n) AND ceil(p * t.n) <= c.cm
        |ORDER BY 1, 2""".stripMargin,

    "cdc_apply" -> cdcSnapshotOracle,

    "value_histogram" ->
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "er_fuzzy_pairs" ->
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 10, 6) AS blk
        |           FROM customer),
        | ok AS (SELECT blk FROM c GROUP BY blk HAVING count(*) <= 1000),
        | s AS (SELECT c.* FROM c JOIN ok USING (blk))
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "er_dropped_blocks" ->
      """SELECT substr(c_name, 10, 6) AS block,
        | CAST(count(*) AS BIGINT) AS n_members
        |FROM customer WHERE substr(c_name, 10, 6) IS NOT NULL
        |GROUP BY 1 HAVING count(*) > 500
        |ORDER BY block""".stripMargin,

    // EWMA replay: identical exact decimal weight literals (0.5^i),
    // null-skipping numerator/denominator, one double divide, REAL cast
    "w_ewma" -> {
      val lags = (1 until 8).map(i => s"lag(c, $i) OVER w AS c$i").mkString(", ")
      def wt(i: Int) = BigDecimal("0.5").pow(i).underlying.toPlainString
      val num = (0 until 8).map(i =>
        s"CASE WHEN c${if (i == 0) "" else i} IS NOT NULL THEN " +
          s"c${if (i == 0) "" else i} * ${wt(i)} ELSE 0 END").mkString(" + ")
      val den = (0 until 8).map(i =>
        s"CASE WHEN c${if (i == 0) "" else i} IS NOT NULL THEN ${wt(i)} " +
          "ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id, ts,
         |             CAST(round(value * 100) AS BIGINT) AS c
         |           FROM events WHERE value IS NOT NULL),
         | l AS (SELECT event_type, event_id, c, $lags
         |   FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         |SELECT event_type, event_id,
         |  CAST(CAST($num AS DOUBLE) /
         |    nullif(CAST($den AS DOUBLE), 0.0) AS REAL) AS ewma_cents
         |FROM l ORDER BY event_type, event_id""".stripMargin
    },

    // Bollinger replay: exact-cents SMA midline, stddev_samp band over
    // the same ROWS frame, operation order mirrored exactly
    "w_bollinger" ->
      """WITH e AS (SELECT event_type, event_id, ts,
        |             CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        | s AS (SELECT event_type, event_id,
        |     CAST(SUM(CAST(c AS DECIMAL(18,0))) OVER f AS DOUBLE) /
        |       CAST(COUNT(c) OVER f AS DOUBLE) AS mid,
        |     stddev_samp(CAST(c AS DOUBLE)) OVER f AS sd
        |   FROM e WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
        |     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id,
        |  CAST(mid / 100.0 AS REAL) AS bb_mid,
        |  CAST((mid + 2.0 * sd) / 100.0 AS REAL) AS bb_upper,
        |  CAST((mid - 2.0 * sd) / 100.0 AS REAL) AS bb_lower
        |FROM s ORDER BY event_type, event_id""".stripMargin,

    // RSI replay: integer cent deltas, integer gain/loss sums, one
    // double divide — 100·SumG/(SumG+SumL), null while the frame is flat
    "w_rsi" ->
      """WITH e AS (SELECT event_type, event_id, ts,
        |             CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        | l AS (SELECT event_type, event_id, ts,
        |     c - lag(c, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS d
        |   FROM e),
        | s AS (SELECT event_type, event_id,
        |     SUM(CASE WHEN d > 0 THEN d ELSE 0 END) OVER f AS g,
        |     SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER f AS lo
        |   FROM l WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
        |     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id,
        |  CAST(100.0 * CAST(g AS DOUBLE) /
        |    nullif(CAST(g + lo AS DOUBLE), 0.0) AS REAL) AS rsi
        |FROM s ORDER BY event_type, event_id""".stripMargin,

    // Wilder RSI replay: the per-user recursion run as a recursive CTE
    // — seed = mean of the first 14 gains/losses (integer-valued
    // doubles: the running sum is exact in any order), then the exact
    // IEEE fold (avg·13 + x)/14 step by step. Numeric literals are CAST
    // to DOUBLE (bare 14.0 is DECIMAL in DuckDB and would change the
    // arithmetic); the fold order is explicit, so doubles match
    // bit-for-bit and the REAL downcast is just belt-and-braces.
    "w_rsi_wilder" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        | d AS (SELECT e.user_id, e.event_id, e.rn,
        |     CAST(e.c - p.c AS DOUBLE) AS dd
        |   FROM e LEFT JOIN e p ON p.user_id = e.user_id AND p.rn = e.rn - 1),
        | cs AS (SELECT user_id, event_id, rn,
        |     CASE WHEN dd IS NULL THEN NULL WHEN dd > 0 THEN dd
        |          ELSE CAST(0 AS DOUBLE) END AS gain,
        |     CASE WHEN dd IS NULL THEN NULL WHEN dd < 0 THEN -dd
        |          ELSE CAST(0 AS DOUBLE) END AS loss,
        |     SUM(CASE WHEN dd > 0 THEN dd ELSE 0 END)
        |       OVER w AS sg,
        |     SUM(CASE WHEN dd < 0 THEN -dd ELSE 0 END)
        |       OVER w AS sl
        |   FROM d WINDOW w AS (PARTITION BY user_id ORDER BY rn
        |     ROWS UNBOUNDED PRECEDING)),
        | rec(user_id, rn, ag, al) AS (
        |   SELECT user_id, rn, CAST(sg AS DOUBLE) / CAST(14 AS DOUBLE),
        |          CAST(sl AS DOUBLE) / CAST(14 AS DOUBLE)
        |   FROM cs WHERE rn = 15
        |   UNION ALL
        |   SELECT c2.user_id, c2.rn,
        |     (r.ag * CAST(13 AS DOUBLE) + c2.gain) / CAST(14 AS DOUBLE),
        |     (r.al * CAST(13 AS DOUBLE) + c2.loss) / CAST(14 AS DOUBLE)
        |   FROM rec r JOIN cs c2
        |     ON c2.user_id = r.user_id AND c2.rn = r.rn + 1)
        |SELECT e.user_id, e.event_id,
        |  CAST(CASE WHEN r.ag + r.al = 0 THEN NULL
        |            ELSE CAST(100 AS DOUBLE) * r.ag / (r.ag + r.al) END
        |       AS REAL) AS rsi_wilder
        |FROM e LEFT JOIN rec r ON r.user_id = e.user_id AND r.rn = e.rn
        |ORDER BY e.user_id, e.event_id""".stripMargin,

    // recursive EMA replay: seed on the first value, then
    // 0.125·x + 0.875·ema per step (both weights exact in binary)
    "w_ema_recursive" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        | rec(user_id, rn, ema) AS (
        |   SELECT user_id, rn, CAST(c AS DOUBLE) FROM e WHERE rn = 1
        |   UNION ALL
        |   SELECT e2.user_id, e2.rn,
        |     CAST(0.125 AS DOUBLE) * e2.c + CAST(0.875 AS DOUBLE) * r.ema
        |   FROM rec r JOIN e e2
        |     ON e2.user_id = r.user_id AND e2.rn = r.rn + 1)
        |SELECT e.user_id, e.event_id, CAST(r.ema AS REAL) AS ema_rec_cents
        |FROM e JOIN rec r ON r.user_id = e.user_id AND r.rn = e.rn
        |ORDER BY e.user_id, e.event_id""".stripMargin,

    "w_macd" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        | rf(user_id, rn, ema) AS (
        |   SELECT user_id, rn, CAST(c AS DOUBLE) FROM e WHERE rn = 1
        |   UNION ALL
        |   SELECT e2.user_id, e2.rn,
        |     (CAST(2 AS DOUBLE) / 13) * e2.c
        |       + (1 - (CAST(2 AS DOUBLE) / 13)) * r.ema
        |   FROM rf r JOIN e e2
        |     ON e2.user_id = r.user_id AND e2.rn = r.rn + 1),
        | rs(user_id, rn, ema) AS (
        |   SELECT user_id, rn, CAST(c AS DOUBLE) FROM e WHERE rn = 1
        |   UNION ALL
        |   SELECT e2.user_id, e2.rn,
        |     (CAST(2 AS DOUBLE) / 27) * e2.c
        |       + (1 - (CAST(2 AS DOUBLE) / 27)) * r.ema
        |   FROM rs r JOIN e e2
        |     ON e2.user_id = r.user_id AND e2.rn = r.rn + 1),
        | m AS (SELECT rf.user_id, rf.rn, rf.ema - rs.ema AS macd
        |   FROM rf JOIN rs ON rs.user_id = rf.user_id AND rs.rn = rf.rn),
        | rg(user_id, rn, sig) AS (
        |   SELECT user_id, rn, macd FROM m WHERE rn = 1
        |   UNION ALL
        |   SELECT m2.user_id, m2.rn,
        |     (CAST(2 AS DOUBLE) / 10) * m2.macd
        |       + (1 - (CAST(2 AS DOUBLE) / 10)) * r.sig
        |   FROM rg r JOIN m m2
        |     ON m2.user_id = r.user_id AND m2.rn = r.rn + 1)
        |SELECT e.user_id, e.event_id,
        | CAST(m.macd AS REAL) AS macd,
        | CAST(rg.sig AS REAL) AS signal,
        | CAST(m.macd - rg.sig AS REAL) AS histogram
        |FROM e JOIN m ON m.user_id = e.user_id AND m.rn = e.rn
        |JOIN rg ON rg.user_id = e.user_id AND rg.rn = e.rn
        |ORDER BY e.user_id, e.event_id""".stripMargin,

    // islands replay: same running-max / flag / running-sum chain;
    // epoch() mirrors Spark's timestamp→long (both epoch seconds)
    "interval_coalesce" ->
      """WITH iv AS (SELECT o_custkey,
        |     CAST(epoch(o_orderdate) AS BIGINT) AS s,
        |     CAST(epoch(o_orderdate) AS BIGINT) + 30 * 86400 AS e
        |   FROM orders),
        | m AS (SELECT o_custkey, s, e,
        |     MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |   FROM iv),
        | f AS (SELECT o_custkey, s, e,
        |     CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
        |   FROM m),
        | i AS (SELECT o_custkey, s, e,
        |     SUM(nw) OVER (PARTITION BY o_custkey ORDER BY s, e
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |   FROM f)
        |SELECT o_custkey, CAST(MIN(s) AS BIGINT) AS start,
        |  CAST(MAX(e) AS BIGINT) AS "end",
        |  CAST(count(*) AS BIGINT) AS n_merged
        |FROM i GROUP BY o_custkey, island
        |ORDER BY o_custkey, start""".stripMargin,

    "table_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_null,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // snapshot-diff replay: the CDC fold onto the filtered base, then a
    // FULL OUTER reconciliation — IS DISTINCT FROM mirrors the
    // null-safe <=> change test
    "snapshot_diff" ->
      """WITH before AS (SELECT c_custkey, c_acctbal AS bal FROM customer
        |                WHERE c_custkey % 100 <> 0),
        | ch AS (SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey,
        |     CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |     o_totalprice AS bal,
        |     row_number() OVER (PARTITION BY o_custkey
        |       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |   FROM orders),
        | latest AS (SELECT c_custkey, op, bal FROM ch WHERE rn = 1),
        | aft AS (
        |   SELECT b.c_custkey, b.bal FROM before b
        |   LEFT JOIN latest l USING (c_custkey) WHERE l.c_custkey IS NULL
        |   UNION ALL SELECT c_custkey, bal FROM latest WHERE op = 'U'),
        | j AS (SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
        |     b.bal AS bal_before, a.bal AS bal_after,
        |     b.c_custkey IS NOT NULL AS in_b,
        |     a.c_custkey IS NOT NULL AS in_a
        |   FROM before b FULL OUTER JOIN aft a ON b.c_custkey = a.c_custkey)
        |SELECT c_custkey, bal_before, bal_after,
        |  CASE WHEN NOT in_b THEN 'added'
        |       WHEN NOT in_a THEN 'removed'
        |       WHEN bal_before IS DISTINCT FROM bal_after THEN 'changed'
        |  END AS change
        |FROM j
        |WHERE (NOT in_b) OR (NOT in_a)
        |   OR (bal_before IS DISTINCT FROM bal_after)
        |ORDER BY c_custkey""".stripMargin,

    // winsorize replay: same nearest-rank bound selection (::DOUBLE
    // literals — DuckDB decimal 0.01·n and double 0.01·n can ceil apart)
    "sample_winsorize" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |           WHERE value IS NOT NULL),
        | r AS (SELECT event_type, value,
        |     row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |     count(*) OVER (PARTITION BY event_type) AS n
        |   FROM e),
        | b AS (SELECT event_type,
        |     MIN(CASE WHEN rn = ceil(0.01::DOUBLE * n) THEN value END) AS lo,
        |     MIN(CASE WHEN rn = ceil(0.99::DOUBLE * n) THEN value END) AS hi
        |   FROM r GROUP BY event_type)
        |SELECT e.event_type, e.event_id,
        |  greatest(least(e.value, b.hi), b.lo) AS winsorized
        |FROM e JOIN b USING (event_type)
        |ORDER BY e.event_type, e.event_id""".stripMargin,

    // CUSUM replay: the same closed form over HUGEINT-exact running
    // sums/mins, surfaced as BIGINT
    "cusum_drift" ->
      """WITH e AS (SELECT event_type, event_id, ts,
        |             CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        | r AS (SELECT event_type, event_id, ts,
        |     SUM(c - 5100) OVER f AS ru,
        |     SUM(-(c - 4900)) OVER f AS rd
        |   FROM e WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | s AS (SELECT event_type, event_id,
        |     CAST(ru - least(MIN(ru) OVER f, 0) AS BIGINT) AS cusum_up,
        |     CAST(rd - least(MIN(rd) OVER f, 0) AS BIGINT) AS cusum_down
        |   FROM r WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, cusum_up, cusum_down,
        |  CASE WHEN cusum_up > 100000 THEN 'up'
        |       WHEN cusum_down > 100000 THEN 'down' END AS drift
        |FROM s ORDER BY event_type, event_id""".stripMargin,

    "w_rank_family" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |           WHERE value IS NOT NULL)
        |SELECT event_type, event_id, value,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | CAST(percent_rank() OVER w AS REAL) AS pr,
        | CAST(cume_dist() OVER w AS REAL) AS cd
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,

    "j5_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |   CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "j6_local_supplier_volume" ->
      """SELECT n.n_name,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |   CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "j8_market_share" ->
      """WITH v AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |     n2.n_name AS supp_nation,
        |     CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |       CAST(1 - l.l_discount AS DECIMAL(18,2)) AS vol
        |   FROM lineitem l
        |   JOIN part p ON l.l_partkey = p.p_partkey
        |   JOIN orders o ON l.l_orderkey = o.o_orderkey
        |   JOIN customer c ON o.o_custkey = c.c_custkey
        |   JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |   JOIN region r ON n1.n_regionkey = r.r_regionkey
        |   JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |   JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |   WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        |     AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |     AND o.o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT o_year,
        | CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   AS DOUBLE) AS nation_volume,
        | CAST(SUM(vol) AS DOUBLE) AS total_volume,
        | CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   AS DOUBLE) / CAST(SUM(vol) AS DOUBLE) AS mkt_share
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_hhi" ->
      """WITH sr AS (SELECT l_suppkey,
        |     SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
        |   FROM lineitem GROUP BY 1),
        | sn AS (SELECT sr.l_suppkey, n.n_name, sr.rev,
        |     SUM(sr.rev) OVER (PARTITION BY n.n_name) AS nat_rev
        |   FROM sr JOIN supplier s ON sr.l_suppkey = s.s_suppkey
        |   JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT n_name, COUNT(*) AS n_suppliers,
        | CAST(SUM(CAST((CAST(rev AS DOUBLE) / CAST(nat_rev AS DOUBLE)) *
        |   (CAST(rev AS DOUBLE) / CAST(nat_rev AS DOUBLE))
        |   AS DECIMAL(20,12))) AS DOUBLE) AS hhi
        |FROM sn GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, value
        |           FROM events),
        | dv AS (SELECT user_id, day,
        |          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_val
        |        FROM e GROUP BY 1, 2),
        | b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM dv GROUP BY 1),
        | grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM b),
        | j AS (SELECT g.user_id, g.day, dv.day_val
        |       FROM grid g LEFT JOIN dv USING (user_id, day))
        |SELECT user_id, day,
        | last_value(day_val IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled,
        | day_val IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,

    "agg_year_lists" ->
      """WITH y AS (SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr
        |           FROM orders WHERE o_custkey <= 100)
        |SELECT o_custkey,
        | string_agg(CAST(yr AS VARCHAR), ',' ORDER BY yr) AS years,
        | count(*) AS n_years
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_seasonal_decompose" ->
      """WITH e AS (SELECT event_type AS k,
        |     epoch_ns(ts) // 86400000000000 AS t FROM events),
        | d AS (SELECT k, t, count(*) AS v FROM e GROUP BY 1, 2),
        | tr AS (SELECT k, t, v,
        |     CASE WHEN count(*) OVER w = 7
        |          THEN CAST(sum(CAST(v AS DECIMAL(30,12))) OVER w AS DOUBLE) / 7
        |     END AS trend
        |   FROM d WINDOW w AS (PARTITION BY k ORDER BY t
        |     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        | dt AS (SELECT k, t, v, trend, CAST(v AS DOUBLE) - trend AS det
        |   FROM tr),
        | sr AS (SELECT k, ((t % 7) + 7) % 7 AS pos,
        |     CAST(sum(CAST(det AS DECIMAL(20,12))) AS DOUBLE) /
        |       CAST(count(*) AS DOUBLE) AS srw
        |   FROM dt WHERE det IS NOT NULL GROUP BY 1, 2),
        | se AS (SELECT k, pos, srw -
        |     CAST(sum(CAST(srw AS DECIMAL(20,12))) OVER (PARTITION BY k)
        |       AS DOUBLE) /
        |     CAST(count(*) OVER (PARTITION BY k) AS DOUBLE) AS seasonal
        |   FROM sr)
        |SELECT dt.k AS event_type, CAST(dt.t AS BIGINT) AS day,
        | CAST(dt.v AS BIGINT) AS n_events,
        | CAST(dt.trend AS REAL) AS trend,
        | CAST(se.seasonal AS REAL) AS seasonal,
        | CAST(dt.det - se.seasonal AS REAL) AS residual
        |FROM dt LEFT JOIN se ON se.k = dt.k AND se.pos = ((dt.t % 7) + 7) % 7
        |ORDER BY event_type, day""".stripMargin,

    "ts_seasonal_anomaly" ->
      """WITH e AS (SELECT event_type AS k,
        |     epoch_ns(ts) // 86400000000000 AS t FROM events),
        | d AS (SELECT k, t, count(*) AS v FROM e GROUP BY 1, 2),
        | tr AS (SELECT k, t, v,
        |     CASE WHEN count(*) OVER w = 7
        |          THEN CAST(sum(CAST(v AS DECIMAL(30,12))) OVER w AS DOUBLE) / 7
        |     END AS trend
        |   FROM d WINDOW w AS (PARTITION BY k ORDER BY t
        |     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        | dt AS (SELECT k, t, v, trend, CAST(v AS DOUBLE) - trend AS det
        |   FROM tr),
        | sr AS (SELECT k, ((t % 7) + 7) % 7 AS pos,
        |     CAST(sum(CAST(det AS DECIMAL(20,12))) AS DOUBLE) /
        |       CAST(count(*) AS DOUBLE) AS srw
        |   FROM dt WHERE det IS NOT NULL GROUP BY 1, 2),
        | se AS (SELECT k, pos, srw -
        |     CAST(sum(CAST(srw AS DECIMAL(20,12))) OVER (PARTITION BY k)
        |       AS DOUBLE) /
        |     CAST(count(*) OVER (PARTITION BY k) AS DOUBLE) AS seasonal
        |   FROM sr),
        | r AS (SELECT dt.k AS event_type, dt.t AS day, dt.v AS n_events,
        |        dt.det - se.seasonal AS resid
        |       FROM dt LEFT JOIN se ON se.k = dt.k
        |         AND se.pos = ((dt.t % 7) + 7) % 7
        |       WHERE dt.det - se.seasonal IS NOT NULL),
        | medp AS (SELECT event_type, resid AS med FROM (
        |     SELECT event_type, resid, day,
        |       row_number() OVER (PARTITION BY event_type
        |         ORDER BY resid, day) AS rn,
        |       count(*) OVER (PARTITION BY event_type) AS n FROM r) z
        |   WHERE rn = (n + 1) // 2),
        | wm AS (SELECT r.*, m.med, abs(r.resid - m.med) AS ad
        |       FROM r JOIN medp m USING (event_type)),
        | madp AS (SELECT event_type, ad AS mad FROM (
        |     SELECT event_type, ad, day,
        |       row_number() OVER (PARTITION BY event_type
        |         ORDER BY ad, day) AS rn,
        |       count(*) OVER (PARTITION BY event_type) AS n FROM wm) z
        |   WHERE rn = (n + 1) // 2)
        |SELECT wm.event_type, CAST(wm.day AS BIGINT) AS day,
        | CAST(wm.n_events AS BIGINT) AS n_events,
        | CAST(wm.resid AS REAL) AS residual,
        | CAST(CAST(0.6745 AS DOUBLE) * (wm.resid - wm.med)
        |   / nullif(madp.mad, 0) AS REAL) AS robust_z,
        | COALESCE(abs(CAST(0.6745 AS DOUBLE) * (wm.resid - wm.med)
        |   / nullif(madp.mad, 0)) > 3.5, FALSE) AS is_anomaly
        |FROM wm JOIN madp USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    "w_range_trailing" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id,
        | CAST(sum(cents) OVER w AS BIGINT) AS trail_cents,
        | count(*) OVER w AS trail_n
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |  RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // list() as a window aggregate collects the same 15-row frame; both
    // engines sort it and take the 1-based nearest-rank-lower element
    "w_rolling_median" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |            CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        | w AS (SELECT user_id, event_id,
        |     list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS win
        |   FROM e)
        |SELECT user_id, event_id,
        | win[(len(win) + 1) // 2] AS med_cents,
        | CAST(len(win) AS BIGINT) AS win_n
        |FROM w ORDER BY user_id, event_id""".stripMargin,

    "agg_mad" ->
      """WITH r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |       FROM events WHERE value IS NOT NULL),
        | med AS (SELECT event_type, value AS med FROM r
        |         WHERE rn = ceil(0.5::DOUBLE * n)),
        | d AS (SELECT e.event_type, abs(e.value - med.med) AS dev
        |       FROM events e JOIN med USING (event_type)
        |       WHERE e.value IS NOT NULL),
        | dr AS (SELECT event_type, dev,
        |         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |        FROM d)
        |SELECT dr.event_type, med.med, dr.dev AS mad
        |FROM dr JOIN med USING (event_type)
        |WHERE dr.rn = ceil(0.5::DOUBLE * dr.n)
        |ORDER BY event_type""".stripMargin,

    "u2_except_intersect" ->
      """WITH c94 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1994),
        | c95 AS (SELECT DISTINCT o_custkey FROM orders
        |         WHERE year(o_orderdate) = 1995)
        |SELECT o_custkey, 'both_years' AS kind
        |FROM (SELECT o_custkey FROM c94 INTERSECT SELECT o_custkey FROM c95)
        |UNION ALL
        |SELECT o_custkey, 'only_1994' AS kind
        |FROM (SELECT o_custkey FROM c94 EXCEPT SELECT o_custkey FROM c95)
        |ORDER BY o_custkey""".stripMargin,

    // HUGEINT keeps every sum and co-moment combination exact in DuckDB;
    // the one double division/sqrt then matches Spark's bit-for-bit
    "agg_exact_corr" ->
      """WITH e AS (SELECT event_type,
        |        CAST(round(value * 100) AS BIGINT) AS x,
        |        epoch_ns(ts) // 86400000000000 AS y FROM events),
        | s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |       FROM e GROUP BY 1),
        | c AS (SELECT event_type, n,
        |        n * sxy - sx * sy AS cov_n,
        |        n * sxx - sx * sx AS var_x,
        |        n * syy - sy * sy AS var_y
        |       FROM s)
        |SELECT event_type, n,
        | CAST(CAST(cov_n AS DOUBLE) /
        |   nullif(sqrt(CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE)), 0) AS REAL) AS corr,
        | CAST(CAST(cov_n AS DOUBLE) /
        |   nullif(CAST(var_x AS DOUBLE), 0) AS REAL) AS slope
        |FROM c ORDER BY event_type""".stripMargin,

    "agg_mode" ->
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents
        |           GROUP BY 1, 2),
        | r AS (SELECT lang, source, n, row_number() OVER
        |         (PARTITION BY lang ORDER BY n DESC, source) AS rn FROM c)
        |SELECT lang, source AS mode_source, n
        |FROM r WHERE rn = 1 ORDER BY lang""".stripMargin,

    "j4_semi_anti" ->
      """WITH o95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1995)
        |SELECT c_mktsegment, 'with_orders' AS kind, count(*) AS n
        |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM o95)
        |GROUP BY 1
        |UNION ALL
        |SELECT c_mktsegment, 'without_orders' AS kind, count(*) AS n
        |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM o95)
        |GROUP BY 1
        |ORDER BY c_mktsegment, kind""".stripMargin,

    // cents-sum series per (type, day); pair co-moments in HUGEINT —
    // the same exact-arithmetic contract as agg_exact_corr
    "corr_series_pairs" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | p AS (SELECT a.k AS k1, b2.k AS k2, count(*) AS n,
        |        sum(a.v) AS sx, sum(b2.v) AS sy, sum(a.v * b2.v) AS sxy,
        |        sum(a.v * a.v) AS sxx, sum(b2.v * b2.v) AS syy
        |       FROM s a JOIN s b2 USING (b) WHERE a.k < b2.k GROUP BY 1, 2),
        | c AS (SELECT k1, k2, n,
        |        n * sxy - sx * sy AS cov_n,
        |        n * sxx - sx * sx AS var_x,
        |        n * syy - sy * sy AS var_y FROM p WHERE n >= 2)
        |SELECT k1, k2, n, CAST(CAST(cov_n AS DOUBLE) /
        |   nullif(sqrt(CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE)), 0) AS REAL) AS corr
        |FROM c ORDER BY k1, k2""".stripMargin,

    "ab_ttest" ->
      """WITH e AS (SELECT event_type,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |        value
        |       FROM events WHERE value IS NOT NULL),
        | arm AS (SELECT event_type, variant, count(*) AS n,
        |        sum(CAST(value AS DECIMAL(18,2))) AS s,
        |        sum(CAST(value * value AS DECIMAL(30,12))) AS ss
        |       FROM e GROUP BY 1, 2),
        | j AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |        CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS mean_a,
        |        CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_b,
        |        ((CAST(a.ss AS DOUBLE) - (CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE))
        |            / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0))
        |          / CAST(a.n AS DOUBLE) AS va,
        |        ((CAST(b.ss AS DOUBLE) - (CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE))
        |            / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0))
        |          / CAST(b.n AS DOUBLE) AS vb
        |       FROM arm a JOIN arm b USING (event_type)
        |       WHERE a.variant = 'A' AND b.variant = 'B'
        |         AND a.n >= 2 AND b.n >= 2)
        |SELECT event_type, n_a, n_b, mean_a, mean_b,
        | CAST((mean_a - mean_b) / sqrt(va + vb) AS REAL) AS t_stat,
        | CAST(((va + vb) * (va + vb)) /
        |   ((va * va) / (CAST(n_a AS DOUBLE) - 1.0) +
        |    (vb * vb) / (CAST(n_b AS DOUBLE) - 1.0)) AS REAL) AS df
        |FROM j ORDER BY event_type""".stripMargin,

    "j19_disjunctive_revenue" ->
      """SELECT p.p_brand, count(*) AS n_items,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |   CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_quantity BETWEEN 1 AND 30
        |  AND p.p_size BETWEEN 1 AND 15
        |  AND p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND ((p.p_brand = 'Brand#1' AND p.p_size <= 5
        |          AND l.l_quantity <= 11)
        |    OR (p.p_brand = 'Brand#2' AND p.p_size <= 10
        |          AND l.l_quantity BETWEEN 10 AND 20)
        |    OR (p.p_brand = 'Brand#3' AND l.l_quantity >= 20))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rfm_scores" ->
      """WITH b AS (SELECT o_custkey, max(o_orderdate) AS last_o,
        |        count(*) AS frequency,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |       FROM orders GROUP BY 1),
        | e AS (SELECT max(o_orderdate) AS edge FROM orders),
        | r AS (SELECT b.*, CAST(date_diff('day', last_o, edge) AS BIGINT)
        |          AS recency_days
        |       FROM b CROSS JOIN e),
        | s AS (SELECT *,
        |        6 - ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
        |        ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
        |        ntile(5) OVER (ORDER BY mon, o_custkey) AS m_score
        |       FROM r)
        |SELECT o_custkey, recency_days, frequency,
        | CAST(mon AS DOUBLE) AS monetary,
        | CAST(r_score AS BIGINT) AS r_score,
        | CAST(f_score AS BIGINT) AS f_score,
        | CAST(m_score AS BIGINT) AS m_score,
        | concat(r_score, f_score, m_score) AS rfm
        |FROM s ORDER BY o_custkey""".stripMargin,

    "ab_mannwhitney" ->
      """WITH e AS (SELECT event_type,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |        value
        |       FROM events WHERE value IS NOT NULL),
        | tie AS (SELECT event_type, value AS v, count(*) AS c,
        |        sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS ca
        |       FROM e GROUP BY 1, 2),
        | cw AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM tie),
        | g AS (SELECT event_type,
        |        CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(c - ca) AS BIGINT) AS n_b,
        |        CAST(sum(ca * (2 * cum - c + 1)) AS BIGINT) AS r1x2,
        |        CAST(sum(c * c * c - c) AS BIGINT) AS ties
        |       FROM cw GROUP BY 1
        |       HAVING sum(ca) >= 1 AND sum(c - ca) >= 1
        |          AND sum(c) >= 2),
        | u AS (SELECT *, r1x2 - n_a * (n_a + 1) AS u1x2,
        |        n_a + n_b AS n FROM g)
        |SELECT event_type, n_a, n_b,
        | CAST(u1x2 AS DOUBLE) / 2.0 AS u_stat,
        | CAST(CAST(u1x2 - n_a * n_b AS DOUBLE) /
        |   nullif(2.0 * sqrt(
        |     (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
        |       ((CAST(n AS DOUBLE) + 1.0) -
        |         CAST(ties AS DOUBLE) /
        |           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))), 0)
        |   AS REAL) AS z
        |FROM u ORDER BY event_type""".stripMargin,

    "ts_acf" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | tot AS (SELECT k, count(*) AS n, sum(CAST(v AS HUGEINT)) AS s,
        |        sum(CAST(v AS HUGEINT) * v) AS sxx FROM s GROUP BY 1),
        | lags AS (SELECT unnest(range(1, 8)) AS lag),
        | p AS (SELECT a.k, l.lag, count(*) AS n_pairs,
        |        sum(CAST(a.v AS HUGEINT) * b2.v) AS sxy,
        |        sum(CAST(a.v AS HUGEINT)) AS sa,
        |        sum(CAST(b2.v AS HUGEINT)) AS sb
        |       FROM s a CROSS JOIN lags l
        |       JOIN s b2 ON b2.k = a.k AND b2.b = a.b + l.lag
        |       GROUP BY 1, 2),
        | c AS (SELECT p.k, p.lag, p.n_pairs,
        |        n*n*sxy - n*s*(sa + sb) + n_pairs*s*s AS num,
        |        n*n*sxx - n*s*s AS den
        |       FROM p JOIN tot USING (k))
        |SELECT k AS event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
        | CAST(CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0) AS REAL) AS acf
        |FROM c ORDER BY event_type, lag""".stripMargin,

    "ts_theil_sen" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | sl AS (SELECT a.k,
        |        CAST(b2.v - a.v AS DOUBLE) / CAST(b2.b - a.b AS DOUBLE) AS slope
        |       FROM s a JOIN s b2 ON b2.k = a.k AND b2.b > a.b),
        | r AS (SELECT k, slope,
        |        row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
        |        count(*) OVER (PARTITION BY k) AS np
        |       FROM sl)
        |SELECT k AS event_type, max(np) AS n_pairs, avg(slope) AS slope
        |FROM r WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_changepoint" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | pre AS (SELECT k, b,
        |        row_number() OVER w AS i,
        |        sum(CAST(v AS HUGEINT)) OVER w AS s1,
        |        count(*) OVER (PARTITION BY k) AS n,
        |        sum(CAST(v AS HUGEINT)) OVER (PARTITION BY k) AS s
        |       FROM s WINDOW w AS (PARTITION BY k ORDER BY b
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | cand AS (SELECT k, b, i, n, s1, s - s1 AS s2, n - i AS n2,
        |        (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(i AS DOUBLE)
        |          + (CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE))
        |            / CAST(n - i AS DOUBLE)
        |          - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)
        |          AS gain
        |       FROM pre WHERE i < n),
        | pick AS (SELECT *, row_number() OVER (PARTITION BY k
        |         ORDER BY gain DESC, b) AS rk FROM cand)
        |SELECT k AS event_type, b AS split_b, n,
        | CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE) AS mean_left,
        | CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_right,
        | CAST(gain AS REAL) AS gain
        |FROM pick WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "w_rolling_corr_market" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | mkt AS (SELECT b, sum(v) AS m FROM s GROUP BY 1),
        | j AS (SELECT s.k, s.b, s.v, mkt.m FROM s JOIN mkt USING (b)),
        | r AS (SELECT k, b,
        |        count(*) OVER w AS n,
        |        sum(v) OVER w AS sx, sum(m) OVER w AS sy,
        |        sum(CAST(v AS HUGEINT) * m) OVER w AS sxy,
        |        sum(CAST(v AS HUGEINT) * v) OVER w AS sxx,
        |        sum(CAST(m AS HUGEINT) * m) OVER w AS syy
        |       FROM j WINDOW w AS (PARTITION BY k ORDER BY b
        |         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        | c AS (SELECT k, b, n, n * sxy - sx * sy AS cov_n,
        |        n * sxx - sx * sx AS var_x, n * syy - sy * sy AS var_y
        |       FROM r WHERE n >= 2)
        |SELECT k, b, n, CAST(CAST(cov_n AS DOUBLE) /
        |   nullif(sqrt(CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE)), 0) AS REAL) AS corr
        |FROM c ORDER BY k, b""".stripMargin,

    "beta_vs_market" ->
      """WITH s AS (SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS b,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS v
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | mkt AS (SELECT b, sum(v) AS m FROM s GROUP BY 1),
        | p AS (SELECT k, count(*) AS n, sum(s.v) AS sx, sum(mkt.m) AS sm,
        |        sum(s.v * mkt.m) AS sxm, sum(mkt.m * mkt.m) AS smm
        |       FROM s JOIN mkt USING (b) GROUP BY 1),
        | c AS (SELECT k, n, n * sxm - sx * sm AS cov_n,
        |        n * smm - sm * sm AS var_m FROM p WHERE n >= 2)
        |SELECT k AS event_type, n, CAST(CAST(cov_n AS DOUBLE) /
        |   nullif(CAST(var_m AS DOUBLE), 0) AS REAL) AS beta
        |FROM c ORDER BY event_type""".stripMargin,

    // bucket = ⌈cum·16 / n⌉ in INTEGER arithmetic on both engines, so
    // depth-stripe boundaries land identically under heavy ties
    "hist_equi_depth" ->
      """WITH vc AS (SELECT l_extendedprice AS v, count(*) AS c
        |       FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        | cw AS (SELECT v, c, sum(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        (SELECT sum(c) FROM vc) AS n FROM vc),
        | bk AS (SELECT v, c, (cum * 16 + n - 1) // n AS bucket FROM cw)
        |SELECT CAST(bucket AS BIGINT) AS bucket, min(v) AS lo, max(v) AS hi,
        | CAST(sum(c) AS BIGINT) AS n_rows
        |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin,

    // the staircase replay: per-distinct-price min date, kept iff every
    // strictly higher price ships strictly later (same sort-only
    // algorithm the engine runs — an all-pairs NOT EXISTS would be
    // quadratic in the oracle, not just slow in the engine)
    "skyline_pareto" ->
      """WITH pts AS (SELECT o_totalprice AS h, min(o_orderdate) AS l
        |       FROM orders
        |       WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |       GROUP BY 1),
        | w AS (SELECT h, l, min(l) OVER (ORDER BY h DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_min
        |       FROM pts)
        |SELECT h AS o_totalprice, l AS o_orderdate
        |FROM w WHERE run_min IS NULL OR l < run_min
        |ORDER BY o_totalprice""".stripMargin,

    // open/close = row_number picks over the total (ts, event_id)
    // order — the same well-defined first/last min_by/max_by computes
    "ts_ohlc_weekly" ->
      """WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn, value
        |       FROM events WHERE value IS NOT NULL),
        | r AS (SELECT event_type AS k, tsn // 604800000000000 AS b, value,
        |        row_number() OVER (PARTITION BY event_type, tsn // 604800000000000
        |          ORDER BY tsn, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY event_type, tsn // 604800000000000
        |          ORDER BY tsn DESC, event_id DESC) AS rn_d
        |       FROM ev)
        |SELECT k AS event_type, CAST(b AS BIGINT) AS b,
        | min(CASE WHEN rn_a = 1 THEN value END) AS open,
        | max(value) AS high, min(value) AS low,
        | min(CASE WHEN rn_d = 1 THEN value END) AS close,
        | count(*) AS n_ticks,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vol_cents
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "interval_peak_concurrency" ->
      """WITH iv AS (SELECT CAST(epoch(o_orderdate) AS BIGINT) AS s,
        |     CAST(epoch(o_orderdate) AS BIGINT) + 30 * 86400 AS e
        |   FROM orders),
        | dl AS (SELECT t, d, sum(d) AS dsum FROM (
        |     SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
        |     UNION ALL SELECT e, CAST(-1 AS BIGINT) FROM iv) u
        |   GROUP BY 1, 2),
        | lv AS (SELECT t, d, sum(dsum) OVER (ORDER BY t, d
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level
        |   FROM dl),
        | pv AS (SELECT t, d, level,
        |     CASE WHEN t % 604800 = 0 AND d = -1 THEN level
        |          ELSE COALESCE(lag(level) OVER (ORDER BY t, d), 0)
        |     END AS carry_in
        |   FROM lv)
        |SELECT t // 604800 AS bucket,
        | CAST(greatest(COALESCE(max(CASE WHEN d = 1 THEN level END), 0),
        |   first(carry_in ORDER BY t, d)) AS BIGINT) AS peak_concurrency
        |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin,

    "basket_brand_rules" ->
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        |     FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        | ic AS (SELECT i, count(*) AS n_i FROM bi GROUP BY 1),
        | nb AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
        | keep AS (SELECT bi.b, bi.i FROM bi
        |   JOIN ic ON ic.i = bi.i WHERE ic.n_i >= 50),
        | sized AS (SELECT b FROM keep GROUP BY b HAVING count(*) <= 10000),
        | ip AS (SELECT k.b, k.i FROM keep k JOIN sized s ON s.b = k.b),
        | pr AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_ab
        |   FROM ip a JOIN ip c ON a.b = c.b AND a.i < c.i
        |   GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT item_a, item_b,
        | CAST(ia.n_i AS BIGINT) AS n_a, CAST(ib.n_i AS BIGINT) AS n_b,
        | CAST(pr.n_ab AS BIGINT) AS n_ab,
        | CAST(CAST(pr.n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS REAL)
        |   AS support,
        | CAST(CAST(pr.n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS REAL)
        |   AS conf_a_to_b,
        | CAST(CAST(pr.n_ab AS DOUBLE) / CAST(ib.n_i AS DOUBLE) AS REAL)
        |   AS conf_b_to_a,
        | CAST(CAST(pr.n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE) /
        |   (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS REAL) AS lift
        |FROM pr JOIN ic ia ON ia.i = pr.item_a
        | JOIN ic ib ON ib.i = pr.item_b CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    "basket_brand_triples" ->
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        |     FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        | ic AS (SELECT i, count(*) AS n_i FROM bi GROUP BY 1),
        | nb AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
        | keep AS (SELECT bi.b, bi.i FROM bi
        |   JOIN ic ON ic.i = bi.i WHERE ic.n_i >= 50),
        | sized AS (SELECT b FROM keep GROUP BY b HAVING count(*) <= 10000),
        | ip AS MATERIALIZED (SELECT k.b, k.i FROM keep k
        |   JOIN sized s ON s.b = k.b),
        | fp AS MATERIALIZED (SELECT a.i AS item_a, c.i AS item_b,
        |     count(*) AS n_ab
        |   FROM ip a JOIN ip c ON a.b = c.b AND a.i < c.i
        |   GROUP BY 1, 2 HAVING count(*) >= 5),
        | pb AS (SELECT a.b, a.i AS item_a, c.i AS item_b
        |   FROM ip a JOIN ip c ON a.b = c.b AND a.i < c.i
        |   JOIN fp ON fp.item_a = a.i AND fp.item_b = c.i),
        | tr AS (SELECT pb.item_a, pb.item_b, z.i AS item_c,
        |     count(*) AS n_abc
        |   FROM pb JOIN ip z ON z.b = pb.b AND z.i > pb.item_b
        |   GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT tr.item_a, tr.item_b, tr.item_c,
        | CAST(ab.n_ab AS BIGINT) AS n_ab, CAST(ac.n_ab AS BIGINT) AS n_ac,
        | CAST(bc.n_ab AS BIGINT) AS n_bc, CAST(tr.n_abc AS BIGINT) AS n_abc,
        | CAST(CAST(tr.n_abc AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS REAL)
        |   AS support,
        | CAST(CAST(tr.n_abc AS DOUBLE) / CAST(ab.n_ab AS DOUBLE) AS REAL)
        |   AS conf_ab_to_c,
        | CAST(CAST(tr.n_abc AS DOUBLE) / CAST(ac.n_ab AS DOUBLE) AS REAL)
        |   AS conf_ac_to_b,
        | CAST(CAST(tr.n_abc AS DOUBLE) / CAST(bc.n_ab AS DOUBLE) AS REAL)
        |   AS conf_bc_to_a,
        | CAST(CAST(tr.n_abc AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |     * CAST(n_baskets AS DOUBLE) /
        |   (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)
        |     * CAST(icc.n_i AS DOUBLE)) AS REAL) AS lift
        |FROM tr
        | JOIN fp ab ON ab.item_a = tr.item_a AND ab.item_b = tr.item_b
        | JOIN fp ac ON ac.item_a = tr.item_a AND ac.item_b = tr.item_c
        | JOIN fp bc ON bc.item_a = tr.item_b AND bc.item_b = tr.item_c
        | JOIN ic ia ON ia.i = tr.item_a
        | JOIN ic ib ON ib.i = tr.item_b
        | JOIN ic icc ON icc.i = tr.item_c
        | CROSS JOIN nb
        |ORDER BY 1, 2, 3""".stripMargin,

    // observer replay: same presence + item-count prune, per-customer
    // frequent-brand count, kept above the cap
    "basket_oversize_observer" ->
      s"""WITH $custBrandCtes
         |SELECT u AS user_id,
         |  CAST(count(*) AS BIGINT) AS n_frequent_items
         |FROM keep GROUP BY u HAVING count(*) > 20
         |ORDER BY user_id""".stripMargin,

    "rec_item_sims" ->
      s"""WITH $custBrandCtes
         |SELECT item_a, item_b,
         | CAST(ia.n_i AS BIGINT) AS n_a, CAST(ib.n_i AS BIGINT) AS n_b,
         | CAST(pr.n_ab AS BIGINT) AS n_ab,
         | CAST(CAST(pr.n_ab AS DOUBLE) /
         |   sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS REAL)
         |   AS cosine
         |FROM pr JOIN ic ia ON ia.i = pr.item_a
         | JOIN ic ib ON ib.i = pr.item_b
         |ORDER BY 1, 2""".stripMargin,

    "rec_user_topn" ->
      s"""WITH $custBrandCtes,
         | sims AS (SELECT item_a, item_b,
         |     CAST(pr.n_ab AS DOUBLE) /
         |       sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
         |       AS cosine
         |   FROM pr JOIN ic ia ON ia.i = pr.item_a
         |    JOIN ic ib ON ib.i = pr.item_b),
         | dir AS (SELECT item_a AS i, item_b AS j, cosine FROM sims
         |   UNION ALL SELECT item_b, item_a, cosine FROM sims),
         | cand AS (SELECT s.u, d.j,
         |     sum(CAST(d.cosine AS DECIMAL(20,12))) AS score,
         |     count(*) AS n_paths
         |   FROM ub s JOIN dir d ON d.i = s.i
         |   LEFT JOIN ub z ON z.u = s.u AND z.i = d.j
         |   WHERE z.u IS NULL
         |   GROUP BY 1, 2),
         | r AS (SELECT u, j, score, n_paths,
         |     row_number() OVER (PARTITION BY u
         |       ORDER BY score DESC, j) AS rank
         |   FROM cand)
         |SELECT u AS user_id, j AS brand,
         | CAST(CAST(score AS DOUBLE) AS REAL) AS score,
         | CAST(n_paths AS BIGINT) AS n_paths, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "rec_user_topn_truncated" ->
      s"""WITH $custBrandCtes,
         | sims AS (SELECT item_a, item_b,
         |     CAST(pr.n_ab AS DOUBLE) /
         |       sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
         |       AS cosine
         |   FROM pr JOIN ic ia ON ia.i = pr.item_a
         |    JOIN ic ib ON ib.i = pr.item_b),
         | dir AS (SELECT item_a AS i, item_b AS j, cosine FROM sims
         |   UNION ALL SELECT item_b, item_a, cosine FROM sims),
         | dirr AS (SELECT i, j, cosine, row_number() OVER (PARTITION BY i
         |     ORDER BY cosine DESC, j) AS sr FROM dir),
         | dirt AS (SELECT i, j, cosine FROM dirr WHERE sr <= 10),
         | cand AS (SELECT s.u, d.j,
         |     sum(CAST(d.cosine AS DECIMAL(20,12))) AS score,
         |     count(*) AS n_paths
         |   FROM ub s JOIN dirt d ON d.i = s.i
         |   LEFT JOIN ub z ON z.u = s.u AND z.i = d.j
         |   WHERE z.u IS NULL
         |   GROUP BY 1, 2),
         | r AS (SELECT u, j, score, n_paths,
         |     row_number() OVER (PARTITION BY u
         |       ORDER BY score DESC, j) AS rank
         |   FROM cand)
         |SELECT u AS user_id, j AS brand,
         | CAST(CAST(score AS DOUBLE) AS REAL) AS score,
         | CAST(n_paths AS BIGINT) AS n_paths, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "rec_truncation_dropped" ->
      s"""WITH $custBrandCtes,
         | sims AS (SELECT item_a, item_b,
         |     CAST(pr.n_ab AS DOUBLE) /
         |       sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
         |       AS cosine
         |   FROM pr JOIN ic ia ON ia.i = pr.item_a
         |    JOIN ic ib ON ib.i = pr.item_b),
         | dir AS (SELECT item_a AS i, item_b AS j, cosine FROM sims
         |   UNION ALL SELECT item_b, item_a, cosine FROM sims),
         | dirr AS (SELECT i, j, cosine, row_number() OVER (PARTITION BY i
         |     ORDER BY cosine DESC, j) AS sr FROM dir)
         |SELECT i AS item, CAST(10 AS BIGINT) AS n_kept,
         | CAST(count(*) AS BIGINT) AS n_dropped,
         | CAST(CAST(sum(CAST(cosine AS DECIMAL(20,12))) AS DOUBLE) AS REAL)
         |   AS dropped_mass
         |FROM dirr WHERE sr > 10 GROUP BY 1 ORDER BY item""".stripMargin,

    "rec_topn_recall" ->
      s"""WITH $custBrandCtes,
         | sims AS (SELECT item_a, item_b,
         |     CAST(pr.n_ab AS DOUBLE) /
         |       sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
         |       AS cosine
         |   FROM pr JOIN ic ia ON ia.i = pr.item_a
         |    JOIN ic ib ON ib.i = pr.item_b),
         | dir AS (SELECT item_a AS i, item_b AS j, cosine FROM sims
         |   UNION ALL SELECT item_b, item_a, cosine FROM sims),
         | dirr AS (SELECT i, j, cosine, row_number() OVER (PARTITION BY i
         |     ORDER BY cosine DESC, j) AS sr FROM dir),
         | dirt AS (SELECT i, j, cosine FROM dirr WHERE sr <= 10),
         | candf AS (SELECT s.u, d.j,
         |     sum(CAST(d.cosine AS DECIMAL(20,12))) AS score
         |   FROM ub s JOIN dir d ON d.i = s.i
         |   LEFT JOIN ub z ON z.u = s.u AND z.i = d.j
         |   WHERE z.u IS NULL GROUP BY 1, 2),
         | rf AS (SELECT u, j FROM (SELECT u, j, row_number() OVER (
         |     PARTITION BY u ORDER BY score DESC, j) AS rank FROM candf)
         |   WHERE rank <= 3),
         | candt AS (SELECT s.u, d.j,
         |     sum(CAST(d.cosine AS DECIMAL(20,12))) AS score
         |   FROM ub s JOIN dirt d ON d.i = s.i
         |   LEFT JOIN ub z ON z.u = s.u AND z.i = d.j
         |   WHERE z.u IS NULL GROUP BY 1, 2),
         | rt AS (SELECT u, j FROM (SELECT u, j, row_number() OVER (
         |     PARTITION BY u ORDER BY score DESC, j) AS rank FROM candt)
         |   WHERE rank <= 3)
         |SELECT CAST(count(DISTINCT rf.u) AS BIGINT) AS n_users,
         | CAST(count(*) AS BIGINT) AS n_pairs,
         | CAST(count(rt.u) AS BIGINT) AS n_found,
         | CAST(CAST(count(rt.u) AS DOUBLE) / count(*) AS REAL) AS recall
         |FROM rf LEFT JOIN rt ON rt.u = rf.u AND rt.j = rf.j""".stripMargin,

    "w_global_percentiles" ->
      """SELECT o_orderkey, o_totalprice,
        | percent_rank() OVER (ORDER BY o_totalprice) AS pct_rank,
        | cume_dist() OVER (ORDER BY o_totalprice) AS cume_dist
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "w_global_rank_ties" ->
      """SELECT o_orderkey, o_totalprice,
        | CAST(rank() OVER (ORDER BY o_totalprice) AS BIGINT) AS rank_ties,
        | CAST(dense_rank() OVER (ORDER BY o_totalprice) AS BIGINT)
        |   AS dense_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "j21_waiting_supplier" ->
      """WITH l AS (SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
        |      (CAST(l.l_shipdate AS DATE) >
        |       CAST(o.o_orderdate AS DATE) + 60) AS late
        |    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |    WHERE o.o_orderstatus = 'F'),
        | w AS (SELECT DISTINCT l1.ok, l1.sk FROM l l1
        |    WHERE l1.late
        |      AND EXISTS (SELECT 1 FROM l l2
        |        WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
        |      AND NOT EXISTS (SELECT 1 FROM l l3
        |        WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late))
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier s ON s.s_suppkey = w.sk
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "ts_forecast_backtest" ->
      """WITH s AS (SELECT event_type AS k,
        |     epoch_ns(ts) // 86400000000000 AS b,
        |     sum(CAST(round(value * 100) AS BIGINT)) AS v
        |   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        | j AS (SELECT cur.k, cur.v, prv.v AS pv,
        |     abs(cur.v - prv.v) AS e
        |   FROM s cur JOIN s prv
        |     ON prv.k = cur.k AND prv.b = cur.b - 7)
        |SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_eval,
        | CAST(CAST(sum(e) AS DOUBLE) / count(*) AS REAL) AS mae_cents,
        | CAST(CAST(sum(CASE WHEN v = 0 AND pv = 0
        |     THEN CAST(0 AS DECIMAL(20,12))
        |     ELSE CAST(2.0 * CAST(e AS DOUBLE) /
        |       CAST(abs(v) + abs(pv) AS DOUBLE) AS DECIMAL(20,12))
        |   END) AS DOUBLE) / count(*) AS REAL) AS smape
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,

    "ab_chisquare" ->
      """WITH e AS (SELECT event_type,
        |     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |     CASE WHEN value < 50 THEN 'lo' ELSE 'hi' END AS outcome
        |   FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        | cells AS (SELECT event_type, variant, outcome, count(*) AS nc
        |   FROM e GROUP BY 1, 2, 3),
        | r AS (SELECT event_type, variant, sum(nc) AS nr
        |   FROM cells GROUP BY 1, 2),
        | c AS (SELECT event_type, outcome, sum(nc) AS no
        |   FROM cells GROUP BY 1, 2),
        | t AS (SELECT event_type, sum(nc) AS n,
        |     count(DISTINCT variant) AS rr, count(DISTINCT outcome) AS cc
        |   FROM cells GROUP BY 1),
        | g AS (SELECT r.event_type, r.variant, c.outcome, r.nr, c.no,
        |     COALESCE(cells.nc, 0) AS nn, t.n, t.rr, t.cc
        |   FROM r JOIN c USING (event_type) JOIN t USING (event_type)
        |   LEFT JOIN cells ON cells.event_type = r.event_type
        |     AND cells.variant = r.variant AND cells.outcome = c.outcome)
        |SELECT event_type, CAST(min(n) AS BIGINT) AS n,
        | CAST((min(rr) - 1) * (min(cc) - 1) AS BIGINT) AS dof,
        | CAST(CAST(sum(CAST(
        |   (CAST(nn AS DOUBLE) -
        |     CAST(nr AS DOUBLE) * CAST(no AS DOUBLE) / CAST(n AS DOUBLE)) *
        |   (CAST(nn AS DOUBLE) -
        |     CAST(nr AS DOUBLE) * CAST(no AS DOUBLE) / CAST(n AS DOUBLE)) /
        |   (CAST(nr AS DOUBLE) * CAST(no AS DOUBLE) / CAST(n AS DOUBLE))
        |   AS DECIMAL(20,12))) AS DOUBLE) AS REAL) AS chi2
        |FROM g GROUP BY 1
        |HAVING (min(rr) - 1) * (min(cc) - 1) >= 1
        |ORDER BY event_type""".stripMargin,

    // same exact counts; the Wilson chain replayed term for term
    "ab_wilson_ci" ->
      """WITH e AS (SELECT event_type,
        |     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |     (value >= 50) AS converted
        |   FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        | m AS (SELECT event_type, variant, count(*) AS n,
        |     sum(CASE WHEN converted THEN 1 ELSE 0 END) AS x
        |   FROM e GROUP BY 1, 2),
        | k AS (SELECT event_type, variant, n, x,
        |     CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |     CAST(1.0 AS DOUBLE) +
        |       (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE) AS denom
        |   FROM m)
        |SELECT event_type, variant,
        | CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
        | CAST(p AS REAL) AS rate,
        | CAST(((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) /
        |     (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) / denom) -
        |   (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) /
        |       CAST(n AS DOUBLE) +
        |       (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) /
        |       (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |     / denom) AS REAL) AS ci_lo,
        | CAST(((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) /
        |     (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) / denom) +
        |   (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) /
        |       CAST(n AS DOUBLE) +
        |       (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) /
        |       (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |     / denom) AS REAL) AS ci_hi
        |FROM k ORDER BY event_type, variant""".stripMargin,

    // exact cumulative (n, Σx, Σx²) per arm per day; the ln Λ chain
    // and the running max replayed term for term (τ² = 25, α = 0.05 →
    // boundary ln 20)
    "ab_msprt_sequential" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    value, strftime(ts, '%Y-%m-%d') AS peek_day
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        | g AS (SELECT event_type, variant, peek_day, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s,
        |    sum(CAST(value*value AS DECIMAL(30,12))) AS ss
        |  FROM e GROUP BY 1,2,3),
        | c AS (SELECT event_type, variant, peek_day,
        |    sum(n) OVER w AS cn, sum(s) OVER w AS cs, sum(ss) OVER w AS css
        |  FROM g WINDOW w AS (PARTITION BY event_type, variant
        |    ORDER BY peek_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | j AS (SELECT a.event_type, a.peek_day, a.cn AS n_a, b.cn AS n_b,
        |    CAST(a.cs AS DOUBLE) AS csa, CAST(a.css AS DOUBLE) AS cssa,
        |    CAST(b.cs AS DOUBLE) AS csb, CAST(b.css AS DOUBLE) AS cssb
        |  FROM c a JOIN c b ON a.event_type = b.event_type
        |    AND a.peek_day = b.peek_day
        |    AND a.variant = 'A' AND b.variant = 'B'
        |  WHERE a.cn >= 2 AND b.cn >= 2),
        | v AS (SELECT event_type, peek_day, n_a, n_b,
        |    (cssa - csa*csa/CAST(n_a AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE)) / CAST(n_a AS DOUBLE)
        |    + (cssb - csb*csb/CAST(n_b AS DOUBLE)) /
        |      (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)) / CAST(n_b AS DOUBLE)
        |      AS vn,
        |    csa/CAST(n_a AS DOUBLE) - csb/CAST(n_b AS DOUBLE) AS diff
        |  FROM j),
        | l AS (SELECT event_type, peek_day, n_a, n_b, diff,
        |    CAST(0.5 AS DOUBLE)*ln(vn/(vn + CAST(25.0 AS DOUBLE)))
        |      + diff*diff*CAST(25.0 AS DOUBLE) /
        |        (CAST(2.0 AS DOUBLE)*vn*(vn + CAST(25.0 AS DOUBLE))) AS lnl
        |  FROM v WHERE vn > 0),
        | r AS (SELECT *, max(lnl) OVER (PARTITION BY event_type
        |    ORDER BY peek_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnlmax
        |  FROM l)
        |SELECT event_type, peek_day, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(diff AS REAL) AS diff,
        |  CAST(lnl AS REAL) AS log_lambda,
        |  CAST(exp(CAST(0.0 AS DOUBLE) - greatest(lnlmax, CAST(0.0 AS DOUBLE)))
        |    AS REAL) AS p_always_valid,
        |  lnlmax >= ln(CAST(20.0 AS DOUBLE)) AS reject_h0
        |FROM r ORDER BY event_type, peek_day""".stripMargin,

    // equal-width bins are constants → pure-map binning; per-bin Σscore
    // and each n·gap term quantize to DECIMAL(30,12) so every sum is
    // order-free; ECE broadcast back onto the ≤ 10 bin rows
    "eval_calibration" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT least(CAST(floor(score * CAST(10.0 AS DOUBLE))
        |      AS BIGINT), 9) AS bin, score, label FROM e),
        | g AS (SELECT bin, count(*) AS n_bin, sum(label) AS x,
        |    sum(CAST(score AS DECIMAL(30,12))) AS sconf
        |  FROM b GROUP BY 1),
        | r AS (SELECT bin, n_bin,
        |    CAST(x AS DOUBLE) / CAST(n_bin AS DOUBLE) AS rate,
        |    CAST(sconf AS DOUBLE) / CAST(n_bin AS DOUBLE) AS conf
        |  FROM g),
        | t AS (SELECT sum(CAST(CAST(n_bin AS DOUBLE) * abs(rate - conf)
        |      AS DECIMAL(30,12))) AS wgap, sum(n_bin) AS nt FROM r)
        |SELECT r.bin, CAST(r.n_bin AS BIGINT) AS n_bin,
        |  CAST(r.conf AS REAL) AS mean_score, CAST(r.rate AS REAL) AS rate,
        |  CAST(abs(r.rate - r.conf) AS REAL) AS gap,
        |  CAST(CAST(t.wgap AS DOUBLE) / CAST(t.nt AS DOUBLE) AS REAL) AS ece
        |FROM r, t ORDER BY r.bin""".stripMargin,

    // md5 split replay; the conformal pick is pure integer rank
    // arithmetic over the residual ledger; the audit compares against
    // the REAL-quantized radius exactly as the engine does
    "eval_conformal_interval" ->
      """WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS y,
        |    CAST(concat('0x', substr(md5(concat('split:',
        |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND event_id IS NOT NULL),
        | m AS (SELECT event_type,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) AS yhat
        |  FROM e WHERE b < 50 GROUP BY 1),
        | cal AS (SELECT e.event_type, abs(y - yhat) AS res
        |   FROM e JOIN m USING (event_type) WHERE b >= 50 AND b < 75),
        | vc AS (SELECT event_type, res, count(*) AS c FROM cal GROUP BY 1, 2),
        | cum AS (SELECT event_type, res, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY res
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM vc),
        | tot AS (SELECT event_type, sum(c) AS n FROM vc GROUP BY 1),
        | pick AS (SELECT cum.event_type, tot.n AS n_cal, cum.res AS q,
        |    ceil((CAST(tot.n AS DOUBLE) + CAST(1.0 AS DOUBLE)) *
        |      CAST(0.9 AS DOUBLE)) <= CAST(tot.n AS DOUBLE)
        |      AS finite_sample_exact
        |  FROM cum JOIN tot USING (event_type)
        |  WHERE cum.cm - cum.c < least(ceil((CAST(tot.n AS DOUBLE) +
        |      CAST(1.0 AS DOUBLE)) * CAST(0.9 AS DOUBLE)),
        |      CAST(tot.n AS DOUBLE))
        |    AND least(ceil((CAST(tot.n AS DOUBLE) + CAST(1.0 AS DOUBLE)) *
        |      CAST(0.9 AS DOUBLE)), CAST(tot.n AS DOUBLE)) <= cum.cm),
        | aud AS (SELECT e.event_type, count(*) AS n_test,
        |    sum(CASE WHEN abs(y - yhat) <=
        |      CAST(CAST(q AS REAL) AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS n_covered
        |  FROM e JOIN m USING (event_type) JOIN pick USING (event_type)
        |  WHERE b >= 75 GROUP BY 1)
        |SELECT p.event_type, CAST(p.n_cal AS BIGINT) AS n_cal,
        |  CAST(m.yhat AS REAL) AS yhat, CAST(p.q AS REAL) AS q_conformal,
        |  p.finite_sample_exact, CAST(a.n_test AS BIGINT) AS n_test,
        |  CAST(a.n_covered AS BIGINT) AS n_covered,
        |  CAST(CAST(a.n_covered AS DOUBLE) / CAST(a.n_test AS DOUBLE)
        |    AS REAL) AS coverage
        |FROM pick p JOIN m USING (event_type) JOIN aud a USING (event_type)
        |ORDER BY p.event_type""".stripMargin,

    // ≤ bins-row integer counts; the >= -threshold cumulatives close
    // by the same bounded triangular join the engine uses
    "eval_roc_points" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT least(CAST(floor(score * CAST(20.0 AS DOUBLE))
        |      AS BIGINT), 19) AS bin, y FROM e),
        | g AS (SELECT bin, sum(y) AS pos, count(*) - sum(y) AS neg
        |   FROM b GROUP BY 1),
        | t AS (SELECT sum(pos) AS p, sum(neg) AS n FROM g),
        | c AS (SELECT a.bin, sum(b2.pos) AS n_pos_ge, sum(b2.neg) AS n_neg_ge
        |   FROM g a JOIN g b2 ON b2.bin >= a.bin GROUP BY 1)
        |SELECT CAST(CAST(c.bin AS DOUBLE) / CAST(20.0 AS DOUBLE) AS REAL)
        |    AS threshold,
        |  CAST(n_pos_ge AS BIGINT) AS n_pos_ge,
        |  CAST(n_neg_ge AS BIGINT) AS n_neg_ge,
        |  CASE WHEN t.p > 0 THEN
        |    CAST(CAST(n_pos_ge AS DOUBLE)/CAST(t.p AS DOUBLE) AS REAL)
        |    END AS tpr,
        |  CASE WHEN t.n > 0 THEN
        |    CAST(CAST(n_neg_ge AS DOUBLE)/CAST(t.n AS DOUBLE) AS REAL)
        |    END AS fpr
        |FROM c, t ORDER BY threshold""".stripMargin,

    // same ≤ bins machinery as the ROC oracle; precision/recall/f1
    // replay the identical double chains (prec and rec each one
    // division, f1 the harmonic mean of those exact doubles)
    "eval_pr_points" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT least(CAST(floor(score * CAST(20.0 AS DOUBLE))
        |      AS BIGINT), 19) AS bin, y FROM e),
        | g AS (SELECT bin, sum(y) AS pos, count(*) - sum(y) AS neg
        |   FROM b GROUP BY 1),
        | t AS (SELECT sum(pos) AS p FROM g),
        | c AS (SELECT a.bin, sum(b2.pos) AS n_pos_ge, sum(b2.neg) AS n_neg_ge
        |   FROM g a JOIN g b2 ON b2.bin >= a.bin GROUP BY 1),
        | r AS (SELECT bin, n_pos_ge, n_neg_ge,
        |    CAST(n_pos_ge AS DOUBLE) / CAST(n_pos_ge + n_neg_ge AS DOUBLE)
        |      AS prec,
        |    CAST(n_pos_ge AS DOUBLE) / CAST(t.p AS DOUBLE) AS rec, t.p AS p
        |   FROM c, t)
        |SELECT CAST(CAST(bin AS DOUBLE) / CAST(20.0 AS DOUBLE) AS REAL)
        |    AS threshold,
        |  CAST(n_pos_ge + n_neg_ge AS BIGINT) AS n_kept,
        |  CAST(n_pos_ge AS BIGINT) AS n_pos_ge,
        |  CAST(prec AS REAL) AS precision,
        |  CASE WHEN p > 0 THEN CAST(rec AS REAL) END AS recall,
        |  CASE WHEN p > 0 AND (prec + rec) > CAST(0.0 AS DOUBLE) THEN
        |    CAST(CAST(2.0 AS DOUBLE) * prec * rec / (prec + rec) AS REAL)
        |    END AS f1
        |FROM r ORDER BY threshold""".stripMargin,

    // same ≤ bins cumulatives as the PR oracle; each pos_b·precision_b
    // term quantizes to DECIMAL(30,12) before the order-free sum
    "eval_avg_precision" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT least(CAST(floor(score * CAST(20.0 AS DOUBLE))
        |      AS BIGINT), 19) AS bin, y FROM e),
        | g AS (SELECT bin, sum(y) AS pos, count(*) - sum(y) AS neg
        |   FROM b GROUP BY 1),
        | t AS (SELECT sum(pos) AS p, sum(neg) AS n FROM g),
        | c AS (SELECT a.bin, max(a.pos) AS pos,
        |     sum(b2.pos) AS n_pos_ge, sum(b2.neg) AS n_neg_ge
        |   FROM g a JOIN g b2 ON b2.bin >= a.bin GROUP BY 1),
        | s AS (SELECT t.p, t.n,
        |    sum(CAST(CAST(pos AS DOUBLE) *
        |      (CAST(n_pos_ge AS DOUBLE) /
        |        CAST(n_pos_ge + n_neg_ge AS DOUBLE))
        |      AS DECIMAL(30,12))) AS apn
        |   FROM c, t GROUP BY 1, 2)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        |  CASE WHEN p > 0 THEN
        |    CAST(CAST(apn AS DOUBLE) / CAST(p AS DOUBLE) AS REAL) END
        |    AS avg_precision,
        |  CASE WHEN p + n > 0 THEN
        |    CAST(CAST(p AS DOUBLE) / CAST(p + n AS DOUBLE) AS REAL) END
        |    AS prevalence
        |FROM s""".stripMargin,

    // exact Brier from per-row DECIMAL-quantized (s−y)² sums; the
    // Murphy terms quantize each n_b·gap² before the ≤ bins-row sum —
    // every reduction order-free, every mean one double division
    "eval_brier" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT least(CAST(floor(score * CAST(10.0 AS DOUBLE))
        |      AS BIGINT), 9) AS bin, score, y FROM e),
        | g AS (SELECT bin, count(*) AS n_bin, sum(y) AS x,
        |    sum(CAST(score AS DECIMAL(30,12))) AS sc,
        |    sum(CAST((score - CAST(y AS DOUBLE)) * (score - CAST(y AS DOUBLE))
        |      AS DECIMAL(30,12))) AS se
        |  FROM b GROUP BY 1),
        | t AS (SELECT sum(n_bin) AS n, sum(se) AS sse,
        |    CAST(sum(x) AS DOUBLE) / CAST(sum(n_bin) AS DOUBLE) AS ybar
        |   FROM g),
        | r AS (SELECT t.n, t.sse, t.ybar, n_bin,
        |    CAST(x AS DOUBLE) / CAST(n_bin AS DOUBLE) AS rate,
        |    CAST(sc AS DOUBLE) / CAST(n_bin AS DOUBLE) AS conf
        |   FROM g, t),
        | d AS (SELECT n, sse, ybar,
        |    sum(CAST(CAST(n_bin AS DOUBLE) * (conf - rate) * (conf - rate)
        |      AS DECIMAL(30,12))) AS rel,
        |    sum(CAST(CAST(n_bin AS DOUBLE) * (rate - ybar) * (rate - ybar)
        |      AS DECIMAL(30,12))) AS res
        |   FROM r GROUP BY 1, 2, 3)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) AS REAL) AS brier,
        |  CAST(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
        |    AS reliability,
        |  CAST(CAST(res AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
        |    AS resolution,
        |  CAST(ybar * (CAST(1.0 AS DOUBLE) - ybar) AS REAL) AS uncertainty,
        |  CAST(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) -
        |    (CAST(rel AS DOUBLE) / CAST(n AS DOUBLE) -
        |      CAST(res AS DOUBLE) / CAST(n AS DOUBLE) +
        |      ybar * (CAST(1.0 AS DOUBLE) - ybar)) AS REAL)
        |    AS binning_residual
        |FROM d""".stripMargin,

    // the engine's distributed global ntile replays SQL ntile exactly
    // (integer bucket arithmetic), so the oracle uses ntile() directly
    "eval_cumulative_gains" ->
      """WITH e AS (SELECT
        |    CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    event_id AS t
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND value >= 0 AND value <= 100),
        | b AS (SELECT ntile(10) OVER (ORDER BY s DESC, t) AS band, y FROM e),
        | g AS (SELECT band, count(*) AS n_band, sum(y) AS n_pos
        |   FROM b GROUP BY 1),
        | c AS (SELECT band, n_band, n_pos,
        |   sum(n_band) OVER (ORDER BY band) AS cn,
        |   sum(n_pos) OVER (ORDER BY band) AS cp FROM g),
        | t AS (SELECT sum(n_band) AS nt, sum(n_pos) AS pt FROM g)
        |SELECT CAST(band AS BIGINT) AS band, CAST(n_band AS BIGINT) AS n_band,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(CAST(cp AS DOUBLE)/CAST(pt AS DOUBLE) AS REAL)
        |    AS cum_pos_share,
        |  CAST(CAST(cn AS DOUBLE)/CAST(nt AS DOUBLE) AS REAL)
        |    AS cum_row_share,
        |  CAST((CAST(cp AS DOUBLE)/CAST(pt AS DOUBLE)) /
        |    (CAST(cn AS DOUBLE)/CAST(nt AS DOUBLE)) AS REAL) AS lift
        |FROM c, t ORDER BY band""".stripMargin,

    // per-key exact counts; MoM prior replayed from the same quantized
    // rate sums; degenerate prior -> NULLs in both engines
    "rate_eb_shrinkage" ->
      """WITH pk AS (SELECT user_id, count(*) AS n,
        |     sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |   FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        | pr AS (SELECT user_id, n, x,
        |     CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS r FROM pk),
        | g AS (SELECT count(*) AS k,
        |     sum(CAST(r AS DECIMAL(20,12))) AS sr,
        |     sum(CAST(r * r AS DECIMAL(20,12))) AS srr
        |   FROM pr WHERE n >= 5),
        | mv AS (SELECT
        |     CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) AS m,
        |     CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) -
        |       (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) *
        |       (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) AS v
        |   FROM g),
        | ab AS (SELECT
        |     CASE WHEN v > 0 AND v < m * (CAST(1.0 AS DOUBLE) - m)
        |       THEN m * (m * (CAST(1.0 AS DOUBLE) - m) / v -
        |         CAST(1.0 AS DOUBLE)) END AS alpha,
        |     CASE WHEN v > 0 AND v < m * (CAST(1.0 AS DOUBLE) - m)
        |       THEN (CAST(1.0 AS DOUBLE) - m) *
        |         (m * (CAST(1.0 AS DOUBLE) - m) / v - CAST(1.0 AS DOUBLE))
        |       END AS beta
        |   FROM mv)
        |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
        |  CAST(r AS REAL) AS rate_raw,
        |  CAST(alpha AS REAL) AS alpha, CAST(beta AS REAL) AS beta,
        |  CAST((CAST(x AS DOUBLE) + alpha) /
        |    (CAST(n AS DOUBLE) + alpha + beta) AS REAL) AS rate_shrunk
        |FROM pr CROSS JOIN ab ORDER BY user_id""".stripMargin,

    "ab_proportion_z" ->
      """WITH e AS (SELECT event_type,
        |     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |     (value >= 50) AS converted
        |   FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        | m AS (SELECT event_type, variant, count(*) AS n,
        |     sum(CASE WHEN converted THEN 1 ELSE 0 END) AS x
        |   FROM e GROUP BY 1, 2),
        | j AS (SELECT a.event_type,
        |     a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
        |   FROM m a JOIN m b ON b.event_type = a.event_type
        |     AND a.variant = 'A' AND b.variant = 'B'
        |   WHERE a.n >= 1 AND b.n >= 1),
        | k AS (SELECT *,
        |     CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |     CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |     CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        |   FROM j)
        |SELECT event_type,
        | CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
        | CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
        | CAST(pa AS REAL) AS rate_a, CAST(pb AS REAL) AS rate_b,
        | CAST((pa - pb) / nullif(sqrt(pp * (1.0 - pp) *
        |   (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0)
        |   AS REAL) AS z
        |FROM k ORDER BY event_type""".stripMargin,

    "ab_cuped" ->
      """WITH e AS (SELECT event_type, user_id, value,
        |     epoch_ns(ts) // 86400000000000 AS day
        |   FROM events
        |   WHERE value IS NOT NULL AND user_id IS NOT NULL
        |     AND ts IS NOT NULL),
        | b AS (SELECT (min(day) + max(day)) // 2 AS split FROM e),
        | u AS (SELECT event_type,
        |     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |     user_id,
        |     CAST(COALESCE(sum(CASE WHEN day < split
        |       THEN CAST(value AS DECIMAL(18,2)) END),
        |       CAST(0 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS pre,
        |     CAST(COALESCE(sum(CASE WHEN day >= split
        |       THEN CAST(value AS DECIMAL(18,2)) END),
        |       CAST(0 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS post
        |   FROM e CROSS JOIN b GROUP BY 1, 2, 3),
        | m AS (SELECT event_type, variant, count(*) AS n,
        |     sum(CAST(pre AS DECIMAL(18,2))) AS sx,
        |     sum(CAST(post AS DECIMAL(18,2))) AS sy,
        |     sum(CAST(pre * post AS DECIMAL(30,12))) AS sxy,
        |     sum(CAST(pre * pre AS DECIMAL(30,12))) AS sxx,
        |     sum(CAST(post * post AS DECIMAL(30,12))) AS syy
        |   FROM u GROUP BY 1, 2),
        | j AS (SELECT a.event_type, a.n AS n_a, bb.n AS n_b,
        |     CAST(a.sx AS DOUBLE) AS sxa, CAST(bb.sx AS DOUBLE) AS sxb,
        |     CAST(a.sy AS DOUBLE) AS sya, CAST(bb.sy AS DOUBLE) AS syb,
        |     CAST(a.sxy AS DOUBLE) + CAST(bb.sxy AS DOUBLE) AS sxy,
        |     CAST(a.sxx AS DOUBLE) + CAST(bb.sxx AS DOUBLE) AS sxx,
        |     CAST(a.syy AS DOUBLE) + CAST(bb.syy AS DOUBLE) AS syy
        |   FROM m a JOIN m bb ON bb.event_type = a.event_type
        |     AND a.variant = 'A' AND bb.variant = 'B'),
        | k AS (SELECT *, CAST(n_a + n_b AS DOUBLE) AS nn,
        |     sxa + sxb AS sx, sya + syb AS sy FROM j),
        | l AS (SELECT *,
        |     sxy - sx * sy / nn AS cov,
        |     sxx - sx * sx / nn AS varx,
        |     syy - sy * sy / nn AS vary FROM k)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        | CAST(n_b AS BIGINT) AS n_b,
        | CAST(cov / varx AS REAL) AS theta,
        | CAST(sya / n_a - syb / n_b AS REAL) AS diff_raw,
        | CAST((sya / n_a - syb / n_b) -
        |   (cov / varx) * (sxa / n_a - sxb / n_b) AS REAL) AS diff_adj,
        | CAST(cov * cov / nullif(varx * vary, 0) AS REAL) AS var_reduction
        |FROM l WHERE n_a >= 2 AND n_b >= 2 AND varx <> 0
        |ORDER BY event_type""".stripMargin,

    "j17_small_quantity_revenue" ->
      """WITH p AS (SELECT p_partkey FROM part
        |    WHERE p_brand = 'Brand#23' AND p_size <= 10),
        | li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |     l_extendedprice
        |   FROM lineitem JOIN p ON p_partkey = l_partkey),
        | a AS (SELECT l_partkey, sum(q) AS sq, count(*) AS n
        |   FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |   AS DOUBLE) / 7.0 AS REAL) AS avg_yearly
        |FROM li l JOIN a ON a.l_partkey = l.l_partkey
        |WHERE 5 * l.q * a.n < a.sq""".stripMargin,

    // full replica replay: same md5 uniform, same Poisson(1) CDF
    // thresholds, same nearest-rank order statistics
    "ab_bootstrap_ci" ->
      """WITH e AS (SELECT event_type,
        |     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |     value, event_id
        |   FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        | r AS (SELECT unnest(generate_series(0, 63)) AS r),
        | u AS (SELECT e.*, r.r,
        |     CAST(CAST(concat('0x', substr(md5(concat('boot', r.r, ':',
        |       CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) AS DOUBLE)
        |       / 4503599627370496.0 AS uu
        |   FROM e CROSS JOIN r),
        | wt AS (SELECT event_type, variant, r, value,
        |     CASE WHEN uu < 0.36787944117144233 THEN 0
        |          WHEN uu < 0.7357588823428847 THEN 1
        |          WHEN uu < 0.9196986029286058 THEN 2
        |          WHEN uu < 0.9810118431238462 THEN 3
        |          WHEN uu < 0.9963401531726563 THEN 4
        |          ELSE 5 END AS w
        |   FROM u),
        | byarm AS (SELECT event_type, variant, r, sum(w) AS wn,
        |     sum(w * CAST(value AS DECIMAL(18,2))) AS ws
        |   FROM wt GROUP BY 1, 2, 3),
        | a AS (SELECT event_type, r, wn AS wna, ws AS wsa FROM byarm
        |   WHERE variant = 'A'),
        | b AS (SELECT event_type, r, wn AS wnb, ws AS wsb FROM byarm
        |   WHERE variant = 'B'),
        | diffs AS (SELECT event_type, r,
        |     CAST(wsa AS DOUBLE) / CAST(wna AS DOUBLE) -
        |     CAST(wsb AS DOUBLE) / CAST(wnb AS DOUBLE) AS diff
        |   FROM a JOIN b USING (event_type, r)
        |   WHERE wna > 0 AND wnb > 0),
        | rk AS (SELECT event_type, r, diff,
        |     row_number() OVER (PARTITION BY event_type
        |       ORDER BY diff, r) AS rank,
        |     count(*) OVER (PARTITION BY event_type) AS nb
        |   FROM diffs)
        |SELECT event_type,
        |  CAST(max(nb) AS BIGINT) AS n_replicas_effective,
        |  CAST(min(CASE WHEN rank = CAST(ceil(CAST(0.025 AS DOUBLE) * nb)
        |    AS BIGINT) THEN diff END) AS REAL) AS ci_lo,
        |  CAST(min(CASE WHEN rank = CAST(ceil(CAST(0.975 AS DOUBLE) * nb)
        |    AS BIGINT) THEN diff END) AS REAL) AS ci_hi,
        |  CAST(CAST(sum(CAST(diff AS DECIMAL(30,12))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS REAL) AS diff_boot_mean
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,

    // the max comparison runs on the exact DECIMAL sums in both engines
    "j15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |     sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - l_discount AS DECIMAL(18,2))) AS r
        |   FROM lineitem
        |   WHERE l_shipdate >= DATE '1996-01-01'
        |     AND l_shipdate < DATE '1996-04-01'
        |   GROUP BY 1),
        | m AS (SELECT max(r) AS mx FROM rev)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM rev CROSS JOIN m
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE r = mx ORDER BY s_suppkey""".stripMargin,

    "feat_target_encoding" ->
      """WITH g AS (SELECT event_type,
        |     sum(CAST(value AS DECIMAL(20,12))) AS s,
        |     count(value) AS n
        |   FROM events WHERE event_type IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        | CAST(CASE
        |   WHEN e.value IS NULL THEN
        |     CASE WHEN n >= 1 THEN CAST(s AS DOUBLE) / n END
        |   WHEN n >= 2 THEN
        |     CAST(s - CAST(e.value AS DECIMAL(20,12)) AS DOUBLE) / (n - 1)
        | END AS REAL) AS te
        |FROM events e JOIN g USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "feat_decayed_engagement" ->
      """WITH w AS (SELECT max(epoch_ns(ts)) AS wm FROM events
        |     WHERE ts IS NOT NULL),
        | e AS (SELECT user_id, epoch_ns(ts) AS t, value FROM events
        |     WHERE ts IS NOT NULL)
        |SELECT user_id, count(*) AS n_events,
        | CAST(max(t) AS BIGINT) AS last_ts,
        | CAST(CAST(sum(CAST(exp(-ln(2) * CAST(wm - t AS DOUBLE)
        |     / 604800000000000.0) AS DECIMAL(20,12))) AS DOUBLE) AS REAL)
        |   AS decayed_count,
        | CAST(CAST(sum(CAST(exp(-ln(2) * CAST(wm - t AS DOUBLE)
        |     / 604800000000000.0) * value AS DECIMAL(20,12))) AS DOUBLE)
        |   AS REAL) AS decayed_sum
        |FROM e CROSS JOIN w GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_resample_ffill" ->
      """WITH obs AS (SELECT event_type, epoch_ns(ts) AS t, max(value) AS v
        |     FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |     GROUP BY 1, 2),
        | b AS (SELECT event_type, min(t) AS mn, max(t) AS mx
        |       FROM obs GROUP BY 1),
        | g AS (SELECT event_type,
        |         unnest(range((mn + 86399999999999) // 86400000000000,
        |           mx // 86400000000000 + 1)) * 86400000000000 AS t
        |       FROM b)
        |SELECT g.event_type, CAST(g.t AS BIGINT) AS ts, o.v AS value
        |FROM g ASOF JOIN obs o
        |  ON g.event_type = o.event_type AND g.t >= o.t
        |ORDER BY 1, 2""".stripMargin,

    "ts_twap" ->
      """WITH e AS (SELECT event_type AS k, epoch_ns(ts) AS t, event_id,
        |        CAST(round(value * 100) AS BIGINT) AS c
        |       FROM events WHERE value IS NOT NULL),
        | h AS (SELECT k, c, t, lead(t) OVER (PARTITION BY k
        |          ORDER BY t, event_id) AS nt FROM e),
        | d AS (SELECT k, c, nt - t AS dur FROM h WHERE nt IS NOT NULL)
        |SELECT k AS event_type,
        | CAST(CAST(sum(CAST(c AS HUGEINT) * dur) AS DOUBLE)
        |   / CAST(sum(dur) AS DOUBLE) / 100.0 AS REAL) AS twap,
        | CAST(sum(dur) AS BIGINT) AS span_nanos, count(*) AS n_holds
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_gini" ->
      """WITH x AS (SELECT o_orderpriority,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)) AS r
        |       FROM orders WHERE o_totalprice IS NOT NULL),
        | g AS (SELECT o_orderpriority, count(*) AS n, sum(v) AS sx,
        |        sum(CAST(r AS HUGEINT) * v) AS srx
        |       FROM x GROUP BY 1)
        |SELECT o_orderpriority, n,
        | CAST((2.0 * CAST(srx AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))) -
        |   (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS REAL) AS gini
        |FROM g ORDER BY o_orderpriority""".stripMargin,

    "dq_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |          AS VARCHAR), 1, 1) AS INT) AS digit
        |       FROM orders
        |       WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        |         AND CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        | g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
        | t AS (SELECT sum(n) AS total FROM g),
        | x AS (SELECT digit, n, CAST(total AS DOUBLE) AS td,
        |        ln(1.0 + 1.0 / digit) / ln(10.0) AS es FROM g, t)
        |SELECT digit, n,
        | CAST(CAST(n AS DOUBLE) / td AS REAL) AS share,
        | CAST(es AS REAL) AS expected,
        | CAST(((CAST(n AS DOUBLE) - td * es) * (CAST(n AS DOUBLE) - td * es))
        |   / (td * es) AS REAL) AS chi2_term
        |FROM x ORDER BY digit""".stripMargin,

    "agg_weighted_median" ->
      """WITH vw AS (SELECT l_returnflag AS k, l_extendedprice AS v,
        |        sum(CAST(l_quantity AS BIGINT)) AS w
        |       FROM lineitem
        |       WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |         AND l_quantity > 0
        |       GROUP BY 1, 2),
        | cw AS (SELECT k, v, sum(w) OVER (PARTITION BY k ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(w) OVER (PARTITION BY k) AS tot FROM vw),
        | f AS (SELECT k, v, tot, row_number() OVER (PARTITION BY k ORDER BY v) AS rn
        |       FROM cw WHERE cum * 2 >= tot)
        |SELECT k AS l_returnflag, v AS weighted_median,
        | CAST(tot AS BIGINT) AS total_weight
        |FROM f WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    // floor-mean via (s1 − pmod)/n (sign-safe in both engines), shifted
    // power sums in HUGEINT, then the double tail token-for-token as
    // the Spark expressions — see ops/Moments
    "agg_skew_kurt" ->
      """WITH e AS (SELECT event_type AS g,
        |        CAST(round(value * 100) AS BIGINT) AS x
        |       FROM events WHERE value IS NOT NULL),
        | s AS (SELECT g, count(*) AS n, sum(x) AS s1 FROM e GROUP BY 1),
        | m AS (SELECT g, n, (s1 - ((s1 % n) + n) % n) // n AS mu FROM s),
        | t AS (SELECT e.g, min(m.n) AS n,
        |        sum(CAST(x - mu AS HUGEINT)) AS t1,
        |        sum(CAST(x - mu AS HUGEINT) * (x - mu)) AS t2,
        |        sum(CAST(x - mu AS HUGEINT) * (x - mu) * (x - mu)) AS t3,
        |        sum(CAST(x - mu AS HUGEINT) * (x - mu) * (x - mu) * (x - mu)) AS t4
        |       FROM e JOIN m USING (g) GROUP BY e.g),
        | q AS (SELECT g, n,
        |        CAST(t1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        |        CAST(t2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2,
        |        CAST(t3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3,
        |        CAST(t4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4
        |       FROM t),
        | c AS (SELECT g, n, q2 - m1 * m1 AS m2,
        |        q3 - 3.0 * q2 * m1 + 2.0 * m1 * m1 * m1 AS m3,
        |        q4 - 4.0 * q3 * m1 + 6.0 * q2 * m1 * m1
        |          - 3.0 * m1 * m1 * m1 * m1 AS m4
        |       FROM q)
        |SELECT g AS event_type, n,
        | CAST(m3 / nullif(m2 * sqrt(m2), 0) AS REAL) AS skewness,
        | CAST(m4 / nullif(m2 * m2, 0) - 3.0 AS REAL) AS kurtosis
        |FROM c ORDER BY event_type""".stripMargin
  )
}
