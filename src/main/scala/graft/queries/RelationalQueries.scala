package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Anomaly, AsOfJoin, Attach, Attribution, Cohort, Funnel, Merge, Quality, RangeJoin, Reshape, Returns, RuntimeFilter, Scd, Sessionize, Skew, Snapshot, Volatility}

/** Core relational operator inventory (SURVEY.md §2.2–§2.9) expressed over
  * the driver's TPC-H-ish lake, each with a DuckDB oracle.
  *
  * Cross-engine determinism conventions (driver hash-compares values):
  *  - money/measure sums go through DECIMAL(18,2) (exact, order-independent)
  *    and surface as DOUBLE;
  *  - computed ratios/stddevs surface as FLOAT (REAL) — a 1-ulp double
  *    divergence between engines cannot survive the downcast;
  *  - computed integers surface as BIGINT;
  *  - every result has a total ORDER BY on non-null key columns;
  *  - divisions are nullif-guarded on both sides (Spark ANSI mode).
  */
object RelationalQueries {

  import QuerySql.d2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A-family aggregations + flagship (SURVEY §2.6) ──────────────────
    "q1_pricing_summary" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(d2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(d2(col("l_extendedprice")) * d2(lit(1) - col("l_discount"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(d2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "a1_watermark_max" -> ((s, dir) =>
      Tables.orders(s, dir).agg(max(col("o_orderdate")).as("max_order_date"))),

    "a2_watermark_year" -> ((s, dir) =>
      Tables.orders(s, dir).agg(year(max(col("o_orderdate"))).cast("long").as("max_year"))),

    "a3_grouped_watermarks" -> ((s, dir) =>
      Merge.watermarks(Tables.orders(s, dir), "o_custkey", "o_orderdate")
        .withColumnRenamed("latest_o_orderdate", "latest_date")
        .orderBy(col("o_custkey"))),

    "a5_distinct_years" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(year(col("l_shipdate")).cast("long").as("ship_year"))
        .distinct().orderBy(col("ship_year"))),

    "a6_dedup_by_key" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(min(col("o_orderkey")).as("keeper_orderkey"), count(lit(1)).as("n_rows"))
        .orderBy(col("o_custkey"), col("o_orderdate"))),

    "a7_null_audit" -> ((s, dir) =>
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_rows"),
        count(when(col("o_custkey").isNull, 1)).as("null_custkey"),
        count(when(col("o_orderdate").isNull, 1)).as("null_orderdate"),
        countDistinct(col("o_orderkey")).as("distinct_orderkey"))),

    "dq_gate_lineitem" -> ((s, dir) => {
      val audit = Quality.nullAudit(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_shipdate", "l_quantity"))
      val li = Tables.lineitem(s, dir)
      Attach(audit, li.agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price")))
    }),

    // ── Declarative expectation suite (Great-Expectations shape): six
    // rules over orders — row-local predicates fold into ONE scan,
    // uniqueness is one groupBy, referential integrity one anti-join.
    // Two rules are deliberately tight (price cap, closed-status
    // domain) so the audit exercises both verdicts.
    "dq_expectations" -> ((s, dir) =>
      Quality.expectations(Tables.orders(s, dir),
          rowRules = Seq(
            "o_orderkey_not_null" -> col("o_orderkey").isNull,
            "o_totalprice_range" ->
              (col("o_totalprice") < 0 || col("o_totalprice") > 400000),
            "o_orderstatus_closed" -> !col("o_orderstatus").isin("O", "F"),
            "o_priority_format" -> !col("o_orderpriority").rlike("^[1-5]-")),
          uniqueKeys = Seq("o_orderkey_unique" -> Seq("o_orderkey")),
          refIntegrity = Seq(
            ("o_custkey_in_customer", Tables.customer(s, dir), "o_custkey", "c_custkey")))
        .orderBy(col("rule"))),

    // ── Exact two-sample KS statistic: did the order-value distribution
    // move across the 1998 boundary? The continuous drift gate beside
    // dq_psi_drift's categorical one — max ECDF gap over the union of
    // observed prices, distinct-value histograms first so the window
    // ranges over values, never rows.
    "dq_ks_drift" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      Quality.ksDrift(o.filter(col("o_orderdate") < "1998-01-01"),
        o.filter(col("o_orderdate") >= "1998-01-01"), "o_totalprice")
    }),

    // KS's integral-norm sibling on the same split: CvM accumulates the
    // squared ECDF gap over every pooled observation, so a broad mild
    // shift with no single large gap still scores; per-value terms
    // quantize to DECIMAL(30,12) so the float sum replays exactly.
    "dq_cvm_drift" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      Quality.cvmDrift(o.filter(col("o_orderdate") < "1998-01-01"),
        o.filter(col("o_orderdate") >= "1998-01-01"), "o_totalprice")
    }),

    // ── Bucket-checksum reconciliation: orders vs a deterministically
    // damaged copy (one key in 997 dropped, one price in 1000 bumped a
    // cent) — the data-diff pattern localizes the damage to its md5 key
    // buckets from |buckets| (count, checksum) rows; clean buckets are
    // proven equal without row-level work. Doubles travel as integer
    // cents per the op's engine-portable-string contract.
    "reconcile_bucket_checksums" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("pc"),
        col("o_orderdate").cast("date").as("d"))
      val damaged = base.filter(col("o_orderkey") % 997 =!= 0)
        .withColumn("pc", when(col("o_orderkey") % 1000 === 0,
          col("pc") + 1).otherwise(col("pc")))
      graft.ops.Reconcile.bucketChecksums(base, damaged,
          key = "o_orderkey",
          cols = Seq("o_orderkey", "o_orderstatus", "pc", "d"), buckets = 64)
        .orderBy(col("bucket"))
    }),

    // ── Window family (SURVEY §2.5) ─────────────────────────────────────
    // (l_orderkey, l_linenumber) is NOT unique in this lake — the window
    // order and the output order both carry the full identifying tuple so
    // ties cannot reorder across engines.
    "w1_lag_return" -> ((s, dir) =>
      Returns.lagReturn(Tables.lineitem(s, dir),
          partition = Seq("l_partkey"),
          order = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_suppkey"),
          value = "l_extendedprice", out = "ret")
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"), col("ret").cast("float").as("ret"))
        .orderBy(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"), col("l_suppkey"))),

    "w2_rolling_vol" -> ((s, dir) =>
      Volatility.rollingStd(Tables.events(s, dir),
          partition = Seq("user_id"), order = Seq("ts", "event_id"),
          value = "value", window = 30, out = "rolling_vol")
        .select(col("user_id"), col("event_id"),
          col("rolling_vol").cast("float").as("rolling_vol"))
        .orderBy(col("user_id"), col("event_id"))),

    // ── Truncated EWMA (RiskMetrics smoother) per user series: 20
    // explicit lags with literal α(1−α)^i weights, renormalized over
    // the PRESENT lags — the scalable, engine-replayable form of the
    // sequential recursion (see Volatility.ewma's scaladoc).
    "w_ewma_riskmetrics" -> ((s, dir) =>
      Volatility.ewma(Tables.events(s, dir), partition = Seq("user_id"),
          order = Seq("ts", "event_id"), value = "value",
          alpha = 0.1, lags = 20)
        .select(col("user_id"), col("event_id"),
          col("ewma").cast("float").as("ewma"))
        .orderBy(col("user_id"), col("event_id"))),

    "w3_cum_return" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("r", col("value") / lit(1000.0))
      Returns.cumulativeReturn(e,
          partition = Seq("user_id"), order = Seq("ts", "event_id"),
          ret = "r", out = "cum_return")
        .select(col("user_id"), col("event_id"),
          col("cum_return").cast("float").as("cum_return"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Exact windowed cumprod via the custom ProductAgg UDAF — the
    // numerically exact counterpart of w3 (DuckDB oracles it with its
    // native windowed product()).
    "w3_cum_return_exact" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("r", col("value") / lit(1000.0))
      Returns.cumulativeReturnExact(e,
          partition = Seq("user_id"), order = Seq("ts", "event_id"),
          ret = "r", out = "cum_return")
        .select(col("user_id"), col("event_id"),
          col("cum_return").cast("float").as("cum_return"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "w4_latest_order" -> ((s, dir) =>
      Snapshot.latestPerKey(Tables.orders(s, dir),
          keys = Seq("o_custkey"), order = Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_custkey"))),

    "w5_final_snapshot" -> ((s, dir) =>
      Snapshot.finalValueByKey(Tables.orders(s, dir),
          key = "o_custkey", value = "o_totalprice",
          order = Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("last_o_totalprice").as("last_price"),
          col("last_o_orderdate").as("last_order_date"), col("n_rows").as("n_orders"))
        .orderBy(col("o_custkey"))),

    // ── Joins (SURVEY §2.4) ─────────────────────────────────────────────
    "j1_incremental_load" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val wm = Merge.watermarks(
        o.filter(col("o_orderdate") < lit("2001-01-01").cast("timestamp")),
        "o_custkey", "o_orderdate")
      Merge.incrementalFilter(o, wm, "o_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // PlanAudit sf0.01 and sf0.1: 1 exch/2 bcast with these hints, 3/0 without
    "j2_dim_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))),

    "j3_relative_series" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts_utc")).as("day"), col("event_type"))
        .agg((sum(d2(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
      Returns.relativeReturns(daily, axis = "day", seriesCol = "event_type",
          base = "click", comp = "purchase", value = "avg_value")
        .select(col("day"), col("pct_diff").cast("float").as("pct_diff"))
        .orderBy(col("day"))
    }),

    // ── W6: last element of the ordered relative series ────────────────
    "w6_final_relative" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts_utc")).as("day"), col("event_type"))
        .agg((sum(d2(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
      Returns.relativeReturns(daily, axis = "day", seriesCol = "event_type",
          base = "click", comp = "purchase", value = "avg_value")
        .agg(max_by(col("pct_diff"), col("day")).cast("float").as("final_pct_diff"))
    }),

    // ── Filters / projections / scalar functions (SURVEY §2.2, §2.3) ───
    "p10_filtered_scan" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate").between(
            lit("1997-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_shipdate"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_extendedprice"), col("l_returnflag"))),

    "p13_fill_compound" -> ((s, dir) =>
      Returns.lagReturn(Tables.events(s, dir),
          partition = Seq("user_id"), order = Seq("ts", "event_id"),
          value = "value", out = "r")
        .select(col("user_id"), col("event_id"),
          coalesce(col("r"), lit(0.0)).cast("float").as("ret_filled"),
          (lit(1.0) + coalesce(col("r"), lit(0.0))).cast("float").as("growth"))
        .orderBy(col("user_id"), col("event_id"))),

    "f_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          expr("replace(p_brand, '#', '-')").as("brand_norm"),
          trim(col("p_type")).as("type_trim"),
          length(col("p_name")).cast("long").as("name_len"),
          abs(col("p_retailprice") - lit(1000.0)).as("price_dev"))
        .orderBy(col("p_partkey"))),

    "f_datetime_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_ds"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          month(col("o_orderdate")).cast("long").as("order_month"),
          dayofmonth(col("o_orderdate")).cast("long").as("order_day"))
        .orderBy(col("o_orderkey"))),

    "json_extract_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))),

    // ── Sort / top-k / set ops (SURVEY §2.7, §2.8) ──────────────────────
    "o3_top_movers" -> ((s, dir) =>
      Snapshot.topK(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_name"), col("c_acctbal")),
          by = "c_acctbal", k = 20, tiebreak = "c_custkey")),

    "u1_union_dedup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val a = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      val b = li.filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      a.unionByName(b).distinct()
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    }),

    // ── As-of join: latest purchase at-or-before each click ────────────
    "asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOf(clicks, purchases, on = "ts", by = Seq("user_id"),
          valueCols = Seq("value"))
        .select(col("user_id"), col("event_id"),
          col("asof_value").cast("float").as("asof_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Nearest as-of: closer of the backward/forward purchase, ties
    // to backward (pandas direction='nearest') — both directions run
    // over the ONE key exchange.
    "asof_join_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOf(clicks, purchases, on = "ts", by = Seq("user_id"),
          valueCols = Seq("value"), direction = "nearest")
        .select(col("user_id"), col("event_id"),
          col("asof_value").cast("float").as("asof_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Tolerance-bounded as-of: the backward match stands only within
    // one hour — stale quotes gate to null instead of silently matching
    // (pandas merge_asof tolerance).
    "asof_join_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOf(clicks, purchases, on = "ts", by = Seq("user_id"),
          valueCols = Seq("value"),
          tolerance = Some(3600L * 1000000000L))
        .select(col("user_id"), col("event_id"),
          col("asof_value").cast("float").as("asof_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Upsert: incoming batch replaces colliding keys ─────────────────
    // existing = pre-1997 orders, incoming = 1996+ orders → the 1996
    // overlap is replaced by the incoming copy; incoming duplicates on
    // (custkey, orderdate) collapse to the max-orderkey row.
    "merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val existing = o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val incoming = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      Merge.upsert(existing, incoming,
          keys = Seq("o_custkey", "o_orderdate"), tiebreak = "o_orderkey")
        .orderBy(col("o_orderkey"))
    }),

    // ── Bloom-prefiltered semi-join: lineitem against the urgent
    // high-value order keys. The sketch probe cuts the fact side before
    // its shuffle; the exact semi-join over survivors makes the result
    // row-for-row the plain semi-join the oracle runs (no false
    // negatives; false positives evicted by the join).
    "bloom_semi_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val hot = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      RuntimeFilter.semiJoinWithBloom(li, hot,
          bigKey = "l_orderkey", smallKey = "o_orderkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── Incremental materialized-view refresh: the pre-1997 rollup is
    // the "materialized" state; 1997+ orders are the insert-only delta.
    // mergeAggregates combines the two aggregate frames without touching
    // the base — and the oracle PROVES the maintained MV equals the
    // full recompute over the whole table. Integer cents keep the sums
    // exactly portable.
    "mv_incremental_refresh" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"), col("yr"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"),
            max(col("o_orderdate")).as("latest_date"))
      val cutoff = lit("1997-01-01").cast("timestamp")
      val mv = rollup(o.filter(col("o_orderdate") < cutoff))
      val deltaAgg = rollup(o.filter(col("o_orderdate") >= cutoff))
      Merge.mergeAggregates(mv, deltaAgg, keys = Seq("o_orderpriority", "yr"),
          kinds = Map("n_orders" -> "count", "total_cents" -> "sum",
            "latest_date" -> "max"))
        .orderBy(col("o_orderpriority"), col("yr"))
    }),

    // ── Incremental JOIN-view refresh, composed with the aggregate
    // merge — the full IVM stack: V = orders⋈customer rolled up to
    // (segment, yr); new orders (1997+) AND a late customer batch
    // (custkey ≡ 0 mod 10) arrive as insert-only deltas. The join
    // delta ΔA⋈(B∪ΔB) ∪ A⋈ΔB feeds the same rollup, merged via
    // mergeAggregates — and the oracle PROVES the maintained view
    // equals the full recompute over the whole join. Neither refresh
    // leg ever re-joins old×old.
    "mv_join_delta_refresh" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_custkey").as("custkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val c = Tables.customer(s, dir).select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val cutoff = lit("1997-01-01").cast("timestamp")
      val aOld = o.filter(col("o_orderdate") < cutoff)
      val aDelta = o.filter(col("o_orderdate") >= cutoff)
      val bOld = c.filter(pmod(col("custkey"), lit(10)) =!= 0)
      val bDelta = c.filter(pmod(col("custkey"), lit(10)) === 0)
      def rollup(j: org.apache.spark.sql.DataFrame) =
        j.groupBy(col("c_mktsegment"), col("yr"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("total_cents"))
      val mv = rollup(aOld.join(bOld, Seq("custkey")))
      val dv = Merge.joinViewDelta(aOld, aDelta, bOld, bDelta,
        Seq("custkey"))
      Merge.mergeAggregates(mv, rollup(dv),
          keys = Seq("c_mktsegment", "yr"),
          kinds = Map("n_orders" -> "count", "total_cents" -> "sum"))
        .orderBy(col("c_mktsegment"), col("yr"))
    }),

    // ── Long→wide pivot with a declared column set (single pass) ───────
    "p_pivot_daily" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts_utc")).as("day"), col("event_type"))
        .agg((sum(d2(col("value"))).cast("double") / count(lit(1)))
          .cast("float").as("avg_value"))
      Reshape.pivot(daily, id = "day", varName = "event_type",
          valueName = "avg_value",
          values = Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("day"))
    }),

    // ── Salted replicate-join ≡ plain join (hot-key mitigation) ────────
    "skew_salted_join" -> ((s, dir) => {
      val big = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_acctbal"))
      Skew.saltedJoin(big, small, keys = Seq("o_custkey"),
          bigDiscriminator = "o_orderkey", salts = 8)
        .orderBy(col("o_orderkey"))
    }),

    // ── Salted two-phase aggregation ≡ straight aggregation ────────────
    "skew_salted_agg" -> ((s, dir) =>
      Skew.saltedAggregate(Tables.lineitem(s, dir),
          keys = Seq("l_returnflag"), discriminator = "l_orderkey", salts = 8,
          partialAggs = Seq(sum(d2(col("l_quantity"))).as("__s"), count(lit(1)).as("__c")),
          finalAggs = Seq(sum(col("__s")).cast("double").as("sum_qty"),
            sum(col("__c")).as("n_rows")))
        .orderBy(col("l_returnflag"))),

    // ── Micro-batch equivalent of the streaming tumbling agg (§2.10) ───
    "stream_tumbling_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts_utc")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(d2(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("hour"), col("event_type"))),

    // ── Two-step funnel: signup → purchase within 7 days, per user, on
    // the micros grid; conversion flag + latency from one exchange.
    "funnel_signup_purchase" -> ((s, dir) =>
      Funnel.twoStep(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts_utc")).as("t_us")),
          key = "user_id", typeCol = "event_type", tsCol = "t_us",
          stepA = "signup", stepB = "purchase",
          horizon = 7L * 24 * 3600 * 1000000L)
        .select(col("user_id"), col("first_a").as("first_signup_us"),
          col("first_b").as("first_purchase_us"), col("converted"),
          col("latency").as("latency_us"))
        .orderBy(col("user_id"))),

    // ── Time-to-convert distribution: exact nearest-rank p50/p90/p99
    // of the signup→purchase latency, per signup-week cohort — the
    // funnel's "how fast", composed from the same Funnel.twoStep pass
    // plus Percentiles.nearestRank (integral micros, so the ranked
    // values are engine-exact).
    "funnel_time_to_convert" -> ((s, dir) => {
      val lat = Funnel.twoStep(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts_utc")).as("t_us")),
          key = "user_id", typeCol = "event_type", tsCol = "t_us",
          stepA = "signup", stepB = "purchase",
          horizon = 7L * 24 * 3600 * 1000000L)
        .filter(col("converted"))
        .select(expr("first_a div 604800000000L").as("cohort_week"),
          col("latency"))
      graft.ops.Percentiles.nearestRank(lat, keys = Seq("cohort_week"),
          value = "latency", ps = Seq(0.5, 0.9, 0.99))
        .select(col("cohort_week"), col("p"),
          col("pct_value").as("latency_us"))
        .orderBy(col("cohort_week"), col("p"))
    }),

    // N-step ordered funnel: signup → view → click → purchase, each
    // step within 48 hours of the previous (greedy earliest-completion
    // chain — n−1 conditional-min windows over ONE key exchange, no
    // self-joins). Output: steps reached + completion time per user.
    "funnel_ordered_steps" -> ((s, dir) =>
      Funnel.orderedFunnel(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts_utc")).as("t_us")),
          key = "user_id", typeCol = "event_type", tsCol = "t_us",
          steps = Seq("signup", "view", "click", "purchase"),
          maxGap = 48L * 3600L * 1000000L)
        .select(col("user_id"), col("reached").cast("long").as("reached"),
          col("t_final"))
        .orderBy(col("user_id"))),

    // ── Binned range join: events falling in each user's first-2h window.
    // Times in epoch MICROS (ts_utc), not raw nanos: DuckDB truncates
    // TIMESTAMP_NANOS to micros on read, so micros is the shared grid
    // both engines see identically. Bin = 30 min → each 2h interval
    // replicates to ≤5 bins; the join is a hash equi-join on bin id,
    // never a nested loop (see RangeJoin scaladoc).
    "range_join_user_windows" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("t_us", unix_micros(col("ts_utc")))
      val iv = ev.groupBy(col("user_id").as("iv_user"))
        .agg(min(col("t_us")).as("lo"))
        .withColumn("hi", col("lo") + lit(2L * 3600L * 1000000L))
      RangeJoin.pointInInterval(
          ev.select(col("t_us"), col("value")), "t_us",
          iv, "lo", "hi", binWidth = 30L * 60L * 1000000L)
        .groupBy(col("iv_user"))
        .agg(count(lit(1)).as("n_events"),
          sum(d2(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("iv_user"))
    }),

    // ── Batch sessionization: 30-min-gap sessions per user, rolled up.
    // One exchange+sort feeds gap detection, the session ordinal, and
    // (key-local) the rollup. event_id breaks timestamp ties so both
    // engines see identical window frames.
    "sessionize_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts_utc")).as("t_us"),
          col("event_id"), col("value"))
      Sessionize.assign(ev, "user_id", "t_us", "event_id",
          gap = 30L * 60L * 1000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          min(col("t_us")).as("session_start_us"),
          max(col("t_us")).as("session_end_us"),
          count(lit(1)).as("n_events"),
          sum(d2(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ── Referential-integrity audit: orphan counts across the lake's
    // three foreign keys — what a warehouse without enforced
    // constraints must MEASURE (a partial parent backfill silently
    // orphans children; downstream joins then drop them traceless).
    "dq_referential" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      Quality.referentialOrphans(li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "lineitem.orderkey->orders")
        .unionByName(Quality.referentialOrphans(li, "l_partkey",
          Tables.part(s, dir), "p_partkey", "lineitem.partkey->part"))
        .unionByName(Quality.referentialOrphans(Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey",
          "orders.custkey->customer"))
        .orderBy(col("fk"))
    }),

    // ── INCREMENTAL sessionization: the same 30-min rollup produced by
    // folding the post-cutoff batch's session frame into the standing
    // pre-cutoff rollup — session-granular merge arithmetic, no event
    // history rescan. Shares sessionize_events' full-recompute oracle:
    // the equality IS the claim. sum_value stays DECIMAL through the
    // merge (part-wise double adds would diverge from the recompute)
    // and casts at the surface.
    "sessionize_incremental" -> ((s, dir) => {
      val gap = 30L * 60L * 1000000L
      val cutoff = 1705400000000000L // 2024-01-16, mid-range of events
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts_utc")).as("t_us"),
          col("event_id"), col("value"))
      def roll(df: DataFrame) =
        Sessionize.assign(df, "user_id", "t_us", "event_id", gap)
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("t_us")).as("session_start"),
            max(col("t_us")).as("session_end"),
            count(lit(1)).as("n_events"),
            sum(d2(col("value"))).as("sum_value"))
      Sessionize.mergeSessions(
          roll(ev.filter(col("t_us") <= cutoff)),
          roll(ev.filter(col("t_us") > cutoff)),
          key = "user_id", gap = gap, sums = Seq("sum_value"))
        .select(col("user_id"), col("session_id"),
          col("session_start").as("session_start_us"),
          col("session_end").as("session_end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ── Max drawdown per series: running peak (order-free max) then the
    // worst value/peak ratio. Each ratio divides the SAME two doubles in
    // both engines (total order via event_id tiebreak), so min() over
    // them is exact; FLOAT downcast per the determinism convention.
    "w_drawdown" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("peak", max(col("value")).over(w))
        .groupBy(col("user_id"))
        .agg(
          min(col("value") / col("peak")).cast("float").as("max_drawdown"),
          count(lit(1)).as("n_points"))
        .orderBy(col("user_id"))
    }),

    // ── SMA crossover counter: 5-row vs 20-row moving averages per
    // series; golden/death crosses where the sign of (sma5 - sma20)
    // flips. Values go to exact integer cents; avg comparison is the
    // cross-multiplied integer inequality sum5*n20 > sum20*n5 — no
    // float division anywhere, so the flag (and its lag) is exact in
    // both engines. Same single exchange+sort serves all four frames
    // and the lag.
    "w_sma_crossover" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (d2(col("value")) * 100).cast("long").as("cents"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wS = ord.rowsBetween(-4, 0)
      val wL = ord.rowsBetween(-19, 0)
      val flagged = ev
        .withColumn("above",
          sum(col("cents")).over(wS) * count(lit(1)).over(wL) >
            sum(col("cents")).over(wL) * count(lit(1)).over(wS))
        .withColumn("prev_above", lag(col("above"), 1).over(ord))
      flagged.groupBy(col("user_id"))
        .agg(
          count(when(col("above") && !col("prev_above"), 1)).as("n_golden_crosses"),
          count(when(!col("above") && col("prev_above"), 1)).as("n_death_crosses"))
        .orderBy(col("user_id"))
    }),

    // ── SCD Type-2: collapse each customer's order-priority observations
    // into validity intervals. One exchange on o_custkey serves the
    // change-detection windows, the version rollup, and the closing lead.
    "scd2_priority" -> ((s, dir) =>
      Scd.type2(
          Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
            col("o_orderkey"), col("o_orderpriority")),
          key = "o_custkey", tsCol = "o_orderdate", tieCol = "o_orderkey",
          attrCol = "o_orderpriority")
        .orderBy(col("o_custkey"), col("version"))),

    // Point-in-time SCD2 lookup: which version was valid on a given
    // date, per key — composed as probe-frame AS-OF JOIN against the
    // history's valid_from (backward semantics), while the oracle runs
    // the interval-containment filter: the query IS the equivalence
    // proof between the two standard PIT formulations. Same-date
    // version stacks resolve to the highest version on both sides.
    "scd2_asof_lookup" -> ((s, dir) => {
      val hist = Scd.type2(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_orderpriority")),
        key = "o_custkey", tsCol = "o_orderdate", tieCol = "o_orderkey",
        attrCol = "o_orderpriority")
      val probes = hist.select(col("o_custkey")).distinct()
        .withColumn("pit", lit("1997-06-30").cast("timestamp"))
      AsOfJoin.asOf(probes,
          hist.select(col("o_custkey"), col("valid_from").as("pit"),
            col("version"), col("o_orderpriority")),
          on = "pit", by = Seq("o_custkey"),
          valueCols = Seq("version", "o_orderpriority"))
        .filter(col("asof_version").isNotNull)
        .select(col("o_custkey"), col("asof_version").as("version"),
          col("asof_o_orderpriority").as("priority_at_pit"))
        .orderBy(col("o_custkey"))
    }),

    // ── Daily cohort retention triangle over events. Integral periods
    // (epoch-nanos div day) — exact and engine-portable; the per-user
    // pass is one groupBy whose state is bounded by #periods, not volume.
    "cohort_retention" -> ((s, dir) =>
      Cohort.retention(Tables.events(s, dir).select(col("user_id"), col("ts")),
          key = "user_id", tsCol = "ts",
          periodLen = 86400L * 1000000000L)
        .orderBy(col("cohort_period"), col("period_offset"))),

    // ── Multi-touch attribution: click/view touches credit the user's
    // next purchase within 2 days under first/last/linear models in one
    // pass. One user-hash window finds each touch's conversion; ties
    // pinned by (ts, event_id); the linear split re-quantizes to
    // DECIMAL(20,12) before the channel rollup.
    "attribution_multitouch" -> ((s, dir) =>
      Attribution.multiTouch(Tables.events(s, dir), key = "user_id",
          tsCol = "ts", tieCol = "event_id", typeCol = "event_type",
          valueCol = "value", touchTypes = Seq("click", "view"),
          convType = "purchase", windowTicks = 2L * 86400000000000L)
        .orderBy(col("channel"))),

    // ── Kaplan–Meier survival per signup-week cohort: lifetime = days
    // between a user's first and last event; users still active in the
    // lake's final week are right-CENSORED, not churned — the curve the
    // retention triangle cannot give you without bias. Factors are
    // count ratios; the running product is the exact ProductAgg window
    // fold, mirrored by DuckDB's windowed product().
    "cohort_survival" -> ((s, dir) => {
      val day = 86400000000000L
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"), max(col("ts")).as("__last"))
      val bounds = Tables.events(s, dir).agg(max(col("ts")).as("__edge"))
      val subjects = Attach(perUser, bounds)
        .select(
          expr(s"__first div ${7 * day}L").as("cohort_week"),
          expr(s"(__last - __first) div ${day}L").as("duration_days"),
          (col("__last") <= col("__edge") - lit(7 * day)).cast("long")
            .as("observed"))
      Cohort.kaplanMeier(subjects, cohort = "cohort_week",
          duration = "duration_days", observed = "observed")
        .select(col("cohort").as("cohort_week"), col("t").as("duration_days"),
          col("n_risk"), col("n_event"), col("n_censored"), col("survival"))
        .orderBy(col("cohort_week"), col("duration_days"))
    }),

    // ── Rolling z-score anomalies: each point vs its own trailing-20
    // baseline (strictly before it), flagged at |z| > 3 after the FLOAT
    // downcast so a 1-ulp double divergence cannot flip the cut.
    "anomaly_zscore" -> ((s, dir) =>
      Anomaly.rollingZ(
          Tables.events(s, dir).select(col("user_id"), col("ts"),
            col("event_id"), col("value")),
          partition = Seq("user_id"), order = Seq("ts", "event_id"),
          value = "value", window = 20, minSamples = 5, threshold = 3.0)
        .filter(col("is_anomaly"))
        .select(col("user_id"), col("event_id"), col("value"), col("z"))
        .orderBy(col("user_id"), col("event_id"))),

    // ── Robust (median/MAD) anomalies per user: the outlier-resistant
    // complement of anomaly_zscore — extreme points can't inflate the
    // baseline they're judged against (50% breakdown vs stddev's 0).
    // Iglewicz–Hoaglin modified z, |M| > 3.5 after the float downcast.
    "anomaly_robust_z" -> ((s, dir) =>
      Anomaly.robustZ(
          Tables.events(s, dir).select(col("user_id"), col("event_id"),
            col("value")),
          keys = Seq("user_id"), value = "value")
        .filter(col("is_anomaly"))
        .select(col("user_id"), col("event_id"), col("value"), col("robust_z"))
        .orderBy(col("user_id"), col("event_id")))
  )

  /** SCD2 replay CTEs (change flags → versions → rolled intervals),
    * shared by the `scd2_priority` history oracle and the
    * `scd2_asof_lookup` point-in-time oracle. */
  private val scd2Ctes =
    """c AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |        CASE WHEN row_number() OVER w = 1
      |          OR o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w
      |          THEN 1 ELSE 0 END AS chg
      |       FROM orders
      |       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      | v AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
      |          AS BIGINT) AS version FROM c),
      | r AS (SELECT o_custkey, version, min(o_orderpriority) AS o_orderpriority,
      |         min(o_orderdate) AS valid_from, count(*) AS n_obs
      |       FROM v GROUP BY 1, 2)""".stripMargin

  /** Shared by sessionize_events, sessionize_incremental and the
    * streaming stream_sessionize_merge_live: every incremental/streaming
    * session fold claims exact equality with this from-scratch
    * sessionization, so all take the same oracle. */
  private[queries] val sessionizeFullRecomputeSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events),
      | s AS (SELECT *, CASE WHEN t - lag(t) OVER
      |         (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS brk FROM e),
      | g AS (SELECT user_id, t, value,
      |        CAST(1 + sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |       FROM s)
      |SELECT user_id, session_id, min(t) AS session_start_us,
      | max(t) AS session_end_us, count(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "a1_watermark_max" ->
      "SELECT max(o_orderdate) AS max_order_date FROM orders",

    "a2_watermark_year" ->
      "SELECT CAST(year(max(o_orderdate)) AS BIGINT) AS max_year FROM orders",

    "a3_grouped_watermarks" ->
      """SELECT o_custkey, max(o_orderdate) AS latest_date
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "a5_distinct_years" ->
      """SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |FROM lineitem ORDER BY ship_year""".stripMargin,

    "a6_dedup_by_key" ->
      """SELECT o_custkey, o_orderdate, min(o_orderkey) AS keeper_orderkey, count(*) AS n_rows
        |FROM orders GROUP BY o_custkey, o_orderdate
        |ORDER BY o_custkey, o_orderdate""".stripMargin,

    "a7_null_audit" ->
      """SELECT count(*) AS n_rows,
        | count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        | count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_orderdate,
        | count(DISTINCT o_orderkey) AS distinct_orderkey
        |FROM orders""".stripMargin,

    "dq_gate_lineitem" ->
      """SELECT count(*) AS n_rows,
        | count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS null_l_orderkey,
        | count(CASE WHEN l_partkey IS NULL THEN 1 END) AS null_l_partkey,
        | count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_l_shipdate,
        | count(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_l_quantity,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | min(l_extendedprice) AS min_price
        |FROM lineitem""".stripMargin,

    // chr(1)/chr(2) replay the  field separator and NULL
    // marker; all four columns are non-null in this lake so the null
    // branch never fires on either engine
    "reconcile_bucket_checksums" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |     CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
        |     CAST(o_orderdate AS DATE) AS d
        |   FROM orders),
        | bb AS (SELECT o_orderkey, o_orderstatus,
        |     CASE WHEN o_orderkey % 1000 = 0 THEN pc + 1 ELSE pc END AS pc, d
        |   FROM base WHERE o_orderkey % 997 <> 0),
        | fa AS (SELECT
        |     CAST(concat('0x', substr(md5(concat('ck:',
        |       CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 64 AS bucket,
        |     CAST(concat('0x', substr(md5(
        |       CAST(o_orderkey AS VARCHAR) || chr(1) ||
        |       CAST(o_orderstatus AS VARCHAR) || chr(1) ||
        |       CAST(pc AS VARCHAR) || chr(1) ||
        |       CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) AS t
        |   FROM base),
        | fb AS (SELECT
        |     CAST(concat('0x', substr(md5(concat('ck:',
        |       CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 64 AS bucket,
        |     CAST(concat('0x', substr(md5(
        |       CAST(o_orderkey AS VARCHAR) || chr(1) ||
        |       CAST(o_orderstatus AS VARCHAR) || chr(1) ||
        |       CAST(pc AS VARCHAR) || chr(1) ||
        |       CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) AS t
        |   FROM bb),
        | ga AS (SELECT bucket, count(*) AS n_a, sum(t) AS sum_a FROM fa GROUP BY 1),
        | gb AS (SELECT bucket, count(*) AS n_b, sum(t) AS sum_b FROM fb GROUP BY 1)
        |SELECT COALESCE(ga.bucket, gb.bucket) AS bucket,
        |  CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
        |  CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
        |  CAST(COALESCE(sum_a, 0) AS BIGINT) AS checksum_a,
        |  CAST(COALESCE(sum_b, 0) AS BIGINT) AS checksum_b,
        |  (COALESCE(n_a, 0) = COALESCE(n_b, 0) AND
        |   COALESCE(sum_a, 0) = COALESCE(sum_b, 0)) AS bucket_match
        |FROM ga FULL JOIN gb ON ga.bucket = gb.bucket
        |ORDER BY bucket""".stripMargin,

    "dq_ks_drift" ->
      """WITH b AS (SELECT o_totalprice AS v, count(*) AS c1 FROM orders
        |     WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1),
        | c AS (SELECT o_totalprice AS v, count(*) AS c2 FROM orders
        |     WHERE o_orderdate >= DATE '1998-01-01' GROUP BY 1),
        | j AS (SELECT COALESCE(b.v, c.v) AS v, COALESCE(c1, 0) AS c1,
        |         COALESCE(c2, 0) AS c2
        |       FROM b FULL JOIN c ON b.v = c.v),
        | t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM j),
        | cum AS (SELECT v,
        |     sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) AS f1,
        |     sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) AS f2
        |   FROM j)
        |SELECT CAST(max(abs(CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |    CAST(f2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS REAL) AS ks_stat,
        |  CAST(max(n1) AS BIGINT) AS n_base, CAST(max(n2) AS BIGINT) AS n_cur
        |FROM cum CROSS JOIN t""".stripMargin,

    // same ledger, same ECDFs; the squared-gap terms quantize to
    // DECIMAL(30,12) before the sum (order-independent), and the
    // n1*n2/(n1+n2)^2 scaling replays Spark's operation order
    "dq_cvm_drift" ->
      """WITH b AS (SELECT o_totalprice AS v, count(*) AS c1 FROM orders
        |     WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1),
        | c AS (SELECT o_totalprice AS v, count(*) AS c2 FROM orders
        |     WHERE o_orderdate >= DATE '1998-01-01' GROUP BY 1),
        | j AS (SELECT COALESCE(b.v, c.v) AS v, COALESCE(c1, 0) AS c1,
        |         COALESCE(c2, 0) AS c2
        |       FROM b FULL JOIN c ON b.v = c.v),
        | t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM j),
        | cum AS (SELECT v, c1, c2,
        |     sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) AS f1,
        |     sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) AS f2
        |   FROM j),
        | g AS (SELECT c1, c2,
        |     CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |       CAST(f2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS gap,
        |     n1, n2
        |   FROM cum CROSS JOIN t)
        |SELECT CAST(CAST(n1 * n2 AS DOUBLE) /
        |    (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)) *
        |    CAST(sum(CAST(CAST(c1 + c2 AS DOUBLE) * gap * gap
        |      AS DECIMAL(30,12))) AS DOUBLE) AS REAL) AS cvm_stat,
        |  CAST(max(n1) AS BIGINT) AS n_base, CAST(max(n2) AS BIGINT) AS n_cur
        |FROM g GROUP BY n1, n2""".stripMargin,

    // null predicates count as violations (coalesce TRUE) on both sides
    "dq_expectations" ->
      """WITH a AS (
        | SELECT 'o_orderkey_not_null' AS rule,
        |   count(CASE WHEN coalesce(o_orderkey IS NULL, TRUE) THEN 1 END) AS n_violations
        | FROM orders
        | UNION ALL
        | SELECT 'o_totalprice_range',
        |   count(CASE WHEN coalesce(o_totalprice < 0 OR o_totalprice > 400000, TRUE) THEN 1 END)
        | FROM orders
        | UNION ALL
        | SELECT 'o_orderstatus_closed',
        |   count(CASE WHEN coalesce(NOT o_orderstatus IN ('O', 'F'), TRUE) THEN 1 END)
        | FROM orders
        | UNION ALL
        | SELECT 'o_priority_format',
        |   count(CASE WHEN coalesce(NOT regexp_matches(o_orderpriority, '^[1-5]-'), TRUE) THEN 1 END)
        | FROM orders
        | UNION ALL
        | SELECT 'o_orderkey_unique',
        |   CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        | FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        | UNION ALL
        | SELECT 'o_custkey_in_customer', count(*)
        | FROM orders o
        | WHERE o.o_custkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT rule, n_violations, n_violations = 0 AS passed
        |FROM a ORDER BY rule""".stripMargin,

    "w1_lag_return" ->
      """SELECT l_partkey, l_orderkey, l_linenumber, l_suppkey,
        | CAST((l_extendedprice - lag(l_extendedprice) OVER w)
        |      / nullif(lag(l_extendedprice) OVER w, 0) AS REAL) AS ret
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_partkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_suppkey)
        |ORDER BY l_partkey, l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_suppkey""".stripMargin,

    "w2_rolling_vol" ->
      """SELECT user_id, event_id,
        | CAST(stddev_samp(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS REAL) AS rolling_vol
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    // weight literals are the Scala doubles' round-trip strings, cast
    // DOUBLE explicitly (a bare decimal literal would land as DECIMAL);
    // term order and left-assoc addition mirror the Spark fold exactly
    "w_ewma_riskmetrics" -> {
      val weights = (0 until 20).map(i => 0.1 * math.pow(0.9, i))
      def lagExpr(i: Int) = if (i == 0) "value" else s"lag(value, $i) OVER w"
      val num = weights.zipWithIndex.map { case (wt, i) =>
        s"(CASE WHEN ${lagExpr(i)} IS NOT NULL THEN CAST($wt AS DOUBLE) * ${lagExpr(i)} ELSE 0 END)"
      }.mkString(" + ")
      val den = weights.zipWithIndex.map { case (wt, i) =>
        s"(CASE WHEN ${lagExpr(i)} IS NOT NULL THEN CAST($wt AS DOUBLE) ELSE 0 END)"
      }.mkString(" + ")
      s"""SELECT user_id, event_id,
         | CAST(CASE WHEN value IS NOT NULL THEN ($num) / ($den) END AS REAL) AS ewma
         |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, event_id""".stripMargin
    },

    // the CASE mirrors the Spark-side wipeout clamp (a factor <= 0 zeroes
    // everything after); the inner CASE keeps ln() off non-positive
    // factors — those rows are clamped by the outer CASE anyway
    "w3_cum_return" ->
      """SELECT user_id, event_id,
        | CAST(CASE WHEN min(1 + value / CAST(1000 AS DOUBLE)) OVER w <= 0 THEN 0
        |   ELSE exp(sum(ln(CASE WHEN 1 + value / CAST(1000 AS DOUBLE) > 0
        |                        THEN 1 + value / CAST(1000 AS DOUBLE)
        |                        ELSE 1 END)) OVER w)
        |   END AS REAL) AS cum_return
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "w3_cum_return_exact" ->
      """SELECT user_id, event_id,
        | CAST(product(1 + value / CAST(1000 AS DOUBLE))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS cum_return
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "w4_latest_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
        | SELECT *, row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "w5_final_snapshot" ->
      """SELECT o_custkey,
        | max(CASE WHEN rn = 1 THEN o_totalprice END) AS last_price,
        | max(o_orderdate) AS last_order_date,
        | count(*) AS n_orders
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "j1_incremental_load" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderdate
        |FROM orders o LEFT JOIN (
        | SELECT o_custkey, max(o_orderdate) AS latest_date FROM orders
        | WHERE o_orderdate < TIMESTAMP '2001-01-01' GROUP BY o_custkey) w
        |ON o.o_custkey = w.o_custkey
        |WHERE w.latest_date IS NULL OR o.o_orderdate > w.latest_date
        |ORDER BY o.o_orderkey""".stripMargin,

    "j2_dim_join" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,

    "j3_relative_series" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        | FROM events GROUP BY 1, 2)
        |SELECT b.day AS day,
        | CAST(CAST(100 AS DOUBLE) * (b.avg_value - c.avg_value) AS REAL) AS pct_diff
        |FROM daily b JOIN daily c ON b.day = c.day
        |WHERE b.event_type = 'click' AND c.event_type = 'purchase'
        |ORDER BY day""".stripMargin,

    "w6_final_relative" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        | FROM events GROUP BY 1, 2),
        |rel AS (
        | SELECT b.day AS day, CAST(100 AS DOUBLE) * (b.avg_value - c.avg_value) AS pct_diff
        | FROM daily b JOIN daily c ON b.day = c.day
        | WHERE b.event_type = 'click' AND c.event_type = 'purchase')
        |SELECT CAST(arg_max(pct_diff, day) AS REAL) AS final_pct_diff FROM rel""".stripMargin,

    "p10_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R')
        |  AND l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1998-12-31'
        |ORDER BY l_orderkey, l_linenumber, l_shipdate, l_extendedprice, l_returnflag""".stripMargin,

    "p13_fill_compound" ->
      """SELECT user_id, event_id,
        | CAST(coalesce((value - lag(value) OVER w) / nullif(lag(value) OVER w, 0), 0) AS REAL) AS ret_filled,
        | CAST(1 + coalesce((value - lag(value) OVER w) / nullif(lag(value) OVER w, 0), 0) AS REAL) AS growth
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "f_string_funcs" ->
      """SELECT p_partkey, lower(p_name) AS name_lower,
        | replace(p_brand, '#', '-') AS brand_norm,
        | trim(p_type) AS type_trim,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | abs(p_retailprice - CAST(1000 AS DOUBLE)) AS price_dev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "f_datetime_funcs" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_ds,
        | CAST(year(o_orderdate) AS BIGINT) AS order_year,
        | CAST(month(o_orderdate) AS BIGINT) AS order_month,
        | CAST(day(o_orderdate) AS BIGINT) AS order_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "json_extract_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "o3_top_movers" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 20""".stripMargin,

    "u1_union_dedup" ->
      """SELECT DISTINCT l_orderkey, l_linenumber, l_shipdate FROM (
        | SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1999-01-01'
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01') t
        |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin,

    "asof_join" ->
      """SELECT c.user_id, c.event_id, CAST(p.value AS REAL) AS asof_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    // nearest = closer of the two native ASOF directions, backward on ties
    "asof_join_nearest" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn
        |           FROM events WHERE event_type = 'click'),
        | p AS (SELECT user_id, epoch_ns(ts) AS tsn, value
        |       FROM events WHERE event_type = 'purchase'),
        | b AS (SELECT c.event_id, p.tsn AS bts, p.value AS bval
        |       FROM c ASOF LEFT JOIN p
        |         ON c.user_id = p.user_id AND c.tsn >= p.tsn),
        | f AS (SELECT c.event_id, p.tsn AS fts, p.value AS fval
        |       FROM c ASOF LEFT JOIN p
        |         ON c.user_id = p.user_id AND c.tsn <= p.tsn)
        |SELECT c.user_id, c.event_id,
        | CAST(CASE WHEN b.bts IS NULL THEN f.fval
        |           WHEN f.fts IS NULL THEN b.bval
        |           WHEN c.tsn - b.bts <= f.fts - c.tsn THEN b.bval
        |           ELSE f.fval END AS REAL) AS asof_value
        |FROM c LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    // the backward match gated to one hour of staleness
    "asof_join_tolerance" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn
        |           FROM events WHERE event_type = 'click'),
        | p AS (SELECT user_id, epoch_ns(ts) AS tsn, value
        |       FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id,
        | CAST(CASE WHEN p.tsn IS NOT NULL AND c.tsn - p.tsn <= 3600000000000
        |           THEN p.value END AS REAL) AS asof_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsn >= p.tsn
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    "merge_upsert" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders),
        | ex AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        | inc AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
        | ded AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM (
        |   SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |     ORDER BY o_orderkey DESC) AS rn FROM inc) WHERE rn = 1)
        |SELECT * FROM (
        | SELECT * FROM ex WHERE NOT EXISTS (
        |   SELECT 1 FROM inc WHERE inc.o_custkey = ex.o_custkey
        |     AND inc.o_orderdate = ex.o_orderdate)
        | UNION ALL SELECT * FROM ded) t
        |ORDER BY o_orderkey""".stripMargin,

    // the bloom probe is an engine-side optimization, invisible to the
    // result: the oracle is the plain semi-join
    "bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the oracle is the FULL recompute — the equality that justifies
    // maintaining the rollup from deltas at all
    "mv_incremental_refresh" ->
      """SELECT o_orderpriority, year(o_orderdate) AS yr,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        | max(o_orderdate) AS latest_date
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderpriority, yr""".stripMargin,

    // full recompute over the whole join — the maintained view must
    // equal it exactly for the IVM identity to hold
    "mv_join_delta_refresh" ->
      """SELECT c.c_mktsegment, year(o.o_orderdate) AS yr,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2
        |ORDER BY c_mktsegment, yr""".stripMargin,

    "p_pivot_daily" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, event_type,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS REAL) AS v
        | FROM events GROUP BY 1, 2)
        |SELECT day,
        | max(CASE WHEN event_type = 'click' THEN v END) AS click,
        | max(CASE WHEN event_type = 'error' THEN v END) AS error,
        | max(CASE WHEN event_type = 'purchase' THEN v END) AS purchase,
        | max(CASE WHEN event_type = 'signup' THEN v END) AS signup,
        | max(CASE WHEN event_type = 'view' THEN v END) AS view
        |FROM daily GROUP BY day ORDER BY day""".stripMargin,

    "skew_salted_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "stream_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "funnel_signup_purchase" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        | a AS (SELECT user_id, min(t) AS first_a FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        | b AS (SELECT e.user_id, min(e.t) AS first_b
        |       FROM e JOIN a USING (user_id)
        |       WHERE e.event_type = 'purchase'
        |         AND e.t >= a.first_a AND e.t <= a.first_a + 604800000000
        |       GROUP BY 1)
        |SELECT a.user_id, a.first_a AS first_signup_us,
        |  b.first_b AS first_purchase_us,
        |  b.first_b IS NOT NULL AS converted,
        |  b.first_b - a.first_a AS latency_us
        |FROM a LEFT JOIN b USING (user_id)
        |ORDER BY a.user_id""".stripMargin,

    "funnel_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        | a AS (SELECT user_id, min(t) AS first_a FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        | b AS (SELECT e.user_id, min(e.t) AS first_b
        |       FROM e JOIN a USING (user_id)
        |       WHERE e.event_type = 'purchase'
        |         AND e.t >= a.first_a AND e.t <= a.first_a + 604800000000
        |       GROUP BY 1),
        | conv AS (SELECT a.first_a // 604800000000 AS cohort_week,
        |        b.first_b - a.first_a AS lat
        |       FROM a JOIN b USING (user_id)),
        | r AS (SELECT cohort_week, lat,
        |        row_number() OVER (PARTITION BY cohort_week ORDER BY lat) AS rn,
        |        count(*) OVER (PARTITION BY cohort_week) AS n
        |       FROM conv),
        | ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
        |SELECT cohort_week, p, lat AS latency_us
        |FROM r CROSS JOIN ps WHERE rn = ceil(p * n)
        |ORDER BY cohort_week, p""".stripMargin,

    // greedy earliest-completion chain, strict progress (t > prev),
    // per-step 48-hour gap — each tᵢ CTE is the conditional min the
    // engine computes as a window
    "funnel_ordered_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        | s0 AS (SELECT user_id, min(t) AS t0 FROM e
        |        WHERE event_type = 'signup' GROUP BY 1),
        | s1 AS (SELECT e.user_id, min(e.t) AS t1 FROM e JOIN s0 USING (user_id)
        |        WHERE e.event_type = 'view'
        |          AND e.t > s0.t0 AND e.t <= s0.t0 + 172800000000 GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        |        WHERE e.event_type = 'click'
        |          AND e.t > s1.t1 AND e.t <= s1.t1 + 172800000000 GROUP BY 1),
        | s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        |        WHERE e.event_type = 'purchase'
        |          AND e.t > s2.t2 AND e.t <= s2.t2 + 172800000000 GROUP BY 1)
        |SELECT s0.user_id,
        |  CAST(1 + (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached,
        |  coalesce(s3.t3, s2.t2, s1.t1, s0.t0) AS t_final
        |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY s0.user_id""".stripMargin,

    "range_join_user_windows" ->
      """WITH e AS (SELECT epoch_us(ts) AS t_us, user_id, value FROM events),
        | iv AS (SELECT user_id AS iv_user, min(t_us) AS lo,
        |          min(t_us) + 7200000000 AS hi
        |        FROM e GROUP BY 1)
        |SELECT iv_user, count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e JOIN iv ON e.t_us >= iv.lo AND e.t_us <= iv.hi
        |GROUP BY iv_user ORDER BY iv_user""".stripMargin,

    "dq_referential" ->
      """SELECT 'lineitem.orderkey->orders' AS fk,
        | (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
        |   AS n_child,
        | (SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM orders o
        |     WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.partkey->part',
        | (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
        | (SELECT count(*) FROM lineitem l WHERE l_partkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM part p
        |     WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'orders.custkey->customer',
        | (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
        | (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM customer c
        |     WHERE c.c_custkey = o.o_custkey))
        |ORDER BY fk""".stripMargin,

    "sessionize_events" -> sessionizeFullRecomputeSql,

    // the incremental merge must equal the full recompute — same oracle
    "sessionize_incremental" -> sessionizeFullRecomputeSql,

    "w_drawdown" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value
        |           FROM events WHERE value > 0),
        | p AS (SELECT user_id, value, max(value) OVER
        |         (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS UNBOUNDED PRECEDING) AS peak
        |       FROM e)
        |SELECT user_id, CAST(min(value / peak) AS FLOAT) AS max_drawdown,
        | count(*) AS n_points
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "w_sma_crossover" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id,
        |            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        | a AS (SELECT user_id, t, event_id,
        |        sum(cents) OVER w5 * count(*) OVER w20 >
        |          sum(cents) OVER w20 * count(*) OVER w5 AS above
        |       FROM e
        |       WINDOW w5 AS (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |              w20 AS (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        | b AS (SELECT user_id, above, lag(above) OVER
        |         (PARTITION BY user_id ORDER BY t, event_id) AS prev_above
        |       FROM a)
        |SELECT user_id,
        | count(CASE WHEN above AND NOT prev_above THEN 1 END) AS n_golden_crosses,
        | count(CASE WHEN NOT above AND prev_above THEN 1 END) AS n_death_crosses
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "scd2_priority" ->
      s"""WITH $scd2Ctes
         |SELECT o_custkey, version, o_orderpriority, valid_from,
         | lead(valid_from) OVER pv AS valid_to,
         | lead(valid_from) OVER pv IS NULL AS is_current, n_obs
         |FROM r WINDOW pv AS (PARTITION BY o_custkey ORDER BY version)
         |ORDER BY o_custkey, version""".stripMargin,

    // the PIT lookup replayed as the INTERVAL FILTER formulation —
    // proving the engine's as-of-join composition equals the
    // valid_from/valid_to containment query
    "scd2_asof_lookup" ->
      s"""WITH $scd2Ctes,
         | h AS (SELECT o_custkey, version, o_orderpriority, valid_from,
         |        lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
         |          AS valid_to FROM r)
         |SELECT o_custkey, version, o_orderpriority AS priority_at_pit
         |FROM h WHERE valid_from <= TIMESTAMP '1997-06-30'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-30')
         |ORDER BY o_custkey""".stripMargin,

    "cohort_retention" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS p
        |           FROM events),
        | up AS (SELECT DISTINCT user_id, p FROM p),
        | c AS (SELECT user_id, p, min(p) OVER (PARTITION BY user_id) AS cohort
        |       FROM up)
        |SELECT cohort AS cohort_period, p - cohort AS period_offset,
        | count(*) AS n_active
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "attribution_multitouch" ->
      """WITH e AS (SELECT user_id AS k, epoch_ns(ts) AS t, event_id AS tie,
        |        event_type AS ch, value AS v FROM events
        |       WHERE event_type IN ('click', 'view', 'purchase')),
        | wn AS (SELECT *, min(CASE WHEN ch = 'purchase' THEN t END)
        |        OVER (PARTITION BY k ORDER BY t DESC
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_t
        |       FROM e),
        | tou AS (SELECT * FROM wn WHERE ch <> 'purchase'
        |        AND conv_t IS NOT NULL AND conv_t - t <= 172800000000000),
        | cv AS (SELECT k, t AS conv_t, sum(CAST(v AS DECIMAL(18,2))) AS cv
        |       FROM e WHERE ch = 'purchase' GROUP BY 1, 2),
        | tr AS (SELECT tou.k, tou.conv_t, tou.ch,
        |        row_number() OVER (PARTITION BY tou.k, tou.conv_t
        |          ORDER BY tou.t, tou.tie) AS rnf,
        |        row_number() OVER (PARTITION BY tou.k, tou.conv_t
        |          ORDER BY tou.t DESC, tou.tie DESC) AS rnl,
        |        count(*) OVER (PARTITION BY tou.k, tou.conv_t) AS n,
        |        cv.cv
        |       FROM tou JOIN cv USING (k, conv_t))
        |SELECT ch AS channel, count(*) AS n_touches,
        | CAST(sum(CASE WHEN rnf = 1 THEN cv ELSE 0 END) AS DOUBLE) AS first_rev,
        | CAST(sum(CASE WHEN rnl = 1 THEN cv ELSE 0 END) AS DOUBLE) AS last_rev,
        | CAST(sum(CAST(CAST(cv AS DOUBLE) / CAST(n AS DOUBLE)
        |   AS DECIMAL(20,12))) AS DOUBLE) AS linear_rev
        |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin,

    "cohort_survival" ->
      """WITH u AS (SELECT user_id, min(epoch_ns(ts)) AS f, max(epoch_ns(ts)) AS l
        |           FROM events GROUP BY 1),
        | edge AS (SELECT max(epoch_ns(ts)) AS e FROM events),
        | subj AS (SELECT f // 604800000000000 AS cohort_week,
        |        (l - f) // 86400000000000 AS t,
        |        CASE WHEN l <= e - 604800000000000 THEN 1 ELSE 0 END AS obs
        |       FROM u CROSS JOIN edge),
        | grid AS (SELECT cohort_week, t, CAST(sum(obs) AS BIGINT) AS n_event,
        |        CAST(sum(1 - obs) AS BIGINT) AS n_censored
        |       FROM subj GROUP BY 1, 2),
        | r AS (SELECT *,
        |        sum(n_event + n_censored) OVER (PARTITION BY cohort_week)
        |          - coalesce(sum(n_event + n_censored) OVER (PARTITION BY
        |              cohort_week ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS n_risk
        |       FROM grid),
        | km AS (SELECT *,
        |        product(1.0 - CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |          OVER (PARTITION BY cohort_week ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS surv
        |       FROM r)
        |SELECT cohort_week, t AS duration_days,
        | CAST(n_risk AS BIGINT) AS n_risk, n_event, n_censored,
        | CAST(surv AS REAL) AS survival
        |FROM km ORDER BY cohort_week, duration_days""".stripMargin,

    "anomaly_zscore" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value FROM events),
        | s AS (SELECT user_id, event_id, value,
        |         count(value) OVER w AS nh,
        |         avg(value) OVER w AS mu,
        |         stddev_samp(value) OVER w AS sd
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        | z AS (SELECT user_id, event_id, value,
        |         CAST((value - mu) / nullif(sd, 0) AS REAL) AS z
        |       FROM s WHERE nh >= 5)
        |SELECT user_id, event_id, value, z FROM z
        |WHERE abs(z) > 3.0 ORDER BY user_id, event_id""".stripMargin,

    "anomaly_robust_z" ->
      """WITH m AS (SELECT user_id, quantile_cont(value, 0.5) AS med
        |     FROM events WHERE value IS NOT NULL GROUP BY 1),
        | d AS (SELECT e.user_id, e.event_id, e.value, m.med
        |       FROM events e JOIN m USING (user_id)),
        | md AS (SELECT user_id, quantile_cont(abs(value - med), 0.5) AS mad
        |     FROM d WHERE value IS NOT NULL GROUP BY 1),
        | z AS (SELECT d.user_id, d.event_id, d.value,
        |     CAST(0.6745 * (d.value - d.med) / nullif(md.mad, 0) AS REAL)
        |       AS robust_z
        |   FROM d JOIN md USING (user_id))
        |SELECT user_id, event_id, value, robust_z FROM z
        |WHERE abs(robust_z) > 3.5 ORDER BY user_id, event_id""".stripMargin
  )
}
