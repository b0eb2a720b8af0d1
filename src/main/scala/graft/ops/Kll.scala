package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable rank/quantile sketch with DETERMINISTIC compaction — the
  * KLL-family member (Karnin–Lang–Liberty, FOCS 2016) re-derived under
  * this repo's replayable-integer discipline: where KLL flips random
  * coins to keep odd/even survivors per compaction, this sketch keeps
  * a SYSTEMATIC rank sample (every `step`-th rank, offset drawn from
  * md5 of the total weight), so the same multiset compacts to the same
  * sketch in any engine with md5 — build, merge and every estimate
  * replay bit-for-bit in DuckDB.
  *
  * This closes the one bounded-state contract that still pushed a
  * burden onto the caller: [[Percentiles.nearestRank]] is exact but
  * ledger-sized, and the histogram family needs a DECLARED value range
  * (binWidth) — useless for unbounded/heavy-tailed metrics (latencies,
  * token counts). A KLL sketch needs only k: ≤ k rows whatever the
  * value distribution, mergeable across slices, no range declared.
  *
  * ==Representation==
  * A sketch is a frame (keys…, kll_value DOUBLE, kll_weight BIGINT),
  * ≤ k rows per group, values distinct per group, each row standing
  * for `kll_weight` original observations at or just below
  * `kll_value`. Built by [[build]]/[[buildByGroup]] (weights = exact
  * counts, compacted once) or merged by [[merge]]/[[compactByGroup]]
  * (weights add, compacted again). Below k total weight the sketch is
  * EXACT (step = 1 keeps every rank).
  *
  * ==Compaction==
  * Order the (value, weight) ledger by value within each group; with
  * W = Σ weight and step = ⌈W/k⌉, keep the ranks ≡ φ (mod step) where
  * φ = 1 + (md5₆₀("kll:" ++ W) mod step) — each kept rank carries
  * weight `step`. Per ledger row the kept count is pure integer
  * arithmetic on its cumulative range (no row explosion, no sort of
  * raw rows): a row covering ranks (cum−w, cum] keeps
  * f(cum) − f(cum−w) ranks, f(m) = ⌊(m−φ)/step⌋+1 for m ≥ φ else 0.
  *
  * ==Error contract (deterministic, not probabilistic)==
  *  - a single compaction moves any value's estimated rank by less
  *    than `step` = ⌈W/k⌉ (each kept rank sits inside the step-run it
  *    represents), and Σ kll_weight drifts from W by less than 2·step;
  *  - [[quantiles]] therefore lands within 2·step + 1 ranks of the
  *    exact nearest-rank pick after ONE compaction — rank error
  *    ε ≤ 2/k + o(1), e.g. k = 512 → ±0.4 %;
  *  - re-compacting merged sketches ADDS error: err_out < Σ err_in +
  *    2·step_out. A merge tree of depth d over equal slices costs
  *    O(d·W/k) ranks — at 1000 executors (one slice each, one final
  *    merge) d = 2. Size k to the DEEPEST merge path, not the data.
  *    Evidence at depth 4 (KllSpec): a binary tree over 16×1024
  *    uniform values at k = 256 lands within 3·(2·step_root + 1) =
  *    387 ranks of exact on every tested quantile — ~60% of one
  *    2·step_out band per LEVEL, far inside the 641-rank recursive
  *    worst case (the systematic sample wastes little of the bound).
  *
  * Scale shape: [[build]] collapses raw rows to the distinct-value
  * ledger (ONE map-side-combined exchange — the same class as an
  * exact groupBy), cumulates it with [[Ranking.withRunningTotals]]'
  * range-exchange prefix sum (never a single-task window, so one hot
  * group or an unkeyed call cannot funnel a ledger through one task),
  * and closes with a pure per-row filter. [[merge]] touches only
  * ≤ Σk sketch rows. [[quantiles]] touches ≤ k rows per group
  * (bounded triangular join). The intended 100 TB pattern is HLL's:
  * build per slice (partition, day, language — or per micro-batch on
  * a stream), merge the ≤ k-row sketches — the raw data is scanned
  * once, everything after is sketch-sized.
  */
object Kll {

  private def checkK(k: Int): Unit =
    require(k >= 16 && k <= 65536, s"k must be in [16,65536], got $k")

  /** The 60-bit md5 hash of `key` (the [[Hll]]/[[Kmv]] convention) —
    * public so the oracle and composites replay it. */
  def hash60(key: Column): Column =
    conv(substring(md5(concat(lit("kll:"), key.cast("string"))), 1, 15),
      16, 10).cast("long")

  private def checkSketchFrame(sk: DataFrame, keys: Seq[String]): Unit =
    require(sk.columns.toSeq == keys ++ Seq("kll_value", "kll_weight"),
      s"expected a KLL sketch frame with exactly (${keys.mkString(", ")}" +
        (if (keys.isEmpty) "" else ", ") +
        s"kll_value, kll_weight), got: ${sk.columns.mkString(", ")}")

  /** One systematic-rank compaction per group of a (keys…, kll_value,
    * kll_weight) ledger down to ≤ k rows per group — the multiway
    * merge primitive: weights for the same (group, value) are summed
    * first, so feeding it ANY union of per-slice sketches or raw
    * count ledgers is the merge. All arithmetic is exact integers
    * (`div`/`pmod`, never float division); the only md5 draw is the
    * offset φ, seeded by the group's total weight — deterministic and
    * engine-portable. */
  def compactByGroup(ledger: DataFrame, keys: Seq[String],
                     k: Int): DataFrame = {
    checkK(k)
    checkSketchFrame(ledger, keys)
    systematicKeep(cumulate(ledger, keys), keys, k)
  }

  /** The shared prefix-sum prelude: fold duplicate values, cumulate
    * the ledger distributed, broadcast-join the per-group totals back.
    * Output: (keys…, kll_value, kll_weight, __cum, __w). The range
    * sort + checkpoint inside [[Ranking.withRunningTotals]] happens
    * HERE, once — both the compaction and any exact pick read it. */
  private def cumulate(ledger: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    // weight contract, row-wise and loud: a null/zero/negative weight
    // is a malformed ledger (build/merge never produce one) and would
    // silently corrupt the cumulative ranks — the guard wraps the
    // weight itself, which every downstream step aggregates, so no
    // projection can prune it (the CountMin join-key lesson)
    val folded = ledger
      .groupBy((keyCols :+ col("kll_value")): _*)
      .agg(sum(when(col("kll_weight").isNotNull && col("kll_weight") > 0,
          col("kll_weight"))
        .otherwise(raise_error(concat(
          lit("kll_weight must be a positive integer, got "),
          coalesce(col("kll_weight").cast("string"), lit("null"))))))
        .as("kll_weight"))
    val cum = Ranking.withRunningTotals(folded, keys, Seq(col("kll_value")),
      Seq("kll_weight" -> "__cum"))
    val tot = cum.groupBy(keyCols: _*).agg(sum(col("kll_weight")).as("__w"))
    Attach(cum, tot, keys)
  }

  /** The systematic-rank keep over a [[cumulate]]d ledger — the
    * compaction arithmetic itself. */
  private def systematicKeep(withTot: DataFrame, keys: Seq[String],
                             k: Int): DataFrame =
    withTot
      .withColumn("__step", expr(s"(__w + ${k - 1}) div $k"))
      .withColumn("__phi",
        lit(1L) + pmod(hash60(col("__w")), col("__step")))
      .withColumn("__kept",
        expr("CASE WHEN __cum >= __phi " +
          "THEN (__cum - __phi) div __step + 1 ELSE 0 END") -
        expr("CASE WHEN __cum - kll_weight >= __phi " +
          "THEN (__cum - kll_weight - __phi) div __step + 1 ELSE 0 END"))
      .filter(col("__kept") > 0)
      .select(keys.map(col) ++ Seq(col("kll_value"),
        (col("__kept") * col("__step")).as("kll_weight")): _*)

  /** Sketch-beside-exact audit from ONE cumulated ledger — the
    * (estimate, exact) comparison every sketch query in this repo
    * ships, at one ledger pass instead of two: the prefix sum is
    * computed once; the compaction keeps its systematic sample from
    * it while the EXACT weighted nearest-rank quantiles
    * ([[Percentiles.weightedNearestRank]] semantics) pick from the
    * very same cumulative — so the audit costs one bounded triangular
    * close more than the sketch alone, never a second data-sized
    * sort. Output: (keys…, p, kll_q, exact_q, n_weight) — kll_q from
    * the ≤ k-row sketch, exact_q the true quantile, n_weight the
    * sketch's Σ weight. */
  def auditQuantiles(ledger: DataFrame, keys: Seq[String], ps: Seq[Double],
                     k: Int): DataFrame = {
    checkK(k)
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles must lie in (0, 1], got $ps")
    checkSketchFrame(ledger, keys)
    val withTot = cumulate(ledger, keys)
    // ≤ k rows per group by construction — cut because the quantile
    // close reads it three times (two triangular sides + tot)
    val sk = Cut(systematicKeep(withTot, keys, k))
    val q = quantilesByGroup(sk, keys, ps, k, probed = true)
    val exact = withTot
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__cum") - col("kll_weight") <
          ceil(col("p") * col("__w")) &&
        ceil(col("p") * col("__w")) <= col("__cum"))
      .select(keys.map(col) ++ Seq(col("p"),
        col("kll_value").as("exact_q")): _*)
    // the exact-pick frame is groups × ps rows — broadcast only the
    // unkeyed (ps-sized) case; keyed, the equi-join partitions by key
    // PlanAudit: freq_kll_quantiles 8 exch/0 SMJ with this hint, 10/1 without (sf0.01 and sf0.1)
    q.join(if (keys.isEmpty) broadcast(exact) else exact, keys :+ "p")
      .select(keys.map(col) ++ Seq(col("p"), col("kll_q"), col("exact_q"),
        col("n_weight")): _*)
  }

  /** Build a ≤ k-row sketch of `value` (cast to DOUBLE — the portable
    * sketch lane). Null values carry no evidence and are excluded.
    * One raw-data collapse to the distinct-value ledger, one
    * distributed prefix sum, one compaction. */
  def build(df: DataFrame, value: String, k: Int): DataFrame =
    buildByGroup(df, Nil, value, k)

  /** Per-group [[build]]: one ≤ k-row sketch per key combination —
    * the windowed/segmented form (per day, per language, per stream
    * window). Same plan shape; the prefix sum partitions by key. */
  def buildByGroup(df: DataFrame, keys: Seq[String], value: String,
                   k: Int): DataFrame = {
    checkK(k)
    compactByGroup(
      df.filter(col(value).isNotNull)
        .groupBy((keys.map(col) :+
          col(value).cast("double").as("kll_value")): _*)
        .agg(count(lit(1)).as("kll_weight")),
      keys, k)
  }

  /** Merge unkeyed sketches built with the same k: weights add on the
    * value ledger, then one more compaction bounds the result back to
    * ≤ k rows (adding < 2·step_out ranks of error — see the error
    * contract above). Shape-guarded like [[Kmv.merge]]
    * ([[Kmv.cutSketch]]: cut, then a bounded limit(k+1) probe rejects
    * frames larger than k; one-sided, a smaller-k frame merges with ITS
    * coarser error). For keyed/multiway merging feed the unioned
    * partials to [[compactByGroup]] directly. */
  def merge(k: Int, sketches: DataFrame*): DataFrame = {
    checkK(k)
    require(sketches.nonEmpty, "need at least one sketch to merge")
    val cut = sketches.map { sk =>
      checkSketchFrame(sk, Nil)
      Kmv.cutSketch(sk, k)
    }
    compactByGroup(cut.reduce(_ unionByName _), Nil, k)
  }

  /** Quantile estimates from an unkeyed sketch: for each p in (0,1]
    * the smallest sketch value whose cumulative weight reaches
    * ⌈p·W⌉ (W = Σ kll_weight) — the weighted nearest-rank pick, the
    * same ceil discipline as [[Percentiles.nearestRank]] so exact and
    * sketched picks are directly comparable. Output: (p, kll_q,
    * n_weight). Shape-guarded like [[merge]]. */
  def quantiles(sketch: DataFrame, ps: Seq[Double], k: Int): DataFrame = {
    // k-range contract FIRST ([[merge]]'s ordering): an out-of-range k
    // must fail with the k-contract error, not a misleading row-probe
    // message — and never pay the checkpoint before failing
    checkK(k)
    checkSketchFrame(sketch, Nil)
    quantilesByGroup(Kmv.cutSketch(sketch, k), Nil, ps, k, probed = true)
  }

  /** Per-group [[quantiles]] over a keyed sketch frame. The contract
    * probe checks every group's row count against k with ONE bounded
    * pass over the sketch-sized frame (never the data).
    *
    * Plan: a bounded ≤ k² per-group triangular self-join for the
    * cumulative weights (keyed: shuffle-partitioned by group, no
    * broadcast — the frame is groups-sized), 1-row-per-group totals,
    * a pure filter — nothing data-sized. */
  def quantilesByGroup(sketch: DataFrame, keys: Seq[String],
                       ps: Seq[Double], k: Int): DataFrame =
    quantilesByGroup(sketch, keys, ps, k, probed = false)

  private def quantilesByGroup(sketch: DataFrame, keys: Seq[String],
                               ps: Seq[Double], k: Int,
                               probed: Boolean): DataFrame = {
    checkK(k)
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles must lie in (0, 1], got $ps")
    checkSketchFrame(sketch, keys)
    val keyCols = keys.map(col)
    val sk = if (probed) sketch else {
      val c = Cut(sketch)
      require(c.groupBy(keyCols: _*).count()
          .filter(col("count") > k).limit(1).count() == 0,
        s"some group has more than k=$k sketch rows — built with a larger k?")
      c
    }
    val keyEq =
      if (keys.isEmpty) lit(true)
      else keys.map(kk => col(s"b.$kk") <=> col(s"a.$kk")).reduce(_ && _)
    // triangular close: UNKEYED the sketch is ≤ k rows — broadcast it
    // and let BNLJ run the bounded k² pairing. KEYED the frame is
    // groups × k rows (unbounded in the group count), so no hint: the
    // null-safe key equality extracts as equi-join keys and the close
    // shuffle-partitions BY GROUP, each partition doing its own ≤ k²
    // triangle — per-key sketches over millions of groups never funnel
    // through a driver-held broadcast
    val cw = sk.as("a")
      .join(if (keys.isEmpty) broadcast(sk.as("b")) else sk.as("b"),
        keyEq && col("b.kll_value") <= col("a.kll_value"))
      .groupBy((keys.map(kk => col(s"a.$kk").as(kk)) :+
        col("a.kll_value").as("kll_value")): _*)
      .agg(sum(col("b.kll_weight")).as("__cw"),
        max(col("a.kll_weight")).as("__c"))
    val tot = sk.groupBy(keyCols: _*).agg(sum(col("kll_weight")).as("__w"))
    Attach(cw, tot, keys)
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__cw") - col("__c") < ceil(col("p") * col("__w")) &&
        ceil(col("p") * col("__w")) <= col("__cw"))
      .select(keyCols ++ Seq(col("p"), col("kll_value").as("kll_q"),
        col("__w").as("n_weight")): _*)
  }
}
