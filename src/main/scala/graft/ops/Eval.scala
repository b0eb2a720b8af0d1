package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-evaluation primitives over (score, label) frames — the
  * readouts a ranking/classification pipeline checks before shipping a
  * model whose scores gate 100 TB of downstream work (curation
  * thresholds, dedup cutoffs, quality gates). The rank-quality half
  * (AUC) lives in [[Experiment.mannWhitneyU]]; this is the PROBABILITY
  * half: a model can rank perfectly and still lie about its confidence,
  * and a miscalibrated threshold silently shifts how much of the corpus
  * a gate keeps.
  */
object Eval {

  /** The shared binned (score, label) base for [[calibration]],
    * [[rocPoints]], [[prPoints]] and [[brier]]: scores in [0,1] bucket
    * into `bins` fixed-width bins (top edge closes into the last bin);
    * null scores/labels and out-of-range scores carry no evidence and
    * are excluded (an out-of-range score is a SCALING bug the caller
    * must fix — it must not corrupt the bin it would land in). The
    * label is contract-checked row-wise ON THE PRE-CAST value:
    * anything outside {0,1} raises with the offending value — a
    * multiclass label silently summed as a count would read rates > 1
    * (and negative ROC complements), and a FRACTIONAL label (a
    * probability column passed where the outcome belongs, 0.7) would
    * otherwise truncate to 0 under an int cast and compute
    * plausible-but-wrong rates, so the check runs on the double value
    * before any truncating cast. The guard wraps __y itself, which
    * every consumer aggregates, so no join or projection can prune
    * it. */
  private def binnedBase(df: DataFrame, score: Column, label: Column,
                         bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val s = score.cast("double")
    val y = label.cast("double")
    df.filter(s.isNotNull && label.isNotNull && s >= 0.0 && s <= 1.0)
      .select(
        least(floor(s * lit(bins.toDouble)).cast("long"),
          lit(bins.toLong - 1)).as("bin"),
        s.as("__s"),
        when(y.isin(0.0, 1.0), y.cast("int"))
          .otherwise(raise_error(concat(
            lit("label must be 0/1 (binary outcome), got "),
            label.cast("string")))).as("__y"))
  }

  /** Reliability diagram + expected calibration error (Naeini et al.
    * AAAI 2015 / Guo et al. ICML 2017 formulation, equal-WIDTH bins):
    * scores in [0,1] bucket into `bins` fixed-width bins (the top edge
    * closes into the last bin); each bin reports its exact count, mean
    * score (confidence), observed positive rate, and |rate − conf|;
    * every row also carries ECE = Σ (n_b/N)·|rate_b − conf_b| — the
    * one-number summary, weighted by bin mass.
    *
    * Equal-width (not equal-depth) deliberately: the bin edges are then
    * CONSTANTS, so the diagram is comparable across models, days and
    * engines, and binning is a pure map — no ranking pass. Pair with
    * [[Percentiles.equiDepthHistogram]] when adaptive edges matter more
    * than comparability.
    *
    * Exactness: bin = least(⌊score·bins⌋, bins−1) in integer arithmetic;
    * per-bin Σscore quantizes to DECIMAL(30,12) before summing
    * (order-free); rate/conf/gap are fixed double chains; the ECE
    * numerator quantizes each n_b·gap_b term to DECIMAL(30,12) before
    * the final sum so the reduction is order-free too. FLOAT surfaces.
    *
    * Plan shape: ONE map-side-combinable groupBy to ≤ bins rows, then a
    * 1-row broadcast of the ECE total back onto the bins — nothing
    * row-granular shuffles twice, no window. Null scores/labels and
    * scores outside [0,1] carry no evidence and are excluded (out-of-
    * range scores are a SCALING bug the caller must fix, not silently
    * clamp — but they must not corrupt the bins they'd land in). */
  def calibration(df: DataFrame, score: Column, label: Column,
                  bins: Int = 10): DataFrame = {
    val base = binnedBase(df, score, label, bins)
    val byBin = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"),
        sum(col("__y").cast("long")).as("__x"),
        sum(col("__s").cast("decimal(30,12)")).as("__sc"))
      .select(col("bin"), col("n_bin"),
        (col("__x").cast("double") / col("n_bin").cast("double")).as("__rate"),
        (col("__sc").cast("double") / col("n_bin").cast("double")).as("__conf"))
    val ece = byBin.agg(
      (sum((col("n_bin").cast("double") * abs(col("__rate") - col("__conf")))
        .cast("decimal(30,12)")).cast("double") /
        sum(col("n_bin")).cast("double")).as("__ece"))
    Attach(byBin, ece)
      .select(col("bin"), col("n_bin"),
        col("__conf").cast("float").as("mean_score"),
        col("__rate").cast("float").as("rate"),
        abs(col("__rate") - col("__conf")).cast("float").as("gap"),
        col("__ece").cast("float").as("ece"))
  }

  /** Split-conformal quantile per group (Vovk et al.; Lei et al. JASA
    * 2018 formulation): the ⌈(n+1)(1−α)⌉-th smallest calibration
    * residual — the radius q̂ that makes [ŷ − q̂, ŷ + q̂] a
    * finite-sample ≥ (1−α)-coverage prediction interval for ANY
    * underlying model, assuming only exchangeability. This is the
    * distribution-free error bar to attach to a point predictor whose
    * scores gate downstream work; the Wilson/bootstrap CIs bound a
    * MEAN, this bounds the next OBSERVATION.
    *
    * Input: one row per calibration observation with a non-negative
    * `residual` column (|y − ŷ| upstream). Output per group: n_cal,
    * q_conformal, finite_sample_exact — false when ⌈(n+1)(1−α)⌉ > n
    * (n too small for the guarantee at this α; the max residual is
    * returned and the flag tells the caller the guarantee is void
    * rather than silently fabricating one).
    *
    * Exactness: the quantile is an OBSERVED residual picked by integer
    * rank arithmetic over the distinct-residual count ledger
    * ([[Percentiles.nearestRank]]'s machinery — range-exchange prefix
    * sum, no per-group sort, no single-task window), so the value
    * replays bit-for-bit in any engine.
    *
    * Plan shape: one groupBy collapses calibration rows to the
    * (group, residual) ledger; [[Ranking.withRunningTotals]] cumulates
    * it distributed; the pick is a pure filter. */
  def conformalQuantile(df: DataFrame, keys: Seq[String], residual: String,
                        alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val vc = df.filter(col(residual).isNotNull && col(residual) >= 0)
      .groupBy((keys.map(col) :+ col(residual)): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = Ranking.withRunningTotals(vc, keys, Seq(col(residual)),
      Seq("__c" -> "__cum"))
    val tot = cum.groupBy(keys.map(col): _*).agg(sum(col("__c")).as("__n"))
    // k* = min(⌈(n+1)(1−α)⌉, n) in integer arithmetic:
    // ⌈(n+1)(1−α)⌉ computed as ceil of a double product — the same
    // fixed chain in both engines; the pick itself is pure integers
    val kStar = least(
      ceil((col("__n").cast("double") + lit(1.0)) * lit(1.0 - alpha)),
      col("__n"))
    // keyed, the broadcast keeps eval_conformal_interval at 15 exchanges
    // and 1 SMJ (19 and 3 without it, PlanBudgetSpec)
    Attach(cum, broadcast(tot), keys)
      .filter(col("__cum") - col("__c") < kStar && kStar <= col("__cum"))
      .select(keys.map(col) ++ Seq(
        col("__n").as("n_cal"),
        col(residual).cast("float").as("q_conformal"),
        (ceil((col("__n").cast("double") + lit(1.0)) * lit(1.0 - alpha)) <=
          col("__n").cast("double")).as("finite_sample_exact")): _*)
  }

  /** Binned ROC curve points — TPR/FPR at each of `bins` fixed score
    * thresholds (descending), the CURVE behind the scalar AUC that
    * [[Experiment.mannWhitneyU]] already reports: a threshold choice
    * (what fraction of the corpus does this quality gate keep, at what
    * true/false positive trade?) needs the whole front, not one number.
    *
    * Equal-width thresholds (t_i = i/bins) for the same reason as
    * [[calibration]]: constant edges make curves comparable across
    * models and rounds, and binning is a pure map. A point at
    * threshold t reports the operating point "keep score ≥ t".
    *
    * Exactness: per-bin (pos, neg) counts are one map-side-combinable
    * groupBy to ≤ bins rows; the cumulative ≥-threshold counts close
    * over those rows with a bounded triangular self-join (≤ bins², all
    * integers — no window, no data-sized pass); TPR/FPR are one double
    * division each, FLOAT surfaces. Empty bins simply contribute no
    * point (their operating point equals the next occupied bin's).
    * Degenerate inputs (no positives / no negatives) yield NULL rates
    * rather than a division artifact. */
  def rocPoints(df: DataFrame, score: Column, label: Column,
                bins: Int = 20): DataFrame = {
    val base = binnedBase(df, score, label, bins)
    val byBin = base.groupBy(col("bin"))
      .agg(sum(col("__y").cast("long")).as("__pos"),
        sum(lit(1L) - col("__y").cast("long")).as("__neg"))
    val tot = byBin.agg(sum(col("__pos")).as("__p"), sum(col("__neg")).as("__n"))
    val cum = byBin.as("a")
      // PlanAudit: eval_roc_points 5 exch with this hint, 6 without (sf0.01 and sf0.1)
      .join(broadcast(byBin.as("b")), col("b.bin") >= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(sum(col("b.__pos")).as("n_pos_ge"), sum(col("b.__neg")).as("n_neg_ge"))
    Attach(cum, tot)
      .select(
        (col("bin").cast("double") / lit(bins.toDouble))
          .cast("float").as("threshold"),
        col("n_pos_ge"), col("n_neg_ge"),
        when(col("__p") > 0L,
          (col("n_pos_ge").cast("double") / col("__p").cast("double"))
            .cast("float")).as("tpr"),
        when(col("__n") > 0L,
          (col("n_neg_ge").cast("double") / col("__n").cast("double"))
            .cast("float")).as("fpr"))
  }

  /** Binned precision/recall operating points — the imbalanced-corpus
    * complement to [[rocPoints]]: at a 1:10⁴ positive rate the FPR
    * axis is numb (a gate can admit 10× more junk while FPR barely
    * moves), while precision reads exactly "of what the gate KEEPS,
    * how much is good" — the number a curation threshold is actually
    * chosen by. Same machinery as rocPoints verbatim: equal-width
    * thresholds (constant edges, curves comparable across models and
    * rounds), one map-side-combinable groupBy to ≤ bins rows, the
    * cumulative ≥-threshold counts closed by a bounded ≤ bins²
    * triangular self-join, all integers until the final divisions.
    *
    * A point at threshold t reports "keep score ≥ t": n_kept,
    * precision = pos_ge/(pos_ge+neg_ge) (never 0/0 — the point's own
    * bin is occupied), recall = pos_ge/P (NULL when the input has no
    * positives — one-class inputs surface as NULL, not an artifact),
    * f1 = the harmonic mean (NULL when precision+recall = 0 or P = 0).
    * Empty bins contribute no point, as in rocPoints. */
  def prPoints(df: DataFrame, score: Column, label: Column,
               bins: Int = 20): DataFrame = {
    val base = binnedBase(df, score, label, bins)
    val byBin = base.groupBy(col("bin"))
      .agg(sum(col("__y").cast("long")).as("__pos"),
        sum(lit(1L) - col("__y").cast("long")).as("__neg"))
    val tot = byBin.agg(sum(col("__pos")).as("__p"))
    val cum = byBin.as("a")
      // PlanAudit: eval_pr_points 5 exch with this hint, 6 without (sf0.01 and sf0.1)
      .join(broadcast(byBin.as("b")), col("b.bin") >= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(sum(col("b.__pos")).as("n_pos_ge"), sum(col("b.__neg")).as("n_neg_ge"))
    val prec = col("n_pos_ge").cast("double") /
      (col("n_pos_ge") + col("n_neg_ge")).cast("double")
    val rec = col("n_pos_ge").cast("double") / col("__p").cast("double")
    Attach(cum, tot)
      .select(
        (col("bin").cast("double") / lit(bins.toDouble))
          .cast("float").as("threshold"),
        (col("n_pos_ge") + col("n_neg_ge")).as("n_kept"),
        col("n_pos_ge"),
        prec.cast("float").as("precision"),
        when(col("__p") > 0L, rec.cast("float")).as("recall"),
        when(col("__p") > 0L && (prec + rec) > 0.0,
          (lit(2.0) * prec * rec / (prec + rec)).cast("float")).as("f1"))
  }

  /** Binned average precision — the scalar that summarizes
    * [[prPoints]]' front the way AUC summarizes ROC, and the one to
    * report on a rare-positive corpus (a random scorer reads AP ≈ the
    * prevalence, not 0.5): step-wise AP = Σ_b ΔR_b · P_b over
    * descending thresholds, where the recall step at bin b is
    * pos_b / P and the precision is the bin's ≥-threshold operating
    * point — so each occupied bin contributes
    * pos_b · precision_b / P and no extra pass is needed beyond
    * prPoints' own cumulatives.
    *
    * One row: n_pos, n_neg, avg_precision (NULL on a no-positive
    * input — one-class surfaces as NULL, the family convention) and
    * prevalence (the random-scorer baseline to read AP against).
    * Each term quantizes to DECIMAL(30,12) before the ≤ bins-row sum
    * (order-free). Same ≤ bins-row machinery as [[rocPoints]]. */
  def averagePrecision(df: DataFrame, score: Column, label: Column,
                       bins: Int = 20): DataFrame = {
    val base = binnedBase(df, score, label, bins)
    val byBin = base.groupBy(col("bin"))
      .agg(sum(col("__y").cast("long")).as("__pos"),
        sum(lit(1L) - col("__y").cast("long")).as("__neg"))
    val cum = byBin.as("a")
      // PlanAudit: eval_avg_precision 5 exch with this hint, 6 without (sf0.01 and sf0.1)
      .join(broadcast(byBin.as("b")), col("b.bin") >= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(max(col("a.__pos")).as("__pos"),
        sum(col("b.__pos")).as("n_pos_ge"), sum(col("b.__neg")).as("n_neg_ge"))
    val tot = byBin.agg(sum(col("__pos")).as("__p"), sum(col("__neg")).as("__n"))
    Attach(cum, tot)
      .groupBy(col("__p"), col("__n"))
      .agg(sum((col("__pos").cast("double") *
          (col("n_pos_ge").cast("double") /
            (col("n_pos_ge") + col("n_neg_ge")).cast("double")))
        .cast("decimal(30,12)")).as("__ap_num"))
      .select(col("__p").as("n_pos"), col("__n").as("n_neg"),
        when(col("__p") > 0L,
          (col("__ap_num").cast("double") / col("__p").cast("double"))
            .cast("float")).as("avg_precision"),
        when(col("__p") + col("__n") > 0L,
          (col("__p").cast("double") / (col("__p") + col("__n")).cast("double"))
            .cast("float")).as("prevalence"))
  }

  /** Brier score with the Murphy (1973) calibration/refinement
    * decomposition over the [[calibration]] bins — the one-number
    * probability loss beside its diagnosis: brier = (1/N)·Σ(s−y)²
    * computed EXACTLY (never from the bins), and the classic three
    * binned terms
    *   reliability = Σ n_b(conf_b − rate_b)²/N  (miscalibration; ECE's
    *     squared cousin — what recalibration can remove),
    *   resolution  = Σ n_b(rate_b − ȳ)²/N  (how much the score
    *     separates outcomes — what recalibration cannot add),
    *   uncertainty = ȳ(1−ȳ)  (the no-skill floor: forecasting the
    *     base rate scores exactly this).
    * The three-term identity brier = reliability − resolution +
    * uncertainty holds exactly only when scores are constant within
    * bins; `binning_residual` = brier − (rel − res + unc) is emitted
    * so the approximation is a measured number, not an assumption
    * (it equals the within-bin score variance minus twice the
    * within-bin score/outcome covariance).
    *
    * Exactness: per-row (s−y)² and per-bin Σs quantize to
    * DECIMAL(30,12) before summing (order-free); the ≤ bins-row
    * reliability/resolution sums quantize each term likewise; every
    * rate/mean is exact-integer-or-decimal sums closed by one double
    * division. FLOAT surfaces. One row: n, brier, reliability,
    * resolution, uncertainty, binning_residual.
    *
    * Plan shape: ONE map-side-combinable groupBy to ≤ bins rows plus a
    * 1-row broadcast of the grand totals — the calibration plan with
    * one more 1-row close; nothing row-granular shuffles twice. */
  def brier(df: DataFrame, score: Column, label: Column,
            bins: Int = 10): DataFrame = {
    val base = binnedBase(df, score, label, bins)
    val byBin = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"),
        sum(col("__y").cast("long")).as("__x"),
        sum(col("__s").cast("decimal(30,12)")).as("__sc"),
        sum(((col("__s") - col("__y").cast("double")) *
          (col("__s") - col("__y").cast("double")))
          .cast("decimal(30,12)")).as("__se"))
    val tot = byBin.agg(sum(col("n_bin")).as("__n"),
        sum(col("__x")).as("__px"), sum(col("__se")).as("__sse"))
      .select(col("__n"), col("__sse"),
        (col("__px").cast("double") / col("__n").cast("double")).as("__ybar"))
    val terms = Attach(byBin, tot)
      .select(col("__n"), col("__sse"), col("__ybar"),
        col("n_bin"),
        (col("__x").cast("double") / col("n_bin").cast("double")).as("__rate"),
        (col("__sc").cast("double") / col("n_bin").cast("double")).as("__conf"))
    terms.groupBy(col("__n"), col("__sse"), col("__ybar"))
      .agg(
        sum((col("n_bin").cast("double") *
          (col("__conf") - col("__rate")) * (col("__conf") - col("__rate")))
          .cast("decimal(30,12)")).as("__rel"),
        sum((col("n_bin").cast("double") *
          (col("__rate") - col("__ybar")) * (col("__rate") - col("__ybar")))
          .cast("decimal(30,12)")).as("__res"))
      .select(col("__n").as("n"),
        (col("__sse").cast("double") / col("__n").cast("double"))
          .cast("float").as("brier"),
        (col("__rel").cast("double") / col("__n").cast("double"))
          .cast("float").as("reliability"),
        (col("__res").cast("double") / col("__n").cast("double"))
          .cast("float").as("resolution"),
        (col("__ybar") * (lit(1.0) - col("__ybar")))
          .cast("float").as("uncertainty"),
        (col("__sse").cast("double") / col("__n").cast("double") -
          (col("__rel").cast("double") / col("__n").cast("double") -
            col("__res").cast("double") / col("__n").cast("double") +
            col("__ybar") * (lit(1.0) - col("__ybar"))))
          .cast("float").as("binning_residual"))
  }

  /** Cumulative gains / lift at each score decile (the campaign-
    * targeting readout: "the top 20% of scores capture X% of the
    * positives"): rows rank into `k` equal-population score bands via
    * the distributed global ntile ([[Ranking.withGlobalNtile]] — no
    * single-task window), then one groupBy yields per-band capture and
    * the running totals close over the ≤ k band rows. Band 1 = highest
    * scores. Output per band: n_band, n_pos, cum_pos_share (of all
    * positives), cum_row_share, lift = cum_pos_share/cum_row_share.
    *
    * Ties across a band boundary split by the tiebreak column (pass a
    * unique id) — deterministic, both engines replay the same split. */
  def cumulativeGains(df: DataFrame, score: Column, label: Column,
                      tiebreak: Column, k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 100, s"k must be in [2,100], got $k")
    val base = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("__s"), label.cast("int").as("__y"),
        tiebreak.as("__t"))
    val banded = Ranking.withGlobalNtile(base,
      Seq(col("__s").desc, col("__t")), k, "band")
    val byBand = banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_band"),
        sum(col("__y").cast("long")).as("n_pos"))
    val tot = byBand.agg(sum(col("n_band")).as("__n"),
      sum(col("n_pos")).as("__p"))
    // running totals over ≤ k band rows: a self-join triangular sum —
    // bounded by k, never the data, no window
    val cum = byBand.as("a")
      // PlanAudit: eval_cumulative_gains 20 exch with this hint, 21 without (sf0.01 and sf0.1)
      .join(broadcast(byBand.as("b")), col("b.band") <= col("a.band"))
      .groupBy(col("a.band").as("band"))
      .agg(max(col("a.n_band")).as("n_band"), max(col("a.n_pos")).as("n_pos"),
        sum(col("b.n_band")).as("__cn"), sum(col("b.n_pos")).as("__cp"))
    Attach(cum, tot)
      .select(col("band"), col("n_band"), col("n_pos"),
        (col("__cp").cast("double") / col("__p").cast("double"))
          .cast("float").as("cum_pos_share"),
        (col("__cn").cast("double") / col("__n").cast("double"))
          .cast("float").as("cum_row_share"),
        ((col("__cp").cast("double") / col("__p").cast("double")) /
          (col("__cn").cast("double") / col("__n").cast("double")))
          .cast("float").as("lift"))
  }
}
