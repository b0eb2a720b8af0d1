package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV / bottom-k) distinct sketch (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002; the
  * theta-sketch family's simplest member) — the oracled set-algebra
  * complement to [[Hll]]: where HLL's intersection comes from
  * inclusion–exclusion (error scales with the UNION), KMV carries an
  * actual uniform sample of the distinct values' hash space, so the
  * intersection estimate rides a direct Jaccard measurement on the
  * bottom-k — error scales with the Jaccard similarity itself, which is
  * what an audience-overlap question needs when the overlap is small.
  *
  * Replayability: the same md5 discipline as [[Hll]] — h = first 15 hex
  * chars of md5("kmv:" ++ key) as a 60-bit non-negative integer. The
  * sketch IS the k smallest distinct h values (exact integers, no
  * registers, no float accumulation); every estimator below is integer
  * arithmetic until one final double division, so sketches and
  * estimates replay bit-for-bit in any engine with md5.
  *
  * ==Error contract==
  * Relative standard error of the distinct estimate ≈ 1/√(k−2)
  * (Beyer et al., SIGMOD 2007): k = 256 → ±6.3%, k = 1024 → ±3.1%.
  * Below k distinct values the sketch is EXACT (it holds every hash).
  * The Jaccard estimator matches/|L| over the union's bottom-k is
  * unbiased with SE ≈ √(J(1−J)/k).
  *
  * Scale shape: [[build]] collapses to the distinct ledger of ONE
  * 8-byte column (map-side partial dedup; the same exchange class as an
  * exact count_distinct) and then a per-partition top-k + bounded P·k
  * merge (TakeOrderedAndProject — never a global sort). The intended
  * 100 TB pattern is the same as HLL's: build per slice (partition,
  * day, language — each distinct set small), then [[merge]] — a ≤ Σk-row
  * union + top-k, free at any corpus size. Estimate/set-algebra touch
  * only ≤ k-row frames.
  */
object Kmv {

  /** Total hash bits carried by 15 hex chars (the [[Hll]] convention). */
  private val HashBits = 60

  private def checkK(k: Int): Unit =
    require(k >= 16 && k <= 65536, s"k must be in [16,65536], got $k")

  /** The 60-bit md5 hash of `key` (non-negative in a signed 64-bit
    * lane) — public so the oracle and composites replay it. */
  def hash60(key: Column): Column =
    conv(substring(md5(concat(lit("kmv:"), key.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** The sketch: the k smallest DISTINCT hash values as a single-column
    * frame (kmv_hash) — ≤ k rows. Null keys carry no evidence and are
    * excluded. */
  def build(df: DataFrame, key: String, k: Int): DataFrame = {
    checkK(k)
    df.filter(col(key).isNotNull)
      .select(hash60(col(key)).as("kmv_hash"))
      .distinct()
      .orderBy(col("kmv_hash"))
      .limit(k)
  }

  /** [[Cut]] an unkeyed sketch frame, then reject it when it holds more
    * than `k` rows — a bounded limit(k+1) probe, never a full count.
    * The cut comes BEFORE the probe: the guard is an eager action, and
    * probing a raw build lineage would re-run the full build once for
    * the guard and again for every downstream consumer; after the cut
    * the build runs exactly once and every read hits the ≤ k-row frame.
    *
    * The guard is one-sided: a frame built with a SMALLER k always fits
    * the declared shape, and estimates over it silently carry the
    * smaller k's error. Declared-k discipline (same k at build, merge
    * and estimate) is the caller's contract; only the larger-shape
    * direction can fail loudly. Shared by [[Kmv]] and [[Kll]]. */
  private[ops] def cutSketch(sketch: DataFrame, k: Int): DataFrame = {
    val c = Cut(sketch)
    require(c.limit(k + 1).count() <= k,
      s"sketch frame has more than k=$k rows — built with a larger k?")
    c
  }

  /** Merge sketches built with the same k: the k smallest of the
    * union of bottom-k sets equal the union's bottom-k (the sketch's
    * distributive property) — a ≤ Σk-row union + top-k, so per-slice
    * sketches from 1000 executors combine for free. The declared `k`
    * also guards the shape ([[cutSketch]]): a frame larger than k rows
    * was not built with this k and fails loudly. [[jaccard]] reads each
    * input ~3×, all from the cut. */
  def merge(k: Int, sketches: DataFrame*): DataFrame = {
    checkK(k)
    require(sketches.nonEmpty, "need at least one sketch to merge")
    mergeCut(k, sketches.map(cutKmv(_, k)))
  }

  /** [[cutSketch]] of a frame that must hold exactly (kmv_hash). */
  private def cutKmv(sketch: DataFrame, k: Int): DataFrame = {
    require(sketch.columns.toSeq == Seq("kmv_hash"),
      "expected a KMV sketch frame with exactly (kmv_hash), got: " +
        sketch.columns.mkString(", "))
    cutSketch(sketch, k)
  }

  /** [[merge]] of sketches already through [[cutKmv]]. */
  private def mergeCut(k: Int, cut: Seq[DataFrame]): DataFrame =
    cut.reduce(_ unionByName _)
      .distinct()
      .orderBy(col("kmv_hash"))
      .limit(k)

  /** One-row distinct-count estimate: with n = |sketch| hashes,
    *  - n < k → EXACT: the sketch saw every distinct value (estimate
    *    = n, is_exact = true);
    *  - n = k → (k−1)·2^60 / h_(k) (the kth smallest hash), the
    *    standard unbiased KMV estimator — one double division over
    *    exact integers.
    * Columns: kmv_estimate FLOAT, n_hashes, is_exact.
    *
    * Shape-guarded like [[merge]] (bounded limit(k+1) probe): a frame
    * with more than k rows was not built/merged with this k, and its
    * n<k branch would otherwise return is_exact=true over a hash set
    * the declared k never produced — plausible and wrong. n_hashes<k
    * proves exactness only for frames actually built with this k
    * (the same one-sided caveat as merge: a smaller-k frame fits). */
  def estimate(sketch: DataFrame, k: Int): DataFrame = {
    checkK(k)
    val sk = cutSketch(sketch, k)
    val agged = sk.agg(count(lit(1)).as("n_hashes"),
      max(col("kmv_hash")).as("__hk"))
    agged.select(
      when(col("n_hashes") < k, col("n_hashes").cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, HashBits)) /
          col("__hk").cast("double"))
        .cast("float").as("kmv_estimate"),
      col("n_hashes"),
      (col("n_hashes") < k).as("is_exact"))
  }

  /** Jaccard + intersection estimate from two sketches of the same k
    * (Beyer et al. 2007): L = the union's bottom-k ([[merge]] of the
    * two — a valid sketch of A ∪ B); J ≈ |L ∩ A ∩ B| / |L| (each L
    * member is a uniform draw from the union's distinct values, and
    * membership in both bottom-k sets decides "∈ A ∩ B" EXACTLY for
    * hashes ≤ both sketches' thresholds — which every L member is);
    * |A ∩ B| ≈ J · D̂(L). One row: jaccard FLOAT,
    * kmv_intersection FLOAT, kmv_union FLOAT, n_common (the exact
    * integer match count), n_union_hashes.
    *
    * Plan: ≤ k-row frames throughout — two left-semi joins onto L and
    * one aggregate; everything broadcastable by construction. Each
    * input is cut and shape-guarded once up front ([[cutSketch]]: it
    * feeds the merge AND a semi-join — a raw build lineage would re-run
    * its full scan per consumer). Two EMPTY sketches yield NULL
    * jaccard/intersection (0/0 carries no evidence — the rocPoints
    * one-class convention), never a NaN artifact. */
  def jaccard(skA: DataFrame, skB: DataFrame, k: Int): DataFrame = {
    checkK(k)
    val (a, b) = (cutKmv(skA, k), cutKmv(skB, k))
    val l = Cut(mergeCut(k, Seq(a, b)))
    val common = l
      .join(a, Seq("kmv_hash"), "left_semi")
      .join(b, Seq("kmv_hash"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    // the union estimate at FULL double precision: the intersection
    // product must consume the untruncated double (going through the
    // float surface first would quantize the factor and desync the
    // replay), so the estimator inlines here instead of reading
    // [[estimate]]'s float column
    val unionEst = l
      .agg(count(lit(1)).as("n_union_hashes"),
        max(col("kmv_hash")).as("__hk"))
      .select(col("n_union_hashes"),
        when(col("n_union_hashes") < k,
            col("n_union_hashes").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, HashBits)) /
            col("__hk").cast("double")).as("__u"))
    Attach(common, unionEst)
      .select(
        when(col("n_union_hashes") > 0,
          (col("n_common").cast("double") /
            col("n_union_hashes").cast("double"))
            .cast("float")).as("jaccard"),
        when(col("n_union_hashes") > 0,
          (col("n_common").cast("double") /
            col("n_union_hashes").cast("double") * col("__u"))
            .cast("float")).as("kmv_intersection"),
        col("__u").cast("float").as("kmv_union"),
        col("n_common"), col("n_union_hashes"))
  }
}
