package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications", J. Algorithms
  * 2005) over a key column — the bounded-memory frequency summary for
  * corpora whose key cardinality dwarfs memory: depth×width counters
  * (d rows of w buckets), point estimate = min over rows of the key's
  * bucket counter, one-sided error (estimate ≥ true count, over by at
  * most εN with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).
  *
  * Like the portable HLL/KLL pair in [[Dedup.corpusProfile]], THIS
  * sketch is engine-replayable end to end: buckets come from the
  * repo's standard md5 hash trick ([[Sampling.hashBucket]] — the first
  * 8 hex chars of md5("cms<row>:" ++ key) as an unsigned int, mod
  * width), and build/estimate are integer groupBy/min — any engine
  * with md5 reproduces every counter and every estimate bit-for-bit,
  * so the whole sketch sits on the hard correctness signal.
  *
  * Scale shape: build is ONE map-side-combined aggregation — each
  * input row expands to its d (row, bucket) cells via posexplode (a
  * pure map), and the combine collapses to ≤ d·w rows regardless of
  * input size. Estimates broadcast the ≤ d·w-row sketch onto the
  * candidate keys — never the reverse, so a trillion-token stream
  * meets the sketch only in its own partitions. The candidate set is
  * the caller's (CMS answers point queries; heavy-hitter ENUMERATION
  * pairs it with a candidate stream, e.g. a per-partition top-k).
  */
object CountMin {

  /** The cell (bucket index) `key` hashes to in sketch row `row` —
    * public so windowed/streaming composites can expand cells with the
    * exact hash the batch build uses (and the oracle replays). */
  def bucketOf(row: Int, key: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$row:"), key.cast("string"))),
      1, 8), 16, 10).cast("long"), lit(width.toLong))

  private def bucket(row: Int, key: Column, width: Int): Column =
    bucketOf(row, key, width)

  private def checkShape(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
  }

  /** The sketch as a (cms_row, cms_bucket, cnt) frame — ≤ depth·width
    * rows, absent cells implicitly zero. `weight` defaults to 1 per
    * input row (count semantics); pass an integral column for weighted
    * frequency (e.g. token counts already aggregated upstream). Null
    * keys carry no frequency and are excluded. */
  def build(df: DataFrame, key: String, depth: Int, width: Int,
            weight: Option[String] = None): DataFrame = {
    checkShape(depth, width)
    val w = weight.map(c => col(c).cast("long")).getOrElse(lit(1L))
    df.filter(col(key).isNotNull)
      .select(posexplode(array((0 until depth).map(i =>
        bucket(i, col(key), width)): _*)).as(Seq("cms_row", "cms_bucket")),
        w.as("__w"))
      .groupBy(col("cms_row"), col("cms_bucket"))
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Cell-wise merge of sketches built with the same (depth, width) —
    * CMS is a LINEAR sketch (counters add), so per-partition / per-day
    * sketches built independently on 1000 executors combine into the
    * corpus sketch with a ≤ d·w-row groupBy-sum: merge(build(A),
    * build(B)) == build(A ∪ B) cell-for-cell, the property that makes
    * the sketch distributable (and incrementally maintainable — add
    * today's sketch, never rescan history).
    *
    * (depth, width) are DECLARED, not inferred: cell-adding sketches
    * of different shapes yields a plausible-looking but meaningless
    * summary, so every input frame is checked — schema at plan-build
    * time, cell coordinates per row (≤ d·w rows each, the guard is
    * free); a frame built with a different shape fails loudly.
    *
    * The guard is ONE-SIDED: a frame built with a SMALLER width (or
    * depth) fits the larger declared shape — its cells are in range —
    * and still merges into a silently meaningless summary; only the
    * larger-shape direction can fail loudly, because cells carry no
    * shape. Declared-(depth,width) discipline across build, merge and
    * every estimator is the caller's contract. */
  def merge(depth: Int, width: Int, sketches: DataFrame*): DataFrame = {
    checkShape(depth, width)
    require(sketches.nonEmpty, "need at least one sketch to merge")
    sketches.map(checkedCellFrame(_, depth, width)).reduce(_ unionByName _)
      .groupBy(col("cms_row"), col("cms_bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** The cell frame with its shape contract enforced row-wise:
    * cms_row ∈ [0, depth), cms_bucket ∈ [0, width). Values pass
    * through untouched; a violation raises with the offending cell.
    * The guard wraps cms_bucket — a JOIN KEY in every consumer — not
    * cnt: an inner join would eliminate out-of-shape rows before a
    * guarded cnt was ever evaluated, silently un-arming the check. */
  private def checkedCellFrame(sk: DataFrame, depth: Int,
                               width: Int): DataFrame = {
    require(sk.columns.toSet == Set("cms_row", "cms_bucket", "cnt"),
      "expected a sketch frame with exactly (cms_row, cms_bucket, cnt), " +
        s"got: ${sk.columns.mkString(", ")}")
    sk.select(col("cms_row"),
      when(col("cms_row").between(0, depth - 1) &&
          col("cms_bucket").between(0L, width.toLong - 1), col("cms_bucket"))
        .otherwise(raise_error(concat(
          lit(s"sketch cell does not fit depth=$depth width=$width: row="),
          col("cms_row"), lit(" bucket="), col("cms_bucket"))))
        .as("cms_bucket"),
      col("cnt"))
  }

  /** Inner-product estimate between two sketches of the same shape
    * (Cormode & Muthukrishnan §4.2): min over depth rows of
    * Σ_buckets cntA·cntB ≥ Σ_keys fA(k)·fB(k) — a one-sided upper
    * bound on the JOIN SIZE of the two keyed inputs (and, against
    * itself, on the second frequency moment F2 = Σ f², the key-skew
    * statistic). This is how a planner sizes a 100 TB join — or decides
    * a key needs salting — from two ≤ d·w-row summaries, without
    * executing the join. A depth row with no shared bucket proves the
    * true product is 0, so absent rows fold back in as 0 before the
    * min. Bound quality is ε·NA·NB with ε = e/width: size width to the
    * product of the stream masses, not to the key cardinality. Both
    * inputs must share the DECLARED (depth, width) — a mismatched pair
    * would silently dot unrelated cells, so the same row-wise shape
    * guard as [[merge]] applies to each side. */
  def innerProduct(cmsA: DataFrame, cmsB: DataFrame, depth: Int,
                   width: Int): DataFrame = {
    checkShape(depth, width)
    val a = checkedCellFrame(cmsA, depth, width)
    val bSide = checkedCellFrame(cmsB, depth, width)
    // PlanAudit sf0.1, 1 MB threshold: freq_cms_selfjoin_f2 6 exch/0 SMJ with both
    // hints; 8/1 without this one, 7/1 without the one below
    val dots = a.join(broadcast(bSide.withColumnRenamed("cnt", "__cnt_b")),
        Seq("cms_row", "cms_bucket"))
      .groupBy(col("cms_row"))
      .agg(sum(col("cnt") * col("__cnt_b")).as("__dot"))
    cmsA.sparkSession.range(depth)
      .select(col("id").cast("int").as("cms_row"))
      .join(broadcast(dots), Seq("cms_row"), "left")
      .agg(min(coalesce(col("__dot"), lit(0L))).as("cms_inner_product"))
  }

  /** Point estimates for `candidates`' `key` column against a built
    * sketch: appends `cms_estimate` = min over the d rows of the key's
    * bucket counter. The sketch side broadcasts (≤ depth·width rows by
    * construction); a candidate hashing only into never-touched cells
    * estimates 0 (a true count of 0 — every real occurrence increments
    * all d of its cells). Candidate rows must be distinct on their full
    * column set (they are the group-back identity). */
  def estimate(cms: DataFrame, candidates: DataFrame, key: String,
               depth: Int, width: Int): DataFrame = {
    checkShape(depth, width)
    val clash = candidates.columns.toSet
      .intersect(Set("cms_row", "cms_bucket", "cnt", "cms_estimate"))
    require(clash.isEmpty, "estimate appends working columns cms_row, " +
      s"cms_bucket, cnt, cms_estimate — the candidates already have: $clash")
    val cells = candidates.select(col("*"),
      posexplode(array((0 until depth).map(i =>
        bucket(i, col(key), width)): _*)).as(Seq("cms_row", "cms_bucket")))
    cells.join(cms, Seq("cms_row", "cms_bucket"), "left")
      .groupBy(candidates.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }
}
