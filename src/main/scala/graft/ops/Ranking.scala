package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranking without the single-task funnel: Spark's
  * `row_number().over(Window.orderBy(…))` (and `ntile` over the same
  * unpartitioned window) moves the entire frame through ONE partition
  * — the "No Partition Defined for Window operation" plan that is fine
  * at 1,500 rows and a stall at a warehouse's customer table. This is
  * the distributed replacement: identical ranks, no global window.
  *
  * Mechanics (the classic two-phase rank):
  *   1. `repartitionByRange` on the order columns — a range exchange
  *      whose sampled boundaries affect only balance, never the result
  *      — then a [[Cut]] so both passes below see the SAME
  *      partitioning (range boundaries are sampled, hence otherwise
  *      nondeterministic across re-evaluations);
  *   2. per-partition row counts (one map-side-combined agg to ≤P
  *      rows) → each partition's global offset via a tiny P×P
  *      triangular self-join — NO window at all, so no plan node ever
  *      funnels the data frame into one task;
  *   3. per-partition `row_number` (partitioned window — parallel) +
  *      broadcast the offsets back: global rank = offset + local rank.
  *
  * Exactness: ranks are pure integer positions in the caller's total
  * order — the caller must make the order total (tie-break with a key
  * column) or ranks are nondeterministic, exactly as with window
  * `row_number`. [[withGlobalNtile]] reproduces SQL `ntile(k)`
  * bit-for-bit from the rank by the standard first-buckets-larger
  * formula, so an existing ntile oracle replays unchanged.
  */
object Ranking {

  private val Reserved = Seq("__pid", "__lr", "__off", "__n")

  private def checkCols(df: DataFrame, out: String): Unit = {
    val clash = df.columns.toSet.intersect((Reserved :+ out).toSet)
    require(clash.isEmpty,
      s"Ranking appends working columns ${Reserved.mkString(", ")} and " +
        s"'$out' — the input already has: $clash; rename first")
  }

  /** The checkpointed range-partitioned frame plus its per-partition
    * (pid, count, offset) ledger. P = current shuffle parallelism. */
  private def rangedWithOffsets(df: DataFrame, order: Seq[Column])
      : (DataFrame, DataFrame, DataFrame) = {
    val ranged = Cut(df.repartitionByRange(order: _*))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    // offsets via a triangular self-join over ≤P ledger rows (P = the
    // shuffle-partition setting, config-bounded — never data-sized):
    // deliberately NOT a cumulative window, so the whole plan is free
    // of unpartitioned Window nodes.
    val offs = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    (ranged, counts, offs)
  }

  /** Appends `out` = the 1-based global rank of each row in the total
    * order `order`. Same ranks as `row_number().over(Window.orderBy(
    * order…))`, distributed. */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
                     out: String = "global_rank"): DataFrame = {
    checkCols(df, out)
    val (ranged, _, offs) = rangedWithOffsets(df, order)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    ranged.withColumn("__lr", row_number().over(w).cast("long"))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn(out, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
  }

  /** Appends `out` = SQL `ntile(k)` over the total order `order`,
    * distributed. ntile's contract: with n rows, q = n div k and
    * r = n mod k, the first r buckets hold q+1 rows and the rest q —
    * bucket(i) = ⌈i/(q+1)⌉ while i ≤ r·(q+1), else r + ⌈(i−r·(q+1))/q⌉.
    * All-integer arithmetic (⌈a/b⌉ = (a+b−1) div b), so any engine
    * replays it exactly. */
  def withGlobalNtile(df: DataFrame, order: Seq[Column], k: Int,
                      out: String): DataFrame = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    checkCols(df, out)
    val (ranged, counts, offs) = rangedWithOffsets(df, order)
    // total n = sum of the ledger's per-partition counts (one tiny agg)
    val total = counts.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"))
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    Attach(ranged.withColumn("__lr", row_number().over(w).cast("long"))
      .join(broadcast(offs), Seq("__pid")), total)
      .withColumn(out, expr(
        s"""CASE WHEN (__off + __lr) <= ((__n div ${k}L) + 1L) * (__n % ${k}L)
           |THEN ((__off + __lr) + (__n div ${k}L)) div ((__n div ${k}L) + 1L)
           |ELSE (__n % ${k}L) +
           |  ((__off + __lr) - (__n % ${k}L) * ((__n div ${k}L) + 1L)
           |    + (__n div ${k}L) - 1L) div (__n div ${k}L)
           |END""".stripMargin))
      .drop("__pid", "__lr", "__off", "__n")
  }

  /** Several global ntiles over the SAME frame with ONE base
    * materialization — the multi-dimension scoring shape (RFM: three
    * quintiles over one customer frame). Calling [[withGlobalNtile]] d
    * times re-checkpoints the full frame d times; here the base
    * checkpoints once, each dimension ranks only its NARROW (key ∪
    * order-columns) projection — the range exchanges move 2–3 columns,
    * not the whole row — and the d score frames join back on `key`.
    * After the first key-hash exchange the join partitioning is reused
    * for the remaining score joins, so the FULL-width frame moves
    * exactly once.
    *
    * `key` must uniquely identify rows (it is the join-back identity),
    * and each spec's order must be total (tie-break with the key),
    * exactly as in [[withGlobalNtile]]. Specs are (orderColumnNames —
    * ascending, k, outputColumn); names (not Columns) because each
    * dimension's projection must be derivable from the base frame. */
  def withGlobalNtiles(df: DataFrame, key: Seq[String],
                       specs: Seq[(Seq[String], Int, String)]): DataFrame = {
    require(key.nonEmpty && specs.nonEmpty, "need a key and >= 1 spec")
    // withGlobalNtile's checkCols sees only the NARROW (key ∪ order)
    // projection — an out name that duplicates a base column OUTSIDE
    // that projection (or another spec's out) would silently yield a
    // duplicate-named column after the join-back; fail loudly instead
    val outs = specs.map(_._3)
    require(outs.distinct == outs,
      s"duplicate output columns across specs: $outs")
    outs.foreach(o => require(!df.columns.contains(o),
      s"output column '$o' already exists on the input — rename first"))
    val base = Cut(df)
    specs.foldLeft(base) { case (acc, (order, k, out)) =>
      val narrow = base.select((key ++ order).distinct.map(col): _*)
      val scored = withGlobalNtile(narrow, order.map(col), k, out)
        .select((key.map(col) :+ col(out)): _*)
      acc.join(scored, key)
    }
  }

  /** Appends SQL `percent_rank()` and `cume_dist()` over the global
    * order `order` — the TIE-AWARE family ([[withGlobalRank]] is
    * row_number: ties broken by position; percent_rank/cume_dist give
    * equal inputs equal outputs, so they cannot ride the same
    * per-partition row_number — a tie straddling a range boundary
    * would split).
    *
    * Mechanics: collapse to the DISTINCT-value ledger first (groupBy
    * order-columns → count), then a two-phase prefix sum over that
    * ledger — range exchange + checkpoint, per-partition running sums,
    * P×P triangular offsets weighted by the partition COUNT SUMS (not
    * row counts) — yields for every distinct value v:
    *   rank(v)  = 1 + Σ_{u<v} cnt(u)        (shared by all its ties)
    *   cume(v)  =     Σ_{u≤v} cnt(u)
    * and the SQL definitions close in one double division each:
    * percent_rank = (rank−1)/(n−1) (0 when n = 1), cume_dist = cume/n
    * — exact integers divided once, bit-identical in any engine. The
    * ledger is |distinct values| ≤ |rows| and usually far smaller; the
    * full-width frame moves through ONE hash join on the order
    * columns, never through a global window.
    *
    * `order` is column NAMES (ascending) — the ledger groupBy and the
    * join-back must agree on the exact grouping expressions. Rows with
    * a NULL order value are EXCLUDED (a null is not an observation —
    * the [[Percentiles.nearestRank]] convention; Spark sorts nulls
    * first and DuckDB last, so ranking them could never be
    * engine-portable anyway). */
  def withGlobalPercentiles(df: DataFrame, order: Seq[String],
                            pctOut: String = "pct_rank",
                            cumeOut: String = "cume_dist"): DataFrame = {
    require(order.nonEmpty, "need at least one order column")
    checkCols(df, pctOut)
    checkCols(df, cumeOut)
    val oc = order.map(col)
    val nonNull = df.filter(oc.map(_.isNotNull).reduce(_ && _))
    val ledger = Cut(nonNull.groupBy(oc: _*).agg(count(lit(1)).as("__c"))
      .repartitionByRange(oc: _*))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val parts = ledger.groupBy(col("__pid"))
      .agg(sum(col("__c")).as("__pc"))
    val offs = parts.as("a")
      .join(broadcast(parts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__pc")), lit(0L)).as("__coff"))
    val total = parts.agg(coalesce(sum(col("__pc")), lit(0L)).as("__n"))
    val w = Window.partitionBy(col("__pid")).orderBy(oc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = Attach(ledger
      .withColumn("__cl", sum(col("__c")).over(w))
      .join(broadcast(offs), Seq("__pid")), total)
      .withColumn("__cum", col("__coff") + col("__cl"))
      .withColumn(pctOut,
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__cum") - col("__c")).cast("double") /
            (col("__n") - 1L).cast("double")))
      .withColumn(cumeOut,
        col("__cum").cast("double") / col("__n").cast("double"))
      .select((oc :+ col(pctOut) :+ col(cumeOut)): _*)
    nonNull.join(scored, order)
  }

  /** Appends SQL `rank()` and `dense_rank()` over the global order —
    * the remaining tie-aware pair ([[withGlobalPercentiles]] covers
    * percent_rank/cume_dist; [[withGlobalRank]] is row_number; ntile
    * via [[withGlobalNtile]] — with this the whole SQL global-ranking
    * family runs without an unpartitioned Window). Same distinct-value
    * ledger machinery: for value v,
    *   rank(v)       = 1 + Σ_{u<v} cnt(u)
    *   dense_rank(v) = 1 + |{u < v}|
    * — the first is the count prefix sum, the second the ledger
    * ORDINAL, so the triangular offset pass carries both a count-sum
    * and a row-count column. All integer arithmetic; NULL order values
    * excluded (the [[withGlobalPercentiles]] convention). */
  def withGlobalRankTies(df: DataFrame, order: Seq[String],
                         rankOut: String = "rank_ties",
                         denseOut: String = "dense_rank"): DataFrame = {
    require(order.nonEmpty, "need at least one order column")
    checkCols(df, rankOut)
    checkCols(df, denseOut)
    val oc = order.map(col)
    val nonNull = df.filter(oc.map(_.isNotNull).reduce(_ && _))
    val ledger = Cut(nonNull.groupBy(oc: _*).agg(count(lit(1)).as("__c"))
      .repartitionByRange(oc: _*))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val parts = ledger.groupBy(col("__pid"))
      .agg(sum(col("__c")).as("__pc"), count(lit(1)).as("__pn"))
    val offs = parts.as("a")
      .join(broadcast(parts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__pc")), lit(0L)).as("__coff"),
        coalesce(sum(col("b.__pn")), lit(0L)).as("__doff"))
    val wCum = Window.partitionBy(col("__pid")).orderBy(oc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOrd = Window.partitionBy(col("__pid")).orderBy(oc: _*)
    val scored = ledger
      .withColumn("__cl", sum(col("__c")).over(wCum))
      .withColumn("__dl", row_number().over(wOrd).cast("long"))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn(rankOut, col("__coff") + col("__cl") - col("__c") + 1L)
      .withColumn(denseOut, col("__doff") + col("__dl"))
      .select((oc :+ col(rankOut) :+ col(denseOut)): _*)
    nonNull.join(scored, order)
  }

  /** Distributed INCLUSIVE running totals — the shared prefix-sum
    * engine behind every "cumulative count over a collapsed ledger" op
    * (ECDFs, equi-depth bucketing, quantile bands, sweep-line levels,
    * weighted medians). Appends, for each `(inCol, outCol)` pair, the
    * cumulative sum of `inCol` over the global order `order` — within
    * each `keys` group when keys are given — WITHOUT an unpartitioned
    * Window: those ops' "distinct-value" frames are bounded for
    * categorical domains but DATA-SIZED for timestamp/continuous ones,
    * where a single-task `Window.orderBy` running sum is the plan that
    * stalls at 100×.
    *
    * Mechanics (the [[withGlobalPercentiles]] ledger machinery,
    * generalized): range exchange on (keys ∪ order) + [[Cut]]
    * (sampled boundaries affect only balance, and both passes must see
    * the SAME partitioning), per-partition running sums under a
    * (__pid ∪ keys)-partitioned window — parallel — plus partition
    * offsets: unkeyed, a P×P triangular self-join over the ≤P-row
    * per-partition sums (broadcast back); keyed, a keys-partitioned
    * window over __pid — ≤P rows PER KEY, bounded by the partition
    * count, never by the data — joined back null-safely on
    * (__pid, keys).
    *
    * Exactness: `order` must be TOTAL over the input rows (callers pass
    * collapsed/distinct ledgers, where it is by construction) or the
    * per-row cumulative is nondeterministic, exactly as with a window
    * running sum over a non-total order. Input columns must be integral
    * (int64 totals are exact and engine-replayable; a float running sum
    * would be order-dependent). */
  def withRunningTotals(df: DataFrame, keys: Seq[String], order: Seq[Column],
                        sums: Seq[(String, String)]): DataFrame = {
    require(order.nonEmpty, "need at least one order column")
    require(sums.nonEmpty, "need at least one (in, out) sum spec")
    val outs = sums.map(_._2)
    require(outs.distinct == outs, s"duplicate output columns: $outs")
    sums.foreach { case (in, out) =>
      require(df.columns.contains(in),
        s"sum input column '$in' not in ${df.columns.mkString(", ")}")
      checkCols(df, out)
    }
    val working = df.columns.filter(_.matches("__p(l|c|off)\\d+"))
    require(working.isEmpty, "withRunningTotals appends working columns " +
      s"__pl*/__pc*/__poff* — the input already has: ${working.mkString(", ")}")
    val keyCols = keys.map(col)
    val ranged = Cut(df.repartitionByRange((keyCols ++ order): _*))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val pcAggs = sums.zipWithIndex.map { case ((in, _), i) =>
      sum(col(in)).as(s"__pc$i")
    }
    val parts = ranged.groupBy((col("__pid") +: keyCols): _*)
      .agg(pcAggs.head, pcAggs.tail: _*)
    val offs =
      if (keys.isEmpty) {
        // ≤P rows total: the withGlobalRank triangular pass
        val offAggs = sums.indices.map(i =>
          coalesce(sum(col(s"b.__pc$i")), lit(0L)).as(s"__poff$i"))
        parts.as("a")
          .join(broadcast(parts.as("b")),
            col("b.__pid") < col("a.__pid"), "left")
          .groupBy(col("a.__pid").as("__pid"))
          .agg(offAggs.head, offAggs.tail: _*)
      } else {
        // ≤P rows per key: partitioned (by keys) window over __pid
        val w = Window.partitionBy(keyCols: _*).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val withOffs = sums.indices.foldLeft(parts) { (acc, i) =>
          acc.withColumn(s"__poff$i",
            coalesce(sum(col(s"__pc$i")).over(w), lit(0L)))
        }
        withOffs.select((col("__pid") +: keyCols) ++
          sums.indices.map(i => col(s"__poff$i")): _*)
      }
    val wLoc = Window.partitionBy((col("__pid") +: keyCols): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.zipWithIndex.foldLeft(ranged) { case (acc, ((in, _), i)) =>
      acc.withColumn(s"__pl$i", sum(col(in)).over(wLoc))
    }
    val joined =
      if (keys.isEmpty) local.join(broadcast(offs), Seq("__pid"))
      else {
        // null-safe on the keys: a null key value is a legitimate group
        // in window semantics and must not fall out of an equi-join
        val cond = ((col("__l.__pid") === col("__o.__pid")) +:
          keys.map(k => col(s"__l.$k") <=> col(s"__o.$k"))).reduce(_ && _)
        local.as("__l").join(offs.as("__o"), cond)
          .select(local.columns.map(c => col(s"__l.$c")) ++
            sums.indices.map(i => col(s"__o.__poff$i")): _*)
      }
    sums.zipWithIndex.foldLeft(joined) { case (acc, ((_, out), i)) =>
      acc.withColumn(out, col(s"__poff$i") + col(s"__pl$i"))
    }.drop("__pid" +: sums.indices
      .flatMap(i => Seq(s"__pl$i", s"__poff$i")): _*)
  }
}
