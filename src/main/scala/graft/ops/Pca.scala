package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA over an embedding column — covariance, a power-iteration
  * eigensolver, and projection — engineered so even the EIGENSOLVER is
  * engine-replayable (the DuckDB oracle reruns the same iterations and
  * matches bit-for-bit after the float downcast).
  *
  * Scale shape: the covariance pass is the only corpus-sized work — a
  * per-row d(d+1)/2 product expansion with map-side partial aggregation,
  * so the SHUFFLE carries d² cells per partition, never the corpus. The
  * iteration then runs on the d×d cell frame (tiny), and the projection
  * is one broadcast join back onto the corpus.
  *
  * Dim bound — be honest about the CPU axis, not just the shuffle:
  * exact covariance is inherently O(n·d²) COMPUTE, and the expansion
  * pays it per row (d=256 → 33k products/row is fine; d=4096 → 8.4M
  * products/row means every core does 8.4M multiplies per vector —
  * that's a compute wall no partitioning fixes). This exact form is
  * for d ≲ 1024.
  *
  * Exactness: every sum quantizes its double terms to DECIMAL(30,12)
  * first (order-independent, cross-engine identical — the repo's
  * ln-quantization pattern); the remaining scalar ops are +,−,×,÷,sqrt,
  * all IEEE-exact. Power iteration from the deterministic start e₁ with
  * a FIXED iteration count: both engines run the identical arithmetic,
  * so the oracle equality holds regardless of how converged the vector
  * is at that budget (convergence quality is pinned separately by spec
  * against a known matrix).
  */
object Pca {

  private val d30 = (c: Column) => c.cast("decimal(30,12)")

  /** Upper-triangle sample covariance cells (i, j, cov) of the vector
    * column, 0-based indices, i ≤ j:
    * cov = (S_ij − (S_i·S_j)/n) / (n−1) over quantized product sums.
    * Rows with a null vector are excluded; ragged vectors fail the
    * pairing arithmetic loudly rather than silently truncating. */
  def covariance(df: DataFrame, vec: String): DataFrame = {
    // the O(n·d²) pair expansion + map-side partial sums run ON THE
    // SCAN PARTITIONING (no exchange before them): a corpus in one
    // file split would compute every cell product in ONE task
    // ([[Skew.spread]] — no-op once splits ≥ cores, the 100 TB case)
    val v = Skew.spread(df.filter(col(vec).isNotNull)
      .select(transform(col(vec), x => x.cast("double")).as("e")))
    // the pair expansion carries ONE summed column, quantized to
    // INTEGER PICOS (round(x·10¹²) as long) instead of DECIMAL(30,12):
    // the same 12-decimal grid and HALF_UP direction, but the sum runs
    // on longs (group sums ≤ rows·10¹⁴ ≪ 2⁶³ — no overflow) where a
    // >18-digit decimal sum pays BigDecimal per row. With the
    // per-dimension sums S_i moved to a d-sized pass (identical values
    // — every row carries every dimension), the full pass measured
    // 13 s → 2.5 s on 2k×64 vectors. The oracle replays the identical
    // round(x·1e12) path, so the grid-boundary cases land together.
    val pico = (c: Column) => round(c * lit(1e12)).cast("long")
    val pairs = v.select(posexplode(flatten(
      transform(col("e"), (xi, i) =>
        transform(slice(col("e"), i + lit(1), size(col("e")) - i), (xj, jj) =>
          struct(i.as("i"), (i + jj).as("j"), (xi * xj).as("p"))))))
      .as(Seq("__pos", "c")))
      .select(col("c.i"), col("c.j"), col("c.p"))
    val sums = pairs.groupBy(col("i"), col("j"))
      .agg((sum(pico(col("p"))).cast("double") / lit(1e12)).as("s_ij"))
    val dimSums = v.select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((sum(pico(col("x"))).cast("double") / lit(1e12)).as("s"))
    val n = v.agg(count(lit(1)).as("n"))
    Attach(sums
      .join(dimSums.select(col("i"), col("s").as("s_i")), "i")
      .join(dimSums.select(col("i").as("j"), col("s").as("s_j")), "j"), n)
      .select(col("i"), col("j"),
        ((col("s_ij") - (col("s_i") * col("s_j")) / col("n")) /
          (col("n") - lit(1))).as("cov"))
  }

  /** Dominant eigenvector of the covariance as a (i, val) frame via
    * `iters` power iterations from e₁.
    *
    * The d² cell frame is DRIVER-scale (the same contract as the
    * k-means centroid and PQ codebook collects: an index-build action,
    * not a data read), so the iterations run on the driver — a
    * join-per-iteration Spark formulation was measured paying ~2 s of
    * pure scheduling per round on 2 080 cells. The arithmetic mirrors
    * the in-plan form EXACTLY so the SQL oracle replay still matches
    * bit-for-bit: each mat-vec term quantizes like a
    * cast-to-DECIMAL(30,12) (BigDecimal.valueOf ∘ setScale HALF_UP —
    * precisely Spark's double→decimal cast), sums are exact decimal
    * adds, norm is the IEEE-exact sqrt of a quantized sum, division is
    * a plain double op. */
  def topComponent(cov: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val spark = cov.sparkSession
    import spark.implicits._
    val m = Array.ofDim[Double](dim, dim)
    cov.collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      require(i < dim && j < dim,
        s"covariance cell ($i,$j) outside dim $dim — wrong dim argument")
      m(i)(j) = c
      m(j)(i) = c
    }
    // Spark's Cast(double → DECIMAL(30,12)): BigDecimal.valueOf (the
    // Double.toString route, NOT the raw binary expansion) then
    // HALF_UP to scale 12 — matching it is what keeps the driver-side
    // iteration bit-identical to the oracle's in-SQL replay
    def q(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    (1 to iters).foreach { _ =>
      val mv = Array.tabulate(dim) { i =>
        var s = java.math.BigDecimal.ZERO
        var j = 0
        while (j < dim) { s = s.add(q(m(i)(j) * v(j))); j += 1 }
        s.doubleValue
      }
      var n2 = java.math.BigDecimal.ZERO
      mv.foreach(x => n2 = n2.add(q(x * x)))
      val nrm = math.sqrt(n2.doubleValue)
      v = mv.map(_ / nrm)
    }
    v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq.toDF("i", "val")
  }

  /** Project every vector onto a component frame (i, val): one
    * broadcast join of the d-row component onto the exploded corpus,
    * quantized-sum back per id. */
  def project(df: DataFrame, id: String, vec: String,
              component: DataFrame): DataFrame =
    df.filter(col(vec).isNotNull)
      .select(col(id), posexplode(col(vec)).as(Seq("i", "x")))
      .join(component, "i")
      .groupBy(col(id))
      .agg(sum(d30(col("x").cast("double") * col("val"))).cast("double")
        .as("pc1"))
}
