package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames. Companion to the
  * connected-components family in [[Dedup]] (duplicateClusters /
  * duplicateClustersStar); here the fixed-iteration-count algorithms
  * whose arithmetic can be replayed by the DuckDB oracle the same way
  * the [[Pca]] eigensolver is.
  *
  * Scale shape: each PageRank iteration is one (rank ⋈ edges) shuffle
  * on src plus one inflow aggregation on dst — the standard Pregel
  * contraction expressed as joins, no driver-side adjacency. The node
  * frame and out-degrees compute once; each iteration is a [[Cut]], so
  * the plan never deepens.
  */
object Graph {

  private val d30 = (c: Column) => c.cast("decimal(30,12)")

  // ── persisted edge-frame lifecycle ─────────────────────────────────
  //
  // The [[graft.ops.IvfIndex]] pattern applied to graphs: DERIVING the
  // edge frame (shingle co-occurrence, entity blocking, citation
  // extraction) is routinely 10–100× the cost of the algorithm that
  // consumes it, and it is a pure function of the corpus — so build it
  // ONCE, persist it partitioned, and run pagerank/triangles/BFS
  // against the lake artifact. At 100 TB this is the only sane
  // lifecycle (nobody re-derives a trillion-edge graph to run one BFS),
  // and it also makes benchmarks honest: the algorithm's timing stops
  // being dominated by the amortizable derivation.

  private def writeEdgeFiles(edges: DataFrame, src: String, dst: String,
                             path: String, buckets: Int, mode: String): Unit =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .withColumn("bkt", pmod(xxhash64(col("src")), lit(buckets.toLong)))
      // exactly ONE file per bucket per call: without the repartition,
      // every one of the P shuffle tasks opens a writer for each bucket
      // it touches — up to P×buckets small files PER WRITE, which is
      // both the slowest way to write locally and the many-small-files
      // lake shape that kills scan startup at 100 TB. The dedup runs
      // AFTER the bucket exchange: bkt is a function of src, so equal
      // (src, dst) rows co-locate and the distinct closes partition-
      // locally — one edge-sized shuffle total, same as before.
      .repartition(buckets, col("bkt"))
      .dropDuplicates("src", "dst", "bkt")
      .write.mode(mode).partitionBy("bkt").parquet(s"$path/edges.parquet")

  /** Persist a deduplicated (src, dst) edge frame under `path`, hash-
    * bucketed on src into `buckets` Hive partitions: bounded file count
    * under parallel writers, and a reader driving per-source lookups
    * can prune to hash(src)'s bucket. The bucket count is recorded in
    * `meta.parquet` (the [[IvfIndex]] self-describing-index contract)
    * so appends land in the same layout instead of trusting a caller
    * flag. Overwrites any previous frame. */
  def saveEdges(edges: DataFrame, src: String, dst: String, path: String,
                buckets: Int = 8): Unit = {
    require(buckets >= 1, s"need at least one bucket, got $buckets")
    val spark = edges.sparkSession
    import spark.implicits._
    Seq(buckets).toDF("buckets").repartition(1)
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
    writeEdgeFiles(edges, src, dst, path, buckets, "overwrite")
  }

  /** The recorded bucket count of a persisted edge frame; fails loudly
    * on a directory that isn't one (no silent default). */
  def edgeBuckets(spark: SparkSession, path: String): Int = {
    val rows = spark.read.parquet(s"$path/meta.parquet")
      .select(col("buckets")).collect()
    require(rows.length == 1,
      s"$path/meta.parquet: expected exactly one buckets row, got ${rows.length}")
    rows(0).getInt(0)
  }

  /** Append a delta batch to a persisted edge frame WITHOUT rewriting
    * it (the incremental-graph story: yesterday's trillion edges stand,
    * today's crawl adds its own files). The delta dedups against ITSELF
    * only — an edge already present in the base will appear twice, so
    * either feed disjoint deltas (the common case: edges over new
    * documents) or rely on the consumer's dedup ([[pageRank]],
    * [[triangles]] and [[kHopMinHops]] all collapse duplicate edges by
    * contract; degree-style consumers must `distinct()` first). */
  def appendEdges(delta: DataFrame, src: String, dst: String,
                  path: String): Unit =
    writeEdgeFiles(delta, src, dst, path,
      edgeBuckets(delta.sparkSession, path), "append")

  /** The persisted edge frame as (src, dst). May contain duplicate
    * edges after [[appendEdges]] of overlapping deltas — see its
    * contract. */
  def loadEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/edges.parquet").select(col("src"), col("dst"))

  /** PageRank with damping over a directed edge list. Exact replay
    * contract (the [[Pca]] pattern): rank₀ = 1/n; per iteration
    * rank'(v) = (1−d)/n + d·(Σ_{u→v} q(rank(u)/outdeg(u)) + dm/n)
    * where q quantizes each contribution to DECIMAL(30,12) (sums become
    * order-independent and engine-identical) and dm is the quantized
    * rank mass of dangling nodes (no out-edges), redistributed
    * uniformly — drop it and the ranks leak mass every round. Duplicate
    * edges collapse (a multigraph would double-count contributions);
    * every remaining op is IEEE-exact division/multiply/add. */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               damping: Double = 0.85, iters: Int = 8,
               shufflePartitions: Option[Int] = None): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"need at least one iteration, got $iters")
    // iteration frames are |nodes|/|edges|-sized and materialize HERE
    // (every Cut is eager), so the caller can size reducers to
    // the graph instead of paying iters × session-default scheduling
    // overhead; the session setting is restored before returning. A
    // real deployment sizes this to edge volume.
    val spark = edges.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    shufflePartitions.foreach(p => spark.conf.set(key, p.toString))
    try pageRankImpl(edges, src, dst, damping, iters)
    finally spark.conf.set(key, prev)
  }

  /** Per-node triangle counts over an undirected graph given as a
    * (possibly directed, possibly multi-) edge list. Output: (id,
    * n_triangles) for nodes in ≥1 triangle.
    *
    * The scale-critical trick is DEGREE ORIENTATION (the node-iterator
    * bound): collapse to unique undirected edges, then orient every
    * edge from its lower-(degree, id) endpoint to the higher. The
    * oriented out-degree is O(√m), so the wedge join (e1.t = e2.f)
    * generates Σ outdeg² = O(m^1.5) candidates worst-case — the
    * textbook bound — instead of Σ deg² which a hub node makes
    * quadratic. Closing wedges is one more join against the oriented
    * edge set; each triangle materializes exactly once (its
    * orientation is a unique DAG path a→b→c plus the chord a→c).
    * Plan: three shuffles on node keys, no window, no driver state. */
  def triangles(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val und = undirected(edges, src, dst)
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // total order (deg, id) makes the orientation a DAG; cut because it
    // is referenced three times (both wedge sides + the closing chord),
    // instead of leaning on runtime exchange reuse
    val o = Cut(und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("f"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t")))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.t") === col("e2.f"))
      .select(col("e1.f").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
      .join(o.as("e3"), col("a") === col("e3.f") && col("c") === col("e3.t"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node out/in degree over the DISTINCT directed edge set —
    * the first profile anyone runs against a freshly persisted edge
    * frame (hub detection, degree-cap pre-filters for the wedge join,
    * sanity vs the derivation). Duplicate edges collapse (same
    * multigraph contract as [[pageRank]]); nodes appearing on only one
    * side carry 0 on the other. Two map-side-combined aggregations and
    * one |nodes|-sized outer join — no window, no driver state. */
  def degrees(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val e = directed(edges, src, dst)
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Minimum hop distance from a seed set, bounded at `k` hops — BFS
    * as k rounds of frontier expansion. Output: (id, hops) for every
    * node within k directed hops of a seed (seeds themselves at 0).
    *
    * Each round shuffles only the FRONTIER (nodes first reached last
    * round) against the edge list and anti-joins the visited set —
    * never all paths (the recursive-CTE oracle dedups per level for
    * the same reason). Frames are [[Cut]] per round so the plan
    * stays k-independent; visited is bounded by |nodes|. */
  def kHopMinHops(edges: DataFrame, seeds: DataFrame, src: String = "src",
                  dst: String = "dst", k: Int = 3): DataFrame = {
    require(k >= 1, s"need at least one hop, got $k")
    val e = Cut(directed(edges, src, dst))
    val s0 = Cut(seeds.select(col(seeds.columns.head).as("id")).distinct()
      .withColumn("hops", lit(0)))
    val (visited, _) = (1 to k).foldLeft((s0, s0)) { case ((vis, frontier), i) =>
      val next = Cut(frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(vis, Seq("id"), "left_anti")
        .withColumn("hops", lit(i)))
      (Cut(vis.union(next)), next)
    }
    visited
  }

  /** PERSONALIZED PageRank: restart mass returns to the `seeds` set
    * (uniformly) instead of every node — the seed-biased influence
    * score behind "how exposed is each document to these flagged
    * ones", the weighted complement of [[kHopMinHops]]'s hop cutoff
    * (hops say reachable; PPR says how much). Same replay contract as
    * [[pageRank]]: rank₀ = 1/|S| on seeds, per iteration
    * rank'(v) = (1−d)·s(v) + d·(Σ_{u→v} q(rank(u)/outdeg(u)) + dm·s(v))
    * with s(v) = 1/|S| on seeds else 0, every contribution sum
    * quantized to DECIMAL(30,12), dangling mass re-seeded (not spread
    * table-wide — that would leak bias back to uniform). Nodes with
    * rank exactly 0 (never reached) are emitted too: the caller
    * filters, the oracle compares the whole vector. Scale shape is
    * [[pageRank]]'s: one rank⋈edges shuffle + one inflow agg per
    * iteration, each a [[Cut]] so the plan never deepens. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           src: String = "src", dst: String = "dst",
                           damping: Double = 0.85, iters: Int = 8): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"need at least one iteration, got $iters")
    val e = Cut(directed(edges, src, dst))
    val sd = seeds.select(col(seeds.columns.head).as("id")).distinct()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).union(sd.select(col("id")))
      .distinct()
    val outdeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val nd = Cut(nodes.join(outdeg, Seq("id"), "left")
      .join(sd.withColumn("is_seed", lit(true)), Seq("id"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false))))
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank needs a non-empty seed set")
    val sv = when(col("is_seed"), lit(1.0) / lit(ns)).otherwise(lit(0.0))
    val r0 = nd.withColumn("pr", sv)
    val rFinal = (1 to iters).foldLeft(r0) { (rk, _) =>
      val dm = rk.filter(col("outdeg").isNull)
        .agg(coalesce(sum(d30(col("pr"))), lit(0).cast("decimal(30,12)"))
          .cast("double").as("dm"))
      val contrib = rk.filter(col("outdeg").isNotNull)
        .join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("pr") / col("outdeg")).as("c"))
      val inflow = contrib.groupBy(col("id"))
        .agg(sum(d30(col("c"))).cast("double").as("inflow"))
      Cut(Attach(nd.join(inflow, Seq("id"), "left"), dm)
        .select(col("id"), col("outdeg"), col("is_seed"),
          (lit(1 - damping) * sv + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + col("dm") * sv)).as("pr")))
    }
    rFinal.select(col("id"), col("pr"))
  }

  /** Synchronous label propagation, `iters` rounds — deterministic
    * community detection (template families, mirror clusters) without
    * a modularity objective: label₀(v) = v; each round every node
    * adopts the most frequent label among its in-neighbors (by src→dst
    * edge direction; feed both directions for undirected semantics),
    * ties broken by the SMALLEST label, isolated/unreached nodes keep
    * their own. All-integer arithmetic — the DuckDB oracle replays
    * every round bit-for-bit, which a random-order asynchronous LPA
    * could never offer. Fixed iteration count: synchronous LPA can
    * 2-cycle on bipartite structures, so the output contract is "the
    * label vector after k rounds", not a fixpoint — convergence
    * behavior is pinned by spec on known graphs. One neighbor-label
    * shuffle + one mode-agg + one keep-own join per round,
    * each a [[Cut]] like the other iterative ops. */
  def labelPropagation(edges: DataFrame, src: String = "src",
                       dst: String = "dst", iters: Int = 5): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    // the smallest-label tie-break below negates the label, which only
    // orders correctly for numeric ids (string ids would cast to null
    // non-ANSI / throw under ANSI, leaving the tie order undefined)
    Seq(src, dst).foreach { c =>
      val dt = edges.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"labelPropagation needs numeric node ids; '$c' is $dt — " +
          "densely re-key string ids to longs first (e.g. via xxhash64 " +
          "or a dictionary join)")
    }
    val e = Cut(directed(edges, src, dst))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val l0 = Cut(nodes.withColumn("lbl", col("id")))
    val lFinal = (1 to iters).foldLeft(l0) { (lk, _) =>
      val counts = lk.join(e, col("id") === col("src"))
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax c, min lbl on ties: maximize the (count, -label) pair
      val pick = counts.groupBy(col("id"))
        .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
          .as("new_lbl"))
      Cut(lk.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl")))
    }
    lFinal.select(col("id"), col("lbl").as("community"))
  }

  /** Adamic–Adar link prediction over the undirected simple graph:
    * for node pairs NOT already linked, score(u,v) =
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common neighbors, discounted by
    * how promiscuous each one is (a shared rare neighbor says far more
    * than a shared hub; Adamic & Adar 2003). The "which documents are
    * probably the same family even though no edge was derived" query —
    * the candidate generator for a second, cheaper verification pass.
    *
    * Scale shape: the wedge join through each common neighbor
    * generates Σ_w deg(w)² candidates — a hub makes that quadratic, so
    * centers with deg > `maxDegree` are EXCLUDED from wedge
    * generation. That cap is declared semantics, mirrored by the
    * oracle, and never silent: [[adamicAdarDroppedHubs]] reports the
    * excluded centers (their 1/ln(deg) terms are the smallest in the
    * sum, which is why the cap is the standard production trade).
    * Degrees come from the FULL graph either way. Top-k surfaces via
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * single-partition window over the pair set), ranked on the EXACT
    * DECIMAL(20,12)-quantized term sum (ties broken by (u,v)), so
    * rank order never hangs on a double's last bit. */
  def adamicAdar(edges: DataFrame, src: String = "src", dst: String = "dst",
                 k: Int = 50, maxDegree: Long = 10000L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = Cut(undirected(edges, src, dst))
    val adj = und.select(col("u").as("c"), col("v").as("x"))
      .unionAll(und.select(col("v").as("c"), col("u").as("x")))
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg.filter(col("deg") <= maxDegree), "c")
    val scored = centers.as("a").join(centers.as("b"),
        col("a.c") === col("b.c") && col("a.x") < col("b.x"))
      .select(col("a.x").as("u"), col("b.x").as("v"),
        (lit(1.0) / log(col("a.deg").cast("double"))).as("__term"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("__term").cast("decimal(20,12)")).as("__s"))
      .join(und, Seq("u", "v"), "left_anti")
    val top = scored.orderBy(col("__s").desc, col("u"), col("v")).limit(k)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__s").desc, col("u"), col("v"))).cast("long"))
      .select(col("u"), col("v"),
        col("__s").cast("double").as("aa_score"), col("rank"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every edge, both orientations — one number
    * that says whether hubs attach to hubs (r > 0, social-network
    * shape) or to leaves (r < 0, hub-and-spoke/star shape). The
    * single-scan structural health check run before committing to a
    * partitioning or sampling strategy for a graph pipeline.
    *
    * Exactness contract ([[graft.ops.CrossSeries.corrPairs]]'s):
    * degrees are exact integers, all five co-moments accumulate in
    * DECIMAL(38,0) (HUGEINT in the oracle), and only the final ratio
    * divides in IEEE double — FLOAT out. Output: one row
    * (n_edges, assortativity).
    *
    * Plan: the degree aggregate, two broadcast-joins of the |nodes|
    * degree frame onto the edge list, one global co-moment reduce —
    * map-side combined, nothing quadratic. */
  def assortativity(edges: DataFrame, src: String = "src",
                    dst: String = "dst"): DataFrame = {
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val und = undirected(edges, src, dst)
    val adj = und.select(col("u").as("c"), col("v").as("x"))
      .unionAll(und.select(col("v").as("c"), col("u").as("x")))
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    // both orientations of every edge, so the correlation is symmetric
    adj
      .join(deg.select(col("c"), col("deg").as("__du")), Seq("c"))
      .join(deg.select(col("c").as("x"), col("deg").as("__dv")), Seq("x"))
      .agg(count(lit(1)).as("n_ends"),
        sum(d38(col("__du"))).as("sx"), sum(d38(col("__dv"))).as("sy"),
        sum(d38(col("__du")) * d38(col("__dv"))).as("sxy"),
        sum(d38(col("__du")) * d38(col("__du"))).as("sxx"),
        sum(d38(col("__dv")) * d38(col("__dv"))).as("syy"))
      .withColumn("cov_n", d38(col("n_ends")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", d38(col("n_ends")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", d38(col("n_ends")) * col("syy") - col("sy") * col("sy"))
      .select((col("n_ends") / 2).cast("long").as("n_edges"),
        (col("cov_n").cast("double") /
          nullif(sqrt(col("var_x").cast("double") * col("var_y").cast("double")),
            lit(0.0))).cast("float").as("assortativity"))
  }

  /** Neighborhood-Jaccard link prediction: unlinked pairs scored by
    * |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| — [[adamicAdar]]'s scale-free sibling
    * that normalizes by BOTH endpoints' degrees, so a pair of
    * low-degree nodes sharing most of their few neighbors outranks a
    * hub pair sharing many. Same wedge-join shape and the same
    * `maxDegree` cap on wedge CENTERS (common neighbors routed through
    * a super-hub are skipped — observable via
    * [[adamicAdarDroppedHubs]]); union degrees stay UNCAPPED full
    * degrees, so the score's denominator is exact.
    *
    * Exactness: common and union counts are integers; the score is one
    * double division, ranked after a FLOAT downcast cannot reorder it
    * (ties pinned by (u, v)). Output: (u, v, common, jaccard, rank),
    * top `k` pairs. */
  def neighborJaccard(edges: DataFrame, src: String = "src",
                      dst: String = "dst", k: Int = 50,
                      maxDegree: Long = 10000L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = Cut(undirected(edges, src, dst))
    val adj = und.select(col("u").as("c"), col("v").as("x"))
      .unionAll(und.select(col("v").as("c"), col("u").as("x")))
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg.filter(col("deg") <= maxDegree), "c")
    val common = centers.as("a").join(centers.as("b"),
        col("a.c") === col("b.c") && col("a.x") < col("b.x"))
      .groupBy(col("a.x").as("u"), col("b.x").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("c").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("c").as("v"), col("deg").as("__dv")), Seq("v"))
      .withColumn("jaccard",
        (col("common").cast("double") /
          (col("__du") + col("__dv") - col("common")).cast("double"))
          .cast("float"))
    common.orderBy(col("jaccard").desc, col("u"), col("v")).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("jaccard").desc, col("u"), col("v"))).cast("long"))
      .select(col("u"), col("v"), col("common"), col("jaccard"), col("rank"))
  }

  /** [[adamicAdar]]'s cap observer: the wedge centers the degree cap
    * excluded, with their degrees — empty proves the scores are
    * cap-free. */
  def adamicAdarDroppedHubs(edges: DataFrame, src: String = "src",
                            dst: String = "dst",
                            maxDegree: Long = 10000L): DataFrame = {
    val und = undirected(edges, src, dst)
    und.select(col("u").as("id")).unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxDegree)
  }

  /** k-core extraction by synchronous peeling, `rounds` fixed rounds:
    * each round recomputes degrees over the surviving undirected edge
    * set and drops every edge with an endpoint of degree < `k` — the
    * density filter that isolates the graph's cohesive core (dedup
    * families and citation cores survive; tendrils and stars peel
    * away). A fixed round count (not run-to-fixpoint) keeps the output
    * engine-replayable round-for-round, the [[hits]]/[[pageRank]]
    * contract; on real graphs peeling converges in far fewer rounds
    * than the default 8, and both engines emit the same rows either
    * way because they replay the same rounds. Convergence is OBSERVED,
    * not assumed: a graph still peelable after `rounds` rounds fails
    * loudly (the fixed-round output would otherwise be a silent
    * superset of the true core) — raise `rounds` for deep graphs.
    *
    * All-integer arithmetic — counts and comparisons only, nothing to
    * quantize. Output: (id, deg) over the final edge set, deg ≥ k.
    *
    * Plan: per round one map-side-combined degree aggregation and two
    * hash joins against the shrinking keep-set; each round is a [[Cut]]
    * so the plan never deepens with `rounds`. */
  def kCore(edges: DataFrame, src: String = "src", dst: String = "dst",
            k: Int = 3, rounds: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    def degreesOf(e: DataFrame) =
      e.select(col("u").as("c")).unionAll(e.select(col("v").as("c")))
        .groupBy(col("c")).agg(count(lit(1)).as("deg"))
    var e = Cut(undirected(edges, src, dst))
    for (_ <- 1 to rounds) {
      val keep = degreesOf(e).filter(col("deg") >= k).select(col("c"))
      e = Cut(e.join(keep.select(col("c").as("u")), Seq("u"))
        .join(keep.select(col("c").as("v")), Seq("v"))
        .select(col("u"), col("v")))
    }
    // convergence observer (the no-silent-caps contract): if a further
    // round would STILL peel — some surviving endpoint sits below k —
    // the fixed-round output would be a silent SUPERSET of the true
    // k-core. One bounded probe (limit(1).count(), never a full scan)
    // makes the approximation loud instead.
    val wouldStillPeel =
      degreesOf(e).filter(col("deg") < k).limit(1).count() > 0
    if (wouldStillPeel) throw new IllegalStateException(
      s"kCore: $rounds rounds did not reach the $k-core fixed point — " +
        "another round would still peel, so the result would be a " +
        "superset of the true core; raise `rounds`")
    degreesOf(e).filter(col("deg") >= k)
      .select(col("c").as("id"), col("deg"))
  }

  /** HITS hubs & authorities (Kleinberg 1999), `iters` synchronous
    * rounds over the DIRECTED edge set: a(v) = Σ_{u→v} h(u) then
    * h(u) = Σ_{u→v} a(v) (the fresh a, the classic update order), each
    * vector L1-normalized per round — the centrality pair that
    * separates "points at good things" from "is pointed at", where
    * PageRank fuses them. L1 (not the textbook L2) keeps the
    * normalization engine-exact: a DECIMAL(30,12)-quantized sum and
    * one double division per value, no square roots — same replay
    * contract as [[pageRank]], fixed-round output pinned by spec.
    * Per round: two rank⋈edges shuffles, two map-side-combined
    * aggregations, two broadcast one-row totals; each round is a
    * [[Cut]] so the plan never deepens with `iters`. */
  def hits(edges: DataFrame, src: String = "src", dst: String = "dst",
           iters: Int = 8): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val e = Cut(directed(edges, src, dst))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val init = Cut(nodes.withColumn("a", lit(1.0)).withColumn("h", lit(1.0)))
    val res = (1 to iters).foldLeft(init) { (st, _) =>
      val aRaw = st.join(e, col("id") === col("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(d30(col("h"))).cast("double").as("__ar"))
      val aTot = aRaw.agg(sum(d30(col("__ar"))).cast("double").as("__at"))
      val aN = Attach(st.select(col("id")).join(aRaw, Seq("id"), "left"), aTot)
        .select(col("id"),
          (coalesce(col("__ar"), lit(0.0)) / col("__at")).as("a"))
      val hRaw = aN.join(e, col("id") === col("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(d30(col("a"))).cast("double").as("__hr"))
      val hTot = hRaw.agg(sum(d30(col("__hr"))).cast("double").as("__ht"))
      Cut(Attach(aN.join(hRaw, Seq("id"), "left"), hTot)
        .select(col("id"), col("a"),
          (coalesce(col("__hr"), lit(0.0)) / col("__ht")).as("h")))
    }
    res.select(col("id"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Unique directed edge set (src, dst), null endpoints dropped —
    * the multigraph collapse every directed op starts from. */
  private def directed(edges: DataFrame, src: String, dst: String) =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Unique undirected edge set (u < v), self-loops dropped — shared
    * by [[triangles]] and [[adamicAdar]]. */
  private def undirected(edges: DataFrame, src: String, dst: String) =
    edges
      .filter(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .distinct()

  private def pageRankImpl(edges: DataFrame, src: String, dst: String,
                           damping: Double, iters: Int): DataFrame = {
    val e = Cut(directed(edges, src, dst))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    // left join: dangling nodes (in-edges only) carry a null outdeg
    val nd = Cut(nodes.join(outdeg, Seq("id"), "left"))
    val n = nd.count()
    val r0 = nd.withColumn("pr", lit(1.0) / lit(n))
    val rFinal = (1 to iters).foldLeft(r0) { (rk, _) =>
      val dm = rk.filter(col("outdeg").isNull)
        .agg(coalesce(sum(d30(col("pr"))), lit(0).cast("decimal(30,12)"))
          .cast("double").as("dm"))
      val contrib = rk.filter(col("outdeg").isNotNull)
        .join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("pr") / col("outdeg")).as("c"))
      val inflow = contrib.groupBy(col("id"))
        .agg(sum(d30(col("c"))).cast("double").as("inflow"))
      Cut(Attach(nd.join(inflow, Seq("id"), "left"), dm)
        .select(col("id"), col("outdeg"),
          (lit(1 - damping) / lit(n) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + col("dm") / lit(n))).as("pr")))
    }
    rFinal.select(col("id"), col("pr"))
  }
}
