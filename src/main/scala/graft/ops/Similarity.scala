package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * stream the candidate side; one pass, no shuffle of the big side, the
  * per-query top-k is a TakeOrdered-style window on the query key.
  *
  * Scale path: random-hyperplane LSH — a 16-bit signature buckets the
  * corpus; search touches only the query's bucket (and optionally
  * neighboring buckets). Hyperplanes are derived from a fixed seed so the
  * index is reproducible across runs and clusters.
  *
  * All vector math is `zip_with` + `aggregate` Column expressions
  * (codegen'd, no UDF, no driver collect).
  */
object Similarity {

  /** Dot product — native codegen'd expression
    * ([[graft.functions.DotProduct]]; requires [[graft.functions.GraftExtensions]]
    * installed in the session). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  /** Dot product in portable higher-order-function form — no extension
    * registration needed, but allocates per element and stays outside
    * whole-stage codegen; prefer [[dot]] on the hot path. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native single-loop expression
    * ([[graft.functions.CosineSimilarity]]); null on zero vectors rather
    * than ANSI error. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Portable HOF form of [[cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / nullif(sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)), lit(0.0))

  /** Two-phase per-query top-k over a scored (query_id, neighbor_id,
    * cosine) frame. A single `Window.partitionBy(query_id)` funnels the
    * WHOLE scored stream onto |queries| reducers — the classic hot-spot
    * when queries are few and candidates are 100 TB. Phase 1 takes a
    * per-(query, salt) partial top-k (each reducer sorts a 1/salts
    * slice); phase 2 ranks only |queries|·salts·k survivors. The global
    * top-k is provably the top-k of the per-salt top-ks, so output is
    * identical to the one-window form. */
  private[ops] def topKPerQuery(scored: DataFrame, k: Int, salts: Int = 32): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("__salt", Skew.salt(col("neighbor_id"), salts))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Default cap on how many query rows the flat ADC/brute-force scans
    * will broadcast: ~100k rows of (id, dim-float vector) is order
    * 10–100 MB — comfortably inside executor memory; beyond it an
    * unconditional broadcast would OOM the build side. */
  val DefaultMaxBroadcastQueries: Int = 100000

  /** Minimum broadcast-side row count for [[queryProductJoin]] to
    * rebalance a narrow candidate scan before the product: below it the
    * per-candidate work (|Q| kernel evals) is too thin to repay the
    * exchange + stage barrier the rebalance costs when it fires.
    * Measured at sf0.1 (quiet box, capture 9 → capture 12): |Q| = 2000
    * (LOF all-pairs) wins 4.1 s, |Q| ≤ 16 (probe top-k, recall audits)
    * loses 0.3–0.7 s per query. 256 sits between the regimes — ≥ 8
    * task-widths of kernel work per candidate row at local[32].
    *
    * Pinned by the r19 |Q| sweep (tools/KneeTime, 3-rep medians,
    * spread − unspread seconds): 16 → −0.41, 32 → −0.47, 64 → −0.17,
    * 96 → −0.15, 128 → −0.59, 192 → −0.06 (wash), 256 → **+0.62**,
    * 512 → +1.70, 2000 → +10.6. The knee sits between 192 and 256 —
    * this constant IS the measured crossover, not an interpolation. */
  private[ops] val SpreadMinQueries: Long = 256L

  /** The (candidate × query) join behind every flat scan
    * ([[bruteForceTopK]], [[pqTopK]], [[sq8TopK]]): semantically an
    * all-pairs product filtered on query_id ≠ neighbor_id. Small query
    * frames (≤ `maxBroadcastQueries` rows — checked with a bounded
    * `limit(n+1).count()` probe, never a full count of an unbounded
    * frame) broadcast, keeping the candidate side a pure streamed scan.
    * Larger frames take the BLOCKED fallback: candidates hash into
    * `blocks` buckets, queries replicate once per bucket, and the
    * product becomes an equi-join on the bucket id — a real shuffle
    * join (no driver-sized broadcast, no cartesian in the plan), with
    * parallelism `blocks` and per-reducer work |C|/blocks · |Q|. Same
    * rows out either way; only the join strategy changes.
    *
    * `widen` runs AFTER the spread decision: a caller whose scored
    * column is a WIDE derivation of a compact stored form (PQ/SQ8
    * reconstruction: m small ints → dim doubles) passes the compact
    * frame as `candSide` and the reconstruction as `widen`, so a firing
    * rebalance exchanges the codes, not the dim-length arrays the codes
    * exist to avoid moving. That codes-only promise holds for the
    * broadcast branch only: the blocked branch widens `candSide` before
    * its `__qb` equi-join, so reconstructed arrays cross that shuffle,
    * which keeps reconstruction once per candidate rather than per pair.
    * Identity for callers already at their final width. Same rows either
    * way — the projection is deterministic and per-candidate, only its
    * side of the exchange moves. */
  private def queryProductJoin(candSide: DataFrame, q: DataFrame,
                               maxBroadcastQueries: Int,
                               blocks: Int = 256,
                               widen: DataFrame => DataFrame = identity): DataFrame = {
    val nQ = q.limit(maxBroadcastQueries + 1).count()
    val over = nQ > maxBroadcastQueries
    // broadcast branch: the candidate side streams with NO exchange, so
    // its scan parallelism IS the stage parallelism — a small corpus
    // that fits one file split would evaluate the whole |C|·|Q| cosine
    // product in ONE task ([[Skew.spread]]'s er_fuzzy_pairs lesson; the
    // round-18 LofTime bisection measured emb_lof_outliers' n² scoring
    // single-threaded for exactly this reason). spread is a no-op when
    // splits ≥ cores — the 100 TB case by construction — but it is NOT
    // free when it fires: one exchange + one stage barrier. The probe
    // count says whether it pays: per candidate row the stage does |Q|
    // kernel evals, so a fat query side (the all-pairs LOF/audit shape,
    // |Q| = corpus) buys seconds, while a 4–16-probe top-k buys nothing
    // and eats the barrier (measured both ways at sf0.1: lof 5.35 →
    // 1.22 s with the rebalance, sim_cosine_topk 0.35 → 0.89 s WITH it
    // — gated below at SpreadMinQueries, between those regimes). The
    // blocked fallback needs nothing: its __qb equi-join re-shuffles.
    if (!over) {
      val cand = widen(
        if (nQ >= SpreadMinQueries) Skew.spread(candSide) else candSide)
      cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    }
    else {
      val qb = q.select(col("*"),
        explode(sequence(lit(0), lit(blocks - 1))).as("__qb"))
      widen(candSide)
        .withColumn("__qb", pmod(xxhash64(col("neighbor_id")), lit(blocks)).cast("int"))
        .join(qb, Seq("__qb"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .drop("__qb")
    }
  }

  /** Brute-force cosine top-k: for every row of `queries` (small —
    * broadcast; above `maxBroadcastQueries` rows the blocked fallback
    * of [[queryProductJoin]] kicks in), the k most similar rows of
    * `candidates` (large — streamed; never shuffled whole). Excludes
    * self-pairs when ids collide. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     id: String, vec: String, k: Int,
                     maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = candidates.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val scored = queryProductJoin(c, q, maxBroadcastQueries)
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  /** Contrastive-pair mining for embedding-model training data: for
    * each anchor, the hardest POSITIVE (same label, highest cosine —
    * the in-class example the model most needs to pull closer) and the
    * hardest NEGATIVE (different label, highest cosine — the impostor
    * it most needs to push away), plus the margin between them. Anchors
    * with negative margin are the mislabeled-or-hard cases a curator
    * reviews first.
    *
    * Determinism: cosine via the codegen [[cosine]] expression (the
    * same double chain DuckDB's list_cosine_similarity replays); the
    * per-side pick is min(struct(coalesce(−cosine, 2), cand_id)) —
    * highest cosine, ties to the SMALLEST candidate id under the id's
    * own ordering (so string, long or any orderable id type works;
    * negating the id would NULL non-numerics and overflow
    * Long.MinValue) — a map-side-combinable aggregate, no window over
    * the full score frame. The coalesce mirrors the oracle's NULLS
    * LAST: a zero-norm candidate (NULL cosine, and NULL sorts LOWEST
    * inside a Spark struct — i.e. would WIN the min) loses to every
    * real score and is picked only when a side has no scorable
    * candidate at all, in which case the reported cosine is NULL, same
    * as SQL. Anchors missing a side (no same-label or no other-label
    * candidate) drop out.
    *
    * Scale shape: anchors broadcast (or block-replicate past the cap,
    * same as [[bruteForceTopK]]); candidates stream through one
    * scan; the aggregate reduces |anchors|·|candidates| scores to
    * 2·|anchors| rows before any shuffle. */
  def hardExamples(anchors: DataFrame, candidates: DataFrame,
                   id: String, vec: String, labelCol: String,
                   maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val q = anchors.select(col(id).as("query_id"), col(vec).as("qv"),
      col(labelCol).as("__al"))
    val c = candidates.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      col(labelCol).as("__cl"))
    val best = queryProductJoin(c, q, maxBroadcastQueries)
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("__is_pos", col("__cl") === col("__al"))
      .groupBy(col("query_id").as("anchor_id"), col("__is_pos"))
      .agg(min(struct(coalesce(-col("cosine"), lit(2.0)).as("__negc"),
        col("neighbor_id").as("__nid"), col("cosine").as("__c"))).as("__b"))
      .select(col("anchor_id"), col("__is_pos"),
        col("__b.__c").as("__cos"), col("__b.__nid").as("__cand"))
    val pos = best.filter(col("__is_pos"))
      .select(col("anchor_id"), col("__cand").as("pos_id"), col("__cos").as("__pc"))
    val neg = best.filter(!col("__is_pos"))
      .select(col("anchor_id"), col("__cand").as("neg_id"), col("__cos").as("__nc"))
    // both sides are |anchors| rows — broadcast beats the sort-merge
    // the planner would pick from the post-aggregate stats, but ONLY
    // while the anchor set is provably small: probe the CHEAP side
    // (anchors themselves, bounded scan — probing `neg` would re-run
    // the whole |anchors|·|candidates| scoring pass) against the same
    // cap that gates queryProductJoin's broadcast
    val overCap =
      anchors.limit(maxBroadcastQueries + 1).count() > maxBroadcastQueries
    val negSide = if (overCap) neg else broadcast(neg)
    pos.join(negSide, Seq("anchor_id"))
      .select(col("anchor_id"), col("pos_id"),
        col("__pc").cast("float").as("pos_cos"),
        col("neg_id"), col("__nc").cast("float").as("neg_cos"),
        (col("__pc") - col("__nc")).cast("float").as("margin"))
  }

  /** Local Outlier Factor (Breunig 2000) over cosine distance — the
    * density-aware outlier score for embedding-space data cleaning: a
    * point in a sparse region scores ≫ 1 even when a global distance
    * cutoff would pass it, and a point deep inside a tight cluster
    * scores ≈ 1 even near another cluster's edge. The curation queue
    * for mislabeled/junk vectors that [[semanticDedup]] (too similar)
    * and [[semanticContamination]] (too similar to a probe) don't see.
    *
    * Determinism: distance = 1 − [[cosine]] (the codegen kernel DuckDB
    * replays); kNN membership is EXACTLY k by (dist, id) rank (the
    * common tie-pinned simplification of N_k); reach-distances and the
    * lrd-ratio terms quantize to DECIMAL(20,12) before their sums, so
    * each score is a fixed double chain both engines replay. Duplicate
    * points can zero a reach-sum — lrd guards with nullif and the NULL
    * propagates honestly instead of fabricating an infinity.
    *
    * Scale shape: the pair scoring reuses [[queryProductJoin]] (blocked
    * past the broadcast cap); everything after operates on the k·|n|
    * ranked frame, localCheckpointed because three branches reuse it.
    * Brute-force pairing is the EXACT baseline — at 100 TB use
    * [[lofOutliersIvf]], which swaps the scorer for the [[ivfTopK]]
    * shortlist and keeps THIS tail ([[lofFromKnn]]) verbatim. */
  def lofOutliers(df: DataFrame, id: String, vec: String, k: Int,
                  maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val q = df.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = df.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val scored = queryProductJoin(c, q, maxBroadcastQueries)
      .withColumn("dist", lit(1.0) - cosine(col("qv"), col("cv")))
      .select(col("query_id").as("p"), col("neighbor_id").as("o"), col("dist"))
    val w = Window.partitionBy(col("p")).orderBy(col("dist"), col("o"))
    val ranked = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .localCheckpoint() // three consumers: N_k, d_k, the lrd joins
    lofFromKnn(ranked, id, k)
  }

  /** The reach/lrd/ratio tail of LOF, shared verbatim by the exact
    * ([[lofOutliers]]) and IVF ([[lofOutliersIvf]]) variants — only
    * the kNN scorer differs between them. Input: one row per
    * (point p, neighbor o) with `dist` and the per-p rank `rn`,
    * EXACTLY k rows per p (the caller guarantees it — a short
    * neighbor list would silently bias the k-divided lrd sums). */
  private[graft] def lofFromKnn(ranked: DataFrame, id: String,
                                k: Int): DataFrame = {
    val dk = ranked.filter(col("rn") === k)
      .select(col("p").as("__dkp"), col("dist").as("__dk"))
    val reach = ranked
      .join(dk.select(col("__dkp").as("o"), col("__dk").as("__dk_o")), Seq("o"))
      .withColumn("__reach", greatest(col("__dk_o"), col("dist")))
    val lrd = reach.groupBy(col("p"))
      .agg((lit(k.toDouble) /
        nullif(sum(col("__reach").cast("decimal(20,12)")).cast("double"),
          lit(0.0))).as("__lrd"))
    ranked
      .join(lrd.select(col("p").as("o"), col("__lrd").as("__lrd_o")), Seq("o"))
      .join(lrd, Seq("p"))
      .groupBy(col("p"), col("__lrd"))
      .agg(sum((col("__lrd_o") / col("__lrd")).cast("decimal(20,12)"))
        .cast("double").as("__s"))
      .select(col("p").as(id),
        (col("__s") / lit(k.toDouble)).cast("float").as("lof"))
  }

  /** The SCALABLE Local Outlier Factor: the kNN graph comes from the
    * [[ivfTopK]] shortlist (each point scores only against its nprobe
    * probed posting lists — k·n candidate rows at IVF cost, never the
    * |n|² product), then the exact [[lofFromKnn]] reach/lrd/ratio tail
    * runs unchanged. With data-derived `centroids`
    * ([[dataCentroids]]) the whole pipeline is deterministic and
    * engine-replayable — approximation lives ONLY in the shortlist
    * cut, exactly like [[binaryTopK]]'s refine contract.
    *
    * Starvation is LOUD, not silent: LOF's tail divides by k, so a
    * point whose probed lists held fewer than k neighbors would bias
    * its lrd quietly. Two bounded probes reject the run instead — one
    * for short neighbor lists, and one anti-join for points whose
    * probed lists held NO other member at all (zero shortlist rows —
    * invisible to the per-list max, yet their missing d_k rows would
    * silently inflate every neighbor's lrd). Raise nprobe (or lower
    * nCentroids) until every point fills its list; probing ALL lists
    * (nprobe = nCentroids) reproduces [[lofOutliers]] bit-for-bit. */
  def lofOutliersIvf(df: DataFrame, id: String, vec: String, k: Int,
                     dim: Int, nCentroids: Int = 16, nprobe: Int = 4,
                     centroids: Option[Array[Array[Double]]] = None): DataFrame =
    lofShortlistTail(df, id, k, nprobe,
      // all-pairs audit shape: |Q| = corpus — declare the fat probe
      // side so a narrow corpus scan rebalances before the shortlist
      // scoring (see the spreadPostings contract on ivfTopK)
      ivfTopK(df, df, id, vec, dim, k, nCentroids, nprobe,
        centroids = centroids, spreadPostings = true))

  /** [[lofOutliersIvf]] over a PERSISTED [[IvfIndex]] — LOF as a pure
    * READ-SIDE operator: the expensive pass (centroid selection +
    * corpus assignment) ran once in the index build job; this call
    * only loads centroids (k×dim to the driver — bounded, never data)
    * and streams the pruned posting lists through [[ivfProbe]].
    * Identical output to [[lofOutliersIvf]] built with the same
    * centroids (parquet round-trips doubles bit-exactly), so the two
    * share one oracle — which is the regression gate for swapping
    * index builds under a standing outlier job. Same loud starvation
    * contract. */
  def lofOutliersIvfPersisted(indexPath: String, df: DataFrame, id: String,
                              vec: String, k: Int,
                              nprobe: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val cents = IvfIndex.loadCentroids(spark, indexPath)
    lofShortlistTail(df, id, k, nprobe,
      // all-pairs audit shape (|Q| = corpus): a ≤nCentroids-file
      // persisted postings read rebalances before shortlist scoring
      ivfProbe(IvfIndex.loadPostings(spark, indexPath), df, id, vec,
        cents, nprobe, k, spreadPostings = true))
  }

  /** Shared closing of the shortlisted-LOF family: rank→distance
    * reshape, the two loud starvation probes, then the exact
    * [[lofFromKnn]] tail — one body so the ephemeral
    * ([[lofOutliersIvf]]) and persisted ([[lofOutliersIvfPersisted]])
    * variants cannot drift. */
  private def lofShortlistTail(df: DataFrame, id: String, k: Int,
                               nprobe: Int, topk: DataFrame): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val knn = topk
      .select(col("query_id").as("p"), col("neighbor_id").as("o"),
        (lit(1.0) - col("cosine")).as("dist"), col("rank").as("rn"))
      .localCheckpoint() // starvation probe + the tail's three branches
    val starved =
      knn.groupBy(col("p")).agg(max(col("rn")).as("__m"))
        .filter(col("__m") < k).limit(1).count() > 0
    // a point whose probed lists contain no OTHER member yields zero
    // shortlist rows — never seen by the max(rn) probe, silently
    // absent from the output AND a missing d_k for its own neighbors
    val orphaned = df.select(col(id).as("p"))
      .join(knn.select(col("p")).distinct(), Seq("p"), "left_anti")
      .limit(1).count() > 0
    if (starved || orphaned) throw new IllegalStateException(
      s"lofOutliersIvf: some points found " +
        (if (orphaned) "NO neighbors (empty probed lists)"
         else s"fewer than $k neighbors") +
        s" inside their $nprobe probed lists — the lrd tail would be " +
        "silently biased; raise nprobe or lower nCentroids")
    lofFromKnn(knn, id, k)
  }

  /** Greedy k-center coreset (Gonzalez farthest-point traversal) over
    * cosine distance — diversity-first data selection: each round picks
    * the point FARTHEST from every center chosen so far, so k rounds
    * cover the embedding space's extremes where random sampling
    * oversamples the dense middle. The 2-approximation to the optimal
    * k-center cover, and the standard seed set for coreset-based
    * training-data selection.
    *
    * Fully deterministic: the first center is the smallest id; each
    * round's argmax of (min-distance-to-centers) breaks ties toward the
    * smallest id; distances are the codegen [[cosine]] chain and the
    * per-point min over centers is an order-free double min — so the
    * oracle replays the trajectory center-for-center (same contract as
    * [[Retrieval.mmrDiversify]]'s greedy argmax).
    *
    * Output: one row per center — (id, pick_order 1..k, radius = its
    * min-distance to the prior centers at pick time; the first center's
    * radius is NULL). `radius` is nonincreasing in exact arithmetic —
    * the classic coverage curve.
    *
    * Scale shape: k linear scans, each joining the corpus against a
    * BROADCAST ≤ k-row center frame and reducing map-side to one argmax
    * row. No |corpus|² step anywhere; the driver holds only the k
    * picked rows. */
  def kCenterCoreset(df: DataFrame, id: String, vec: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val pts = df.select(col(id).as("__pid"), col(vec).as("__pv"))
      .localCheckpoint()
    val seed = pts.orderBy(col("__pid")).limit(1)
      .select(col("__pid"), col("__pv"), lit(1L).as("pick_order"),
        lit(null).cast("double").as("__radius"))
    var centers = seed.localCheckpoint()
    for (r <- 2 to k) {
      val scoredMin = pts
        .join(broadcast(centers.select(col("__pid").as("__cid"),
          col("__pv").as("__cv"))), col("__pid") =!= col("__cid"))
        .withColumn("__d", lit(1.0) - cosine(col("__pv"), col("__cv")))
        .groupBy(col("__pid"))
        .agg(min(col("__d")).as("__mind"), first(col("__pv")).as("__pv2"))
        .join(centers.select(col("__pid")), Seq("__pid"), "left_anti")
      val next = scoredMin
        .orderBy(col("__mind").desc, col("__pid")).limit(1)
        .select(col("__pid"), col("__pv2").as("__pv"),
          lit(r.toLong).as("pick_order"), col("__mind").as("__radius"))
      centers = centers.unionByName(next).localCheckpoint()
    }
    centers.select(col("__pid").as(id), col("pick_order"),
      col("__radius").cast("float").as("radius"))
  }

  /** Deterministic pseudo-random hyperplanes: `bits` planes × `dim`
    * components in [-1, 1), seeded — reproducible across executors. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · plane_i). Two
    * vectors with cosine ≈ 1 agree on almost all bits, so equal
    * signatures (or low Hamming distance) are near-dup candidates. */
  def lshSignature(df: DataFrame, vec: String, dim: Int, bits: Int = 16,
                   seed: Long = 42L, out: String = "lsh_bucket"): DataFrame =
    lshSignatureWith(df, vec, hyperplanes(dim, bits, seed), out)

  /** [[lshSignature]] against an explicit plane set — e.g. planes drawn
    * from the corpus itself ([[dataVectors]]), which makes the whole
    * bucketing engine-portable: any SQL engine that can read the same
    * rows rebuilds the identical index (the trick that puts LSH on the
    * hard correctness signal instead of rows-only). */
  def lshSignatureWith(df: DataFrame, vec: String,
                       planes: Array[Array[Double]],
                       out: String = "lsh_bucket"): DataFrame = {
    val sig = planes.indices.foldLeft(lit(0L)) { (acc, i) =>
      val plane = typedLit(planes(i).toSeq)
      acc.bitwiseOR(
        when(dot(col(vec), plane) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
    }
    df.withColumn(out, sig)
  }

  /** Deterministic pseudo-random IVF centroids (unit-free; cosine
    * assignment normalizes anyway). */
  def ivfCentroids(dim: Int, k: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(k)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
  }

  /** (cosine, id) struct per centroid — shared by index build and probe. */
  private def centroidScores(vec: Column, cents: Array[Array[Double]]): Column =
    array(cents.indices.map { i =>
      struct(coalesce(cosine(vec, typedLit(cents(i).toSeq)), lit(-2.0)).as("cos"),
        lit(i).as("id"))
    }: _*)

  /** Assign each vector to its nearest (max-cosine) centroid — the IVF
    * index build. One broadcast-free map pass: centroids are literals in
    * the plan, the argmax is an array_max over (cosine, id) structs. */
  def ivfAssign(df: DataFrame, vec: String, dim: Int, k: Int = 16,
                seed: Long = 7L, out: String = "centroid_id"): DataFrame =
    ivfAssignWith(df, vec, ivfCentroids(dim, k, seed), out)

  /** [[ivfAssign]] against an explicit centroid set (e.g. a refined one). */
  def ivfAssignWith(df: DataFrame, vec: String, cents: Array[Array[Double]],
                    out: String = "centroid_id"): DataFrame =
    df.withColumn(out, array_max(centroidScores(col(vec), cents)).getField("id"))

  /** One Lloyd (k-means) refinement pass over the seeded centroids:
    * assign every vector, take per-centroid elementwise means, return
    * the k×dim result as the new centroid set (collected to the driver
    * to become plan literals — k·dim doubles, an index-build action, not
    * a per-row collect). Fixes the known low recall of random centroids
    * on non-clustered corpora while staying deterministic: the
    * elementwise sums go through DECIMAL so reduction order cannot
    * perturb the centroids between runs. Centroids that attract no
    * vectors keep their seeded position. */
  def refineCentroids(df: DataFrame, vec: String, dim: Int, k: Int = 16,
                      seed: Long = 7L): Array[Array[Double]] =
    refineCentroidsWith(df, vec, ivfCentroids(dim, k, seed))

  /** [[refineCentroids]] from an explicit seed set. With a data-derived
    * seed ([[dataCentroids]]) the whole Lloyd pass is engine-portable —
    * assignment is argmax-cosine over readable rows and the elementwise
    * means go through DECIMAL(30,12), so an oracle can replay the refined
    * centroids bit-for-bit. */
  def refineCentroidsWith(df: DataFrame, vec: String,
                          seedCents: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = seedCents(0).length
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
    val assigned = ivfAssignWith(df, vec, seedCents)
    val aggs = count(lit(1)).as("n") +:
      (0 until dim).map(i => sum(element_at(col(vec), i + 1).cast(dec)).as(s"s$i"))
    val rows = assigned.groupBy(col("centroid_id")).agg(aggs.head, aggs.tail: _*).collect()
    val out = seedCents.map(_.clone())
    rows.foreach { r =>
      val cid = r.getInt(0)
      val n = r.getLong(1)
      if (n > 0)
        out(cid) = Array.tabulate(dim)(i => r.getDecimal(2 + i).doubleValue() / n)
    }
    out
  }

  /** Centroids taken from the corpus itself — the embeddings of the rows
    * with `id` 0..k-1. Unlike the seeded-random or Lloyd-refined sets,
    * this index is fully engine-portable: assignment, probing and top-k
    * are all plain cosine/argmax over data the oracle can also read, so
    * the whole ANN pipeline sits on the hard correctness signal. The
    * collect is k×dim doubles — an index-build action, not a data read. */
  def dataCentroids(df: DataFrame, id: String, vec: String, k: Int): Array[Array[Double]] =
    dataVectors(df, id, vec, from = 0, n = k)

  /** The `n` corpus vectors with `id` in [from, from+n), as plan-literal
    * material (result index i holds the vector with id = from+i). The
    * collect is n×dim doubles — an index-build action, not a data read. */
  def dataVectors(df: DataFrame, id: String, vec: String, from: Long, n: Int): Array[Array[Double]] = {
    val rows = df.filter(col(id) >= from && col(id) < from + n)
      .select(col(id).cast("long"), col(vec)).collect()
    require(rows.length == n,
      s"expected $n seed vectors with $id in [$from,${from + n}), got ${rows.length}")
    val out = Array.ofDim[Array[Double]](n)
    rows.foreach { r =>
      out((r.getLong(0) - from).toInt) = r.getSeq[Float](1).map(_.toDouble).toArray
    }
    out
  }

  /** Per-group centroid ("class prototype") of an embedding column:
    * elementwise mean per label, the building block of prototype
    * classifiers, per-domain drift monitors and cluster seeding. One
    * explode + one (label, dim)-keyed aggregate — map-side partial
    * aggregation does the heavy lifting, output is |labels|·dim rows.
    * DECIMAL(30,12) sums keep the means reduction-order-proof (the
    * [[refineCentroidsWith]] exactness argument). Output long-form:
    * (label, j 1-based, c float, n). */
  def labelCentroids(df: DataFrame, label: String, vec: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
    df.select(col(label), posexplode(col(vec)).as(Seq("j", "xf")))
      .select(col(label), (col("j") + 1).cast("long").as("j"),
        col("xf").cast("double").as("x"))
      .groupBy(col(label), col("j"))
      .agg(
        (sum(col("x").cast(dec)).cast("double") / count(lit(1)))
          .cast("float").as("c"),
        count(lit(1)).as("n"))
  }

  /** Confusion matrix of the NEAREST-CENTROID classifier against the
    * gold labels: each vector is predicted as the label whose
    * [[labelCentroids]] prototype it is most cosine-similar to (ties
    * to the smallest label under its own ordering), then counted per
    * (gold, pred) cell. The label-quality audit for embedding
    * curation: off-diagonal mass = label/embedding disagreement, the
    * review queue.
    *
    * Determinism: centroids are the FLOAT prototypes the
    * emb_label_centroids oracle already replays bit-for-bit, assembled
    * into ordered arrays by a sorted (j, c) struct list; cosine is the
    * codegen kernel; the argmax is min(struct(coalesce(−cos, 2),
    * label)) — a map-side aggregate, no window. The coalesce mirrors
    * the oracle's NULLS LAST (a NULL struct field sorts LOWEST in
    * Spark's min): a zero-norm centroid never wins over a real score,
    * and a zero-norm vector (all cosines NULL) predicts the smallest
    * label in both engines. Null labels are excluded on both the
    * training and scoring side.
    *
    * Plan: the centroid frame is |labels| rows — broadcast; scoring is
    * one streamed corpus scan reduced map-side to one row per vector,
    * then a |labels|²-bounded count. */
  def centroidLabelConfusion(df: DataFrame, id: String, vec: String,
                             label: String): DataFrame = {
    val in = df.filter(col(label).isNotNull)
    val cents = labelCentroids(in, label, vec)
      .groupBy(col(label).as("__pl"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        x => x.getField("c")).as("__cv"))
    in.select(col(id), col(label).as("gold"), col(vec).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__cos", cosine(col("__v"), col("__cv")))
      .groupBy(col(id), col("gold"))
      .agg(min(struct(coalesce(-col("__cos"), lit(2.0)).as("__nc"),
        col("__pl").as("__l"))).as("__b"))
      .select(col("gold"), col("__b.__l").as("pred"))
      .groupBy(col("gold"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohen's kappa (and raw accuracy) from a (gold, pred, n) confusion
    * frame — chance-corrected agreement: κ = (p_o − p_e)/(1 − p_e)
    * with p_e from the row/column marginals. All marginal products
    * accumulate in DECIMAL(38,0) (N² clears int64 only at ~3×10⁹
    * rows — decimal removes the cliff), then one double chain:
    * κ = (agree·N − Σ r_l·c_l) / (N² − Σ r_l·c_l). Output: one row
    * (n, n_agree, accuracy FLOAT, kappa FLOAT); κ is NULL for the
    * degenerate single-label case (p_e = 1). */
  def cohenKappa(confusion: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val tot = confusion.agg(
      sum(col("n")).as("__N"),
      coalesce(sum(when(col("gold") === col("pred"), col("n"))), lit(0L))
        .as("__agree"))
    val rows = confusion.groupBy(col("gold").as("__l"))
      .agg(sum(col("n")).as("__r"))
    val cols = confusion.groupBy(col("pred").as("__l"))
      .agg(sum(col("n")).as("__c"))
    val pe = rows.join(cols, Seq("__l"), "full")
      .agg(coalesce(sum(d38(coalesce(col("__r"), lit(0L))) *
        d38(coalesce(col("__c"), lit(0L)))), lit(0).cast("decimal(38,0)"))
        .as("__penum"))
    tot.crossJoin(broadcast(pe))
      .select(col("__N").as("n"), col("__agree").as("n_agree"),
        (col("__agree").cast("double") / col("__N").cast("double"))
          .cast("float").as("accuracy"),
        ((d38(col("__agree")) * d38(col("__N")) - col("__penum"))
          .cast("double") /
          nullif((d38(col("__N")) * d38(col("__N")) - col("__penum"))
            .cast("double"), lit(0.0)))
          .cast("float").as("kappa"))
  }

  /** Per-dimension z-score standardization of an embedding column — the
    * feature-scaling pass before distance-based ops (k-means, IVF, PQ)
    * when dimensions have wildly different scales. One explode + one
    * `dim`-row aggregate + one broadcast join back; the corpus is read
    * twice, shuffled never (the stats frame is dim rows).
    *
    * Engine-portable exactness: per-dimension Σx and Σx² go through
    * DECIMAL(30,12) (order-proof), mean/variance/√/division are IEEE
    * exact-rounded, variance is clamped at 0 before the √ (E[x²]−mean²
    * can round a hair negative for constant dims), and a zero std
    * surfaces NULL z (nullif guard), not ±Inf. Output long-form:
    * (id, j 1-based, z float). */
  def standardizeEmbeddings(df: DataFrame, id: String, vec: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
    val comps = df.select(col(id),
        posexplode(col(vec)).as(Seq("j", "xf")))
      .select(col(id), (col("j") + 1).cast("long").as("j"),
        col("xf").cast("double").as("x"))
    val stats = comps.groupBy(col("j")).agg(
        (sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("mean"),
        (sum((col("x") * col("x")).cast(dec)).cast("double") / count(lit(1)))
          .as("meansq"))
      .withColumn("std",
        sqrt(greatest(col("meansq") - col("mean") * col("mean"), lit(0.0))))
    comps.join(broadcast(stats), Seq("j"))
      .withColumn("z",
        ((col("x") - col("mean")) / nullif(col("std"), lit(0.0))).cast("float"))
      .select(col(id), col("j"), col("z"))
  }

  /** Dimensionality reduction onto `outDim` corpus-derived directions —
    * the random-projection (Johnson–Lindenstrauss) shape with
    * DATA-DERIVED planes (the embeddings with `id` in
    * [projFrom, projFrom+outDim)), like [[dataCentroids]]: any engine
    * reading the same rows rebuilds the identical projection, so the
    * whole reduction sits on the hard correctness signal. A pure
    * codegen'd map stage — the plane matrix is a plan literal, the dots
    * run inside whole-stage codegen, nothing shuffles; at 100 TB this
    * is the standard first move to shrink ANN/cluster passes ~dim/outDim.
    * Output: (id, proj array<float> of length outDim). */
  def projectEmbeddings(df: DataFrame, id: String, vec: String, outDim: Int,
                        projFrom: Long = 0L): DataFrame = {
    val planes = dataVectors(df, id, vec, from = projFrom, n = outDim)
    val comps = planes.toIndexedSeq.map(p => dot(col(vec), typedLit(p.toSeq)).cast("float"))
    df.select(col(id), array(comps: _*).as("proj"))
  }

  /** IVF approximate top-k: search only the `nprobe` centroid lists
    * nearest to each query instead of the whole corpus. At scale the
    * candidate side shrinks by ~k/nprobe while recall stays high for
    * clustered data — the standard ANN recall/cost dial. */
  /** `spreadPostings` (here and on [[ivfProbe]]): the
    * caller DECLARES the probe-side regime instead of the operator
    * probing it at runtime — per posting row the probe join does
    * ~|Q|·nprobe/nCentroids kernel evals, so an all-pairs audit shape
    * (|Q| = corpus: the LOF family) rebalances a narrow postings scan
    * and a k-probe serving batch must not (a runtime |Q| gate probe
    * was tried first and its bounded count job alone cost every thin
    * sim_ivf/ivfpq query +0.1–0.2 s — ~14 queries, canceling the fat
    * wins; the regime is static per call site, like
    * `maxBroadcastQueries`). Skew.spread stays a structural no-op once
    * splits ≥ cores, so a wrongly-true flag cannot fire at 100 TB. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, id: String, vec: String,
              dim: Int, k: Int, nCentroids: Int = 16, nprobe: Int = 4,
              seed: Long = 7L,
              centroids: Option[Array[Array[Double]]] = None,
              spreadPostings: Boolean = false): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(dim, nCentroids, seed))
    // MATERIALIZE the ephemeral index before probing: fused into the
    // probe join, the assignment's nCentroids-cosine argmax key
    // expression gets re-evaluated inside the join stage — measured 7×
    // the whole scan's cost at 2000 queries. A persisted index
    // ([[IvfIndex]], the production path) never has the problem; this
    // cut gives the convenience composition the same shape, at the
    // cost of making it EAGER (one build job at call time).
    // FAT probe sides spread the BUILD input (no-op once splits >=
    // cores): a one-split corpus would otherwise assign single-threaded
    // AND hand the checkpoint — hence the probe join that streams it —
    // a ONE-partition layout, serializing the |Q|·|list| shortlist
    // scoring however many cores exist (the r18 emb_lof_outliers
    // lesson, reproduced on this path in r19: the IVF variant measured
    // SLOWER than the spread exact variant it shortlists for — stash
    // A/B: 5.4 → 3.8 s med solo; an UNGATED build spread cost
    // sim_ivf_data_topk +0.55 s, the regression the flag guards).
    val indexed =
      ivfAssignWith(if (spreadPostings) Skew.spread(candidates) else candidates,
        vec, cents)
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("centroid_id"))
      .localCheckpoint()
    // the checkpoint already carries the chosen layout — no re-spread
    ivfProbe(indexed, queries, id, vec, cents, nprobe, k)
  }

  /** Probe a pre-assigned IVF postings frame (neighbor_id, cv,
    * centroid_id) — the path a PERSISTED index takes: postings come off
    * the lake, assignment is NOT recomputed (see [[IvfIndex]]).
    * [[ivfTopK]] is assignment + this. `spreadPostings` per the
    * [[ivfTopK]] contract. */
  def ivfProbe(indexed: DataFrame, queries: DataFrame, id: String,
               vec: String, cents: Array[Array[Double]], nprobe: Int,
               k: Int, spreadPostings: Boolean = false): DataFrame = {
    // per query: the nprobe highest-cosine centroids
    val probeList = sort_array(centroidScores(col(vec), cents), asc = false)
    val probed = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        slice(probeList, 1, nprobe).as("probes"))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("id")).as("centroid_id"))
    // BROADCAST the probe side: the corpus must never hash-shuffle on
    // centroid_id (nCentroids distinct values would pin the whole corpus
    // onto ≤nCentroids reducers regardless of cluster size). Broadcasting
    // the tiny queries×nprobe frame keeps the index a pure streamed scan
    // — which makes the scan's own split count the stage parallelism:
    // a ≤nCentroids-file persisted index rebalances when the caller
    // declares a fat probe side, no-op past cores splits.
    val ind = if (spreadPostings) Skew.spread(indexed) else indexed
    val scored = ind.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  /** Product-quantization codebooks drawn from the corpus: the `k`
    * vectors with `id` in [from, from+k), sliced into `m` equal
    * subspaces → result[s][j] is code j's codeword in subspace s.
    * Data-derived (like [[dataCentroids]]), so any engine reading the
    * same rows rebuilds the identical codebooks — the whole PQ pipeline
    * sits on the hard correctness signal. */
  def pqCodebooks(df: DataFrame, id: String, vec: String, dim: Int,
                  m: Int = 8, k: Int = 16, from: Long = 32): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val seeds = dataVectors(df, id, vec, from, k)
    val sub = dim / m
    Array.tabulate(m)(s => seeds.map(v => v.slice(s * sub, (s + 1) * sub)))
  }

  /** PQ encoding: per subspace, the nearest codeword by L2
    * (argmin |x−c|² ≡ argmax 2·x·c − |c|², ties to the HIGHER code id) —
    * an `m`-byte code per vector instead of `dim` floats, the standard
    * ~32× memory compression for billion-scale ANN. Pure map stage:
    * codebooks are plan literals, no shuffle, no driver. */
  def pqEncode(df: DataFrame, vec: String, codebooks: Array[Array[Array[Double]]],
               out: String = "pq_code"): DataFrame =
    df.withColumn(out, graft.functions.GraftFunctions.pqEncode(col(vec),
      typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)))

  /** Codeword reconstruction of a PQ code column: concatenates the
    * code's codewords in subspace order, rebuilding a dim-length
    * array<double> — so a downstream dot runs left-to-right over the
    * full dim, the order an oracle can replay exactly. Codebooks are
    * plan literals; pure codegen'd map expression. */
  private[ops] def pqReconstruct(code: Column,
                                 codebooks: Array[Array[Array[Double]]]): Column = {
    val litCB = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    concat(codebooks.indices.map(s =>
      element_at(element_at(litCB, s + 1), element_at(code, s + 1) + 1)): _*)
  }

  /** PQ approximate top-k via asymmetric distance computation: score =
    * q · reconstruct(code), where reconstruct concatenates the code's
    * codewords (so the dot runs left-to-right over the full dim — the
    * order an oracle can replay exactly). The corpus is scanned as codes
    * (m small ints, not dim floats); the query side is broadcast; the
    * top-k is the salted two-phase window. The recall/cost dial of real
    * PQ indexes, minus the training loop (codebooks are data-derived). */
  def pqTopK(queries: DataFrame, candidates: DataFrame, id: String, vec: String,
             codebooks: Array[Array[Array[Double]]], k: Int,
             maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    // reconstruct BEFORE the join (per candidate once, not per
    // (query, candidate) pair — with Q queries the post-join form would
    // rebuild the dim-length array Q× per candidate) but AFTER any
    // spread: the rebalance exchange must move the m-int codes, not the
    // dim-double arrays the codes-only scan exists to avoid moving
    val codes = pqEncode(candidates, vec, codebooks)
      .select(col(id).as("neighbor_id"), col("pq_code"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val scored = queryProductJoin(codes, q, maxBroadcastQueries,
        widen = _.select(col("neighbor_id"),
          pqReconstruct(col("pq_code"), codebooks).as("recon")))
      .withColumn("cosine", dot(col("qv"), col("recon")))
    topKPerQuery(scored, k)
  }

  /** Composed IVF-PQ top-k — the standard production ANN layout: PQ
    * codes stored INSIDE the IVF postings, probed with asymmetric
    * distance computation over only the `nprobe` lists nearest each
    * query. One map pass builds the index (centroid argmax + subspace
    * encode over the same scan); a probe then touches ~nprobe/k of the
    * corpus AND reads it as m-byte codes instead of dim floats —
    * multiplying IVF's candidate pruning by PQ's ~32× memory
    * compression, the combination every billion-scale ANN service ships
    * (recall dials: nprobe, codebook size). Semantics = [[ivfAssignWith]]
    * ∘ [[pqEncode]] ∘ ADC scoring, all data-derived and oracle-replayable
    * when `cents`/`codebooks` come from [[dataCentroids]]/[[pqCodebooks]]. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, id: String,
                vec: String, cents: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                nprobe: Int, k: Int): DataFrame = {
    val postings = pqEncode(ivfAssignWith(candidates, vec, cents), vec, codebooks)
      .select(col(id).as("neighbor_id"), col("pq_code"), col("centroid_id"))
    ivfPqProbe(postings, queries, id, vec, cents, codebooks, nprobe, k)
  }

  /** Probe a PQ-coded postings frame (neighbor_id, pq_code,
    * centroid_id) — the path a PERSISTED IVF-PQ index takes: postings
    * come off the lake as codes (see [[IvfIndex.savePq]]), assignment
    * and encoding are NOT recomputed. The probe side (queries × nprobe
    * list ids) is broadcast so the postings never hash-shuffle on
    * centroid_id (nCentroids distinct values would pin the corpus onto
    * ≤nCentroids reducers); reconstruction happens per POSTING once,
    * before the join, never per (query, posting) pair. */
  def ivfPqProbe(postings: DataFrame, queries: DataFrame, id: String,
                 vec: String, cents: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]],
                 nprobe: Int, k: Int): DataFrame = {
    val enc = postings.select(col("centroid_id"), col("neighbor_id"),
      pqReconstruct(col("pq_code"), codebooks).as("recon"))
    val probeList = sort_array(centroidScores(col(vec), cents), asc = false)
    val probed = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        slice(probeList, 1, nprobe).as("probes"))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("id")).as("centroid_id"))
    val scored = enc.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("recon")))
    topKPerQuery(scored, k)
  }

  /** Element-wise residual `vec − centroid(centroid_id)` — requires a
    * `centroid_id` column ([[ivfAssignWith]]). Centroids are plan
    * literals; the subtraction is one zip_with per row at index-build
    * time (never per pair). */
  private[ops] def residualCol(vec: Column, cents: Array[Array[Double]]): Column = {
    val litC = typedLit(cents.map(_.toSeq).toSeq)
    zip_with(vec, element_at(litC, col("centroid_id") + 1),
      (x, c) => x.cast("double") - c)
  }

  /** Driver-side replica of [[ivfAssignWith]]'s argmax for a single
    * vector: the same left-to-right cosine loop
    * ([[graft.functions.CosineSimilarity]] semantics — zero vectors
    * score −2), ties to the HIGHER centroid id. Bit-identical to the
    * in-plan assignment, which is what lets residual codebooks derived
    * on the driver replay in SQL. */
  private def assignExact(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bi = 0
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      // fail loudly on dimension drift: the in-plan cosine pads the short
      // side with nulls and scores such rows -2, so a silent min-length
      // truncation here could assign a malformed row DIFFERENTLY than the
      // plan does — breaking the bit-identical contract residual
      // codebooks rely on. A length mismatch is always a data bug.
      require(v.length == c.length,
        s"assignExact: vector dim ${v.length} != centroid dim ${c.length}")
      val n = v.length
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var t = 0
      while (t < n) { dot += v(t) * c(t); na += v(t) * v(t); nb += c(t) * c(t); t += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val sc = if (denom == 0.0) -2.0 else dot / denom
      if (sc >= best) { best = sc; bi = i } // >= : ties to the higher id
      i += 1
    }
    bi
  }

  /** RESIDUAL PQ codebooks: subspace slices of the seed rows' residuals
    * w.r.t. their own nearest centroid — codewords live in residual
    * space, where vectors cluster much tighter than in raw space (the
    * reason FAISS-style IVF-PQ encodes residuals by default: the same
    * code budget spends on a smaller-diameter set, cutting quantization
    * error). Seeds are the rows with `id` in [from, from+k), assignment
    * replicated exactly ([[assignExact]]), so any engine reading the
    * same rows rebuilds identical codebooks — the whole residual
    * pipeline stays on the hard correctness signal. */
  def pqResidualCodebooks(df: DataFrame, id: String, vec: String,
                          cents: Array[Array[Double]], m: Int = 8,
                          k: Int = 16, from: Long = 32): Array[Array[Array[Double]]] = {
    val seeds = dataVectors(df, id, vec, from, k)
    val dim = seeds(0).length
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    val residuals = seeds.map { v =>
      val c = cents(assignExact(v, cents))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    Array.tabulate(m)(s => residuals.map(r => r.slice(s * sub, (s + 1) * sub)))
  }

  /** Full reconstruction of a residual-encoded posting:
    * centroid(centroid_id) + concat(codewords) — one zip_with add over
    * the dim-length arrays, per posting once. The downstream ADC dot
    * then runs left-to-right over the SUMMED elements (each an IEEE
    * exact-rounded double add), the order an oracle replays exactly. */
  private[ops] def pqReconstructResidual(code: Column, centroidId: Column,
                                         cents: Array[Array[Double]],
                                         codebooks: Array[Array[Array[Double]]]): Column = {
    val litC = typedLit(cents.map(_.toSeq).toSeq)
    zip_with(element_at(litC, centroidId + 1), pqReconstruct(code, codebooks),
      (c, r) => c + r)
  }

  /** Composed IVF-PQ with RESIDUAL encoding — the FAISS-default layout:
    * postings store PQ codes of `x − centroid(x)`, probes reconstruct
    * `centroid + codeword` and score ADC over the `nprobe` nearest
    * lists. Same plan shape as [[ivfPqTopK]] (map-pass build, broadcast
    * probe, salted top-k); the residual step only changes WHAT the
    * codes quantize. On CLUSTERED data residual space has a smaller
    * diameter, so the same code budget quantizes finer — the reason
    * FAISS defaults to it. Measured honestly on the synthetic
    * UNCLUSTERED test embeddings: recall parity with raw encoding
    * (0.275 mean recall@5 both, sf0.01) — random vectors leave the
    * residual set as spread as the raw one, so the win needs real
    * cluster structure (`sim_recall_ivfpq_res` vs `sim_recall_ivfpq`
    * keeps the comparison measured, not folklore). */
  def ivfPqResidualTopK(queries: DataFrame, candidates: DataFrame, id: String,
                        vec: String, cents: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]],
                        nprobe: Int, k: Int): DataFrame = {
    val postings = pqEncode(
        ivfAssignWith(candidates, vec, cents)
          .withColumn("__res", residualCol(col(vec), cents)),
        "__res", codebooks)
      .select(col(id).as("neighbor_id"), col("pq_code"), col("centroid_id"))
    ivfPqResidualProbe(postings, queries, id, vec, cents, codebooks, nprobe, k)
  }

  /** Probe a RESIDUAL-encoded postings frame (see
    * [[IvfIndex.savePqResidual]]); the residual twin of [[ivfPqProbe]] —
    * reconstruction adds the list's centroid back before the ADC dot.
    * Codes written by [[ivfPqTopK]]/[[IvfIndex.savePq]] (raw encoding)
    * are NOT interchangeable with residual codes: the caller owns the
    * encoding choice end-to-end, like the codebooks themselves. */
  def ivfPqResidualProbe(postings: DataFrame, queries: DataFrame, id: String,
                         vec: String, cents: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         nprobe: Int, k: Int): DataFrame = {
    val enc = postings.select(col("centroid_id"), col("neighbor_id"),
      pqReconstructResidual(col("pq_code"), col("centroid_id"), cents, codebooks)
        .as("recon"))
    val probeList = sort_array(centroidScores(col(vec), cents), asc = false)
    val probed = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        slice(probeList, 1, nprobe).as("probes"))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("id")).as("centroid_id"))
    val scored = enc.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("recon")))
    topKPerQuery(scored, k)
  }

  /** Per-dimension [min, max] bounds for scalar quantization — one
    * aggregate pass, 2·dim doubles to the driver (an index-build
    * action, like [[dataCentroids]]). min/max of floats is exact (no
    * accumulation), so the bounds — and everything derived from them —
    * are engine-portable bit-for-bit. */
  def sqBounds(df: DataFrame, vec: String): (Array[Double], Array[Double]) = {
    val comps = df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("j")).collect()
    (comps.map(_.getDouble(1)), comps.map(_.getDouble(2)))
  }

  /** SQ8 scalar quantization: each dimension maps to an int code in
    * [0, 255] on its own [min, max] grid — 4× smaller than float32 (the
    * FAISS SQ8 layout, production's most common memory/recall dial
    * after PQ). Pure map stage, bounds are plan literals.
    * code = clamp(floor((x − min)/(max − min) · 256), 0, 255); a
    * constant dimension (max = min) codes 0. Every op is an IEEE
    * exact-rounded double step an oracle replays exactly. */
  def sq8Encode(df: DataFrame, vec: String,
                mins: Array[Double], maxs: Array[Double],
                out: String = "sq_code"): DataFrame = {
    val litMn = typedLit(mins.toSeq)
    val litMx = typedLit(maxs.toSeq)
    val code = zip_with(col(vec),
      zip_with(litMn, litMx, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (x, b) => {
        val del = b.getField("mx") - b.getField("mn")
        when(del === 0.0, lit(0)).otherwise(
          least(lit(255), greatest(lit(0),
            floor((x.cast("double") - b.getField("mn")) / del * 256.0)
              .cast("int"))))
      })
    df.withColumn(out, code)
  }

  /** Mid-bucket reconstruction of an SQ8 code column:
    * min + (code + 0.5)·(max − min)/256 (constant dims reconstruct to
    * their min). */
  private[ops] def sq8Reconstruct(code: Column,
                                  mins: Array[Double], maxs: Array[Double]): Column = {
    val litMn = typedLit(mins.toSeq)
    val litMx = typedLit(maxs.toSeq)
    zip_with(code,
      zip_with(litMn, litMx, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (c, b) => {
        val del = b.getField("mx") - b.getField("mn")
        when(del === 0.0, b.getField("mn")).otherwise(
          b.getField("mn") + (c.cast("double") + 0.5) * del / 256.0)
      })
  }

  /** SQ8 approximate top-k: the corpus is scanned as dim int8-range
    * codes, reconstructed mid-bucket per candidate once, scored with
    * the asymmetric dot (same ADC shape as [[pqTopK]], different
    * quantizer: per-dimension grids instead of subspace codebooks —
    * finer-grained, 4× compression instead of ~32×). */
  def sq8TopK(queries: DataFrame, candidates: DataFrame, id: String, vec: String,
              mins: Array[Double], maxs: Array[Double], k: Int,
              maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    // codes frame into the join, mid-bucket reconstruction after the
    // spread decision (same reasoning as [[pqTopK]]: a firing rebalance
    // exchanges dim int codes — ints, 4× narrower than the doubles)
    val codes = sq8Encode(candidates, vec, mins, maxs)
      .select(col(id).as("neighbor_id"), col("sq_code"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val scored = queryProductJoin(codes, q, maxBroadcastQueries,
        widen = _.select(col("neighbor_id"),
          sq8Reconstruct(col("sq_code"), mins, maxs).as("recon")))
      .withColumn("cosine", dot(col("qv"), col("recon")))
    topKPerQuery(scored, k)
  }

  /** SEMANTIC decontamination flags: for every corpus row, the max
    * cosine to any probe (benchmark/test-set) vector and whether it
    * crosses `threshold` — the embedding-space complement of the
    * n-gram decontamination pass (a paraphrased test question shares
    * no 8-gram but sits at cosine ≈ 1). One streamed corpus scan
    * against the broadcast probe set (blocked fallback above
    * `maxBroadcastQueries` — [[bruteForceTopK]]'s contract), one
    * map-side-combined max per corpus row; nothing pair-sized
    * shuffles. Corpus rows sharing an id with a probe are excluded
    * from their own comparison (the product join's self-filter) —
    * keep probe and corpus id spaces disjoint, as any decontamination
    * pipeline does. */
  def semanticContamination(corpus: DataFrame, probes: DataFrame,
                            id: String, vec: String, threshold: Double,
                            maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val q = probes.select(col(id).as("query_id"), col(vec).as("qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    queryProductJoin(c, q, maxBroadcastQueries)
      .groupBy(col("neighbor_id"))
      .agg(max(cosine(col("qv"), col("cv"))).as("max_probe_cosine"))
      .select(col("neighbor_id").as(id), col("max_probe_cosine"),
        (col("max_probe_cosine") >= threshold).as("contaminated"))
  }

  // ── binary (sign) quantization ──────────────────────────────────────

  /** 1-bit sign quantization: the vector's sign pattern packed into
    * ⌈dim/32⌉ long words (bit j of word w set iff component 32w+j > 0)
    * — 32× smaller than float32, the most aggressive memory/recall
    * dial in the quantization family (below [[sq8Encode]]'s 4× and
    * PQ's ~32×), and the only one whose distance is pure integer
    * popcount. 32-bit words rather than 64: bit 63 would need a
    * 1<<63 the oracle engine rejects as signed overflow, and the word
    * array already generalizes to any dim. Pure map stage. */
  def binarySignCode(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val words = (0 until (dim + 31) / 32).map { w =>
      val n = math.min(32, dim - 32 * w)
      aggregate(
        zip_with(slice(vec, 32 * w + 1, n),
          array((0 until n).map(j => lit(1L << j)): _*),
          (x, m) => when(x > lit(0.0f), m).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    }
    array(words: _*)
  }

  /** Hamming distance between two packed sign codes: Σ popcount(xor)
    * over the word arrays — codegen'd bit_count, no custom
    * expression. */
  def binaryHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** The `shortlist` smallest-Hamming candidates per query — the same
    * salted two-phase shape as [[topKPerQuery]] (per-(query, salt)
    * partial list provably contains the global list), ordered
    * (hamming asc, neighbor_id asc) so the cut is deterministic. */
  private def smallestHammingPerQuery(scored: DataFrame, n: Int,
                                      salts: Int = 32): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    scored.withColumn("__salt", Skew.salt(col("neighbor_id"), salts))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= n)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= n)
      .drop("__salt", "__r1", "__r2")
  }

  /** Binary-quantized approximate top-k: scan CODES ONLY (8–16 bytes a
    * row instead of the 256-byte vector — at 100 TB this is the scan
    * that fits in page cache), shortlist the `shortlist`
    * smallest-Hamming candidates per query, then fetch ONLY the
    * shortlisted vectors back from the corpus (a |shortlist|-sized
    * equi-join, not a second corpus scan) and rerank by exact cosine —
    * the standard binary-quantization + refine lifecycle (the
    * RaBitQ/BQ shape in production vector stores). Approximation is
    * confined to the shortlist cut; everything after it is exact, and
    * the cut itself is deterministic, so the oracle replays the whole
    * pipeline. shortlist/k is the recall dial (8× default). */
  def binaryTopK(queries: DataFrame, candidates: DataFrame, id: String,
                 vec: String, dim: Int, k: Int, shortlist: Int = 0,
                 maxBroadcastQueries: Int = DefaultMaxBroadcastQueries): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 8 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      binarySignCode(col(vec), dim).as("qw"))
    val cCodes = candidates.select(col(id).as("neighbor_id"),
      binarySignCode(col(vec), dim).as("cw"))
    val ham = queryProductJoin(cCodes, q, maxBroadcastQueries)
      .withColumn("hamming", binaryHamming(col("qw"), col("cw")))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("hamming"))
    val short = smallestHammingPerQuery(ham, sl)
    val rerank = short
      .join(candidates.select(col(id).as("neighbor_id"), col(vec).as("cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    topKPerQuery(rerank, k)
  }

  /** Semantic deduplication over an embedding column — the SemDeDup
    * shape (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus,
    * mark within-cluster pairs whose cosine exceeds `threshold` as
    * semantic duplicates, connect them into duplicate groups, keep one
    * representative (the minimum id) per group. Returns
    * (id, group_id, kept) for EVERY input row — the curation filter is
    * `kept`, the audit trail is `group_id`.
    *
    * Scale shape: pair generation is an equi-join on `centroid_id`, so
    * its cost is Σ|cluster|² — bounded by clustering granularity, never
    * corpus². At 100 TB, scale k with the corpus so clusters stay
    * O(10⁴–10⁵) rows (the paper's regime), and set `maxCluster` so one
    * skewed centroid cannot quietly go quadratic: clusters above the
    * cap are EXCLUDED from pair generation (their rows pass through
    * un-deduped — the conservative keep) and surface via
    * [[semanticDroppedClusters]], the no-silent-caps companion
    * ([[Dedup.simhashDroppedBuckets]]'s pattern) — a capped run should
    * report that frame so dropped dedup coverage is measured, never
    * assumed. For capped clusters that still need dedup, substitute
    * LSH-bucketed pair generation ([[nearDupInBuckets]]'s shape) inside
    * them. The cap costs one extra assignment pass (a k-row size
    * aggregate + broadcast semi-join — never a window over the corpus)
    * and is off by default, so the default path is byte-identical to
    * the uncapped oracle. Grouping reuses
    * [[Dedup.duplicateClusters]]'s seeded min-label propagation. With
    * `cents` from [[dataCentroids]] the whole chain — assignment,
    * pairs, transitive grouping — replays in SQL (recursive CTE),
    * keeping even the clustering-based curation step on the hard
    * correctness signal. */
  def semanticDedup(df: DataFrame, id: String, vec: String,
                    cents: Array[Array[Double]], threshold: Double,
                    maxCluster: Int = Int.MaxValue): DataFrame = {
    val assigned0 = ivfAssignWith(df, vec, cents)
      .select(col(id), col(vec), col("centroid_id"))
    val assigned =
      if (maxCluster == Int.MaxValue) assigned0
      else {
        val small = assigned0.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("__csize"))
          .filter(col("__csize") <= maxCluster)
          .select(col("centroid_id"))
        assigned0.join(broadcast(small), Seq("centroid_id"), "left_semi")
      }
    val a = assigned.select(col("centroid_id"), col(id).as("id_a"), col(vec).as("va"))
    val b = assigned.select(col("centroid_id"), col(id).as("id_b"), col(vec).as("vb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.duplicateClusters(pairs) // (id, comp = min id of group)
      .select(col("id").as("__cid"), col("comp"))
    df.select(col(id))
      .join(comps, col(id) === col("__cid"), "left")
      .select(col(id),
        coalesce(col("comp"), col(id)).as("group_id"))
      .withColumn("kept", col("group_id") === col(id))
  }

  /** The clusters [[semanticDedup]]'s `maxCluster` cap EXCLUDES, as
    * (centroid_id, n_members) — run it beside any capped dedup pass so
    * the skipped pair-generation volume is OBSERVED (Σ n_members² pairs
    * not examined), never silently assumed zero. Empty output proves
    * the cap never fired on this input. Cost: one assignment map pass +
    * a k-row aggregate. */
  def semanticDroppedClusters(df: DataFrame, id: String, vec: String,
                              cents: Array[Array[Double]],
                              maxCluster: Int): DataFrame =
    ivfAssignWith(df, vec, cents)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxCluster)

  /** Embedding near-duplicate candidates: top `perBucket` most-similar
    * pairs inside each LSH bucket. Pair generation is bounded by bucket
    * size, not corpus size — the 100 TB-safe shape. */
  def nearDupInBuckets(df: DataFrame, id: String, vec: String, dim: Int,
                       bits: Int = 8, perBucket: Int = 3,
                       planes: Option[Array[Array[Double]]] = None): DataFrame = {
    val bucketed = planes.fold(lshSignature(df, vec, dim, bits))(
        p => lshSignatureWith(df, vec, p))
      .select(col(id), col(vec), col("lsh_bucket"))
    val a = bucketed.select(col("lsh_bucket"),
      col(id).as("id_a"), col(vec).as("va"))
    val b = bucketed.select(col("lsh_bucket"),
      col(id).as("id_b"), col(vec).as("vb"))
    val pairs = a.join(b, Seq("lsh_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
    val w = Window.partitionBy(col("lsh_bucket"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perBucket)
      .select(col("lsh_bucket"), col("id_a"), col("id_b"),
        col("cosine"), col("rank").cast("long").as("rank"))
  }
}
