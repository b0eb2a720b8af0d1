package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * approximate:
  *
  *  - exact: hash-groupBy on content (one shuffle on the hash key);
  *  - MinHash + LSH: shingle → k minhashes → b bands → bucket join —
  *    candidate generation is O(n·b) rows, never O(n²);
  *  - SimHash: 64-bit locality-sensitive signature via per-bit token
  *    voting; prefix buckets give near-dup candidates;
  *  - n-gram Jaccard: exact set overlap via an inverted-index join
  *    (explode tokens, join on token, count shared) — the verification
  *    stage behind the approximate candidate generators.
  *
  * All operators are expression-only DataFrame transforms: the only
  * shuffles are the groupBy on doc id and the bucket join, both of which
  * scale horizontally. Skewed buckets (a shingle shared by millions of
  * docs) are the classic hazard at 100 TB — `maxBucket` caps them.
  */
object Dedup {

  /** Exact content dedup: group by md5(content), keep the smallest id as
    * the canonical survivor. */
  def exactByContent(df: DataFrame, id: String, content: String): DataFrame =
    df.groupBy(md5(col(content)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(id)).as("keeper_id"))

  /** Sketch-based corpus profile: distinct-content estimate and size
    * percentiles from bounded-state sketches — how a 100 TB corpus is
    * profiled before dedup (exact distinct-count would shuffle every
    * value; exact percentiles would sort it). Built ENTIRELY on the
    * repo's portable sketch lanes — [[Hll]] registers (2^b cells, md5
    * hashes) for the distinct estimate and the deterministic [[Kll]]
    * rank sketch (≤ k rows, systematic md5-offset compaction) for the
    * size quantiles — so unlike Spark's builtin
    * approx_count_distinct/percentile_approx pair (engine-internal
    * register layout and centroid merge order), every register, every
    * sketch row and both estimates replay bit-for-bit in any engine
    * with md5: the profile sits on the hard hash-verified correctness
    * signal, not a rows-only check. Same scale shape as the builtins:
    * one pass over the data per sketch, constant state, mergeable
    * across slices. Output: (n_docs, approx_distinct_docs FLOAT,
    * size_p50, size_p95, size_p99). */
  def corpusProfile(df: DataFrame, content: String, sizeCol: String,
                    b: Int = 8, k: Int = 256): DataFrame = {
    // NO shared cut: the three consumers prune to DISJOINT columns
    // (count: none, HLL: content, KLL: sizeCol), so each scan reads
    // only its own column — a checkpoint would materialize the heavy
    // content column once more for zero reuse
    val n = df.agg(count(lit(1)).as("n_docs"))
    val est = Hll.estimate(
        Hll.build(df.filter(col(content).isNotNull), content, b), b)
      .select(col("hll_estimate").as("approx_distinct_docs"))
    val ledger = df.filter(col(sizeCol).isNotNull)
      .groupBy(col(sizeCol).cast("double").as("kll_value"))
      .agg(count(lit(1)).as("kll_weight"))
    val qs = Kll.quantiles(Kll.compactByGroup(ledger, Nil, k),
        Seq(0.5, 0.95, 0.99), k)
      .agg(
        max(when(col("p") === 0.5, col("kll_q"))).as("size_p50"),
        max(when(col("p") === 0.95, col("kll_q"))).as("size_p95"),
        max(when(col("p") === 0.99, col("kll_q"))).as("size_p99"))
    Attach(Attach(n, est), qs)
  }

  /** Word n-gram shingles (space-joined); documents shorter than `n`
    * tokens collapse to a single whole-document shingle. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** Engine-portable hash: the first `hexChars` hex chars of
    * md5(tag ++ x) as an unsigned long (the [[Sampling.hashBucket]]
    * trick; 8 chars → 32 bits for minhash, 15 → 60 bits for simhash,
    * the most that fits a signed BIGINT). Any engine with md5 replays
    * it bit-for-bit, which puts simhash and the portable minhash on the
    * hard correctness signal. Minhash keeps xxhash64 as its default:
    * which pairs LSH banding finds depends on the hash family, so the
    * two are not interchangeable. */
  private def mdHash(tag: String, x: Column, hexChars: Int = 8): Column =
    conv(substring(md5(concat(lit(tag), x)), 1, hexChars), 16, 10).cast("long")

  /** MinHash signature columns m0..m(k-1): for each of k seeded hash
    * functions, the min over the doc's distinct shingles. Computed
    * entirely per-row with higher-order array expressions — NO explode,
    * NO groupBy, NO shuffle; at 100 TB this is a pure map stage that
    * scales linearly with input splits. `portable = true` swaps xxhash64
    * for the md5-derived hash (cross-engine replayable, slower). */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        shingleSize: Int = 3, k: Int = 16,
                        portable: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col(text))
    val sigCols = (0 until k).map(s =>
      array_min(transform(col("__sh"),
        x => if (portable) mdHash(s"mh$s:", x) else xxhash64(lit(s), x))).as(s"m$s"))
    df.withColumn("__sh", array_distinct(shingles(toks, shingleSize)))
      .select(col(id) +: sigCols: _*)
  }

  /** ⌈threshold·sz⌉ in EXACT decimal arithmetic. The IEEE double
    * product t·sz can land 1 ulp above a mathematically integral value
    * (e.g. 0.7·10), and ceil then overshoots by one — shortening a
    * prefix by one token and silently dropping an exact-boundary pair
    * the brute-force oracle keeps. A decimal literal built from the
    * threshold's shortest decimal representation multiplies a BIGINT
    * exactly, so the ceiling is the true mathematical one. */
  private def ceilThresholdTimes(threshold: Double, sz: Column): Column =
    ceil(lit(new java.math.BigDecimal(threshold.toString)) * sz)

  /** (id, sig array, band, bucket) rows: ONE projection computes the
    * signature array AND the band buckets, carried together through the
    * explode — consumers read signatures straight off the bucket rows
    * instead of joining back to a recomputed signature frame (the old
    * shape scanned the corpus 5×). Buckets larger than `maxBucket` are
    * dropped (skew guard: a bucket of B docs yields B² pair rows; at web
    * scale one boilerplate bucket can melt a join without this cap). */
  private def bandedSignatures(df: DataFrame, id: String, text: String,
                               shingleSize: Int, k: Int, bands: Int,
                               maxBucket: Int, portable: Boolean): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must evenly divide the signature size ($k)")
    val rows = k / bands
    // a one-split source would run the millions-of-hashes signature
    // pass in one task; a checkpointed (file-less) batch passes unchanged
    val sig = minhashSignatures(Skew.spread(df), id, text, shingleSize, k, portable)
    def bandBucket(cols: Seq[Column]): Column =
      if (portable) md5(concat_ws(",", cols: _*)) else xxhash64(cols: _*)
    val banded = sig.select(
        col(id),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"),
        explode(array((0 until bands).map { b =>
          val cols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
          struct(lit(b).as("band"), bandBucket(cols).as("bucket"))
        }: _*)).as("bb"))
      .select(col(id), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    banded.withColumn("bsize",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
  }

  /** Candidate near-duplicate pairs from LSH buckets, with the signature
    * estimate of Jaccard similarity (fraction of agreeing minhashes);
    * see [[bandedSignatures]] for the banding shape and the `maxBucket`
    * skew guard. Parallelism caveat: [[Skew.spread]] assumes file-less
    * frames are already parallel — a narrow driver-built or
    * 1-partition-checkpointed `df` should be `repartition`ed by the
    * caller or the hash-heavy signature pass runs on that few cores. */
  def minhashCandidatePairs(df: DataFrame, id: String, text: String,
                            shingleSize: Int = 3, k: Int = 16, bands: Int = 4,
                            maxBucket: Int = 1000,
                            portable: Boolean = false): DataFrame = {
    // self-join over one bandedSignatures projection: both branches are
    // identical, so the bucket shuffle is planned once and reused
    val sized = bandedSignatures(df, id, text, shingleSize, k, bands,
      maxBucket, portable)
    val a = sized.select(col("band"), col("bucket"), col(id).as("id_a"), col("sig").as("sig_a"))
    val b = sized.select(col("band"), col("bucket"), col(id).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / lit(k.toDouble))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .distinct()
  }

  /** SimHash over tokens: each token's hash votes +1/-1 on every bit;
    * the sign of each bit-sum forms the signature. Near-dups differ in
    * few bits. The signature is 60 bits of [[mdHash]] (60 = what fits
    * a signed BIGINT from 15 hex chars), so any md5-capable engine
    * replays it bit-for-bit.
    *
    * Computed entirely per-row: hash every distinct token once, then fold
    * the hashes into a bit-slot vote array with `aggregate`/`zip_with` —
    * NO explode, NO groupBy, NO shuffle (the previous explode+groupBy
    * form shuffled docs×tokens rows; this is a pure map stage). */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val bits = 60
    val masks = array((0 until bits).map(i => lit(1L << i)): _*)
    val hashes = transform(array_distinct(TextAnalysis.tokens(col(text))),
      t => mdHash("sh:", t, hexChars = 15))
    val votes = aggregate(hashes, array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) === m, 1).otherwise(-1)))
    val sig = aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    df.select(col(id), sig.as("simhash"))
      .withColumn("bucket16",
        shiftright(col("simhash"), bits - 16).bitwiseAND(lit(0xFFFFL)))
  }


  /** (id, simhash, chunk, bucket) — each signature bucketed under its
    * four 15-bit chunks; shared by the pair join and the cap observer
    * so both see the identical bucketing. */
  private def simhashChunkBuckets(df: DataFrame, id: String,
                                  text: String): DataFrame = {
    val sig = simhash(df, id, text)
    // 4 chunks of 15 bits — pigeonhole recall at hamming ≤ 3 holds for
    // any 4-way disjoint chunking
    val chunks = array((0 until 4).map { i =>
      struct(lit(i).as("chunk"),
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL)).as("bucket"))
    }: _*)
    sig.select(col(id), col("simhash"), explode(chunks).as("cb"))
      .select(col(id), col("simhash"), col("cb.chunk").as("chunk"),
        col("cb.bucket").as("bucket"))
  }

  /** The chunk buckets [[simhashNearDup]]'s `maxBucket` cap EXCLUDES,
    * as (chunk, bucket, n_members) — the no-silent-caps companion
    * (the [[FuzzyJoin.droppedBlocks]] pattern): a capped run should
    * surface this frame so dropped recall is measured, never assumed.
    * Empty output proves the cap never fired on this input. */
  def simhashDroppedBuckets(df: DataFrame, id: String, text: String,
                            maxBucket: Int = 10000): DataFrame =
    simhashChunkBuckets(df, id, text)
      .groupBy(col("chunk"), col("bucket"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** SimHash near-duplicate pairs via the standard 4-table chunk scheme:
    * each signature buckets under its four 15-bit chunks; by pigeonhole,
    * any pair within Hamming distance ≤ 3 agrees exactly on at least one
    * chunk, so candidate recall is GUARANTEED at maxBits ≤ 3 (and high
    * above it). Candidates verify with bit_count over XOR — built-in,
    * codegen'd, no custom expression. Join cost is bounded per
    * (chunk, bucket), never corpus². */
  def simhashNearDup(df: DataFrame, id: String, text: String,
                     maxBits: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val bucketed = simhashChunkBuckets(df, id, text)
    val sized = bucketed.withColumn("bsize",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
    val a = sized.select(col("chunk"), col("bucket"), col(id).as("id_a"), col("simhash").as("sig_a"))
    val b = sized.select(col("chunk"), col("bucket"), col(id).as("id_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxBits)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .distinct()
  }

  /** Distinct shingle set per doc, computed ONLY for the docs named on
    * the given side of the candidate list: a left-semi prune runs before
    * the (expensive) shingling projection, so verification cost is
    * ∝ |candidate docs|, not |corpus| — at web scale candidates are a
    * sliver of the corpus and this is the difference between a verify
    * step and a second full corpus pass. */
  private def candidateTokSets(df: DataFrame, pairs: DataFrame,
                               pairCol: String, id: String, text: String,
                               shingleSize: Int): DataFrame = {
    val units =
      if (shingleSize <= 1) TextAnalysis.tokens(col(text))
      else shingles(TextAnalysis.tokens(col(text)), shingleSize)
    df.join(pairs.select(col(pairCol).as(id)).distinct(), Seq(id), "left_semi")
      .select(col(id), array_distinct(units).as("toks"))
  }

  /** Exact Jaccard verification of candidate pairs: joins each (id_a,
    * id_b) with both shingle sets and computes set overlap per pair with
    * array expressions — shingling and the join both cost
    * O(|candidates|), not |corpus|² (see [[candidateTokSets]]).
    *
    * `shingleSize` MUST match the candidate generator's: verifying
    * unigram similarity against 3-shingle MinHash candidates silently
    * loses recall (unigram-similar pairs never become candidates).
    * shingleSize = 1 → plain distinct-token Jaccard. EAGER: the pairs
    * frame is cut at call time (see [[verifyJaccardBetween]]). */
  def verifyJaccard(df: DataFrame, pairs: DataFrame, id: String,
                    text: String, shingleSize: Int = 1): DataFrame =
    verifyJaccardBetween(df, df, pairs, id, text, shingleSize)

  /** [[verifyJaccard]] for pairs whose two sides come from DIFFERENT
    * frames (`id_a` rows of `dfA`, `id_b` rows of `dfB`) — the
    * cross-corpus case, where ids may collide between frames.
    *
    * The candidate list feeds THREE plan branches (two semi-prunes + the
    * pair join) and is usually the output of an expensive generator (LSH
    * banding, prefix index), which Spark would re-execute per branch, so
    * it is [[Cut]] once at call time: the call is EAGER (a Spark job runs
    * before the returned frame is acted on). */
  def verifyJaccardBetween(dfA: DataFrame, dfB: DataFrame, pairs: DataFrame,
                           id: String, text: String,
                           shingleSize: Int = 1): DataFrame = {
    val p = Cut(pairs)
    val ta = candidateTokSets(dfA, p, "id_a", id, text, shingleSize)
    val tb = candidateTokSets(dfB, p, "id_b", id, text, shingleSize)
    p
      .join(ta.select(col(id).as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(tb.select(col(id).as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          nullif(size(array_union(col("ta"), col("tb"))), lit(0)))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental ingestion dedup: drop every NEW document that duplicates
    * the HISTORICAL corpus — the continual-training shape, where the
    * historical side is orders of magnitude larger, already deduped, and
    * must never be re-paired against itself. Two bounded guards:
    *
    *  1. exact: content-hash left-anti join (the historical side
    *     contributes one hashed row per distinct content — no text moves);
    *  2. near-dup: CROSS-corpus LSH — both sides band with the same hash
    *     family ([[bandedSignatures]]), meet in a bucket equi-join (per-
    *     side bucket cap), candidates get exact n-gram Jaccard
    *     verification, and a new doc with any verified match ≥
    *     `threshold` is dropped.
    *
    * Cost: the new batch is materialized once (small by definition) and
    * the historical corpus is read in THREE lazy linear passes (content
    * hashes, band signatures, verification token sets — never
    * materialized, never self-joined); plus the bounded bucket join, a
    * |candidates| verify join and one anti-join — never |new|×|hist|.
    * Returns surviving `newDocs` rows unchanged. */
  def dedupIncremental(newDocs: DataFrame, historical: DataFrame,
                       id: String, text: String, threshold: Double = 0.8,
                       shingleSize: Int = 3, k: Int = 16, bands: Int = 4,
                       maxBucket: Int = 1000,
                       portable: Boolean = false): DataFrame = {
    val histHashes = historical.select(md5(col(text)).as("__h")).distinct()
    // materialize the exact-survivor new batch once: it feeds banding,
    // verification and the final anti-join, and the new batch is small
    // by definition (the historical side stays lazy — it is read in 3
    // linear passes: hashes, banding, token sets — never materialized)
    val fresh = Cut(newDocs.withColumn("__h", md5(col(text)))
      .join(histHashes, Seq("__h"), "left_anti").drop("__h"))
    val newBanded = bandedSignatures(fresh, id, text, shingleSize, k, bands,
      maxBucket, portable)
      .select(col("band"), col("bucket"), col(id).as("id_a"))
    val histBanded = bandedSignatures(historical, id, text, shingleSize, k,
      bands, maxBucket, portable)
      .select(col("band"), col("bucket"), col(id).as("id_b"))
    val candidates = newBanded.join(histBanded, Seq("band", "bucket"))
      .select(col("id_a"), col("id_b")).distinct()
    val dupIds = verifyJaccardBetween(fresh, historical, candidates,
        id, text, shingleSize)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as(id)).distinct()
    fresh.join(dupIds, Seq(id), "left_anti")
  }

  /** Connected components over a near-duplicate pair list: every doc in a
    * transitively-connected duplicate family gets the family's minimum id
    * as `comp` — the cluster step real dedup pipelines run between
    * pair generation and survivor selection (pairwise drop-the-larger-id
    * alone mislabels chains like A~B, B~C where A≁C).
    *
    * Iterative min-label propagation (the GraphX/Pregel recipe in plain
    * DataFrames): each round, every node takes the min of its own and its
    * neighbors' labels; rounds ≤ component diameter (`maxIter` guards
    * pathological chains — for web-scale graphs swap in the large-star/
    * small-star variant, which converges in O(log n) rounds). Each round
    * is one shuffle-join + one aggregate; [[Cut]] ends the growing
    * lineage so round N's plan doesn't replay rounds 1..N-1. The
    * convergence probe collects a single count — no data ever reaches
    * the driver.
    *
    * `maxIter` budgets LABEL-CHANGING rounds only: the final round that
    * merely observes no further change is free, so `maxIter = diameter`
    * suffices (not diameter+1). Each round survives executor loss only
    * when the deployment names a checkpoint dir (see [[Cut]]). */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // both orientations in ONE pass over `pairs` (explode, not a
    // self-union): the pair list is usually the output of an expensive
    // generator, and a two-branch union would execute that generator
    // twice before the checkpoint cut
    val edges = Cut(pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // seed with min(id, min neighbor): identical to one propagation round
    // over identity labels, for the price of the distinct-node scan the
    // identity seeding needed anyway — one fewer loop round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("comp"))
    var converged = false
    var i = 0
    // <= maxIter: up to maxIter changing rounds plus one observation
    // round — a chain of diameter exactly maxIter converges instead of
    // tripping the budget with already-correct labels
    while (!converged && i <= maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("nbr_comp"))
      val updated = Cut(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp_new")))
      converged = updated.filter(col("comp_new") < col("comp")).isEmpty
      labels = updated.select(col("id"), col("comp_new").as("comp"))
      i += 1
    }
    // a silent non-converged return would hand back plausible-looking but
    // WRONG family labels (chains longer than maxIter keep intermediate
    // ids) — fail loudly instead
    require(converged,
      s"duplicateClusters did not converge in $maxIter rounds — a duplicate " +
        "chain exceeds the iteration budget; raise maxIter (rounds needed ≈ " +
        "component diameter) or switch to the large-star/small-star variant")
    labels
  }

  /** [[duplicateClusters]] via alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the web-scale variant the min-label propagation scaladoc
    * points at: label propagation needs rounds ≈ component DIAMETER
    * (a 10M-doc duplicate chain is 10M rounds), while star contraction
    * converges in O(log n) rounds regardless of shape, because each
    * round rewires whole neighborhoods onto their minimum rather than
    * moving labels one hop.
    *
    * One round = two per-node neighborhood passes over the CURRENT edge
    * list (groupBy-min + self-join each — bounded, shuffle-parallel,
    * never adjacency²):
    *  - large-star: every neighbor v > u re-points to
    *    m = min(N(u) ∪ u);
    *  - small-star: every neighbor v < u, and u itself, re-point to m.
    * At the fixed point the graph is a forest of depth-1 stars centered
    * on component minima; labels read directly off the star edges. Same
    * output as [[duplicateClusters]], provably (both compute
    * min-id-per-component); the fixed-point check compares consecutive
    * small-star outputs. */
  def duplicateClustersStar(pairs: DataFrame, idA: String = "id_a",
                            idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    // both orientations of the current edge list = the per-node
    // neighborhood view (one explode pass, as in duplicateClusters)
    def nbrs(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    // m(u) = min over N(u) ∪ {u}
    def mins(n: DataFrame): DataFrame = n.groupBy(col("src").as("u"))
      .agg(least(min(col("dst")), first(col("src"))).as("m"))
    // every endpoint, INCLUDING nodes whose only edges are self-pairs:
    // the contraction works on proper edges, but a self-paired singleton
    // must still surface as its own component (duplicateClusters does)
    val allNodes = pairs
      .select(explode(array(col(idA), col(idB))).as("id")).distinct()
    var edges = Cut(pairs
      .select(col(idA).as("src"), col(idB).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // -1 sentinel: the previous round's cardinality, seeded lazily from
    // round 1's nextCount — an eager count() on the initial checkpointed
    // set would be paid even when round 1 converges, and the only thing
    // it could buy (detecting an input that is ALREADY a fixed point) is
    // a case star contraction never sees in practice; the sentinel just
    // runs one (trivial) extra round there. Off-by-one consequence for
    // SMALL maxIter: convergence can fire no earlier than round 2, so
    // maxIter = 0 always fails the require below (its single permitted
    // round cannot satisfy the check) — the effective minimum is
    // maxIter >= 1, i.e. two rounds
    var edgeCount = -1L
    var converged = false
    var i = 0
    while (!converged && i <= maxIter) {
      val nL = nbrs(edges)
      val mL = mins(nL)
      val large = nL.join(mL, nL("src") === mL("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val nS = nbrs(large)
      val mS = mins(nS)
      val small = nS.join(mS, nS("src") === mS("u"))
        .filter(col("dst") < col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mS.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val next = Cut(small)
      // fixed point: consecutive small-star outputs are the same edge
      // set. Both sets are .distinct() outputs, so equal cardinality
      // plus ONE-way containment is set equality — and when the cheap
      // count (a no-shuffle scan of the just-checkpointed blocks)
      // already differs, the anti-join probe is skipped entirely. A
      // non-converged round therefore pays one count instead of the
      // two shuffle anti-joins the previous form ran every round.
      val nextCount = next.count()
      converged = edgeCount >= 0 && nextCount == edgeCount &&
        next.join(edges, Seq("src", "dst"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
      i += 1
    }
    require(converged,
      s"duplicateClustersStar did not converge in $maxIter rounds — " +
        "raise maxIter (rounds needed ≈ log₂ of the largest component)")
    // stars: non-roots appear as src pointing at their root; roots and
    // self-pair singletons appear in no proper edge — they label
    // themselves (allNodes anti-join covers both)
    val members = edges.select(col("src").as("id"), col("dst").as("comp"))
    val selfLabeled = allNodes
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    members.unionByName(selfLabeled)
  }

  /** Benchmark decontamination flags: mark every training doc that shares
    * at least one word n-gram with the benchmark/eval set — the standard
    * guard against test-set leakage into training data (contamination ≔
    * shingle overlap). The benchmark's distinct shingle index is
    * BROADCAST (eval suites are tiny next to a 100 TB corpus), so the
    * doc side is one map+explode and a broadcast join — the corpus never
    * shuffles. Returns (id, n_contaminated_grams, contaminated). */
  def contaminationFlags(docs: DataFrame, id: String, text: String,
                         bench: DataFrame, benchText: String,
                         shingleSize: Int = 3): DataFrame = {
    val benchGrams = bench.select(
      explode(array_distinct(shingles(TextAnalysis.tokens(col(benchText)), shingleSize)))
        .as("gram")).distinct()
    val docGrams = docs.select(col(id),
      explode(array_distinct(shingles(TextAnalysis.tokens(col(text)), shingleSize)))
        .as("gram"))
    val hits = docGrams.join(benchGrams, Seq("gram"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_contaminated_grams"))
    docs.select(col(id))
      .join(hits, Seq(id), "left")
      .na.fill(0, Seq("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** Drop contaminated docs ([[contaminationFlags]] ≥ 1 shared n-gram). */
  def decontaminate(docs: DataFrame, id: String, text: String,
                    bench: DataFrame, benchText: String,
                    shingleSize: Int = 3): DataFrame =
    docs.join(
      contaminationFlags(docs, id, text, bench, benchText, shingleSize)
        .filter(col("contaminated")).select(col(id)),
      Seq(id), "left_anti")

  /** Exact threshold-Jaccard pairs with PREFIX FILTERING (the
    * AllPairs/PPJoin bound): index only each document's
    * ⌈(1−t)·|d|⌉ + 1 globally-rarest tokens — any pair with
    * J ≥ t MUST collide inside these prefixes, so the candidate join
    * touches a small, rare-token slice of the inverted index instead of
    * every posting ("the" never generates candidates). Candidates are
    * then verified exactly. Same output as [[jaccardPairs]], provably;
    * the join is orders of magnitude smaller on natural text. */
  def jaccardPairsPrefix(df: DataFrame, id: String, text: String,
                         threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokSets = df.select(col(id), array_distinct(TextAnalysis.tokens(col(text))).as("toks"))
    val inv = tokSets.select(col(id), explode(col("toks")).as("tok"))
    val freq = inv.groupBy(col("tok")).agg(count(lit(1)).as("tok_freq"))
    val ranked = inv.join(freq, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(id)).orderBy(col("tok_freq"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(id))))
      .filter(col("rn") <= col("sz") - ceilThresholdTimes(threshold, col("sz")) + 1)
    val cand = ranked.as("a").join(ranked.as("b"),
        col("a.tok") === col("b.tok") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")).distinct()
    verifyJaccard(df, cand, id, text)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Exact threshold-CONTAINMENT pairs: score = |A∩B| / min(|A|,|B|) —
    * the asymmetric near-dup measure [[jaccardPairsPrefix]] cannot see.
    * A short document pasted verbatim inside a long one has containment
    * 1.0 but Jaccard |A|/|B| (arbitrarily low), so union-normalized
    * dedup keeps BOTH copies; containment is the standard fix for
    * boilerplate-wrapper and quote-expansion duplicates.
    *
    * Prefix bound, adapted: a pair with overlap ≥ t·min(|A|,|B|) must
    * collide inside the SMALLER side's ⌊(1−t)·|S|⌋+1 rarest tokens, but
    * the matching token may sit anywhere in the larger side — so the
    * candidate join is prefix(X) ⋈ FULL postings (both orientations via
    * the unordered normalize), still pruned to rare-token postings on
    * the prefix side, never the full |corpus|² pairing. Candidates then
    * verify exactly on distinct-token sets; score is one integer-ratio
    * double division, FLOAT at the surface. */
  def containmentPairsPrefix(df: DataFrame, id: String, text: String,
                             threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1,
      s"threshold must lie in (0, 1], got $threshold")
    val tokSets = df.select(col(id),
      array_distinct(TextAnalysis.tokens(col(text))).as("toks"))
    val inv = tokSets.select(col(id), explode(col("toks")).as("tok"))
    val freq = inv.groupBy(col("tok")).agg(count(lit(1)).as("tok_freq"))
    val ranked = inv.join(freq, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(id)).orderBy(col("tok_freq"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(id))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceilThresholdTimes(threshold, col("sz")) + 1)
      .select(col(id).as("__pid"), col("tok"))
    val cand = prefix.join(inv.select(col(id).as("__fid"), col("tok")), Seq("tok"))
      .filter(col("__pid") =!= col("__fid"))
      .select(least(col("__pid"), col("__fid")).as("id_a"),
        greatest(col("__pid"), col("__fid")).as("id_b"))
      .distinct()
    cand
      .join(tokSets.select(col(id).as("id_a"), col("toks").as("__ta")), Seq("id_a"))
      .join(tokSets.select(col(id).as("id_b"), col("toks").as("__tb")), Seq("id_b"))
      .withColumn("overlap",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      // threshold applies to the DOUBLE ratio (bit-identical in both
      // engines); downcasting first would drop exact-boundary pairs —
      // (float) t < t for thresholds like 0.7 that round down in float
      .withColumn("__c",
        col("overlap").cast("double") /
          least(size(col("__ta")), size(col("__tb"))).cast("double"))
      .filter(col("__c") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("overlap"), col("__c").cast("float").as("containment"))
  }

  /** Positioned word n-grams: one (id, pos, gram) row per n-token
    * window, pos 1-BASED (matches SQL `generate_subscripts`, so the
    * whole span pipeline is oracle-replayable). Docs shorter than `n`
    * tokens emit nothing — a sub-n-gram doc cannot contain an n-gram
    * span. Pure per-row HOF projection + explode: no shuffle, linear
    * in corpus size. */
  private def positionedGrams(df: DataFrame, id: String, text: String,
                              n: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(text))
    df.select(col(id), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col(id), explode(
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => struct(i.cast("long").as("pos"),
            array_join(slice(col("__t"), i, lit(n)), " ").as("gram")))).as("g"))
      .select(col(id), col("g.pos").as("pos"), col("g.gram").as("gram"))
  }

  /** SUBSTRING-level exact dedup, step 1: mine cross-document repeated
    * n-gram SPANS — the boilerplate/license/template text that
    * document-granular dedup (exact hash, MinHash, SimHash) cannot
    * touch, because the documents CONTAINING the repeats differ.
    *
    * Pipeline (all exact, fully SQL-replayable):
    *  1. positioned n-grams per doc ([[positionedGrams]] — map-only);
    *  2. an n-gram is FREQUENT when it occurs in ≥ `minDocs` DISTINCT
    *     documents (one count-distinct shuffle keyed by gram — the
    *     inverted-index pass; a boilerplate gram's postings are bounded
    *     by the equi-join, never paired);
    *  3. each frequent-gram occurrence covers token interval
    *     [pos, pos+n-1]; overlapping/touching intervals merge into
    *     maximal spans via [[Intervals.coalesce]] (two key-partitioned
    *     exchanges, no self-join);
    *  4. spans shorter than `minSpanTokens` are dropped — a lone
    *     frequent n-gram is a common PHRASE, not boilerplate; only
    *     runs of overlapping frequent grams mark true repeated spans.
    *
    * Returns (id, span_start, span_end, span_tokens, n_grams), token
    * positions 1-based inclusive. At 100 TB: one map pass + one
    * aggregation on gram + one equi-join back + one keyed window —
    * every stage shuffle-parallel on unskewed keys (the gram-frequency
    * aggregation is the only wide gram-keyed stage, and count-distinct
    * partial-aggregates map-side; no all-pairs anything). Parallelism
    * caveat: [[Skew.spread]] assumes file-less frames are already
    * parallel — a narrow driver-built or 1-partition-checkpointed `df`
    * should be `repartition`ed by the caller or the tokenize/explode
    * pass runs on that few cores. */
  def frequentSpans(df: DataFrame, id: String, text: String,
                    n: Int = 8, minDocs: Int = 3,
                    minSpanTokens: Int = 12): DataFrame = {
    require(n >= 2, s"n must be at least 2, got $n — unigram 'spans' " +
      "would excise every common word")
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs — " +
      "a gram in one document repeats nothing")
    require(minSpanTokens >= n,
      s"minSpanTokens ($minSpanTokens) must be >= n ($n) — shorter " +
        "spans cannot exist (every span contains a whole n-gram)")
    // the positioned grams feed BOTH the frequency aggregation and the
    // hits join, so the scan+tokenize+explode subtree executes twice —
    // DELIBERATELY un-materialized: the exploded gram stream is ~n× the
    // token count with an n-token string per row (≈25× the source bytes
    // at n=5), so checkpointing it costs far more than re-running a
    // map-only subtree. Measured at ×30 corpus: a cut here
    // made span mining 2.4× SLOWER (21.9 s vs 9.2 s) — recompute beats
    // materialize for cheap-to-rebuild, expansion-heavy projections.
    val grams = positionedGrams(Skew.spread(df), id, text, n)
    // the inverted-index pass: grams that recur across documents. The
    // frequent set is data-dependent and unbounded, so it meets the
    // occurrence list in a shuffle equi-join (AQE broadcasts it when it
    // measures small) — never a driver collect
    val freq = grams.groupBy(col("gram"))
      .agg(count_distinct(col(id)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("gram"))
    val hits = grams.join(freq, Seq("gram"))
      .select(col(id), col("pos").as("span_start"),
        (col("pos") + (n - 1)).as("span_end"))
    Intervals.coalesce(hits, Seq(id), "span_start", "span_end")
      .select(col(id), col("start").as("span_start"),
        col("end").as("span_end"),
        (col("end") - col("start") + 1).as("span_tokens"),
        col("n_merged").as("n_grams"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  /** SUBSTRING-level exact dedup, step 2: excise the mined spans from
    * each document — tokens whose 1-based position falls inside any of
    * the doc's spans are removed, the survivors rejoin with single
    * spaces. Emits every input doc (docs without spans pass through
    * unchanged) as (id, n_tokens, n_removed, text_clean).
    *
    * Per-doc span lists are bounded by document length, so the
    * collect_list + per-row HOF filter is O(doc_len · n_spans) local
    * work — one groupBy(id) exchange for the span lists, one equi-join
    * back to the docs, no shuffle of the text beyond that join. */
  def exciseSpans(docs: DataFrame, spans: DataFrame, id: String,
                  text: String): DataFrame = {
    val spanArr = spans.groupBy(col(id))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    docs.join(spanArr, Seq(id), "left")
      .withColumn("__t", TextAnalysis.tokens(col(text)))
      .withColumn("__sp", coalesce(col("__spans"),
        array().cast("array<struct<s:long,e:long>>")))
      .withColumn("__kept", filter(col("__t"), (t, i) =>
        !exists(col("__sp"),
          sp => (i + 1) >= sp("s") && (i + 1) <= sp("e"))))
      .select(col(id),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(col("__kept"), " ").as("text_clean"))
  }

  /** End-to-end substring dedup: [[frequentSpans]] → [[exciseSpans]].
    * The span frame feeds a single consumer here, so it stays lazy;
    * callers reusing the spans (audit + excision) should materialize
    * via [[frequentSpans]] themselves. */
  def dedupSubstrings(df: DataFrame, id: String, text: String,
                      n: Int = 8, minDocs: Int = 3,
                      minSpanTokens: Int = 12): DataFrame =
    exciseSpans(df, frequentSpans(df, id, text, n, minDocs, minSpanTokens),
      id, text)

  /** Exact unigram-Jaccard similarity for all pairs sharing ≥1 token,
    * via inverted-index join. Use after LSH candidate generation at
    * scale; here also exposed standalone (bounded inputs). */
  def jaccardPairs(df: DataFrame, id: String, text: String,
                   threshold: Double): DataFrame = {
    val tokSets = df.select(col(id), array_distinct(TextAnalysis.tokens(col(text))).as("toks"))
    val inv = tokSets.select(col(id), explode(col("toks")).as("tok"))
    val shared = inv.as("a").join(inv.as("b"),
        col("a.tok") === col("b.tok") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val sizes = tokSets.select(col(id), size(col("toks")).as("n"))
    shared
      .join(sizes.select(col(id).as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col(id).as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
