package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (4L, "completely different words entirely unrelated text here")
  ).toDF("doc_id", "text")

  /** Near-duplicate removal composed from the public stages: MinHash-LSH
    * candidates, exact Jaccard verification of the candidates only, then
    * every doc with a verified duplicate of smaller id dropped. */
  private def dedupCorpus(df: DataFrame, id: String, text: String,
                          threshold: Double): DataFrame = {
    val candidates = Dedup.minhashCandidatePairs(df, id, text, shingleSize = 3)
      .select(col("id_a"), col("id_b"))
    val dups = Dedup.verifyJaccard(df, candidates, id, text, shingleSize = 3)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(id)).distinct()
    df.join(dups, Seq(id), "left_anti")
  }

  test("exactByContent: identical docs collapse, smallest id survives") {
    val out = Dedup.exactByContent(docs, "doc_id", "text")
    out.count() shouldBe 3
    val dup = out.filter(col("n_copies") === 2).select("keeper_id").rows
    dup shouldBe Seq(Seq(1L))
  }

  test("shingles: n-gram windows; short docs collapse to whole-doc shingle") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    df.rows.map(_.head) shouldBe Seq(Seq("a b c", "b c d"), Seq("a b"))
  }

  test("minhash signatures: identical docs get identical signatures") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val s1 = sig.filter(col("doc_id") === 1).drop("doc_id").rows.head
    val s2 = sig.filter(col("doc_id") === 2).drop("doc_id").rows.head
    s1 shouldBe s2
  }

  test("minhashCandidatePairs: exact dups get est_jaccard 1.0; (1,2) found") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
    val p12 = pairs.filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").rows
    p12 shouldBe Seq(Seq(1.0))
  }

  test("simhash: identical docs equal; near-dups closer in Hamming than unrelated") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("doc_id").select("simhash").rows.map(_.head.asInstanceOf[Long])
    sig(0) shouldBe sig(1)
    hamming(sig(0), sig(2)) should be < hamming(sig(0), sig(3))
  }

  test("dedupCorpus: drops verified near-dups, keeps canonical smallest id") {
    val out = dedupCorpus(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_id").rows.map(_.head).toSet
    // doc2 (exact dup of 1) and doc3 (7/9 ≈ 0.78 jaccard) drop; 1 and 4 survive
    out shouldBe Set(1L, 4L)
  }

  test("dedupCorpus at threshold 1.0 removes only exact duplicates") {
    val out = dedupCorpus(docs, "doc_id", "text", threshold = 1.0)
      .select("doc_id").rows.map(_.head).toSet
    out shouldBe Set(1L, 3L, 4L)
  }

  test("corpusProfile: HLL distinct within sketch error of exact; percentiles ordered") {
    val n = 2000
    val df = (1 to n).map(i => (i.toLong, s"doc body ${i % 500}", (i % 100).toLong))
      .toDF("doc_id", "text", "n_chars")
    val r = Dedup.corpusProfile(df, "text", "n_chars").rows.head
    r(0) shouldBe n.toLong
    val approxDistinct = r(1).asInstanceOf[Float].toDouble
    // m=256 → ~1.04/√m ≈ 6.5% typical relative error; 3σ band
    approxDistinct shouldBe 500.0 +- 500 * 0.2
    val Seq(p50, p95, p99) = Seq(2, 3, 4).map(r(_).asInstanceOf[Double])
    (p50 <= p95 && p95 <= p99) shouldBe true
    // KLL k=256, W=2000 → step=8: pick within 2·step+1=17 ranks of the
    // exact median of 0..99 (20 rows per value → at most 1 value off)
    p50 shouldBe 49.0 +- 2
  }

  test("jaccardPairsPrefix: identical results to the unfiltered form (prefix-filter lemma)") {
    // randomized corpus with heavy token overlap to stress the filter
    val rng = new scala.util.Random(5)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
      "iota", "kappa", "the", "and", "of")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(6 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val plain = Dedup.jaccardPairs(corpus, "doc_id", "text", t)
        .orderBy("doc_a", "doc_b").rows
      val prefix = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", t)
        .orderBy("doc_a", "doc_b").rows
      withClue(s"threshold $t: ") { prefix shouldBe plain }
    }
  }

  test("containmentPairsPrefix: doc-inside-doc scores 1.0 where jaccard sees 0.5") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j k l m n o p q r s t"), // contains doc 1
      (3L, "z y x w")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 0.9)
      .rows.map(r => (r.head, r(1), r(2), r(3)))
    out shouldBe Seq((1L, 2L, 10L, 1.0f))
    // union-normalized jaccard on the same pair: 10/20 — under any
    // dedup threshold, which is exactly the gap containment closes
    Dedup.jaccardPairs(docs, "doc_id", "text", 0.9).count() shouldBe 0L
  }

  test("containmentPairsPrefix: exact-boundary pair survives the threshold") {
    // overlap 7, min size 10 → ratio 14/20 = 0.7 exactly the double the
    // threshold literal parses to; a float-side compare would drop it
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 u8 u9 u10")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 0.7)
      .rows.map(r => (r.head, r(1), r(2), r(3)))
    out shouldBe Seq((1L, 2L, 7L, 0.7f))
    Dedup.containmentPairsPrefix(docs, "doc_id", "text", 0.71)
      .count() shouldBe 0L
  }

  test("containmentPairsPrefix: matches the brute-force form on a random corpus") {
    val rng = new scala.util.Random(9)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "the", "and", "of")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(6 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{col => c}
    for (t <- Seq(0.5, 0.8)) {
      // brute force: all pairs, exact sets
      val ts = corpus.select(c("doc_id"),
        org.apache.spark.sql.functions.array_distinct(
          graft.ops.TextAnalysis.tokens(c("text"))).as("toks"))
      val brute = ts.as("a").join(ts.as("b"), c("a.doc_id") < c("b.doc_id"))
        .select(c("a.doc_id").as("doc_a"), c("b.doc_id").as("doc_b"),
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_intersect(c("a.toks"), c("b.toks")))
            .cast("long").as("overlap"),
          (org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_intersect(c("a.toks"), c("b.toks")))
            .cast("double") /
            org.apache.spark.sql.functions.least(
              org.apache.spark.sql.functions.size(c("a.toks")),
              org.apache.spark.sql.functions.size(c("b.toks"))).cast("double"))
            .as("cd"))
        .filter(c("cd") >= t)
        .select(c("doc_a"), c("doc_b"), c("overlap"),
          c("cd").cast("float").as("containment"))
        .orderBy("doc_a", "doc_b").rows
      val pref = Dedup.containmentPairsPrefix(corpus, "doc_id", "text", t)
        .orderBy("doc_a", "doc_b").rows
      withClue(s"threshold $t: ") { pref shouldBe brute }
    }
  }

  test("simhashNearDup: exact dup pair at hamming 0; unrelated docs filtered") {
    val out = Dedup.simhashNearDup(docs, "doc_id", "text", maxBits = 10)
    val pairs = out.select("id_a", "id_b", "hamming").rows
    pairs.find(p => p(0) == 1L && p(1) == 2L).map(_(2)) shouldBe Some(0L)
    // doc 4 shares no tokens with anything → no pair involving it
    pairs.exists(p => p(0) == 4L || p(1) == 4L) shouldBe false
  }

  test("contaminationFlags/decontaminate: shared n-grams with the benchmark flag docs") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val flags = Dedup.contaminationFlags(docs, "doc_id", "text", bench, "text")
      .orderBy(col("doc_id")).rows
    // docs 1-3 share "the quick brown" (etc.) with the benchmark; doc 4 none
    flags.map(r => (r(0), r(2))) shouldBe
      Seq((1L, true), (2L, true), (3L, true), (4L, false))
    Dedup.decontaminate(docs, "doc_id", "text", bench, "text")
      .select("doc_id").rows.map(_.head) shouldBe Seq(4L)
  }

  test("portable minhash/simhash variants: same structural semantics as the fast path") {
    // identical docs get identical portable signatures; candidate pairs found
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", portable = true)
    val s12 = sig.filter(col("doc_id") <= 2).drop("doc_id").rows
    s12.head shouldBe s12(1)
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", portable = true)
      .filter(col("id_a") === 1 && col("id_b") === 2).rows
    pairs.head(2) shouldBe 1.0
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .select("simhash").rows.map(_.head.asInstanceOf[Long])
    sh(0) shouldBe sh(1)
    all(sh) should (be >= 0L and be < (1L << 60))
    Dedup.simhashNearDup(docs, "doc_id", "text")
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .rows.head(2) shouldBe 0L
  }

  test("duplicateClusters: chains merge transitively, isolated pairs stay separate") {
    // chain 1-2-3 (1~2, 2~3 but never 1~3 directly) + isolated pair 7-9
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L), (3L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs).orderBy("id").rows
      .map(r => (r(0), r(1)))
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
  }

  test("jaccardPairs: hand-computed unigram jaccard") {
    // doc1 tokens {the,quick,brown,fox,jumps,over,lazy,dog} (8 distinct)
    // doc3 swaps dog→cat: intersection 7, union 9 → 7/9 ≈ 0.778
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    val j13 = out.filter(col("doc_a") === 1 && col("doc_b") === 3)
      .select("jaccard").rows.head.head.asInstanceOf[Double]
    j13 shouldBe 7.0 / 9.0 +- 1e-12
    out.filter(col("doc_a") === 1 && col("doc_b") === 2)
      .select("jaccard").rows.head.head.asInstanceOf[Double] shouldBe 1.0 +- 1e-12
    // unrelated doc4 shares no tokens with doc1 → absent
    out.filter(col("doc_b") === 4).count() shouldBe 0
  }

  test("duplicateClustersStar matches label propagation on chains, stars, randoms") {
    // chain + isolated pair (the duplicateClusters fixtures)
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L), (3L, 2L)).toDF("id_a", "id_b")
    Dedup.duplicateClustersStar(pairs).orderBy("id").rows
      .map(r => (r(0), r(1))) shouldBe
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
    // long chain: diameter 7 but star contraction needs only O(log n)
    // rounds — a budget far under the diameter must suffice
    val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    Dedup.duplicateClustersStar(chain, maxIter = 5).orderBy("id").rows
      .map(r => (r(1))).distinct shouldBe Seq(1L)
    // randomized agreement with the propagation implementation: same
    // edges → identical (id, comp) labeling, for graphs with cycles,
    // SELF-PAIRS (kept in — both must label such singletons) and
    // multiple components
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val df = edges.toDF("id_a", "id_b")
    val star = Dedup.duplicateClustersStar(df).orderBy("id").rows
    val prop = Dedup.duplicateClusters(df).orderBy("id").rows
    star shouldBe prop
    // a node whose ONLY edge is a self-pair is its own component in
    // both implementations, never silently dropped
    val selfOnly = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    Dedup.duplicateClustersStar(selfOnly).orderBy("id").rows
      .map(r => (r(0), r(1))) shouldBe Seq((1L, 1L), (2L, 1L), (5L, 5L))
  }

  test("duplicateClusters converges when chain diameter equals maxIter") {
    // path 1-2-3-4: label 1 reaches node 4 after exactly 3 changing
    // rounds, so maxIter=3 must succeed (the observation round is free)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(chain, maxIter = 3).orderBy("id").rows
      .map(r => (r(0), r(1)))
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
    // an insufficient budget still fails loudly, never silently mislabels
    an[IllegalArgumentException] should be thrownBy
      Dedup.duplicateClusters(chain, maxIter = 1)
  }

  test("dedupIncremental drops exact and near dups of historical, keeps fresh") {
    val hist = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "completely unrelated historical content about astronomy and star maps")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),   // near dup
      (3L, "a totally novel document about cooking pasta with garlic and olive oil"),
      (10L, "another novel doc whose id collides with a historical id on purpose")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(fresh, hist, "doc_id", "text",
        threshold = 0.5, portable = true)
      .select("doc_id").rows.map(_.head).sortBy(_.toString)
    out shouldBe Seq(10L, 3L).sortBy(_.toString)
    // the historical frame is never filtered or returned
    out should not contain 11L
  }

  test("dedupIncremental: empty sides behave — empty batch out, empty history passes all") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    Dedup.dedupIncremental(docs.limit(0), docs, "doc_id", "text",
      portable = true).count() shouldBe 0L
    Dedup.dedupIncremental(docs, docs.limit(0), "doc_id", "text",
      portable = true).count() shouldBe 1L
  }

  test("a checkpoint dir makes Dedup's cuts reliable, with the local-mode answer") {
    // same inputs through both lineage-cut modes must agree exactly —
    // the checkpoint dir decides fault tolerance, never semantics
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val hist = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "a totally novel document about cooking pasta with garlic and olive oil"))
      .toDF("doc_id", "text")
    spark.sparkContext.getCheckpointDir shouldBe empty
    withCheckpointDir { ckpt =>
      Dedup.duplicateClusters(chain).orderBy("id").rows
        .map(r => (r(0), r(1))) shouldBe
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      Dedup.dedupIncremental(fresh, hist, "doc_id", "text",
          threshold = 0.5, portable = true)
        .select("doc_id").rows.map(_.head) shouldBe Seq(3L)
      // the cut actually wrote RDD checkpoint data to the dir
      val wrote = java.nio.file.Files.walk(ckpt).count() > 1
      assert(wrote, s"no checkpoint data written under $ckpt")
    }
  }

  // 10-token boilerplate block planted in several docs at different
  // offsets — the cross-document SPAN case document-granular dedup
  // misses (the containing docs are nothing alike)
  private val boiler =
    "this document is provided under the creative commons license terms"
  private val spanDocs = Seq(
    (1L, s"alpha beta $boiler gamma delta"),
    (2L, s"$boiler epsilon zeta eta theta iota kappa"),
    (3L, "totally unrelated text with plenty of distinct tokens inside here"),
    (4L, "tiny doc"),
    (5L, s"$boiler one two three four five $boiler")
  ).toDF("doc_id", "text")

  test("frequentSpans: shared boilerplate runs surface as maximal per-doc spans") {
    val spans = Dedup.frequentSpans(spanDocs, "doc_id", "text",
        n = 5, minDocs = 2, minSpanTokens = 10)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_tokens", "n_grams").rows
    // doc1: boiler at tokens 3..12; doc2/5: at 1..10; doc5 again at 16..25
    // (grams straddling the boilerplate boundary are unique to their doc
    // and never become frequent, so spans stop exactly at the block)
    spans shouldBe Seq(
      Seq(1L, 3L, 12L, 10L, 6L),
      Seq(2L, 1L, 10L, 10L, 6L),
      Seq(5L, 1L, 10L, 10L, 6L),
      Seq(5L, 16L, 25L, 10L, 6L))
  }

  test("exciseSpans: span tokens removed, clean docs pass through verbatim") {
    val spans = Dedup.frequentSpans(spanDocs, "doc_id", "text",
      n = 5, minDocs = 2, minSpanTokens = 10)
    val out = Dedup.exciseSpans(spanDocs, spans, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "text_clean").rows
    out shouldBe Seq(
      Seq(1L, 14L, 10L, "alpha beta gamma delta"),
      Seq(2L, 16L, 10L, "epsilon zeta eta theta iota kappa"),
      Seq(3L, 10L, 0L, "totally unrelated text with plenty of distinct tokens inside here"),
      Seq(4L, 2L, 0L, "tiny doc"),
      Seq(5L, 25L, 20L, "one two three four five"))
  }

  test("dedupSubstrings: end-to-end composition equals the two-step form") {
    val direct = Dedup.dedupSubstrings(spanDocs, "doc_id", "text",
      n = 5, minDocs = 2, minSpanTokens = 10).orderBy("doc_id").rows
    val twoStep = Dedup.exciseSpans(spanDocs,
        Dedup.frequentSpans(spanDocs, "doc_id", "text", 5, 2, 10),
        "doc_id", "text").orderBy("doc_id").rows
    direct shouldBe twoStep
  }

  test("simhashDroppedBuckets: the cap's exclusions are a measured frame") {
    // 5 identical docs share one signature → one 5-member bucket per chunk
    val many = (1L to 5L).map(i => (i, "same text repeated here"))
      .toDF("doc_id", "text")
    val dropped = Dedup.simhashDroppedBuckets(many, "doc_id", "text",
      maxBucket = 2)
    dropped.count() shouldBe 4
    dropped.select("n_members").rows.map(_.head).toSet shouldBe Set(5L)
    // the pair join under the same cap finds nothing — exactly what the
    // observer says it dropped
    Dedup.simhashNearDup(many, "doc_id", "text", maxBucket = 2)
      .count() shouldBe 0
    // un-skewed corpus: empty observer proves the cap never fired
    Dedup.simhashDroppedBuckets(docs, "doc_id", "text").count() shouldBe 0
  }

  test("frequentSpans: minSpanTokens suppresses lone common phrases") {
    // the repeated run is only 5 tokens — below a 12-token floor it is a
    // common phrase, not boilerplate, and no span may surface
    val phrase = Seq(
      (1L, "please see the terms below for more alpha beta gamma"),
      (2L, "delta epsilon please see the terms below zeta eta theta")
    ).toDF("doc_id", "text")
    Dedup.frequentSpans(phrase, "doc_id", "text",
      n = 5, minDocs = 2, minSpanTokens = 12).count() shouldBe 0L
    // at a floor equal to the run length it does surface
    Dedup.frequentSpans(phrase, "doc_id", "text",
      n = 5, minDocs = 2, minSpanTokens = 5).count() shouldBe 2L
  }
}
