package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Attach, CountMin, Dedup, Hll, Kll, Kmv, Packing, Percentiles, Sampling, Snapshot, TextAnalysis, Vocab}

/** Training-data curation layer over `documents`: deterministic
  * splits/samples/mixtures, vocabulary + TF-IDF, token-budget packing,
  * and PII-style redaction.
  *
  * Every entry here is fully oracled: the operators were designed around
  * engine-portable primitives (md5 bucketing, integer counts, RE2-subset
  * regexes), so DuckDB can replay each decision bit-for-bit.
  */
object SamplingQueries {

  private val mixWeights = Map("en" -> 0.5, "fr" -> 0.25, "zh" -> 0.1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "sample_hash_split" -> ((s, dir) =>
      Sampling.hashSplit(Tables.documents(s, dir), id = "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir),
          stratum = "lang", id = "doc_id", n = 5)
        .select(col("lang"), col("doc_id"), col("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))),

    "sample_weighted_mix" -> ((s, dir) =>
      Sampling.weightedMix(Tables.documents(s, dir), id = "doc_id",
          domain = "lang", weights = mixWeights)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // outlier trim: drop the shortest 5% and longest 5% by n_chars
    "sample_quantile_band" -> ((s, dir) =>
      Sampling.quantileBand(Tables.documents(s, dir), value = "n_chars",
          lo = 0.05, hi = 0.95)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // temperature-flattened mixture: a 200-doc budget split across
    // languages ∝ count^0.5 — low-resource langs get a super-natural
    // share, the multilingual-pretraining mixing knob
    "sample_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureSample(Tables.documents(s, dir), id = "doc_id",
          domain = "lang", total = 200L, alpha = 0.5)
        .select(col("lang"), col("doc_id"), col("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))),

    // PPS sampling without replacement: 25 docs per language, inclusion
    // probability proportional to document length (Efraimidis–Spirakis
    // exponential keys; deterministic md5-derived uniforms)
    "sample_weighted_wor" -> ((s, dir) =>
      Sampling.weightedSampleWithoutReplacement(Tables.documents(s, dir),
          id = "doc_id", weight = col("n_chars"), n = 25,
          stratum = Some("lang"))
        .select(col("lang"), col("doc_id"), col("wor_rank"))
        .orderBy(col("lang"), col("wor_rank"))),

    // epochs-per-domain mixture: en ×2.5, zh ×0.5, everything else ×1
    "sample_upsample" -> ((s, dir) =>
      Sampling.upsample(Tables.documents(s, dir), id = "doc_id",
          domain = "lang", weights = Map("en" -> 2.5, "zh" -> 0.5))
        .select(col("doc_id"), col("lang"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))),

    "vocab_topk" -> ((s, dir) =>
      Vocab.topKTokens(Tables.documents(s, dir), text = "text", k = 50)
        .select(col("rank"), col("token"), col("n"))
        .orderBy(col("rank"))),

    // Count-Min heavy-hitter estimates over the token stream: the
    // bounded-memory frequency summary (4×512 counters regardless of
    // vocabulary size) probed at the exact top-25 tokens — one-sided
    // by construction (estimate ≥ exact), and because the buckets are
    // md5-derived the DuckDB oracle replays every counter and every
    // estimate bit-for-bit: the sketch that CAN sit on the hard hash
    // signal, unlike the HLL/t-digest pair (engine-internal layouts,
    // rows-only by declared design).
    "freq_cms_heavy" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val cms = CountMin.build(toks, "token", depth = 4, width = 512)
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(25)
      CountMin.estimate(cms, top, "token", depth = 4, width = 512)
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // deterministic k-fold assignment + stratification balance audit:
    // fold = md5-bucket of the id (stable under corpus growth, zero
    // shuffle), and the audit surfaces each language's share per fold —
    // hash folds are asymptotically stratified, and THIS query is the
    // observer that proves it instead of paying a per-stratum ranking
    // shuffle the training run doesn't need.
    "sample_kfold_balance" -> ((s, dir) => {
      val folds = Sampling.kFold(Tables.documents(s, dir)
        .filter(col("lang").isNotNull), id = "doc_id", k = 5)
      val totals = folds.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      folds.groupBy(col("fold"), col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(totals, Seq("lang"))
        .select(col("fold"), col("lang"), col("n_docs"),
          (col("n_docs").cast("double") / col("n_lang").cast("double"))
            .cast("float").as("fold_share"))
        .orderBy(col("fold"), col("lang"))
    }),

    // portable HLL distinct-count estimates beside the exact counts —
    // the machinery corpusProfile's distinct column rides in place of
    // the unoracleable builtin approx_count_distinct: md5 registers,
    // binary-string-length ranks, integer-shifted harmonic sum, so every
    // register and both estimates replay in DuckDB. Two rows exercise
    // BOTH estimator regimes: the 31-token vocabulary under m=256 fires
    // the small-range linear-counting correction; 500 distinct doc texts
    // under m=64 exhaust every register and take the raw harmonic path.
    "freq_hll_portable" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def row(label: String, keyed: DataFrame, key: String, b: Int) =
        Attach(keyed.agg(count_distinct(col(key)).as("n_exact")),
            Hll.estimate(Hll.build(keyed, key, b), b))
          .select(lit(label).as("key_kind"), col("n_exact"),
            col("hll_estimate"), col("hll_raw"), col("n_zero_registers"),
            col("used_linear_counting"))
      val toks = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      row("doc_text", docs.filter(col("text").isNotNull), "text", b = 6)
        .unionByName(row("token", toks, "token", b = 8))
        .orderBy(col("key_kind"))
    }),

    // the sketch's DISTRIBUTIVE property, asserted in-engine: registers
    // built per disjoint language slice then cell-wise max-merged must
    // equal the monolithic build register-for-register (max commutes
    // with partitioning) — the property that lets 1000 executors sketch
    // independently and combine at the driver for free.
    "freq_hll_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def toks(f: DataFrame) = f
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val en = Hll.build(toks(docs.filter(col("lang") === "en")), "token", b = 8)
      val rest = Hll.build(toks(docs.filter(col("lang") =!= "en" ||
        col("lang").isNull)), "token", b = 8)
      val merged = Hll.merge(8, en, rest)
      val mono = Hll.build(toks(docs), "token", b = 8)
      val mismatches = merged.withColumnRenamed("hll_rank", "r_merged")
        .join(mono.withColumnRenamed("hll_rank", "r_mono"),
          Seq("hll_register"), "full_outer")
        .filter(not(col("r_merged") <=> col("r_mono")))
        .agg(count(lit(1)).as("n_register_mismatches"))
      def est(sk: DataFrame, out: String) =
        Hll.estimate(sk, b = 8).select(col("hll_estimate").as(out))
      Attach(Attach(est(merged, "hll_estimate_merged"),
        est(mono, "hll_estimate_mono")), mismatches)
    }),

    // CMS inner-product join-size planning: the sketch's self inner
    // product upper-bounds F2 = Σ f² (the AMS second frequency moment —
    // THE key-skew statistic a planner reads before committing a 100 TB
    // shuffle join or deciding a key needs salting), from a ≤ d·w-row
    // summary without executing the join. One-sided like the point
    // estimates; exact F2 beside it makes the bound quality observable.
    "freq_cms_selfjoin_f2" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_suppkey"))
      val cms = CountMin.build(li, "l_suppkey", depth = 4, width = 4096)
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("f2_exact"))
      Attach(exact, CountMin.innerProduct(cms, cms, depth = 4, width = 4096)
        .withColumnRenamed("cms_inner_product", "f2_estimate"))
    }),

    // sketch set-algebra on customer cohorts (pre-1996 vs 1996+ buyers
    // — the audience-overlap question): union is NATIVE (register max,
    // exact over merges), intersection comes from inclusion–exclusion
    // |A∩B| ≈ est(A)+est(B)−est(A∪B) — the standard estimator and its
    // standard caveat (error scales with the union, not the
    // intersection), surfaced beside the exact overlap so the caveat
    // is measurable instead of folklore. ~1500 keys under m=256 also
    // exercises the raw-harmonic regime the token queries don't.
    "freq_hll_intersection" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderdate") < "1996-01-01")
        .select(col("o_custkey"))
      val b = o.filter(col("o_orderdate") >= "1996-01-01")
        .select(col("o_custkey"))
      val skA = Hll.build(a, "o_custkey", b = 8)
      val skB = Hll.build(b, "o_custkey", b = 8)
      def est(sk: DataFrame, out: String) =
        Hll.estimate(sk, b = 8).select(col("hll_estimate").as(out))
      val exact = a.distinct().join(b.distinct(), Seq("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_exact_intersection"))
      val ests = Attach(Attach(est(skA, "est_a"), est(skB, "est_b")),
        est(Hll.merge(8, skA, skB), "est_union"))
      Attach(ests.select(col("est_a"), col("est_b"), col("est_union"),
          (col("est_a").cast("double") + col("est_b").cast("double") -
            col("est_union").cast("double")).cast("float")
            .as("est_intersection")), exact)
    }),

    // KMV bottom-k set algebra on the SAME cohorts as
    // freq_hll_intersection — the estimator comparison a user sizing a
    // sketch needs: HLL's inclusion–exclusion error scales with the
    // UNION, KMV's Jaccard-based intersection with the overlap itself;
    // k smallest md5 hashes are exact integers, every estimate one
    // double division, sketch and estimates replay in DuckDB.
    "freq_kmv_intersection" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderdate") < "1996-01-01")
        .select(col("o_custkey"))
      val b = o.filter(col("o_orderdate") >= "1996-01-01")
        .select(col("o_custkey"))
      val exact = a.distinct().join(b.distinct(), Seq("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_exact_intersection"))
      Attach(Kmv.jaccard(Kmv.build(a, "o_custkey", k = 256),
          Kmv.build(b, "o_custkey", k = 256), k = 256), exact)
    }),

    // KLL-style deterministic rank sketch on an UNBOUNDED value
    // domain: ≤ 512-row sketch of l_extendedprice (no declared range,
    // unlike the histogram family), p50/p90/p99 from the weighted
    // nearest-rank pick, measured BESIDE the exact ledger quantiles —
    // the documented 2·step+1 rank band is visible in the output. The
    // systematic md5-offset compaction replays bit-for-bit in DuckDB.
    "freq_kll_quantiles" -> ((s, dir) => {
      // ONE raw collapse, ONE prefix sum (Kll.auditQuantiles — the
      // agg_mad shared-scaffolding discipline): the compaction keeps
      // its systematic sample from the same cumulated ledger the
      // exact weighted nearest-rank audit picks from
      val ledger = Tables.lineitem(s, dir)
        .filter(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").cast("double").as("kll_value"))
        .agg(count(lit(1)).as("kll_weight"))
      Kll.auditQuantiles(ledger, Nil, ps = Seq(0.5, 0.9, 0.99), k = 512)
        .select(col("p"), col("kll_q").cast("float").as("kll_q"),
          col("exact_q").cast("float").as("exact_q"), col("n_weight"))
        .orderBy(col("p"))
    }),

    // learned BPE merge table: 8 most-frequent-pair merges over the
    // 500-word df-capped dictionary — the trainer behind the
    // n_bpe_tokens budget counter (text_bpe_tokens consumes a merge
    // table; this is where one comes from)
    "text_bpe_train" -> ((s, dir) =>
      Vocab.bpeTrain(Tables.documents(s, dir), text = "text",
          nMerges = 8, maxWords = 500)
        .orderBy(col("rank"))),

    // the apply half of the tokenizer: per-doc token counts after
    // segmenting with the learned merge table (distinct-word
    // segmentation — the fast-tokenizer shape)
    "text_bpe_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Vocab.trainMergesWithCounts(docs, "text",
        nMerges = 8, maxWords = 500).map(m => (m._2, m._3))
      Vocab.bpeApply(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    // tokenizer fertility per language: subword pieces per word under
    // the learned merges — the multilingual-equity audit (a language
    // the vocab underserves pays more sequence length per word)
    "text_bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Vocab.trainMergesWithCounts(docs, "text",
        nMerges = 8, maxWords = 500).map(m => (m._2, m._3))
      val perDoc = Vocab.bpeApply(docs, "doc_id", "text", merges)
      val words = docs.select(col("doc_id"), col("lang"),
        size(filter(TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).cast("long").as("n_words"))
      perDoc.join(words, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe_vocab_tokens")).as("n_subword_tokens"),
          sum(col("n_words")).as("n_words"))
        .withColumn("fertility",
          (col("n_subword_tokens").cast("double") /
            col("n_words").cast("double")).cast("float"))
        .orderBy(col("lang"))
    }),

    "text_tfidf" -> ((s, dir) =>
      Vocab.tfIdf(Tables.documents(s, dir), id = "doc_id", text = "text", perDoc = 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df_t"),
          col("tfidf").cast("float").as("tfidf"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))),

    // corpus-unigram LM score: mean ln p(token) per doc — the cheap
    // perplexity proxy run before an expensive neural quality model
    "text_unigram_lm" -> ((s, dir) =>
      Vocab.unigramLogProb(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // add-1 smoothed bigram fluency scoring — transitions, not just
    // frequencies; V rides in as one broadcast row
    "text_bigram_lm" -> ((s, dir) =>
      Vocab.bigramLogProb(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // DSIR-shape importance scoring: every doc scored under the
    // TARGET-domain unigram LM (here: the English subset) and the RAW
    // LM (whole corpus), both add-1 smoothed; weight = the per-token
    // log-likelihood ratio, selected = more target-like than raw. The
    // standard cheap data-selection pass before training-mix assembly.
    "sample_importance_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lpT = Vocab.unigramLogProbAgainst(docs, docs.filter(col("lang") === "en"))
        .select(col("doc_id"), col("avg_logprob").as("lp_target"))
      val lpR = Vocab.unigramLogProbAgainst(docs, docs)
        .select(col("doc_id"), col("avg_logprob").as("lp_raw"))
      lpT.join(lpR, "doc_id")
        .withColumn("weight",
          (col("lp_target").cast("double") - col("lp_raw").cast("double"))
            .cast("float"))
        .withColumn("selected", col("weight") >= 0.0f)
        .select(col("doc_id"), col("lp_target"), col("lp_raw"),
          col("weight"), col("selected"))
        .orderBy(col("doc_id"))
    }),

    // inverted-index sparse cosine: top-3 most similar docs per doc over
    // sqrt-idf term weights; terms in >25% of docs excluded (both the
    // skew cap and the standard stopword cut)
    "text_tfidf_sim" -> ((s, dir) =>
      Vocab.tfIdfCosineTopK(Tables.documents(s, dir), id = "doc_id",
          text = "text", k = 3, maxDf = 125L)
        .orderBy(col("doc_a"), col("rank"))),

    // per-language heavy hitters via the salted two-phase grouped top-k
    "vocab_topk_per_lang" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      Snapshot.groupedTopK(counts, keys = Seq("lang"),
          order = Seq(col("n").desc, col("token")), k = 10,
          discriminator = col("token"))
        .select(col("lang"), col("rank"), col("token"), col("n"))
        .orderBy(col("lang"), col("rank"))
    }),

    // token budgets from the BPE-ish counter; packing is per-language so
    // the running-sum window parallelizes across strata
    "pack_sequences" -> ((s, dir) =>
      Packing.packByBudget(
          TextAnalysis.bpeTokenCount(Tables.documents(s, dir)),
          id = "doc_id", tokens = "n_bpe_tokens", budget = 2048L,
          group = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("cum_before"), col("bin_id"))
        .orderBy(col("doc_id"))),

    "pack_bin_stats" -> ((s, dir) =>
      Packing.binStats(
          Packing.packByBudget(
            TextAnalysis.bpeTokenCount(Tables.documents(s, dir)),
            id = "doc_id", tokens = "n_bpe_tokens", budget = 2048L,
            group = Seq("lang")),
          tokens = "n_bpe_tokens", group = Seq("lang"))
        .orderBy(col("lang"), col("bin_id"))),

    // THE FULL CURATION PIPELINE composed end-to-end: quality gate →
    // exact-dedup canonical survivors → benchmark decontamination →
    // deterministic train split → per-language token-budget packing.
    // Every stage is an already-verified operator; this entry verifies
    // that they compose (each stage's input is the previous stage's
    // output, replayed stage-for-stage by the oracle).
    // ── Stage-loss report for the curation pipeline: one row per stage
    // with the surviving doc count — "which gate ate my corpus" is THE
    // production curation question, and silent stage loss is exactly
    // what the no-silent-caps rule exists for. Same stage definitions
    // as pipeline_curation_e2e (the oracles share one CTE block).
    "pipeline_curation_report" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      val bench = all.filter(col("doc_id") % 97 === 0)
      val corpus = all.filter(col("doc_id") % 97 =!= 0)
      val q = TextAnalysis.qualityScore(corpus)
        .filter(col("quality_score") >= 0.45)
      val keepers = Dedup.exactByContent(q, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val deduped = q.join(keepers, Seq("doc_id"), "left_semi")
      val clean = Dedup.decontaminate(deduped, "doc_id", "text", bench,
        "text", shingleSize = 8)
      val train = Sampling.hashSplit(clean, "doc_id")
        .filter(col("split") === "train")
      def stage(o: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(o.toLong).as("stage_order"), lit(name).as("stage"),
            col("n_docs"))
      stage(1, "input", corpus)
        .unionByName(stage(2, "quality_gate", q))
        .unionByName(stage(3, "exact_dedup", deduped))
        .unionByName(stage(4, "decontaminate", clean))
        .unionByName(stage(5, "train_split", train))
        .orderBy(col("stage_order"))
    }),

    "pipeline_curation_e2e" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      val bench = all.filter(col("doc_id") % 97 === 0)
      val q = TextAnalysis.qualityScore(all.filter(col("doc_id") % 97 =!= 0))
        .filter(col("quality_score") >= 0.45)
      val keepers = Dedup.exactByContent(q, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val deduped = q.join(keepers, Seq("doc_id"), "left_semi")
      // 8-gram contamination (the realistic decontamination n-gram size:
      // 3-grams flag ~every doc on this near-dup-heavy corpus)
      val clean = Dedup.decontaminate(deduped, "doc_id", "text", bench, "text",
        shingleSize = 8)
      val train = Sampling.hashSplit(clean, "doc_id")
        .filter(col("split") === "train")
      Packing.packByBudget(TextAnalysis.bpeTokenCount(train),
          id = "doc_id", tokens = "n_bpe_tokens", budget = 2048L,
          group = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_bpe_tokens"), col("bin_id"))
        .orderBy(col("doc_id"))
    }),

    // the synthetic corpus has no PII, so append an email/url/phone tail
    // derived from doc_id (identically in the oracle) — every row then
    // exercises all three redaction patterns plus the no-op path on the
    // original text body
    "text_redact" -> ((s, dir) => {
      val withPii = Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@ex.org via https://ex.org/d/"), col("doc_id"),
          lit(" or 555-123-4567")))
      TextAnalysis.redact(withPii)
        .select(col("doc_id"), col("text_redacted"))
        .orderBy(col("doc_id"))
    })
  )

  /** DuckDB replay of [[graft.ops.Vocab.bpeTrain]], generated per merge
    * round (SQL has no iteration): each round's pair-count argmax CTE
    * (b$i) feeds a window-function replay of the greedy left-to-right
    * non-overlapping merge — candidate positions group into maximal
    * consecutive runs (p minus candidate row_number), odd run positions
    * merge, the following position is consumed. Provably equivalent to
    * the Spark fold: candidates are only ever adjacent when lhs = rhs,
    * where both semantics merge ⌊run/2⌋ alternating pairs.
    *
    * The MATERIALIZED hints are load-bearing: pos$i and b$i are each
    * referenced twice per round, so DuckDB's default CTE inlining
    * doubles the plan per round — 2⁸ expansion across 8 rounds (the
    * unhinted form did not finish; hinted runs in ~2 s). */
  private def bpeTrainBlocks(nMerges: Int, maxWords: Int): String = {
    val iters = (1 to nMerges).map { i =>
      s"""pos$i AS MATERIALIZED (SELECT word, freq, unnest(syms) AS s, generate_subscripts(syms, 1) AS p
         |   FROM w${i - 1}),
         | pr$i AS (SELECT a.s AS lhs, b.s AS rhs, sum(a.freq) AS c
         |   FROM pos$i a JOIN pos$i b ON a.word = b.word AND b.p = a.p + 1
         |   GROUP BY 1, 2),
         | b$i AS MATERIALIZED (SELECT lhs, rhs, c FROM pr$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         | cnd$i AS (SELECT m.word, m.freq, m.p, m.s, b.rhs AS mr,
         |     (m.s = b.lhs AND lead(m.s) OVER (PARTITION BY m.word ORDER BY m.p) = b.rhs) AS cand
         |   FROM pos$i m CROSS JOIN b$i b),
         | run$i AS (SELECT *, p - row_number() OVER (PARTITION BY word, cand ORDER BY p) AS rnv
         |   FROM cnd$i),
         | rng$i AS (SELECT *, CASE WHEN cand THEN rnv END AS rn FROM run$i),
         | mg$i AS (SELECT *, row_number() OVER (PARTITION BY word, rn ORDER BY p) AS rrn
         |   FROM rng$i),
         | mm$i AS (SELECT *, COALESCE(cand AND rrn % 2 = 1, false) AS mrg FROM mg$i),
         | nx$i AS (SELECT *, COALESCE(lag(mrg) OVER (PARTITION BY word ORDER BY p), false) AS consumed
         |   FROM mm$i),
         | w$i AS MATERIALIZED (SELECT word, min(freq) AS freq,
         |     list(CASE WHEN mrg THEN s || mr ELSE s END ORDER BY p) AS syms
         |   FROM nx$i WHERE NOT consumed GROUP BY word)""".stripMargin
    }.mkString(",\n ")
    s"""tok AS MATERIALIZED (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents),
       | wf AS MATERIALIZED (SELECT word, count(*) AS freq FROM tok WHERE length(word) > 0
       |   GROUP BY word ORDER BY freq DESC, word LIMIT $maxWords),
       | w0 AS (SELECT word, freq,
       |     list_filter(string_split(word, ''), s -> length(s) > 0) AS syms FROM wf),
       | $iters""".stripMargin
  }

  private def bpeTrainSql(nMerges: Int, maxWords: Int): String = {
    val out = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM b$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeTrainBlocks(nMerges, maxWords)}
       |SELECT * FROM ($out) ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Vocab.bpeApply]]: the full train
    * chain above (b$i per round) followed by the SAME merge-replay
    * blocks run over ALL distinct corpus words (the vocabulary, not
    * the df-capped dictionary — exactly what the Spark side segments),
    * then per-word subtoken counts joined back onto the document token
    * stream and summed per document. */
  /** Train chain + merge replay over ALL distinct corpus words →
    * per-word subtoken counts (`seg`), shared by the apply and
    * fertility oracles. */
  private def bpeSegCtes(nMerges: Int, maxWords: Int): String = {
    val applies = (1 to nMerges).map { i =>
      s"""apos$i AS MATERIALIZED (SELECT word, unnest(syms) AS s, generate_subscripts(syms, 1) AS p
         |   FROM aw${i - 1}),
         | acnd$i AS (SELECT m.word, m.p, m.s, b.rhs AS mr,
         |     (m.s = b.lhs AND lead(m.s) OVER (PARTITION BY m.word ORDER BY m.p) = b.rhs) AS cand
         |   FROM apos$i m CROSS JOIN b$i b),
         | arun$i AS (SELECT *, p - row_number() OVER (PARTITION BY word, cand ORDER BY p) AS rnv
         |   FROM acnd$i),
         | arng$i AS (SELECT *, CASE WHEN cand THEN rnv END AS rn FROM arun$i),
         | amg$i AS (SELECT *, row_number() OVER (PARTITION BY word, rn ORDER BY p) AS rrn
         |   FROM arng$i),
         | amm$i AS (SELECT *, COALESCE(cand AND rrn % 2 = 1, false) AS mrg FROM amg$i),
         | anx$i AS (SELECT *, COALESCE(lag(mrg) OVER (PARTITION BY word ORDER BY p), false) AS consumed
         |   FROM amm$i),
         | aw$i AS MATERIALIZED (SELECT word,
         |     list(CASE WHEN mrg THEN s || mr ELSE s END ORDER BY p) AS syms
         |   FROM anx$i WHERE NOT consumed GROUP BY word)""".stripMargin
    }.mkString(",\n ")
    s"""${bpeTrainBlocks(nMerges, maxWords)},
       | aw0 AS (SELECT word, list_filter(string_split(word, ''), s -> length(s) > 0) AS syms
       |   FROM (SELECT DISTINCT word FROM tok WHERE length(word) > 0) v),
       | $applies,
       | seg AS (SELECT word, len(syms) AS n_sub FROM aw$nMerges)""".stripMargin
  }

  private def bpeApplySql(nMerges: Int, maxWords: Int): String =
    s"""WITH ${bpeSegCtes(nMerges, maxWords)}
       |SELECT t.doc_id, CAST(sum(s.n_sub) AS BIGINT) AS n_bpe_vocab_tokens
       |FROM tok t JOIN seg s USING (word)
       |WHERE length(t.word) > 0
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Per-language tokenizer fertility (subword pieces per word) under
    * the learned merge table — the vocabulary-equity audit of
    * multilingual tokenizers (a language with high fertility pays more
    * sequence length per word). */
  private def bpeFertilitySql(nMerges: Int, maxWords: Int): String =
    s"""WITH ${bpeSegCtes(nMerges, maxWords)},
       | per AS (SELECT t.doc_id, sum(s.n_sub) AS nb, count(*) AS nw
       |   FROM tok t JOIN seg s USING (word)
       |   WHERE length(t.word) > 0 GROUP BY 1)
       |SELECT d.lang, CAST(sum(nb) AS BIGINT) AS n_subword_tokens,
       | CAST(sum(nw) AS BIGINT) AS n_words,
       | CAST(CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) AS REAL) AS fertility
       |FROM per JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The curation pipeline's stage CTEs (bench holdout → quality gate →
    * exact dedup → 8-gram decontamination → train split), shared by the
    * pipeline_curation_e2e and pipeline_curation_report oracles so the
    * two replays cannot drift from each other. */
  private val curationCtes: String =
    s"""t0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 97 <> 0),
       | qs AS (SELECT doc_id, text, lang,
       |     0.4 * least(CAST(1 AS DOUBLE), CAST(len(toks) AS DOUBLE) / CAST(100 AS DOUBLE))
       |     + 0.3 * (CAST(len(list_filter(toks, x -> x IN (${QuerySql.stopListEn}))) AS DOUBLE) / nullif(len(toks), 0))
       |     + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) AS q
       |   FROM (SELECT doc_id, text, lang,
       |           string_split(lower(trim(text)), ' ') AS toks FROM t0) z),
       | q AS (SELECT doc_id, text, lang FROM qs WHERE q >= 0.45),
       | keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
       | d AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
       | dtk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM d),
       | dsh AS (SELECT DISTINCT doc_id, sh FROM (
       |     SELECT doc_id, array_to_string(list_slice(t, p, p + 7), ' ') AS sh
       |     FROM (SELECT doc_id, t,
       |             unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS p FROM dtk) z
       |     UNION ALL SELECT doc_id, array_to_string(t, ' ') FROM dtk WHERE len(t) < 8) u),
       | btk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
       |         FROM documents WHERE doc_id % 97 = 0),
       | bg AS (SELECT DISTINCT sh FROM (
       |     SELECT array_to_string(list_slice(t, p, p + 7), ' ') AS sh
       |     FROM (SELECT doc_id, t,
       |             unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS p FROM btk) z
       |     UNION ALL SELECT array_to_string(t, ' ') FROM btk WHERE len(t) < 8) u),
       | contaminated AS (SELECT DISTINCT s.doc_id FROM dsh s JOIN bg USING (sh)),
       | clean AS (SELECT d.* FROM d
       |           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       | train AS (SELECT * FROM clean
       |   WHERE CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90)""".stripMargin

  val oracle: Map[String, String] = Map(

    "text_bpe_train" -> bpeTrainSql(nMerges = 8, maxWords = 500),

    "text_bpe_apply" -> bpeApplySql(nMerges = 8, maxWords = 500),

    "text_bpe_fertility" -> bpeFertilitySql(nMerges = 8, maxWords = 500),

    // stage-for-stage replay of the curation pipeline; each fragment is
    // the already-verified oracle of its standalone operator
    "pipeline_curation_report" ->
      s"""WITH $curationCtes
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_order, 'input' AS stage,
         |    count(*) AS n_docs FROM t0
         |  UNION ALL SELECT 2, 'quality_gate', count(*) FROM q
         |  UNION ALL SELECT 3, 'exact_dedup', count(*) FROM d
         |  UNION ALL SELECT 4, 'decontaminate', count(*) FROM clean
         |  UNION ALL SELECT 5, 'train_split', count(*) FROM train) z
         |ORDER BY stage_order""".stripMargin,

    "pipeline_curation_e2e" ->
      s"""WITH $curationCtes,
         | b AS (SELECT doc_id, lang,
         |     CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
         |   FROM train)
         |SELECT doc_id, lang, n_bpe_tokens,
         |  CAST(floor(coalesce(sum(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin_id
         |FROM b ORDER BY doc_id""".stripMargin,

    "sample_hash_split" ->
      """SELECT doc_id,
        | CASE WHEN CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
        |      WHEN CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the salted two-phase rank is provably identical to the one-window
    // form (the global first-n is contained in every per-salt first-n),
    // so the oracle uses the simple window
    "sample_stratified" ->
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(concat('sample:', CAST(doc_id AS VARCHAR))), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
        |FROM r WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,

    // count^0.5 via sqrt (IEEE-exact), the share-sum decimal-quantized,
    // floor-truncated budgets, md5-ranked prefix per language
    "sample_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        | w AS (SELECT lang, sqrt(CAST(c AS DOUBLE)) AS w FROM c),
        | z AS (SELECT CAST(sum(CAST(w AS DECIMAL(30,12))) AS DOUBLE) AS z FROM w),
        | n AS (SELECT lang, CAST(floor(200 * (w / z)) AS BIGINT) AS n_d
        |       FROM w, z),
        | r AS (SELECT lang, doc_id,
        |     row_number() OVER (PARTITION BY lang
        |       ORDER BY md5(concat('temp:', CAST(doc_id AS VARCHAR))), doc_id)
        |       AS sample_rank
        |   FROM documents)
        |SELECT r.lang, r.doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
        |FROM r JOIN n USING (lang) WHERE sample_rank <= n_d
        |ORDER BY lang, sample_rank""".stripMargin,

    // the salted two-phase top-n is identical to the one-window form
    // (same containment proof as sample_stratified); the exponential key
    // replays exactly: u is 52 md5 bits (double-exact), and +,/,negate
    // are IEEE-specified, leaving ln as the only ≤1-ulp cross-engine
    // wiggle — absorbed by the id tie-break unless two keys collide to
    // ~1e-15, which the 52-bit u makes vanishingly unlikely
    "sample_weighted_wor" ->
      """WITH k AS (SELECT lang, doc_id,
        |    -ln((CAST(concat('0x', substr(md5(concat('wor:', CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
        |        / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        | r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS wor_rank
        |  FROM k)
        |SELECT lang, doc_id, CAST(wor_rank AS BIGINT) AS wor_rank
        |FROM r WHERE wor_rank <= 25
        |ORDER BY lang, wor_rank""".stripMargin,

    "sample_weighted_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
        |  < CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500 WHEN 'zh' THEN 1000 ELSE 10000 END
        |ORDER BY doc_id""".stripMargin,

    // keep value v iff count(rows with value < v) / n in [0.05, 0.95)
    "sample_quantile_band" ->
      """WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents
        |           WHERE n_chars IS NOT NULL GROUP BY 1),
        | r AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |       FROM h),
        | n AS (SELECT count(n_chars) AS n FROM documents)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d JOIN r ON d.n_chars = r.v CROSS JOIN n
        |WHERE r.below >= 0.05 * n.n AND r.below < 0.95 * n.n
        |ORDER BY d.doc_id""".stripMargin,

    // copies = floor(w) + (hash < frac(w)); expected multiplicity = w
    "sample_upsample" ->
      """WITH w AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 25000 WHEN 'zh' THEN 5000 ELSE 10000 END AS wq,
        |    CAST(concat('0x', substr(md5(concat('up:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 AS h
        |  FROM documents),
        | c AS (SELECT doc_id, lang,
        |    wq // 10000 + (CASE WHEN h < wq % 10000 THEN 1 ELSE 0 END) AS n FROM w)
        |SELECT doc_id, lang, CAST(k AS BIGINT) AS copy_idx
        |FROM (SELECT doc_id, lang, unnest(range(0, n)) AS k FROM c) z
        |ORDER BY doc_id, copy_idx""".stripMargin,

    "vocab_topk" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |           FROM documents),
        | c AS (SELECT token, count(*) AS n FROM t WHERE length(token) > 0 GROUP BY token),
        | r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, token, n
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "sample_kfold_balance" ->
      """WITH f AS (SELECT CAST(concat('0x',
        |      substr(md5(concat('fold:', CAST(doc_id AS VARCHAR))), 1, 8))
        |      AS BIGINT) % 5 AS fold, lang
        |    FROM documents WHERE lang IS NOT NULL),
        | t AS (SELECT lang, count(*) AS n_lang FROM f GROUP BY 1),
        | g AS (SELECT fold, lang, count(*) AS n_docs FROM f GROUP BY 1, 2)
        |SELECT CAST(g.fold AS BIGINT) AS fold, g.lang,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(CAST(n_docs AS DOUBLE) / CAST(n_lang AS DOUBLE) AS REAL)
        |    AS fold_share
        |FROM g JOIN t USING (lang) ORDER BY fold, lang""".stripMargin,

    // full register replay: 60-bit md5 hash, low-8-bit register, rank
    // from the binary-string length of the high bits, integer-shifted
    // harmonic sum — floats only at the final division and ln, REAL at
    // the surface exactly as the engine computes them
    "freq_hll_portable" ->
      """WITH keys AS (
        |   SELECT 'doc_text' AS key_kind, text AS k, 64 AS m, 6 AS b
        |     FROM documents WHERE text IS NOT NULL
        |   UNION ALL
        |   SELECT 'token' AS key_kind, token AS k, 256 AS m, 8 AS b
        |     FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |           FROM documents) WHERE length(token) > 0),
        | cells AS (SELECT key_kind, m, b,
        |     CAST(concat('0x', substr(md5(concat('hll:', k)), 1, 15))
        |       AS BIGINT) AS h
        |   FROM keys),
        | r AS (SELECT key_kind, m,
        |     h % m AS reg,
        |     CASE WHEN (h >> b) = 0 THEN 61 - b
        |          ELSE 61 - b - length(bin(h >> b)) END AS rk
        |   FROM cells),
        | sk AS (SELECT key_kind, m, reg, max(rk) AS rk
        |   FROM r GROUP BY 1, 2, 3),
        | mx AS (SELECT key_kind, max(rk) AS rmax FROM sk GROUP BY 1),
        | agg AS (SELECT sk.key_kind, max(sk.m) AS m,
        |     count(*) AS observed, max(mx.rmax) AS rmax,
        |     sum(1::BIGINT << CAST(mx.rmax - sk.rk AS INT)) AS zobs
        |   FROM sk JOIN mx ON sk.key_kind = mx.key_kind GROUP BY 1),
        | e AS (SELECT key_kind, m, m - observed AS zeros,
        |     zobs + (m - observed) * (1::BIGINT << CAST(rmax AS INT)) AS znum,
        |     rmax
        |   FROM agg),
        | rw AS (SELECT key_kind, zeros, CAST(m AS DOUBLE) AS md,
        |     CASE WHEN m = 16 THEN CAST(0.673 AS DOUBLE)
        |          WHEN m = 32 THEN CAST(0.697 AS DOUBLE)
        |          WHEN m = 64 THEN CAST(0.709 AS DOUBLE)
        |          ELSE CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
        |            CAST(1.079 AS DOUBLE) / CAST(m AS DOUBLE)) END *
        |       CAST(m AS DOUBLE) * CAST(m AS DOUBLE) *
        |       power(CAST(2.0 AS DOUBLE), CAST(rmax AS DOUBLE)) /
        |       CAST(znum AS DOUBLE) AS rawv
        |   FROM e),
        | x AS (SELECT key_kind, count(DISTINCT k) AS n_exact
        |   FROM keys GROUP BY 1)
        |SELECT rw.key_kind, CAST(x.n_exact AS BIGINT) AS n_exact,
        |  CAST(CASE WHEN rawv <= 2.5 * md AND zeros > 0
        |       THEN md * ln(md / CAST(zeros AS DOUBLE))
        |       ELSE rawv END AS REAL) AS hll_estimate,
        |  CAST(rawv AS REAL) AS hll_raw,
        |  CAST(zeros AS BIGINT) AS n_zero_registers,
        |  (rawv <= 2.5 * md AND zeros > 0) AS used_linear_counting
        |FROM rw JOIN x ON rw.key_kind = x.key_kind
        |ORDER BY 1""".stripMargin,

    // merged-vs-monolithic: max commutes with partitioning, so the
    // merged registers EQUAL the monolithic ones — the oracle computes
    // the monolithic estimate once and asserts the identity (equal
    // estimates, zero register mismatches)
    "freq_hll_merge" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |           FROM documents),
        | tk AS (SELECT token FROM t WHERE length(token) > 0),
        | cells AS (SELECT CAST(concat('0x',
        |     substr(md5(concat('hll:', token)), 1, 15)) AS BIGINT) AS h
        |   FROM tk),
        | r AS (SELECT h % 256 AS reg,
        |     CASE WHEN (h >> 8) = 0 THEN 53
        |          ELSE 53 - length(bin(h >> 8)) END AS rk
        |   FROM cells),
        | sk AS (SELECT reg, max(rk) AS rk FROM r GROUP BY 1),
        | mx AS (SELECT max(rk) AS rmax FROM sk),
        | agg AS (SELECT count(*) AS observed, max(mx.rmax) AS rmax,
        |     sum(1::BIGINT << CAST(mx.rmax - sk.rk AS INT)) AS zobs
        |   FROM sk CROSS JOIN mx),
        | e AS (SELECT observed, rmax, 256 - observed AS zeros,
        |     zobs + (256 - observed) * (1::BIGINT << CAST(rmax AS INT)) AS znum
        |   FROM agg),
        | est AS (SELECT
        |     CAST(CASE WHEN rawv <= 2.5 * CAST(256.0 AS DOUBLE) AND zeros > 0
        |          THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |            CAST(zeros AS DOUBLE))
        |          ELSE rawv END AS REAL) AS hll_estimate
        |   FROM (SELECT zeros,
        |       CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
        |         CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
        |         CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE) *
        |         power(CAST(2.0 AS DOUBLE), CAST(rmax AS DOUBLE)) /
        |         CAST(znum AS DOUBLE) AS rawv
        |     FROM e))
        |SELECT hll_estimate AS hll_estimate_merged,
        |  hll_estimate AS hll_estimate_mono,
        |  CAST(0 AS BIGINT) AS n_register_mismatches
        |FROM est""".stripMargin,

    // three register pipelines (a, b, union-of-registers) + the exact
    // overlap — same md5/bin-length/shift math as freq_hll_portable
    "freq_hll_intersection" ->
      """WITH sides AS (SELECT
        |     CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'a' ELSE 'b' END
        |       AS side,
        |     o_custkey AS token
        |   FROM orders WHERE o_custkey IS NOT NULL),
        | cells AS (SELECT side, CAST(concat('0x',
        |     substr(md5(concat('hll:', CAST(token AS VARCHAR))), 1, 15))
        |     AS BIGINT) AS h
        |   FROM sides),
        | r AS (SELECT side, h % 256 AS reg,
        |     CASE WHEN (h >> 8) = 0 THEN 53
        |          ELSE 53 - length(bin(h >> 8)) END AS rk
        |   FROM cells),
        | sk AS (SELECT side, reg, max(rk) AS rk FROM r GROUP BY 1, 2),
        | sku AS (SELECT side, reg, rk FROM sk
        |   UNION ALL
        |   SELECT 'u' AS side, reg, max(rk) AS rk FROM sk GROUP BY reg),
        | mx AS (SELECT side, max(rk) AS rmax FROM sku GROUP BY 1),
        | agg AS (SELECT sku.side, count(*) AS observed, max(mx.rmax) AS rmax,
        |     sum(1::BIGINT << CAST(mx.rmax - sku.rk AS INT)) AS zobs
        |   FROM sku JOIN mx USING (side) GROUP BY 1),
        | e AS (SELECT side, 256 - observed AS zeros,
        |     zobs + (256 - observed) * (1::BIGINT << CAST(rmax AS INT)) AS znum,
        |     rmax
        |   FROM agg),
        | est AS (SELECT side,
        |     CAST(CASE WHEN rawv <= 2.5 * CAST(256.0 AS DOUBLE) AND zeros > 0
        |          THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |            CAST(zeros AS DOUBLE))
        |          ELSE rawv END AS REAL) AS est
        |   FROM (SELECT side, zeros,
        |       CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
        |         CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
        |         CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE) *
        |         power(CAST(2.0 AS DOUBLE), CAST(rmax AS DOUBLE)) /
        |         CAST(znum AS DOUBLE) AS rawv
        |     FROM e)),
        | x AS (SELECT count(*) AS n_exact_intersection FROM
        |   (SELECT DISTINCT token FROM sides WHERE side = 'a') aa
        |   JOIN (SELECT DISTINCT token FROM sides WHERE side = 'b') bb
        |   USING (token))
        |SELECT
        |  (SELECT est FROM est WHERE side = 'a') AS est_a,
        |  (SELECT est FROM est WHERE side = 'b') AS est_b,
        |  (SELECT est FROM est WHERE side = 'u') AS est_union,
        |  CAST(CAST((SELECT est FROM est WHERE side = 'a') AS DOUBLE) +
        |    CAST((SELECT est FROM est WHERE side = 'b') AS DOUBLE) -
        |    CAST((SELECT est FROM est WHERE side = 'u') AS DOUBLE)
        |    AS REAL) AS est_intersection,
        |  CAST(x.n_exact_intersection AS BIGINT) AS n_exact_intersection
        |FROM x""".stripMargin,

    // same md5 bottom-k replay: DISTINCT hashes, ORDER BY LIMIT k,
    // membership via IN over the two bottom-k sets; the union estimate
    // stays full-double into the intersection product, REAL surfaces
    "freq_kmv_intersection" ->
      """WITH sides AS (SELECT
        |    CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'a' ELSE 'b' END
        |      AS side,
        |    o_custkey AS k
        |  FROM orders WHERE o_custkey IS NOT NULL),
        | h AS (SELECT DISTINCT side, CAST(concat('0x',
        |    substr(md5(concat('kmv:', CAST(k AS VARCHAR))), 1, 15)) AS BIGINT)
        |    AS kmv_hash
        |  FROM sides),
        | ska AS (SELECT kmv_hash FROM h WHERE side = 'a'
        |   ORDER BY kmv_hash LIMIT 256),
        | skb AS (SELECT kmv_hash FROM h WHERE side = 'b'
        |   ORDER BY kmv_hash LIMIT 256),
        | l AS (SELECT DISTINCT kmv_hash FROM
        |   (SELECT kmv_hash FROM ska UNION ALL SELECT kmv_hash FROM skb)
        |   ORDER BY kmv_hash LIMIT 256),
        | nc AS (SELECT count(*) AS n_common FROM l
        |   WHERE kmv_hash IN (SELECT kmv_hash FROM ska)
        |     AND kmv_hash IN (SELECT kmv_hash FROM skb)),
        | ue AS (SELECT count(*) AS n_union_hashes, max(kmv_hash) AS hk FROM l),
        | uest AS (SELECT n_union_hashes,
        |    CASE WHEN n_union_hashes < 256 THEN CAST(n_union_hashes AS DOUBLE)
        |         ELSE CAST(255.0 AS DOUBLE) *
        |           power(CAST(2.0 AS DOUBLE), CAST(60.0 AS DOUBLE)) /
        |           CAST(hk AS DOUBLE) END AS u
        |   FROM ue),
        | x AS (SELECT count(*) AS n_exact_intersection FROM
        |   (SELECT DISTINCT k FROM sides WHERE side = 'a') aa
        |   JOIN (SELECT DISTINCT k FROM sides WHERE side = 'b') bb USING (k))
        |SELECT
        |  CAST(CAST(n_common AS DOUBLE)/CAST(n_union_hashes AS DOUBLE) AS REAL)
        |    AS jaccard,
        |  CAST(CAST(n_common AS DOUBLE)/CAST(n_union_hashes AS DOUBLE) * u
        |    AS REAL) AS kmv_intersection,
        |  CAST(u AS REAL) AS kmv_union,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST(n_union_hashes AS BIGINT) AS n_union_hashes,
        |  CAST(x.n_exact_intersection AS BIGINT) AS n_exact_intersection
        |FROM nc, uest, x""".stripMargin,

    // full sketch replay: same ledger + window prefix sum, same
    // ceil-div step, same md5 offset, same weighted nearest-rank pick
    // — exact integers until the REAL surfaces
    "freq_kll_quantiles" ->
      """WITH ledger AS (SELECT CAST(l_extendedprice AS DOUBLE) AS val,
        |    count(*) AS w
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        | cum AS (SELECT val, w, sum(w) OVER (ORDER BY val) AS cm
        |   FROM ledger),
        | tot AS (SELECT sum(w) AS wt FROM ledger),
        | prm AS (SELECT wt, (wt + 511) // 512 AS step,
        |    1 + (CAST(concat('0x', substr(md5(concat('kll:',
        |      CAST(wt AS VARCHAR))), 1, 15)) AS BIGINT) %
        |      ((wt + 511) // 512)) AS phi FROM tot),
        | sk AS (SELECT val,
        |    ((CASE WHEN cm >= phi THEN (cm - phi) // step + 1 ELSE 0 END) -
        |     (CASE WHEN cm - w >= phi THEN (cm - w - phi) // step + 1
        |       ELSE 0 END)) * step AS kw
        |   FROM cum, prm),
        | sk2 AS (SELECT val, kw FROM sk WHERE kw > 0),
        | scm AS (SELECT val, kw, sum(kw) OVER (ORDER BY val) AS cw
        |   FROM sk2),
        | sw AS (SELECT sum(kw) AS w2 FROM sk2),
        | pk AS (SELECT p, val AS kll_q, w2 FROM scm, sw,
        |    (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p)
        |   WHERE cw - kw < ceil(p * w2) AND ceil(p * w2) <= cw),
        | rr AS (SELECT l_extendedprice AS v,
        |     row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |     count(*) OVER () AS n
        |   FROM lineitem WHERE l_extendedprice IS NOT NULL),
        | ex AS (SELECT p, CAST(v AS DOUBLE) AS exact_q FROM rr,
        |    (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p)
        |   WHERE rn = ceil(p * n))
        |SELECT pk.p, CAST(kll_q AS REAL) AS kll_q,
        |  CAST(ex.exact_q AS REAL) AS exact_q,
        |  CAST(w2 AS BIGINT) AS n_weight
        |FROM pk JOIN ex USING (p) ORDER BY p""".stripMargin,

    // integer replay: same md5 cells, per-row Σ cnt², min over rows
    "freq_cms_selfjoin_f2" ->
      """WITH c AS (SELECT l_suppkey FROM lineitem),
        | rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        | cms AS (SELECT r, CAST(concat('0x',
        |     substr(md5(concat('cms', r, ':', CAST(l_suppkey AS VARCHAR))),
        |       1, 8)) AS BIGINT) % 4096 AS bkt, count(*) AS cnt
        |   FROM c CROSS JOIN rws GROUP BY 1, 2),
        | dot AS (SELECT r, sum(cnt * cnt) AS d FROM cms GROUP BY 1),
        | est AS (SELECT min(COALESCE(d, 0)) AS f2_estimate
        |   FROM rws LEFT JOIN dot USING (r)),
        | ex AS (SELECT sum(f * f) AS f2_exact FROM
        |   (SELECT l_suppkey, count(*) AS f FROM c GROUP BY 1))
        |SELECT CAST(ex.f2_exact AS BIGINT) AS f2_exact,
        |  CAST(est.f2_estimate AS BIGINT) AS f2_estimate
        |FROM ex CROSS JOIN est""".stripMargin,

    // full sketch replay: same md5 bucketing, same 4x512 cell grid,
    // same min-over-rows estimate — integers end to end
    "freq_cms_heavy" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |           FROM documents),
        | tk AS (SELECT token FROM t WHERE length(token) > 0),
        | rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        | cms AS (SELECT r,
        |     CAST(concat('0x', substr(md5(concat('cms', r, ':', token)), 1, 8))
        |       AS BIGINT) % 512 AS b,
        |     count(*) AS cnt
        |   FROM tk CROSS JOIN rws GROUP BY 1, 2),
        | top AS (SELECT token, count(*) AS n_exact FROM tk GROUP BY 1
        |   ORDER BY n_exact DESC, token LIMIT 25)
        |SELECT top.token, CAST(top.n_exact AS BIGINT) AS n_exact,
        |  CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_estimate
        |FROM top CROSS JOIN rws
        |LEFT JOIN cms ON cms.r = rws.r
        |  AND cms.b = CAST(concat('0x',
        |    substr(md5(concat('cms', rws.r, ':', top.token)), 1, 8))
        |    AS BIGINT) % 512
        |GROUP BY 1, 2 ORDER BY n_exact DESC, token""".stripMargin,

    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |              FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |        WHERE length(token) > 0 GROUP BY doc_id, token),
        | dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | s AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_t,
        |         CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df_t) AS tfidf
        |       FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY tfidf DESC, token) AS rank FROM s)
        |SELECT doc_id, token, tf, df_t, CAST(tfidf AS REAL) AS tfidf,
        |  CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // mirrors Vocab.unigramLogProb: each ln runs on exact-integer inputs,
    // per-doc sums go through DECIMAL(30,12), mean surfaces as REAL
    "text_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |              FROM documents),
        | tok AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        | c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        | tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
        |SELECT doc_id, count(*) AS n_tok,
        | CAST(CAST(sum(CAST(ln(CAST(c.n AS DOUBLE) / tot.total) AS DECIMAL(30,12))) AS DOUBLE)
        |   / count(*) AS REAL) AS avg_logprob
        |FROM tok JOIN c USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR replay: two add-1-smoothed unigram scorings of the same
    // token stream — target model (lang='en' subset) and raw model
    // (whole corpus) — p(t) = (n+1)/(total+V+1) on exact integers,
    // per-occurrence ln through DECIMAL(30,12) (≡ Spark's tf-weighted
    // decimal sum), REAL means, weight = double difference of the two
    // REALs cast back to REAL
    "sample_importance_dsir" ->
      """WITH tok AS (SELECT doc_id, token FROM (
        |     SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |     FROM documents) WHERE length(token) > 0),
        | mt AS (SELECT token FROM (
        |     SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |     FROM documents WHERE lang = 'en') WHERE length(token) > 0),
        | c AS (SELECT token, count(*) AS n FROM mt GROUP BY 1),
        | st AS (SELECT sum(n) + count(*) + 1 AS denom FROM c),
        | lt AS (SELECT t.doc_id,
        |     CAST(CAST(sum(CAST(ln(CAST(COALESCE(c.n, 0) + 1 AS DOUBLE)
        |         / CAST(st.denom AS DOUBLE)) AS DECIMAL(30,12))) AS DOUBLE)
        |       / count(*) AS REAL) AS lp
        |   FROM tok t LEFT JOIN c USING (token) CROSS JOIN st
        |   GROUP BY t.doc_id),
        | cr AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        | sr AS (SELECT sum(n) + count(*) + 1 AS denom FROM cr),
        | lr AS (SELECT t.doc_id,
        |     CAST(CAST(sum(CAST(ln(CAST(COALESCE(cr.n, 0) + 1 AS DOUBLE)
        |         / CAST(sr.denom AS DOUBLE)) AS DECIMAL(30,12))) AS DOUBLE)
        |       / count(*) AS REAL) AS lp
        |   FROM tok t LEFT JOIN cr USING (token) CROSS JOIN sr
        |   GROUP BY t.doc_id)
        |SELECT lt.doc_id, lt.lp AS lp_target, lr.lp AS lp_raw,
        |  CAST(CAST(lt.lp AS DOUBLE) - CAST(lr.lp AS DOUBLE) AS REAL) AS weight,
        |  (CAST(CAST(lt.lp AS DOUBLE) - CAST(lr.lp AS DOUBLE) AS REAL) >= 0)
        |    AS selected
        |FROM lt JOIN lr USING (doc_id)
        |ORDER BY lt.doc_id""".stripMargin,

    // bigram replay: list_filter BEFORE pairing (as the Spark side),
    // add-1 ratio in double, DECIMAL(30,12) per-doc sum, REAL mean
    "text_bigram_lm" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(lower(trim(text)), ' '),
        |                         t -> length(t) > 0) AS toks
        |           FROM documents),
        | t AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        |               unnest(toks) AS tok FROM d),
        | stepped AS (SELECT doc_id, tok AS ctx,
        |     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |   FROM t),
        | occ AS (SELECT doc_id, ctx, ctx || ' ' || nxt AS bg
        |         FROM stepped WHERE nxt IS NOT NULL),
        | nab AS (SELECT bg, count(*) AS nab FROM occ GROUP BY 1),
        | na AS (SELECT ctx, count(*) AS na FROM occ GROUP BY 1),
        | v AS (SELECT count(DISTINCT u.token) AS v
        |       FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |             FROM documents) u
        |       WHERE length(u.token) > 0)
        |SELECT occ.doc_id, count(*) AS n_bigrams,
        | CAST(CAST(sum(CAST(ln(CAST(nab.nab + 1 AS DOUBLE) /
        |       CAST(na.na + v.v AS DOUBLE)) AS DECIMAL(30,12))) AS DOUBLE)
        |   / count(*) AS REAL) AS avg_logprob
        |FROM occ JOIN nab USING (bg) JOIN na USING (ctx) CROSS JOIN v
        |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin,

    // mirrors Vocab.tfIdfCosineTopK: sqrt-idf (IEEE-exact /, sqrt, ·) and
    // DECIMAL(30,12) dot/norm sums make every intermediate bit-identical
    "text_tfidf_sim" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |              FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |        WHERE length(token) > 0 GROUP BY doc_id, token),
        | dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | wts AS (SELECT tf.doc_id, tf.token, dfreq.df_t,
        |     CAST(tf.tf AS DOUBLE) *
        |       sqrt(CAST(n.n_docs AS DOUBLE) / CAST(df_t AS DOUBLE)) AS w
        |   FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |   WHERE df_t <= 125),
        | norms AS (SELECT doc_id,
        |     sqrt(CAST(SUM(CAST(w*w AS DECIMAL(30,12))) AS DOUBLE)) AS norm
        |   FROM wts GROUP BY doc_id),
        | dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |     CAST(SUM(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
        |   FROM wts a JOIN wts b ON a.token = b.token AND a.doc_id < b.doc_id
        |   WHERE a.df_t >= 2 GROUP BY 1, 2),
        | sym AS (SELECT doc_a, doc_b, dot FROM dots
        |   UNION ALL SELECT doc_b, doc_a, dot FROM dots),
        | scored AS (SELECT doc_a, doc_b,
        |     CAST(dot / (na.norm * nb.norm) AS REAL) AS cosine
        |   FROM sym JOIN norms na ON sym.doc_a = na.doc_id
        |     JOIN norms nb ON sym.doc_b = nb.doc_id),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_a
        |     ORDER BY cosine DESC, doc_b) AS rank FROM scored)
        |SELECT doc_a, doc_b, cosine, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3
        |ORDER BY doc_a, rank""".stripMargin,

    "vocab_topk_per_lang" ->
      """WITH t AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
        |           FROM documents),
        | c AS (SELECT lang, token, count(*) AS n FROM t
        |       WHERE length(token) > 0 GROUP BY lang, token),
        | r AS (SELECT lang, token, n, row_number() OVER (PARTITION BY lang
        |     ORDER BY n DESC, token) AS rank FROM c)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, token, n
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    "pack_sequences" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, lang,
        | CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
        | CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin_id
        |FROM b ORDER BY doc_id""".stripMargin,

    "pack_bin_stats" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents),
        | p AS (SELECT lang, n_tok,
        |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin_id
        |  FROM b)
        |SELECT lang, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM p GROUP BY lang, bin_id
        |ORDER BY lang, bin_id""".stripMargin,

    "text_redact" ->
      """WITH w AS (SELECT doc_id,
        |    concat(text, ' contact u', doc_id, '@ex.org via https://ex.org/d/',
        |           doc_id, ' or 555-123-4567') AS text
        |  FROM documents)
        |SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     'https?://[^\s]+', '<URL>', 'g'),
        |   '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text_redacted
        |FROM w ORDER BY doc_id""".stripMargin
  )
}
