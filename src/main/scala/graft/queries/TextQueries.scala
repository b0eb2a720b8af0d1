package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Attach, Cut, Dedup, Features, Graph, Merge, Multimodal, Quality, QualityModel, Ranking, Retrieval, Sampling, TextAnalysis}

/** LLM-training-data text pipeline over the `documents` table:
  * dedup (exact / MinHash-LSH / SimHash / Jaccard), token statistics,
  * quality scoring, language ID, fingerprinting, and the multimodal
  * binary-column plumbing.
  *
  * Oracle entries mirror the exact expression in DuckDB SQL; the
  * hash-based approximate operators (MinHash, SimHash) have no
  * engine-portable SQL form and take the driver's rows-only check.
  */
object TextQueries {

  /** The rare-shingle co-occurrence graph (docs link, both directions,
    * when they share a 3-gram seen in 2–4 docs) — the shared edge
    * frame under `graph_pagerank`, `graph_triangles` and `graph_khop`,
    * factored so the three queries and their oracles cannot drift. */
  /** The (doc_id, gram) DISTINCT shingle frame [[coocEdges]] closes
    * over — factored out (lazy) so SpreadSitesSpec can pin the
    * rebalance, which the checkpoint below otherwise hides from the
    * final plan. */
  private[graft] def coocShingles(s: SparkSession, dir: String): DataFrame =
    // tokenize + shingle explode run on the scan partitioning — a
    // one-split corpus would shingle every document in ONE task
    // (Skew.spread: no-op once splits >= cores, the 100 TB case)
    graft.ops.Skew.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        explode(Dedup.shingles(TextAnalysis.tokens(col("text")), 3)).as("gram"))
      .distinct()

  private[graft] def coocEdges(s: SparkSession, dir: String): DataFrame = {
    // THREE consumers scan sh (the rare-gram groupBy and both sides of
    // the rt self-join) and each would re-run the tokenize + explode +
    // distinct chain from the documents scan — cut once. rt stays
    // uncut: a 2-consumer frame with one cheap join of lineage atop the
    // cut costs less to recompute than to materialize (the
    // Market.itemCounts rule).
    val sh = Cut(coocShingles(s, dir))
    val rare = sh.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .filter(col("c").between(2, 4)).select(col("gram"))
    val rt = sh.join(rare, "gram")
    rt.as("a").join(rt.as("b"), "gram")
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
  }

  /** Persisted co-occurrence edge frame, built ONCE per (JVM, sfDir) —
    * the [[graft.ops.IvfIndex]] lifecycle applied to the graph tier:
    * deriving the edges (shingle explode + rare filter + self-join) is
    * the dominant cost of every graph query, it is a pure function of
    * the corpus, and at 100 TB nobody re-derives a trillion-edge frame
    * to run one BFS. pagerank/triangles/khop load this lake artifact,
    * so their bench medians measure the ALGORITHM; the derivation is
    * measured on its own by `graph_edge_build` (the sim_ivf_build
    * split). Correctness is unaffected: parquet round-trips the long
    * ids bit-exactly, so the loaded frame is the oracle's edge set. */
  private val edgeDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def coocEdgeDir(s: SparkSession, dir: String): String =
    edgeDirCache.computeIfAbsent(dir, _ => {
      val tmp = QuerySql.tempDir("graft_coocedges")
      Graph.saveEdges(coocEdges(s, dir), "src", "dst", tmp)
      tmp
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact_text" -> ((s, dir) =>
      Dedup.exactByContent(Tables.documents(s, dir), id = "doc_id", content = "text")
        .withColumnRenamed("keeper_id", "keeper_doc_id")
        .orderBy(col("content_hash"))),

    // PageRank centrality over the rare-shingle co-occurrence graph:
    // documents link (both directions) when they share a 3-gram seen in
    // 2–4 docs (the corpus's 31-token vocabulary makes single tokens
    // universal — n-grams carry the discriminating structure, as in the
    // decontamination pass); eight damped iterations with quantized
    // contribution sums — the iterative graph algorithm on the oracle's
    // hard signal, same replay contract as the PCA eigensolver.
    // Centrality surfaces the template/boilerplate hubs a dedup pass
    // should look at first.
    "graph_pagerank" -> ((s, dir) =>
      Graph.pageRank(Graph.loadEdges(s, coocEdgeDir(s, dir)),
          iters = 8, shufflePartitions = Some(8))
        .select(col("id").as("doc_id"), col("pr").cast("float").as("pr"))
        .orderBy(col("doc_id"))),

    // Per-document triangle counts over the same graph — the local
    // clustering signal (a doc inside many closed co-occurrence
    // triangles sits in a dense template family; a high-degree doc with
    // NO triangles is a hub stitching unrelated clusters). Degree
    // orientation bounds the wedge join at O(m^1.5) — the step that
    // keeps exact triangle counting feasible on web-scale graphs.
    "graph_triangles" -> ((s, dir) =>
      Graph.triangles(Graph.loadEdges(s, coocEdgeDir(s, dir)))
        .select(col("id").as("doc_id"), col("n_triangles"))
        .orderBy(col("doc_id"))),

    // Bounded-depth BFS from a seed set: min hop distance within 3 hops
    // — the contamination-neighborhood query ("everything within k
    // links of these flagged docs"). Each round shuffles only the new
    // frontier against the edge list; the visited set dedups per level
    // exactly as the recursive-CTE oracle's UNION does.
    "graph_khop" -> ((s, dir) => {
      val seeds = Tables.documents(s, dir)
        .filter(col("doc_id") <= 5).select(col("doc_id"))
      Graph.kHopMinHops(Graph.loadEdges(s, coocEdgeDir(s, dir)), seeds, k = 3)
        .select(col("id").as("doc_id"), col("hops").cast("long").as("hops"))
        .orderBy(col("doc_id"))
    }),

    // PERSONALIZED PageRank from the flagged-doc seed set — the
    // weighted complement of graph_khop's hop cutoff: restart (and
    // dangling) mass returns to the seeds, so the score measures
    // exposure to the flagged set, not global centrality. Same
    // quantized replay contract as graph_pagerank.
    "graph_ppr" -> ((s, dir) => {
      val seeds = Tables.documents(s, dir)
        .filter(col("doc_id") <= 5).select(col("doc_id"))
      Graph.personalizedPageRank(Graph.loadEdges(s, coocEdgeDir(s, dir)),
          seeds, iters = 8)
        .select(col("id").as("doc_id"), col("pr").cast("float").as("ppr"))
        .orderBy(col("doc_id"))
    }),

    // Weakly-connected components over the persisted edge frame — the
    // SAME star-contraction engine the dedup tier uses on similarity
    // pairs, aimed at the graph artifact: every doc labeled with its
    // component's minimum id (the cluster identity question PageRank
    // and LPA both presuppose).
    "graph_components" -> ((s, dir) =>
      Dedup.duplicateClusters(Graph.loadEdges(s, coocEdgeDir(s, dir)),
          idA = "src", idB = "dst")
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))),

    // Synchronous label-propagation communities, 5 rounds — template-
    // family detection on the co-occurrence graph with all-integer
    // deterministic arithmetic (most-frequent neighbor label, smallest
    // label on ties), replayed round-for-round by the oracle.
    "graph_communities" -> ((s, dir) =>
      Graph.labelPropagation(Graph.loadEdges(s, coocEdgeDir(s, dir)), iters = 5)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy(col("doc_id"))),

    // Adamic–Adar link prediction over the persisted edge frame:
    // unlinked doc pairs scored by Σ 1/ln(deg) over common neighbors
    // (a shared RARE neighbor outweighs a shared hub) — the "probably
    // the same family, though no edge was derived" candidate list.
    // Degree-capped wedge centers (cap mirrored by the oracle, dropped
    // hubs observable), ranked on the exact decimal sum.
    "graph_adamic_adar" -> ((s, dir) =>
      Graph.adamicAdar(Graph.loadEdges(s, coocEdgeDir(s, dir)),
          k = 50, maxDegree = 200L)
        .select(col("u").as("doc_a"), col("v").as("doc_b"),
          col("aa_score").cast("float").as("aa_score"), col("rank"))
        .orderBy(col("rank"))),

    // Degree assortativity: do hub documents co-occur with hubs
    // (r > 0) or with leaves (r < 0)? One number from exact integer
    // co-moments over both edge orientations — the structural health
    // check before picking a graph partitioning strategy.
    "graph_assortativity" -> ((s, dir) =>
      Graph.assortativity(Graph.loadEdges(s, coocEdgeDir(s, dir)))),

    // k-core extraction (k=30, 8 synchronous peel rounds): the cohesive
    // core of the co-occurrence graph after tendrils and stars peel
    // away — all-integer, round-for-round replayed by the oracle, the
    // fixed-round contract HITS/PageRank use.
    // 16 rounds: the sf0.01 corpus needs 12 peel rounds to reach the
    // 30-core fixed point, and kCore rejects an unconverged result
    // loudly; converged extra rounds are idempotent in BOTH engines, so
    // the margin costs little and the oracle replays the same 16.
    "graph_kcore" -> ((s, dir) =>
      Graph.kCore(Graph.loadEdges(s, coocEdgeDir(s, dir)), k = 30, rounds = 16)
        .select(col("id").as("doc_id"), col("deg"))
        .orderBy(col("doc_id"))),

    // Neighborhood-Jaccard link prediction — Adamic–Adar's
    // degree-normalized sibling: |Γ∩|/|Γ∪| rewards small tight
    // neighborhoods over shared hubs. Wedge centers share AA's degree
    // cap (mirrored by the oracle); union degrees stay exact. Score is
    // one double division of integers, ranked after the FLOAT downcast.
    "graph_neighbor_jaccard" -> ((s, dir) =>
      Graph.neighborJaccard(Graph.loadEdges(s, coocEdgeDir(s, dir)),
          k = 50, maxDegree = 200L)
        .select(col("u").as("doc_a"), col("v").as("doc_b"),
          col("common"), col("jaccard"), col("rank"))
        .orderBy(col("rank"))),

    // HITS hubs & authorities, 8 L1-normalized rounds — the centrality
    // pair PageRank fuses: "points at good things" vs "is pointed at".
    // On this symmetric co-occurrence graph the two columns coincide,
    // which the oracle replays round-for-round (and is itself the
    // sanity check a directed corpus graph would break).
    "graph_hits" -> ((s, dir) =>
      Graph.hits(Graph.loadEdges(s, coocEdgeDir(s, dir)), iters = 8)
        .select(col("id").as("doc_id"),
          col("authority").cast("float").as("authority"),
          col("hub").cast("float").as("hub"))
        .orderBy(col("doc_id"))),

    // HITS over a GENUINELY DIRECTED graph — the user→event_type
    // bipartite edges, where authority and hub are structurally
    // disjoint (users only point, types are only pointed at): a
    // swapped a/h update or a src/dst transposition in the operator
    // would flip which side carries the zeros and fail the hash, the
    // check the symmetric co-occurrence fixture above cannot make.
    // Node ids are prefixed ('u'/'t') so the two vertex sets cannot
    // collide.
    "graph_hits_directed" -> ((s, dir) => {
      val edges = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
          concat(lit("t"), col("event_type")).as("dst"))
        .distinct()
      Graph.hits(edges, iters = 8)
        .select(col("id").as("node_id"),
          col("authority").cast("float").as("authority"),
          col("hub").cast("float").as("hub"))
        .orderBy(col("node_id"))
    }),

    // EDGE LIFECYCLE derivation leg: a FRESH shingle-co-occurrence
    // derivation + partitioned persist + load-back per invocation (no
    // cache — this entry IS the edge-build timing, the cost the other
    // graph queries amortize), summarized as edge/node counts so any
    // write/read loss flips the hash.
    "graph_edge_build" -> ((s, dir) => {
      val tmp = QuerySql.tempDir("graft_edgebuild")
      Graph.saveEdges(coocEdges(s, dir), "src", "dst", tmp)
      val e = Graph.loadEdges(s, tmp)
      Attach(e.agg(count(lit(1)).as("n_edges")),
        e.select(explode(array(col("src"), col("dst"))).as("id"))
          .agg(countDistinct(col("id")).as("n_nodes")))
    }),

    // Degree profile straight off the persisted edge frame — the first
    // query anyone runs against a freshly built graph artifact (hub
    // audit); out = in here because co-occurrence links both ways, so
    // the equality is itself a derivation sanity check the oracle
    // verifies node-by-node.
    "graph_degree_profile" -> ((s, dir) =>
      Graph.degrees(Graph.loadEdges(s, coocEdgeDir(s, dir)))
        .select(col("id").as("doc_id"), col("out_degree"), col("in_degree"))
        .orderBy(col("doc_id"))),

    // EDGE LIFECYCLE incremental leg: persist the base graph (edges
    // among doc_id ≤ 450), APPEND the delta (edges touching newer docs)
    // without rewriting the base, then profile the combined frame —
    // the partition-disjoint split makes base ∪ delta exactly the full
    // edge set, so this shares graph_degree_profile's oracle: any
    // append-path loss or duplication flips the hash.
    "graph_edges_append" -> ((s, dir) => {
      // the edge frame feeds BOTH the base write and the delta append —
      // cut the (tiny) final frame instead of re-running the self-join
      // close per consumer
      val all = Cut(coocEdges(s, dir))
      val tmp = QuerySql.tempDir("graft_edgeappend")
      Graph.saveEdges(all.filter(col("src") <= 450 && col("dst") <= 450),
        "src", "dst", tmp)
      Graph.appendEdges(all.filter(col("src") > 450 || col("dst") > 450),
        "src", "dst", tmp)
      Graph.degrees(Graph.loadEdges(s, tmp))
        .select(col("id").as("doc_id"), col("out_degree"), col("in_degree"))
        .orderBy(col("doc_id"))
    }),

    // Incremental INVERTED-INDEX stats maintenance: the per-token
    // df/tf corpus statistics behind BM25 are distributive counts, so a
    // delta batch folds into the standing stats via mergeAggregates —
    // no corpus rescan. The oracle is the full recompute, the equality
    // that lets a 100 TB search index refresh hourly.
    "mv_bm25_stats_refresh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = Retrieval.corpusStats(docs.filter(col("doc_id") <= 400))
      val delta = Retrieval.corpusStats(docs.filter(col("doc_id") > 400))
      Merge.mergeAggregates(base, delta, keys = Seq("token"),
          kinds = Map("df_t" -> "count", "tf_total" -> "sum"))
        .orderBy(col("token"))
    }),

    // BM25 ranked retrieval in similar-items mode: four probe documents
    // query the corpus through the inverted index (only docs sharing a
    // term are scored), self-hits excluded before ranking
    "text_bm25_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probes = docs.filter(col("doc_id").isin(7L, 123L, 321L, 444L))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      Retrieval.bm25TopK(docs, probes, k = 10, excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    }),

    // RAKE keyword extraction: phrases split at corpus-derived
    // stopwords (top-10 df tokens), words scored deg/freq within their
    // document, phrases ranked on the exact decimal word-score sum —
    // the unsupervised "what is this doc about" tagger.
    "text_rake_keywords" -> ((s, dir) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, dir),
          nStopwords = 10, k = 3)
        .select(col("doc_id"), col("phrase"),
          col("rake_score").cast("float").as("rake_score"),
          col("n_occurrences"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))),

    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"),
          col("avg_token_len").cast("float").as("avg_token_len"))
        .orderBy(col("doc_id"))),

    "text_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality_score").cast("float").as("quality_score"))
        .orderBy(col("doc_id"))),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))),

    // ── Mixed-language detector: chunk each doc into the training
    // windows, language-ID every chunk, and flag docs whose chunks
    // DISAGREE — the doc-level langid says "en" for a half-en/half-zh
    // paste (a classic curation failure that poisons both languages'
    // mixtures); chunk-level consensus catches it. Majority lang via a
    // deterministic struct max (count, then lang) — no mode() whose
    // tiebreak differs across engines.
    "text_mixed_lang" -> ((s, dir) => {
      val chunks = TextAnalysis.chunk(Tables.documents(s, dir),
        size = 64, stride = 48)
      val scored = TextAnalysis.langId(chunks, text = "chunk_text",
        out = "chunk_lang")
      val perLang = scored.groupBy(col("doc_id"), col("chunk_lang"))
        .agg(count(lit(1)).as("__c"))
      perLang.groupBy(col("doc_id"))
        .agg(sum(col("__c")).as("n_chunks"),
          count(lit(1)).as("n_langs"),
          max(struct(col("__c"), col("chunk_lang"))).getField("chunk_lang")
            .as("majority_lang"))
        .withColumn("is_mixed", col("n_langs") > 1)
        .orderBy(col("doc_id"))
    }),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionScore(Tables.documents(s, dir))
        .select(col("doc_id"),
          col("dup_token_frac").cast("float").as("dup_token_frac"),
          col("top_2gram_frac").cast("float").as("top_2gram_frac"))
        .orderBy(col("doc_id"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))),

    // ── Hashing-trick featurizer: vocabulary-free signed bag-of-words
    // into 64 fixed buckets (md5-derived bucket and sign, so any
    // engine replays the identical sparse vector). The featurizer for
    // models over unbounded token spaces — no vocab build, no OOV.
    "feat_hashing_trick" -> ((s, dir) =>
      Features.hashingTrick(Tables.documents(s, dir), id = "doc_id",
          text = "text", dim = 64)
        .orderBy(col("doc_id"), col("bucket"))),

    "text_bpe_tokens" -> ((s, dir) =>
      TextAnalysis.bpeTokenCount(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_bpe_tokens"))
        .orderBy(col("doc_id"))),

    // 64-token windows, stride 48 (the training/RAG sequence splitter)
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "text_rolling_hash" -> ((s, dir) =>
      TextAnalysis.rollingHashFingerprint(Tables.documents(s, dir))
        .select(col("doc_id"), col("rolling_hash"))
        .orderBy(col("doc_id"))),

    // Prefix-filtered (AllPairs bound) form — the variant that runs at
    // scale is the variant under verification. On this synthetic uniform
    // vocabulary the filter yields little candidate reduction (measured
    // ~1.0x at sf0.1) so the input stays capped; on natural text the
    // prefix index is what makes exact threshold-Jaccard tractable.
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 300),
          id = "doc_id", text = "text", threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard").cast("float").as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // Asymmetric CONTAINMENT pairs (|A∩B|/min): the doc-inside-doc
    // duplicates union-normalized Jaccard structurally misses (a short
    // doc pasted into a long one scores 1.0 here, |A|/|B| there). The
    // smaller side's rare-token prefix joins FULL postings — complete by
    // the adapted AllPairs bound, still never |corpus|²; exact verify,
    // threshold applied on the FLOAT surface both engines compare.
    "dedup_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 300),
          id = "doc_id", text = "text", threshold = 0.7)
        .orderBy(col("doc_a"), col("doc_b"))),

    // exact dedup-survivors: drop docs with a >= 0.6-jaccard partner of
    // smaller id (inverted-index candidates → exact verify → anti-join)
    "dedup_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val cand = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.0)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val dups = Dedup.verifyJaccard(docs, cand, "doc_id", "text")
        .filter(col("jaccard") >= 0.6)
        .select(col("id_b").as("doc_id")).distinct()
      docs.join(dups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // SUBSTRING-level dedup, the span-mining half: 5-gram spans shared
    // by >= 2 docs, merged into maximal islands, kept at >= 8 tokens —
    // the boilerplate/license detector document-granular dedup misses
    "dedup_substring_spans" -> ((s, dir) =>
      Dedup.frequentSpans(Tables.documents(s, dir), id = "doc_id",
          text = "text", n = 5, minDocs = 2, minSpanTokens = 8)
        .orderBy(col("doc_id"), col("span_start"))),

    // SUBSTRING-level dedup, the excision half: remove every mined span
    // from its documents, pass untouched docs through unchanged
    "dedup_substring" -> ((s, dir) =>
      Dedup.dedupSubstrings(Tables.documents(s, dir), id = "doc_id", text = "text",
          n = 5, minDocs = 2, minSpanTokens = 8)
        .orderBy(col("doc_id"))),

    // FULLY ORACLED since the profile moved onto the portable sketch
    // lanes: the HLL distinct estimate replays register-for-register
    // (md5 hashes, integer-shifted harmonic sum — the
    // freq_hll_portable machinery) and the size quantiles ride the
    // deterministic KLL compaction (systematic md5-offset rank
    // sample — the freq_kll_quantiles machinery), so the whole
    // profile is row/schema/hash-verified where Spark's builtin
    // approx_count_distinct/percentile_approx pair could only ever be
    // rows-only. corpus_profile_exact below stays as the exact
    // complement documenting the sketch-vs-exact trade.
    "dedup_corpus_profile" -> ((s, dir) =>
      Dedup.corpusProfile(Tables.documents(s, dir), "text", "n_chars")
        .select(col("n_docs"), col("approx_distinct_docs"),
          col("size_p50").cast("float").as("size_p50"),
          col("size_p95").cast("float").as("size_p95"),
          col("size_p99").cast("float").as("size_p99"))),

    // the exact complement of the sketch profile (one extra shuffle for
    // the exact distinct; exact interpolated median) — fully oracled,
    // and the pair documents the sketch-vs-exact trade the scale path
    // makes deliberately
    "corpus_profile_exact" -> ((s, dir) =>
      Tables.documents(s, dir).agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_distinct_docs"),
        expr("percentile(n_chars, 0.5D)").as("median_n_chars"))),

    // HARD SIGNAL: the portable (md5-hash) MinHash-LSH variant — DuckDB
    // replays shingling, all 16 minhashes, band buckets, the maxBucket
    // skew cap, and the candidate join, so the whole LSH pipeline is
    // row/schema/hash-verified (xxhash64 stays minhash's default; which
    // pairs the banding finds differs between the two hashes).
    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidatePairs(docs, id = "doc_id", text = "text",
        portable = true)
      val perDoc = pairs.groupBy(col("id_a").as("doc_id"))
        .agg(count(lit(1)).as("n_candidates"), max(col("est_jaccard")).as("max_est_jaccard"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0, Seq("n_candidates")).na.fill(0.0, Seq("max_est_jaccard"))
        .orderBy(col("doc_id"))
    }),

    // cross-source canonical form: lower + accent fold + punct strip +
    // whitespace collapse, the join/dedup key for multi-source curation
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(Tables.documents(s, dir))
        .select(col("doc_id"), col("text_norm"))
        .orderBy(col("doc_id"))),

    // Incremental ingestion dedup: docs with doc_id%5==0 play the "new
    // batch", the rest the historical corpus; a new doc survives only if
    // it is neither an exact copy nor a verified 3-gram near-dup (≥0.8)
    // of ANY historical doc. Portable hashes → fully oracled.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      Dedup.dedupIncremental(fresh, hist, id = "doc_id", text = "text",
          threshold = 0.8, portable = true)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // HARD SIGNAL: 60-bit md5-hash SimHash — DuckDB replays the
    // per-token bit votes and the signature fold exactly
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), id = "doc_id", text = "text")
        .orderBy(col("doc_id"))),

    // HARD SIGNAL: SimHash near-dup pairs. maxBits = 3 keeps the query
    // in the pigeonhole-guaranteed regime: any 4-way disjoint chunking
    // (here 4×15 bits) provably finds EVERY pair within hamming 3.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDup(Tables.documents(s, dir), id = "doc_id", text = "text",
          maxBits = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // duplicate families: connected components over the exact-Jaccard
    // pair list (same edges as dedup_jaccard_pairs) — every doc labeled
    // with its family's minimum id
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 300),
          id = "doc_id", text = "text", threshold = 0.5)
      Dedup.duplicateClusters(pairs, idA = "doc_a", idB = "doc_b")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // same families via alternating large-star/small-star contraction —
    // O(log n) rounds vs label propagation's O(diameter); output is
    // provably identical (min id per component), so the entry shares
    // dedup_clusters' recursive-CTE oracle verbatim
    "dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 300),
          id = "doc_id", text = "text", threshold = 0.5)
      Dedup.duplicateClustersStar(pairs, idA = "doc_a", idB = "doc_b")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: docs with doc_id % 97 == 0 act as the
    // held-out eval set; every training doc sharing a 3-gram is flagged
    "decontaminate_docs" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      Dedup.contaminationFlags(
          all.filter(col("doc_id") % 97 =!= 0), id = "doc_id", text = "text",
          bench = all.filter(col("doc_id") % 97 === 0), benchText = "text")
        .orderBy(col("doc_id"))
    }),

    "multimodal_meta" -> ((s, dir) =>
      Multimodal.extractMeta(
          Multimodal.withBinaryPayload(Tables.documents(s, dir)))
        .toDF()
        .orderBy(col("doc_id"))),

    // audio modality: synthesize a real 16-bit PCM WAV per doc (fmt
    // params derived from doc_id), then parse the header back — the
    // round-trip proves the byte-level plumbing, and the oracle
    // recomputes every field from (doc_id, byte length) arithmetic
    "multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      val wavs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, t) =>
          (i, Multimodal.synthWav(i, t.getBytes("UTF-8")))
        })
        .toDF("doc_id", "media")
      Multimodal.extractAudioMeta(wavs).toDF().orderBy(col("doc_id"))
    }),

    // second audio container: FLAC with a real STREAMINFO metadata-block
    // walk — same round-trip stance as multimodal_audio, every parsed
    // field replayable from (doc_id, byte length) arithmetic
    "multimodal_flac" -> ((s, dir) => {
      import s.implicits._
      val flacs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, t) =>
          (i, Multimodal.synthFlac(i, t.getBytes("UTF-8")))
        })
        .toDF("doc_id", "media")
      Multimodal.extractAudioMeta(flacs).toDF().orderBy(col("doc_id"))
    }),

    // third audio container: MPEG-1 Layer III — TABLE-DRIVEN header
    // fields (bitrate/sample-rate index lookups), CBR duration estimate
    "multimodal_mp3" -> ((s, dir) => {
      import s.implicits._
      val mp3s = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, t) =>
          (i, Multimodal.synthMp3(i, t.getBytes("UTF-8")))
        })
        .toDF("doc_id", "media")
      Multimodal.extractAudioMeta(mp3s).toDF().orderBy(col("doc_id"))
    }),

    // frame sampling: every 4th 16-byte slice (last slice may be short)
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.withBinaryPayload(Tables.documents(s, dir).filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("frame_idx"), length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // frame-level exact dedup across videos: hash every sampled frame's
    // payload, count copies, keep the lexicographically first
    // (doc, frame) occurrence — the still-frame / boilerplate-intro
    // detector of a video curation pass. Content hashing is oracle-safe
    // here because the synthetic corpus is pure ASCII (byte slicing ==
    // char slicing, asserted across all SFs).
    "multimodal_frame_dedup" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.withBinaryPayload(Tables.documents(s, dir).filter(col("doc_id") < 100)))
        .groupBy(md5(col("frame_bytes")).as("frame_hash"))
        .agg(count(lit(1)).as("n_copies"),
          min(struct(col("doc_id"), col("frame_idx"))).as("k"))
        .select(col("frame_hash"), col("n_copies"),
          col("k.doc_id").as("keeper_doc_id"),
          col("k.frame_idx").as("keeper_frame_idx"))
        .orderBy(col("frame_hash"))),

    // Pseudo-relevance-feedback expansion: top-10 BM25 feedback docs
    // per probe, terms scored Σ tf·idf over the feedback set (decimal-
    // quantized, so the rank ORDER key is exact), query's own terms
    // excluded — the sparse-retrieval recall lever.
    "retrieval_prf_expansion" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probeIds = Seq(7L, 123L, 321L, 444L)
      val probes = docs.filter(col("doc_id").isin(probeIds: _*))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      Retrieval.prfExpansion(docs, probes, kDocs = 10, kTerms = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PMI collocations over within-doc co-occurrence (document
    // frequencies, df-capped vocabulary, integer support filter) — the
    // phrase-mining statistic; output ordered by the pair, never by the
    // float pmi, so no cross-engine ln ulp can reorder rows.
    "text_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir),
          maxVocab = 100, minSupport = 30L)
        .orderBy(col("tok_a"), col("tok_b"))),

    // Zipf rank–frequency fit over the top-100 vocabulary: the corpus-
    // health regression (natural text ≈ slope −1; template/boilerplate
    // dominance bends it), every ln-sum decimal-quantized so both
    // engines fit the identical line.
    "text_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), topN = 100)
        .orderBy(col("n"))),

    // PSI drift between two corpus snapshots' language mixtures — the
    // training-data drift gate: per-bucket (p−q)·ln(p/q) contributions
    // with add-1 smoothing over the union of observed buckets (a
    // bucket present in only one snapshot is exactly what a drift
    // monitor must catch, and ln(0) must not be how it reports it),
    // total on every row via a quantized window sum.
    "dq_psi_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Quality.psiDrift(docs.filter(col("doc_id") <= 400),
          docs.filter(col("doc_id") > 400), "lang")
        .orderBy(col("lang"))
    }),

    // JSD drift between the same two snapshots' SOURCE mixtures — the
    // bounded, symmetric complement of the PSI gate: ½KL(p‖m̄)+½KL(q‖m̄)
    // saturates at ln 2, so a brand-new dominant bucket (exactly the
    // event PSI's unbounded ln(p/q) blows up on) scores on the same
    // scale the alert thresholds were tuned on.
    "dq_jsd_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Quality.jsdDrift(docs.filter(col("doc_id") <= 400),
          docs.filter(col("doc_id") > 400), "source")
        .orderBy(col("source"))
    }),

    // Single-snapshot mixture health: Shannon entropy of each
    // language's SOURCE distribution — a lang whose source entropy
    // collapses toward 0 is being fed by one domain; the n_buckets
    // column gives the ln(B) ceiling to read it against.
    "dq_mixture_entropy" -> ((s, dir) =>
      Quality.groupEntropy(Tables.documents(s, dir),
          key = "lang", bucket = "source")
        .orderBy(col("lang"))),

    // PERCEPTUAL frame near-dup: dHash (33-cell average-gradient sign,
    // all integer arithmetic) over each sampled frame's raw bytes,
    // 4-chunk Hamming bucketing, bit_count verify — catches the
    // shifted/requantized frames multimodal_frame_dedup's md5 misses.
    // 64-byte frames so the cells average ~2 bytes each (a 16-byte
    // frame would degenerate to single-byte cells).
    "multimodal_frame_neardup" -> ((s, dir) =>
      Multimodal.framePerceptualNearDup(
          Multimodal.sampleFrames(
            Multimodal.withBinaryPayload(
              Tables.documents(s, dir).filter(col("doc_id") < 100)),
            frameSize = 64, stride = 4),
          bits = 32, maxBits = 3)
        .orderBy(col("doc_id_a"), col("frame_idx_a"),
          col("doc_id_b"), col("frame_idx_b"))),

    // SCENE CUTS: Hamming distance between CONSECUTIVE frames' dHash
    // signatures ≥ 8 marks a shot boundary — the keyframe-selection
    // primitive ("one frame per scene"). Stride 1 (every frame), pure
    // integer pipeline end-to-end.
    "multimodal_scene_cuts" -> ((s, dir) =>
      Multimodal.sceneCuts(
          Multimodal.sampleFrames(
            Multimodal.withBinaryPayload(
              Tables.documents(s, dir).filter(col("doc_id") < 100)),
            frameSize = 64, stride = 1),
          bits = 32, minBits = 8)
        .orderBy(col("doc_id"), col("cut_at"))),

    // model-based quality gate: fit naive-Bayes log-odds weights on the
    // deterministic train half (labels = the heuristic quality score at
    // the 0.5 cut), score the held-out half by broadcast join — the
    // fastText-style classifier-filter loop entirely in-engine
    "text_quality_nb" -> ((s, dir) =>
      nbValScored(s, dir)
        .select(col("doc_id"), col("n_tok"),
          col("nb_llr").cast("double").as("nb_llr"), col("pred"))
        .orderBy(col("doc_id"))),

    // Calibration curve for the NB quality classifier: validation docs
    // binned into score deciles (distributed exact ntile on the EXACT
    // decimal llr with the doc_id tie-break — Ranking, no global
    // window), then observed positive rate per bin. A well-calibrated
    // classifier's pos_rate climbs with the decile; a flat curve means
    // the score carries no signal. Gold labels = the same heuristic
    // threshold the trainer used.
    "text_nb_calibration" -> ((s, dir) => {
      val binned = Ranking.withGlobalNtile(nbValScored(s, dir),
        Seq(col("nb_llr"), col("doc_id")), k = 10, out = "decile")
      binned.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          (sum(col("nb_llr")).cast("double") / count(lit(1)))
            .cast("float").as("mean_llr"),
          sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
          (sum(when(col("__pos"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).cast("float").as("pos_rate"))
        .orderBy(col("decile"))
    })
  )

  /** Shared by text_quality_nb and text_nb_calibration: heuristic
    * labels, 50/50 hash split, log-odds weights from the train half,
    * validation half scored and rejoined with its gold label. */
  private def nbValScored(s: SparkSession, dir: String): DataFrame = {
    val labeled = Sampling.hashSplit(
        TextAnalysis.qualityScore(Tables.documents(s, dir)),
        id = "doc_id", trainPct = 50, valPct = 0)
      .withColumn("__pos",
        coalesce(col("quality_score").cast("float") >= lit(0.5f), lit(false)))
    val weights = QualityModel.logOddsWeights(
      labeled.filter(col("split") === "train"), labelCol = "__pos", minDf = 3)
    QualityModel.score(labeled.filter(col("split") =!= "train"), weights)
      .join(labeled.select(col("doc_id"), col("__pos")), "doc_id")
  }

  private def langList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  // generated SQL fragments for the portable MinHash oracle (16 hash
  // functions / 4 bands, mirroring Dedup.minhashSignatures(portable=true))
  private val mhAggs = (0 until 16).map(s =>
    s"min(CAST(concat('0x', substr(md5(concat('mh$s:', sh)), 1, 8)) AS BIGINT)) AS m$s")
    .mkString(", ")
  private val mhBands = (0 until 4).map { b =>
    val cs = (b * 4 until b * 4 + 4).map(i => s"m$i").mkString(", ")
    s"WHEN $b THEN md5(concat_ws(',', $cs))"
  }.mkString(" ")
  private val mhMatches = (0 until 16)
    .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")

  // shared by dedup_clusters and dedup_clusters_star: both operators
  // compute min-id-per-component over the same pair list, so one
  // transitive-closure oracle verifies them against each other too
  private val dedupClustersSql =
    """WITH RECURSIVE d AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
      |           FROM documents WHERE doc_id < 300),
      | t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      | s AS (SELECT doc_id, len(toks) AS n FROM d),
      | pr AS (SELECT doc_a, doc_b
      |   FROM p JOIN s sa ON p.doc_a = sa.doc_id JOIN s sb ON p.doc_b = sb.doc_id
      |   WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5),
      | e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
      |       UNION SELECT doc_b, doc_a FROM pr),
      | reach(a, b) AS (
      |   SELECT src, dst FROM e
      |   UNION
      |   SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
      |SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY a
      |ORDER BY doc_id""".stripMargin

  // shared by dedup_substring_spans and dedup_substring: the full span
  // pipeline — positioned 5-grams (lead-chain; the trailing-window
  // filter sits OUTSIDE the window subquery so lead() sees every
  // position), cross-doc frequency >= 2, running-max-of-ends islands
  // (the Intervals.coalesce replay), spans >= 8 tokens
  private val substringSpansCte =
    """tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
      | pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p,
      |           len(t) AS len FROM tk),
      | g AS (SELECT * FROM (
      |     SELECT doc_id, p, len,
      |       concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w,
      |         lead(tok, 3) OVER w, lead(tok, 4) OVER w) AS gram
      |     FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p))
      |   WHERE p + 4 <= len),
      | f AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      | h AS (SELECT doc_id, p AS s, p + 4 AS e FROM g JOIN f USING (gram)),
      | isl AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
      |           ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS pme FROM h),
      | fl AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
      |        FROM isl),
      | gr AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
      |          ROWS UNBOUNDED PRECEDING) AS island FROM fl),
      | sp AS (SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
      |          count(*) AS n_grams FROM gr GROUP BY doc_id, island),
      | spf AS (SELECT * FROM sp WHERE span_end - span_start + 1 >= 8)""".stripMargin

  /** PageRank iteration CTEs (the generated-replay pattern): per round
    * a contribution join (pr/outdeg, doubles), quantized inflow sum,
    * quantized dangling mass, then the damped update with every
    * constant forced to DOUBLE (DuckDB would otherwise do the
    * (1 − 0.85) arithmetic in DECIMAL and diverge from Spark's
    * doubles). */
  private val pageRankIters = 8
  private def pageRankIterCtes: String = (1 to pageRankIters).map { k =>
    s""" c$k AS (SELECT e.dst AS id, r.pr / r.outdeg AS c
       |   FROM r${k - 1} r JOIN e ON r.id = e.src
       |   WHERE r.outdeg IS NOT NULL),
       | inf$k AS (SELECT id,
       |     CAST(sum(CAST(c AS DECIMAL(30,12))) AS DOUBLE) AS inflow
       |   FROM c$k GROUP BY 1),
       | dm$k AS (SELECT CAST(coalesce(sum(CAST(pr AS DECIMAL(30,12))), 0)
       |     AS DOUBLE) AS dm
       |   FROM r${k - 1} WHERE outdeg IS NULL),
       | r$k AS (SELECT nd.id, nd.outdeg,
       |     (1 - CAST(0.85 AS DOUBLE)) / nn + CAST(0.85 AS DOUBLE) *
       |       (coalesce(inflow, CAST(0 AS DOUBLE)) + dm / nn) AS pr
       |   FROM nd CROSS JOIN nctl CROSS JOIN dm$k LEFT JOIN inf$k USING (id))""".stripMargin
  }.mkString(",\n")

  /** The rare-shingle co-occurrence edge CTEs (through `e`) — shared
    * verbatim by the pagerank / triangles / khop oracles, mirroring the
    * shared [[coocEdges]] on the Spark side. */
  private val coocEdgeCtes =
    """tkk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
      |   FROM documents),
      | shg AS (SELECT DISTINCT doc_id, gram FROM (
      |     SELECT doc_id, array_to_string(list_slice(t, p, p + 2), ' ') AS gram
      |     FROM (SELECT doc_id, t,
      |             unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS p
      |           FROM tkk) z
      |     UNION ALL SELECT doc_id, array_to_string(t, ' ')
      |     FROM tkk WHERE len(t) < 3) u),
      | rare AS (SELECT gram FROM (
      |    SELECT gram, count(*) AS c FROM shg GROUP BY 1)
      |   WHERE c BETWEEN 2 AND 4),
      | rt AS (SELECT doc_id, gram FROM shg JOIN rare USING (gram)),
      | e AS MATERIALIZED (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |   FROM rt a JOIN rt b USING (gram) WHERE a.doc_id <> b.doc_id)""".stripMargin

  private val graphPageRankSql =
    s"""WITH $coocEdgeCtes,
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | od AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
       | nd AS MATERIALIZED (SELECT n.id, od.outdeg
       |   FROM nodes n LEFT JOIN od USING (id)),
       | nctl AS (SELECT count(*) AS nn FROM nd),
       | r0 AS (SELECT id, outdeg, CAST(1 AS DOUBLE) / nn AS pr
       |   FROM nd CROSS JOIN nctl),
       |$pageRankIterCtes
       |SELECT id AS doc_id, CAST(pr AS REAL) AS pr
       |FROM r$pageRankIters ORDER BY doc_id""".stripMargin

  /** Personalized-PageRank replay: the [[graphPageRankSql]] iteration
    * chain with restart/dangling mass landing on the seed vector
    * s(v) = 1/|seeds| instead of 1/n — every constant forced DOUBLE,
    * every sum DECIMAL(30,12)-quantized, like the uniform form. */
  private def pprIterCtes(iters: Int): String = (1 to iters).map { k =>
    s""" c$k AS (SELECT e.dst AS id, r.pr / r.outdeg AS c
       |   FROM r${k - 1} r JOIN e ON r.id = e.src
       |   WHERE r.outdeg IS NOT NULL),
       | inf$k AS (SELECT id,
       |     CAST(sum(CAST(c AS DECIMAL(30,12))) AS DOUBLE) AS inflow
       |   FROM c$k GROUP BY 1),
       | dm$k AS (SELECT CAST(coalesce(sum(CAST(pr AS DECIMAL(30,12))), 0)
       |     AS DOUBLE) AS dm
       |   FROM r${k - 1} WHERE outdeg IS NULL),
       | r$k AS (SELECT nd.id, nd.outdeg, nd.is_seed,
       |     (1 - CAST(0.85 AS DOUBLE)) *
       |       (CASE WHEN nd.is_seed THEN CAST(1 AS DOUBLE) / ns
       |             ELSE CAST(0 AS DOUBLE) END) + CAST(0.85 AS DOUBLE) *
       |       (coalesce(inflow, CAST(0 AS DOUBLE)) + dm *
       |       (CASE WHEN nd.is_seed THEN CAST(1 AS DOUBLE) / ns
       |             ELSE CAST(0 AS DOUBLE) END)) AS pr
       |   FROM nd CROSS JOIN nctl CROSS JOIN dm$k LEFT JOIN inf$k USING (id))""".stripMargin
  }.mkString(",\n")

  private val graphPprSql =
    s"""WITH $coocEdgeCtes,
       | sd AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id <= 5),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e
       |   UNION SELECT id FROM sd),
       | od AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
       | nd AS MATERIALIZED (SELECT n.id, od.outdeg,
       |     (s.id IS NOT NULL) AS is_seed
       |   FROM nodes n LEFT JOIN od ON od.id = n.id LEFT JOIN sd s ON s.id = n.id),
       | nctl AS (SELECT count(*) AS ns FROM sd),
       | r0 AS (SELECT id, outdeg, is_seed,
       |     CASE WHEN is_seed THEN CAST(1 AS DOUBLE) / ns
       |          ELSE CAST(0 AS DOUBLE) END AS pr
       |   FROM nd CROSS JOIN nctl),
       |${pprIterCtes(8)}
       |SELECT id AS doc_id, CAST(pr AS REAL) AS ppr
       |FROM r8 ORDER BY doc_id""".stripMargin

  /** Label-propagation replay: per round, each node takes the most
    * frequent in-neighbor label (row_number over c DESC, lbl ASC —
    * exactly the Spark side's max_by((c, −lbl)) tie order), keeping its
    * own when unreached. All-integer, so the equality is exact. */
  private def lpaIterCtes(iters: Int): String = (1 to iters).map { k =>
    s""" nb$k AS (SELECT e.dst AS id, l.lbl FROM l${k - 1} l
       |   JOIN e ON l.id = e.src),
       | cn$k AS (SELECT id, lbl, count(*) AS c FROM nb$k GROUP BY 1, 2),
       | pk$k AS (SELECT id, lbl AS new_lbl FROM (
       |     SELECT id, lbl, row_number() OVER (PARTITION BY id
       |       ORDER BY c DESC, lbl ASC) AS rn FROM cn$k) z WHERE rn = 1),
       | l$k AS (SELECT l.id, COALESCE(p.new_lbl, l.lbl) AS lbl
       |   FROM l${k - 1} l LEFT JOIN pk$k p ON p.id = l.id)""".stripMargin
  }.mkString(",\n")

  private val graphCommunitiesSql =
    s"""WITH $coocEdgeCtes,
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | l0 AS (SELECT id, id AS lbl FROM nodes),
       |${lpaIterCtes(5)}
       |SELECT id AS doc_id, lbl AS community FROM l5 ORDER BY doc_id""".stripMargin

  private val graphAdamicAdarSql =
    s"""WITH $coocEdgeCtes,
       | und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |   FROM e WHERE src <> dst),
       | adj AS (SELECT u AS c, v AS x FROM und
       |   UNION ALL SELECT v, u FROM und),
       | dg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
       | ct AS (SELECT a.c, a.x, d.deg FROM adj a
       |   JOIN dg d ON d.c = a.c WHERE d.deg <= 200),
       | w AS (SELECT a.x AS u, b.x AS v,
       |     CAST(1.0 / ln(CAST(a.deg AS DOUBLE)) AS DECIMAL(20,12)) AS term
       |   FROM ct a JOIN ct b ON a.c = b.c AND a.x < b.x),
       | sc AS (SELECT u, v, sum(term) AS s FROM w GROUP BY 1, 2),
       | nw AS (SELECT sc.u, sc.v, sc.s FROM sc
       |   LEFT JOIN und ON und.u = sc.u AND und.v = sc.v
       |   WHERE und.u IS NULL),
       | r AS (SELECT u, v, s,
       |     row_number() OVER (ORDER BY s DESC, u, v) AS rank FROM nw)
       |SELECT u AS doc_a, v AS doc_b,
       | CAST(CAST(s AS DOUBLE) AS REAL) AS aa_score,
       | CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin

  /** HITS replay: per round, authority sums h over in-edges then hub
    * sums the FRESH a over out-edges, each L1-normalized — quantized
    * sums and one double division per value, the Spark side's exact
    * arithmetic. */
  private def hitsIterCtes(iters: Int): String = (1 to iters).map { k =>
    // every multiply-referenced round frame is MATERIALIZED: inlined,
    // the 4 references per round would expand 4^k times
    s""" ar$k AS MATERIALIZED (SELECT e.dst AS id,
       |     CAST(sum(CAST(s.h AS DECIMAL(30,12))) AS DOUBLE) AS ar
       |   FROM s${k - 1} s JOIN e ON s.id = e.src GROUP BY 1),
       | at$k AS (SELECT CAST(sum(CAST(ar AS DECIMAL(30,12))) AS DOUBLE) AS t
       |   FROM ar$k),
       | an$k AS MATERIALIZED (SELECT s.id, COALESCE(r.ar, 0) / at$k.t AS a
       |   FROM s${k - 1} s LEFT JOIN ar$k r ON r.id = s.id CROSS JOIN at$k),
       | hr$k AS MATERIALIZED (SELECT e.src AS id,
       |     CAST(sum(CAST(an.a AS DECIMAL(30,12))) AS DOUBLE) AS hr
       |   FROM an$k an JOIN e ON an.id = e.dst GROUP BY 1),
       | ht$k AS (SELECT CAST(sum(CAST(hr AS DECIMAL(30,12))) AS DOUBLE) AS t
       |   FROM hr$k),
       | s$k AS MATERIALIZED (SELECT an.id, an.a,
       |     COALESCE(r.hr, 0) / ht$k.t AS h
       |   FROM an$k an LEFT JOIN hr$k r ON r.id = an.id CROSS JOIN ht$k)""".stripMargin
  }.mkString(",\n")

  /** k-core peel replay: per round, degrees over the surviving
    * undirected edge set, then edges with any endpoint under `k` drop —
    * all-integer, round-for-round the Spark loop. */
  private def kCoreCtes(k: Int, rounds: Int): String = (1 to rounds).map { r =>
    s""" dg${r - 1} AS MATERIALIZED (SELECT c, count(*) AS deg FROM (
       |     SELECT u AS c FROM ke${r - 1} UNION ALL SELECT v FROM ke${r - 1}) z
       |   GROUP BY 1),
       | ke$r AS MATERIALIZED (SELECT e.u, e.v FROM ke${r - 1} e
       |   JOIN dg${r - 1} a ON a.c = e.u AND a.deg >= $k
       |   JOIN dg${r - 1} b ON b.c = e.v AND b.deg >= $k)""".stripMargin
  }.mkString(",\n")

  private val graphKCoreSql =
    s"""WITH $coocEdgeCtes,
       | ke0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |   FROM e WHERE src <> dst),
       |${kCoreCtes(30, 16)}
       |SELECT c AS doc_id, deg FROM (
       |  SELECT c, count(*) AS deg FROM (
       |    SELECT u AS c FROM ke16 UNION ALL SELECT v FROM ke16) z GROUP BY 1) f
       |WHERE deg >= 30 ORDER BY doc_id""".stripMargin

  private val graphHitsSql =
    s"""WITH $coocEdgeCtes,
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | s0 AS (SELECT id, CAST(1 AS DOUBLE) AS a, CAST(1 AS DOUBLE) AS h
       |   FROM nodes),
       |${hitsIterCtes(8)}
       |SELECT id AS doc_id, CAST(a AS REAL) AS authority,
       | CAST(h AS REAL) AS hub
       |FROM s8 ORDER BY doc_id""".stripMargin

  /** Shared by graph_degree_profile and graph_edges_append: the append
    * path's base ∪ delta is exactly the full edge set (partition-
    * disjoint split), so both must reproduce this full recompute. */
  private val graphDegreeProfileSql =
    s"""WITH $coocEdgeCtes,
       | od AS (SELECT src AS id, count(*) AS c FROM e GROUP BY 1),
       | idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1)
       |SELECT COALESCE(od.id, idg.id) AS doc_id,
       |  CAST(COALESCE(od.c, 0) AS BIGINT) AS out_degree,
       |  CAST(COALESCE(idg.c, 0) AS BIGINT) AS in_degree
       |FROM od FULL JOIN idg ON od.id = idg.id
       |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "feat_hashing_trick" ->
      """WITH tok AS (SELECT doc_id,
        |     unnest(string_split(lower(trim(text)), ' ')) AS t
        |   FROM documents),
        | h AS (SELECT doc_id,
        |     CAST(concat('0x', substr(md5(concat('feat:', t)), 1, 8))
        |       AS BIGINT) % 64 AS bucket,
        |     CASE WHEN CAST(concat('0x',
        |         substr(md5(concat('featsign:', t)), 1, 1)) AS BIGINT)
        |         % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |   FROM tok WHERE length(t) > 0)
        |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
        |FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,

    "dedup_clusters_star" -> dedupClustersSql,

    "graph_pagerank" -> graphPageRankSql,

    "graph_edge_build" ->
      s"""WITH $coocEdgeCtes,
         | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes""".stripMargin,

    "graph_degree_profile" -> graphDegreeProfileSql,

    "graph_ppr" -> graphPprSql,

    "graph_components" ->
      s"""WITH RECURSIVE $coocEdgeCtes,
         | ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         | reach(a, b) AS (
         |   SELECT src, dst FROM ue
         |   UNION
         |   SELECT r.a, ue.dst FROM reach r JOIN ue ON r.b = ue.src)
         |SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component
         |FROM reach GROUP BY a
         |ORDER BY doc_id""".stripMargin,

    "graph_communities" -> graphCommunitiesSql,

    "graph_adamic_adar" -> graphAdamicAdarSql,

    "graph_kcore" -> graphKCoreSql,

    "graph_assortativity" ->
      s"""WITH $coocEdgeCtes,
         | und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |   FROM e WHERE src <> dst),
         | adj AS (SELECT u AS c, v AS x FROM und
         |   UNION ALL SELECT v, u FROM und),
         | dg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
         | j AS (SELECT du.deg AS a, dv.deg AS b
         |   FROM adj JOIN dg du ON du.c = adj.c JOIN dg dv ON dv.c = adj.x),
         | m AS (SELECT count(*) AS n_ends,
         |        sum(CAST(a AS HUGEINT)) AS sx, sum(CAST(b AS HUGEINT)) AS sy,
         |        sum(CAST(a AS HUGEINT) * b) AS sxy,
         |        sum(CAST(a AS HUGEINT) * a) AS sxx,
         |        sum(CAST(b AS HUGEINT) * b) AS syy
         |       FROM j)
         |SELECT CAST(n_ends / 2 AS BIGINT) AS n_edges,
         | CAST(CAST(n_ends * sxy - sx * sy AS DOUBLE) /
         |   nullif(sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE) *
         |               CAST(n_ends * syy - sy * sy AS DOUBLE)), 0)
         |   AS REAL) AS assortativity
         |FROM m""".stripMargin,

    "graph_neighbor_jaccard" ->
      s"""WITH $coocEdgeCtes,
         | und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |   FROM e WHERE src <> dst),
         | adj AS (SELECT u AS c, v AS x FROM und
         |   UNION ALL SELECT v, u FROM und),
         | dg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
         | ct AS (SELECT a.c, a.x FROM adj a
         |   JOIN dg d ON d.c = a.c WHERE d.deg <= 200),
         | cm AS (SELECT a.x AS u, b.x AS v, count(*) AS common
         |   FROM ct a JOIN ct b ON a.c = b.c AND a.x < b.x GROUP BY 1, 2),
         | nw AS (SELECT cm.u, cm.v, cm.common FROM cm
         |   LEFT JOIN und ON und.u = cm.u AND und.v = cm.v
         |   WHERE und.u IS NULL),
         | sc AS (SELECT nw.u, nw.v, nw.common,
         |     CAST(CAST(nw.common AS DOUBLE) /
         |       CAST(du.deg + dv.deg - nw.common AS DOUBLE) AS REAL) AS jaccard
         |   FROM nw JOIN dg du ON du.c = nw.u JOIN dg dv ON dv.c = nw.v),
         | r AS (SELECT u, v, common, jaccard,
         |     row_number() OVER (ORDER BY jaccard DESC, u, v) AS rank FROM sc)
         |SELECT u AS doc_a, v AS doc_b, common, jaccard,
         | CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "text_rake_keywords" ->
      """WITH tkk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        |   FROM documents),
        | tok AS (SELECT doc_id, p AS pos, t[p] AS tok FROM (
        |     SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tkk) z
        |   WHERE length(t[p]) > 0),
        | dfc AS (SELECT tok, count(*) AS df FROM (
        |     SELECT DISTINCT doc_id, tok FROM tok) u GROUP BY 1),
        | stw AS (SELECT tok FROM (
        |     SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS r
        |     FROM dfc) z WHERE r <= 10),
        | isl0 AS (SELECT t.doc_id, t.pos, t.tok,
        |     (s.tok IS NOT NULL) AS is_stop,
        |     sum(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |         ROWS UNBOUNDED PRECEDING) AS island
        |   FROM tok t LEFT JOIN stw s ON s.tok = t.tok),
        | pw AS MATERIALIZED (SELECT doc_id, island, pos, tok FROM isl0
        |   WHERE NOT is_stop),
        | ph AS MATERIALIZED (SELECT doc_id, island,
        |     string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |     count(*) AS len
        |   FROM pw GROUP BY 1, 2),
        | ws AS (SELECT pw.doc_id, pw.tok,
        |     CAST(CAST(sum(ph.len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |       AS DECIMAL(20,12)) AS wscore
        |   FROM pw JOIN ph ON ph.doc_id = pw.doc_id AND ph.island = pw.island
        |   GROUP BY 1, 2),
        | sc AS (SELECT pw.doc_id, pw.island, sum(ws.wscore) AS s
        |   FROM pw JOIN ws ON ws.doc_id = pw.doc_id AND ws.tok = pw.tok
        |   GROUP BY 1, 2),
        | pd AS (SELECT ph.doc_id, ph.phrase, max(sc.s) AS s,
        |     count(*) AS n_occurrences
        |   FROM ph JOIN sc ON sc.doc_id = ph.doc_id AND sc.island = ph.island
        |   GROUP BY 1, 2),
        | r AS (SELECT doc_id, phrase, s, n_occurrences,
        |     row_number() OVER (PARTITION BY doc_id
        |       ORDER BY s DESC, phrase) AS rank FROM pd)
        |SELECT doc_id, phrase, CAST(CAST(s AS DOUBLE) AS REAL) AS rake_score,
        | CAST(n_occurrences AS BIGINT) AS n_occurrences,
        | CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "graph_hits" -> graphHitsSql,

    "graph_hits_directed" ->
      s"""WITH e AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
         |     't' || event_type AS dst
         |   FROM events
         |   WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | s0 AS (SELECT id, CAST(1 AS DOUBLE) AS a, CAST(1 AS DOUBLE) AS h
         |   FROM nodes),
         |${hitsIterCtes(8)}
         |SELECT id AS node_id, CAST(a AS REAL) AS authority,
         | CAST(h AS REAL) AS hub
         |FROM s8 ORDER BY node_id""".stripMargin,

    "retrieval_prf_expansion" ->
      s"""WITH ${QuerySql.bm25Ctes("7, 123, 321, 444")},
         | fb AS (SELECT query_id, doc_id FROM bm25r WHERE rank <= 10),
         | idf AS (SELECT dfq.token, ln(CAST(n_docs AS DOUBLE) / df_t) AS idf
         |         FROM dfq CROSS JOIN tot),
         | sc AS (SELECT f.query_id, t.token,
         |     sum(CAST(CAST(t.tf AS DOUBLE) * i.idf AS DECIMAL(20,12))) AS s
         |   FROM fb f JOIN tf t ON t.doc_id = f.doc_id
         |   JOIN idf i ON i.token = t.token
         |   GROUP BY 1, 2),
         | ex AS (SELECT sc.query_id, sc.token, sc.s FROM sc
         |   WHERE NOT EXISTS (SELECT 1 FROM qt q
         |     WHERE q.query_id = sc.query_id AND q.token = sc.token)),
         | r AS (SELECT query_id, token AS term,
         |     CAST(CAST(s AS DOUBLE) AS REAL) AS score,
         |     row_number() OVER (PARTITION BY query_id
         |       ORDER BY s DESC, token) AS rank
         |   FROM ex)
         |SELECT query_id, term, score, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "text_pmi_collocations" ->
      """WITH dt AS (SELECT DISTINCT doc_id, tok FROM (
        |     SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        |     FROM documents) u
        |   WHERE length(tok) > 0),
        | dfc AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        | kept AS (SELECT tok, df FROM (
        |     SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS r
        |     FROM dfc) z
        |   WHERE r <= 100),
        | kt AS (SELECT dt.doc_id, dt.tok, k.df FROM dt JOIN kept k USING (tok)),
        | p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS df_ab,
        |         min(a.df) AS df_a, min(b.df) AS df_b
        |       FROM kt a JOIN kt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |       GROUP BY 1, 2),
        | nn AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tok_a, tok_b, CAST(df_a AS BIGINT) AS df_a,
        |  CAST(df_b AS BIGINT) AS df_b, CAST(df_ab AS BIGINT) AS df_ab,
        |  CAST(ln(CAST(df_ab AS DOUBLE) * n_docs /
        |    (CAST(df_a AS DOUBLE) * df_b)) AS REAL) AS pmi
        |FROM p CROSS JOIN nn
        |WHERE df_ab >= 30
        |ORDER BY tok_a, tok_b""".stripMargin,

    "text_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        |             FROM documents),
        | f AS (SELECT tok, count(*) AS freq FROM tok
        |       WHERE length(tok) > 0 GROUP BY 1),
        | r AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |         ln(CAST(freq AS DOUBLE)) AS y FROM (
        |     SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |     FROM f) z
        |   WHERE rank <= 100),
        | a AS (SELECT count(*) AS n,
        |     CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
        |     CAST(sum(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
        |     CAST(sum(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
        |     CAST(sum(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx
        |   FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS REAL) AS zipf_slope,
        |  CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |    AS REAL) AS zipf_intercept
        |FROM a ORDER BY n""".stripMargin,

    "dq_psi_drift" ->
      """WITH b AS (SELECT lang, count(*) AS n_base FROM documents
        |     WHERE doc_id <= 400 AND lang IS NOT NULL GROUP BY 1),
        | c AS (SELECT lang, count(*) AS n_cur FROM documents
        |     WHERE doc_id > 400 AND lang IS NOT NULL GROUP BY 1),
        | j AS (SELECT COALESCE(b.lang, c.lang) AS lang,
        |         COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
        |       FROM b FULL JOIN c ON b.lang = c.lang),
        | t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc, count(*) AS nb FROM j),
        | k AS (SELECT lang, n_base, n_cur,
        |         CAST(n_base + 1 AS DOUBLE) / (tb + nb) AS p,
        |         CAST(n_cur + 1 AS DOUBLE) / (tc + nb) AS q
        |       FROM j CROSS JOIN t),
        | k2 AS (SELECT lang, n_base, n_cur,
        |         (p - q) * ln(p / q) AS contribution FROM k)
        |SELECT lang, CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(contribution AS REAL) AS contribution,
        |  CAST(CAST(sum(CAST(contribution AS DECIMAL(30,12))) OVER ()
        |    AS DOUBLE) AS REAL) AS psi_total
        |FROM k2 ORDER BY lang""".stripMargin,

    "dq_jsd_drift" ->
      """WITH b AS (SELECT source, count(*) AS n_base FROM documents
        |     WHERE doc_id <= 400 AND source IS NOT NULL GROUP BY 1),
        | c AS (SELECT source, count(*) AS n_cur FROM documents
        |     WHERE doc_id > 400 AND source IS NOT NULL GROUP BY 1),
        | j AS (SELECT COALESCE(b.source, c.source) AS source,
        |         COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
        |       FROM b FULL JOIN c ON b.source = c.source),
        | t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc, count(*) AS nb FROM j),
        | k AS (SELECT source, n_base, n_cur,
        |         CAST(n_base + 1 AS DOUBLE) / (tb + nb) AS p,
        |         CAST(n_cur + 1 AS DOUBLE) / (tc + nb) AS q
        |       FROM j CROSS JOIN t),
        | k2 AS (SELECT source, n_base, n_cur,
        |         (p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q))) * 0.5
        |           AS contribution FROM k)
        |SELECT source, CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(contribution AS REAL) AS contribution,
        |  CAST(CAST(sum(CAST(contribution AS DECIMAL(30,12))) OVER ()
        |    AS DOUBLE) AS REAL) AS jsd_total
        |FROM k2 ORDER BY source""".stripMargin,

    "dq_mixture_entropy" ->
      """WITH c AS (SELECT lang, source, count(*) AS c FROM documents
        |     WHERE source IS NOT NULL GROUP BY 1, 2),
        | p AS (SELECT lang, c,
        |     sum(c) OVER (PARTITION BY lang) AS n,
        |     CAST(c AS DOUBLE) /
        |       CAST(sum(c) OVER (PARTITION BY lang) AS DOUBLE) AS p
        |   FROM c)
        |SELECT lang,
        | CAST(CAST(-sum(CAST(p * ln(p) AS DECIMAL(20,12))) AS DOUBLE)
        |   AS REAL) AS entropy,
        | count(*) AS n_buckets, CAST(max(n) AS BIGINT) AS n_rows
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "graph_edges_append" -> graphDegreeProfileSql,

    // same degree orientation (total order (deg, id)), same wedge
    // close — row-value comparisons keep the CASE deterministic
    "graph_triangles" ->
      s"""WITH $coocEdgeCtes,
         | und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |   FROM e),
         | dg AS (SELECT id, count(*) AS deg FROM (
         |     SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
         | o AS MATERIALIZED (SELECT
         |     CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)
         |          THEN und.u ELSE und.v END AS f,
         |     CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)
         |          THEN und.v ELSE und.u END AS t
         |   FROM und JOIN dg du ON du.id = und.u JOIN dg dv ON dv.id = und.v),
         | tri AS (SELECT e1.f AS a, e1.t AS b, e2.t AS c
         |   FROM o e1 JOIN o e2 ON e1.t = e2.f
         |   WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.f = e1.f AND e3.t = e2.t))
         |SELECT id AS doc_id, count(*) AS n_triangles FROM (
         |   SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |   UNION ALL SELECT c FROM tri)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // level-synchronous BFS: UNION (not UNION ALL) dedups (id, hops)
    // rows per level, so the recursion explores nodes, never paths
    "graph_khop" ->
      s"""WITH RECURSIVE $coocEdgeCtes,
         | r AS (SELECT doc_id AS id, 0 AS hops FROM documents WHERE doc_id <= 5
         |   UNION
         |   SELECT e.dst AS id, r.hops + 1 AS hops
         |   FROM r JOIN e ON e.src = r.id WHERE r.hops < 3)
         |SELECT id AS doc_id, CAST(min(hops) AS BIGINT) AS hops
         |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "mv_bm25_stats_refresh" ->
      """WITH tok AS (SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |    FROM documents) WHERE len(token) > 0),
        | tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT token, count(*) AS df_t, CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM tf GROUP BY 1 ORDER BY token""".stripMargin,

    "text_bm25_topk" ->
      s"""WITH ${QuerySql.bm25Ctes("7, 123, 321, 444")}
         |SELECT query_id, doc_id, CAST(score AS REAL) AS score,
         |  CAST(rank AS BIGINT) AS rank
         |FROM bm25r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH $substringSpansCte
         |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
         |  CAST(span_end AS BIGINT) AS span_end,
         |  CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens,
         |  CAST(n_grams AS BIGINT) AS n_grams
         |FROM spf ORDER BY doc_id, span_start""".stripMargin,

    "dedup_substring" ->
      s"""WITH $substringSpansCte,
         | kept AS (SELECT pos.doc_id, pos.p, pos.tok FROM pos
         |   WHERE NOT EXISTS (SELECT 1 FROM spf
         |     WHERE spf.doc_id = pos.doc_id
         |       AND pos.p BETWEEN spf.span_start AND spf.span_end)),
         | ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
         |          count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(t) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(ka.text_clean, '') AS text_clean
         |FROM tk LEFT JOIN ka USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin,
    "dedup_exact_text" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
        | CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        | CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / nullif(len(string_split(trim(text), ' ')), 0) AS REAL) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality_score" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents)
         |SELECT doc_id,
         | CAST(0.4 * least(CAST(1 AS DOUBLE), CAST(len(toks) AS DOUBLE) / CAST(100 AS DOUBLE))
         |  + 0.3 * (CAST(len(list_filter(toks, x -> x IN (${QuerySql.stopListEn}))) AS DOUBLE) / nullif(len(toks), 0))
         |  + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) AS REAL) AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  len(list_filter(toks, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsEn)}))) AS en,
         |  len(list_filter(toks, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsFr)}))) AS fr,
         |  len(list_filter(toks, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsEs)}))) AS es,
         |  len(list_filter(toks, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsDe)}))) AS de,
         |  len(list_filter(toks, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsZh)}))) AS zh
         | FROM t)
         |SELECT doc_id,
         | CASE WHEN en >= fr AND en >= es AND en >= de AND en >= zh THEN 'en'
         |      WHEN fr >= es AND fr >= de AND fr >= zh THEN 'fr'
         |      WHEN es >= de AND es >= zh THEN 'es'
         |      WHEN de >= zh THEN 'de'
         |      ELSE 'zh' END AS lang_pred
         |FROM c ORDER BY doc_id""".stripMargin,

    // chunk replay + per-chunk stopword langid + deterministic
    // (count, lang) struct-max majority
    "text_mixed_lang" ->
      s"""WITH tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         | m AS (SELECT doc_id, t,
         |     1 + CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS INTEGER) AS nc
         |   FROM tk),
         | cidx AS (SELECT doc_id, t, unnest(range(0, nc)) AS k FROM m),
         | ch AS (SELECT doc_id,
         |     list_slice(t, k * 48 + 1, k * 48 + 64) AS ct
         |   FROM cidx),
         | sc AS (SELECT doc_id,
         |  len(list_filter(ct, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsEn)}))) AS en,
         |  len(list_filter(ct, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsFr)}))) AS fr,
         |  len(list_filter(ct, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsEs)}))) AS es,
         |  len(list_filter(ct, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsDe)}))) AS de,
         |  len(list_filter(ct, x -> x IN (${langList(graft.ops.TextAnalysis.stopwordsZh)}))) AS zh
         | FROM ch),
         | lg AS (SELECT doc_id,
         |   CASE WHEN en >= fr AND en >= es AND en >= de AND en >= zh THEN 'en'
         |        WHEN fr >= es AND fr >= de AND fr >= zh THEN 'fr'
         |        WHEN es >= de AND es >= zh THEN 'es'
         |        WHEN de >= zh THEN 'de'
         |        ELSE 'zh' END AS chunk_lang
         |   FROM sc),
         | pl AS (SELECT doc_id, chunk_lang, count(*) AS c
         |   FROM lg GROUP BY 1, 2),
         | agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
         |     CAST(count(*) AS BIGINT) AS n_langs,
         |     max(struct_pack(c := c, chunk_lang := chunk_lang)) AS best
         |   FROM pl GROUP BY 1)
         |SELECT doc_id, n_chunks, n_langs,
         |  best.chunk_lang AS majority_lang, n_langs > 1 AS is_mixed
         |FROM agg ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        | base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd FROM tk),
        | pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p FROM tk),
        | g2 AS (SELECT a.doc_id, concat(a.tok, ' ', b.tok) AS g
        |   FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
        | gc AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
        | gm AS (SELECT doc_id, max(c) AS maxc, sum(c) AS total FROM gc GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(1.0 - CAST(nd AS DOUBLE) / nullif(n, 0) AS REAL) AS dup_token_frac,
        |  CAST(COALESCE(CAST(maxc AS DOUBLE) / nullif(total, 0), 0.0) AS REAL) AS top_2gram_frac
        |FROM base b LEFT JOIN gm ON b.doc_id = gm.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   translate(lower(text), 'áàâäãåéèêëíìîïóòôöõøúùûüñçýÿšž',
        |                          'aaaaaaeeeeiiiioooooouuuuncyysz'),
        |   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                         ' +', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chunk k = tokens [k·48+1, k·48+64]; 1 + ceil(max(0, n−64)/48) windows
    "text_chunk" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        | m AS (SELECT doc_id, t,
        |     1 + CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS INTEGER) AS nc
        |   FROM tk),
        | c AS (SELECT doc_id, t, unnest(range(0, nc)) AS k FROM m)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(t, k * 48 + 1, k * 48 + 64), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_rolling_hash" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                      ' +', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (acc, c) -> (acc * 257 + c) % 1000000007) AS rolling_hash
        |FROM n ORDER BY doc_id""".stripMargin,

    "dedup_survivors" ->
      """WITH d AS (SELECT doc_id, text, lang, source,
        |             list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        |           FROM documents WHERE doc_id < 300),
        | t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        | s AS (SELECT doc_id, len(toks) AS n FROM d),
        | dups AS (SELECT DISTINCT id_b FROM p
        |          JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id
        |          WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.6)
        |SELECT doc_id, lang, source FROM d
        |WHERE doc_id NOT IN (SELECT id_b FROM dups)
        |ORDER BY doc_id""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        |           FROM documents WHERE doc_id < 300),
        | t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        | s AS (SELECT doc_id, len(toks) AS n FROM d)
        |SELECT doc_a, doc_b, CAST(shared / (sa.n + sb.n - shared) AS REAL) AS jaccard
        |FROM p JOIN s sa ON p.doc_a = sa.doc_id JOIN s sb ON p.doc_b = sb.doc_id
        |WHERE shared / (sa.n + sb.n - shared) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment_pairs" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        |           FROM documents WHERE doc_id < 300),
        | t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        | s AS (SELECT doc_id, len(toks) AS n FROM d),
        | c AS (SELECT doc_a, doc_b, overlap,
        |        CAST(overlap AS DOUBLE) / least(sa.n, sb.n) AS cd
        |       FROM p JOIN s sa ON p.doc_a = sa.doc_id
        |       JOIN s sb ON p.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, overlap, CAST(cd AS REAL) AS containment
        |FROM c WHERE cd >= CAST(0.7 AS DOUBLE)
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Portable MinHash-LSH replay: 3-token shingles (short docs collapse
    // to one whole-doc shingle), 16 md5-derived minhashes, 4 band buckets
    // (md5 of the comma-joined band), the maxBucket=1000 skew cap, the
    // bucket self-join, then per-doc candidate counts.
    "dedup_minhash_lsh" ->
      s"""WITH tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         | pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p,
         |           len(t) AS n FROM tk),
         | sh3 AS (SELECT a.doc_id, concat(a.tok, ' ', b.tok, ' ', c.tok) AS sh
         |   FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |              JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
         |   WHERE a.n >= 3),
         | shw AS (SELECT doc_id, array_to_string(t, ' ') AS sh FROM tk WHERE len(t) < 3),
         | shingle AS (SELECT DISTINCT doc_id, sh
         |             FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shw) u),
         | sig AS (SELECT doc_id, $mhAggs FROM shingle GROUP BY doc_id),
         | banded AS (SELECT sig.*, bb.band, CASE bb.band $mhBands END AS bucket
         |   FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bb),
         | sized AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsize
         |           FROM banded),
         | flt AS (SELECT * FROM sized WHERE bsize <= 1000),
         | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |     ($mhMatches) / 16.0 AS est_jaccard
         |   FROM flt a JOIN flt b
         |     ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         | agg AS (SELECT id_a AS doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
         |     max(est_jaccard) AS max_est_jaccard
         |   FROM pairs GROUP BY id_a)
         |SELECT d.doc_id, COALESCE(g.n_candidates, 0) AS n_candidates,
         |  COALESCE(g.max_est_jaccard, 0.0) AS max_est_jaccard
         |FROM documents d LEFT JOIN agg g ON d.doc_id = g.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // cross-corpus replay of dedupIncremental: same shingle/minhash/band
    // fragments as dedup_minhash_lsh, with a side tag so banding and the
    // bucket cap stay per-frame exactly as the Spark op applies them
    "dedup_incremental" ->
      s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         | neu AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         | fresh AS (SELECT * FROM neu
         |   WHERE md5(text) NOT IN (SELECT DISTINCT md5(text) FROM hist)),
         | base AS (SELECT 'n' AS side, doc_id, text FROM fresh
         |   UNION ALL SELECT 'h', doc_id, text FROM hist),
         | tk AS (SELECT side, doc_id, string_split(lower(trim(text)), ' ') AS t
         |        FROM base),
         | pos AS (SELECT side, doc_id, unnest(t) AS tok,
         |           generate_subscripts(t, 1) AS p, len(t) AS n FROM tk),
         | sh3 AS (SELECT a.side, a.doc_id, concat(a.tok, ' ', b.tok, ' ', c.tok) AS sh
         |   FROM pos a
         |   JOIN pos b ON a.side = b.side AND a.doc_id = b.doc_id AND b.p = a.p + 1
         |   JOIN pos c ON a.side = c.side AND a.doc_id = c.doc_id AND c.p = a.p + 2
         |   WHERE a.n >= 3),
         | shw AS (SELECT side, doc_id, array_to_string(t, ' ') AS sh FROM tk
         |         WHERE len(t) < 3),
         | shingle AS (SELECT DISTINCT side, doc_id, sh
         |   FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shw) u),
         | sig AS (SELECT side, doc_id, $mhAggs FROM shingle GROUP BY side, doc_id),
         | banded AS (SELECT sig.*, bb.band, CASE bb.band $mhBands END AS bucket
         |   FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bb),
         | sized AS (SELECT *, count(*) OVER (PARTITION BY side, band, bucket)
         |             AS bsize FROM banded),
         | flt AS (SELECT * FROM sized WHERE bsize <= 1000),
         | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |   FROM flt a JOIN flt b ON a.band = b.band AND a.bucket = b.bucket
         |   WHERE a.side = 'n' AND b.side = 'h'),
         | inter AS (SELECT c.id_a, c.id_b, count(*) AS shared
         |   FROM cand c
         |   JOIN shingle sa ON sa.side = 'n' AND sa.doc_id = c.id_a
         |   JOIN shingle sb ON sb.side = 'h' AND sb.doc_id = c.id_b
         |     AND sb.sh = sa.sh
         |   GROUP BY 1, 2),
         | sizes AS (SELECT side, doc_id, count(*) AS n FROM shingle GROUP BY 1, 2),
         | dup AS (SELECT DISTINCT i.id_a
         |   FROM inter i
         |   JOIN sizes na ON na.side = 'n' AND na.doc_id = i.id_a
         |   JOIN sizes nb ON nb.side = 'h' AND nb.doc_id = i.id_b
         |   WHERE CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) >= 0.8)
         |SELECT doc_id FROM fresh
         |WHERE doc_id NOT IN (SELECT id_a FROM dup)
         |ORDER BY doc_id""".stripMargin,

    // full sketch replay on BOTH lanes: HLL registers (md5 60-bit
    // hash, low-8-bit register, binary-string-length rank, integer-
    // shifted harmonic sum — the freq_hll_portable machinery) and the
    // deterministic KLL compaction over the n_chars ledger (ceil-div
    // step, md5 offset, weighted nearest-rank pick — the
    // freq_kll_quantiles machinery); floats only at the final
    // division/ln, REAL at the surface exactly as the engine computes
    "dedup_corpus_profile" ->
      """WITH cells AS (SELECT CAST(concat('0x',
        |     substr(md5(concat('hll:', text)), 1, 15)) AS BIGINT) AS h
        |   FROM documents WHERE text IS NOT NULL),
        | r AS (SELECT h % 256 AS reg,
        |     CASE WHEN (h >> 8) = 0 THEN 53
        |          ELSE 53 - length(bin(h >> 8)) END AS rk
        |   FROM cells),
        | sk AS (SELECT reg, max(rk) AS rk FROM r GROUP BY 1),
        | mx AS (SELECT max(rk) AS rmax FROM sk),
        | agg AS (SELECT count(*) AS observed, max(mx.rmax) AS rmax,
        |     sum(1::BIGINT << CAST(mx.rmax - sk.rk AS INT)) AS zobs
        |   FROM sk CROSS JOIN mx),
        | e AS (SELECT rmax, 256 - observed AS zeros,
        |     zobs + (256 - observed) * (1::BIGINT << CAST(rmax AS INT)) AS znum
        |   FROM agg),
        | hraw AS (SELECT zeros,
        |     CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
        |       CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) *
        |       CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE) *
        |       power(CAST(2.0 AS DOUBLE), CAST(rmax AS DOUBLE)) /
        |       CAST(znum AS DOUBLE) AS rawv
        |   FROM e),
        | hest AS (SELECT CASE WHEN rawv <= 2.5 * CAST(256.0 AS DOUBLE)
        |       AND zeros > 0
        |       THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |         CAST(zeros AS DOUBLE))
        |       ELSE rawv END AS adv FROM hraw),
        | ledger AS (SELECT CAST(n_chars AS DOUBLE) AS val, count(*) AS w
        |   FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        | cum AS (SELECT val, w, sum(w) OVER (ORDER BY val) AS cm FROM ledger),
        | tot AS (SELECT sum(w) AS wt FROM ledger),
        | prm AS (SELECT (wt + 255) // 256 AS step,
        |    1 + (CAST(concat('0x', substr(md5(concat('kll:',
        |      CAST(wt AS VARCHAR))), 1, 15)) AS BIGINT) %
        |      ((wt + 255) // 256)) AS phi FROM tot),
        | sk2 AS (SELECT val,
        |    ((CASE WHEN cm >= phi THEN (cm - phi) // step + 1 ELSE 0 END) -
        |     (CASE WHEN cm - w >= phi THEN (cm - w - phi) // step + 1
        |       ELSE 0 END)) * step AS kw
        |   FROM cum, prm),
        | sk3 AS (SELECT val, kw FROM sk2 WHERE kw > 0),
        | scm AS (SELECT val, kw, sum(kw) OVER (ORDER BY val) AS cw FROM sk3),
        | sw AS (SELECT sum(kw) AS w2 FROM sk3),
        | pk AS (SELECT p, val AS q FROM scm, sw,
        |    (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS p)
        |   WHERE cw - kw < ceil(p * w2) AND ceil(p * w2) <= cw),
        | piv AS (SELECT
        |   CAST(max(CASE WHEN p = 0.5 THEN q END) AS REAL) AS size_p50,
        |   CAST(max(CASE WHEN p = 0.95 THEN q END) AS REAL) AS size_p95,
        |   CAST(max(CASE WHEN p = 0.99 THEN q END) AS REAL) AS size_p99
        |  FROM pk),
        | nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT nn.n_docs, CAST(hest.adv AS REAL) AS approx_distinct_docs,
        |  piv.size_p50, piv.size_p95, piv.size_p99
        |FROM nn, hest, piv""".stripMargin,

    // both engines: continuous (interpolated) median at index p*(n-1)
    "corpus_profile_exact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_docs,
        |  quantile_cont(n_chars, 0.5) AS median_n_chars
        |FROM documents""".stripMargin,

    // Duplicate-family replay: the dedup_jaccard_pairs edge list, then
    // transitive closure via recursive CTE; comp = min id over the
    // reachable set (matching the min-label-propagation fixpoint).
    "dedup_clusters" -> dedupClustersSql,

    // Decontamination replay: shared 3-gram shingles (short docs collapse
    // to a whole-doc shingle) between the %97 benchmark slice and the rest.
    "decontaminate_docs" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        | pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p,
        |           len(t) AS n FROM tk),
        | sh3 AS (SELECT a.doc_id, concat(a.tok, ' ', b.tok, ' ', c.tok) AS sh
        |   FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |              JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
        |   WHERE a.n >= 3),
        | shw AS (SELECT doc_id, array_to_string(t, ' ') AS sh FROM tk WHERE len(t) < 3),
        | sh AS (SELECT DISTINCT doc_id, sh
        |        FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shw) u),
        | bg AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        | hits AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
        |   FROM sh s JOIN bg USING (sh) WHERE s.doc_id % 97 <> 0
        |   GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_contaminated_grams, 0) AS n_contaminated_grams,
        |  COALESCE(h.n_contaminated_grams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // Portable 60-bit SimHash replay: per-distinct-token 15-hex-char md5
    // hash, ±1 votes per bit, sign fold, top-16-bit bucket.
    "dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS t
        |            FROM documents),
        | tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        | h AS (SELECT doc_id,
        |     CAST(concat('0x', substr(md5(concat('sh:', tok)), 1, 15)) AS BIGINT) AS hv
        |   FROM tok),
        | votes AS (SELECT doc_id, i,
        |     sum(CASE WHEN (hv >> CAST(i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |   FROM h CROSS JOIN range(0, 60) r(i) GROUP BY doc_id, i),
        | sig AS (SELECT doc_id,
        |     CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
        |              ELSE 0 END) AS BIGINT) AS simhash
        |   FROM votes GROUP BY doc_id)
        |SELECT doc_id, simhash,
        |  CAST((simhash >> 44) & 65535 AS BIGINT) AS bucket16
        |FROM sig ORDER BY doc_id""".stripMargin,

    // Portable SimHash near-dup: same signature, 4×15-bit chunk buckets,
    // bucket self-join (maxBucket = 10000 cap replayed), XOR bit count.
    "dedup_simhash_pairs" ->
      """WITH tk AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS t
        |            FROM documents),
        | tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        | h AS (SELECT doc_id,
        |     CAST(concat('0x', substr(md5(concat('sh:', tok)), 1, 15)) AS BIGINT) AS hv
        |   FROM tok),
        | votes AS (SELECT doc_id, i,
        |     sum(CASE WHEN (hv >> CAST(i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |   FROM h CROSS JOIN range(0, 60) r(i) GROUP BY doc_id, i),
        | sig AS (SELECT doc_id,
        |     CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
        |              ELSE 0 END) AS BIGINT) AS simhash
        |   FROM votes GROUP BY doc_id),
        | bucketed AS (SELECT doc_id, simhash, chunk,
        |     (simhash >> CAST(chunk * 15 AS INTEGER)) & 32767 AS bucket
        |   FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) c),
        | sized AS (SELECT *, count(*) OVER (PARTITION BY chunk, bucket) AS bsize
        |           FROM bucketed),
        | flt AS (SELECT * FROM sized WHERE bsize <= 10000),
        | pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |     bit_count(xor(a.simhash, b.simhash)) AS hamming
        |   FROM flt a JOIN flt b
        |     ON a.chunk = b.chunk AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // frame_idx enumerates ceil(n/16) slices; only idx % 4 == 0 survive,
    // and the last slice carries the remainder bytes
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n
        |           FROM documents WHERE doc_id < 100),
        | f AS (SELECT doc_id, n,
        |         unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS idx
        |       FROM d)
        |SELECT doc_id, idx AS frame_idx,
        | CAST(least(16, n - idx * 16) AS BIGINT) AS frame_len
        |FROM f WHERE idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_frame_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |           FROM documents WHERE doc_id < 100),
        | f AS (SELECT doc_id, text, n,
        |         unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS idx
        |       FROM d),
        | fr AS (SELECT doc_id, idx,
        |          md5(substring(text, CAST(idx * 16 + 1 AS BIGINT), 16)) AS frame_hash
        |        FROM f WHERE idx % 4 = 0),
        | z AS (SELECT frame_hash,
        |         CAST(count(*) OVER (PARTITION BY frame_hash) AS BIGINT) AS n_copies,
        |         row_number() OVER (PARTITION BY frame_hash
        |           ORDER BY doc_id, idx) AS rn,
        |         doc_id, idx FROM fr)
        |SELECT frame_hash, n_copies, doc_id AS keeper_doc_id,
        |  idx AS keeper_frame_idx
        |FROM z WHERE rn = 1
        |ORDER BY frame_hash""".stripMargin,

    // dHash replay in pure integer SQL: 64-char frames (ASCII corpus —
    // char slicing ≡ the Spark side's byte slicing, the established
    // multimodal_frame_dedup equivalence), per-frame 33 cells by the
    // identical floor arithmetic, cross-multiplied average comparison
    // (no division → no rounding to disagree on), then the 4-chunk
    // bucket join and bit_count verify.
    "multimodal_frame_neardup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |           FROM documents WHERE doc_id < 100),
        | f AS (SELECT doc_id, idx,
        |         substring(text, CAST(idx * 64 + 1 AS BIGINT), 64) AS fr
        |       FROM (SELECT doc_id, text, n,
        |               unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS idx
        |             FROM d)
        |       WHERE idx % 4 = 0),
        | fl AS (SELECT doc_id, idx, fr, length(fr) AS m
        |        FROM f WHERE length(fr) > 0),
        | pos AS (SELECT doc_id, idx, p,
        |           ord(substring(fr, CAST(p + 1 AS BIGINT), 1)) AS v
        |         FROM (SELECT doc_id, idx, fr, unnest(range(0, m)) AS p FROM fl)),
        | cl AS (SELECT doc_id, idx, m, k,
        |          (k * m) // 33 AS lo, ((k + 1) * m) // 33 AS hi
        |        FROM fl CROSS JOIN (SELECT unnest(range(0, 33)) AS k)),
        | csum AS (
        |   SELECT c.doc_id, c.idx, c.k, sum(p.v) AS s, count(*) AS len
        |   FROM cl c JOIN pos p ON p.doc_id = c.doc_id AND p.idx = c.idx
        |     AND p.p >= c.lo AND p.p < c.hi
        |   WHERE c.hi > c.lo GROUP BY 1, 2, 3
        |   UNION ALL
        |   SELECT c.doc_id, c.idx, c.k, p.v, 1
        |   FROM cl c JOIN pos p ON p.doc_id = c.doc_id AND p.idx = c.idx
        |     AND p.p = least(c.lo, c.m - 1)
        |   WHERE c.hi <= c.lo),
        | hb AS (SELECT a.doc_id, a.idx,
        |     CASE WHEN b.s * a.len > a.s * b.len
        |          THEN CAST(1 AS BIGINT) << a.k ELSE 0 END AS bv
        |   FROM csum a JOIN csum b ON b.doc_id = a.doc_id AND b.idx = a.idx
        |     AND b.k = a.k + 1
        |   WHERE a.k < 32),
        | hs AS (SELECT doc_id, idx, CAST(sum(bv) AS BIGINT) AS dhash
        |        FROM hb GROUP BY 1, 2),
        | ch AS (SELECT doc_id, idx, dhash, chunk,
        |          (dhash >> CAST(chunk * 8 AS INTEGER)) & 255 AS bucket
        |        FROM hs CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk)),
        | pr AS (SELECT DISTINCT a.doc_id AS doc_id_a, a.idx AS frame_idx_a,
        |          b.doc_id AS doc_id_b, b.idx AS frame_idx_b,
        |          bit_count(xor(a.dhash, b.dhash)) AS hamming
        |        FROM ch a JOIN ch b USING (chunk, bucket)
        |        WHERE (a.doc_id, a.idx) < (b.doc_id, b.idx))
        |SELECT doc_id_a, CAST(frame_idx_a AS BIGINT) AS frame_idx_a,
        |  doc_id_b, CAST(frame_idx_b AS BIGINT) AS frame_idx_b,
        |  CAST(hamming AS BIGINT) AS hamming
        |FROM pr WHERE hamming <= 3
        |ORDER BY doc_id_a, frame_idx_a, doc_id_b, frame_idx_b""".stripMargin,

    // dHash replay at stride 1, then one lag per video stream: cuts
    // where consecutive signatures differ by >= 8 bits — same integer
    // dHash CTEs as multimodal_frame_neardup
    "multimodal_scene_cuts" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |           FROM documents WHERE doc_id < 100),
        | f AS (SELECT doc_id, idx,
        |         substring(text, CAST(idx * 64 + 1 AS BIGINT), 64) AS fr
        |       FROM (SELECT doc_id, text, n,
        |               unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS idx
        |             FROM d)),
        | fl AS (SELECT doc_id, idx, fr, length(fr) AS m
        |        FROM f WHERE length(fr) > 0),
        | pos AS (SELECT doc_id, idx, p,
        |           ord(substring(fr, CAST(p + 1 AS BIGINT), 1)) AS v
        |         FROM (SELECT doc_id, idx, fr, unnest(range(0, m)) AS p FROM fl)),
        | cl AS (SELECT doc_id, idx, m, k,
        |          (k * m) // 33 AS lo, ((k + 1) * m) // 33 AS hi
        |        FROM fl CROSS JOIN (SELECT unnest(range(0, 33)) AS k)),
        | csum AS (
        |   SELECT c.doc_id, c.idx, c.k, sum(p.v) AS s, count(*) AS len
        |   FROM cl c JOIN pos p ON p.doc_id = c.doc_id AND p.idx = c.idx
        |     AND p.p >= c.lo AND p.p < c.hi
        |   WHERE c.hi > c.lo GROUP BY 1, 2, 3
        |   UNION ALL
        |   SELECT c.doc_id, c.idx, c.k, p.v, 1
        |   FROM cl c JOIN pos p ON p.doc_id = c.doc_id AND p.idx = c.idx
        |     AND p.p = least(c.lo, c.m - 1)
        |   WHERE c.hi <= c.lo),
        | hb AS (SELECT a.doc_id, a.idx,
        |     CASE WHEN b.s * a.len > a.s * b.len
        |          THEN CAST(1 AS BIGINT) << a.k ELSE 0 END AS bv
        |   FROM csum a JOIN csum b ON b.doc_id = a.doc_id AND b.idx = a.idx
        |     AND b.k = a.k + 1
        |   WHERE a.k < 32),
        | hs AS (SELECT doc_id, idx, CAST(sum(bv) AS BIGINT) AS dhash
        |        FROM hb GROUP BY 1, 2),
        | lg AS (SELECT doc_id, idx, dhash,
        |          lag(dhash) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
        |        FROM hs)
        |SELECT doc_id, CAST(idx AS BIGINT) AS cut_at,
        | CAST(bit_count(xor(dhash, prev)) AS BIGINT) AS hamming
        |FROM lg WHERE prev IS NOT NULL
        |  AND bit_count(xor(dhash, prev)) >= 8
        |ORDER BY doc_id, cut_at""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        | CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
        | CASE octet_length(encode(text)) % 3
        |   WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every field of the parsed WAV is pure integer arithmetic over
    // (doc_id, UTF-8 byte length) — the synthesis parameters round-trip
    // n_bytes counts the RIFF word-alignment pad byte synthWav appends
    // after an odd-length data chunk (duration does not: the chunk's
    // DECLARED size stays the unpadded payload length)
    "multimodal_audio" ->
      """SELECT doc_id,
        | CAST(44 + octet_length(encode(text))
        |   + octet_length(encode(text)) % 2 AS BIGINT) AS n_bytes,
        | CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        | CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        | CAST(16 AS BIGINT) AS bits,
        | CAST(octet_length(encode(text)) * 1000 //
        |   ((8000 + (doc_id % 3) * 4000) * (1 + doc_id % 2) * 2) AS BIGINT)
        |   AS duration_ms,
        | 'wav' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // FLAC: 42-byte fixed prefix (magic + block header + STREAMINFO),
    // total-samples = payload length, duration = samples*1000 // rate
    "multimodal_flac" ->
      """SELECT doc_id,
        | CAST(42 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        | CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
        | CAST(16 AS BIGINT) AS bits,
        | CAST(octet_length(encode(text)) * 1000 //
        |   (8000 + (doc_id % 5) * 4000) AS BIGINT) AS duration_ms,
        | 'flac' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MP3: the header's table lookups replayed as list-literal indexing;
    // duration = total bits // bitrate (CBR estimate, integer div)
    "multimodal_mp3" ->
      """SELECT doc_id,
        | CAST(4 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
        | CAST(([44100, 48000, 32000])[CAST(doc_id % 3 + 1 AS INTEGER)]
        |   AS BIGINT) AS sample_rate,
        | CAST(0 AS BIGINT) AS bits,
        | CAST((4 + octet_length(encode(text))) * 8 //
        |   ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])
        |     [CAST(doc_id % 14 + 1 AS INTEGER)] AS BIGINT) AS duration_ms,
        | 'mp3' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full replay of the naive-Bayes gate: heuristic label at the REAL
    // 0.5 cut, md5 hash split, df-capped vocab, each ln quantized to
    // DECIMAL(20,12) before the exact pos−neg subtraction and per-
    // occurrence document sum (the unigram-LM exactness recipe)
    "text_quality_nb" ->
      s"""WITH $nbChainCtes
         |SELECT sp.doc_id, CAST(coalesce(sc.n_tok, 0) AS BIGINT) AS n_tok,
         |  CAST(coalesce(sc.s, 0) AS DOUBLE) AS nb_llr,
         |  CAST(CASE WHEN coalesce(sc.s, 0) > 0 THEN 1 ELSE 0 END AS INT) AS pred
         |FROM sp LEFT JOIN sc USING (doc_id) WHERE NOT sp.is_train
         |ORDER BY sp.doc_id""".stripMargin,

    "text_nb_calibration" ->
      s"""WITH $nbChainCtes,
         | vl AS (SELECT sp.doc_id, sp.pos,
         |     coalesce(sc.s, CAST(0 AS DECIMAL(20,12))) AS llr
         |   FROM sp LEFT JOIN sc USING (doc_id) WHERE NOT sp.is_train),
         | b AS (SELECT doc_id, pos, llr,
         |     ntile(10) OVER (ORDER BY llr, doc_id) AS decile FROM vl)
         |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
         | CAST(CAST(sum(llr) AS DOUBLE) / count(*) AS REAL) AS mean_llr,
         | CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         | CAST(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*) AS REAL) AS pos_rate
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** The NB classifier replay chain, shared by the text_quality_nb and
    * text_nb_calibration oracles so the two cannot drift: heuristic
    * label, hash split, df-capped vocab, add-1 log-odds weights
    * (quantized per token), validation scoring to (doc_id, n_tok, s). */
  private def nbChainCtes =
    s"""base AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS rawtoks FROM documents),
       | lab AS (SELECT doc_id, rawtoks,
       |     CAST(0.4 * least(CAST(1 AS DOUBLE), CAST(len(rawtoks) AS DOUBLE) / CAST(100 AS DOUBLE))
       |       + 0.3 * (CAST(len(list_filter(rawtoks, x -> x IN (${QuerySql.stopListEn}))) AS DOUBLE) / nullif(len(rawtoks), 0))
       |       + 0.3 * (CAST(len(list_distinct(rawtoks)) AS DOUBLE) / nullif(len(rawtoks), 0)) AS REAL) AS q
       |   FROM base),
       | sp AS (SELECT doc_id, rawtoks,
       |     coalesce(q >= CAST(0.5 AS REAL), false) AS pos,
       |     (CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 50) AS is_train
       |   FROM lab),
       | tt AS (SELECT doc_id, pos, token
       |   FROM (SELECT doc_id, pos, unnest(rawtoks) AS token FROM sp WHERE is_train)
       |   WHERE length(token) > 0),
       | dt AS (SELECT doc_id, pos, token, count(*) AS tf FROM tt GROUP BY 1, 2, 3),
       | vocab AS (SELECT token, count(*) AS n_docs,
       |     sum(CASE WHEN pos THEN tf ELSE 0 END) AS tfp,
       |     sum(CASE WHEN NOT pos THEN tf ELSE 0 END) AS tfn
       |   FROM dt GROUP BY 1 HAVING count(*) >= 3),
       | scal AS (SELECT count(*) AS v, sum(tfp) AS npos, sum(tfn) AS nneg FROM vocab),
       | w AS (SELECT token,
       |     CAST(ln(CAST(tfp + 1 AS DOUBLE) / CAST(npos + v AS DOUBLE)) AS DECIMAL(20,12))
       |   - CAST(ln(CAST(tfn + 1 AS DOUBLE) / CAST(nneg + v AS DOUBLE)) AS DECIMAL(20,12)) AS wq
       |   FROM vocab CROSS JOIN scal),
       | st AS (SELECT doc_id, token
       |   FROM (SELECT doc_id, unnest(rawtoks) AS token FROM sp WHERE NOT is_train)
       |   WHERE length(token) > 0),
       | sc AS (SELECT st.doc_id, count(*) AS n_tok, sum(w.wq) AS s
       |   FROM st LEFT JOIN w USING (token) GROUP BY 1)""".stripMargin
}
