package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval — the RAG-serving side of a training-data engine:
  * BM25 lexical search over an inverted index, and reciprocal-rank
  * fusion for hybrid (lexical + semantic) retrieval.
  *
  * Scale shape: BM25 scoring is an inverted-index PROBE — query terms
  * join postings on `token`, so only documents sharing a term are ever
  * scored (never a query×corpus product), and the per-(query, doc) term
  * sum is one hash aggregate. The corpus-side statistics (tf, doc
  * length, document frequency) are plain linear aggregates a 100 TB
  * corpus computes once and reuses across query batches.
  *
  * Cross-engine exactness engineering (the repo's ln-quantization
  * pattern, see [[TextAnalysis]]): k1 = 1.25 and b = 0.75 are chosen
  * binary-exact, every float step is IEEE-specified (+, −, ×, ÷) in a
  * parenthesization the DuckDB oracle mirrors token-for-token, the one
  * library-dependent op (ln) is quantized to DECIMAL(20,12) before the
  * per-document sum — which also makes the sum order-independent — and
  * ranks tie-break by doc id.
  */
object Retrieval {

  /** Okapi BM25 top-k: for each query row, the `k` highest-scoring
    * documents. score(q,d) = Σ_{t ∈ q, distinct} idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b+b·|d|/avgdl)), with the Lucene-style non-negative
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1). Repeated query terms count
    * once (Lucene semantics). `excludeSelf` drops doc_id = query_id
    * BEFORE ranking — the similar-items mode where queries are corpus
    * documents themselves. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               id: String = "doc_id", text: String = "text",
               queryId: String = "query_id", queryText: String = "qtext",
               excludeSelf: Boolean = false): DataFrame = {
    // no rebalance before this explode: the ~100-token fan-out per row
    // is too thin to repay an exchange + stage barrier (a rebalanced
    // text_bm25_topk ran 1.34 → 2.51 s at sf0.1), unlike the
    // shingle+distinct derivation in coocEdges
    val toks = corpus
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col(id)).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_t"))
    val totals = dl.agg(sum(col("dl")).as("tot_len"), count(lit(1)).as("n_docs"))
    val qt = queries
      .select(col(queryId).as("query_id"),
        explode(TextAnalysis.tokens(col(queryText))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val d = (c: Column) => c.cast("double")
    // parenthesization is load-bearing: the oracle mirrors it exactly
    val idf = log((d(col("n_docs")) - d(col("df_t")) + lit(0.5)) /
      (d(col("df_t")) + lit(0.5)) + lit(1.0))
    val lenNorm = lit(0.25) + ((lit(0.75) * d(col("dl"))) * d(col("n_docs"))) / d(col("tot_len"))
    val termScore = idf * ((d(col("tf")) * lit(2.25)) /
      (d(col("tf")) + lit(1.25) * lenNorm))
    val probed = Attach(qt
      .join(tf.join(dfreq, "token").join(dl, id), "token"), // inverted-index probe
      totals)
    val kept = if (excludeSelf) probed.filter(col("query_id") =!= col(id)) else probed
    val scored = kept
      .withColumn("__ts", termScore.cast("decimal(20,12)"))
      .groupBy(col("query_id"), col(id))
      .agg(sum(col("__ts")).cast("double").as("score"))
    // per-query ranking: |queries| reducers — queries are a batch (small
    // by contract), the corpus side never windows globally
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(id))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(id), col("score").cast("float").as("score"),
        col("rank"))
  }

  /** Per-token corpus statistics of the inverted index — document
    * frequency and total term frequency. Both are distributive counts,
    * so the index stats of a growing corpus MAINTAIN from deltas via
    * [[Merge.mergeAggregates]] (df_t/tf_total add across disjoint doc
    * sets) — the hourly refresh path that never rescans the corpus. */
  def corpusStats(corpus: DataFrame, id: String = "doc_id",
                  text: String = "text"): DataFrame = {
    val toks = corpus
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
    toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_t"), sum(col("tf")).as("tf_total"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse any number of
    * rank lists (query_id, doc id, rank) into one, score(d) =
    * Σ_lists 1/(c + rank). Rank-based, so heterogeneous score scales
    * (BM25 vs cosine) fuse without calibration; a doc absent from a
    * list contributes nothing for it. c = 60 is the published default.
    * 1/(60+rank) is a single IEEE division on small integers —
    * bit-portable; ties break by doc id. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, id: String = "doc_id",
              c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one rank list")
    val unioned = lists.map(_.select(col("query_id"), col(id), col("rank")))
      .reduce(_ unionByName _)
    val scored = unioned
      .withColumn("__rr", lit(1.0) / (lit(c).cast("double") + col("rank").cast("double")))
      // sums of 1/(c+r) over ≤ |lists| terms: quantize like the BM25 sum
      // so addition order can't flip a rank across engines
      .groupBy(col("query_id"), col(id))
      .agg(sum(col("__rr").cast("decimal(20,12)")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col(id))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(id),
        col("rrf_score").cast("float").as("rrf_score"), col("n_lists"),
        col("rank"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM-style): run
    * the query, take its top-`kDocs` BM25 documents as the feedback
    * set, and score every term in them by Σ tf(t,d)·idf(t) — the terms
    * that characterize what the query FOUND, minus the terms the query
    * already has. The classic recall lever for sparse retrieval (the
    * expanded query matches documents sharing the feedback vocabulary
    * even when they miss the original terms).
    *
    * Replay contract: each tf·idf product quantizes to DECIMAL(20,12)
    * (the BM25 term-score pattern) and the per-(query, term) sums are
    * exact decimal adds, so the ranking ORDER key is exact — no float
    * comparison can flip a rank across engines. Scale shape: the
    * feedback join touches |queries|·kDocs doc ids against the tf
    * frame (inverted-index sized, df-capped upstream if needed),
    * never the corpus². */
  def prfExpansion(corpus: DataFrame, queries: DataFrame, kDocs: Int = 10,
                   kTerms: Int = 5, id: String = "doc_id",
                   text: String = "text", queryId: String = "query_id",
                   queryText: String = "qtext"): DataFrame = {
    require(kDocs >= 1 && kTerms >= 1, "kDocs and kTerms must be positive")
    val fb = bm25TopK(corpus, queries, k = kDocs, id, text, queryId,
        queryText, excludeSelf = true)
      .select(col("query_id"), col(id))
    val tf = corpus
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df_t"))
    // docs with ≥1 token, matching the BM25 stats universe (an
    // empty-text doc carries no retrieval mass on either engine)
    val n = tf.select(col(id)).distinct().agg(count(lit(1)).as("n_docs"))
    val idf = Attach(dfT, n)
      .select(col("token"),
        log(col("n_docs").cast("double") / col("df_t")).as("idf"))
    val qTerms = queries.select(col(queryId).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(queryText)))).as("token"))
      .filter(length(col("token")) > 0)
    val scored = fb.join(tf, Seq(id))
      .join(idf, Seq("token"))
      .groupBy(col("query_id"), col("token"))
      .agg(sum((col("tf").cast("double") * col("idf"))
        .cast("decimal(20,12)")).as("__s"))
      .join(qTerms, Seq("query_id", "token"), "left_anti")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__s").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTerms)
      .select(col("query_id"), col("token").as("term"),
        col("__s").cast("double").cast("float").as("score"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` results per query trading relevance
    * against redundancy — pick₁ = argmax rel; pickᵢ = argmax
    * λ·rel − (1−λ)·max_{s ∈ picked} cos(cand, s). The standard
    * diversifier over a near-dup-heavy corpus, where a plain top-k
    * returns k copies of the same answer.
    *
    * Input is a CANDIDATE SHORTLIST (query_id, `id`, `rel`, `vec`) —
    * typically a top-N from [[bm25TopK]] / cosine retrieval joined back
    * to its vectors — NOT a corpus: the candidate×picked similarity
    * join is |shortlist|·k per query by construction, so the op scales
    * with the shortlist dial, never the corpus (run the shortlist
    * through the salted top-k machinery first at 100 TB). k driver
    * rounds, each one bounded join + argmax window, [[Cut]] like the
    * other fixed-iteration ops; every argmax is deterministic
    * (score desc, id asc), so the greedy trajectory — not just the
    * final set — is engine-replayable. Zero-norm vectors are rejected
    * loudly: their null cosine would make the argmax ordering
    * engine-dependent. */
  def mmrDiversify(candidates: DataFrame, k: Int, lambda: Double = 0.5,
                   id: String = "doc_id", rel: String = "rel",
                   vec: String = "cv"): DataFrame = {
    require(k >= 1, s"need at least one pick, got $k")
    require(lambda > 0 && lambda <= 1, s"lambda must be in (0,1], got $lambda")
    val cand = Cut(candidates.select(col("query_id"), col(id),
        col(rel).cast("double").as("__rel"), col(vec).as("__v"))
      .where(assert_true(Similarity.norm(col("__v")) > 0,
        lit("mmrDiversify: zero-norm candidate vector")).isNull))
    def pickTop(scored: DataFrame, score: Column): DataFrame = {
      val w = Window.partitionBy(col("query_id")).orderBy(score.desc, col(id))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val s1 = Cut(pickTop(cand, col("__rel")).withColumn("mmr_rank", lit(1L)))
    val (selected, _) = (2 to k).foldLeft(
      (s1, Cut(cand.join(s1.select(col("query_id"), col(id)),
        Seq("query_id", id), "left_anti")))) {
      case ((sel, rem), i) =>
        val selSide = sel.select(col("query_id"), col("__v").as("__sv"))
        val msim = rem.select(col("query_id"), col(id), col("__v"))
          .join(selSide, Seq("query_id"))
          .groupBy(col("query_id"), col(id))
          .agg(max(Similarity.cosine(col("__v"), col("__sv"))).as("__msim"))
        val scored = rem.join(msim, Seq("query_id", id))
          .withColumn("__score",
            lit(lambda) * col("__rel") - lit(1 - lambda) * col("__msim"))
        // cut NEXT (the round's one expensive frame — scoring join +
        // argmax window), not the union: both continuation frames read
        // it, and checkpointing them instead re-ran the scoring once
        // per consumer (2× per round); the union of ≤k cut pieces and
        // the anti-join over cuts carry no lineage worth truncating
        val next = Cut(pickTop(scored, col("__score"))
          .withColumn("mmr_rank", lit(i.toLong))
          .select(sel.columns.map(col): _*))
        (sel.union(next),
          Cut(rem.join(next.select(col("query_id"), col(id)),
            Seq("query_id", id), "left_anti")))
    }
    selected.select(col("query_id"), col(id),
      col("__rel").as(rel), col("mmr_rank"))
  }
}
