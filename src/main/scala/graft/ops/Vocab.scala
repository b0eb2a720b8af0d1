package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics: global top-k token frequencies and
  * per-document TF-IDF — the "what is this corpus made of" pass every
  * training-data pipeline runs before filtering.
  *
  * Shapes chosen for 100 TB:
  *  - token counting is explode → groupBy(token), which Spark executes
  *    with map-side partial aggregation — the reduce side sees one row
  *    per (partition, distinct token), not one per token occurrence;
  *  - the global top-k goes through `orderBy().limit(k)` — a
  *    TakeOrdered, each partition contributes only its local top-k to
  *    the driver-side merge, never a full-vocabulary single-reducer
  *    window;
  *  - TF-IDF's per-document ranking partitions by doc_id (cardinality =
  *    corpus size, no hot reducer), and the corpus-size scalar joins in
  *    as a broadcast single row, not a driver-side collect.
  */
object Vocab {

  /** (token) rows from whitespace-tokenized lowercased text, empties
    * dropped — the same tokenizer as [[TextAnalysis.tokens]] so vocab
    * stats line up with the quality/langid passes. */
  private def tokenRows(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)

  /** Global top-k tokens by occurrence count (ties → lexicographic).
    * The final rank window runs over k rows only. */
  def topKTokens(df: DataFrame, text: String, k: Int, id: String = "doc_id"): DataFrame = {
    val counts = tokenRows(df, id, text)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("token")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))).cast("long"))
  }

  /** Per-document TF-IDF, top `perDoc` terms per document:
    * tf(d,t) · ln(N / df(t)), plain (unsmoothed) idf — both factors are
    * exact integer counts so the double score is deterministic; ties
    * break lexicographically. */
  def tfIdf(df: DataFrame, id: String, text: String, perDoc: Int): DataFrame = {
    val toks = tokenRows(df, id, text)
    val tf = toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    // (id, token) is distinct in tf, so count(*) per token IS document frequency
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_t"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = Attach(tf.join(dfreq, "token"), nDocs)
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df_t")))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perDoc)
      .select(col(id), col("token"), col("tf"), col("df_t"), col("tfidf"), col("rank"))
  }

  /** Per-document unigram language-model score: the mean log-probability
    * of the document's tokens under the corpus's OWN unigram
    * distribution, p(t) = count(t) / total-tokens. Low scores mark
    * gibberish / boilerplate / off-distribution text — the cheap
    * perplexity proxy training pipelines run before an expensive neural
    * quality model. Smoothing is unnecessary: the vocabulary is built
    * from the same corpus being scored, so every token has p > 0.
    *
    * Cross-engine determinism: each ln p(t) is one double op on
    * identical inputs (count/total are exact integers), per-doc sums go
    * through DECIMAL(30,12) so reduction order can't change a bit, and
    * the final mean surfaces as FLOAT.
    *
    * Scale shape: ONE pass over the corpus token stream, collapsed
    * map-side into per-(doc, token) term frequencies and materialized
    * ([[Cut]] — this method is EAGER, like [[tfIdfCosineTopK]]):
    * the vocabulary counts, the grand total, and the scoring join all
    * derive from that tf frame, never rescanning the corpus. The vocab
    * join shuffles tf on token hash (linear, no hot key — a heavy
    * token's rows spread across docs); the total joins in as a
    * broadcast single row. Scoring sums tf · ln p per doc — identical
    * decimal value to summing ln p per occurrence, at a fraction of the
    * rows. No collects, no windows.
    */
  def unigramLogProb(df: DataFrame, id: String = "doc_id",
                     text: String = "text"): DataFrame = {
    // ln p ∈ (-40, 0]: 2 integer digits suffice, so (20,12) × (17,0) →
    // decimal(38,12) stays under Spark's 38-digit cap WITHOUT the silent
    // scale-reduction a (30,12) × bigint product triggers (which would
    // round to 6 places and break bit-equality with the oracle)
    import TextAnalysis.d12
    val tf = Cut(tokenRows(df, id, text)
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf")))
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    Attach(tf.join(counts, "token"), total)
      .withColumn("__lp",
        log(col("n").cast("double") / col("total").cast("double")))
      .groupBy(col(id))
      .agg(
        sum(col("tf")).as("n_tok"),
        (sum(d12(col("__lp")) * col("tf").cast("decimal(17,0)")).cast("double") /
          sum(col("tf"))).cast("float").as("avg_logprob"))
  }

  /** [[unigramLogProb]] against an EXTERNAL model corpus — the building
    * block of importance-resampling data selection (the DSIR shape,
    * Xie et al. 2023, arXiv:2302.03169): score every document of
    * `score` under the unigram distribution of `model`, so the
    * difference of two such scores (target model minus raw model) ranks
    * documents by how target-domain-like they are.
    *
    * Unlike the self-scoring variant, `score` can contain tokens the
    * model never saw, so the distribution is add-1 smoothed:
    * p(t) = (count_model(t) + 1) / (total_model + V + 1), with V the
    * model's distinct-token count and the +1 slot standing in for all
    * unseen tokens. Numerator and denominator are exact integers; each
    * ln is one double op on identical inputs; per-doc sums go through
    * DECIMAL so reduction order cannot change a bit (the
    * [[unigramLogProb]] exactness contract, kept engine-portable).
    *
    * Scale shape: one tf pass over `score`, one count pass over
    * `model`, a linear token-keyed left join, one broadcast stats row —
    * no collects, no windows, nothing quadratic. */
  def unigramLogProbAgainst(score: DataFrame, model: DataFrame,
                            id: String = "doc_id",
                            text: String = "text"): DataFrame = {
    import TextAnalysis.d12
    val tf = Cut(tokenRows(score, id, text)
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf")))
    val counts = tokenRows(model, id, text)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("v"))
    Attach(tf.join(counts, Seq("token"), "left"), stats)
      .withColumn("__lp",
        log((coalesce(col("n"), lit(0L)) + 1L).cast("double") /
          (col("total") + col("v") + 1L).cast("double")))
      .groupBy(col(id))
      .agg(
        sum(col("tf")).as("n_tok"),
        (sum(d12(col("__lp")) * col("tf").cast("decimal(17,0)")).cast("double") /
          sum(col("tf"))).cast("float").as("avg_logprob"))
  }

  /** BPE MERGE-TABLE TRAINING — the tokenizer-side operator an LLM-data
    * pipeline runs before [[TextAnalysis.bpeTokenCount]] can budget with
    * a real vocabulary: learn `nMerges` byte-pair merges from the corpus
    * (Sennrich et al. 2016, arXiv:1508.07909's word-frequency form).
    *
    * Classic BPE trains on the word-FREQUENCY dictionary, not the raw
    * token stream: ONE corpus pass builds (word, freq) capped at the
    * `maxWords` most frequent words (tie-break lexicographic — the
    * df-cap that bounds every later pass), words split into character
    * symbols, then per merge round: count adjacent symbol pairs
    * weighted by word frequency, take the single most frequent pair
    * (ties → lexicographically smallest (lhs, rhs)), and replace its
    * occurrences greedily left-to-right without overlap ("aaa" under
    * merge (a,a) → ["aa","a"]). The chosen pair is ONE ROW to the
    * driver per round — an index-build action, like a centroid
    * collect — and the merge application is a plan-literal fold over
    * the ≤ maxWords dictionary, so per-round cost is O(maxWords · word
    * length) regardless of corpus size; only the initial word count
    * ever scans the corpus.
    *
    * The greedy replace is an `aggregate` fold: append each symbol,
    * but when the accumulator ends in `lhs` and the symbol is `rhs`,
    * pop and push the merged token. A token just created can never
    * remerge as a left side within the same round (lhs+rhs ≠ lhs —
    * rhs is nonempty), so the fold is exactly the
    * position/run-parity semantics an oracle replays with window
    * functions. Determinism end-to-end: integer counts, total-order
    * tie-breaks, no floats anywhere.
    *
    * Output: (rank 1-based long, lhs, rhs, pair_count) — the merge
    * table, highest-priority merge first. */
  def bpeTrain(df: DataFrame, text: String = "text", nMerges: Int = 8,
               maxWords: Int = 500): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainMergesWithCounts(df, text, nMerges, maxWords)
      .toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** [[bpeTrain]]'s merge table as driver values, for feeding
    * [[bpeApply]] — (rank, lhs, rhs, pair_count), highest-priority
    * first. The collect is nMerges rows accumulated one per round — an
    * index-build action, like a centroid collect. */
  def trainMergesWithCounts(df: DataFrame, text: String = "text",
                            nMerges: Int = 8, maxWords: Int = 500)
      : Seq[(Long, String, String, Long)] = {
    val words = df.select(explode(TextAnalysis.tokens(col(text))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxWords)
    var state = Cut(words
      .withColumn("syms", charSyms(col("word")))
      .select(col("word"), col("freq"), col("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val best = state.select(col("freq"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // all words down to one symbol
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += (((i + 1).toLong, l, r, c))
        state = Cut(state.withColumn("syms", mergeFold(col("syms"), l, r)))
        i += 1
      }
    }
    merges.toSeq
  }

  /** Character symbols of a word (the BPE base alphabet); the filter
    * drops the trailing empty string Java's empty-pattern split keeps
    * under limit −1. */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => length(s) > 0)

  /** ONE greedy left-to-right non-overlapping merge pass of (l, r) over
    * a symbol array — the `aggregate` fold shared by training and
    * application: append each symbol, but when the accumulator ends in
    * `l` and the symbol is `r`, pop and push the merged token. A token
    * created this pass can never re-merge as a left side (l+r ≠ l);
    * the slice-form last-element probe stays ANSI-safe on the empty
    * accumulator. */
  private def mergeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) => when(
        slice(acc, -1, 1) === array(lit(l)) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** BPE SEGMENTATION with a learned merge table — the apply half of
    * the tokenizer: split each word into characters, then run every
    * merge in priority order (the [[bpeTrain]] contract: one greedy
    * non-overlapping pass per merge). Output: per-document token count
    * under the learned vocabulary, the number a training pipeline
    * actually budgets with (vs [[TextAnalysis.bpeTokenCount]]'s
    * regex-shape proxy).
    *
    * Scale shape: the chained fold is O(merges · word length) per
    * word, so it runs over DISTINCT words only (the fast-tokenizer
    * trick: segment the vocabulary, not the corpus), and the join back
    * carries the per-(doc, word) term-frequency frame, not the raw
    * occurrence stream (the [[unigramLogProb]] shape: map-side partial
    * aggregation collapses occurrences before anything shuffles on
    * word hash) — count = Σ tf(d,w) · |segments(w)|, identical
    * integers. AQE broadcasts the vocab side when it is small. Exact
    * integer counts end-to-end, so the whole train→apply chain replays
    * in SQL on the hard signal. Documents with no tokens drop out (the
    * [[unigramLogProb]] precedent). */
  def bpeApply(df: DataFrame, id: String = "doc_id", text: String = "text",
               merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(id), explode(TextAnalysis.tokens(col(text))).as("word"))
      .filter(length(col("word")) > 0)
    val tf = words.groupBy(col(id), col("word")).agg(count(lit(1)).as("tf"))
    val seg = merges.foldLeft(charSyms(col("word"))) {
      case (acc, (l, r)) => mergeFold(acc, l, r)
    }
    val segs = words.select(col("word")).distinct()
      .withColumn("n_sub", size(seg).cast("long"))
    tf.join(segs, Seq("word"))
      .groupBy(col(id))
      .agg(sum(col("n_sub") * col("tf")).as("n_bpe_vocab_tokens"))
  }

  /** Pairwise document cosine similarity over sparse term-weight vectors,
    * top `k` neighbors per document — text near-dup/clustering's
    * workhorse, via the INVERTED-INDEX join (term-at-a-time): documents
    * meet only on shared terms, never all-pairs.
    *
    * Scale levers, in order of importance:
    *  - `maxDf` drops stopword-frequency terms from the term space —
    *    a term shared by f documents generates f² candidate pairs, so
    *    unbounded df is quadratic blowup; capped df bounds every
    *    per-term join fan-out at maxDf². (Weights AND norms use the same
    *    capped space, so the cosine is exact over that space.)
    *  - df=1 terms can't co-occur: their postings are pruned from the
    *    pair join (they still count toward norms — pure optimization,
    *    same results).
    *  - the per-doc top-k window runs on ≤ |docs|·k rows after a
    *    grouped count, not on raw postings.
    *
    * Cross-engine determinism: weights use SUBLINEAR (sqrt) idf —
    * tf · √(N/df) — because /, √ and · are IEEE-exact (identical in any
    * engine) while ln is library-dependent; pair dots and norms are
    * summed as DECIMAL(30,12) so reduction order can't change a bit.
    * Output: (doc_a, doc_b, cosine float, rank). */
  def tfIdfCosineTopK(df: DataFrame, id: String, text: String, k: Int,
                      maxDf: Long): DataFrame = {
    val d12 = (c: org.apache.spark.sql.Column) => c.cast("decimal(30,12)")
    val toks = tokenRows(df, id, text)
    val tf = toks.groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_t"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // materialize the weighted postings ONCE: they feed four plan
    // branches (norms ×2 via doc_a/doc_b, self-join ×2) and without a
    // cut Spark re-runs the whole scan→tf→df chain for each branch
    val wts = Cut(Attach(tf.join(dfreq.filter(col("df_t") <= maxDf), "token"), nDocs)
      .withColumn("w", col("tf").cast("double") *
        sqrt(col("n_docs").cast("double") / col("df_t").cast("double")))
      .select(col(id), col("token"), col("df_t"), col("w")))
    val norms = wts.groupBy(col(id))
      .agg(sqrt(sum(d12(col("w") * col("w"))).cast("double")).as("norm"))
    val posts = wts.filter(col("df_t") >= 2)
      .select(col(id).as("pid"), col("token"), col("w"))
    val dots = posts.as("a")
      .join(posts.as("b"),
        col("a.token") === col("b.token") && col("a.pid") < col("b.pid"))
      .groupBy(col("a.pid").as("doc_a"), col("b.pid").as("doc_b"))
      .agg(sum(d12(col("a.w") * col("b.w"))).cast("double").as("dot"))
    val both = dots.unionByName(dots.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("dot")))
    val scored = both
      .join(norms.select(col(id).as("doc_a"), col("norm").as("norm_a")), "doc_a")
      .join(norms.select(col(id).as("doc_b"), col("norm").as("norm_b")), "doc_b")
      .withColumn("cosine",
        (col("dot") / (col("norm_a") * col("norm_b"))).cast("float"))
    val win = Window.partitionBy(col("doc_a"))
      .orderBy(col("cosine").desc, col("doc_b"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_a"), col("doc_b"), col("cosine"), col("rank"))
  }

  /** Per-document mean ln P(wᵢ | wᵢ₋₁) under the corpus's own ADD-ONE
    * smoothed bigram model — the next perplexity proxy up from
    * [[unigramLogProb]]: fluency scoring that unigram frequencies can't
    * see (scrambled word salad scores like prose under a unigram model;
    * a bigram model punishes improbable transitions). Smoothing is
    * required here, unlike the unigram case: a document CAN contain a
    * bigram the rest of the corpus never repeats, and P(b|a) =
    * (C(a,b)+1) / (C(a)+V) keeps such transitions finite (V = unigram
    * vocabulary size).
    *
    * Same determinism recipe as [[unigramLogProb]]: each ln is one
    * double op on exact integer inputs, per-doc sums quantize through
    * DECIMAL(20,12), the mean surfaces FLOAT. Same scale shape too: the
    * bigram occurrence stream is materialized once (EAGER — a
    * [[Cut]] runs at call time) and feeds the corpus counts,
    * context counts, and scoring join; V rides in as one broadcast row.
    * Documents with fewer than two tokens carry no bigrams and drop
    * out, exactly as empty docs drop from the unigram scorer. */
  def bigramLogProb(df: DataFrame, id: String = "doc_id",
                    text: String = "text"): DataFrame = {
    import TextAnalysis.d12
    // pair ADJACENT real tokens: empties from repeated separators are
    // dropped BEFORE pairing, so "a  b" still yields the bigram (a, b)
    val clean = filter(TextAnalysis.tokens(col(text)), t => length(t) > 0)
    val pairs = when(size(clean) >= 2,
        zip_with(
          slice(clean, lit(1), size(clean) - 1),
          slice(clean, lit(2), size(clean) - 1),
          (a, b) => struct(a.as("ctx"), concat(a, lit(" "), b).as("bg"))))
      .otherwise(array().cast("array<struct<ctx:string,bg:string>>"))
    val occ = Cut(df.select(col(id), explode(pairs).as("p"))
      .select(col(id), col("p.ctx").as("ctx"), col("p.bg").as("bg")))
    val nab = occ.groupBy(col("bg")).agg(count(lit(1)).as("nab"))
    val na = occ.groupBy(col("ctx")).agg(count(lit(1)).as("na"))
    val v = df.select(explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token")).distinct()
      .agg(count(lit(1)).as("v"))
    Attach(occ.join(nab, "bg").join(na, "ctx"), v)
      .withColumn("__lp",
        log((col("nab") + 1).cast("double") /
          (col("na") + col("v")).cast("double")))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(d12(col("__lp"))).cast("double") / count(lit(1)))
          .cast("float").as("avg_logprob"))
  }
}
