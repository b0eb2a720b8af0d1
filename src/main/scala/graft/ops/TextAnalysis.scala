package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language ID, fingerprinting.
  *
  * Everything here is pure `Column` expressions (whole-stage-codegen'd,
  * no UDFs) — per-row, embarrassingly parallel, no shuffles: exactly the
  * shape that scales linearly to 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), " ")

  /** THE cross-engine ln-quantization width: every ln in the corpus-LM /
    * log-odds family is computed on exact-integer ratios (deterministic
    * IEEE double) and immediately cast to DECIMAL(20,12) — 2 integer
    * digits cover |ln p| < 100, and (20,12) × (17,0) products stay under
    * Spark's 38-digit cap WITHOUT silent scale reduction. One shared
    * definition: the DuckDB oracles hardcode DECIMAL(20,12), so a width
    * change must happen here and in every oracle together. */
  private[ops] def d12(c: Column): Column = c.cast("decimal(20,12)")

  /** Small multilingual stopword tables for the heuristics below. */
  val stopwordsEn: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "as", "for")
  val stopwordsFr: Seq[String] = Seq("le", "la", "et", "les", "des", "un", "une", "du", "que", "est")
  val stopwordsEs: Seq[String] = Seq("el", "la", "y", "los", "las", "un", "una", "del", "que", "es")
  val stopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ein", "eine", "zu", "den", "von", "ist")
  val stopwordsZh: Seq[String] = Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*))).cast("long")

  /** Per-document token statistics: char count, token count, average token
    * length. */
  def tokenStats(df: DataFrame, text: String = "text"): DataFrame = {
    val toks = split(trim(col(text)), " ")
    df.withColumn("n_chars_calc", length(col(text)).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_token_len",
        length(regexp_replace(col(text), " ", "")).cast("double") /
          nullif(size(toks), lit(0)))
  }

  /** Heuristic document-quality score in [0,1]: length saturation,
    * stopword density (natural-language signal), and lexical diversity.
    * The linear form keeps it SQL-expressible for the oracle. */
  def qualityScore(df: DataFrame, text: String = "text"): DataFrame = {
    val toks = tokens(col(text))
    val nTok = size(toks)
    val stopRatio = countIn(toks, stopwordsEn).cast("double") / nullif(nTok, lit(0))
    val distinctRatio = size(array_distinct(toks)).cast("double") / nullif(nTok, lit(0))
    val lengthScore = least(lit(1.0), nTok.cast("double") / lit(100.0))
    df.withColumn("quality_score",
      lit(0.4) * lengthScore + lit(0.3) * stopRatio + lit(0.3) * distinctRatio)
  }

  /** Repetition signals (the Gopher-style quality filters): the
    * duplicate-token fraction (1 − distinct/total) and the fraction of
    * all word 2-grams taken by the single most frequent 2-gram —
    * boilerplate and degenerate generations score high on both. Pure
    * per-row array expressions, so the operator is a map stage — no
    * explode, no shuffle, 100 TB-linear. The most-frequent-gram count is
    * the longest equal-run of the SORTED gram array (one aggregate fold,
    * O(g log g) per row — the naive count-each-distinct-gram form is
    * O(g²) and measured 150× slower on ~300-gram docs). */
  def repetitionScore(df: DataFrame, text: String = "text"): DataFrame = {
    val toks = tokens(col(text))
    val nTok = size(toks)
    val dupFrac = (lit(1.0) -
      size(array_distinct(toks)).cast("double") / nullif(nTok, lit(0)))
    val grams = when(nTok >= 2,
        transform(sequence(lit(0), nTok - 2),
          i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array())
    val maxGramCount = aggregate(
      array_sort(grams),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(acc.getField("run") > 0 && x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.withColumn("dup_token_frac", dupFrac)
      .withColumn("top_2gram_frac",
        coalesce(maxGramCount.cast("double") / nullif(size(grams), lit(0)), lit(0.0)))
  }

  /** Stopword-voting language ID: count hits against each language's
    * stopword table, argmax with a fixed tie-break order (en > fr > es >
    * de > zh). N-gram-free but the same shape as real lexicon LID — and
    * deterministic, so the oracle can mirror it. */
  def langId(df: DataFrame, text: String = "text", out: String = "lang_pred"): DataFrame = {
    val toks = tokens(col(text))
    val en = countIn(toks, stopwordsEn)
    val fr = countIn(toks, stopwordsFr)
    val es = countIn(toks, stopwordsEs)
    val de = countIn(toks, stopwordsDe)
    val zh = countIn(toks, stopwordsZh)
    df.withColumn(out,
      when(en >= fr && en >= es && en >= de && en >= zh, "en")
        .when(fr >= es && fr >= de && fr >= zh, "fr")
        .when(es >= de && es >= zh, "es")
        .when(de >= zh, "de")
        .otherwise("zh"))
  }

  /** Canonical-form fingerprint: lowercase, strip non-alphanumerics,
    * collapse whitespace, md5. Two documents with the same fingerprint are
    * exact duplicates modulo formatting — the first-line dedup key. */
  def fingerprint(df: DataFrame, text: String = "text", out: String = "fingerprint"): DataFrame = {
    df.withColumn(out, md5(canonical(col(text))))
  }

  /** Canonical text form shared by [[fingerprint]] and [[rollingHashFingerprint]]. */
  def canonical(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  // accent-folding map for [[normalize]]: the common Latin-1/Latin-
  // Extended lowercase accents to their ASCII base letter, as an explicit
  // 1:1 translate table — engine-portable (any engine's translate replays
  // it), unlike locale/ICU-dependent Unicode normalization
  private val accentFrom = "áàâäãåéèêëíìîïóòôöõøúùûüñçýÿšž"
  private val accentTo = "aaaaaaeeeeiiiioooooouuuuncyysz"
  // translate silently DELETES unmapped chars if the maps drift apart
  require(accentFrom.length == accentTo.length,
    s"accent maps out of sync: ${accentFrom.length} vs ${accentTo.length}")

  /** Cross-source text normalization: lowercase, fold accents
    * ([[accentFrom]] → [[accentTo]]), strip everything but [a-z0-9 ],
    * collapse whitespace — the join key / dedup key form every
    * multi-source curation pipeline needs before content comparison.
    * Pure codegen'd column expressions, no UDF, no locale dependence. */
  def normalize(df: DataFrame, text: String = "text",
                out: String = "text_norm"): DataFrame =
    df.withColumn(out, canonical(translate(lower(col(text)), accentFrom, accentTo)))

  /** BPE-style pre-tokenizer counts: letter runs, digit runs, and single
    * punctuation marks each count as one token — the GPT-2-ish shape a
    * training pipeline budgets with, vs. plain whitespace splitting.
    * Pure regexp expression, codegen'd, no UDF. */
  def bpeTokenCount(df: DataFrame, text: String = "text",
                    out: String = "n_bpe_tokens"): DataFrame =
    df.withColumn(out,
      size(regexp_extract_all(col(text),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))

  /** Fixed-size token chunking with stride — the window splitter that
    * turns documents into training/RAG sequences. Chunk k covers tokens
    * [k·stride, k·stride + size); the last window starts at the final
    * position < n that still adds new tokens, so every token lands in at
    * least one chunk and short docs yield exactly one. Per-row
    * slice+join expressions feeding one explode — no join, no shuffle;
    * output grows by the overlap factor size/stride, exactly as at
    * 100 TB. */
  def chunk(df: DataFrame, id: String = "doc_id", text: String = "text",
            size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride ($stride) <= size ($size)")
    val toks = tokens(col(text))
    val n = org.apache.spark.sql.functions.size(toks)
    // number of windows: 1 + ceil(max(0, n - size) / stride)
    val nChunks = lit(1) + ceil(greatest(n - size, lit(0)).cast("double") / stride).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      k => array_join(slice(toks, k * stride + 1, lit(size)), " "))
    df.select(col(id), posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
  }

  /** PII-style redaction: emails, then URLs, then phone-shaped digit
    * runs are replaced with typed placeholders. Patterns stay in the
    * RE2-compatible subset (no backrefs/lookaround) so any engine's
    * regex produces the identical result; three chained codegen'd
    * `regexp_replace`s, no UDF, no shuffle. Order matters: emails are
    * consumed before the URL pattern can swallow `user@host` inside a
    * URL tail. */
  def redact(df: DataFrame, text: String = "text", out: String = "text_redacted"): DataFrame =
    df.withColumn(out,
      regexp_replace(
        regexp_replace(
          regexp_replace(col(text),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "https?://[^\\s]+", "<URL>"),
        "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"))

  /** Polynomial (Karp–Rabin) rolling hash of the canonical text:
    * h = Σ c·257^i mod 1e9+7, folded left-to-right per row with
    * higher-order array expressions — no shuffle, no UDF. The modulus
    * keeps every intermediate in int64 on any engine. */
  def rollingHashFingerprint(df: DataFrame, text: String = "text",
                             out: String = "rolling_hash"): DataFrame = {
    val codes = transform(split(canonical(col(text)), ""), c => ascii(c).cast("long"))
    df.withColumn(out,
      aggregate(codes, lit(0L), (acc, c) => (acc * lit(257L) + c) % lit(1000000007L)))
  }

  /** Pointwise mutual information over within-document co-occurrence —
    * the collocation/phrase-mining statistic (tokens whose joint
    * document frequency beats independence are merge candidates for a
    * tokenizer, boilerplate markers for a cleaner):
    * pmi(a,b) = ln(df(a,b)·N / (df(a)·df(b))) over DOCUMENT frequencies.
    *
    * Scale bounds, explicitly: the pair self-join runs only over the
    * `maxVocab` highest-df tokens (rank window over the |vocabulary|
    * frame — the df-cap every corpus-statistics op here uses), so the
    * per-doc expansion is ≤ C(maxVocab, 2) and in practice the doc's
    * kept-token count squared; `minSupport` is an INTEGER filter, so no
    * float threshold can flip membership across engines, and the output
    * orders by the token pair, not the float pmi — the only float is
    * the reported value itself (double ratio of exact counts, ln,
    * float downcast). */
  def pmiCollocations(df: DataFrame, id: String = "doc_id",
                      text: String = "text", maxVocab: Int = 100,
                      minSupport: Long = 30L): DataFrame = {
    require(maxVocab >= 2, s"need at least two vocabulary slots, got $maxVocab")
    require(minSupport >= 1, s"minSupport must be positive, got $minSupport")
    val docTok = df
      .select(col(id), explode(array_distinct(tokens(col(text)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val dfT = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.orderBy(col("df").desc, col("tok"))
    val kept = dfT.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= maxVocab).drop("__r")
    val kt = docTok.join(kept, Seq("tok"))
    val pairs = kt.as("a")
      .join(kt.as("b"),
        col(s"a.$id") === col(s"b.$id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("df_ab"),
        min(col("a.df")).as("df_a"), min(col("b.df")).as("df_b"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    Attach(pairs.filter(col("df_ab") >= minSupport), n)
      .withColumn("pmi",
        log(col("df_ab").cast("double") * col("n_docs") /
          (col("df_a").cast("double") * col("df_b"))).cast("float"))
      .select(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"),
        col("df_ab"), col("pmi"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): split each document
    * into candidate phrases at stopword boundaries, score every
    * in-phrase word by deg/freq WITHIN its document (deg = Σ lengths
    * of the doc's phrases containing the word — co-occurrence mass;
    * freq = its in-phrase occurrence count), a phrase's score is the
    * sum of its word scores, and the top-`k` phrases per document
    * surface. The cheap unsupervised "what is this document about"
    * tagger a curation pipeline runs before any clustering by topic.
    *
    * Stopwords are CORPUS-DERIVED, not a hardcoded language list: the
    * `nStopwords` highest-document-frequency tokens (ties by token) —
    * the [[pmiCollocations]] kept-set pattern, language-agnostic by
    * construction. Degenerate documents (all stopwords) simply emit
    * nothing.
    *
    * Exactness: phrase segmentation and deg/freq are all-integer; each
    * word score is ONE double division quantized to DECIMAL(20,12);
    * phrase scores are exact decimal sums and RANK on the decimal
    * (ties by phrase string), so ordering never hangs on a double bit.
    *
    * Scale shape: one corpus pass to token rows; the stopword set is a
    * top-N over the token-df aggregate (TakeOrdered, then broadcast);
    * islands need one (doc)-partitioned window; word stats and phrase
    * scores are doc-local joins on (doc, token)/(doc, island) — raw
    * text is never shuffled twice, and every frame after the token
    * explode is token- or phrase-granular. */
  def rakeKeywords(df: DataFrame, id: String = "doc_id",
                   text: String = "text", nStopwords: Int = 10,
                   k: Int = 3): DataFrame = {
    require(nStopwords >= 1, s"need at least one stopword, got $nStopwords")
    require(k >= 1, s"need k >= 1, got $k")
    // no Skew.spread: the tokenization fan-out is too thin to repay the
    // exchange (+0.6 s at sf0.1 with it); see Retrieval.bm25TopK
    val tok = df
      .select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    val dfT = tok.select(col(id), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stops = dfT.orderBy(col("df").desc, col("tok")).limit(nStopwords)
      .select(col("tok"), lit(true).as("__stop"))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("pos"))
    // the island frame feeds three consumers (phrases, word stats,
    // phrase scores): EAGER, like every multi-consumer op here —
    // re-deriving the corpus token explode per consumer is the rescan
    // this avoids
    val isl = Cut(tok.join(stops, Seq("tok"), "left")
      .withColumn("__island",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(col("__stop").isNull)
      .select(col(id), col("__island"), col("pos"), col("tok")))
    val phrases = isl.groupBy(col(id), col("__island"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("phrase"),
        count(lit(1)).as("__len"))
    val wordStats = isl.join(phrases, Seq(id, "__island"))
      .groupBy(col(id), col("tok"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .withColumn("__ws",
        d12(col("__deg").cast("double") / col("__freq").cast("double")))
    val scored = isl.join(wordStats, Seq(id, "tok"))
      .groupBy(col(id), col("__island"))
      .agg(sum(col("__ws")).as("__s"))
    val perPhrase = phrases.join(scored, Seq(id, "__island"))
      .groupBy(col(id), col("phrase"))
      .agg(max(col("__s")).as("__s"), count(lit(1)).as("n_occurrences"))
    val wRank = Window.partitionBy(col(id))
      .orderBy(col("__s").desc, col("phrase"))
    perPhrase.withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col(id), col("phrase"),
        col("__s").cast("double").as("rake_score"),
        col("n_occurrences"), col("rank"))
  }

  /** Zipf rank–frequency fit over the corpus vocabulary: least-squares
    * slope/intercept of ln(freq) against ln(rank) for the `topN` most
    * frequent tokens — the curation health check on any scraped corpus
    * (natural language sits near slope −1; a template-dominated or
    * boilerplate-heavy crawl bends visibly away, and the fit quantifies
    * it). Token ranks are (freq desc, token asc) — a total order, so
    * the fitted sample is identical across engines.
    *
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept = ȳ − m·x̄;
    * every Σ quantizes its double ln-products to DECIMAL(30,12) first
    * (the repo's ln-quantization pattern — order-independent sums), the
    * closing arithmetic is a handful of IEEE ops, and the result
    * surfaces as FLOAT. One token aggregation (map-side combined) + a
    * topN window over the |vocabulary| frame — the corpus is scanned
    * once; nothing occurrence-sized is shuffled twice. */
  def zipfFit(df: DataFrame, text: String = "text", topN: Int = 100): DataFrame = {
    require(topN >= 2, s"need at least two ranks to fit a line, got $topN")
    val d30 = (c: Column) => c.cast("decimal(30,12)")
    val freqs = df
      .select(explode(tokens(col(text))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(col("freq").desc, col("tok"))
    val ranked = freqs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    ranked.agg(
        count(lit(1)).as("n"),
        sum(d30(col("x"))).cast("double").as("sx"),
        sum(d30(col("y"))).cast("double").as("sy"),
        sum(d30(col("x") * col("y"))).cast("double").as("sxy"),
        sum(d30(col("x") * col("x"))).cast("double").as("sxx"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .cast("float").as("zipf_slope"),
        ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n")).cast("float").as("zipf_intercept"))
  }
}
