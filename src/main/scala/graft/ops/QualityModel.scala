package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — classifier INFERENCE at corpus scale.
  *
  * Production LLM curation pipelines follow their heuristic filters with
  * a trained quality classifier (a fastText-style linear model over
  * token features) and keep/drop documents on its score. This operator
  * implements that step natively: add-one-smoothed naive-Bayes log-odds
  * weights fit on a labeled slice, then a broadcast-join scoring pass —
  * the whole "train on last month's labels, score this month's crawl"
  * loop without leaving the engine.
  *
  * Reference anchor: the quality gating this generalizes is the
  * reference's schema/null DQ gate (scripts/transform.py:81-111);
  * the model-based form is the LLM-pipeline extension (SURVEY §2.13).
  *
  * Scale shape (the 100 TB argument):
  *  - fitting is two hash aggregations over exploded tokens (doc×token,
  *    then token) — linear, fully parallel, no windows;
  *  - the vocabulary is df-capped (`minDf` prunes hapax noise), so the
  *    weight table is bounded and BROADCAST to the scoring join — the
  *    corpus-sized side never shuffles;
  *  - scoring is explode → broadcast hash join → per-doc sum: one
  *    exchange keyed by doc, no all-pairs anywhere.
  *
  * Cross-engine exactness (the DuckDB-oracle argument): each ln runs on
  * a ratio of exact integers (deterministic IEEE double), is quantized
  * to DECIMAL(20,12) immediately, and every downstream step — the
  * pos−neg subtraction and the per-occurrence document sum — is exact
  * decimal arithmetic, so document scores are bit-reproducible across
  * engines and partitionings (the [[Vocab.unigramLogProb]] recipe).
  */
object QualityModel {

  import TextAnalysis.d12

  /** Per-token add-one-smoothed log-odds weights from labeled documents:
    *
    *   w(t) = ln((tf⁺(t)+1)/(N⁺+V)) − ln((tf⁻(t)+1)/(N⁻+V))
    *
    * where tf± are class token counts, N± class totals and V the vocab
    * size, all over the df-capped vocabulary (a token must appear in at
    * least `minDf` distinct training documents; totals and V are
    * computed over the SAME capped space, keeping each class factor a
    * proper smoothed distribution).
    *
    * `labelCol` must be a NON-NULL boolean column (true = positive/keep
    * class) — a null label would silently form a third class (counted in
    * df and V, in neither total), so it fails the job loudly instead;
    * callers with nullable labels decide the mapping themselves
    * (`coalesce(label, false)`), as the shipped query does. Returns
    * (token, n_docs, tf_pos, tf_neg, w) with `w` an exact
    * DECIMAL(21,12); the result is bounded by vocabulary size and meant
    * to be broadcast by [[score]].
    *
    * NOTE the fitting aggregations run EAGERLY at call time
    * ([[Cut]], like [[Vocab.unigramLogProb]]): the weight table
    * feeds both the scalar pass and the scoring join, and without the
    * cut the explode→agg chain would execute twice. Consequence for
    * plan auditing: a downstream plan (e.g. `text_quality_nb`'s budget
    * row) shows the scoring stage only — the fit stage's two exchanges
    * live in jobs already run at construction.
    */
  def logOddsWeights(docs: DataFrame, labelCol: String,
                     id: String = "doc_id", text: String = "text",
                     minDf: Int = 2): DataFrame = {
    // per-(doc, token) tf first: one row per containing doc makes df a
    // plain count(*) in the token-level pass (no count-distinct)
    val docTf = docs
      // assert_true returns null on success, throws otherwise; the
      // isNull predicate keeps every valid row AND forces evaluation
      // (the Cdc.apply guard pattern)
      .where(assert_true(col(labelCol).isNotNull,
        lit(s"logOddsWeights: null label in $labelCol — coalesce it first")).isNull)
      .select(col(id), col(labelCol).as("__pos"),
        explode(TextAnalysis.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(id), col("__pos"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // the scoring join and the scalar pass both consume this; cut the
    // explode+agg lineage once instead of running it twice
    val vocab = Cut(docTf.groupBy(col("token"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__pos"), col("tf")).otherwise(lit(0L))).as("tf_pos"),
        sum(when(!col("__pos"), col("tf")).otherwise(lit(0L))).as("tf_neg"))
      .filter(col("n_docs") >= minDf))
    // class totals + vocab size: one scalar row, broadcast to every task
    val scal = vocab.agg(
      count(lit(1)).as("__v"),
      sum(col("tf_pos")).as("__npos"),
      sum(col("tf_neg")).as("__nneg"))
    Attach(vocab, scal)
      .withColumn("w",
        d12(log((col("tf_pos") + 1).cast("double") /
                (col("__npos") + col("__v")).cast("double"))) -
        d12(log((col("tf_neg") + 1).cast("double") /
                (col("__nneg") + col("__v")).cast("double"))))
      .select(col("token"), col("n_docs"), col("tf_pos"), col("tf_neg"), col("w"))
  }

  /** Score documents with a fitted weight table: per-document sum of the
    * weights of its token occurrences (out-of-vocabulary tokens
    * contribute zero — the add-one mass for unseen tokens cancels in the
    * log-odds difference only approximately, and dropping OOV is the
    * standard, replayable choice). Documents with no tokens score 0.
    *
    * Returns (id, n_tok, nb_llr DECIMAL, pred) — `pred` is 1 when the
    * log-likelihood ratio favors the positive class.
    *
    * The weight table is |training vocab| rows — BROADCAST only while
    * a bounded `limit(n+1).count()` probe proves it fits
    * `maxBroadcastVocab` (a 100 TB corpus's raw vocabulary is
    * data-sized); above the threshold the token join falls back to a
    * plain hash join — same rows either way.
    */
  def score(docs: DataFrame, weights: DataFrame,
            id: String = "doc_id", text: String = "text",
            maxBroadcastVocab: Int = 1000000): DataFrame = {
    val zero = lit(0).cast("decimal(20,12)")
    val wt = weights.select(col("token"), col("w"))
    val over = wt.limit(maxBroadcastVocab + 1).count() > maxBroadcastVocab
    // PlanAudit sf0.1, 1 MB threshold: text_quality_nb 3 exch/0 SMJ with this hint, 5/1 without
    val wtSide = if (over) wt else broadcast(wt)
    // explode_outer keeps zero-token documents as a null-token row, so
    // every input document gets a scored output row in the same pass —
    // no corpus-sized re-join against the input
    docs
      .select(col(id),
        explode_outer(filter(TextAnalysis.tokens(col(text)),
          t => length(t) > 0)).as("token"))
      .join(wtSide, Seq("token"), "left")
      .groupBy(col(id))
      .agg(
        count(col("token")).as("n_tok"),
        coalesce(sum(col("w")), zero).as("nb_llr"))
      .withColumn("pred",
        when(col("nb_llr") > 0, lit(1)).otherwise(lit(0)))
  }
}
