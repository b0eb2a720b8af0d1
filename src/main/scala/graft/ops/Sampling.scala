package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling, splitting and mixing for training-data
  * pipelines.
  *
  * All "randomness" is md5-derived from the row's stable id, never
  * `rand()`: a row's fate is a pure function of its key, so results are
  * reproducible across runs, task retries, cluster sizes — and engines,
  * which lets the DuckDB oracle replay every decision bit-for-bit.
  * Every operator is a pure map or a salted bounded window — the shapes
  * that scale linearly to 100 TB.
  */
object Sampling {

  /** Uniform deterministic bucket in [0, buckets): the first 8 hex chars
    * of md5(tag ++ id) as an unsigned int, mod buckets. The `tag`
    * decorrelates independent decisions on the same id (a row's
    * train/test split must not correlate with its mixture draw). */
  def hashBucket(id: Column, buckets: Int, tag: String = ""): Column =
    conv(substring(md5(concat(lit(tag), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Train/validation/test split by hash bucket. Deterministic and
    * stable under corpus growth: a row's split never changes when other
    * rows are added or removed (unlike `randomSplit`), which is what
    * makes incremental re-runs of a 100 TB pipeline reproducible. */
  def hashSplit(df: DataFrame, id: String, trainPct: Int = 90, valPct: Int = 5,
                out: String = "split"): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val b = hashBucket(col(id), 100, tag = "split:")
    df.withColumn(out,
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * md5-bucket of the id, so a row's fold never changes as the corpus
    * grows (the [[hashSplit]] stability argument) and training jobs on
    * 1000 executors agree on every assignment with zero coordination —
    * one codegen'd map, no shuffle, no state. Hash folds are
    * asymptotically stratified (each stratum splits ~1/k per fold
    * without any per-stratum ranking, which would cost a shuffle and a
    * per-stratum window at scale); pair with a balance AUDIT query
    * rather than forcing exact stratification the training run doesn't
    * need. */
  def kFold(df: DataFrame, id: String, k: Int, out: String = "fold"): DataFrame = {
    require(k >= 2, s"need at least 2 folds, got $k")
    df.withColumn(out, hashBucket(col(id), k, tag = "fold:"))
  }

  /** Per-stratum deterministic sample of up to `n` rows: rank rows
    * inside each stratum by md5(id) — a uniform but replayable order —
    * and keep the first n. Two-phase (salted partial rank, then final
    * rank over ≤ salts·n survivors per stratum) so a hot stratum never
    * pins a single reducer; provably identical output to the one-window
    * form because the global first-n is contained in the per-salt
    * first-n. */
  def stratifiedSample(df: DataFrame, stratum: String, id: String, n: Int,
                       salts: Int = 32): DataFrame = {
    val key = md5(concat(lit("sample:"), col(id).cast("string")))
    val w1 = Window.partitionBy(col(stratum), col("__salt"))
      .orderBy(key, col(id))
    val w2 = Window.partitionBy(col(stratum)).orderBy(key, col(id))
    df.withColumn("__salt", Skew.salt(col(id), salts))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= n)
      .withColumn("sample_rank", row_number().over(w2).cast("long"))
      .filter(col("sample_rank") <= n)
      .drop("__salt", "__r1")
  }

  /** Weighted corpus mixing: keep each row with its domain's probability
    * (a training-mixture downsample, e.g. en→0.5, code→1.0). The draw is
    * hash-threshold per row — one codegen'd map, no shuffle, no join —
    * and uses its own hash tag so mixture draws stay independent of
    * [[hashSplit]] decisions on the same ids. Domains absent from
    * `weights` keep `default`. Weights are quantized to 1/10000. */
  def weightedMix(df: DataFrame, id: String, domain: String,
                  weights: Map[String, Double], default: Double = 1.0): DataFrame = {
    // round, don't truncate: (0.29 * 10000).toInt is 2899 under binary
    // float, silently shifting the keep-probability by 1e-4
    val thresh = weights.toSeq.sortBy(_._1).foldLeft(lit(math.round(default * 10000).toInt): Column) {
      case (acc, (dom, w)) => when(col(domain) === dom, lit(math.round(w * 10000).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(col(id), 10000, tag = "mix:") < thresh)
  }

  /** Exact quantile-band filter: keep rows whose `value` has
    * fraction-below in [lo, hi) — the outlier trim (e.g. drop the
    * shortest 5% and longest 5% of documents) curation pipelines run
    * before training. The ranking runs on the DISTINCT-value histogram
    * (groupBy(value)), and the fraction-below rides
    * [[Ranking.withRunningTotals]]'s distributed prefix sum — a
    * continuous value column's distinct ledger is ≈ row-sized, so a
    * single-task running-sum window here would funnel the corpus at
    * 100×; with the ledger machinery the only corpus-sized shuffle is
    * the value semi-join. Exact (not approximate) and therefore
    * engine-replayable. */
  def quantileBand(df: DataFrame, value: String, lo: Double, hi: Double): DataFrame = {
    require(0.0 <= lo && lo < hi && hi <= 1.0, s"need 0 <= lo < hi <= 1, got [$lo, $hi)")
    // NULL values have no quantile: exclude them from the histogram AND
    // the total (a null would otherwise count as "below" every real
    // value and silently shift the whole band); null rows are dropped
    // from the output (a null key never matches the semi join)
    val nonNull = df.filter(col(value).isNotNull)
    val hist = nonNull.groupBy(col(value)).agg(count(lit(1)).as("__c"))
    // EXCLUSIVE fraction-below = inclusive prefix sum − own count
    val ranked = Ranking.withRunningTotals(hist, Seq.empty, Seq(col(value)),
        Seq("__c" -> "__cum"))
      .withColumn("__below", col("__cum") - col("__c"))
    // the total is derivable from the ledger the prefix sum already
    // checkpointed — never a second corpus scan
    val total = ranked.agg(sum(col("__c")).as("__n"))
    val band = Attach(ranked, total)
      .filter(col("__below") >= lit(lo) * col("__n") &&
        col("__below") < lit(hi) * col("__n"))
      .select(col(value))
    df.join(band, Seq(value), "left_semi")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): each row
    * draws a deterministic uniform u ∈ (0,1) from md5(id) and gets the
    * exponential key −ln(u)/w; the n SMALLEST keys per stratum are the
    * sample. This is the standard reservoir-free form of PPS-without-
    * replacement: selecting the n smallest exponential keys is
    * distributionally identical to n sequential weighted draws without
    * replacement. Deterministic (u is a pure function of the id, never
    * `rand()`), so the sample is stable under re-runs, task retries and
    * engine replay.
    *
    * u uses 52 md5 bits (13 hex chars) so it is exactly representable in
    * a double; the +0.5 offset keeps u strictly inside (0,1) (u = 0
    * would make the key infinite). Key comparisons are tie-broken by id,
    * which also absorbs the only cross-engine risk — a ≤1-ulp `ln`
    * difference matters only when two keys collide to that precision.
    *
    * Rows with null or non-positive weight carry no sampling mass and
    * are excluded (E-S is undefined for w ≤ 0); weights need not be
    * normalized. Scale: the same salted two-phase top-n as
    * [[stratifiedSample]] — the per-salt first-n provably contains the
    * global first-n, so a hot stratum never pins one reducer and no
    * corpus-sized global window exists. */
  def weightedSampleWithoutReplacement(df: DataFrame, id: String, weight: Column,
                                       n: Int, stratum: Option[String] = None,
                                       salts: Int = 32): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    // 13 hex chars = 52 bits: the largest md5 prefix a double holds exactly
    val u = (conv(substring(md5(concat(lit("wor:"), col(id).cast("string"))), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val key = -log(u) / weight.cast("double")
    val strat = stratum.map(col).getOrElse(lit(0))
    val w1 = Window.partitionBy(strat, col("__salt")).orderBy(col("__es_key"), col(id))
    val w2 = Window.partitionBy(strat).orderBy(col("__es_key"), col(id))
    df.filter(weight.isNotNull && weight.cast("double") > 0)
      .withColumn("__es_key", key)
      .withColumn("__salt", Skew.salt(col(id), salts))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= n)
      .withColumn("wor_rank", row_number().over(w2).cast("long"))
      .filter(col("wor_rank") <= n)
      .drop("__salt", "__r1", "__es_key")
  }

  /** Temperature-flattened mixture sampling (the UNIMAX / multilingual
    * T-sampling shape): domain d gets a share ∝ count(d)^α of a fixed
    * `total` budget — α = 1 keeps natural proportions, α → 0 flattens
    * toward uniform, so low-resource domains stop drowning (the
    * standard knob for multilingual pretraining mixes). Within each
    * domain the rows are the deterministic md5-ranked prefix (the
    * [[stratifiedSample]] order), so the draw replays bit-for-bit.
    *
    * α is restricted to {1, 0.5, 0.25}: those powers evaluate as
    * repeated `sqrt`, which IEEE specifies EXACTLY (correctly rounded),
    * where a general `pow` is library-dependent — the same reasoning
    * that quantizes every ln in this repo. Budget shares floor-truncate
    * (Σ allocations ≤ total; the remainder is dropped, not
    * redistributed — documented, deterministic). Scale: one |domains|
    * aggregate + the salted two-phase rank of [[stratifiedSample]];
    * the allocation frame is |domains| rows — BROADCAST only while a
    * bounded `limit(n+1).count()` probe proves it fits
    * `maxBroadcastDomains` (mixture components are usually config-
    * scale — languages, sources — but nothing FORCES that; per-site or
    * per-author "domains" are data-sized, and above the threshold the
    * join falls back to a plain hash join — same rows either way). */
  def temperatureSample(df: DataFrame, id: String, domain: String,
                        total: Long, alpha: Double = 0.5,
                        salts: Int = 32,
                        maxBroadcastDomains: Int = 1000000): DataFrame = {
    require(Set(1.0, 0.5, 0.25)(alpha),
      s"alpha must be 1, 0.5 or 0.25 (exactly replayable powers), got $alpha")
    require(total > 0, s"total budget must be positive, got $total")
    val pow: Column => Column = alpha match {
      case 1.0 => identity
      case 0.5 => sqrt
      case 0.25 => c => sqrt(sqrt(c))
    }
    val counts = df.groupBy(col(domain))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__w", pow(col("__c").cast("double")))
    val z = counts.agg(
      sum(col("__w").cast("decimal(30,12)")).cast("double").as("__z"))
    val alloc = Attach(counts, z)
      .select(col(domain),
        floor(lit(total) * (col("__w") / col("__z"))).as("__n"))
    // bounded probe: scans at most maxBroadcastDomains+1 allocation
    // rows (re-runs the |domains| aggregate once — cheap next to the
    // corpus rank below)
    val over =
      alloc.limit(maxBroadcastDomains + 1).count() > maxBroadcastDomains
    // PlanAudit: sample_temperature_mix 6 exch with this hint, 4 without (sf0.01 and sf0.1)
    val allocSide = if (over) alloc else broadcast(alloc)
    val key = md5(concat(lit("temp:"), col(id).cast("string")))
    val w1 = Window.partitionBy(col(domain), col("__salt")).orderBy(key, col(id))
    val w2 = Window.partitionBy(col(domain)).orderBy(key, col(id))
    df.join(allocSide, domain)
      .withColumn("__salt", Skew.salt(col(id), salts))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= col("__n"))
      .withColumn("sample_rank", row_number().over(w2).cast("long"))
      .filter(col("sample_rank") <= col("__n"))
      .drop("__salt", "__r1", "__n")
  }

  /** Domain upsampling with replacement — the "epochs per domain" form of
    * a training mixture (weights may exceed 1; weights < 1 degrade to a
    * [[weightedMix]]-style keep). Each row emits
    * `floor(w) + (hash(id) < frac(w))` copies, so every domain's expected
    * multiplicity is exactly its weight while staying a pure deterministic
    * map + per-row explode (no shuffle, replayable under task retry, and
    * a row's copy count never changes when the corpus grows). `copy_idx`
    * distinguishes the replicas downstream (e.g. for shuffling salts). */
  def upsample(df: DataFrame, id: String, domain: String,
               weights: Map[String, Double], default: Double = 1.0): DataFrame = {
    val wq = weights.toSeq.sortBy(_._1).foldLeft(lit(math.round(default * 10000).toInt): Column) {
      case (acc, (dom, w)) => when(col(domain) === dom, lit(math.round(w * 10000).toInt)).otherwise(acc)
    }
    val copies = (wq / 10000).cast("int") +
      when(hashBucket(col(id), 10000, tag = "up:") < wq % 10000, 1).otherwise(0)
    // alias the generator output explicitly: posexplode's default names
    // (pos/col) could collide with — and then rename/drop — a caller's
    // own columns
    df.withColumn("__copies", copies)
      .select(col("*"),
        posexplode(array_repeat(lit(1), col("__copies")))
          .as(Seq("copy_idx", "__upsample_one")))
      .withColumn("copy_idx", col("copy_idx").cast("long"))
      .drop("__upsample_one", "__copies")
  }
}
