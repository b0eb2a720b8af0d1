package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** sf1 SCALE SMOKE: times the heavy query family at ~10× the bench
  * scale to catch super-linear plans that sf0.1 cannot expose.
  *
  * The driver ships no sf1 lake, so this tool synthesizes one ONCE
  * under /tmp by replicating the read-only sf0.1 tables 10× with
  * key-space offsets (never touching /root/testdata):
  *  - ids (doc_id, vec_id, event_id, user_id, o_orderkey, o_custkey)
  *    shift by replica·stride so the key population really grows 10× —
  *    scaling rows under a FIXED key set would mismeasure every
  *    per-key window/groupBy (10× rows per key instead of 10× keys);
  *  - document text gets a per-replica suffix token so the near-dup
  *    structure replicates instead of every replica becoming an exact
  *    dup of replica 0 (which would blow candidate buckets 100× and
  *    measure a pathology, not scaling);
  *  - embeddings/timestamps are carried as-is (vector values don't
  *    affect plan shape; the event time-range staying fixed while
  *    users grow 10× is the realistic growth axis for sessionize /
  *    gap-fill grids).
  *
  * This synthetic lake feeds ONLY this timing smoke — correctness
  * stays exclusively on the driver's testdata + DuckDB oracle.
  *
  * Usage: runMain graft.tools.ScaleSmoke [srcDir] [dstDir] [copies] [onlyCsv]
  *  - srcDir:  source lake (default /root/testdata/sf0.1)
  *  - dstDir:  where the synthetic lake lives (default /tmp/graft_sf1)
  *  - copies:  replication factor (default 10; 30 ≈ sf3 — the second
  *             scale decade)
  *  - onlyCsv: comma list restricting the run to those queries
  * Prints one JSON line per query: median-of-3 seconds at the
  * synthetic scale next to the same measurement at sf0.1, and the
  * resulting scale factor.
  */
object ScaleSmoke {

  val heavy: Seq[String] = Seq(
    "dedup_exact_text", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_jaccard_pairs", "dedup_survivors",
    "dedup_incremental", "dedup_clusters", "decontaminate_docs",
    "sim_cosine_topk", "sim_ivf_data_topk", "sim_ivf_refined_topk",
    "sim_ivf_build", "sim_ivf_persisted", "sim_pq_topk",
    "sim_lsh_buckets", "emb_standardize", "emb_near_dup",
    "scd2_priority", "sessionize_events", "ts_gap_fill",
    "er_fuzzy_pairs", "dedup_clusters_star", "text_bigram_lm",
    "cusum_drift", "sample_winsorize", "w_ewma", "sim_ivf_append",
    "dedup_substring", "text_quality_nb",
    "sim_ivfpq_topk", "sim_ivfpq_persisted",
    "sim_sq8_topk", "emb_semantic_dedup",
    // retrieval tier, lake maintenance and sampling
    "text_bm25_topk", "retrieval_rrf_fusion", "sample_weighted_wor",
    "bloom_semi_join", "mv_incremental_refresh", "w_rolling_median",
    "lake_compact_roundtrip", "lake_timetravel",
    // graph_pagerank deliberately NOT here: replicating documents
    // multiplies every shared shingle's df out of the 2–4 rare band, so
    // the synthetic lake's graph SHRINKS with copies — the smoke would
    // measure a vanishing input, not the operator
    "emb_covariance", "emb_pca_project", "sample_temperature_mix",
    // graph_triangles / graph_khop share the same caveat (their input
    // graph SHRINKS under replication): their scaling is measured over
    // synthetic graphs with a true ×10/×30 edge axis instead
    "corr_series_pairs", "beta_vs_market", "hist_equi_depth",
    "skyline_pareto", "ts_ohlc_weekly")

  def replicate(df: DataFrame, copies: Int, idCols: Seq[String],
                stride: Long, textCol: Option[String] = None): DataFrame = {
    // fail loudly when a replica's shifted key space would collide with
    // the next replica's (an srcDir larger than the strides assume
    // would otherwise synthesize phantom duplicate keys and measure a
    // pathology, not scaling) — one tiny agg job per table, build-time
    val maxes = idCols.map(c => max(col(c)))
    val mx = df.agg(
      if (maxes.size == 1) maxes.head else greatest(maxes: _*)).head().getLong(0)
    require(mx < stride,
      s"replicate: max(${idCols.mkString(",")}) = $mx >= stride $stride — " +
        "raise the stride for this source scale")
    val rep = df.withColumn("__r",
      explode(sequence(lit(0L), lit(copies - 1L))))
    val shifted = idCols.foldLeft(rep) { (d, c) =>
      d.withColumn(c, col(c) + col("__r") * stride)
    }
    textCol.fold(shifted) { t =>
      shifted.withColumn(t,
        when(col("__r") === 0, col(t))
          .otherwise(concat(col(t), lit(" rep"), col("__r"))))
    }.drop("__r")
  }

  def synthesize(spark: SparkSession, src: String, dst: String,
                 copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // strides: past the max key of the source table at sf0.1
    write(replicate(read("documents"), copies, Seq("doc_id"), 100000L,
      textCol = Some("text")), "documents")
    write(replicate(read("embeddings"), copies, Seq("vec_id"), 1000000L),
      "embeddings")
    write(replicate(read("events"), copies, Seq("event_id", "user_id"),
      10000000L), "events")
    write(replicate(read("orders"), copies, Seq("o_orderkey", "o_custkey"),
      10000000L), "orders")
    // lineitem rides the same stride as orders so the replicas' join
    // keys stay paired (bloom_semi_join probes l_orderkey ∈ orders keys)
    write(replicate(read("lineitem"), copies, Seq("l_orderkey"), 10000000L),
      "lineitem")
    // names re-derive from the shifted key (c_name is "Customer#%09d"):
    // carrying replica-0 names verbatim would put 10 copies in every
    // er_fuzzy block, blowing them past maxBlock and dropping them all
    write(replicate(read("customer"), copies, Seq("c_custkey"), 1000000L)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "customer")
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    // copies > 10 gives the SECOND scale decade (e.g. 30 ≈ sf3): two
    // measured points on the growth curve distinguish "sublinear in its
    // work" from "looked sublinear once"; an optional comma list limits
    // the run to the queries under investigation
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3).map(_.split(',').toSet)
    val spark = GraftSession.local("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    // completion marker, not a table probe: a run killed mid-synthesize
    // must re-synthesize, not resume against a half-built lake. The
    // marker RECORDS the copies it was built with — a dst synthesized at
    // one scale must not be silently reused for a run labeled another
    // (the timings would be ×old-scale data under a ×new-scale label).
    val marker = new java.io.File(s"$dst/_SMOKE_COMPLETE")
    val markerCopies =
      if (marker.exists())
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          marker.toPath), "UTF-8").trim.toInt).toOption
      else None
    if (!markerCopies.contains(copies)) {
      markerCopies.foreach(c => println(
        s"[smoke] $dst was built with copies=$c, need $copies — re-synthesizing"))
      if (marker.exists()) marker.delete()
      println(s"[smoke] synthesizing $dst from $src x$copies")
      synthesize(spark, src, dst, copies)
      java.nio.file.Files.write(marker.toPath,
        s"$copies\n".getBytes("UTF-8"))
      ()
    }
    def median3(fn: () => Long): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }
    def r2(v: Double) = math.round(v * 100).toDouble / 100
    // `only` selects from the FULL query inventory (not just `heavy`),
    // and unknown names fail loudly — a scale-evidence run that silently
    // measured nothing must be impossible
    val sel = only.fold(heavy) { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"ScaleSmoke: unknown queries ${unknown.toSeq.sorted.mkString(",")}")
      o.toSeq.sorted
    }
    // NOTE a selected query can still fail mid-run — e.g. one over a
    // table synthesize() doesn't replicate (lineitem). Pre-flighting is
    // not free (several queries run eager fit/build jobs at plan
    // CONSTRUCTION), so instead the partial results survive: see the
    // catch below, which emits every already-measured query before
    // rethrowing.
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    def smokeLine(partial: Boolean) =
      done.mkString(
        s"""{"metric":"scale_smoke","copies":$copies,"partial":$partial,"queries":{""",
        ",", "}}")
    try sel.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t01 = median3(() => fn(spark, src).count())
      val t1 = median3(() => fn(spark, dst).count())
      val ratio = if (t01 > 0) t1 / t01 else -1
      println(f"[smoke] $name%-24s base ${t01}%6.2fs  x$copies ${t1}%6.2fs  ratio x${ratio}%5.2f")
      done += s""""$name":{"sf01":${r2(t01)},"scaled":${r2(t1)},"ratio":${r2(ratio)}}"""
    } catch { case e: Throwable =>
      // the measurements already paid for must not vanish with the
      // crash — but a partial line must never read as complete evidence
      println(smokeLine(partial = true))
      throw e
    }
    // no-silent-caps: when the simhash pair query is under test, report
    // what its maxBucket cap dropped at the synthetic scale — the cap is
    // the claimed bound on production density, so its engagement (or
    // proven non-engagement: zero rows) must be a measured number
    if (sel.contains("dedup_simhash_pairs")) {
      val docs = spark.read.parquet(s"$dst/documents.parquet")
      val dropped = graft.ops.Dedup.simhashDroppedBuckets(
          docs, "doc_id", "text", maxBucket = 10000)
        .agg(count(lit(1)), coalesce(sum(col("n_members")), lit(0L)))
        .head()
      println(s"""{"metric":"simhash_dropped_buckets","copies":$copies,""" +
        s""""n_buckets":${dropped.getLong(0)},"n_rows":${dropped.getLong(1)}}""")
    }
    // no-silent-caps, semantic flavor: when emb_semantic_dedup is under
    // test, ALSO time the CAPPED variant at the synthetic scale and
    // report what the cap dropped. The uncapped timing above exposes
    // the fixed-k Σ|cluster|² boundary on purpose; this line shows the
    // bound maxCluster buys and proves the engagement was measured
    // (n_dropped_clusters > 0), never assumed.
    if (sel.contains("emb_semantic_dedup")) {
      val emb = spark.read.parquet(s"$dst/embeddings.parquet")
      val cents = graft.ops.Similarity.dataCentroids(
        emb, "vec_id", "embedding", k = 16)
      // 2500 sits between the ×10 mean cluster (~1250 of 20k rows / 16
      // lists) and the ×30 mean (~3750): the ×10 line proves measured
      // NON-engagement, the ×30 line proves the bound with the cap
      // live — both ends of the observer's contract
      val maxCluster = 2500
      val t = median3(() => graft.ops.Similarity.semanticDedup(
        emb, "vec_id", "embedding", cents, threshold = 0.35,
        maxCluster = maxCluster).count())
      val dropped = graft.ops.Similarity.semanticDroppedClusters(
          emb, "vec_id", "embedding", cents, maxCluster)
        .agg(count(lit(1)), coalesce(sum(col("n_members")), lit(0L)))
        .head()
      println(s"""{"metric":"semantic_dedup_capped","copies":$copies,""" +
        s""""max_cluster":$maxCluster,"sec":${r2(t)},""" +
        s""""n_dropped_clusters":${dropped.getLong(0)},""" +
        s""""n_dropped_rows":${dropped.getLong(1)}}""")
    }
    // no-silent-claims, runtime-filter flavor: when bloom_semi_join is
    // under test, report the sketch's PRE-SHUFFLE cut at the synthetic
    // scale — survivors / total is the fraction of the fact table that
    // ever reaches the join's exchange, the number the operator exists
    // to shrink (sized to the scaled key count; fpp stays ~1%)
    if (sel.contains("bloom_semi_join")) {
      val li = spark.read.parquet(s"$dst/lineitem.parquet")
      val hot = spark.read.parquet(s"$dst/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      val bytes = graft.ops.RuntimeFilter.bloomFor(hot, "o_orderkey")
      val total = li.count()
      val surv = li.filter(graft.ops.RuntimeFilter.mightContain(
        col("l_orderkey"), bytes)).count()
      println(s"""{"metric":"bloom_prefilter_cut","copies":$copies,""" +
        s""""fact_rows":$total,"survivors":$surv,""" +
        s""""kept_frac":${r2(surv.toDouble / total)}}""")
    }
    println(smokeLine(partial = false))
    spark.stop()
  }
}
