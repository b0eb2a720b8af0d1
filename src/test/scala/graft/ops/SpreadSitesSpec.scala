package graft.ops

import graft.SparkSpec
import scala.jdk.CollectionConverters._

/** Pins the round-18 wave-2 rebalance sites: operators whose
  * compute-dense pre-shuffle stage consumes a raw scan must route that
  * stage through [[Skew.spread]], so a one-split corpus (the
  * OPTIMIZATION_r18.md §2.1 finding: 780 KB of embeddings = ONE file
  * split = the whole n² cosine product in ONE task) parallelizes to the
  * cluster width. The pin is structural — a RoundRobinPartitioning
  * exchange in the pre-execution plan of each operator over a
  * deliberately single-split parquet scan —
  * because the result rows are partitioning-invariant by the repo's
  * standing exactness contracts (verified separately by each operator's
  * own spec + the DuckDB oracles).
  */
class SpreadSitesSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[String]

  override def afterAll(): Unit = {
    tempDirs.foreach { d =>
      val root = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    super.afterAll()
  }

  private def oneSplitParquet(write: String => Unit): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_site")
      .toString
    tempDirs += dir
    write(dir)
    dir
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Round-robin exchanges in the executed plans of every Dataset action
    * `body` runs whose analyzed plan mentions `tag` — eager checkpoints
    * included, whose plans the returned frame no longer shows. A
    * sentinel action is waited for on the listener, so the bus has
    * delivered every earlier event. */
  private def roundRobinsRunBy(tag: String)(body: => Unit): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val sentinel = s"${tag}_sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def mentions(qe: QueryExecution, s: String) = qe.analyzed.toString.contains(s)
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(mentions(_, sentinel)) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(mentions(_, sentinel)),
        "the sentinel action never reached the listener")
      val helper = new AdaptiveSparkPlanHelper {}
      seen.asScala.filter(qe => mentions(qe, tag) && !mentions(qe, sentinel))
        .map(qe => helper.collect(qe.executedPlan) {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
        }.size).sum
    } finally spark.listenerManager.unregister(listener)
  }

  test("queryProductJoin broadcast branch spreads a one-split candidate " +
      "scan when the query side is fat, and leaves it alone when thin") {
    val dir = oneSplitParquet { d =>
      (0L until Similarity.SpreadMinQueries + 8).map(i =>
          (i, Array.fill(4)(i.toDouble + 1)))
        .toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(d)
    }
    val emb = spark.read.parquet(dir)
    // fat query side (all-pairs, the LOF/audit shape): rebalanced
    val fat = planOf(Similarity.bruteForceTopK(
      emb, emb, id = "vec_id", vec = "embedding", k = 3))
    assert(fat.contains("RoundRobinPartitioning"),
      s"expected the candidate side rebalanced, plan:\n$fat")
    // thin query side (probe top-k): per-candidate work is |Q| kernel
    // evals — too little to repay the exchange, measured at sf0.1
    val thin = planOf(Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 4), emb, id = "vec_id", vec = "embedding", k = 3))
    assert(!thin.contains("RoundRobinPartitioning"),
      s"expected NO rebalance under ${Similarity.SpreadMinQueries} queries, plan:\n$thin")
  }

  test("pqTopK / sq8TopK spread the COMPACT codes frame — reconstruction " +
      "stays above the rebalance exchange") {
    val dir = oneSplitParquet { d =>
      (0L until Similarity.SpreadMinQueries + 8).map(i =>
          (i, Array.fill(4)(i.toDouble + 1)))
        .toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(d)
    }
    val emb = spark.read.parquet(dir)
    // [m][k][sub] literal codebooks: m=2 subspaces of dim 2, 16 codewords
    val cbs: Array[Array[Array[Double]]] =
      Array.tabulate(2)(_ => Array.tabulate(16)(j => Array.fill(2)(j.toDouble + 1)))
    val pq = planOf(Similarity.pqTopK(
      emb, emb, id = "vec_id", vec = "embedding", codebooks = cbs, k = 3))
    // the exchange subtree (printed after its node, top-down tree) must
    // not contain the reconstruction — codes cross the wire, not arrays
    val at = pq.indexOf("RoundRobinPartitioning")
    assert(at >= 0, s"expected the codes scan rebalanced, plan:\n$pq")
    assert(!pq.substring(at).contains("recon"),
      s"reconstruction must sit ABOVE the rebalance exchange, plan:\n$pq")
    val (mins, maxs) = (Array.fill(4)(0.0), Array.fill(4)(300.0))
    val sq = planOf(Similarity.sq8TopK(
      emb, emb, id = "vec_id", vec = "embedding", mins, maxs, k = 3))
    val at2 = sq.indexOf("RoundRobinPartitioning")
    assert(at2 >= 0, s"expected the codes scan rebalanced, plan:\n$sq")
    assert(!sq.substring(at2).contains("recon"),
      s"reconstruction must sit ABOVE the rebalance exchange, plan:\n$sq")
  }

  test("coocEdges spreads a one-split documents scan before the shingle " +
      "explode (graph_edge_build / graph_edges_append derivation leg)") {
    val dir = oneSplitParquet { d =>
      (0L until 32L).map(i =>
          (i, s"alpha beta gamma delta token$i token${i + 1} token${i + 2}",
            "en", "seed", 40L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    }
    // pin the PRE-CHECKPOINT shingle frame: coocEdges cuts it eagerly,
    // which hides the rebalance from the final plan
    val plan = planOf(graft.queries.TextQueries.coocShingles(spark, dir))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the documents scan rebalanced before shingling, plan:\n$plan")
  }

  test("ivfProbe spreads a one-split postings scan when the caller " +
      "declares a fat probe side (spreadPostings), and not by default") {
    val dir = oneSplitParquet { d =>
      (0L until 64L).map(i =>
          (i, Array.fill(4)(i.toDouble + 1), (i % 2).toInt))
        .toDF("neighbor_id", "cv", "centroid_id")
        .coalesce(1).write.mode("overwrite").parquet(d)
    }
    val postings = spark.read.parquet(dir)
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    import org.apache.spark.sql.functions.{array, col, lit}
    def queries(n: Long) = spark.range(0, n)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.5), lit(0.0), lit(0.0)).as("embedding"))
    // the all-pairs audit shape (the LOF family) declares fat: spread
    val fat = planOf(Similarity.ivfProbe(postings, queries(600), id = "vec_id",
      vec = "embedding", cents, nprobe = 1, k = 3, spreadPostings = true))
    assert(fat.contains("RoundRobinPartitioning"),
      s"expected the postings scan rebalanced for a fat probe side, plan:\n$fat")
    // the k-probe serving default stays exchange-free
    val thin = planOf(Similarity.ivfProbe(postings, queries(4), id = "vec_id",
      vec = "embedding", cents, nprobe = 1, k = 3))
    assert(!thin.contains("RoundRobinPartitioning"),
      s"expected NO rebalance for the serving default, plan:\n$thin")
  }

  test("blockedLevenshtein spreads a one-split probe-side scan") {
    val dir = oneSplitParquet { d =>
      (0L until 32L).map(i => (i, s"name${i % 8}x${i % 3}"))
        .toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(d)
    }
    import org.apache.spark.sql.functions.{col, substring}
    val plan = planOf(FuzzyJoin.blockedLevenshtein(spark.read.parquet(dir),
      id = "id", str = "name", block = substring(col("name"), 1, 5), maxDist = 1))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the probe side rebalanced before the edit-distance join, plan:\n$plan")
  }

  test("dedupIncremental spreads the one-split historical scan but not " +
      "its checkpointed new batch") {
    def docs(from: Long) = (from until from + 32L).map(i =>
        (i, s"alpha beta gamma delta token${i % 5} token${i % 7} token$i"))
      .toDF("spread_probe_id", "text").coalesce(1)
    val newDir = oneSplitParquet(d => docs(0L).write.mode("overwrite").parquet(d))
    val histDir = oneSplitParquet(d => docs(16L).write.mode("overwrite").parquet(d))
    // the new batch is localCheckpointed (file-less) before it is banded,
    // so only the historical side's banding pays a rebalance
    roundRobinsRunBy("spread_probe_id") {
      Dedup.dedupIncremental(spark.read.parquet(newDir),
        spark.read.parquet(histDir), "spread_probe_id", "text").collect()
    } shouldBe 1
  }

  test("Pca.covariance spreads a one-split vector scan") {
    val dir = oneSplitParquet { d =>
      (0L until 64L).map(i => (i, Array.fill(4)(i.toDouble)))
        .toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(d)
    }
    val plan = planOf(Pca.covariance(spark.read.parquet(dir), "embedding"))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the cell-explode input rebalanced, plan:\n$plan")
  }

  test("bootstrapMeanDiffCi spreads a one-split events scan") {
    val dir = oneSplitParquet { d =>
      (0L until 128L).map(i =>
          (i, "m", if (i % 2 == 0) "A" else "B", (i % 7).toDouble))
        .toDF("id", "metric", "variant", "value")
        .coalesce(1).write.mode("overwrite").parquet(d)
    }
    val plan = planOf(Experiment.bootstrapMeanDiffCi(
      spark.read.parquet(dir), group = "metric", variant = "variant",
      value = "value", id = "id", replicas = 8))
    assert(plan.contains("RoundRobinPartitioning"),
      s"expected the replica-explode input rebalanced, plan:\n$plan")
  }
}
