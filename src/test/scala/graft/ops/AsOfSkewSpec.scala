package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AsOfSkewSpec extends SparkSpec {
  import spark.implicits._

  test("asOf: latest right row at-or-before each left row, per key") {
    val trades = Seq(("A", 10L, 1), ("A", 20L, 2), ("A", 5L, 3), ("B", 10L, 4))
      .toDF("sym", "ts", "trade_id")
    val quotes = Seq(("A", 8L, 100.0), ("A", 15L, 110.0), ("A", 20L, 120.0), ("C", 1L, 999.0))
      .toDF("sym", "ts", "px")
    val out = AsOfJoin.asOf(trades, quotes, on = "ts", by = Seq("sym"),
        valueCols = Seq("px"))
      .orderBy("trade_id").select("trade_id", "asof_px").rows
    out(0) shouldBe Seq(1, 100.0)      // ts=10 → quote@8
    out(1) shouldBe Seq(2, 120.0)      // ts=20 → quote@20 (equal ts matches)
    assert(out(2)(1) == null)          // ts=5 → no prior quote
    assert(out(3)(1) == null)          // key B has no quotes at all
  }

  test("asOf carries the latest right ROW as a unit — no cross-row stitching, nulls preserved") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq(
      (1L, 1L, java.lang.Double.valueOf(5.0), null.asInstanceOf[java.lang.Long]),
      (1L, 2L, null.asInstanceOf[java.lang.Double], java.lang.Long.valueOf(7L))
    ).toDF("k", "ts", "price", "qty")
    val out = AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("price", "qty"))
      .select("asof_price", "asof_qty").rows.head
    // latest row (ts=2) wins wholesale: price is ITS null, not ts=1's 5.0
    assert(out(0) == null)
    out(1) shouldBe 7L
  }

  test("asOf keeps every left row and all left columns") {
    val l = Seq((1L, 100L, "x")).toDF("k", "ts", "payload")
    val r = Seq((1L, 50L, 7.0)).toDF("k", "ts", "v")
    val out = AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"))
    out.columns.toSeq shouldBe Seq("k", "ts", "payload", "asof_v")
    out.rows shouldBe Seq(Seq(1L, 100L, "x", 7.0))
  }

  test("asOf matches a brute-force reference on seeded random data") {
    val rng = new scala.util.Random(11)
    val leftRows = (1 to 300).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(1000).toLong, i.toLong))  // (k, ts, rowid)
    val rightRows = (1 to 200).map(_ =>
      (rng.nextInt(6).toLong, rng.nextInt(1000).toLong, rng.nextInt(100000).toDouble))
    val l = leftRows.toDF("k", "ts", "rowid")
    val r = rightRows.toDF("k", "ts", "v")
    val got = AsOfJoin.asOf(l, r, on = "ts", by = Seq("k"), valueCols = Seq("v"))
      .select("rowid", "asof_v").rows.map(x => x.head -> x(1)).toMap
    leftRows.foreach { case (k, ts, rowid) =>
      val candidates = rightRows.filter(q => q._1 == k && q._2 <= ts)
      val expected =
        if (candidates.isEmpty) null
        // tie on max ts → greatest payload survives (documented determinism)
        else candidates.maxBy(q => (q._2, q._3))._3
      withClue(s"rowid=$rowid k=$k ts=$ts: ") { got(rowid) shouldBe expected }
    }
  }

  test("asOf forward: earliest right row at-or-after; nearest: closer side, backward ties") {
    val l = Seq((1L, 10L, "a"), (1L, 13L, "b"), (1L, 30L, "c")).toDF("k", "ts", "id")
    val r = Seq((1L, 8L, 100.0), (1L, 18L, 200.0)).toDF("k", "ts", "v")
    val fwd = AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"), direction = "forward")
      .orderBy("ts").select("id", "asof_v").rows
    fwd(0) shouldBe Seq("a", 200.0) // 10 → next at 18
    fwd(1) shouldBe Seq("b", 200.0)
    assert(fwd(2)(1) == null)       // 30 → nothing after
    val near = AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"), direction = "nearest")
      .orderBy("ts").select("id", "asof_v").rows
    near(0) shouldBe Seq("a", 100.0) // |10−8|=2 < |18−10|=8
    near(1) shouldBe Seq("b", 100.0) // 13 is EQUIDISTANT (5/5) → backward wins
    near(2) shouldBe Seq("c", 200.0) // only backward exists
  }

  test("asOf forward: an equal-timestamp right row matches") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 10L, 7.0)).toDF("k", "ts", "v")
    AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"), direction = "forward")
      .rows.head(2) shouldBe 7.0
  }

  test("asOf tolerance: stale matches gate to null, in-range ones stand") {
    val l = Seq((1L, 100L, "fresh"), (1L, 500L, "stale")).toDF("k", "ts", "id")
    val r = Seq((1L, 95L, 1.0)).toDF("k", "ts", "v")
    val out = AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"),
        tolerance = Some(50L))
      .orderBy("ts").select("id", "asof_v").rows
    out(0) shouldBe Seq("fresh", 1.0)  // distance 5 ≤ 50
    assert(out(1)(1) == null)          // distance 405 > 50 → gated
  }

  test("asOf: nearest/tolerance demand a numeric ordering column") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "ts")
    val r = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "ts", "v")
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v"), direction = "nearest")
    // plain backward on timestamps still works
    AsOfJoin.asOf(l, r, "ts", Seq("k"), Seq("v")).rows.head(2) shouldBe 1.0
  }

  test("saltedAggregate equals straight aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toLong))
      .toDF("k", "v")
    val straight = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("c")).orderBy("k").rows
    val salted = Skew.saltedAggregate(df, Seq("k"), "v", salts = 8,
        partialAggs = Seq(sum("v").as("__s"), count(lit(1)).as("__c")),
        finalAggs = Seq(sum("__s").as("s"), sum("__c").as("c")))
      .orderBy("k").rows
    salted shouldBe straight
  }

  test("saltedJoin equals plain join (inner and left)") {
    val big = (1 to 500).map(i => (i % 5, i)).toDF("k", "v")
    val small = Seq((0, "zero"), (1, "one"), (9, "nine")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt).orderBy("k", "v").rows
      val salted = Skew.saltedJoin(big, small, Seq("k"), "v", salts = 4, joinType = jt)
        .select("k", "v", "name").orderBy("k", "v").rows
      salted shouldBe plain
    }
  }

  test("spread: file-less frames skip the exchange") {
    val inMem = (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
    // no files → assume parallel, plan unchanged (no extra exchange)
    Skew.spread(inMem).queryExecution.analyzed shouldBe
      inMem.queryExecution.analyzed
  }

  test("spread: a narrow file-backed scan is rebalanced to cores") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    (1 to 50).map(i => (i, i * 2)).toDF("a", "b")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    scan.inputFiles.length shouldBe 1
    Skew.spread(scan).rdd.getNumPartitions shouldBe
      spark.sparkContext.defaultParallelism
  }

  test("bpeTokenCount and rollingHashFingerprint basics") {
    val df = Seq((1L, "Hello, world42!"), (2L, "hello world42"), (3L, "")).toDF("doc_id", "text")
    // "Hello, world42!" → Hello , world 42 !  (5); "hello world42" → hello world 42 (3)
    TextAnalysis.bpeTokenCount(df).orderBy("doc_id")
      .select("n_bpe_tokens").rows.map(_.head) shouldBe Seq(5L, 3L, 0L)

    val rh = TextAnalysis.rollingHashFingerprint(df).orderBy("doc_id")
      .select("rolling_hash").rows.map(_.head.asInstanceOf[Long])
    rh(0) shouldBe rh(1)   // canonical forms agree: "hello world42"
    rh(2) shouldBe 0L      // empty text
    // closed-form check on "ab": (0*257+97)*257+98 mod p — space-free
    val ab = TextAnalysis.rollingHashFingerprint(Seq((1L, "ab")).toDF("doc_id", "text"))
      .select("rolling_hash").rows.head.head
    ab shouldBe (97L * 257 + 98) % 1000000007L
  }

  test("ivfTopK: recalls the exact nearest neighbor for clustered vectors") {
    val rng = new scala.util.Random(3)
    // two tight clusters far apart; near-dup pairs inside each
    val base = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    def jitter(v: Seq[Float]) = v.map(x => x + rng.nextFloat() * 0.01f)
    val a = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val vecs = ((1 to 10).map(i => (i.toLong, jitter(base))) ++
      (11 to 20).map(i => (i.toLong, jitter(a)))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs.filter(col("vec_id") === 1), vecs, "vec_id", "embedding",
      dim = 8, k = 3, nCentroids = 4, nprobe = 2)
    val neighbors = out.select("neighbor_id").rows.map(_.head.asInstanceOf[Long])
    neighbors.foreach(n => assert(n >= 2 && n <= 10))   // all from vec 1's cluster
    out.count() shouldBe 3
  }

  test("refineCentroids: deterministic, and refined IVF matches brute force on clusters") {
    val rng = new scala.util.Random(5)
    def jitter(v: Seq[Float]) = v.map(x => x + rng.nextFloat() * 0.01f)
    val c1 = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val c2 = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val vecs = ((1 to 15).map(i => (i.toLong, jitter(c1))) ++
      (16 to 30).map(i => (i.toLong, jitter(c2)))).toDF("vec_id", "embedding")

    val r1 = Similarity.refineCentroids(vecs, "embedding", dim = 8, k = 4)
    val r2 = Similarity.refineCentroids(vecs, "embedding", dim = 8, k = 4)
    // decimal-summed means: bit-identical across runs
    r1.map(_.toSeq).toSeq shouldBe r2.map(_.toSeq).toSeq

    val q = vecs.filter(col("vec_id").isin(1L, 20L))
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank").rows
    val refined = Similarity.ivfTopK(q, vecs, "vec_id", "embedding",
        dim = 8, k = 3, nCentroids = 4, nprobe = 2, centroids = Some(r1))
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank").rows
    refined shouldBe exact   // full recall once centroids sit on the clusters
  }
}
