package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (1 to 500).map(i => s"k$i").toDF("k")

  test("build: k smallest distinct md5 hashes, duplicate- and " +
    "null-insensitive, deterministic") {
    val sk = Kmv.build(keys, "k", k = 64)
    sk.count() shouldBe 64L
    // duplicates cannot change a distinct sketch
    val dup = keys.crossJoin((1 to 5).toDF("r")).select("k")
    Kmv.build(dup, "k", 64).rows.map(_.toString) shouldBe
      sk.rows.map(_.toString)
    // nulls carry no evidence
    Kmv.build(keys.unionByName(Seq(null.asInstanceOf[String]).toDF("k")),
      "k", 64).count() shouldBe 64L
    // the sketch is exactly the 64 smallest of the full distinct hash set
    val all = keys.select(Kmv.hash60(col("k")).as("h"))
      .distinct().orderBy(col("h")).limit(64)
    sk.rows.map(_.toString) shouldBe all.rows.map(_.toString)
    intercept[IllegalArgumentException] { Kmv.build(keys, "k", 8) }
  }

  test("estimate: exact below k; within the documented 3-sigma band " +
    "(3/sqrt(k-2)) at k=256 over 10000 distinct keys") {
    // 500 distinct under k=1024 → exact
    val ex = Kmv.estimate(Kmv.build(keys, "k", 1024), 1024).rows.head
    ex(0) shouldBe 500.0f
    ex(1) shouldBe 500L
    ex(2) shouldBe true
    // 10000 distinct under k=256 → estimator path, documented band
    val big = (1 to 10000).map(i => s"band$i").toDF("k")
    val r = Kmv.estimate(Kmv.build(big, "k", 256), 256).rows.head
    r(2) shouldBe false
    val est = r(0).asInstanceOf[Float].toDouble
    math.abs(est - 10000.0) / 10000.0 should be < (3.0 / math.sqrt(254.0))
  }

  test("estimate: a frame larger than the declared k fails the shape " +
    "contract loudly — never a fabricated is_exact") {
    // a k=256 sketch (256 rows) under a declared k=64: without the
    // guard the n<k branch is skipped but the k-th-hash estimator
    // would silently use the wrong k; with it the contract fails fast
    intercept[IllegalArgumentException] {
      Kmv.estimate(Kmv.build(keys, "k", 256), 64)
    }.getMessage should include("more than k=64")
  }

  test("jaccard: two empty sketches read NULL, never NaN") {
    val empty = keys.filter(col("k") === "nope")
    val r = Kmv.jaccard(Kmv.build(empty, "k", 64),
      Kmv.build(empty, "k", 64), 64).rows.head
    (r(0) == null) shouldBe true // jaccard
    (r(1) == null) shouldBe true // kmv_intersection
    r(3) shouldBe 0L             // n_common
    r(4) shouldBe 0L             // n_union_hashes
  }

  test("merge: per-slice sketches combine to the monolithic sketch " +
    "hash-for-hash; oversized frames fail the k contract") {
    val left = keys.filter(col("k") < "k3")
    val right = keys.filter(col("k") >= "k3")
    val merged = Kmv.merge(64,
      Kmv.build(left, "k", 64), Kmv.build(right, "k", 64))
    merged.rows.map(_.toString) shouldBe
      Kmv.build(keys, "k", 64).rows.map(_.toString)
    // a k=256 sketch does not fit a declared k=64 merge
    intercept[IllegalArgumentException] {
      Kmv.merge(64, Kmv.build(keys, "k", 256))
    }.getMessage should include("more than k=64")
    intercept[IllegalArgumentException] {
      Kmv.merge(64, keys)
    }.getMessage should include("kmv_hash")
  }

  test("jaccard: hand-checkable overlap — estimates track the true " +
    "Jaccard and intersection") {
    // A = 1..600, B = 401..1000: |A∪B| = 1000, |A∩B| = 200, J = 0.2
    val a = (1 to 600).map(i => s"j$i").toDF("k")
    val b = (401 to 1000).map(i => s"j$i").toDF("k")
    val r = Kmv.jaccard(Kmv.build(a, "k", 256), Kmv.build(b, "k", 256),
      256).rows.head
    val j = r(0).asInstanceOf[Float].toDouble
    val inter = r(1).asInstanceOf[Float].toDouble
    val uni = r(2).asInstanceOf[Float].toDouble
    // 3-sigma bands: J ± 3·sqrt(J(1−J)/k), union ± 3/sqrt(k−2)
    math.abs(j - 0.2) should be < (3.0 * math.sqrt(0.2 * 0.8 / 256.0))
    math.abs(uni - 1000.0) / 1000.0 should be < (3.0 / math.sqrt(254.0))
    math.abs(inter - 200.0) / 200.0 should be < 0.35
    // disjoint sets: jaccard and intersection exactly 0
    val c = (1 to 300).map(i => s"x$i").toDF("k")
    val d = (1 to 300).map(i => s"y$i").toDF("k")
    val r0 = Kmv.jaccard(Kmv.build(c, "k", 256), Kmv.build(d, "k", 256),
      256).rows.head
    r0(0) shouldBe 0.0f
    r0(1) shouldBe 0.0f
  }

  test("jaccard: each input is cut and shape-guarded once; rows replay the estimator") {
    // A = 1..600, B = 401..1000 at k = 64, both sketches already cut so
    // that the call's jobs are the estimator's own
    val (a, b) = (Cut(Kmv.build((1 to 600).map(i => s"j$i").toDF("k"), "k", 64)),
      Cut(Kmv.build((401 to 1000).map(i => s"j$i").toDF("k"), "k", 64)))
    var out: Seq[Seq[Any]] = Nil
    val jobs = jobsStartedBy { out = Kmv.jaccard(a, b, 64).rows }
    // three cuts: each input once (then probed), and the merged union
    withClue(jobs.mkString("\n")) { jobs.count(_.contains(" at Cut.scala")) shouldBe 3 }
    val hashes = (df: org.apache.spark.sql.DataFrame) => df.as[Long].collect().toSet
    val (ha, hb) = (hashes(a), hashes(b))
    val l = (ha ++ hb).toSeq.sorted.take(64)
    val common = l.count(h => ha(h) && hb(h))
    val r = out.head
    r(3) shouldBe common.toLong
    r(4) shouldBe 64L
    r(0) shouldBe (common.toDouble / 64).toFloat
    r(2) shouldBe (63.0 * math.pow(2.0, 60) / l.last.toDouble).toFloat
    // the shape guard still runs on each input
    for ((x, y) <- Seq((Kmv.build(keys, "k", 256), b), (a, Kmv.build(keys, "k", 256))))
      intercept[IllegalArgumentException] {
        Kmv.jaccard(x, y, 64)
      }.getMessage should include("more than k=64")
  }
}
