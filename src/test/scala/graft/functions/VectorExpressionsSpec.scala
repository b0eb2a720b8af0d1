package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  /** The portable higher-order-function reference for `cosine_sim`. */
  private def cosineHof(a: Column, b: Column): Column = {
    val dotHof = Similarity.dotHof _
    dotHof(a, b) / nullif(sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)), lit(0.0))
  }

  private val rng = new scala.util.Random(7)
  private val vecs = (1 to 50).map { i =>
    (i.toLong, Seq.fill(64)(rng.nextFloat() * 2 - 1))
  }.toDF("id", "v")

  test("native dot_product agrees with the HOF form on random vectors") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id")).limit(200)
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
    pairs.collect().foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1) +- 1e-9
    }
  }

  test("native cosine_sim agrees with the HOF form; zero vector → null") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id")).limit(200)
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("native"),
        cosineHof(col("a.v"), col("b.v")).as("hof"))
    pairs.collect().foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1) +- 1e-9
    }
    val z = Seq((Seq(1.0f, 2.0f), Seq(0.0f, 0.0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).rows.head.head
    assert(z == null)
  }

  test("functions are SQL-callable after extension registration") {
    vecs.createOrReplaceTempView("vex")
    val out = spark.sql(
      """SELECT a.id, dot_product(a.v, a.v) AS d, cosine_sim(a.v, a.v) AS c
        |FROM vex a WHERE a.id = 1""".stripMargin).rows.head
    out(1).asInstanceOf[Double] should be > 0.0
    out(2).asInstanceOf[Double] shouldBe 1.0 +- 1e-9
  }

  test("mixed float/double arrays and null array inputs") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("f", "d")
    df.select(Similarity.dot(col("f"), col("d"))).rows.head.head
      .asInstanceOf[Double] shouldBe 11.0 +- 1e-9
    val nul = Seq((Seq(1.0f), null.asInstanceOf[Seq[Float]])).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).rows.head.head
    assert(nul == null)
  }

  test("pq_encode rejects empty or ragged codebooks at analysis time") {
    import org.apache.spark.sql.functions.typedLit
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
    def enc(cb: Seq[Seq[Seq[Double]]]) =
      df.select(GraftFunctions.pqEncode(col("v"), typedLit(cb))).collect()
    // rectangular codebook works
    enc(Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(3.0), Seq(4.0))))
    // empty / ragged surface as analysis errors, not executor NPE/AIOOBE
    an[Exception] should be thrownBy enc(Seq.empty)
    an[Exception] should be thrownBy
      enc(Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(3.0, 9.0), Seq(4.0))))
    an[Exception] should be thrownBy
      enc(Seq(Seq(Seq(1.0)), Seq(Seq(3.0), Seq(4.0))))
  }

  test("pq_encode null subspace/codeword literal fails cleanly at analysis") {
    import org.apache.spark.sql.functions.typedLit
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      df.select(GraftFunctions.pqEncode(col("v"),
        typedLit(Seq(null.asInstanceOf[Seq[Seq[Double]]],
          Seq(Seq(1.0), Seq(2.0)))))).collect()
    }
    ex should not be a[NullPointerException]
  }
}
