package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Cut]] is the engine's one lineage cut, and the deployment's
  * checkpoint dir alone decides whether it is local or reliable. */
class CutSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.rows.map(_.mkString(",")).sorted

  /** The checkpoint file behind each RDD scan of a cut frame's plan:
    * `None` for local blocks, `Some(path)` for a reliable checkpoint. */
  private def checkpointFiles(df: DataFrame): Seq[Option[String]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.getCheckpointFile }

  private def withCheckpointDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_cut")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      body(dir)
    } finally {
      // null clears the JVM-wide checkpoint dir so other specs see the
      // pristine session (setCheckpointDir(null) → checkpointDir = None)
      spark.sparkContext.setCheckpointDir(null)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  private def filesUnder(dir: Path): Long =
    Files.walk(dir).iterator.asScala.count(Files.isRegularFile(_))

  test("only graft/ops/Cut.scala materializes: no other localCheckpoint( or .checkpoint( in src/main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files should not be empty
    def hits(needle: String) = files.filter(f =>
      new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(root.relativize(_).toString.replace('\\', '/'))
    (hits("localCheckpoint(") ++ hits(".checkpoint(")).distinct shouldBe Seq("graft/ops/Cut.scala")
  }

  test("a checkpoint dir makes graph, sketch and ranking cuts reliable, with the same rows") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L),
      (5L, 6L), (6L, 4L)).toDF("src", "dst")
    val a = spark.range(0, 400).select(col("id").as("k"))
    val b = spark.range(200, 700).select(col("id").as("k"))
    val ranked = spark.range(0, 137).select(col("id"), (col("id") % 7).as("v"))
      .repartition(4)
    def run(): Seq[Seq[String]] = Seq(
      sortedRows(Graph.labelPropagation(edges, iters = 3)),
      sortedRows(Kmv.jaccard(Kmv.build(a, "k", 64), Kmv.build(b, "k", 64), 64)),
      sortedRows(Ranking.withGlobalRank(ranked, Seq(col("v"), col("id")))))

    spark.sparkContext.getCheckpointDir shouldBe empty
    val local = run()
    checkpointFiles(Cut(ranked)) shouldBe Seq(None)

    withCheckpointDir { dir =>
      run() shouldBe local
      assert(filesUnder(dir) > 0, s"no checkpoint data written under $dir")
      val cut = checkpointFiles(Cut(ranked))
      cut should have size 1
      cut.head.map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
        .exists(_.startsWith(dir.toString)) shouldBe true
    }
  }

  test("a cut frame has no input files in either mode, so Skew.spread passes it unchanged") {
    val path = Files.createTempDirectory("graft_cut_src").resolve("t").toString
    spark.range(0, 50).write.parquet(path)
    val scan = spark.read.parquet(path)
    scan.inputFiles should not be empty
    def check(): Unit = {
      val cut = Cut(scan)
      cut.inputFiles shouldBe empty
      Skew.spread(cut) should be theSameInstanceAs cut
      sortedRows(cut) shouldBe sortedRows(scan)
    }
    check()
    withCheckpointDir(_ => check())
  }
}
