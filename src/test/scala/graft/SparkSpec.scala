package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session; suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  implicit class RichDF(df: org.apache.spark.sql.DataFrame) {
    def rows: Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
  }

  /** The call site of every Spark job that `body` starts on this thread
    * (its result stage's name, e.g. `localCheckpoint at Cut.scala:33`).
    * A sentinel job runs afterwards and is waited for on the listener, so
    * the bus has delivered every earlier event. Job groups keep the
    * record to this thread: other suites run jobs concurrently in the
    * same JVM. */
  def jobsStartedBy(body: => Unit): Seq[String] = {
    val group = s"sparkspec-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull) ->
          e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "SparkSpec: counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "SparkSpec: sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == sentinel) && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == sentinel), "the sentinel job never reached the listener")
      seen.asScala.toSeq.collect { case (`group`, site) => site }
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
