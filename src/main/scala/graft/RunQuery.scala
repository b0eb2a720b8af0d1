package graft

/** Dev tool: run ONE SparkEntry query by name and show rows/sample.
  *
  * Usage: runMain graft.RunQuery <queryName> [sfDir] [showN]
  * Set SPARK_GRAFT_TIME=3 to instead time N runs into a noop sink, which
  * computes every output column (prints each run's seconds), and
  * SPARK_GRAFT_EXPLAIN=1 to dump the formatted plan.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val showN = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = GraftSession.local("run-query")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      // build each frame exactly once per mode: query construction itself
      // can be side-effectful (stream_* entries run the whole streaming
      // job in the builder), so neither timing nor explain may construct
      // an extra copy
      sys.env.get("SPARK_GRAFT_TIME").map(_.toInt) match {
        case Some(n) =>
          if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
            System.err.println("[runquery] EXPLAIN ignored in timing mode " +
              "(would add an untimed extra run)")
          (1 to n).foreach { i =>
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            println(f"[runquery] $name run$i ${(System.nanoTime() - t0) / 1e9}%.3fs")
          }
        case None =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) df.explain("formatted")
          println(s"[runquery] $name rows=${df.count()}")
          df.show(showN, truncate = false)
      }
    }
    spark.stop()
  }
}
