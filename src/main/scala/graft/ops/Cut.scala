package graft.ops

import org.apache.spark.sql.DataFrame

/** The engine's one lineage cut: every frame `src/main` materializes
  * (an iterative op's round, a frame several plan branches reuse, a
  * sketch an eager guard probes) goes through [[Cut.apply]]. The call
  * is EAGER in both modes: a Spark job runs before it returns, and the
  * returned frame's plan is a scan of the materialized rows.
  *
  * The mode follows from the deployment, not from the caller:
  *  - a checkpoint dir is set (`SparkContext.setCheckpointDir`, or
  *    `spark.checkpoint.dir` at context start) → `checkpoint()`, a
  *    reliable write to that dir;
  *  - otherwise → `localCheckpoint()`, blocks kept by the executors'
  *    block managers.
  *
  * Contracts:
  *  - local blocks die with their executor: losing one after the cut
  *    fails any job that still reads the frame, and nothing can
  *    recompute it (the lineage is gone). Fine in local mode and on
  *    stable clusters; a preemptible fleet should name a checkpoint dir.
  *  - reliable files stay under the checkpoint dir after the frame is
  *    garbage-collected, unless `spark.cleaner.referenceTracking.cleanCheckpoints`
  *    is set; the dir is the deployment's to clean.
  *  - a cut frame has no input files in either mode, so [[Skew.spread]]
  *    takes it as already parallel ("checkpointed frames have no input
  *    files") and returns it unchanged.
  * Rows, schema and partitioning are the same in both modes. */
object Cut {

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
