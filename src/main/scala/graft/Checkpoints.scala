package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative fixpoints (connected components,
  * PageRank): each round must CUT the logical plan, or round k
  * re-optimizes rounds 0..k-1 and the fixpoint goes quadratic in plan
  * size. Which cut is safe depends on the deployment:
  *
  *  - single-JVM (bench/verify/local dev): `localCheckpoint` — blocks in
  *    the executor block manager, no filesystem round-trip;
  *  - real cluster: executor-local blocks die with their executor
  *    mid-job, so the cut must be the fault-tolerant `checkpoint` to the
  *    cluster FS.
  *
  * The router keys on whether the session has a reliable checkpoint
  * directory configured (`SparkContext.setCheckpointDir`) — the standard
  * cluster deployment step — so the SAME operator code serves both
  * environments, and DriftGraphSpec asserts the two modes produce
  * identical results. [[PlanCache]] cuts every memo here before caching
  * its rows, which also decides how a lost memo block recovers.
  */
object Checkpoints {
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
