package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Plan-keyed memo for expensive shared stages (the near-dup pair table,
  * the connected-component labels, the decontamination shingle frame).
  *
  * Lifecycle contract:
  *
  *  - **Atomic find-or-compute.** The monitor is held across the compute,
  *    so two concurrent callers can never both miss and duplicate the
  *    expensive stage: the second blocks, then reads the first's entry.
  *    Blocking is the *desired* behavior here — every caller of a shared
  *    stage wants exactly the frame the first caller is building.
  *  - **Freshness.** Lookup compares the candidate's analyzed plan with
  *    `sameResult` (a different input directory is a different plan →
  *    distinct entry), folds the INPUT-FILE IDENTITY (path, size, mtime
  *    of every file behind the plan's file-source relations) into the
  *    key — so regenerating a fixture at the SAME path invalidates the
  *    memo instead of serving stale blocks — and skips
  *    entries whose owning SparkContext has stopped, so a session
  *    restart can never resurface dead checkpoint RDDs.
  *  - **Bounded + explicitly released.** At most `capacity` live entries;
  *    eviction (capacity overflow, `evictAll`) actively frees the blocks:
  *    cached frames via `unpersist`, localCheckpoint frames by
  *    unpersisting the underlying `LogicalRDD`'s RDD (a plain
  *    `DataFrame.unpersist` is a no-op for those — they live in the
  *    block manager, not the CacheManager). Every instance registers
  *    with the companion, so `PlanCache.evictAll()` is the one hook a
  *    long-lived session calls between corpora; Bench/Verify sessions are
  *    one-shot so session end releases everything regardless.
  */
private[graft] final class PlanCache(capacity: Int) {
  import PlanCache.{Entry, release}

  PlanCache.register(this)

  private val entries = new scala.collection.mutable.ArrayBuffer[Entry]()

  /** (path, size, mtime) of every file behind the plan's file-source
    * relations — the data identity the plan alone can't see. Computed
    * from the FRESH frame, whose FileIndex listed the directory when the
    * caller built it, so a rewritten fixture shows up here even though
    * the analyzed plan is `sameResult` with the stale entry's.
    */
  private def inputFileIdentity(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          case _ => Nil
        }
    }.flatten.sortBy(_._1)

  /** Return the memoized frame equivalent to `fresh`'s plan over the
    * same input files, or run `compute` (which must materialize —
    * cache/localCheckpoint — its result) and remember it. Key is
    * `fresh`'s analyzed plan + the (path, size, mtime) set of its file
    * sources; the stored value may be a different frame (e.g. labels
    * computed FROM the pair plan). A plan-equal entry with a different
    * file identity is actively evicted (its blocks describe data that no
    * longer exists).
    */
  def getOrCompute(fresh: DataFrame)(compute: DataFrame => DataFrame): DataFrame =
    synchronized {
      val key = fresh.queryExecution.analyzed
      val files = inputFileIdentity(fresh)
      // drop dead-context entries first: their blocks died with the
      // context, and returning one would be a dead-RDD error downstream
      entries.filterInPlace(e => !e.df.sparkSession.sparkContext.isStopped)
      entries.find(_.plan.sameResult(key)) match {
        case Some(e) if e.files == files => e.df
        case stale =>
          stale.foreach { e => release(e.df); entries -= e }
          val built = compute(fresh)
          if (entries.sizeIs >= capacity) release(entries.remove(0).df)
          entries += Entry(key, files, built)
          built
      }
    }

  /** Free every live entry's storage and clear the cache. */
  def evictAll(): Unit = synchronized {
    entries.foreach { e =>
      if (!e.df.sparkSession.sparkContext.isStopped) release(e.df)
    }
    entries.clear()
  }
}

private[graft] object PlanCache {

  private final case class Entry(plan: LogicalPlan, files: Seq[(String, Long, Long)], df: DataFrame)

  private val instances = new scala.collection.mutable.ArrayBuffer[PlanCache]()

  private def register(c: PlanCache): Unit = synchronized { instances += c }

  /** Free the storage behind every memoized shared stage, in every
    * module, and clear all caches. The registry lock is not held while
    * a cache evicts: a compute running under a cache's lock may
    * construct (and so register) another cache.
    */
  def evictAll(): Unit = synchronized(instances.toList).foreach(_.evictAll())

  /** Free a memoized frame's storage. */
  def release(df: DataFrame): Unit = {
    // a localCheckpoint-derived frame is (a projection over) a LogicalRDD
    // backed by block-manager storage; unpersist the leaf RDDs themselves
    // to actually free the blocks — DataFrame.unpersist only talks to the
    // CacheManager and is a no-op for checkpoint frames
    val checkpointLeaves = df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (checkpointLeaves.nonEmpty) checkpointLeaves.foreach(_.unpersist(blocking = false))
    else df.unpersist(blocking = false)
  }
}
