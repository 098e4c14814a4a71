package graft

import org.apache.spark.sql.functions._

/** PlanCache lifecycle: the memo must serve plan-equal lookups from its
  * stored frame, yet INVALIDATE when the files behind the plan change —
  * regenerating a fixture at the same path must never serve stale blocks
  * (VERDICT r6 #5).
  */
class PlanCacheSpec extends SparkSpecBase {

  test("same path + same files: second lookup is a cache hit") {
    import spark.implicits._
    val dir = scratchPath("pc_hit")
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(dir)
    val cache = new PlanCache(2)
    var computes = 0
    def lookup() = cache.getOrCompute(spark.read.parquet(dir).agg(sum($"x").as("s"))) { df =>
      computes += 1; Checkpoints.cut(df)
    }
    assert(lookup().as[Long].head() == 6L)
    assert(lookup().as[Long].head() == 6L)
    assert(computes == 1, s"plan-equal lookup over unchanged files must hit, ran $computes")
    cache.evictAll()
  }

  test("rewritten fixture at the same path: entry invalidates and recomputes") {
    import spark.implicits._
    val dir = scratchPath("pc_fresh")
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(dir)
    val cache = new PlanCache(2)
    var computes = 0
    def lookup() = cache.getOrCompute(spark.read.parquet(dir).agg(sum($"x").as("s"))) { df =>
      computes += 1; Checkpoints.cut(df)
    }
    assert(lookup().as[Long].head() == 6L)
    // regenerate the fixture in-JVM: same path, different bytes
    Seq(10L, 20L).toDF("x").write.mode("overwrite").parquet(dir)
    spark.catalog.refreshByPath(dir) // what any fixture-regen flow does
    val second = lookup().as[Long].head()
    assert(second == 30L, s"stale cached result served after rewrite: $second")
    assert(computes == 2, s"rewrite must recompute, ran $computes")
    cache.evictAll()
  }

  test("PlanCache.evictAll frees the entries of every instance") {
    import spark.implicits._
    val dir = scratchPath("pc_all")
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(dir)
    val caches = Seq(new PlanCache(2), new PlanCache(2))
    var computes = 0
    // an executor-local checkpoint whatever the session's checkpoint
    // dir: its blocks are what evictAll must free
    def lookup(c: PlanCache) = c.getOrCompute(spark.read.parquet(dir).agg(sum($"x").as("s"))) { df =>
      computes += 1; df.localCheckpoint()
    }
    def blocks(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    val built = caches.map(lookup)
    val ids = built.flatMap(blocks)
    assert(ids.size == 2 && ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      s"each instance must hold its own checkpoint blocks: $ids")
    PlanCache.evictAll()
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains),
      s"evictAll left checkpoint blocks behind: $ids")
    assert(caches.map(lookup(_).as[Long].head()) == Seq(6L, 6L))
    assert(computes == 4, s"both instances must recompute after evictAll, ran $computes")
    caches.foreach(_.evictAll())
  }
}
