package graft

import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanLike, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._

/** PlanCache lifecycle: the memo must serve plan-equal lookups from its
  * stored frame, yet INVALIDATE when the files behind the plan change —
  * regenerating a fixture at the same path must never serve stale blocks
  * (VERDICT r6 #5). A memo keeps its rows in one columnar cache over a
  * lineage cut, so the plan behind it holds no broadcast and no file scan.
  */
class PlanCacheSpec extends SparkSpecBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  private def cached(df: DataFrame) = PlanCache.cachedData(df)

  /** The memo's cached plan holds neither a broadcast (its build joins'
    * hash relations) nor a file scan (its build's inputs).
    */
  private def assertRowsOnly(what: String, memo: DataFrame): Unit = {
    val plan = cached(memo).getOrElse(fail(s"$what: the memo has no columnar cache"))
      .cachedRepresentation.cacheBuilder.cachedPlan
    val pinned = Aqe.collect(plan) {
      case p: BroadcastExchangeLike => p.nodeName
      case p: BroadcastQueryStageExec => p.nodeName
      case p: FileSourceScanLike => p.nodeName
    }
    assert(pinned.isEmpty, s"$what: the cached plan still holds ${pinned.mkString(", ")}:\n$plan")
  }

  test("same path + same files: second lookup is a cache hit") {
    import spark.implicits._
    val dir = scratchPath("pc_hit")
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(dir)
    val cache = new PlanCache(2)
    var computes = 0
    def lookup() = cache.getOrCompute(spark.read.parquet(dir).agg(sum($"x").as("s"))) { df =>
      computes += 1; df
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
      computes += 1; df
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
    def lookup(c: PlanCache) = c.getOrCompute(spark.read.parquet(dir).agg(sum($"x").as("s"))) { df =>
      computes += 1; df
    }
    // a memo's storage is its columnar cache: the cache's block RDD is
    // what evictAll must free
    def blocks(df: DataFrame) = cached(df).map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
    val built = caches.map(lookup)
    val ids = built.flatMap(blocks)
    assert(ids.distinct.size == 2 && ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      s"each instance must hold its own columnar cache: $ids")
    val cuts = built.flatMap(_.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id })
    assert(cuts.size == 2 && !cuts.exists(spark.sparkContext.getPersistentRDDs.contains),
      s"the cut's row blocks must be released once the cache holds the rows: $cuts")
    PlanCache.evictAll()
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains) && built.forall(cached(_).isEmpty),
      s"evictAll left columnar caches behind: $ids")
    assert(caches.map(lookup(_).as[Long].head()) == Seq(6L, 6L))
    assert(computes == 4, s"both instances must recompute after evictAll, ran $computes")
    caches.foreach(_.evictAll())
  }

  test("a memo built over a broadcast hash join keeps no broadcast") {
    import spark.implicits._
    val dir = scratchPath("pc_bhj")
    (1L to 100L).map(i => (i, i % 7)).toDF("x", "k").write.parquet(s"$dir/fact")
    (0L to 6L).map(k => (k, s"k$k")).toDF("k", "name").write.parquet(s"$dir/dim")
    val fresh = spark.read.parquet(s"$dir/fact")
      .join(broadcast(spark.read.parquet(s"$dir/dim")), "k")
      .groupBy($"name").agg(sum($"x").as("s"))
    val built = Aqe.collect(fresh.queryExecution.executedPlan) { case b: BroadcastExchangeLike => b }
    assert(built.nonEmpty, "the build plan must broadcast its dim side")
    val cache = new PlanCache(1)
    val memo = cache.getOrCompute(fresh)(identity)
    assertRowsOnly("broadcast-join memo", memo)
    assert(memo.agg(sum($"s")).as[Long].head() == 5050L)
    cache.evictAll()
  }

  test("the TextOps memos keep their rows, not their build plans") {
    TextOps.prepareSharedStages(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    Seq(
      "tokens" -> TextOps.cachedTokens(docs),
      "token sets" -> TextOps.cachedTokenSets(docs),
      "shingles" -> TextOps.cachedShingles(docs),
      "intersections" -> TextOps.interPairs(docs),
      "pairs" -> TextOps.corpusJaccardPairs(spark, sfDir)
    ).foreach { case (what, memo) => assertRowsOnly(what, memo) }
  }

  test("a documents corpus rewritten in place rebuilds the chained inter and pair memos") {
    import spark.implicits._
    val dir = scratchPath("pc_docs")
    val path = s"$dir/documents.parquet"
    val orig = Tables.documents(spark, sfDir)
    orig.write.parquet(path)
    def docs = Tables.documents(spark, dir)
    def pairs = TextOps.corpusJaccardPairs(spark, dir).select($"d1", $"d2").as[(Long, Long)]
      .collect().toSet
    // the inter and pair keys are built over the shingles memo: a scan of
    // its own rows, with no file relation left for a freshness check
    val sh1 = TextOps.cachedShingles(docs)
    val leaves = sh1.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"the shingles memo must be a scan of its own rows: ${leaves.map(_.nodeName)}")
    val before = pairs
    // rewrite in place: the 20 lowest doc ids all get the first one's
    // text, a 20-clique of exact duplicates the old corpus does not have
    val ids = orig.select($"doc_id").as[Long].collect().sorted.take(20)
    val text0 = orig.filter($"doc_id" === ids.head).select($"text").as[String].head()
    orig.withColumn("text", when($"doc_id".isin(ids: _*), lit(text0)).otherwise($"text"))
      .write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    val sh2 = TextOps.cachedShingles(docs)
    assert(sh2.queryExecution.analyzed.collectLeaves() != leaves, "the shingles memo must rebuild")
    val clique = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    val after = pairs
    assert(!clique.subsetOf(before) && clique.subsetOf(after),
      s"stale pair memo after the rewrite: ${(clique -- after).size} clique pairs missing")
    // the intersection memo equals a memo-free recompute over the new rows
    val sh = TextOps.shingles(docs)
    val expected = sh.as("a")
      .join(sh.as("b"), $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().count()
    assert(TextOps.interPairs(docs).count() == expected, "stale intersection memo after the rewrite")
    PlanCache.evictAll()
  }

  test("evictAll leaves the CacheManager empty after the LSH, IVF and PQ rows") {
    PlanCache.evictAll()
    spark.catalog.clearCache() // what earlier suites cached outside any PlanCache
    for (q <- Seq("text_minhash_lsh", "vec_ann_lsh", "vec_ann_ivf", "vec_pq_adc_topk"))
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, s"$q returned no rows")
    PlanCache.evictAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      s"${Probe.cacheEntries(spark)} cache entries outlive PlanCache.evictAll()")
  }
}
