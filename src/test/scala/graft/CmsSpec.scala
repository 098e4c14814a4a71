package graft

import org.apache.spark.sql.functions._

/** Property tests for the count-min-sketch heavy-hitters path
  * (`agg_heavy_hitters_cms` + functions/CmsEstimate.scala) — the
  * no-oracle SURVEY §2 row, verified against exact counts instead.
  */
class CmsSpec extends SparkSpecBase {

  test("cms estimates bound the exact counts: exact <= est <= exact + eps*N") {
    import spark.implicits._
    val res = operators.Aggregations.aggHeavyHittersCms
      .fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val n = exact.values.sum
    assert(res.nonEmpty)
    res.foreach { case (k, est) =>
      val ex = exact.getOrElse(k, 0L)
      assert(est >= ex, s"CMS must never underestimate: key $k est $est < exact $ex")
      assert(est <= ex + math.max(1L, (0.001 * 3 * n).toLong),
        s"key $k est $est too far above exact $ex (N=$n)")
    }
  }

  test("cms estimates are partitioning-independent (fixed seed, commuting updates)") {
    import spark.implicits._
    val base = operators.Aggregations.aggHeavyHittersCms.fn(spark, sfDir).collect().toSeq
    val skewed = {
      val sk = Tables.lineitem(spark, sfDir)
        .repartition(13, $"l_partkey")
        .agg(expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)").as("sk"))
      Tables.supplier(spark, sfDir)
        .select($"s_suppkey")
        .crossJoin(broadcast(sk))
        .select($"s_suppkey",
          graft.functions.CmsFunctions.estimate($"sk", $"s_suppkey").as("est_lines"))
        .orderBy(desc("est_lines"), $"s_suppkey")
        .limit(20)
        .collect()
        .toSeq
    }
    assert(base == skewed, "sketch estimates changed under a different partitioning")
  }

  test("graft_cms_estimate is SQL-registered") {
    functions.GraftFunctions.register(spark)
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("cms_li")
    val r = spark.sql("""
      SELECT graft_cms_estimate(
        (SELECT count_min_sketch(l_suppkey, 0.01d, 0.99d, 7) FROM cms_li), 1L) AS est
    """).collect().head.getLong(0)
    assert(r >= 0L)
  }
}
