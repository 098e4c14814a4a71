package graft

import graft.functions.DecimalStatsAggregator

/** The typed Aggregator must agree with the declared column-algebra
  * formulation (agg_stats_decimal) and be partition-order independent.
  */
class DecimalStatsAggregatorSpec extends SparkSpecBase {

  test("matches agg_stats_decimal's exact moments per group") {
    import spark.implicits._
    val stats = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_quantity")
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(DecimalStatsAggregator.toColumn)
      .collect()
      .toMap
    val declared = operators.Aggregations.aggStatsDecimal.fn(spark, sfDir)
      .select($"l_returnflag", $"n",
        $"avg_qty".cast("double"), $"stddev_qty".cast("double"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(stats.keySet == declared.keySet)
    for ((flag, s) <- stats) {
      val (n, avg, sd) = declared(flag)
      assert(s.n == n)
      assert(math.abs(s.mean - avg) < 1e-6, s"mean mismatch for $flag: ${s.mean} vs $avg")
      assert(math.abs(s.stddev - sd) < 1e-6, s"stddev mismatch for $flag")
    }
  }

  test("partition-order independent (exact decimal merge)") {
    import spark.implicits._
    def run(parts: Int): Map[String, BigDecimal] =
      Tables.lineitem(spark, sfDir)
        .select($"l_returnflag", $"l_quantity").as[(String, Double)]
        .repartition(parts)
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(DecimalStatsAggregator.toColumn)
        .collect().map { case (k, s) => k -> s.sum }.toMap
    assert(run(2) == run(13))
  }
}
