package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1.B — projection / filter / scalar expressions.
  *
  * Scale notes: both queries are scan→filter→project with no shuffle
  * (ORDER BY at the end is the declared-output requirement; at cluster
  * scale a consumer would drop it). All predicates are built-in `Column`
  * ops, so Catalyst pushes them into the parquet scan (`PushedFilters`)
  * and prunes unreferenced columns — verified via `.explain` in
  * FilterSpec.
  */
object Filters extends QueryModule {

  val filterPredicates = Q(
    "filter_predicates",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .orders(spark, dir)
        .where(
          (($"o_orderstatus".isin("F", "O") && !($"o_orderpriority" === "5-LOW")) ||
            ($"o_totalprice".between(1000, 5000) && $"o_orderpriority".like("1-%"))) &&
            $"o_custkey".isNotNull)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      WHERE ((o_orderstatus IN ('F','O') AND NOT o_orderpriority = '5-LOW')
         OR (o_totalprice BETWEEN 1000 AND 5000 AND o_orderpriority LIKE '1-%'))
        AND o_custkey IS NOT NULL
      ORDER BY o_orderkey
    """.trim))

  val projectCaseCoalesce = Q(
    "project_case_coalesce",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .orders(spark, dir)
        .select(
          $"o_orderkey",
          (dec($"o_totalprice") * dec(lit(1.1))).as("with_tax"),
          when($"o_totalprice" < 1000, "low")
            .when($"o_totalprice" < 10000, "mid")
            .otherwise("high")
            .as("band"),
          coalesce(nullif($"o_orderstatus", lit("P")), lit("NOTP")).as("status_np"),
          least(dec($"o_totalprice"), dec(lit(5000))).as("capped"),
          greatest(dec($"o_totalprice"), dec(lit(100))).as("floored"))
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE) AS with_tax,
        CASE WHEN o_totalprice < 1000 THEN 'low'
             WHEN o_totalprice < 10000 THEN 'mid'
             ELSE 'high' END AS band,
        COALESCE(NULLIF(o_orderstatus, 'P'), 'NOTP') AS status_np,
        CAST(LEAST(CAST(o_totalprice AS DECIMAL(18,2)), CAST(5000 AS DECIMAL(18,2))) AS DOUBLE) AS capped,
        CAST(GREATEST(CAST(o_totalprice AS DECIMAL(18,2)), CAST(100 AS DECIMAL(18,2))) AS DOUBLE) AS floored
      FROM orders
      ORDER BY o_orderkey
    """.trim))

  def qs: Seq[Q] = Seq(filterPredicates, projectCaseCoalesce)
}
