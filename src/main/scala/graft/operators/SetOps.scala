package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1.F — sort / limit / top-k / set operations / keyed dedup.
  *
  * Scale notes (100 TB):
  *  - `sort_multikey_limit` compiles to TakeOrderedAndProject: each
  *    partition keeps its local top-20, the driver merges k×partitions
  *    rows — no global sort, no full shuffle.
  *  - Set ops on projected single columns shuffle only the (tiny)
  *    distinct key sets.
  *  - Keyed dedup is groupBy(keys).min — map-side partial aggregation
  *    shrinks the shuffle to one row per key per partition. Raw
  *    `dropDuplicates` is deliberately avoided: its kept row depends on
  *    partition scan order, which is nondeterministic on a cluster.
  */
object SetOps extends QueryModule {

  val sortMultikeyLimit = Q(
    "sort_multikey_limit",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .select(
          $"l_orderkey", $"l_linenumber",
          (dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey", $"l_linenumber")
        .limit(20)
    },
    Some(s"""
      SELECT l_orderkey, l_linenumber,
        CAST(${OracleSql.netPrice} AS DOUBLE) AS revenue
      FROM lineitem
      ORDER BY revenue DESC, l_orderkey, l_linenumber
      LIMIT 20
    """.trim))

  val setUnionAll = Q(
    "set_union_all",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"event_type")
      val views = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"event_type")
      clicks.unionByName(views).orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, user_id, event_type FROM events WHERE event_type = 'view'
      ORDER BY event_id
    """.trim))

  val setUnionDistinct = Q(
    "set_union_distinct",
    (spark, dir) => {
      import spark.implicits._
      Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
        .union(Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey")))
        .distinct()
        .orderBy($"nationkey")
    },
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey
    """.trim))

  val setIntersect = Q(
    "set_intersect",
    (spark, dir) => {
      import spark.implicits._
      Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
        .intersect(Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey
    """.trim))

  val setExcept = Q(
    "set_except",
    (spark, dir) => {
      import spark.implicits._
      Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
        .except(Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey
    """.trim))

  /** Deterministic keyed dedup: keep the minimum event_id per
    * (user_id, event_type), carrying that row's timestamp via min_by
    * (deterministic because event_id is unique).
    */
  val dedupDropduplicates = Q(
    "dedup_dropduplicates",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .groupBy($"user_id", $"event_type")
        .agg(
          min($"event_id").as("keeper_id"),
          min_by($"ts", $"event_id").as("keeper_ts"))
        .orderBy($"user_id", $"event_type")
    },
    Some("""
      SELECT user_id, event_type,
        MIN(event_id) AS keeper_id,
        ARG_MIN(ts, event_id) AS keeper_ts
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type
    """.trim))

  /** Multiset (bag) semantics of intersect/except: duplicates count —
    * m∩n occurrences survive intersectAll, m−n survive exceptAll. The
    * aggregated declaration keeps the output small while proving the
    * per-key multiplicities: nationkey frequencies in customer vs
    * supplier differ, so bag and set results genuinely diverge.
    */
  val setIntersectExceptAll = Q(
    "set_intersect_except_all",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
      val s = Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey"))
      val ia = c.intersectAll(s).groupBy($"nationkey")
        .agg(count(lit(1)).as("n_intersect_all"))
      val ea = c.exceptAll(s).groupBy($"nationkey")
        .agg(count(lit(1)).as("n_except_all"))
      ia.join(ea, Seq("nationkey"), "full_outer")
        .select(
          $"nationkey",
          coalesce($"n_intersect_all", lit(0L)).as("n_intersect_all"),
          coalesce($"n_except_all", lit(0L)).as("n_except_all"))
        .orderBy($"nationkey")
    },
    Some("""
      WITH ia AS (
        SELECT nationkey, COUNT(*) AS n_intersect_all FROM (
          SELECT c_nationkey AS nationkey FROM customer
          INTERSECT ALL
          SELECT s_nationkey AS nationkey FROM supplier)
        GROUP BY nationkey),
      ea AS (
        SELECT nationkey, COUNT(*) AS n_except_all FROM (
          SELECT c_nationkey AS nationkey FROM customer
          EXCEPT ALL
          SELECT s_nationkey AS nationkey FROM supplier)
        GROUP BY nationkey)
      SELECT COALESCE(ia.nationkey, ea.nationkey) AS nationkey,
        COALESCE(n_intersect_all, 0) AS n_intersect_all,
        COALESCE(n_except_all, 0) AS n_except_all
      FROM ia FULL OUTER JOIN ea ON ia.nationkey = ea.nationkey
      ORDER BY nationkey
    """.trim))

  /** Wide→long reshape via the native unpivot operator (the inverse of
    * `agg_pivot`): ids stay, three measure columns melt into
    * (metric, value) rows. Zero shuffle — unpivot is a per-row explode,
    * so it scales with the scan; the decimal cast before the melt keeps
    * the common value type exact. Oracle is the equivalent UNION ALL.
    */
  val reshapeUnpivot = Q(
    "reshape_unpivot",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .select(
          $"l_orderkey", $"l_linenumber",
          graft.Tables.dec($"l_quantity").as("quantity"),
          graft.Tables.dec($"l_extendedprice").as("extendedprice"),
          graft.Tables.dec($"l_discount").as("discount"))
        .unpivot(
          Array($"l_orderkey", $"l_linenumber"),
          Array($"quantity", $"extendedprice", $"discount"),
          "metric", "value")
        .withColumn("l_linenumber", $"l_linenumber".cast("long"))
        .orderBy($"l_orderkey", $"l_linenumber", $"metric")
    },
    Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, metric,
        CAST(v AS DOUBLE) AS value
      FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
          CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice',
          CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount',
          CAST(l_discount AS DECIMAL(18,2)) FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, metric
    """.trim))

  /** Name-based union with missing-column padding (`unionByName`,
    * `allowMissingColumns=true`): the schema-drift-tolerant append —
    * columns align by NAME (the lineitem side arrives in a different
    * column order), and the column one side lacks pads with NULL. The
    * positional `UNION ALL` would silently mis-align here. Missing
    * priorities land in an explicit '(none)' bucket so the output
    * carries no null group key.
    */
  val setUnionByName = Q(
    "set_union_by_name",
    (spark, dir) => {
      import spark.implicits._
      val a = Tables.orders(spark, dir)
        .select($"o_orderkey".as("key"), $"o_orderpriority".as("priority"),
          dec($"o_totalprice").as("amount"))
      // deliberately reordered columns + no priority column
      val b = Tables.lineitem(spark, dir)
        .select(dec($"l_extendedprice").as("amount"), $"l_orderkey".as("key"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(coalesce($"priority", lit("(none)")).as("priority"))
        .agg(count(lit(1)).as("n_rows"), sum($"amount").as("total"))
        .orderBy($"priority")
    },
    Some("""
      SELECT COALESCE(priority, '(none)') AS priority,
        COUNT(*) AS n_rows, CAST(SUM(amount) AS DOUBLE) AS total
      FROM (
        SELECT o_orderkey AS key, o_orderpriority AS priority,
          CAST(o_totalprice AS DECIMAL(18,2)) AS amount
        FROM orders
        UNION ALL BY NAME
        SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS amount,
          l_orderkey AS key
        FROM lineitem
      )
      GROUP BY 1 ORDER BY 1
    """.trim))

  def qs: Seq[Q] = Seq(
    sortMultikeyLimit, setUnionAll, setUnionDistinct, setIntersect,
    setExcept, dedupDropduplicates, setIntersectExceptAll, reshapeUnpivot,
    setUnionByName)
}
