package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** SURVEY.md §2.1.L — composed analytical pipelines: TPC-H-shaped
  * multi-join queries adapted to this corpus's columns (the fixtures
  * are TPC-H-*ish*, TESTDATA.md — e.g. orders carries o_orderpriority
  * instead of o_shippriority). Where single-operator rows prove each
  * primitive, these prove the composition: selective dimension filters
  * driving multi-way join plans over the fact table, the everyday
  * shape of a reporting workload.
  *
  * Scale notes (100 TB): filtered dimensions are explicitly broadcast
  * (customer segment ~1/5 of an already-small dim; nation/region
  * constant-size), so the only shuffles are the fact-fact sort-merge
  * join and the final aggregation; filters sit directly on the scans,
  * so parquet pushdown prunes row groups before any join.
  */
object Flagships extends QueryModule {

  /** TPC-H Q3 shape: unshipped-revenue top-10 for one market segment —
    * a 3-way join with date predicates on both fact sides, aggregated
    * and globally top-k'd (TakeOrderedAndProject, not a full sort).
    */
  val tpchQ3Toporders = Q(
    "tpch_q3_toporders",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.customer(spark, dir)
        .where($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      val o = Tables.orders(spark, dir)
        .where($"o_orderdate" < "1996-03-15")
        .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
      val l = Tables.lineitem(spark, dir)
        .where($"l_shipdate" > "1996-03-15")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },
    Some(s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < '1996-03-15'
        AND l_shipdate > '1996-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """.trim))

  /** TPC-H Q5 shape: revenue per nation for one region and year, with
    * the co-location predicate (supplier and customer in the same
    * nation) that makes Q5 a 6-table join. nation/region broadcast.
    */
  val tpchQ5RegionalVolume = Q(
    "tpch_q5_regional_volume",
    (spark, dir) => {
      import spark.implicits._
      val n = Tables.nation(spark, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
      val r = Tables.region(spark, dir).where($"r_name" === "ASIA").select($"r_regionkey")
      val nr = n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      val o = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01")
        .select($"o_orderkey", $"o_custkey")
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nr), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },
    Some(s"""
      SELECT n_name,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name
    """.trim))

  /** TPC-H Q18 shape: large-volume orders — a HAVING-filtered fact
    * self-aggregation driving the join (the group-then-semi-join
    * pattern). The quantity rollup is map-side combinable, its
    * selective survivor set joins back to orders/customer, and the
    * result is globally top-k'd by order value.
    *
    * Scale notes (100 TB): the big-order set stays a SHUFFLE join (it
    * is derived from the fact table — possibly millions of keys at
    * scale, never assume broadcastable); only the genuinely bounded
    * customer dim is broadcast. Top-k via TakeOrderedAndProject.
    */
  val tpchQ18Bigorders = Q(
    "tpch_q18_bigorders",
    (spark, dir) => {
      import spark.implicits._
      val bigOrders = Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey")
        .agg(sum(dec($"l_quantity")).as("total_qty"))
        .where($"total_qty" > 250)
      val o = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
      val c = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
      // NOTE (r13): a broadcast hint on bigOrders measured SLOWER
      // (0.92 → 1.49 s) — forcing the fact aggregation into a serial
      // broadcast-build job loses to AQE's runtime SMJ→BHJ conversion,
      // which overlaps the agg with the orders scan. Left unhinted.
      o.join(bigOrders, $"o_orderkey" === $"l_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
          $"o_totalprice", $"total_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    },
    Some("""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        CAST(total_qty AS DOUBLE) AS total_qty
      FROM orders
      JOIN (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
      ) big ON o_orderkey = big.l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100
    """.trim))

  /** TPC-H Q10 shape: returned-item reporting — which customers drove
    * the most returned revenue in a quarter. The R-flag and date
    * predicates sit directly on the two fact scans (parquet pushdown
    * prunes row groups before the join); customer and nation broadcast;
    * global top-20 via TakeOrderedAndProject, never a full sort.
    */
  val tpchQ10Returns = Q(
    "tpch_q10_returns",
    (spark, dir) => {
      import spark.implicits._
      val l = Tables.lineitem(spark, dir)
        .where($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      val o = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1996-10-01" && $"o_orderdate" < "1997-01-01")
        .select($"o_orderkey", $"o_custkey")
      val c = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal", $"c_nationkey")
      val n = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    },
    Some(s"""
      SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20
    """.trim))

  /** TPC-H Q7 shape: bilateral trade volume between two nations by
    * year — supplier nation on the lineitem side, customer nation on
    * the orders side, the DISJUNCTIVE cross-nation predicate
    * ((GERMANY→FRANCE) or (FRANCE→GERMANY)) applied after both
    * broadcast joins. The one fact-fact shuffle is the l↔o sort-merge;
    * every dim side is broadcast.
    */
  val tpchQ7NationVolume = Q(
    "tpch_q7_nation_volume",
    (spark, dir) => {
      import spark.implicits._
      val n = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
      val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
          $"l_extendedprice", $"l_discount")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .where(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
          ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("l_year"))
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },
    Some(s"""
      SELECT supp_nation, cust_nation, l_year,
        CAST(SUM(volume) AS DOUBLE) AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS BIGINT) AS l_year,
          ${OracleSql.netPrice} AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      )
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year
    """.trim))

  /** TPC-H Q21 shape: suppliers who were the SOLE late shipper in a
    * finished multi-supplier order — the two correlated existence
    * subqueries (EXISTS another supplier's line; NOT EXISTS another
    * supplier's LATE line) that Catalyst decorrelates into a left-semi
    * and a left-anti self-join of lineitem. The fixtures carry no
    * l_commitdate/l_receiptdate, so "late" is re-shaped as
    * l_shipdate > o_orderdate + 90 days (same row-local predicate
    * role).
    *
    * Scale notes (100 TB): every self-join keys on l_orderkey — the
    * same key as the orders join, so the exchanges co-partition and
    * reuse; supplier (filtered to 10 nations) is broadcast; the
    * semi/anti sides project only (orderkey, suppkey), so the
    * shuffled payload is two longs per line, not the row.
    */
  val tpchQ21WaitingSuppliers = Q(
    "tpch_q21_waiting_suppliers",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .where($"o_orderstatus" === "F")
        .select($"o_orderkey", $"o_orderdate")
      // NO broadcast hint on the F-status orders side: F-status is ~49% of
      // orders — fact-proportional, so a hard hint OOMs at cluster scale.
      // AQE's runtime SMJ→BHJ conversion broadcasts it exactly when the
      // runtime size fits (the q18 calibration), which keeps the sf0.1 win
      // without baking the local-SF size assumption into the plan.
      val lateLines = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .where($"l_shipdate" > date_add($"o_orderdate", 90))
        .select($"l_orderkey", $"l_suppkey")
      val allLines = Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("l2_orderkey"), $"l_suppkey".as("l2_suppkey"))
      val otherLate = lateLines
        .select($"l_orderkey".as("l3_orderkey"), $"l_suppkey".as("l3_suppkey"))
      val sup = Tables.supplier(spark, dir)
        .where($"s_nationkey" < 10)
        .select($"s_suppkey", $"s_name")
      lateLines
        // the nation<10 supplier cut applies only to the OUTER side —
        // moving it before the semi/anti joins shrinks what they shuffle
        // (the inner sides must keep every supplier's lines, unchanged)
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(allLines,
          $"l_orderkey" === $"l2_orderkey" && $"l_suppkey" =!= $"l2_suppkey",
          "left_semi")
        .join(otherLate,
          $"l_orderkey" === $"l3_orderkey" && $"l_suppkey" =!= $"l3_suppkey",
          "left_anti")
        .groupBy($"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    },
    Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE s_nationkey < 10
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20
    """.trim))

  /** TPC-H Q14 shape: promotion-revenue share for one ship month — the
    * conditional-aggregation ratio (SUM(CASE)/SUM) every marketing
    * rollup uses. Both aggregates are exact decimals; the ratio is
    * computed as one double division of the two exact sums (same
    * expression order both engines), so the single output row is
    * bit-reproducible.
    *
    * Scale notes (100 TB): the month predicate is pushed to the
    * lineitem scan (row-group pruning on l_shipdate); part is a
    * broadcast dim; the aggregate is global but partial — each
    * partition emits one (num, den) pair, so the final reduce sees
    * #partitions rows.
    */
  val tpchQ14PromoRatio = Q(
    "tpch_q14_promo_ratio",
    (spark, dir) => {
      import spark.implicits._
      val p = Tables.part(spark, dir).select($"p_partkey", $"p_type")
      val rev = dec($"l_extendedprice") * dec(lit(1) - $"l_discount")
      Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1995-09-01" && $"l_shipdate" < "1995-10-01")
        .select($"l_partkey", $"l_extendedprice", $"l_discount")
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
        .agg(
          sum(when($"p_type" === "PROMO", rev)).as("num"),
          sum(rev).as("den"))
        .select(
          (lit(100.0) * $"num".cast(DoubleType) / $"den".cast(DoubleType))
            .as("promo_pct"),
          $"num".cast(DoubleType).as("promo_revenue"),
          $"den".cast(DoubleType).as("total_revenue"))
        .orderBy($"promo_pct")
    },
    Some(s"""
      SELECT
        CAST(100.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS DOUBLE) AS promo_pct,
        CAST(num AS DOUBLE) AS promo_revenue,
        CAST(den AS DOUBLE) AS total_revenue
      FROM (
        SELECT
          SUM(CASE WHEN p_type = 'PROMO'
              THEN ${OracleSql.netPrice} END) AS num,
          ${OracleSql.revenue} AS den
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '1995-09-01' AND l_shipdate < '1995-10-01'
      )
      ORDER BY promo_pct
    """.trim))

  /** TPC-H Q4 shape: order counts per priority for one quarter, where
    * the order has at least one late line (EXISTS with a correlated
    * non-equi predicate — `l_shipdate > o_orderdate + 60d` stands in
    * for the commit-vs-receipt lateness the fixtures don't carry).
    * Catalyst decorrelates the EXISTS into a left-semi join with the
    * date comparison as a residual condition.
    *
    * Scale notes (100 TB): the quarter predicate prunes the orders
    * scan before the join; the semi join keys on l_orderkey so both
    * exchanges co-partition; semi-join output carries no lineitem
    * columns, so the shuffle after it is orders-sized.
    */
  val tpchQ4PriorityExists = Q(
    "tpch_q4_priority_exists",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1995-07-01" && $"o_orderdate" < "1995-10-01")
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      val l = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_shipdate")
      o.join(l,
          $"o_orderkey" === $"l_orderkey" &&
            $"l_shipdate" > date_add($"o_orderdate", 60),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= '1995-07-01' AND o_orderdate < '1995-10-01'
        AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.trim))

  /** TPC-H Q12 shape: late-shipment lines for one year classified into
    * high/low order priority per return flag (l_returnflag stands in
    * for the l_shipmode column the fixtures don't carry) — the
    * conditional two-way count every SLA report uses.
    *
    * Scale notes (100 TB): the ship-year predicate prunes the
    * lineitem scan; the join keys on the order key (one co-partitioned
    * exchange pair); the lateness comparison is a residual on the
    * joined row; the final agg has 3 groups — partial map-side agg
    * reduces it to #partitions × 3 rows on the wire.
    */
  val tpchQ12LatePriority = Q(
    "tpch_q12_late_priority",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      val l = Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
        .select($"l_orderkey", $"l_shipdate", $"l_returnflag")
      val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .where($"l_shipdate" > date_add($"o_orderdate", 60))
        .groupBy($"l_returnflag")
        .agg(
          count(when(high, 1)).as("high_line_count"),
          count(when(!high, 1)).as("low_line_count"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
              THEN 1 END) AS high_line_count,
        COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
              THEN 1 END) AS low_line_count
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """.trim))

  /** TPC-H Q13 shape: customer distribution by order count — LEFT
    * OUTER join (customers with zero qualifying orders must survive
    * as c_count=0) with an ON-clause filter (priority ≠ 5-LOW stands
    * in for the comment NOT LIKE), then the distribution-of-counts
    * second aggregation.
    *
    * Scale notes (100 TB): the first agg shuffles on c_custkey
    * (customer-sized); the second groups by c_count whose domain is
    * the max per-customer order count (tiny) — a two-level rollup
    * where each level is strictly smaller than its input.
    */
  val tpchQ13Custdist = Q(
    "tpch_q13_custdist",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.customer(spark, dir).select($"c_custkey")
      val o = Tables.orders(spark, dir)
        .where($"o_orderpriority" =!= "5-LOW")
        .select($"o_custkey", $"o_orderkey")
      c.join(o, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },
    Some("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey) t
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC
    """.trim))

  /** TPC-H Q17 shape: revenue from small-quantity lines of one brand —
    * each line compared against 0.2× ITS OWN part's average quantity
    * (correlated scalar over the FACT table, where
    * `sql_correlated_scalar` correlates against a dim): decorrelated
    * into a per-part grouped average joined back. The threshold is
    * exact in both engines: quantities are integral doubles, so
    * SUM/COUNT is exact and 0.2×(sum/count) is the same IEEE double
    * on both sides.
    *
    * Scale notes (100 TB): the brand filter broadcasts (156 parts),
    * restricting lineitem BEFORE the per-part average, so the
    * correlated aggregate runs over the brand's lines only — the
    * decorrelation Catalyst and DuckDB both apply; the avg-join keys
    * on l_partkey (co-partitioned with the restricted fact).
    */
  val tpchQ17SmallqtyRevenue = Q(
    "tpch_q17_smallqty_revenue",
    (spark, dir) => {
      import spark.implicits._
      val p = Tables.part(spark, dir)
        .where($"p_brand" === "Brand#23")
        .select($"p_partkey")
      val lp = Tables.lineitem(spark, dir)
        .select($"l_partkey", $"l_quantity", $"l_extendedprice")
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
      val avgq = lp.groupBy($"l_partkey".as("a_partkey"))
        .agg((sum($"l_quantity") / count(lit(1))).as("avg_qty"))
      lp.join(avgq, $"l_partkey" === $"a_partkey")
        .where($"l_quantity" < lit(0.2) * $"avg_qty")
        .agg(
          count(lit(1)).as("n_lines"),
          (sum(dec($"l_extendedprice")).cast(DoubleType) / lit(7.0))
            .as("avg_yearly"))
    },
    Some("""
      SELECT COUNT(*) AS n_lines,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
          AS avg_yearly
      FROM lineitem l
      JOIN part p ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23'
        AND l_quantity < (
          SELECT 0.2 * (CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """.trim))

  /** TPC-H Q19 shape: revenue under a DISJUNCTIVE multi-attribute
    * predicate (three brand/size/quantity clauses OR'd across the
    * join) — the shape that defeats naive pushdown. The common
    * factors (brand ∈ {12,23,34}, size ≤ 15) are pre-applied to the
    * part side by hand so the broadcast carries only candidate parts;
    * the full disjunction runs as a residual on joined rows.
    *
    * Scale notes (100 TB): part pre-filter keeps the broadcast tiny
    * regardless of part-table scale; lineitem never shuffles (one
    * broadcast hash join + global partial agg).
    */
  val tpchQ19DisjunctiveBrand = Q(
    "tpch_q19_disjunctive_brand",
    (spark, dir) => {
      import spark.implicits._
      val p = Tables.part(spark, dir)
        .where($"p_brand".isin("Brand#12", "Brand#23", "Brand#34") &&
          $"p_size".between(1, 15))
        .select($"p_partkey", $"p_brand", $"p_size")
      val rev = dec($"l_extendedprice") * dec(lit(1) - $"l_discount")
      Tables.lineitem(spark, dir)
        .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
        .where(
          ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
            $"l_quantity".between(1, 11)) ||
          ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
            $"l_quantity".between(10, 20)) ||
          ($"p_brand" === "Brand#34" && $"p_size".between(1, 15) &&
            $"l_quantity".between(20, 30)))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(rev).cast(DoubleType).as("revenue"))
    },
    Some(s"""
      SELECT COUNT(*) AS n_lines,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)
    """.trim))

  /** TPC-H Q22 shape: high-balance customers gone idle — balance above
    * the global positive-balance average (uncorrelated scalar
    * subquery, broadcast as a 1-row frame, never collected) with NO
    * recent order (NOT EXISTS on a date-windowed orders scan → left
    * anti), rolled up per market segment (standing in for the phone
    * country code). The threshold is an exact decimal sum divided
    * once, so both engines compare against the identical double.
    *
    * Scale notes (100 TB): the scalar is one map-side-combinable agg
    * broadcast back; the anti join keys on custkey against the
    * date-pruned orders scan; customer never shuffles twice.
    */
  val tpchQ22IdleBalance = Q(
    "tpch_q22_idle_balance",
    (spark, dir) => {
      import spark.implicits._
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
      val thr = cust.where($"c_acctbal" > 0.0)
        .agg((sum(dec($"c_acctbal")).cast(DoubleType) / count(lit(1)))
          .as("thr"))
      val recent = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "2000-01-01")
        .select($"o_custkey")
      cust.crossJoin(broadcast(thr))
        .where($"c_acctbal" > $"thr")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("numcust"),
          sum(dec($"c_acctbal")).cast(DoubleType).as("totacctbal"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
        COUNT(*) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM customer c
      WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
          FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= '2000-01-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """.trim))

  /** TPC-H Q6 shape: forecast-revenue-change — the pure scan-aggregate
    * flagship: one year of shipments, a discount band, a quantity cap,
    * and a single SUM(extendedprice * discount). No joins at all; the
    * whole query is a filter + global aggregate.
    *
    * Scale notes (100 TB): all three predicates push to the parquet
    * scan (year prunes row groups on l_shipdate min/max; discount and
    * quantity prune via column statistics); the aggregate is one
    * partial-sum per partition and a single-row exchange — the fastest
    * possible shape for a full-fact question, bounded by scan
    * bandwidth alone.
    */
  val tpchQ6ForecastRevenue = Q(
    "tpch_q6_forecast_revenue",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01" &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24.0)
        .agg(sum(dec($"l_extendedprice") * dec($"l_discount"))
          .cast(DoubleType).as("revenue"))
        .orderBy($"revenue")
    },
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24.0
      ORDER BY revenue
    """.trim))

  /** TPC-H Q8 shape: national market share — the widest flagship
    * composition (7 tables): for one part type sold into one region
    * over two years, the share of revenue supplied by one nation per
    * order year. The numerator/denominator conditional-ratio pattern
    * of Q14 on top of the dim-star of Q5/Q7.
    *
    * Scale notes (100 TB): the part-type filter broadcasts only
    * candidate parts, pruning lineitem FIRST (the most selective cut);
    * supplier⋈nation and customer⋈nation⋈region are broadcast lookup
    * maps; the only shuffle pair is lineitem⋈orders on the order key;
    * per-year sums are exact decimals, the share a single double
    * division per year-row — bit-reproducible across engines and
    * partitionings.
    */
  val tpchQ8MarketShare = Q(
    "tpch_q8_market_share",
    (spark, dir) => {
      import spark.implicits._
      val n = Tables.nation(spark, dir)
      val p = Tables.part(spark, dir)
        .where($"p_type" === "STANDARD")
        .select($"p_partkey")
      val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
        .join(broadcast(n.select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val r = Tables.region(spark, dir).where($"r_name" === "EUROPE")
      val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
        .join(broadcast(n.select($"n_nationkey", $"n_regionkey")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey")
      val o = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1998-01-01")
        .select($"o_orderkey", $"o_custkey", $"o_orderdate")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
      val vol = dec($"l_extendedprice") * dec(lit(1) - $"l_discount")
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_extendedprice", $"l_discount")
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        // NO broadcast hint on the orders-derived side: the two-year EUROPE
        // keys are ~6% of orders — still fact-proportional, so a hard hint is
        // a 100 TB OOM. AQE converts SMJ→BHJ at runtime when the filtered
        // side measures small (it does at sf0.1), without committing the plan
        // to a size the cluster can't hold.
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_year")
        .agg(
          sum(when($"supp_nation" === "NATION_8", vol).otherwise(dec(lit(0))))
            .as("nation_vol"),
          sum(vol).as("total_vol"))
        .select(
          $"o_year",
          ($"nation_vol".cast(DoubleType) / $"total_vol".cast(DoubleType))
            .as("mkt_share"),
          $"nation_vol".cast(DoubleType).as("nation_revenue"),
          $"total_vol".cast(DoubleType).as("total_revenue"))
        .orderBy($"o_year")
    },
    Some(s"""
      SELECT o_year,
        CAST(CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE) AS DOUBLE)
          AS mkt_share,
        CAST(nation_vol AS DOUBLE) AS nation_revenue,
        CAST(total_vol AS DOUBLE) AS total_revenue
      FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          SUM(CASE WHEN n1.n_name = 'NATION_8'
              THEN ${OracleSql.netPrice}
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS nation_vol,
          ${OracleSql.revenue} AS total_vol
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
          AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        GROUP BY o_year
      )
      ORDER BY o_year
    """.trim))

  /** TPC-H Q15 shape: top supplier — per-supplier quarterly revenue,
    * then the supplier(s) achieving the global maximum (the
    * view-plus-scalar-subquery query). The max is computed as a 1-row
    * aggregate over the supplier-sized revenue table and broadcast
    * back as a join — never collected to the driver.
    *
    * Scale notes (100 TB): the quarter predicate prunes the fact scan;
    * the per-supplier agg is supplier-cardinality (map-side combine
    * shrinks the shuffle to #partitions × #suppliers-in-partition);
    * everything after — the max row and the winner join — operates on
    * dimension-sized data; supplier names arrive by broadcast.
    */
  val tpchQ15TopSupplier = Q(
    "tpch_q15_top_supplier",
    (spark, dir) => {
      import spark.implicits._
      val rev = Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1996-04-01")
        .groupBy($"l_suppkey")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .as("total_rev"))
      val top = rev.agg(max($"total_rev").as("max_rev"))
      rev.join(broadcast(top), $"total_rev" === $"max_rev")
        .join(broadcast(Tables.supplier(spark, dir)
          .select($"s_suppkey", $"s_name")),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name",
          $"total_rev".cast(DoubleType).as("total_revenue"))
        .orderBy($"s_suppkey")
    },
    Some(s"""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
          ${OracleSql.revenue} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      FROM supplier
      JOIN revenue ON s_suppkey = supplier_no
      WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
      ORDER BY s_suppkey
    """.trim))

  /** Directed nation-level trade edges (src nation → dst nation, exact
    * decimal revenue weight) — the ONE fact-scale stage every graph-family
    * query (PageRank, LPA, k-core, Adamic–Adar) starts from, memoized per
    * corpus and localCheckpointed at its bounded ≤ n² size (the same
    * shared-stage discipline as the shingle/codebook/kNN caches; Bench
    * clocks the build on the shared-stage line, not whichever graph query
    * runs first).
    */
  private val edgeCache = new graft.PlanCache(2)

  def nationTradeEdges(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fresh = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey".as("src"))),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey".as("dst"))),
        $"o_custkey" === $"c_custkey")
      .groupBy($"src", $"dst")
      .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("wgt"))
    edgeCache.getOrCompute(fresh)(_.coalesce(1).localCheckpoint(true))
  }

  /** The DuckDB twin of [[nationTradeEdges]], as the CTE `name(src, dst,
    * wgt)`.
    */
  private def tradeEdgesSql(name: String): String = s"""$name AS (
        SELECT s_nationkey AS src, c_nationkey AS dst,
          ${OracleSql.revenue} AS wgt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
      )"""

  /** The top-50 revenue backbone of the undirected trade graph: `und(a,
    * b)`, the 50 heaviest nation pairs (a < b, exact decimal weight,
    * pair-key tiebreak), and `nb(u, w)`, each edge in both directions.
    * Undirected weights fold the shared directed edges: decimal addition
    * is exact, so the two-step sum equals the one-shot fact-level
    * aggregation of [[tradeBackboneSql]].
    */
  private def tradeBackbone(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val und = nationTradeEdges(spark, dir)
      .where($"src" =!= $"dst")
      .groupBy(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .agg(sum($"wgt").as("wgt"))
      // bounded (≤ nation²/2 rows): one global rank is a single tiny task
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"wgt".desc, $"a", $"b")))
      .where($"rk" <= 50)
      .select($"a", $"b")
    val nb = und.select($"a".as("u"), $"b".as("w"))
      .unionAll(und.select($"b".as("u"), $"a".as("w")))
    (und, nb)
  }

  /** The symmetrized trade graph SPARSIFIED to each node's top-3
    * heaviest partners, `sym(a, b, w)` with the pair weight cast to `wType`
    * (kNN-graph backbone of the LPA, closeness and bottleneck rows). The
    * rank window is per-node over the bounded nation-pair table; the
    * (w desc, b) tiebreak keeps it deterministic.
    */
  private def topPartners(spark: org.apache.spark.sql.SparkSession, dir: String,
      wType: org.apache.spark.sql.types.DecimalType): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val e0 = nationTradeEdges(spark, dir)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy($"w".desc, $"b")
    e0.select($"src".as("a"), $"dst".as("b"), $"wgt")
      .unionAll(e0.select($"dst".as("a"), $"src".as("b"), $"wgt"))
      .where($"a" =!= $"b")
      .groupBy($"a", $"b")
      .agg(sum($"wgt").cast(wType).as("w"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 3)
      .select($"a", $"b", $"w")
  }

  /** Link-prediction pairs `(pa, pb, …)` with both nations' names as
    * `a_name` and `b_name`.
    */
  private def withPairNames(spark: org.apache.spark.sql.SparkSession, dir: String,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    pairs
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey".as("pa"), $"n_name".as("a_name"))), "pa")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey".as("pb"), $"n_name".as("b_name"))), "pb")
  }

  /** The twin of [[tradeBackbone]], as the CTEs `und(a, b)` and `nb(u, w)`. */
  private def tradeBackboneSql: String = s"""und AS (
        SELECT a, b FROM (
          SELECT a, b, ROW_NUMBER() OVER (ORDER BY wgt DESC, a, b) AS rk
          FROM (
            SELECT LEAST(s_nationkey, c_nationkey) AS a,
              GREATEST(s_nationkey, c_nationkey) AS b,
              ${OracleSql.revenue} AS wgt
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            WHERE s_nationkey <> c_nationkey
            GROUP BY 1, 2))
        WHERE rk <= 50
      ), nb AS (
        SELECT a AS u, b AS w FROM und
        UNION ALL SELECT b AS u, a AS w FROM und
      )"""

  /** Bench hook: build (and clock) the shared edge table outside any
    * individual graph query's timer. */
  def prepareSharedStages(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    nationTradeEdges(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** WEIGHTED PAGERANK over the nation-level trade graph — iterative
    * graph analytics beyond reachability (the CC/triangle family in
    * TextOps): edges are (supplier nation → customer nation) weighted
    * by exact decimal revenue, extracted by one fact-table aggregation;
    * 8 damped iterations (d = 0.85) of the standard recurrence
    * pr'(j) = (1-d)/N + d·(Σᵢ pr(i)·w(i,j)/wout(i) + dangling/N) rank
    * nations by trade-flow centrality, with dangling-node mass (nations
    * with no outbound trade — common at small SF) redistributed
    * uniformly so probability mass is conserved exactly (the
    * mass-conservation invariant DriftGraphSpec asserts) — the
    * aggregate-entity importance measure
    * (domain-level PageRank is the web-corpus quality signal built the
    * same way: fact-scale edge extraction, tiny iterative core).
    *
    * Scale notes (100 TB): the ONLY fact-scale work is the edge
    * aggregation (map-side combinable, shuffle keyed on 625 nation
    * pairs); the iteration runs on the aggregated graph — node-count
    * sized, orders below the corpus — collected once and powered on the
    * driver (r14: the unrolled window-over-join lineage was 29 Spark
    * jobs of scheduling for a 25-row answer).
    * Determinism: out-weight shares divide one exact decimal by
    * another (cast to double identically on both engines), per-round
    * contributions round to 9 dp before an exact scale-9 decimal sum
    * (order-independent), so iteration count — not float ordering —
    * decides every digit; the driver loop replicates those expressions
    * operation-for-operation.
    */
  lazy val graphPagerankTrade = Q(
    "graph_pagerank_trade",
    (spark, dir) => {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"src")
      val nodes = Tables.nation(spark, dir).select($"n_nationkey".as("node"), $"n_name")
      val nodeIds: Seq[Any] = nodes.select($"node").collect().toSeq.map(_.get(0))
      // an edge with an endpoint missing from `nation` is dropped BEFORE
      // the out-weight shares and the dangling test, so no round sends
      // rank mass to a node that cannot hold it
      val edges = nationTradeEdges(spark, dir)
        .where($"src".isin(nodeIds: _*) && $"dst".isin(nodeIds: _*))
        .select($"src", $"dst",
          ($"wgt".cast(DoubleType) / sum($"wgt").over(w).cast(DoubleType)).as("ratio"))
      // DRIVER-SIDE power iteration: the ratio table is ≤ nation² rows
      // and the iterate ≤ nations rows BY CONSTRUCTION, while an unrolled
      // window-over-join lineage costs 29 Spark jobs (checkpoints,
      // broadcast builds, the mid-point cut) for a 25-row answer. The
      // out-weight ratios (exact-decimal division, computed in Spark)
      // and node list are
      // collected ONCE; each round replicates the Spark arithmetic
      // bit-for-bit — contribution = round(pr·ratio, 9) HALF_UP (the
      // round6 recipe at 9 dp), summed as exact scale-9 BigDecimals
      // (the DECIMAL(28,9) sum), dangling mass cast the same way, and
      // pr' = round(0.15/n + 0.85·(s + dm/n), 9) in the identical
      // expression order. The iterate returns as a LocalTableScan and
      // the name join / 6 dp output below is unchanged Spark.
      val edgeP: Seq[(Any, Any, Double)] =
        edges.collect().toSeq.map(r => (r.get(0), r.get(1), r.getDouble(2)))
      val nnD = nodeIds.size.toDouble
      val srcSet: Set[Any] = edgeP.map(_._1).toSet
      var prP: Map[Any, Double] = nodeIds.map(n => (n, 1.0 / nnD)).toMap
      for (_ <- 1 to 8) {
        // dangling-node mass (no out-edges) redistributes uniformly —
        // the standard fix that conserves probability mass exactly
        val dm = nodeIds.collect { case n if !srcSet(n) => graft.DriverRound.decimal(prP(n), 9) }
          .reduceOption(_.add(_)).map(_.doubleValue).getOrElse(0.0)
        val zero = java.math.BigDecimal.ZERO.setScale(9)
        val s = scala.collection.mutable.Map[Any, java.math.BigDecimal](
          nodeIds.map(n => (n, zero)): _*)
        for ((src, dst, ratio) <- edgeP)
          s(dst) = s(dst).add(graft.DriverRound.decimal(graft.DriverRound(prP(src) * ratio, 9), 9))
        prP = nodeIds.map(n =>
          (n, graft.DriverRound(0.15 / nnD + 0.85 * (s(n).doubleValue + dm / nnD), 9))).toMap
      }
      import scala.jdk.CollectionConverters._
      val pr = spark.createDataFrame(
        prP.toSeq.map { case (n, p) => org.apache.spark.sql.Row(n, p) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", nodes.schema("node").dataType),
          org.apache.spark.sql.types.StructField("pr", DoubleType))))
      pr.join(broadcast(nodes), "node")
        .select($"node".as("n_nationkey"), $"n_name", round($"pr", 6).as("pagerank"))
        .orderBy($"pagerank".desc, $"n_nationkey")
    },
    Some {
      val iters = (1 to 8).map { i =>
        s"""dm$i AS (
        SELECT COALESCE(CAST(SUM(CAST(p.pr AS DECIMAL(28,9))) AS DOUBLE), 0.0) AS dm
        FROM pr${i - 1} p
        WHERE p.node NOT IN (SELECT src FROM ratio)
      ), pr$i AS (
        SELECT n.node,
          ROUND(CAST(0.15 AS DOUBLE) / ANY_VALUE(nn.nn)
            + CAST(0.85 AS DOUBLE)
              * (COALESCE(CAST(SUM(CAST(t.c AS DECIMAL(28,9))) AS DOUBLE), 0.0)
                 + ANY_VALUE(dm$i.dm) / ANY_VALUE(nn.nn)), 9) AS pr
        FROM (SELECT n_nationkey AS node FROM nation) n
        CROSS JOIN nn
        CROSS JOIN dm$i
        LEFT JOIN (
          SELECT r.dst, ROUND(p.pr * r.ratio, 9) AS c
          FROM ratio r JOIN pr${i - 1} p ON r.src = p.node
        ) t ON t.dst = n.node
        GROUP BY n.node
      )"""
      }.mkString(", ")
      s"""
      WITH ${tradeEdgesSql("edges")}, ratio AS (
        SELECT src, dst,
          CAST(wgt AS DOUBLE) / CAST(SUM(wgt) OVER (PARTITION BY src) AS DOUBLE) AS ratio
        FROM edges
        WHERE src IN (SELECT n_nationkey FROM nation)
          AND dst IN (SELECT n_nationkey FROM nation)
      ), nn AS (SELECT COUNT(*) AS nn FROM nation),
      pr0 AS (
        SELECT n_nationkey AS node, CAST(1 AS DOUBLE) / nn.nn AS pr
        FROM nation CROSS JOIN nn
      ), $iters
      SELECT n_nationkey, n_name, ROUND(pr, 6) AS pagerank
      FROM pr8 JOIN nation ON node = n_nationkey
      ORDER BY pagerank DESC, n_nationkey
      """.trim
    })

  /** Weighted label propagation communities over the nation trade graph
    * (SURVEY §2 I-sext) — the clustering sibling of
    * `graph_pagerank_trade`: PageRank RANKS nodes by trade mass, LPA
    * CLUSTERS them into trade blocs. The symmetrized graph is sparsified
    * to each node's top-3 heaviest partners (the kNN-graph backbone —
    * majority LPA on a near-complete weighted graph degenerates to one
    * bloc), then three synchronous rounds of label(v) ← argmax over
    * neighbor labels of summed edge weight, with the deterministic
    * (weight desc, label asc) tiebreak; isolated nodes keep their own
    * label.
    *
    * Scale notes: the only fact-scale work is the one edge aggregation
    * (identical to PageRank's); the symmetrized graph is nation-pair
    * sized and each round is an argmax window over the ≤2·625-row vote
    * table, checkpointed per round via `Checkpoints.cut` (reliable FS
    * checkpoint on a cluster, executor-local blocks here). Edge weights
    * are exact decimal revenue, so argmax ordering — and therefore every
    * community — is reproducible on any engine or partitioning.
    */
  val graphLabelPropagation = Q(
    "graph_label_propagation",
    (spark, dir) => {
      import spark.implicits._
      // on this corpus every nation trades with every other, and majority
      // LPA on a near-complete weighted graph collapses to one bloc — the
      // top-3 backbone keeps only the dominant trade relationships, which
      // is where bloc structure lives
      val sym = topPartners(spark, dir, org.apache.spark.sql.types.DecimalType(28, 2))
      val nodes = Tables.nation(spark, dir).select($"n_nationkey".as("node"), $"n_name")
      // DRIVER-SIDE synchronous LPA rounds: the backbone is ≤ 3·nations
      // edges and the label table ≤ nations rows BY CONSTRUCTION, while a
      // per-round checkpoint loop costs 35 Spark jobs for a 25-row answer. The backbone
      // (aggregated/thinned in Spark, decimal arithmetic unchanged) and
      // the node list are collected ONCE; vote sums add the exact
      // scale-2 decimals (BigDecimal.add — order-independent), the
      // argmax replicates the (vw desc, lab asc) row_number tiebreak
      // via compareTo, isolated nodes keep their label (the left-join
      // coalesce); labels return as a LocalTableScan and the
      // size/name join below is unchanged Spark.
      val symP: Seq[(Any, Any, java.math.BigDecimal)] =
        sym.collect().toSeq.map(r => (r.get(0), r.get(1), r.getDecimal(2)))
      val nodeIds: Seq[Any] = nodes.select($"node").collect().toSeq.map(_.get(0))
      var labP: Map[Any, Any] = nodeIds.map(n => (n, n)).toMap
      for (_ <- 1 to 3) {
        val votes = symP
          .flatMap { case (a, b, w2) => labP.get(b).map(l => ((a, l), w2)) }
          .groupBy(_._1)
          .map { case ((a, l), ws) =>
            (a, l, ws.map(_._2).reduce(_.add(_))) }
        val newLab = votes.groupBy(_._1).map { case (a, vs) =>
          // (vw desc, lab asc) — the row_number tiebreak, numerically
          val winner = vs.reduce { (x, y) =>
            val c = x._3.compareTo(y._3)
            if (c > 0) x
            else if (c < 0) y
            else if (x._2.asInstanceOf[Number].longValue <=
                     y._2.asInstanceOf[Number].longValue) x else y
          }
          (a, winner._2)
        }
        labP = labP.map { case (n, old) => (n, newLab.getOrElse(n, old)) }
      }
      import scala.jdk.CollectionConverters._
      val lab = spark.createDataFrame(
        labP.toSeq.map { case (n, l) => org.apache.spark.sql.Row(n, l) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", nodes.schema("node").dataType),
          org.apache.spark.sql.types.StructField("lab", nodes.schema("node").dataType))))
      val sizes = lab.groupBy($"lab").agg(count(lit(1)).as("community_size"))
      lab.join(broadcast(nodes), "node")
        .join(broadcast(sizes), "lab")
        .select($"node".as("n_nationkey"), $"n_name",
          $"lab".as("community"), $"community_size")
        .orderBy($"n_nationkey")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""lab$i AS (
        SELECT p.node, COALESCE(nw.lab, p.lab) AS lab
        FROM lab${i - 1} p
        LEFT JOIN (
          SELECT node, lab FROM (
            SELECT v.node, v.lab,
              ROW_NUMBER() OVER (PARTITION BY v.node ORDER BY v.vw DESC, v.lab) AS rn
            FROM (SELECT s.a AS node, l.lab, SUM(s.w) AS vw
                  FROM sym s JOIN lab${i - 1} l ON s.b = l.node
                  GROUP BY 1, 2) v
          ) WHERE rn = 1
        ) nw ON nw.node = p.node
      )"""
      }.mkString(", ")
      s"""
      WITH ${tradeEdgesSql("e0")}, symall AS (
        SELECT a, b, CAST(SUM(wgt) AS DECIMAL(28,2)) AS w
        FROM (SELECT src AS a, dst AS b, wgt FROM e0
              UNION ALL
              SELECT dst AS a, src AS b, wgt FROM e0)
        WHERE a <> b
        GROUP BY a, b
      ), sym AS (
        SELECT a, b, w FROM (
          SELECT a, b, w,
            ROW_NUMBER() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
          FROM symall
        ) WHERE rn <= 3
      ), lab0 AS (
        SELECT n_nationkey AS node, n_nationkey AS lab FROM nation
      ), $rounds, sizes AS (
        SELECT lab, COUNT(*) AS community_size FROM lab3 GROUP BY lab
      )
      SELECT n_nationkey, n_name, lab AS community, community_size
      FROM lab3
      JOIN nation ON node = n_nationkey
      JOIN sizes USING (lab)
      ORDER BY n_nationkey
      """.trim
    })

  /** K-CORE of the nation trade graph (SURVEY §2 I-sext) — the third
    * graph primitive next to PageRank (rank) and LPA (cluster): the
    * maximal subgraph where every member keeps ≥ k strong trade
    * partners, the standard "dense backbone" extraction (fraud rings,
    * community cores, robust-supplier sets). The complete trade graph
    * is first sparsified to STRONG edges (undirected pair weight ≥ the
    * mean pair weight — a data-derived threshold, not a constant), then
    * peeled: drop nodes of degree < k, recompute, repeat. Four unrolled
    * rounds are past the observed fixpoint at every SF (peeling
    * converges in ≤2 rounds here; FlagshipGraphSpec asserts the
    * survivors' min degree ≥ k, which fails if rounds were ever too
    * few).
    *
    * Scale notes: the only fact-scale work is the one edge aggregation
    * (identical to PageRank's — revenue-weighted supplier→customer
    * nation pairs, exact decimal); the strong-edge table is ≤ nation²
    * rows regardless of corpus scale, so peeling rides the driver on the
    * collected pairs (r14 — the per-round checkpoint loop paid 25 Spark
    * jobs of pure scheduling for a 15-row answer) and the survivors
    * return as a local relation for the unchanged output aggregation.
    */
  val graphKcoreTrade = Q(
    "graph_kcore_trade",
    (spark, dir) => {
      import spark.implicits._
      val k = 8
      val e0 = nationTradeEdges(spark, dir)
      val und = e0.where($"src" =!= $"dst")
        .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"), $"wgt")
        .groupBy($"u", $"v")
        .agg(sum($"wgt").cast(org.apache.spark.sql.types.DecimalType(28, 2)).as("w"))
      val thr = und.agg(
        (sum($"w").cast(DoubleType) / count(lit(1))).as("t"))
      val live0 = und.crossJoin(broadcast(thr))
        .where($"w".cast(DoubleType) >= $"t")
        .select($"u", $"v")
      // DRIVER-SIDE peeling: live0 is ≤ nation² rows BY CONSTRUCTION
      // (nation is the bounded 25-row dimension), while a per-round
      // checkpoint loop costs 5 eager jobs + 4 broadcast builds for pure
      // integer degree-counting — 25 Spark jobs for a 15-row answer. The
      // strong-edge table (built and thresholded in Spark, all decimal
      // arithmetic unchanged) is collected ONCE; peeling is exact integer set
      // logic replicating the unionAll/groupBy/count ≥ k/semi-join rounds
      // verbatim; the survivor pairs return as a LocalTableScan with the
      // identical schema and the output aggregation below is unchanged Spark.
      val liveSchema = live0.schema
      var liveP: Seq[(Any, Any)] =
        live0.collect().toSeq.map(r => (r.get(0), r.get(1)))
      for (_ <- 1 to 4) {
        val deg = (liveP.map(_._1) ++ liveP.map(_._2))
          .groupBy(identity).map { case (n, g) => (n, g.size) }
        val keep = deg.collect { case (n, d) if d >= k => n }.toSet
        liveP = liveP.filter(p => keep(p._1) && keep(p._2))
      }
      import scala.jdk.CollectionConverters._
      val live = spark.createDataFrame(
        liveP.map { case (u, v) => org.apache.spark.sql.Row(u, v) }.asJava,
        liveSchema)
      val coreDeg = live.select($"u".as("node")).unionAll(live.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("core_degree"))
      val nodes = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
      coreDeg
        .join(broadcast(nodes), $"node" === $"n_nationkey")
        .select($"n_nationkey", $"n_name", $"core_degree")
        .orderBy($"n_nationkey")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""deg$i AS MATERIALIZED (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM live${i - 1}
              UNION ALL SELECT v AS node FROM live${i - 1})
        GROUP BY node
      ), live$i AS MATERIALIZED (
        SELECT l.u, l.v FROM live${i - 1} l
        JOIN deg$i du ON l.u = du.node AND du.d >= 8
        JOIN deg$i dv ON l.v = dv.node AND dv.d >= 8
      )"""
      }.mkString(", ")
      s"""
      WITH ${tradeEdgesSql("e0")}, und AS (
        SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
          CAST(SUM(wgt) AS DECIMAL(28,2)) AS w
        FROM e0 WHERE src <> dst
        GROUP BY 1, 2
      ), thr AS (
        SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS t FROM und
      ), live0 AS MATERIALIZED (
        SELECT u, v FROM und, thr WHERE CAST(w AS DOUBLE) >= t
      ), $rounds
      SELECT n_nationkey, n_name, core_degree
      FROM (
        SELECT node, COUNT(*) AS core_degree
        FROM (SELECT u AS node FROM live4 UNION ALL SELECT v AS node FROM live4)
        GROUP BY node
      )
      JOIN nation ON node = n_nationkey
      ORDER BY n_nationkey
      """.trim
    })

  /** Adamic–Adar link prediction over the nation trade graph (SURVEY §2
    * I-sept) — "which two nations that do NOT trade today share the most
    * (rare) trading partners?": for each non-adjacent pair (a,b) of the
    * top-50-by-revenue undirected trade edges, score
    * AA = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) (common neighbors, discounted
    * by how promiscuous each shared partner is — Adamic & Adar 2003).
    * The recommendation primitive of the graph family: PageRank ranks
    * nodes, LPA groups them, k-core grades cohesion; AA predicts the
    * MISSING EDGES. Top-10 predicted links by (AA desc, pair asc).
    *
    * Scale notes (100 TB): the only fact-scale stage is the same
    * revenue-weighted edge aggregation the other graph rows share
    * (map-side combinable, ≤ n² nation pairs out). Edge thinning
    * (top-50 by exact decimal weight, pair-key tiebreak) and the
    * common-neighbor self-join all live on the bounded node-sized
    * tables. Determinism: weights are exact decimals; 1/ln(deg) terms
    * round to 12 dp and sum as exact DECIMAL (§2.0 rule 7); a common
    * neighbor has deg ≥ 2 by construction so ln never hits zero.
    */
  lazy val graphAdamicAdar = Q(
    "graph_adamic_adar",
    (spark, dir) => {
      import spark.implicits._
      val (und, nb) = tradeBackbone(spark, dir)
      val degc = nb.groupBy($"w".as("wd")).agg(count(lit(1)).as("deg"))
      val cand = nb.select($"u".as("pa"), $"w")
        .join(nb.select($"u".as("pb"), $"w"), "w")
        .where($"pa" < $"pb")
        .join(und, $"pa" === $"a" && $"pb" === $"b", "left_anti")
        .join(broadcast(degc), $"w" === $"wd")
      val scored = cand.groupBy($"pa", $"pb")
        .agg(count(lit(1)).as("common_neighbors"),
          sum(round(lit(1.0) / log($"deg".cast(DoubleType)), 12)
            .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("aas"))
        .select($"pa", $"pb", $"common_neighbors",
          round($"aas".cast(DoubleType), 6).as("aa_score"))
      withPairNames(spark, dir, scored)
        .orderBy($"aa_score".desc, $"a_name", $"b_name")
        .limit(10)
        .select($"a_name", $"b_name", $"common_neighbors", $"aa_score")
    },
    Some(s"""
      WITH $tradeBackboneSql, degc AS (
        SELECT w AS wd, COUNT(*) AS deg FROM nb GROUP BY 1
      ), cand AS (
        SELECT x.u AS pa, y.u AS pb, x.w
        FROM nb x JOIN nb y ON x.w = y.w AND x.u < y.u
        WHERE NOT EXISTS (SELECT 1 FROM und WHERE a = x.u AND b = y.u)
      ), scored AS (
        SELECT pa, pb, COUNT(*) AS common_neighbors,
          ROUND(CAST(SUM(CAST(ROUND(1.0 / LN(CAST(deg AS DOUBLE)), 12)
            AS DECIMAL(28,12))) AS DOUBLE), 6) AS aa_score
        FROM cand JOIN degc ON w = wd
        GROUP BY 1, 2
      )
      SELECT na.n_name AS a_name, nbn.n_name AS b_name,
        common_neighbors, aa_score
      FROM scored
      JOIN nation na ON pa = na.n_nationkey
      JOIN nation nbn ON pb = nbn.n_nationkey
      ORDER BY aa_score DESC, a_name, b_name
      LIMIT 10
    """.trim))

  /** Jaccard neighbor-overlap link prediction (SURVEY §2 I-oct) — the
    * degree-normalized companion to [[graphAdamicAdar]]: for every
    * NON-edge pair of the top-50 trade backbone, |Γa∩Γb| / |Γa∪Γb| with
    * the union expanded as deg(a)+deg(b)−common, so the whole score is
    * EXACT integer arithmetic until one final 6 dp divide — no log
    * weighting, no float accumulation anywhere. AA ranks by how RARE
    * the shared partners are; Jaccard by how EXCLUSIVE the overlap is —
    * the two standard link predictors a graph-feature pipeline emits
    * side by side.
    *
    * Scale notes: rides the SAME memoized fact-scale edge stage as the
    * rest of the graph family; everything after the backbone thinning
    * (≤ nation²/2 rows) is bounded-table algebra — the self-join,
    * anti-join and degree joins all run on ≤ 100-row frames.
    */
  lazy val graphJaccardNeighbors = Q(
    "graph_jaccard_neighbors",
    (spark, dir) => {
      import spark.implicits._
      val (und, nb) = tradeBackbone(spark, dir)
      val degc = nb.groupBy($"u".as("ud")).agg(count(lit(1)).as("deg"))
      val common = nb.select($"u".as("pa"), $"w")
        .join(nb.select($"u".as("pb"), $"w"), "w")
        .where($"pa" < $"pb")
        .join(und, $"pa" === $"a" && $"pb" === $"b", "left_anti")
        .groupBy($"pa", $"pb")
        .agg(count(lit(1)).as("common_neighbors"))
      val scored = common
        .join(broadcast(degc.select($"ud".as("pa"), $"deg".as("deg_a"))), "pa")
        .join(broadcast(degc.select($"ud".as("pb"), $"deg".as("deg_b"))), "pb")
        .select($"pa", $"pb", $"common_neighbors",
          ($"deg_a" + $"deg_b" - $"common_neighbors").as("union_neighbors"),
          round($"common_neighbors".cast(DoubleType) /
            ($"deg_a" + $"deg_b" - $"common_neighbors"), 6).as("jaccard"))
      withPairNames(spark, dir, scored)
        .orderBy($"jaccard".desc, $"a_name", $"b_name")
        .limit(10)
        .select($"a_name", $"b_name", $"common_neighbors",
          $"union_neighbors", $"jaccard")
    },
    Some(s"""
      WITH $tradeBackboneSql, degc AS (
        SELECT u AS ud, COUNT(*) AS deg FROM nb GROUP BY 1
      ), common AS (
        SELECT x.u AS pa, y.u AS pb, COUNT(*) AS common_neighbors
        FROM nb x JOIN nb y ON x.w = y.w AND x.u < y.u
        WHERE NOT EXISTS (SELECT 1 FROM und WHERE a = x.u AND b = y.u)
        GROUP BY 1, 2
      )
      SELECT na.n_name AS a_name, nbn.n_name AS b_name,
        common_neighbors,
        da.deg + db.deg - common_neighbors AS union_neighbors,
        ROUND(CAST(common_neighbors AS DOUBLE)
              / (da.deg + db.deg - common_neighbors), 6) AS jaccard
      FROM common
      JOIN degc da ON pa = da.ud
      JOIN degc db ON pb = db.ud
      JOIN nation na ON pa = na.n_nationkey
      JOIN nation nbn ON pb = nbn.n_nationkey
      ORDER BY jaccard DESC, a_name, b_name
      LIMIT 10
    """.trim))

  /** Degree assortativity of the nation trade graph (SURVEY §2 I-sept)
    * — Newman's r: the Pearson correlation of the degrees at the two
    * ends of every undirected edge (both orientations, the standard
    * symmetrization). r > 0 = hubs trade with hubs (a core-periphery
    * failure won't cascade far), r < 0 = hubs bridge the periphery
    * (hub loss fragments the graph) — the one-number structural
    * summary the rank/group/cohesion/prediction rows don't state.
    *
    * Scale notes: rides the SAME memoized fact-scale edge stage as the
    * rest of the graph family, thinned to the top-50 revenue backbone
    * (the raw graph is near-complete — zero degree variance makes r
    * undefined); degrees and moments live on the bounded pair table. Determinism: every moment (Σx, Σx², Σxy
    * over integer degrees) is EXACT integer arithmetic — the only
    * doubles are the final scalar correlation, identical in both
    * engines.
    */
  lazy val graphAssortativity = Q(
    "graph_assortativity",
    (spark, dir) => {
      import spark.implicits._
      // the raw nation graph is near-complete (degree variance 0 →
      // undefined r), so the statistic runs on the same top-50 revenue
      // backbone the Adamic–Adar row predicts against
      val (und, nb) = tradeBackbone(spark, dir)
      val degc = nb.groupBy($"u").agg(count(lit(1)).as("deg"))
      val ends = nb
        .join(broadcast(degc.select($"u", $"deg".as("dx"))), "u")
        .join(broadcast(degc.select($"u".as("w"), $"deg".as("dy"))), "w")
      val m = ends.agg(
        count(lit(1)).as("n_ends"),
        sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dy").as("sxy"),
        sum($"dx" * $"dx").as("sxx"),
        sum($"dy" * $"dy").as("syy"))
      m.select(
        expr("n_ends div 2").as("n_edges"),
        round(($"n_ends" * $"sxy" - $"sx" * $"sy").cast(DoubleType) /
          nullif(sqrt(($"n_ends" * $"sxx" - $"sx" * $"sx").cast(DoubleType)) *
            sqrt(($"n_ends" * $"syy" - $"sy" * $"sy").cast(DoubleType)), lit(0.0d)),
          6).as("assortativity"))
    },
    Some(s"""
      WITH $tradeBackboneSql, degc AS (
        SELECT u, COUNT(*) AS deg FROM nb GROUP BY 1
      ), ends AS (
        SELECT dx.deg AS dx, dy.deg AS dy
        FROM nb
        JOIN degc dx ON nb.u = dx.u
        JOIN degc dy ON nb.w = dy.u
      ), m AS (
        SELECT COUNT(*) AS n_ends,
          SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
          SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
        FROM ends
      )
      SELECT CAST(n_ends // 2 AS BIGINT) AS n_edges,
        ROUND(CAST(n_ends * sxy - sx * sy AS DOUBLE)
          / NULLIF(SQRT(CAST(n_ends * sxx - sx * sx AS DOUBLE))
            * SQRT(CAST(n_ends * syy - sy * sy AS DOUBLE)), 0.0), 6) AS assortativity
      FROM m
    """.trim))

  /** HARMONIC CLOSENESS centrality on the trade backbone (SURVEY §2
    * I-oct) — the reachability-efficiency member of the centrality
    * family (PageRank = flow importance, k-core = cohesion depth, LPA =
    * blocs; closeness = how FEW hops a node needs to reach everyone).
    * Harmonic form Σ 1/d(u,v) — the disconnection-robust standard
    * (Boldi–Vigna): unreachable pairs contribute 0 instead of breaking
    * the mean. Graph = the same symmetrized top-3-per-node backbone LPA
    * clusters (near-complete raw graph makes closeness degenerate);
    * distances by 4 min-plus rounds over unit hops (≤5-hop horizon,
    * declared — the same bounded-round contract as k-core/LPA), run on
    * the driver over the collected ≤3·nations-row backbone (r14). Per
    * node: reach count, eccentricity (within horizon), harmonic score.
    *
    * Scale notes (100 TB): fact-scale work is the ONE shared edge
    * aggregation (memoized stage); everything iterative runs on the
    * node²-bounded distance table. Determinism: 1/d terms round at 9 dp
    * into an int64-backed DECIMAL(18,9) sum (width-38 decimal→double is
    * one ulp off in the oracle engine), hop counts are exact integers.
    */
  lazy val graphHarmonicCloseness = Q(
    "graph_harmonic_closeness",
    (spark, dir) => {
      import spark.implicits._
      val sym = topPartners(spark, dir, org.apache.spark.sql.types.DecimalType(28, 2))
        .select($"a", $"b")
      // DRIVER-SIDE min-plus rounds: the backbone is ≤ 3·nations
      // directed edges BY CONSTRUCTION, while a per-round checkpoint loop
      // costs 32 Spark jobs for a 25-row answer. The backbone (aggregated and
      // thinned in Spark, decimal arithmetic unchanged) is collected ONCE;
      // each round replicates the carry ∪ (extend, nxt ≠ u) → min-per-(u,v)
      // relaxation with exact integer hop counts; the distance table returns
      // as a LocalTableScan and the harmonic aggregation below is unchanged.
      val symP: Seq[(Any, Any)] = sym.collect().toSeq.map(r => (r.get(0), r.get(1)))
      val adj = symP.groupBy(_._1)
      var distP: Map[(Any, Any), Long] =
        symP.map { case (a, b) => ((a, b), 1L) }.toMap
      for (_ <- 1 to 4) {
        val ext = distP.toSeq.flatMap { case ((u, v), d) =>
          adj.getOrElse(v, Nil).collect { case (_, nxt) if nxt != u => ((u, nxt), d + 1L) }
        }
        distP = (distP.toSeq ++ ext)
          .groupBy(_._1).map { case (k2, ds) => (k2, ds.map(_._2).min) }
      }
      import scala.jdk.CollectionConverters._
      val dist = spark.createDataFrame(
        distP.toSeq.map { case ((u, v), d) => org.apache.spark.sql.Row(u, v, d) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", sym.schema("a").dataType),
          org.apache.spark.sql.types.StructField("v", sym.schema("b").dataType),
          org.apache.spark.sql.types.StructField("d",
            org.apache.spark.sql.types.LongType))))
      val nodes = Tables.nation(spark, dir).select($"n_nationkey".as("u"), $"n_name")
      dist
        .groupBy($"u")
        .agg(
          count(lit(1)).as("n_reached"),
          max($"d").as("eccentricity"),
          sum(round(lit(1.0d) / $"d", 9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).as("hsum"))
        .join(broadcast(nodes), "u")
        .select($"u".as("n_nationkey"), $"n_name", $"n_reached", $"eccentricity",
          $"hsum".cast(org.apache.spark.sql.types.DecimalType(18, 9))
            .cast(DoubleType).as("harmonic"))
        .orderBy($"n_nationkey")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""d$i AS MATERIALIZED (
        SELECT u, v, MIN(d) AS d FROM (
          SELECT u, v, d FROM d${i - 1}
          UNION ALL
          SELECT p.u, s.b AS v, p.d + 1 AS d
          FROM d${i - 1} p JOIN sym s ON p.v = s.a
          WHERE s.b <> p.u)
        GROUP BY u, v
      )"""
      }.mkString(", ")
      s"""
      WITH ${tradeEdgesSql("e0")}, symall AS (
        SELECT a, b, CAST(SUM(wgt) AS DECIMAL(28,2)) AS w
        FROM (SELECT src AS a, dst AS b, wgt FROM e0
              UNION ALL
              SELECT dst AS a, src AS b, wgt FROM e0)
        WHERE a <> b
        GROUP BY a, b
      ), sym AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT a, b,
            ROW_NUMBER() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
          FROM symall
        ) WHERE rn <= 3
      ), d0 AS (
        SELECT a AS u, b AS v, CAST(1 AS BIGINT) AS d FROM sym
      ), $rounds
      SELECT u AS n_nationkey, n_name,
        COUNT(*) AS n_reached,
        MAX(d) AS eccentricity,
        CAST(CAST(SUM(CAST(ROUND(1.0 / d, 9) AS DECIMAL(18,9))) AS DECIMAL(18,9))
          AS DOUBLE) AS harmonic
      FROM d4 JOIN nation ON u = n_nationkey
      GROUP BY u, n_name
      ORDER BY n_nationkey
      """.trim
    })

  /** Bottleneck (maximin) path strength on the trade backbone (SURVEY
    * §2 I-non) — "how strong is the WEAKEST link on the BEST route":
    * for every ordered reachable pair of the top-3 backbone, the
    * maximum over ≤5-hop paths of the minimum edge weight along the
    * path — the widest-path / most-robust-route question (supply-chain
    * resilience reads exactly this), and a different SEMIRING from the
    * rest of the graph family: closeness relaxes (min, +) over hop
    * counts; this row relaxes (max, min) over exact decimal weights —
    * NO arithmetic ever happens on the weights, only comparisons, so
    * every value is engine-exact by construction. Per node: reach
    * count, the strongest-bottleneck peer (id tiebreak), and the
    * weakest guaranteed route among reached peers.
    *
    * Scale notes (100 TB): fact-scale work is the ONE shared memoized
    * edge aggregation; the top-3 thinning bounds the relax table at
    * ≤ nations² rows, so the 4 relaxation rounds ride the driver over
    * the collected backbone (r14 — the per-round checkpoint loop paid
    * 32 Spark jobs of scheduling for a 25-row answer). The declared
    * ≤5-hop horizon is the bounded-round contract the closeness row set.
    */
  lazy val graphBottleneckPaths = Q(
    "graph_bottleneck_paths",
    (spark, dir) => {
      import spark.implicits._
      val sym = topPartners(spark, dir, org.apache.spark.sql.types.DecimalType(18, 4))
      // DRIVER-SIDE (max, min) relaxation: the backbone is ≤ 3·nations
      // edges BY CONSTRUCTION and the semiring only COMPARES the exact
      // decimal weights (never adds), so a per-round checkpoint loop's 32
      // Spark jobs would be pure scheduling. The backbone (aggregated/thinned in Spark, decimal
      // arithmetic unchanged) is collected ONCE; each round replicates
      // carry ∪ (extend with least) → max-per-(u,v) using
      // BigDecimal.compareTo (Spark decimal ordering); the relax table
      // returns as a LocalTableScan and the output block is unchanged.
      val bdMin = (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        if (x.compareTo(y) <= 0) x else y
      val symP: Seq[(Any, Any, java.math.BigDecimal)] =
        sym.collect().toSeq.map(r => (r.get(0), r.get(1), r.getDecimal(2)))
      val adj = symP.groupBy(_._1)
      var bestP: Map[(Any, Any), java.math.BigDecimal] =
        symP.map { case (a, b, w2) => ((a, b), w2) }.toMap
      for (_ <- 1 to 4) {
        val ext = bestP.toSeq.flatMap { case ((u, v), w2) =>
          adj.getOrElse(v, Nil).collect {
            case (_, nxt, w3) if nxt != u => ((u, nxt), bdMin(w2, w3)) }
        }
        bestP = (bestP.toSeq ++ ext)
          .groupBy(_._1).map { case (k2, ws) => (k2, ws.map(_._2).reduce(
            (x, y) => if (x.compareTo(y) >= 0) x else y)) }
      }
      import scala.jdk.CollectionConverters._
      val best = spark.createDataFrame(
        bestP.toSeq.map { case ((u, v), w2) => org.apache.spark.sql.Row(u, v, w2) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", sym.schema("a").dataType),
          org.apache.spark.sql.types.StructField("v", sym.schema("b").dataType),
          org.apache.spark.sql.types.StructField("w", sym.schema("w").dataType))))
      val wPeer = org.apache.spark.sql.expressions.Window
        .partitionBy($"u").orderBy($"w".desc, $"v")
      val names = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
      best
        .withColumn("rn", row_number().over(wPeer))
        .groupBy($"u")
        .agg(
          count(lit(1)).as("n_reached"),
          max(when($"rn" === 1, $"v")).as("best_peer"),
          max($"w").as("best_w"),
          min($"w").as("weakest_w"))
        .join(broadcast(names.select($"n_nationkey".as("u"), $"n_name")), "u")
        .join(broadcast(names.select(
          $"n_nationkey".as("best_peer"), $"n_name".as("best_peer_name"))), "best_peer")
        .select($"u".as("n_nationkey"), $"n_name", $"n_reached",
          $"best_peer_name",
          $"best_w".cast(DoubleType).as("best_bottleneck"),
          $"weakest_w".cast(DoubleType).as("weakest_bottleneck"))
        .orderBy($"n_nationkey")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""b$i AS MATERIALIZED (
        SELECT u, v, MAX(w) AS w FROM (
          SELECT u, v, w FROM b${i - 1}
          UNION ALL
          SELECT p.u, s.b AS v, LEAST(p.w, s.w) AS w
          FROM b${i - 1} p JOIN sym s ON p.v = s.a
          WHERE s.b <> p.u)
        GROUP BY u, v
      )"""
      }.mkString(", ")
      s"""
      WITH ${tradeEdgesSql("e0")}, symall AS (
        SELECT a, b, CAST(SUM(wgt) AS DECIMAL(18,4)) AS w
        FROM (SELECT src AS a, dst AS b, wgt FROM e0
              UNION ALL
              SELECT dst AS a, src AS b, wgt FROM e0)
        WHERE a <> b
        GROUP BY a, b
      ), sym AS MATERIALIZED (
        SELECT a, b, w FROM (
          SELECT a, b, w,
            ROW_NUMBER() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
          FROM symall)
        WHERE rn <= 3
      ), b0 AS MATERIALIZED (
        SELECT a AS u, b AS v, w FROM sym
      ), $rounds, summarized AS (
        SELECT u,
          COUNT(*) AS n_reached,
          MAX(CASE WHEN rn = 1 THEN v END) AS best_peer,
          MAX(w) AS best_w,
          MIN(w) AS weakest_w
        FROM (
          SELECT u, v, w,
            ROW_NUMBER() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          FROM b4)
        GROUP BY u
      )
      SELECT u AS n_nationkey, na.n_name, n_reached,
        nb.n_name AS best_peer_name,
        CAST(best_w AS DOUBLE) AS best_bottleneck,
        CAST(weakest_w AS DOUBLE) AS weakest_bottleneck
      FROM summarized
      JOIN nation na ON u = na.n_nationkey
      JOIN nation nb ON best_peer = nb.n_nationkey
      ORDER BY n_nationkey
      """.trim
    })

  /** TPC-H Q2 shape adapted to this corpus (SURVEY §2 I-tredec; there
    * is no partsupp table — TESTDATA.md): the supply relation is the
    * OBSERVED trade history — per (part, supplier) the minimum 6-dp
    * unit price seen in lineitem — and for every LARGE part of size
    * ≤ 10 the query returns the EUROPE supplier(s) achieving the
    * region-wide minimum unit cost for that part. This keeps Q2's
    * signature: a correlated min over a scoped relation, re-joined by
    * equality to recover the achieving rows.
    *
    * Scale notes (100 TB): one partial-aggregated fact pass builds the
    * (part, supplier) pair-min; everything after runs on the bounded
    * scoped pair table with broadcast dims (region/nation/supplier/part
    * filters), and the per-part min re-join broadcasts a parts-subset-
    * sized frame.
    */
  val tpchQ2MinCostSupplier = Q(
    "tpch_q2_min_cost_supplier",
    (spark, dir) => {
      import spark.implicits._
      val eur = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir).where($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val parts = Tables.part(spark, dir)
        .where($"p_type" === "LARGE" && $"p_size" <= 10)
        .select($"p_partkey")
      val pairCost = Tables.lineitem(spark, dir)
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min(round($"l_extendedprice".cast(DoubleType) / $"l_quantity", 6))
          .as("unit_cost"))
      val scoped = pairCost
        .join(broadcast(parts), $"l_partkey" === $"p_partkey")
        .join(broadcast(eur), $"l_suppkey" === $"s_suppkey")
        .select($"p_partkey", $"s_name", $"n_name", $"s_acctbal", $"unit_cost")
      // per-part min as a WINDOW over the scoped pairs (r13): the old
      // agg-and-join-back shape re-ran the whole lineitem rollup for the
      // min-cost side (20 parquet scans in the physical plan → 5, one of
      // lineitem); the window's partitions are bounded by suppliers per
      // part, and the filter is the same min-cost predicate.
      val wPart = Window.partitionBy($"p_partkey")
      scoped
        .withColumn("min_cost", min($"unit_cost").over(wPart))
        .where($"unit_cost" === $"min_cost")
        .select($"p_partkey", $"s_name", $"n_name",
          $"s_acctbal".cast(DoubleType).as("s_acctbal"), $"unit_cost")
        .orderBy($"p_partkey", $"s_name")
    },
    Some("""
      WITH pair_cost AS (
        SELECT l_partkey, l_suppkey,
          MIN(ROUND(CAST(l_extendedprice AS DOUBLE) / l_quantity, 6)) AS unit_cost
        FROM lineitem GROUP BY 1, 2
      ), scoped AS (
        SELECT p.p_partkey, s.s_name, n.n_name, s.s_acctbal, pc.unit_cost
        FROM pair_cost pc
        JOIN part p ON pc.l_partkey = p.p_partkey
        JOIN supplier s ON pc.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE' AND p.p_size <= 10
      )
      SELECT p_partkey, s_name, n_name,
        CAST(s_acctbal AS DOUBLE) AS s_acctbal, unit_cost
      FROM scoped
      WHERE unit_cost = (SELECT MIN(unit_cost) FROM scoped i
                         WHERE i.p_partkey = scoped.p_partkey)
      ORDER BY p_partkey, s_name
    """.trim))

  /** TPC-H Q9 shape adapted (SURVEY §2 I-tredec; supply cost :=
    * p_retailprice / 2, a deterministic function of the part): profit
    * per (supplier nation, order year) over parts named '%red%'.
    * Decimal discipline per §2.0: revenue and retail-cost accumulate
    * as EXACT decimal sums; the /2 and the subtraction happen once per
    * output row in double, so no decimal-scale-change rounding is ever
    * compared across engines.
    *
    * Scale notes (100 TB): part/nation broadcast; the lineitem-orders
    * join is the one fact-fact shuffle; sums are map-side combinable.
    */
  val tpchQ9ProductProfit = Q(
    "tpch_q9_product_profit",
    (spark, dir) => {
      import spark.implicits._
      val redParts = Tables.part(spark, dir)
        .where($"p_name".like("%red%"))
        .select($"p_partkey", $"p_retailprice")
      val supp = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name")
      val o = Tables.orders(spark, dir)
        .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
      Tables.lineitem(spark, dir)
        .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", $"o_year")
        .agg(
          sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("rev"),
          sum(dec($"p_retailprice") * $"l_quantity").as("cost"))
        .select($"n_name", $"o_year",
          round($"rev".cast(DoubleType) - $"cost".cast(DoubleType) / 2, 6)
            .as("profit"))
        .orderBy($"n_name", $"o_year".desc)
    },
    Some("""
      SELECT n_name, o_year,
        ROUND(CAST(rev AS DOUBLE) - CAST(cost AS DOUBLE) / 2, 6) AS profit
      FROM (
        SELECT n.n_name,
          CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
          SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS rev,
          SUM(CAST(p.p_retailprice AS DECIMAL(18,2)) * l.l_quantity) AS cost
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2)
      ORDER BY n_name, o_year DESC
    """.trim))

  /** TPC-H Q11 shape adapted (SURVEY §2 I-tredec): per-part traded
    * value (exact decimal revenue sum) restricted to ASIA suppliers,
    * kept where value exceeds 0.1% of the ASIA-wide total — Q11's
    * signature is exactly this scalar-subquery threshold, implemented
    * as a 1-row broadcast against the grouped aggregate (the
    * `tpch_q22_idle_balance` discipline: never a collect).
    */
  val tpchQ11ImportantStock = Q(
    "tpch_q11_important_stock",
    (spark, dir) => {
      import spark.implicits._
      val asia = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir).where($"r_name" === "ASIA")),
            $"n_regionkey" === $"r_regionkey")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      // the part-keyed aggregate has two consumers (the 0.1% threshold
      // scalar and the declared rows), but both sit above the same
      // partkey exchange, which AQE stage reuse dedupes at runtime — the
      // fact pass runs once without an explicit cut (r13, measured)
      val vals = Tables.lineitem(spark, dir)
        .join(broadcast(asia), $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("v"))
      val total = vals.agg(sum($"v").as("t"))
      vals.crossJoin(broadcast(total))
        .where($"v".cast(DoubleType) > $"t".cast(DoubleType) * 0.001)
        .select($"l_partkey".as("p_partkey"), $"v".cast(DoubleType).as("value"))
        .orderBy($"value".desc, $"p_partkey")
    },
    Some(s"""
      WITH vals AS (
        SELECT l_partkey,
          ${OracleSql.revenue} AS v
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1
      )
      SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS value
      FROM vals
      WHERE CAST(v AS DOUBLE) > (SELECT CAST(SUM(v) AS DOUBLE) FROM vals) * 0.001
      ORDER BY value DESC, p_partkey
    """.trim))

  /** TPC-H Q16 shape adapted (SURVEY §2 I-tredec): distinct supplier
    * count per (brand, type, size ≤ 15) from the observed DISTINCT
    * (part, supplier) trade pairs, excluding Brand#1, PROMO types and
    * suppliers with a negative account balance (the complaints
    * exclusion, an anti join). Q16's signature is the count-distinct
    * rollup over an anti-join-filtered relationship table.
    */
  val tpchQ16PartsSupplierCount = Q(
    "tpch_q16_parts_supplier_count",
    (spark, dir) => {
      import spark.implicits._
      val badSupp = Tables.supplier(spark, dir)
        .where($"s_acctbal" < 0).select($"s_suppkey")
      val pf = Tables.part(spark, dir)
        .where($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" && $"p_size" <= 15)
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      // broadcast-filter BEFORE the distinct exchange (r13, guide §2.3):
      // the part predicate keeps ~30% of lineitem, and the join is
      // row-local (broadcast, p_partkey unique), so filtering first
      // shuffles a third of the pairs for the identical distinct set
      Tables.lineitem(spark, dir)
        .select($"l_partkey", $"l_suppkey")
        .join(broadcast(pf), $"l_partkey" === $"p_partkey")
        .join(broadcast(badSupp), $"l_suppkey" === $"s_suppkey", "left_anti")
        .select($"l_partkey", $"l_suppkey", $"p_brand", $"p_type", $"p_size")
        .distinct()
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    },
    Some("""
      SELECT p_brand, p_type, p_size,
        COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) t
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size <= 15
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """.trim))

  /** TPC-H Q20 shape adapted (SURVEY §2 I-tredec): suppliers whose
    * 1997 shipped quantity of any 'small%' part exceeded 60 units —
    * the HAVING-subquery semi-join chain that makes Q20 the
    * decorrelation benchmark: lineitem⨝part grouped per (supplier,
    * part), HAVING-filtered, distinct suppliers SEMI-joined back to
    * the supplier dimension with nation attached.
    */
  val tpchQ20PotentialPromotion = Q(
    "tpch_q20_potential_promotion",
    (spark, dir) => {
      import spark.implicits._
      val smallParts = Tables.part(spark, dir)
        .where($"p_name".like("small%")).select($"p_partkey")
      val heavy = Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1997-01-01" && $"l_shipdate" < "1998-01-01")
        .join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
        .groupBy($"l_suppkey", $"l_partkey")
        .agg(sum($"l_quantity").as("qty"))
        .where($"qty" > 60)
        .select($"l_suppkey")
      Tables.supplier(spark, dir)
        .join(heavy, $"s_suppkey" === $"l_suppkey", "left_semi")
        .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name",
          $"s_acctbal".cast(DoubleType).as("s_acctbal"))
        .orderBy($"s_suppkey")
    },
    Some("""
      SELECT s_suppkey, s_name, n_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 60)
      ORDER BY s_suppkey
    """.trim))

  def qs: Seq[Q] = Seq(graphHarmonicCloseness, graphBottleneckPaths,
    tpchQ2MinCostSupplier, tpchQ9ProductProfit, tpchQ11ImportantStock,
    tpchQ16PartsSupplierCount, tpchQ20PotentialPromotion,
    tpchQ3Toporders, tpchQ5RegionalVolume, tpchQ18Bigorders,
    tpchQ10Returns, tpchQ7NationVolume, tpchQ21WaitingSuppliers,
    tpchQ4PriorityExists, tpchQ12LatePriority, tpchQ13Custdist,
    tpchQ17SmallqtyRevenue, tpchQ19DisjunctiveBrand, tpchQ22IdleBalance,
    tpchQ14PromoRatio, tpchQ6ForecastRevenue, tpchQ8MarketShare,
    tpchQ15TopSupplier, graphPagerankTrade, graphLabelPropagation,
    graphKcoreTrade, graphAdamicAdar, graphJaccardNeighbors, graphAssortativity)
}
