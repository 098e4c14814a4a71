package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1.C — the complete join-type matrix.
  *
  * Scale notes (100 TB):
  *  - Dimension joins broadcast explicitly (`broadcast(nation)`): no
  *    shuffle of the fact side, plan shows BroadcastHashJoin.
  *  - Fact-fact joins (lineitem ⋈ orders) shuffle both sides on the join
  *    key once — SortMergeJoin; AQE can downgrade to broadcast at runtime
  *    when a side is small. Aggregation after the join reuses the same
  *    key partitioning where possible.
  *  - The theta/band join is a BroadcastNestedLoopJoin with the provably
  *    small side (supplier) broadcast; the big side streams. At 100 TB a
  *    band join would instead bucketize acctbal (floor(bal/width)) and
  *    equi-join on adjacent buckets — noted, not needed at these SFs.
  *  - The interval self-join is equi-keyed on user_id (shuffle once,
  *    range predicate evaluated within partitions) — NOT a cross join.
  *  - As-of is the tagged-union window formulation: one shuffle by
  *    user_id, no join at all — the scalable alternative to a range join
  *    whose right side explodes. Cross-validated against DuckDB's native
  *    ASOF JOIN (different algorithm, same answer).
  */
object Joins extends QueryModule {

  val joinBroadcastDims = Q(
    "join_broadcast_dims",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          count(lit(1)).as("n_customers"),
          sum(dec($"c_acctbal")).as("sum_acctbal"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""
      SELECT r_name, n_name,
        COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name
    """.trim))

  val joinSortmergeFacts = Q(
    "join_sortmerge_facts",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""
      SELECT o_orderpriority,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.trim))

  val joinLeftOuter = Q(
    "join_left_outer",
    (spark, dir) => {
      import spark.implicits._
      val cnts = Tables
        .orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("cnt"))
      Tables
        .customer(spark, dir)
        .join(cnts, $"c_custkey" === $"o_custkey", "left_outer")
        .select($"c_custkey", coalesce($"cnt", lit(0L)).as("order_cnt"))
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey, COALESCE(cnt, 0) AS order_cnt
      FROM customer
      LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
      ORDER BY c_custkey
    """.trim))

  val joinFullOuter = Q(
    "join_full_outer",
    (spark, dir) => {
      import spark.implicits._
      val s = Tables.supplier(spark, dir).groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
      val c = Tables.customer(spark, dir).groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      s.join(c, $"s_nationkey" === $"c_nationkey", "full_outer")
        .select(
          coalesce($"s_nationkey", $"c_nationkey").as("nationkey"),
          coalesce($"n_suppliers", lit(0L)).as("n_suppliers"),
          coalesce($"n_customers", lit(0L)).as("n_customers"))
        .orderBy($"nationkey")
    },
    Some("""
      SELECT COALESCE(s_nationkey, c_nationkey) AS nationkey,
        COALESCE(n_suppliers, 0) AS n_suppliers,
        COALESCE(n_customers, 0) AS n_customers
      FROM (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
      FULL OUTER JOIN (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
        ON s_nationkey = c_nationkey
      ORDER BY nationkey
    """.trim))

  val joinLeftSemi = Q(
    "join_left_semi",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .customer(spark, dir)
        .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey
    """.trim))

  val joinLeftAnti = Q(
    "join_left_anti",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .customer(spark, dir)
        .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey
    """.trim))

  val joinThetaBand = Q(
    "join_theta_band",
    (spark, dir) => {
      import spark.implicits._
      broadcast(Tables.supplier(spark, dir))
        .join(
          Tables.customer(spark, dir),
          abs($"s_acctbal" - $"c_acctbal") < 10,
          "inner")
        .select(
          $"s_suppkey",
          $"c_custkey",
          dec($"s_acctbal" - $"c_acctbal").as("bal_diff"))
        .orderBy($"s_suppkey", $"c_custkey")
    },
    Some("""
      SELECT s_suppkey, c_custkey,
        CAST(CAST(s_acctbal - c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal_diff
      FROM supplier JOIN customer ON ABS(s_acctbal - c_acctbal) < 10
      ORDER BY s_suppkey, c_custkey
    """.trim))

  /** The 100 TB band-join formulation (the scale path this module's
    * header promises beside `join_theta_band`'s broadcast loop):
    * |s_bal − c_bal| < 10 becomes an EQUI-join on floor(bal/width)
    * buckets — each supplier row probes its own bucket and both
    * neighbors via a 3-element explode (a band of width w ≤ bucket
    * width can only match within ±1 bucket), then the exact band
    * predicate filters residuals. Identical result set to the theta
    * form (the oracle is the same SQL), but the plan is a hash join
    * on the bucket key: it works when NEITHER side fits a broadcast,
    * where the loop join would be quadratic.
    */
  val joinBandBucketized = Q(
    "join_band_bucketized",
    (spark, dir) => {
      import spark.implicits._
      val width = 10.0
      val s = Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_acctbal",
          explode(array(
            floor($"s_acctbal" / width).cast("long") - 1,
            floor($"s_acctbal" / width).cast("long"),
            floor($"s_acctbal" / width).cast("long") + 1)).as("bucket"))
      val c = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal",
          floor($"c_acctbal" / width).cast("long").as("bucket"))
      s.join(c, Seq("bucket"))
        .where(abs($"s_acctbal" - $"c_acctbal") < 10)
        .select($"s_suppkey", $"c_custkey",
          dec($"s_acctbal" - $"c_acctbal").as("bal_diff"))
        .orderBy($"s_suppkey", $"c_custkey")
    },
    joinThetaBand.oracle)

  val joinRangeInterval = Q(
    "join_range_interval",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", $"event_id", $"ts")
      val e1 = ev.select(
        $"user_id",
        $"event_id".as("id1"),
        $"ts".as("ts1"))
      val e2 = ev.select(
        $"user_id".as("user_id2"),
        $"event_id".as("id2"),
        $"ts".as("ts2"))
      e1.join(
          e2,
          $"user_id" === $"user_id2" &&
            $"ts2" > $"ts1" &&
            $"ts2" <= $"ts1" + expr("INTERVAL 5 MINUTES"))
        .select(
          $"user_id", $"id1", $"id2",
          expr("timestampdiff(MICROSECOND, ts1, ts2)").as("gap_us"))
        .orderBy($"user_id", $"id1", $"id2")
    },
    Some("""
      SELECT e1.user_id AS user_id, e1.event_id AS id1, e2.event_id AS id2,
        CAST(epoch_us(e2.ts) - epoch_us(e1.ts) AS BIGINT) AS gap_us
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
      ORDER BY user_id, id1, id2
    """.trim))

  /** The as-of family's input: the click and purchase events. */
  private def asofEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).filter($"event_type".isin("click", "purchase"))
  }

  /** The as-of family's per-user order (ts, event_type, event_id); each
    * query picks its frame.
    */
  private def asofOrder: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_type"), col("event_id"))

  /** A click's ts, null on every other event. */
  private def clickTs: org.apache.spark.sql.Column = when(col("event_type") === "click", col("ts"))

  /** As-of join via tagged-union window: one shuffle by user_id, no join.
    * Clicks sort before purchases at equal ts ('click' < 'purchase'
    * lexicographically), making the match inclusive like DuckDB's
    * `ON p.ts >= c.ts`.
    */
  val joinAsof = Q(
    "join_asof",
    (spark, dir) => {
      import spark.implicits._
      val w = asofOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      asofEvents(spark, dir)
        .withColumn("last_click_ts", last(clickTs, ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"last_click_ts")
        .orderBy($"event_id")
    },
    Some("""
      SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
             c.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY event_id
    """.trim))

  /** As-of with tolerance (pandas merge_asof's `tolerance`): the nearest
    * preceding click only counts if it is within 30 minutes of the
    * purchase — beyond the horizon the match is nulled. Same
    * single-shuffle window formulation as `join_asof`; the tolerance is
    * a post-hoc null-out, so the plan is identical.
    */
  val joinAsofTolerance = Q(
    "join_asof_tolerance",
    (spark, dir) => {
      import spark.implicits._
      val w = asofOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      asofEvents(spark, dir)
        .withColumn("last_click_ts", last(clickTs, ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .withColumn(
          "last_click_ts",
          when($"last_click_ts" >= $"ts" - expr("INTERVAL 30 MINUTES"), $"last_click_ts"))
        .select($"event_id", $"user_id", $"ts", $"last_click_ts")
        .orderBy($"event_id")
    },
    Some("""
      SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
        CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE THEN c.ts END AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY event_id
    """.trim))

  /** Skew-salted equi-join as a declared, oracle-verified row: the big
    * side (events) gets a uniform salt, the small side (customer) is
    * replicated per salt value, so a hot user_id spreads across `salt`
    * shuffle buckets instead of stalling one task — the manual fallback
    * for plans AQE's OptimizeSkewedJoin cannot re-plan. Salt assignment
    * is partition-dependent but the join ROWS are not, so the aggregated
    * result is deterministic and equals the plain join (also asserted in
    * ScaleTechniquesSpec).
    */
  val joinSkewSalted = Q(
    "join_skew_salted",
    (spark, dir) => {
      import spark.implicits._
      SkewJoin
        .saltedEquiJoin(
          Tables.events(spark, dir),
          Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment"),
          "user_id", "c_custkey", salt = 8)
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec($"value", 18, 6)).as("sum_value"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """.trim))

  /** Bucketed co-located join declared as a row: both sides are written
    * `bucketBy(8, key).sortBy(key)` — the write-once / join-many-times
    * layout that removes the per-query shuffle AND sort from every
    * subsequent join on that key (SURVEY §7.3; at 100 TB the bucket
    * count would be sized to ~executor-core count × small multiple).
    * The declared result aggregates the bucket-local join; values equal
    * the plain join (the oracle), and ScaleTechniquesSpec separately
    * asserts the bucketed physical plan contains zero Exchange nodes.
    */
  val joinBucketedColocated = Q(
    "join_bucketed_colocated",
    (spark, dir) => {
      import spark.implicits._
      // Per-invocation unique table names: a fixed name raced when two
      // invocations ran concurrently in one session — each would drop and
      // recreate the other's table mid-join. The files live under the
      // session's scratch root, which Spark deletes when the session stops;
      // the catalog keeps the bucketing, so the join stays shuffle-free.
      val runId = Artifacts.uniqueId()
      val liTable = s"graft_li_bucketed_$runId"
      val ordTable = s"graft_orders_bucketed_$runId"
      def at(table: String) = s"${Artifacts.scratchRoot}/$table"
      // repartition to the bucket layout before writing: HashPartitioning
      // and bucketBy use the same murmur3-pmod hash, so each task holds
      // exactly one bucket and writes exactly one file — 8 files per
      // table instead of tasks×buckets small files (the small-files
      // problem is THE bucketed-layout killer at 100 TB)
      // one ship-year slice: the zero-Exchange proof is about layout
      // shape, not volume — bucketing 7 years would prove nothing more
      // while paying 3.5× the bench write cost
      Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
        .select($"l_orderkey", $"l_quantity")
        .repartition(8, $"l_orderkey")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").option("path", at(liTable)).saveAsTable(liTable)
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority")
        .repartition(8, $"o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").option("path", at(ordTable)).saveAsTable(ordTable)
      spark.table(liTable)
        .join(spark.table(ordTable), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec($"l_quantity")).as("sum_qty"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.trim))

  /** Correlated LATERAL top-k through the SQL surface: per customer, the
    * two highest-value orders via a correlated subquery with ORDER BY +
    * LIMIT. Catalyst decorrelates this into the same windowed top-k plan
    * the DataFrame formulation produces (`win_topk_per_group`) — the row
    * proves the SQL entry path and the decorrelation, not a new
    * algorithm. DuckDB runs the identical LATERAL text.
    */
  val joinLateralTopk = Q(
    "join_lateral_topk",
    (spark, dir) => {
      Tables.customer(spark, dir).createOrReplaceTempView("customer")
      Tables.orders(spark, dir).createOrReplaceTempView("orders")
      spark.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        ORDER BY c_custkey, o_orderkey
      """)
    },
    Some("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c_custkey, o_orderkey
    """.trim))

  /** Dynamic partition pruning declared as a row: the fact side is laid
    * out partitioned by ship year (the lakehouse layout for a date-keyed
    * 100 TB fact table), the dimension side is a filtered year set known
    * only at run time, and the broadcast join's build side feeds a
    * runtime `dynamicpruning` predicate into the fact SCAN — only the
    * matching year directories are read at all. PlanSpec asserts the
    * pruning subquery is present in the scan's partition filters; the
    * oracle (a plain semi-filtered aggregate) proves pruning is
    * result-invariant. Per-invocation unique directory under the
    * session's scratch root, same discipline as `join_bucketed_colocated`.
    */
  val joinDppPartitionPruned = Q(
    "join_dpp_partition_pruned",
    (spark, dir) => {
      import spark.implicits._
      val base = s"${Artifacts.scratchRoot}/dpp_${Artifacts.uniqueId()}"
      // one shuffle by the partition column so each year directory gets
      // one file (not one per task) — same small-files discipline as the
      // bucketed layout; 7 year-partitions write in parallel. Only the
      // columns the query reads are laid out (the layout cost is the
      // bench's, not the plan's — writing 16 columns to prune a scan of
      // 2 proves nothing extra)
      Tables.lineitem(spark, dir)
        .withColumn("ship_year", year($"l_shipdate"))
        .select($"ship_year", $"l_extendedprice")
        .repartition($"ship_year")
        .write.partitionBy("ship_year").mode("overwrite").parquet(base)
      val fact = spark.read.parquet(base)
      val years = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1998-01-01")
        .select(year($"o_orderdate").as("ship_year"))
        .distinct()
      fact
        .join(broadcast(years), "ship_year")
        .groupBy($"ship_year")
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec($"l_extendedprice")).as("revenue"))
        .orderBy($"ship_year")
    },
    Some("""
      SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE YEAR(l_shipdate) IN (
        SELECT YEAR(o_orderdate) FROM orders
        WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01')
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of silently dropping — the semantics a
    * dimension join needs when the key legitimately carries missing
    * values (a plain `=` join loses every such row). The corpus has no
    * natural nulls, so both sides null-out nationkey 3 via `nullif`;
    * the null-keyed customers still land on the null-keyed nation row.
    *
    * Scale notes (100 TB): `EqualNullSafe` is a valid hash-join key in
    * Spark (null hashes like any value) — this stays a broadcast/hash
    * join, never a nested loop; PlanSpec asserts it.
    */
  val joinNullSafe = Q(
    "join_null_safe",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.customer(spark, dir)
        .select(nullif($"c_nationkey", lit(3)).as("ck"), $"c_acctbal")
      val n = Tables.nation(spark, dir)
        .select(nullif($"n_nationkey", lit(3)).as("nk"), $"n_name")
      c.join(broadcast(n), $"ck" <=> $"nk")
        .groupBy($"n_name")
        .agg(
          count(lit(1)).as("n_cust"),
          sum(dec($"c_acctbal")).as("sum_bal"))
        .orderBy($"n_name")
    },
    Some("""
      SELECT n_name, COUNT(*) AS n_cust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM (SELECT NULLIF(c_nationkey, 3) AS ck, c_acctbal FROM customer) c
      JOIN (SELECT NULLIF(n_nationkey, 3) AS nk, n_name FROM nation) n
        ON ck IS NOT DISTINCT FROM nk
      GROUP BY n_name ORDER BY n_name
    """.trim))

  /** Null-aware anti join — `NOT IN (subquery)` three-valued-logic
    * semantics, which `join_left_anti` (NOT EXISTS) deliberately does
    * NOT have: one NULL in the list makes `x NOT IN list` UNKNOWN for
    * every x, so the null-poisoned variant returns zero rows. Both
    * variants are declared side by side because silently conflating the
    * two is the classic correctness bug in hand-rolled ETL.
    *
    * Scale notes (100 TB): Spark plans single-column NOT IN as a
    * null-aware BroadcastHashJoin (`LeftAnti, BuildRight, true` —
    * PlanSpec-asserted), not the quadratic BroadcastNestedLoopJoin the
    * general form needs; the probe stays one broadcast hash lookup per
    * row. Temp views get per-invocation unique names (same discipline
    * as the bucketed-join row) so concurrent runs never race.
    */
  val joinNotInNullAware = Q(
    "join_not_in_null_aware",
    (spark, dir) => {
      val runId = Artifacts.uniqueId()
      val cv = s"cust_$runId"
      val nv = s"nation_$runId"
      Tables.customer(spark, dir).createOrReplaceTempView(cv)
      Tables.nation(spark, dir).createOrReplaceTempView(nv)
      spark.sql(s"""
        SELECT 'clean_list' AS variant, COUNT(*) AS n_cust
        FROM $cv
        WHERE c_nationkey NOT IN
          (SELECT n_nationkey FROM $nv WHERE n_nationkey < 10)
        UNION ALL
        SELECT 'null_poisoned_list' AS variant, COUNT(*) AS n_cust
        FROM $cv
        WHERE c_nationkey NOT IN
          (SELECT NULLIF(n_nationkey, 3) FROM $nv WHERE n_nationkey < 10)
        ORDER BY variant
      """)
    },
    Some("""
      SELECT 'clean_list' AS variant, COUNT(*) AS n_cust
      FROM customer
      WHERE c_nationkey NOT IN
        (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
      UNION ALL
      SELECT 'null_poisoned_list' AS variant, COUNT(*) AS n_cust
      FROM customer
      WHERE c_nationkey NOT IN
        (SELECT NULLIF(n_nationkey, 3) FROM nation WHERE n_nationkey < 10)
      ORDER BY variant
    """.trim))

  /** NEAREST-direction as-of join, completing the as-of family
    * (backward `join_asof`, forward `join_asof_forward`, toleranced
    * `join_asof_tolerance`): each purchase attributed to whichever
    * click is CLOSER in time, backward preferred on exact ties — the
    * sensor-alignment semantics (`pandas merge_asof
    * direction='nearest'`). Both directions come from the SAME
    * union-window pass on one user_id exchange; still zero join
    * operators.
    */
  val joinAsofNearest = Q(
    "join_asof_nearest",
    (spark, dir) => {
      import spark.implicits._
      val wB = asofOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = asofOrder.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      asofEvents(spark, dir)
        .withColumn("prev_ts", last(clickTs, ignoreNulls = true).over(wB))
        .withColumn("next_ts", first(clickTs, ignoreNulls = true).over(wF))
        .filter($"event_type" === "purchase")
        .withColumn("gap_b", expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
        .withColumn("gap_f", expr("timestampdiff(MICROSECOND, ts, next_ts)"))
        .select(
          $"event_id", $"user_id", $"ts",
          when($"prev_ts".isNull && $"next_ts".isNull, lit(null).cast("timestamp_ntz"))
            .when($"next_ts".isNull || ($"prev_ts".isNotNull && $"gap_b" <= $"gap_f"), $"prev_ts")
            .otherwise($"next_ts").as("nearest_click_ts"),
          when($"prev_ts".isNull && $"next_ts".isNull, "none")
            .when($"next_ts".isNull || ($"prev_ts".isNotNull && $"gap_b" <= $"gap_f"), "backward")
            .otherwise("forward").as("direction"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, ts,
        CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND gap_b <= gap_f) THEN prev_ts
             ELSE next_ts END AS nearest_click_ts,
        CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN 'none'
             WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND gap_b <= gap_f) THEN 'backward'
             ELSE 'forward' END AS direction
      FROM (
        SELECT event_id, user_id, ts, event_type, prev_ts, next_ts,
          CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_b,
          CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT) AS gap_f
        FROM (
          SELECT event_id, user_id, ts, event_type,
            LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
            FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
          FROM events WHERE event_type IN ('click', 'purchase')))
      WHERE event_type = 'purchase'
      ORDER BY event_id
    """.trim))

  /** RIGHT outer join — the build-side-preserving mirror completing the
    * join-type matrix (left/full/semi/anti are declared above): the
    * per-user purchase rollup RIGHT-joined to customer keeps every
    * customer, zero-filling the inactive ones. Semantically
    * `left_outer` with sides swapped; declared separately because the
    * planner treats preserved-side and streamed-side differently (a
    * right join's preserved side is the BUILD side of a broadcast hash
    * join, which forces Spark to pick shuffle or swap strategies).
    */
  val joinRightOuter = Q(
    "join_right_outer",
    (spark, dir) => {
      import spark.implicits._
      val purch = Tables.events(spark, dir)
        .where($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_purch"), sum(dec($"value", 18, 6)).as("purch_value"))
      purch
        .join(Tables.customer(spark, dir), $"user_id" === $"c_custkey", "right_outer")
        .select(
          $"c_custkey",
          coalesce($"n_purch", lit(0L)).as("n_purch"),
          coalesce($"purch_value", dec(lit(0), 18, 6)).as("purch_value"))
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey,
        COALESCE(n_purch, 0) AS n_purch,
        CAST(COALESCE(purch_value, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS purch_value
      FROM (
        SELECT user_id, COUNT(*) AS n_purch,
          SUM(CAST(value AS DECIMAL(18,6))) AS purch_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
      ) p RIGHT JOIN customer ON user_id = c_custkey
      ORDER BY c_custkey
    """.trim))

  /** FORWARD as-of join: each purchase attributed to the NEXT click at
    * or after it (in sort order) — the mirror of `join_asof`'s backward
    * pass, same union-window formulation: one user_id exchange, zero
    * join operators, `first(…, ignoreNulls)` over the FOLLOWING frame.
    * Forward as-of is its own operator in every as-of-native engine
    * (pandas/polars `direction='forward'`); here it is the same plan
    * shape as backward, frame reversed.
    */
  val joinAsofForward = Q(
    "join_asof_forward",
    (spark, dir) => {
      import spark.implicits._
      val w = asofOrder.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      asofEvents(spark, dir)
        .withColumn("next_click_ts", first(clickTs, ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"next_click_ts")
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, ts, next_click_ts
      FROM (
        SELECT event_id, user_id, ts, event_type,
          FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_ts
        FROM events WHERE event_type IN ('click', 'purchase'))
      WHERE event_type = 'purchase'
      ORDER BY event_id
    """.trim))

  /** Controlled cartesian: the complete (region × event_type) matrix
    * enumerated with an explicit `crossJoin` of two tiny DISTINCT sets,
    * then left-joined to observed per-nation purchase counts so absent
    * combinations surface as zero rows — the dense-matrix/report-
    * completion pattern (a plain groupBy silently drops empty cells).
    *
    * Scale notes (100 TB): the ONLY legitimate cross join is this one —
    * both sides are provably small (5 regions × a handful of event
    * types), so the product is broadcastable and bounded; the fact table
    * contributes through a separate map-side-combinable aggregate that
    * never touches the cartesian. A cross join with an unbounded side is
    * a bug, not a plan.
    */
  val joinCrossEnumerate = Q(
    "join_cross_enumerate",
    (spark, dir) => {
      import spark.implicits._
      val regions = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
      val types = Tables.events(spark, dir).select($"event_type").distinct()
      val observed = Tables.events(spark, dir)
        .join(Tables.customer(spark, dir), $"user_id" === $"c_custkey")
        .join(Tables.nation(spark, dir), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_regionkey".as("r_key"), $"event_type".as("e_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec($"value", 18, 6)).as("sum_value"))
      regions.crossJoin(types)
        .join(observed,
          $"r_regionkey" === $"r_key" && $"event_type" === $"e_type", "left")
        .select(
          $"r_name", $"event_type",
          coalesce($"n_events", lit(0L)).as("n_events"),
          coalesce($"sum_value", dec(lit(0), 18, 6)).as("sum_value"))
        .orderBy($"r_name", $"event_type")
    },
    Some("""
      WITH observed AS (
        SELECT n.n_regionkey AS r_key, e.event_type AS e_type,
          COUNT(*) AS n_events,
          SUM(CAST(e.value AS DECIMAL(18,6))) AS sum_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
      )
      SELECT r.r_name, t.event_type,
        COALESCE(o.n_events, 0) AS n_events,
        CAST(COALESCE(o.sum_value, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM region r
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN observed o ON r.r_regionkey = o.r_key AND t.event_type = o.e_type
      ORDER BY r.r_name, t.event_type
    """.trim))

  /** ExistenceJoin — the join type the semi/anti rows DON'T cover:
    * EXISTS / NOT EXISTS used in the PROJECTION (as boolean marks)
    * rather than in WHERE. Catalyst can't drop non-matching rows (the
    * row survives either way, only the flag differs), so it plans an
    * ExistenceJoin — a semi-join variant that emits a mark column —
    * instead of LeftSemi/LeftAnti. Declared via spark.sql because the
    * DataFrame API has no exists() combinator; the view is dropped
    * immediately after analysis (sql_recursive_spine discipline).
    *
    * Scale notes (100 TB): both existence probes hash-join on
    * o_custkey/c_custkey with only the key + one filter column
    * shuffled; the marks then feed one tiny groupBy on
    * (segment, flags). Same physics as a left-semi — no
    * row multiplication, payload is the mark bit.
    */
  val joinExistenceMark = Q(
    "join_existence_mark",
    (spark, dir) => {
      val runId = Artifacts.uniqueId()
      val cv = s"customer_$runId"
      val ov = s"orders_$runId"
      Tables.customer(spark, dir).createOrReplaceTempView(cv)
      Tables.orders(spark, dir).createOrReplaceTempView(ov)
      try spark.sql(s"""
        SELECT c_mktsegment, has_big_order, no_finished,
          COUNT(*) AS n_customers,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM (
          SELECT c_mktsegment, c_acctbal,
            EXISTS (SELECT 1 FROM $ov o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 150000) AS has_big_order,
            NOT EXISTS (SELECT 1 FROM $ov o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F') AS no_finished
          FROM $cv c
        )
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
      """)
      finally {
        spark.catalog.dropTempView(cv)
        spark.catalog.dropTempView(ov)
      }
    },
    Some("""
      SELECT c_mktsegment, has_big_order, no_finished,
        COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM (
        SELECT c_mktsegment, c_acctbal,
          EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 150000) AS has_big_order,
          NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F') AS no_finished
        FROM customer c
      )
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3
    """.trim))

  /** INTERVAL-OVERLAP join (ranges × ranges — `join_range_interval`
    * covers only point-in-range): urgent-order fulfillment windows
    * [o_orderdate, +14d] × return shipping windows [l_shipdate − 7d,
    * l_shipdate], matched where the intervals intersect. Scaled the
    * same way as `join_band_bucketized` but two-sided: each interval
    * explodes to the 7-day GRID CELLS it covers, the join is an
    * EQUI-join on the cell, duplicate pairs from multi-cell overlaps
    * collapse via distinct, and the exact overlap predicate filters
    * residual cell-mates. The canonical temporal/spatial join
    * pattern — a raw θ-join here is a quadratic nested loop.
    *
    * Scale notes (100 TB): cell fan-out is bounded by
    * interval_length/grid + 1 (3 and 2 cells here); the equi-join
    * hash-partitions on the cell key, so co-occurring intervals meet
    * on one executor without any broadcast; pair dedup shuffles only
    * (a_id, b_id, month).
    */
  val joinIntervalOverlapBucketized = Q(
    "join_interval_overlap_bucketized",
    (spark, dir) => {
      import spark.implicits._
      val epoch = lit("1992-01-01")
      val a = Tables.orders(spark, dir)
        .where($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey".as("a_id"),
          to_date($"o_orderdate").as("a_start"),
          date_add(to_date($"o_orderdate"), 14).as("a_end"))
        .withColumn("cell",
          explode(sequence(
            floor(datediff($"a_start", epoch) / 7),
            floor(datediff($"a_end", epoch) / 7))))
      val b = Tables.lineitem(spark, dir)
        .where($"l_returnflag" === "R" && $"l_quantity" > 45)
        .select(($"l_orderkey" * 10 + $"l_linenumber").as("b_id"),
          date_sub(to_date($"l_shipdate"), 7).as("b_start"),
          to_date($"l_shipdate").as("b_end"))
        .withColumn("cell",
          explode(sequence(
            floor(datediff($"b_start", epoch) / 7),
            floor(datediff($"b_end", epoch) / 7))))
      a.join(b, "cell")
        .where($"a_start" <= $"b_end" && $"b_start" <= $"a_end")
        .select($"a_id", $"b_id", trunc($"a_start", "month").as("month"))
        .distinct()
        .groupBy($"month")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"b_id").as("n_returns"))
        .orderBy($"month")
    },
    Some("""
      WITH a AS (
        SELECT o_orderkey AS a_id,
          CAST(o_orderdate AS DATE) AS a_start,
          CAST(o_orderdate AS DATE) + 14 AS a_end
        FROM orders WHERE o_orderpriority = '1-URGENT'
      ), b AS (
        SELECT l_orderkey * 10 + l_linenumber AS b_id,
          CAST(l_shipdate AS DATE) - 7 AS b_start,
          CAST(l_shipdate AS DATE) AS b_end
        FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
      )
      SELECT CAST(date_trunc('month', a_start) AS DATE) AS month,
        COUNT(*) AS n_pairs,
        COUNT(DISTINCT b_id) AS n_returns
      FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** The point-in-time tail both PIT rows share: each purchase joined
    * to the version valid at its ts (valid_from ≤ ts < valid_to, open
    * current version), with floor-seconds into that version. `fact` and
    * `dim` are the two frames of [[Scd2Dim.frames]].
    */
  private def pitJoin(fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fact
      .join(dim,
        col("user_id") === col("v_user") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"), col("version"), col("regime"),
        col("valid_from"),
        (unix_seconds(col("ts").cast("timestamp")) -
          unix_seconds(col("valid_from").cast("timestamp"))).as("secs_into_version"))
      .orderBy(col("event_id"))

  /** The DuckDB oracle of both PIT rows. */
  private val pitScd2Sql = s"""
      WITH ${EtlOps.scd2ChangesSql}, versions AS (
        ${EtlOps.scd2VersionsSql(" AS v_user", " AS regime", "")}
      )
      SELECT e.event_id, e.user_id, e.ts, v.version, v.regime, v.valid_from,
        CAST(FLOOR(epoch(e.ts)) AS BIGINT)
          - CAST(FLOOR(epoch(v.valid_from)) AS BIGINT) AS secs_into_version
      FROM events e
      JOIN versions v
        ON e.user_id = v.v_user
        AND v.valid_from <= e.ts
        AND (v.valid_to IS NULL OR e.ts < v.valid_to)
      WHERE e.event_type = 'purchase'
      ORDER BY e.event_id
    """.trim

  /** POINT-IN-TIME join against the SCD2 dimension (SURVEY §2 I-oct) —
    * the query the `etl_scd2_intervals` history exists FOR: each fact
    * (purchase event) joined to the dimension VERSION that was valid at
    * its timestamp (valid_from ≤ ts < valid_to, open-ended current
    * version), never to today's row — the as-of-history discipline that
    * separates a type-2 warehouse from a type-1 one. Versions are the
    * same state-change intervals `etl_scd2_intervals` declares; every
    * purchase lands in exactly one version (versions tile each user's
    * timeline from the first event). Output per purchase: the version
    * ordinal, the regime it was in, and floor-seconds into that regime.
    *
    * Scale notes (100 TB): versions and purchases are both user-keyed —
    * the version window and the join ride user_id-hash shuffles; the
    * interval predicate is a residual filter on the equi join (each
    * user's version count is small, so the per-key fanout is bounded).
    * No broadcast: both sides are fact-scale, co-partitioned on the key.
    */
  val joinPitScd2 = Q(
    "join_pit_scd2",
    (spark, dir) => {
      val (versions, purchases) = Scd2Dim.frames(Tables.events(spark, dir))
      pitJoin(purchases, versions)
    },
    Some(pitScd2Sql))

  /** Point-in-time SCD2 join from the PERSISTED BUCKETED layout (SURVEY
    * §2 I-non) — the storage half of the SCD2 trio ([[Scd2Dim]]): same
    * semantics as `join_pit_scd2`, but both sides read catalog tables
    * bucketed+sorted on the user key, so the join is a co-located merge
    * of matching buckets with ZERO Exchange on either side (PlanSpec
    * asserts it) — the layout a dimension read by every daily fact load
    * justifies. The interval predicate stays a residual filter on the
    * equi join; freshness follows the (path, size, mtime) fingerprint,
    * so a new session re-registers metadata only and never re-derives
    * the window.
    */
  lazy val joinPitScd2Bucketed = Q(
    "join_pit_scd2_bucketed",
    (spark, dir) => {
      val (dim, fact) = Scd2Dim.ensure(spark, dir)
      pitJoin(fact, dim)
    },
    Some(pitScd2Sql))

  def qs: Seq[Q] = Seq(joinPitScd2, joinPitScd2Bucketed,
    joinBroadcastDims, joinSortmergeFacts, joinLeftOuter, joinFullOuter,
    joinLeftSemi, joinLeftAnti, joinThetaBand, joinRangeInterval, joinAsof,
    joinAsofTolerance, joinSkewSalted, joinBucketedColocated,
    joinLateralTopk, joinDppPartitionPruned, joinNullSafe,
    joinNotInNullAware, joinCrossEnumerate, joinAsofForward, joinRightOuter,
    joinAsofNearest, joinBandBucketized, joinExistenceMark,
    joinIntervalOverlapBucketized, joinBloomFilteredFact)

  /** Bloom-filtered fact join (SURVEY §2 I-sext) — the row-level
    * sibling of `join_dpp_partition_pruned`: DPP prunes PARTITIONS a
    * selective dim makes irrelevant; a runtime bloom prunes ROWS. The
    * selective dim's keys aggregate into a bloom planted as a 1-row
    * scalar subquery (exactly how Spark's own InjectRuntimeFilter
    * plants it), the fact scan probes it BEFORE the exact broadcast
    * join confirms — a false positive costs probe work, never
    * correctness, which is why the plain filtered join is a valid
    * oracle.
    *
    * Scale notes: at 100 TB the bloom cuts the fact volume reaching
    * the join (and any shuffle above it) by the dim's selectivity;
    * bloom size is the documented knob (bits ∝ expected keys).
    */
  val joinBloomFilteredFact = Q(
    "join_bloom_filtered_fact",
    (spark, dir) => {
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      val sup = Tables.supplier(spark, dir)
        .where($"s_acctbal" > 5000)
        .select($"s_suppkey", $"s_nationkey")
      val li = Tables.lineitem(spark, dir)
        .select($"l_suppkey", $"l_extendedprice", $"l_discount")
      val runId = Artifacts.uniqueId()
      val sv = s"bloom_dim_$runId"
      val lv = s"bloom_fact_$runId"
      sup.createOrReplaceTempView(sv)
      li.createOrReplaceTempView(lv)
      try {
        val cand = spark.sql(
          s"""SELECT l_suppkey, l_extendedprice, l_discount FROM $lv
             |WHERE graft_might_contain(
             |  (SELECT graft_bloom_agg(xxhash64(s_suppkey), 1000L, 16384L)
             |   FROM $sv),
             |  xxhash64(l_suppkey))""".stripMargin)
        cand
          .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
          .groupBy($"s_nationkey")
          .agg(
            count(lit(1)).as("n_lines"),
            sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
              .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("revenue"))
          .select($"s_nationkey", $"n_lines",
            $"revenue".cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
          .orderBy($"s_nationkey")
      } finally {
        spark.catalog.dropTempView(sv)
        spark.catalog.dropTempView(lv)
      }
    },
    Some(s"""
      SELECT s_nationkey, COUNT(*) AS n_lines,
        CAST(CAST(${OracleSql.revenue} AS DECIMAL(28,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN (SELECT s_suppkey, s_nationkey FROM supplier WHERE s_acctbal > 5000) s
        ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey
    """.trim))
}
