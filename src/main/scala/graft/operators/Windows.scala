package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.1.E — window functions.
  *
  * Scale notes (100 TB): partitioned windows (per customer / per user)
  * shuffle once on the partition key and sort within partitions — they
  * scale linearly with executors. The two GLOBAL windows here
  * (`win_rank_family`, `win_range_frame`) single-partition by design of
  * the declared semantics; their 100 TB formulations are declared below
  * as `win_rank_global_scalable` / `win_range_frame_scalable`, which
  * compute identical values by ranking/banding the tiny distinct-key
  * table and broadcast-joining back — no global sort of the fact side.
  * The naive forms stay declared for semantic coverage, acceptable at
  * bench scale (`part` is the smallest fact, 20k rows at sf0.1).
  *
  * Determinism: every window ORDER BY carries a unique tiebreak key, so
  * ranks, frames, and running sums are reproducible across partitionings
  * and engines (§2.0 rule 2).
  */
object Windows extends QueryModule {

  private val monthlyCache = new graft.PlanCache(1)

  /** Per-(supplier nation, month) exact decimal revenue — the ONE fact
    * aggregation the finance-window family (Theil–Sen, RSI, Bollinger)
    * shares; memoized and checkpointed (~nations × months rows) so only
    * the first consumer per corpus pays the lineitem scan. Raw
    * DECIMAL(38,4) sums — each consumer applies its own narrowing.
    */
  def nationMonthlyRevenue(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val fresh = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mi"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("rev"))
    monthlyCache.getOrCompute(fresh)(f => graft.Checkpoints.cut(f.coalesce(1)))
  }

  /** Bench hook: build (and clock) the shared monthly-revenue table
    * outside any individual window query's timer (the shared-stage
    * discipline the text/vector/graph families follow). */
  def prepareSharedStages(
      spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    nationMonthlyRevenue(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  val winTopkPerGroup = Q(
    "win_topk_per_group",
    (spark, dir) => {
      import spark.implicits._
      val w = Window
        .partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables
        .orders(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", dec($"o_totalprice").as("totalprice"), $"rn")
        .orderBy($"o_custkey", $"rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rn
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """.trim))

  /** The rank family over a GLOBAL window — rank/dense_rank/
    * percent_rank/ntile in their canonical unpartitioned form.
    *
    * Scale bound (declared BY DESIGN as the didactic twin): an
    * unpartitioned `Window.orderBy` is a single-partition global sort —
    * one task holds the whole table at any scale. The 100 TB
    * formulation is `win_rank_global_scalable` below (frequency-table
    * ranks broadcast back, no fact-side sort), verified value-identical
    * by the same native-window oracle; this row stays declared because
    * ntile has no order-independent reformulation (ties are assigned
    * arbitrarily) and the canonical form is the API surface users
    * reach for first.
    */
  val winRankFamily = Q(
    "win_rank_family",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"p_retailprice", $"p_partkey")
      Tables
        .part(spark, dir)
        .select(
          $"p_partkey",
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          percent_rank().over(w).cast(DecimalType(18, 6)).as("prnk"),
          ntile(4).over(w).as("quartile"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey,
        RANK() OVER w AS rnk,
        DENSE_RANK() OVER w AS drnk,
        CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS prnk,
        NTILE(4) OVER w AS quartile
      FROM part
      WINDOW w AS (ORDER BY p_retailprice, p_partkey)
      ORDER BY p_partkey
    """.trim))

  val winLagLead = Q(
    "win_lag_lead",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables
        .events(spark, dir)
        .select(
          $"event_id", $"user_id", $"ts",
          lag($"ts", 1).over(w).as("prev_ts"),
          lead($"ts", 1).over(w).as("next_ts"))
        .withColumn("gap_us", expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, ts,
        LAG(ts, 1) OVER w AS prev_ts,
        LEAD(ts, 1) OVER w AS next_ts,
        CAST(epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS BIGINT) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id
    """.trim))

  val winMovingRowsFrame = Q(
    "win_moving_rows_frame",
    (spark, dir) => {
      import spark.implicits._
      val w = Window
        .partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(-6, 0)
      Tables
        .orders(spark, dir)
        .select(
          $"o_custkey", $"o_orderkey",
          sum(dec($"o_totalprice")).over(w).as("moving_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_total
      FROM orders
      ORDER BY o_custkey, o_orderkey
    """.trim))

  /** Value-RANGE frame over a global order (±5 on p_size).
    *
    * Scale bound (declared BY DESIGN as the didactic twin): the global
    * `Window.orderBy` single-partition-sorts the table;
    * `win_range_frame_scalable` below computes identical values from
    * the per-distinct-size aggregate (a range frame depends only on
    * the ORDER BY key) with no fact-side sort.
    */
  val winRangeFrame = Q(
    "win_range_frame",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"p_size").rangeBetween(-5, 5)
      Tables
        .part(spark, dir)
        .select(
          $"p_partkey", $"p_size",
          sum(dec($"p_retailprice")).over(w).as("band_revenue"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey, p_size,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
          OVER (ORDER BY p_size
                RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS DOUBLE) AS band_revenue
      FROM part
      ORDER BY p_partkey
    """.trim))

  val winCumulative = Q(
    "win_cumulative",
    (spark, dir) => {
      import spark.implicits._
      val w = Window
        .partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables
        .orders(spark, dir)
        .select(
          $"o_custkey", $"o_orderkey",
          sum(dec($"o_totalprice")).over(w).as("running_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders
      ORDER BY o_custkey, o_orderkey
    """.trim))

  /** `last_value` needs an explicit full frame — its default frame ends at
    * CURRENT ROW in both engines, which is almost never what "last value
    * in the group" means.
    */
  val winFirstLastValue = Q(
    "win_first_last_value",
    (spark, dir) => {
      import spark.implicits._
      val w = Window
        .partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables
        .orders(spark, dir)
        .select(
          $"o_custkey", $"o_orderkey",
          first($"o_orderkey").over(w).as("first_orderkey"),
          last($"o_orderkey").over(w).as("last_orderkey"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
        LAST_VALUE(o_orderkey) OVER w AS last_orderkey
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey
    """.trim))

  /** The 100 TB formulation of a GLOBAL rank family: `win_rank_family`
    * single-partition-sorts the whole table; here ranks are computed on
    * the distinct-key frequency table (tiny — bounded by distinct
    * retail prices, not rows) and broadcast-joined back, so the big side
    * never shuffles. rank(x) = 1 + Σ cnt(key < x); dense_rank = position
    * among distinct keys; percent_rank/cume_dist from the same running
    * sums. Only tie-stable functions are declared (ntile assigns ties
    * arbitrarily, so it has no order-independent global formulation).
    * Values are verified identical to the engines' native window
    * functions by the full oracle.
    */
  val winRankGlobalScalable = Q(
    "win_rank_global_scalable",
    (spark, dir) => {
      import spark.implicits._
      val freq = Tables
        .part(spark, dir)
        .groupBy($"p_retailprice")
        .agg(count(lit(1)).as("cnt"))
      val byKey = Window.orderBy($"p_retailprice")
      val all = Window.orderBy($"p_retailprice")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = freq.select(
        $"p_retailprice",
        (coalesce(
          sum($"cnt").over(byKey.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + 1).as("rnk"),
        row_number().over(byKey).cast("long").as("drnk"),
        sum($"cnt").over(byKey.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
        sum($"cnt").over(all).as("n"))
      Tables
        .part(spark, dir)
        .join(broadcast(ranked), "p_retailprice")
        .select(
          $"p_partkey",
          $"rnk",
          $"drnk",
          // n=1 guard: native PERCENT_RANK defines the one-row case as 0,
          // while (rnk-1)/(n-1) would be 0/0 → null
          when($"n" === 1, lit(0.0))
            .otherwise(($"rnk" - 1).cast("double") / ($"n" - 1))
            .cast(DecimalType(18, 6)).as("prnk"),
          ($"cum".cast("double") / $"n")
            .cast(DecimalType(18, 6)).as("cume"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey,
        RANK() OVER w AS rnk,
        DENSE_RANK() OVER w AS drnk,
        CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS prnk,
        CAST(CAST(CUME_DIST() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS cume
      FROM part
      WINDOW w AS (ORDER BY p_retailprice)
      ORDER BY p_partkey
    """.trim))

  /** The 100 TB formulation of the GLOBAL range frame: `win_range_frame`
    * single-partition-sorts all rows; a value-range frame only depends on
    * the ORDER-BY key, so pre-aggregate revenue per distinct p_size
    * (tiny), run the ±5 range window over that table, and broadcast-join
    * the banded sums back. Identical values, no global sort of the fact.
    */
  val winRangeFrameScalable = Q(
    "win_range_frame_scalable",
    (spark, dir) => {
      import spark.implicits._
      val perSize = Tables
        .part(spark, dir)
        .groupBy($"p_size")
        .agg(sum(dec($"p_retailprice")).as("size_rev"))
      val w = Window.orderBy($"p_size").rangeBetween(-5, 5)
      val banded = perSize.select(
        $"p_size",
        sum($"size_rev").over(w).as("band_revenue"))
      Tables
        .part(spark, dir)
        .join(broadcast(banded), "p_size")
        .select($"p_partkey", $"p_size", $"band_revenue")
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey, p_size,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
          OVER (ORDER BY p_size
                RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS DOUBLE) AS band_revenue
      FROM part
      ORDER BY p_partkey
    """.trim))

  /** IGNORE NULLS navigation: previous / next / first non-null purchase
    * value per user — the sparse-event carry-forward pattern (sessionized
    * attribute propagation). Same single user_id shuffle as the other
    * partitioned windows; unique (ts, event_id) order keeps it
    * deterministic.
    */
  val winIgnoreNulls = Q(
    "win_ignore_nulls",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables
        .events(spark, dir)
        .withColumn("pv", when($"event_type" === "purchase", $"value"))
        .select(
          $"event_id", $"user_id",
          lag($"pv", 1, null, ignoreNulls = true).over(w).as("prev_purchase_value"),
          lead($"pv", 1, null, ignoreNulls = true).over(w).as("next_purchase_value"),
          nth_value($"pv", 1, ignoreNulls = true).over(wf).as("first_purchase_value"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id,
        lag(pv IGNORE NULLS) OVER w AS prev_purchase_value,
        lead(pv IGNORE NULLS) OVER w AS next_purchase_value,
        nth_value(pv, 1 IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_purchase_value
      FROM (SELECT event_id, user_id, ts,
              CASE WHEN event_type = 'purchase' THEN value END AS pv
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id
    """.trim))

  /** Batch sessionization via gaps-and-islands: per-user events split
    * into sessions at 15-minute inactivity gaps, one output row per
    * session with its span, event count, and decimal value sum. This is
    * the clickstream→training-episode constructor for BATCH corpora
    * (streaming ingest uses `stream_session_window`'s session_window
    * primitive; this formulation covers stored history where no
    * watermark exists, with a different gap so the two rows stay
    * distinct operators).
    *
    * Scale notes (100 TB): exactly one shuffle on user_id; the lag flag,
    * the running session counter, and the final per-session aggregate
    * all reuse that partitioning (the groupBy keys are a superset of the
    * window partition key, so Catalyst plans no second Exchange).
    */
  val winSessionizeBatch = Q(
    "win_sessionize_batch",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables
        .events(spark, dir)
        .select($"user_id", $"event_id", $"ts", $"value")
        .withColumn(
          "new_sess",
          when(
            lag($"ts", 1).over(w).isNull ||
              $"ts" >= lag($"ts", 1).over(w) + expr("INTERVAL 15 MINUTES"),
            1L).otherwise(0L))
        .withColumn("sess_id", sum($"new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"sess_id")
        .agg(
          min($"ts").as("session_start"),
          max($"ts").as("session_end"),
          count(lit(1)).as("n_events"),
          sum(dec($"value", 18, 6)).as("sum_value"))
        .orderBy($"user_id", $"sess_id")
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN LAG(ts) OVER w IS NULL
                 OR ts >= LAG(ts) OVER w + INTERVAL 15 MINUTE
               THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged)
      SELECT user_id, sess_id,
        MIN(ts) AS session_start,
        MAX(ts) AS session_end,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM sess
      GROUP BY user_id, sess_id
      ORDER BY user_id, sess_id
    """.trim))

  /** Exact moving median over a ±3-row frame per user (ordered by ts,
    * event_id) — the robust time-series smoother a mean-based moving
    * frame can't provide (one spike drags a mean, not a median).
    *
    * Spark has no windowed median, so the frame is materialized with
    * `collect_list` over the frame, sorted, and interpolated (even
    * count → mean of the two middle values) — exactly DuckDB's windowed
    * `MEDIAN` semantics on DOUBLE, so the oracle is the native form.
    *
    * Scale notes (100 TB): one user_id hash shuffle (the same exchange
    * every per-user window shares); the frame buffer is O(7) per row —
    * constant, unlike a whole-partition collect. Sorting 7 doubles per
    * row is cheap and stays inside the window exec's per-frame loop.
    */
  val winMovingMedian = Q(
    "win_moving_median",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-3, 3)
      val arr = sort_array(collect_list($"value").over(w))
      val n = size(arr)
      // element_at needs INT ordinals; Column `/` is double division
      val mid = ((n + 1) / 2).cast("int")
      val lo = (n / 2).cast("int")
      // n == 0 guard: collect_list drops NULLs, so an all-NULL frame
      // yields an empty array and element_at(arr, 0) would throw under
      // ANSI mode — the operator must be total over nullable inputs
      // (native MEDIAN returns NULL there)
      val med = when(n === 0, lit(null).cast(DoubleType))
        .when(n % 2 === 1, element_at(arr, mid))
        .otherwise((element_at(arr, lo) + element_at(arr, lo + 1)) / 2.0)
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"value", med.as("moving_median"))
        .orderBy($"user_id", $"ts", $"event_id")
    },
    Some("""
      SELECT event_id, user_id, ts, value,
        MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS moving_median
      FROM events
      ORDER BY user_id, ts, event_id
    """.trim))

  /** Contribution share: each line item's revenue as a fraction of its
    * ORDER's total — the share-of-total every report needs, computed
    * with a windowed sum over the natural HIGH-CARDINALITY key
    * (l_orderkey), never a single-partition global window. Exact
    * decimal numerator/denominator; the ratio runs in double, 6dp.
    */
  val winPercentOfTotal = Q(
    "win_percent_of_total",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"l_orderkey")
      val rev = dec($"l_extendedprice") * dec(lit(1) - $"l_discount")
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_linenumber", rev.as("revenue"),
          sum(rev).over(w).as("order_total"))
        .select(
          $"l_orderkey", $"l_linenumber", $"revenue",
          ($"revenue".cast(DoubleType) / $"order_total".cast(DoubleType))
            .cast(DecimalType(18, 6)).as("pct_of_order"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some(s"""
      WITH r AS (
        SELECT l_orderkey, l_linenumber,
          ${OracleSql.netPrice} AS revenue,
          ${OracleSql.revenue}
            OVER (PARTITION BY l_orderkey) AS order_total
        FROM lineitem
      )
      SELECT l_orderkey, l_linenumber, CAST(revenue AS DOUBLE) AS revenue,
        CAST(CAST(CAST(revenue AS DOUBLE) / CAST(order_total AS DOUBLE)
          AS DECIMAL(18,6)) AS DOUBLE) AS pct_of_order
      FROM r ORDER BY l_orderkey, l_linenumber
    """.trim))

  /** Longest consecutive-DAY activity streak per user — the retention
    * metric (distinct from `win_sessionize_batch`, which islands on a
    * time GAP; here the calendar day is the unit). Gaps-and-islands on
    * the distinct-day table: a day-diff ≠ 1 starts a new island, a
    * running island id groups the days, and the longest island wins.
    *
    * Scale notes (100 TB): the distinct-day reduction happens FIRST
    * (map-side combinable, bounds everything downstream by users×days,
    * not events); every window and the final aggs all key on user_id —
    * one exchange end-to-end.
    */
  val winStreakLongest = Q(
    "win_streak_longest",
    (spark, dir) => {
      import spark.implicits._
      val days = Tables.events(spark, dir)
        .select($"user_id", $"ts".cast("date").as("day")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      val islands = days
        .withColumn("gap", when(
          datediff($"day", lag($"day", 1).over(w)) === 1, 0L).otherwise(1L))
        .withColumn("island", sum($"gap").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      islands
        .groupBy($"user_id", $"island")
        .agg(count(lit(1)).as("streak_len"))
        .groupBy($"user_id")
        .agg(
          max($"streak_len").as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy($"user_id")
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      ), flagged AS (
        SELECT user_id, day,
          CASE WHEN day - LAG(day) OVER (PARTITION BY user_id ORDER BY day) = 1
               THEN 0 ELSE 1 END AS gap
        FROM days
      ), islands AS (
        SELECT user_id, day,
          SUM(gap) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
      ), streaks AS (
        SELECT user_id, island, COUNT(*) AS streak_len
        FROM islands GROUP BY user_id, island
      )
      SELECT user_id, MAX(streak_len) AS longest_streak, COUNT(*) AS n_streaks
      FROM streaks GROUP BY user_id ORDER BY user_id
    """.trim))

  /** Running COUNT(DISTINCT event_type) per user over time — no engine
    * supports DISTINCT inside a window frame, so the standard rewrite:
    * a first-occurrence flag (`row_number` = 1 per (user, type)) summed
    * cumulatively per user. The incremental-cardinality curve every
    * engagement dashboard plots.
    *
    * Scale notes (100 TB): two windows, both hash on user-prefixed keys
    * ((user_id, event_type) then user_id) — two bounded exchanges, no
    * state beyond the window sort; never a per-row distinct set.
    */
  val winRunningDistinct = Q(
    "win_running_distinct",
    (spark, dir) => {
      import spark.implicits._
      val wFirst = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val wRun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select($"event_id", $"user_id", $"ts", $"event_type",
          sum($"first_seen").over(wRun).as("distinct_types_so_far"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, ts, event_type,
        CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_types_so_far
      FROM (
        SELECT event_id, user_id, ts, event_type,
          CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM events)
      ORDER BY event_id
    """.trim))

  /** `cume_dist` over a PARTITIONED window (the rank-family member
    * `win_rank_family` doesn't cover, and per-segment rather than its
    * global frame): cumulative distribution of account balances within
    * each market segment. No tiebreak in the window ORDER BY on
    * purpose — cume_dist counts PEER GROUPS (rows with equal keys share
    * a value), so a tiebreak column would change the semantics; the
    * value is a pure function of (segment, acctbal), hence
    * deterministic anyway.
    *
    * Scale bound: c_mktsegment has 5 values, so each window partition
    * holds 20% of the table at ANY scale — this form is didactic.
    * `win_cume_dist_scalable` below computes identical values from the
    * (segment, acctbal) frequency table without partitioning the fact.
    */
  val winCumeDist = Q(
    "win_cume_dist",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal")
      Tables.customer(spark, dir)
        .select(
          $"c_custkey", $"c_mktsegment", $"c_acctbal",
          cume_dist().over(w).cast(DecimalType(18, 6)).as("bal_cume"),
          percent_rank().over(w).cast(DecimalType(18, 6)).as("bal_prnk"))
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(CAST(CUME_DIST() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS bal_cume,
        CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS bal_prnk
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      ORDER BY c_custkey
    """.trim))

  /** The 100 TB formulation of `win_cume_dist`: its 5-value
    * c_mktsegment partitioning puts 20% of the table in one window
    * partition at any scale. cume_dist/percent_rank are pure functions
    * of (segment, acctbal), so compute them on the per-(segment,
    * acctbal) FREQUENCY table — bounded by the acctbal domain
    * (~1.1M distinct cents values × 5 segments), not row count — and
    * broadcast-join back: cume = running cnt / segment total,
    * percent_rank = (1 + Σ cnt(key < x) − 1)/(n − 1). The fact table
    * never hits a window; its only shuffle-free cost is the broadcast
    * hash join. Verified value-identical to the native window
    * functions by the same oracle as the weak twin.
    */
  val winCumeDistScalable = Q(
    "win_cume_dist_scalable",
    (spark, dir) => {
      import spark.implicits._
      val freq = Tables.customer(spark, dir)
        .groupBy($"c_mktsegment", $"c_acctbal")
        .agg(count(lit(1)).as("cnt"))
      val byKey = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal")
      val ranked = freq.select(
        $"c_mktsegment", $"c_acctbal",
        (coalesce(
          sum($"cnt").over(byKey.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + 1).as("rnk"),
        sum($"cnt").over(byKey.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
        sum($"cnt").over(Window.partitionBy($"c_mktsegment")).as("n"))
      Tables.customer(spark, dir)
        .join(broadcast(ranked), Seq("c_mktsegment", "c_acctbal"))
        .select(
          $"c_custkey", $"c_mktsegment", $"c_acctbal",
          ($"cum".cast("double") / $"n")
            .cast(DecimalType(18, 6)).as("bal_cume"),
          when($"n" === 1, lit(0.0))
            .otherwise(($"rnk" - 1).cast("double") / ($"n" - 1))
            .cast(DecimalType(18, 6)).as("bal_prnk"))
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(CAST(CUME_DIST() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS bal_cume,
        CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,6)) AS DOUBLE) AS bal_prnk
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      ORDER BY c_custkey
    """.trim))

  /** `nth_value` — the navigation-family member first/last/lag/lead
    * leave out: each customer's 3rd-cheapest order value, NULL where
    * the customer has fewer than three orders. The frame is the
    * EXPLICIT full partition — like `last_value`, the default frame
    * ends at CURRENT ROW, which silently turns nth_value into "nth so
    * far" (the classic bug this row pins down).
    */
  val winNthValue = Q(
    "win_nth_value",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(spark, dir)
        .select(
          $"o_custkey", $"o_orderkey", dec($"o_totalprice").as("totalprice"),
          dec(nth_value($"o_totalprice", 3).over(w)).as("third_cheapest"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        CAST(CAST(NTH_VALUE(o_totalprice, 3) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS third_cheapest
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey
    """.trim))

  /** `ntile(4)` — the rank-family member that ASSIGNS rows to
    * equal-count buckets (quartiling for tiering/binning) rather than
    * scoring them; not covered by rank/dense_rank/percent_rank rows.
    * The window ORDER BY carries the unique c_custkey tiebreak, so
    * bucket assignment is total and engine-reproducible; declared
    * output is the per-(segment, tile) summary, not the row-level
    * assignment.
    *
    * Scale bound: partitions by the 5-value c_mktsegment like
    * `win_cume_dist` — fine on the dim-sized customer table, a
    * scale-killer on a fact. The fact-sized reformulation is
    * two-level: global row rank = (frequency-table cumulative count
    * of strictly-smaller order-key values, broadcast) + row_number
    * within the equal-value tie group (a bounded window partition),
    * then the exact ntile boundary arithmetic (first n%k buckets get
    * the extra row — NOT ceil(k·r/n), which splits at different
    * boundaries). WindowScalableSpec proves that derivation equals
    * native ntile row-for-row.
    */
  val winNtileBuckets = Q(
    "win_ntile_buckets",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"c_acctbal", $"c_custkey")
      Tables.customer(spark, dir)
        .select($"c_mktsegment", $"c_acctbal", $"c_custkey")
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .groupBy($"c_mktsegment", $"tile")
        .agg(count(lit(1)).as("n"),
          min(dec($"c_acctbal")).cast(DoubleType).as("min_bal"),
          max(dec($"c_acctbal")).cast(DoubleType).as("max_bal"))
        .orderBy($"c_mktsegment", $"tile")
    },
    Some("""
      SELECT c_mktsegment, tile, COUNT(*) AS n,
        CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal,
        CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
      FROM (
        SELECT c_mktsegment, c_acctbal,
          ntile(4) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS tile
        FROM customer
      )
      GROUP BY c_mktsegment, tile
      ORDER BY c_mktsegment, tile
    """.trim))

  /** The 100 TB formulation of `win_ntile_buckets`:
    * its 5-value c_mktsegment window puts 20% of the table in one
    * window partition at any scale. The two-level derivation
    * WindowScalableSpec proves row-identical to native ntile, per
    * segment: global rank r = (frequency-table cumulative count of
    * strictly-smaller balances, broadcast) + row_number within the
    * equal-value tie group (a BOUNDED window partition — rows sharing
    * one (segment, balance)); then SQL ntile's exact boundary
    * arithmetic — the first n%k buckets take ⌈n/k⌉ rows, the rest
    * ⌊n/k⌋ (NOT ceil(k·r/n), which splits at different boundaries) —
    * with per-segment n/quotient/remainder riding the same broadcast.
    * The fact table never hits a segment-wide window; its only cost is
    * one broadcast hash join and the tie-group row_number. Declared
    * output and oracle are the weak twin's native-ntile summary, so
    * the derivation is value-checked end-to-end.
    */
  val winNtileBucketsScalable = Q(
    "win_ntile_buckets_scalable",
    (spark, dir) => {
      import spark.implicits._
      val k = 4
      val base = Tables.customer(spark, dir)
        .select($"c_mktsegment", $"c_acctbal", $"c_custkey")
      // (segment, balance) frequency table — bounded by the key domain,
      // not row count; its windows run over that bounded table only
      val wSeg = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal")
      val freq = base.groupBy($"c_mktsegment", $"c_acctbal")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum_before",
          coalesce(sum($"c").over(
            wSeg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum($"c").over(Window.partitionBy($"c_mktsegment")))
        .select($"c_mktsegment", $"c_acctbal", $"cum_before",
          expr(s"n DIV $k").as("q"), ($"n" % k).as("rem"))
      val tieRn = row_number().over(
        Window.partitionBy($"c_mktsegment", $"c_acctbal").orderBy($"c_custkey"))
      base
        .withColumn("tie_rn", tieRn.cast("long"))
        .join(broadcast(freq), Seq("c_mktsegment", "c_acctbal"))
        .withColumn("r", $"cum_before" + $"tie_rn")
        .withColumn("tile",
          when($"r" <= $"rem" * ($"q" + 1),
            expr("(r - 1) DIV (q + 1)") + 1)
            .otherwise($"rem" + expr("(r - 1 - rem * (q + 1)) DIV q") + 1)
            .cast("long"))
        .groupBy($"c_mktsegment", $"tile")
        .agg(count(lit(1)).as("n"),
          min(dec($"c_acctbal")).cast(DoubleType).as("min_bal"),
          max(dec($"c_acctbal")).cast(DoubleType).as("max_bal"))
        .orderBy($"c_mktsegment", $"tile")
    },
    Some("""
      SELECT c_mktsegment, tile, COUNT(*) AS n,
        CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal,
        CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
      FROM (
        SELECT c_mktsegment, c_acctbal,
          ntile(4) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS tile
        FROM customer
      )
      GROUP BY c_mktsegment, tile
      ORDER BY c_mktsegment, tile
    """.trim))

  /** Exponentially weighted moving average with DYADIC decay (alpha =
    * 1/2, one-event half-life) over each user's trailing 8 events —
    * the smoothing pass of monitoring/feature pipelines. Every weight
    * 2^-k is an EXACT decimal, so numerator (Σ value·2^-k) and the
    * presence-weighted denominator are exact decimal sums with ONE
    * double division at the surface — which is what makes a
    * recursive-looking smoother hash-comparable across engines and
    * partitionings (a float alpha would drift in the low bits; an
    * unbounded recursion would not be expressible as a frame at all —
    * the 8-term truncation bounds the error at 2^-8 of the oldest
    * weight while keeping the operator a pure window).
    *
    * Scale notes (100 TB): one window pass partitioned by user_id —
    * the same single shuffle+sort as `win_lag_lead`; all 8 lag terms
    * share that one window, no extra exchange, codegen'd throughout.
    */
  val winEwmaDyadic = Q(
    "win_ewma_dyadic",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      def weight(k: Int) = lit(
        java.math.BigDecimal.ONE
          .divide(java.math.BigDecimal.valueOf(1L << k))
          .setScale(7))
      val zero = lit(new java.math.BigDecimal("0.0000000"))
      def term(k: Int) =
        coalesce(lag(dec($"value"), k).over(w), lit(new java.math.BigDecimal("0.00"))) * weight(k)
      def present(k: Int) =
        when(lag($"value", k).over(w).isNotNull, weight(k)).otherwise(zero)
      val num = (0 to 7).map(term).reduce(_ + _)
      val den = (0 to 7).map(present).reduce(_ + _)
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"value")
        .withColumn("ewma", num.cast(DoubleType) / den.cast(DoubleType))
        .select($"event_id", $"user_id", $"ewma")
        .orderBy($"event_id")
    },
    Some("""
      WITH l AS (
        SELECT event_id, user_id,
          CAST(value AS DECIMAL(18,2)) AS v0,
          LAG(CAST(value AS DECIMAL(18,2)), 1) OVER w AS v1,
          LAG(CAST(value AS DECIMAL(18,2)), 2) OVER w AS v2,
          LAG(CAST(value AS DECIMAL(18,2)), 3) OVER w AS v3,
          LAG(CAST(value AS DECIMAL(18,2)), 4) OVER w AS v4,
          LAG(CAST(value AS DECIMAL(18,2)), 5) OVER w AS v5,
          LAG(CAST(value AS DECIMAL(18,2)), 6) OVER w AS v6,
          LAG(CAST(value AS DECIMAL(18,2)), 7) OVER w AS v7
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
      SELECT event_id, user_id,
        CAST(COALESCE(v0, 0) * 1.0000000 + COALESCE(v1, 0) * 0.5000000
           + COALESCE(v2, 0) * 0.2500000 + COALESCE(v3, 0) * 0.1250000
           + COALESCE(v4, 0) * 0.0625000 + COALESCE(v5, 0) * 0.0312500
           + COALESCE(v6, 0) * 0.0156250 + COALESCE(v7, 0) * 0.0078125
          AS DOUBLE)
        / CAST(CASE WHEN v0 IS NULL THEN 0.0000000 ELSE 1.0000000 END
             + CASE WHEN v1 IS NULL THEN 0.0000000 ELSE 0.5000000 END
             + CASE WHEN v2 IS NULL THEN 0.0000000 ELSE 0.2500000 END
             + CASE WHEN v3 IS NULL THEN 0.0000000 ELSE 0.1250000 END
             + CASE WHEN v4 IS NULL THEN 0.0000000 ELSE 0.0625000 END
             + CASE WHEN v5 IS NULL THEN 0.0000000 ELSE 0.0312500 END
             + CASE WHEN v6 IS NULL THEN 0.0000000 ELSE 0.0156250 END
             + CASE WHEN v7 IS NULL THEN 0.0000000 ELSE 0.0078125 END
          AS DOUBLE) AS ewma
      FROM l
      ORDER BY event_id
    """.trim))

  /** 2-D PARETO FRONT (skyline) over orders: the orders no other order
    * strictly beats on BOTH price (higher) and date (earlier) — the
    * classic "best tradeoff set" query (cheapest-newest, biggest-
    * earliest). Strict domination on both axes; price compared at
    * DECIMAL(18,2) on both engines.
    *
    * Scale notes (100 TB): the naive skyline is a quadratic NOT
    * EXISTS self-join (the ORACLE's formulation — an independent
    * algorithm cross-checking ours). This plan is the distributed
    * two-level scan: band the price axis (bounded band count since
    * the price domain is bounded), compute the min-date-over-
    * strictly-higher-prices threshold as (a) a per-band running min
    * over the band's DISTINCT prices and (b) a running min over the
    * tiny per-band min table for all higher bands, then one equi-join
    * back on (band, price) and a pure row filter. No global sort of
    * the fact side, no quadratic join — two bounded windows + two
    * hash joins, all map-side-combinable aggs.
    */
  val winParetoFront = Q(
    "win_pareto_front",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select($"o_orderkey", dec($"o_totalprice").as("price"), $"o_orderdate")
        .withColumn("band",
          floor($"price".cast(DoubleType) / lit(50000.0)).cast("long"))
      // one row per (band, distinct price): earliest date at that price
      val pp = o.groupBy($"band", $"price").agg(min($"o_orderdate").as("md"))
      // min date among STRICTLY higher prices within the band (pp is
      // distinct on price, so the 1-PRECEDING frame excludes ties)
      val wInBand = Window.partitionBy($"band").orderBy($"price".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = pp.withColumn("above_in_band", min($"md").over(wInBand))
      // min date over all strictly higher BANDS (band table is bounded:
      // price domain / band width, independent of row count)
      val bmin = pp.groupBy($"band").agg(min($"md").as("bm"))
      val wBands = Window.orderBy($"band".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bprefix = bmin.withColumn("above_bands", min($"bm").over(wBands))
      val thr = local
        .join(bprefix.select($"band", $"above_bands"), Seq("band"))
        .select($"band", $"price",
          least($"above_in_band", $"above_bands").as("above"))
      o.join(thr, Seq("band", "price"))
        .filter($"above".isNull || $"above" >= $"o_orderdate")
        .select($"o_orderkey", $"price".cast(DoubleType).as("price"), $"o_orderdate")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        o_orderdate
      FROM orders x
      WHERE NOT EXISTS (
        SELECT 1 FROM orders y
        WHERE CAST(y.o_totalprice AS DECIMAL(18,2))
                > CAST(x.o_totalprice AS DECIMAL(18,2))
          AND y.o_orderdate < x.o_orderdate)
      ORDER BY o_orderkey
    """.trim))

  /** INTERVAL-UNION coverage (sweep line) — per supplier, the total
    * number of days covered by the UNION of its shipment-activity
    * intervals [shipdate, shipdate + quantity days): the classic
    * gaps-free coverage measure (machine uptime, SLA windows, session
    * coverage) that a naive SUM of lengths double-counts wherever
    * intervals overlap. One ordered pass per key: an interval opens a
    * new ISLAND iff its start exceeds the running max of all earlier
    * ends (touching intervals merge); islands aggregate to
    * min-start/max-end spans whose day-lengths sum to exact coverage.
    *
    * Scale notes (100 TB): windows partition by supplier — thousands
    * of independent keys, one shuffle+sort, linear in executors; no
    * self-join (the O(n²) overlap formulation this replaces). All
    * arithmetic is integer day counts on exact dates — no float in the
    * query at all, so cross-engine equality is structural.
    */
  val winIntervalUnionLength = Q(
    "win_interval_union_length",
    (spark, dir) => {
      import spark.implicits._
      val iv = Tables.lineitem(spark, dir)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_shipdate".cast("date").as("ivs"),
          date_add($"l_shipdate".cast("date"), $"l_quantity".cast("int")).as("ive"))
      val wPrev = Window.partitionBy($"l_suppkey")
        .orderBy($"ivs", $"ive", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy($"l_suppkey")
        .orderBy($"ivs", $"ive", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
      iv
        .withColumn("prev_max", max($"ive").over(wPrev))
        .withColumn("opens", when($"prev_max".isNull || $"ivs" > $"prev_max", 1L).otherwise(0L))
        .withColumn("island", sum($"opens").over(wRun))
        .groupBy($"l_suppkey", $"island")
        .agg(min($"ivs").as("is_s"), max($"ive").as("is_e"), count(lit(1)).as("n_iv"))
        .groupBy($"l_suppkey")
        .agg(
          sum($"n_iv").as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(datediff($"is_e", $"is_s")).as("covered_days"))
        .select($"l_suppkey".as("s_suppkey"), $"n_intervals", $"n_islands", $"covered_days")
        .orderBy($"s_suppkey")
    },
    Some("""
      WITH iv AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(l_shipdate AS DATE) AS ivs,
          CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS ive
        FROM lineitem
      ), marked AS (
        SELECT l_suppkey, ivs, ive,
          CASE WHEN MAX(ive) OVER (PARTITION BY l_suppkey
                 ORDER BY ivs, ive, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR ivs > MAX(ive) OVER (PARTITION BY l_suppkey
                 ORDER BY ivs, ive, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS opens,
          l_orderkey, l_linenumber
        FROM iv
      ), islands AS (
        SELECT l_suppkey, ivs, ive,
          SUM(opens) OVER (PARTITION BY l_suppkey
            ORDER BY ivs, ive, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked
      ), spans AS (
        SELECT l_suppkey, island, MIN(ivs) AS is_s, MAX(ive) AS is_e,
          COUNT(*) AS n_iv
        FROM islands GROUP BY l_suppkey, island
      )
      SELECT l_suppkey AS s_suppkey, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        COUNT(*) AS n_islands,
        CAST(SUM(date_diff('day', is_s, is_e)) AS BIGINT) AS covered_days
      FROM spans GROUP BY l_suppkey ORDER BY s_suppkey
    """.trim))

  /** Maximum drawdown per customer over the chronological order-value
    * series (SURVEY §2 I-sext) — the running-peak-to-trough risk measure
    * from portfolio analytics, applied as a customer-LTV volatility
    * probe. Running peak is a per-key unbounded-preceding max window;
    * drawdown is exact decimal arithmetic on the 2-dp order values, with
    * only the final ratio in rounded double.
    *
    * Scale notes: one shuffle on o_custkey, per-key sort, linear in the
    * fact table — the canonical partitioned-window plan.
    */
  val winMaxDrawdown = Q(
    "win_max_drawdown",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(spark, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderkey",
          dec($"o_totalprice").as("price"))
        .withColumn("peak", max($"price").over(w))
        .groupBy($"o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          max($"peak").as("peak_price"),
          round(max(($"peak" - $"price").cast(DoubleType) /
            $"peak".cast(DoubleType)), 6).as("max_drawdown"))
        .where($"n_orders" >= 5)
        .orderBy($"o_custkey")
    },
    Some("""
      WITH t AS (
        SELECT o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          MAX(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM orders
      )
      SELECT o_custkey,
        COUNT(*) AS n_orders,
        CAST(MAX(peak) AS DOUBLE) AS peak_price,
        ROUND(MAX(CAST(peak - price AS DOUBLE) / CAST(peak AS DOUBLE)), 6) AS max_drawdown
      FROM t
      GROUP BY o_custkey
      HAVING COUNT(*) >= 5
      ORDER BY o_custkey
    """.trim))

  /** Rolling correlation between quantity and extended price over a
    * 10-row chronological frame per supplier (SURVEY §2 I-sext) — the
    * windowed co-movement monitor (pairs-trading / sensor-drift shape).
    *
    * Never uses a native windowed corr (its double accumulation is
    * partition-order dependent): six decimal co-moment SUMs over one
    * shared ROWS frame, then the corr formula in double algebra on exact
    * frame moments — identical on both engines. NULLIF guards
    * zero-variance frames; only full 10-row frames are emitted.
    *
    * Scale notes: one shuffle on l_suppkey; all six window aggregates
    * share a single WindowExec frame pass. The suppkey<20 slice bounds
    * declared output, not the plan shape.
    */
  val winRollingCorr = Q(
    "win_rolling_corr",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(-9, Window.currentRow)
      val x = $"l_quantity".cast(DoubleType)
      val y = $"l_extendedprice".cast(DoubleType)
      val base = Tables.lineitem(spark, dir)
        .where($"l_suppkey" < 20)
        .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber",
          x.cast(DecimalType(28, 10)).as("xd"),
          y.cast(DecimalType(28, 10)).as("yd"),
          (x * y).cast(DecimalType(38, 10)).as("xyd"),
          (x * x).cast(DecimalType(38, 10)).as("xxd"),
          (y * y).cast(DecimalType(38, 10)).as("yyd"))
      val nW = count(lit(1)).over(w)
      val sx = sum($"xd").over(w).cast(DoubleType)
      val sy = sum($"yd").over(w).cast(DoubleType)
      val sxy = sum($"xyd").over(w).cast(DoubleType)
      val sxx = sum($"xxd").over(w).cast(DoubleType)
      val syy = sum($"yyd").over(w).cast(DoubleType)
      base
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          nW.as("n"),
          round((sxy * nW - sx * sy) /
            nullif(sqrt((sxx * nW - sx * sx) * (syy * nW - sy * sy)), lit(0.0d)), 6)
            .as("rolling_corr"))
        .where($"n" === 10)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"rolling_corr")
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    },
    Some("""
      WITH t AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
          COUNT(*) OVER w AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sxy,
          CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10))) OVER w AS DOUBLE) AS syy
        FROM lineitem
        WHERE l_suppkey < 20
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      )
      SELECT l_suppkey, l_orderkey, l_linenumber,
        ROUND((sxy * n - sx * sy)
          / NULLIF(SQRT((sxx * n - sx * sx) * (syy * n - sy * sy)), 0), 6) AS rolling_corr
      FROM t
      WHERE n = 10
      ORDER BY l_suppkey, l_orderkey, l_linenumber
    """.trim))

  /** Daily event counts `(event_type, d, c)` — the series the
    * change-point, peak and burst rows scan.
    */
  private def dailyEventCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", $"ts".cast("date").as("d"))
      .groupBy($"event_type", $"d")
      .agg(count(lit(1)).as("c"))
  }

  /** [[dailyEventCounts]] with each type's `mean_daily` and `n_days`,
    * and as `out` the running exact-decimal sum of the 6 dp daily
    * deviations from that mean — the change-point and burst rows' CUSUM.
    */
  private def dailyCusum(spark: org.apache.spark.sql.SparkSession, dir: String,
      out: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val wAll = Window.partitionBy($"event_type")
    val wCum = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyEventCounts(spark, dir)
      .withColumn("mean_daily",
        sum($"c").over(wAll).cast(DoubleType) / count(lit(1)).over(wAll))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn(out,
        sum(round($"c" - $"mean_daily", 6).cast(DecimalType(28, 6))).over(wCum))
  }

  /** Daily net revenue `(l_shipdate, rev)`, an exact decimal sum — the
    * series the Hurst, seasonality and autocorrelation rows scan.
    */
  private def dailyRevenue(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_shipdate")
      .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("rev"))
  }

  /** CUSUM changepoint detection per event type (SURVEY §2 I-sext) —
    * completes the drift-monitoring suite: the z-score row flags
    * anomalous POINTS, PSI/KS compare WINDOWS, CUSUM locates WHEN the
    * level shifted. Cumulative sum of per-day deviations from the
    * type's own mean; the changepoint is the day where |cusum| peaks
    * (earliest-day tiebreak). Deviations round to 6 dp before a
    * decimal-exact cumulative sum, so the argmax is reproducible on any
    * engine or partitioning.
    *
    * Scale notes: the only fact-scale work is the (type, day) count —
    * map-side combinable; the mean join, cumsum window and argmax all
    * ride the bounded daily table.
    */
  val winCusumChangepoint = Q(
    "win_cusum_changepoint",
    (spark, dir) => {
      import spark.implicits._
      val withCusum = dailyCusum(spark, dir, "cusum")
      val wPick = Window.partitionBy($"event_type")
        .orderBy(abs($"cusum").desc, $"d")
      withCusum
        .withColumn("rn", row_number().over(wPick))
        .where($"rn" === 1)
        .select($"event_type", $"n_days",
          $"d".as("changepoint_day"),
          round(abs($"cusum").cast(DoubleType), 6).as("max_abs_cusum"),
          round($"mean_daily", 6).as("mean_daily"))
        .orderBy($"event_type")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events GROUP BY 1, 2
      ), cu0 AS (
        SELECT event_type, d, c,
          CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE)
            / COUNT(*) OVER (PARTITION BY event_type) AS mean_daily,
          COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
      ), cu AS (
        SELECT event_type, d, c, mean_daily, n_days,
          SUM(CAST(ROUND(c - mean_daily, 6) AS DECIMAL(28,6)))
            OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        FROM cu0
      ), picked AS (
        SELECT event_type, n_days, d, cusum, mean_daily,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(cusum) DESC, d) AS rn
        FROM cu
      )
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        d AS changepoint_day,
        ROUND(CAST(ABS(cusum) AS DOUBLE), 6) AS max_abs_cusum,
        ROUND(mean_daily, 6) AS mean_daily
      FROM picked WHERE rn = 1
      ORDER BY event_type
    """.trim))

  /** RSI momentum oscillator (SURVEY §2 I-oct) — the classic
    * overbought/oversold indicator (Cutler's SMA formulation: exact
    * frame sums, not Wilder's recursive smoothing, which would compound
    * float error per step): per supplier nation's monthly revenue
    * series, split each month-over-month delta into gain/loss, 6-month
    * rolling sums of each, RSI = 100 − 100/(1 + gains/losses); the
    * all-gain edge pins RSI = 100 exactly (0-loss divide guarded).
    * Completes the finance-window family: drawdown = risk, Hurst =
    * persistence, CUSUM = level shifts, RSI = momentum state.
    *
    * Scale notes (100 TB): one fact-scale month agg (map-side
    * combinable), then per-nation windows on the bounded monthly table
    * riding ONE nation-keyed shuffle. Deltas and frame sums are exact
    * decimals; doubles appear only in the final guarded ratio, rounded
    * at 6 dp.
    */
  val winRsiMomentum = Q(
    "win_rsi_momentum",
    (spark, dir) => {
      import spark.implicits._
      val monthly = nationMonthlyRevenue(spark, dir)
      val wOrd = Window.partitionBy($"s_nationkey").orderBy($"mi")
      val wFrame = wOrd.rowsBetween(-5, 0)
      monthly
        .withColumn("delta",
          ($"rev" - lag($"rev", 1).over(wOrd)).cast(DecimalType(28, 4)))
        .withColumn("gain", greatest($"delta", lit(0).cast(DecimalType(28, 4))))
        .withColumn("loss", greatest(-$"delta", lit(0).cast(DecimalType(28, 4))))
        .withColumn("n_deltas", count($"delta").over(wFrame))
        .withColumn("gains", sum($"gain").over(wFrame))
        .withColumn("losses", sum($"loss").over(wFrame))
        .filter($"n_deltas" === 6)
        .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
        // round(…,6) after the double cast: width-38 decimals are
        // int128-backed in the oracle engine, whose →double conversion
        // can be one ulp off; re-rounding a scale-4 value at 6 dp is
        // value-preserving and lands both engines on the same double
        .select($"n_name", $"mi",
          round($"gains".cast(DoubleType), 6).as("gains"),
          round($"losses".cast(DoubleType), 6).as("losses"),
          when($"losses" === 0, lit(100.0d))
            .otherwise(round(lit(100.0d) - lit(100.0d) /
              (lit(1.0d) + $"gains".cast(DoubleType) / $"losses".cast(DoubleType)), 6))
            .as("rsi"))
        .orderBy($"n_name", $"mi")
    },
    Some(s"""
      WITH monthly AS (
        SELECT s_nationkey,
          year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          ${OracleSql.revenue} AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
      ), d AS (
        SELECT s_nationkey, mi,
          CAST(rev - LAG(rev) OVER w AS DECIMAL(28,4)) AS delta
        FROM monthly
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY mi)
      ), f AS (
        SELECT s_nationkey, mi,
          COUNT(delta) OVER wf AS n_deltas,
          SUM(GREATEST(delta, CAST(0 AS DECIMAL(28,4)))) OVER wf AS gains,
          SUM(GREATEST(-delta, CAST(0 AS DECIMAL(28,4)))) OVER wf AS losses
        FROM d
        WINDOW wf AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      )
      SELECT n_name, mi,
        ROUND(CAST(gains AS DOUBLE), 6) AS gains,
        ROUND(CAST(losses AS DOUBLE), 6) AS losses,
        CASE WHEN losses = 0 THEN 100.0
             ELSE ROUND(100.0 - 100.0 /
               (1.0 + CAST(gains AS DOUBLE) / CAST(losses AS DOUBLE)), 6)
        END AS rsi
      FROM f JOIN nation ON s_nationkey = n_nationkey
      WHERE n_deltas = 6
      ORDER BY n_name, mi
    """.trim))

  /** Additive SEASONAL DECOMPOSITION of the monthly revenue series
    * (SURVEY §2 I-oct) — the classical-decomposition shape (trend +
    * seasonal + residual) behind every seasonality-aware forecast and
    * the seasonality-adjusted anomaly family (`etl_seasonal_anomaly`
    * z-scores cells; this row extracts the components): trend = 13-month
    * centered moving mean (complete frames only), detrended = revenue −
    * trend, seasonal = month-of-year mean of the detrended series,
    * residual = detrended − seasonal.
    *
    * Scale notes (100 TB): one fact-scale month agg (map-side
    * combinable); every window/join after runs on the BOUNDED monthly
    * table (~#months rows). Decimal discipline: monthly revenue narrows
    * to DECIMAL(18,4) — PRECISION-only narrowing (a scale change rounds
    * half differently across engines) — and every decimal→double cast
    * goes through an int64-backed width (≤18): the oracle engine's
    * int128→double conversion is one ulp off, which a 6 dp round cannot
    * always absorb.
    */
  val winSeasonalDecompose = Q(
    "win_seasonal_decompose",
    (spark, dir) => {
      import spark.implicits._
      val monthly = Tables.lineitem(spark, dir)
        .groupBy((year($"l_shipdate") * 12 + month($"l_shipdate")).as("mi"))
        .agg(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
          .cast(DecimalType(18, 4)).as("rev"))
      val w13 = Window.orderBy($"mi").rowsBetween(-6, 6)
      val det = monthly
        .withColumn("nf", count(lit(1)).over(w13))
        .withColumn("trend",
          round(sum($"rev").over(w13).cast(DecimalType(18, 4)).cast(DoubleType)
            / 13, 6))
        .filter($"nf" === 13)
        .withColumn("moy", $"mi" % 12)
        .withColumn("det", round($"rev".cast(DoubleType) - $"trend", 6))
      val seasonal = det
        .groupBy($"moy")
        .agg(round(
          sum(round($"det", 6).cast(DecimalType(28, 6)))
            .cast(DecimalType(18, 6)).cast(DoubleType) / count(lit(1)), 6)
          .as("seasonal"))
      det
        .join(broadcast(seasonal), "moy")
        .select($"mi", $"moy",
          $"rev".cast(DoubleType).as("rev"),
          $"trend", $"seasonal",
          round($"det" - $"seasonal", 6).as("residual"))
        .orderBy($"mi")
    },
    Some(s"""
      WITH monthly AS (
        SELECT year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          CAST(${OracleSql.revenue} AS DECIMAL(18,4)) AS rev
        FROM lineitem GROUP BY 1
      ), t AS (
        SELECT mi, rev,
          COUNT(*) OVER w13 AS nf,
          ROUND(CAST(CAST(SUM(rev) OVER w13 AS DECIMAL(18,4)) AS DOUBLE)
            / 13, 6) AS trend
        FROM monthly
        WINDOW w13 AS (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
      ), det AS (
        SELECT mi, mi % 12 AS moy, rev, trend,
          ROUND(CAST(rev AS DOUBLE) - trend, 6) AS det
        FROM t WHERE nf = 13
      ), seasonal AS (
        SELECT moy,
          ROUND(CAST(CAST(SUM(CAST(ROUND(det, 6) AS DECIMAL(28,6)))
              AS DECIMAL(18,6)) AS DOUBLE) / COUNT(*), 6) AS seasonal
        FROM det GROUP BY moy
      )
      SELECT mi, moy, CAST(rev AS DOUBLE) AS rev, trend, seasonal,
        ROUND(det - seasonal, 6) AS residual
      FROM det JOIN seasonal USING (moy)
      ORDER BY mi
    """.trim))

  /** BOLLINGER BANDS on per-nation monthly revenue (SURVEY §2 I-oct) —
    * the volatility envelope (6-month moving mean ± 2 population σ)
    * that turns "is this month unusual?" into a per-series banded test;
    * breakout flag on either side. With RSI (momentum), drawdown
    * (risk), Hurst (persistence) and CUSUM (level shifts) this closes
    * the technical-indicator family.
    *
    * Scale notes (100 TB): one fact month agg, then ONE per-nation
    * frame window pass over the bounded monthly table. σ comes from
    * 6 dp-rounded deviations squared into 12 dp decimal frame sums (the
    * Hurst recipe) — the int128→double ulp then passes through √ and a
    * 6 dp round, shrinking it far below rounding granularity; the mean
    * rides an int64-width decimal cast.
    */
  val winBollingerBands = Q(
    "win_bollinger_bands",
    (spark, dir) => {
      import spark.implicits._
      val monthly = nationMonthlyRevenue(spark, dir)
        .select($"s_nationkey", $"mi", $"rev".cast(DecimalType(18, 4)).as("rev"))
      val wf = Window.partitionBy($"s_nationkey").orderBy($"mi").rowsBetween(-5, 0)
      monthly
        .withColumn("nf", count(lit(1)).over(wf))
        .withColumn("m",
          round(sum($"rev").over(wf).cast(DecimalType(18, 4)).cast(DoubleType) / 6, 6))
        .withColumn("dv", round($"rev".cast(DoubleType) - $"m", 6))
        .withColumn("sd",
          round(sqrt(sum(round($"dv" * $"dv", 12).cast(DecimalType(38, 12)))
            .over(wf).cast(DoubleType) / 6), 6))
        .where($"nf" === 6)
        .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
        .select($"n_name", $"mi",
          $"rev".cast(DoubleType).as("rev"),
          $"m", $"sd",
          round($"m" + lit(2.0) * $"sd", 6).as("upper"),
          round($"m" - lit(2.0) * $"sd", 6).as("lower"),
          ($"rev".cast(DoubleType) > round($"m" + lit(2.0) * $"sd", 6) ||
            $"rev".cast(DoubleType) < round($"m" - lit(2.0) * $"sd", 6)).as("breakout"))
        .orderBy($"n_name", $"mi")
    },
    Some(s"""
      WITH monthly AS (
        SELECT s_nationkey,
          year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          CAST(${OracleSql.revenue} AS DECIMAL(18,4)) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
      ), a AS (
        SELECT s_nationkey, mi, rev,
          COUNT(*) OVER wf AS nf,
          ROUND(CAST(CAST(SUM(rev) OVER wf AS DECIMAL(18,4)) AS DOUBLE) / 6, 6) AS m
        FROM monthly
        WINDOW wf AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      ), b AS (
        SELECT s_nationkey, mi, rev, nf, m,
          ROUND(SQRT(CAST(SUM(CAST(ROUND(ROUND(CAST(rev AS DOUBLE) - m, 6)
              * ROUND(CAST(rev AS DOUBLE) - m, 6), 12) AS DECIMAL(38,12)))
            OVER wf AS DOUBLE) / 6), 6) AS sd
        FROM a
        WINDOW wf AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      )
      SELECT n_name, mi, CAST(rev AS DOUBLE) AS rev, m, sd,
        ROUND(m + 2 * sd, 6) AS upper,
        ROUND(m - 2 * sd, 6) AS lower,
        (CAST(rev AS DOUBLE) > ROUND(m + 2 * sd, 6)
          OR CAST(rev AS DOUBLE) < ROUND(m - 2 * sd, 6)) AS breakout
      FROM b JOIN nation ON s_nationkey = n_nationkey
      WHERE nf = 6
      ORDER BY n_name, mi
    """.trim))

  /** MACD momentum crossover (SURVEY §2 I-non) — the moving-average
    * convergence/divergence indicator in its SMA (Cutler-style)
    * formulation, the same exactness trade the RSI row makes: recursive
    * EMA smoothing would compound float error per step, so fast/slow
    * are exact 3- and 9-month frame means. Per supplier nation's
    * monthly revenue: macd = SMA3 − SMA9, signal = SMA3 of macd,
    * histogram = macd − signal, and `cross_up` marks the buy-signal
    * months where the histogram crosses from negative to non-negative
    * — the state change a momentum monitor actually alerts on (RSI
    * reports the LEVEL of momentum; this row reports its TURNS).
    *
    * Scale notes (100 TB): rides the ONE shared memoized monthly
    * aggregation (fact-scale, map-side combinable), then two ordered
    * window passes over the bounded monthly table on a single
    * nation-keyed shuffle. Frame sums are exact decimals; doubles
    * appear only in the /3 and /9 scalar divisions on identical
    * operands, each rounded at 6 dp before reuse.
    */
  val winMacdCrossover = Q(
    "win_macd_crossover",
    (spark, dir) => {
      import spark.implicits._
      val monthly = nationMonthlyRevenue(spark, dir)
        .select($"s_nationkey", $"mi", $"rev".cast(DecimalType(18, 4)).as("rev"))
      val wOrd = Window.partitionBy($"s_nationkey").orderBy($"mi")
      val w3 = wOrd.rowsBetween(-2, 0)
      val w9 = wOrd.rowsBetween(-8, 0)
      val withMacd = monthly
        .withColumn("n9", count(lit(1)).over(w9))
        .withColumn("fast",
          round(sum($"rev").over(w3).cast(DecimalType(18, 4)).cast(DoubleType) / 3, 6))
        .withColumn("slow",
          round(sum($"rev").over(w9).cast(DecimalType(18, 4)).cast(DoubleType) / 9, 6))
        .where($"n9" === 9)
        .withColumn("macd", round($"fast" - $"slow", 6))
      val wSig = Window.partitionBy($"s_nationkey").orderBy($"mi").rowsBetween(-2, 0)
      withMacd
        .withColumn("n_sig", count(lit(1)).over(wSig))
        .withColumn("signal",
          round(sum($"macd".cast(DecimalType(18, 6))).over(wSig)
            .cast(DecimalType(18, 6)).cast(DoubleType) / 3, 6))
        .where($"n_sig" === 3)
        .withColumn("hist", round($"macd" - $"signal", 6))
        .withColumn("cross_up",
          lag($"macd" - $"signal", 1).over(Window.partitionBy($"s_nationkey").orderBy($"mi")) < 0.0
            && ($"macd" - $"signal") >= 0.0)
        .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
        .select($"n_name", $"mi", $"fast", $"slow", $"macd", $"signal", $"hist",
          coalesce($"cross_up", lit(false)).as("cross_up"))
        .orderBy($"n_name", $"mi")
    },
    Some(s"""
      WITH monthly AS (
        SELECT s_nationkey,
          year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          CAST(${OracleSql.revenue} AS DECIMAL(18,4)) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
      ), a AS (
        SELECT s_nationkey, mi,
          COUNT(*) OVER w9 AS n9,
          ROUND(CAST(CAST(SUM(rev) OVER w3 AS DECIMAL(18,4)) AS DOUBLE) / 3, 6) AS fast,
          ROUND(CAST(CAST(SUM(rev) OVER w9 AS DECIMAL(18,4)) AS DOUBLE) / 9, 6) AS slow
        FROM monthly
        WINDOW w3 AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w9 AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
      ), b AS (
        SELECT s_nationkey, mi, fast, slow, ROUND(fast - slow, 6) AS macd
        FROM a WHERE n9 = 9
      ), c AS (
        SELECT s_nationkey, mi, fast, slow, macd,
          COUNT(*) OVER ws AS n_sig,
          ROUND(CAST(CAST(SUM(CAST(macd AS DECIMAL(18,6))) OVER ws
            AS DECIMAL(18,6)) AS DOUBLE) / 3, 6) AS signal
        FROM b
        WINDOW ws AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ), d AS (
        SELECT s_nationkey, mi, fast, slow, macd, signal,
          ROUND(macd - signal, 6) AS hist,
          COALESCE(LAG(macd - signal, 1) OVER (PARTITION BY s_nationkey ORDER BY mi) < 0
            AND (macd - signal) >= 0, FALSE) AS cross_up
        FROM c WHERE n_sig = 3
      )
      SELECT n_name, mi, fast, slow, macd, signal, hist, cross_up
      FROM d JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_name, mi
    """.trim))

  /** Stochastic oscillator %K/%D (SURVEY §2 I-non) — where the series
    * sits INSIDE its own recent range: %K = 100·(rev − min₆)/(max₆ −
    * min₆) over each supplier nation's trailing 6 months, %D = 3-month
    * SMA of %K, with the classic overbought (>80) / oversold (<20)
    * state flags. Completes the band family: Bollinger asks "how far
    * from the mean in σ units", the stochastic asks "where between the
    * recent extremes" — a range-position signal that is robust to
    * volatility regime changes because the denominator IS the range.
    *
    * Scale notes (100 TB): same shape as Bollinger — the shared
    * memoized monthly aggregation, then one nation-keyed window pass.
    * min/max frames are exact decimal comparisons; the %K divide is the
    * only double op, on identical operands both engines round at 6 dp;
    * %D re-sums 6 dp-exact %K values as decimals with one final /3.
    */
  val winStochasticOscillator = Q(
    "win_stochastic_oscillator",
    (spark, dir) => {
      import spark.implicits._
      val monthly = nationMonthlyRevenue(spark, dir)
        .select($"s_nationkey", $"mi", $"rev".cast(DecimalType(18, 4)).as("rev"))
      val wf = Window.partitionBy($"s_nationkey").orderBy($"mi").rowsBetween(-5, 0)
      val withK = monthly
        .withColumn("nf", count(lit(1)).over(wf))
        .withColumn("lo", min($"rev").over(wf))
        .withColumn("hi", max($"rev").over(wf))
        .where($"nf" === 6)
        .withColumn("pct_k",
          round(lit(100.0) * ($"rev" - $"lo").cast(DecimalType(18, 4)).cast(DoubleType) /
            nullif(($"hi" - $"lo").cast(DecimalType(18, 4)).cast(DoubleType), lit(0.0d)), 6))
      val wd = Window.partitionBy($"s_nationkey").orderBy($"mi").rowsBetween(-2, 0)
      withK
        .withColumn("n_d", count($"pct_k").over(wd))
        .withColumn("pct_d",
          round(sum($"pct_k".cast(DecimalType(18, 6))).over(wd)
            .cast(DecimalType(18, 6)).cast(DoubleType) / 3, 6))
        .where($"n_d" === 3)
        .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
        .select($"n_name", $"mi",
          $"rev".cast(DoubleType).as("rev"),
          $"lo".cast(DoubleType).as("range_low"),
          $"hi".cast(DoubleType).as("range_high"),
          $"pct_k", $"pct_d",
          ($"pct_k" > 80.0).as("overbought"),
          ($"pct_k" < 20.0).as("oversold"))
        .orderBy($"n_name", $"mi")
    },
    Some(s"""
      WITH monthly AS (
        SELECT s_nationkey,
          year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          CAST(${OracleSql.revenue} AS DECIMAL(18,4)) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
      ), a AS (
        SELECT s_nationkey, mi, rev,
          COUNT(*) OVER wf AS nf,
          MIN(rev) OVER wf AS lo,
          MAX(rev) OVER wf AS hi
        FROM monthly
        WINDOW wf AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      ), k AS (
        SELECT s_nationkey, mi, rev, lo, hi,
          ROUND(100.0 * CAST(CAST(rev - lo AS DECIMAL(18,4)) AS DOUBLE)
            / NULLIF(CAST(CAST(hi - lo AS DECIMAL(18,4)) AS DOUBLE), 0), 6) AS pct_k
        FROM a WHERE nf = 6
      ), d AS (
        SELECT s_nationkey, mi, rev, lo, hi, pct_k,
          COUNT(pct_k) OVER wd AS n_d,
          ROUND(CAST(CAST(SUM(CAST(pct_k AS DECIMAL(18,6))) OVER wd
            AS DECIMAL(18,6)) AS DOUBLE) / 3, 6) AS pct_d
        FROM k
        WINDOW wd AS (PARTITION BY s_nationkey ORDER BY mi
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      )
      SELECT n_name, mi,
        CAST(rev AS DOUBLE) AS rev,
        CAST(lo AS DOUBLE) AS range_low,
        CAST(hi AS DOUBLE) AS range_high,
        pct_k, pct_d,
        (pct_k > 80.0) AS overbought,
        (pct_k < 20.0) AS oversold
      FROM d JOIN nation ON s_nationkey = n_nationkey
      WHERE n_d = 3
      ORDER BY n_name, mi
    """.trim))

  def qs: Seq[Q] = Seq(
    winRsiMomentum, winSeasonalDecompose, winBollingerBands,
    winMacdCrossover, winStochasticOscillator,
    winTopkPerGroup, winRankFamily, winLagLead, winMovingRowsFrame,
    winRangeFrame, winCumulative, winFirstLastValue,
    winRankGlobalScalable, winRangeFrameScalable, winIgnoreNulls,
    winSessionizeBatch, winMovingMedian, winPercentOfTotal,
    winStreakLongest, winRunningDistinct, winCumeDist,
    winCumeDistScalable, winNthValue, winNtileBuckets, winNtileBucketsScalable,
    winEwmaDyadic, winParetoFront, winIntervalUnionLength,
    winMaxDrawdown, winRollingCorr, winCusumChangepoint,
    winPeakDetection, winDrawdownDuration, winKadaneBurst,
    winTheilSenTrend, winAutocorrDaily, winSeasonalityStrength,
    winHurstExponent)

  /** Hurst exponent of the daily revenue series by rescaled-range (R/S)
    * analysis (SURVEY §2 I-sept) — the LONG-memory diagnostic that
    * completes the short-memory trio (`win_autocorr_daily` lags 1–7,
    * `win_seasonality_strength` the weekly cycle): split the series
    * into non-overlapping blocks of 8/16/32/64/128 days, compute each
    * block's rescaled range R/S (range of the cumulative
    * mean-adjusted deviations over the block std), and fit
    * ln E[R/S] = H·ln n + c. H ≈ 0.5 = random walk (alert thresholds
    * hold), H → 1 = trending/persistent (z-score windows understate
    * risk), H < 0.5 = mean-reverting.
    *
    * Scale notes (100 TB): one fact-scale daily rollup; the block
    * machinery rides the calendar-bounded series × 5 block sizes, with
    * every window partitioned by (block size, block id). Determinism:
    * block sizes are powers of two so the block-mean division is a
    * lossless scalar; deviations at 6 dp, squared/cumulative terms at
    * 12 dp into DECIMAL sums; the OLS fit reuses the Heaps-law exact
    * moment recipe on the bounded 5-point table.
    */
  val winHurstExponent = Q(
    "win_hurst_exponent",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyRevenue(spark, dir)
        .withColumn("rn", row_number().over(Window.orderBy($"l_shipdate")))
        .select($"rn", $"rev")
      val sized = daily
        .withColumn("bs", explode(array(Seq(8, 16, 32, 64, 128).map(lit): _*)))
        .withColumn("g", expr("(rn - 1) div bs"))
      val wBlk = Window.partitionBy($"bs", $"g")
      val wCum = Window.partitionBy($"bs", $"g").orderBy($"rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = sized
        .withColumn("nb", count(lit(1)).over(wBlk))
        .where($"nb" === $"bs")
        // block mean: exact decimal sum over the block / a power of two —
        // the division is a lossless double scalar
        .withColumn("mb",
          sum($"rev".cast(DecimalType(38, 4))).over(wBlk).cast(DoubleType) / $"bs")
        .withColumn("dv", round($"rev".cast(DoubleType) - $"mb", 6))
        .withColumn("w",
          sum($"dv".cast(DecimalType(28, 6))).over(wCum).cast(DoubleType))
        .groupBy($"bs", $"g")
        .agg(
          (max($"w") - min($"w")).as("r"),
          sqrt(sum(round($"dv" * $"dv", 12).cast(DecimalType(38, 12)))
            .cast(DoubleType) / first($"bs")).as("sd"))
        .where($"sd" > 0.0)
        .select($"bs", round(log($"r" / $"sd"), 12).as("lnrs"))
      // 5-row frame with TWO consumers (the OLS fit and the declared
      // output join): the cut stops each consumer from re-running the
      // long post-exchange window chain (block windows + per-bs rollup)
      // — AQE stage reuse only dedupes up to the last exchange, and the
      // expensive windows here live ABOVE it (r13: 1.33 s → 1.22 s)
      val pts = graft.Checkpoints.cut(blocks.groupBy($"bs")
        .agg(count(lit(1)).as("n_blocks"),
          round(sum($"lnrs".cast(DecimalType(28, 12))).cast(DoubleType) /
            count(lit(1)), 12).as("y"))
        .select($"bs", $"n_blocks", round(log($"bs".cast(DoubleType)), 12).as("x"), $"y"))
      val fit = pts.agg(
        count(lit(1)).as("n"),
        sum($"x".cast(DecimalType(28, 12))).cast(DoubleType).as("sx"),
        sum($"y".cast(DecimalType(28, 12))).cast(DoubleType).as("sy"),
        sum(round($"x" * $"y", 12).cast(DecimalType(28, 12))).cast(DoubleType).as("sxy"),
        sum(round($"x" * $"x", 12).cast(DecimalType(28, 12))).cast(DoubleType).as("sxx"))
        .select(round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("hurst"))
      pts.crossJoin(broadcast(fit))
        .select($"bs".cast("long").as("block_size"), $"n_blocks",
          round($"y", 6).as("mean_ln_rs"), $"hurst")
        .orderBy($"block_size")
    },
    Some(s"""
      WITH daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY l_shipdate) AS rn, rev
        FROM (
          SELECT l_shipdate,
            ${OracleSql.revenue} AS rev
          FROM lineitem GROUP BY 1)
      ), sized AS (
        SELECT rn, rev, bs.v AS bs, (rn - 1) // bs.v AS g
        FROM daily, (VALUES (8), (16), (32), (64), (128)) bs(v)
      ), framed AS (
        SELECT bs, g, rn, rev,
          COUNT(*) OVER (PARTITION BY bs, g) AS nb,
          CAST(SUM(CAST(rev AS DECIMAL(38,4))) OVER (PARTITION BY bs, g)
            AS DOUBLE) / bs AS mb
        FROM sized
      ), devs AS (
        SELECT bs, g, rn, ROUND(CAST(rev AS DOUBLE) - mb, 6) AS dv
        FROM framed WHERE nb = bs
      ), walks AS (
        SELECT bs, g, dv,
          CAST(SUM(CAST(dv AS DECIMAL(28,6))) OVER (PARTITION BY bs, g
            ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS w
        FROM devs
      ), blocks AS (
        SELECT bs, ROUND(LN((MAX(w) - MIN(w)) / sd), 12) AS lnrs
        FROM (
          SELECT bs, g, w, dv,
            SQRT(CAST(SUM(CAST(ROUND(dv * dv, 12) AS DECIMAL(38,12)))
              OVER (PARTITION BY bs, g) AS DOUBLE) / bs) AS sd
          FROM walks)
        GROUP BY bs, g, sd
        HAVING sd > 0.0
      ), pts AS (
        SELECT bs, COUNT(*) AS n_blocks,
          ROUND(LN(CAST(bs AS DOUBLE)), 12) AS x,
          ROUND(CAST(SUM(CAST(lnrs AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 12) AS y
        FROM blocks GROUP BY bs
      ), fit AS (
        SELECT ROUND(
          (COUNT(*) * CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE)
            - CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
              * CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE))
          / (COUNT(*) * CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE)
            - CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
              * CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)), 6) AS hurst
        FROM pts
      )
      SELECT CAST(bs AS BIGINT) AS block_size, n_blocks,
        ROUND(y, 6) AS mean_ln_rs, hurst
      FROM pts, fit
      ORDER BY block_size
    """.trim))

  /** Seasonality strength of the daily revenue series (SURVEY §2
    * I-sept) — the STL-style decomposition number that tells the
    * anomaly family whether a weekly profile is worth modeling:
    * detrend with a centered 7-day moving average (full frames only),
    * average the detrended series per weekday into the seasonal
    * profile, and report strength = max(0, 1 − Var(resid)/Var(detr))
    * (Hyndman's seasonal-strength statistic: 1 = pure weekly cycle,
    * 0 = the profile explains nothing). Declared output: the 7-row
    * weekday profile with the strength and both variances on every
    * row. `win_autocorr_daily` DETECTS periodicity; this row MEASURES
    * how much of the variance it owns.
    *
    * Scale notes (100 TB): the daily rollup is the only fact-scale
    * stage; every window runs on the calendar-bounded series (~2.5k
    * rows). Weekday is day-epoch arithmetic (datediff % 7), not a
    * locale-dependent dayofweek. Determinism: deviations at 6 dp off
    * exact-decimal sums, MA sums in DECIMAL before one double
    * division, variance terms at 12 dp into DECIMAL moments.
    */
  val winSeasonalityStrength = Q(
    "win_seasonality_strength",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyRevenue(spark, dir)
      val m = daily.agg(count(lit(1)).as("n"),
        sum($"rev".cast(DecimalType(38, 4))).as("s"))
        .select(($"s".cast(DoubleType) / $"n").as("m"))
      val wMa = Window.orderBy($"l_shipdate").rowsBetween(-3, 3)
      val detr = daily.crossJoin(broadcast(m))
        .select($"l_shipdate", round($"rev".cast(DoubleType) - $"m", 6).as("dv"))
        .withColumn("ma",
          sum($"dv".cast(DecimalType(28, 6))).over(wMa).cast(DoubleType) / 7)
        .withColumn("nf", count(lit(1)).over(wMa))
        .where($"nf" === 7)
        .select($"l_shipdate",
          (datediff($"l_shipdate", lit("1992-01-01").cast("date")) % 7).as("wd"),
          round($"dv" - round($"ma", 6), 6).as("detr"))
      val seas = detr.groupBy($"wd")
        .agg(count(lit(1)).as("n_days"),
          round(sum($"detr".cast(DecimalType(28, 6))).cast(DoubleType) /
            count(lit(1)), 6).as("seasonal"))
      val resid = detr.join(broadcast(seas.select($"wd", $"seasonal")), "wd")
        .select($"detr", round($"detr" - $"seasonal", 6).as("resid"))
      val vars = resid.agg(
        count(lit(1)).as("n"),
        sum($"detr".cast(DecimalType(28, 6))).as("sd"),
        sum(round($"detr" * $"detr", 12).cast(DecimalType(38, 12))).as("sdd"),
        sum($"resid".cast(DecimalType(28, 6))).as("sr"),
        sum(round($"resid" * $"resid", 12).cast(DecimalType(38, 12))).as("srr"))
        .select(
          (($"sdd".cast(DoubleType) -
            $"sd".cast(DoubleType) * $"sd".cast(DoubleType) / $"n") / $"n").as("vd"),
          (($"srr".cast(DoubleType) -
            $"sr".cast(DoubleType) * $"sr".cast(DoubleType) / $"n") / $"n").as("vr"))
        .select(round($"vd", 6).as("var_detrended"), round($"vr", 6).as("var_residual"),
          round(greatest(lit(0.0), lit(1.0) - $"vr" / nullif($"vd", lit(0.0d))), 6)
            .as("strength"))
      seas.crossJoin(broadcast(vars)).orderBy($"wd")
    },
    Some(s"""
      WITH daily AS (
        SELECT l_shipdate,
          ${OracleSql.revenue} AS rev
        FROM lineitem GROUP BY 1
      ), m AS (
        SELECT CAST(SUM(CAST(rev AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS m
        FROM daily
      ), detr AS (
        SELECT l_shipdate,
          datediff('day', DATE '1992-01-01', l_shipdate) % 7 AS wd,
          ROUND(dv - ROUND(ma, 6), 6) AS detr
        FROM (
          SELECT l_shipdate, dv,
            CAST(SUM(CAST(dv AS DECIMAL(28,6))) OVER (ORDER BY l_shipdate
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7 AS ma,
            COUNT(*) OVER (ORDER BY l_shipdate
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nf
          FROM (SELECT l_shipdate, ROUND(CAST(rev AS DOUBLE) - m, 6) AS dv
                FROM daily, m))
        WHERE nf = 7
      ), seas AS (
        SELECT wd, COUNT(*) AS n_days,
          ROUND(CAST(SUM(CAST(detr AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
            AS seasonal
        FROM detr GROUP BY 1
      ), vars AS (
        SELECT
          ROUND(vd, 6) AS var_detrended, ROUND(vr, 6) AS var_residual,
          ROUND(GREATEST(0.0, 1.0 - vr / NULLIF(vd, 0.0)), 6) AS strength
        FROM (
          SELECT
            (CAST(SUM(CAST(ROUND(detr * detr, 12) AS DECIMAL(38,12))) AS DOUBLE)
              - CAST(SUM(CAST(detr AS DECIMAL(28,6))) AS DOUBLE)
                * CAST(SUM(CAST(detr AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)) / COUNT(*) AS vd,
            (CAST(SUM(CAST(ROUND(resid * resid, 12) AS DECIMAL(38,12))) AS DOUBLE)
              - CAST(SUM(CAST(resid AS DECIMAL(28,6))) AS DOUBLE)
                * CAST(SUM(CAST(resid AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)) / COUNT(*) AS vr
          FROM (
            SELECT d.detr, ROUND(d.detr - s.seasonal, 6) AS resid
            FROM detr d JOIN seas s USING (wd)))
      )
      SELECT wd, n_days, seasonal, var_detrended, var_residual, strength
      FROM seas, vars
      ORDER BY wd
    """.trim))

  /** Autocorrelation function of the daily revenue series at lags 1–7
    * (SURVEY §2 I-sept) — the periodicity diagnostic the trend/anomaly
    * family reads BEFORE choosing a window: EWMA and CUSUM assume
    * near-independent residuals, the seasonal-anomaly row assumes a
    * weekly cycle; ACF(1..7) is the measurement that says which is
    * true (high ACF(7) = weekly seasonality, high ACF(1) = momentum,
    * all ≈ 0 = white noise — alert thresholds can stay tight).
    * ACF_k = Σ(x_t−m)(x_{t+k}−m) / Σ(x_t−m)² on the row-sequence of
    * observed days.
    *
    * Scale notes (100 TB): one map-side-combinable daily rollup is the
    * only fact-scale stage; the series table is calendar-bounded
    * (~2.5k rows for 7 years), so the rn window and the lag pairing
    * run on a bounded frame. The k-offset pairing is an EQUI-join
    * (b.rn = a.rn + k after exploding k=1..7) — no theta join, no 7
    * window passes. Determinism: deviations round at 6 dp off the
    * exact-decimal daily sums, products at 12 dp into DECIMAL sums.
    */
  val winAutocorrDaily = Q(
    "win_autocorr_daily",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyRevenue(spark, dir)
      val m = daily.agg(
        count(lit(1)).as("n"),
        sum($"rev".cast(DecimalType(38, 4))).as("s"))
        .select($"n", ($"s".cast(DoubleType) / $"n").as("m"))
      val dev = daily.crossJoin(broadcast(m))
        .select($"l_shipdate", round($"rev".cast(DoubleType) - $"m", 6).as("dv"))
        .withColumn("rn", row_number().over(Window.orderBy($"l_shipdate")))
      val denom = dev.agg(
        sum(round($"dv" * $"dv", 12).cast(DecimalType(38, 12)))
          .cast(DoubleType).as("den"))
      val pairs = dev.select($"rn", $"dv")
        .withColumn("k", explode(sequence(lit(1L), lit(7L))))
        .select(($"rn" + $"k").as("rn2"), $"k", $"dv".as("dv1"))
        .join(dev.select($"rn".as("rn2"), $"dv".as("dv2")), "rn2")
      pairs.groupBy($"k")
        .agg(count(lit(1)).as("n_terms"),
          sum(round($"dv1" * $"dv2", 12).cast(DecimalType(38, 12)))
            .cast(DoubleType).as("num"))
        .crossJoin(broadcast(denom))
        .select($"k".as("lag"), $"n_terms",
          round($"num" / $"den", 6).as("acf"))
        .orderBy($"lag")
    },
    Some(s"""
      WITH daily AS (
        SELECT l_shipdate,
          ${OracleSql.revenue} AS rev
        FROM lineitem GROUP BY 1
      ), m AS (
        SELECT COUNT(*) AS n,
          CAST(SUM(CAST(rev AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS m
        FROM daily
      ), dev AS (
        SELECT l_shipdate, ROUND(CAST(rev AS DOUBLE) - m, 6) AS dv,
          ROW_NUMBER() OVER (ORDER BY l_shipdate) AS rn
        FROM daily, m
      ), denom AS (
        SELECT CAST(SUM(CAST(ROUND(dv * dv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS den
        FROM dev
      ), pairs AS (
        SELECT a.rn + k.range AS rn2, k.range AS k, a.dv AS dv1
        FROM dev a, range(1, 8) k
      )
      SELECT CAST(p.k AS BIGINT) AS lag, COUNT(*) AS n_terms,
        ROUND(CAST(SUM(CAST(ROUND(p.dv1 * b.dv2, 12) AS DECIMAL(38,12))) AS DOUBLE)
          / MIN(denom.den), 6) AS acf
      FROM pairs p
      JOIN (SELECT rn AS rn2, dv AS dv2 FROM dev) b USING (rn2), denom
      GROUP BY p.k
      ORDER BY lag
    """.trim))

  /** Theil–Sen robust trend per supplier nation (SURVEY §2 I-sept) —
    * the median of all pairwise month-over-month slopes of the monthly
    * revenue series, next to the OLS slope the same moments give. OLS
    * answers "what is the average drift?"; Theil–Sen answers "what is
    * the TYPICAL drift once the two crazy months are ignored?" — the
    * outlier-robust trend detector (breakdown point ~29%) a revenue /
    * volume monitor wants before alerting on a fitted slope a single
    * promo month can swing.
    *
    * Scale notes (100 TB): the only fact-scale stage is the monthly
    * rollup (map-side combinable, keyed on nation×month — bounded).
    * The pairwise self-join is quadratic ONLY in months-per-nation
    * (~7 years → ≤ 84 rows → ≤ 3.5k pairs per nation), partitioned by
    * nation so every window is per-key parallel, never global. The
    * median is the discrete lower order statistic of the 6 dp slope
    * list; OLS moments are exact decimals (month index is an exact
    * INT, so Σx·y stays decimal) cast once at the division.
    */
  val winTheilSenTrend = Q(
    "win_theil_sen_trend",
    (spark, dir) => {
      import spark.implicits._
      val monthly = nationMonthlyRevenue(spark, dir)
      val a = monthly.select($"s_nationkey", $"mi".as("mi1"), $"rev".as("r1"))
      val b = monthly.select($"s_nationkey", $"mi".as("mi2"), $"rev".as("r2"))
      val pairs = a.join(b, Seq("s_nationkey")).where($"mi2" > $"mi1")
        .select($"s_nationkey",
          round(($"r2" - $"r1").cast(DoubleType) / ($"mi2" - $"mi1"), 6).as("slope"))
      val wN = Window.partitionBy($"s_nationkey")
      val sen = pairs
        .withColumn("rn", row_number().over(
          Window.partitionBy($"s_nationkey").orderBy($"slope")))
        .withColumn("np", count(lit(1)).over(wN))
        .where($"rn" === expr("(np + 1) div 2"))
        .select($"s_nationkey", $"np".as("n_pairs"), $"slope".as("sen_slope"))
      val ols = monthly.groupBy($"s_nationkey").agg(
        count(lit(1)).as("n_months"),
        sum($"mi".cast(DecimalType(28, 4))).as("sx"),
        sum($"rev".cast(DecimalType(38, 4))).as("sy"),
        // mi narrowed to DECIMAL(9,0) (month index is 5 digits) so the
        // rev factor can keep DECIMAL(28,4) — 24 integer digits of
        // headroom for 100 TB monthly revenue — while 9+28 ≤ 38 keeps
        // the product exact decimal in BOTH engines (wider products
        // fall back to DOUBLE in some engines — a per-row float)
        sum(($"mi".cast(DecimalType(9, 0)) * $"rev".cast(DecimalType(28, 4)))
          .cast(DecimalType(38, 4))).as("sxy"),
        sum(($"mi" * $"mi").cast(DecimalType(28, 4))).as("sxx"))
        // scalar algebra on per-group DOUBLE casts of the exact decimal
        // moments: every product is one IEEE-754 op on identical inputs
        // in both engines (no decimal-width promotion rules in play)
        .select($"s_nationkey", $"n_months",
          round(
            ($"n_months" * $"sxy".cast(DoubleType) -
              $"sx".cast(DoubleType) * $"sy".cast(DoubleType)) /
            ($"n_months" * $"sxx".cast(DoubleType) -
              $"sx".cast(DoubleType) * $"sx".cast(DoubleType)), 6)
            .as("ols_slope"))
      ols.join(sen, "s_nationkey")
        .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
        .select($"n_name", $"n_months", $"n_pairs", $"sen_slope", $"ols_slope")
        .orderBy($"n_name")
    },
    Some(s"""
      WITH monthly AS (
        SELECT s_nationkey,
          year(l_shipdate) * 12 + month(l_shipdate) AS mi,
          ${OracleSql.revenue} AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
      ), pairs AS (
        SELECT a.s_nationkey,
          ROUND(CAST(b.rev - a.rev AS DOUBLE) / (b.mi - a.mi), 6) AS slope
        FROM monthly a JOIN monthly b
          ON a.s_nationkey = b.s_nationkey AND b.mi > a.mi
      ), sen AS (
        SELECT s_nationkey, CAST(np AS BIGINT) AS n_pairs, slope AS sen_slope
        FROM (
          SELECT s_nationkey, slope,
            ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY slope) AS rn,
            COUNT(*) OVER (PARTITION BY s_nationkey) AS np
          FROM pairs)
        WHERE rn = (np + 1) // 2
      ), ols AS (
        SELECT s_nationkey, COUNT(*) AS n_months,
          ROUND(
            (COUNT(*) * CAST(SUM(CAST(CAST(mi AS DECIMAL(9,0)) * CAST(rev AS DECIMAL(28,4)) AS DECIMAL(38,4))) AS DOUBLE)
              - CAST(SUM(CAST(mi AS DECIMAL(28,4))) AS DOUBLE)
                * CAST(SUM(CAST(rev AS DECIMAL(38,4))) AS DOUBLE))
            / (COUNT(*) * CAST(SUM(CAST(mi * mi AS DECIMAL(28,4))) AS DOUBLE)
              - CAST(SUM(CAST(mi AS DECIMAL(28,4))) AS DOUBLE)
                * CAST(SUM(CAST(mi AS DECIMAL(28,4))) AS DOUBLE)), 6)
            AS ols_slope
        FROM monthly GROUP BY 1
      )
      SELECT n_name, n_months, n_pairs, sen_slope, ols_slope
      FROM ols JOIN sen USING (s_nationkey)
      JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_name
    """.trim))

  /** Drawdown duration per customer (SURVEY §2 I-sext) — the
    * TIME-underwater companion to `win_max_drawdown`'s depth: risk
    * reads both how FAR below peak a series fell and for HOW LONG it
    * stayed there. Underwater runs (order value strictly below the
    * running peak) come from the rn-diff islands recipe; the declared
    * longest run per customer is chosen by (length desc, earliest
    * start) and carries its calendar-day span. Customers who never dip
    * report 0 — absence of drawdown is data, not a missing row.
    *
    * Scale notes: one shuffle on o_custkey; peak window, island
    * windows and the per-customer argmax all ride that partitioning.
    */
  val winDrawdownDuration = Q(
    "win_drawdown_duration",
    (spark, dir) => {
      import spark.implicits._
      val wSeq = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val base = Tables.orders(spark, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderkey",
          dec($"o_totalprice").as("price"))
        .withColumn("peak",
          max($"price").over(wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn_all", row_number().over(wSeq))
      val sizes = base.groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
        .where($"n_orders" >= 5)
      val uw = base.where($"price" < $"peak")
        .withColumn("rn_u", row_number().over(wSeq))
        .withColumn("grp", $"rn_all" - $"rn_u")
      val islands = uw.groupBy($"o_custkey", $"grp")
        .agg(
          count(lit(1)).as("run_orders"),
          min($"o_orderdate").as("run_start"),
          max($"o_orderdate").as("run_end"))
      val wPick = Window.partitionBy($"o_custkey")
        .orderBy($"run_orders".desc, $"run_start")
      val longest = islands
        .withColumn("rn", row_number().over(wPick))
        .where($"rn" === 1)
        .select($"o_custkey", $"run_orders",
          datediff($"run_end", $"run_start").as("run_days"))
      sizes
        .join(longest, Seq("o_custkey"), "left")
        .select($"o_custkey", $"n_orders",
          coalesce($"run_orders", lit(0L)).as("max_underwater_orders"),
          coalesce($"run_days", lit(0)).cast("long").as("max_underwater_days"))
        .orderBy($"o_custkey")
    },
    Some("""
      WITH base AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          MAX(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS rn_all
        FROM orders
      ), sizes AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM base
        GROUP BY 1 HAVING COUNT(*) >= 5
      ), uw AS (
        SELECT o_custkey, o_orderdate, rn_all,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS rn_u
        FROM base WHERE price < peak
      ), islands AS (
        SELECT o_custkey, rn_all - rn_u AS grp,
          COUNT(*) AS run_orders,
          MIN(o_orderdate) AS run_start,
          MAX(o_orderdate) AS run_end
        FROM uw GROUP BY 1, 2
      ), longest AS (
        SELECT o_custkey, run_orders,
          date_diff('day', run_start, run_end) AS run_days
        FROM (
          SELECT o_custkey, run_orders, run_start, run_end,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY run_orders DESC, run_start) AS rn
          FROM islands
        ) WHERE rn = 1
      )
      SELECT s.o_custkey, s.n_orders,
        COALESCE(run_orders, 0) AS max_underwater_orders,
        CAST(COALESCE(run_days, 0) AS BIGINT) AS max_underwater_days
      FROM sizes s LEFT JOIN longest l ON s.o_custkey = l.o_custkey
      ORDER BY s.o_custkey
    """.trim))

  /** Local-peak detection on the daily event series per type (SURVEY §2
    * I-sext) — the signal-processing primitive under alerting UIs:
    * strict local maxima flagged via lag/lead neighbors, with a
    * prominence proxy (height above the taller neighbor). Pure integer
    * arithmetic; the only fact-scale work is the (type, day) count.
    */
  val winPeakDetection = Q(
    "win_peak_detection",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyEventCounts(spark, dir)
      val w = Window.partitionBy($"event_type").orderBy($"d")
      daily
        .withColumn("prev", lag($"c", 1).over(w))
        .withColumn("nxt", lead($"c", 1).over(w))
        .where($"prev".isNotNull && $"nxt".isNotNull &&
          $"c" > $"prev" && $"c" > $"nxt")
        .select($"event_type", $"d".as("peak_day"), $"c",
          ($"c" - greatest($"prev", $"nxt")).as("prominence"))
        .orderBy($"event_type", $"peak_day")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events GROUP BY 1, 2
      ), nb AS (
        SELECT event_type, d, c,
          LAG(c, 1) OVER (PARTITION BY event_type ORDER BY d) AS prev,
          LEAD(c, 1) OVER (PARTITION BY event_type ORDER BY d) AS nxt
        FROM daily
      )
      SELECT event_type, d AS peak_day, c,
        CAST(c - GREATEST(prev, nxt) AS BIGINT) AS prominence
      FROM nb
      WHERE prev IS NOT NULL AND nxt IS NOT NULL AND c > prev AND c > nxt
      ORDER BY event_type, peak_day
    """.trim))

  /** Maximum-sum burst window per event type (SURVEY §2 I-sept) —
    * Kadane's max-subarray expressed as windows: the contiguous span
    * of days whose demeaned daily counts sum highest. The detector
    * the rest of the drift suite misses — z-scores flag single days,
    * CUSUM locates ONE level shift; Kadane finds the strongest
    * sustained burst of any length. Identity: the best burst ending
    * at day d is prefix(d) − min(0, min of earlier prefixes), so two
    * chained windows (cumsum + running-min) replace the quadratic
    * all-spans scan. Deviations round to 6 dp before a decimal-exact
    * cumsum, so the per-type argmax (earliest-end-day tiebreak) is
    * reproducible on any engine or partitioning.
    *
    * Scale notes: one fact-scale map-side-combinable (type, day)
    * count; both windows and the argmax ride the bounded daily table.
    */
  val winKadaneBurst = Q(
    "win_kadane_burst",
    (spark, dir) => {
      import spark.implicits._
      val wPrev = Window.partitionBy($"event_type").orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, -1)
      val zero = lit(0).cast(DecimalType(38, 6))
      val withBurst = dailyCusum(spark, dir, "s")
        .withColumn("floor_prev", least(coalesce(min($"s").over(wPrev), zero), zero))
        .withColumn("burst", $"s" - $"floor_prev")
      val wPick = Window.partitionBy($"event_type").orderBy($"burst".desc, $"d")
      withBurst
        .withColumn("rn", row_number().over(wPick))
        .where($"rn" === 1)
        .select($"event_type", $"n_days",
          $"d".as("burst_end_day"),
          round($"burst".cast(DoubleType), 6).as("peak_burst"),
          round($"mean_daily", 6).as("mean_daily"))
        .orderBy($"event_type")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events GROUP BY 1, 2
      ), base AS (
        SELECT event_type, d, c,
          CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE)
            / COUNT(*) OVER (PARTITION BY event_type) AS mean_daily,
          COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
      ), pre AS (
        SELECT event_type, d, mean_daily, n_days,
          SUM(CAST(ROUND(c - mean_daily, 6) AS DECIMAL(28,6)))
            OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM base
      ), bst AS (
        SELECT event_type, d, mean_daily, n_days,
          s - LEAST(COALESCE(MIN(s) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                CAST(0 AS DECIMAL(38,6))), CAST(0 AS DECIMAL(38,6))) AS burst
        FROM pre
      ), picked AS (
        SELECT event_type, n_days, d, burst, mean_daily,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY burst DESC, d) AS rn
        FROM bst
      )
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        d AS burst_end_day,
        ROUND(CAST(burst AS DOUBLE), 6) AS peak_burst,
        ROUND(mean_daily, 6) AS mean_daily
      FROM picked WHERE rn = 1
      ORDER BY event_type
    """.trim))
}
