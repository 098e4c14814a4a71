package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.1.D — aggregation operators.
  *
  * Scale notes: every query here is a hash aggregate with map-side partial
  * aggregation (partial_sum/partial_count before the shuffle), so the
  * shuffle carries one row per (partition × group), not per input row. The
  * group-key cardinalities are tiny-to-moderate (flags, priorities,
  * nations) — at 100 TB these plans shuffle kilobytes per partition.
  * Decimal sums are exact and order-independent, so partial aggregation
  * is safe (double sums would not be reproducible across partitionings).
  */
object Aggregations extends QueryModule {

  /** Flagship: TPC-H-Q1-style pricing summary. Validated bit-exact vs
    * DuckDB on sf0.01 (SURVEY.md §2.0).
    */
  val aggPricingSummary = Q(
    "agg_pricing_summary",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum(dec($"l_quantity")).as("sum_qty"),
          sum(dec($"l_extendedprice")).as("sum_base_price"),
          sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount"))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some(s"""
      SELECT
        l_returnflag,
        l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(${OracleSql.revenue} AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.trim))

  val aggMultiDistinct = Q(
    "agg_multi_distinct",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .orders(spark, dir)
        .groupBy($"o_orderpriority")
        .agg(
          countDistinct($"o_custkey").as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
        COUNT(DISTINCT o_custkey) AS n_custs,
        COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.trim))

  /** min/max/avg/stddev per group, all derived from exact decimal sums
    * (§2.0 rule 1): avg = sum/count as decimal; stddev from sum, sum of
    * squares, and count — the final double is cast to DECIMAL(18,6) so
    * last-ULP differences between engines cannot surface.
    */
  val aggStatsDecimal = Q(
    "agg_stats_decimal",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          min(dec($"l_quantity")).as("min_qty"),
          max(dec($"l_quantity")).as("max_qty"),
          sum(dec($"l_quantity")).as("sum_qty"),
          sum(dec($"l_quantity", 28, 4) * dec($"l_quantity", 28, 4)).as("sum_qty_sq"),
          count(lit(1)).as("n"))
        .select(
          $"l_returnflag",
          $"min_qty", $"max_qty",
          ($"sum_qty" / $"n").cast(DecimalType(18, 6)).as("avg_qty"),
          sqrt(
            ($"sum_qty_sq".cast(DoubleType) -
              $"sum_qty".cast(DoubleType) * $"sum_qty".cast(DoubleType) / $"n") /
              ($"n" - 1))
            .cast(DecimalType(18, 6)).as("stddev_qty"),
          $"n")
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        CAST(min_qty AS DOUBLE) AS min_qty,
        CAST(max_qty AS DOUBLE) AS max_qty,
        CAST(CAST(sum_qty / n AS DECIMAL(18,6)) AS DOUBLE) AS avg_qty,
        CAST(CAST(SQRT((CAST(sum_qty_sq AS DOUBLE)
                   - CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE) / n)
                  / (n - 1)) AS DECIMAL(18,6)) AS DOUBLE) AS stddev_qty,
        n
      FROM (
        SELECT l_returnflag,
          MIN(CAST(l_quantity AS DECIMAL(18,2))) AS min_qty,
          MAX(CAST(l_quantity AS DECIMAL(18,2))) AS max_qty,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
          SUM(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4))) AS sum_qty_sq,
          COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag
    """.trim))

  val aggRollup = Q(
    "agg_rollup",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
        .rollup($"n_name", $"c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          grouping($"n_name").as("g_nation"),
          grouping($"c_mktsegment").as("g_segment"))
        .orderBy($"n_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
    },
    Some("""
      SELECT n_name, c_mktsegment,
        COUNT(*) AS n_customers,
        CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
        CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)
      ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
    """.trim))

  val aggCube = Q(
    "agg_cube",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(
          sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(${OracleSql.revenue} AS DOUBLE) AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """.trim))

  val aggGroupingSets = Q(
    "agg_grouping_sets",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .groupingSets(
          Seq(Seq($"lang"), Seq($"source"), Seq.empty),
          $"lang", $"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"))
        .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
    },
    Some("""
      SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY GROUPING SETS ((lang), (source), ())
      ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST
    """.trim))

  val aggFiltered = Q(
    "agg_filtered",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .groupBy($"user_id")
        .agg(
          count(when($"event_type" === "click", 1)).as("n_clicks"),
          count(when($"event_type" === "purchase", 1)).as("n_purchases"),
          sum(when($"event_type" === "purchase", dec($"value", 18, 6))).as("purchase_value"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id,
        COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_value,
        COUNT(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id
    """.trim))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val aggPivot = Q(
    "agg_pivot",
    (spark, dir) => {
      import spark.implicits._
      val p = Tables
        .events(spark, dir)
        .groupBy($"user_id")
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
      p.select(
          $"user_id" +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id,
        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY user_id ORDER BY user_id
    """.trim))

  /** HLL++ sketch counts are engine-specific — no DuckDB oracle; the
    * AggSpec property test asserts each estimate is within the configured
    * rsd of the exact distinct count.
    */
  val aggApproxHll = Q(
    "agg_approx_hll",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id", 0.02).as("approx_users"),
          count(lit(1)).as("n_events"))
        .orderBy($"event_type")
    },
    None)

  /** Exact linear-interpolation percentiles (both engines implement
    * quantile_cont/percentile identically: v[lo] + (v[hi]-v[lo])*frac),
    * cast to DECIMAL(18,6) against last-ULP drift. For 100 TB use
    * approx_percentile (t-digest sketch) — exact percentile sorts each
    * group; declared here because the corpus groups are modest.
    */
  val aggPercentilesExact = Q(
    "agg_percentiles_exact",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("p"))
        .select(
          $"l_returnflag",
          element_at($"p", 1).cast(DecimalType(18, 6)).as("p25"),
          element_at($"p", 2).cast(DecimalType(18, 6)).as("p50"),
          element_at($"p", 3).cast(DecimalType(18, 6)).as("p75"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        CAST(CAST(quantile_cont(l_quantity, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS p25,
        CAST(CAST(quantile_cont(l_quantity, 0.50) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
        CAST(CAST(quantile_cont(l_quantity, 0.75) AS DECIMAL(18,6)) AS DOUBLE) AS p75
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Sketch-based percentiles (Greenwald–Khanna summaries) — the 100 TB
    * path for `agg_percentiles_exact`: a constant-size summary per group
    * merged associatively, instead of materializing and sorting every
    * group. Sketch estimates are engine-specific → no DuckDB oracle;
    * PercentileApproxSpec property-tests each estimate against the exact
    * percentiles (and at this accuracy the summary holds every sample for
    * bench-scale groups, so the estimate is exact and deterministic).
    */
  val aggPercentilesApprox = Q(
    "agg_percentiles_approx",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(expr("approx_percentile(l_quantity, array(0.25D, 0.5D, 0.75D), 100000)").as("p"))
        .select(
          $"l_returnflag",
          element_at($"p", 1).cast(DecimalType(18, 6)).as("p25"),
          element_at($"p", 2).cast(DecimalType(18, 6)).as("p50"),
          element_at($"p", 3).cast(DecimalType(18, 6)).as("p75"))
        .orderBy($"l_returnflag")
    },
    None)

  /** Deterministic string aggregation: collect_list order is
    * partition-dependent, so the declared form sorts the collected array
    * before joining — the ONLY reproducible listagg on a cluster (the
    * oracle mirrors with string_agg ... ORDER BY). */
  val aggStringAgg = Q(
    "agg_string_agg",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .nation(spark, dir)
        .groupBy($"n_regionkey")
        .agg(
          array_join(array_sort(collect_list($"n_name")), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy($"n_regionkey")
    },
    Some("""
      SELECT n_regionkey,
        STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
        COUNT(*) AS n
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """.trim))

  /** Correlation/covariance per group WITHOUT the engines' native
    * corr/covar aggregates: those accumulate co-moments in double with
    * engine- and partition-order-dependent rounding, so they can never
    * be bit-compared (or even reproduced across partitionings). Instead
    * the five raw moments are summed EXACTLY in decimal — partial
    * aggregation still applies, the shuffle carries 5 decimals per
    * group — and the co-moment algebra runs in double on identical
    * operands on both engines, making the result deterministic at any
    * cluster size. DECIMAL(18,6) guard on the final values per §2.0.
    */
  val aggCorrCovar = Q(
    "agg_corr_covar",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.types.DoubleType
      val x = $"l_quantity".cast(DoubleType)
      val y = $"l_extendedprice".cast(DoubleType)
      val m = Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast(DecimalType(28, 10))).as("sx"),
          sum(y.cast(DecimalType(28, 10))).as("sy"),
          sum((x * y).cast(DecimalType(38, 10))).as("sxy"),
          sum((x * x).cast(DecimalType(38, 10))).as("sxx"),
          sum((y * y).cast(DecimalType(38, 10))).as("syy"))
      val mx = $"sx".cast(DoubleType) / $"n"
      val my = $"sy".cast(DoubleType) / $"n"
      val covarPop = $"sxy".cast(DoubleType) / $"n" - mx * my
      val varxPop = $"sxx".cast(DoubleType) / $"n" - mx * mx
      val varyPop = $"syy".cast(DoubleType) / $"n" - my * my
      m.select(
          $"l_returnflag", $"n",
          covarPop.cast(DecimalType(18, 6)).as("covar_pop"),
          (covarPop * $"n" / ($"n" - 1)).cast(DecimalType(18, 6)).as("covar_samp"),
          (covarPop / sqrt(varxPop * varyPop)).cast(DecimalType(18, 6)).as("corr"))
        .orderBy($"l_returnflag")
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag,
          COUNT(*) AS n,
          SUM(CAST(l_quantity AS DECIMAL(28,10))) AS sx,
          SUM(CAST(l_extendedprice AS DECIMAL(28,10))) AS sy,
          SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) AS sxy,
          SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS sxx,
          SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10))) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        CAST(CAST(CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n)
             AS DECIMAL(18,6)) AS DOUBLE) AS covar_pop,
        CAST(CAST((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n)) * n / (n-1)
             AS DECIMAL(18,6)) AS DOUBLE) AS covar_samp,
        CAST(CAST((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n))
             / SQRT((CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) * (CAST(sx AS DOUBLE)/n))
                  * (CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n)))
             AS DECIMAL(18,6)) AS DOUBLE) AS corr
      FROM m ORDER BY l_returnflag
    """.trim))

  /** Fixed-width histogram (data profiling): bucket index is pure
    * integer arithmetic on the value, so it is reproducible on any
    * engine/partitioning — unlike equi-depth histograms, whose bucket
    * bounds depend on a sort. One shuffle keyed on (flag, bucket);
    * partial aggregation applies.
    */
  val aggHistogramFixed = Q(
    "agg_histogram_fixed",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .select($"l_returnflag",
          least(floor($"l_quantity" / 5).cast("long"), lit(9L)).as("bucket"))
        .groupBy($"l_returnflag", $"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"bucket")
    },
    Some("""
      SELECT l_returnflag,
        LEAST(CAST(FLOOR(l_quantity / 5) AS BIGINT), 9) AS bucket,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY 1, 2
      ORDER BY l_returnflag, bucket
    """.trim))

  /** Boolean aggregates (universal/existential quantifiers per group) +
    * count_if — the assertion-style data-quality checks a pipeline
    * gates on. */
  val aggBoolLogic = Q(
    "agg_bool_logic",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          bool_and($"l_discount" <= 0.1).as("all_discount_le_10"),
          bool_or($"l_quantity" >= 49).as("any_qty_ge_49"),
          count_if($"l_tax" > 0.05).as("n_high_tax"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        BOOL_AND(l_discount <= 0.1) AS all_discount_le_10,
        BOOL_OR(l_quantity >= 49) AS any_qty_ge_49,
        COUNT(*) FILTER (WHERE l_tax > 0.05) AS n_high_tax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Deterministic per-group mode (most frequent value, lowest-value
    * tiebreak): count per (group, value), then argmax via a windowed
    * row_number over the tiny per-group frequency table. Native `mode()`
    * aggregates leave ties unspecified — this formulation is the only
    * reproducible one, and the 100 TB one: the heavy aggregation is the
    * map-side-combinable (user, type) count; the window then partitions
    * over at most |distinct values| rows per group (≤5 here), so the
    * sort after the second shuffle is trivially bounded, never skewed.
    */
  val aggModeFreq = Q(
    "agg_mode_freq",
    (spark, dir) => {
      import spark.implicits._
      val counts = Tables
        .events(spark, dir)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("mode_count"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"mode_count".desc, $"event_type".asc)
      counts
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"user_id", $"event_type".as("mode_event"), $"mode_count")
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, event_type AS mode_event, mode_count
      FROM (
        SELECT user_id, event_type, COUNT(*) AS mode_count,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type
      ) WHERE rn = 1
      ORDER BY user_id
    """.trim))

  /** Weekly retention cohorts: users grouped by their first-activity
    * week, activity counted at each week offset — the standard
    * engagement matrix. Two shuffles total: a user-keyed min for the
    * cohort assignment and the final (cohort, offset) count. The
    * distinct (user, week) frame maps 1:1 to (user, cohort, offset)
    * (offset is a bijection of week given cohort), so a plain count is
    * provably a distinct-user count — no expensive count-distinct.
    */
  val aggRetentionCohorts = Q(
    "agg_retention_cohorts",
    (spark, dir) => {
      import spark.implicits._
      val weekly = Tables.events(spark, dir)
        .select($"user_id", date_trunc("week", $"ts").as("wk"))
        .distinct()
      val cohorts = weekly.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
      weekly
        .join(cohorts, "user_id")
        .select(
          $"cohort_week",
          (datediff($"wk", $"cohort_week") / 7).cast("long").as("week_offset"))
        .groupBy($"cohort_week", $"week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""
      WITH weekly AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      ), cohorts AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM weekly GROUP BY 1
      )
      SELECT c.cohort_week,
        CAST(date_diff('day', CAST(c.cohort_week AS DATE), CAST(w.wk AS DATE)) / 7 AS BIGINT) AS week_offset,
        COUNT(*) AS n_users
      FROM weekly w JOIN cohorts c USING (user_id)
      GROUP BY 1, 2
      ORDER BY 1, 2
    """.trim))

  /** Ordered conversion funnel (signup → click → purchase): each step
    * counts users whose step event occurs AT OR AFTER their previous
    * step's first event — the sequenced semantics, not mere presence.
    *
    * Scale notes: the ordered constraint needs the per-step min-ts
    * chain (two user-keyed hash joins over already-aggregated per-user
    * rows), not a single conditional-agg pass, which could only express
    * the unordered funnel. Every join side is one row per user.
    */
  val aggFunnelSteps = Q(
    "agg_funnel_steps",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
      val s1 = ev.where($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val s2 = ev.where($"event_type" === "click")
        .join(s1, "user_id").where($"ts" >= $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"))
      val s3 = ev.where($"event_type" === "purchase")
        .join(s2, "user_id").where($"ts" >= $"t2")
        .groupBy($"user_id").agg(min($"ts").as("t3"))
      def cnt(step: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_users")).select(lit(step).as("step"), $"n_users")
      cnt("1_signup", s1)
        .unionByName(cnt("2_click_after_signup", s2))
        .unionByName(cnt("3_purchase_after_click", s3))
        .orderBy($"step")
    },
    Some("""
      WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY 1
      ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
      ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
      )
      SELECT '1_signup' AS step, (SELECT COUNT(*) FROM s1) AS n_users
      UNION ALL
      SELECT '2_click_after_signup', (SELECT COUNT(*) FROM s2)
      UNION ALL
      SELECT '3_purchase_after_click', (SELECT COUNT(*) FROM s3)
      ORDER BY step
    """.trim))

  /** Deterministic argmax/argmin (`max_by`/`min_by` semantics): the
    * event id carrying each type's extreme value. Native `max_by`
    * leaves ties unspecified; `max(struct(value, event_id))` makes the
    * tiebreak explicit (larger id on max, smaller on min) and stays a
    * plain map-side-combinable aggregate — the reproducible form.
    */
  val aggMinmaxBy = Q(
    "agg_minmax_by",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy($"event_type")
        .agg(
          max(struct($"value", $"event_id")).as("mx"),
          min(struct($"value", $"event_id")).as("mn"))
        .select(
          $"event_type",
          $"mx.value".as("max_value"), $"mx.event_id".as("max_event_id"),
          $"mn.value".as("min_value"), $"mn.event_id".as("min_event_id"))
        .orderBy($"event_type")
    },
    Some("""
      WITH r AS (
        SELECT event_type, value, event_id,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id DESC) AS rmax,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value ASC, event_id ASC) AS rmin
        FROM events
      )
      SELECT event_type,
        MAX(CASE WHEN rmax = 1 THEN value END) AS max_value,
        MAX(CASE WHEN rmax = 1 THEN event_id END) AS max_event_id,
        MAX(CASE WHEN rmin = 1 THEN value END) AS min_value,
        MAX(CASE WHEN rmin = 1 THEN event_id END) AS min_event_id
      FROM r GROUP BY event_type ORDER BY event_type
    """.trim))

  /** Heavy hitters via count-min sketch: the 100 TB approximate-counting
    * path. One mergeable constant-size sketch is built over the whole
    * fact table (map-side combinable — a few KB per partition cross the
    * wire, vs a full hash shuffle for an exact per-key groupBy), the
    * 1-row result is broadcast, and the candidate key set probes it with
    * the engine's native `CmsEstimate` expression (functions/
    * CmsEstimate.scala). Counter updates commute, so for a fixed seed
    * the estimates are partitioning-independent — but they are sketch
    * values (est ≥ exact, est ≤ exact + eps·N w.p. ≥ 0.99), so no DuckDB
    * oracle; CmsSpec property-tests both bounds against exact counts.
    */
  val aggHeavyHittersCms = Q(
    "agg_heavy_hitters_cms",
    (spark, dir) => {
      import spark.implicits._
      val sk = Tables.lineitem(spark, dir)
        .agg(expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)").as("sk"))
      Tables.supplier(spark, dir)
        .select($"s_suppkey")
        .crossJoin(broadcast(sk))
        .select(
          $"s_suppkey",
          graft.functions.CmsFunctions.estimate($"sk", $"s_suppkey").as("est_lines"))
        .orderBy(desc("est_lines"), $"s_suppkey")
        .limit(20)
    },
    None)

  /** Skewness + excess kurtosis per event type from EXACT decimal power
    * sums (n, Σx, Σx², Σx³, Σx⁴), with the moment algebra run in double
    * on those exact sums and the surface rounded to 6 dp.
    *
    * Why not native `skewness`/`kurtosis`: they accumulate doubles in
    * partition order — not reproducible across partitionings at cluster
    * scale — and engines disagree on bias correction (population g1/g2
    * vs sample-corrected). Power sums in decimal are associative and
    * exact, so the shuffle-reduced value is bit-identical on any
    * partitioning, and both engines then run the SAME double algebra on
    * the SAME exact inputs (the `agg_corr_covar` / `etl_anomaly_zscore`
    * discipline, extended to 3rd/4th moments).
    *
    * Scale notes (100 TB): one map-side-combinable groupBy; the shuffle
    * carries five decimal sums per (partition × event_type). Σx⁴ of
    * values ≤ ~10³ needs ~28 integer digits at 10¹² rows — DECIMAL(38,8)
    * headroom is the stated bound, checked here not hoped for.
    */
  val aggSkewKurtMoments = Q(
    "agg_skew_kurt_moments",
    (spark, dir) => {
      import spark.implicits._
      val m = Tables.events(spark, dir)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 10))).as("sx"),
          sum(($"value" * $"value").cast(DecimalType(38, 8))).as("sxx"),
          sum(($"value" * $"value" * $"value").cast(DecimalType(38, 8))).as("sxxx"),
          sum(($"value" * $"value" * $"value" * $"value").cast(DecimalType(38, 8)))
            .as("sxxxx"))
      val n = $"n".cast(DoubleType)
      val mu = $"sx".cast(DoubleType) / n
      val m2 = $"sxx".cast(DoubleType) / n - mu * mu
      val m3 = $"sxxx".cast(DoubleType) / n - lit(3.0) * mu * ($"sxx".cast(DoubleType) / n) + lit(2.0) * mu * mu * mu
      val m4 = $"sxxxx".cast(DoubleType) / n - lit(4.0) * mu * ($"sxxx".cast(DoubleType) / n) +
        lit(6.0) * mu * mu * ($"sxx".cast(DoubleType) / n) - lit(3.0) * mu * mu * mu * mu
      m.select(
          $"event_type",
          $"n",
          mu.cast(DecimalType(18, 6)).as("mean"),
          (m3 / pow(m2, 1.5)).cast(DecimalType(18, 6)).as("skewness"),
          (m4 / (m2 * m2) - lit(3.0)).cast(DecimalType(18, 6)).as("excess_kurtosis"))
        .orderBy($"event_type")
    },
    Some("""
      WITH m AS (
        SELECT event_type, COUNT(*) AS n,
          SUM(CAST(value AS DECIMAL(28,10))) AS sx,
          SUM(CAST(value * value AS DECIMAL(38,8))) AS sxx,
          SUM(CAST(value * value * value AS DECIMAL(38,8))) AS sxxx,
          SUM(CAST(value * value * value * value AS DECIMAL(38,8))) AS sxxxx
        FROM events GROUP BY event_type
      ), alg AS (
        SELECT event_type, n,
          CAST(sx AS DOUBLE) / n AS mu,
          CAST(sxx AS DOUBLE) / n AS exx,
          CAST(sxxx AS DOUBLE) / n AS exxx,
          CAST(sxxxx AS DOUBLE) / n AS exxxx
        FROM m
      ), mom AS (
        SELECT event_type, n, mu,
          exx - mu * mu AS m2,
          exxx - 3.0 * mu * exx + 2.0 * mu * mu * mu AS m3,
          exxxx - 4.0 * mu * exxx + 6.0 * mu * mu * exx - 3.0 * mu * mu * mu * mu AS m4
        FROM alg
      )
      SELECT event_type, n,
        CAST(CAST(mu AS DECIMAL(18,6)) AS DOUBLE) AS mean,
        CAST(CAST(m3 / POW(m2, 1.5) AS DECIMAL(18,6)) AS DOUBLE) AS skewness,
        CAST(CAST(m4 / (m2 * m2) - 3.0 AS DECIMAL(18,6)) AS DOUBLE) AS excess_kurtosis
      FROM mom ORDER BY event_type
    """.trim))

  /** Exact weighted means per return flag: extended-price-weighted
    * discount and quantity-weighted price — the rate metric a plain
    * `avg` silently gets wrong (it averages the ratios, not the mass).
    * Numerator and denominator are exact decimal sums (one map-side-
    * combinable pass); only the final division runs in double, rounded
    * to 6 dp on both engines.
    */
  val aggWeightedAvg = Q(
    "agg_weighted_avg",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec($"l_extendedprice") * dec($"l_discount", 18, 6)).as("swd"),
          sum(dec($"l_extendedprice")).as("sw"),
          sum(dec($"l_extendedprice") * dec($"l_quantity")).as("swp"),
          sum(dec($"l_quantity")).as("sq"))
        .select(
          $"l_returnflag",
          $"n",
          ($"swd".cast(DoubleType) / $"sw".cast(DoubleType))
            .cast(DecimalType(18, 6)).as("wavg_discount"),
          ($"swp".cast(DoubleType) / $"sq".cast(DoubleType))
            .cast(DecimalType(18, 6)).as("wavg_price_by_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""
      WITH s AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,6))) AS swd,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sw,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS swp,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem GROUP BY l_returnflag
      )
      SELECT l_returnflag, n,
        CAST(CAST(CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS wavg_discount,
        CAST(CAST(CAST(swp AS DOUBLE) / CAST(sq AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS wavg_price_by_qty
      FROM s ORDER BY l_returnflag
    """.trim))

  /** Time-weighted average of the metric per user: each observation
    * weighted by the µs-exact duration until the NEXT event (zero-order
    * hold) — the correct mean for irregularly-sampled series, where a
    * plain `avg` overweights bursts. Σv·dt and Σdt are exact decimal/
    * long sums; only the final ratio runs in double (6dp surface).
    *
    * Scale notes (100 TB): the lead window and the aggregation key on
    * the SAME user_id — one exchange end-to-end; both sums are
    * map-side combinable after the window.
    */
  val aggTimeWeightedAvg = Q(
    "agg_time_weighted_avg",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"value",
          lead($"ts", 1).over(w).as("next_ts"))
        .withColumn("dt_us", expr("timestampdiff(MICROSECOND, ts, next_ts)"))
        .where($"dt_us".isNotNull)
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_intervals"),
          sum($"dt_us").as("span_us"),
          sum(dec($"value", 18, 6) * $"dt_us").as("svdt"))
        .select(
          $"user_id", $"n_intervals", $"span_us",
          ($"svdt".cast(DoubleType) / $"span_us".cast(DoubleType))
            .cast(DecimalType(18, 6)).as("time_weighted_avg"))
        .orderBy($"user_id")
    },
    Some("""
      WITH iv AS (
        SELECT user_id, value,
          CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
            - epoch_us(ts) AS BIGINT) AS dt_us
        FROM events
      ), s AS (
        SELECT user_id, COUNT(*) AS n_intervals,
          CAST(SUM(dt_us) AS BIGINT) AS span_us,
          SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS svdt
        FROM iv WHERE dt_us IS NOT NULL GROUP BY user_id
      )
      SELECT user_id, n_intervals, span_us,
        CAST(CAST(CAST(svdt AS DOUBLE) / CAST(span_us AS DOUBLE)
          AS DECIMAL(18,6)) AS DOUBLE) AS time_weighted_avg
      FROM s ORDER BY user_id
    """.trim))

  /** MERGEABLE distinct-count sketches (Apache DataSketches HLL):
    * per-event-type sketches of the user population, then the GLOBAL
    * distinct-user estimate derived by `hll_union_agg` over the stored
    * sketches — never re-reading the fact table. This is what
    * `approx_count_distinct` (`agg_approx_hll`) cannot do: its sketch
    * is consumed inside one aggregation; these sketches are first-class
    * binary state a warehouse keeps per partition/day and merges on
    * demand (the pre-aggregated rollup pattern).
    *
    * No oracle (DuckDB has no DataSketches-compatible format);
    * HllSketchSpec property-tests estimates within 5% of exact, merge ≡
    * direct-sketch, and partitioning-invariance (HLL register state is
    * max-based, hence order- and partitioning-independent).
    *
    * Scale notes (100 TB): each sketch is KBs regardless of input rows;
    * the shuffle carries one sketch per (partition × type) — the same
    * mergeable-state shape as `agg_heavy_hitters_cms`.
    */
  val aggHllSketchUnion = Q(
    "agg_hll_sketch_union",
    (spark, dir) => {
      import spark.implicits._
      val sk = Tables.events(spark, dir)
        .groupBy($"event_type")
        .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"))
      val per = sk.select($"event_type".as("scope"),
        hll_sketch_estimate($"sk").as("est_users"))
      val merged = sk
        .agg(hll_union_agg($"sk").as("u"))
        .select(lit("__ALL__").as("scope"), hll_sketch_estimate($"u").as("est_users"))
      per.unionByName(merged).orderBy($"scope")
    },
    None)

  /** Per-group OLS — `regr_slope` / `regr_intercept` / R² semantics —
    * from EXACT decimal moments (n, Σx, Σy, Σxy, Σx², Σy²), regressing
    * line-item revenue on quantity per return flag. Native `regr_*`
    * functions accumulate doubles in partition order (non-reproducible
    * at cluster scale); power sums in decimal are associative and
    * exact, and both engines then run the same double algebra on the
    * same inputs — the `agg_corr_covar` discipline extended to
    * regression. One map-side-combinable pass.
    */
  val aggRegressionMoments = Q(
    "agg_regression_moments",
    (spark, dir) => {
      import spark.implicits._
      val x = dec($"l_quantity", 18, 2)
      // y at scale 4 LOSSLESSLY (price·(1-disc) is exactly scale 2+2) so
      // every product below stays within 38 digits in BOTH engines
      // (DuckDB errors on decimal width overflow rather than adjusting)
      val y = (dec($"l_extendedprice", 18, 2) * dec(lit(1) - $"l_discount"))
        .cast(DecimalType(18, 4))
      val m = Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast(DecimalType(28, 4))).as("sx"),
          sum(y.cast(DecimalType(28, 4))).as("sy"),
          sum((x * y).cast(DecimalType(38, 6))).as("sxy"),
          sum((x * x).cast(DecimalType(38, 6))).as("sxx"),
          sum((y * y).cast(DecimalType(38, 8))).as("syy"))
      val n = $"n".cast(DoubleType)
      val sx = $"sx".cast(DoubleType); val sy = $"sy".cast(DoubleType)
      val sxy = $"sxy".cast(DoubleType); val sxx = $"sxx".cast(DoubleType)
      val syy = $"syy".cast(DoubleType)
      val covn = sxy - sx * sy / n
      val varxn = sxx - sx * sx / n
      val varyn = syy - sy * sy / n
      val slope = covn / varxn
      m.select(
          $"l_returnflag", $"n",
          slope.cast(DecimalType(18, 6)).as("slope"),
          ((sy - slope * sx) / n).cast(DecimalType(18, 6)).as("intercept"),
          (covn * covn / (varxn * varyn)).cast(DecimalType(18, 6)).as("r2"))
        .orderBy($"l_returnflag")
    },
    Some(s"""
      WITH src AS (
        -- operands widened to 19 digits: DuckDB multiplies DECIMAL(18)s
        -- in int64 and overflows at runtime; 19 forces int128 internals
        -- (the VALUES are identical to Spark's 18-digit operands)
        SELECT l_returnflag,
          CAST(l_quantity AS DECIMAL(19,2)) AS x,
          CAST(${OracleSql.netPrice} AS DECIMAL(19,4)) AS y
        FROM lineitem
      ), m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(CAST(x AS DECIMAL(28,4))) AS sx,
          SUM(CAST(y AS DECIMAL(28,4))) AS sy,
          SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
          SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
          SUM(CAST(y * y AS DECIMAL(38,8))) AS syy
        FROM src GROUP BY l_returnflag
      ), alg AS (
        SELECT l_returnflag, n,
          CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
          CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
          CAST(syy AS DOUBLE) AS syy
        FROM m
      ), fit AS (
        SELECT l_returnflag, n,
          (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
          sx, sy, sxy, sxx, syy
        FROM alg
      )
      SELECT l_returnflag, n,
        CAST(CAST(slope AS DECIMAL(18,6)) AS DOUBLE) AS slope,
        CAST(CAST((sy - slope * sx) / n AS DECIMAL(18,6)) AS DOUBLE) AS intercept,
        CAST(CAST((sxy - sx * sy / n) * (sxy - sx * sy / n)
          / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS DECIMAL(18,6)) AS DOUBLE) AS r2
      FROM fit ORDER BY l_returnflag
    """.trim))

  /** Event-type TRANSITION MATRIX — the user-journey Markov view the
    * funnel/retention/streak rows don't cover: per-user consecutive
    * event pairs (lag over the user timeline), counted per
    * (from_type, to_type) with each cell's share of its from-row —
    * i.e. the empirical transition probability P(to | from). The input
    * to journey mining, next-action prediction baselines, and
    * anomaly-flow detection.
    *
    * Scale notes (100 TB): one user_id shuffle for the lag (the same
    * exchange every per-user window shares), then a map-side-combinable
    * count on a |types|² ≤ tiny key space; the share join is against a
    * broadcast-sized per-from rollup.
    */
  val aggTransitionMatrix = Q(
    "agg_transition_matrix",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("from_type", lag($"event_type", 1).over(w))
        .where($"from_type".isNotNull)
      val cells = pairs
        .groupBy($"from_type", $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTotals = cells.groupBy($"from_type").agg(sum($"n").as("from_n"))
      cells
        .join(broadcast(fromTotals), "from_type")
        .select(
          $"from_type", $"to_type", $"n",
          ($"n".cast(DoubleType) / $"from_n")
            .cast(DecimalType(18, 6)).as("p_transition"))
        .orderBy($"from_type", $"to_type")
    },
    Some("""
      WITH pairs AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
          event_type AS to_type
        FROM events
      ), cells AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
      )
      SELECT from_type, to_type, n,
        CAST(CAST(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)
          AS DECIMAL(18,6)) AS DOUBLE) AS p_transition
      FROM cells
      ORDER BY from_type, to_type
    """.trim))

  /** EXACT distinct counting via Spark 4 bitmap aggregates — the
    * middle ground `agg_multi_distinct` (expand-based exact) and
    * `agg_approx_hll` (±rsd sketch) leave open: bitmap partial states
    * are exact AND mergeable, so unlike COUNT(DISTINCT) the
    * aggregation is map-side combinable with bounded state (one 4 KB
    * bitmap per 32768-value key bucket). The query deliberately
    * splits the input in two halves, builds per-half bitmaps, and
    * OR-merges them (`bitmap_or_agg`) before counting — proving the
    * incremental/merge path a 1000-executor rollup (or a streaming
    * backfill union) would take.
    *
    * Scale notes (100 TB): shuffle carries (group × bucket) bitmaps,
    * bounded by the distinct-key domain / 32768 per group, not by row
    * count; each merge level is associative. COUNT(DISTINCT) on the
    * same plan must shuffle every distinct (group, key) pair.
    */
  val aggBitmapDistinct = Q(
    "agg_bitmap_distinct",
    (spark, dir) => {
      import spark.implicits._
      Tables.orders(spark, dir)
        .select($"o_orderpriority",
          ($"o_orderkey" % 2).as("half"),
          expr("bitmap_bucket_number(o_custkey)").as("bkt"),
          expr("bitmap_bit_position(o_custkey)").as("pos"))
        .groupBy($"o_orderpriority", $"bkt", $"half")
        .agg(expr("bitmap_construct_agg(pos)").as("bm_half"))
        .groupBy($"o_orderpriority", $"bkt")
        .agg(expr("bitmap_or_agg(bm_half)").as("bm"))
        .groupBy($"o_orderpriority")
        .agg(sum(expr("bitmap_count(bm)")).as("n_cust"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.trim))

  /** OHLC time-series DOWNSAMPLING — the bar-chart/telemetry rollup:
    * per (event_type, day) the Open (first value by time), High, Low,
    * Close (last value by time). Open/close use `min_by`/`max_by`
    * with a (ts, event_id) struct ordering key, so ties in ts cannot
    * make the bar engine-dependent. DuckDB lacks struct-keyed
    * arg_min, so the oracle derives first/last via tie-broken
    * first_value/last_value windows — same rows, different route.
    *
    * Scale notes (100 TB): one map-side-combinable hash agg; min_by's
    * partial state is a single (value, key) pair per group per
    * partition — downsampling 100 TB of ticks emits (types × days)
    * rows, never sorting the fact.
    */
  val aggOhlcDownsample = Q(
    "agg_ohlc_downsample",
    (spark, dir) => {
      import spark.implicits._
      val ordKey = struct($"ts", $"event_id")
      Tables.events(spark, dir)
        .select($"event_type", to_date($"ts").as("day"), $"ts", $"event_id",
          dec($"value", 18, 6).as("v"))
        .groupBy($"event_type", $"day")
        .agg(
          min_by($"v", ordKey).cast(DoubleType).as("open"),
          max($"v").cast(DoubleType).as("high"),
          min($"v").cast(DoubleType).as("low"),
          max_by($"v", ordKey).cast(DoubleType).as("close"),
          count(lit(1)).as("n_ticks"))
        .orderBy($"event_type", $"day")
    },
    Some("""
      WITH t AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(value AS DECIMAL(18,6)) AS v,
          first_value(CAST(value AS DECIMAL(18,6))) OVER w AS open_v,
          last_value(CAST(value AS DECIMAL(18,6))) OVER w AS close_v
        FROM events
        WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      )
      SELECT event_type, day,
        CAST(MIN(open_v) AS DOUBLE) AS open,
        CAST(MAX(v) AS DOUBLE) AS high,
        CAST(MIN(v) AS DOUBLE) AS low,
        CAST(MIN(close_v) AS DOUBLE) AS close,
        COUNT(*) AS n_ticks
      FROM t
      GROUP BY event_type, day
      ORDER BY event_type, day
    """.trim))

  /** RFM customer segmentation — the recency/frequency/monetary
    * scoring every CRM rollup starts from: per-customer aggregates
    * (days since last order vs the fixed anchor 1998-12-31; order
    * count; exact decimal spend) bucketed by fixed business
    * thresholds into 2×2×2 segments, output = per-segment customer
    * count + spend. Fixed thresholds (not quantiles) keep the
    * segmentation layout-independent; the quantile form would reuse
    * `win_cume_dist_scalable`'s frequency-table trick.
    *
    * Scale notes (100 TB): two chained hash aggs — per-customer then
    * per-segment — both map-side combinable; nothing sorts or windows
    * the fact table.
    */
  val aggRfmSegments = Q(
    "agg_rfm_segments",
    (spark, dir) => {
      import spark.implicits._
      Tables.orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(
          datediff(lit("1998-12-31"), max($"o_orderdate")).cast("long")
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(dec($"o_totalprice")).as("monetary"))
        .select(
          when($"recency_days" <= 365, "active").otherwise("lapsed")
            .as("r_seg"),
          when($"frequency" >= 10, "frequent").otherwise("occasional")
            .as("f_seg"),
          when($"monetary" >= 1000000, "big").otherwise("small")
            .as("m_seg"),
          $"monetary")
        .groupBy($"r_seg", $"f_seg", $"m_seg")
        .agg(count(lit(1)).as("n_customers"),
          sum($"monetary").cast(DoubleType).as("seg_spend"))
        .orderBy($"r_seg", $"f_seg", $"m_seg")
    },
    Some("""
      WITH rfm AS (
        SELECT o_custkey,
          date_diff('day', MAX(o_orderdate), TIMESTAMP '1998-12-31') AS recency_days,
          COUNT(*) AS frequency,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY o_custkey
      )
      SELECT
        CASE WHEN recency_days <= 365 THEN 'active' ELSE 'lapsed' END AS r_seg,
        CASE WHEN frequency >= 10 THEN 'frequent' ELSE 'occasional' END AS f_seg,
        CASE WHEN monetary >= 1000000 THEN 'big' ELSE 'small' END AS m_seg,
        COUNT(*) AS n_customers,
        CAST(SUM(monetary) AS DOUBLE) AS seg_spend
      FROM rfm
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3
    """.trim))

  /** Event-SEQUENCE pattern matching (the MATCH_RECOGNIZE shape,
    * composed from primitives): each user's time-ordered journey is
    * folded to a compact initial-letter string (tie-broken struct
    * sort, so the string is total and engine-reproducible), then
    * regex-classified — "error then later purchase", "journey starts
    * with signup", "view immediately before purchase". The
    * behavioral-cohort counting that funnel (fixed step order) and
    * transition-matrix (adjacent pairs only) rows can't express:
    * regexes see the WHOLE ordered journey.
    *
    * Scale notes (100 TB): one shuffle on user_id; per-user state is
    * the journey string, bounded by per-user activity (not corpus
    * size); the regex pass is a map over one row per user.
    */
  val aggJourneyPattern = Q(
    "agg_journey_pattern",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy($"user_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct($"ts", $"event_id",
              substring($"event_type", 1, 1).as("c")))),
            x => x.getField("c")), "").as("journey"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when($"journey".rlike("e.*p"), 1L).otherwise(0L))
            .as("error_then_purchase"),
          sum(when($"journey".rlike("^s"), 1L).otherwise(0L))
            .as("signup_first"),
          sum(when($"journey".rlike("vp"), 1L).otherwise(0L))
            .as("view_then_buy_adjacent"))
        .orderBy($"n_users")
    },
    Some("""
      WITH j AS (
        SELECT user_id,
          string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS journey
        FROM events GROUP BY user_id
      )
      SELECT COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN regexp_matches(journey, 'e.*p') THEN 1 ELSE 0 END) AS BIGINT) AS error_then_purchase,
        CAST(SUM(CASE WHEN regexp_matches(journey, '^s') THEN 1 ELSE 0 END) AS BIGINT) AS signup_first,
        CAST(SUM(CASE WHEN regexp_matches(journey, 'vp') THEN 1 ELSE 0 END) AS BIGINT) AS view_then_buy_adjacent
      FROM j
      ORDER BY n_users
    """.trim))

  /** EQUI-DEPTH histogram (quantile-bucketed — `agg_histogram_fixed`
    * is equi-WIDTH): quartile boundaries computed by exact percentile
    * (the engine-matching recipe proven by `agg_percentiles_exact`:
    * interpolated midpoints of 2-decimal values are exact at scale 6,
    * so both engines produce identical boundary decimals), broadcast
    * back as a 1-row frame, each order bucketed by <= comparisons —
    * the optimizer/CBO histogram build, and the data-profiling
    * "quartile summary" every EDA pass starts with.
    *
    * Scale notes (100 TB): exact global percentile needs a sort at
    * scale (the declared-exact semantic); the production path at
    * 100 TB swaps in approx_percentile's mergeable sketch with the
    * same downstream plan — boundary frame broadcast, one
    * map-side-combinable bucket agg, no row ever carries more than
    * its bucket id.
    */
  val aggHistogramEquidepth = Q(
    "agg_histogram_equidepth",
    (spark, dir) => {
      import spark.implicits._
      val bounds = Tables.orders(spark, dir)
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("p"))
        .select(
          element_at($"p", 1).cast(DecimalType(18, 6)).as("q1"),
          element_at($"p", 2).cast(DecimalType(18, 6)).as("q2"),
          element_at($"p", 3).cast(DecimalType(18, 6)).as("q3"))
      Tables.orders(spark, dir)
        .select(dec($"o_totalprice").as("v"))
        .crossJoin(broadcast(bounds))
        .select(
          when($"v" <= $"q1", 1L).when($"v" <= $"q2", 2L)
            .when($"v" <= $"q3", 3L).otherwise(4L).as("bucket"), $"v")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
          min($"v").cast(DoubleType).as("lo"),
          max($"v").cast(DoubleType).as("hi"))
        .orderBy($"bucket")
    },
    Some("""
      WITH bounds AS (
        SELECT
          CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,6)) AS q1,
          CAST(quantile_cont(o_totalprice, 0.50) AS DECIMAL(18,6)) AS q2,
          CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(18,6)) AS q3
        FROM orders
      )
      SELECT
        CAST(CASE WHEN v <= q1 THEN 1 WHEN v <= q2 THEN 2
             WHEN v <= q3 THEN 3 ELSE 4 END AS BIGINT) AS bucket,
        COUNT(*) AS n,
        CAST(MIN(v) AS DOUBLE) AS lo,
        CAST(MAX(v) AS DOUBLE) AS hi
      FROM (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders)
      CROSS JOIN bounds
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** GINI COEFFICIENT of per-source volume concentration within each
    * language — the corpus-balance audit a training-data pipeline runs
    * before mixing sources (G=0: every source contributes equally;
    * G→1: one source dominates — reweight or cap before training).
    * Uses the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over sources
    * sorted ascending by volume, with a deterministic source-name
    * tiebreak so equal-volume ranks are total. All moments are exact
    * BIGINT sums; doubles appear only in the two final divisions —
    * identical operand-for-operand on both engines.
    *
    * Scale notes (100 TB): the ranked table is (lang × source)-sized —
    * bounded by the label domains, independent of corpus row count —
    * so the rank window is over a bounded table; the corpus itself is
    * touched by ONE map-side-combinable sum.
    */
  val aggGiniConcentration = Q(
    "agg_gini_concentration",
    (spark, dir) => {
      import spark.implicits._
      val x = Tables.documents(spark, dir)
        .groupBy($"lang", $"source")
        .agg(sum($"n_chars").as("chars"))
      val w = Window.partitionBy($"lang").orderBy($"chars", $"source")
      x.withColumn("i", row_number().over(w).cast("long"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_sources"),
          sum($"chars").as("total_chars"),
          sum($"i" * $"chars").as("rank_weighted"))
        .select($"lang", $"n_sources", $"total_chars",
          (lit(2.0) * $"rank_weighted".cast(DoubleType)
            / ($"n_sources" * $"total_chars").cast(DoubleType)
            - ($"n_sources" + lit(1L)).cast(DoubleType)
              / $"n_sources".cast(DoubleType)).as("gini"))
        .orderBy($"lang")
    },
    Some("""
      WITH x AS (
        SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1, 2
      ), r AS (
        SELECT lang, chars,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY chars, source) AS i
        FROM x
      ), g AS (
        SELECT lang, COUNT(*) AS n_sources,
          CAST(SUM(chars) AS BIGINT) AS total_chars,
          CAST(SUM(i * chars) AS BIGINT) AS rank_weighted
        FROM r GROUP BY lang
      )
      SELECT lang, n_sources, total_chars,
        2.0 * CAST(rank_weighted AS DOUBLE)
          / CAST(n_sources * total_chars AS DOUBLE)
        - CAST(n_sources + 1 AS DOUBLE) / CAST(n_sources AS DOUBLE) AS gini
      FROM g ORDER BY lang
    """.trim))

  /** Two-sample KOLMOGOROV–SMIRNOV distance (binned) between the
    * `value` distributions of click vs view events — the standard
    * nonparametric "did the distribution shift?" test behind drift
    * monitors and A/B sanity checks. Values bin to integer units
    * (floor), the per-bin frequency table's cumulative counts give both
    * ECDFs, and D = max |F₁ − F₂| over bins, with the smallest
    * achieving bin reported as the shift location.
    *
    * Scale notes (100 TB): the ONLY fact-scale work is one
    * map-side-combinable (type, bin) count; the window that builds the
    * ECDFs orders the BIN table (bounded by value range — hundreds of
    * rows regardless of corpus size), the exact freq-table trick of
    * `win_rank_global_scalable`. ECDF fractions divide exact BIGINTs
    * by exact BIGINTs — every double is bit-identical cross-engine,
    * and D is a max (comparison, not accumulation), so no float-order
    * hazard exists anywhere.
    */
  val aggKsBinned = Q(
    "agg_ks_binned",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .where($"event_type".isin("click", "view"))
        .select($"event_type", floor($"value").as("bin"))
      val freq = ev.groupBy($"bin").agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
      val wCum = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, 0)
      val wTot = Window.partitionBy()
      val ecdf = freq
        .withColumn("f1", sum($"c1").over(wCum).cast(DoubleType) / sum($"c1").over(wTot))
        .withColumn("f2", sum($"c2").over(wCum).cast(DoubleType) / sum($"c2").over(wTot))
        .withColumn("d", abs($"f1" - $"f2"))
      ecdf.withColumn("dmax", max($"d").over(wTot))
        .agg(
          round(max($"d"), 9).as("ks_d"),
          min(when($"d" === $"dmax", $"bin")).as("argmax_bin"),
          sum($"c1").as("n_click"),
          sum($"c2").as("n_view"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bin
        FROM events WHERE event_type IN ('click', 'view')
      ), freq AS (
        SELECT bin,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM ev GROUP BY bin
      ), ecdf AS (
        SELECT bin,
          CAST(CAST(SUM(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
            / CAST(SUM(c1) OVER () AS BIGINT) AS f1,
          CAST(CAST(SUM(c2) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
            / CAST(SUM(c2) OVER () AS BIGINT) AS f2,
          c1, c2
        FROM freq
      ), d AS (
        SELECT bin, ABS(f1 - f2) AS d, c1, c2 FROM ecdf
      )
      SELECT ROUND(MAX(d), 9) AS ks_d,
        MIN(CASE WHEN d = (SELECT MAX(d) FROM d) THEN bin END) AS argmax_bin,
        CAST(SUM(c1) AS BIGINT) AS n_click,
        CAST(SUM(c2) AS BIGINT) AS n_view
      FROM d
    """.trim))

  /** CRAMÉR'S V association audit between two categorical columns
    * (event type × day-of-week) — the "are these independent?" check a
    * feature platform runs before trusting a segmentation: χ² over the
    * contingency table against independence expectations, normalized to
    * [0,1] by n·(min(r,c)−1). Day-of-week derives from epoch-day mod 7
    * (identical integer arithmetic on both engines — engine-native
    * DOW functions disagree on week start).
    *
    * Scale notes (100 TB): one map-side-combinable (type, dow) count is
    * the only fact-scale work; the χ² algebra runs on the r×c cell
    * table (35 rows here, bounded by category cardinalities).
    * Expectations are exact-BIGINT ratios in double, each χ² term
    * rounds to 9 dp before an exact decimal sum.
    */
  val aggCramersV = Q(
    "agg_cramers_v",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"event_type",
          (datediff($"ts".cast("date"), lit("1970-01-01").cast("date")) % 7).as("dow"))
      val cells = ev.groupBy($"event_type", $"dow").agg(count(lit(1)).as("nij"))
      val wr = Window.partitionBy($"event_type")
      val wc = Window.partitionBy($"dow")
      val wt = Window.partitionBy()
      cells
        .withColumn("ri", sum($"nij").over(wr))
        .withColumn("cj", sum($"nij").over(wc))
        .withColumn("n", sum($"nij").over(wt))
        .withColumn("eij", $"ri".cast(DoubleType) * $"cj" / $"n")
        .withColumn("term", round(($"nij" - $"eij") * ($"nij" - $"eij") / $"eij", 9))
        .agg(
          max($"n").as("n_events"),
          countDistinct($"event_type").as("n_types"),
          countDistinct($"dow").as("n_dows"),
          round(sum($"term".cast(DecimalType(28, 9))).cast(DoubleType), 6).as("chi2"))
        .select($"n_events", $"n_types", $"n_dows", $"chi2",
          // NULLIF guards the degenerate single-category table (rows*cols
          // with min dimension 1 → denominator 0): both engines then yield
          // NULL identically instead of Infinity-vs-error divergence.
          round(sqrt($"chi2" /
            nullif($"n_events" * (least($"n_types", $"n_dows") - 1), lit(0))), 6)
            .as("cramers_v"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow
        FROM events
      ), cells AS (
        SELECT event_type, dow, COUNT(*) AS nij FROM ev GROUP BY 1, 2
      ), tot AS (
        SELECT event_type, dow, nij,
          CAST(SUM(nij) OVER (PARTITION BY event_type) AS BIGINT) AS ri,
          CAST(SUM(nij) OVER (PARTITION BY dow) AS BIGINT) AS cj,
          CAST(SUM(nij) OVER () AS BIGINT) AS n
        FROM cells
      ), terms AS (
        SELECT n, event_type, dow,
          ROUND((nij - CAST(ri AS DOUBLE) * cj / n)
              * (nij - CAST(ri AS DOUBLE) * cj / n)
              / (CAST(ri AS DOUBLE) * cj / n), 9) AS term
        FROM tot
      ), s AS (
        SELECT MAX(n) AS n_events,
          COUNT(DISTINCT event_type) AS n_types,
          COUNT(DISTINCT dow) AS n_dows,
          ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2
        FROM terms
      )
      SELECT n_events, n_types, n_dows, chi2,
        ROUND(SQRT(chi2 / NULLIF(n_events * (LEAST(n_types, n_dows) - 1), 0)), 6) AS cramers_v
      FROM s
    """.trim))

  /** Mutual information between event type and day-of-week (SURVEY §2
    * I-sext) — the information-theoretic companion to `agg_cramers_v`:
    * χ² asks "are they independent?", MI answers "how many bits does one
    * variable tell you about the other" (the feature-selection number).
    *
    * Scale notes: the ONLY fact-scale work is the (type, dow) cell count
    * — map-side combinable, shuffling r×c rows per partition. Marginals,
    * entropies and the MI sum all derive from that bounded cell table via
    * broadcast joins, so the plan at 100 TB is one aggregation pass plus
    * kilobytes of driver-free tiny-frame algebra. Each p·log2 term is
    * rounded to 12 dp and summed as DECIMAL so the result is independent
    * of partitioning and aggregation order (the PSI/entropy recipe).
    */
  val aggMutualInformation = Q(
    "agg_mutual_information",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"event_type",
          (datediff($"ts".cast("date"), lit("1970-01-01").cast("date")) % 7).as("dow"))
      // the ONE fact-scale aggregation, checkpointed: marginals, entropies
      // and the MI sum all branch from this bounded r×c table, and without
      // the cut each branch would re-derive it from its own fact scan
      // (PlanSpec asserts a single events scan). repartition(1), not
      // coalesce(1): an explicit exchange keeps the upstream aggregation
      // parallel instead of collapsing the pipeline into one task.
      val cells = ev.groupBy($"event_type", $"dow").agg(count(lit(1)).as("nij"))
        .repartition(1)
        .transform(graft.Checkpoints.cut)
      val margX = cells.groupBy($"event_type").agg(sum($"nij").as("ri"))
      val margY = cells.groupBy($"dow").agg(sum($"nij").as("cj"))
      val tot = cells.agg(sum($"nij").as("n"))
      def entropy(marg: org.apache.spark.sql.DataFrame, cnt: String, out: String) =
        marg.crossJoin(broadcast(tot))
          .select(
            round((col(cnt).cast(DoubleType) / $"n") *
              log2($"n".cast(DoubleType) / col(cnt)), 12)
              .cast(DecimalType(28, 12)).as("term"))
          .agg(sum($"term").as(out))
      val hx = entropy(margX, "ri", "hx")
      val hy = entropy(margY, "cj", "hy")
      val mi = cells
        .join(broadcast(margX), "event_type")
        .join(broadcast(margY), "dow")
        .crossJoin(broadcast(tot))
        .select(
          round(($"nij".cast(DoubleType) / $"n") *
            log2(($"nij".cast(DoubleType) * $"n") / ($"ri".cast(DoubleType) * $"cj")), 12)
            .cast(DecimalType(28, 12)).as("term"))
        .agg(sum($"term").as("mi"))
      tot.crossJoin(broadcast(hx)).crossJoin(broadcast(hy)).crossJoin(broadcast(mi))
        .select(
          $"n".as("n_events"),
          round($"hx".cast(DoubleType), 6).as("h_type"),
          round($"hy".cast(DoubleType), 6).as("h_dow"),
          round($"mi".cast(DoubleType), 6).as("mi_bits"),
          round($"mi".cast(DoubleType) /
            nullif(least($"hx".cast(DoubleType), $"hy".cast(DoubleType)), lit(0.0d)), 6)
            .as("nmi"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow
        FROM events
      ), cells AS (
        SELECT event_type, dow, COUNT(*) AS nij FROM ev GROUP BY 1, 2
      ), mx AS (
        SELECT event_type, CAST(SUM(nij) AS BIGINT) AS ri FROM cells GROUP BY 1
      ), my AS (
        SELECT dow, CAST(SUM(nij) AS BIGINT) AS cj FROM cells GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cells
      ), hx AS (
        SELECT SUM(CAST(ROUND((CAST(ri AS DOUBLE) / n) * LOG2(CAST(n AS DOUBLE) / ri), 12)
               AS DECIMAL(28,12))) AS hx FROM mx, tot
      ), hy AS (
        SELECT SUM(CAST(ROUND((CAST(cj AS DOUBLE) / n) * LOG2(CAST(n AS DOUBLE) / cj), 12)
               AS DECIMAL(28,12))) AS hy FROM my, tot
      ), mi AS (
        SELECT SUM(CAST(ROUND((CAST(nij AS DOUBLE) / n)
               * LOG2((CAST(nij AS DOUBLE) * n) / (CAST(ri AS DOUBLE) * cj)), 12)
               AS DECIMAL(28,12))) AS mi
        FROM cells JOIN mx USING (event_type) JOIN my USING (dow), tot
      )
      SELECT n AS n_events,
        ROUND(CAST(hx AS DOUBLE), 6) AS h_type,
        ROUND(CAST(hy AS DOUBLE), 6) AS h_dow,
        ROUND(CAST(mi AS DOUBLE), 6) AS mi_bits,
        ROUND(CAST(mi AS DOUBLE)
              / NULLIF(LEAST(CAST(hx AS DOUBLE), CAST(hy AS DOUBLE)), 0), 6) AS nmi
      FROM tot, hx, hy, mi
    """.trim))

  /** Per-segment account-balance moments `(c_mktsegment; n, sx, sxx)`:
    * the count and the exact decimal Σx and Σx² the segment tests build
    * their means and variances from.
    */
  private def segmentMoments(customers: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = customers.sparkSession
    import spark.implicits._
    customers
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        sum($"c_acctbal".cast(DecimalType(28, 10))).as("sx"),
        sum(($"c_acctbal" * $"c_acctbal").cast(DecimalType(38, 10))).as("sxx"))
  }

  /** The DuckDB twin of [[segmentMoments]]: the CTE `name(c_mktsegment;
    * n, sx, sxx)` over the customers `where` keeps.
    */
  private def segmentMomentsSql(name: String, where: String = ""): String =
    s"""$name AS (
        SELECT c_mktsegment, COUNT(*) AS n,
          SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS sx,
          SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS sxx
        FROM customer$where GROUP BY 1
      )"""

  /** The mean Σx / n of [[segmentMoments]] columns. */
  private def momentMean(sx: Column, n: Column): Column = sx.cast(DoubleType) / n

  /** The sample variance (Σx² − (Σx)² / n) / (n − 1) of [[segmentMoments]]
    * columns.
    */
  private def momentVar(sxx: Column, sx: Column, n: Column): Column =
    (sxx.cast(DoubleType) - sx.cast(DoubleType) * sx.cast(DoubleType) / n) / (n - 1)

  /** Welch's unequal-variance t-test between two customer segments on
    * account balance (SURVEY §2 I-sext) — the A/B-experimentation
    * significance primitive. Exact decimal moment sums per group (one
    * map-side-combinable pass), then t and the Welch–Satterthwaite df in
    * double algebra on identical exact operands on both engines; NULLIF
    * guards a degenerate zero-variance pair.
    */
  val aggWelchTtest = Q(
    "agg_welch_ttest",
    (spark, dir) => {
      import spark.implicits._
      val m = segmentMoments(Tables.customer(spark, dir)
        .where($"c_mktsegment".isin("AUTOMOBILE", "BUILDING")))
      val a = m.where($"c_mktsegment" === "AUTOMOBILE")
        .select($"n".as("n_a"), $"sx".as("sx_a"), $"sxx".as("sxx_a"))
      val b = m.where($"c_mktsegment" === "BUILDING")
        .select($"n".as("n_b"), $"sx".as("sx_b"), $"sxx".as("sxx_b"))
      val va = momentVar($"sxx_a", $"sx_a", $"n_a") / $"n_a"
      val vb = momentVar($"sxx_b", $"sx_b", $"n_b") / $"n_b"
      a.crossJoin(broadcast(b))
        .select(
          $"n_a", $"n_b",
          momentMean($"sx_a", $"n_a").cast(DecimalType(18, 6)).as("mean_a"),
          momentMean($"sx_b", $"n_b").cast(DecimalType(18, 6)).as("mean_b"),
          round((momentMean($"sx_a", $"n_a") - momentMean($"sx_b", $"n_b")) /
            nullif(sqrt(va + vb), lit(0.0d)), 6).as("t_stat"),
          round((va + vb) * (va + vb) /
            nullif(va * va / ($"n_a" - 1) + vb * vb / ($"n_b" - 1), lit(0.0d)), 4)
            .as("df_welch"))
    },
    Some(s"""
      WITH ${segmentMomentsSql("m", " WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING')")},
         a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM m WHERE c_mktsegment = 'AUTOMOBILE'),
         b AS (SELECT n AS n_b, sx AS sx_b, sxx AS sxx_b FROM m WHERE c_mktsegment = 'BUILDING')
      SELECT n_a, n_b,
        CAST(CAST(CAST(sx_a AS DOUBLE) / n_a AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
        CAST(CAST(CAST(sx_b AS DOUBLE) / n_b AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
        ROUND((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
          / NULLIF(SQRT(
              ((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a
            + ((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b), 0), 6) AS t_stat,
        ROUND(
          ( ((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a
          + ((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b )
          * ( ((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a
            + ((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b )
          / NULLIF(
              POWER(((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a, 2) / (n_a - 1)
            + POWER(((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b, 2) / (n_b - 1), 0), 4) AS df_welch
      FROM a, b
    """.trim))

  /** Market-basket association rules over within-order brand pairs
    * (SURVEY §2 I-sext): support / confidence / lift — the co-occurrence
    * recommender primitive.
    *
    * Scale notes: the pair fan-out is bounded by distinct brands per
    * order (~4 lines → ≤6 pairs), and the self-join is co-partitioned on
    * l_orderkey, so pair generation scales linearly with the fact table.
    * Brand counts and the order total are bounded frames broadcast back;
    * lift is exact-BIGINT ratio algebra. Top-15 is TakeOrderedAndProject.
    */
  val aggMarketBasketLift = Q(
    "agg_market_basket_lift",
    (spark, dir) => {
      import spark.implicits._
      // ONE data-scale pipeline total (r8 — the r7 shape re-ran the
      // collect_set stage once per consumer): each order's sorted
      // distinct-brand set is exploded row-locally into an order MARKER
      // (null,null), singles (a,null) and ordered pairs (a,b), so a
      // single count aggregation delivers n_orders, per-brand counts and
      // pair counts in ≤ 1+brands+brands² cells. That bounded cell table
      // is lineage-cut; total/singles/pairs below are filters over it —
      // the fact table is scanned and shuffled exactly once.
      // NOTE (measured and REJECTED): dictionary-encoding brands to
      // order-preserving int codes (dict = distinct part brands ranked by
      // binary order, derived in this job) was 2.22 s vs 1.83 s at sf0.1
      // (single-query min-of-5 vs bench min-of-3):
      // the dict derivation (dim distinct + bounded global window) and
      // the extra broadcast builds + decode joins serialize ~5 small
      // jobs ahead of the fact scan, costing more than the narrower
      // collect_set/explode shuffle saves, so the string-keyed one-pass
      // shape below stands.
      val cells = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"p_brand")).as("brands"))
        .select(explode(expr(
          """concat(
            |  array(struct(CAST(NULL AS STRING) AS brand_a, CAST(NULL AS STRING) AS brand_b)),
            |  transform(brands, a -> struct(a AS brand_a, CAST(NULL AS STRING) AS brand_b)),
            |  flatten(transform(brands, (a, i) ->
            |    transform(slice(brands, i + 2, size(brands)), b ->
            |      struct(a AS brand_a, b AS brand_b)))))""".stripMargin)).as("pr"))
        .groupBy($"pr.brand_a".as("brand_a"), $"pr.brand_b".as("brand_b"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.Checkpoints.cut)
      val tot = cells.where($"brand_a".isNull).select($"c".as("n_orders"))
      val cb = cells.where($"brand_a".isNotNull && $"brand_b".isNull)
      val pairs = cells.where($"brand_b".isNotNull)
        .select($"brand_a", $"brand_b", $"c".as("c_ab"))
      pairs
        .join(broadcast(cb.select($"brand_a", $"c".as("c_a"))), "brand_a")
        .join(broadcast(cb.select($"brand_a".as("brand_b"), $"c".as("c_b"))), "brand_b")
        .crossJoin(broadcast(tot))
        .select(
          $"brand_a", $"brand_b", $"c_ab",
          round($"c_ab".cast(DoubleType) / $"n_orders", 6).as("support"),
          round($"c_ab".cast(DoubleType) / $"c_a", 6).as("confidence"),
          round($"c_ab".cast(DoubleType) * $"n_orders" /
            ($"c_a".cast(DoubleType) * $"c_b"), 6).as("lift"))
        .orderBy($"lift".desc, $"brand_a", $"brand_b")
        .limit(15)
    },
    Some("""
      WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
      ), tot AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
      ), cb AS (
        SELECT p_brand, COUNT(*) AS c FROM ob GROUP BY 1
      ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS c_ab
        FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
      )
      SELECT brand_a, brand_b, c_ab,
        ROUND(CAST(c_ab AS DOUBLE) / n_orders, 6) AS support,
        ROUND(CAST(c_ab AS DOUBLE) / ca.c, 6) AS confidence,
        ROUND(CAST(c_ab AS DOUBLE) * n_orders / (CAST(ca.c AS DOUBLE) * cbb.c), 6) AS lift
      FROM pairs
      JOIN cb ca ON ca.p_brand = brand_a
      JOIN cb cbb ON cbb.p_brand = brand_b, tot
      ORDER BY lift DESC, brand_a, brand_b LIMIT 15
    """.trim))

  /** Funnel time-to-convert: signup → first purchase latency percentiles
    * (SURVEY §2 I-sext) — the latency half next to `agg_funnel_steps`'
    * count half; product analytics reads both (HOW MANY convert, HOW
    * FAST). First-signup per user is one conditional-min aggregation
    * (map-side combinable); first at-or-after purchase needs the signup
    * time first, so it is a second user-keyed pass over purchases only —
    * both shuffles are user-keyed and linear. Quartiles are pure LOWER
    * order statistics (no interpolation — integer selection, zero float
    * anywhere) computed with the `win_rank_global_scalable` recipe: the
    * ordered window runs over the distinct-latency FREQUENCY table
    * (bounded by distinct values, not converters), and the k-th value
    * is the row whose cumulative count straddles k.
    */
  val aggFunnelLatency = Q(
    "agg_funnel_latency",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val firsts = ev
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "signup", $"ts")).as("signup_ts"))
        .where($"signup_ts".isNotNull)
      val conv = ev
        .where($"event_type" === "purchase")
        .select($"user_id", $"ts")
        .join(firsts, "user_id")
        .where($"ts" >= $"signup_ts")
        .groupBy($"user_id")
        .agg(min($"ts").as("first_purchase"), min($"signup_ts").as("signup_ts"))
        .select(expr("timestampdiff(MICROSECOND, signup_ts, first_purchase)").as("lat_us"))
      // DISCRETE order-statistic percentiles (lower order stat at index
      // (k·(n−1)) div 4 + 1) — interpolating quantiles on ~2e11-µs
      // magnitudes differ between engines in the last ulp, while order
      // statistics are pure integer selection with zero float anywhere.
      // Selection runs on the distinct-latency frequency table: the
      // k-th order statistic is the value whose cumulative count
      // straddles k (lo = cum − cnt < k ≤ cum), so the only ordered
      // window is over distinct values, never the converter rows
      val freq = conv.groupBy($"lat_us").agg(count(lit(1)).as("cnt"))
      val wOrd = Window.orderBy($"lat_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      def pick(k: Column): Column =
        max(when(($"cum" - $"cnt") < k && k <= $"cum", $"lat_us"))
          .cast(DoubleType)
      freq
        .withColumn("cum", sum($"cnt").over(wOrd))
        .withColumn("n", sum($"cnt").over(wAll))
        .agg(
          max($"n").as("n_converters"),
          (pick(expr("(n - 1) div 4 + 1")) / 1e6)
            .cast(DecimalType(18, 6)).as("p25_s"),
          (pick(expr("(n - 1) div 2 + 1")) / 1e6)
            .cast(DecimalType(18, 6)).as("p50_s"),
          (pick(expr("((n - 1) * 3) div 4 + 1")) / 1e6)
            .cast(DecimalType(18, 6)).as("p75_s"))
        .crossJoin(broadcast(firsts.agg(count(lit(1)).as("n_signups"))))
        .select($"n_signups", $"n_converters", $"p25_s", $"p50_s", $"p75_s")
    },
    Some("""
      WITH firsts AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
        FROM events GROUP BY user_id
        HAVING MIN(CASE WHEN event_type = 'signup' THEN ts END) IS NOT NULL
      ), conv AS (
        SELECT CAST(epoch_us(MIN(e.ts)) - epoch_us(MIN(f.signup_ts)) AS BIGINT) AS lat_us
        FROM events e JOIN firsts f USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= f.signup_ts
        GROUP BY e.user_id
      ), ranked AS (
        SELECT lat_us,
          ROW_NUMBER() OVER (ORDER BY lat_us) AS rn,
          COUNT(*) OVER () AS n
        FROM conv
      ), q AS (
        SELECT MAX(n) AS n_converters,
          CAST(CAST(CAST(MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN lat_us END) AS DOUBLE)
               / 1e6 AS DECIMAL(18,6)) AS DOUBLE) AS p25_s,
          CAST(CAST(CAST(MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN lat_us END) AS DOUBLE)
               / 1e6 AS DECIMAL(18,6)) AS DOUBLE) AS p50_s,
          CAST(CAST(CAST(MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN lat_us END) AS DOUBLE)
               / 1e6 AS DECIMAL(18,6)) AS DOUBLE) AS p75_s
        FROM ranked
      )
      SELECT (SELECT COUNT(*) FROM firsts) AS n_signups,
        n_converters, p25_s, p50_s, p75_s
      FROM q
    """.trim))

  /** Last-touch attribution (SURVEY §2 I-sext): each purchase credited
    * to the same user's most recent preceding non-purchase event within
    * 3 days — the marketing-credit primitive. The latest touch rides a
    * per-user `last(..., ignoreNulls)` window over an (unbounded, -1)
    * frame — two scalar carries (ts + type) null-gated by the SAME
    * predicate always come from the same row, which avoids a struct
    * payload both engines would order differently. Expired touches
    * (outside the 3-day window) credit 'none'.
    *
    * Scale notes: one user-keyed window shuffle over the fact stream;
    * the report aggregates the bounded channel table with an exact
    * BIGINT share ratio.
    */
  val aggAttributionLastTouch = Q(
    "agg_attribution_last_touch",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touched = Tables.events(spark, dir)
        .withColumn("touch_ts",
          last(when($"event_type" =!= "purchase", $"ts"), ignoreNulls = true).over(w))
        .withColumn("touch_type",
          last(when($"event_type" =!= "purchase", $"event_type"), ignoreNulls = true).over(w))
      val attributed = touched
        .where($"event_type" === "purchase")
        .select(
          when($"touch_ts".isNull ||
            $"touch_ts" < $"ts" - expr("INTERVAL 3 DAY"), "none")
            .otherwise($"touch_type").as("channel"))
        .groupBy($"channel")
        .agg(count(lit(1)).as("conversions"))
      // grand total via an unpartitioned window over the bounded channel
      // table (≤ #event_types rows) — NOT a second fact-scan aggregate:
      // the events relation appears exactly once in this plan
      attributed
        .withColumn("total", sum($"conversions").over(Window.partitionBy()))
        .select($"channel", $"conversions",
          round($"conversions".cast(DoubleType) / $"total", 6).as("share"))
        .orderBy($"channel")
    },
    Some("""
      WITH touched AS (
        SELECT event_type, ts,
          LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
            OVER w AS touch_ts,
          LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
            OVER w AS touch_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      ), attributed AS (
        SELECT CASE WHEN touch_ts IS NULL OR touch_ts < ts - INTERVAL 3 DAY
                    THEN 'none' ELSE touch_type END AS channel,
          COUNT(*) AS conversions
        FROM touched WHERE event_type = 'purchase'
        GROUP BY 1
      ), tot AS (SELECT CAST(SUM(conversions) AS BIGINT) AS total FROM attributed)
      SELECT channel, conversions,
        ROUND(CAST(conversions AS DOUBLE) / total, 6) AS share
      FROM attributed, tot
      ORDER BY channel
    """.trim))

  /** Cohort LTV curve (SURVEY §2 I-sext): cumulative revenue per
    * signup-cohort by account age in months — the growth-analytics
    * triangle next to `agg_retention_cohorts`' retention counts
    * (retention says WHO comes back; LTV says what they're WORTH).
    *
    * Scale notes: ONE fact scan — the signup cohort comes from a
    * per-customer min-window on the same pass (no firsts self-join),
    * and the cohort sizes ride the same (cohort, age) aggregation as a
    * distinct-customer count at age 0 (every customer has an age-0 row
    * by definition of its cohort month). The bounded cohort×age
    * triangle is checkpointed so sizes/cumsum don't re-derive the
    * fact-scale work; cumulative revenue is exact decimal.
    */
  val aggCohortLtvCurve = Q(
    "agg_cohort_ltv_curve",
    (spark, dir) => {
      import spark.implicits._
      val wCust = Window.partitionBy($"o_custkey")
      val o = Tables.orders(spark, dir)
        .select($"o_custkey",
          date_trunc("month", $"o_orderdate").as("m"),
          dec($"o_totalprice").as("rev"))
        .withColumn("cohort", min($"m").over(wCust))
      val mat = o
        .groupBy($"cohort",
          months_between($"m", $"cohort").cast("long").as("age"))
        .agg(sum($"rev").as("rev"),
          countDistinct($"o_custkey").as("ncust"))
        .repartition(1)
        .transform(graft.Checkpoints.cut)
      val sizes = mat.where($"age" === 0)
        .select($"cohort", $"ncust".as("cohort_size"))
      val wCum = Window.partitionBy($"cohort").orderBy($"age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      mat
        .withColumn("cum_rev", sum($"rev").over(wCum).cast(DecimalType(28, 2)))
        .join(broadcast(sizes), "cohort")
        .select($"cohort", $"age",
          $"cum_rev".cast(DoubleType).as("cum_rev"),
          ($"cum_rev".cast(DoubleType) / $"cohort_size")
            .cast(DecimalType(18, 6)).as("ltv_per_customer"))
        .orderBy($"cohort", $"age")
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
          CAST(o_totalprice AS DECIMAL(18,2)) AS rev
        FROM orders
      ), firsts AS (
        SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY 1
      ), sizes AS (
        SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
      ), mat AS (
        SELECT cohort, date_diff('month', cohort, m) AS age, SUM(rev) AS rev
        FROM o JOIN firsts USING (o_custkey)
        GROUP BY 1, 2
      ), cum AS (
        SELECT cohort, age,
          CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS cum_rev
        FROM mat
      )
      SELECT cohort, CAST(age AS BIGINT) AS age,
        CAST(cum_rev AS DOUBLE) AS cum_rev,
        CAST(CAST(CAST(cum_rev AS DOUBLE) / cohort_size AS DECIMAL(18,6)) AS DOUBLE)
          AS ltv_per_customer
      FROM cum JOIN sizes USING (cohort)
      ORDER BY cohort, age
    """.trim))

  /** DAU split NEW vs RETURNING (SURVEY §2 I-sext) — the growth-
    * accounting identity every product dashboard leads with: daily
    * active users decomposed into first-ever-seen-today vs seen-before,
    * with the new-user share (a falling share on flat DAU = the product
    * is coasting on its base). `agg_retention_cohorts` answers who
    * comes BACK by cohort; this answers what each day's activity is
    * MADE OF.
    *
    * Scale notes: ONE fact scan — first-seen day rides a per-user
    * min-window on the same pass (no firsts self-join, the
    * `agg_cohort_ltv_curve` recipe), then one (day, user) distinct and
    * a bounded per-day rollup; both exchanges are map-side combinable.
    */
  val aggDauNewReturning = Q(
    "agg_dau_new_returning",
    (spark, dir) => {
      import spark.implicits._
      val wUser = Window.partitionBy($"user_id")
      Tables.events(spark, dir)
        .select($"user_id", date_trunc("day", $"ts").as("day"))
        .withColumn("first_day", min($"day").over(wUser))
        .distinct()
        .groupBy($"day")
        .agg(
          count(lit(1)).as("dau"),
          sum(when($"first_day" === $"day", 1L).otherwise(0L)).as("new_users"),
          sum(when($"first_day" < $"day", 1L).otherwise(0L)).as("returning_users"))
        .select($"day", $"dau", $"new_users", $"returning_users",
          round($"new_users".cast(DoubleType) / $"dau", 6).as("new_share"))
        .orderBy($"day")
    },
    Some("""
      WITH d AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
          MIN(date_trunc('day', ts)) OVER (PARTITION BY user_id) AS first_day
        FROM events
      )
      SELECT day, COUNT(*) AS dau,
        CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        CAST(SUM(CASE WHEN first_day < day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
        ROUND(CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*), 6) AS new_share
      FROM d GROUP BY day ORDER BY day
    """.trim))

  /** Markov stationary distribution of the event-type chain (SURVEY §2
    * I-sext): where the process SETTLES in the long run, next to each
    * state's empirical share (where it currently IS) — the gap between
    * the two is the non-stationarity signal, and the stationary vector
    * is the steady-state load forecast the raw transition matrix
    * (`agg_transition_matrix`) only implies.
    *
    * Scale notes: the only fact-scale work is the lead-window pair
    * count (one user-keyed shuffle — same as the transition-matrix
    * row); the k×k probability matrix is checkpointed ONCE and the 8
    * power rounds π←πP are unrolled into a single plan of chained
    * joins over that checkpointed k-row frame (no per-round action —
    * iteration cost is corpus-independent and pays one job). The state
    * set is the union of sources and successors, so absorbing states
    * (appearing only as a successor) keep the mass that flows into
    * them instead of being dropped. Per-round 9 dp decimal rounding
    * makes the iterate identical on any engine/partitioning.
    */
  val aggMarkovStationary = Q(
    "agg_markov_stationary",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ev = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
      // one fact pass: pair counts with a NULLABLE successor, so both the
      // transition matrix AND the empirical per-state counts derive from
      // this single checkpointed k×(k+1) frame (no second events scan)
      val cells = ev
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .groupBy($"event_type".as("cur"), $"nxt")
        .agg(count(lit(1)).as("c"))
        .repartition(1)
        .transform(graft.Checkpoints.cut)
      // Power rounds on the driver ([[graft.DriverLoop]]): the cell table
      // is k×(k+1) rows (k = event-type vocabulary, the bound the
      // repartition(1) above already assumes), where an unrolled join
      // chain cost 12 Spark jobs and a 73 kB plan. Each round replicates
      // the Spark expressions operation-for-operation — row-normalized
      // p = round(c/Σc, 9), contribution round(p·pr, 12) HALF_UP summed
      // as exact scale-12 decimals, π' = round(Σ, 9), absorbing states
      // coalesce to 0.0.
      val cellRows: Seq[(String, String, Long)] = graft.DriverLoop.collect(cells, "markov cells").toSeq
        .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      val rowSums = cellRows.filter(_._2 != null).groupBy(_._1)
        .map { case (cur, rs) => (cur, rs.map(_._3).sum) }
      val pmP = cellRows.collect { case (cur, nxt, c) if nxt != null =>
        (cur, nxt, graft.DriverRound(c.toDouble / rowSums(cur).toDouble, 9)) }
      val statesP: Seq[String] = (pmP.map(_._1) ++ pmP.map(_._2)).distinct
      val kkD = statesP.size.toDouble
      var piP: Map[String, Double] = statesP.map(t => (t, 1.0 / kkD)).toMap
      for (_ <- 1 to 8) {
        val sums = pmP.groupBy(_._2).map { case (t, rs) =>
          (t, rs.map { case (cur, _, p) => graft.DriverRound.decimal(p * piP(cur), 12) }.reduce(_.add(_))) }
        piP = statesP.map(t =>
          (t, sums.get(t).map(s => graft.DriverRound(s.doubleValue, 9)).getOrElse(0.0))).toMap
      }
      val pi = graft.DriverLoop.frame(spark,
        new org.apache.spark.sql.types.StructType()
          .add("t", org.apache.spark.sql.types.StringType).add("pr", DoubleType),
        piP.toSeq.map { case (t, p) => org.apache.spark.sql.Row(t, p) })
      val emp = cells.groupBy($"cur".as("t")).agg(sum($"c").as("n"))
      val tot = emp.agg(sum($"n").as("total"))
      pi
        .join(broadcast(emp), "t")
        .crossJoin(broadcast(tot))
        .select($"t".as("event_type"),
          round($"pr", 6).as("stationary_prob"),
          round($"n".cast(DoubleType) / $"total", 6).as("empirical_share"))
        .orderBy($"event_type")
    },
    Some {
      val rounds = (1 to 8).map { i =>
        s"""pi$i AS (
        SELECT s.t, COALESCE(nx.pr, 0.0) AS pr
        FROM states s
        LEFT JOIN (
          SELECT pm.nxt AS t,
            ROUND(CAST(SUM(CAST(ROUND(pm.p * p0.pr, 12) AS DECIMAL(28,12))) AS DOUBLE),
                  9) AS pr
          FROM pm JOIN pi${i - 1} p0 ON pm.cur = p0.t
          GROUP BY pm.nxt
        ) nx ON nx.t = s.t
      )"""
      }.mkString(", ")
      s"""
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type FROM events
      ), pairs AS (
        SELECT cur, nxt, COUNT(*) AS c FROM (
          SELECT event_type AS cur,
            LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM ev
        ) WHERE nxt IS NOT NULL
        GROUP BY cur, nxt
      ), pm AS (
        SELECT cur, nxt,
          ROUND(CAST(c AS DOUBLE)
                / CAST(SUM(c) OVER (PARTITION BY cur) AS DOUBLE), 9) AS p
        FROM pairs
      ), states AS (
        SELECT cur AS t FROM pm UNION SELECT nxt AS t FROM pm
      ), kk AS (SELECT COUNT(*) AS kk FROM states),
      pi0 AS (
        SELECT t, CAST(1 AS DOUBLE) / kk.kk AS pr FROM states CROSS JOIN kk
      ), $rounds, emp AS (
        SELECT event_type AS t, COUNT(*) AS n FROM ev GROUP BY 1
      ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM emp)
      SELECT pi8.t AS event_type,
        ROUND(pi8.pr, 6) AS stationary_prob,
        ROUND(CAST(n AS DOUBLE) / total, 6) AS empirical_share
      FROM pi8 JOIN emp ON pi8.t = emp.t, tot
      ORDER BY event_type
      """.trim
    })

  /** Entropy rate of the event-type chain (SURVEY §2 I-sept): the
    * conditional entropy H(next | cur) in bits — the predictability
    * number the transition matrix (`agg_transition_matrix`) implies
    * but never states (0 bits = journeys are fully scripted, log₂k =
    * the next event is memoryless noise). Declared beside the
    * MARGINAL next-event entropy H(next) and their gap/ratio: the gap
    * is the information the current state carries about the next one
    * (the feature-value of sequence context before training a
    * next-action model — if it is ≈0, a Markov feature is useless).
    *
    * Scale notes (100 TB): the only fact-scale work is the per-user
    * lag pair count (the one user-keyed shuffle every journey row
    * shares); the entropy algebra runs on the bounded k×k cell table.
    * Terms are rounded to 12 dp and summed in decimal (§2.0 rule 7)
    * so both engines agree bit-for-bit.
    */
  val aggEntropyRateMarkov = Q(
    "agg_entropy_rate_markov",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val cells = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("from_type", lag($"event_type", 1).over(w))
        .where($"from_type".isNotNull)
        .groupBy($"from_type", $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = cells.groupBy($"from_type").agg(sum($"n").as("from_n"))
      val toTot = cells.groupBy($"to_type").agg(sum($"n").as("to_n"))
      val tot = cells.agg(sum($"n").as("total"), count(lit(1)).as("n_cells"))
      val hCond = cells
        .join(broadcast(fromTot), "from_type")
        .crossJoin(broadcast(tot))
        .agg(sum(round(
          -($"n".cast(DoubleType) / $"total") *
            log(2.0, $"n".cast(DoubleType) / $"from_n"), 12)
          .cast(DecimalType(28, 12))).cast(DoubleType).as("h_cond"))
      val hNext = toTot
        .crossJoin(broadcast(tot))
        .agg(sum(round(
          -($"to_n".cast(DoubleType) / $"total") *
            log(2.0, $"to_n".cast(DoubleType) / $"total"), 12)
          .cast(DecimalType(28, 12))).cast(DoubleType).as("h_next"))
      tot
        .crossJoin(broadcast(hCond))
        .crossJoin(broadcast(hNext))
        .select(
          $"total".as("n_transitions"),
          $"n_cells",
          round($"h_cond", 6).as("h_cond_bits"),
          round($"h_next", 6).as("h_next_bits"),
          round($"h_next" - $"h_cond", 6).as("context_gain_bits"),
          round(lit(1.0) - $"h_cond" / $"h_next", 6).as("predictability"))
    },
    Some("""
      WITH cells AS (
        SELECT from_type, to_type, COUNT(*) AS n FROM (
          SELECT LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
            event_type AS to_type
          FROM events
        ) WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
      ), ft AS (
        SELECT from_type, SUM(n) AS from_n FROM cells GROUP BY 1
      ), tt AS (
        SELECT to_type, SUM(n) AS to_n FROM cells GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_cells FROM cells
      ), hc AS (
        SELECT CAST(SUM(CAST(ROUND(
            -(CAST(n AS DOUBLE) / total) * LOG2(CAST(n AS DOUBLE) / from_n), 12)
          AS DECIMAL(28,12))) AS DOUBLE) AS h_cond
        FROM cells JOIN ft USING (from_type), tot
      ), hn AS (
        SELECT CAST(SUM(CAST(ROUND(
            -(CAST(to_n AS DOUBLE) / total) * LOG2(CAST(to_n AS DOUBLE) / total), 12)
          AS DECIMAL(28,12))) AS DOUBLE) AS h_next
        FROM tt, tot
      )
      SELECT total AS n_transitions, n_cells,
        ROUND(h_cond, 6) AS h_cond_bits,
        ROUND(h_next, 6) AS h_next_bits,
        ROUND(h_next - h_cond, 6) AS context_gain_bits,
        ROUND(1.0 - h_cond / h_next, 6) AS predictability
      FROM tot, hc, hn
    """.trim))

  /** Inter-purchase interval distribution per market segment (SURVEY §2
    * I-sept) — the purchase-cadence number retention/LTV curves imply
    * but never state: mean and median days between a customer's
    * consecutive orders (RFM's recency is only the LAST gap; this is
    * the habitual rhythm — the re-order reminder / churn-definition
    * window is sized from it).
    *
    * Scale notes (100 TB): gaps are one custkey-keyed lag window (the
    * shuffle every per-customer row shares); the segment join is
    * key-equi (broadcast at this corpus, co-partitioned at scale). The
    * median is a DISCRETE order statistic selected from the bounded
    * per-segment distinct-gap FREQUENCY table (`win_rank_global
    * _scalable` recipe: the only ordered window runs over distinct gap
    * values, and the k-th order statistic is the row whose cumulative
    * count straddles k) — no global sort, no single-task quantile.
    */
  val aggInterpurchaseGaps = Q(
    "agg_interpurchase_gaps",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val gaps = Tables.orders(spark, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderkey")
        .withColumn("prev_d", lag($"o_orderdate", 1).over(w))
        .where($"prev_d".isNotNull)
        .select($"o_custkey", datediff($"o_orderdate", $"prev_d").as("gap"))
        .join(Tables.customer(spark, dir)
          .select($"c_custkey", $"c_mktsegment"), $"o_custkey" === $"c_custkey")
      val seg = gaps.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"), sum($"gap").as("sum_gap"))
      val wc = Window.partitionBy($"c_mktsegment").orderBy($"gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = gaps
        .groupBy($"c_mktsegment", $"gap").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum($"f").over(wc))
        .join(broadcast(seg.select($"c_mktsegment", $"n_gaps")), "c_mktsegment")
        .where($"cum" - $"f" < expr("(n_gaps + 1) div 2") &&
          expr("(n_gaps + 1) div 2") <= $"cum")
        .select($"c_mktsegment", $"gap".cast("long").as("p50_gap_days"))
      seg.join(med, "c_mktsegment")
        .select($"c_mktsegment", $"n_gaps",
          round($"sum_gap".cast(DoubleType) / $"n_gaps", 6).as("mean_gap_days"),
          $"p50_gap_days")
        .orderBy($"c_mktsegment")
    },
    Some("""
      WITH gaps AS (
        SELECT c_mktsegment,
          datediff('day', prev_d, o_orderdate) AS gap
        FROM (
          SELECT o_custkey, o_orderdate,
            LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS prev_d
          FROM orders) o
        JOIN customer ON o_custkey = c_custkey
        WHERE prev_d IS NOT NULL
      ), seg AS (
        SELECT c_mktsegment, COUNT(*) AS n_gaps, SUM(gap) AS sum_gap
        FROM gaps GROUP BY 1
      ), freq AS (
        SELECT c_mktsegment, gap, COUNT(*) AS f,
          SUM(COUNT(*)) OVER (PARTITION BY c_mktsegment ORDER BY gap
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM gaps GROUP BY c_mktsegment, gap
      ), med AS (
        SELECT f.c_mktsegment, CAST(f.gap AS BIGINT) AS p50_gap_days
        FROM freq f JOIN seg s ON f.c_mktsegment = s.c_mktsegment
        WHERE f.cum - f.f < (s.n_gaps + 1) // 2 AND (s.n_gaps + 1) // 2 <= f.cum
      )
      SELECT seg.c_mktsegment, n_gaps,
        ROUND(CAST(sum_gap AS DOUBLE) / n_gaps, 6) AS mean_gap_days,
        p50_gap_days
      FROM seg JOIN med ON seg.c_mktsegment = med.c_mktsegment
      ORDER BY seg.c_mktsegment
    """.trim))

  /** One-way ANOVA across the five market segments (SURVEY §2 I-sept) —
    * the k-group generalization of `agg_welch_ttest`'s two-group
    * contrast: does account balance differ BETWEEN segments more than
    * WITHIN them? F = (SSB/(k−1))/(SSW/(N−k)) plus the effect size
    * η² = SSB/(SSB+SSW) (the share of variance the segmentation
    * explains — the number that tells a modeler whether the segment
    * column is worth a feature slot).
    *
    * Scale notes (100 TB): one map-side-combinable groupBy over k=5
    * groups carries (n, Σx, Σx²) in exact decimals; every downstream
    * term lives on the 5-row table. Cross-engine determinism: each
    * group's Σx²/n projection term is rounded to 6 dp and summed as
    * exact DECIMAL before the F ratio is taken in doubles (§2.0 rule 7
    * — one stabilized rounding point instead of float-ordered sums).
    */
  val aggAnovaOneway = Q(
    "agg_anova_oneway",
    (spark, dir) => {
      import spark.implicits._
      val g = segmentMoments(Tables.customer(spark, dir))
      val tot = g.agg(
        count(lit(1)).as("k"),
        sum($"n").as("nn"),
        sum($"sx").as("gsx"),
        sum($"sxx".cast(DecimalType(38, 10))).cast(DoubleType).as("gsxx"),
        sum(round($"sx".cast(DoubleType) * $"sx".cast(DoubleType) / $"n", 6)
          .cast(DecimalType(38, 6))).cast(DoubleType).as("proj"))
      tot.select(
        $"k", $"nn".as("n_total"),
        (($"proj" - $"gsx".cast(DoubleType) * $"gsx".cast(DoubleType) / $"nn") /
          ($"k" - 1)).as("msb"),
        (($"gsxx" - $"proj") / ($"nn" - $"k")).as("msw"),
        ($"proj" - $"gsx".cast(DoubleType) * $"gsx".cast(DoubleType) / $"nn").as("ssb"),
        ($"gsxx" - $"proj").as("ssw"))
        .select($"k", $"n_total",
          ($"k" - 1).as("df_between"), ($"n_total" - $"k").as("df_within"),
          round($"msb" / nullif($"msw", lit(0.0d)), 6).as("f_stat"),
          round($"ssb" / nullif($"ssb" + $"ssw", lit(0.0d)), 6).as("eta_sq"))
    },
    Some(s"""
      WITH ${segmentMomentsSql("g")}, tot AS (
        SELECT COUNT(*) AS k, SUM(n) AS nn,
          SUM(sx) AS gsx,
          CAST(SUM(CAST(sxx AS DECIMAL(38,10))) AS DOUBLE) AS gsxx,
          CAST(SUM(CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 6)
            AS DECIMAL(38,6))) AS DOUBLE) AS proj
        FROM g
      )
      SELECT k, CAST(nn AS BIGINT) AS n_total,
        k - 1 AS df_between, CAST(nn - k AS BIGINT) AS df_within,
        ROUND(((proj - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn) / (k - 1))
          / NULLIF((gsxx - proj) / (nn - k), 0), 6) AS f_stat,
        ROUND((proj - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn)
          / NULLIF((proj - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn)
            + (gsxx - proj), 0), 6) AS eta_sq
      FROM tot
    """.trim))

  /** Poisson bootstrap of the mean order value (SURVEY §2 I-sept) —
    * THE distributed confidence-interval recipe: instead of resampling
    * n rows with replacement (a global shuffle per replicate), each row
    * carries an independent Poisson(1) weight per replicate b, and the
    * weighted mean over B=32 replicates estimates the sampling
    * distribution (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012). Declared output: the 32-row
    * replicate curve with the point mean, bootstrap SE, and the
    * [rank-2, rank-31] percentile CI of the replicate means on every
    * row.
    *
    * Scale notes (100 TB): the B-fold explode is map-side combined to
    * B partial rows per partition before the 32-group shuffle — no
    * data copy, no per-replicate pass. Determinism (§2.0 rule 7):
    * weights come from an md5-derived uniform divided by 2³² (a power
    * of two — the division is lossless), thresholded at the shared
    * Poisson(1) CDF literals; weighted sums are exact decimals
    * (weight × DECIMAL price), means round at 6 dp before the bounded
    * SE/CI algebra.
    */
  val samplePoissonBootstrap = Q(
    "sample_poisson_bootstrap",
    (spark, dir) => {
      import spark.implicits._
      val u = conv(substring(md5(concat($"o_orderkey".cast("string"), lit("_"),
        $"b".cast("string"))), 1, 8), 16, 10).cast("long") / lit(4294967296.0)
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .when(u < 0.999916758850712, 6L)
        .when(u < 0.9999897508033253, 7L).otherwise(8L)
      val reps = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_totalprice")
        // explicit pre-explode split (the PCA lesson): the source is one
        // parquet split at this SF, and 32× explode + md5 on a single
        // task serializes the whole replicate fan-out
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("b", explode(sequence(lit(0L), lit(31L))))
        .withColumn("w", w)
        .groupBy($"b")
        .agg(sum($"w").as("n_eff"),
          sum($"w" * dec($"o_totalprice")).as("ws"))
        .select($"b", $"n_eff",
          round($"ws".cast(DoubleType) / $"n_eff", 6).as("boot_mean"))
      // Three downstream consumers (mstats, ranked, final crossJoin) would
      // each recompute the fact-scale 32× explode+md5 fan-out; cutting the
      // lineage at the 32-row replicate table makes it run exactly once.
      val repsCut = graft.Checkpoints.cut(reps)
      val point = Tables.orders(spark, dir)
        .agg(count(lit(1)).as("n"), sum(dec($"o_totalprice")).as("s"))
        .select(round($"s".cast(DoubleType) / $"n", 6).as("point_mean"))
      val mstats = repsCut.agg(
        count(lit(1)).as("bb"),
        sum($"boot_mean".cast(DecimalType(28, 6))).as("sm"),
        sum(round($"boot_mean" * $"boot_mean", 6).cast(DecimalType(38, 6))).as("smm"))
        .select(round(sqrt(
          ($"smm".cast(DoubleType) -
            $"sm".cast(DoubleType) * $"sm".cast(DoubleType) / $"bb") /
          ($"bb" - 1)), 6).as("boot_se"))
      val ranked = repsCut.select($"boot_mean".as("m"))
        .withColumn("rk", row_number().over(Window.orderBy($"m")))
      val ci = ranked.where($"rk" === 2).select($"m".as("ci_lo"))
        .crossJoin(ranked.where($"rk" === 31).select($"m".as("ci_hi")))
      repsCut.crossJoin(broadcast(point))
        .crossJoin(broadcast(mstats))
        .crossJoin(broadcast(ci))
        .orderBy($"b")
    },
    Some("""
      WITH reps AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
          ROUND(CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            / SUM(w), 6) AS boot_mean
        FROM (
          SELECT o_orderkey, o_totalprice, b,
            CASE
              WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238463 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              WHEN u < 0.9994058151824183 THEN 5
              WHEN u < 0.999916758850712 THEN 6
              WHEN u < 0.9999897508033253 THEN 7
              ELSE 8 END AS w
          FROM (
            SELECT o_orderkey, o_totalprice, r.range AS b,
              CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '_' ||
                CAST(r.range AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0 AS u
            FROM orders, range(0, 32) r))
        GROUP BY b
      ), point AS (
        SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          / COUNT(*), 6) AS point_mean FROM orders
      ), mstats AS (
        SELECT ROUND(SQRT(
          (CAST(SUM(CAST(ROUND(boot_mean * boot_mean, 6) AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(boot_mean AS DECIMAL(28,6))) AS DOUBLE)
              * CAST(SUM(CAST(boot_mean AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
          / (COUNT(*) - 1)), 6) AS boot_se
        FROM reps
      ), ranked AS (
        SELECT boot_mean AS m, ROW_NUMBER() OVER (ORDER BY boot_mean) AS rk FROM reps
      ), ci AS (
        SELECT lo.m AS ci_lo, hi.m AS ci_hi
        FROM (SELECT m FROM ranked WHERE rk = 2) lo,
             (SELECT m FROM ranked WHERE rk = 31) hi
      )
      SELECT CAST(b AS BIGINT) AS b, n_eff, boot_mean,
        point_mean, boot_se, ci_lo, ci_hi
      FROM reps, point, mstats, ci
      ORDER BY b
    """.trim))

  /** Neyman optimal stratified allocation (SURVEY §2 I-sept) — the
    * sampling-budget allocator: given a 1000-row budget across the five
    * market segments, allocate n_h ∝ N_h·s_h (Neyman 1934 — more rows
    * where the metric is both plentiful AND volatile), then REALIZE the
    * sample with a deterministic md5-uniform per order and report the
    * achieved count next to the target. Proportional allocation ignores
    * s_h; this is the minimum-variance design for estimating the mean —
    * the `sample_mixture_temperature`/`sample_importance_weighted`
    * family's missing "how many from each stratum" row.
    *
    * Scale notes (100 TB): two fact passes (one moment agg, one
    * broadcast-rate sampling count), both map-side combinable on the
    * 5-key segment; the allocation algebra lives on the 5-row table.
    * Determinism: s_h rounds to 6 dp off exact decimal moments, the
    * uniform is an md5 hex prefix over 2³² (lossless), and the rate
    * comparison uses the same rounded literals in both engines.
    */
  val sampleStratifiedNeyman = Q(
    "sample_stratified_neyman",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_custkey")
        .join(Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment"),
          $"o_custkey" === $"c_custkey")
      // the 5-row moment frame fans out to tot/alloc/realized/final, but
      // every consumer sits above the SAME segment-keyed exchange, which
      // AQE stage reuse dedupes at runtime (r13: an explicit lineage cut
      // here measured SLOWER, 0.54 s → 1.11 s, by serializing the fact
      // pass into its own eager job)
      val stats = base.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_h"),
          sum($"o_totalprice".cast(DecimalType(28, 10))).as("sx"),
          sum(($"o_totalprice" * $"o_totalprice").cast(DecimalType(38, 10))).as("sxx"))
        .select($"c_mktsegment", $"n_h",
          round(sqrt(($"sxx".cast(DoubleType) -
            $"sx".cast(DoubleType) * $"sx".cast(DoubleType) / $"n_h") /
            ($"n_h" - 1)), 6).as("s_h"))
        .withColumn("w_h", round($"n_h" * $"s_h", 6))
      val tot = stats.agg(
        sum($"w_h".cast(DecimalType(38, 6))).cast(DoubleType).as("wt"))
      val alloc = stats.crossJoin(broadcast(tot))
        .select($"c_mktsegment", $"n_h", $"s_h",
          floor(lit(1000.0) * $"w_h" / $"wt").cast("long").as("alloc_n"))
        .withColumn("rate", round($"alloc_n".cast(DoubleType) / $"n_h", 9))
      val u = conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") / lit(4294967296.0)
      val realized = base.join(broadcast(alloc.select($"c_mktsegment", $"rate")),
          "c_mktsegment")
        .groupBy($"c_mktsegment")
        .agg(sum(when(u < $"rate", 1L).otherwise(0L)).as("n_sampled"))
      alloc.join(realized, "c_mktsegment")
        .select($"c_mktsegment", $"n_h", $"s_h", $"alloc_n", $"n_sampled",
          round($"n_sampled".cast(DoubleType) / $"n_h", 6).as("realized_rate"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_totalprice, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
      ), stats AS (
        SELECT c_mktsegment, COUNT(*) AS n_h,
          ROUND(SQRT(
            (CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
              - CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                * CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)), 6) AS s_h
        FROM base GROUP BY 1
      ), w AS (
        SELECT *, ROUND(n_h * s_h, 6) AS w_h FROM stats
      ), tot AS (
        SELECT CAST(SUM(CAST(w_h AS DECIMAL(38,6))) AS DOUBLE) AS wt FROM w
      ), alloc AS (
        SELECT c_mktsegment, n_h, s_h,
          CAST(FLOOR(1000.0 * w_h / wt) AS BIGINT) AS alloc_n,
          ROUND(CAST(FLOOR(1000.0 * w_h / wt) AS BIGINT) / CAST(n_h AS DOUBLE), 9) AS rate
        FROM w, tot
      ), realized AS (
        SELECT b.c_mktsegment,
          CAST(SUM(CASE WHEN
            CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
              / 4294967296.0 < a.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM base b JOIN alloc a USING (c_mktsegment)
        GROUP BY 1
      )
      SELECT a.c_mktsegment, CAST(a.n_h AS BIGINT) AS n_h, a.s_h, a.alloc_n,
        r.n_sampled,
        ROUND(CAST(r.n_sampled AS DOUBLE) / a.n_h, 6) AS realized_rate
      FROM alloc a JOIN realized r USING (c_mktsegment)
      ORDER BY a.c_mktsegment
    """.trim))

  /** Kaplan–Meier survival of the re-order interval (SURVEY §2 I-sept)
    * — "what share of customers have NOT yet re-ordered by day t?", the
    * censoring-aware churn curve `agg_interpurchase_gaps`' mean/median
    * cannot give: a customer's LAST order contributes a right-censored
    * duration (observed to the end of the order window, re-order never
    * seen), and dropping those rows — what a naive mean does — biases
    * the curve optimistic. KM: at each distinct event day t_i,
    * S ← S·(1 − d_i/n_i) with n_i = subjects still at risk; declared in
    * ln space (12 dp ln terms, exact decimal cumsum — libm exp is not
    * cross-engine ulp-stable, ln of exact ratios is), one row per event
    * day with at-risk/event/censored-so-far counts.
    *
    * Scale notes (100 TB): durations are one custkey-keyed lead window
    * (the per-customer shuffle every order query shares); everything
    * after rides the bounded distinct-duration FREQUENCY table (one
    * ordered window over ≤ a few hundred distinct gap lengths — the
    * `win_rank_global_scalable` discipline). The d_i = n_i extinction
    * point (S → 0, ln → −∞), provably only possible at the LAST event
    * time, is excluded: the declared curve ends at the last
    * positive-survival step.
    */
  val aggSurvivalKm = Q(
    "agg_survival_km",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir).select($"o_custkey", $"o_orderdate", $"o_orderkey")
      val wc = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val horizon = o.agg(max($"o_orderdate").as("hz"))
      val durs = o
        .withColumn("nxt", lead($"o_orderdate", 1).over(wc))
        .crossJoin(broadcast(horizon))
        .select(
          when($"nxt".isNotNull, datediff($"nxt", $"o_orderdate"))
            .otherwise(datediff($"hz", $"o_orderdate")).cast("long").as("t"),
          when($"nxt".isNotNull, 1L).otherwise(0L).as("ev"))
      val freq = durs.groupBy($"t")
        .agg(count(lit(1)).as("c"), sum($"ev").as("d"))
      val total = freq.agg(sum($"c").as("n_total"))
      val wt = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
      val wcum = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      freq.crossJoin(broadcast(total))
        .withColumn("n_risk", $"n_total" - coalesce(sum($"c").over(wt), lit(0L)))
        .where($"d" > 0 && $"d" < $"n_risk")
        .withColumn("lnterm",
          round(log(lit(1.0) - $"d".cast(DoubleType) / $"n_risk"), 12))
        .withColumn("ln_surv",
          round(sum($"lnterm".cast(DecimalType(28, 12))).over(wcum)
            .cast(DoubleType), 6))
        .select($"t".as("t_days"), $"n_risk", $"d".as("d_events"), $"ln_surv")
        .orderBy($"t_days")
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
          LEAD(o_orderdate, 1) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
      ), durs AS (
        SELECT
          CASE WHEN nxt IS NOT NULL THEN datediff('day', o_orderdate, nxt)
               ELSE datediff('day', o_orderdate, (SELECT MAX(o_orderdate) FROM orders))
          END AS t,
          CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM o
      ), freq AS (
        SELECT t, COUNT(*) AS c, SUM(ev) AS d FROM durs GROUP BY 1
      ), risk AS (
        SELECT t, d,
          (SELECT SUM(c) FROM freq) - COALESCE(SUM(c) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM freq
      ), curve AS (
        SELECT t, n_risk, d,
          ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk), 12) AS lnterm
        FROM risk WHERE d > 0 AND d < n_risk
      )
      SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
        CAST(d AS BIGINT) AS d_events,
        ROUND(CAST(SUM(CAST(lnterm AS DECIMAL(28,12))) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS ln_surv
      FROM curve
      ORDER BY t_days
    """.trim))

  /** Cumulative-gains deciles of customer revenue (SURVEY §2 I-sept) —
    * the 80/20 TABLE behind `agg_gini_concentration`'s single number:
    * customers ranked by lifetime spend, cut into spend-rank deciles,
    * each row reporting its customer count, revenue share, and the
    * cumulative share ("the top 10% hold X%") — the gains/CAP curve a
    * targeting model is judged against and the skew profile a
    * partitioner wants before keying anything by customer.
    *
    * Scale notes (100 TB): per-customer spend is one fact-scale
    * map-side-combinable agg; the decile assignment follows the
    * `win_rank_global_scalable` recipe — the ONLY ordered window runs
    * over the bounded DISTINCT-spend frequency table (desc cumulative
    * count), each distinct spend maps to ⌈cum·10/N⌉ by EXACT integer
    * arithmetic, and the spend→decile map joins back on the spend key
    * (co-partitioned, no global sort). Ties share a decile by
    * construction, so decile sizes can differ — that is data, not
    * nondeterminism.
    */
  val aggGainsDeciles = Q(
    "agg_gains_deciles",
    (spark, dir) => {
      import spark.implicits._
      val spend = Tables.orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(sum(dec($"o_totalprice")).as("sp"))
      val n = spend.agg(count(lit(1)).as("n"),
        sum($"sp".cast(DecimalType(38, 2))).as("tot"))
      val wDesc = Window.orderBy($"sp".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dmap = spend.groupBy($"sp").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(wDesc))
        .crossJoin(broadcast(n.select($"n")))
        .select($"sp", expr("(cum * 10 + n - 1) div n").as("decile"))
      spend.join(dmap, "sp")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"),
          sum($"sp".cast(DecimalType(38, 2))).as("rev"))
        .crossJoin(broadcast(n.select($"tot")))
        .withColumn("rev_share",
          round($"rev".cast(DoubleType) / $"tot".cast(DoubleType), 6))
        .withColumn("cum_share",
          round(sum($"rev".cast(DecimalType(38, 2)))
            .over(Window.orderBy($"decile")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType) / $"tot".cast(DoubleType), 6))
        .select($"decile", $"n_customers", $"rev_share", $"cum_share")
        .orderBy($"decile")
    },
    Some("""
      WITH spend AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        FROM orders GROUP BY 1
      ), n AS (
        SELECT COUNT(*) AS n, SUM(CAST(sp AS DECIMAL(38,2))) AS tot FROM spend
      ), dmap AS (
        SELECT sp, (cum * 10 + n.n - 1) // n.n AS decile
        FROM (
          SELECT sp, SUM(c) OVER (ORDER BY sp DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM (SELECT sp, COUNT(*) AS c FROM spend GROUP BY 1)), n
      ), dec AS (
        SELECT decile, COUNT(*) AS n_customers,
          SUM(CAST(spend.sp AS DECIMAL(38,2))) AS rev
        FROM spend JOIN dmap USING (sp)
        GROUP BY 1
      )
      SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        ROUND(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS rev_share,
        ROUND(CAST(SUM(CAST(rev AS DECIMAL(38,2))) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          / CAST(tot AS DOUBLE), 6) AS cum_share
      FROM dec, n
      ORDER BY decile
    """.trim))

  /** A/B-test power sizing (SURVEY §2 I-sept) — the minimum detectable
    * effect (MDE) for the AUTOMOBILE-vs-BUILDING account-balance
    * contrast `agg_welch_ttest` tests after the fact: at α = 0.05
    * (two-sided) and 80% power, MDE = (z₀.₉₇₅ + z₀.₈₀)·√(s²_a/n_a +
    * s²_b/n_b) — the experiment-design number that says what effect
    * size THIS sample could even see (running the t-test without it is
    * how underpowered "no significant difference" conclusions happen).
    * Declared with the absolute MDE, the MDE relative to the control
    * mean, and the per-arm n required to halve it (4× the current n —
    * the √n law made concrete).
    *
    * Scale notes: one k=2 map-side-combinable moment agg; all sizing
    * algebra is scalar on the 2-row table. z literals are shared
    * IEEE-754 constants in both engines; variances come off exact
    * decimal moments with the §2.0 rounding discipline.
    */
  val aggMdePower = Q(
    "agg_mde_power",
    (spark, dir) => {
      import spark.implicits._
      val zsum = 1.959963984540054 + 0.8416212335729143
      val m = segmentMoments(Tables.customer(spark, dir)
          .where($"c_mktsegment".isin("AUTOMOBILE", "BUILDING")))
        .select($"c_mktsegment", $"n",
          momentMean($"sx", $"n").as("mean"), momentVar($"sxx", $"sx", $"n").as("v"))
      val a = m.where($"c_mktsegment" === "AUTOMOBILE")
        .select($"n".as("n_a"), $"mean".as("mean_a"), $"v".as("v_a"))
      val b = m.where($"c_mktsegment" === "BUILDING")
        .select($"n".as("n_b"), $"v".as("v_b"))
      a.crossJoin(broadcast(b))
        .select($"n_a", $"n_b",
          round(lit(zsum) * sqrt($"v_a" / $"n_a" + $"v_b" / $"n_b"), 6).as("mde_abs"),
          round(lit(zsum) * sqrt($"v_a" / $"n_a" + $"v_b" / $"n_b") /
            nullif($"mean_a", lit(0.0d)), 6).as("mde_rel"),
          ($"n_a" * 4).as("n_a_for_half_mde"),
          ($"n_b" * 4).as("n_b_for_half_mde"))
    },
    Some("""
      WITH m AS (
        SELECT c_mktsegment, COUNT(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean,
          (CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
            - CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
              * CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1) AS v
        FROM customer WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING')
        GROUP BY 1
      ), a AS (SELECT n AS n_a, mean AS mean_a, v AS v_a FROM m WHERE c_mktsegment = 'AUTOMOBILE'),
         b AS (SELECT n AS n_b, v AS v_b FROM m WHERE c_mktsegment = 'BUILDING')
      SELECT n_a, n_b,
        ROUND((1.959963984540054 + 0.8416212335729143)
          * SQRT(v_a / n_a + v_b / n_b), 6) AS mde_abs,
        ROUND((1.959963984540054 + 0.8416212335729143)
          * SQRT(v_a / n_a + v_b / n_b) / NULLIF(mean_a, 0.0), 6) AS mde_rel,
        n_a * 4 AS n_a_for_half_mde,
        n_b * 4 AS n_b_for_half_mde
      FROM a, b
    """.trim))

  /** DAU/MAU stickiness per month (SURVEY §2 I-sept) — the engagement
    * ratio product teams steer by: mean daily-active users over
    * monthly-active users (1.0 = every monthly user shows up daily,
    * ~1/30 = everyone is a drive-by), next to the raw MAU and the mean
    * DAU that form it. `agg_dau_new_returning` splits WHO the actives
    * are; this row says how HABITUAL they are.
    *
    * Scale notes (100 TB): both distinct counts are exact and
    * partial-aggregated — DAU per (month, day) and MAU per month key
    * the same shuffle family; the stickiness algebra rides the bounded
    * month table. Exact BIGINT ratio at 6 dp.
    */
  val aggDauMauStickiness = Q(
    "agg_dau_mau_stickiness",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(date_trunc("month", $"ts").cast("date").as("month"),
          $"ts".cast("date").as("d"), $"user_id")
      val dau = ev.groupBy($"month", $"d")
        .agg(countDistinct($"user_id").as("dau"))
        .groupBy($"month")
        .agg(count(lit(1)).as("n_days"), sum($"dau").as("sum_dau"))
      val mau = ev.groupBy($"month")
        .agg(countDistinct($"user_id").as("mau"))
      dau.join(mau, "month")
        .select($"month", $"n_days", $"mau",
          round($"sum_dau".cast(DoubleType) / $"n_days", 6).as("mean_dau"),
          round($"sum_dau".cast(DoubleType) / $"n_days" / $"mau", 6).as("stickiness"))
        .orderBy($"month")
    },
    Some("""
      WITH ev AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
          CAST(ts AS DATE) AS d, user_id
        FROM events
      ), dau AS (
        SELECT month, COUNT(*) AS n_days, SUM(dau) AS sum_dau
        FROM (SELECT month, d, COUNT(DISTINCT user_id) AS dau
              FROM ev GROUP BY 1, 2)
        GROUP BY 1
      ), mau AS (
        SELECT month, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1
      )
      SELECT month, n_days, mau,
        ROUND(CAST(sum_dau AS DOUBLE) / n_days, 6) AS mean_dau,
        ROUND(CAST(sum_dau AS DOUBLE) / n_days / mau, 6) AS stickiness
      FROM dau JOIN mau USING (month)
      ORDER BY month
    """.trim))

  /** A/B SAMPLE-RATIO-MISMATCH check (SURVEY §2 I-oct) — the first
    * trust gate every experimentation platform runs BEFORE reading any
    * metric: with deterministic md5 arm assignment the user split must
    * be 50/50 up to chance, and a χ² (1 df) beyond the 0.05 critical
    * value (3.841) means the assignment or logging pipeline is broken —
    * every downstream result (the `agg_welch_ttest`/`agg_mde_power`
    * family) is then invalid. Observed arms = distinct event users
    * hashed like `sample_hash_split`; declared output: per-arm counts,
    * χ², and the boolean SRM flag.
    *
    * Scale notes (100 TB): one distinct-user pass (map-side partial on
    * user_id), then a 2-row χ² in exact-integer algebra: with exp = n/2,
    * χ² = (nA−nB)²/n — ONE guarded double divide, no float ordering
    * anywhere (§2.0 rule 7).
    */
  val aggAbSrmCheck = Q(
    "agg_ab_srm_check",
    (spark, dir) => {
      import spark.implicits._
      val arm = conv(substring(md5($"user_id".cast("string")), 1, 4), 16, 10)
        .cast("long") % 2
      Tables.events(spark, dir)
        .select($"user_id").distinct()
        .withColumn("arm", arm)
        .agg(
          sum(when($"arm" === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("n_b"))
        .select($"n_a", $"n_b", ($"n_a" + $"n_b").as("n_users"),
          round((($"n_a" - $"n_b") * ($"n_a" - $"n_b")).cast(DoubleType) /
            ($"n_a" + $"n_b"), 6).as("chi2"))
        .withColumn("srm_flag", $"chi2" > 3.841)
    },
    Some("""
      WITH arms AS (
        SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INTEGER) % 2
          AS arm
        FROM (SELECT DISTINCT user_id FROM events)
      ), c AS (
        SELECT
          CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM arms
      )
      SELECT n_a, n_b, n_a + n_b AS n_users,
        ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
        ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) > 3.841
          AS srm_flag
      FROM c
    """.trim))

  /** REVENUE BRIDGE (price/volume decomposition) per market segment,
    * 1997 vs 1996 (SURVEY §2 I-oct) — the FP&A waterfall that explains
    * WHERE a revenue delta came from: volume effect = Δorders × prior
    * avg order value, price/mix effect = the remainder; the two sum to
    * the delta EXACTLY by construction, so the bridge always reconciles
    * (the property that makes it an audit artifact, not an estimate).
    *
    * Scale notes (100 TB): one fact pass producing per-(segment, year)
    * exact decimal revenue + counts (map-side combinable), bridge
    * algebra on the 5-row segment table; decimal→double casts all pass
    * through width ≤ 18 (the int64 discipline).
    */
  val aggRevenueBridge = Q(
    "agg_revenue_bridge",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)
          .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
        .withColumn("yr", year($"o_orderdate"))
        .where($"yr".isin(1996, 1997))
        .groupBy($"c_mktsegment")
        .agg(
          sum(when($"yr" === 1996, 1L).otherwise(0L)).as("n1"),
          sum(when($"yr" === 1997, 1L).otherwise(0L)).as("n2"),
          coalesce(sum(when($"yr" === 1996, dec($"o_totalprice"))), lit(0))
            .cast(DecimalType(18, 2)).as("rev1"),
          coalesce(sum(when($"yr" === 1997, dec($"o_totalprice"))), lit(0))
            .cast(DecimalType(18, 2)).as("rev2"))
      base
        .withColumn("avg1", round($"rev1".cast(DoubleType) / $"n1", 6))
        .withColumn("delta", round($"rev2".cast(DoubleType) - $"rev1".cast(DoubleType), 2))
        .withColumn("volume_effect", round(($"n2" - $"n1") * $"avg1", 2))
        .withColumn("price_mix_effect", round($"delta" - $"volume_effect", 2))
        .select($"c_mktsegment", $"n1", $"n2",
          $"rev1".cast(DoubleType).as("rev1"),
          $"rev2".cast(DoubleType).as("rev2"),
          $"delta", $"volume_effect", $"price_mix_effect")
        .orderBy($"c_mktsegment")
    },
    Some("""
      WITH base AS (
        SELECT c_mktsegment,
          CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) = 1996
            THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS rev1,
          CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) = 1997
            THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS rev2
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY c_mktsegment
      )
      SELECT c_mktsegment, n1, n2,
        CAST(rev1 AS DOUBLE) AS rev1,
        CAST(rev2 AS DOUBLE) AS rev2,
        ROUND(CAST(rev2 AS DOUBLE) - CAST(rev1 AS DOUBLE), 2) AS delta,
        ROUND((n2 - n1) * ROUND(CAST(rev1 AS DOUBLE) / n1, 6), 2) AS volume_effect,
        ROUND(ROUND(CAST(rev2 AS DOUBLE) - CAST(rev1 AS DOUBLE), 2)
          - ROUND((n2 - n1) * ROUND(CAST(rev1 AS DOUBLE) / n1, 6), 2), 2)
          AS price_mix_effect
      FROM base
      ORDER BY c_mktsegment
    """.trim))

  /** Trimmed and winsorized means per market segment (SURVEY §2 I-non)
    * — the ROBUST location estimators an analytics layer reports beside
    * the raw mean when outliers are expected (trimmed DROPS the tails,
    * winsorized CLAMPS them to the cut values — reading all three tells
    * you at a glance whether the tails drive the average): per segment,
    * 10 % symmetric cut k = ⌊n/10⌋ on account balance ranked with a
    * custkey tiebreak; trimmed mean over ranks (k, n−k]; winsorized
    * mean = (trimmed sum + k·low_cut + k·high_cut)/n where the cut
    * values are the min/max INSIDE the kept range — integer-exact rank
    * selection, exact decimal sums, ONE double divide each at 6 dp.
    *
    * Scale notes (100 TB): the rank window rides one segment-keyed
    * shuffle (bounded key count, linear in rows); everything after is a
    * map-side-combinable conditional aggregation on the same pass. A
    * skew-proof variant would select the cut values via the
    * `win_rank_global_scalable` frequency-table recipe; at any realistic
    * segment cardinality the per-key sort is the plan AQE picks anyway.
    */
  val aggTrimmedWinsorized = Q(
    "agg_trimmed_winsorized",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"c_mktsegment").orderBy($"bal", $"c_custkey")
      val ranked = Tables.customer(spark, dir)
        .select($"c_mktsegment", $"c_custkey", dec($"c_acctbal").as("bal"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"c_mktsegment")))
        .withColumn("k", expr("n div 10"))
      val kept = $"rn" > $"k" && $"rn" <= ($"n" - $"k")
      ranked
        .groupBy($"c_mktsegment")
        .agg(
          first($"n").as("n"),
          first($"k").as("k"),
          sum($"bal").as("raw_sum"),
          sum(when(kept, $"bal")).as("trim_sum"),
          min(when(kept, $"bal")).as("low_cut"),
          max(when(kept, $"bal")).as("high_cut"))
        .select(
          $"c_mktsegment", $"n", $"k",
          round($"raw_sum".cast(DecimalType(18, 2)).cast(DoubleType) / $"n", 6)
            .as("raw_mean"),
          round($"trim_sum".cast(DecimalType(18, 2)).cast(DoubleType) /
            ($"n" - lit(2) * $"k"), 6).as("trimmed_mean"),
          round(($"trim_sum" + $"k" * $"low_cut" + $"k" * $"high_cut")
            .cast(DecimalType(18, 2)).cast(DoubleType) / $"n", 6).as("winsor_mean"),
          $"low_cut".cast(DoubleType).as("low_cut"),
          $"high_cut".cast(DoubleType).as("high_cut"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      WITH ranked AS (
        SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
          ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                             ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey) AS rn,
          COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
      ), cut AS (
        SELECT c_mktsegment, bal, rn, n, n // 10 AS k FROM ranked
      ), aggd AS (
        SELECT c_mktsegment,
          MAX(n) AS n, MAX(k) AS k,
          SUM(bal) AS raw_sum,
          SUM(CASE WHEN rn > k AND rn <= n - k THEN bal END) AS trim_sum,
          MIN(CASE WHEN rn > k AND rn <= n - k THEN bal END) AS low_cut,
          MAX(CASE WHEN rn > k AND rn <= n - k THEN bal END) AS high_cut
        FROM cut GROUP BY 1
      )
      SELECT c_mktsegment, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        ROUND(CAST(CAST(raw_sum AS DECIMAL(18,2)) AS DOUBLE) / n, 6) AS raw_mean,
        ROUND(CAST(CAST(trim_sum AS DECIMAL(18,2)) AS DOUBLE) / (n - 2 * k), 6)
          AS trimmed_mean,
        ROUND(CAST(CAST(trim_sum + k * low_cut + k * high_cut AS DECIMAL(18,2))
          AS DOUBLE) / n, 6) AS winsor_mean,
        CAST(low_cut AS DOUBLE) AS low_cut,
        CAST(high_cut AS DOUBLE) AS high_cut
      FROM aggd
      ORDER BY c_mktsegment
    """.trim))

  /** Holm step-down multiple-testing gate over all pairwise segment
    * contrasts (SURVEY §2 I-non) — what an experimentation platform
    * runs when it reads MANY comparisons at once: 10 pairwise Welch
    * z-tests on account balance across the 5 market segments, ranked
    * by |z|, each rank tested against its Holm-adjusted critical value
    * (α/(m−i+1), two-sided α=0.05 — the step-DOWN schedule that
    * uniformly dominates plain Bonferroni), with the step-down stop:
    * a pair is significant only if every more-extreme rank also
    * passed. Critical values are normal quantiles as LITERALS (the
    * `agg_ab_srm_check` 3.841 precedent) — the large-sample z
    * approximation is the standard gate at thousands of rows per arm;
    * `agg_welch_ttest` carries the exact df for the single-pair case.
    *
    * Scale notes (100 TB): ONE map-side-combinable moment pass
    * (n, Σx, Σx² per segment, exact decimals), then all pair algebra
    * on the bounded 5-row frame — broadcast self-pair, window rank and
    * prefix-AND all on ≤10 rows. Adding segments grows only the
    * bounded side.
    */
  val aggHolmStepdown = Q(
    "agg_holm_stepdown",
    (spark, dir) => {
      import spark.implicits._
      val m = segmentMoments(Tables.customer(spark, dir))
        .transform(graft.Checkpoints.cut)
      def se2(sxx: Column, sx: Column, n: Column) = momentVar(sxx, sx, n) / n
      val a = m.select($"c_mktsegment".as("seg_a"), $"n".as("n_a"),
        $"sx".as("sx_a"), $"sxx".as("sxx_a"))
      val b = m.select($"c_mktsegment".as("seg_b"), $"n".as("n_b"),
        $"sx".as("sx_b"), $"sxx".as("sxx_b"))
      val z = round((momentMean($"sx_a", $"n_a") - momentMean($"sx_b", $"n_b")) /
        nullif(sqrt(se2($"sxx_a", $"sx_a", $"n_a") + se2($"sxx_b", $"sx_b", $"n_b")),
          lit(0.0d)), 6)
      val thr = array(Seq(2.807034, 2.772921, 2.734369, 2.69011, 2.638257,
        2.575829, 2.497705, 2.39398, 2.241403, 1.959964).map(lit): _*)
      val wRank = Window.orderBy(abs($"z").desc, $"seg_a", $"seg_b")
      val wPrefix = Window.orderBy($"rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      a.crossJoin(broadcast(b))
        .where($"seg_a" < $"seg_b")
        .withColumn("z", z)
        .withColumn("rn", row_number().over(wRank))
        // fixture-drift guard: the ladder is a LITERAL
        // 10-quantile schedule for exactly C(5,2) pairs — a segment
        // fixture change must fail loudly, not NULL-gate significance
        // (non-ANSI element_at past the end returns NULL silently)
        .withColumn("thr",
          when($"rn" <= lit(10), element_at(thr, $"rn"))
            .otherwise(raise_error(concat(
              lit("agg_holm_stepdown: rank "), $"rn".cast("string"),
              lit(" exceeds the 10-entry Holm critical-value ladder — " +
                "segment count changed; re-derive the thresholds")))))
        .withColumn("passes", (abs($"z") >= $"thr").cast("int"))
        .withColumn("sig_holm", (min($"passes").over(wPrefix) === 1))
        .select($"rn", $"seg_a", $"seg_b", $"n_a", $"n_b", $"z", $"thr",
          ($"passes" === 1).as("passes_own_bar"), $"sig_holm")
        .orderBy($"rn")
    },
    Some(s"""
      WITH ${segmentMomentsSql("m")}, pairs AS (
        SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
          a.n AS n_a, b.n AS n_b,
          ROUND((CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
            / NULLIF(SQRT(
                (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE) / a.n)
                  / (a.n - 1) / a.n
              + (CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE) / b.n)
                  / (b.n - 1) / b.n), 0), 6) AS z
        FROM m a JOIN m b ON a.c_mktsegment < b.c_mktsegment
      ), ranked AS (
        SELECT seg_a, seg_b, n_a, n_b, z,
          ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, seg_a, seg_b) AS rn
        FROM pairs
      ), gated AS (
        SELECT rn, seg_a, seg_b, n_a, n_b, z,
          ([2.807034, 2.772921, 2.734369, 2.69011, 2.638257,
            2.575829, 2.497705, 2.39398, 2.241403, 1.959964])[rn] AS thr,
          CASE WHEN ABS(z) >= ([2.807034, 2.772921, 2.734369, 2.69011, 2.638257,
            2.575829, 2.497705, 2.39398, 2.241403, 1.959964])[rn]
            THEN 1 ELSE 0 END AS passes
        FROM ranked
      )
      SELECT rn, seg_a, seg_b, n_a, n_b, z, thr,
        passes = 1 AS passes_own_bar,
        MIN(passes) OVER (ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS sig_holm
      FROM gated
      ORDER BY rn
    """.trim))

  /** CUPED variance reduction (SURVEY §2 I-non) — the pre-experiment
    * covariate adjustment every mature experimentation platform applies
    * before reading a metric (Deng–Xu–Kohavi–Walker 2013): adjusted
    * metric Y′ = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X), where X is
    * the unit's PRE-period value of the same metric. Here: unit =
    * customer active in 1996–97, X = 1996 spend, Y = 1997 spend, arms
    * by the deterministic md5 split (`agg_ab_srm_check`'s rule).
    * Per arm: n, means, θ (pooled), adjusted mean, and the variance
    * reduction 1 − var(Y′)/var(Y) — computed EXACTLY from the moment
    * identity var(Y−θX) = var(Y) − 2θ·cov + θ²·var(X), so no second
    * pass over the data ever happens.
    *
    * Scale notes (100 TB): ONE fact-scale aggregation chain — a
    * customer-keyed conditional spend rollup, then a 2-row arm-moment
    * agg (both map-side combinable) — and bounded algebra after. Every
    * output is mean- or ratio-scale, so the 6 dp rounds sit far above
    * double noise on the exact decimal operands (the int128-ulp rule:
    * variance-scale values never surface raw).
    */
  val aggCupedAdjust = Q(
    "agg_cuped_adjust",
    (spark, dir) => {
      import spark.implicits._
      val per = Tables.orders(spark, dir)
        .where(year($"o_orderdate").isin(1996, 1997))
        .groupBy($"o_custkey")
        .agg(
          sum(when(year($"o_orderdate") === 1996, dec($"o_totalprice"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("x"),
          sum(when(year($"o_orderdate") === 1997, dec($"o_totalprice"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("y"))
        .withColumn("arm",
          conv(substring(md5($"o_custkey".cast("string")), 1, 4), 16, 10)
            .cast("long") % 2)
      val m = per.groupBy($"arm")
        .agg(
          count(lit(1)).as("n"),
          sum($"x".cast(DecimalType(28, 2))).as("sx"),
          sum($"y".cast(DecimalType(28, 2))).as("sy"),
          sum(($"x" * $"x").cast(DecimalType(38, 6))).as("sxx"),
          sum(($"x" * $"y").cast(DecimalType(38, 6))).as("sxy"),
          sum(($"y" * $"y").cast(DecimalType(38, 6))).as("syy"))
        .transform(graft.Checkpoints.cut)
      val pooled = m.agg(
        sum($"n").as("np"),
        sum($"sx").as("sxp"), sum($"sy").as("syp"),
        sum($"sxx").as("sxxp"), sum($"sxy").as("sxyp"))
      def cd(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
      val theta = (cd($"sxyp") - cd($"sxp") * cd($"syp") / $"np") /
        nullif(cd($"sxxp") - cd($"sxp") * cd($"sxp") / $"np", lit(0.0d))
      val meanXPooled = cd($"sxp") / $"np"
      val varX = (cd($"sxx") - cd($"sx") * cd($"sx") / $"n") / ($"n" - 1)
      val varY = (cd($"syy") - cd($"sy") * cd($"sy") / $"n") / ($"n" - 1)
      val covXY = (cd($"sxy") - cd($"sx") * cd($"sy") / $"n") / ($"n" - 1)
      val varAdj = varY - lit(2.0) * $"theta" * covXY +
        $"theta" * $"theta" * varX
      m.crossJoin(broadcast(
          pooled.select($"np", theta.as("theta"), meanXPooled.as("mxp"))))
        .select(
          $"arm", $"n",
          round(cd($"sx") / $"n", 6).as("mean_x"),
          round(cd($"sy") / $"n", 6).as("mean_y"),
          round($"theta", 6).as("theta"),
          round(cd($"sy") / $"n" - $"theta" * (cd($"sx") / $"n" - $"mxp"), 6)
            .as("mean_y_adj"),
          round(lit(100.0) * (lit(1.0) - varAdj / nullif(varY, lit(0.0d))), 6)
            .as("var_reduction_pct"))
        .orderBy($"arm")
    },
    Some("""
      WITH per AS (
        SELECT o_custkey,
          CAST(SUM(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(o_totalprice AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
          CAST(SUM(CASE WHEN year(o_orderdate) = 1997
              THEN CAST(o_totalprice AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y,
          CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4) AS INTEGER) % 2
            AS arm
        FROM orders
        WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY o_custkey
      ), m AS (
        SELECT arm, COUNT(*) AS n,
          SUM(CAST(x AS DECIMAL(28,2))) AS sx,
          SUM(CAST(y AS DECIMAL(28,2))) AS sy,
          SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
          SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
          SUM(CAST(y * y AS DECIMAL(38,6))) AS syy
        FROM per GROUP BY 1
      ), pooled AS (
        SELECT CAST(SUM(n) AS BIGINT) AS np,
          (CAST(SUM(sxy) AS DOUBLE) - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sy) AS DOUBLE) / SUM(n))
            / NULLIF(CAST(SUM(sxx) AS DOUBLE)
                - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sx) AS DOUBLE) / SUM(n), 0) AS theta,
          CAST(SUM(sx) AS DOUBLE) / SUM(n) AS mxp
        FROM m
      )
      SELECT arm, n,
        ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_x,
        ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
        ROUND(theta, 6) AS theta,
        ROUND(CAST(sy AS DOUBLE) / n
          - theta * (CAST(sx AS DOUBLE) / n - mxp), 6) AS mean_y_adj,
        ROUND(100.0 * (1.0 -
          ( (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
            - 2.0 * theta * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))
            + theta * theta * ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) )
          / NULLIF((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1), 0)), 6)
          AS var_reduction_pct
      FROM m, pooled
      ORDER BY arm
    """.trim))

  /** Laspeyres / Paasche / Fisher price indices, 1997 vs 1996 (SURVEY
    * §2 I-non) — the economics-standard decomposition of revenue change
    * into PRICE movement at fixed baskets (`agg_revenue_bridge` splits
    * volume-vs-rest per segment; this row measures the price level
    * itself): per part traded in BOTH years, unit values p₀, p₁
    * (period revenue / period quantity, rounded to exact DECIMAL(18,6)
    * BEFORE any reuse so the per-part divide is engine-reproducible);
    * Laspeyres = Σp₁q₀/Σp₀q₀ (base-period basket), Paasche =
    * Σp₁q₁/Σp₀q₁ (current basket), Fisher = √(L·P) — the two
    * single-basket indices bracket the truth, Fisher is the
    * superlative compromise. Also reports the matched-part count and
    * each basket total.
    *
    * Scale notes (100 TB): ONE fact pass (year-filtered, part-keyed
    * conditional sums — map-side combinable), then part-level algebra
    * whose products are exact decimals into four decimal basket sums,
    * and a 1-row index computation. The matched-parts filter is a
    * residual predicate on the aggregated frame, never a join.
    */
  val aggPriceIndexFisher = Q(
    "agg_price_index_fisher",
    (spark, dir) => {
      import spark.implicits._
      val per = Tables.lineitem(spark, dir)
        .where(year($"l_shipdate").isin(1996, 1997))
        .groupBy($"l_partkey")
        .agg(
          sum(when(year($"l_shipdate") === 1996, $"l_quantity".cast(DecimalType(18, 2)))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("q0"),
          sum(when(year($"l_shipdate") === 1997, $"l_quantity".cast(DecimalType(18, 2)))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("q1"),
          sum(when(year($"l_shipdate") === 1996, dec($"l_extendedprice"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("r0"),
          sum(when(year($"l_shipdate") === 1997, dec($"l_extendedprice"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("r1"))
        .where($"q0" > 0 && $"q1" > 0)
      val priced = per
        .withColumn("p0", round($"r0".cast(DoubleType) / $"q0".cast(DoubleType), 6)
          .cast(DecimalType(18, 6)))
        .withColumn("p1", round($"r1".cast(DoubleType) / $"q1".cast(DoubleType), 6)
          .cast(DecimalType(18, 6)))
      priced
        .agg(
          count(lit(1)).as("n_matched_parts"),
          sum(($"p1" * $"q0").cast(DecimalType(38, 8))).as("l_num"),
          sum(($"p0" * $"q0").cast(DecimalType(38, 8))).as("l_den"),
          sum(($"p1" * $"q1").cast(DecimalType(38, 8))).as("p_num"),
          sum(($"p0" * $"q1").cast(DecimalType(38, 8))).as("p_den"))
        .select(
          $"n_matched_parts",
          round($"l_num".cast(DoubleType) / $"l_den".cast(DoubleType), 6)
            .as("laspeyres"),
          round($"p_num".cast(DoubleType) / $"p_den".cast(DoubleType), 6)
            .as("paasche"),
          round(sqrt(
            ($"l_num".cast(DoubleType) / $"l_den".cast(DoubleType)) *
              ($"p_num".cast(DoubleType) / $"p_den".cast(DoubleType))), 6)
            .as("fisher"))
    },
    Some("""
      WITH per AS (
        SELECT l_partkey,
          CAST(SUM(CASE WHEN year(l_shipdate) = 1996
              THEN CAST(l_quantity AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS q0,
          CAST(SUM(CASE WHEN year(l_shipdate) = 1997
              THEN CAST(l_quantity AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS q1,
          CAST(SUM(CASE WHEN year(l_shipdate) = 1996
              THEN CAST(l_extendedprice AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS r0,
          CAST(SUM(CASE WHEN year(l_shipdate) = 1997
              THEN CAST(l_extendedprice AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS r1
        FROM lineitem
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY l_partkey
      ), priced AS (
        SELECT
          CAST(ROUND(CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE), 6) AS DECIMAL(18,6)) AS p0,
          CAST(ROUND(CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE), 6) AS DECIMAL(18,6)) AS p1,
          q0, q1
        FROM per WHERE q0 > 0 AND q1 > 0
      ), sums AS (
        SELECT COUNT(*) AS n_matched_parts,
          SUM(CAST(p1 * q0 AS DECIMAL(38,8))) AS l_num,
          SUM(CAST(p0 * q0 AS DECIMAL(38,8))) AS l_den,
          SUM(CAST(p1 * q1 AS DECIMAL(38,8))) AS p_num,
          SUM(CAST(p0 * q1 AS DECIMAL(38,8))) AS p_den
        FROM priced
      )
      SELECT n_matched_parts,
        ROUND(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6) AS laspeyres,
        ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) AS paasche,
        ROUND(SQRT((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
          * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6) AS fisher
      FROM sums
    """.trim))

  def qs: Seq[Q] = Seq(
    aggPriceIndexFisher,
    aggCupedAdjust,
    aggHolmStepdown,
    aggTrimmedWinsorized,
    aggAbSrmCheck, aggRevenueBridge,
    aggPricingSummary, aggMultiDistinct, aggStatsDecimal, aggRollup,
    aggCube, aggGroupingSets, aggFiltered, aggPivot, aggApproxHll,
    aggPercentilesExact, aggPercentilesApprox, aggStringAgg, aggCorrCovar,
    aggHistogramFixed, aggBoolLogic, aggModeFreq, aggRetentionCohorts,
    aggFunnelSteps, aggMinmaxBy, aggHeavyHittersCms, aggSkewKurtMoments,
    aggWeightedAvg, aggTimeWeightedAvg, aggHllSketchUnion,
    aggRegressionMoments, aggTransitionMatrix, aggBitmapDistinct,
    aggOhlcDownsample, aggRfmSegments, aggJourneyPattern,
    aggHistogramEquidepth, aggGiniConcentration, aggKsBinned, aggCramersV,
    aggMutualInformation, aggWelchTtest, aggMarketBasketLift,
    aggFunnelLatency, aggAttributionLastTouch, aggCohortLtvCurve,
    aggMarkovStationary, aggDauNewReturning, aggEntropyRateMarkov,
    aggInterpurchaseGaps, aggAnovaOneway, samplePoissonBootstrap,
    sampleStratifiedNeyman, aggSurvivalKm, aggGainsDeciles, aggMdePower,
    aggDauMauStickiness)
}
