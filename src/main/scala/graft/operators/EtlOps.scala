package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.1.K — daily-ETL maintenance operators: the batch
  * upsert/merge, dimension-history, and data-quality patterns at the
  * heart of a scheduled pipeline (the reference's own category is
  * "Daily ETL system for data pipelines").
  *
  * Scale notes (100 TB):
  *  - The SCD-1 merge is ONE full-outer shuffle join on the business
  *    key — the classic snapshot+delta reconciliation. No row is read
  *    twice, no driver-side diffing; at warehouse scale the same plan
  *    drives MERGE INTO on a lakehouse table format.
  *  - SCD-2 interval building is one window pass per business key
  *    (lag to detect change, lead to close intervals) — the standard
  *    one-shuffle history constructor.
  *  - The DQ audit computes each table's metrics in single passes and
  *    anti-join orphan checks; the unioned metric frame is tiny. Row
  *    counts, null counts, and orphan counts are exactly the gates a
  *    daily load would assert before publishing a partition.
  */
object EtlOps extends QueryModule {

  /** The one SCD2 versioning recipe (gaps-and-islands), written once
    * per engine. [[scd2RunStarts]] keeps the rows of an event frame that
    * start a run of equal event_type per user, (ts, event_id)-ordered;
    * [[scd2]] numbers those runs into versions with valid_from/valid_to
    * chained and the open interval flagged, naming user_id and
    * event_type `user` and `regime` in the window's own projection.
    * `etl_scd2_intervals`, `etl_scd2_apply_merge` (whose correctness
    * statement is that the incremental apply EQUALS this from-scratch
    * derivation; its batch dedup is [[scd2RunStarts]]), `join_pit_scd2`
    * and the persisted [[Scd2Dim]] all derive their versions here. The
    * oracle side is [[scd2ChangesSql]] plus [[scd2VersionsSql]].
    */
  private val scd2Order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  private[graft] def scd2RunStarts(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(scd2Order))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))

  private[graft] def scd2(ev: org.apache.spark.sql.DataFrame, user: String = "user_id",
      regime: String = "event_type"): org.apache.spark.sql.DataFrame =
    scd2RunStarts(ev).select(
      col("user_id").as(user),
      row_number().over(scd2Order).cast("long").as("version"),
      col("event_type").as(regime),
      col("ts").as("valid_from"),
      lead(col("ts"), 1).over(scd2Order).as("valid_to"),
      lead(col("ts"), 1).over(scd2Order).isNull.as("is_current"))

  /** The `changes` CTE: the run starts of [[scd2RunStarts]] in DuckDB. */
  private[graft] val scd2ChangesSql = """changes AS (
        SELECT user_id, event_id, ts, event_type
        FROM (
          SELECT user_id, event_id, ts, event_type,
            LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events)
        WHERE prev_type IS NULL OR prev_type <> event_type
      )"""

  /** The version select over `changes`, as [[scd2]] numbers it. `user`
    * and `regime` follow user_id and event_type (" AS v_user" renames,
    * "" keeps the name); `more` appends select items after valid_to.
    */
  private[graft] def scd2VersionsSql(user: String, regime: String, more: String): String =
    s"""SELECT user_id$user,
          CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
          event_type$regime,
          ts AS valid_from,
          LEAD(ts) OVER w AS valid_to$more
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** The whole-history oracle of `etl_scd2_intervals` and
    * `etl_scd2_apply_merge`.
    */
  private val scd2HistorySql = s"""
      WITH $scd2ChangesSql
      ${scd2VersionsSql("", "", ", LEAD(ts) OVER w IS NULL AS is_current")}
      ORDER BY user_id, version
    """.trim

  /** SCD-1 incremental merge (upsert): the customer snapshot merged
    * with a delta of purchase totals per user. Keys only in the delta
    * become inserts, keys only in the snapshot are kept, keys in both
    * get an updated balance — the full action column makes the merge
    * decision auditable.
    */
  val etlIncrementalMerge = Q(
    "etl_incremental_merge",
    (spark, dir) => {
      import spark.implicits._
      // side-membership via explicit marker columns, NOT value-null
      // proxies: a matched row whose c_acctbal (or whose delta, from
      // all-null values) happens to be NULL must still classify by key
      // presence
      val target = Tables.customer(spark, dir)
        .select($"c_custkey".as("key"), $"c_acctbal", $"c_mktsegment",
          lit(true).as("in_target"))
      val updates = Tables.events(spark, dir)
        .where($"event_type" === "purchase")
        .groupBy($"user_id".as("key"))
        .agg(sum(dec($"value", 18, 6)).as("delta"), count(lit(1)).as("n_upd"),
          first(lit(true)).as("in_upd"))
      target
        .join(updates, Seq("key"), "full_outer")
        .select(
          $"key",
          when($"in_target".isNull, lit("insert"))
            .when($"in_upd".isNull, lit("keep"))
            .otherwise(lit("update")).as("action"),
          (coalesce(dec($"c_acctbal", 18, 6), dec(lit(0), 18, 6)) +
            coalesce($"delta", dec(lit(0), 18, 6))).as("new_acctbal"),
          coalesce($"c_mktsegment", lit("UNKNOWN")).as("mktsegment"),
          coalesce($"n_upd", lit(0L)).as("n_updates"))
        .orderBy($"key")
    },
    Some("""
      WITH target AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, TRUE AS in_target
        FROM customer
      ), updates AS (
        SELECT user_id AS key,
          SUM(CAST(value AS DECIMAL(18,6))) AS delta,
          COUNT(*) AS n_upd,
          TRUE AS in_upd
        FROM events WHERE event_type = 'purchase' GROUP BY 1
      )
      SELECT COALESCE(c_custkey, key) AS key,
        CASE WHEN in_target IS NULL THEN 'insert'
             WHEN in_upd IS NULL THEN 'keep'
             ELSE 'update' END AS action,
        CAST(COALESCE(CAST(c_acctbal AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
             + COALESCE(delta, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS new_acctbal,
        COALESCE(c_mktsegment, 'UNKNOWN') AS mktsegment,
        COALESCE(n_upd, 0) AS n_updates
      FROM target FULL OUTER JOIN updates ON c_custkey = key
      ORDER BY key
    """.trim))

  /** SCD-2 history build: per user, collapse the event stream into
    * validity intervals of the observed event_type — a new version
    * starts whenever the type changes; `valid_to` is the next version's
    * start (NULL while current). One window pass per business key.
    */
  val etlScd2Intervals = Q(
    "etl_scd2_intervals",
    (spark, dir) => {
      import spark.implicits._
      scd2(Tables.events(spark, dir)).orderBy($"user_id", $"version")
    },
    Some(scd2HistorySql))

  /** Data-quality audit gate: the metric set a daily load asserts
    * before publishing — row counts, key cardinalities, null counts,
    * referential orphans (anti-joins), and a reconciliation total.
    * Long format (metric, value) so the gate is one comparable frame.
    */
  val etlDqAudit = Q(
    "etl_dq_audit",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
      val li = Tables.lineitem(spark, dir)
      val c = Tables.customer(spark, dir)
      def metric(name: String, v: org.apache.spark.sql.Column,
                 df: org.apache.spark.sql.DataFrame) =
        df.agg(v.cast(DoubleType).as("value")).select(lit(name).as("metric"), $"value")
      metric("lineitem_orphan_orderkeys", count(lit(1)),
          li.join(o, $"l_orderkey" === $"o_orderkey", "left_anti"))
        .unionByName(metric("orders_distinct_custkeys", countDistinct($"o_custkey"), o))
        .unionByName(metric("orders_null_totalprice",
          sum(when($"o_totalprice".isNull, 1L).otherwise(0L)), o))
        .unionByName(metric("orders_orphan_custkeys", count(lit(1)),
          o.join(c, $"o_custkey" === $"c_custkey", "left_anti")))
        .unionByName(metric("orders_rows", count(lit(1)), o))
        .unionByName(metric("orders_totalprice_sum",
          sum(dec($"o_totalprice")).cast(DecimalType(18, 2)), o))
        .orderBy($"metric")
    },
    Some("""
      SELECT 'lineitem_orphan_orderkeys' AS metric,
        CAST((SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE) AS value
      UNION ALL
      SELECT 'orders_distinct_custkeys', CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS DOUBLE)
      UNION ALL
      SELECT 'orders_null_totalprice', CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL) AS DOUBLE)
      UNION ALL
      SELECT 'orders_orphan_custkeys',
        CAST((SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS DOUBLE)
      UNION ALL
      SELECT 'orders_rows', CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
      UNION ALL
      SELECT 'orders_totalprice_sum',
        CAST((SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) FROM orders) AS DOUBLE)
      ORDER BY metric
    """.trim))

  /** Metric anomaly detection for pipeline monitoring: per-event-type
    * z-scores over the `value` metric, emitting only the outliers a
    * daily run would alert on (|z| ≥ 2.5 after 6-decimal rounding).
    *
    * Numeric discipline (same as `agg_corr_covar`): the per-group
    * moments are EXACT decimal sums — order-independent across
    * partitionings — and the mean/σ/z arithmetic then runs in double
    * on those exact sums, so both engines see bit-identical inputs
    * to bit-identical float ops. The outlier gate compares the
    * DECIMAL(18,6)-rounded z, never the raw double, so a value
    * straddling the threshold cannot flip between engines.
    *
    * Scale notes (100 TB): one map-side-combinable groupBy over the
    * metric stream for the moments (a handful of rows out), then one
    * broadcast join back — the stats side is per-event-type and tiny
    * by construction, so the detail table is never shuffled.
    */
  val etlAnomalyZscore = Q(
    "etl_anomaly_zscore",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val m = ev
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 10))).as("sx"),
          sum(($"value" * $"value").cast(DecimalType(38, 10))).as("sxx"))
      val mu = $"sx".cast(DoubleType) / $"n"
      val varSamp =
        ($"sxx".cast(DoubleType) - $"n" * mu * mu) / ($"n" - 1)
      val stats = m.select($"event_type", mu.as("mu"), sqrt(varSamp).as("sigma"))
      ev
        .join(broadcast(stats), Seq("event_type"))
        .select(
          $"event_id", $"event_type", $"value",
          (($"value" - $"mu") / $"sigma").cast(DecimalType(18, 6)).as("z"))
        .where(abs($"z") >= 2.5)
        .orderBy($"event_id")
    },
    Some("""
      WITH m AS (
        SELECT event_type, COUNT(*) AS n,
          SUM(CAST(value AS DECIMAL(28,10))) AS sx,
          SUM(CAST(value * value AS DECIMAL(38,10))) AS sxx
        FROM events GROUP BY event_type
      ), stats AS (
        SELECT event_type,
          CAST(sx AS DOUBLE) / n AS mu,
          SQRT((CAST(sxx AS DOUBLE) - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / (n - 1)) AS sigma
        FROM m
      ), z AS (
        SELECT e.event_id, e.event_type, e.value,
          CAST((e.value - s.mu) / s.sigma AS DECIMAL(18,6)) AS z
        FROM events e JOIN stats s USING (event_type)
      )
      SELECT event_id, event_type, value, CAST(z AS DOUBLE) AS z
      FROM z WHERE ABS(z) >= 2.5 ORDER BY event_id
    """.trim))

  /** Time-series gap filling with last-observation-carried-forward:
    * each purchase user's daily revenue on a complete calendar spine
    * from their first to last active day — missing days carry the
    * last observed value, with an observed/filled marker. The daily
    * reporting join every metrics pipeline needs (downstream
    * aggregation over a gappy series silently under-counts days).
    *
    * Scale notes (100 TB): the spine is generated per user from a
    * 2-column span table (`sequence` + explode — no driver-side
    * calendar), the daily rollup is map-side combinable, and both the
    * spine join and the LOCF window shuffle on the same user_id key —
    * one exchange reused end-to-end.
    */
  val etlGapFillLocf = Q(
    "etl_gap_fill_locf",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.events(spark, dir)
        .where($"event_type" === "purchase")
        .groupBy($"user_id", $"ts".cast("date").as("day"))
        .agg(sum(dec($"value", 18, 6)).as("day_value"))
      val spine = daily
        .groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
      val w = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(daily, Seq("user_id", "day"), "left")
        .select(
          $"user_id",
          $"day".cast("timestamp").as("day"),
          last($"day_value", ignoreNulls = true).over(w).as("locf_value"),
          $"day_value".isNotNull.cast("long").as("observed"))
        .orderBy($"user_id", $"day")
    },
    Some("""
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(18,6))) AS day_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      ), span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
      ), spine AS (
        SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
      ), j AS (
        SELECT s.user_id, s.day, d.day_value
        FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      )
      SELECT user_id, CAST(day AS TIMESTAMP) AS day,
        CAST(LAST_VALUE(day_value IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS locf_value,
        CAST(CASE WHEN day_value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed
      FROM j ORDER BY user_id, day
    """.trim))

  /** Small-file compaction — the table-maintenance job every streaming/
    * incremental sink needs: a fragmented layout (32 writer-partition
    * files, simulating per-microbatch appends) is rewritten into few
    * bounded-size files, provably losslessly. `maxRecordsPerFile` is the
    * file-size knob; the declared output carries the before/after file
    * counts plus the row count and exact decimal sum that prove no data
    * moved or changed.
    *
    * Scale notes (100 TB): real compaction repartitions each table
    * partition to byte-targeted tasks and runs incrementally partition-
    * by-partition (pay-per-fragmented-partition, never a full-table
    * rewrite). `coalesce(1)` here makes the compacted file count an
    * exactly provable function (ceil(rows/5000)) for the oracle; the
    * writer still splits output at the record cap. Scratch paths are
    * per-invocation under the session's scratch root (same
    * no-shared-state discipline as the other sink rows).
    */
  val etlCompactSmallFiles = Q(
    "etl_compact_small_files",
    (spark, dir) => {
      import spark.implicits._
      val runId = Artifacts.uniqueId()
      val small = s"${Artifacts.scratchRoot}/compact_src_$runId"
      val compacted = s"${Artifacts.scratchRoot}/compact_out_$runId"
      // one ship-half-year slice: the compaction file math (32 fragments
      // → ceil(n/5000) files) is volume-independent — compacting more
      // history just multiplies the bench write cost (paid TWICE here:
      // fragment write + compacted rewrite)
      Tables.lineitem(spark, dir)
        .where($"l_shipdate" >= "1997-01-01" && $"l_shipdate" < "1997-07-01")
        .select($"l_orderkey", $"l_linenumber", dec($"l_quantity").as("qty"))
        .repartition(32)
        .write.mode("overwrite").parquet(small)
      spark.read.parquet(small)
        .coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "5000")
        .parquet(compacted)
      def nFiles(p: String): Long = {
        val fs = org.apache.hadoop.fs.FileSystem
          .get(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .count(_.getPath.getName.startsWith("part-")).toLong
      }
      val (before, after) = (nFiles(small), nFiles(compacted))
      spark.read.parquet(compacted)
        .agg(count(lit(1)).as("n_rows"), sum($"qty").as("sum_qty"))
        .select(
          lit(before).as("files_before"), lit(after).as("files_after"),
          $"n_rows", $"sum_qty")
        .orderBy($"files_before")
    },
    Some("""
      SELECT 32 AS files_before,
        CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT) AS files_after,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'
    """.trim))

  /** CDC changelog between two snapshots of the orders table: the old
    * snapshot is the pre-cutoff view; the new snapshot extends the date
    * window (inserts), drops every 97th key (deletes), and reprices
    * urgent orders +5% (updates). Rows are compared by FINGERPRINT —
    * md5 over canonicalized columns (fixed-scale decimal rendering, so
    * both engines hash identical bytes) — the way a real snapshot diff
    * avoids comparing N columns individually. Declared output: per-action
    * row counts + the exact decimal price delta the change set carries.
    *
    * Scale notes (100 TB): ONE full-outer hash join on the key;
    * fingerprints are computed map-side before the shuffle, so the
    * exchange carries (key, 32-byte hash, price) — never the wide row.
    * At lakehouse scale the same plan emits the changelog a downstream
    * MERGE INTO consumes.
    */
  val etlSnapshotDiff = Q(
    "etl_snapshot_diff",
    (spark, dir) => {
      import spark.implicits._
      def fingerprint(status: org.apache.spark.sql.Column,
                      price: org.apache.spark.sql.Column) =
        md5(concat_ws("|", status, price.cast("string")))
      val orders = Tables.orders(spark, dir)
      // both snapshots render the price at the SAME scale (2+2=4 after
      // the decimal multiply) so unchanged rows hash identical bytes
      val oldPrice = dec($"o_totalprice") * dec(lit(1.00))
      val newPrice = when($"o_orderpriority" === "1-URGENT",
          dec($"o_totalprice") * dec(lit(1.05)))
        .otherwise(dec($"o_totalprice") * dec(lit(1.00)))
      val oldSnap = orders
        .where($"o_orderdate" < "1997-07-01")
        .select($"o_orderkey".as("key"),
          fingerprint($"o_orderstatus", oldPrice).as("old_fp"),
          oldPrice.as("old_price"))
      val newSnap = orders
        .where($"o_orderdate" < "1998-01-01" && $"o_orderkey" % 97 =!= 0)
        .select($"o_orderkey".as("key"),
          fingerprint($"o_orderstatus", newPrice).as("new_fp"),
          newPrice.as("new_price"))
      oldSnap.join(newSnap, Seq("key"), "full_outer")
        .select(
          when($"old_fp".isNull, lit("insert"))
            .when($"new_fp".isNull, lit("delete"))
            .when($"old_fp" === $"new_fp", lit("unchanged"))
            .otherwise(lit("update")).as("action"),
          (coalesce($"new_price", dec(lit(0), 18, 4)) -
            coalesce($"old_price", dec(lit(0), 18, 4))).as("delta"))
        .groupBy($"action")
        .agg(count(lit(1)).as("n"), sum($"delta").as("price_delta"))
        .orderBy($"action")
    },
    Some("""
      WITH old_snap AS (
        SELECT o_orderkey AS key,
          md5(concat_ws('|', o_orderstatus,
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.00 AS DECIMAL(18,2)) AS VARCHAR))) AS old_fp,
          CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.00 AS DECIMAL(18,2)) AS old_price
        FROM orders WHERE o_orderdate < '1997-07-01'
      ), new_snap AS (
        SELECT o_orderkey AS key,
          md5(concat_ws('|', o_orderstatus,
            CAST(CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(18,2))
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.00 AS DECIMAL(18,2))
            END AS VARCHAR))) AS new_fp,
          CASE WHEN o_orderpriority = '1-URGENT'
            THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(18,2))
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.00 AS DECIMAL(18,2))
          END AS new_price
        FROM orders WHERE o_orderdate < '1998-01-01' AND o_orderkey % 97 <> 0
      )
      SELECT CASE WHEN old_fp IS NULL THEN 'insert'
                  WHEN new_fp IS NULL THEN 'delete'
                  WHEN old_fp = new_fp THEN 'unchanged'
                  ELSE 'update' END AS action,
        COUNT(*) AS n,
        CAST(SUM(COALESCE(new_price, CAST(0 AS DECIMAL(18,4)))
               - COALESCE(old_price, CAST(0 AS DECIMAL(18,4)))) AS DOUBLE) AS price_delta
      FROM old_snap FULL OUTER JOIN new_snap USING (key)
      GROUP BY 1 ORDER BY action
    """.trim))

  /** Idempotent partition backfill: the orders table laid out
    * `partitionBy(o_year)`, then ONE year recomputed (the backfill drops
    * that year's F-status rows) and rewritten under
    * `partitionOverwriteMode=dynamic` — only the touched partition's
    * files are replaced; every other partition keeps its original files.
    * This is the lakehouse backfill discipline: a full-table overwrite
    * would rewrite 100 TB to correct one day.
    *
    * The declared output reads the table AFTER the backfill: per-year
    * row counts and exact decimal totals, where only the backfilled year
    * differs from the source — proving both the rewrite and the
    * isolation of untouched partitions. The overwrite mode rides the
    * WRITER as an option — never the session conf, which would race any
    * concurrent writer in the same session (same writer-scoped
    * discipline as the streaming foreachBatch sink).
    */
  val etlBackfillDynamicOverwrite = Q(
    "etl_backfill_dynamic_overwrite",
    (spark, dir) => {
      import spark.implicits._
      val path = s"${Artifacts.scratchRoot}/backfill_${Artifacts.uniqueId()}"
      // a 3-year slice: the isolation proof needs the backfilled year
      // plus untouched neighbors on both sides — laying out all 7 years
      // proves nothing more while paying 2.3× the bench write cost
      val withYear = Tables.orders(spark, dir)
        .where($"o_orderdate" >= "1995-01-01" && $"o_orderdate" < "1998-01-01")
        .select($"o_orderkey", $"o_orderstatus", dec($"o_totalprice").as("price"),
          year($"o_orderdate").cast("long").as("o_year"))
      withYear.write.mode("overwrite").partitionBy("o_year").parquet(path)
      // per-WRITE option, not the session conf: a
      // session-global toggle races any concurrent writer in the same
      // session; the writer-scoped option changes only this write
      withYear
        .where($"o_year" === 1996 && $"o_orderstatus" =!= "F")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year").parquet(path)
      spark.read.parquet(path)
        .groupBy($"o_year".cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_orders"), sum($"price").as("total_price"))
        .orderBy($"o_year")
    },
    Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders
      WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1998-01-01'
        AND (year(o_orderdate) <> 1996 OR o_orderstatus <> 'F')
      GROUP BY 1 ORDER BY o_year
    """.trim))

  /** Recursive CTE (Spark 4's `WITH RECURSIVE` surface): a month spine
    * generated by SQL recursion from the orders span, left-joined back
    * for a zero-filled monthly rollup — months with no orders appear as
    * zero rows, which a plain GROUP BY silently drops. The SQL-native
    * alternative to the `sequence()+explode` spine (`etl_gap_fill_locf`);
    * the oracle runs the IDENTICAL text (DuckDB shares the syntax).
    *
    * Scale notes (100 TB): the recursion runs on MONTH-INDEX integers
    * with a 12-row anchor and a +12 step, so depth = number of YEARS
    * (≤ 7 here), not months — each Spark recursion step is a scheduled
    * job, so an 80-deep month-at-a-time loop costs ~80 job launches
    * (measured 13.7 s) while the year-batched form is ~1.5 s for the
    * same spine. The heavy side stays one map-side-combinable rollup
    * of the fact table plus a broadcast-sized spine join.
    */
  val sqlRecursiveSpine = Q(
    "sql_recursive_spine",
    (spark, dir) => {
      val ov = s"orders_${Artifacts.uniqueId()}"
      Tables.orders(spark, dir).createOrReplaceTempView(ov)
      // resolve the spine bounds ONCE (r13): the recursion's stop
      // condition carried a scalar subquery over orders, and every
      // recursion step is its own scheduled job — re-running the
      // MIN/MAX scan per step plus the two months-CTE subqueries cost
      // ~8 extra jobs at sf0.1 (1.45 s → ~0.8 s). One bounded 1-row
      // aggregate (the broadcast-threshold pattern) feeds the bounds in
      // as literals; the recursion, spine and rollup are unchanged.
      import org.apache.spark.sql.functions.{min => fmin, max => fmax}
      val b = Tables.orders(spark, dir)
        .agg(fmin(org.apache.spark.sql.functions.col("o_orderdate")).as("lo"),
          fmax(org.apache.spark.sql.functions.col("o_orderdate")).as("hi"))
        .selectExpr(
          "(year(hi) - year(lo)) * 12 + (month(hi) - month(lo)) AS span",
          "CAST(DATE_TRUNC('month', lo) AS DATE) AS m0")
        .head()
      val span = b.getInt(0)
      val m0 = b.getDate(1)
      // spark.sql analyzes eagerly, binding the view's plan into the
      // returned frame — the view can be dropped as soon as the frame
      // exists (repeated invocations must not accumulate temp views)
      try spark.sql(s"""
        WITH RECURSIVE idx(i) AS (
          SELECT CAST(v AS BIGINT) FROM VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11) t(v)
          UNION ALL
          SELECT i + 12 FROM idx
          WHERE i + 12 <= $span
        ), months AS (
          SELECT CAST(add_months(DATE '$m0', i) AS TIMESTAMP) AS m
          FROM idx
          WHERE i <= $span
        ), monthly AS (
          SELECT DATE_TRUNC('month', o_orderdate) AS m,
            COUNT(*) AS n_orders,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
          FROM $ov GROUP BY 1
        )
        SELECT months.m AS month,
          COALESCE(n_orders, 0) AS n_orders,
          CAST(COALESCE(revenue, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM months LEFT JOIN monthly ON months.m = monthly.m
        ORDER BY month
      """)
      finally spark.catalog.dropTempView(ov)
    },
    Some("""
      WITH RECURSIVE idx(i) AS (
        SELECT CAST(v AS BIGINT) FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11)) t(v)
        UNION ALL
        SELECT i + 12 FROM idx
        WHERE i + 12 <= (SELECT (year(MAX(o_orderdate)) - year(MIN(o_orderdate))) * 12
                                + (month(MAX(o_orderdate)) - month(MIN(o_orderdate)))
                         FROM orders)
      ), months AS (
        SELECT CAST((SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) FROM orders)
               + to_months(CAST(i AS INT)) AS TIMESTAMP) AS m
        FROM idx
        WHERE i <= (SELECT (year(MAX(o_orderdate)) - year(MIN(o_orderdate))) * 12
                           + (month(MAX(o_orderdate)) - month(MIN(o_orderdate)))
                    FROM orders)
      ), monthly AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS m,
          COUNT(*) AS n_orders,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
      )
      SELECT months.m AS month,
        COALESCE(n_orders, 0) AS n_orders,
        CAST(COALESCE(revenue, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM months LEFT JOIN monthly ON months.m = monthly.m
      ORDER BY month
    """.trim))

  /** Catalog statistics collection (`ANALYZE TABLE … COMPUTE STATISTICS
    * FOR COLUMNS`) — the nightly stats job that feeds the cost-based
    * optimizer: without stats, CBO join reorder and stats-based
    * broadcast decisions cannot fire. The declared output reads the
    * EXACT fields back from the catalog (row count, per-column null
    * count and min/max — `distinctCount` is HLL-approximate and engine-
    * specific, so it is deliberately excluded) and the oracle recomputes
    * them from the data: a pass proves the catalog agrees with the
    * table, which is precisely what a stats-freshness audit asserts.
    *
    * Scale notes (100 TB): ANALYZE is one map-side-combinable scan per
    * run; stats are O(columns) bytes in the metastore. Table name is
    * per-invocation unique (same no-shared-state discipline as the
    * other saveAsTable rows), dropped after the stats frame is built.
    */
  val etlCatalogStats = Q(
    "etl_catalog_stats",
    (spark, dir) => {
      import spark.implicits._
      val t = s"stats_orders_${Artifacts.uniqueId()}"
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").saveAsTable(t)
      try {
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey, o_totalprice")
        val meta = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        val stats = meta.stats.get
        val rows = stats.rowCount.get.toLong
        val cols = stats.colStats.toSeq.sortBy(_._1).map { case (c, s) =>
          (c, rows, s.nullCount.map(_.toLong).getOrElse(-1L),
            s.min.map(_.toDouble).getOrElse(Double.NaN),
            s.max.map(_.toDouble).getOrElse(Double.NaN))
        }
        spark.createDataset(cols)
          .toDF("col_name", "row_count", "null_count", "min_val", "max_val")
          .orderBy($"col_name")
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    },
    Some("""
      SELECT 'o_custkey' AS col_name, COUNT(*) AS row_count,
        COUNT(*) - COUNT(o_custkey) AS null_count,
        CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
        CAST(MAX(o_custkey) AS DOUBLE) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
        CAST(MIN(o_orderkey) AS DOUBLE), CAST(MAX(o_orderkey) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
      FROM orders
      ORDER BY col_name
    """.trim))

  /** Order-independent TABLE CHECKSUM — cross-system migration
    * validation without moving data: each row hashes to a 60-bit value
    * (md5 over '|'-joined canonicalized columns — doubles rendered at
    * fixed decimal scale so both engines hash identical bytes), and the
    * EXACT decimal sum of row hashes, folded modulo 2^63 into a
    * BIGINT, is the table's checksum. The fold matters: a ~100-row sum
    * of 60-bit hashes (~5e19) already exceeds 2^53, so rendering the
    * raw sum as DOUBLE rounds away the low ~6 digits — exactly the
    * digits a single-cell corruption perturbs; the BIGINT fold keeps
    * the cross-engine compare exact to the last bit. Two engines
    * computing the same (count, checksum) pair proves the tables are
    * equal with overwhelming probability — the tool a migration signs
    * off with, here declared over three dims in long format.
    *
    * Scale notes (100 TB): the checksum is one map-side-combinable
    * aggregation per table — each partition reduces to a single
    * (count, sum) pair before the shuffle, so validating a 100 TB
    * table costs one scan and transfers bytes.
    */
  val etlRowChecksumAudit = Q(
    "etl_row_checksum_audit",
    (spark, dir) => {
      import spark.implicits._
      def checksum(name: String, df: org.apache.spark.sql.DataFrame,
                   cols: org.apache.spark.sql.Column*) = {
        val h = conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long")
        val fold = lit(BigDecimal("9223372036854775808")).cast(DecimalType(38, 0))
        df.agg(
            count(lit(1)).as("n_rows"),
            (sum(h.cast(DecimalType(38, 0))) % fold).cast("long").as("checksum"))
          .select(lit(name).as("table_name"), $"n_rows", $"checksum")
      }
      checksum("nation", Tables.nation(spark, dir),
          $"n_nationkey", $"n_name", $"n_regionkey")
        .unionByName(checksum("region", Tables.region(spark, dir),
          $"r_regionkey", $"r_name"))
        .unionByName(checksum("supplier", Tables.supplier(spark, dir),
          $"s_suppkey", $"s_name", $"s_nationkey",
          dec($"s_acctbal").cast("string")))
        .orderBy($"table_name")
    },
    Some("""
      SELECT 'nation' AS table_name, COUNT(*) AS n_rows,
        CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|',
          CAST(n_nationkey AS VARCHAR), n_name, CAST(n_regionkey AS VARCHAR))), 1, 15)
          AS BIGINT) AS DECIMAL(38,0))) % CAST('9223372036854775808' AS DECIMAL(38,0)) AS BIGINT) AS checksum
      FROM nation
      UNION ALL
      SELECT 'region', COUNT(*),
        CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|',
          CAST(r_regionkey AS VARCHAR), r_name)), 1, 15)
          AS BIGINT) AS DECIMAL(38,0))) % CAST('9223372036854775808' AS DECIMAL(38,0)) AS BIGINT)
      FROM region
      UNION ALL
      SELECT 'supplier', COUNT(*),
        CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|',
          CAST(s_suppkey AS VARCHAR), s_name, CAST(s_nationkey AS VARCHAR),
          CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR))), 1, 15)
          AS BIGINT) AS DECIMAL(38,0))) % CAST('9223372036854775808' AS DECIMAL(38,0)) AS BIGINT)
      FROM supplier
      ORDER BY table_name
    """.trim))

  /** Correlated SCALAR subquery (the third correlated-subquery form
    * beside `join_existence_mark`'s EXISTS and
    * `join_not_in_null_aware`'s NOT IN): each order compared against
    * ITS OWN customer's average order value — Catalyst decorrelates
    * the per-row aggregate lookup into one grouped aggregate plus an
    * equi-join, the rewrite that makes "vs own-group average"
    * queries linear instead of O(n·groups).
    *
    * Cross-engine knife-edge note: prices carry 2 decimals, so the
    * smallest nonzero |price − avg| is 1/(100·n_orders) — orders of
    * magnitude above Spark's scale-6 avg rounding and double
    * conversion error, so the strict > comparison can't flip between
    * engines (equality ⇒ false on both).
    *
    * Scale notes (100 TB): the decorrelated form shuffles orders once
    * on o_custkey for the avg and joins back on the same key (exchange
    * reuse); the final rollup is a 5-key hash agg.
    */
  val sqlCorrelatedScalar = Q(
    "sql_correlated_scalar",
    (spark, dir) => {
      val ov = s"orders_${Artifacts.uniqueId()}"
      Tables.orders(spark, dir).createOrReplaceTempView(ov)
      try spark.sql(s"""
        SELECT o_orderpriority,
          COUNT(*) AS n_above,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
        FROM $ov o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
          (SELECT AVG(CAST(i.o_totalprice AS DECIMAL(18,2)))
           FROM $ov i WHERE i.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
      finally spark.catalog.dropTempView(ov)
    },
    Some("""
      SELECT o_orderpriority,
        COUNT(*) AS n_above,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
      FROM orders o
      WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
        (SELECT AVG(CAST(i.o_totalprice AS DECIMAL(18,2)))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.trim))

  /** Referential-integrity audit over the schema's FK graph, BOTH
    * directions per relation: orphaned children (FK with no parent —
    * broken ingest) and unreferenced parents (dimension rows no fact
    * ever touches — retention candidates). One row per relation with
    * counts and orphan rate; a healthy warehouse shows n_orphan = 0
    * while n_unref_parent is expected drift.
    *
    * Scale notes (100 TB): each relation is ONE pass — the child side
    * pre-aggregates per FK value (map-side-combinable, shuffle carries
    * distinct keys not rows), the parent side is its distinct PK, and
    * a single full-outer equi-join classifies all three populations
    * (matched / orphan / unreferenced) before a global 1-row agg. No
    * anti-join double-scan, no broadcast requirement (both sides are
    * key-partitioned), and the four relations' plans are independent —
    * a real audit fans them out as one union job.
    */
  val etlFkOrphanAudit = Q(
    "etl_fk_orphan_audit",
    (spark, dir) => {
      def audit(rel: String, child: org.apache.spark.sql.DataFrame, key: String,
          parent: org.apache.spark.sql.DataFrame, pkey: String) = {
        val ck = child.groupBy(col(key).as("k")).agg(count(lit(1)).as("nc"))
        val pk = parent.select(col(pkey).as("k")).distinct
          .withColumn("isp", lit(true))
        ck.join(pk, Seq("k"), "full")
          .agg(
            coalesce(sum(coalesce(col("nc"), lit(0L))), lit(0L)).as("n_child"),
            coalesce(sum(when(col("isp").isNull, col("nc"))), lit(0L)).as("n_orphan"),
            count(when(col("isp"), 1)).as("n_parent"),
            count(when(col("isp") && col("nc").isNull, 1)).as("n_unref_parent"))
          .select(
            lit(rel).as("relation"),
            col("n_child").cast("long").as("n_child"),
            col("n_orphan").cast("long").as("n_orphan"),
            (col("n_orphan").cast(DoubleType) / col("n_child"))
              .cast(DecimalType(18, 6)).as("orphan_rate"),
            col("n_parent"), col("n_unref_parent"))
      }
      audit("events.user_id->customer", Tables.events(spark, dir), "user_id",
          Tables.customer(spark, dir), "c_custkey")
        .unionByName(audit("lineitem.l_orderkey->orders",
          Tables.lineitem(spark, dir), "l_orderkey",
          Tables.orders(spark, dir), "o_orderkey"))
        .unionByName(audit("lineitem.l_partkey->part",
          Tables.lineitem(spark, dir), "l_partkey",
          Tables.part(spark, dir), "p_partkey"))
        .unionByName(audit("orders.o_custkey->customer",
          Tables.orders(spark, dir), "o_custkey",
          Tables.customer(spark, dir), "c_custkey"))
        .orderBy(col("relation"))
    },
    Some("""
      WITH
      ek AS (SELECT user_id AS k, COUNT(*) AS nc FROM events GROUP BY 1),
      ck AS (SELECT DISTINCT c_custkey AS k, TRUE AS isp FROM customer),
      lk AS (SELECT l_orderkey AS k, COUNT(*) AS nc FROM lineitem GROUP BY 1),
      ok AS (SELECT DISTINCT o_orderkey AS k, TRUE AS isp FROM orders),
      lpk AS (SELECT l_partkey AS k, COUNT(*) AS nc FROM lineitem GROUP BY 1),
      ppk AS (SELECT DISTINCT p_partkey AS k, TRUE AS isp FROM part),
      ock AS (SELECT o_custkey AS k, COUNT(*) AS nc FROM orders GROUP BY 1),
      rel AS (
        SELECT 'events.user_id->customer' AS relation, * FROM ek FULL JOIN ck USING (k)
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders', * FROM lk FULL JOIN ok USING (k)
        UNION ALL
        SELECT 'lineitem.l_partkey->part', * FROM lpk FULL JOIN ppk USING (k)
        UNION ALL
        SELECT 'orders.o_custkey->customer', * FROM ock FULL JOIN ck USING (k))
      SELECT relation,
        CAST(COALESCE(SUM(COALESCE(nc, 0)), 0) AS BIGINT) AS n_child,
        CAST(COALESCE(SUM(CASE WHEN isp IS NULL THEN nc END), 0) AS BIGINT) AS n_orphan,
        CAST(CAST(COALESCE(SUM(CASE WHEN isp IS NULL THEN nc END), 0) AS DOUBLE) /
             COALESCE(SUM(COALESCE(nc, 0)), 0) AS DECIMAL(18,6)) AS orphan_rate,
        CAST(COUNT(CASE WHEN isp THEN 1 END) AS BIGINT) AS n_parent,
        CAST(COUNT(CASE WHEN isp AND nc IS NULL THEN 1 END) AS BIGINT) AS n_unref_parent
      FROM rel GROUP BY relation ORDER BY relation
    """.trim))

  /** Per-key SKEW planning report — the "should I salt this join?"
    * decision table a shuffle planner consults before co-partitioning
    * on a key: exact distribution of rows-per-key (count, total, max,
    * mean, exact discrete p50/p99, max/mean skew factor) over
    * `events.user_id`, in long (metric, value) format.
    *
    * Scale notes (100 TB): the per-key frequency table is ONE
    * map-side-combinable agg (shuffle carries distinct keys); every
    * statistic is then derived from the freq-of-freq table — bounded
    * by the number of DISTINCT per-key counts, which is tiny at any
    * corpus size — so the quantile window runs on a table that never
    * grows with the data. Quantiles use integer cumulative arithmetic
    * (smallest n with 100·cum ≥ q·n_keys): no doubles until the two
    * ratio metrics, each computed once from exact longs.
    */
  val etlKeySkewStats = Q(
    "etl_key_skew_stats",
    (spark, dir) => {
      import spark.implicits._
      val freq = Tables.events(spark, dir)
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
      // freq-of-freq: bounded by DISTINCT per-key counts — tiny at any
      // scale. Checkpointed so the seven metric branches below read
      // this table, not seven re-executions of the corpus agg.
      val cum = freq.groupBy($"n").agg(count(lit(1)).as("nk"))
        .withColumn("cum",
          sum($"nk").over(Window.orderBy($"n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .transform(graft.Checkpoints.cut)
      val stats = cum.agg(
        sum($"nk").as("n_keys"),
        sum($"n" * $"nk").as("n_rows"),
        max($"n").as("max_n"))
      val withKeys = cum.crossJoin(broadcast(stats))
      val p50 = withKeys.filter($"cum" * 2 >= $"n_keys")
        .agg(min($"n").as("v"))
      val p99 = withKeys.filter($"cum" * 100 >= $"n_keys" * 99)
        .agg(min($"n").as("v"))
      def m(name: String, c: org.apache.spark.sql.Column,
          from: org.apache.spark.sql.DataFrame) =
        from.select(lit(name).as("metric"),
          c.cast(DecimalType(18, 6)).as("value"))
      m("n_keys", $"n_keys", stats)
        .union(m("n_rows", $"n_rows", stats))
        .union(m("max_key_rows", $"max_n", stats))
        .union(m("mean_key_rows",
          $"n_rows".cast(DoubleType) / $"n_keys", stats))
        .union(m("p50_key_rows", $"v", p50))
        .union(m("p99_key_rows", $"v", p99))
        .union(m("skew_max_over_mean",
          $"max_n".cast(DoubleType) * $"n_keys" / $"n_rows", stats))
        .orderBy($"metric")
    },
    Some("""
      WITH freq AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      stats AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows, MAX(n) AS max_n FROM freq),
      ff AS (SELECT n, COUNT(*) AS nk FROM freq GROUP BY 1),
      cum AS (SELECT n, SUM(nk) OVER (ORDER BY n) AS cum FROM ff),
      p50 AS (SELECT MIN(n) AS v FROM cum, stats WHERE cum * 2 >= n_keys),
      p99 AS (SELECT MIN(n) AS v FROM cum, stats WHERE cum * 100 >= n_keys * 99)
      SELECT metric, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value FROM (
        SELECT 'n_keys' AS metric, CAST(n_keys AS DOUBLE) AS value FROM stats
        UNION ALL SELECT 'n_rows', CAST(n_rows AS DOUBLE) FROM stats
        UNION ALL SELECT 'max_key_rows', CAST(max_n AS DOUBLE) FROM stats
        UNION ALL SELECT 'mean_key_rows', CAST(n_rows AS DOUBLE) / n_keys FROM stats
        UNION ALL SELECT 'p50_key_rows', CAST(v AS DOUBLE) FROM p50
        UNION ALL SELECT 'p99_key_rows', CAST(v AS DOUBLE) FROM p99
        UNION ALL SELECT 'skew_max_over_mean',
          CAST(max_n AS DOUBLE) * n_keys / n_rows FROM stats)
      ORDER BY metric
    """.trim))

  /** Per-feed FRESHNESS watermark report — the staleness dashboard a
    * scheduled pipeline publishes after every load: per event_type, row
    * count, high-watermark timestamp, lag behind the global watermark in
    * whole minutes, trailing-24h row count, and a stale flag (> 60 min
    * behind). The global watermark is a 1-row aggregate broadcast back
    * onto the stream — never collected.
    *
    * Scale notes (100 TB): two passes over the event stream (global max,
    * then one map-side-combinable per-type agg whose trailing-24h count
    * rides the same pass via the broadcast watermark); lag arithmetic is
    * integer microseconds (exact, engine-portable), no doubles anywhere.
    */
  val etlFreshnessWatermark = Q(
    "etl_freshness_watermark",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).select($"event_type", $"ts")
      val g = ev.agg(max($"ts").as("gmax"))
      ev.crossJoin(broadcast(g))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_rows"),
          max($"ts").as("max_ts"),
          first($"gmax").as("gmax"),
          count(when($"ts" >= $"gmax" - expr("INTERVAL 1 DAY"), 1))
            .as("n_last_day"))
        .select(
          $"event_type", $"n_rows", $"max_ts",
          expr("timestampdiff(MICROSECOND, max_ts, gmax) div 60000000")
            .as("lag_minutes"),
          $"n_last_day",
          (expr("timestampdiff(MICROSECOND, max_ts, gmax) div 60000000")
            > 60).as("stale"))
        .orderBy($"event_type")
    },
    Some("""
      WITH g AS (SELECT MAX(ts) AS gmax FROM events)
      SELECT event_type,
        COUNT(*) AS n_rows,
        MAX(ts) AS max_ts,
        (epoch_us(gmax) - epoch_us(MAX(ts))) // 60000000 AS lag_minutes,
        COUNT(CASE WHEN ts >= gmax - INTERVAL 1 DAY THEN 1 END) AS n_last_day,
        (epoch_us(gmax) - epoch_us(MAX(ts))) // 60000000 > 60 AS stale
      FROM events, g
      GROUP BY event_type, gmax
      ORDER BY event_type
    """.trim))

  /** BENFORD first-digit audit over order totals — the fraud /
    * synthetic-data screen: naturally occurring monetary amounts
    * follow P(d) = log10(1+1/d); a feed whose leading digits deviate
    * hard was generated, truncated, or tampered with. Output per
    * digit: count, observed fraction, Benford expectation, absolute
    * deviation. The digit is extracted from the DECIMAL(18,2) string
    * form (no log10-of-value boundary hazard at powers of ten);
    * fractions are single double divisions; the expectation is
    * rounded to 6 dp before the deviation so both engines subtract
    * identical operands.
    *
    * Scale notes (100 TB): one map-side-combinable 9-group agg plus a
    * 1-row total broadcast back — the audit costs one scan regardless
    * of feed size.
    */
  val etlBenfordDeviation = Q(
    "etl_benford_deviation",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir).select(dec($"o_totalprice").as("p"))
      val g = o.select(substring($"p".cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val t = o.agg(count(lit(1)).as("total"))
      val expFrac = round(log10(lit(1.0) + lit(1.0) / $"digit".cast(DoubleType)), 6)
      g.crossJoin(broadcast(t))
        .select(
          $"digit", $"n",
          round($"n".cast(DoubleType) / $"total".cast(DoubleType), 6).as("obs_frac"),
          expFrac.as("exp_frac"),
          round(abs($"n".cast(DoubleType) / $"total".cast(DoubleType) - expFrac), 6)
            .as("abs_dev"))
        .orderBy($"digit")
    },
    Some("""
      WITH d AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
      ), g AS (
        SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
      ), t AS (
        SELECT COUNT(*) AS total FROM orders
      )
      SELECT digit, n,
        ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_frac,
        ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_frac,
        ROUND(ABS(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                  - ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)), 6) AS abs_dev
      FROM g CROSS JOIN t
      ORDER BY digit
    """.trim))

  /** GAPS-AND-ISLANDS over a dense key space — "which ID ranges are
    * missing?": per order status, the maximal runs of consecutive
    * o_orderkey values and their gap structure (island count, row
    * total, longest/shortest run). The declared plan is the
    * DISTRIBUTED formulation: island STARTS are rows with no key−1
    * predecessor and ENDS rows with no key+1 successor (two left-anti
    * EQUI-joins — hash-joinable at any scale, no global sort of the
    * fact side); the i-th start pairs with the i-th end per status
    * over the islands-sized table. The ORACLE is the classic
    * key−row_number() grouping — an independent algorithm agreeing on
    * every count.
    *
    * Scale notes (100 TB): the anti-joins shuffle on the key
    * (co-partitioned); only the start/end tables — bounded by island
    * count, far below row count on real feeds — reach the pairing
    * rank, and that rank block-decomposes by key range if islands
    * ever rival rows.
    */
  val etlSequenceIslands = Q(
    "etl_sequence_islands",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select($"o_orderstatus".as("st"), $"o_orderkey".as("k"))
      def boundary(shift: Int) = o.as("a")
        .join(o.as("b"),
          col("a.st") === col("b.st") && col("a.k") === col("b.k") + shift,
          "left_anti")
        .select(col("a.st").as("st"), col("a.k").as("k"))
      val starts = boundary(1).select($"st", $"k".as("start_k"))
        .withColumn("i", row_number().over(Window.partitionBy($"st").orderBy($"start_k")))
      val ends = boundary(-1).select($"st", $"k".as("end_k"))
        .withColumn("i", row_number().over(Window.partitionBy($"st").orderBy($"end_k")))
      starts.join(ends, Seq("st", "i"))
        .select($"st", ($"end_k" - $"start_k" + 1L).as("len"))
        .groupBy($"st")
        .agg(
          count(lit(1)).as("n_islands"),
          sum($"len").as("n_rows"),
          max($"len").as("max_len"),
          min($"len").as("min_len"))
        .orderBy($"st")
    },
    Some("""
      WITH g AS (
        SELECT o_orderstatus AS st, o_orderkey AS k,
          o_orderkey - ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_orderkey) AS grp
        FROM orders
      ), isl AS (
        SELECT st, grp, COUNT(*) AS len FROM g GROUP BY st, grp
      )
      SELECT st, COUNT(*) AS n_islands,
        CAST(SUM(len) AS BIGINT) AS n_rows,
        MAX(len) AS max_len, MIN(len) AS min_len
      FROM isl GROUP BY st ORDER BY st
    """.trim))

  /** POPULATION STABILITY INDEX drift audit — the standard scorecard
    * drift metric (PSI = Σ (p−q)·ln(p/q)) between the first and second
    * half of the event timeline, per event type: the scheduled check a
    * production pipeline runs to decide "has this feed's value
    * distribution moved enough to retrain / alert?" (rule of thumb:
    * <0.1 stable, 0.1–0.25 moderate, >0.25 shifted). Values bin to
    * 50-unit buckets; Laplace (+1) smoothing over the per-type union
    * bin set keeps empty cells defined — both declared identically on
    * both engines.
    *
    * Scale notes (100 TB): one map-side-combinable (type, half, bin)
    * count is the only fact-scale work; the PSI algebra runs on the
    * bin table (≤ value-range/50 rows per type — bounded, corpus-size
    * independent). ln() of identical doubles is identical (the
    * entropy/TF-IDF rows prove cross-engine libm agreement); each term
    * rounds to 12 dp before an exact DECIMAL(28,12) sum so the
    * reduction order never shows, then the index rounds to 6 dp.
    *
    * The timeline split is DERIVED from the observed min/max ts
    * (midpoint at integer-microsecond precision, floor division — both
    * engines compute the identical instant), not hardcoded: a
    * regenerated fixture with a different date range still splits the
    * timeline in half instead of silently collapsing one side. The
    * 1-row bounds aggregate broadcasts — no second fact-scale pass
    * beyond the unavoidable min/max scan.
    */
  val etlPsiDrift = Q(
    "etl_psi_drift",
    (spark, dir) => {
      import spark.implicits._
      val bounds = Tables.events(spark, dir).agg(
        expr("timestampadd(MICROSECOND, timestampdiff(MICROSECOND, min(ts), max(ts)) div 2, min(ts))")
          .as("mid"))
      val ev = Tables.events(spark, dir)
        .crossJoin(broadcast(bounds))
        .select($"event_type",
          when($"ts" < $"mid", lit("a")).otherwise(lit("b")).as("half"),
          floor($"value" / 50).as("bin"))
      val freq = ev.groupBy($"event_type", $"bin").agg(
        sum(when($"half" === "a", 1L).otherwise(0L)).as("ca"),
        sum(when($"half" === "b", 1L).otherwise(0L)).as("cb"))
      val wt = Window.partitionBy($"event_type")
      freq
        .withColumn("na", sum($"ca").over(wt))
        .withColumn("nb", sum($"cb").over(wt))
        .withColumn("nbins", count(lit(1)).over(wt))
        .withColumn("p", ($"ca" + 1).cast(DoubleType) / ($"na" + $"nbins"))
        .withColumn("q", ($"cb" + 1).cast(DoubleType) / ($"nb" + $"nbins"))
        .withColumn("term", round(($"p" - $"q") * log($"p" / $"q"), 12))
        .groupBy($"event_type")
        .agg(
          max($"na").as("n_first"),
          max($"nb").as("n_second"),
          max($"nbins").as("n_bins"),
          round(sum($"term".cast(DecimalType(28, 12))).cast(DoubleType), 6).as("psi"))
        .orderBy($"event_type")
    },
    Some("""
      WITH b AS (
        SELECT MIN(ts) + to_microseconds((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2) AS mid
        FROM events
      ), ev AS (
        SELECT event_type,
          CASE WHEN ts < (SELECT mid FROM b) THEN 'a' ELSE 'b' END AS half,
          CAST(FLOOR(value / 50) AS BIGINT) AS bin
        FROM events
      ), freq AS (
        SELECT event_type, bin,
          CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM ev GROUP BY event_type, bin
      ), tot AS (
        SELECT event_type, bin, ca, cb,
          CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
          CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb,
          COUNT(*) OVER (PARTITION BY event_type) AS nbins
        FROM freq
      ), terms AS (
        SELECT event_type, na, nb, nbins,
          ROUND((CAST(ca + 1 AS DOUBLE) / (na + nbins)
               - CAST(cb + 1 AS DOUBLE) / (nb + nbins))
            * LN((CAST(ca + 1 AS DOUBLE) / (na + nbins))
               / (CAST(cb + 1 AS DOUBLE) / (nb + nbins))), 12) AS term
        FROM tot
      )
      SELECT event_type, MAX(na) AS n_first, MAX(nb) AS n_second,
        MAX(nbins) AS n_bins,
        ROUND(CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
      FROM terms GROUP BY event_type ORDER BY event_type
    """.trim))

  /** Seasonality-adjusted anomaly detection (SURVEY §2 I-sext): per
    * (event type, date, hour) counts z-scored against that
    * (type, day-of-week, hour) cell's own cross-week baseline — the
    * ops-monitoring primitive `etl_anomaly_zscore`'s global z misses
    * (a 3am Monday spike is anomalous even if it would be normal at 9am
    * Friday). The grid is ZERO-FILLED before the baseline: a silent
    * hour is data, and skipping it would bias every cell's mean high.
    *
    * Scale notes: the only fact-scale work is one (type, date, hour)
    * count, checkpointed; the calendar grid, zero-fill join, baseline
    * moments and top-k all run on the bounded cell table (days × 24 ×
    * types). Baseline moments use exact decimal sums; z is double
    * algebra on identical operands with a NULLIF zero-variance guard.
    */
  val etlSeasonalAnomaly = Q(
    "etl_seasonal_anomaly",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .select($"event_type", $"ts".cast("date").as("d"), hour($"ts").as("hr"))
        .groupBy($"event_type", $"d", $"hr")
        .agg(count(lit(1)).as("c"))
        .repartition(1)
        .transform(graft.Checkpoints.cut)
      val dr = cells.agg(min($"d").as("d0"), max($"d").as("d1"))
      val dates = dr.select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      val types = cells.select($"event_type").distinct()
      val hours = spark.range(24).select($"id".cast("int").as("hr"))
      val filled = types.crossJoin(dates).crossJoin(hours)
        .join(cells, Seq("event_type", "d", "hr"), "left")
        .select($"event_type", $"d", $"hr", coalesce($"c", lit(0L)).as("c"))
        .withColumn("dow",
          (datediff($"d", lit("1970-01-01").cast("date")) % 7))
      val mom = filled.groupBy($"event_type", $"dow", $"hr")
        .agg(
          count(lit(1)).as("n"),
          sum($"c".cast(DecimalType(28, 2))).as("sc"),
          sum(($"c" * $"c").cast(DecimalType(38, 4))).as("scc"))
      val mean = $"sc".cast(DoubleType) / $"n"
      val varS = ($"scc".cast(DoubleType) - $"sc".cast(DoubleType) *
        $"sc".cast(DoubleType) / $"n") / ($"n" - 1)
      filled
        .join(broadcast(mom), Seq("event_type", "dow", "hr"))
        .select($"event_type", $"d", $"hr", $"c",
          round(($"c" - mean) / nullif(sqrt(varS), lit(0.0d)), 4).as("z"))
        .where($"z".isNotNull)
        .orderBy(abs($"z").desc, $"event_type", $"d", $"hr")
        .limit(15)
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS hr
        FROM events
      ), cells AS (
        SELECT event_type, d, hr, COUNT(*) AS c FROM ev GROUP BY 1, 2, 3
      ), dr AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM cells),
      dates AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM dr
      ), types AS (SELECT DISTINCT event_type FROM cells),
      hours AS (SELECT UNNEST(range(24)) AS hr),
      grid AS (
        SELECT t.event_type, dt.d, h.hr
        FROM types t CROSS JOIN dates dt CROSS JOIN hours h
      ), filled AS (
        SELECT g.event_type, g.d, g.hr, COALESCE(c.c, 0) AS c,
          date_diff('day', DATE '1970-01-01', g.d) % 7 AS dow
        FROM grid g
        LEFT JOIN cells c
          ON c.event_type = g.event_type AND c.d = g.d AND c.hr = g.hr
      ), mom AS (
        SELECT event_type, dow, hr, COUNT(*) AS n,
          SUM(CAST(c AS DECIMAL(28,2))) AS sc,
          SUM(CAST(c * c AS DECIMAL(38,4))) AS scc
        FROM filled GROUP BY 1, 2, 3
      )
      SELECT f.event_type, f.d, f.hr, f.c,
        ROUND((f.c - CAST(sc AS DOUBLE) / n)
          / NULLIF(SQRT((CAST(scc AS DOUBLE)
                         - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / (n - 1)), 0),
          4) AS z
      FROM filled f
      JOIN mom m ON f.event_type = m.event_type AND f.dow = m.dow AND f.hr = m.hr
      WHERE ROUND((f.c - CAST(sc AS DOUBLE) / n)
          / NULLIF(SQRT((CAST(scc AS DOUBLE)
                         - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / (n - 1)), 0),
          4) IS NOT NULL
      ORDER BY ABS(z) DESC, f.event_type, f.d, f.hr
      LIMIT 15
    """.trim))

  /** Ledger reconciliation of the order-header total against its lines
    * (SURVEY §2 I-sept): TPC-H's own invariant o_totalprice =
    * Σ l_extendedprice·(1+l_tax)·(1−l_discount) checked per order
    * status — the cross-table DQ audit `etl_dq_audit` (single-table
    * nulls/ranges) and `etl_fk_orphan_audit` (key existence) don't
    * cover: VALUE consistency between a rollup and its detail. Declared
    * per status: order count, headers with no lines, mismatches beyond
    * a 0.01 tolerance, and the worst absolute difference.
    *
    * Scale notes (100 TB): one map-side-combinable per-order line
    * rollup, one co-partitioned orderkey equi-join, one bounded status
    * rollup. Determinism: the recomputed total is EXACT decimal algebra
    * end to end (price × (1−disc) × (1+tax) at fixed scales), so the
    * tolerance compare has no float anywhere.
    */
  val etlReconciliationTotals = Q(
    "etl_reconciliation_totals",
    (spark, dir) => {
      import spark.implicits._
      import graft.Tables.dec
      val lineSum = Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount", 18, 2))
          * (lit(1) + dec($"l_tax", 18, 2))).as("recomputed"))
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderstatus", dec($"o_totalprice").as("header"))
        .join(lineSum, $"o_orderkey" === $"l_orderkey", "left")
        .select($"o_orderstatus",
          $"recomputed".isNull.as("no_lines"),
          when($"recomputed".isNotNull,
            abs($"header" - $"recomputed".cast(DecimalType(38, 6))))
            .as("adiff"))
        .groupBy($"o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when($"no_lines", 1L).otherwise(0L)).as("n_no_lines"),
          sum(when($"adiff" > lit(new java.math.BigDecimal("0.01")), 1L)
            .otherwise(0L)).as("n_mismatch"),
          max($"adiff").cast(DecimalType(18, 6)).as("max_abs_diff"))
        .orderBy($"o_orderstatus")
    },
    Some("""
      WITH linesum AS (
        SELECT l_orderkey,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))
            * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS recomputed
        FROM lineitem GROUP BY 1
      )
      SELECT o_orderstatus,
        COUNT(*) AS n_orders,
        CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
        CAST(SUM(CASE WHEN ABS(CAST(o_totalprice AS DECIMAL(18,2))
          - CAST(recomputed AS DECIMAL(38,6))) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_mismatch,
        CAST(MAX(ABS(CAST(o_totalprice AS DECIMAL(18,2))
          - CAST(recomputed AS DECIMAL(38,6)))) AS DECIMAL(18,6)) AS max_abs_diff
      FROM orders LEFT JOIN linesum ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Late-arriving-dimension handling (SURVEY §2 I-oct) — the Kimball
    * inferred-member pattern the SCD rows don't cover: facts land before
    * their dimension row does (here: customers with c_custkey % 10 ≥ 7
    * are "not yet arrived"), the load attributes those orders to an
    * INFERRED placeholder instead of dropping or stalling them, and a
    * later backfill re-attributes when the dimension ships. Declared
    * output: per TRUE segment, the order/revenue totals, how much of it
    * is currently parked on inferred members (count + exact revenue +
    * share), and how many distinct placeholder keys the backfill will
    * update — the reconciliation view a daily-load owner reads.
    *
    * Scale notes (100 TB): one broadcast dim join + one map-side
    * combinable segment agg; the inferred flag is a dim-side predicate,
    * so the fact scan is untouched. Revenue sums are exact decimals;
    * the share is one guarded double divide rounded at 6 dp.
    */
  val etlLateArrivingDimension = Q(
    "etl_late_arriving_dimension",
    (spark, dir) => {
      import spark.implicits._
      val dim = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment",
          ($"c_custkey" % 10 >= 7).as("is_late"))
      Tables.orders(spark, dir)
        .join(broadcast(dim), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec($"o_totalprice")).cast(DoubleType).as("revenue"),
          sum(when($"is_late", 1L).otherwise(0L)).as("n_late_orders"),
          coalesce(sum(when($"is_late", dec($"o_totalprice"))), lit(0))
            .cast(DecimalType(28, 2)).cast(DoubleType).as("late_revenue"),
          countDistinct(when($"is_late", $"o_custkey")).as("n_inferred_keys"))
        .withColumn("late_share",
          round($"n_late_orders".cast(DoubleType) / $"n_orders", 6))
        .orderBy($"c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        CAST(SUM(CASE WHEN c_custkey % 10 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_late_orders,
        CAST(CAST(COALESCE(SUM(CASE WHEN c_custkey % 10 >= 7
              THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
          AS DECIMAL(28,2)) AS DOUBLE) AS late_revenue,
        COUNT(DISTINCT CASE WHEN c_custkey % 10 >= 7 THEN o_custkey END)
          AS n_inferred_keys,
        ROUND(CAST(SUM(CASE WHEN c_custkey % 10 >= 7 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS late_share
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment
    """.trim))

  /** SCD2 APPLY-MERGE (SURVEY §2 I-non) — the WRITE half of the SCD2
    * lifecycle (`etl_scd2_intervals` builds history, `join_pit_scd2`
    * queries it; this row MAINTAINS it): apply a late change batch
    * (events from the cutoff day on) to the existing history with the
    * real merge mechanics a daily dimension load runs — within-batch
    * run-length dedup, a NO-OP GUARD dropping a batch head whose type
    * equals the user's current version (no spurious version), closing
    * each touched user's open interval at their first kept change,
    * version ordinals continued from the user's current max, brand-new
    * users starting at version 1, untouched users passing through
    * byte-identical. The correctness statement IS the oracle: the
    * incrementally-merged dimension must EQUAL the from-scratch
    * derivation over all events (the [[scd2]] helper both rows share,
    * re-derived independently in DuckDB).
    *
    * Scale notes (100 TB): every step is user-keyed — history build,
    * batch dedup, the current-row join and the final union all ride
    * user_id shuffles; the batch side is a day's slice, the no-op
    * guard and closing join are bounded per-user algebra. Nothing
    * global, nothing collected.
    */
  /** The incremental apply: merge the ≥cutoff slice of `ev` into the
    * SCD2 history built from the <cutoff slice. Exposed for the spec
    * that drives the merge paths the corpus fixture does not contain
    * (brand-new users, untouched users).
    */
  private[graft] def scd2ApplyMerge(ev: org.apache.spark.sql.DataFrame,
      cutoff: String): org.apache.spark.sql.DataFrame = {
    val hist = scd2(ev.where(col("ts") < cutoff))
    val cur = hist.where(col("is_current"))
      .select(col("user_id"), col("version").as("cur_v"),
        col("event_type").as("cur_type"))
    // within-batch run-length dedup, then the no-op guard on the head
    val kept = scd2RunStarts(ev.where(col("ts") >= cutoff))
      .join(cur, Seq("user_id"), "left")
      .withColumn("rn", row_number().over(scd2Order))
      .where(!(col("rn") === 1 && col("cur_type").isNotNull &&
        col("event_type") === col("cur_type")))
    val newRows = kept
      .select(
        col("user_id"),
        (row_number().over(scd2Order) + coalesce(col("cur_v"), lit(0L))).as("version"),
        col("event_type"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(scd2Order).as("valid_to"),
        lead(col("ts"), 1).over(scd2Order).isNull.as("is_current"))
    val firstKept = kept.groupBy(col("user_id")).agg(min(col("ts")).as("close_at"))
    val closedHist = hist
      .join(firstKept, Seq("user_id"), "left")
      .select(
        col("user_id"), col("version"), col("event_type"), col("valid_from"),
        when(col("is_current") && col("close_at").isNotNull, col("close_at"))
          .otherwise(col("valid_to")).as("valid_to"),
        (col("is_current") && col("close_at").isNull).as("is_current"))
    closedHist.unionByName(newRows)
  }

  val etlScd2ApplyMerge = Q(
    "etl_scd2_apply_merge",
    (spark, dir) => {
      import spark.implicits._
      scd2ApplyMerge(Tables.events(spark, dir), "2024-01-20")
        .orderBy($"user_id", $"version")
    },
    // the oracle is the FROM-SCRATCH rebuild over all events — equality
    // proves the incremental apply reconstructs history exactly
    Some(scd2HistorySql))

  def qs: Seq[Q] = Seq(etlScd2ApplyMerge,
    etlReconciliationTotals, etlLateArrivingDimension,
    etlIncrementalMerge, etlScd2Intervals, etlDqAudit,
    etlAnomalyZscore, etlGapFillLocf, etlCompactSmallFiles, etlSnapshotDiff,
    etlBackfillDynamicOverwrite, sqlRecursiveSpine, etlCatalogStats,
    etlRowChecksumAudit, sqlCorrelatedScalar, etlFkOrphanAudit,
    etlKeySkewStats, etlFreshnessWatermark, etlBenfordDeviation,
    etlSequenceIslands, etlPsiDrift, etlSeasonalAnomaly)
}
