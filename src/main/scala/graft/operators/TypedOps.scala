package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.DecimalStatsAggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1.J — the typed `Dataset[T]` API surface, declared as
  * queries (not just specs): `groupByKey` + `flatMapGroups` for
  * arbitrary per-group logic, and a typed `Aggregator` UDAF.
  *
  * The typed path serializes whole objects through an Encoder and runs
  * outside WholeStageCodegen, so it is NOT the engine's default — every
  * operator that CAN be a Column expression is one (win_topk_per_group
  * is the codegen'd form of the same top-n). These rows exist because a
  * complete engine must also run the per-group logic Column algebra
  * cannot express; the scaladocs state the cost model so users reach for
  * the typed surface only when they need it.
  */
object TypedOps extends QueryModule {

  case class EventRow(event_id: Long, user_id: Long, event_type: String, value: Double)
  case class TopEvent(user_id: Long, rn: Long, event_id: Long, event_type: String, value: Double)

  /** Per-user top-2 events by value via `groupByKey` + `flatMapGroups` —
    * arbitrary imperative per-group logic (here: sort + take, but the
    * closure could hold any state machine a window function can't
    * express). Tiebreak on event_id makes the output deterministic.
    *
    * Scale notes (100 TB): one hash shuffle on the grouping key, same
    * exchange a window would use; the group buffers IN MEMORY inside the
    * closure, so this surface is for bounded groups (per-user events) —
    * unbounded groups belong to the window/agg forms. At bench scale the
    * window form (win_topk_per_group) is ~2× faster — that asymmetry is
    * the documented price of the typed escape hatch.
    */
  val typedTopnPerUser = Q(
    "typed_topn_per_user",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[EventRow]
        .groupByKey(_.user_id)
        .flatMapGroups { (uid: Long, it: Iterator[EventRow]) =>
          it.toSeq
            .sortBy(e => (-e.value, e.event_id))
            .take(2)
            .zipWithIndex
            .map { case (e, i) =>
              TopEvent(uid, i + 1L, e.event_id, e.event_type, e.value)
            }
        }
        .toDF()
        .orderBy($"user_id", $"rn")
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY value DESC, event_id ASC) AS rn
        FROM events
      )
      SELECT user_id, rn, event_id, event_type, value
      FROM r WHERE rn <= 2 ORDER BY user_id, rn
    """.trim))

  /** The typed `Aggregator` UDAF (functions/DecimalStatsAggregator.scala)
    * as a declared query: exact BigDecimal moments per event type —
    * associative/commutative merges by construction, so the result is
    * partitioning-independent like every DecimalType agg in this engine.
    * Declared output: exact n/sum, mean rounded to 6 dp (the §2.0
    * transcendental-rounding rule — the oracle's division happens at a
    * different intermediate precision, and 6 dp absorbs the last-ULP
    * difference). Stddev stays spec-tested (DecimalStatsAggregatorSpec):
    * its exact-numerator algebra cannot be mirrored in DuckDB decimals
    * without overflow.
    */
  val typedAggDecimalStats = Q(
    "typed_agg_decimal_stats",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .select($"event_type", $"value")
        .as[(String, Double)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(DecimalStatsAggregator.toColumn.name("s"))
        .toDF("event_type", "s")
        .select(
          $"event_type",
          $"s.n".as("n"),
          $"s.sum".cast(DecimalType(18, 6)).as("sum_value"),
          $"s.mean".cast(DecimalType(18, 6)).as("mean_value"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type,
        COUNT(*) AS n,
        CAST(CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value,
        CAST(CAST(SUM(CAST(value AS DECIMAL(28,12))) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS mean_value
      FROM events GROUP BY event_type ORDER BY event_type
    """.trim))

  case class SnapRow(key: Long, acctbal: Option[Double])
  case class DeltaRow(key: Long, value: Double)
  case class ReconRow(key: Long, side: String, acctbal: Option[Double],
                      purchase_total: Option[Double], n_purchases: Long)

  /** Typed `KeyValueGroupedDataset.cogroup` — the TWO-sided escape
    * hatch (`flatMapGroups` is the one-sided form): the customer
    * snapshot cogrouped with the purchase event delta per key, emitting
    * reconciliation rows with explicit side-membership. The typed twin
    * of `etl_incremental_merge`'s full-outer join — declared so the
    * engine's cogroup surface is oracle-checked, not just compiled.
    *
    * Determinism: the closure folds purchase doubles into a
    * `BigDecimal.valueOf(v).setScale(6, HALF_UP)` sum — the same
    * shortest-repr + HALF_UP semantics as Spark SQL's double→decimal
    * cast, so the total is exact and independent of iterator order
    * (a raw double sum would vary with partitioning).
    *
    * Scale notes (100 TB): cogroup co-partitions BOTH inputs on the key
    * in one exchange each — the same cost as the join form. Groups
    * stream through the closure; per-group state here is one BigDecimal
    * + one counter, O(1), so unbounded keys are safe.
    */
  val typedCogroupReconcile = Q(
    "typed_cogroup_reconcile",
    (spark, dir) => {
      import spark.implicits._
      val snap = Tables.customer(spark, dir)
        .select($"c_custkey".as("key"), $"c_acctbal".cast(DoubleType).as("acctbal"))
        .as[SnapRow]
      val delta = Tables.events(spark, dir)
        .where($"event_type" === "purchase")
        .select($"user_id".as("key"), $"value")
        .as[DeltaRow]
      snap.groupByKey(_.key)
        .cogroup(delta.groupByKey(_.key)) { (k, snapIt, deltaIt) =>
          val s = snapIt.toSeq.headOption
          var total = java.math.BigDecimal.ZERO
          var n = 0L
          deltaIt.foreach { d =>
            total = total.add(java.math.BigDecimal.valueOf(d.value)
              .setScale(6, java.math.RoundingMode.HALF_UP))
            n += 1
          }
          val side =
            if (s.isDefined && n > 0) "both"
            else if (s.isDefined) "snapshot_only"
            else "delta_only"
          Iterator.single(ReconRow(
            k, side, s.flatMap(_.acctbal),
            if (n > 0) Some(total.doubleValue) else None, n))
        }
        .toDF()
        .orderBy($"key")
    },
    Some("""
      WITH delta AS (
        SELECT user_id AS key,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_total,
          COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1
      )
      SELECT COALESCE(c.c_custkey, d.key) AS key,
        CASE WHEN c.c_custkey IS NOT NULL AND d.key IS NOT NULL THEN 'both'
             WHEN c.c_custkey IS NOT NULL THEN 'snapshot_only'
             ELSE 'delta_only' END AS side,
        CAST(c.c_acctbal AS DOUBLE) AS acctbal,
        d.purchase_total,
        COALESCE(d.n_purchases, 0) AS n_purchases
      FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.key
      ORDER BY key
    """.trim))

  case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
  case class CustRow(c_custkey: Long, c_mktsegment: String)

  /** Typed `Dataset.joinWith` — the tuple-preserving join the untyped
    * rows don't exercise: each (OrderRow, CustRow) pair survives as a
    * typed 2-tuple (no column flattening, no name collisions), the
    * form typed pipelines use to keep both entities whole through a
    * join. Projected back to columns + decimal-aggregated per segment
    * so the oracle is plain SQL.
    *
    * Scale notes (100 TB): joinWith plans the SAME physical join as
    * the untyped form (broadcast here — the dim side is tiny); only
    * the output shape differs (struct pair vs flat row), so the typed
    * surface costs serialization at the boundary, not a different
    * join strategy.
    */
  val typedJoinwithSegments = Q(
    "typed_joinwith_segments",
    (spark, dir) => {
      import spark.implicits._
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice").as[OrderRow]
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment").as[CustRow]
      orders
        .joinWith(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .map { case (o, c) => (c.c_mktsegment, o.o_totalprice) }
        .toDF("segment", "price")
        .groupBy($"segment")
        .agg(count(lit(1)).as("n_orders"),
          sum($"price".cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"))
        .orderBy($"segment")
    },
    Some("""
      SELECT c_mktsegment AS segment,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Typed `reduceGroups` — per-group pairwise reduction (the typed
    * fold: max-by with an explicit deterministic tiebreak), the API
    * for "keep one object per key" when the pick logic lives in Scala.
    * The reduction function is associative and commutative, so Spark
    * runs it partially per partition before the shuffle — the typed
    * analogue of a map-side-combinable agg, unlike flatMapGroups
    * which must see the whole group.
    *
    * Scale notes (100 TB): partial reduction means the shuffle
    * carries one object per (key × partition), not the group — the
    * same physics as `agg_minmax_by`'s max_by, paid with Encoder
    * serialization instead of codegen.
    */
  val typedReduceKeeper = Q(
    "typed_reduce_keeper",
    (spark, dir) => {
      import spark.implicits._
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice").as[OrderRow]
        .groupByKey(_.o_custkey)
        .reduceGroups { (a: OrderRow, b: OrderRow) =>
          // max by (price, then LOWEST orderkey as tiebreak)
          if (a.o_totalprice > b.o_totalprice) a
          else if (b.o_totalprice > a.o_totalprice) b
          else if (a.o_orderkey < b.o_orderkey) a else b
        }
        .map { case (k, o) => (k, o.o_orderkey, o.o_totalprice) }
        .toDF("custkey", "top_orderkey", "top_price")
        .orderBy($"custkey")
    },
    Some("""
      WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      )
      SELECT o_custkey AS custkey, o_orderkey AS top_orderkey,
        o_totalprice AS top_price
      FROM r WHERE rn = 1 ORDER BY custkey
    """.trim))

  def qs: Seq[Q] = Seq(typedTopnPerUser, typedAggDecimalStats,
    typedCogroupReconcile, typedJoinwithSegments, typedReduceKeeper)
}
