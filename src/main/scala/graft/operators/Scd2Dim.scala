package graft.operators

import graft.operators.Artifacts._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SCD2 dimension + purchase fact, both BUCKETED by the user
  * key — the storage-layout half of the SCD2 trio (`etl_scd2_intervals`
  * derives history, `etl_scd2_apply_merge` maintains it; this object
  * LAYS IT OUT so the point-in-time join never shuffles): a type-2
  * dimension is read by every fact load of the day, so a production
  * warehouse writes it bucketed on the join key once and every PIT join
  * after that is Exchange-free on BOTH sides (the
  * `join_bucketed_colocated` discipline applied to the SCD2 family).
  *
  *  - `graft_scd2_dim_<corpus>`: (v_user, version, regime, valid_from,
  *    valid_to) — the versions of the one SCD2 recipe
  *    ([[EtlOps.scd2]], the same rows `join_pit_scd2` derives in-plan),
  *    bucketed+sorted by v_user;
  *  - `graft_purchase_fact_<corpus>`: (event_id, user_id, ts) —
  *    the purchase slice, bucketed+sorted by user_id.
  *
  * Layout and freshness follow the [[Artifacts]] store contract, keyed on
  * the events corpus identity plus the recipe segment [[Recipe]].
  *
  * Scale notes (100 TB): the build is ONE user-keyed window pass per
  * table side (the same shuffle the bucketed write needs anyway); after
  * that, every PIT join is a co-located merge of matching buckets —
  * per-bucket work, zero Exchange, the layout a 1000-executor cluster
  * needs for a dimension read by every job.
  */
object Scd2Dim {

  def dimTable(dir: String): String = s"graft_scd2_dim_${tag(dir)}"
  def factTable(dir: String): String = s"graft_purchase_fact_${tag(dir)}"

  private val DimLayout = Layout.bucketed(
    "v_user BIGINT, version BIGINT, regime STRING, valid_from TIMESTAMP_NTZ, valid_to TIMESTAMP_NTZ",
    "v_user", "v_user", "version")
  private val FactLayout = Layout.bucketed(
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP_NTZ", "user_id", "user_id", "event_id")

  /** Recipe revision in the fingerprint, as IvfIndex's `*Algo` segments:
    * bump it whenever [[EtlOps.scd2]] or [[frames]] changes the rows it
    * derives, so a warehouse built by the old recipe rebuilds instead of
    * serving `join_pit_scd2_bucketed` a dim that `join_pit_scd2` no
    * longer derives in-plan.
    */
  private[graft] val Recipe = "scd2-runstart-v1"

  /** Events corpus identity plus [[Recipe]]: the artifacts' marker. */
  private[graft] def fingerprint(dir: String): String =
    s"${corpusIdentity(dir, "events")}|$Recipe"

  /** The dim and fact rows from an event frame: the versions of the one
    * SCD2 recipe ([[EtlOps.scd2]]) keyed v_user with event_type as
    * regime, and the purchase slice. `join_pit_scd2` joins these frames
    * in-plan; [[ensure]] persists them.
    */
  def frames(ev: DataFrame): (DataFrame, DataFrame) = {
    val versions = EtlOps.scd2(ev, "v_user", "regime").drop("is_current")
    val purchases = ev
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    (versions, purchases)
  }

  /** Find-or-build: returns (dim, fact) frames reading the PERSISTED
    * bucketed tables. Build runs only when the artifacts are absent or
    * stale vs the corpus fingerprint.
    */
  def ensure(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val dimT = dimTable(dir)
    val factT = factTable(dir)
    val Seq(dim, fact) = findOrBuild(spark, fingerprint(dir),
      Seq(dimT -> DimLayout, factT -> FactLayout)) {
      val (versions, purchases) = frames(graft.Tables.events(spark, dir))
      DimLayout.write(versions, dimT)
      FactLayout.write(purchases, factT)
    }
    (dim, fact)
  }
}
