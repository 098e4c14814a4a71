package graft.operators

import graft.Tables
import graft.operators.Artifacts._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted shingle registry — the incremental-ingest dedup artifact
  * (the [[IvfIndex]] pattern applied to text): everything ingested so
  * far (md5-ordered batches 0..6 of the corpus) contributes its distinct
  * 3-gram shingles to a warehouse table BUCKETED by shingle, and each
  * NEW batch is scored against that registry without recomputing
  * history. This is the production shape of corpus-growth dedup (the
  * novelty-curve row `text_ngram_novelty_rate` computes the whole curve
  * in one job; real ingestion has the history on disk and only the new
  * batch in hand).
  *
  * Scale notes (100 TB): the registry is the HUGE side (all history);
  * bucketing it by shingle means the probe join shuffles only the new
  * batch — the registry side reads co-partitioned with ZERO Exchange
  * (PlanSpec asserts exactly one shingle-keyed Exchange in the probe
  * plan). Layout and freshness follow the [[Artifacts]] store contract,
  * keyed on the documents corpus identity plus [[Recipe]].
  */
object ShingleRegistry {

  /** md5-derived deterministic ingest batch of a document — the
    * `text_ngram_novelty_rate` rule, shared so registry and probe agree.
    */
  def batchOf(docIdCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(docIdCol.cast("string")), 1, 4), 16, 10).cast("long") % 8

  def registryTable(dir: String): String = s"graft_shingle_registry_${tag(dir)}"

  /** Recipe revision in the fingerprint, as IvfIndex's `*Algo` segments:
    * bump it whenever [[TextOps.shingles]] or [[batchOf]] changes the rows
    * a registry generation derives, so a warehouse built by the old
    * recipe rebuilds instead of serving shingles or batches the current
    * recipe no longer derives. The bitmask, retraction and compaction
    * fingerprints chain from it.
    */
  private val Recipe = "shingle3-md5batch8-v1"

  /** Documents corpus identity plus [[Recipe]]: the registry's marker. */
  private def fingerprint(dir: String): String =
    s"${corpusIdentity(dir, "documents")}|$Recipe"

  /** Table shapes: every registry generation is bucketed and sorted by
    * shingle; the retraction side tables are one small file each.
    */
  private def byShingle(schema: String): Layout = Layout.bucketed(schema, "shingle", "shingle")
  private[graft] val RegistryLayout = byShingle("shingle STRING, first_batch BIGINT")
  private val BitmaskLayout = byShingle("shingle STRING, batches BIGINT, first_batch BIGINT")
  private val RetractTombstoneLayout = Layout.small("shingle STRING")
  private val RetractRemapLayout = Layout.small("shingle STRING, new_first_batch BIGINT")

  /** Find-or-build the persisted registry of batches 0..6: one row per
    * distinct historical shingle with the batch that first shipped it.
    */
  def ensure(spark: SparkSession, dir: String): DataFrame = synchronized {
    val name = registryTable(dir)
    findOrBuild(spark, fingerprint(dir), Seq(name -> RegistryLayout)) {
      val hist = Tables.documents(spark, dir).filter(batchOf(col("doc_id")) < 7)
      RegistryLayout.write(TextOps.shingles(hist)
        .withColumn("batch", batchOf(col("doc_id")))
        .groupBy(col("shingle"))
        .agg(min(col("batch")).as("first_batch")), name)
    }.head
  }

  def upsertedTable(dir: String): String = s"graft_shingle_reg2_${tag(dir)}"

  /** ONE idempotent upsert of a delivered document micro-batch into the
    * registry generation `name` (seeded with [[RegistryLayout]]): shingle
    * the batch, anti-join the LIVE table (merge-hinted — the registry side reads co-partitioned from
    * its buckets, no Exchange), and APPEND the novel survivors as
    * correctly-bucketed files tagged `first_batch = ingestBatch`.
    * Replays are no-ops BY CONSTRUCTION — a replayed delivery's novel
    * shingles are already in the table, so the anti-join drops them —
    * which is exactly the idempotence the at-least-once foreachBatch
    * contract requires. Micro-batch boundaries don't matter either: a
    * shingle shipped by two deliveries is appended by the first and
    * anti-joined away by the second, so the final state equals the
    * one-shot batch upsert.
    */
  def upsertBatch(docs: DataFrame, name: String, ingestBatch: Long): Unit = {
    val spark = docs.sparkSession
    RegistryLayout.append(TextOps.shingles(docs)
      .select(col("shingle")).distinct()
      .join(spark.table(name).select(col("shingle")).hint("merge"),
        Seq("shingle"), "left_anti")
      .select(col("shingle"), lit(ingestBatch).as("first_batch")), name)
  }

  // ------------------------------------------------------------------
  // RETRACTION lifecycle (right-to-be-forgotten):
  // a source withdrawn for licensing must leave the registry AS IF IT
  // WAS NEVER INGESTED, without rewriting history. The min-batch
  // registry alone cannot answer "who else ships this shingle?", so the
  // retraction-capable generation is the BITMASK registry: per shingle,
  // the OR of 2^batch over its contributing md5-batches (0..7) plus the
  // min first_batch. With contributors indexed, retracting batch R is
  // REGISTRY-LOCAL — one scan, no shuffle, outputs bounded by the
  // withdrawn source's shingles:
  //   mask == 2^R             -> TOMBSTONE (no surviving contributor)
  //   first == R, mask ≠ 2^R  -> REMAP to the lowest surviving bit
  //   otherwise               -> untouched
  // Serve paths between retraction and compaction anti-join the
  // kilobyte tombstones and apply the remap override; compaction writes
  // the cleansed rows forward as a new bucketed generation. All three
  // write steps follow the IvfIndex tombstone discipline: history files
  // byte-untouched, fingerprints commit last, chained invalidation.
  // ------------------------------------------------------------------

  /** The deterministically withdrawn source: md5-batch 5. */
  val RetractedBatch = 5L
  private val RetractedBit = 1L << RetractedBatch

  /** Bitmask rows plus `m`: their mask with the withdrawn bit cleared. */
  private def withSurvivors(reg: DataFrame): DataFrame =
    reg.withColumn("m", col("batches").bitwiseAND(lit(~RetractedBit)))

  /** The retraction remap of a [[withSurvivors]] row: the lowest surviving
    * bit of `m` as a first batch — log2(m & -m) is exact for powers of two.
    */
  private def lowestSurvivor: org.apache.spark.sql.Column = expr("CAST(log2(m & -m) AS BIGINT)")

  def bitmaskTable(dir: String): String = s"graft_shingle_regb_${tag(dir)}"
  def retractTombstoneTable(dir: String): String = s"graft_shingle_rts_${tag(dir)}"
  def retractRemapTable(dir: String): String = s"graft_shingle_remap_${tag(dir)}"
  def retractCompactTable(dir: String): String = s"graft_shingle_regc_${tag(dir)}"

  private def bitmaskFingerprint(dir: String): String =
    s"${fingerprint(dir)}|bitmask-0to7"

  /** Retraction artifacts derive from the bitmask generation (the
    * IvfIndex chained-fingerprint discipline): a bitmask-recipe bump
    * invalidates them automatically.
    */
  private def retractFingerprint(dir: String): String =
    s"${bitmaskFingerprint(dir)}|retract-b$RetractedBatch"

  /** Find-or-build the retraction-capable BITMASK registry generation
    * over ALL batches 0..7: (shingle, batches, first_batch), bucketed
    * by shingle like every registry generation. `batches` is the exact
    * contributor index — bit b set iff some batch-b document ships the
    * shingle — built with a map-side-combinable BIT_OR aggregation.
    */
  def ensureBitmask(spark: SparkSession, dir: String): DataFrame = synchronized {
    val name = bitmaskTable(dir)
    findOrBuild(spark, bitmaskFingerprint(dir), Seq(name -> BitmaskLayout)) {
      BitmaskLayout.write(TextOps.cachedShingles(Tables.documents(spark, dir))
        .withColumn("batch", batchOf(col("doc_id")))
        .groupBy(col("shingle"))
        .agg(
          expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(batch AS INT)))").as("batches"),
          min(col("batch")).as("first_batch")), name)
    }.head
  }

  /** Find-or-build the retraction side tables: (tombstones, remaps).
    * ONE scan of the bucketed bitmask registry — no shuffle, no join;
    * outputs are bounded by the withdrawn source's shingle count and
    * persist as single-file tables beside the registry (whose files
    * stay byte-untouched — spec-proven).
    */
  def ensureRetraction(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val tsName = retractTombstoneTable(dir)
    val rmName = retractRemapTable(dir)
    val Seq(ts, rm) = findOrBuild(spark, retractFingerprint(dir),
      Seq(tsName -> RetractTombstoneLayout, rmName -> RetractRemapLayout)) {
      val reg = ensureBitmask(spark, dir)
      // no surviving contributor -> tombstone
      RetractTombstoneLayout.write(
        reg.filter(col("batches") === RetractedBit).select(col("shingle")), tsName)
      // first shipped by the withdrawn batch but still alive -> the new
      // first batch is the lowest SURVIVING bit
      RetractRemapLayout.write(withSurvivors(
        reg.filter(col("first_batch") === RetractedBatch && col("batches") =!= RetractedBit))
        .select(col("shingle"), lowestSurvivor.as("new_first_batch")), rmName)
    }
    (ts, rm)
  }

  /** Find-or-build the retraction COMPACTION: a new shingle-bucketed
    * generation holding exactly the LIVE rows with CLEANSED masks (the
    * withdrawn bit cleared) and remapped first_batch — the write-forward
    * apply once tombstones accumulate. The bitmask generation and both
    * side tables stay byte-untouched, so a failed compaction leaves the
    * tombstone-filtered serve path intact.
    */
  def ensureRetractCompacted(spark: SparkSession, dir: String): DataFrame = synchronized {
    val name = retractCompactTable(dir)
    findOrBuild(spark, s"${retractFingerprint(dir)}|compact1", Seq(name -> BitmaskLayout)) {
      val reg = ensureBitmask(spark, dir)
      ensureRetraction(spark, dir)
      // live rows only; bit cleared; first remapped to the lowest
      // surviving bit where the withdrawn batch shipped first. Pure
      // row-local algebra on the bucketed scan — no join needed: the
      // mask holds everything the side tables were derived from (the
      // side tables exist for the SERVE path, which must not rescan the
      // registry; the compactor is already doing the full pass)
      BitmaskLayout.write(withSurvivors(reg.filter(col("batches") =!= RetractedBit))
        .select(col("shingle"), col("m").as("batches"),
          when(col("first_batch") === RetractedBatch, lowestSurvivor)
            .otherwise(col("first_batch")).as("first_batch")), name)
    }.head
  }

  /** Find-or-build the POST-UPSERT registry generation: the daily-ingest
    * cycle's second half. After batch 7 is scored against history
    * ([[TextOps.dedupIncrementalRegistry]]), its NOVEL shingles are
    * appended into the registry with `first_batch = 7` so tomorrow's
    * batch scores against an 0..7 history.
    *
    * Scale notes (100 TB): the upsert itself scans ONLY the new batch —
    * shingle it, anti-join the bucketed registry (merge-hinted; no
    * Exchange on the registry side), and APPEND the survivors as
    * correctly-bucketed files (`mode("append").bucketBy` adds per-bucket
    * files; history is never rewritten). The v1→v2 generation clone below
    * exists ONLY because the scoring row's oracle needs v1 frozen at
    * batches 0..6 — a production registry upserts in place and the clone
    * disappears. Its marker is v1's fingerprint, which also makes the
    * declared row deterministic under re-runs: the second execution finds
    * the artifact built and serves it metadata-only.
    */
  def ensureUpserted(spark: SparkSession, dir: String): DataFrame = synchronized {
    val name = upsertedTable(dir)
    findOrBuild(spark, fingerprint(dir), Seq(name -> RegistryLayout)) {
      RegistryLayout.write(ensure(spark, dir), name)
      // THE upsert: new batch only, anti-joined against the (bucketed)
      // registry — shared verbatim with the StreamingSpec foreachBatch
      // drive ([[upsertBatch]]), delivered here as one whole batch
      upsertBatch(
        Tables.documents(spark, dir).filter(batchOf(col("doc_id")) === 7),
        name, ingestBatch = 7L)
    }.head
  }
}
