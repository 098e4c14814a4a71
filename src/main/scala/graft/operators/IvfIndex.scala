package graft.operators

import graft.functions.GraftFunctions
import graft.operators.Artifacts._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the cross-JOB production serve path the
  * in-session PlanCache cannot cover. The build step
  * trains the shared ⌈√n⌉-cell Lloyd codebook ([[VectorOps.ivfCodebook]]),
  * assigns every corpus vector to its nearest cell (6 dp rounded cosine,
  * cell-id tiebreak — the `pipeline_semantic_dedup` recipe), and writes
  * BOTH artifacts as catalog tables under the session warehouse:
  *
  *  - `graft_ivf_index_<corpus>`: (vec_id, emb, nrm, cell), BUCKETED by
  *    cell into [[Artifacts.NBuckets]] buckets — cell-keyed probes and
  *    per-cell maintenance scans read it with ZERO Exchange, and literal
  *    cell predicates prune buckets at the file level;
  *  - `graft_ivf_codebook_<corpus>`: (cell, cvec, cnrm) — kilobytes,
  *    broadcast at query time.
  *
  * Layout, freshness and the empty-apply alias follow the [[Artifacts]]
  * store contract; the fingerprint is the corpus identity plus the
  * artifact family's algo revision, so a regenerated corpus rebuilds.
  *
  * Scale notes (100 TB): the build is the one fact-scale pass (codebook
  * broadcast against the corpus scan, one cell-hash shuffle into bucket
  * files); serving broadcasts probe rows against the bucketed scan —
  * per-probe work is ~nprobe/nlist of the corpus and shuffle-free on the
  * index side. On a cluster the warehouse is the shared metastore path,
  * so any job serves from an index any other job built.
  */
object IvfIndex {

  def indexTable(dir: String): String = s"graft_ivf_index_${tag(dir)}"
  def codebookTable(dir: String): String = s"graft_ivf_codebook_${tag(dir)}"

  /** Algorithm revisions of the persisted artifacts, SCOPED PER ARTIFACT
    * FAMILY (r10 review finding): a single shared version string meant a
    * residual-only knob change (PqrK/PqrM) invalidated — and re-clustered
    * — the corpus-scale IVF index and the raw-PQ codes whose recipes were
    * untouched. Each family's fingerprint now embeds only the recipe
    * segments its artifacts actually derive from; bump a segment whenever
    * that recipe changes, so stale on-disk artifacts rebuild instead of
    * serving assignments the current oracle mirror no longer reproduces.
    */
  private val IvfAlgo = s"ivf-lloyd${VectorOps.IvfLloydIters}-stride"
  private val PqAlgo =
    s"$IvfAlgo|pq-k${VectorOps.PqK}-lloyd${VectorOps.PqLloydIters}"
  private val PqrAlgo =
    s"$IvfAlgo|pqr-k${VectorOps.PqrK}-m${VectorOps.PqrM}-lloyd${VectorOps.PqLloydIters}"

  /** Corpus identity plus the artifact family's algo revision. */
  private def fingerprint(dir: String, algo: String): String =
    s"${corpusIdentity(dir, "embeddings")}|$algo"

  /** The table shapes every IVF artifact family is built from: index and
    * codes tables are bucketed by cell and sorted by (cell, vec_id);
    * codebooks and tombstones are one small file.
    */
  private def byCell(schema: String): Layout = Layout.bucketed(schema, "cell", "cell", "vec_id")
  private[graft] val IndexLayout = byCell("vec_id BIGINT, emb ARRAY<DOUBLE>, nrm DOUBLE, cell BIGINT")
  private val SpilledLayout =
    byCell("vec_id BIGINT, emb ARRAY<DOUBLE>, nrm DOUBLE, cell BIGINT, crank BIGINT")
  private val CodesLayout = byCell("vec_id BIGINT, cell BIGINT, codes ARRAY<BIGINT>")
  private val CellCodebookLayout = Layout.small("cell BIGINT, cvec ARRAY<DOUBLE>, cnrm DOUBLE")
  private val SubCodebookLayout = Layout.small("sub BIGINT, cid BIGINT, cv ARRAY<DOUBLE>")
  private val TombstoneLayout = Layout.small("vec_id BIGINT, cell BIGINT")

  /** Row-local nearest-cell assignment of (vec_id, emb, nrm) rows to the
    * broadcast codebook `cents`: zero Exchange between the scan and the
    * cell column.
    */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    VectorOps.withNearestCells(e, cents, keep = 1)
      .select(col("vec_id").cast("long").as("vec_id"), col("emb"), col("nrm"), col("cell"))

  /** Find-or-build an (index, codebook) geometry over `corpus`: trains the
    * codebook ([[VectorOps.ivfCodebook]] at `nlistFactor`), `assign`s every
    * row to its cells and writes both tables. The only shuffle in the
    * build is the cell-hash repartition the bucketed write needs.
    */
  private def ensureGeometry(spark: SparkSession, fp: String, idxT: String, cbT: String,
      layout: Layout = IndexLayout, nlistFactor: Int = 1,
      assign: (DataFrame, DataFrame) => DataFrame = assignCells)(
      corpus: => DataFrame): (DataFrame, DataFrame) = {
    val Seq(idx, cb) = findOrBuild(spark, fp, Seq(idxT -> layout, cbT -> CellCodebookLayout)) {
      val e = corpus
      val cents = VectorOps.ivfCodebook(e, nlistFactor = nlistFactor)
      layout.write(assign(e, cents), idxT)
      CellCodebookLayout.write(cents.select(col("cell"), col("cvec"), col("cnrm")), cbT)
    }
    (idx, cb)
  }

  /** Find-or-build: returns (index, codebook) frames reading the
    * PERSISTED tables. Build runs only when the on-disk artifacts are
    * absent or stale vs the corpus fingerprint; a fresh session over
    * current artifacts pays only catalog DDL.
    */
  def ensure(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensureGeometry(spark, fingerprint(dir, IvfAlgo), indexTable(dir), codebookTable(dir))(
      VectorOps.withNorm(spark, dir))
  }

  /** Generation-g table names. Generation 1 IS the base [[ensure]]
    * layout; generation g ≥ 2 appends the ordinal — g = 2 reproduces
    * the round-10 `_g2_` names, so existing artifacts, declared rows
    * and specs are untouched by the r11 chain generalization.
    */
  def indexGenTable(dir: String, g: Int): String =
    if (g <= 1) indexTable(dir) else s"graft_ivf_index_g${g}_${tag(dir)}"
  def codebookGenTable(dir: String, g: Int): String =
    if (g <= 1) codebookTable(dir) else s"graft_ivf_codebook_g${g}_${tag(dir)}"

  def indexG2Table(dir: String): String = indexGenTable(dir, 2)
  def codebookG2Table(dir: String): String = codebookGenTable(dir, 2)

  /** Generation-g freshness key: the PARENT generation's fingerprint
    * plus this link's split-recipe segment — recursive, so invalidation
    * propagates down the chain STRUCTURALLY (with only the gen-1
    * fingerprint embedded, a recipe change at link g−1 would leave a
    * stale generation g reading as fresh if the split ever took
    * input-dependent parameters). g = 2 reproduces the round-10 key
    * exactly (`<gen1 fp>|gen2-split2means`); g ≥ 3 embeds every link
    * below it.
    */
  private def genFingerprint(dir: String, g: Int): String =
    if (g <= 1) fingerprint(dir, IvfAlgo)
    else s"${genFingerprint(dir, g - 1)}|gen$g-split2means"

  /** Is generation g current on disk? Generation 1 = the base
    * artifacts; a gen-g alias marker counts only while the generation it
    * aliases is itself current (resolved recursively — an alias chain
    * bottoms out at generation 1), so an alias whose data was removed
    * rebuilds instead of registering catalog entries over missing files.
    */
  private def genOnDisk(spark: SparkSession, dir: String, g: Int): Boolean =
    if (g <= 1)
      artifactsFresh(spark, fingerprint(dir, IvfAlgo), Seq(indexTable(dir), codebookTable(dir)))
    else {
      val fp = genFingerprint(dir, g)
      (isAlias(spark, indexGenTable(dir, g), fp) && genOnDisk(spark, dir, g - 1)) ||
        artifactsFresh(spark, fp,
          Seq(indexGenTable(dir, g), codebookGenTable(dir, g)))
    }

  /** Physical (index, codebook) directories generation g serves from:
    * its own when the apply wrote data, the aliased older generation's
    * when its marker is an alias — resolved recursively down the chain.
    */
  private def servingLocs(spark: SparkSession, dir: String, g: Int): Seq[java.io.File] =
    if (g > 1 && isAlias(spark, indexGenTable(dir, g), genFingerprint(dir, g)))
      servingLocs(spark, dir, g - 1)
    else
      Seq(tableLoc(spark, indexGenTable(dir, g)), tableLoc(spark, codebookGenTable(dir, g)))

  /** Gen-2 CODES freshness: the refreshed codes derive from the split
    * (IVF segment) AND the residual-PQ recipe, so both scope in.
    */
  private def pqrG2Fingerprint(dir: String): String =
    s"${fingerprint(dir, PqrAlgo)}|gen2-split2means"

  /** APPLY half of the IVF rebalance lifecycle: consume
    * the [[VectorOps.splitPlan]] 2-means split of every overloaded cell
    * and write INDEX GENERATION 2 — the same two artifacts as [[ensure]],
    * next generation:
    *
    *  - `graft_ivf_index_g2_<corpus>`: (vec_id, emb, nrm, cell) with
    *    split-cell members reassigned to their side's new cell id —
    *    side 0 KEEPS the original cell id, side 1 gets
    *    `max(gen-1 cell) + rank(split cell)` (dense, deterministic,
    *    collision-free); members of unsplit cells pass through
    *    UNTOUCHED. Cell-bucketed like generation 1.
    *  - `graft_ivf_codebook_g2_<corpus>`: unsplit centroids verbatim
    *    from generation 1; each split cell replaced by its two exact
    *    decimal-mean sub-centroids under the new ids.
    *
    * Generation 1 is NEVER modified — maintenance writes forward, serve
    * picks the freshest generation ([[serveLatest]]), and a failed apply
    * leaves the old index serving. The fingerprint is [[ensure]]'s with
    * the split recipe appended ([[genFingerprint]]). An EMPTY split plan
    * (no overloaded cells — the sf1 scale probe's case) publishes
    * generation 2 as an [[Artifacts]] alias of the generation-1 files.
    *
    * Scale notes (100 TB): the plan side is bounded by overloaded-cell
    * membership ([[VectorOps.splitPlan]]); the unsplit passthrough is a
    * broadcast ANTI join on the bucketed gen-1 scan (no recompute, no
    * wide shuffle — the only Exchange is the cell-hash repartition the
    * bucketed write needs, same as the gen-1 build); the id map and the
    * split codebook rows are kilobytes.
    */
  def ensureRebalanced(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ensureGen(spark, dir, 2)

  /** Generation-g find-or-build (the ordinal is a parameter, so the
    * nightly chain stats → plan → apply → refresh →
    * serve keeps running): generation g derives from generation g−1 by
    * one [[VectorOps.splitPlan]] apply, recursively ensuring the chain
    * below it. All the [[ensureRebalanced]] contracts hold per link —
    * write-forward, older generations byte-untouched, empty plans
    * publish metadata over the SERVING files of the previous link
    * ([[servingLocs]] resolves alias chains), fingerprints commit last.
    */
  def ensureGen(spark: SparkSession, dir: String, gen: Int): (DataFrame, DataFrame) = synchronized {
    if (gen <= 1) return ensure(spark, dir)
    val idxT = indexGenTable(dir, gen)
    val cbT = codebookGenTable(dir, gen)
    lazy val prev = ensureGen(spark, dir, gen - 1)
    lazy val plan = VectorOps.splitPlan(spark, prev._1, prev._2)
    // the split-cell list is bounded by the overload predicate (a
    // handful of rows, kilobytes) — collect it once and derive the
    // deterministic id map driver-side instead of ranking through an
    // unpartitioned window (Window.orderBy with no
    // partition spec funnels through a single partition and warns on
    // every apply)
    lazy val splitCells = graft.DriverLoop.collect(plan._1.select(col("cell")), "ivf split cells")
      .map(_.getLong(0)).sorted
    // an empty split plan publishes generation g over the previous
    // generation's SERVING files (alias chains resolve recursively)
    val Seq(genIdx, genCb) = findAliasOrBuild(spark, genFingerprint(dir, gen),
      Seq(idxT -> IndexLayout, cbT -> CellCodebookLayout),
      aliasCurrent = genOnDisk(spark, dir, gen - 1), planEmpty = splitCells.isEmpty,
      aliased = { ensureGen(spark, dir, gen - 1); servingLocs(spark, dir, gen - 1) }) {
      val (idx, cb) = prev
      val (_, asg, subCents) = plan
      // deterministic new ids: rank split cells by cell id — side 0
      // keeps the id, side 1 gets max(input-generation cell) + 1-based
      // rank. Built
      // driver-side from the collected bounded list (plus the one-row
      // codebook max), then broadcast back — no window, no crossJoin.
      val maxc = cb.agg(max(col("cell"))).head().getLong(0)
      val idMap = spark.createDataFrame(
        splitCells.zipWithIndex.flatMap { case (c, i) =>
          Seq((c, 0L, c), (c, 1L, maxc + i + 1L))
        }.toSeq).toDF("cell", "side", "new_cell")
      // split sub-centroids re-keyed to the new cell ids
      val splitCents = subCents
        .join(broadcast(idMap), Seq("cell", "side"))
        .select(col("new_cell").as("cell"), col("cvec"),
          sqrt(GraftFunctions.dot(col("cvec"), col("cvec"))).as("cnrm"))
      // the collected list also serves the two anti joins — the plan's
      // `over` aggregation is not recomputed per consumer
      val overCells = spark.createDataFrame(splitCells.toSeq.map(Tuple1(_))).toDF("cell")
      val cb2 = cb.join(broadcast(overCells), Seq("cell"), "left_anti")
        .select(col("cell"), col("cvec"), col("cnrm"))
        .unionByName(splitCents)
      // gen-2 index: unsplit rows pass through; split-cell members take
      // their side's new id (side 0 keeps the id, so only side-1 rows move)
      val keep = idx.join(broadcast(overCells), Seq("cell"), "left_anti")
        .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
      val moved = asg.join(broadcast(idMap), Seq("cell", "side"))
        .select(col("vec_id"), col("emb"), col("nrm"), col("new_cell").as("cell"))
      IndexLayout.write(keep.unionByName(moved), idxT)
      CellCodebookLayout.write(cb2, cbT)
    }
    (genIdx, genCb)
  }

  def pqrCodesG2Table(dir: String): String = s"graft_pqr_codes_g2_${tag(dir)}"

  /** INCREMENTAL residual-code refresh after an applied rebalance — the
    * maintenance step that keeps the residual-PQ artifacts consistent
    * with index generation 2: a split-cell member's residual base (its
    * cell centroid) changed, so its codes are stale; every other
    * member's centroid — and therefore residual, and therefore codes —
    * is bit-identical between generations. So the refresh RE-ENCODES
    * ONLY the members of split-geometry cells (side-0 ids whose centroid
    * moved + fresh side-1 ids, identified from the two kilobyte
    * codebooks alone) against the generation-2 centroids, COPIES every
    * other row's codes verbatim from the generation-1 codes table, and
    * persists the union as `graft_pqr_codes_g2_<corpus>` (cell-bucketed,
    * fingerprint freshness, generation 1 untouched). The residual-PQ
    * CODEBOOK is deliberately NOT retrained (the FAISS operational
    * default: codebook retraining is a reindex, not a refresh), so the
    * refresh's from-scratch oracle must reproduce both halves: the
    * copied codes because unsplit residuals are unchanged, the
    * re-encoded ones from the gen-2 geometry.
    *
    * Scale notes (100 TB): encode work ∝ split-cell members (row-local,
    * broadcast codebooks); the copy side is a bucketed scan with a
    * broadcast anti join (no recompute, no full-vector column); one
    * cell-hash shuffle for the bucketed write. Returns (gen-2 codes,
    * residual codebook).
    */
  def ensurePqrG2(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    lazy val cb1 = ensure(spark, dir)._2
    lazy val gen2 = ensureRebalanced(spark, dir)
    // split-geometry cells from the two kilobyte codebooks alone:
    // a gen-2 centroid that differs from gen-1 under the same id
    // (side 0) or has no gen-1 row at all (side 1)
    lazy val changed = gen2._2.select(col("cell"), col("cvec"))
      .join(cb1.select(col("cell"), col("cvec").as("cvec1")), Seq("cell"), "left")
      .filter(col("cvec1").isNull || col("cvec1") =!= col("cvec"))
      .select(col("cell"))
    // an empty refresh set publishes the gen-2 codes over the gen-1
    // codes files
    val codesT = pqrCodesG2Table(dir)
    val Seq(codes2) = findAliasOrBuild(spark, pqrG2Fingerprint(dir), Seq(codesT -> CodesLayout),
      aliasCurrent = artifactsFresh(spark, fingerprint(dir, PqrAlgo),
        Seq(pqrCodesTable(dir), pqrCodebookTable(dir))),
      planEmpty = changed.isEmpty,
      aliased = { ensurePqResidual(spark, dir); Seq(tableLoc(spark, pqrCodesTable(dir))) }) {
      val (idx2, cb2) = gen2
      val (codes1, rcb) = ensurePqResidual(spark, dir)
      val changedOld = changed.join(cb1.select(col("cell")), Seq("cell"), "left_semi")
      val refreshed = VectorOps.pqCodes(
        VectorOps.residualEmb(idx2.join(broadcast(changed), Seq("cell"), "left_semi"), cb2),
        rcb, VectorOps.PqrM, VectorOps.PqrW)
      val copied = codes1.join(broadcast(changedOld), Seq("cell"), "left_anti")
        .select(col("vec_id"), col("cell"), col("codes"))
      CodesLayout.write(copied.unionByName(refreshed), codesT)
    }
    (codes2, ensurePqResidual(spark, dir)._2)
  }

  /** Read-side generation policy: serve the FRESHEST index generation
    * on disk — the highest ordinal whose fingerprint chain is current
    * ([[genOnDisk]], which also validates what alias markers point at),
    * generation 1 otherwise. Pure read: a serve path never builds a
    * generation inline (maintenance does, via [[ensureGen]]); it only
    * re-registers catalog metadata when a new JVM finds current
    * artifacts, exactly like [[ensure]].
    */
  def serveLatest(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val wh = warehouseDir(spark)
    val pat = ("graft_ivf_index_g(\\d+)_" +
      java.util.regex.Pattern.quote(tag(dir)) + "\\.fingerprint").r
    val gens = Option(wh.listFiles()).toSeq.flatten.map(_.getName).flatMap {
      case pat(g) => Some(g.toInt)
      case _ => None
    }
    val fresh = gens.filter(g => genOnDisk(spark, dir, g))
    if (fresh.nonEmpty) ensureGen(spark, dir, fresh.max) else ensure(spark, dir)
  }

  // ------------------------------------------------------------------
  // Incremental ADD — the most common production index
  // operation: a NEW batch of vectors joins the persisted index without
  // a rebuild. The ShingleRegistry discipline applied to vectors: a
  // BASE index generation is built over yesterday's corpus (here the
  // deterministic slice vec_id % 10 != 3), and the arriving batch
  // (vec_id % 10 == 3) is assigned ROW-LOCALLY to the EXISTING cells
  // (broadcast codebook, compiled argmin — the codebook is NOT
  // retrained; FAISS add() semantics) and APPENDED as correctly-
  // bucketed files. Existing files are never rewritten (IvfIndexSpec
  // proves byte-identity); serve paths answer from the union
  // immediately because appended rows land in the same bucketed layout.
  //
  // Idempotence contract (differs from the registry's row-level
  // anti-join, deliberately): vec_ids are globally unique by upstream
  // contract — an ingest pipeline assigns fresh ids — so no dedup scan
  // of the huge table is needed per append. Replay protection is
  // job-level: the fingerprint commits LAST, so a crashed append leaves
  // no fingerprint and the next run rebuilds the generation from its
  // seed, while a completed append replays as a metadata-only no-op.
  //
  // The base→appended generation CLONE exists only because the declared
  // rows' oracles need the base generation frozen (the registry v1→v2
  // rule); a production index appends in place and the clone disappears.
  // ------------------------------------------------------------------

  /** The deterministic ingest-batch rule for vectors, shared by builds,
    * declared rows and mirrors: vec_id ≡ 3 (mod 10) is "today's batch",
    * everything else is the base corpus. Disjoint from the recall
    * probes' query sample (≡ 7 mod 10) so serve rows stay honest.
    */
  def isAppendBatch(vecId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    vecId % 10 === 3

  def baseIndexTable(dir: String): String = s"graft_ivf_base_${tag(dir)}"
  def baseCodebookTable(dir: String): String = s"graft_ivf_basecb_${tag(dir)}"
  def appendedIndexTable(dir: String): String = s"graft_ivf_index_app_${tag(dir)}"

  private val BaseAlgo = s"$IvfAlgo|base-ex3"
  private def appFingerprint(dir: String): String =
    s"${fingerprint(dir, BaseAlgo)}|append-mod3"

  /** Find-or-build the BASE index generation: [[ensure]]'s exact recipe
    * (trained ⌈√n⌉-cell codebook, row-local assignment) over
    * the base slice (vec_id % 10 != 3). nlist/stride derive from the
    * BASE count, and stride seeds are the base slice's own ids — the
    * mirror re-derives both from the same filter.
    */
  def ensureBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensureGeometry(spark, fingerprint(dir, BaseAlgo), baseIndexTable(dir), baseCodebookTable(dir))(
      VectorOps.withNorm(spark, dir).filter(!isAppendBatch(col("vec_id"))))
  }

  /** The APPEND frame: today's batch assigned row-locally to the BASE
    * generation's cells (broadcast codebook, compiled argmin — zero
    * Exchange, PlanSpec-asserted; the only shuffle in the whole append
    * is the batch-sized cell-hash repartition the bucketed write
    * needs). Exposed separately so the spec can pin the plan shape of
    * exactly what gets appended.
    */
  def appendAssigned(spark: SparkSession, dir: String, baseCb: DataFrame): DataFrame = {
    assignCells(VectorOps.withNorm(spark, dir).filter(isAppendBatch(col("vec_id"))), baseCb)
  }

  /** Find-or-build the POST-APPEND index generation: clone the base
    * generation (oracle-freeze step, see the section comment), then
    * APPEND today's batch as correctly-bucketed files —
    * `mode("append").bucketBy` adds per-bucket files next to the
    * existing ones; nothing is rewritten. The codebook is the base
    * codebook UNCHANGED (an append never moves a centroid — cell drift
    * is the rebalance lifecycle's job, to run AFTER appends overload a
    * cell).
    *
    * Scale notes (100 TB): work ∝ batch size — one batch scan, one
    * row-local assignment, one batch-sized shuffle, ≤ NBuckets new
    * files; the base data is read only by the oracle-freeze clone,
    * which production skips (append in place).
    */
  def ensureAppended(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val name = appendedIndexTable(dir)
    val (baseIdx, baseCb) = ensureBase(spark, dir)
    val Seq(appIdx) = findOrBuild(spark, appFingerprint(dir), Seq(name -> IndexLayout)) {
      IndexLayout.write(baseIdx, name)
      // THE append: batch only — assigned row-locally, appended as
      // correctly-bucketed files; the clone's files are not touched
      IndexLayout.append(appendAssigned(spark, dir, baseCb), name)
    }
    (appIdx, baseCb)
  }

  /** ONE idempotent append of a delivered embedding micro-batch into
    * the index generation `name` (seeded with [[IndexLayout]]): assign
    * each arriving (vec_id, emb) row-locally to its nearest cell of the FROZEN codebook `cb`
    * (broadcast, compiled argmin — never retrained mid-stream),
    * anti-join the LIVE table on (cell, vec_id) — the cell equi-key
    * keeps the bucketed side co-partitioned, so ONLY the arriving batch
    * shuffles (PlanSpec-asserted) — and APPEND the survivors as
    * correctly-bucketed files. Replays are no-ops BY CONSTRUCTION: a
    * replayed delivery's rows are already in the table under the same
    * (cell, vec_id), so the anti-join drops them — the row-level
    * idempotence the at-least-once foreachBatch contract requires
    * (unlike the batch [[ensureAppended]] job, whose replay protection
    * is the job-level fingerprint-commits-last rule — a streaming sink
    * replays PARTS of the work, so idempotence must be per row).
    * Micro-batch boundaries don't matter: the final state equals the
    * one-shot batch append (StreamingSpec proves it against
    * [[ensureAppended]] with a forced double delivery and a restart).
    */
  def appendVecBatch(batch: DataFrame, name: String, cb: DataFrame): Unit = {
    val spark = batch.sparkSession
    val b = batch.withColumn("nrm",
      sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
    IndexLayout.append(assignCells(b, cb)
      .join(spark.table(name).select(col("cell"), col("vec_id")).hint("merge"),
        Seq("cell", "vec_id"), "left_anti")
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell")), name)
  }

  def appTombstoneTable(dir: String): String = s"graft_ivf_tombstones_app_${tag(dir)}"

  /** Append-family tombstone fingerprint — derives from the APPENDED
    * generation's fingerprint (the chaining discipline): a
    * change to the append recipe invalidates the tombstones built over
    * its assignment automatically.
    */
  private def appTombstoneFingerprint(dir: String): String =
    s"${appFingerprint(dir)}|tombstones-mod9"

  /** Find-or-build the append-family tombstone table: (vec_id, cell) of
    * every deleted row (vec_id ≡ 9 mod 10, [[isDeleted]] — all base
    * rows, since the append batch is ≡ 3) READ FROM THE APPENDED
    * generation, so the cells match the geometry the production serve
    * path probes. Kilobytes, one file, index files byte-untouched.
    */
  def ensureTombstonesApp(spark: SparkSession, dir: String): DataFrame = synchronized {
    ensureTombstoneTable(spark, appTombstoneFingerprint(dir), appTombstoneTable(dir))(
      ensureAppended(spark, dir)._1)
  }

  /** Read-side generation policy for the APPEND family — the
    * [[serveLatest]] discipline: serve the freshest generation whose
    * fingerprint chain is current. The appended generation is freshest
    * when its own marker AND the base generation below it (whose
    * codebook it serves with) are current; otherwise fall back to the
    * base generation. Pure read — a serve path never builds a
    * generation inline; it only re-registers catalog metadata when a
    * new JVM finds current artifacts.
    */
  def serveFreshestApp(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val appCurrent =
      artifactsFresh(spark, appFingerprint(dir), Seq(appendedIndexTable(dir))) &&
        artifactsFresh(spark, fingerprint(dir, BaseAlgo),
          Seq(baseIndexTable(dir), baseCodebookTable(dir)))
    if (appCurrent) ensureAppended(spark, dir) else ensureBase(spark, dir)
  }

  def pqrBaseCodesTable(dir: String): String = s"graft_pqr_base_codes_${tag(dir)}"
  def pqrBaseCodebookTable(dir: String): String = s"graft_pqr_base_cb_${tag(dir)}"
  def pqrAppendedCodesTable(dir: String): String = s"graft_pqr_codes_app_${tag(dir)}"

  private val PqrBaseAlgo =
    s"$BaseAlgo|pqr-k${VectorOps.PqrK}-m${VectorOps.PqrM}-lloyd${VectorOps.PqLloydIters}"

  /** Find-or-build the BASE residual-PQ artifacts — [[ensurePqResidual]]
    * over the base generation: residual codebook trained on the BASE
    * slice's residuals, codes for base rows only.
    */
  def ensurePqrBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensureResidualPq(spark, fingerprint(dir, PqrBaseAlgo),
      pqrBaseCodesTable(dir), pqrBaseCodebookTable(dir))(ensureBase(spark, dir))
  }

  /** Find-or-build the POST-APPEND residual codes: clone the base codes
    * generation, then append the batch rows' codes — residual vs their
    * (row-locally assigned) base cell, encoded with the UNCHANGED
    * base-trained residual codebook (an append never retrains; that is
    * the refresh/reindex lifecycle's job). Same job-level idempotence
    * and byte-untouched-history contracts as [[ensureAppended]].
    */
  def ensurePqrAppended(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val name = pqrAppendedCodesTable(dir)
    val (baseCodes, rcb) = ensurePqrBase(spark, dir)
    val Seq(appCodes) = findOrBuild(spark, s"${fingerprint(dir, PqrBaseAlgo)}|append-mod3",
      Seq(name -> CodesLayout)) {
      val (_, baseCb) = ensureBase(spark, dir)
      CodesLayout.write(baseCodes, name)
      // batch codes: residual vs the assigned base cell, base codebook
      CodesLayout.append(VectorOps.pqCodes(
        VectorOps.residualEmb(appendAssigned(spark, dir, baseCb), baseCb),
        rcb, VectorOps.PqrM, VectorOps.PqrW), name)
    }
    (appCodes, rcb)
  }

  // ------------------------------------------------------------------
  // Tombstone DELETE lifecycle — the remaining CRUD corner (r11): a
  // delete batch lands as a PERSISTED kilobyte tombstone table beside
  // the index (index files byte-untouched — the FAISS remove_ids-
  // without-rebuild discipline); serve paths exclude tombstoned rows
  // with a broadcast anti join the moment the tombstones land; a
  // write-forward COMPACTION generation physically drops them later.
  // The codebook never changes: deletes do not move centroids —
  // geometry drift is the rebalance chain's job, which runs on the
  // compacted population next.
  // ------------------------------------------------------------------

  /** Deterministic delete-batch rule, shared by builds, declared rows
    * and mirrors: vec_id ≡ 9 (mod 10) — disjoint from the append batch
    * (≡ 3) and the disjoint query sample (≡ 7).
    */
  def isDeleted(vecId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    vecId % 10 === 9

  def tombstoneTable(dir: String): String = s"graft_ivf_tombstones_${tag(dir)}"
  def compactedIndexTable(dir: String): String = s"graft_ivf_index_c1_${tag(dir)}"

  /** Tombstone-family freshness key — the compacted generation derives
    * its own key FROM this one: the compacted data is a
    * function of the tombstone table, so a delete-rule or tombstone-fp
    * bump must invalidate the compacted generation automatically, not
    * by remembering to bump a parallel suffix.
    */
  private def tombstoneFingerprint(dir: String): String =
    s"${fingerprint(dir, IvfAlgo)}|tombstones-mod9"

  /** Find-or-build the persisted tombstone table: (vec_id, cell) of
    * every deleted row — kilobytes (ids + cells only, broadcast at
    * serve time), one file, fingerprint freshness like every artifact.
    * Carrying the cell lets audits and compaction prune to affected
    * cells without consulting the index.
    */
  def ensureTombstones(spark: SparkSession, dir: String): DataFrame = synchronized {
    ensureTombstoneTable(spark, tombstoneFingerprint(dir), tombstoneTable(dir))(
      ensure(spark, dir)._1)
  }

  /** Find-or-build tombstone table `name`: (vec_id, cell) of every
    * [[isDeleted]] row of `index`, one small file.
    */
  private def ensureTombstoneTable(spark: SparkSession, fp: String, name: String)(
      index: => DataFrame): DataFrame =
    findOrBuild(spark, fp, Seq(name -> TombstoneLayout)) {
      TombstoneLayout.write(index.filter(isDeleted(col("vec_id")))
        .select(col("vec_id"), col("cell")), name)
    }.head

  /** Find-or-build the COMPACTED generation: the live rows (gen-1 minus
    * tombstones, broadcast anti join) written forward as a cell-bucketed
    * generation; gen-1 and the tombstone table stay byte-untouched (a
    * failed compaction leaves the tombstone-filtered serve path intact).
    * Returns (compacted index, gen-1 codebook) — compaction never moves
    * a centroid.
    */
  def ensureCompacted(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    val name = compactedIndexTable(dir)
    val (idx, cb) = ensure(spark, dir)
    // keyed off the TOMBSTONE fingerprint: the compacted
    // rows derive from the tombstone table, so any tombstone-recipe
    // bump invalidates the compacted generation structurally
    val Seq(compacted) = findOrBuild(spark, s"${tombstoneFingerprint(dir)}|compact1",
      Seq(name -> IndexLayout)) {
      val ts = ensureTombstones(spark, dir)
      IndexLayout.write(idx.join(broadcast(ts.select(col("vec_id"))), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("emb"), col("nrm"), col("cell")), name)
    }
    (compacted, cb)
  }

  // ------------------------------------------------------------------
  // BUILD-TIME MULTI-ASSIGNMENT family: the IVF geometry itself is the
  // binding recall bound — cell-stage recall@3
  // = 0.640 at 17.8% of the corpus scanned (RECALL.md). The FAISS
  // multi-assignment discipline raises the ceiling WITHOUT touching
  // ADC: train a FINER codebook ([[SpillFactor]]·⌈√n⌉ cells) and store
  // every corpus vector in its [[SpillK]] nearest cells, so a query
  // whose true neighbor sits just across a cell boundary still finds
  // it in a probed cell. Measured on the sf0.1 sweep (RECALL.md r12):
  // recall@3 at ≤20% scanned rises 0.640 → 0.760 (nprobe=16). The
  // price is explicit: the index stores each vector SpillK times, and
  // the scanned fraction counts those copies.
  // ------------------------------------------------------------------

  /** Multi-assignment arity: each vector lands in its 2 nearest cells. */
  val SpillK = 2

  /** Finer-geometry knob: nlist = SpillFactor·⌈√n⌉ trained cells. */
  val SpillFactor = 4

  def spillIndexTable(dir: String): String = s"graft_ivf_spill_${tag(dir)}"
  def spillCodebookTable(dir: String): String = s"graft_ivf_spillcb_${tag(dir)}"

  private val SpillAlgo =
    s"ivf-lloyd${VectorOps.IvfLloydIters}-stride-f$SpillFactor|spill$SpillK"

  /** Find-or-build the SPILLED index: [[ensure]]'s recipe (trained
    * codebook, row-local assignment) at the multi-assignment geometry — nlist = [[SpillFactor]]·⌈√n⌉ cells,
    * each vector stored under its [[SpillK]] nearest cells with its
    * probe rank (`crank` 1..SpillK). Returns (spilled index, codebook).
    *
    * Scale notes (100 TB): build work is the same one fact-scale pass
    * as [[ensure]] ×SpillK output rows (row-local compiled top-k
    * assignment, one cell-hash shuffle into bucket files); the codebook
    * stays kilobytes-to-megabytes (SpillFactor·√n rows) and broadcasts.
    */
  def ensureSpilled(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    // row-local top-SpillK assignment with its probe rank (crank 1 =
    // the cell [[ensure]] would have assigned)
    ensureGeometry(spark, fingerprint(dir, SpillAlgo), spillIndexTable(dir),
      spillCodebookTable(dir), SpilledLayout, SpillFactor,
      (e, cents) => VectorOps.withRankedCells(e, cents, SpillK, "crank")
        .select(col("vec_id").cast("long").as("vec_id"), col("emb"), col("nrm"),
          col("cell"), col("crank")))(VectorOps.withNorm(spark, dir))
  }

  def pqrSpillCodesTable(dir: String): String = s"graft_pqr_spill_codes_${tag(dir)}"
  def pqrSpillCodebookTable(dir: String): String = s"graft_pqr_spill_cb_${tag(dir)}"

  private val PqrSpillAlgo =
    s"$SpillAlgo|pqr-k${VectorOps.PqrK}-m${VectorOps.PqrM}-lloyd${VectorOps.PqLloydIters}"

  /** Find-or-build the residual-PQ artifacts of the SPILLED geometry —
    * the FAISS multi-assignment codes layout: every spilled COPY
    * (vector × crank-cell) encodes its residual vs THAT cell's
    * centroid, so ADC inside any probed cell scores the copy against
    * the geometry it actually sits in; the residual codebook trains on
    * the PRIMARY (crank = 1) residuals only — training on all copies
    * would double-count every vector. Codes table = SpillK·n rows,
    * cell-bucketed, keyed (vec_id, cell).
    */
  def ensurePqrSpilled(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensureResidualPq(spark, fingerprint(dir, PqrSpillAlgo),
      pqrSpillCodesTable(dir), pqrSpillCodebookTable(dir),
      _.filter(col("crank") === 1))(ensureSpilled(spark, dir))
  }

  def pqCodesTable(dir: String): String = s"graft_pq_codes_${tag(dir)}"
  def pqCodebookTable(dir: String): String = s"graft_pq_codebook_${tag(dir)}"

  /** Find-or-build the persisted PQ artifacts on top of [[ensure]] — the
    * FAISS-style IVF-PQ index laid out as tables:
    *
    *  - `graft_pq_codes_<corpus>`: (vec_id, cell, codes ARRAY<BIGINT>) —
    *    4 packed subspace codes per vector, BUCKETED by cell like the IVF
    *    index so probed-cell scans read it with zero Exchange and literal
    *    cell predicates prune buckets; ~64× smaller than the vectors.
    *  - `graft_pq_codebook_<corpus>`: (sub, cid, cv) — 4×16 subspace
    *    centroids TRAINED per subspace ([[VectorOps.trainPqCodebook]]:
    *    stride-sampled seeds + fixed Lloyd rounds), kilobytes, broadcast
    *    at query time to build each query's LUT.
    *
    * The encode reads the PERSISTED index (vectors + cells already co-located per bucket) — the corpus
    * parquet is never re-touched.
    */
  def ensurePq(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensurePqArtifacts(spark, fingerprint(dir, PqAlgo), pqCodesTable(dir), pqCodebookTable(dir)) {
      val (idx, _) = ensure(spark, dir)
      // trained per-subspace codebook: stride-sampled seeds + fixed Lloyd
      // rounds
      (VectorOps.trainPqCodebook(idx), idx)
    }
  }

  def pqrCodesTable(dir: String): String = s"graft_pqr_codes_${tag(dir)}"
  def pqrCodebookTable(dir: String): String = s"graft_pqr_codebook_${tag(dir)}"

  /** Find-or-build the persisted RESIDUAL-PQ artifacts
    * — the FAISS-standard IVF-PQ layout: codes quantize
    * emb − centroid(cell) ([[VectorOps.withResiduals]]), not the raw
    * vector, so the per-subspace budget encodes within-cell offsets.
    * Table shapes are [[ensurePq]]'s:
    *
    *  - `graft_pqr_codes_<corpus>`: (vec_id, cell, codes ARRAY<BIGINT>),
    *    cell-bucketed;
    *  - `graft_pqr_codebook_<corpus>`: (sub, cid, cv) residual subspace
    *    centroids ([[VectorOps.trainPqResidualCodebook]]).
    *
    * At query time the LUT becomes per-(query, probed cell) — the query
    * residual vs that cell — still queries × nprobe × 4 × [[VectorOps.PqK]]
    * rows, kilobytes, broadcast.
    */
  def ensurePqResidual(spark: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    ensureResidualPq(spark, fingerprint(dir, PqrAlgo),
      pqrCodesTable(dir), pqrCodebookTable(dir))(ensure(spark, dir))
  }

  /** Find-or-build one PQ artifact pair — the codes table (`codesT`,
    * cell-bucketed (vec_id, cell, codes)) and its (sub, cid, cv) codebook
    * (`cbT`) — from `train`'s (codebook, encode input). The encode is
    * row-local: all m codes per vector come out of one map pass over the
    * bucketed index — no per-(vector, subspace) window Exchange, no
    * re-pack aggregation.
    */
  private def ensurePqArtifacts(spark: SparkSession, fp: String, codesT: String, cbT: String,
      m: Int = 4, w: Int = 16)(train: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val Seq(codes, cb) = findOrBuild(spark, fp,
      Seq(codesT -> CodesLayout, cbT -> SubCodebookLayout)) {
      val (cents, input) = train
      CodesLayout.write(VectorOps.pqCodes(input, cents, m, w), codesT)
      SubCodebookLayout.write(
        cents.select(col("sub").cast("long").as("sub"), col("cid"), col("cv")), cbT)
    }
    (codes, cb)
  }

  /** [[ensurePqArtifacts]] for residual PQ over `geometry`'s (index, cell
    * codebook): the residual codebook trains on the `trainRows` of the
    * index, and every index row encodes its residual.
    */
  private def ensureResidualPq(spark: SparkSession, fp: String, codesT: String, cbT: String,
      trainRows: DataFrame => DataFrame = identity)(
      geometry: => (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    ensurePqArtifacts(spark, fp, codesT, cbT, VectorOps.PqrM, VectorOps.PqrW) {
      val (idx, cb) = geometry
      (VectorOps.trainPqResidualCodebook(trainRows(idx), cb), VectorOps.residualEmb(idx, cb))
    }
}
