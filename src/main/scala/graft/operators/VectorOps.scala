package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.1.I (vector half) — embedding-column operators: norm
  * stats, per-label centroids, brute-force cosine top-k, multimodal
  * join+rank, exact embedding near-dup, and the ANN scale path
  * (random-hyperplane LSH buckets).
  *
  * Scale notes (100 TB):
  *  - Norms/centroids: posexplode + decimal partial aggregation — the
  *    shuffle carries one row per (group, dim), independent of row count.
  *  - Cosine top-k broadcasts the (small) probe side; the big side
  *    streams through one pass — no shuffle of the corpus. Per-probe
  *    top-k via window on the probe partition.
  *  - Exact near-dup blocks by label (equi-join) so candidate pairs are
  *    per-block quadratic, not global; `vec_ann_lsh` is the sublinear
  *    candidate-generation path for 100 TB (bucket equi-join).
  *  - Double sums are guarded per §2.0 rule 7: similarity computed in
  *    double, rounded to 6 dp with id tiebreaks before ranking/output.
  */
object VectorOps extends QueryModule {

  /** Embeddings with a double-typed vector and its precomputed L2 norm. */
  def withNorm(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    Tables
      .embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
  }

  private val cosine = (a: String, b: String, na: String, nb: String) =>
    GraftFunctions.dot(col(a), col(b)) / (col(na) * col(nb))

  /** DATA-DRIVEN IVF codebook: `nlist = ⌈√n⌉` cells —
    * the SemDeDup √n rule as code, not a constant — trained with ONE
    * deterministic Lloyd step (`vec_kmeans_lloyd`'s exact recipe: seeds
    * = the nlist lowest vec_ids, nearest-seed assignment via the
    * rounded ‖a‖²−2a·c+‖c‖² identity with cid tiebreak, update = exact
    * per-dimension decimal means). Every seed is its own nearest member,
    * so no cell is ever empty and the cell count IS nlist.
    *
    * nlist is derived IN-PLAN (a 1-row count frame cross-joined into the
    * seed filter) so the codebook adapts to the corpus it indexes; a
    * production deployment would read n from table statistics instead of
    * the extra count pass. `nlistOverride` pins the cell count for
    * recall-parity tests. Returns (cell, cvec, cnrm) as a memo —
    * nlist×dim rows — so multi-reference plans (index + probe sides)
    * never re-run the two corpus passes. The memo is
    * PlanCache-held per (corpus plan, nlist): every ANN/semantic
    * query over the same directory shares ONE codebook build, the same
    * shared-stage discipline as TextOps' shingle/pair tables.
    */
  private val codebookCache = new graft.PlanCache(4)
  private val pqCodebookCache = new graft.PlanCache(4)

  /** Force the shared ⌈√n⌉-cell IVF codebook for this corpus and report
    * the elapsed seconds. Bench clocks it OUTSIDE the per-query timers
    * (the shared-stage discipline): the ANN/semantic rows
    * then measure their own plans, not whichever family member happened
    * to build the codebook first.
    */
  /** Per-step wall clock for the shared-stage builds, logged to stderr
    * (r13): the cold-warehouse build is a full shared-stage line item of
    * ~80 s at sf0.1, and optimizing it needs attribution — stdout stays
    * clean for the bench JSON contract.
    */
  private def timed[T](step: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[shared-vec] $step ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def prepareSharedStages(
      spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    // each memo below is built by its PlanCache lookup
    timed("ivfCodebook")(ivfCodebook(withNorm(spark, dir)))
    // the in-plan trained PQ codebook (vec_ann_ivfpq + recall report)
    // shares the same once-per-corpus discipline
    timed("trainPqCodebook")(trainPqCodebook(withNorm(spark, dir)))
    // the memoized exact-kNN graph is shared by vec_knn_graph_stats and
    // vec_twonn_intrinsic_dim — clock its build here (shared stages get
    // their own line, not whichever query runs first)
    timed("cachedKnn5")(cachedKnn5(spark, dir))
    // persisted IVF index + PQ codes/codebook: first bench run on a
    // corpus pays the builds here (their own shared-stage line item, not
    // the serve rows' clocks); subsequent sessions re-register metadata.
    // The codebook trainings above already run the PqEncodeAll kernel
    // (the L2 argmin is its one-subspace case), so the residual build
    // below finds it JIT-compiled
    timed("ensure")(IvfIndex.ensure(spark, dir))
    timed("ensurePq")(IvfIndex.ensurePq(spark, dir))
    timed("ensurePqResidual")(IvfIndex.ensurePqResidual(spark, dir))
    // generation-2 (applied rebalance + refreshed residual codes)
    // builds: shared by the apply + refresh + freshest-generation serve
    // rows, same once-per-corpus discipline
    timed("ensureRebalanced")(IvfIndex.ensureRebalanced(spark, dir))
    timed("ensurePqrG2")(IvfIndex.ensurePqrG2(spark, dir))
    // r11 lifecycle artifacts: the generation-3 chain link and the
    // incremental-ADD family (base generation + appended index + base/
    // appended residual codes) — all once-per-corpus builds the chain /
    // append / serve-app rows then find on disk
    timed("ensureGen3")(IvfIndex.ensureGen(spark, dir, 3))
    timed("ensureBase")(IvfIndex.ensureBase(spark, dir))
    timed("ensureAppended")(IvfIndex.ensureAppended(spark, dir))
    timed("ensurePqrBase")(IvfIndex.ensurePqrBase(spark, dir))
    timed("ensurePqrAppended")(IvfIndex.ensurePqrAppended(spark, dir))
    // delete lifecycle artifacts (tombstone table + compacted generation)
    timed("ensureTombstones")(IvfIndex.ensureTombstones(spark, dir))
    timed("ensureCompacted")(IvfIndex.ensureCompacted(spark, dir))
    // r12 artifacts: the multi-assignment (spilled) family + its
    // residual codes, and the append-family tombstones the composed
    // production serve row excludes
    timed("ensureSpilled")(IvfIndex.ensureSpilled(spark, dir))
    timed("ensurePqrSpilled")(IvfIndex.ensurePqrSpilled(spark, dir))
    timed("ensureTombstonesApp")(IvfIndex.ensureTombstonesApp(spark, dir))
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed Lloyd refinement passes the IVF codebook trains with — a
    * shared constant so the Spark build and the DuckDB oracle mirror
    * ([[ivfCodebookSql]]) unroll the SAME count. Deterministic: no
    * convergence test, exactly this many assignment→mean rounds.
    */
  private[graft] val IvfLloydIters = 3

  /** One deterministic Lloyd round: assign every corpus vector to its
    * nearest centroid row-locally (rounded ‖a‖²−2a·c+‖c‖², cid tiebreak)
    * and replace each centroid with the exact decimal mean of its
    * members; a centroid that captured nothing KEEPS its previous
    * position (the textbook empty-cluster carry), so the cell count is
    * invariant across rounds. `cents` is bounded (nlist rows) and cached
    * by the caller, so referencing it twice (assignment broadcast +
    * carry fallback) does not re-derive its lineage.
    */
  private def lloydRound(e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val means = withNearestCentroidD2(e, cents, "cid", "cemb", "cid", "d2")
      .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("v").cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("n"))
      .withColumn("c", col("s").cast(DoubleType) / col("n"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cid"), expr("transform(pc, x -> x.c)").as("m"))
    cents.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("m"), col("cemb")).as("cemb"))
  }

  /** Trained ⌈√n⌉-cell IVF codebook: seeds are an
    * id-ordered STRIDE sample of the corpus (one seed every ⌊n/nlist⌋
    * ids — k-means++-style spatial spread without k sequential corpus
    * passes, which would not scale with nlist = √n), refined by
    * [[IvfLloydIters]] fixed Lloyd rounds with exact decimal means so
    * the DuckDB mirror reproduces every double bit-for-bit. Trained by
    * [[lloydMemo]] under [[codebookCache]], once per corpus.
    */
  def ivfCodebook(e: org.apache.spark.sql.DataFrame,
                  nlistOverride: Option[Int] = None,
                  nlistFactor: Int = 1): org.apache.spark.sql.DataFrame = {
    val seeds = nlistOverride match {
      case Some(m) => e.filter(col("vec_id") < m)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      case None =>
        // nlistFactor > 1 trains a FINER geometry (factor·⌈√n⌉ cells) —
        // the r12 spilled family's knob; factor = 1 is the r8 default
        // every existing artifact and mirror pins
        val nl = e.agg(count(lit(1)).as("n"))
          .select(col("n"),
            (ceil(sqrt(col("n"))).cast("long") * nlistFactor).as("nlist"))
          .select(col("nlist"), greatest(expr("n DIV nlist"), lit(1L)).as("stride"))
        e.crossJoin(broadcast(nl))
          .filter(col("vec_id") % col("stride") === 0 &&
            expr("vec_id DIV stride") < col("nlist"))
          .select(expr("CAST(vec_id DIV stride AS LONG)").as("cid"),
            col("emb").as("cemb"))
    }
    lloydMemo(codebookCache, seeds, IvfLloydIters)(lloydRound(e, _))
      .select(col("cid").cast("long").as("cell"), col("cemb").as("cvec"))
      .withColumn("cnrm", sqrt(GraftFunctions.dot(col("cvec"), col("cvec"))))
  }

  /** `iters` Lloyd rounds from `seeds`, memoized by `memo` in one
    * partition and keyed on the seeds plan, which carries the corpus and
    * the cell count. Each round's centroid frame (a few rows) is cached
    * so round i reads round i−1 once instead of re-deriving rounds
    * 1..i−1; the rounds are unpersisted once the memo holds the trained
    * centroids, and a hit builds none of them.
    */
  private def lloydMemo(memo: graft.PlanCache, seeds: org.apache.spark.sql.DataFrame, iters: Int)(
      round: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rounds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val trained = memo.getOrCompute(seeds) { s =>
      (1 to iters).foldLeft(s) { (c, _) => rounds += c.cache(); round(c) }.repartition(1)
    }
    rounds.foreach(_.unpersist(blocking = false))
    trained
  }

  /** The SQL twin of [[roundedL2]]: `‖a‖² − 2a·b + ‖b‖²` rounded to 6 dp,
    * over the list columns `a` and `b`.
    */
  private def roundedL2Sql(a: String, b: String): String =
    s"ROUND(list_inner_product($a, $a) - 2.0 * list_inner_product($a, $b)" +
      s" + list_inner_product($b, $b), 6)"

  /** The SQL twin of [[cosineTopK]]'s rank at k = 3: each query's three
    * best `cand(q_id, vec_id, cos)` rows, vec_id breaking ties, as the
    * final SELECT of an ANN row.
    */
  private def cosineTop3Sql: String = """SELECT q_id, vec_id, cos, rn FROM (
        SELECT q_id, vec_id, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        FROM cand)
      WHERE rn <= 3
      ORDER BY q_id, rn"""

  /** The SQL twin of [[probed]] then [[cosineTopK]] at k = 3: `cand`,
    * every `side` row stored in a cell its query probes (`probes(q_id,
    * q_emb, q_nrm, cell)`), the query itself excluded, then
    * [[cosineTop3Sql]].
    */
  private def probedTop3Sql(side: String): String = s"""cand AS (
        SELECT p.q_id, a.vec_id,
          ROUND(list_inner_product(a.emb, p.q_emb) / (a.nrm * p.q_nrm), 6) AS cos
        FROM $side a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.q_id
      )
      $cosineTop3Sql"""

  /** The DuckDB mirror of [[ivfCodebook]]: CTEs ending in `centn(cell,
    * cvec, cnrm)`. Callers append their own query-specific CTEs/SELECT.
    * Expects an `e(vec_id, label, emb, nrm)` CTE to be in scope. The
    * [[IvfLloydIters]] Lloyd rounds are UNROLLED programmatically so the
    * mirror can never drift from the Spark build by one iteration.
    */
  private[graft] def ivfCodebookSqlGen(src: String = "e", p: String = "",
      countSrc: String = "embeddings", nlistFactor: Int = 1): String = {
    // alias non-default sources as `e` so the round bodies read uniformly
    val srcE = if (src == "e") "e" else s"$src e"
    // factor emitted only when ≠ 1 so every factor-1 oracle's SQL text is
    // byte-identical to the pre-r12 form
    val nlistExpr =
      if (nlistFactor == 1) "CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)"
      else s"CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) * $nlistFactor"
    val seed = s"""
      ${p}nl AS (
        SELECT nlist, GREATEST(n // nlist, 1) AS stride FROM (
          SELECT COUNT(*) AS n, $nlistExpr AS nlist
          FROM $countSrc)
      ), ${p}cent0 AS (
        SELECT vec_id // stride AS cid, emb AS cemb FROM $src, ${p}nl
        WHERE vec_id % stride = 0 AND vec_id // stride < nlist
      )"""
    val rounds = (1 to IvfLloydIters).map { i =>
      s""", ${p}asg$i AS (
        SELECT vec_id, cid, emb FROM (
          SELECT e.vec_id, c.cid, e.emb,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${roundedL2Sql("e.emb", "c.cemb")}, c.cid) AS rn
          FROM $srcE CROSS JOIN ${p}cent${i - 1} c)
        WHERE rn = 1
      ), ${p}cd$i AS (
        SELECT cid, pos,
          CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT cid, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos
              FROM ${p}asg$i)
        GROUP BY cid, pos
      ), ${p}cent$i AS (
        SELECT p.cid, COALESCE(m.cemb, p.cemb) AS cemb
        FROM ${p}cent${i - 1} p LEFT JOIN
          (SELECT cid, LIST(c ORDER BY pos) AS cemb FROM ${p}cd$i GROUP BY cid) m
          ON p.cid = m.cid
      )"""
    }.mkString
    val fin = s""", ${p}centn AS (
        SELECT CAST(cid AS BIGINT) AS cell, cemb AS cvec,
          SQRT(list_inner_product(cemb, cemb)) AS cnrm
        FROM ${p}cent$IvfLloydIters
      )"""
    seed + rounds + fin
  }

  val ivfCodebookSql: String = ivfCodebookSqlGen()

  /** The SQL twin of `withNearestCells(withNorm, ivfCodebook, 1, …)`: the
    * `e` and `centn` CTEs, `sims`, and `assigned(cols)`, each vector's
    * nearest cell.
    */
  private[graft] def ivfAssignedSql(cols: String): String =
    s"${OracleSql.embeddings()}, $ivfCodebookSql, " +
      s"${OracleSql.cellSims()}, ${OracleSql.assignedCells(cols)}"

  /** The DuckDB mirror of the ENTIRE rebalance lifecycle — one shared
    * fragment (the [[ivfCodebookSql]] discipline applied to the gen-2
    * family: five declared rows previously each carried a near-verbatim
    * copy of this chain, and a one-token drift in any copy would break
    * that row's parity silently). Expects `e(vec_id, label, emb, nrm)`
    * and `centn(cell, cvec, cnrm)` (from [[ivfCodebookSql]]) in scope;
    * ends with every intermediate a consumer needs:
    *
    *  - `assigned(vec_id, emb, nrm, cell)` — gen-1 nearest-cell rows;
    *  - `pops` / `over_cells(cell, n_cell)` — the overload gate;
    *  - `asg(cell, n_cell, vec_id, emb, nrm, side)` — the 2-means split
    *    ([[splitPlan]]'s mirror);
    *  - `idmap(cell, side, new_cell)` — side 0 keeps the id, side 1 =
    *    max(cell)+rank;
    *  - `newcv(cell, side, cvec)` / `splitc(cell, cvec, cnrm)` — the
    *    exact-decimal-mean sub-centroids (derived from `asg`, so an
    *    EMPTY side contributes no row — the same invariant the Spark
    *    build has, which a closed-form `nlist + |over|` count would
    *    miss when a split's members all tie to side 0);
    *  - `cb2(cell, cvec, cnrm)` / `idx2(vec_id, emb, nrm, cell)` — the
    *    generation-2 codebook and index.
    *
    * Columns are the UNION of what the five consumers project; carrying
    * the superset changes no row contents.
    */
  /** ONE rebalance step of the generation chain (the chain is a
    * parameter): consumes generation g−1 as `$inIdx(vec_id,
    * emb, nrm, cell)` + `$inCb(cell, cvec, cnrm)` and emits generation
    * g as `${p}cb2` / `${p}idx2` (plus every intermediate, all
    * p-prefixed so two steps instantiate in one query). The overload
    * gate reads nlist as COUNT(*) of the INPUT codebook — exactly
    * [[splitPlan]]'s `cbTab.count()`, which is what makes the step
    * generation-agnostic (for generation 1 it equals the trained
    * ⌈√n⌉ the old `nl.nlist` form read).
    */
  private[graft] def rebalanceStepSqlGen(p: String, inIdx: String,
      inCb: String): String = s"""
      ${p}pops AS MATERIALIZED (
        SELECT cell, COUNT(*) AS n_cell FROM $inIdx GROUP BY cell
      ), ${p}over_cells AS MATERIALIZED (
        SELECT cell, n_cell FROM ${p}pops
        WHERE n_cell * (SELECT COUNT(*) FROM $inCb) * 4 > (SELECT COUNT(*) FROM e) * 5
      ), ${p}members AS MATERIALIZED (
        SELECT a.cell, o.n_cell, a.vec_id, a.emb, a.nrm
        FROM $inIdx a JOIN ${p}over_cells o USING (cell)
      ), ${p}seeds AS (
        SELECT cell, CAST(rk - 1 AS BIGINT) AS side, emb AS semb FROM (
          SELECT cell, emb,
            ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
          FROM ${p}members)
        WHERE rk <= 2
      ), ${p}asg AS MATERIALIZED (
        SELECT cell, n_cell, vec_id, emb, nrm, side FROM (
          SELECT m.cell, m.n_cell, m.vec_id, m.emb, m.nrm, s.side,
            ROW_NUMBER() OVER (PARTITION BY m.cell, m.vec_id ORDER BY
              ${roundedL2Sql("m.emb", "s.semb")}, s.side) AS rn
          FROM ${p}members m JOIN ${p}seeds s USING (cell))
        WHERE rn = 1
      ), ${p}ranked AS (
        SELECT cell, CAST(ROW_NUMBER() OVER (ORDER BY cell) AS BIGINT) AS rk
        FROM ${p}over_cells
      ), ${p}idmap AS MATERIALIZED (
        SELECT cell, CAST(0 AS BIGINT) AS side, cell AS new_cell FROM ${p}ranked
        UNION ALL
        SELECT r.cell, CAST(1 AS BIGINT) AS side,
          (SELECT MAX(cell) FROM $inCb) + r.rk AS new_cell FROM ${p}ranked r
      ), ${p}cdim AS (
        SELECT cell, side, pos,
          CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT cell, side, UNNEST(emb) AS v,
                UNNEST(range(len(emb))) AS pos FROM ${p}asg)
        GROUP BY cell, side, pos
      ), ${p}newcv AS (
        SELECT cell, side, LIST(c ORDER BY pos) AS cvec
        FROM ${p}cdim GROUP BY cell, side
      ), ${p}splitc AS MATERIALIZED (
        SELECT i.new_cell AS cell, n.cvec,
          SQRT(list_inner_product(n.cvec, n.cvec)) AS cnrm
        FROM ${p}newcv n JOIN ${p}idmap i USING (cell, side)
      ), ${p}cb2 AS MATERIALIZED (
        SELECT c.cell, c.cvec, c.cnrm FROM $inCb c
        WHERE c.cell NOT IN (SELECT cell FROM ${p}over_cells)
        UNION ALL
        SELECT cell, cvec, cnrm FROM ${p}splitc
      ), ${p}idx2 AS MATERIALIZED (
        SELECT a.vec_id, a.emb, a.nrm, a.cell FROM $inIdx a
        WHERE a.cell NOT IN (SELECT cell FROM ${p}over_cells)
        UNION ALL
        SELECT g.vec_id, g.emb, g.nrm, i.new_cell AS cell
        FROM ${p}asg g JOIN ${p}idmap i USING (cell, side)
      )"""

  private[graft] val gen2LifecycleSql: String = s"""
      sims AS MATERIALIZED (
        SELECT e.vec_id, e.emb, e.nrm, c.cell,
          ${OracleSql.cellCosine()}
        FROM e CROSS JOIN centn c
      ), assigned AS MATERIALIZED (
        SELECT vec_id, emb, nrm, cell FROM (
          SELECT vec_id, emb, nrm, cell,
            ${OracleSql.cellRank}
          FROM sims)
        WHERE cr = 1
      ), """ + rebalanceStepSqlGen("", "assigned", "centn")

  /** Fixed Lloyd passes for the [[PqK]]-centroid-per-subspace PQ
    * codebook — shared constant with [[pqCodebookSql]].
    */
  private[graft] val PqLloydIters = 2

  /** One deterministic PQ Lloyd round over ALL 4 subspaces at once:
    * [[withPqStructs]] gives every vector its per-subspace nearest
    * centroid row-locally, then each (sub, cid) centroid moves to the
    * exact decimal mean of its member slices; empty cells carry their
    * previous position. `cents` is bounded (4·[[PqK]] rows) and cached
    * by the caller.
    */
  private[graft] def pqLloydRound(idx: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      m: Int = 4, w: Int = 16): org.apache.spark.sql.DataFrame = {
    // one row per (vector, subspace): BIGINT sub, because the means
    // below become the next round's codebook, whose sub PqEncodeAll reads
    // as a long
    val asg = withPqStructs(idx, cents, m, w)
      .select(explode(col("pq")).as("tc"), col("emb"))
      .select(col("tc.sub").cast("long").as("sub"), col("tc.cid").as("cid"),
        expr(s"slice(emb, tc.sub*$w+1, $w)").as("v"))
    val means = asg
      .select(col("sub"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(sum(col("x").cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("n"))
      .withColumn("c", col("s").cast(DoubleType) / col("n"))
      .groupBy(col("sub"), col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("sub"), col("cid"), expr("transform(pc, x -> x.c)").as("m"))
    cents.join(means, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"), coalesce(col("m"), col("cv")).as("cv"))
  }

  /** Centroids per PQ subspace. 16 (4-bit codes) instead of the r8
    * first-4 rule: with k=4 a 60k-vector corpus shares 4⁴ = 256 code
    * combinations, so approximate distances are tie-dominated and rank
    * falls to the vec_id tiebreak — recall is quantization noise. k=16
    * gives 16⁴ = 65 536 combinations; the codebook is still 4×16×16
    * doubles (kilobytes, broadcastable at any corpus size).
    */
  private[graft] val PqK = 16

  /** Trained per-subspace PQ codebook over a corpus with `emb`:
    * [[PqK]] centroids per 16-dim subspace, seeded from an id-ordered
    * stride sample (one seed every ⌊n/PqK⌋ ids) and refined by
    * [[PqLloydIters]] Lloyd rounds — replacing the first-4-vector
    * slices the r8 build used. Returns (sub LONG, cid LONG, cv
    * ARRAY<DOUBLE>).
    */
  private[graft] def trainPqCodebook(
      idx: org.apache.spark.sql.DataFrame,
      k: Int = PqK, m: Int = 4, w: Int = 16): org.apache.spark.sql.DataFrame = {
    val pn = idx.agg(count(lit(1)).as("n"))
      .select(greatest(expr(s"n DIV $k"), lit(1L)).as("pstride"))
    val seeds = idx.crossJoin(broadcast(pn))
      .filter(col("vec_id") % col("pstride") === 0 &&
        expr("vec_id DIV pstride") < k)
      .select(expr("CAST(vec_id DIV pstride AS LONG)").as("cid"),
        explode(array((0 until m).map(lit): _*)).as("sub"), col("emb"))
      .select(col("sub").cast("long").as("sub"), col("cid"),
        expr(s"slice(emb, sub*$w+1, $w)").as("cv"))
    // memoized per corpus like the IVF codebook: training is 2 corpus
    // passes — every ivfpq-family row must pay it ONCE
    lloydMemo(pqCodebookCache, seeds, PqLloydIters)(pqLloydRound(idx, _, m, w))
  }

  /** Generator for the DuckDB PQ-codebook-training mirror: CTEs ending
    * in `${p}s(vec_id, sub, v)` (the source slices) and `${p}pqcb(sub,
    * cid, cv)` (the trained codebook), training over `$src(vec_id, …,
    * emb, …)` — `src` is `e` for the raw-vector codebook and the
    * caller-defined residual CTE for the residual one; the prefix keeps
    * both instantiable in ONE query. Lloyd rounds unrolled
    * programmatically in lockstep with [[PqLloydIters]]. The stride
    * count reads `embeddings` directly (source rows are 1:1 with the
    * corpus in both instantiations).
    */
  private[graft] def pqCodebookSqlGen(src: String, p: String, k: Int = PqK,
      m: Int = 4, w: Int = 16, countSrc: String = "embeddings"): String = {
    val seed = s"""
      ${p}pn AS (
        SELECT GREATEST(COUNT(*) // $k, 1) AS pstride FROM $countSrc
      ), ${p}s AS (
        SELECT vec_id, sub, list_slice(emb, sub*$w + 1, sub*$w + $w) AS v
        FROM $src, (SELECT UNNEST(range($m)) AS sub)
      ), ${p}pc0 AS (
        SELECT vec_id // pstride AS cid, sub, v AS cv FROM ${p}s, ${p}pn
        WHERE vec_id % pstride = 0 AND vec_id // pstride < $k
      )"""
    val rounds = (1 to PqLloydIters).map { i =>
      s""", ${p}pasg$i AS (
        SELECT sub, cid, v FROM (
          SELECT s.sub, c.cid, s.v,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
              ${roundedL2Sql("s.v", "c.cv")}, c.cid) AS rn
          FROM ${p}s s JOIN ${p}pc${i - 1} c ON s.sub = c.sub)
        WHERE rn = 1
      ), ${p}pcd$i AS (
        SELECT sub, cid, pos,
          CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
        FROM (SELECT sub, cid, UNNEST(v) AS x, UNNEST(range(len(v))) AS pos
              FROM ${p}pasg$i)
        GROUP BY sub, cid, pos
      ), ${p}pc$i AS (
        SELECT p.sub, p.cid, COALESCE(m.cv, p.cv) AS cv
        FROM ${p}pc${i - 1} p LEFT JOIN
          (SELECT sub, cid, LIST(cx ORDER BY pos) AS cv FROM ${p}pcd$i GROUP BY sub, cid) m
          ON p.sub = m.sub AND p.cid = m.cid
      )"""
    }.mkString
    val fin = s""", ${p}pqcb AS (
        SELECT sub, cid, cv FROM ${p}pc$PqLloydIters
      )"""
    seed + rounds + fin
  }

  /** DuckDB mirror of [[trainPqCodebook]]: CTEs ending in `s(vec_id,
    * sub, v)` (the corpus slices) and `pqcb(sub, cid, cv)` (the trained
    * codebook). Expects `e(vec_id, …, emb, …)` in scope.
    */
  val pqCodebookSql: String = pqCodebookSqlGen("e", "")

  /** DuckDB mirror of [[trainPqResidualCodebook]]: same recipe over the
    * RESIDUAL vectors — expects a `rese(vec_id, emb)` CTE in scope
    * (emb = corpus vector − assigned-cell centroid); CTEs end in
    * `rs(vec_id, sub, v)` and `rpqcb(sub, cid, cv)`, r-prefixed so a
    * mirror can train both codebooks in one query.
    */
  /** RESIDUAL-PQ geometry — the r10 stack's budget, separate from the
    * r9 raw stack's [[PqK]]=16 over 4×16-dim subspaces (whose declared
    * rows pin that shape). RecallProbe's `k:m` geometry sweep (RECALL.md,
    * sf0.1) is monotone in BOTH knobs on this corpus: at nprobe=8 disjoint-query
    * recall@3 goes 0.067 (k=16, m=4) → 0.193 (k=256, m=4) → 0.327
    * (k=64, m=16) → 0.420 (k=128, m=16), vs the 0.640 cell-stage
    * ceiling — in near-isotropic synthetic embeddings the per-subspace
    * quantization error, not the code-combination count, bounds ADC
    * ranking, so many NARROW subspaces beat few wide ones. k=128 over
    * 16×4-dim subspaces ≈ k=256 at half the LUT/codebook cost
    * (codebook 16×128×4 doubles = 64 KB broadcast; LUT 2 048 rows per
    * (query, probed cell)).
    */
  private[graft] val PqrK = 128
  private[graft] val PqrM = 16
  private[graft] val PqrW = 4

  /** ADC lookup tables: for every row of `q`, the compiled
    * [[graft.functions.PqLutAll]] table of its query vector `qv` against
    * the (sub, cid, cv) codebook `cb` — one flat array `lutarr` whose slot
    * sub·k + cid holds round₆(v·v − 2·v·cv + ‖cv‖²) for the query's
    * subspace slice v — next to the `keys` columns. Raw PQ passes each
    * query's `q_emb` (one table per query); residual PQ passes
    * `q_emb − cvec` (one table per probed cell). Values are bit-identical
    * to the row-form tables the DuckDB mirrors build (same slices, same
    * ascending dot folds, same 6 dp round).
    */
  private[graft] def pqLut(q: org.apache.spark.sql.DataFrame, qv: Column,
      cb: org.apache.spark.sql.DataFrame, m: Int, w: Int, k: Int,
      keys: Column*): org.apache.spark.sql.DataFrame =
    q.crossJoin(broadcast(pqCodebookArray(cb)))
      .select(keys :+ graft.functions.NearestCentroidFunctions
        .pqLutAll(qv, col("pqarr"), m, w, k).as("lutarr"): _*)

  /** Row-local ADC distance over `codes` against the (q, cell) row's
    * `lutarr`: Σ_sub lutarr[sub·k + codes[sub]] with the EXACT decimal
    * accumulation discipline of the sum it replaces — each qd2 enters as
    * DECIMAL(18,6) and accumulates at (28,6) (the precision-only cast of
    * the (29,6) add result is exact; 16 six-dp terms cannot overflow it),
    * so the value equals `sum(CAST(qd2 AS DECIMAL(18,6)))` bit-for-bit.
    */
  private def adcRowLocal(m: Int, k: Int): Column = expr(
    s"""aggregate(
       |  zip_with(sequence(0L, ${m - 1}L), codes, (s, c) -> s * $k + c),
       |  CAST(0 AS DECIMAL(28,6)),
       |  (acc, slot) -> CAST(acc + CAST(element_at(lutarr, CAST(slot + 1 AS INT))
       |                 AS DECIMAL(18,6)) AS DECIMAL(28,6)))""".stripMargin)

  /** The one ADC scan: every `cand` row's packed `codes` scored
    * row-locally ([[adcRowLocal]]) against the [[pqLut]] row it joins on
    * `on` — `cand` with `adist` in place of `codes`, the lut broadcast.
    * (m, k) is the codebook geometry.
    */
  private[graft] def adc(cand: org.apache.spark.sql.DataFrame,
      lut: org.apache.spark.sql.DataFrame, m: Int, k: Int,
      on: String*): org.apache.spark.sql.DataFrame =
    cand.join(broadcast(lut), on)
      .withColumn("adist", adcRowLocal(m, k).cast(DoubleType))
      .drop("lutarr", "codes")

  // ---- The ANN pipeline: probe → ADC → refine → recall. Every IVF/PQ
  // row, the spilled-index build, the streaming serve gate and
  // RecallProbe compose these stages; none re-derives one. ----

  /** The disjoint query sample: vec_id ≡ 7 (mod 10), < 500 — outside
    * both codebooks' stride-seed sets, the append batch (≡ 3) and the
    * delete batch (≡ 9). Seed-query leakage is what made the r8 recall
    * numbers a lie (RECALL.md).
    */
  private[graft] def disjointQueries(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.filter(col("vec_id") % 10 === 7 && col("vec_id") < 500)

  /** [[disjointQueries]] in DuckDB: its predicate, and the `qe(q_id,
    * q_emb)` CTE of those queries over `e`.
    */
  private def disjointQueriesSql: String = "vec_id % 10 = 7 AND vec_id < 500"
  private def disjointQueriesQeSql: String = s"""qe AS (
        SELECT vec_id AS q_id, emb AS q_emb FROM e
        WHERE $disjointQueriesSql
      )"""

  /** Squared L2 by the ‖a‖² − 2a·b + ‖b‖² identity, rounded to 6 dp —
    * the one expression tree every exact rank, PQ lookup and k-center
    * distance uses, so the doubles stay bit-identical to the DuckDB
    * mirrors' `ROUND(… − 2.0 * … + …, 6)`.
    */
  private[graft] def roundedL2(a: Column, b: Column): Column =
    round(GraftFunctions.dot(a, a) - lit(2.0) * GraftFunctions.dot(a, b)
      + GraftFunctions.dot(b, b), 6)

  /** Every `side` row stored in a cell its query probes, the query itself
    * excluded — the probe join every ANN scan runs: the probes broadcast,
    * the bucketed side never shuffles.
    */
  private[graft] def probed(side: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    side.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("q_id"))

  /** The `nprobe` nearest cells of each query by rounded cosine (cell
    * tiebreak): (q_id, q_emb, q_nrm, cell). Input must carry `nrm`.
    */
  private[graft] def cosineProbes(q: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame, nprobe: Int): org.apache.spark.sql.DataFrame =
    withNearestCells(q, cb, nprobe)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))

  /** The SQL twin of [[cosineProbes]]: `probes(q_id, q_emb, q_nrm,
    * cell)`, the `nprobe` best cells of each row of `from` — a sims CTE
    * (vec_id, emb, nrm, cell, csim) with its query-sample predicate.
    */
  private[graft] def cosineProbesSql(from: String, nprobe: Int): String = s"""probes AS (
        SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, cell FROM (
          SELECT vec_id, emb, nrm, cell,
            ${OracleSql.cellRank}
          FROM $from)
        WHERE cr <= $nprobe
      )"""

  /** Rounded cosine of a probed candidate (emb, nrm) to its query. */
  private[graft] def probeCosine: Column = round(cosine("emb", "q_emb", "nrm", "q_nrm"), 6)

  /** Exact cosine top-k within the probed cells: (q_id, vec_id, cos,
    * rn), cosine descending with vec_id tiebreak. `distinct` scores a
    * vector reachable through several probed cells (the spilled index)
    * once.
    */
  private[graft] def cosineTopK(idx: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, k: Int,
      distinct: Boolean = false): org.apache.spark.sql.DataFrame = {
    val cand = probed(idx, probes).withColumn("cos", probeCosine)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    (if (distinct) cand.select(col("q_id"), col("vec_id"), col("cos")).distinct() else cand)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Row-local top-`keep` cells of every row with their rank (1 = the
    * nearest, the cell a single assignment picks) in column `rank`: the
    * compiled top-k's array order IS csim DESC with cell tiebreak, so
    * pos + 1 is the row_number the DuckDB mirrors rank by. Input must
    * carry `emb` and `nrm`.
    */
  private[graft] def withRankedCells(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, keep: Int,
      rank: String): org.apache.spark.sql.DataFrame = {
    val cb = oneRowArray(cents, "cbarr", col("cell"), col("cvec"), col("cnrm"))
    df.crossJoin(broadcast(cb))
      .select(col("*"), posexplode(graft.functions.NearestCentroidFunctions.nearestCells(
        col("emb"), col("nrm"), col("cbarr"), keep)).as(Seq("pos", "tc")))
      .withColumn("cell", col("tc")("cell"))
      .withColumn(rank, (col("pos") + 1).cast("long"))
      .drop("cbarr", "pos", "tc")
  }

  /** The `keep` nearest cells of each query with probe rank `cr`:
    * (q_id, q_emb, cr, cell). One ADC pass at the widest nprobe then
    * serves every narrower curve point as a `cr ≤ nprobe` cut.
    */
  private[graft] def rankedProbes(q: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame, keep: Int): org.apache.spark.sql.DataFrame =
    withRankedCells(q, cb, keep, "cr")
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("cr"), col("cell"))

  /** [[cosineProbes]] without the query vectors: `probes(q_id, cell)`,
    * plus the probe rank `cr` of [[rankedProbes]] when `withRank`.
    */
  private def probeCellsSql(from: String, nprobe: Int, withRank: Boolean = false): String =
    s"""probes AS (
        SELECT vec_id AS q_id, cell${if (withRank) ", cr" else ""} FROM (
          SELECT vec_id, cell,
            ${OracleSql.cellRank}
          FROM $from)
        WHERE cr <= $nprobe
      )"""

  /** The CELL-stage candidates: every full vector in the probed cells,
    * scored by exact rounded L2 — (q_id, vec_id, cr, adist), the recall
    * ceiling any code-based ranking can reach at that nprobe. `probes`
    * are [[rankedProbes]].
    */
  private[graft] def exactInProbed(idx: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probed(idx, probes).select(col("q_id"), col("vec_id"), col("cr"),
      roundedL2(col("emb"), col("q_emb")).as("adist"))

  /** Residual-ADC candidates: the probed cells' codes scored against
    * each (query, probed cell)'s residual [[pqLut]] — (q_id, vec_id, cr,
    * adist), one row per stored code row (a spilled vector appears once
    * per probed copy). `probes` are [[rankedProbes]]; (m, w, k) is the
    * residual-PQ geometry.
    */
  private[graft] def residualAdc(codes: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame,
      rcb: org.apache.spark.sql.DataFrame, m: Int = PqrM, w: Int = PqrW,
      k: Int = PqrK): org.apache.spark.sql.DataFrame = {
    val lut = pqLut(probes.join(broadcast(cb.select(col("cell"), col("cvec"))), Seq("cell")),
      zip_with(col("q_emb"), col("cvec"), (a, b) => a - b), rcb, m, w, k,
      col("q_id"), col("cell"))
    adc(probed(codes, probes.select(col("q_id"), col("cell"), col("cr"))), lut, m, k,
      "q_id", "cell")
      .select(col("q_id"), col("vec_id"), col("cr"), col("adist"))
  }

  /** Raw-PQ ADC candidates: the probed cells' codes scored against each
    * query's own [[pqLut]] over the [[PqK]]-centroid raw codebook `pqCb`
    * — `probes` (q_id, cell, …) plus (vec_id, adist); `q` carries the
    * queries' (vec_id, emb).
    */
  private[graft] def pqAdc(codes: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame,
      pqCb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    adc(probed(codes, probes),
      pqLut(q, col("emb"), pqCb, 4, 16, PqK, col("vec_id").as("q_id")), 4, PqK, "q_id")

  /** `rese`, the residual-PQ codebook and `rcodes(vec_id, cell, sub,
    * cid)`: the residual code rows of every `assigned` vector.
    */
  private def residualCodesSql: String = s"""rese AS (
        SELECT a.vec_id,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM assigned a JOIN centn c USING (cell)
      ), $pqResidualCodebookSql, rd AS (
        SELECT s.vec_id, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS d2
        FROM rs s JOIN rpqcb c ON s.sub = c.sub
      ), rcodes AS (
        SELECT d.vec_id, a.cell, d.sub, d.cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM rd) d
        JOIN assigned a USING (vec_id)
        WHERE d.rn = 1
      )"""

  /** The SQL twin of [[residualAdc]] over `probes(q_id, cell, …)` and
    * `qe(q_id, q_emb)`: `qres`/`qsl`/`qlut`, each probed cell's query
    * residual against the `cents` centroids looked up in `rpqcb`, then
    * `name(q_id, vec_id, …, adist)` summed over the `codes` rows of the
    * probed cells. `by` (", p.cr") extends the select and group keys;
    * `where` (" AND …") extends the filter.
    */
  private def residualAdcSql(cents: String, codes: String, by: String = "",
      where: String = "", name: String = "adists"): String = s"""qres AS (
        SELECT p.q_id, p.cell,
          list_transform(range(1, len(q.q_emb) + 1), i -> q.q_emb[i] - c.cvec[i]) AS qr
        FROM probes p JOIN qe q ON p.q_id = q.q_id JOIN $cents c USING (cell)
      ), qsl AS (
        SELECT q_id, cell, sub, list_slice(qr, sub*$PqrW + 1, sub*$PqrW + $PqrW) AS v
        FROM qres, (SELECT UNNEST(range($PqrM)) AS sub)
      ), qlut AS (
        SELECT s.q_id, s.cell, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS qd2
        FROM qsl s JOIN rpqcb c ON s.sub = c.sub
      ), $name AS (
        SELECT p.q_id, k.vec_id$by,
          CAST(SUM(CAST(l.qd2 AS DECIMAL(18,6))) AS DOUBLE) AS adist
        FROM $codes k
        JOIN probes p USING (cell)
        JOIN qlut l ON l.q_id = p.q_id AND l.cell = k.cell
                   AND l.sub = k.sub AND l.cid = k.cid
        WHERE k.vec_id <> p.q_id$where
        GROUP BY p.q_id, k.vec_id$by
      )"""

  /** The PQ codebook CTEs and `d(vec_id, sub, cid, d2)`: each corpus
    * slice's rounded L2 to every centroid of its subspace.
    */
  private def pqDistsSql: String = s"""$pqCodebookSql, d AS (
        SELECT s.vec_id, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS d2
        FROM s JOIN pqcb c ON s.sub = c.sub
      )"""

  /** The SQL twin of [[pqAdc]] over `assigned` and `probes(q_id,
    * cell)`: [[pqDistsSql]], the cell-tagged `codes`, the `lut` of the
    * rows that pass `queries`, and `adists(q_id, vec_id, adist)`.
    */
  private def rawPqAdcSql(queries: String): String = s"""$pqDistsSql, codes AS (
        SELECT d.vec_id, a.cell, d.sub, d.cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM d) d
        JOIN assigned a USING (vec_id)
        WHERE d.rn = 1
      ), lut AS (
        SELECT vec_id AS q_id, sub, cid, d2 AS qd2 FROM d WHERE $queries
      ), adists AS (
        SELECT p.q_id, k.vec_id,
          CAST(SUM(CAST(l.qd2 AS DECIMAL(18,6))) AS DOUBLE) AS adist
        FROM codes k
        JOIN probes p USING (cell)
        JOIN lut l ON l.q_id = p.q_id AND l.sub = k.sub AND l.cid = k.cid
        WHERE k.vec_id <> p.q_id
        GROUP BY p.q_id, k.vec_id
      )"""

  /** The first `n` rows of each `keys` group by ascending `dist` (vec_id
    * tiebreak), ranked 1..n in column `rank`.
    */
  private[graft] def nearestFirst(df: org.apache.spark.sql.DataFrame, dist: String,
      n: Int, rank: String, keys: String*): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(dist), col("vec_id"))
    df.withColumn(rank, row_number().over(w)).filter(col(rank) <= n)
  }

  /** [[nearestFirst]] on `adists(q_id, vec_id, adist)` in DuckDB, as the
    * final top-`k` SELECT of an ADC row.
    */
  private def adcTopKSql(k: Int): String = s"""SELECT q_id, vec_id, adist, rn FROM (
        SELECT q_id, vec_id, adist,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
        FROM adists)
      WHERE rn <= $k
      ORDER BY q_id, rn"""

  /** Exact re-rank of a (keys…, q_id, vec_id) shortlist: ONLY the
    * shortlisted rows' full vectors leave `corpus` (a broadcast lookup
    * join — the corpus side never shuffles), scored by rounded L2
    * against their (vec_id, emb) query and ranked `rn` ≤ k within
    * `keys`; adds (emb, q_emb, d2, rn).
    */
  private[graft] def exactRefine(corpus: org.apache.spark.sql.DataFrame,
      shortlist: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame,
      k: Int, keys: String*): org.apache.spark.sql.DataFrame =
    nearestFirst(corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))), Seq("q_id"))
      .withColumn("d2", roundedL2(col("emb"), col("q_emb"))), "d2", k, "rn", keys: _*)

  /** The SQL twin of [[exactRefine]] at R = [[RefineR]], k = 3 over
    * `adists(q_id, vec_id, adist)` and `qe(q_id, q_emb)`: `shortlist`,
    * `refined` against the `corpus` source aliased `alias`, and the
    * final top-3 SELECT.
    */
  private def exactRefineSql(corpus: String, alias: String): String = s"""shortlist AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS srn
          FROM adists)
        WHERE srn <= $RefineR
      ), refined AS (
        SELECT s.q_id, s.vec_id,
          ${roundedL2Sql(s"$alias.emb", "q.q_emb")} AS d2
        FROM shortlist s
        JOIN $corpus ON $alias.vec_id = s.vec_id
        JOIN qe q ON q.q_id = s.q_id
      )
      SELECT q_id, vec_id, d2, rn FROM (
        SELECT q_id, vec_id, d2,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
        FROM refined)
      WHERE rn <= 3
      ORDER BY q_id, rn"""

  /** Exact rounded-L2 top-k ground truth of each (vec_id, emb) query over
    * the whole corpus, self excluded: (q_id, vec_id, e_rn). One broadcast
    * pass of the query SAMPLE over the corpus — queries × corpus, never
    * corpus².
    */
  private[graft] def exactTopK(e: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
    nearestFirst(e
      .join(broadcast(q.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("d2", roundedL2(col("emb"), col("q_emb"))), "d2", k, "e_rn", "q_id")
      .select(col("q_id"), col("vec_id"), col("e_rn"))

  /** The SQL twin of [[exactTopK]] at k = 5 over `e` and `qe(q_id,
    * q_emb)`: `exact(q_id, vec_id, e_rn)`.
    */
  private def exactTop5Sql: String = s"""exact AS (
        SELECT q_id, vec_id, rn AS e_rn FROM (
          SELECT q.q_id, e.vec_id,
            ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
              ${roundedL2Sql("e.emb", "q.q_emb")}, e.vec_id) AS rn
          FROM e JOIN qe q ON e.vec_id <> q.q_id)
        WHERE rn <= 5
      )"""

  /** @3/@5 hits of an approximate top-5 (`a_rn`) against the exact top-5
    * (`e_rn`), counted per `by`: (by, h3, h5).
    */
  private[graft] def recallHits(approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame, by: String): org.apache.spark.sql.DataFrame =
    approx.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col(by))
      .agg(
        sum(when(col("a_rn") <= 3 && col("e_rn") <= 3, 1L).otherwise(0L)).as("h3"),
        count(lit(1)).as("h5"))

  /** The recall curve's nprobe points and the refine rows' ADC
    * shortlist length.
    */
  private[graft] val CurveNprobes = Seq(1L, 3L, 8L)
  private[graft] val RefineR = 20

  /** RECALL CURVE of an ANN candidate set (q_id, vec_id, cr, adist):
    * for each nprobe in `nps`, the candidates with probe rank cr ≤ nprobe
    * give an approximate top-5 — with `refineR > 0` the exact re-rank of
    * their top-R ADC shortlist from `e` (the refine-serve recipe) — and
    * its micro-averaged recall@3/@5 against the exact top-5 over `e`:
    * (nprobe, n_queries, recall_at_3, recall_at_5), one row per nprobe
    * even with zero hits. Recalls are raw double divisions of exact hit
    * counts, IEEE-identical across engines.
    */
  private[graft] def recallCurve(cand: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame,
      nps: Seq[Long], refineR: Int = 0): org.apache.spark.sql.DataFrame = {
    val k = 5
    val points = cand
      .withColumn("nprobe", explode(array(nps.map(lit): _*)))
      .filter(col("cr") <= col("nprobe"))
    val approx =
      if (refineR == 0) nearestFirst(points, "adist", k, "a_rn", "nprobe", "q_id")
      else exactRefine(e.select(col("vec_id"), col("emb")),
        nearestFirst(points, "adist", refineR, "srn", "nprobe", "q_id")
          .select(col("nprobe"), col("q_id"), col("vec_id")),
        q, k, "nprobe", "q_id").withColumnRenamed("rn", "a_rn")
    val hits = recallHits(
      approx.select(col("nprobe"), col("q_id"), col("vec_id"), col("a_rn")),
      exactTopK(e, q, k), "nprobe")
    // nprobe spine so a curve point with zero hits still surfaces
    val spine = q.sparkSession.range(1)
      .select(explode(array(nps.map(lit): _*)).as("nprobe"))
      .crossJoin(broadcast(q.agg(count(lit(1)).as("n_queries"))))
    spine.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_queries"),
        (coalesce(col("h3"), lit(0L)).cast(DoubleType) / (col("n_queries") * 3))
          .as("recall_at_3"),
        (coalesce(col("h5"), lit(0L)).cast(DoubleType) / (col("n_queries") * 5))
          .as("recall_at_5"))
  }

  private[graft] val pqResidualCodebookSql: String =
    pqCodebookSqlGen("rese", "r", PqrK, PqrM, PqrW)

  /** Indexed vectors with their cell RESIDUAL appended as `remb` =
    * emb − centroid(cell) — the FAISS-standard quantity IVF-PQ encodes:
    * residual magnitudes are a fraction of vector magnitudes, so the
    * same [[PqK]]-per-subspace budget spends its codes on the
    * within-cell offsets that actually separate neighbors instead of
    * re-encoding the cell mean every vector in the cell shares. The
    * subtraction is exact IEEE (oracle mirrors reproduce it verbatim)
    * and rides the row: one broadcast join of the kilobyte codebook,
    * zero Exchange on the corpus side. Input must carry (cell, emb).
    */
  private[graft] def withResiduals(idx: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idx.join(broadcast(cb.select(col("cell"), col("cvec"))), Seq("cell"))
      .withColumn("remb", zip_with(col("emb"), col("cvec"), (a, b) => a - b))
      .drop("cvec")

  /** The residual as an encode input: (vec_id, cell, emb = [[withResiduals]]'
    * `remb`).
    */
  private[graft] def residualEmb(idx: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withResiduals(idx, cb).select(col("vec_id"), col("cell"), col("remb").as("emb"))

  /** Trained per-subspace PQ codebook over the cell RESIDUALS —
    * [[trainPqCodebook]]'s exact recipe (stride seeds +
    * [[PqLloydIters]] Lloyd rounds, [[PqK]] centroids per subspace)
    * pointed at emb − centroid(cell). Memoized separately from the
    * raw-vector codebook (distinct constructed plan).
    */
  private[graft] def trainPqResidualCodebook(idx: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame,
      k: Int = PqrK, m: Int = PqrM, w: Int = PqrW): org.apache.spark.sql.DataFrame =
    trainPqCodebook(withResiduals(idx, cb)
      .select(col("vec_id"), col("remb").as("emb")), k, m, w)

  /** One-row broadcastable ARRAY form of a small codebook/centroid frame
    * (sorted by its leading struct fields for determinism). The r8 #1
    * recipe (the PMI vocab-array pattern generalized): collapsing the
    * bounded side to a single array row lets the corpus side score ALL
    * candidates inside one row-local higher-order transform — no
    * n×nlist candidate materialization, no per-vector window, and ZERO
    * Exchange between the corpus scan and the assignment.
    */
  private[graft] def oneRowArray(df: org.apache.spark.sql.DataFrame,
      out: String, fields: Column*): org.apache.spark.sql.DataFrame =
    df.agg(array_sort(collect_list(struct(fields: _*))).as(out))

  /** Row-local nearest-cell assignment over a broadcast (cell, cvec,
    * cnrm) codebook: appends `cell` and `csim` (the
    * cosine to that cell) by scoring every centroid inside ONE
    * higher-order transform and taking the lexicographic min of
    * (−csim, cell) structs — IDENTICAL ordering to the
    * `row_number over (partition by vec_id order by csim desc, cell)`
    * argmax it replaces (double negation is exact; `Double.compare`
    * anti-commutes under negation for every non-NaN value including
    * ±0.0, and ties still fall to the lowest cell id) — with zero
    * Exchange between the corpus scan and the assignment. `keep > 1`
    * explodes the `keep` nearest cells instead (multi-probe).
    * The cosine is rounded to 6 dp before ranking, as the DuckDB mirrors
    * rank (§2.0). Input must carry `emb` and `nrm`.
    */
  private[graft] def withNearestCells(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, keep: Int): org.apache.spark.sql.DataFrame = {
    val cb = oneRowArray(cents, "cbarr", col("cell"), col("cvec"), col("cnrm"))
    // compiled top-k scorer (r9, SCALE.md): one eval call per row runs
    // the whole candidate loop in JVM code — value- and order-identical
    // to the interpreted `slice(array_sort(transform(...)), 1, keep)`
    // it replaces (negsim/cell lexicographic order, Double.compare ties)
    val scoredTop = graft.functions.NearestCentroidFunctions.nearestCells(
      col("emb"), col("nrm"), col("cbarr"), keep)
    val top = df.crossJoin(broadcast(cb))
    val sel =
      if (keep == 1) top.withColumn("tc", element_at(scoredTop, 1))
      else top.withColumn("tc", explode(scoredTop))
    sel.withColumn("cell", col("tc")("cell"))
      .withColumn("csim", -col("tc")("negsim"))
      .drop("cbarr", "tc")
  }

  /** The flat (sub, cid, cv, cnn2 = cv·cv) codebook the compiled PQ
    * kernels read, packed as the one-row array `pqarr` (sorted by sub,
    * then cid) for a broadcast cross join.
    */
  private[graft] def pqCodebookArray(cents: org.apache.spark.sql.DataFrame,
      sub: Column = col("sub"), cid: Column = col("cid"),
      cv: Column = col("cv")): org.apache.spark.sql.DataFrame =
    oneRowArray(cents, "pqarr", sub, cid, cv, GraftFunctions.dot(cv, cv))

  /** Appends `enc`, the compiled [[graft.functions.PqEncodeAll]] encode
    * of every row's `emb` against the packed codebook `cb` (a
    * [[pqCodebookArray]]): per subspace the (cid, d2) of the nearest
    * entry by rounded squared L2, cid tiebreak.
    */
  private def withPqEncoded(df: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame, m: Int, w: Int): org.apache.spark.sql.DataFrame =
    df.crossJoin(broadcast(cb))
      .withColumn("enc", graft.functions.NearestCentroidFunctions
        .pqEncodeAll(col("emb"), col("pqarr"), m, w))
      .drop("pqarr")

  /** Row-local nearest-centroid argmin under the rounded ‖a‖²−2a·c+‖c‖²
    * identity (6 dp, centroid-id tiebreak) over a broadcast
    * (idCol, vecCol) centroid frame — appends the winning centroid id as
    * `outId` and its squared distance as `outD2` (both null for an empty
    * codebook). The squared-L2 sibling of [[withNearestCells]] for the
    * codebook-training / k-means / label-confusion sites: the one-subspace
    * PQ encode, every centroid in subspace 0 and the slice spanning the
    * whole vector. Input must carry `emb`.
    */
  private[graft] def withNearestCentroidD2(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
      outId: String, outD2: String): org.apache.spark.sql.DataFrame =
    withPqEncoded(df, pqCodebookArray(cents, lit(0L), col(idCol), col(vecCol)), 1, Int.MaxValue)
      .withColumn(outId, col("enc")(0)("cid"))
      .withColumn(outD2, col("enc")(0)("d2"))
      .drop("enc")

  /** Row-local PQ encode against a broadcast (sub, cid, cv) subspace
    * codebook: appends `pq` — ARRAY<STRUCT<sub INT, cid, d2>>, one
    * nearest-centroid entry per subspace in subspace order (rounded d2,
    * cid tiebreak) — in ONE map pass over the vectors. Input must carry
    * `emb`.
    */
  private[graft] def withPqStructs(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      m: Int = 4, w: Int = 16): org.apache.spark.sql.DataFrame = {
    val pq = array((0 until m).map { sub =>
      val best = col("enc")(sub)
      struct(lit(sub).as("sub"), best("cid").as("cid"), best("d2").as("d2"))
    }: _*)
    withPqEncoded(df, pqCodebookArray(cents), m, w).withColumn("pq", pq).drop("enc")
  }

  /** The persisted PQ code layout: (vec_id, cell, codes ARRAY<BIGINT>),
    * one [[withPqStructs]] cid per subspace. Input must carry `keys` and
    * `emb`.
    */
  private[graft] def pqCodes(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, m: Int, w: Int,
      keys: Seq[String] = Seq("vec_id", "cell")): org.apache.spark.sql.DataFrame =
    withPqStructs(df, cents, m, w).select(keys.map(col) :+
      expr("transform(pq, x -> CAST(x.cid AS BIGINT))").as("codes"): _*)

  val vecNormsStats = Q(
    "vec_norms_stats",
    (spark, dir) => {
      import spark.implicits._
      val sumsq = Tables
        .embeddings(spark, dir)
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"vec_id", $"label")
        .agg(sum(($"v".cast(DoubleType) * $"v".cast(DoubleType))
          .cast(DecimalType(28, 12))).as("sumsq"))
      sumsq
        .select($"label",
          sqrt($"sumsq".cast(DoubleType)).cast(DecimalType(18, 6)).as("norm"))
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n"),
          sum($"norm").as("sum_norm"))
        .select(
          $"label", $"n",
          ($"sum_norm".cast(DoubleType) / $"n").cast(DecimalType(18, 6)).as("mean_norm"))
        .orderBy($"label")
    },
    Some("""
      WITH sq AS (
        SELECT vec_id, label,
          SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS sumsq
        FROM (SELECT vec_id, label, UNNEST(embedding) AS v FROM embeddings)
        GROUP BY vec_id, label),
      norms AS (
        SELECT label,
          CAST(SQRT(CAST(sumsq AS DOUBLE)) AS DECIMAL(18,6)) AS norm
        FROM sq)
      SELECT label, COUNT(*) AS n,
        CAST(CAST(CAST(SUM(norm) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS mean_norm
      FROM norms GROUP BY label ORDER BY label
    """.trim))

  val vecCentroidPerLabel = Q(
    "vec_centroid_per_label",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .embeddings(spark, dir)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        .agg(
          sum($"v".cast(DoubleType).cast(DecimalType(28, 12))).as("s"),
          count(lit(1)).as("n"))
        .select(
          $"label", $"pos",
          ($"s".cast(DoubleType) / $"n").cast(DecimalType(18, 8)).as("centroid"))
        .orderBy($"label", $"pos")
    },
    Some("""
      SELECT label, pos,
        CAST(CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS centroid
      FROM (SELECT label,
              UNNEST(embedding) AS v,
              UNNEST(range(len(embedding))) AS pos
            FROM embeddings)
      GROUP BY label, pos ORDER BY label, pos
    """.trim))

  val vecCosineTopk = Q(
    "vec_cosine_topk",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val probes = e.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
      e.join(broadcast(probes), $"vec_id" =!= $"q_id")
        .withColumn("cos", round(cosine("emb", "q_emb", "nrm", "q_nrm"), 6))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id", $"cos", $"rn")
        .orderBy($"q_id", $"rn")
    },
    Some("""
      SELECT q_id, vec_id, cos, rn FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                       CAST(q.embedding AS DOUBLE[])), 6) AS cos,
          ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(q.embedding AS DOUBLE[])), 6) DESC,
                     e.vec_id) AS rn
        FROM embeddings e
        JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
          ON e.vec_id <> q.vec_id)
      WHERE rn <= 5
      ORDER BY q_id, rn
    """.trim))

  val multimodalJoinFilter = Q(
    "multimodal_join_filter",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val probe = e.filter($"vec_id" === 0)
        .select($"emb".as("p_emb"), $"nrm".as("p_nrm"))
      Tables
        .documents(spark, dir)
        .filter($"lang" === "en")
        .join(e, $"doc_id" === $"vec_id")
        .crossJoin(broadcast(probe))
        .withColumn("cos", round(cosine("emb", "p_emb", "nrm", "p_nrm"), 6))
        .select($"doc_id", $"cos", substring($"text", 1, 40).as("snippet"))
        .orderBy($"cos".desc, $"doc_id")
        .limit(10)
    },
    Some("""
      SELECT doc_id,
        ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                     CAST(p.embedding AS DOUBLE[])), 6) AS cos,
        SUBSTRING(text, 1, 40) AS snippet
      FROM documents d
      JOIN embeddings e ON d.doc_id = e.vec_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
      WHERE lang = 'en'
      ORDER BY cos DESC, doc_id
      LIMIT 10
    """.trim))

  /** Exact embedding near-dup: same-label pairs with cosine ≥ 0.4 (the
    * corpus has no planted embedding near-dups; 0.4 sits just below the
    * observed same-label max so the result is small but non-trivial).
    *
    * Why CHUNKED all-pairs and not candidate blocking: τ = 0.4 is a 66°
    * angle — nearly orthogonal — so no bucketing scheme can be
    * recall-complete AND pruning at this threshold. Measured on this
    * corpus (sf0.1, 86 qualifying pairs): sign-LSH at 32 tables × 4
    * planes still misses 21% of qualifying pairs while generating 3.4×
    * MORE candidates than all-pairs; a provably-correct Cauchy–Schwarz
    * block-norm upper bound (8/16 blocks, signed variants) prunes 0.00%
    * of same-label pairs. Sublinear search is real only at near-dup
    * thresholds (≥0.9, where `vec_ann_lsh`/`vec_ann_ivf` operate);
    * at 0.4 the task is intrinsically all-pairs, so the scale work goes
    * into making exact all-pairs PARALLEL, not into lossy pruning.
    *
    * The naive label-equi-join caps parallelism at the label count (10
    * here — 10 tasks each doing (n/L)² dot products at any scale).
    * Chunked form: each label splits into m chunks; the left side
    * replicates each vector to every chunk id, the equi-join keys on
    * (label, chunk), and the (c1 < c2) | (c1 = c2 & d1 < d2) predicate
    * assigns every unordered pair to exactly one key → L·m independent
    * bounded tasks, arrays cross the shuffle n·m times (not n² pair
    * rows), and the dot/filter runs pipelined inside the join. m is the
    * parallelism knob: at 100 TB raise m so (n/(L·m))·(n/L) dots fit a
    * task. VectorOpsSpec asserts pair-set equality with the naive
    * all-pairs form — the coverage predicate has no double/zero count.
    */
  val dedupEmbeddingCosine = Q(
    "dedup_embedding_cosine",
    (spark, dir) => {
      import spark.implicits._
      val m = 8
      val e = withNorm(spark, dir)
      val a = e.select($"label", $"vec_id".as("d1"), $"emb".as("e1"), $"nrm".as("nrm1"))
        .withColumn("c1", pmod($"d1", lit(m)))
        .withColumn("c2", explode(array((0 until m).map(lit): _*)))
      val b = e.select($"label".as("label2"), $"vec_id".as("d2"), $"emb".as("e2"), $"nrm".as("nrm2"))
        .withColumn("cb", pmod($"d2", lit(m)))
      a.join(b,
          $"label" === $"label2" && $"c2" === $"cb" &&
            ($"c1" < $"cb" || ($"c1" === $"cb" && $"d1" < $"d2")))
        .withColumn("cos", round(cosine("e1", "e2", "nrm1", "nrm2"), 6))
        .filter($"cos" >= 0.4)
        // a pair found via the c1 < cb arm may carry its ids in either
        // order (the predicate orders CHUNKS there, not ids) — normalize
        .select($"label",
          least($"d1", $"d2").as("d1"), greatest($"d1", $"d2").as("d2"),
          $"cos")
        .orderBy($"label", $"d1", $"d2")
    },
    Some("""
      SELECT a.label AS label, a.vec_id AS d1, b.vec_id AS d2,
        ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
      ORDER BY label, d1, d2
    """.trim))

  /** ANN via random-hyperplane LSH: 6-bit sign-pattern bucket per hash
    * table (3 tables) from fixed pseudo-random hyperplanes, candidates
    * share a bucket, exact cosine re-rank within bucket (top-3 per
    * query, queries vec_id<50). The hyperplanes are a pure-integer LCG
    * of (table, plane, dim) — expressible in SQL — and the sign test
    * reads the 6 dp-rounded projection, so the WHOLE chain is oracled: DuckDB
    * regenerates the planes from the same LCG, re-buckets every vector and
    * re-ranks from scratch. VectorOpsSpec additionally asserts recall against
    * brute-force ground truth.
    */
  /** Bucketed corpus + per-query top-k within shared buckets. `emb` must
    * be (vec_id, emb: array<double>, nrm); queries are `vec_id < nQueries`.
    * Multiple small hash tables (union of band buckets) trade shuffle
    * volume for recall, the standard LSH table-multiplication.
    */
  def annLshTopK(emb: org.apache.spark.sql.DataFrame, nQueries: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val nTables = 3
    val planesPerTable = 6
    val dim = 64
    // deterministic pseudo-random hyperplanes (fixed LCG, code constant)
    def plane(t: Int, i: Int): Seq[Double] = (0 until dim).map { j =>
      val x = ((t * 7919L + i) * 2654435761L + j * 40503L + 12345L) % 2000
      x / 1000.0 - 1.0
    }
    // all tables' buckets in ONE projection over one scan, exploded —
    // not a per-table union, which would rescan and rehash per table
    val tableStructs = (0 until nTables).map { t =>
      val bucketExpr = (0 until planesPerTable)
        .map { i =>
          val planeCol = array(plane(t, i).map(lit): _*)
          // 6 dp round before the sign test (§2.0 rule): both engines
          // sum the projection in the same order, and the round puts
          // any knife-edge ulp divergence below the decision threshold
          val dot = round(GraftFunctions.dot(col("emb"), planeCol), 6)
          when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
        }
        .reduce(_ + _)
      struct(lit(t).as("tbl"), bucketExpr.as("bucket"))
    }
    val tables = emb
      .select(col("vec_id"), col("emb"), col("nrm"),
        explode(array(tableStructs: _*)).as("tb"))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // no cache: the query side's `vec_id` filter reaches the embeddings
    // scan, so it buckets only its nQueries vectors, and the corpus side
    // buckets each vector once
    val queries = tables.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    tables
      .join(broadcast(queries),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(cosine("emb", "q_emb", "nrm", "q_nrm"), 6))
      // a pair can collide in several tables: dedupe AFTER scoring so the
      // shuffle carries (q_id, vec_id, cos), never the embedding arrays
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rn"))
  }

  val vecAnnLsh = Q(
    "vec_ann_lsh",
    (spark, dir) => {
      import spark.implicits._
      annLshTopK(withNorm(spark, dir), nQueries = 50, k = 3).orderBy($"q_id", $"rn")
    },
    // fully oracled: DuckDB regenerates the LCG
    // hyperplanes, re-buckets every vector per table, and re-ranks the
    // bucket collisions from scratch
    Some(s"""
      WITH ${OracleSql.embeddings()}, planes AS (
        SELECT t, i,
          LIST(CAST(((t*7919 + i)*2654435761 + j*40503 + 12345) % 2000 AS DOUBLE)
               / 1000.0 - 1.0 ORDER BY j) AS pv
        FROM (SELECT UNNEST(range(3)) AS t),
             (SELECT UNNEST(range(6)) AS i),
             (SELECT UNNEST(range(64)) AS j)
        GROUP BY t, i
      ), buckets AS (
        SELECT e.vec_id, p.t AS tbl,
          CAST(SUM(CASE WHEN ROUND(list_inner_product(e.emb, p.pv), 6) >= 0
                   THEN CAST(1 AS BIGINT) << p.i ELSE 0 END) AS BIGINT) AS bucket
        FROM e CROSS JOIN planes p
        GROUP BY e.vec_id, p.t
      ), tb AS (
        SELECT b.vec_id, e.emb, e.nrm, b.tbl, b.bucket
        FROM buckets b JOIN e USING (vec_id)
      ), qs AS (
        SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, tbl, bucket
        FROM tb WHERE vec_id < 50
      ), cand AS (
        SELECT q.q_id, t.vec_id,
          MAX(ROUND(list_inner_product(t.emb, q.q_emb) / (t.nrm * q.q_nrm), 6)) AS cos
        FROM tb t JOIN qs q USING (tbl, bucket)
        WHERE t.vec_id <> q.q_id
        GROUP BY q.q_id, t.vec_id
      )
      $cosineTop3Sql
    """.trim))

  /** ANN via IVF-style coarse quantization — the other standard ANN
    * family next to LSH. The codebook is the data-driven ⌈√n⌉-cell
    * Lloyd-step table ([[ivfCodebook]], exact decimal sums); every
    * corpus vector is assigned to its nearest-centroid cell; a query
    * probes its `nprobe` nearest cells and exact cosine re-ranks the
    * candidates there. At 100 TB: the codebook broadcasts (kBs), the
    * corpus partitions by cell, and each query scans ~nprobe/nlist of
    * the corpus — the inverted-file trade of recall for scan fraction.
    * Deterministic: cell and probe assignment tie-break on cell id,
    * cosine rounded to 6 dp with vec_id tiebreak before ranking.
    */
  def annIvfTopK(emb: org.apache.spark.sql.DataFrame, nQueries: Int, k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    val cellCentroids = ivfCodebook(emb)
    val assigned = withNearestCells(emb, cellCentroids, 1)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    cosineTopK(assigned,
      cosineProbes(emb.filter(col("vec_id") < nQueries), cellCentroids, nprobe), k)
  }

  val vecAnnIvf = Q(
    "vec_ann_ivf",
    (spark, dir) => {
      import spark.implicits._
      annIvfTopK(withNorm(spark, dir), nQueries = 50, k = 3, nprobe = 3).orderBy($"q_id", $"rn")
    },
    // oracled: the whole chain — trained
    // codebook, assignment, probes, exact-cosine re-rank — is
    // deterministic double algebra DuckDB re-derives from scratch
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, emb, nrm, cell")},
      ${cosineProbesSql("sims WHERE vec_id < 50", 3)},
      ${probedTop3Sql("assigned")}
    """.trim))

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× memory cut for vector search at scale: per-dimension [min, max]
    * ranges over the corpus, each value coded to one byte, and the
    * per-label mean reconstruction error reported as the quality gauge.
    *
    * Scale notes (100 TB): the range pass is a 64-row aggregate
    * (min/max are exact and order-independent — no decimal guard
    * needed), broadcast back to the corpus, so quantization itself is
    * one map-side pass with zero extra shuffle. At cluster scale the
    * codes would be repacked 64-per-row with `transform`; here the
    * exploded form keeps the error algebra oracle-checkable. Error sums
    * are decimal-guarded per §2.0; code/dequant arithmetic is written
    * identically on both engines so the doubles are bit-equal.
    */
  val vecQuantizeInt8 = Q(
    "vec_quantize_int8",
    (spark, dir) => {
      import spark.implicits._
      val dims = Tables
        .embeddings(spark, dir)
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "xf")))
        .select($"vec_id", $"label", $"pos", $"xf".cast(DoubleType).as("x"))
      val ranges = dims
        .groupBy($"pos")
        .agg(min($"x").as("mn"), max($"x").as("mx"))
      dims
        .join(broadcast(ranges), "pos")
        .withColumn(
          "code",
          // degenerate-dimension guard: a constant dimension (mx = mn)
          // would divide 0/0 → NaN, which the two engines resolve
          // differently; pin its code to 0 (dequantizes to mn exactly)
          when($"mx" === $"mn", lit(0L))
            .otherwise(round(($"x" - $"mn") / ($"mx" - $"mn") * 255, 0).cast("long"))
            - 128)
        .withColumn(
          "abs_err",
          abs($"x" - ($"mn" + ($"code" + 128).cast(DoubleType) * ($"mx" - $"mn") / 255)))
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n_values"),
          min($"code").as("min_code"),
          max($"code").as("max_code"),
          (sum(Tables.dec($"abs_err", 18, 9)).cast(DoubleType) / count(lit(1)))
            .cast(DecimalType(18, 9)).as("mean_abs_err"))
        .orderBy($"label")
    },
    Some("""
      WITH dims AS (
        SELECT vec_id, label, CAST(x AS DOUBLE) AS x, pos
        FROM (SELECT vec_id, label, UNNEST(embedding) AS x,
                     UNNEST(range(len(embedding))) AS pos
              FROM embeddings)
      ), ranges AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY pos
      ), coded AS (
        SELECT d.label, d.x, r.mn, r.mx,
          CASE WHEN r.mx = r.mn THEN 0
               ELSE CAST(round((d.x - r.mn) / (r.mx - r.mn) * 255) AS BIGINT)
          END - 128 AS code
        FROM dims d JOIN ranges r USING (pos)
      ), errs AS (
        SELECT label, code,
          abs(x - (mn + (code + 128) * (mx - mn) / 255)) AS abs_err
        FROM coded
      )
      SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_values,
        MIN(code) AS min_code, MAX(code) AS max_code,
        CAST(CAST(CAST(SUM(CAST(abs_err AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS DECIMAL(18,9)) AS DOUBLE) AS mean_abs_err
      FROM errs GROUP BY label ORDER BY label
    """.trim))

  /** Per-dimension feature standardization (z-scoring) of the embedding
    * column — the classic ML preprocessing step. Dimension moments are
    * EXACT decimal sums (order-independent), the 64-row stats table is
    * broadcast back, and each vector's standardized form is summarized
    * as its z-norm and max |z| component (scalars — the declared-output
    * contract forbids array columns; the full standardized vector is
    * exactly the `zc` column before the final rollup).
    *
    * Scale notes (100 TB): one map-side-combinable groupBy(pos) over the
    * exploded corpus (64 rows out), one broadcast join, one vec_id
    * rollup — the detail table shuffles once, on its natural key.
    * Population σ (÷n), the standardization convention.
    */
  val vecStandardizeDims = Q(
    "vec_standardize_dims",
    (spark, dir) => {
      import spark.implicits._
      val exploded = Tables
        .embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"vec_id", $"pos", $"v".cast(DoubleType).as("v"))
      val m = exploded
        .groupBy($"pos")
        .agg(
          count(lit(1)).as("n"),
          sum($"v".cast(DecimalType(28, 12))).as("sx"),
          sum(($"v" * $"v").cast(DecimalType(38, 12))).as("sxx"))
      val mu = $"sx".cast(DoubleType) / $"n"
      val stats = m.select(
        $"pos", mu.as("mu"),
        sqrt(($"sxx".cast(DoubleType) - $"n" * mu * mu) / $"n").as("sigma"))
      exploded
        .join(broadcast(stats), Seq("pos"))
        .withColumn("zc", ($"v" - $"mu") / $"sigma")
        .groupBy($"vec_id")
        .agg(
          sum(($"zc" * $"zc").cast(DecimalType(38, 12))).as("zss"),
          max(abs($"zc").cast(DecimalType(18, 8))).as("max_abs_z"))
        .select(
          $"vec_id",
          sqrt($"zss".cast(DoubleType)).cast(DecimalType(18, 6)).as("znorm"),
          $"max_abs_z")
        .orderBy($"vec_id")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, pos, CAST(v AS DOUBLE) AS v FROM (
          SELECT vec_id, UNNEST(embedding) AS v,
            UNNEST(range(len(embedding))) AS pos
          FROM embeddings)
      ), m AS (
        SELECT pos, COUNT(*) AS n,
          SUM(CAST(v AS DECIMAL(28,12))) AS sx,
          SUM(CAST(v * v AS DECIMAL(38,12))) AS sxx
        FROM e GROUP BY pos
      ), s AS (
        SELECT pos, CAST(sx AS DOUBLE) / n AS mu,
          SQRT((CAST(sxx AS DOUBLE) - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n) AS sigma
        FROM m
      ), z AS (
        SELECT e.vec_id, (e.v - s.mu) / s.sigma AS zc
        FROM e JOIN s USING (pos)
      )
      SELECT vec_id,
        CAST(CAST(SQRT(CAST(SUM(CAST(zc * zc AS DECIMAL(38,12))) AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS znorm,
        CAST(MAX(CAST(ABS(zc) AS DECIMAL(18,8))) AS DOUBLE) AS max_abs_z
      FROM z GROUP BY vec_id ORDER BY vec_id
    """.trim))

  /** Maximum-inner-product search (MIPS) top-k — the UNNORMALIZED
    * retrieval scoring recommendation / two-tower models serve (cosine
    * deliberately discards magnitude; an inner-product index must not,
    * which is why ANN libraries treat IP as its own metric). Brute-force
    * exact baseline over the corpus: probes broadcast, one corpus pass,
    * codegen'd `DotProduct`, score rounded 6dp with vec_id tiebreak.
    *
    * Scale notes (100 TB): identical shape to `vec_cosine_topk` — the
    * big side streams through one scan with zero shuffle of the corpus;
    * per-probe top-k runs in the window over the (tiny) probe
    * partition. The IVF/LSH rows are the sublinear path; for MIPS the
    * standard reduction (append sqrt(M²−‖x‖²) to make IP a cosine
    * problem) applies unchanged on top of `vec_ann_lsh`.
    */
  val vecMipsTopk = Q(
    "vec_mips_topk",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val probes = e.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"emb".as("q_emb"))
      val w = Window.partitionBy($"q_id").orderBy($"ip".desc, $"vec_id")
      e.join(broadcast(probes), $"vec_id" =!= $"q_id")
        .withColumn("ip", round(GraftFunctions.dot($"emb", $"q_emb"), 6))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id", $"ip", $"rn")
        .orderBy($"q_id", $"rn")
    },
    Some("""
      SELECT q_id, vec_id, ip, rn FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])), 6) AS ip,
          ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(q.embedding AS DOUBLE[])), 6) DESC,
                     e.vec_id) AS rn
        FROM embeddings e
        JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
          ON e.vec_id <> q.vec_id)
      WHERE rn <= 5
      ORDER BY q_id, rn
    """.trim))

  /** Matryoshka-truncation quality report — how much similarity signal
    * survives truncating embeddings to their first k dimensions
    * (k ∈ {8, 16, 32} of 64), the MRL-style storage/recall trade every
    * large vector store evaluates before shipping truncated indexes.
    * Per label: energy retention Σ‖v[0..k)‖² / Σ‖v‖² and its square
    * root (the RMS retained cosine, since cos(v, v[0..k) zero-padded)
    * = ‖v[0..k)‖/‖v‖) — one posexplode pass with conditional DECIMAL
    * power sums yields every k simultaneously.
    *
    * Scale notes (100 TB): one explode + one map-side-combinable agg
    * keyed by label — no joins, no windows, no per-vector rounding;
    * the exact decimal sums make the result partition-order
    * independent (§2.0) and the single final division is performed on
    * engine-identical doubles (no decimal re-rounding boundary), the
    * same discipline as `vec_norms_stats`.
    */
  val vecMatryoshkaEnergy = Q(
    "vec_matryoshka_energy",
    (spark, dir) => {
      import spark.implicits._
      val sq = ($"v".cast(DoubleType) * $"v".cast(DoubleType))
        .cast(DecimalType(28, 12))
      def ratio(c: Column): Column = c.cast(DoubleType) / $"ss_full".cast(DoubleType)
      Tables.embeddings(spark, dir)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"label")
        .agg(
          count(when($"pos" === 0, 1)).as("n"),
          sum(sq).as("ss_full"),
          sum(when($"pos" < 8, sq)).as("ss8"),
          sum(when($"pos" < 16, sq)).as("ss16"),
          sum(when($"pos" < 32, sq)).as("ss32"))
        .select(
          $"label", $"n",
          ratio($"ss8").as("energy8"),
          ratio($"ss16").as("energy16"),
          ratio($"ss32").as("energy32"),
          sqrt(ratio($"ss8")).as("rms_cos8"),
          sqrt(ratio($"ss16")).as("rms_cos16"),
          sqrt(ratio($"ss32")).as("rms_cos32"))
        .orderBy($"label")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label,
          UNNEST(embedding) AS v,
          UNNEST(range(len(embedding))) AS pos
        FROM embeddings
      ), sq AS (
        SELECT label,
          COUNT(CASE WHEN pos = 0 THEN 1 END) AS n,
          SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS ss_full,
          SUM(CASE WHEN pos < 8 THEN CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12)) END) AS ss8,
          SUM(CASE WHEN pos < 16 THEN CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12)) END) AS ss16,
          SUM(CASE WHEN pos < 32 THEN CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12)) END) AS ss32
        FROM e GROUP BY label
      )
      SELECT label, n,
        CAST(ss8 AS DOUBLE) / CAST(ss_full AS DOUBLE) AS energy8,
        CAST(ss16 AS DOUBLE) / CAST(ss_full AS DOUBLE) AS energy16,
        CAST(ss32 AS DOUBLE) / CAST(ss_full AS DOUBLE) AS energy32,
        SQRT(CAST(ss8 AS DOUBLE) / CAST(ss_full AS DOUBLE)) AS rms_cos8,
        SQRT(CAST(ss16 AS DOUBLE) / CAST(ss_full AS DOUBLE)) AS rms_cos16,
        SQRT(CAST(ss32 AS DOUBLE) / CAST(ss_full AS DOUBLE)) AS rms_cos32
      FROM sq ORDER BY label
    """.trim))

  /** Exact k-NN GRAPH audit (k = 5, cosine, global — across labels):
    * per-label hubness/consistency report — member count, mean 5th-
    * neighbor similarity (the "local density" radius), and the fraction
    * of directed kNN edges that are RECIPROCAL (dst also ranks src).
    * Low reciprocity + low kth-similarity = isolated/hubby regions, the
    * standard embedding-health probe before ANN-index deployment.
    *
    * Scale notes (100 TB): the exact graph is intrinsically n² (see
    * `dedup_embedding_cosine`'s threshold argument — this is the exact
    * AUDITOR one runs on a sample; `vec_ann_lsh`/`vec_ann_ivf` are the
    * production kNN path). The same chunk trick makes it parallel: the
    * corpus replicates m× on the left, the right side hashes into m
    * chunks, the join keys on chunk id → m independent bounded tasks,
    * each (n/m)·n dots pipelined inside the join; only scalar
    * (src, dst, cos) rows reach the top-k window shuffle, never arrays.
    * The kNN table (n·k rows) self-joins for reciprocity and aggregates
    * to one row per label — output is label-count-sized. Cosines are
    * rounded to 6 dp with dst-id tiebreaks before ranking (§2.0 rule 7)
    * so the graph is identical across engines and partitionings.
    */
  /** Chunk-local exact-kNN candidate stage: corpus replicated to every
    * chunk on the left, RANGE-partitioned so each of the m chunks is
    * exactly one task; one chunk per vector on the right, broadcast.
    * The broadcast-hash join on chunk id preserves the left's
    * partitioning, so the chunk-local top-k window needs NO exchange —
    * the n·(n/m)-row candidate stream never shuffles (PlanSpec asserts
    * one Exchange total). Emits ≤ k survivors per (chunk, src).
    */
  def knnLocalTopK(e: org.apache.spark.sql.DataFrame, k: Int, m: Int): org.apache.spark.sql.DataFrame = {
    val a = e.select(col("vec_id").as("src"), col("label"),
        col("emb").as("e1"), col("nrm").as("n1"))
      .withColumn("cb", explode(array((0 until m).map(lit): _*)))
      .repartitionByRange(m, col("cb"))
    val b = e.select(col("vec_id").as("dst"), col("emb").as("e2"), col("nrm").as("n2"))
      .withColumn("c2", pmod(col("dst"), lit(m)))
    a.join(broadcast(b), col("cb") === col("c2") && col("src") =!= col("dst"))
      .withColumn("cos", round(cosine("e1", "e2", "n1", "n2"), 6))
      .select(col("cb"), col("src"), col("label"), col("dst"), col("cos"))
      .withColumn("rn1", row_number().over(
        Window.partitionBy(col("cb"), col("src"))
          .orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rn1") <= k)
  }

  /** Global exact k=5 kNN graph (src, label, dst, cos, rn), memoized per
    * corpus: built once from the chunk-local candidate stage, globally
    * re-ranked, and held by [[graft.PlanCache]] — every consumer (`vec_knn_graph
    * _stats`' reciprocity join reads it twice, `vec_twonn_intrinsic_dim`
    * takes rn ≤ 2) shares ONE quadratic pass per directory, the same
    * shared-stage discipline as the shingle/pair/codebook caches.
    */
  private val knnCache = new graft.PlanCache(2)

  def cachedKnn5(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val k = 5
    val m = 32
    val fresh = knnLocalTopK(withNorm(spark, dir), k, m)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)))
      .filter($"rn" <= k)
      .select($"src", $"label", $"dst", $"cos", $"rn")
    knnCache.getOrCompute(fresh)(identity)
  }

  lazy val vecKnnGraphStats = Q(
    "vec_knn_graph_stats",
    (spark, dir) => {
      import spark.implicits._
      val k = 5
      // global top-k over the m·k survivors per src — n·m·k scalar rows,
      // materialized once (checkpoint) because the reciprocity join reads
      // the graph twice.
      val knn = cachedKnn5(spark, dir)
      val mirror = knn.select($"src".as("dst"), $"dst".as("src"), lit(true).as("mk"))
      knn.join(mirror, Seq("src", "dst"), "left")
        .withColumn("recip", coalesce($"mk", lit(false)))
        .groupBy($"label")
        .agg(
          countDistinct($"src").as("n_vec"),
          avg(when($"rn" === k, $"cos").cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)).as("avg_kth_cos"),
          (sum(when($"recip", 1L).otherwise(0L)).cast(DoubleType) /
            count(lit(1))).cast(DecimalType(18, 6)).as("recip_frac"))
        .orderBy($"label")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), edges AS (
        SELECT a.vec_id AS src, a.label AS label, b.vec_id AS dst,
          ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
      ), knn AS (
        SELECT * FROM (
          SELECT src, label, dst, cos,
            ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
          FROM edges)
        WHERE rn <= 5
      ), marked AS (
        SELECT k1.src, k1.label, k1.dst, k1.cos, k1.rn,
          EXISTS (SELECT 1 FROM knn k2
                  WHERE k2.src = k1.dst AND k2.dst = k1.src) AS recip
        FROM knn k1
      )
      SELECT label,
        COUNT(DISTINCT src) AS n_vec,
        CAST(AVG(CASE WHEN rn = 5 THEN CAST(cos AS DECIMAL(18,6)) END)
             AS DECIMAL(18,6)) AS avg_kth_cos,
        CAST(CAST(SUM(CASE WHEN recip THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS DECIMAL(18,6)) AS recip_frac
      FROM marked GROUP BY label ORDER BY label
    """.trim))

  /** One full LLOYD ITERATION of k-means over the embedding corpus —
    * the clustering primitive behind IVF codebook training, topic
    * bucketing, and diversity sampling, declared as a deterministic
    * DataFrame plan: seed centroids = the 8 lowest vec_ids (the
    * deterministic init every engine can reproduce), ASSIGN each
    * vector to its nearest centroid (squared L2 via the codegen'd
    * dot-product identity ‖a‖²−2a·c+‖c‖², rounded 6 dp with cid
    * tiebreak — §2.0 rule 4, same discipline as `vec_cosine_topk`),
    * UPDATE centroids as exact per-dimension decimal means, and report
    * per cluster: size, inertia (exact decimal sum of rounded d²) and
    * centroid DRIFT ‖c_new − c_old‖ (the convergence signal that
    * decides whether to run another round).
    *
    * Scale notes (100 TB): the codebook (k=8) broadcasts; assignment
    * is one broadcast-join pass over the corpus (no shuffle of the
    * vectors); the update is posexplode + per-(cid, dim) decimal
    * partial agg — the shuffle carries k×64 rows, independent of
    * corpus size. Iterating = re-running this plan with the updated
    * codebook; each round is one scan, the textbook distributed
    * k-means schedule.
    */
  val vecKmeansLloyd = Q(
    "vec_kmeans_lloyd",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"emb".as("cemb"))
      val asg = withNearestCentroidD2(e, cents, "cid", "cemb", "cid", "d2")
        .select($"vec_id", $"cid", $"d2", $"emb")
      // exact decimal per-dimension means of each cluster's members —
      // emb rides the assignment row, so no second corpus join (r7)
      val newc = asg
        .select($"cid", posexplode($"emb").as(Seq("pos", "x")))
        .groupBy($"cid", $"pos")
        .agg(sum($"x".cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("n"))
        .select($"cid", $"pos",
          ($"s".cast(DoubleType) / $"n").cast(DecimalType(18, 8)).as("m"))
      val oldc = cents.select($"cid", posexplode($"cemb").as(Seq("pos", "c")))
      val drift = newc.join(oldc, Seq("cid", "pos"))
        .groupBy($"cid")
        .agg(sum((($"m".cast(DoubleType) - $"c") * ($"m".cast(DoubleType) - $"c"))
          .cast(DecimalType(28, 12))).as("dr"))
      asg.groupBy($"cid")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"d2".cast(DecimalType(18, 6))).as("inertia_d"))
        .join(drift, "cid")
        .select($"cid", $"n_vecs",
          $"inertia_d".cast(DoubleType).as("inertia"),
          round(sqrt($"dr".cast(DoubleType)), 6).as("drift"))
        .orderBy($"cid")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), c AS (
        SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 8
      ), d AS (
        SELECT e.vec_id, c.cid,
          ${roundedL2Sql("e.emb", "c.cemb")} AS d2
        FROM e CROSS JOIN c
      ), a AS (
        SELECT vec_id, cid, d2,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d
      ), asg AS (
        SELECT vec_id, cid, d2 FROM a WHERE rn = 1
      ), mem AS (
        SELECT asg.cid, u.pos, u.x
        FROM asg JOIN (
          SELECT vec_id,
            UNNEST(CAST(embedding AS DOUBLE[])) AS x,
            UNNEST(range(len(embedding))) AS pos
          FROM embeddings) u ON asg.vec_id = u.vec_id
      ), newc AS (
        SELECT cid, pos,
          CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS m
        FROM mem GROUP BY cid, pos
      ), oldc AS (
        SELECT cid, UNNEST(cemb) AS cv, UNNEST(range(len(cemb))) AS pos FROM c
      ), drift AS (
        SELECT n.cid,
          SUM(CAST((n.m - o.cv) * (n.m - o.cv) AS DECIMAL(28,12))) AS dr
        FROM newc n JOIN oldc o ON n.cid = o.cid AND n.pos = o.pos
        GROUP BY n.cid
      )
      SELECT asg.cid, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(asg.d2 AS DECIMAL(18,6))) AS DOUBLE) AS inertia,
        ROUND(SQRT(CAST(ANY_VALUE(drift.dr) AS DOUBLE)), 6) AS drift
      FROM asg JOIN drift ON asg.cid = drift.cid
      GROUP BY asg.cid
      ORDER BY asg.cid
    """.trim))

  /** PRODUCT QUANTIZATION encode — the memory-bound ANN compression
    * standard (IVF-PQ indexes): split 64 dims into 4 subspaces of 16,
    * quantize each slice against its own 16-centroid codebook, so a
    * vector stores as 4 small codes (256 bytes of float32 → 4 codes)
    * with distances later approximated from per-subspace lookup
    * tables. Deterministic TRAINED codebooks ([[trainPqCodebook]]:
    * stride-sampled seeds + fixed Lloyd rounds, exact decimal means),
    * nearest-code assignment via the same rounded
    * ‖a‖²−2a·c+‖c‖² discipline as `vec_kmeans_lloyd`; declared output
    * is the per-(subspace, code) population + summed quantization
    * error — the codebook-balance audit that decides whether PQ
    * training converged (`vec_quantize_int8` is the scalar sibling;
    * this is the vector one).
    *
    * Scale notes (100 TB): the codebook (m×k = 64 rows) broadcasts;
    * encoding is ONE pass over the corpus with row-local slice+argmin
    * work — vectors never shuffle; the audit agg carries m×k rows.
    */
  val vecPqEncode = Q(
    "vec_pq_encode",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      // trained on the shared withNorm frame (not the row-local e):
      // the memoized codebook is keyed by plan, so this hits the
      // once-per-corpus cache the shared stage warms
      val cents = trainPqCodebook(withNorm(spark, dir))
      // row-local encode at (row, sub) granularity: the per-(vector,
      // subspace) window Exchange is gone; the only shuffle left is the
      // bounded (sub, cid) audit agg
      withPqStructs(e, cents)
        .select(explode($"pq").as("tc"))
        .select($"tc.sub".as("sub"), $"tc.cid".as("cid"), $"tc.d2".as("d2"))
        .groupBy($"sub", $"cid")
        .agg(count(lit(1)).as("n"),
          sum($"d2".cast(DecimalType(18, 6))).as("sum_err_d"))
        .select($"sub".cast("long").as("sub"), $"cid", $"n",
          $"sum_err_d".cast(DoubleType).as("sum_err"))
        .orderBy($"sub", $"cid")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), $pqDistsSql, a AS (
        SELECT vec_id, sub, cid, d2,
          ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        FROM d
      )
      SELECT CAST(sub AS BIGINT) AS sub, cid, COUNT(*) AS n,
        CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS sum_err
      FROM a WHERE rn = 1
      GROUP BY sub, cid
      ORDER BY sub, cid
    """.trim))

  /** PQ ASYMMETRIC DISTANCE top-k (ADC) — the query-time half of the
    * IVF-PQ architecture that `vec_pq_encode` trains: the corpus lives
    * as 4 small codes per vector; a query stays full-precision, builds
    * a per-subspace LOOKUP TABLE of squared distances to every codebook
    * centroid (m×k = 64 doubles per query), and each corpus vector's
    * approximate distance is the SUM OF 4 TABLE LOOKUPS — no
    * full-vector arithmetic ever touches the scan. Queries = the 8
    * lowest vec_ids (self excluded); k = 5 by approximate distance.
    *
    * Scale notes (100 TB): the LUT (one 64-slot array per query)
    * broadcasts; the code table is 4 longs per corpus vector (~16×
    * smaller than the float vectors), paired with every query and
    * scored by 4 row-local lookups — the corpus never shuffles. In a full
    * IVF-PQ deployment the IVF cell filter (vec_ann_ivf) bounds this
    * scan to ~nprobe/nlist of the corpus; composing the two is a
    * filter pushed below this join. Distances are rounded to 6 dp with
    * vec_id tiebreaks before ranking (§2.0 rule 7), and per-(q,vec)
    * sums are 4-term decimal adds, so rank order is engine-exact.
    */
  val vecPqAdcTopk = Q(
    "vec_pq_adc_topk",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      // shared-frame training for the cache hit (see vec_pq_encode)
      val cents = trainPqCodebook(withNorm(spark, dir))
      // corpus → 4 codes per vector (the PQ index; stored, not
      // recomputed), encoded row-locally — no per-(vector, subspace)
      // window Exchange between the scan and the codes
      val q = e.filter($"vec_id" < 8)
      val cand = pqCodes(e, cents, 4, 16, Seq("vec_id"))
        .crossJoin(broadcast(q.select($"vec_id".as("q_id"))))
        .filter($"vec_id" =!= $"q_id")
      // query-side LUT: squared distance of each query slice to every centroid
      val lut = pqLut(q, $"emb", cents, 4, 16, PqK, $"vec_id".as("q_id"))
      nearestFirst(adc(cand, lut, 4, PqK, "q_id"), "adist", 5, "rn", "q_id")
        .select($"q_id", $"vec_id", $"adist", $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), $pqDistsSql, codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM d)
        WHERE rn = 1
      ), lut AS (
        SELECT vec_id AS q_id, sub, cid, d2 AS qd2 FROM d WHERE vec_id < 8
      ), adists AS (
        SELECT l.q_id, k.vec_id,
          CAST(SUM(CAST(l.qd2 AS DECIMAL(18,6))) AS DOUBLE) AS adist
        FROM codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
        WHERE k.vec_id <> l.q_id
        GROUP BY l.q_id, k.vec_id
      )
      ${adcTopKSql(5)}
    """.trim))

  /** SEMANTIC DEDUPLICATION (SemDeDup-shaped) — the embedding-space
    * curation pass LLM pipelines run after exact/near-text dedup:
    * cluster the corpus (⌈√n⌉ k-means cells from one deterministic
    * Lloyd step, [[ivfCodebook]]), then WITHIN each cell mark a vector as a
    * semantic duplicate when a cell-mate above the cosine threshold
    * exists that is closer to the cell centroid (vec_id tiebreak) — the
    * keeper is the most-central member of every near-dup neighborhood,
    * a greedy, transitive-closure-free decision each engine states
    * identically as one EXISTS. Declared output is the per-cell audit:
    * population, duplicates removed, survivors.
    *
    * Scale notes (100 TB): centroids broadcast (nlist × dim); cell
    * assignment is one map pass over the corpus; the quadratic compare
    * is bounded WITHIN cells by construction — that is SemDeDup's
    * design: nlist grows with the corpus (√n rule of thumb) so cell
    * populations stay bounded, and the compare is a cell-keyed
    * sort-merge self-join + LEFT SEMI (no pair list materializes, the
    * shuffle carries vectors once). The audit agg is nlist-sized.
    * Determinism: centroid means are exact decimal casts, both
    * cosines round to 6 dp with vec_id tiebreaks (§2.0 rule 7).
    */
  val pipelineSemanticDedup = Q(
    "pipeline_semantic_dedup",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val cents = ivfCodebook(e)
      val assigned = withNearestCells(e, cents, keep = 1)
        .select($"vec_id", $"emb", $"nrm", $"cell", $"csim")
      val b = assigned.select($"cell".as("b_cell"), $"vec_id".as("b_id"), $"emb".as("b_emb"),
        $"nrm".as("b_nrm"), $"csim".as("b_csim"))
      val pcos = round(GraftFunctions.dot($"emb", $"b_emb") / ($"nrm" * $"b_nrm"), 6)
      val dups = assigned.join(b,
        $"cell" === $"b_cell" && $"vec_id" =!= $"b_id" && pcos >= 0.4 &&
          ($"b_csim" > $"csim" || ($"b_csim" === $"csim" && $"b_id" < $"vec_id")),
        "left_semi")
        .select($"vec_id", $"cell")
      assigned.select($"vec_id", $"cell")
        .join(dups.select($"vec_id", lit(1L).as("is_dup")), Seq("vec_id"), "left")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(coalesce($"is_dup", lit(0L))).as("n_dups"),
          (count(lit(1)) - sum(coalesce($"is_dup", lit(0L)))).as("n_kept"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, emb, nrm, cell, csim")}, flagged AS (
        SELECT a.cell, a.vec_id,
          CASE WHEN EXISTS (
            SELECT 1 FROM assigned b
            WHERE b.cell = a.cell AND b.vec_id <> a.vec_id
              AND ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= 0.4
              AND (b.csim > a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
          ) THEN 1 ELSE 0 END AS is_dup
        FROM assigned a
      )
      SELECT cell, COUNT(*) AS n_vecs,
        CAST(SUM(is_dup) AS BIGINT) AS n_dups,
        CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_kept
      FROM flagged GROUP BY cell ORDER BY cell
    """.trim))

  /** IVF-PQ — the composition the two halves exist for, and the
    * architecture real 100 TB vector search deploys (FAISS-style): the
    * IVF coarse quantizer prunes the scan to `nprobe`/`nlist` of the
    * corpus (cell equi-join against the probed-cell list, exactly
    * `vec_ann_ivf`'s trade), and WITHIN the surviving cells distance
    * is PQ asymmetric lookup (4 code lookups per candidate from the
    * query's broadcast LUT, exactly `vec_pq_adc_topk`'s trade) — so
    * the scan touches neither most of the corpus NOR any full vector.
    * Oracled: DuckDB re-derives codebooks,
    * codes, LUT and ADC top-k from scratch. VectorOpsSpec additionally
    * asserts the internal-consistency property that cell restriction
    * can only LOSE candidates — rank-wise approximate distance of the
    * IVF-PQ top-k dominates the unrestricted ADC top-k — plus dense
    * ranks and non-negative distances.
    *
    * Scale notes (100 TB): probed-cell list and LUT broadcast; the
    * corpus side carries (cell, 4 codes) per vector — the cell filter
    * pushes below the LUT join, so the shuffle-free scan reads
    * ~nprobe/nlist of a table already ~64× smaller than the vectors.
    */
  /** Parameterized IVF-PQ top-k (the body of `vec_ann_ivfpq`, reused by
    * the recall-report row with a wider query set).
    */
  def annIvfpqTopK(e: org.apache.spark.sql.DataFrame, nQueries: Int, k: Int,
                   nprobe: Int): org.apache.spark.sql.DataFrame = {
    // IVF half: √n-cell Lloyd codebook, nearest-cell assignment, query probes
    val cents = ivfCodebook(e)
    val q = e.filter(col("vec_id") < nQueries)
    val probes = withNearestCells(q, cents, nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    // PQ half: TRAINED subspace codebook (stride seeds + Lloyd rounds),
    // row-local per-vector codes, query LUT
    val cb = trainPqCodebook(e)
    // one map pass: each corpus vector gets its IVF cell AND its 4 PQ
    // codes row-locally — no encode window, no assignment Exchange
    val codes = pqCodes(withNearestCells(e, cents, 1), cb, 4, 16)
    // probed-cell filter BELOW the LUT join, then ADC rank
    nearestFirst(pqAdc(codes, probes, q, cb), "adist", k, "rn", "q_id")
      .select(col("q_id"), col("vec_id"), col("adist"), col("rn").cast("long").as("rn"))
  }

  val vecAnnIvfpq = Q(
    "vec_ann_ivfpq",
    (spark, dir) => {
      import spark.implicits._
      annIvfpqTopK(withNorm(spark, dir), nQueries = 8, k = 5, nprobe = 3)
        .orderBy($"q_id", $"rn")
    },
    // oracled: trained IVF + PQ codebooks,
    // codes, LUT and the 4-term decimal ADC sum are all re-derived by
    // DuckDB from scratch — same chain as vec_ann_ivfpq_serve at the
    // in-plan row's (8 queries, k=5) configuration
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, cell")},
      ${probeCellsSql("sims WHERE vec_id < 8", 3)},
      ${rawPqAdcSql("vec_id < 8")}
      ${adcTopKSql(5)}
    """.trim))

  /** ANN RECALL@k AUDIT — the driver-visible quality number for the ANN
    * stack: IVF-PQ's top-5 candidates (nprobe=3, the
    * production configuration of `vec_ann_ivfpq`, widened to 50 queries)
    * scored against the EXACT squared-L2 top-5 for the same queries —
    * the metric ADC approximates, so recall isolates quantization +
    * cell-pruning loss rather than metric mismatch. Declared output is
    * per-label mean recall@3 / recall@5 over the label's queries: the
    * report a platform runs before trusting an ANN index in production.
    * Oracled — the full approximate + exact
    * chain is deterministic; DriftGraphSpec additionally asserts range,
    * query coverage, and that the index beats the random-candidates
    * baseline.
    *
    * Scale notes (100 TB): the approximate side is the IVF-PQ plan
    * (broadcast probes+LUT, pruned codes-only scan); the exact side is
    * ONE broadcast pass of the 50 queries over the corpus — the audit
    * runs on a query SAMPLE by construction, so its cost is
    * queries × corpus, never corpus², and shrinks with the sample.
    */
  val vecAnnRecallReport = Q(
    "vec_ann_recall_report",
    (spark, dir) => {
      import spark.implicits._
      val nQ = 50
      val k = 5
      val e = withNorm(spark, dir)
      val approx = annIvfpqTopK(e, nQ, k, nprobe = 3)
        .select($"q_id", $"vec_id", $"rn".as("a_rn"))
      val q = e.filter($"vec_id" < nQ)
      // exact squared-L2 ground truth via the same ‖a‖²−2a·q+‖q‖²
      // identity the PQ encoder uses, rounded 6 dp, vec_id tiebreak;
      // hits = intersection of approximate and exact top-k id sets
      val hits = recallHits(approx, exactTopK(e, q, k), "q_id")
      // raw double division (exact hit counts over small fixed
      // denominators) — IEEE-identical across engines, so the oracle
      // needs no rounding discipline on the recalls at all
      q.select($"vec_id".as("q_id"), $"label".as("q_label"))
        .join(hits, Seq("q_id"), "left")
        .groupBy($"q_label".as("label"))
        .agg(
          count(lit(1)).as("n_queries"),
          (sum(coalesce($"h3", lit(0L))).cast(DoubleType) / (count(lit(1)) * 3))
            .as("recall_at_3"),
          (sum(coalesce($"h5", lit(0L))).cast(DoubleType) / (count(lit(1)) * 5))
            .as("recall_at_5"))
        .orderBy($"label")
    },
    // oracled: the IVF-PQ approximate side is
    // the vec_ann_ivfpq chain at 50 queries, the exact side is the same
    // rounded L2 identity — both re-derived in full by DuckDB
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, cell")},
      ${probeCellsSql("sims WHERE vec_id < 50", 3)},
      ${rawPqAdcSql("vec_id < 50")}, approx AS (
        SELECT q_id, vec_id, rn AS a_rn FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
          FROM adists)
        WHERE rn <= 5
      ), qe AS (
        SELECT vec_id AS q_id, emb AS q_emb, label AS q_label
        FROM e WHERE vec_id < 50
      ), $exactTop5Sql, hits AS (
        SELECT a.q_id,
          SUM(CASE WHEN a.a_rn <= 3 AND x.e_rn <= 3 THEN 1 ELSE 0 END) AS h3,
          COUNT(*) AS h5
        FROM approx a JOIN exact x USING (q_id, vec_id)
        GROUP BY a.q_id
      )
      SELECT q.q_label AS label, COUNT(*) AS n_queries,
        CAST(SUM(COALESCE(h.h3, 0)) AS DOUBLE) / (COUNT(*) * 3) AS recall_at_3,
        CAST(SUM(COALESCE(h.h5, 0)) AS DOUBLE) / (COUNT(*) * 5) AS recall_at_5
      FROM qe q LEFT JOIN hits h ON q.q_id = h.q_id
      GROUP BY q.q_label
      ORDER BY label
    """.trim))

  /** SCALABLE EMBEDDING NEAR-DUP — the declared twin of
    * `dedup_embedding_cosine`, mirroring the
    * jaccard-exact / minhash-scalable pairing: IVF-cell CANDIDATE
    * GENERATION (each vector multi-probes its 3 nearest centroid cells —
    * the recall knob; Lloyd-trained cells are tight, so loose-τ pairs
    * need a third probe to keep colliding —
    * so boundary-straddling pairs still collide) + exact cosine CONFIRM
    * at the same τ=0.4. The exact row stays the all-pairs baseline;
    * this is the plan that survives 100×.
    *
    * Scale notes (100 TB): centroids broadcast (nlist × dim); cell
    * assignment is one map pass; the confirm join is cell-keyed, so the
    * quadratic is bounded WITHIN cells — and nlist is the scale knob,
    * derived ⌈√n⌉ from the corpus count ([[ivfCodebook]], SemDeDup's
    * rule as code) so cell populations stay O(√n) at any corpus size.
    * The same centroid/assignment algebra as `pipeline_semantic_dedup`
    * keeps it fully oracle-checkable — deterministic doubles, 6 dp
    * rounds, id tiebreaks — unlike the hash-based LSH rows.
    */
  /** Candidate generation + exact-cosine confirm for a GIVEN codebook —
    * factored so the recall-parity spec can pin two different nlist
    * values against the same confirm logic.
    */
  def annNearDupPairs(e: org.apache.spark.sql.DataFrame,
                      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // multi-probe: nearest 3 cells per vector, assigned row-locally
    val assigned = withNearestCells(e, cents, keep = 3)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    val b = assigned.select(col("cell").as("b_cell"), col("vec_id").as("d2"),
      col("emb").as("e2"), col("nrm").as("n2"))
    assigned.join(b, col("cell") === col("b_cell") && col("vec_id") < col("d2"))
      .withColumn("cos",
        round(GraftFunctions.dot(col("emb"), col("e2")) / (col("nrm") * col("n2")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("vec_id").as("d1"), col("d2"), col("cos"))
      // a pair sharing several probed cells collides once per shared
      // cell — dedupe the
      // scalar triple, never the arrays
      .distinct()
  }

  val dedupEmbeddingAnn = Q(
    "dedup_embedding_ann",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      annNearDupPairs(e, ivfCodebook(e)).orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH ${OracleSql.embeddings("vec_id")}, $ivfCodebookSql,
      ${OracleSql.cellSims()}, assigned AS (
        SELECT vec_id, emb, nrm, cell FROM (
          SELECT vec_id, emb, nrm, cell,
            ${OracleSql.cellRank}
          FROM sims)
        WHERE cr <= 3
      )
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
        ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= 0.4
      ORDER BY d1, d2
    """.trim))

  /** GREEDY k-CENTER CORESET (SURVEY §2 I-sext) — the diversity-first
    * selection rule training-data curation uses to cover an embedding
    * space with a small budget (farthest-point traversal, the 2-approx
    * of the k-center objective): seed with the lowest vec_id, then 7×
    * add the point FARTHEST from everything already chosen. The per-
    * round radius (max-min squared distance) is the declared coverage
    * curve — how much of the space each new pick buys.
    *
    * Deterministic and fully oracled: distances via the rounded
    * ‖a‖²−2a·c+‖c‖² identity (6 dp, §2.0 rule 7), argmax tiebreak on
    * vec_id, exactly mirrored by the unrolled DuckDB CTE chain.
    *
    * Scale notes (100 TB): each round is ONE broadcast pass over the
    * corpus (chosen set ≤ k rows rides the broadcast; min-dist is a
    * map-side-combinable agg) + a global top-1 (TakeOrdered, no sort
    * shuffle) — k passes total, the textbook distributed farthest-point
    * schedule. The growing chosen frame is checkpointed per round so
    * round i never re-derives rounds 1..i−1.
    */
  val sampleCoresetKcenter = Q(
    "sample_coreset_kcenter",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir).select($"vec_id", $"label", $"emb")
      // the ≤ k chosen rows ride the DRIVER as literals (r13, the
      // splitCells pattern): the old loop checkpointed the growing
      // chosen frame every round — 7 eager localCheckpoint jobs plus a
      // collect_list job per round, pure scheduling overhead on k rows.
      // Each round is still ONE distributed map pass over the corpus
      // (row-local min against the ≤ k-array literal) + a global top-1
      // (TakeOrdered) — the same fact-scale plan, fewer jobs
      // (1.3 s → ~0.7 s at sf0.1); the corpus never leaves the cluster.
      val f0 = e.orderBy($"vec_id").limit(1).head()
      var picks = Vector(
        (1, f0.getLong(0), f0.getInt(1), f0.getSeq[Double](2), 0.0))
      for (i <- 2 to 8) {
        val cearr = typedLit(picks.map(_._4.toSeq))
        val mind = array_min(transform(cearr, ce => roundedL2($"emb", ce)))
        val far = e.withColumn("mind", mind)
          .orderBy($"mind".desc, $"vec_id")
          .limit(1)
          .select($"vec_id", $"label", $"emb", $"mind")
          .head()
        picks = picks :+ ((i, far.getLong(0), far.getInt(1),
          far.getSeq[Double](2), far.getDouble(3)))
      }
      picks.map(p => (p._1, p._2, p._3, p._5))
        .toDF("rnd", "vec_id", "label", "radius_sq")
        .orderBy($"rnd")
    },
    Some {
      val rounds = (2 to 8).map { i =>
        s"""c$i AS MATERIALIZED (
        SELECT $i AS rnd, vec_id, label, emb, mind AS radius_sq FROM (
          SELECT e.vec_id, e.label, e.emb,
            MIN(${roundedL2Sql("e.emb", "c.emb")}) AS mind
          FROM e CROSS JOIN ch${i - 1} c
          GROUP BY e.vec_id, e.label, e.emb)
        ORDER BY mind DESC, vec_id LIMIT 1
      ), ch$i AS MATERIALIZED (
        SELECT * FROM ch${i - 1} UNION ALL SELECT * FROM c$i
      )"""
      }.mkString(", ")
      s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), ch1 AS MATERIALIZED (
        SELECT 1 AS rnd, vec_id, label, emb, 0.0 AS radius_sq
        FROM e ORDER BY vec_id LIMIT 1
      ), $rounds
      SELECT rnd, vec_id, label, radius_sq FROM ch8 ORDER BY rnd
      """.trim
    })

  /** ANN serve from the PERSISTED IVF index (SURVEY §2 I-sept) — the
    * production query path: [[IvfIndex.ensure]] finds (or builds once)
    * the cell-bucketed index + codebook tables under the warehouse, and
    * this query answers 50 probes (nprobe=3, k=3) reading ONLY those
    * persisted tables — zero re-clustering, the cross-job path the
    * in-session PlanCache cannot provide. Unlike `vec_ann_ivf` (the
    * in-plan formulation, no-oracle), every step here rounds at 6 dp
    * with id tiebreaks, so the row is FULLY oracled: DuckDB re-derives
    * codebook, assignment, probes, and top-k from scratch and must
    * match the served results bit-for-bit — which also proves the
    * persisted artifacts faithfully capture the in-plan build.
    *
    * Scale notes (100 TB): the index side is a bucketed scan with NO
    * Exchange (probes broadcast; PlanSpec asserts no cell-keyed
    * shuffle and that cell-keyed aggregation over the index plans
    * exchange-free); per-query work is ~nprobe/nlist of the corpus.
    * The build amortizes across every job that serves from it.
    */
  val vecAnnIvfServe = Q(
    "vec_ann_ivf_serve",
    (spark, dir) => {
      import spark.implicits._
      val (idx, cb) = IvfIndex.ensure(spark, dir)
      cosineTopK(idx, cosineProbes(withNorm(spark, dir).filter($"vec_id" < 50), cb, 3), 3)
        .orderBy($"q_id", $"rn")
    },
    vecAnnIvf.oracle)

  /** ANN serve from the PERSISTED IVF-PQ index (SURVEY §2 I-oct) — the
    * full FAISS-style production path on disk: [[IvfIndex.ensurePq]]
    * lays the corpus out as a cell-bucketed CODES table (4 packed
    * subspace codes per vector, ~64× smaller than the vectors) plus a
    * kilobyte PQ codebook, next to the IVF codebook; this query answers
    * 50 probes (nprobe=3, k=3) reading ONLY persisted artifacts — the
    * scan touches neither most of the corpus (probed-cell filter) NOR
    * any full vector (ADC: 4 LUT lookups per candidate). Fully oracled
    * like `vec_ann_ivf_serve`: every step rounds at 6 dp with id
    * tiebreaks and the ADC sum is a 4-term decimal add, so DuckDB
    * re-derives codebooks, assignment, codes, LUT and top-k from
    * scratch and must match the served answer — proving the persisted
    * artifacts faithfully capture the in-plan build.
    *
    * Scale notes (100 TB): probes and LUT broadcast; the codes side is
    * a bucketed scan with NO Exchange and no full-width vector column;
    * per-query work is ~nprobe/nlist of an already-64×-smaller table,
    * scored row-locally against the query's broadcast LUT.
    */
  val vecAnnIvfpqServe = Q(
    "vec_ann_ivfpq_serve",
    (spark, dir) => {
      import spark.implicits._
      val (_, ivfCb) = IvfIndex.ensure(spark, dir)
      val (codes, pqCb) = IvfIndex.ensurePq(spark, dir)
      val q = withNorm(spark, dir).filter($"vec_id" < 50)
      // nprobe=3 nearest cells per query via the persisted IVF codebook
      val probes = withNearestCells(q, ivfCb, keep = 3)
        .select($"vec_id".as("q_id"), $"cell")
      // per-query LUT (one 64-slot array per query, broadcast) against
      // the persisted PQ codebook; ADC over the probed cells' codes
      nearestFirst(pqAdc(codes, probes, q, pqCb), "adist", 3, "rn", "q_id")
        .select($"q_id", $"vec_id", $"adist", $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, cell")},
      ${probeCellsSql("sims WHERE vec_id < 50", 3)},
      ${rawPqAdcSql("vec_id < 50")}
      ${adcTopKSql(3)}
    """.trim))

  /** Maximal-marginal-relevance diversified top-k (SURVEY §2 I-non) —
    * the retrieval-side diversity pass a RAG / training-data curation
    * stack runs AFTER similarity search: plain top-k returns near-
    * duplicates of each other; MMR greedily picks argmax λ·rel(q,d) −
    * (1−λ)·max_{s∈chosen} sim(d,s) (λ=0.7, Carbonell–Goldstein), so
    * each pick is relevant to the query AND novel against what's
    * already selected. Query = the lowest-id embedding; candidates =
    * its exact cosine top-20 (with id tiebreak); 5 greedy rounds, the
    * first pick scored by the same formula (max_sim = 0).
    *
    * Scale notes (100 TB): the candidate cut is the ONE corpus-scale
    * step (a broadcast-probe cosine top-k — at scale the ANN serve
    * path yields the same 20 rows); the greedy loop is 4 unrolled
    * rounds on the checkpointed ≤20-row frame — bounded-table algebra
    * exactly like `sample_coreset_kcenter` (k-center optimizes
    * coverage of a corpus; MMR relevance-vs-redundancy of a result
    * list). Every cosine rounds 6 dp before compare, all argmax
    * tiebreaks on vec_id, so the trajectory is engine-reproducible.
    */
  val vecMmrDiversify = Q(
    "vec_mmr_diversify",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val q0 = e.orderBy($"vec_id").limit(1)
        .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"))
      // the 20-row candidate shortlist is bounded BY CONSTRUCTION, so
      // the greedy MMR selection runs driver-side on the collected rows
      // (r13, the splitCells pattern): the old loop paid an eager
      // localCheckpoint + anti-join + crossJoin + group job per round —
      // 4 rounds of scheduling overhead on ≤ 20 rows. Arithmetic is
      // bit-identical: the same ascending dot fold as graft_dot, the
      // same HALF_UP 6 dp round as SQL round(x, 6)
      // (graft.DriverRound), max over the same doubles, the same
      // (mmr_score DESC, vec_id) order. The distributed part — the
      // corpus-wide relevance top-20 — is unchanged.
      val cands = e.crossJoin(broadcast(q0))
        .where($"vec_id" =!= $"q_id")
        .withColumn("rel", round(cosine("emb", "q_emb", "nrm", "q_nrm"), 6))
        .orderBy($"rel".desc, $"vec_id")
        .limit(20)
        .select($"vec_id", $"label", $"emb", $"nrm", $"rel")
        .collect()
      def ddot(a: Seq[Double], b: Seq[Double]): Double = {
        val n = math.min(a.length, b.length)
        var s = 0.0; var i = 0
        while (i < n) { s += a(i) * b(i); i += 1 }
        s
      }
      val r6 = (x: Double) => graft.DriverRound(x, 6)
      val cs = cands.toVector
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2),
          r.getDouble(3), r.getDouble(4)))
        .sortBy(c => (-c._5, c._1))
      var chosen = Vector((1, cs.head, 0.0, r6(0.7 * cs.head._5)))
      var rest = cs.tail
      for (i <- 2 to 5) {
        val scored = rest.map { c =>
          val maxSim = chosen.map(ch => r6(ddot(c._3, ch._2._3) / (c._4 * ch._2._4))).max
          (c, maxSim, r6(0.7 * c._5 - 0.3 * maxSim))
        }
        val pick = scored.sortBy(t => (-t._3, t._1._1)).head
        chosen = chosen :+ ((i, pick._1, pick._2, pick._3))
        rest = rest.filterNot(_._1 == pick._1._1)
      }
      chosen.map(t => (t._1, t._2._1, t._2._2, t._2._5, t._3, t._4))
        .toDF("rnd", "vec_id", "label", "rel", "max_sim", "mmr_score")
        .orderBy($"rnd")
    },
    Some {
      val rounds = (2 to 5).map { i =>
        s"""p$i AS MATERIALIZED (
        SELECT $i AS rnd, vec_id, label, emb, rel, max_sim,
          ROUND(0.7 * rel - 0.3 * max_sim, 6) AS mmr_score
        FROM (
          SELECT c.vec_id, c.label, c.emb, c.rel,
            MAX(ROUND(list_cosine_similarity(c.emb, ch.emb), 6)) AS max_sim
          FROM cands c CROSS JOIN ch${i - 1} ch
          WHERE c.vec_id NOT IN (SELECT vec_id FROM ch${i - 1})
          GROUP BY 1, 2, 3, 4)
        ORDER BY mmr_score DESC, vec_id LIMIT 1
      ), ch$i AS MATERIALIZED (
        SELECT * FROM ch${i - 1} UNION ALL SELECT * FROM p$i
      )"""
      }.mkString(", ")
      s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), q0 AS (
        SELECT vec_id AS q_id, emb AS q_emb FROM e ORDER BY vec_id LIMIT 1
      ), cands AS MATERIALIZED (
        SELECT vec_id, label, emb,
          ROUND(list_cosine_similarity(emb, q_emb), 6) AS rel
        FROM e, q0 WHERE vec_id <> q_id
        ORDER BY rel DESC, vec_id LIMIT 20
      ), ch1 AS MATERIALIZED (
        SELECT 1 AS rnd, vec_id, label, emb, rel, 0.0 AS max_sim,
          ROUND(0.7 * rel, 6) AS mmr_score
        FROM cands ORDER BY rel DESC, vec_id LIMIT 1
      ), $rounds
      SELECT rnd, vec_id, label, rel, max_sim, mmr_score FROM ch5 ORDER BY rnd
      """.trim
    })

  /** IVF INDEX MAINTENANCE — cell rebalance audit (round-9 second
    * wave): the operational row a production vector store runs nightly
    * on the PERSISTED index. Cells whose population exceeds 1.25× the
    * mean (exact integer predicate `4·n_cell·nlist > 5·N` — no float
    * gate) are SPLIT by one deterministic 2-means step: seeds = the
    * cell's two lowest vec_ids, members assigned to the nearer seed
    * (rounded ‖a‖²−2a·s+‖s‖², side tiebreak), split centroids = exact
    * decimal means. Declared output is the rebalance plan an operator
    * reviews before applying: per (cell, side) the populations and the
    * new sub-centroid's norm.
    *
    * Scale notes (100 TB): the population scan and the per-cell
    * member windows both ride the CELL-BUCKETED index — the groupBy
    * and the rank window read co-partitioned with zero Exchange; the
    * overloaded-cell list and the 2-row-per-cell seed arrays broadcast;
    * side assignment is ROW-LOCAL (2-element argmin per member); only
    * the bounded (cell, side, dim) mean aggregation shuffles. Work is
    * proportional to the members of OVERLOADED cells, not the corpus.
    */
  /** Shared 2-means split plan over the PERSISTED index — the single
    * source of truth for BOTH halves of the rebalance lifecycle: the
    * audit row ([[vecIvfCellRebalance]]) renders it for operator review,
    * and [[IvfIndex.ensureRebalanced]] applies it as index generation 2.
    * One implementation means the applied split can never drift from the
    * reviewed plan.
    *
    * Returns (over, asg): `over(cell, n_cell)` = the overloaded cells
    * (exact integer predicate 4·n_cell·nlist > 5·N), and
    * `asg(cell, n_cell, vec_id, emb, nrm, side)` = each overloaded
    * cell's members with their deterministic 2-means side (seeds = the
    * cell's two lowest vec_ids; nearer-seed assignment on the rounded
    * ‖a‖²−2a·s+‖s‖² identity, side tiebreak).
    *
    * Scale notes (100 TB): the population scan and the per-cell seed
    * windows ride the CELL-BUCKETED index (zero Exchange); `over` and
    * the 2-row-per-cell seed arrays broadcast; side assignment is
    * ROW-LOCAL. Work ∝ members of OVERLOADED cells, not the corpus.
    */
  private[graft] def splitPlan(
      spark: org.apache.spark.sql.SparkSession,
      idx: org.apache.spark.sql.DataFrame,
      cbTab: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val stats = idx.groupBy($"cell").agg(count(lit(1)).as("n_cell"))
      .crossJoin(broadcast(
        idx.agg(count(lit(1)).as("n"))
          .crossJoin(cbTab.agg(count(lit(1)).as("nlist")))))
    val over = stats.filter($"n_cell" * $"nlist" * 4 > $"n" * 5)
      .select($"cell", $"n_cell")
    val members = idx.join(broadcast(over), Seq("cell"))
    val wCell = Window.partitionBy($"cell").orderBy($"vec_id")
    val seeds = members
      .withColumn("rk", row_number().over(wCell))
      .filter($"rk" <= 2)
      .select($"cell", ($"rk" - 1).cast("long").as("side"),
        $"emb".as("semb"))
      .withColumn("cnn", GraftFunctions.dot($"semb", $"semb"))
    val seedArr = seeds.groupBy($"cell")
      .agg(array_sort(collect_list(struct($"side", $"semb", $"cnn"))).as("sarr"))
    val asg = members.join(broadcast(seedArr), Seq("cell"))
      .withColumn("dee", GraftFunctions.dot($"emb", $"emb"))
      .withColumn("tc", array_min(transform($"sarr", s =>
        struct(round($"dee" - lit(2.0) * GraftFunctions.dot($"emb", s("semb"))
          + s("cnn"), 6).as("d2"), s("side").as("side")))))
      .select($"cell", $"n_cell", $"vec_id", $"emb", $"nrm",
        $"tc"("side").as("side"))
    (over, asg)
  }

  val vecIvfCellRebalance = Q(
    "vec_ivf_cell_rebalance",
    (spark, dir) => {
      import spark.implicits._
      val (idx, cbTab) = IvfIndex.ensure(spark, dir)
      val (_, asg) = splitPlan(spark, idx, cbTab)
      val sides = asg.groupBy($"cell", $"n_cell", $"side")
        .agg(count(lit(1)).as("n_side"))
      val newCents = asg
        .select($"cell", $"side", posexplode($"emb").as(Seq("pos", "v")))
        .groupBy($"cell", $"side", $"pos")
        .agg(sum($"v".cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("cn"))
        .withColumn("c", $"s".cast(DoubleType) / $"cn")
        .groupBy($"cell", $"side")
        .agg(array_sort(collect_list(struct($"pos", $"c"))).as("pc"))
        .select($"cell", $"side",
          round(sqrt(GraftFunctions.dot(
            expr("transform(pc, x -> x.c)"), expr("transform(pc, x -> x.c)"))), 6)
            .as("cnrm_new"))
      sides.join(newCents, Seq("cell", "side"))
        .select($"cell", $"n_cell", $"side", $"n_side", $"cnrm_new")
        .orderBy($"cell", $"side")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql, sides AS (
        SELECT cell, n_cell, side, COUNT(*) AS n_side
        FROM asg GROUP BY cell, n_cell, side
      ), newc AS (
        SELECT cell, side,
          ROUND(SQRT(list_inner_product(cvec, cvec)), 6) AS cnrm_new
        FROM newcv
      )
      SELECT s.cell, s.n_cell, s.side, s.n_side, n.cnrm_new
      FROM sides s JOIN newc n USING (cell, side)
      ORDER BY s.cell, s.side
    """.trim))

  /** IVF INDEX MAINTENANCE — rebalance APPLY, the write
    * half completing [[vecIvfCellRebalance]]'s read half: consume the
    * SAME [[splitPlan]] and persist INDEX GENERATION 2
    * ([[IvfIndex.ensureRebalanced]]) — split cells replaced by their two
    * exact-decimal-mean sub-centroids (side 0 keeps the cell id, side 1
    * gets max(cell)+rank), members reassigned row-locally, everything
    * else passed through untouched, bucketed files + fingerprint
    * freshness like every other persisted artifact. Declared output is
    * the POST-SPLIT index summary read back from the persisted
    * generation-2 tables — per cell its population and codebook norm —
    * which the oracle re-derives from scratch (corpus → trained
    * codebook → assignment → overload predicate → 2-means split → new
    * ids → generation-2 populations/norms), so a pass certifies the
    * entire applied lifecycle, not just the plan.
    *
    * Scale notes (100 TB): the apply's work is bounded by
    * overloaded-cell membership plus one bucketed-write shuffle
    * (IvfIndex.ensureRebalanced scaladoc); this row's read side is the
    * cell-bucketed gen-2 scan aggregated per cell with ZERO Exchange,
    * joined to the kilobyte gen-2 codebook via broadcast.
    */
  val vecIvfRebalanceApply = Q(
    "vec_ivf_rebalance_apply",
    (spark, dir) => {
      import spark.implicits._
      val (idx2, cb2) = IvfIndex.ensureRebalanced(spark, dir)
      idx2.groupBy($"cell").agg(count(lit(1)).as("n_cell"))
        .join(broadcast(cb2.select($"cell", round($"cnrm", 6).as("cnrm"))),
          Seq("cell"))
        .select($"cell", $"n_cell", $"cnrm")
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql, pops2 AS (
        SELECT cell, COUNT(*) AS n_cell FROM idx2 GROUP BY cell
      )
      SELECT p.cell, p.n_cell, ROUND(b.cnrm, 6) AS cnrm
      FROM pops2 p JOIN cb2 b USING (cell)
      ORDER BY p.cell
    """.trim))

  /** ANN SERVE FROM GENERATION 2 — the read end of the rebalance
    * lifecycle (build gen-1 → audit plan → apply gen-2 → THIS):
    * maintenance makes generation 2 current
    * ([[IvfIndex.ensureRebalanced]], find-or-build) and 50
    * disjoint-sample probes (nprobe=3, k=3) are answered reading ONLY
    * its persisted tables — proving post-rebalance retrieval
    * end-to-end: DuckDB re-derives the ENTIRE lifecycle from scratch
    * (trained codebook → assignment → overload → 2-means split → new
    * ids → gen-2 index/codebook → probes → top-k) and must match the
    * served answer bit-for-bit. Queries are the vec_id ≡ 7 (mod 10)
    * sample — disjoint from the codebook's stride-seed set, the honest
    * population per RECALL.md. The row PINS generation 2 (its declared
    * contract — the oracle derives exactly one apply); the
    * freshest-ordinal read policy is [[IvfIndex.serveLatest]], whose
    * chain behavior `vec_ivf_generation_chain` + IvfIndexSpec own —
    * since r11 the chain row persists generation 3 in the same
    * warehouse, so serving "latest" here would race with whichever row
    * ran first (declared outputs must not depend on sibling rows).
    *
    * Scale notes (100 TB): identical plan shape to `vec_ann_ivf_serve`
    * — the gen-2 index side is a cell-bucketed scan with NO Exchange,
    * probes broadcast, per-query work ~nprobe/nlist of the corpus; the
    * rebalance's whole point is that this row's worst probed cell is
    * now ≤1.25× the mean instead of the pre-split hot cell.
    */
  val vecAnnIvfServeG2 = Q(
    "vec_ann_ivf_serve_g2",
    (spark, dir) => {
      import spark.implicits._
      val (idx2, cb2) = IvfIndex.ensureRebalanced(spark, dir)
      cosineTopK(idx2, cosineProbes(disjointQueries(withNorm(spark, dir)), cb2, 3), 3)
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql, qsims AS (
        SELECT e.vec_id, e.emb, e.nrm, b.cell,
          ${OracleSql.cellCosine("b")}
        FROM e CROSS JOIN cb2 b
        WHERE e.vec_id % 10 = 7 AND e.vec_id < 500
      ), ${cosineProbesSql("qsims", 3)}, ${probedTop3Sql("idx2")}
    """.trim))

  /** GENERATION BALANCE AUDIT — the observability row closing the
    * maintenance loop (stats → plan → apply → refresh → serve): both
    * persisted index generations summarized side by side — cell count,
    * corpus size, the hottest cell and the skew factor
    * `max_cell·n_cells/n_vecs` (1.0 = perfectly uniform; the overload
    * gate fires at 1.25) — so an operator reads in one table that the
    * applied rebalance actually flattened the distribution and by how
    * much. This is the number a production vector store alerts on.
    *
    * Scale notes (100 TB): two bucketed per-cell count aggregations
    * (zero Exchange on the index side) reduced to one row per
    * generation; the codebooks contribute only their kilobyte counts.
    */
  val vecIvfGenerationStats = Q(
    "vec_ivf_generation_stats",
    (spark, dir) => {
      import spark.implicits._
      val (idx1, cb1) = IvfIndex.ensure(spark, dir)
      val (idx2, cb2) = IvfIndex.ensureRebalanced(spark, dir)
      def stats(gen: Long, idx: org.apache.spark.sql.DataFrame,
          cb: org.apache.spark.sql.DataFrame) =
        idx.groupBy($"cell").agg(count(lit(1)).as("n_cell"))
          .agg(sum($"n_cell").as("n_vecs"), max($"n_cell").as("max_cell"))
          .crossJoin(broadcast(cb.agg(count(lit(1)).as("n_cells"))))
          .select(lit(gen).as("generation"), $"n_cells", $"n_vecs", $"max_cell",
            round($"max_cell" * $"n_cells" / $"n_vecs".cast(DoubleType), 6).as("skew"))
      stats(1L, idx1, cb1).unionByName(stats(2L, idx2, cb2))
        .orderBy($"generation")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql, nc2 AS (
        SELECT (SELECT COUNT(*) FROM centn)
             - (SELECT COUNT(*) FROM over_cells)
             + (SELECT COUNT(*) FROM splitc) AS n_cells
      ), g1 AS (
        SELECT CAST(1 AS BIGINT) AS generation,
          (SELECT COUNT(*) FROM centn) AS n_cells,
          CAST(SUM(n_cell) AS BIGINT) AS n_vecs, MAX(n_cell) AS max_cell
        FROM pops
      ), pops2 AS (
        SELECT cell, COUNT(*) AS n_cell FROM idx2 GROUP BY cell
      ), g2 AS (
        SELECT CAST(2 AS BIGINT) AS generation,
          (SELECT n_cells FROM nc2) AS n_cells,
          CAST(SUM(n_cell) AS BIGINT) AS n_vecs, MAX(n_cell) AS max_cell
        FROM pops2
      )
      SELECT generation, n_cells, n_vecs, max_cell,
        ROUND(max_cell * n_cells / CAST(n_vecs AS DOUBLE), 6) AS skew
      FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
      ORDER BY generation
    """.trim))

  /** INCREMENTAL RESIDUAL-CODE REFRESH after the applied rebalance —
    * the third maintenance row of the gen-2 lifecycle
    * ([[IvfIndex.ensurePqrG2]]): split-cell members' residual base
    * moved, so ONLY they re-encode (against the gen-2 centroids, with
    * the UNCHANGED residual-PQ codebook — a refresh, not a reindex);
    * every other row's codes copy verbatim from the gen-1 codes table.
    * Declared output = per gen-2 cell the member count and the exact
    * sum of all code ids, read back from the persisted gen-2 codes.
    * The oracle re-derives EVERY code from scratch against the gen-2
    * geometry (trained IVF codebook → split → gen-2 centroids → gen-1
    * residuals → trained residual-PQ codebook → full re-encode), so a
    * pass proves the incremental refresh equals a full rebuild — the
    * copied half because unsplit residuals are bit-identical across
    * generations, the re-encoded half from the new geometry.
    *
    * Scale notes (100 TB): encode work ∝ split-cell members; the copy
    * side is a bucketed codes scan (64× smaller than vectors) with a
    * broadcast anti join; this row's read side aggregates the bucketed
    * gen-2 codes per cell with zero Exchange.
    */
  val vecPqrRefreshIncremental = Q(
    "vec_pqr_refresh_incremental",
    (spark, dir) => {
      import spark.implicits._
      val (codes2, _) = IvfIndex.ensurePqrG2(spark, dir)
      codes2.groupBy($"cell")
        .agg(count(lit(1)).as("n_vec"),
          sum(expr("aggregate(codes, 0L, (a, x) -> a + x)")).as("codes_sum"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql, rese AS (
        SELECT a.vec_id,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM assigned a JOIN centn c USING (cell)
      ), $pqResidualCodebookSql, res2 AS (
        SELECT i.vec_id, i.cell,
          list_transform(range(1, len(i.emb) + 1), x -> i.emb[x] - b.cvec[x]) AS emb
        FROM idx2 i JOIN cb2 b USING (cell)
      ), r2s AS (
        SELECT vec_id, cell, sub,
          list_slice(emb, sub*$PqrW + 1, sub*$PqrW + $PqrW) AS v
        FROM res2, (SELECT UNNEST(range($PqrM)) AS sub)
      ), r2d AS (
        SELECT s.vec_id, s.cell, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS d2
        FROM r2s s JOIN rpqcb c ON s.sub = c.sub
      ), codes2 AS (
        SELECT vec_id, cell, sub, cid FROM (
          SELECT vec_id, cell, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM r2d)
        WHERE rn = 1
      ), vsum AS (
        SELECT vec_id, cell, SUM(cid) AS cs FROM codes2 GROUP BY vec_id, cell
      )
      SELECT cell, COUNT(*) AS n_vec, CAST(SUM(cs) AS BIGINT) AS codes_sum
      FROM vsum GROUP BY cell ORDER BY cell
    """.trim))

  /** RECALL-vs-NPROBE CURVE from the persisted RESIDUAL-PQ index
    * — the tuning table an operator reads to pick
    * nprobe: for nprobe ∈ {1, 3, 8}, micro-averaged recall@3/@5 of the
    * residual-ADC top-5 against the exact rounded-L2 top-5, over 50
    * queries DISJOINT from both codebooks' stride-seed sets (vec_id ≡ 7
    * mod 10 — seed-query leakage inflates recall, RECALL.md). One ADC pass at
    * the widest nprobe computes every candidate with its probe rank `cr`; the
    * three curve points are windows over `cr ≤ nprobe` cuts of that ONE
    * candidate set.
    *
    * Scale notes (100 TB): reads ONLY persisted artifacts — probes and
    * the per-(query, probed-cell) residual LUT broadcast (queries ×
    * nprobe × 4 × 16 rows, kilobytes); the codes side is the bucketed
    * 64×-smaller table, pruned to probed cells; the exact side is one
    * broadcast pass of the 50-query SAMPLE over the corpus (cost =
    * queries × corpus by construction, shrinks with the sample).
    */
  val vecAnnRecallCurve = Q(
    "vec_ann_recall_curve",
    (spark, dir) => {
      import spark.implicits._
      val (_, ivfCb) = IvfIndex.ensure(spark, dir)
      val (rcodes, rcb) = IvfIndex.ensurePqResidual(spark, dir)
      val e = withNorm(spark, dir)
      val q = disjointQueries(e)
      // ONE residual-ADC pass at nprobe=8; each candidate carries its
      // cell's probe rank, so narrower nprobe cuts never rescan the
      // codes (single-assignment codes: one row per (q, vec) candidate)
      recallCurve(residualAdc(rcodes, rankedProbes(q, ivfCb, 8), ivfCb, rcb),
          e, q, CurveNprobes)
        .orderBy($"nprobe")
    },
    // fully oracled: DuckDB re-derives the IVF codebook, assignment,
    // residuals, residual-PQ codebook, codes, per-(q, cell) LUT, the
    // single widest-nprobe ADC pass and all three curve points
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, emb, cell")},
      $disjointQueriesQeSql,
      ${probeCellsSql(s"sims WHERE $disjointQueriesSql", 8, withRank = true)},
      $residualCodesSql,
      ${residualAdcSql("centn", "rcodes", by = ", p.cr")}, np AS (
        SELECT CAST(UNNEST([1, 3, 8]) AS BIGINT) AS nprobe
      ), approx AS (
        SELECT nprobe, q_id, vec_id, a_rn FROM (
          SELECT n.nprobe, a.q_id, a.vec_id,
            ROW_NUMBER() OVER (PARTITION BY n.nprobe, a.q_id
                               ORDER BY a.adist, a.vec_id) AS a_rn
          FROM adists a JOIN np n ON a.cr <= n.nprobe)
        WHERE a_rn <= 5
      ), $exactTop5Sql, hits AS (
        SELECT a.nprobe,
          SUM(CASE WHEN a.a_rn <= 3 AND x.e_rn <= 3 THEN 1 ELSE 0 END) AS h3,
          COUNT(*) AS h5
        FROM approx a JOIN exact x USING (q_id, vec_id)
        GROUP BY a.nprobe
      ), nq AS (
        SELECT COUNT(*) AS n_queries FROM qe
      )
      SELECT n.nprobe, nq.n_queries,
        CAST(COALESCE(h.h3, 0) AS DOUBLE) / (nq.n_queries * 3) AS recall_at_3,
        CAST(COALESCE(h.h5, 0) AS DOUBLE) / (nq.n_queries * 5) AS recall_at_5
      FROM np n CROSS JOIN nq LEFT JOIN hits h ON n.nprobe = h.nprobe
      ORDER BY n.nprobe
    """.trim))

  /** EXACT REFINE stage on the persisted residual-IVF-PQ serve path
    * (SURVEY §2 I-duodec, the FAISS IndexRefineFlat pattern): ADC ranking
    * inside the probed cells is lossy (RECALL.md: end-to-end recall@3 = 0.420
    * at nprobe=8 vs its own 0.640 cell-stage ceiling — the residual-PQ
    * distance misorders ~1/3 of the reachable hits), and the standard
    * deterministic fix is a two-stage serve: (1) ADC SHORTLIST — the
    * `vec_ann_recall_curve` candidate chain at nprobe=8 ranks the probed
    * cells' codes and keeps the top R=20 per query (adist asc, vec_id
    * tiebreak); (2) EXACT RE-RANK — those R rows' FULL vectors (and only
    * those) are read back from the bucketed index and scored by exact
    * rounded-L2 against the query, top-3 with id tiebreaks. The queries are
    * the 50 disjoint-sample vectors (vec_id ≡ 7 mod 10, < 500 — outside both
    * codebooks' stride-seed sets, the honest population per RECALL.md).
    *
    * Scale notes (100 TB): the shortlist pass is the codes-only ADC
    * scan the curve row already prices (probes + per-(query, cell)
    * residual LUT broadcast, codes side bucketed and pruned, zero cell
    * Exchange); the refine adds Q×R = 1,000 point lookups expressed as
    * a BROADCAST join of the kilobyte shortlist against the bucketed
    * index scan — the scan side reads only (vec_id, emb) (column
    * pruning) and never shuffles; on a real cluster the sorted-bucket
    * layout makes each lookup a bucket-local binary search. Recall
    * rises to the cell-stage ceiling wherever the true neighbor
    * survives the shortlist — measured 0.627 @3 at nprobe=8 (RECALL.md
    * r11), 98% of the 0.640 ceiling vs 0.420 unrefined, and EQUAL to
    * the ceiling at nprobe ≤ 3 where R=20 admits every candidate.
    */
  val vecAnnRefineServe = Q(
    "vec_ann_refine_serve",
    (spark, dir) => {
      import spark.implicits._
      val (idx, ivfCb) = IvfIndex.ensure(spark, dir)
      val (rcodes, rcb) = IvfIndex.ensurePqResidual(spark, dir)
      val q = disjointQueries(withNorm(spark, dir))
      // stage 1: residual ADC over the 8 ranked probe cells' persisted
      // codes → top-R shortlist per query (single-assignment codes: one
      // row per (q, vec))
      val shortlist = nearestFirst(
          residualAdc(rcodes, rankedProbes(q, ivfCb, 8), ivfCb, rcb), "adist", RefineR, "srn", "q_id")
        .select($"q_id", $"vec_id")
      // stage 2: exact re-rank — ONLY the shortlisted rows' full
      // vectors leave the index (broadcast lookup join, no shuffle)
      exactRefine(idx, shortlist, q, 3, "q_id")
        .select($"q_id", $"vec_id", $"d2", $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    // fully oracled: the vec_ann_recall_curve mirror chain (IVF
    // codebook → assignment → residuals → residual-PQ training → codes
    // → per-(q, cell) LUT → ADC) extended by the top-R shortlist cut
    // and the exact re-rank against the corpus vectors
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, emb, cell")},
      $disjointQueriesQeSql,
      ${probeCellsSql(s"sims WHERE $disjointQueriesSql", 8, withRank = true)},
      $residualCodesSql,
      ${residualAdcSql("centn", "rcodes")},
      ${exactRefineSql("e", "e")}
    """.trim))

  /** Shared DuckDB mirror of the incremental-ADD lifecycle
    * ([[IvfIndex.ensureBase]] / [[IvfIndex.ensureAppended]]) — the
    * [[gen2LifecycleSql]] discipline applied to the append family so
    * its three declared rows cannot drift from each other. Expects
    * `e(vec_id, label, emb, nrm)` in scope; ends with:
    *
    *  - `be` — the base slice (vec_id % 10 != 3, [[IvfIndex.isAppendBatch]]);
    *  - `bcentn(cell, cvec, cnrm)` — the codebook TRAINED ON THE BASE
    *    SLICE (nlist/stride from the base count, stride seeds from base
    *    ids — [[ivfCodebookSqlGen]] pointed at `be`);
    *  - `bsims` — every corpus row's rounded cosine to every base cell;
    *  - `ball(vec_id, emb, nrm, cell)` — the UNION assignment: base
    *    rows as the base build assigned them, batch rows as the append
    *    assigned them — one rule, one codebook, so the mirror derives
    *    both in one pass.
    */
  private[graft] val baseAppendLifecycleSql: String = s"""
      be AS (
        SELECT vec_id, label, emb, nrm FROM e WHERE vec_id % 10 <> 3
      ), ${ivfCodebookSqlGen("be", "b", "be")}, bsims AS (
        SELECT e.vec_id, e.emb, e.nrm, c.cell,
          ${OracleSql.cellCosine()}
        FROM e CROSS JOIN bcentn c
      ), ball AS (
        SELECT vec_id, emb, nrm, cell FROM (
          SELECT vec_id, emb, nrm, cell,
            ${OracleSql.cellRank}
          FROM bsims)
        WHERE cr = 1
      )"""

  /** DuckDB mirror of the append family's RESIDUAL-PQ codes
    * ([[IvfIndex.ensurePqrBase]] / [[IvfIndex.ensurePqrAppended]]) —
    * extracted from `vec_pqr_append_incremental`'s oracle so the
    * composed production-serve row shares it verbatim. Expects `e` and
    * the [[baseAppendLifecycleSql]] CTEs in scope; ends with:
    *
    *  - `rpqcb(sub, cid, cv)` — the residual codebook trained on the
    *    BASE slice's residuals;
    *  - `racodes(vec_id, cell, sub, cid)` — every row's (base + batch)
    *    residual codes at the base geometry.
    */
  private[graft] val basePqrCodesSql: String = s"""
      brese AS (
        SELECT a.vec_id,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM ball a JOIN bcentn c USING (cell)
        WHERE a.vec_id % 10 <> 3
      ), ${pqCodebookSqlGen("brese", "r", PqrK, PqrM, PqrW, countSrc = "be")}, resall AS (
        SELECT a.vec_id, a.cell,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM ball a JOIN bcentn c USING (cell)
      ), ras AS (
        SELECT vec_id, cell, sub,
          list_slice(emb, sub*$PqrW + 1, sub*$PqrW + $PqrW) AS v
        FROM resall, (SELECT UNNEST(range($PqrM)) AS sub)
      ), rad AS (
        SELECT s.vec_id, s.cell, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS d2
        FROM ras s JOIN rpqcb c ON s.sub = c.sub
      ), racodes AS (
        SELECT vec_id, cell, sub, cid FROM (
          SELECT vec_id, cell, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM rad)
        WHERE rn = 1
      )"""

  /** INCREMENTAL ADD to the persisted IVF index (SURVEY §2 I-duodec)
    * — the most common production index operation: a
    * NEW vector batch joins the index without a rebuild.
    * [[IvfIndex.ensureAppended]] assigns the batch (vec_id ≡ 3 mod 10)
    * ROW-LOCALLY to the BASE generation's cells (broadcast codebook,
    * compiled argmin — the codebook is NOT retrained, FAISS add()
    * semantics) and APPENDS correctly-bucketed files; existing files
    * are byte-untouched (IvfIndexSpec) and a replayed append is a
    * metadata no-op (fingerprint commits last). Declared output audits
    * the post-append index read back from the persisted table: per
    * cell, total members and appended members. The oracle re-derives
    * the BASE codebook from the base slice and assigns base + batch
    * rows from scratch — a pass certifies both halves of the union.
    *
    * Scale notes (100 TB): append work ∝ batch size (one batch scan,
    * row-local assignment, one batch-sized cell-hash shuffle,
    * ≤ NBuckets new files — PlanSpec pins zero Exchange in the
    * assignment frame); this row's read side aggregates the bucketed
    * table per cell with zero Exchange. The base→appended clone is an
    * oracle-freeze artifact only (the registry v1→v2 rule) —
    * production appends in place.
    */
  val vecIvfAppendIncremental = Q(
    "vec_ivf_append_incremental",
    (spark, dir) => {
      import spark.implicits._
      val (appIdx, _) = IvfIndex.ensureAppended(spark, dir)
      appIdx.groupBy($"cell")
        .agg(count(lit(1)).as("n_total"),
          count(when(IvfIndex.isAppendBatch($"vec_id"), 1)).as("n_appended"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $baseAppendLifecycleSql
      SELECT cell, COUNT(*) AS n_total,
        COUNT(CASE WHEN vec_id % 10 = 3 THEN 1 END) AS n_appended
      FROM ball GROUP BY cell ORDER BY cell
    """.trim))

  /** ANN SERVE from the POST-APPEND index (SURVEY §2 I-duodec) — the
    * proof the appended rows are LIVE for retrieval the moment the
    * append lands: 50 disjoint-sample probes (vec_id ≡ 7 mod 10,
    * < 500 — disjoint from the appended batch ≡ 3) answered
    * nprobe=3/k=3 from the persisted appended table, ranked by the
    * UNCHANGED base codebook. Results legitimately include appended
    * vectors wherever they are true near neighbors; the oracle
    * re-derives base training, the full union assignment, probes and
    * top-k from scratch, so a pass certifies the append preserved
    * retrieval semantics exactly.
    *
    * Scale notes (100 TB): identical plan shape to `vec_ann_ivf_serve`
    * — bucketed appended-index scan (zero Exchange), broadcast probes,
    * per-query top-k window over ~nprobe/nlist of the corpus.
    */
  val vecAnnIvfServeApp = Q(
    "vec_ann_ivf_serve_app",
    (spark, dir) => {
      import spark.implicits._
      val (appIdx, baseCb) = IvfIndex.ensureAppended(spark, dir)
      cosineTopK(appIdx, cosineProbes(disjointQueries(withNorm(spark, dir)), baseCb, 3), 3)
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()},
      $baseAppendLifecycleSql,
      ${cosineProbesSql(s"bsims WHERE $disjointQueriesSql", 3)},
      ${probedTop3Sql("ball")}
    """.trim))

  /** INCREMENTAL residual-CODE append beside the index append (SURVEY
    * §2 I-duodec) — the codes-table half of the ADD lifecycle
    * ([[IvfIndex.ensurePqrAppended]]): batch rows' residuals (vs their
    * row-locally assigned base cell) encode with the UNCHANGED
    * base-trained residual-PQ codebook and APPEND into the cloned base
    * codes generation as cell-bucketed files. Declared output = per
    * cell the member count and exact sum of code ids read back from
    * the persisted appended codes. The oracle re-encodes EVERY code
    * from scratch at the base geometry (base codebook → union
    * assignment → residuals → base-residual-trained PQ codebook → full
    * encode), so a pass proves incremental append == full rebuild.
    *
    * Scale notes (100 TB): encode work ∝ batch size (broadcast
    * kilobyte codebooks, row-local slicing/argmin); the clone is the
    * oracle-freeze artifact; this row's read side aggregates the
    * bucketed codes per cell with zero Exchange.
    */
  val vecPqrAppendIncremental = Q(
    "vec_pqr_append_incremental",
    (spark, dir) => {
      import spark.implicits._
      val (appCodes, _) = IvfIndex.ensurePqrAppended(spark, dir)
      appCodes.groupBy($"cell")
        .agg(count(lit(1)).as("n_vec"),
          sum(expr("aggregate(codes, 0L, (a, x) -> a + x)")).as("codes_sum"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $baseAppendLifecycleSql, $basePqrCodesSql, vsum AS (
        SELECT vec_id, cell, SUM(cid) AS cs FROM racodes GROUP BY vec_id, cell
      )
      SELECT cell, COUNT(*) AS n_vec, CAST(SUM(cs) AS BIGINT) AS codes_sum
      FROM vsum GROUP BY cell ORDER BY cell
    """.trim))

  /** GENERATION CHAIN audit (SURVEY §2 I-duodec) — the
    * rebalance lifecycle as a NIGHTLY chain instead of a single step:
    * [[IvfIndex.ensureGen]] parameterizes the generation ordinal
    * (generation g derives from g−1 by one [[splitPlan]] apply,
    * recursively ensuring the chain below; [[IvfIndex.serveLatest]]
    * serves the highest current ordinal). This row ensures GENERATION 3
    * — the second nightly apply, splitting any cell the first apply
    * left (or created) above the 1.25× overload gate — and reports the
    * balance audit across all three generations. Where apply-2 finds no
    * overloaded cell it publishes generation 3 as metadata over the
    * generation-2 serving files (zero copy) and the gen-3 stats row
    * equals gen-2 — both outcomes reproduce in the oracle, which
    * instantiates the SAME parameterized rebalance-step SQL twice
    * ([[rebalanceStepSqlGen]] — one implementation, mirror and engine
    * cannot drift per link).
    *
    * Scale notes (100 TB): each link's work ∝ its overloaded-cell
    * membership (bounded); noop links are metadata-only; this row's
    * read side is three bucketed per-cell count aggregations with zero
    * Exchange plus kilobyte codebook counts.
    */
  val vecIvfGenerationChain = Q(
    "vec_ivf_generation_chain",
    (spark, dir) => {
      import spark.implicits._
      val gens = (1 to 3).map(g => (g.toLong, IvfIndex.ensureGen(spark, dir, g)))
      gens.map { case (g, (idx, cb)) =>
        idx.groupBy($"cell").agg(count(lit(1)).as("n_cell"))
          .agg(sum($"n_cell").as("n_vecs"), max($"n_cell").as("max_cell"))
          .crossJoin(broadcast(cb.agg(count(lit(1)).as("n_cells"))))
          .select(lit(g).as("generation"), $"n_cells", $"n_vecs", $"max_cell",
            round($"max_cell" * $"n_cells" / $"n_vecs".cast(DoubleType), 6).as("skew"))
      }.reduce(_ unionByName _).orderBy($"generation")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,$gen2LifecycleSql,
      ${rebalanceStepSqlGen("c3", "idx2", "cb2")}, g1 AS (
        SELECT CAST(1 AS BIGINT) AS generation,
          (SELECT COUNT(*) FROM centn) AS n_cells,
          CAST(SUM(n_cell) AS BIGINT) AS n_vecs, MAX(n_cell) AS max_cell
        FROM pops
      ), g2 AS (
        SELECT CAST(2 AS BIGINT) AS generation,
          (SELECT COUNT(*) FROM cb2) AS n_cells,
          CAST(SUM(n_cell) AS BIGINT) AS n_vecs, MAX(n_cell) AS max_cell
        FROM c3pops
      ), g3pops AS (
        SELECT cell, COUNT(*) AS n_cell FROM c3idx2 GROUP BY cell
      ), g3 AS (
        SELECT CAST(3 AS BIGINT) AS generation,
          (SELECT COUNT(*) FROM c3cb2) AS n_cells,
          CAST(SUM(n_cell) AS BIGINT) AS n_vecs, MAX(n_cell) AS max_cell
        FROM g3pops
      )
      SELECT generation, n_cells, n_vecs, max_cell,
        ROUND(max_cell * n_cells / CAST(n_vecs AS DOUBLE), 6) AS skew
      FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3)
      ORDER BY generation
    """.trim))

  /** TOMBSTONE DELETE audit (SURVEY §2 I-duodec) — the write half of
    * the delete lifecycle: [[IvfIndex.ensureTombstones]] lands the
    * delete batch (vec_id ≡ 9 mod 10, [[IvfIndex.isDeleted]]) as a
    * persisted kilobyte (vec_id, cell) table BESIDE the index — index
    * files byte-untouched, the FAISS remove_ids-without-rebuild
    * discipline. Declared output audits the deletion state per cell:
    * total members, tombstoned members, and the exact-integer
    * compaction gate 10·n_deleted ≥ n_total (≥10% of the cell dead →
    * due for the physical rewrite `vec_ivf_compact_apply` performs).
    *
    * Scale notes (100 TB): the tombstone build is one bucketed index
    * scan filtered to the delete rule (ids + cells only — kilobytes
    * out); the audit is a zero-Exchange bucketed count per cell joined
    * to the broadcast tombstone counts.
    */
  val vecIvfDeleteTombstone = Q(
    "vec_ivf_delete_tombstone",
    (spark, dir) => {
      import spark.implicits._
      val (idx, _) = IvfIndex.ensure(spark, dir)
      val ts = IvfIndex.ensureTombstones(spark, dir)
      idx.groupBy($"cell").agg(count(lit(1)).as("n_total"))
        .join(broadcast(ts.groupBy($"cell").agg(count(lit(1)).as("n_del"))),
          Seq("cell"), "left")
        .select($"cell", $"n_total",
          coalesce($"n_del", lit(0L)).as("n_deleted"),
          (coalesce($"n_del", lit(0L)) * 10 >= $"n_total").as("compact_due"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,
      ${OracleSql.cellSims("e.vec_id")}, ${OracleSql.assignedCells("vec_id, cell")}, pops AS (
        SELECT cell, COUNT(*) AS n_total FROM assigned GROUP BY cell
      ), dels AS (
        SELECT cell, COUNT(*) AS n_del FROM assigned
        WHERE vec_id % 10 = 9 GROUP BY cell
      )
      SELECT p.cell, p.n_total, COALESCE(d.n_del, 0) AS n_deleted,
        COALESCE(d.n_del, 0) * 10 >= p.n_total AS compact_due
      FROM pops p LEFT JOIN dels d USING (cell)
      ORDER BY p.cell
    """.trim))

  /** ANN SERVE WITH DELETES LIVE (SURVEY §2 I-duodec) — the read path
    * between a delete and its compaction: tombstoned rows are excluded
    * by a broadcast anti join against the kilobyte tombstone table, so
    * a deleted vector stops surfacing THE MOMENT the tombstone lands —
    * no index rewrite on the serve path. Results differ from
    * `vec_ann_ivf_serve` exactly where a deleted vector was a top-3
    * hit. Queries are the 50 disjoint-sample probes (≡ 7 mod 10,
    * < 500 — disjoint from the delete batch ≡ 9).
    *
    * Scale notes (100 TB): the anti join prunes BEFORE the probe join
    * (broadcast hash, no shuffle of the bucketed scan); everything else
    * is the `vec_ann_ivf_serve` plan — probes broadcast, per-query work
    * ~nprobe/nlist of the corpus, zero cell Exchange.
    */
  val vecAnnIvfServeTombstoned = Q(
    "vec_ann_ivf_serve_tombstoned",
    (spark, dir) => {
      import spark.implicits._
      val (idx, cb) = IvfIndex.ensure(spark, dir)
      val ts = IvfIndex.ensureTombstones(spark, dir)
      cosineTopK(idx.join(broadcast(ts.select($"vec_id")), Seq("vec_id"), "left_anti"),
          cosineProbes(disjointQueries(withNorm(spark, dir)), cb, 3), 3)
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${ivfAssignedSql("vec_id, emb, nrm, cell")},
      ${cosineProbesSql(s"sims WHERE $disjointQueriesSql", 3)}, cand AS (
        SELECT p.q_id, a.vec_id,
          ROUND(list_inner_product(a.emb, p.q_emb) / (a.nrm * p.q_nrm), 6) AS cos
        FROM assigned a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.q_id AND a.vec_id % 10 <> 9
      )
      $cosineTop3Sql
    """.trim))

  /** TOMBSTONE COMPACTION (SURVEY §2 I-duodec) — the write-forward
    * apply dropping deleted rows physically once tombstones accumulate
    * ([[IvfIndex.ensureCompacted]]): the compacted generation holds
    * exactly the live rows, cell-bucketed like every generation; gen-1
    * and the tombstone table stay byte-untouched (IvfIndexSpec), so a
    * failed compaction leaves the tombstone-filtered serve path
    * serving. The codebook is UNCHANGED — deletes do not move
    * centroids; geometry drift is the rebalance chain's job, run on
    * the compacted population next. Declared output = per-cell live
    * count + exact vec_id sum read back from the persisted compacted
    * generation; the oracle re-derives the live set from scratch.
    */
  val vecIvfCompactApply = Q(
    "vec_ivf_compact_apply",
    (spark, dir) => {
      import spark.implicits._
      val (cidx, _) = IvfIndex.ensureCompacted(spark, dir)
      cidx.groupBy($"cell")
        .agg(count(lit(1)).as("n_vec"), sum($"vec_id").as("id_sum"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql,
      ${OracleSql.cellSims("e.vec_id")}, ${OracleSql.assignedCells("vec_id, cell")}
      SELECT cell, COUNT(*) AS n_vec, CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM assigned WHERE vec_id % 10 <> 9
      GROUP BY cell ORDER BY cell
    """.trim))

  /** Shared DuckDB mirror of the multi-assignment family
    * ([[IvfIndex.ensureSpilled]]) — the [[baseAppendLifecycleSql]]
    * discipline applied to the spilled geometry. Expects
    * `e(vec_id, label, emb, nrm)` in scope; ends with:
    *
    *  - `spcentn(cell, cvec, cnrm)` — the codebook trained at nlist =
    *    [[IvfIndex.SpillFactor]]·⌈√n⌉ ([[ivfCodebookSqlGen]] with the
    *    factor);
    *  - `ssims` — every corpus row's rounded cosine to every cell;
    *  - `sassign(vec_id, emb, nrm, cell, crank)` — the top-
    *    [[IvfIndex.SpillK]] multi-assignment (crank = probe rank).
    */
  private[graft] val spillLifecycleSql: String = s"""
      ${ivfCodebookSqlGen("e", "sp", "embeddings", IvfIndex.SpillFactor)}, ssims AS (
        SELECT e.vec_id, e.emb, e.nrm, c.cell,
          ${OracleSql.cellCosine()}
        FROM e CROSS JOIN spcentn c
      ), sassign AS (
        SELECT vec_id, emb, nrm, cell, cr AS crank FROM (
          SELECT vec_id, emb, nrm, cell,
            ${OracleSql.cellRank}
          FROM ssims)
        WHERE cr <= ${IvfIndex.SpillK}
      )"""

  /** BUILD-TIME MULTI-ASSIGNMENT index audit (SURVEY §2 I-tredec,
    * the IVF geometry ceiling is the binding recall bound):
    * [[IvfIndex.ensureSpilled]] persists the FAISS
    * multi-assignment layout — nlist = [[IvfIndex.SpillFactor]]·⌈√n⌉
    * trained cells, every vector stored in its [[IvfIndex.SpillK]]
    * nearest cells with its probe rank. RECALL.md r12 sweep: at the
    * same ≤20% scanned budget the cell-stage ceiling rises 0.640 →
    * 0.760 recall@3 (nprobe=16). Declared output audits the spilled
    * index per cell — members, primary (crank = 1) members, exact id
    * sum — read back from the persisted bucketed table; the oracle
    * trains the factor-4 codebook from scratch and ranks cr ≤ SpillK.
    *
    * Scale notes (100 TB): the build is [[IvfIndex.ensure]]'s one
    * fact-scale pass with ×SpillK output rows (row-local compiled
    * top-k, one cell-hash shuffle); this row's read side is a
    * zero-Exchange bucketed per-cell aggregation.
    */
  val vecIvfSpillBuild = Q(
    "vec_ivf_spill_build",
    (spark, dir) => {
      import spark.implicits._
      val (sidx, _) = IvfIndex.ensureSpilled(spark, dir)
      sidx.groupBy($"cell")
        .agg(count(lit(1)).as("n_members"),
          count(when($"crank" === 1, 1)).as("n_primary"),
          sum($"vec_id").as("id_sum"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $spillLifecycleSql
      SELECT cell, COUNT(*) AS n_members,
        COUNT(CASE WHEN crank = 1 THEN 1 END) AS n_primary,
        CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM sassign GROUP BY cell ORDER BY cell
    """.trim))

  /** ANN SERVE FROM THE SPILLED INDEX (SURVEY §2 I-tredec) at the
    * measured operating point — nprobe=16 of nlist = 4·⌈√n⌉ ≈ 17.7% of
    * corpus ROWS scanned (the spilled copies are the honest cost):
    * 50 disjoint-sample probes (vec_id ≡ 7 mod 10, < 500) ranked
    * against the factor-4 codebook; candidates are the spilled members
    * of the probed cells DEDUPED by (query, vector) — a vector spilled
    * into two probed cells is scanned twice but scored once — exact
    * rounded cosine, top-3 with id tiebreaks. Cell-stage recall@3 at
    * this budget: 0.760 vs gen-1's 0.640 (RECALL.md r12).
    *
    * Scale notes (100 TB): identical serve shape to `vec_ann_ivf_serve`
    * — bucketed spilled scan (zero cell Exchange), broadcast probes,
    * candidate-bounded distinct + per-query top-k window; per-probe
    * work is ~SpillK·nprobe/nlist of the corpus by construction.
    */
  val vecAnnIvfServeSpill = Q(
    "vec_ann_ivf_serve_spill",
    (spark, dir) => {
      import spark.implicits._
      val (sidx, scb) = IvfIndex.ensureSpilled(spark, dir)
      cosineTopK(sidx, cosineProbes(disjointQueries(withNorm(spark, dir)), scb, 16), 3,
          distinct = true)
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()},
      $spillLifecycleSql,
      ${cosineProbesSql(s"ssims WHERE $disjointQueriesSql", 16)}, cand AS (
        SELECT DISTINCT p.q_id, a.vec_id,
          ROUND(list_inner_product(a.emb, p.q_emb) / (a.nrm * p.q_nrm), 6) AS cos
        FROM sassign a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.q_id
      )
      $cosineTop3Sql
    """.trim))

  /** THE COMPOSED PRODUCTION SERVE PATH (SURVEY §2 I-tredec): every
    * index-lifecycle dimension proven separately — freshest-generation
    * resolution, append visibility, tombstone exclusion, ADC shortlist, exact
    * refine — composed into ONE declared plan, because composition is where
    * freshness and exclusion bugs live. The query path a production retrieval
    * service actually runs:
    *
    *  1. [[IvfIndex.serveFreshestApp]] resolves the freshest current
    *     generation of the append family (appended when its fingerprint
    *     chain — incl. the base generation whose codebook it serves
    *     with — is current; base otherwise);
    *  2. appended vectors (≡ 3 mod 10) are LIVE in the scanned
    *     generation and its persisted residual codes
    *     ([[IvfIndex.ensurePqrAppended]]);
    *  3. tombstoned rows (≡ 9 mod 10, [[IvfIndex.ensureTombstonesApp]])
    *     are excluded by a broadcast anti join BEFORE the ADC scan — a
    *     deleted vector never surfaces and never wastes a shortlist
    *     slot;
    *  4. ADC ranks the probed cells' codes (nprobe=8 ranked probes vs
    *     the unchanged base codebook, per-(query, cell) residual LUT);
    *  5. the top R=20 shortlist is EXACT-refined: only those R full
    *     vectors are read back from the appended index (broadcast
    *     lookup join), top-3 by rounded L2 with id tiebreaks.
    *
    * Queries are the 50 disjoint-sample vectors (≡ 7 mod 10, < 500 —
    * outside the append batch, the delete batch and both codebooks'
    * stride-seed sets). RecallProbe's composed-production curves run
    * this row's stages at every nprobe (RECALL.md); this row makes the
    * composed PLAN a declared, fully-oracled contract.
    *
    * Scale notes (100 TB): the serve cost is the refine row's — codes
    * ADC ∝ nprobe/nlist of the corpus (bucketed, zero cell Exchange),
    * plus Q×R point lookups; the tombstone anti join broadcasts
    * kilobytes; the generation resolution is metadata-only. Every
    * maintenance artifact it reads is built OUTSIDE the serve clock.
    */
  val vecAnnServeProduction = Q(
    "vec_ann_serve_production",
    (spark, dir) => {
      import spark.implicits._
      // maintenance half (outside a production serve clock): make the
      // freshest generation + codes + tombstones exist, deterministically
      IvfIndex.ensureAppended(spark, dir)
      val (rcodes, rcb) = IvfIndex.ensurePqrAppended(spark, dir)
      val ts = IvfIndex.ensureTombstonesApp(spark, dir)
      // serve half: freshest-generation resolution (appended is current
      // here by construction; IvfIndexSpec proves the base fallback)
      val (idx, baseCb) = IvfIndex.serveFreshestApp(spark, dir)
      val q = disjointQueries(withNorm(spark, dir))
      // residual ADC over the appended codes with tombstones excluded UP
      // FRONT, 8 ranked probe cells per query vs the unchanged base
      // codebook and its base-trained residual codebook
      val shortlist = nearestFirst(
          residualAdc(rcodes.join(broadcast(ts.select($"vec_id")), Seq("vec_id"), "left_anti"),
            rankedProbes(q, baseCb, 8), baseCb, rcb), "adist", RefineR, "srn", "q_id")
        .select($"q_id", $"vec_id")
      // exact refine: only the R shortlisted rows leave the appended
      // index (broadcast lookup join — the index side never shuffles)
      exactRefine(idx, shortlist, q, 3, "q_id")
        .select($"q_id", $"vec_id", $"d2", $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    // from-scratch mirror: base codebook + union assignment
    // (baseAppendLifecycleSql) + base-residual PQ codes (basePqrCodesSql)
    // + probes + per-(q,cell) LUT + tombstone-filtered ADC + shortlist
    // + exact refine
    Some(s"""
      WITH ${OracleSql.embeddings()},
      $baseAppendLifecycleSql,
      $basePqrCodesSql,
      $disjointQueriesQeSql,
      ${probeCellsSql(s"bsims WHERE $disjointQueriesSql", 8)},
      ${residualAdcSql("bcentn", "racodes", where = " AND k.vec_id % 10 <> 9")},
      ${exactRefineSql("ball a", "a")}
    """.trim))

  /** END-TO-END SERVE ON THE SPILLED GEOMETRY (SURVEY §2 I-tredec) —
    * the follow-through on the raised ceiling: `vec_ann_ivf_serve_spill`
    * proves 0.760 recall@3 is REACHABLE at ≤20% scanned; this row ships
    * the production serve path that approaches it without reading full
    * vectors in the scan. [[IvfIndex.ensurePqrSpilled]] persists
    * residual-PQ codes PER SPILLED COPY (each (vector, crank-cell) row
    * encodes its residual vs that cell — the FAISS multi-assignment
    * codes layout; the codebook trains on the primary residuals only),
    * and the serve is the refine recipe at the spilled operating point:
    * nprobe=16 ranked probes vs the factor-4 codebook, per-(query,
    * cell) residual LUT, ADC over the probed cells' codes where a
    * vector reachable through TWO probed cells keeps its BEST (min)
    * copy distance, top R=20 shortlist, exact re-rank reading ONLY
    * those R full vectors from the spilled index's crank-1 rows.
    * RECALL.md r12 records the refined recall vs the single-assignment
    * refine path at the same scan budget.
    *
    * Scale notes (100 TB): the ADC scan is codes-only over
    * ~SpillK·nprobe/nlist of the corpus (bucketed, zero cell Exchange);
    * the min-per-(q, vec) dedup is candidate-bounded; refine adds Q×R
    * broadcast lookups. Copies cost 2× codes storage — 64× smaller than
    * duplicating vectors, the multi-assignment trade FAISS ships.
    */
  val vecAnnRefineServeSpill = Q(
    "vec_ann_refine_serve_spill",
    (spark, dir) => {
      import spark.implicits._
      val (sidx, scb) = IvfIndex.ensureSpilled(spark, dir)
      val (scodes, srcb) = IvfIndex.ensurePqrSpilled(spark, dir)
      val q = disjointQueries(withNorm(spark, dir))
      // residual ADC per spilled COPY (one codes row each) over 16 ranked
      // probe cells vs the factor-4 codebook; each vector keeps its BEST
      // reachable copy
      val shortlist = nearestFirst(
          residualAdc(scodes, rankedProbes(q, scb, 16), scb, srcb)
            .groupBy($"q_id", $"vec_id").agg(min($"adist").as("adist")),
          "adist", RefineR, "srn", "q_id")
        .select($"q_id", $"vec_id")
      // exact refine from the crank-1 rows (each vector once)
      exactRefine(sidx.filter($"crank" === 1), shortlist, q, 3, "q_id")
        .select($"q_id", $"vec_id", $"d2", $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $spillLifecycleSql, sprese AS (
        SELECT a.vec_id,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM sassign a JOIN spcentn c USING (cell)
        WHERE a.crank = 1
      ), ${pqCodebookSqlGen("sprese", "r", PqrK, PqrM, PqrW)}, spresall AS (
        SELECT a.vec_id, a.cell,
          list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.cvec[i]) AS emb
        FROM sassign a JOIN spcentn c USING (cell)
      ), spras AS (
        SELECT vec_id, cell, sub,
          list_slice(emb, sub*$PqrW + 1, sub*$PqrW + $PqrW) AS v
        FROM spresall, (SELECT UNNEST(range($PqrM)) AS sub)
      ), sprad AS (
        SELECT s.vec_id, s.cell, s.sub, c.cid,
          ${roundedL2Sql("s.v", "c.cv")} AS d2
        FROM spras s JOIN rpqcb c ON s.sub = c.sub
      ), spracodes AS (
        SELECT vec_id, cell, sub, cid FROM (
          SELECT vec_id, cell, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, cell, sub ORDER BY d2, cid) AS rn
          FROM sprad)
        WHERE rn = 1
      ),
      $disjointQueriesQeSql,
      ${probeCellsSql(s"ssims WHERE $disjointQueriesSql", 16)},
      ${residualAdcSql("spcentn", "spracodes", by = ", k.cell", name = "cop")}, adists AS (
        SELECT q_id, vec_id, MIN(adist) AS adist FROM cop GROUP BY q_id, vec_id
      ), ${exactRefineSql("(SELECT vec_id, emb FROM sassign WHERE crank = 1) a", "a")}
    """.trim))

  def qs: Seq[Q] = Seq(
    vecAnnServeProduction,
    vecIvfSpillBuild,
    vecAnnIvfServeSpill,
    vecAnnRefineServeSpill,
    vecIvfDeleteTombstone,
    vecAnnIvfServeTombstoned,
    vecIvfCompactApply,
    vecIvfGenerationChain,
    vecIvfAppendIncremental,
    vecAnnIvfServeApp,
    vecPqrAppendIncremental,
    vecAnnRefineServe,
    vecAnnRecallCurve,
    vecIvfCellRebalance,
    vecIvfRebalanceApply,
    vecAnnIvfServeG2,
    vecPqrRefreshIncremental,
    vecIvfGenerationStats,
    vecMmrDiversify,
    vecAnnIvfServe, vecAnnIvfpqServe,
    vecNormsStats, vecCentroidPerLabel, vecCosineTopk, multimodalJoinFilter,
    dedupEmbeddingCosine, vecAnnLsh, vecAnnIvf, vecQuantizeInt8,
    vecStandardizeDims, vecMipsTopk, vecMatryoshkaEnergy, vecKnnGraphStats,
    vecKmeansLloyd, vecPqEncode, vecPqAdcTopk, pipelineSemanticDedup,
    vecAnnIvfpq, vecAnnRecallReport, dedupEmbeddingAnn,
    vecOodCentroidZscore, vecHammingTopk, vecPcaPowerIteration,
    sampleNegativePairs, vecLabelConfusion, sampleHardNegatives,
    sampleCoresetKcenter, vecSilhouetteCentroid, vecTwonnIntrinsicDim,
    vecJlProjectionAudit, vecEmbeddingDrift)

  /** Embedding drift between interleaved corpus halves (SURVEY §2
    * I-sept): per label, the cosine between the centroid of the even
    * vec_ids and the centroid of the odd vec_ids (plus the squared L2
    * shift and both half-counts) — the EMBEDDING-space counterpart of
    * `etl_psi_drift`'s scalar drift: when a re-encoded or re-crawled
    * batch lands, a label whose half-centroids disagree (cos < ~0.99)
    * has moved in representation space and its cached kNN/IVF/PQ
    * structures are stale. The even/odd split is the deterministic
    * null baseline — on a HOMOGENEOUS corpus halves agree, so any
    * disagreement is structure, not sampling noise.
    *
    * Scale notes (100 TB): centroids are the `vec_centroid_per_label`
    * exact-decimal recipe keyed on (label, half, dim) — shuffle size
    * independent of row count; the cosine/shift algebra runs on the
    * bounded label×dim centroid table with 12 dp terms into DECIMAL
    * sums (§2.0 rule 7).
    */
  val vecEmbeddingDrift = Q(
    "vec_embedding_drift",
    (spark, dir) => {
      import spark.implicits._
      val cent = Tables.embeddings(spark, dir)
        .select($"label", ($"vec_id" % 2).as("half"),
          posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"label", $"half", $"pos")
        .agg((sum($"v".cast(DoubleType).cast(DecimalType(28, 12)))
          .cast(DoubleType) / count(lit(1))).cast(DecimalType(18, 8))
          .cast(DoubleType).as("c"))
      val counts = Tables.embeddings(spark, dir)
        .groupBy($"label", ($"vec_id" % 2).as("half"))
        .agg(count(lit(1)).as("n"))
      val a = cent.where($"half" === 0).select($"label", $"pos", $"c".as("ca"))
      val b = cent.where($"half" === 1).select($"label", $"pos", $"c".as("cb"))
      val alg = a.join(b, Seq("label", "pos"))
        .groupBy($"label")
        .agg(
          sum(round($"ca" * $"cb", 12).cast(DecimalType(38, 12)))
            .cast(DoubleType).as("dotab"),
          sum(round($"ca" * $"ca", 12).cast(DecimalType(38, 12)))
            .cast(DoubleType).as("na"),
          sum(round($"cb" * $"cb", 12).cast(DecimalType(38, 12)))
            .cast(DoubleType).as("nb"),
          sum(round(($"ca" - $"cb") * ($"ca" - $"cb"), 12).cast(DecimalType(38, 12)))
            .cast(DoubleType).as("l2"))
      val n0 = counts.where($"half" === 0).select($"label", $"n".as("n_even"))
      val n1 = counts.where($"half" === 1).select($"label", $"n".as("n_odd"))
      alg.join(n0, "label").join(n1, "label")
        .select($"label", $"n_even", $"n_odd",
          round($"dotab" / nullif(sqrt($"na") * sqrt($"nb"), lit(0.0d)), 6)
            .as("cos_centroids"),
          round($"l2", 6).as("l2_shift_sq"))
        .orderBy($"label")
    },
    Some("""
      WITH cent AS (
        SELECT label, half, pos,
          CAST(CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
            / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS c
        FROM (SELECT label, vec_id % 2 AS half,
                UNNEST(embedding) AS v,
                UNNEST(range(len(embedding))) AS pos
              FROM embeddings)
        GROUP BY 1, 2, 3
      ), counts AS (
        SELECT label, vec_id % 2 AS half, COUNT(*) AS n
        FROM embeddings GROUP BY 1, 2
      ), alg AS (
        SELECT a.label,
          CAST(SUM(CAST(ROUND(a.c * b.c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS dotab,
          CAST(SUM(CAST(ROUND(a.c * a.c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS na,
          CAST(SUM(CAST(ROUND(b.c * b.c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS nb,
          CAST(SUM(CAST(ROUND((a.c - b.c) * (a.c - b.c), 12) AS DECIMAL(38,12))) AS DOUBLE) AS l2
        FROM (SELECT label, pos, c FROM cent WHERE half = 0) a
        JOIN (SELECT label, pos, c FROM cent WHERE half = 1) b
          USING (label, pos)
        GROUP BY 1
      )
      SELECT label,
        n0.n AS n_even, n1.n AS n_odd,
        ROUND(dotab / NULLIF(SQRT(na) * SQRT(nb), 0.0), 6) AS cos_centroids,
        ROUND(l2, 6) AS l2_shift_sq
      FROM alg
      JOIN (SELECT label, n FROM counts WHERE half = 0) n0 USING (label)
      JOIN (SELECT label, n FROM counts WHERE half = 1) n1 USING (label)
      ORDER BY label
    """.trim))

  /** Johnson–Lindenstrauss random-projection audit (SURVEY §2 I-sept):
    * project the corpus to k=16 dims with a deterministic ±1/√k sign
    * matrix (Achlioptas 2003 — database-friendly random projections:
    * hash-derived signs, no float RNG) and measure how well pairwise
    * squared distances survive on an id-bounded probe set (all pairs of
    * vec_id < 50). Declared output: pair count, degenerate
    * (zero-distance) count, mean/min/max distortion ratio
    * d²₁₆/d²₆₄ (expectation 1 under JL), and the share of pairs within
    * ±0.3 — the ACCEPT/REJECT number for "can this index/cluster stage
    * run at k=16 instead of d=64?" (4× less memory and compute per
    * comparison; the kNN/IVF/PQ rows all get cheaper when yes).
    *
    * Scale notes (100 TB): the projection is one explode-join-agg pass,
    * n·d·k scalar rows map-side-combined to n·k — embarrassingly
    * parallel, no quadratic stage; only the bounded probe set (50 ids
    * → 1225 pairs) does pairwise work, and d is derived from the data
    * (distinct positions), not hard-coded.
    * Determinism: per-term 12 dp rounding into DECIMAL sums; the sign
    * magnitude 0.25 and the 2⁻³² uniform are exact powers of two.
    */
  val vecJlProjectionAudit = Q(
    "vec_jl_projection_audit",
    (spark, dir) => {
      import spark.implicits._
      val ef = Tables.embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
        .select($"vec_id", $"i", $"x".cast(DoubleType).as("x"))
      val signs = ef.select($"i").distinct()
        .crossJoin(spark.range(16).select($"id".cast("int").as("j")))
        .select($"i", $"j",
          ((conv(substring(md5(concat($"i".cast("string"), lit("_"),
            $"j".cast("string"))), 1, 4), 16, 10).cast("long") % 2) * 2 - 1)
            .cast(DoubleType).multiply(0.25).as("s"))
      val probe = ef.where($"vec_id" < 50)
      val proj = probe.join(broadcast(signs), "i")
        .groupBy($"vec_id", $"j")
        .agg(sum(round($"x" * $"s", 12).cast(DecimalType(38, 12)))
          .cast(DoubleType).as("p"))
      val d64 = probe.select($"vec_id".as("va"), $"i", $"x".as("xa"))
        .join(probe.select($"vec_id".as("vb"), $"i", $"x".as("xb")), "i")
        .where($"va" < $"vb")
        .groupBy($"va", $"vb")
        .agg(sum(round(($"xa" - $"xb") * ($"xa" - $"xb"), 12)
          .cast(DecimalType(38, 12))).cast(DoubleType).as("d2o"))
      val d16 = proj.select($"vec_id".as("va"), $"j", $"p".as("pa"))
        .join(proj.select($"vec_id".as("vb"), $"j", $"p".as("pb")), "j")
        .where($"va" < $"vb")
        .groupBy($"va", $"vb")
        .agg(sum(round(($"pa" - $"pb") * ($"pa" - $"pb"), 12)
          .cast(DecimalType(38, 12))).cast(DoubleType).as("d2p"))
      val ratios = d64.join(d16, Seq("va", "vb"))
        .select($"va", $"vb", $"d2o",
          when($"d2o" > 0.0, round($"d2p" / $"d2o", 6)).as("ratio"))
      ratios.agg(
        count(lit(1)).as("n_pairs"),
        sum(when($"ratio".isNull, 1L).otherwise(0L)).as("n_degenerate"),
        round(sum($"ratio".cast(DecimalType(28, 6))).cast(DoubleType) /
          count($"ratio"), 6).as("mean_ratio"),
        round(min($"ratio"), 6).as("min_ratio"),
        round(max($"ratio"), 6).as("max_ratio"),
        round(sum(when(abs($"ratio" - 1.0) <= 0.3, 1L).otherwise(0L))
          .cast(DoubleType) / count($"ratio"), 6).as("share_within_03"))
    },
    Some("""
      WITH ef AS (
        SELECT vec_id, pos AS i, CAST(v AS DOUBLE) AS x
        FROM (SELECT vec_id,
                UNNEST(embedding) AS v,
                UNNEST(range(len(embedding))) AS pos
              FROM embeddings)
      ), signs AS (
        SELECT d.i, j.range AS j,
          ((CAST('0x' || substr(md5(CAST(d.i AS VARCHAR) || '_' ||
            CAST(j.range AS VARCHAR)), 1, 4) AS BIGINT) % 2) * 2 - 1) * 0.25 AS s
        FROM (SELECT DISTINCT i FROM ef) d, range(0, 16) j
      ), probe AS (
        SELECT * FROM ef WHERE vec_id < 50
      ), proj AS (
        SELECT vec_id, j,
          CAST(SUM(CAST(ROUND(x * s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS p
        FROM probe JOIN signs USING (i)
        GROUP BY vec_id, j
      ), d64 AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
          CAST(SUM(CAST(ROUND((a.x - b.x) * (a.x - b.x), 12)
            AS DECIMAL(38,12))) AS DOUBLE) AS d2o
        FROM probe a JOIN probe b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
      ), d16 AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
          CAST(SUM(CAST(ROUND((a.p - b.p) * (a.p - b.p), 12)
            AS DECIMAL(38,12))) AS DOUBLE) AS d2p
        FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
        GROUP BY 1, 2
      ), ratios AS (
        SELECT va, vb,
          CASE WHEN d2o > 0.0 THEN ROUND(d2p / d2o, 6) END AS ratio
        FROM d64 JOIN d16 USING (va, vb)
      )
      SELECT COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
        ROUND(CAST(SUM(CAST(ratio AS DECIMAL(28,6))) AS DOUBLE) / COUNT(ratio), 6) AS mean_ratio,
        ROUND(MIN(ratio), 6) AS min_ratio,
        ROUND(MAX(ratio), 6) AS max_ratio,
        ROUND(CAST(SUM(CASE WHEN ABS(ratio - 1.0) <= 0.3 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(ratio), 6) AS share_within_03
      FROM ratios
    """.trim))

  /** ANN-mined hard negatives (SURVEY §2 I-sext) — the production
    * counterpart to `sample_negative_pairs`' random baseline:
    * contrastive training improves fastest on negatives the model
    * CONFUSES, and those are the nearest wrong-label vectors — exactly
    * an ANN query with a label-mismatch filter. Queries multi-probe
    * their 3 nearest label-centroid cells; candidates are the corpus
    * vectors IVF-assigned to those cells with a different label; an
    * exact-cosine re-rank keeps the 3 hardest per query.
    *
    * Fully oracled: the centroid/assignment algebra is the same
    * deterministic formulation as `dedup_embedding_ann` (6 dp rounded
    * cosines, id tiebreaks) — no engine-specific hashing anywhere.
    *
    * Scale notes: centroids broadcast; the corpus is touched by one
    * assignment pass and one cell-keyed candidate join — the scan never
    * goes quadratic, and nprobe/nlist is the recall/cost knob.
    */
  val sampleHardNegatives = Q(
    "sample_hard_negatives",
    (spark, dir) => {
      import spark.implicits._
      val e = withNorm(spark, dir)
      val cents = ivfCodebook(e)
      // index side: every corpus vector lives in its single nearest cell
      val indexed = withNearestCells(e, cents, keep = 1)
        .select($"cell", $"vec_id", $"label", $"emb", $"nrm")
      // query side: the probe list is the 3 nearest cells per query
      val probes = withNearestCells(e.filter($"vec_id" < 20), cents,
          keep = 3)
        .select($"cell", $"vec_id".as("q_id"), $"label".as("q_label"),
          $"emb".as("q_emb"), $"nrm".as("q_nrm"))
      indexed.join(probes, "cell")
        .where($"label" =!= $"q_label")
        .withColumn("cos",
          round(GraftFunctions.dot($"emb", $"q_emb") / ($"nrm" * $"q_nrm"), 6))
        // a candidate reachable through two probed cells would collide —
        // impossible here (index assignment is unique), but distinct on
        // the scalar triple keeps the contract explicit
        .select($"q_id", $"q_label", $"vec_id".as("neg_id"),
          $"label".as("neg_label"), $"cos")
        .distinct()
        .withColumn("rank", row_number().over(
          Window.partitionBy($"q_id").orderBy($"cos".desc, $"neg_id")))
        .filter($"rank" <= 3)
        .select($"q_id", $"q_label", $"rank", $"neg_id", $"neg_label", $"cos")
        .orderBy($"q_id", $"rank")
    },
    Some(s"""
      WITH ${OracleSql.embeddings()}, $ivfCodebookSql, sims AS (
        SELECT e.vec_id, e.label, e.emb, e.nrm, c.cell,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(list_inner_product(e.emb, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
                     c.cell) AS cr
        FROM e CROSS JOIN centn c
      ), indexed AS (
        SELECT cell, vec_id, label, emb, nrm FROM sims WHERE cr = 1
      ), probes AS (
        SELECT cell, vec_id AS q_id, label AS q_label, emb AS q_emb, nrm AS q_nrm
        FROM sims WHERE vec_id < 20 AND cr <= 3
      ), cand AS (
        SELECT DISTINCT p.q_id, p.q_label, i.vec_id AS neg_id, i.label AS neg_label,
          ROUND(list_inner_product(i.emb, p.q_emb) / (i.nrm * p.q_nrm), 6) AS cos
        FROM indexed i JOIN probes p USING (cell)
        WHERE i.label <> p.q_label
      )
      SELECT q_id, q_label, rank, neg_id, neg_label, cos FROM (
        SELECT q_id, q_label, neg_id, neg_label, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rank
        FROM cand)
      WHERE rank <= 3
      ORDER BY q_id, rank
    """.trim))

  /** Per-label centroids `(clabel, cvec)` of `e(label, emb)`: each dim's
    * exact DECIMAL(28,12) sum, one double divide, 8 dp. Its DuckDB twin
    * is [[labelCentroidsSql]].
    */
  private def labelCentroids(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("cn"))
      .withColumn("c",
        (col("s").cast(DoubleType) / col("cn")).cast(DecimalType(18, 8)).cast(DoubleType))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("clabel"), expr("transform(pc, x -> x.c)").as("cvec"))

  /** The `cdims`/`cents` CTEs over `e(label, emb)`: the DuckDB twin of
    * [[labelCentroids]], shared by the label-confusion and silhouette
    * oracles.
    */
  private def labelCentroidsSql: String = """cdims AS (
        SELECT label, pos,
          CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS c
        FROM (SELECT label, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos
              FROM e)
        GROUP BY label, pos
      ), cents AS (
        SELECT label AS clabel, LIST(c ORDER BY pos) AS cvec
        FROM cdims GROUP BY label
      )"""

  /** Embedding class-separability confusion (SURVEY §2 I-sext): per
    * label, how many members sit closer (squared L2) to a FOREIGN
    * label's centroid than to their own — the embedding-QA matrix read
    * before training a classifier head: heavy off-diagonal mass means
    * the labels are not separable in this space.
    *
    * Scale notes: exact decimal centroids (label×dim partial agg)
    * broadcast as L arrays; each vector scores against all L centroids
    * with n·L codegen'd dot products in ONE map pass (no exploded
    * positional join, no shuffle of vectors); argmin + confusion counts
    * ride bounded frames. Nothing is quadratic in the corpus.
    */
  val vecLabelConfusion = Q(
    "vec_label_confusion",
    (spark, dir) => {
      import spark.implicits._
      // centroids as broadcast ARRAYS + the codegen'd ‖a‖²−2a·c+‖c‖²
      // identity (r7): one map pass of n·L dot products replaces the
      // n·d·L exploded positional join (the same trade the kmeans/IVF
      // rows use); exact decimal per-dim means, 6 dp rounded distance
      // with clabel tiebreak keeps the argmin engine-identical
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("emb"))
      val cents = labelCentroids(e)
      val nearest =
        withNearestCentroidD2(e, cents, "clabel", "cvec", "nearest_label", "d2n")
          .select($"label", $"nearest_label")
      val totals = nearest.groupBy($"label").agg(count(lit(1)).as("label_total"))
      nearest
        .groupBy($"label", $"nearest_label")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(totals), "label")
        .select($"label", $"nearest_label", $"n",
          round($"n".cast(DoubleType) / $"label_total", 6).as("share"))
        .orderBy($"label", $"nearest_label")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), ${labelCentroidsSql}, nearest AS (
        SELECT label, clabel AS nearest_label FROM (
          SELECT e.label, c.clabel,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ${roundedL2Sql("e.emb", "c.cvec")}, c.clabel) AS rn
          FROM e CROSS JOIN cents c
        ) WHERE rn = 1
      ), totals AS (
        SELECT label, COUNT(*) AS label_total FROM nearest GROUP BY 1
      )
      SELECT n.label, n.nearest_label, COUNT(*) AS n,
        ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(label_total), 6) AS share
      FROM nearest n JOIN totals t ON n.label = t.label
      GROUP BY n.label, n.nearest_label
      ORDER BY n.label, n.nearest_label
    """.trim))

  /** Contrastive negative sampling (SURVEY §2 I-sext): 3 deterministic
    * cross-label negatives per query vector — the random-negative
    * baseline contrastive embedding training starts from (the ANN rows
    * mine the HARD negatives; a real pipeline mixes both). Selection
    * ranks by md5(query:candidate), so the sample is reproducible on any
    * engine and partitioning — never `df.sample`.
    *
    * Scale notes: the query side broadcasts; the corpus streams one
    * pass through the label-mismatch filter into a per-query rank
    * window. At 100 TB the rank window per query is the cost center —
    * the documented swap is an md5-bucket threshold filter at k/n
    * precision (the `sample_hash_split` recipe), identical plan
    * otherwise.
    */
  val sampleNegativePairs = Q(
    "sample_negative_pairs",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir).select($"vec_id", $"label")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"label".as("q_label"))
      val w = Window.partitionBy($"q_id")
        .orderBy(md5(concat($"q_id".cast("string"), lit(":"), $"vec_id".cast("string"))),
          $"vec_id")
      e.join(broadcast(q), $"label" =!= $"q_label")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"q_id", $"q_label", $"rn".as("neg_rank"),
          $"vec_id".as("neg_id"), $"label".as("neg_label"))
        .orderBy($"q_id", $"neg_rank")
    },
    Some("""
      SELECT q_id, q_label, neg_rank, neg_id, neg_label FROM (
        SELECT q.vec_id AS q_id, q.label AS q_label,
          e.vec_id AS neg_id, e.label AS neg_label,
          ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY md5(CAST(q.vec_id AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR)),
                     e.vec_id) AS neg_rank
        FROM embeddings e
        JOIN (SELECT vec_id, label FROM embeddings WHERE vec_id < 10) q
          ON e.label <> q.label)
      WHERE neg_rank <= 3
      ORDER BY q_id, neg_rank
    """.trim))

  /** Top principal component via Gram-matrix power iteration (SURVEY §2
    * I-sext) — the distributed-PCA shape used for embedding-drift and
    * intrinsic-dimension audits. No oracle (✘): iterative eigensolvers
    * are formulation-specific; VectorOpsSpec asserts the Rayleigh bound
    * and output invariants instead.
    *
    * Scale notes: the ONLY data-scale work is the one pass building the
    * 64×64 Gram matrix — declared as a positional self-join so the plan
    * stays pure DataFrame algebra (at 100 TB the same contract is one
    * mapPartitions outer-product accumulation shuffling d² doubles per
    * partition; the 4096-cell result is identical). All 8 power-iteration
    * rounds run on the checkpointed 4096-row Gram frame joined with the
    * broadcast 64-row vector — corpus data is never touched again.
    * Per-round 12 dp term rounding + exact decimal sums + 9 dp
    * normalization make iteration count, not float accumulation order,
    * decide every digit (partition-invariant by construction).
    */
  val vecPcaPowerIteration = Q(
    "vec_pca_power_iteration",
    (spark, dir) => {
      import spark.implicits._
      // Per-partition Gram accumulation (the MLlib computeGramianMatrix
      // pattern, r8 — replaces the r7 chained-posexplode formulation
      // measured ~2× slower at sf0.1): each partition folds its vectors
      // into ONE local d×d double array in tight loops, so the shuffle
      // carries (partitions × d²) partial cells instead of streaming
      // n·d² generated rows through a hash aggregate — the genuinely
      // per-partition-imperative case the mapPartitions escape hatch
      // exists for. Determinism: sortWithinPartitions(vec_id) pins the
      // in-partition accumulation order (hash shuffle arrival order is
      // not stable), partials round at 12 dp, and the cross-partition
      // combine is an exact decimal sum — order-free.
      val partials = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
        .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
        .sortWithinPartitions($"vec_id")
        .select($"emb").as[Seq[Double]]
        .mapPartitions { it =>
          var acc: Array[Double] = null
          var d = 0
          it.foreach { v =>
            if (acc == null) { d = v.length; acc = new Array[Double](d * d) }
            var i = 0
            while (i < d) {
              val xi = v(i)
              var j = 0
              while (j < d) { acc(i * d + j) += xi * v(j); j += 1 }
              i += 1
            }
          }
          if (acc == null) Iterator.empty
          else Iterator.range(0, d * d).map(k => (k / d, k % d, acc(k)))
        }
        .toDF("i", "j", "p")
      // Driver-local d×d eigensolve ([[graft.DriverLoop]], the MLlib
      // RowMatrix computePrincipalComponents split): the data-scale pass
      // above reduces the vectors to a d² = 4096-cell Gram, d²-bounded
      // independent of corpus size, where an in-plan 8-round unroll spent
      // ~3 s of scheduling on 4096-row joins. Same numerics: 12 dp HALF_UP
      // terms ([[graft.DriverRound]]), exact decimal sums, 9 dp
      // normalization.
      import java.math.{BigDecimal => JBD}
      import graft.DriverRound.{decimal => rnd}
      val cells = graft.DriverLoop.collect(partials
        .groupBy($"i", $"j")
        .agg(sum(round($"p", 12).cast(DecimalType(38, 12))).as("gs"))
        .select($"i", $"j", $"gs".cast(DoubleType).as("g")), "pca gram cells")
      val d = cells.iterator.map(_.getInt(1)).max + 1
      val g = Array.ofDim[Double](d, d)
      cells.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 1 to 8) {
        val w = Array.tabulate(d) { i =>
          (0 until d).foldLeft(JBD.ZERO)((a, j) => a.add(rnd(g(i)(j) * v(j), 12)))
            .doubleValue()
        }
        val nrm = math.sqrt(
          w.foldLeft(JBD.ZERO)((a, x) => a.add(rnd(x * x, 12))).doubleValue())
        v = w.map(x => rnd(x / nrm, 9).doubleValue())
      }
      // Rayleigh quotient λ = vᵀGv on the (unit) converged vector, and
      // trace(G) = Σ eigenvalues for the explained-variance share
      val gv = Array.tabulate(d) { i =>
        (0 until d).foldLeft(JBD.ZERO)((a, j) => a.add(rnd(g(i)(j) * v(j), 12)))
          .doubleValue()
      }
      val lambda = (0 until d).foldLeft(JBD.ZERO)((a, i) => a.add(rnd(gv(i) * v(i), 12)))
        .doubleValue()
      val trace = (0 until d).foldLeft(JBD.ZERO)((a, i) => a.add(rnd(g(i)(i), 12)))
        .doubleValue()
      val top = v.zipWithIndex
        .map { case (vj, dim) => (dim, rnd(vj, 4).doubleValue()) }
        .sortBy { case (dim, l) => (-math.abs(l), dim) }
        .take(5)
        .zipWithIndex
        .map { case ((dim, loading), k) =>
          (k + 1, dim, loading,
            rnd(lambda, 4).doubleValue(), rnd(lambda / trace, 6).doubleValue())
        }
      top.toSeq
        .toDF("rank", "dim", "loading", "eigenvalue", "explained_share")
        .orderBy($"rank")
    },
    None)

  /** Out-of-distribution score per embedding (SURVEY §2 I-sext):
    * z-scored squared distance to the vector's own-label centroid — the
    * embedding-space outlier gate run before training (SemDeDup prunes
    * redundant NEIGHBORHOODS; this flags isolated SINGLETON junk:
    * mislabeled rows, corrupt encodes, adversarial inputs).
    *
    * Scale notes: centroids are the `vec_centroid_per_label` exact
    * decimal recipe (label×dim partial agg — shuffle size independent of
    * row count) broadcast back positionally; squared distances are one
    * posexplode pass with 12 dp per-dim term rounding; the z-score
    * moments ride a bounded per-label frame. Nothing is quadratic.
    */
  val vecOodCentroidZscore = Q(
    "vec_ood_centroid_zscore",
    (spark, dir) => {
      import spark.implicits._
      val ex = Tables.embeddings(spark, dir)
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "v")))
      val cent = ex.groupBy($"label", $"pos")
        .agg(
          sum($"v".cast(DoubleType).cast(DecimalType(28, 12))).as("s"),
          count(lit(1)).as("cn"))
        .select($"label", $"pos",
          ($"s".cast(DoubleType) / $"cn").cast(DecimalType(18, 8)).as("c"))
      val diff = $"v".cast(DoubleType) - $"c".cast(DoubleType)
      val dist = ex
        .join(broadcast(cent), Seq("label", "pos"))
        .select($"vec_id", $"label",
          round(diff * diff, 12).cast(DecimalType(28, 12)).as("term"))
        .groupBy($"vec_id", $"label")
        .agg(sum($"term").cast(DoubleType).cast(DecimalType(18, 8)).as("dist2"))
      val mom = dist.groupBy($"label")
        .agg(
          count(lit(1)).as("n"),
          sum($"dist2").as("sd"),
          sum(($"dist2".cast(DoubleType) * $"dist2".cast(DoubleType))
            .cast(DecimalType(38, 10))).as("sdd"))
      val mean = $"sd".cast(DoubleType) / $"n"
      val varSamp = ($"sdd".cast(DoubleType) - $"sd".cast(DoubleType) *
        $"sd".cast(DoubleType) / $"n") / ($"n" - 1)
      dist
        .join(broadcast(mom), "label")
        .select(
          $"vec_id", $"label",
          round($"dist2".cast(DoubleType), 6).as("dist2"),
          round(($"dist2".cast(DoubleType) - mean) /
            nullif(sqrt(varSamp), lit(0.0d)), 4).as("z"))
        .orderBy($"z".desc, $"vec_id")
        .limit(20)
    },
    Some("""
      WITH ex AS (
        SELECT vec_id, label,
          UNNEST(embedding) AS v,
          UNNEST(range(len(embedding))) AS pos
        FROM embeddings
      ), cent AS (
        SELECT label, pos,
          CAST(CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS c
        FROM ex GROUP BY label, pos
      ), dist AS (
        SELECT vec_id, label,
          CAST(CAST(SUM(CAST(ROUND((CAST(v AS DOUBLE) - c) * (CAST(v AS DOUBLE) - c), 12)
               AS DECIMAL(28,12))) AS DOUBLE) AS DECIMAL(18,8)) AS dist2
        FROM ex JOIN cent USING (label, pos)
        GROUP BY vec_id, label
      ), mom AS (
        SELECT label, COUNT(*) AS n,
          SUM(dist2) AS sd,
          SUM(CAST(CAST(dist2 AS DOUBLE) * CAST(dist2 AS DOUBLE) AS DECIMAL(38,10))) AS sdd
        FROM dist GROUP BY label
      )
      SELECT vec_id, dist.label AS label,
        ROUND(CAST(dist2 AS DOUBLE), 6) AS dist2,
        ROUND((CAST(dist2 AS DOUBLE) - CAST(sd AS DOUBLE) / n)
          / NULLIF(SQRT((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)
                        / (n - 1)), 0), 4) AS z
      FROM dist JOIN mom ON dist.label = mom.label
      ORDER BY z DESC, vec_id LIMIT 20
    """.trim))

  /** Binary-sign Hamming top-k (SURVEY §2 I-sext): 64-dim sign
    * binarization + Hamming-distance ranking — the 64×-compression
    * two-stage retrieval standard (1-bit codes prune cheaply; the float
    * re-rank rows `vec_cosine_topk`/`vec_pq_adc_topk` are the confirm
    * stage). The distance is an integer-exact `zip_with` sign-mismatch
    * fold, so both engines agree bit-for-bit with no rounding recipe.
    *
    * Scale notes: queries broadcast; the corpus streams one pass with
    * no shuffle of vectors (the same shape as cosine top-k). In a real
    * deployment the sign codes are precomputed 64-bit words and the
    * fold is a popcount(xor) — declared here over raw vectors so the
    * semantics stay oracle-checkable.
    */
  val vecHammingTopk = Q(
    "vec_hamming_topk",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
      val probes = e.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val ham = aggregate(
        zip_with($"embedding", $"q_emb",
          (x, y) => ((x > 0.0f) =!= (y > 0.0f)).cast("int")),
        lit(0), (acc, v) => acc + v)
      val w = Window.partitionBy($"q_id").orderBy($"ham", $"vec_id")
      e.join(broadcast(probes), $"vec_id" =!= $"q_id")
        .withColumn("ham", ham)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"q_id", $"rn", $"vec_id", $"ham")
        .orderBy($"q_id", $"rn")
    },
    Some("""
      SELECT q_id, rn, vec_id, ham FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding),
            x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS ham,
          ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_sum(list_transform(list_zip(e.embedding, q.embedding),
              x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)), e.vec_id) AS rn
        FROM embeddings e
        JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
          ON e.vec_id <> q.vec_id)
      WHERE rn <= 3
      ORDER BY q_id, rn
    """.trim))

  /** Centroid silhouette per label (SURVEY §2 I-sept) — the
    * clustering-quality score that completes the embedding-QA trio:
    * `vec_label_confusion` counts WHO flips to a foreign centroid,
    * `vec_ood_centroid_zscore` flags isolated singles, silhouette
    * SCORES the geometry. Per member: a = distance to the own-label
    * centroid, b = distance to the nearest FOREIGN centroid,
    * s = (b−a)/max(a,b) ∈ [−1, 1]; the declared report is each
    * label's mean silhouette and the share of negative-s members
    * (members sitting in a foreign class's region).
    *
    * Scale notes: exact decimal centroids broadcast as L arrays; the
    * n·L distance pass is the codegen'd ‖a‖²−2a·c+‖c‖² identity (one
    * map pass, no exploded positional join, no shuffle of vectors);
    * everything after is label-keyed and bounded. Distances round to
    * 6 dp with label tiebreaks (§2.0 rule 7) so a/b/s match across
    * engines and partitionings.
    */
  val vecSilhouetteCentroid = Q(
    "vec_silhouette_centroid",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("emb"))
      val cents = labelCentroids(e)
      // row-local a/b: both mins fold over the broadcast centroid array
      // on the row — the (vec_id, label)-keyed regroup of the corpus is
      // gone; only the bounded label-keyed report agg shuffles
      val cbA = oneRowArray(cents, "cbarr", $"clabel", $"cvec")
      def dd(cv: Column) = round(sqrt(greatest(roundedL2($"emb", cv), lit(0.0d))), 6)
      val ab = e.crossJoin(broadcast(cbA))
        .withColumn("a", array_min(transform(
          filter($"cbarr", c => c("clabel") === $"label"), c => dd(c("cvec")))))
        .withColumn("b", array_min(transform(
          filter($"cbarr", c => c("clabel") =!= $"label"), c => dd(c("cvec")))))
        .select($"vec_id", $"label", $"a", $"b")
      val sil = ab.select($"vec_id", $"label",
        round(($"b" - $"a") / nullif(greatest($"a", $"b"), lit(0.0d)), 6).as("s"))
      sil
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n"),
          // explicit-rounding rule (§2.0 rule 7): exact decimal sum, ONE
          // double divide, round 6 — engine-native AVG over DECIMAL
          // differs between engines at 6-dp rounding boundaries
          round(sum($"s".cast(DecimalType(28, 6))).cast(DoubleType) /
            count(lit(1)), 6).as("mean_sil"),
          round(sum(when($"s" < 0, 1L).otherwise(0L)).cast(DoubleType) /
            count(lit(1)), 6).as("neg_share"))
        .orderBy($"label")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), ${labelCentroidsSql}, ab AS (
        SELECT vec_id, label,
          MIN(CASE WHEN clabel = label THEN dd END) AS a,
          MIN(CASE WHEN clabel <> label THEN dd END) AS b
        FROM (
          SELECT e.vec_id, e.label, c.clabel,
            ROUND(SQRT(GREATEST(${roundedL2Sql("e.emb", "c.cvec")}, 0.0)), 6) AS dd
          FROM e CROSS JOIN cents c
        )
        GROUP BY vec_id, label
      )
      SELECT label, COUNT(*) AS n,
        ROUND(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sil,
        ROUND(CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS neg_share
      FROM (
        SELECT vec_id, label,
          ROUND((b - a) / NULLIF(GREATEST(a, b), 0.0), 6) AS s
        FROM ab)
      GROUP BY label ORDER BY label
    """.trim))

  /** TwoNN intrinsic dimension per label (SURVEY §2 I-sept; Facco et
    * al. 2017): d̂ = N / Σ ln(r₂/r₁) from each point's two nearest
    * neighbors — the effective-dimensionality audit (data on a ~10-d
    * manifold inside a 64-d ambient space quantizes, indexes, and
    * clusters like 10-d, not 64-d; `vec_pca_power_iteration` sees only
    * LINEAR energy, TwoNN sees curved manifolds). Distances are chord
    * distances on the cosine geometry (r² = 2−2cos), so
    * ln μ = ½(ln(1−cos₂) − ln(1−cos₁)) needs only the 6 dp cosines the
    * kNN graph already carries. Exact-duplicate points (cos₁ = 1 after
    * rounding) have no defined μ — excluded and counted.
    *
    * Scale notes: rides the memoized k=5 exact-kNN stage shared with
    * `vec_knn_graph_stats` (rn ≤ 2 filter — zero new quadratic work);
    * the estimator is one bounded label-keyed aggregation with 12 dp
    * term rounding + decimal sums (§2.0 rule 7).
    */
  val vecTwonnIntrinsicDim = Q(
    "vec_twonn_intrinsic_dim",
    (spark, dir) => {
      import spark.implicits._
      val knn = cachedKnn5(spark, dir).filter($"rn" <= 2)
      val two = knn.groupBy($"src", $"label")
        .agg(
          min(when($"rn" === 1, $"cos")).as("cos1"),
          min(when($"rn" === 2, $"cos")).as("cos2"))
      val logmu = round(
        (log(lit(1.0) - $"cos2") - log(lit(1.0) - $"cos1")) * 0.5, 12)
      two
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n_points"),
          sum(when($"cos1" >= 1.0d, 1L).otherwise(0L)).as("n_dup_excluded"),
          sum(when($"cos1" < 1.0d, logmu.cast(DecimalType(28, 12))))
            .cast(DoubleType).as("slm"))
        .select($"label", $"n_points", $"n_dup_excluded",
          round($"slm", 6).as("sum_log_mu"),
          round(($"n_points" - $"n_dup_excluded").cast(DoubleType) /
            nullif($"slm", lit(0.0d)), 4).as("id_hat"))
        .orderBy($"label")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      ), edges AS (
        SELECT a.vec_id AS src, a.label AS label, b.vec_id AS dst,
          ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
      ), knn AS (
        SELECT * FROM (
          SELECT src, label, dst, cos,
            ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
          FROM edges)
        WHERE rn <= 2
      ), two AS (
        SELECT src, label,
          MIN(CASE WHEN rn = 1 THEN cos END) AS cos1,
          MIN(CASE WHEN rn = 2 THEN cos END) AS cos2
        FROM knn GROUP BY src, label
      )
      SELECT label,
        COUNT(*) AS n_points,
        CAST(SUM(CASE WHEN cos1 >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_excluded,
        ROUND(CAST(SUM(CASE WHEN cos1 < 1.0 THEN CAST(ROUND(
            (LN(1.0 - cos2) - LN(1.0 - cos1)) * 0.5, 12) AS DECIMAL(28,12)) END)
          AS DOUBLE), 6) AS sum_log_mu,
        ROUND(CAST(COUNT(*) - SUM(CASE WHEN cos1 >= 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
          / NULLIF(CAST(SUM(CASE WHEN cos1 < 1.0 THEN CAST(ROUND(
              (LN(1.0 - cos2) - LN(1.0 - cos1)) * 0.5, 12) AS DECIMAL(28,12)) END)
            AS DOUBLE), 0.0), 4) AS id_hat
      FROM two GROUP BY label ORDER BY label
    """.trim))
}
