package graft

import graft.functions.GraftFunctions
import graft.operators.{IvfIndex, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Dev main producing the RECALL.md tables: for a query set DISJOINT
  * from both codebooks' stride-seed sets (vec_id ≡ 7 mod 10, < 500 —
  * seed-query leakage is what made the r8 recall numbers a lie),
  * measures against the exact rounded-L2 top-k ground truth:
  *
  *  1. CELL-stage recall@3/@5 at nprobe ∈ {1, 3, 8} — candidates ranked
  *     by exact L2 within the probed cells (the ceiling any PQ ranking
  *     can reach at that nprobe);
  *  2. end-to-end ADC recall with the RAW-vector PQ codes
  *     ([[IvfIndex.ensurePq]], the r9 stack);
  *  3. end-to-end ADC recall with the RESIDUAL PQ codes
  *     ([[IvfIndex.ensurePqResidual]], the r10 stack — the declared
  *     `vec_ann_recall_curve` chain).
  *
  * Usage: `sbt "runMain graft.RecallProbe /root/testdata/sf0.1"`.
  *
  * NOTE (r10 review): the probe blocks below intentionally RE-DERIVE the
  * declared rows' probe/LUT/ADC recipes rather than importing their
  * frames — the probe sweeps knobs (nprobe set, k, in-plan geometries)
  * the declared rows pin. The drift guard is `vec_ann_recall_curve`'s
  * full DuckDB oracle: if the declared recipe changes, that row's parity
  * breaks loudly, and these blocks must be updated with it before
  * RECALL.md numbers are regenerated.
  */
object RecallProbe {

  private val NPs = Seq(1L, 3L, 8L)
  private val K = 5

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    import spark.implicits._

    val (idx, ivfCb) = IvfIndex.ensure(spark, dir)
    val e = VectorOps.withNorm(spark, dir)
    val q = e.filter($"vec_id" % 10 === 7 && $"vec_id" < 500)
    val nQ = q.count()
    val probes = rankedProbes(q, ivfCb)
    val exact = exactTopK(e, q)

    // 1. cell-stage ceiling: exact L2 rank within probed cells
    val cellCand = idx
      .join(broadcast(probes.select($"q_id", $"cell", $"cr")), Seq("cell"))
      .join(broadcast(q.select($"vec_id".as("q_id"), $"emb".as("q_emb"))), Seq("q_id"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", round(
        GraftFunctions.dot($"emb", $"emb")
          - lit(2.0) * GraftFunctions.dot($"emb", $"q_emb")
          + GraftFunctions.dot($"q_emb", $"q_emb"), 6))
      .select($"q_id", $"vec_id", $"cr", $"adist")
    report("cell-stage (exact L2 in probed cells)", cellCand, exact, nQ)

    // 2. end-to-end, raw-vector PQ ADC
    val (rawCodes, rawCb) = IvfIndex.ensurePq(spark, dir)
    report("end-to-end ADC, raw-vector PQ",
      adcCand(rawCodes, rawCb, probes, rawLut = true, ivfCb), exact, nQ)

    // 3. end-to-end, residual PQ ADC (persisted, k = VectorOps.PqrK)
    val (resCodes, resCb) = IvfIndex.ensurePqResidual(spark, dir)
    val resCand = adcCand(resCodes, resCb, probes, rawLut = false, ivfCb,
      VectorOps.PqrM, VectorOps.PqrW)
    report(s"end-to-end ADC, residual PQ (persisted, k=${VectorOps.PqrK}, m=${VectorOps.PqrM})",
      resCand, exact, nQ)

    // 3b. REFINED end-to-end (VERDICT r10 #1, the declared
    //     `vec_ann_refine_serve` recipe): ADC shortlist R=20 per query,
    //     exact rounded-L2 re-rank of only those R full vectors
    reportRefined("refined end-to-end (ADC shortlist R=20 -> exact re-rank)",
      resCand, e, q, exact, nQ)

    // 4. generation-2 lifecycle: the same measurements after the applied
    //    rebalance + incremental residual-code refresh — the number that
    //    says maintenance does not silently degrade retrieval. Probes
    //    rank against the gen-2 codebook (more, smaller cells: the same
    //    nprobe scans a SMALLER corpus fraction post-split).
    val (idx2, cb2) = IvfIndex.ensureRebalanced(spark, dir)
    println(s"gen-1 cells=${ivfCb.count()}, gen-2 cells=${cb2.count()}, " +
      s"corpus=${idx.count()}")
    val probes2 = rankedProbes(q, cb2)
    val cellCand2 = idx2
      .join(broadcast(probes2.select($"q_id", $"cell", $"cr")), Seq("cell"))
      .join(broadcast(q.select($"vec_id".as("q_id"), $"emb".as("q_emb"))), Seq("q_id"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", round(
        GraftFunctions.dot($"emb", $"emb")
          - lit(2.0) * GraftFunctions.dot($"emb", $"q_emb")
          + GraftFunctions.dot($"q_emb", $"q_emb"), 6))
      .select($"q_id", $"vec_id", $"cr", $"adist")
    report("cell-stage GEN-2 (post-rebalance, exact L2 in probed cells)",
      cellCand2, exact, nQ)
    val (codes2, _) = IvfIndex.ensurePqrG2(spark, dir)
    val resCand2 = adcCand(codes2, resCb, probes2, rawLut = false, cb2,
      VectorOps.PqrM, VectorOps.PqrW)
    report("end-to-end ADC GEN-2 (refreshed residual codes)", resCand2, exact, nQ)
    reportRefined("refined GEN-2 (ADC shortlist R=20 -> exact re-rank)",
      resCand2, e, q, exact, nQ)

    // 4c. COMPOSED PRODUCTION PATH (r12, the `vec_ann_serve_production`
    //     recipe): append family — freshest generation (base + appended
    //     batch live), tombstones excluded from candidates AND from the
    //     ground truth (a deleted vector is not servable), residual ADC
    //     shortlist R=20, exact refine. The number that says the full
    //     lifecycle composition preserves retrieval quality.
    if (sys.env.get("PROD_PROBE").contains("1")) {
      val (_, baseCb) = IvfIndex.ensureAppended(spark, dir)
      val (appCodes, appRcb) = IvfIndex.ensurePqrAppended(spark, dir)
      val tsApp = IvfIndex.ensureTombstonesApp(spark, dir)
      val liveE = e.join(broadcast(tsApp.select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      val exactLive = exactTopK(liveE, q)
      val probesApp = rankedProbes(q, baseCb)
      val liveCodes = appCodes.join(broadcast(tsApp.select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      val prodCand = adcCand(liveCodes, appRcb, probesApp, rawLut = false,
        baseCb, VectorOps.PqrM, VectorOps.PqrW)
      report("composed production ADC (append family, tombstones excluded)",
        prodCand, exactLive, nQ)
      reportRefined("composed production REFINED (vec_ann_serve_production recipe)",
        prodCand, liveE, q, exactLive, nQ)
    }

    // 4d. SPILLED END-TO-END (r12, the `vec_ann_refine_serve_spill`
    //     recipe): per-copy residual ADC over the multi-assignment
    //     codes, each vector keeping its best reachable copy, shortlist
    //     R=20, exact refine — at the shipped operating point nprobe=16
    //     (the per-(q,vec) min collapses copies, so only the max-probe
    //     point is meaningful here).
    if (sys.env.get("SPILL_E2E").contains("1")) {
      val (_, scb) = IvfIndex.ensureSpilled(spark, dir)
      val (scodes, srcb) = IvfIndex.ensurePqrSpilled(spark, dir)
      val probesS = rankedProbes(q, scb, keep = 16)
      val copyCand = adcCand(scodes, srcb, probesS, rawLut = false, scb,
        VectorOps.PqrM, VectorOps.PqrW)
      val candS = copyCand.groupBy(col("q_id"), col("vec_id"))
        .agg(min(col("cr")).as("cr"), min(col("adist")).as("adist"))
      report("spilled end-to-end ADC (per-copy min, factor=4 spill=2)",
        candS, exact, nQ, nps = Seq(16L))
      reportRefined("spilled end-to-end REFINED (vec_ann_refine_serve_spill recipe)",
        candS, e, q, exact, nQ, nps = Seq(16L))
    }

    // 4b. build-time multi-assignment / finer-geometry sweep (VERDICT
    //     r11 #2): raise the cell-stage ceiling past 0.640 within the
    //     ≤20% scanned budget — spill each vector to its s nearest
    //     cells and/or train factor·⌈√n⌉ cells
    if (sys.env.get("SPILL_SWEEP").contains("1")) {
      val corpusN = e.count()
      spillSweep(e, q, exact, nQ, corpusN, factor = 1, spill = 1,
        nps = Seq(2L, 3L, 4L, 8L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 1, spill = 2,
        nps = Seq(2L, 3L, 4L, 8L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 2, spill = 1,
        nps = Seq(4L, 8L, 12L, 16L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 2, spill = 2,
        nps = Seq(4L, 8L, 12L, 16L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 3, spill = 2,
        nps = Seq(8L, 12L, 16L, 24L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 4, spill = 2,
        nps = Seq(12L, 16L, 20L, 24L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 3, spill = 3,
        nps = Seq(6L, 8L, 10L, 12L))
      spillSweep(e, q, exact, nQ, corpusN, factor = 4, spill = 3,
        nps = Seq(8L, 12L, 14L, 16L))
    }

    // 5. optional in-plan sweep: extra args are residual-PQ geometries
    //    as "k" (4×16-dim subspaces) or "k:m" (m subspaces of 64/m dims)
    args.drop(1).foreach { a =>
      val parts = a.split(":")
      val k = parts(0).toInt
      val m = if (parts.length > 1) parts(1).toInt else 4
      val w = 64 / m
      val resid = VectorOps.withResiduals(idx, ivfCb)
        .select(col("vec_id"), col("cell"), col("remb").as("emb"))
      val cb = VectorOps.trainPqCodebook(resid, k, m, w)
      val codes = VectorOps.withPqStructs(resid, cb, m, w)
        .select(col("vec_id"), col("cell"),
          expr("transform(pq, x -> CAST(x.cid AS BIGINT))").as("codes"))
      report(s"end-to-end ADC, residual PQ (in-plan, k=$k, m=$m)",
        adcCand(codes, cb, probes, rawLut = false, ivfCb, m, w), exact, nQ)
    }

    spark.stop()
  }

  /** `keep` ranked probe cells per query (the curve row's probe stage). */
  private def rankedProbes(q: DataFrame, ivfCb: DataFrame,
      keep: Int = 8): DataFrame = {
    val cbArr = VectorOps.oneRowArray(ivfCb, "cbarr",
      col("cell"), col("cvec"), col("cnrm"))
    q.crossJoin(broadcast(cbArr))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        posexplode(graft.functions.NearestCentroidFunctions.nearestCells(
          col("emb"), col("nrm"), col("cbarr"), keep, rounded = true)).as(Seq("pos", "tc")))
      .select(col("q_id"), col("q_emb"), (col("pos") + 1).cast("long").as("cr"),
        col("tc")("cell").as("cell"))
  }

  private def exactTopK(e: DataFrame, q: DataFrame): DataFrame = {
    val qq = q.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    e.join(broadcast(qq), col("vec_id") =!= col("q_id"))
      .withColumn("d2", round(
        GraftFunctions.dot(col("emb"), col("emb"))
          - lit(2.0) * GraftFunctions.dot(col("emb"), col("q_emb"))
          + GraftFunctions.dot(col("q_emb"), col("q_emb")), 6))
      .withColumn("e_rn", row_number().over(wq))
      .filter(col("e_rn") <= K)
      .select(col("q_id"), col("vec_id"), col("e_rn"))
  }

  /** ADC candidates (q_id, vec_id, cr, adist) — `rawLut = true` scores
    * query slices directly (raw-PQ LUT); false scores the per-cell query
    * residual (residual-PQ LUT).
    */
  private def adcCand(codes: DataFrame, pqCb: DataFrame, probes: DataFrame,
      rawLut: Boolean, ivfCb: DataFrame, m: Int = 4, w: Int = 16): DataFrame = {
    val qd2 = round(
      GraftFunctions.dot(col("v"), col("v"))
        - lit(2.0) * GraftFunctions.dot(col("v"), col("cv"))
        + GraftFunctions.dot(col("cv"), col("cv")), 6)
    val (lut, lutKeys) = if (rawLut) {
      val l = probes.select(col("q_id"), col("q_emb")).distinct()
        .select(col("q_id"), explode(array((0 until m).map(lit): _*)).as("sub"), col("q_emb"))
        .select(col("q_id"), col("sub").cast("long").as("sub"),
          expr(s"slice(q_emb, sub*$w+1, $w)").as("v"))
        .join(broadcast(pqCb), Seq("sub"))
        .withColumn("qd2", qd2)
        .select(col("q_id"), col("sub"), col("cid"), col("qd2"))
      (l, Seq("q_id", "sub", "cid"))
    } else {
      val l = probes
        .join(broadcast(ivfCb.select(col("cell"), col("cvec"))), Seq("cell"))
        .withColumn("qr", zip_with(col("q_emb"), col("cvec"), (a, b) => a - b))
        .select(col("q_id"), col("cell"),
          explode(array((0 until m).map(lit): _*)).as("sub"), col("qr"))
        .select(col("q_id"), col("cell"), col("sub").cast("long").as("sub"),
          expr(s"slice(qr, sub*$w+1, $w)").as("v"))
        .join(broadcast(pqCb), Seq("sub"))
        .withColumn("qd2", qd2)
        .select(col("q_id"), col("cell"), col("sub"), col("cid"), col("qd2"))
      (l, Seq("q_id", "cell", "sub", "cid"))
    }
    codes
      .join(broadcast(probes.select(col("q_id"), col("cell"), col("cr"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("cr"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .select(col("q_id"), col("cell"), col("cr"), col("vec_id"),
        col("sub").cast("long").as("sub"), col("cid"))
      .join(broadcast(lut), lutKeys)
      .groupBy(col("q_id"), col("vec_id"), col("cr"))
      .agg(sum(col("qd2").cast(DecimalType(18, 6))).as("ad"))
      .withColumn("adist", col("ad").cast(DoubleType))
      .select(col("q_id"), col("vec_id"), col("cr"), col("adist"))
  }

  /** Recall after the exact REFINE stage: per nprobe, the top-`r` ADC
    * shortlist is re-ranked by exact rounded-L2 against the corpus
    * vectors before the @3/@5 cut — the `vec_ann_refine_serve` serve
    * recipe at every curve point.
    */
  private def reportRefined(label: String, cand: DataFrame, e: DataFrame,
      q: DataFrame, exact: DataFrame, nQ: Long, r: Int = 20,
      nps: Seq[Long] = NPs): Unit = {
    val wNp = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("adist"), col("vec_id"))
    val shortlist = cand
      .withColumn("nprobe", explode(array(nps.map(lit): _*)))
      .filter(col("cr") <= col("nprobe"))
      .withColumn("srn", row_number().over(wNp))
      .filter(col("srn") <= r)
      .select(col("nprobe"), col("q_id"), col("vec_id"))
    val qq = q.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wTop = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("d2"), col("vec_id"))
    val refined = broadcast(shortlist)
      .join(e.select(col("vec_id"), col("emb")), Seq("vec_id"))
      .join(broadcast(qq), Seq("q_id"))
      .withColumn("d2", round(
        GraftFunctions.dot(col("emb"), col("emb"))
          - lit(2.0) * GraftFunctions.dot(col("emb"), col("q_emb"))
          + GraftFunctions.dot(col("q_emb"), col("q_emb")), 6))
      .withColumn("a_rn", row_number().over(wTop))
      .filter(col("a_rn") <= K)
    val byNp = refined.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("nprobe"))
      .agg(
        sum(when(col("a_rn") <= 3 && col("e_rn") <= 3, 1L).otherwise(0L)).as("h3"),
        count(lit(1)).as("h5"))
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    println(s"== $label (nQ=$nQ) ==")
    nps.foreach { np =>
      val (h3, h5) = byNp.getOrElse(np, (0L, 0L))
      println(f"nprobe=$np%d recall@3=${h3.toDouble / (nQ * 3)}%.3f recall@5=${h5.toDouble / (nQ * 5)}%.3f")
    }
  }

  /** Build-time multi-assignment / finer-geometry sweep (VERDICT r11
    * #2 — the IVF geometry ceiling): for (nlistFactor, spill) combos,
    * train a factor·⌈√n⌉-cell codebook, assign every corpus vector to
    * its `spill` nearest cells (the `dedup_embedding_ann` multi-probe
    * trick applied at BUILD time — FAISS multi-assignment), and
    * measure the CELL-STAGE ceiling (exact L2 within probed cells,
    * duplicates deduped by min probe rank) plus the ACTUAL scanned
    * fraction (spilled rows in the probed cells / corpus — the honest
    * cost: spill stores each vector `spill` times).
    */
  private def spillSweep(e: DataFrame, q: DataFrame, exact: DataFrame,
      nQ: Long, corpusN: Long, factor: Int, spill: Int,
      nps: Seq[Long]): Unit = {
    val cb = VectorOps.ivfCodebook(e, nlistFactor = factor)
    val sidx = VectorOps.withNearestCells(e, cb, keep = spill, rounded = true)
      .select(col("vec_id"), col("emb"), col("cell")).cache()
    val probes = rankedProbes(q, cb, keep = nps.max.toInt)
      .select(col("q_id"), col("cell"), col("cr"))
    // scanned fraction per nprobe: spilled rows in the probed cells
    val pops = sidx.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
    val scanned = probes.join(broadcast(pops), Seq("cell"))
      .withColumn("nprobe", explode(array(nps.map(lit): _*)))
      .filter(col("cr") <= col("nprobe"))
      .groupBy(col("nprobe")).agg(sum(col("pop")).as("rows_scanned"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cell-stage candidates, deduped to the best probe rank per (q, vec)
    val cand = sidx
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(min(col("cr")).as("cr"))
      .join(e.select(col("vec_id"), col("emb")), Seq("vec_id"))
      .join(broadcast(q.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))),
        Seq("q_id"))
      .withColumn("adist", round(
        GraftFunctions.dot(col("emb"), col("emb"))
          - lit(2.0) * GraftFunctions.dot(col("emb"), col("q_emb"))
          + GraftFunctions.dot(col("q_emb"), col("q_emb")), 6))
      .select(col("q_id"), col("vec_id"), col("cr"), col("adist"))
    val nlist = cb.count()
    println(s"== spill sweep: nlistFactor=$factor (nlist=$nlist), spill=$spill (nQ=$nQ) ==")
    report(s"cell-stage, factor=$factor spill=$spill", cand, exact, nQ, nps)
    nps.foreach { np =>
      val f = scanned.getOrElse(np, 0L).toDouble / (nQ * corpusN)
      println(f"nprobe=$np%d scanned_fraction=$f%.3f")
    }
    sidx.unpersist(): Unit
  }

  /** Print recall@3/@5 per nprobe for a candidate set. */
  private def report(label: String, cand: DataFrame, exact: DataFrame,
      nQ: Long, nps: Seq[Long] = NPs): Unit = {
    val wNp = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("adist"), col("vec_id"))
    val approx = cand
      .withColumn("nprobe", explode(array(nps.map(lit): _*)))
      .filter(col("cr") <= col("nprobe"))
      .withColumn("a_rn", row_number().over(wNp))
      .filter(col("a_rn") <= K)
    val byNp = approx.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("nprobe"))
      .agg(
        sum(when(col("a_rn") <= 3 && col("e_rn") <= 3, 1L).otherwise(0L)).as("h3"),
        count(lit(1)).as("h5"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    println(s"== $label (nQ=$nQ) ==")
    nps.foreach { np =>
      val (h3, h5) = byNp.getOrElse(np, (0L, 0L))
      println(f"nprobe=$np%d recall@3=${h3.toDouble / (nQ * 3)}%.3f recall@5=${h5.toDouble / (nQ * 5)}%.3f")
    }
  }
}
