package graft

import graft.operators.IvfIndex
import graft.operators.VectorOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev main producing the RECALL.md tables: for the disjoint query
  * sample ([[graft.operators.VectorOps.disjointQueries]]) it measures
  * recall@3/@5 per nprobe against the exact rounded-L2 top-5 for
  *
  *  1. the CELL stage — candidates ranked by exact L2 within the probed
  *     cells (the ceiling any PQ ranking can reach at that nprobe);
  *  2. end-to-end ADC with the RAW-vector PQ codes ([[IvfIndex.ensurePq]]);
  *  3. end-to-end ADC with the RESIDUAL PQ codes
  *     ([[IvfIndex.ensurePqResidual]], the declared `vec_ann_recall_curve`),
  *     unrefined and refined (the `vec_ann_refine_serve` recipe);
  *  4. the same after the generation-2 rebalance, on the composed
  *     production path (`vec_ann_serve_production`) and on the spilled
  *     geometry (`vec_ann_refine_serve_spill`).
  *
  * Every stage is the declared rows' own VectorOps stage: this main only
  * picks artifacts and nprobe sets, so a recipe change reaches RECALL.md
  * without an edit here.
  *
  * Usage: `sbt "runMain graft.RecallProbe <sfDir> [k[:m] ...]"`
  * — each extra argument adds an in-plan residual-PQ geometry: k
  * centroids over m subspaces of 64/m dims (m = 4 when omitted).
  */
object RecallProbe {

  /** One measured curve: (nprobe, n_queries, recall_at_3, recall_at_5)
    * rows, as [[graft.operators.VectorOps.recallCurve]] returns them.
    */
  final case class Curve(label: String, rows: DataFrame)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    curves(spark, dir, args.toSeq.drop(1)).foreach { c =>
      val rows = c.rows.orderBy(col("nprobe")).collect()
      println(s"== ${c.label} (nQ=${rows.head.getLong(1)}) ==")
      rows.foreach { r =>
        println(f"nprobe=${r.getLong(0)}%d recall@3=${r.getDouble(2)}%.3f recall@5=${r.getDouble(3)}%.3f")
      }
    }
    val (idx, ivfCb) = IvfIndex.ensure(spark, dir)
    println(s"gen-1 cells=${ivfCb.count()}, " +
      s"gen-2 cells=${IvfIndex.ensureRebalanced(spark, dir)._2.count()}, corpus=${idx.count()}")
    spark.stop()
  }

  /** The RECALL.md table as data, in print order. The list is lazy: a
    * caller that reads only the first curves never builds the
    * artifacts of the later ones.
    */
  def curves(spark: SparkSession, dir: String,
      geometries: Seq[String] = Nil): LazyList[Curve] = {
    lazy val e = withNorm(spark, dir)
    lazy val q = disjointQueries(e)
    lazy val gen1 = IvfIndex.ensure(spark, dir)
    lazy val probes = rankedProbes(q, gen1._2, 8)
    lazy val resCb = IvfIndex.ensurePqResidual(spark, dir)
    lazy val resCand = residualAdc(resCb._1, probes, gen1._2, resCb._2)
    lazy val gen2 = IvfIndex.ensureRebalanced(spark, dir)
    lazy val probes2 = rankedProbes(q, gen2._2, 8)
    lazy val resCand2 = residualAdc(IvfIndex.ensurePqrG2(spark, dir)._1, probes2,
      gen2._2, resCb._2)
    // append family, tombstones excluded from the candidates AND from the
    // ground truth (a deleted vector is not servable)
    lazy val tombstones = broadcast(IvfIndex.ensureTombstonesApp(spark, dir).select(col("vec_id")))
    lazy val liveE = e.join(tombstones, Seq("vec_id"), "left_anti")
    lazy val prodCand = {
      val (_, baseCb) = IvfIndex.ensureAppended(spark, dir)
      val (codes, rcb) = IvfIndex.ensurePqrAppended(spark, dir)
      residualAdc(codes.join(tombstones, Seq("vec_id"), "left_anti"),
        rankedProbes(q, baseCb, 8), baseCb, rcb)
    }
    // spilled copies: each vector keeps its best reachable copy, at the
    // shipped operating point nprobe = 16 only (the per-(q, vec) min
    // collapses copies)
    lazy val spillCand = {
      val (_, scb) = IvfIndex.ensureSpilled(spark, dir)
      val (codes, srcb) = IvfIndex.ensurePqrSpilled(spark, dir)
      residualAdc(codes, rankedProbes(q, scb, 16), scb, srcb)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(min(col("cr")).as("cr"), min(col("adist")).as("adist"))
    }
    def curve(label: String, cand: DataFrame, truth: DataFrame = e,
        nps: Seq[Long] = CurveNprobes, refineR: Int = 0) =
      Curve(label, recallCurve(cand, truth, q, nps, refineR))
    lazy val rawCand = {
      val (codes, pqCb) = IvfIndex.ensurePq(spark, dir)
      pqAdc(codes, probes.select(col("q_id"), col("cell"), col("cr")), q, pqCb)
    }
    curve("cell-stage (exact L2 in probed cells)", exactInProbed(gen1._1, probes)) #::
      curve("end-to-end ADC, raw-vector PQ", rawCand) #::
      curve(s"end-to-end ADC, residual PQ (persisted, k=$PqrK, m=$PqrM)", resCand) #::
      curve(s"refined end-to-end (ADC shortlist R=$RefineR -> exact re-rank)", resCand,
        refineR = RefineR) #::
      curve("cell-stage GEN-2 (post-rebalance, exact L2 in probed cells)",
        exactInProbed(gen2._1, probes2)) #::
      curve("end-to-end ADC GEN-2 (refreshed residual codes)", resCand2) #::
      curve(s"refined GEN-2 (ADC shortlist R=$RefineR -> exact re-rank)", resCand2,
        refineR = RefineR) #::
      curve("composed production ADC (append family, tombstones excluded)", prodCand,
        liveE) #::
      curve("composed production REFINED (vec_ann_serve_production recipe)", prodCand,
        liveE, refineR = RefineR) #::
      curve("spilled end-to-end ADC (per-copy min, factor=4 spill=2)", spillCand,
        nps = Seq(16L)) #::
      curve("spilled end-to-end REFINED (vec_ann_refine_serve_spill recipe)", spillCand,
        nps = Seq(16L), refineR = RefineR) #::
      LazyList.from(geometries).map { a =>
        val Array(k, m) = (a.split(":") :+ "4").take(2).map(_.toInt)
        val w = 64 / m
        val resid = residualEmb(gen1._1, gen1._2)
        val cb = trainPqCodebook(resid, k, m, w)
        curve(s"end-to-end ADC, residual PQ (in-plan, k=$k, m=$m)",
          residualAdc(pqCodes(resid, cb, m, w), probes, gen1._2, cb, m, w, k))
      }
  }
}
