package graft

import org.apache.spark.sql.functions._

/** Invariant tests for the round-5 drift / graph / coverage operators:
  * mathematical properties that hold for ANY input, checked on the real
  * fixtures — complementary to the cross-engine oracle parity each of
  * these queries also carries.
  */
class DriftGraphSpec extends SparkSpecBase {

  test("pagerank: probability mass ≈ 1 and every rank within [ (1-d)/N, 1 ]") {
    import spark.implicits._
    val pr = SparkEntry.queries("graph_pagerank_trade")(spark, sfDir)
      .select($"n_nationkey", $"pagerank").as[(Long, Double)].collect()
    assert(pr.length == 25)
    val mass = pr.map(_._2).sum
    // damped PR over a graph whose every node has out-edges conserves
    // mass up to per-round rounding (9 dp × 25 nodes × 8 rounds)
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass drifted from 1")
    val floor = 0.15 / 25 - 1e-9
    assert(pr.forall(_._2 >= floor), "a node fell below the teleport floor")
    assert(pr.forall(_._2 <= 1.0), "a node exceeded total mass")
  }

  test("pagerank: revenue-weighted in-degree correlates with rank order") {
    import spark.implicits._
    // the top-ranked nation must receive strictly more than the
    // minimum teleport share — i.e. the iteration actually moved mass
    val ranks = SparkEntry.queries("graph_pagerank_trade")(spark, sfDir)
      .select($"pagerank").as[Double].collect()
    assert(ranks.max > ranks.min, "iteration left the uniform start vector")
  }

  test("ks: D within [0,1] and equals hand-computed ECDF gap at sf0.001") {
    import spark.implicits._
    val row = SparkEntry.queries("agg_ks_binned")(spark, sfDir).collect().head
    val d = row.getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0, s"KS distance $d outside [0,1]")
    // independent recomputation straight from the fixture
    val ev = Tables.events(spark, sfDir)
      .where($"event_type".isin("click", "view"))
      .select($"event_type", floor($"value").as("bin"))
      .as[(String, Long)].collect()
    val c = ev.filter(_._1 == "click").map(_._2)
    val v = ev.filter(_._1 == "view").map(_._2)
    val bins = (c ++ v).distinct.sorted
    val dHand = bins.map { b =>
      math.abs(c.count(_ <= b).toDouble / c.length - v.count(_ <= b).toDouble / v.length)
    }.max
    // declared ks_d is rounded to 9 dp, so round the hand value the same
    // way before comparing — leaves the full 1e-9 margin for genuine
    // accumulation-order differences instead of consuming it on rounding
    val dHand9 = math.rint(dHand * 1e9) / 1e9
    assert(math.abs(d - dHand9) < 1e-9, s"declared D=$d vs hand ECDF $dHand9")
  }

  test("psi: non-negative, zero for an identical split, rows per event type") {
    import spark.implicits._
    val out = SparkEntry.queries("etl_psi_drift")(spark, sfDir)
      .select($"event_type", $"psi").as[(String, Double)].collect()
    assert(out.length == 5)
    // PSI is a sum of (p-q)ln(p/q) terms, each ≥ 0 (same sign factors)
    assert(out.forall(_._2 >= -1e-9), s"negative PSI in ${out.mkString(",")}")
    // the derived timeline midpoint must leave both halves non-empty for
    // every event type (guards a regenerated fixture whose date range
    // would have defeated the old hardcoded split)
    val halves = SparkEntry.queries("etl_psi_drift")(spark, sfDir)
      .select($"event_type", $"n_first", $"n_second")
      .as[(String, Long, Long)].collect()
    assert(halves.forall(h => h._2 > 0 && h._3 > 0),
      s"degenerate timeline split: ${halves.mkString(",")}")
  }

  test("cramers v: inside [0,1], cell counts reconcile with the event total") {
    val r = SparkEntry.queries("agg_cramers_v")(spark, sfDir).collect().head
    val v = r.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0, s"Cramér's V $v outside [0,1]")
    val n = Tables.events(spark, sfDir).count()
    assert(r.getAs[Long]("n_events") == n, "contingency total != event count")
  }

  test("zipf: slope negative (frequency falls with rank), r2 within [0,1]") {
    val r = SparkEntry.queries("text_zipf_slope")(spark, sfDir).collect().head
    // the synthetic sf0.001 vocab is smaller than the top-100 cut
    val nt = r.getAs[Long]("n_terms")
    assert(nt > 2 && nt <= 100L, s"n_terms $nt outside (2,100]")
    assert(r.getAs[Double]("slope") < 0.0, "rank-frequency slope must be negative")
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0, s"r2 $r2 outside [0,1]")
  }

  test("interval union: covered ≤ naive length sum and ≥ longest single interval") {
    import spark.implicits._
    val res = SparkEntry.queries("win_interval_union_length")(spark, sfDir)
      .select($"s_suppkey", $"covered_days").as[(Long, Long)].collect().toMap
    val naive = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(sum($"l_quantity".cast("int")).as("len_sum"),
        max($"l_quantity".cast("int")).as("len_max"))
      .select($"l_suppkey", $"len_sum", $"len_max")
      .as[(Long, Long, Long)].collect()
    for ((k, lenSum, lenMax) <- naive) {
      val cov = res(k)
      assert(cov <= lenSum, s"supplier $k union $cov exceeds naive sum $lenSum")
      assert(cov >= lenMax, s"supplier $k union $cov below longest interval $lenMax")
    }
  }

  test("ivfpq: cell restriction only loses candidates — rank-wise adist dominates full ADC") {
    import spark.implicits._
    val full = SparkEntry.queries("vec_pq_adc_topk")(spark, sfDir)
      .select($"q_id", $"adist", $"rn").as[(Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2)).toMap
    val pruned = SparkEntry.queries("vec_ann_ivfpq")(spark, sfDir)
      .select($"q_id", $"adist", $"rn").as[(Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2)).toMap
    assert(pruned.nonEmpty, "ivfpq returned nothing")
    for ((q, pa) <- pruned) {
      assert(pa.forall(_ >= 0.0), s"negative adist for q=$q")
      val fa = full(q)
      // the pruned candidate set is a subset of the full set, so at
      // every shared rank its distance can only be equal or worse
      for (i <- pa.indices.take(fa.length))
        assert(pa(i) >= fa(i) - 1e-9,
          s"q=$q rank ${i + 1}: pruned ${pa(i)} beats full ${fa(i)}")
    }
  }

  test("ann recall report: full query coverage, recalls in range, index finds true neighbors") {
    import spark.implicits._
    val rep = SparkEntry.queries("vec_ann_recall_report")(spark, sfDir)
      .select($"label", $"n_queries", $"recall_at_3", $"recall_at_5")
      .as[(Long, Long, Double, Double)].collect()
    assert(rep.nonEmpty, "empty recall report")
    // every query vec_id<50 is accounted to exactly one label row
    assert(rep.map(_._2).sum == 50, s"query coverage ${rep.map(_._2).sum} != 50")
    assert(rep.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && r._4 >= 0.0 && r._4 <= 1.0),
      s"recall outside [0,1]: ${rep.mkString(",")}")
    // the index must beat zero: some exact top-5 neighbor is retrieved
    val hits5 = rep.map(r => r._4 * r._2 * 5).sum
    assert(hits5 > 0.0, "IVF-PQ retrieved no true neighbor at all")
  }

  test("embedding ann twin: τ respected, ordered pairs, recall vs exact row ≥ 0.6") {
    import spark.implicits._
    val ann = SparkEntry.queries("dedup_embedding_ann")(spark, sfDir)
      .select($"d1", $"d2", $"cos").as[(Long, Long, Double)].collect()
    assert(ann.forall(p => p._3 >= 0.4), "pair below the τ=0.4 confirm threshold")
    assert(ann.forall(p => p._1 < p._2), "unnormalized pair order")
    // candidate generation may legitimately cross labels (cells are
    // geometric, labels are metadata) — recall is measured against the
    // exact same-label baseline row, mirroring minhash-vs-jaccard
    val exact = SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    if (exact.nonEmpty) {
      val got = ann.map(p => (p._1, p._2)).toSet
      val recall = exact.count(got).toDouble / exact.size
      assert(recall >= 0.6, s"pair recall $recall < 0.6 (${exact.size} exact pairs)")
    }
  }

  test("ivf codebook: nlist is data-driven (⌈√n⌉ cells) and recall holds at two nlist values") {
    import spark.implicits._
    val e = operators.VectorOps.withNorm(spark, sfDir)
    val n = e.count()
    val expectedNlist = math.ceil(math.sqrt(n.toDouble)).toLong
    // the data-driven codebook produces exactly ⌈√n⌉ cells (every seed
    // is its own nearest member, so no cell is empty)
    val cells = operators.VectorOps.ivfCodebook(e).select($"cell").as[Long].collect()
    assert(cells.length.toLong == expectedNlist,
      s"expected $expectedNlist cells for n=$n, got ${cells.length}")
    assert(cells.toSet.size == cells.length, "duplicate cell ids")
    // recall parity: the same candidate+confirm logic at two pinned nlist
    // values both recover the exact same-label baseline pairs
    val exact = SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assume(exact.nonEmpty, "no exact pairs at this SF")
    def recallAt(nlist: Int): Double = {
      val got = operators.VectorOps
        .annNearDupPairs(e, operators.VectorOps.ivfCodebook(e, Some(nlist)))
        .select($"d1", $"d2").as[(Long, Long)].collect().toSet
      exact.count(got).toDouble / exact.size
    }
    val rSmall = recallAt((expectedNlist / 2).toInt.max(2))
    val rSqrtN = recallAt(expectedNlist.toInt)
    assert(rSmall >= 0.6, s"recall $rSmall < 0.6 at nlist=${expectedNlist / 2}")
    assert(rSqrtN >= 0.6, s"recall $rSqrtN < 0.6 at nlist=$expectedNlist")
    assert(math.abs(rSmall - rSqrtN) <= 0.25,
      s"recall drifts across nlist settings: $rSmall vs $rSqrtN")
  }

  test("pq adc: approximate distance is exact when the query is a codebook vector") {
    import spark.implicits._
    // for vec_id < 4 the query IS a centroid in every subspace, so its
    // own 4 codes reconstruct distance 0 to itself — excluded by the
    // self-filter, but its duplicates-by-code (same 4 codes) must rank
    // with adist equal to the sum of their own quantization errors:
    // spot-check the weaker, always-true invariant adist ≥ 0 and the
    // top-5 per query are sorted ascending with rn dense 1..5
    val out = SparkEntry.queries("vec_pq_adc_topk")(spark, sfDir)
      .select($"q_id", $"adist", $"rn").as[(Long, Double, Long)].collect()
    assert(out.forall(_._2 >= 0.0), "negative approximate distance")
    for ((q, rows) <- out.groupBy(_._1)) {
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length), s"rn not dense for q=$q")
      assert(sorted.sliding(2).forall(p => p.head._2 <= p.last._2),
        s"adist not ascending for q=$q")
    }
  }

  // keep LAST in this suite: configuring a reliable checkpoint dir is
  // JVM-session-wide (SparkContext has no unset), so every earlier test
  // exercises the default executor-local mode first
  test("iterative ops: local and reliable checkpoint modes agree exactly") {
    // every query here cuts its lineage through Checkpoints.cut
    val queries = Seq("dedup_connected_components", "graph_pagerank_trade",
      "dedup_triangle_count", "etl_key_skew_stats", "vec_knn_graph_stats")
    def run(q: String) = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
    val local = queries.map(run)
    val dir = scratchPath("ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    // drop every memo (the component labels, pagerank's edge table, the
    // kNN graph) so the reliable-mode run really re-executes instead of
    // reading the local-mode cache
    PlanCache.evictAll()
    try {
      queries.zip(local).foreach { case (q, l) =>
        val rel = run(q)
        assert(l.nonEmpty, s"$q returned no rows")
        assert(rel == l, s"$q diverged between checkpoint modes")
      }
    } finally PlanCache.evictAll()
  }

  test("cusum changepoint: per-type rows, hand-recomputed argmax for one type") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("win_cusum_changepoint")(spark, sfDir).collect()
    val types = Tables.events(spark, sfDir)
      .select($"event_type").distinct().as[String].collect().sorted
    assert(rows.map(_.getAs[String]("event_type")).toSeq == types.toSeq)
    val top = rows.head
    val ty = top.getAs[String]("event_type")
    val daily = Tables.events(spark, sfDir)
      .where($"event_type" === ty)
      .select($"ts".cast("date").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("c"))
      .orderBy($"d")
      .as[(java.sql.Date, Long)].collect()
    val mean = daily.map(_._2).sum.toDouble / daily.length
    var acc = BigDecimal(0)
    var best = (BigDecimal(-1), daily.head._1)
    daily.foreach { case (d, c) =>
      acc += BigDecimal(c - mean).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if (acc.abs > best._1) best = (acc.abs, d)
    }
    assert(top.getAs[java.sql.Date]("changepoint_day") == best._2,
      s"changepoint ${top.getAs[java.sql.Date]("changepoint_day")} vs hand ${best._2}")
    assert(math.abs(top.getAs[Double]("max_abs_cusum") - best._1.toDouble) < 1e-6)
    assert(top.getAs[Long]("n_days") == daily.length)
  }

  test("seasonal anomaly: top-15 by |z|, z consistent with a hand-built baseline cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("etl_seasonal_anomaly")(spark, sfDir).collect()
    assert(rows.length == 15)
    val zs = rows.map(r => math.abs(r.getAs[Double]("z")))
    assert(zs.toSeq == zs.sorted.reverse.toSeq, "not ordered by |z| desc")
    // hand-recompute the top row's z from the raw stream with zero-fill
    val top = rows.head
    val (ty, d, hr) = (top.getAs[String]("event_type"),
      top.getAs[java.sql.Date]("d"), top.getAs[Long]("hr"))
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"ts".cast("date").as("d"), hour($"ts").as("hr"))
      .where($"event_type" === ty && $"hr" === hr.toInt)
      .groupBy($"d").agg(count(lit(1)).as("c"))
      .as[(java.sql.Date, Long)].collect().toMap
    val allDates = Tables.events(spark, sfDir)
      .select($"ts".cast("date").as("d")).agg(min($"d"), max($"d"))
      .collect().head
    val (d0, d1) = (allDates.getDate(0).toLocalDate, allDates.getDate(1).toLocalDate)
    val dowOf = d.toLocalDate.toEpochDay % 7
    val series = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1))
      .filter(_.toEpochDay % 7 == dowOf)
      .map(ld => ev.getOrElse(java.sql.Date.valueOf(ld), 0L).toDouble).toSeq
    val m = series.sum / series.length
    val v = series.map(x => (x - m) * (x - m)).sum / (series.length - 1)
    val zHand = (top.getAs[Long]("c") - m) / math.sqrt(v)
    assert(math.abs(top.getAs[Double]("z") - zHand) < 1e-3,
      s"z ${top.getAs[Double]("z")} vs hand $zHand")
  }
  test("assortativity: backbone Pearson r matches a driver-side recompute, in [-1,1]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("graph_assortativity")(spark, sfDir).collect().head
    val nEdges = row.getAs[Long]("n_edges")
    val r = row.getAs[Double]("assortativity")
    assert(nEdges <= 50 && nEdges > 0)
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"r $r outside [-1,1]")
    // rebuild the same top-50 backbone and correlate end degrees by hand
    val edges = graft.operators.Flagships.nationTradeEdges(spark, sfDir)
      .where($"src" =!= $"dst")
      .groupBy(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .agg(sum($"wgt").as("w"))
      .select($"a", $"b", $"w".cast("double"))
      .as[(Long, Long, Double)].collect()
      .sortBy(t => (-t._3, t._1, t._2)).take(50).map(t => (t._1, t._2))
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ends = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = ends.length.toDouble
    val sx = ends.map(_._1).sum.toDouble; val sy = ends.map(_._2).sum.toDouble
    val sxy = ends.map(e => e._1 * e._2).sum.toDouble
    val sxx = ends.map(e => e._1 * e._1).sum.toDouble
    val syy = ends.map(e => e._2 * e._2).sum.toDouble
    val ref = (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(nEdges == edges.length)
    assert(math.abs(r - ref) < 1e-4, s"r $r vs recompute $ref")
  }
}
