package graft

import org.apache.spark.sql.functions._

/** Property tests for the no-oracle vector operators. */
class VectorOpsSpec extends SparkSpecBase {

  test("ann lsh: exact duplicates always collide and rank first") {
    import spark.implicits._
    // corpus with each query vector duplicated under id+100000:
    // identical vectors land in identical buckets in every table, so the
    // duplicate MUST be retrieved, with cosine 1.0 at rank 1
    val e = operators.VectorOps.withNorm(spark, sfDir)
    val dup = e.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 100000L)
    val corpus = e.unionByName(dup)
    val res = operators.VectorOps.annLshTopK(corpus, nQueries = 20, k = 3)
      .select($"q_id", $"vec_id", $"cos", $"rn")
      .as[(Long, Long, Double, Int)].collect()
    for (q <- 0L until 20L) {
      val top = res.filter(r => r._1 == q && r._4 == 1)
      assert(top.nonEmpty, s"query $q retrieved nothing")
      assert(top.head._2 == q + 100000L && top.head._3 == 1.0,
        s"query $q top-1 is ${top.head} not its exact duplicate")
    }
  }

  test("ann lsh results are exact within candidate buckets (re-rank correctness)") {
    import spark.implicits._
    val res = operators.VectorOps.vecAnnLsh.fn(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
    // ranks are 1..k dense per query and cosine non-increasing
    res.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length),
        s"ranks not dense for query $q")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _ => true
      }, s"cosine not monotone for query $q")
    }
  }

  test("ann ivf: exact duplicates land in the query's probed cell and rank first") {
    import spark.implicits._
    val e = operators.VectorOps.withNorm(spark, sfDir)
    val dup = e.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + 100000L)
    val corpus = e.unionByName(dup)
    val res = operators.VectorOps.annIvfTopK(corpus, nQueries = 20, k = 3, nprobe = 3)
      .select($"q_id", $"vec_id", $"cos", $"rn")
      .as[(Long, Long, Double, Int)].collect()
    for (q <- 0L until 20L) {
      val top = res.filter(r => r._1 == q && r._4 == 1)
      assert(top.nonEmpty, s"query $q retrieved nothing")
      assert(top.head._2 == q + 100000L && top.head._3 == 1.0,
        s"query $q top-1 is ${top.head} not its exact duplicate")
    }
  }

  test("ann ivf recall@3 vs brute-force ground truth") {
    import spark.implicits._
    val ivf = operators.VectorOps.vecAnnIvf.fn(spark, sfDir)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val e = operators.VectorOps.withNorm(spark, sfDir)
    val probes = e.filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    val bf = e.join(broadcast(probes), $"vec_id" =!= $"q_id")
      .withColumn("cos", round(
        graft.functions.GraftFunctions.dot($"emb", $"q_emb") / ($"nrm" * $"q_nrm"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = bf.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@3 = $mean%.3f over ${recalls.size} queries")
    // the synthetic corpus is only weakly label-clustered, so the
    // meaningful property is that probing 3/10 cells beats the 0.30
    // random-scan-fraction baseline (deterministic: measured 0.493 here);
    // on genuinely clustered data recall approaches 1 at the same nprobe
    assert(mean >= 0.40, f"IVF nprobe=3/10 recall $mean%.3f does not beat the 0.30 scan-fraction baseline margin")
  }

  test("approx_count_distinct within 15% of exact per event_type") {
    import spark.implicits._
    val approx = operators.Aggregations.aggApproxHll.fn(spark, sfDir)
      .select($"event_type", $"approx_users").as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    for ((t, ex) <- exact) {
      val ap = approx(t)
      assert(math.abs(ap - ex).toDouble / ex <= 0.15,
        s"$t: approx $ap vs exact $ex")
    }
  }

  test("decimal centroid equals driver-side computation") {
    import spark.implicits._
    val got = operators.VectorOps.vecCentroidPerLabel.fn(spark, sfDir)
      .select($"label", $"pos", $"centroid".cast("double"))
      .as[(Int, Int, Double)].collect()
      .map { case (l, p, c) => (l, p) -> c }.toMap
    val raw = Tables.embeddings(spark, sfDir)
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
    val byLabel = raw.groupBy(_._1)
    for (((l, p), c) <- got) {
      val vals = byLabel(l).map(_._2(p))
      val mean = vals.map(v => BigDecimal(v.toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / vals.size
      assert(math.abs(mean - c) < 1e-7, s"label $l pos $p: $mean vs $c")
    }
  }

  test("int8 quantization: codes span one byte, mean error under half a quantization step") {
    import spark.implicits._
    val out = SparkEntry.queries("vec_quantize_int8")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (label, n, minCode, maxCode, meanErr) =>
      assert(minCode >= -128 && maxCode <= 127, s"label $label codes out of int8 range")
      assert(n > 0 && meanErr >= 0, s"label $label: empty or negative error")
    }
    // the worst per-dimension step bounds every value's error at step/2
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"embedding").as[Seq[Float]].collect().map(_.map(_.toDouble))
    val worstStep = (0 until 64).map { d =>
      val col = vecs.map(_(d)); (col.max - col.min) / 255
    }.max
    out.foreach { case (label, _, _, _, meanErr) =>
      assert(meanErr <= worstStep / 2 + 1e-9,
        s"label $label mean |err| $meanErr exceeds half-step bound ${worstStep / 2}")
    }
  }

  test("per-dimension standardization: z-norms match a driver-side recompute") {
    import spark.implicits._
    val raw = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val dims = raw.head._2.length
    val n = raw.length
    // population moments per dimension, double arithmetic on exact sums
    val mu = Array.tabulate(dims) { d =>
      raw.map(r => BigDecimal(r._2(d).toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / n
    }
    val sigma = Array.tabulate(dims) { d =>
      val sxx = raw.map { r => val v = r._2(d).toDouble
        BigDecimal(v * v).setScale(12, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
      math.sqrt((sxx - n * mu(d) * mu(d)) / n)
    }
    val expected = raw.map { case (id, emb) =>
      val zs = Array.tabulate(dims)(d => (emb(d).toDouble - mu(d)) / sigma(d))
      id -> ((math.sqrt(zs.map(z => z * z).sum), zs.map(math.abs).max))
    }.toMap
    val got = operators.VectorOps.vecStandardizeDims.fn(spark, sfDir)
      .select($"vec_id", $"znorm".cast("double"), $"max_abs_z".cast("double"))
      .as[(Long, Double, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, zn, mz) =>
      val (ezn, emz) = expected(id)
      assert(math.abs(zn - ezn) < 1e-5 && math.abs(mz - emz) < 1e-6,
        s"vec $id: got ($zn,$mz) expected ($ezn,$emz)")
    }
  }

  test("dedup_embedding_cosine chunked all-pairs ≡ naive all-pairs (sf0.01)") {
    import spark.implicits._
    // the chunked form's (c1 < cb) | (c1 = cb & d1 < d2) coverage
    // predicate must assign every unordered same-label pair to exactly
    // one (label, chunk) key — compare against the direct formulation
    val dir = "/root/testdata/sf0.01"
    val chunked = operators.VectorOps.dedupEmbeddingCosine.fn(spark, dir)
      .select($"label", $"d1", $"d2", $"cos".cast("double"))
      .selectExpr("cast(label as long)", "d1", "d2", "cos").as[(Long, Long, Long, Double)].collect().toSet
    val e = operators.VectorOps.withNorm(spark, dir)
    val a = e.select($"label", $"vec_id".as("d1"), $"emb".as("e1"), $"nrm".as("n1"))
    val b = e.select($"label".as("l2"), $"vec_id".as("d2"), $"emb".as("e2"), $"nrm".as("n2"))
    val naive = a.join(b, $"label" === $"l2" && $"d1" < $"d2")
      .withColumn("cos",
        round(graft.functions.GraftFunctions.dot($"e1", $"e2") / ($"n1" * $"n2"), 6))
      .filter($"cos" >= 0.4)
      .select($"label", $"d1", $"d2", $"cos".cast("double"))
      .selectExpr("cast(label as long)", "d1", "d2", "cos").as[(Long, Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty, "fixture produced no qualifying pairs — test is vacuous")
    assert(chunked == naive,
      s"pair sets differ: only-chunked=${chunked -- naive}, only-naive=${naive -- chunked}")
  }

  test("pca power iteration: Rayleigh bound above mean eigenvalue, below converged top") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_pca_power_iteration")(spark, sfDir).collect()
    assert(rows.length == 5, "expected top-5 loading rows")
    val lambda = rows.head.getAs[Double]("eigenvalue")
    val share = rows.head.getAs[Double]("explained_share")
    assert(rows.forall(_.getAs[Double]("eigenvalue") == lambda))
    assert(share > 0.0 && share < 1.0, s"explained share $share")
    // independent driver-side reference: exact Gram + 300 power rounds
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"embedding").as[Array[Float]].collect().map(_.map(_.toDouble))
    val d = vecs.head.length
    val gram = Array.ofDim[Double](d, d)
    vecs.foreach { x =>
      var i = 0
      while (i < d) { var j = 0; while (j < d) { gram(i)(j) += x(i) * x(j); j += 1 }; i += 1 }
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var lamRef = 0.0
    for (_ <- 1 to 300) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => gram(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / n)
      lamRef = n
    }
    val trace = (0 until d).map(i => gram(i)(i)).sum
    // after any number of rounds the Rayleigh quotient sits between the
    // mean eigenvalue (start) and the true top eigenvalue (limit)
    assert(lambda >= trace / d - 1e-6, s"λ $lambda below mean eigenvalue ${trace / d}")
    assert(lambda <= lamRef + 1e-3, s"λ $lambda above converged top $lamRef")
    assert(math.abs(share - lambda / trace) < 1e-4, "share inconsistent with λ/trace")
    // declared loadings come from a unit vector
    assert(rows.forall(r => math.abs(r.getAs[Double]("loading")) <= 1.0))
  }

  test("hamming topk: distances within [0,64], monotone within each query's ranks") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_hamming_topk")(spark, sfDir)
      .select($"q_id", $"rn", $"vec_id", $"ham").as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == 20, "expected 20 query groups")
    rows.foreach { case (_, _, _, h) => assert(h >= 0 && h <= 64, s"hamming $h") }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.length == 3, s"query $q has ${byRank.length} ranks")
      assert(byRank.toSeq == byRank.sorted.toSeq, s"query $q ranks not distance-monotone")
    }
    // hand-check one query against a driver-side sign-mismatch count
    val embs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val q0 = rows.filter(_._1 == 0L).minBy(_._2)
    val hand = embs.filter(_._1 != 0L)
      .map { case (id, e) =>
        id -> embs(0L).zip(e).count { case (a, b) => (a > 0) != (b > 0) }
      }
    val best = hand.minBy { case (id, h) => (h, id) }
    assert((q0._3, q0._4) == ((best._1, best._2.toLong)),
      s"rank-1 for q0: declared (${q0._3},${q0._4}) vs hand $best")
  }

  test("ood zscore: top-20 by z, z recomputable from declared dist2 population") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_ood_centroid_zscore")(spark, sfDir)
      .select($"vec_id", $"label", $"dist2", $"z")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.length == 20)
    val zs = rows.map(_._4)
    assert(zs.toSeq == zs.sorted.reverse.toSeq, "not sorted by z desc")
    // outliers must sit above their label's mean distance: z > 0 for all
    // top-20 on any non-degenerate fixture
    assert(zs.forall(_ > 0.0), "a declared outlier has non-positive z")
  }

  test("label confusion: shares sum to 1 per label, totals cover the corpus") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_label_confusion")(spark, sfDir)
      .select($"label", $"nearest_label", $"n", $"share")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (label, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-4, s"label $label shares sum to $s")
    }
    // every vector lands in exactly one (label, nearest) cell
    val total = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_._3).sum == total, s"confusion mass ${rows.map(_._3).sum} vs $total")
    // diagonal dominance sanity: on average, own-centroid is the nearest
    // at least as often as any single foreign label
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum.toDouble / total
    assert(diag > 1.0 / 10, s"diagonal share $diag no better than uniform")
  }

  test("hard negatives: cross-label, 3 per query, harder than the random baseline") {
    import spark.implicits._
    val hard = SparkEntry.queries("sample_hard_negatives")(spark, sfDir)
      .select($"q_id", $"q_label", $"rank", $"neg_id", $"neg_label", $"cos")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(hard.map(_._1).distinct.length == 20)
    hard.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L), s"query $q ranks")
      assert(rs.forall(r => r._5 != r._2), s"query $q drew a same-label negative")
      // within a query, ranked by similarity descending (hardest first)
      val byRank = rs.sortBy(_._3).map(_._6)
      assert(byRank.toSeq == byRank.sorted.reverse.toSeq, s"query $q not cos-ranked")
    }
    // hardness: mean similarity of mined negatives must beat the mean
    // similarity of ALL cross-label pairs for the same queries (else the
    // ANN mining did nothing)
    val embs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byId = embs.map(e => e._1 -> e).toMap
    val qs = embs.filter(_._1 < 20)
    val randMean = qs.flatMap { q =>
      embs.filter(c => c._2 != q._2).map(c => cos(q._3, c._3))
    }.sum / qs.map(q => embs.count(_._2 != q._2)).sum
    val hardMean = hard.map(_._6).sum / hard.length
    assert(hardMean > randMean,
      s"mined negatives (mean cos $hardMean) no harder than random ($randMean)")
    // each mined negative's exact cosine matches a driver-side recompute
    hard.take(5).foreach { case (q, _, _, n, _, c) =>
      val hand = math.rint(cos(byId(q)._3.map(identity), byId(n)._3) * 1e6) / 1e6
      assert(math.abs(c - hand) < 2e-6, s"pair ($q,$n): declared $c vs hand $hand")
    }
  }

  test("label propagation: labels are node ids, communities non-trivial on the backbone") {
    import spark.implicits._
    val rows = SparkEntry.queries("graph_label_propagation")(spark, sfDir)
      .select($"n_nationkey", $"community", $"community_size")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 25)
    val nodes = rows.map(_._1).toSet
    assert(rows.forall(r => nodes.contains(r._2)), "community label is not a node id")
    // community_size is consistent with the label multiset
    val sizes = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (n, c, s) =>
      assert(sizes(c) == s, s"node $n community $c declared size $s actual ${sizes(c)}")
    }
    // the top-3 backbone must produce neither 25 singletons nor one bloc
    assert(sizes.size > 1 && sizes.size < 25, s"degenerate community count ${sizes.size}")
  }

  test("kcore: survivors form a true k-core (min in-core degree >= 8) and are non-trivial") {
    import spark.implicits._
    val rows = SparkEntry.queries("graph_kcore_trade")(spark, sfDir)
      .select($"n_nationkey", $"core_degree").as[(Long, Long)].collect()
    // non-degenerate: some nodes peeled away, some survive (sf0.001: 12 of 25)
    assert(rows.nonEmpty && rows.length < 25, s"degenerate core size ${rows.length}")
    // the fixpoint property: if the 4 unrolled peeling rounds were ever
    // too few, some survivor would still have degree < k
    assert(rows.forall(_._2 >= 8), s"survivor below k=8: ${rows.filter(_._2 < 8).mkString(",")}")
    // handshake: degree sum is even and bounded by the complete graph
    val degSum = rows.map(_._2).sum
    assert(degSum % 2 == 0 && degSum <= rows.length.toLong * (rows.length - 1))
  }

  test("kcenter coreset: 8 distinct picks, deterministic seed, non-increasing radius") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_coreset_kcenter")(spark, sfDir)
      .select($"rnd".cast("long"), $"vec_id", $"radius_sq").as[(Long, Long, Double)].collect()
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 8L), "rounds not dense 1..8")
    assert(rows.map(_._2).distinct.length == 8, "duplicate pick")
    assert(rows.head._2 == Tables.embeddings(spark, sfDir).agg(min($"vec_id"))
      .as[Long].head(), "seed is not the lowest vec_id")
    // farthest-point traversal: each new pick's coverage radius cannot
    // exceed the previous one (the chosen set only grows)
    val radii = rows.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"radius increased: ${radii.mkString(",")}")
    assert(radii.forall(_ > 0.0), "zero coverage radius — picks collapsed")
  }

  test("silhouette: means within [-1,1], totals cover the corpus, sign agrees with confusion") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_silhouette_centroid")(spark, sfDir)
      .select($"label", $"n", $"mean_sil", $"neg_share")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum ==
      Tables.embeddings(spark, sfDir).count(), "totals don't cover the corpus")
    assert(rows.forall(r => r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9),
      "mean silhouette outside [-1,1]")
    assert(rows.forall(r => r._4 >= 0.0 && r._4 <= 1.0), "neg_share outside [0,1]")
    // a member counted "confused" by vec_label_confusion (nearest foreign
    // centroid) has b < a, i.e. negative silhouette — so per label the
    // negative share must be at least the confusion off-diagonal share
    val offDiag = SparkEntry.queries("vec_label_confusion")(spark, sfDir)
      .where($"label" =!= $"nearest_label")
      .groupBy($"label").agg(sum($"n").as("m"))
      .as[(Long, Long)].collect().toMap
    for ((label, n, _, negShare) <- rows) {
      val confused = offDiag.getOrElse(label, 0L).toDouble / n
      assert(negShare >= confused - 1e-6,
        s"label $label neg_share $negShare below confusion share $confused")
    }
  }
  test("twonn: totals cover the corpus, log-ratio mass nonnegative, id_hat positive") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_twonn_intrinsic_dim")(spark, sfDir)
      .select($"label", $"n_points", $"n_dup_excluded",
        $"sum_log_mu".cast("double"), $"id_hat".cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum ==
      Tables.embeddings(spark, sfDir).count(), "totals don't cover the corpus")
    assert(rows.forall(r => r._3 >= 0 && r._3 <= r._2), "dup count out of range")
    // r2 >= r1 always, so each ln(r2/r1) >= 0 and the estimator is positive
    assert(rows.forall(_._4 >= -1e-9), "negative sum_log_mu")
    assert(rows.forall(r => r._5.forall(_ > 0.0)), "non-positive intrinsic dim")
    // cross-consistency with the shared kNN stage: nn1 cosine >= nn2 cosine
    val knn = graft.operators.VectorOps.cachedKnn5(spark, sfDir).filter($"rn" <= 2)
      .groupBy($"src")
      .agg(min(when($"rn" === 1, $"cos")).as("c1"),
        min(when($"rn" === 2, $"cos")).as("c2"))
      .as[(Long, Double, Double)].collect()
    assert(knn.forall(r => r._2 >= r._3 - 1e-9), "rank-1 cosine below rank-2")
  }
  test("embedding drift: halves cover the corpus, cos and shift match a recompute") {
    import spark.implicits._
    val rows = SparkEntry.queries("vec_embedding_drift")(spark, sfDir)
      .select($"label", $"n_even", $"n_odd", $"cos_centroids".cast("double"),
        $"l2_shift_sq".cast("double"))
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => r._2 + r._3).sum ==
      Tables.embeddings(spark, sfDir).count(), "halves don't cover the corpus")
    assert(rows.forall(r => r._4 <= 1.0 + 1e-9 && r._4 >= -1.0 - 1e-9), "cos outside [-1,1]")
    assert(rows.forall(_._5 >= 0.0), "negative squared shift")
    // hand recompute both statistics from raw embeddings (this fixture's
    // label centroids sit near the origin, so the cosine is small — the
    // check is the ALGEBRA, not a cluster-tightness assumption)
    val raw = Tables.embeddings(spark, sfDir)
      .select($"label", ($"vec_id" % 2).as("half"), $"embedding")
      .as[(Long, Long, Array[Float])].collect()
    for ((label, _, _, cos, l2) <- rows) {
      def centroid(h: Long): Array[Double] = {
        val vs = raw.filter(r => r._1 == label && r._2 == h).map(_._3)
        val d = vs.head.length
        Array.tabulate(d)(i => vs.map(_(i).toDouble).sum / vs.length)
      }
      val (ca, cb) = (centroid(0), centroid(1))
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val na = math.sqrt(ca.map(x => x * x).sum)
      val nb = math.sqrt(cb.map(x => x * x).sum)
      assert(math.abs(cos - dot / (na * nb)) < 1e-3, s"label $label cos $cos")
      val l2Ref = ca.zip(cb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(l2 - l2Ref) < 1e-3, s"label $label l2 $l2 vs $l2Ref")
    }
  }

  test("RecallProbe's persisted residual-ADC curve equals vec_ann_recall_curve") {
    // the drift guard RECALL.md relies on: the probe's table is the
    // declared row's numbers, not a re-derivation that can fall behind
    val probe = RecallProbe.curves(spark, sfDir)
      .find(_.label.startsWith("end-to-end ADC, residual PQ (persisted"))
      .getOrElse(fail("RecallProbe has no persisted residual-ADC curve"))
    def points(df: org.apache.spark.sql.DataFrame) =
      df.select(col("nprobe"), col("recall_at_3"), col("recall_at_5"))
        .orderBy(col("nprobe")).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val declared = points(operators.VectorOps.vecAnnRecallCurve.fn(spark, sfDir))
    assert(declared.map(_._1) == Seq(1L, 3L, 8L))
    assert(points(probe.rows) == declared)
  }
}
