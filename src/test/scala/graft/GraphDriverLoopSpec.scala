package graft

import org.apache.spark.sql.functions._

/** Focused checks for the r14 driver-side graph iterations: the bounded
  * per-round frames (≤ nation² rows by construction) now iterate on the
  * driver instead of per-round checkpointed Spark jobs, so these tests
  * recompute the same answers with INDEPENDENT algorithms (per-source
  * BFS instead of min-plus relaxation; exhaustive walk enumeration
  * instead of (max, min) DP) and compare exactly. The DuckDB oracle
  * already re-derives every declared row from SQL; this pins the
  * iteration internals in-repo.
  */
class GraphDriverLoopSpec extends SparkSpecBase {

  /** The top-3-per-node symmetrized backbone exactly as the LPA /
    * closeness / bottleneck queries declare it (weights kept).
    */
  private def backbone(): Seq[(Long, Long, java.math.BigDecimal)] = {
    import spark.implicits._
    val e0 = operators.Flagships.nationTradeEdges(spark, sfDir)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy($"w".desc, $"b")
    e0.select($"src".as("a"), $"dst".as("b"), $"wgt")
      .unionAll(e0.select($"dst".as("a"), $"src".as("b"), $"wgt"))
      .where($"a" =!= $"b")
      .groupBy($"a", $"b")
      .agg(sum($"wgt").cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("w"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 3)
      .select($"a", $"b", $"w")
      .collect().toSeq
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getDecimal(2)))
  }

  test("harmonic closeness: driver min-plus equals independent per-source BFS") {
    import spark.implicits._
    val adj = backbone().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // hop-limited BFS from every source over the directed backbone —
    // unit edges make ≤5-hop shortest distances a plain frontier walk
    def bfs(src: Long): Map[Long, Long] = {
      var dist = Map.empty[Long, Long]
      var frontier = adj.getOrElse(src, Nil).toSet - src
      var d = 1L
      while (frontier.nonEmpty && d <= 5L) {
        dist ++= frontier.filterNot(dist.contains).map(_ -> d)
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).filterNot(v =>
          v == src || dist.contains(v))
        d += 1
      }
      dist
    }
    val rows = SparkEntry.queries("graph_harmonic_closeness")(spark, sfDir)
      .select($"n_nationkey".cast("long"), $"n_reached", $"eccentricity", $"harmonic")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (u, nReached, ecc, harmonic) =>
      val d = bfs(u)
      assert(d.size.toLong == nReached, s"node $u reach ${d.size} vs declared $nReached")
      assert(d.values.max == ecc, s"node $u ecc ${d.values.max} vs declared $ecc")
      val hand = d.values.map(x =>
        java.math.BigDecimal.valueOf(1.0 / x)
          .setScale(9, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_)).doubleValue
      assert(math.abs(hand - harmonic) < 1e-9, s"node $u harmonic $hand vs $harmonic")
    }
  }

  test("bottleneck paths: driver (max,min) DP equals exhaustive walk enumeration") {
    import spark.implicits._
    val bb = backbone()
    val adj = bb.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    // enumerate every ≤5-edge walk that never returns to its origin
    // (the relaxation's nxt =!= u guard); maximin over walks per (u, v)
    def widest(src: Long): Map[Long, java.math.BigDecimal] = {
      val best = scala.collection.mutable.Map.empty[Long, java.math.BigDecimal]
      def go(at: Long, minW: java.math.BigDecimal, hops: Int): Unit = {
        if (hops < 5) adj.getOrElse(at, Nil).foreach { case (nxt, w) =>
          if (nxt != src) {
            val m = if (minW.compareTo(w) <= 0) minW else w
            if (best.get(nxt).forall(_.compareTo(m) < 0)) best(nxt) = m
            go(nxt, m, hops + 1)
          }
        }
      }
      adj.getOrElse(src, Nil).foreach { case (v, w) =>
        if (best.get(v).forall(_.compareTo(w) < 0)) best(v) = w
        go(v, w, 1)
      }
      best.toMap
    }
    val rows = SparkEntry.queries("graph_bottleneck_paths")(spark, sfDir)
      .select($"n_nationkey".cast("long"), $"n_reached",
        $"best_bottleneck", $"weakest_bottleneck")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (u, nReached, bestW, weakestW) =>
      val b = widest(u)
      assert(b.size.toLong == nReached, s"node $u reach ${b.size} vs declared $nReached")
      val vs = b.values.toSeq
      assert(math.abs(vs.max.doubleValue - bestW) < 1e-9,
        s"node $u best ${vs.max} vs declared $bestW")
      assert(math.abs(vs.min.doubleValue - weakestW) < 1e-9,
        s"node $u weakest ${vs.min} vs declared $weakestW")
    }
  }

  test("kcore: driver peel reaches the same fixpoint as peel-until-stable") {
    import spark.implicits._
    val e0 = operators.Flagships.nationTradeEdges(spark, sfDir)
    val und = e0.where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"), $"wgt")
      .groupBy($"u", $"v")
      .agg(sum($"wgt").cast(org.apache.spark.sql.types.DecimalType(28, 2)).as("w"))
    val thr = und.agg((sum($"w").cast("double") / count(lit(1))).as("t"))
    var live = und.crossJoin(thr).where($"w".cast("double") >= $"t")
      .select($"u", $"v").as[(Int, Int)].collect().toSeq
    // peel until NOTHING changes (not a fixed round count) — if 4 rounds
    // were ever too few, this diverges from the declared output
    var changed = true
    while (changed) {
      val deg = (live.map(_._1) ++ live.map(_._2)).groupBy(identity).map { case (n, g) => (n, g.size) }
      val keep = deg.collect { case (n, d) if d >= 8 => n }.toSet
      val next = live.filter(p => keep(p._1) && keep(p._2))
      changed = next.size != live.size
      live = next
    }
    val handDeg = (live.map(_._1) ++ live.map(_._2)).groupBy(identity)
      .map { case (n, g) => (n.toLong, g.size.toLong) }
    val rows = SparkEntry.queries("graph_kcore_trade")(spark, sfDir)
      .select($"n_nationkey".cast("long"), $"core_degree").as[(Long, Long)].collect()
    assert(rows.toMap == handDeg, s"declared ${rows.toMap} vs peel-to-fixpoint $handDeg")
  }

  test("pagerank drops trade edges whose nation is missing, as the oracle does") {
    import spark.implicits._
    // a copy of the fixture whose nation table lacks the first supplier's
    // nation, so that nation is both an edge source and an edge target
    val dirty = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(scratchPath("orphan_nation")))
    for (t <- Tables.names if t != "nation")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        dirty.resolve(s"$t.parquet"))
    val gone = Tables.supplier(spark, sfDir).orderBy($"s_suppkey")
      .select($"s_nationkey".cast("long")).as[Long].head()
    Tables.nation(spark, sfDir).where($"n_nationkey" =!= gone)
      .write.parquet(dirty.resolve("nation.parquet").toString)
    val rows = SparkEntry.queries("graph_pagerank_trade")(spark, dirty.toString)
      .select($"n_nationkey".cast("long"), $"pagerank").as[(Long, Double)].collect()
    assert(rows.length == 24, s"expected the 24 remaining nations, got ${rows.length}")
    assert(!rows.exists(_._1 == gone), s"removed nation $gone still ranked")
    assert(rows.forall(r => java.lang.Double.isFinite(r._2)), s"non-finite rank in ${rows.toSeq}")
    // the dropped edges send no mass away: the 24 ranks (6 dp each)
    // still sum to 1
    val mass = rows.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass $mass leaked")
  }

  test("label propagation orders tied labels naturally on string node keys") {
    import spark.implicits._
    // a copy of the fixture whose nation keys are strings ("10" sorts
    // before "2", and a numeric cast of a label throws) and whose line
    // items all have unit net price, so every trade weight is a small
    // line count and tied votes are common
    val dirty = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(scratchPath("string_nation")))
    val rewrite: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
      "nation" -> (_.withColumn("n_nationkey", $"n_nationkey".cast("string"))),
      "supplier" -> (_.withColumn("s_nationkey", $"s_nationkey".cast("string"))),
      "customer" -> (_.withColumn("c_nationkey", $"c_nationkey".cast("string"))),
      "lineitem" -> (_.withColumn("l_extendedprice", lit(1.0)).withColumn("l_discount", lit(0.0))))
    for (t <- Tables.names) rewrite.get(t) match {
      case Some(f) =>
        f(Tables.table(spark, sfDir, t)).write.parquet(dirty.resolve(s"$t.parquet").toString)
      case None =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
          dirty.resolve(s"$t.parquet"))
    }
    val dir = dirty.toString
    // independent re-derivation: three synchronous rounds over the top-3
    // backbone, each node taking the label of row_number 1 over
    // (vote weight desc, label asc); a node without votes keeps its label
    val e0 = operators.Flagships.nationTradeEdges(spark, dir)
    val sym = e0.select($"src".as("a"), $"dst".as("b"), $"wgt")
      .unionAll(e0.select($"dst".as("a"), $"src".as("b"), $"wgt"))
      .where($"a" =!= $"b")
      .groupBy($"a", $"b")
      .agg(sum($"wgt").cast(org.apache.spark.sql.types.DecimalType(28, 2)).as("w"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"a").orderBy($"w".desc, $"b")))
      .where($"rn" <= 3)
    val byVote = org.apache.spark.sql.expressions.Window
      .partitionBy($"node").orderBy($"vw".desc, $"lab")
    val lab3 = (1 to 3).foldLeft(Tables.nation(spark, dir)
        .select($"n_nationkey".as("node"), $"n_nationkey".as("lab"))) { (lab, _) =>
      val won = sym.join(lab, $"b" === $"node")
        .groupBy($"a".as("node"), $"lab").agg(sum($"w").as("vw"))
        .withColumn("rn", row_number().over(byVote))
        .where($"rn" === 1)
        .select($"node", $"lab".as("won"))
      lab.join(won, Seq("node"), "left")
        .select($"node", coalesce($"won", $"lab").as("lab"))
    }.as[(String, String)].collect().toMap
    val sizes = lab3.values.groupBy(identity).map { case (l, g) => (l, g.size.toLong) }
    val rows = SparkEntry.queries("graph_label_propagation")(spark, dir)
      .select($"n_nationkey", $"community", $"community_size")
      .as[(String, String, Long)].collect().toSeq
    assert(rows.length == 25, s"expected 25 nations, got ${rows.length}")
    assert(rows.map(r => r._1 -> r._2).toMap == lab3,
      s"declared ${rows.map(r => r._1 -> r._2)} vs re-derived $lab3")
    rows.foreach(r => assert(r._3 == sizes(r._2), s"community ${r._2} size ${r._3}"))
  }

  test("markov stationary on 10^5 events over 9·10^4 event types matches a sparse iterate") {
    import spark.implicits._
    val t0 = System.nanoTime()
    // the sf0.1 events (10^5 rows, 1500 users of 45–99 events each) with
    // event_type rewritten to one of 90 000 states: every state is some
    // event's successor or has one, so the declared state set is all of them
    val big = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(scratchPath("markov_vocab")))
    Tables.events(spark, new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.1").toString)
      .withColumn("event_type", concat(lit("t"), ($"event_id" % 90000).cast("string")))
      .write.parquet(big.resolve("events.parquet").toString)
    val dir = big.toString
    val rows = SparkEntry.queries("agg_markov_stationary")(spark, dir)
      .select($"event_type", $"stationary_prob", $"empirical_share")
      .as[(String, Double, Double)].collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .where($"nxt".isNotNull)
      .groupBy($"event_type", $"nxt").count()
      .as[(String, String, Long)].collect()
    val states = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    assert(states.length == 90000, s"${states.length} states")
    assert(rows.length == states.length && rows.map(_._1).toSet == states.toSet,
      s"${rows.length} rows for ${states.length} states")
    assert(rows.forall(_._2 >= 0.0))
    val eSum = rows.map(_._3).sum
    assert(math.abs(eSum - 1.0) < 1e-6, s"empirical shares sum to $eSum")
    // independent SPARSE iterate: each round sums only a state's incoming
    // transitions (the dense re-derivation is quadratic in the states)
    val rowSums = pairs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val incoming = pairs.map { case (c, n, cnt) =>
      (n, c, math.rint(cnt.toDouble / rowSums(c) * 1e9) / 1e9) }.groupBy(_._1)
    var pi = states.map(_ -> 1.0 / states.length).toMap
    for (_ <- 1 to 8) {
      pi = states.map { t =>
        val s = incoming.get(t).map(_.map { case (_, c, p) => p * pi(c) }.sum).getOrElse(0.0)
        t -> math.rint(s * 1e9) / 1e9
      }.toMap
    }
    // the declared value is the iterate rounded to 6 dp
    rows.foreach { case (t, sp, _) =>
      assert(math.abs(sp - pi(t)) < 1e-6, s"state $t: declared $sp vs sparse ${pi(t)}")
    }
    info(f"ran in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("DriverLoop.collect fails past its row ceiling, naming the relation") {
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException](
      DriverLoop.collect(spark.range(DriverLoop.MaxRows + 1L).toDF(), "oversized range"))
    assert(err.getMessage == s"driver relation oversized range: more than ${DriverLoop.MaxRows} rows")
    assert(DriverLoop.collect(spark.range(3).toDF(), "small range").length == 3)
    info(f"ran in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("DriverRound equals Spark round() on ordinary, tie and non-finite doubles") {
    import spark.implicits._
    val xs = Seq(0.0, -0.0, 1.0 / 3, -2.5e-10, 0.1234567895, -0.1234567895, 2.675,
      1e17, 123456.7890123456789, Double.MinPositiveValue, Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    for (scale <- Seq(0, 6, 9, 12)) {
      val viaSpark = xs.toDF("x").select(round($"x", scale)).as[Double].collect().toSeq
      val viaDriver = xs.map(DriverRound(_, scale))
      // compare bit patterns: NaN == NaN and -0.0 != 0.0 both count
      assert(viaDriver.map(java.lang.Double.doubleToLongBits) ==
        viaSpark.map(java.lang.Double.doubleToLongBits),
        s"scale $scale: driver $viaDriver vs Spark $viaSpark")
    }
  }
}
