package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The compiled argmin/top-k expressions (functions/NearestCentroid.scala)
  * claim VALUE- AND ORDER-IDENTITY with the interpreted HOF formulations
  * they replaced in round 9. This spec pins that claim directly: both
  * formulations run over the real corpus and must match cell-for-cell —
  * including the 6 dp HALF_UP round, the Double.compare struct order,
  * id tiebreaks, multi-probe top-k order, and the IntegerType-id
  * variant (vec_label_confusion's clabel).
  */
class NearestCentroidSpec extends SparkSpecBase {

  private def e: DataFrame = operators.VectorOps.withNorm(spark, sfDir)

  /** The pre-r9 interpreted formulation of withNearestCells, verbatim. */
  private def hofNearestCells(df: DataFrame, cents: DataFrame, keep: Int,
      rounded: Boolean): DataFrame = {
    val cb = operators.VectorOps.oneRowArray(
      cents, "cbarr", col("cell"), col("cvec"), col("cnrm"))
    val scored = transform(col("cbarr"), c => {
      val sim = GraftFunctions.dot(col("emb"), c("cvec")) / (col("nrm") * c("cnrm"))
      struct((-(if (rounded) round(sim, 6) else sim)).as("negsim"),
        c("cell").as("cell"))
    })
    val top = df.crossJoin(broadcast(cb))
    val sel =
      if (keep == 1) top.withColumn("tc", array_min(scored))
      else top.withColumn("tc", explode(slice(array_sort(scored), 1, keep)))
    sel.withColumn("cell", col("tc")("cell"))
      .withColumn("csim", -col("tc")("negsim"))
      .drop("cbarr", "tc")
  }

  /** The pre-r9 interpreted formulation of withNearestCentroidD2. */
  private def hofNearestL2(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cb = operators.VectorOps.oneRowArray(
      cents.withColumn("cnn2", GraftFunctions.dot(col(vecCol), col(vecCol))),
      "cbarr", col(idCol), col(vecCol), col("cnn2"))
    val scored = transform(col("cbarr"), c => {
      val d2 = round(
        col("dee2") - lit(2.0) * GraftFunctions.dot(col("emb"), c(vecCol)) + c("cnn2"), 6)
      struct(d2.as("d2"), c(idCol).as("id"))
    })
    df.withColumn("dee2", GraftFunctions.dot(col("emb"), col("emb")))
      .crossJoin(broadcast(cb))
      .withColumn("tc", array_min(scored))
      .withColumn("nid", col("tc")("id"))
      .withColumn("nd2", col("tc")("d2"))
      .drop("cbarr", "tc", "dee2")
  }

  private def sortedRows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("cosine keep=1: compiled argmax equals the interpreted HOF, rounded and raw") {
    val cents = operators.VectorOps.ivfCodebook(e)
    for (rounded <- Seq(true, false)) {
      val fast = sortedRows(
        operators.VectorOps.withNearestCells(e, cents, keep = 1, rounded = rounded),
        "vec_id", "cell", "csim")
      val slow = sortedRows(
        hofNearestCells(e, cents, keep = 1, rounded = rounded),
        "vec_id", "cell", "csim")
      assert(fast == slow, s"keep=1 rounded=$rounded diverged")
    }
  }

  test("cosine keep=3 multi-probe: compiled top-k equals the interpreted sort+slice") {
    val cents = operators.VectorOps.ivfCodebook(e)
    val fast = sortedRows(
      operators.VectorOps.withNearestCells(e, cents, keep = 3, rounded = true),
      "vec_id", "cell", "csim")
    val slow = sortedRows(
      hofNearestCells(e, cents, keep = 3, rounded = true),
      "vec_id", "cell", "csim")
    assert(fast == slow, "multi-probe top-3 diverged")
    // 3 rows per vector (nlist ≥ 3 at every SF)
    assert(fast.size == e.count() * 3)
  }

  test("L2 argmin: compiled equals interpreted, long ids") {
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    val fast = sortedRows(
      operators.VectorOps.withNearestCentroidD2(e, cents, "cid", "cemb", "nid", "nd2"),
      "vec_id", "nid", "nd2")
    val slow = sortedRows(hofNearestL2(e, cents, "cid", "cemb"), "vec_id", "nid", "nd2")
    assert(fast == slow, "L2 argmin diverged on long ids")
  }

  test("L2 argmin: IntegerType id flows through (the label-confusion shape)") {
    import spark.implicits._
    val cents = Tables.embeddings(spark, sfDir)
      .select($"label", $"embedding".cast("array<double>").as("cemb"))
      .groupBy($"label").agg(first($"cemb").as("cemb"))
      .select($"label".as("clabel"), $"cemb")
    val out = operators.VectorOps
      .withNearestCentroidD2(e, cents, "clabel", "cemb", "nlabel", "nd2")
    assert(out.schema("nlabel").dataType ==
      org.apache.spark.sql.types.IntegerType, "id type must pass through")
    val fast = sortedRows(out, "vec_id", "nlabel", "nd2")
    val slow = sortedRows(hofNearestL2(e, cents, "clabel", "cemb"), "vec_id", "nid", "nd2")
    assert(fast == slow, "L2 argmin diverged on int ids")
  }

  test("NaN cosine (zero-norm centroid) ranks FIRST — the csim-DESC / SQL-mirror order") {
    import spark.implicits._
    // a zero-norm centroid makes every cosine against it NaN; both Spark
    // SQL's ORDER BY csim DESC and DuckDB sort NaN as the LARGEST double,
    // so the row_number formulations the compiled top-k replaced (and
    // every oracle mirror) rank it first — the compiled comparator must
    // agree (r9 ADVICE: plain Double.compare on negsim ranked it last)
    val dim = e.select(size($"emb")).as[Int].head()
    val zero = Seq.fill(dim)(0.0)
    val cents = e.filter($"vec_id" < 2)
      .select($"vec_id".as("cell"), $"emb".as("cvec"), $"nrm".as("cnrm"))
      .unionAll(spark.range(1).select(
        lit(99L).as("cell"),
        typedLit(zero).as("cvec"), lit(0.0).as("cnrm")))
    val out = operators.VectorOps
      .withNearestCells(e.limit(5), cents, keep = 2, rounded = true)
      .select($"vec_id", $"cell", $"csim")
    // SQL reference: the row_number-over-csim-DESC formulation
    e.limit(5).select($"vec_id", $"emb", $"nrm").createOrReplaceTempView("nan_q")
    cents.createOrReplaceTempView("nan_cb")
    // ANSI mode turns a 0/0 double division into an error, so the IEEE
    // NaN the compiled expression produces is spelled out explicitly;
    // what this pins is the ORDER BY csim DESC placement of that NaN
    val ref = spark.sql(
      """WITH scored AS (
        |  SELECT q.vec_id, c.cell,
        |    CASE WHEN q.nrm * c.cnrm = 0.0D THEN double('NaN')
        |         ELSE round(aggregate(zip_with(q.emb, c.cvec, (a, b) -> a * b),
        |           0.0D, (acc, x) -> acc + x) / (q.nrm * c.cnrm), 6) END AS csim
        |  FROM nan_q q CROSS JOIN nan_cb c)
        |SELECT vec_id, cell, csim FROM (
        |  SELECT vec_id, cell, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS cr
        |  FROM scored)
        |WHERE cr <= 2""".stripMargin)
    val fast = sortedRows(out, "vec_id", "cell", "csim")
    val slow = sortedRows(ref, "vec_id", "cell", "csim")
    assert(fast == slow, "NaN ranking diverged from the csim-DESC formulation")
    // and the NaN centroid is indeed the rank-1 probe everywhere
    val first = operators.VectorOps
      .withNearestCells(e.limit(5), cents, keep = 1, rounded = true)
      .select($"cell").distinct().as[Long].collect().toSet
    assert(first == Set(99L), "zero-norm centroid must rank first under csim DESC")
  }

  // ---- PQ kernels over the flat (sub, cid, cv, cnn2) codebook layout ----
  // dim 8, m = 4 subspaces of width 3: subspace 2 is truncated to two
  // elements, subspace 3 starts past the end (empty slice), subspace 1
  // has no codebook entries, and subspace 0 holds two identical centroids
  private val pqM = 4
  private val pqW = 3
  private val pqK = 4

  private def pqVectors: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def v(n: Int) = Seq.fill(n)(math.rint(rnd.nextGaussian() * 1000) / 1000)
    (0 until 40).map(i => (i.toLong, v(8))).toDF("vec_id", "emb")
  }

  private def pqCodebook(cidType: String): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def v(n: Int) = Seq.fill(n)(math.rint(rnd.nextGaussian() * 1000) / 1000)
    val twin = v(3)
    val entries = Seq((0L, 0, v(3)), (0L, 1, twin), (0L, 2, v(3)), (0L, 3, twin),
      (2L, 0, v(3)), (2L, 2, v(3)), (2L, 3, v(3)), (3L, 1, v(3)), (3L, 3, v(3)))
    entries.toDF("sub", "cid", "cv").withColumn("cid", col("cid").cast(cidType))
      .withColumn("cnn2", GraftFunctions.dot(col("cv"), col("cv")))
  }

  private def withPqArr(df: DataFrame, cidType: String): DataFrame =
    df.crossJoin(broadcast(operators.VectorOps.oneRowArray(pqCodebook(cidType),
      "pqarr", col("sub"), col("cid"), col("cv"), col("cnn2"))))

  /** Interpreted PQ encode: per subspace, slice + `array_min` argmin of
    * (round₆(v·v − 2·v·cv + cnn2), cid) over that subspace's entries.
    */
  private def hofPqEncode(emb: String): org.apache.spark.sql.Column =
    array((0 until pqM).map { s =>
      val v = slice(col(emb), s * pqW + 1, pqW)
      val best = array_min(transform(filter(col("pqarr"), c => c("sub") === s), c =>
        struct(round(GraftFunctions.dot(v, v) - lit(2.0) * GraftFunctions.dot(v, c("cv")) +
          c("cnn2"), 6).as("d2"), c("cid").as("cid"))))
      struct(best("cid").as("cid"), best("d2").as("d2"))
    }: _*)

  /** Interpreted ADC table: slot sub·k + cid holds round₆(v·v − 2·v·cv +
    * cnn2) for that entry, NaN where no entry maps.
    */
  private def hofPqLut(qr: String): org.apache.spark.sql.Column =
    transform(sequence(lit(0L), lit(pqM * pqK - 1L)), slot => {
      val hit = filter(col("pqarr"), c => c("sub") * pqK + c("cid") === slot)
      val d2s = transform(hit, c => {
        val v = slice(col(qr), c("sub").cast("int") * pqW + 1, lit(pqW))
        round(GraftFunctions.dot(v, v) - lit(2.0) * GraftFunctions.dot(v, c("cv")) +
          c("cnn2"), 6)
      })
      coalesce(try_element_at(d2s, lit(1)), lit(Double.NaN))
    })

  for (cidType <- Seq("int", "long")) {
    test(s"pqEncodeAll equals the per-subspace slice + array_min argmin ($cidType cids)") {
      import graft.functions.NearestCentroidFunctions.pqEncodeAll
      val out = withPqArr(pqVectors, cidType)
        .select(col("vec_id"), pqEncodeAll(col("emb"), col("pqarr"), pqM, pqW).as("fast"),
          hofPqEncode("emb").as("slow"))
      val cidField = out.schema("fast").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        .asInstanceOf[org.apache.spark.sql.types.StructType]("cid").dataType
      assert(cidField == pqCodebook(cidType).schema("cid").dataType,
        "cid type must pass through")
      val rows = out.collect()
      assert(rows.length == 40)
      for (r <- rows) {
        assert(r.get(1).toString == r.get(2).toString, s"vec ${r.getLong(0)} diverged")
        val empty = r.getSeq[org.apache.spark.sql.Row](1)(1)
        assert(empty != null && empty.isNullAt(0) && empty.isNullAt(1),
          "a subspace without entries encodes to a null-fielded struct")
        // the twin centroids (cids 1 and 3) tie exactly: the lower cid wins
        assert(r.getSeq[org.apache.spark.sql.Row](1).head.get(0).toString != "3")
      }
    }

    test(s"pqLutAll equals the round(v·v − 2·v·cv + cnn2, 6) slot table ($cidType cids)") {
      import graft.functions.NearestCentroidFunctions.pqLutAll
      val rows = withPqArr(pqVectors, cidType)
        .select(col("vec_id"), pqLutAll(col("emb"), col("pqarr"), pqM, pqW, pqK).as("fast"),
          hofPqLut("emb").as("slow"))
        .collect()
      assert(rows.length == 40)
      for (r <- rows) {
        val fast = r.getSeq[Double](1)
        val slow = r.getSeq[Double](2)
        assert(fast.length == pqM * pqK)
        assert(fast.map(java.lang.Double.doubleToRawLongBits) ==
          slow.map(java.lang.Double.doubleToRawLongBits), s"vec ${r.getLong(0)} diverged")
        assert((pqK until 2 * pqK).forall(s => fast(s).isNaN),
          "a subspace without entries leaves its slots NaN")
      }
    }
  }

  test("exact-tie semantics: duplicated centroids resolve to the lowest id in both paths") {
    import spark.implicits._
    // two centroids with IDENTICAL vectors: every query ties exactly and
    // must pick the lower id — the Double.compare-then-id contract
    val c0 = e.orderBy($"vec_id").limit(1).select($"emb".as("cemb"))
    val cents = c0.select(lit(5L).as("cid"), $"cemb")
      .unionAll(c0.select(lit(2L).as("cid"), $"cemb"))
      .unionAll(e.filter($"vec_id" === 7).select(lit(9L).as("cid"), $"emb".as("cemb")))
    val out = operators.VectorOps
      .withNearestCentroidD2(e, cents, "cid", "cemb", "nid", "nd2")
    val fast = sortedRows(out, "vec_id", "nid", "nd2")
    val slow = sortedRows(hofNearestL2(e, cents, "cid", "cemb"), "vec_id", "nid", "nd2")
    assert(fast == slow, "tie resolution diverged")
    val winners = out.select($"nid").distinct().as[Long].collect().toSet
    assert(!winners.contains(5L), "ties must never pick the higher duplicate id")
  }
}
