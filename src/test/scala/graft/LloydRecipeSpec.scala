package graft

/** Both trained codebooks against a third implementation of their
  * recipe: plain-Scala Lloyd training over the embeddings collected to
  * the driver — stride seeds, nearest centroid by squared L2 rounded to
  * 6 dp ([[graft.DriverRound]]) with a cid tiebreak, each dimension's
  * mean as an exact BigDecimal sum of the scale-12 terms divided once in
  * double, and a centroid that captured nothing keeping its position.
  * The Spark build must equal it bit for bit, so a change that moves
  * the Spark build and its DuckDB mirror the same wrong way still fails
  * here.
  */
class LloydRecipeSpec extends SparkSpecBase {

  /** (vec_id, emb) of the corpus, id-ordered. */
  private lazy val corpus: Array[(Long, Array[Double])] =
    operators.VectorOps.withNorm(spark, sfDir).select("vec_id", "emb").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < math.min(a.length, b.length)) { s += a(j) * b(j); j += 1 }
    s
  }

  /** `iters` Lloyd rounds of `k` centroids per subspace over `m` slices
    * of width `w`, keyed (sub, cid).
    */
  private def lloyd(k: Long, m: Int, w: Int, iters: Int): Map[(Long, Long), Array[Double]] = {
    def slice(v: Array[Double], sub: Int): Array[Double] = v.slice(sub * w, sub * w + w)
    val stride = math.max(corpus.length / k, 1L)
    var cents: Map[(Long, Long), Array[Double]] = (for {
      (id, v) <- corpus.toSeq if id % stride == 0 && id / stride < k
      sub <- 0 until m
    } yield (sub.toLong, id / stride) -> slice(v, sub)).toMap
    for (_ <- 1 to iters) {
      val bySub = cents.toSeq.groupBy(_._1._1)
      val members = for ((_, v) <- corpus.toSeq; sub <- 0 until m) yield {
        val x = slice(v, sub)
        val xx = dot(x, x)
        val (_, cid) = bySub(sub.toLong)
          .map { case ((_, cid), c) => (DriverRound(xx - 2.0 * dot(x, c) + dot(c, c), 6), cid) }
          .min(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        (sub.toLong, cid) -> x
      }
      val means = members.groupBy(_._1).map { case (key, xs) =>
        key -> Array.tabulate(xs.head._2.length) { j =>
          xs.map(x => DriverRound.decimal(x._2(j), 12)).reduce(_.add(_)).doubleValue / xs.size
        }
      }
      cents = cents.map { case (key, c) => key -> means.getOrElse(key, c) }
    }
    cents
  }

  /** The (sub, cid) keys whose centroids differ in any bit, or exist on
    * one side only.
    */
  private def differing(a: Map[(Long, Long), Array[Double]],
      b: Map[(Long, Long), Array[Double]]): Seq[(Long, Long)] = {
    def bits(v: Option[Array[Double]]) = v.map(_.toSeq.map(java.lang.Double.doubleToLongBits))
    (a.keySet ++ b.keySet).toSeq.sorted.filter(key => bits(a.get(key)) != bits(b.get(key)))
  }

  test("ivfCodebook equals plain-Scala Lloyd: ⌈√n⌉ stride seeds, 3 rounds") {
    val nlist = math.ceil(math.sqrt(corpus.length.toDouble)).toLong
    val expected = lloyd(nlist, 1, Int.MaxValue, 3)
    val built = operators.VectorOps.ivfCodebook(operators.VectorOps.withNorm(spark, sfDir))
      .select("cell", "cvec").collect()
      .map(r => (0L, r.getLong(0)) -> r.getSeq[Double](1).toArray).toMap
    assert(built.size == nlist, s"${built.size} cells, expected $nlist")
    assert(differing(built, expected).isEmpty, "IVF cells differ from the driver-side recipe")
  }

  test("trainPqCodebook equals plain-Scala Lloyd: k = 16, m = 4, 2 rounds") {
    val expected = lloyd(16, 4, 16, 2)
    val built = operators.VectorOps.trainPqCodebook(operators.VectorOps.withNorm(spark, sfDir))
      .select("sub", "cid", "cv").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2).toArray).toMap
    assert(built.size == 64, s"${built.size} centroids, expected 4 × 16")
    assert(differing(built, expected).isEmpty, "PQ centroids differ from the driver-side recipe")
  }
}
