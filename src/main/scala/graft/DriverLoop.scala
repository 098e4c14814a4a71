package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The driver side of the bounded iterative loops (PageRank, LPA,
  * k-core, closeness, bottleneck, Markov, PCA, the IVF split plan): the
  * one place a relation is collected to the driver, iterated there, and
  * rebuilt as a local relation. Each loop collects a table that its
  * plan bounds by construction (nation², a vocabulary, d²); this object
  * states the engine-wide ceiling behind that claim and fails fast,
  * naming the relation, when input breaks it.
  *
  * The loops stay eager: construction runs the collect. Moving them
  * into a deferred plan node changes only this object.
  */
private[graft] object DriverLoop {

  /** Rows any one driver loop may collect. The largest bounded table a
    * declared loop collects is the PCA Gram (d² = 4096 cells) or a
    * k×(k+1) Markov cell table; one million rows of a few columns is a
    * few hundred MB of boxed driver objects, past which a driver-side
    * iteration is the wrong plan rather than a slow one.
    * `spark.driver.maxResultSize` still guards the transfer itself;
    * this bound names the relation that broke the loop's assumption.
    */
  val MaxRows = 1000000

  /** `df.collect()`, failing with the relation's name when it returns
    * more than [[MaxRows]] rows. No `limit`/`take`: those would add a
    * `CollectLimit` and incremental jobs to the plan being collected.
    */
  def collect(df: DataFrame, what: String): Array[Row] = {
    val rows = df.collect()
    if (rows.length > MaxRows)
      throw new IllegalStateException(s"driver relation $what: more than $MaxRows rows")
    rows
  }

  /** The driver-side result back as a local relation with `schema`. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Path relaxation over `edges` (u, v, w): start from the edges, then
    * each round extends every path (u…v) by an edge (v, nxt) with
    * nxt ≠ u and keeps one value per (u, nxt) — `extend` combines the
    * path and edge values, `pick` chooses between two values of a pair.
    * (+, min) over unit edges is hop distance; (min, max) is the
    * widest-path bottleneck.
    */
  def relax[K, W](edges: Seq[(K, K, W)], rounds: Int)(
      extend: (W, W) => W, pick: (W, W) => W): Map[(K, K), W] = {
    val adj = edges.groupBy(_._1)
    var best: Map[(K, K), W] = edges.map { case (a, b, w) => ((a, b), w) }.toMap
    for (_ <- 1 to rounds) {
      val ext = best.toSeq.flatMap { case ((u, v), w) =>
        adj.getOrElse(v, Nil).collect { case (_, nxt, w2) if nxt != u => ((u, nxt), extend(w, w2)) }
      }
      best = (best.toSeq ++ ext)
        .groupBy(_._1).map { case (k, ws) => (k, ws.map(_._2).reduce(pick)) }
    }
    best
  }
}
