package graft

import java.math.{BigDecimal => JBD, RoundingMode}

/** Spark's double rounding outside a plan, for the code that replicates
  * a plan's arithmetic bit-for-bit: the driver loops (pagerank, markov,
  * power iteration, MMR) and the NearestCentroid kernels' round₆.
  * `JBD.valueOf` is Double.toString-based — the same entry point Spark's
  * `Round` takes on DoubleType.
  */
private[graft] object DriverRound {

  /** Spark's `round(x, scale)`: HALF_UP at `scale` decimal places; NaN
    * and ±Inf pass through unchanged, as they do in Spark.
    */
  def apply(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x else decimal(x, scale).doubleValue

  /** `x` rounded HALF_UP to `scale` places as an exact decimal — the
    * term of a DECIMAL(p, scale) sum. Finite input only: a decimal has
    * no NaN or infinity.
    */
  def decimal(x: Double, scale: Int): JBD = JBD.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
}
