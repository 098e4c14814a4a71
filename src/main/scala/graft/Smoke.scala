package graft

/** Dev smoke runner mirroring the driver's t1 check: `entry(spark)` on
  * sf0.001 must return rows > 0. Usage: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(20, truncate = false)
    spark.stop()
  }
}
