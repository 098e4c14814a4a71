package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}

/** The session contract and the warm-up every main and the test base
  * share, so a number from one main is comparable with a number from
  * another: the same master, partitions, time zone and log level, and
  * the same first-touch cost paid outside any query's clock.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees when it is unset. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core; callers that need
    * more chain `.config(...)` onto it. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** ERROR-only logging: Bench's result JSON and the probes' lines are
    * parsed from stdout, so a run must not drown them in WARN noise. */
  def session(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Pays every one-time cost before the first query's clock starts and
    * returns the four shared-stage clocks (text, vector, graph, window).
    *
    * JVM/codegen/reader warmup first, then EVERY table is touched (footer
    * parse, reader codegen, OS page cache) so first-touch cost never lands
    * on an arbitrary query's clock (a TakeOrderedAndProject top-20 was
    * seen absorbing 5 s of exactly this). A full-width max() scan, not a
    * metadata-only count, so the column pages really get read. The shared
    * stages are separately-clocked line items: per-query figures then measure
    * each query's OWN plan, not whichever family member happened to run
    * first.
    */
  def warm(spark: SparkSession, sfDir: String): (Double, Double, Double, Double) = {
    spark.range(1000).selectExpr("sum(id)").collect()
    for (t <- Tables.names) {
      val df = Tables.table(spark, sfDir, t)
      df.select(df.columns.toIndexedSeq.map(c => max(col(c).cast("string"))): _*).collect()
    }
    (operators.TextOps.prepareSharedStages(spark, sfDir),
     operators.VectorOps.prepareSharedStages(spark, sfDir),
     operators.Flagships.prepareSharedStages(spark, sfDir),
     operators.Windows.prepareSharedStages(spark, sfDir))
  }

  /** Runs `body` with a counter of the Spark jobs started on `spark`.
    * The argument reads the count once the listener bus has drained:
    * events are posted asynchronously (the bus is private[spark], so no
    * waitUntilEmpty), so it polls until the counter is stable for 200 ms.
    */
  def withJobCounter[T](spark: SparkSession)(body: (() => Int) => T): T = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drained(): Int = {
      var prev = -1
      var cur = jobs.get()
      while (cur != prev) { prev = cur; Thread.sleep(200); cur = jobs.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try body(() => drained())
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
