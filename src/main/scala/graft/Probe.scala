package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query probe: times and job-counts SELECTED declared queries at an
  * arbitrary SF dir, from the same session and warm-up Bench uses, so
  * sf0.1 → sf1 scaling exponents (SCALE.md) and jobs-per-query drops can
  * be measured, not asserted. At sf0.1 the median query is ~0.3 s and
  * 8-core ≈ 32-core: fixed per-job scheduling cost dominates, so the
  * number of Spark jobs a query spawns — including those it runs while
  * its DataFrame is being built — is the lever on the total.
  *
  * Usage: runMain graft.Probe <sfDir> <query> [query ...]
  * Prints `SCALE shared_stage_s <s>`, then `SCALE resident memos=<n>
  * cached_mb=<mb>`: what the warm-up leaves resident — the CacheManager's
  * entries (every one a [[PlanCache]] memo) and the memory plus disk
  * bytes of every persisted RDD (`getRDDStorageInfo`), so a reader sees
  * what the shared stages keep without a heap histogram. Then per distinct query
  * `SCALE <name> <cold_s> warm=<s> rows=<n> jobs=<cold>/<warm> construct_jobs=<n>`.
  * Cold is the first run in the session; a name given N times is run warm
  * N times and the min is kept. Seconds cover construction plus `count()`;
  * a run that throws reports its elapsed-until-throw seconds negated.
  * `tools/scale_table.py` reads the cold seconds.
  */
object Probe {

  /** One run of a query. `jobs` counts every job of the run, construction
    * included. When it threw, `seconds` < 0 and `rows` = -1, and
    * `constructJobs` = -1 if construction itself threw. */
  final case class Run(seconds: Double, rows: Long, jobs: Int, constructJobs: Int)

  final case class Result(name: String, cold: Run, warm: Run) {
    def line: String =
      f"SCALE $name ${cold.seconds}%.3f warm=${warm.seconds}%.3f rows=${cold.rows} " +
        s"jobs=${cold.jobs}/${warm.jobs} construct_jobs=${cold.constructJobs}"
  }

  /** The CacheManager's entry count (`numCachedEntries` is `private[sql]`
    * in Scala, public in bytecode). */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  def residentLine(spark: SparkSession): String = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    f"SCALE resident memos=${cacheEntries(spark)} cached_mb=${bytes / 1048576.0}%.2f"
  }

  /** Fails fast, naming every name that is not a declared query. */
  def requireDeclared(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
  }

  /** Runs each distinct name cold, then warm once per occurrence, on an
    * already warmed session. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Result] = {
    requireDeclared(names)
    Harness.withJobCounter(spark) { drained =>
      def once(name: String, fn: (SparkSession, String) => DataFrame): Run = {
        val j0 = drained()
        var constructJobs = -1
        var paused = 0L // the construct-jobs drain is not the query's time
        val t0 = System.nanoTime()
        def secs = (System.nanoTime() - t0 - paused) / 1e9
        try {
          val df = fn(spark, sfDir)
          val p0 = System.nanoTime()
          constructJobs = drained() - j0
          paused = System.nanoTime() - p0
          val rows = df.count()
          val s = secs
          Run(s, rows, drained() - j0, constructJobs)
        } catch { case e: Throwable =>
          val s = secs
          System.err.println(s"[probe] $name failed: ${e.getMessage}")
          Run(-s, -1L, drained() - j0, constructJobs)
        }
      }
      names.distinct.map { name =>
        val fn = SparkEntry.queries(name)
        val cold = once(name, fn)
        val warms = names.filter(_ == name).map(_ => once(name, fn))
        Result(name, cold, warms.find(_.seconds < 0).getOrElse(warms.minBy(_.seconds)))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val names = args.toSeq.drop(1)
    requireDeclared(names)
    val spark = Harness.session()
    val (text, vec, graph, win) = Harness.warm(spark, sfDir)
    println(f"SCALE shared_stage_s ${text + vec + graph + win}%.3f")
    println(residentLine(spark))
    run(spark, sfDir, names).foreach(r => println(r.line))
    spark.stop()
  }
}
