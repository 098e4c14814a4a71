package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for declared queries to
  * plans/<tag>/<query>.txt (`sbt "runMain graft.ExplainDump
  * <tag> <query>[,<query>...] [sfDir]"`) — before/after plan evidence,
  * one directory per tag. Uses the bench's session settings so the
  * captured plan is the one the bench actually runs. Each line names the
  * Spark jobs the query ran while its DataFrame was built
  * (`construct_jobs`): eager construction makes plan-only callers pay
  * full iteration.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(',')
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    Harness.withJobCounter(spark) { drained =>
      for (nm <- names) {
        val j0 = drained()
        val df = SparkEntry.queries(nm)(spark, sfDir)
        val constructJobs = drained() - j0
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"$nm.txt"), plan)
        println(s"EXPLAIN $nm -> plans/$tag/$nm.txt (${plan.length} chars)" +
          s" construct_jobs=$constructJobs")
      }
    }
    spark.stop()
  }
}
