package graft

import graft.operators.Artifacts
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Memory-headroom probe: runs the three heaviest shuffling queries
  * (tpch_q18_bigorders, join_sortmerge_facts,
  * dedup_connected_components) on a ×8-duplicated lineitem / orders /
  * documents input with the unified memory manager deliberately sized
  * FAR below the workload's hash/sort state — completion with nonzero
  * `memoryBytesSpilled` proves the plans degrade to spill, not OOM,
  * which is the behavior a 100× scale-up relies on.
  *
  * Runs in its own JVM (ScaleTechniquesSpec forks it): the memory
  * manager is sized at SparkContext start, so the constraint cannot be
  * applied inside the shared test session. `spark.testing.memory` /
  * `spark.testing.reservedMemory` are the knobs Spark's own test suite
  * uses to size the UnifiedMemoryManager independently of -Xmx (public
  * source: core/src/main/scala/org/apache/spark/memory/
  * UnifiedMemoryManager.scala).
  *
  * Exit codes: 0 = all queries completed AND spilled; 3 = completed
  * without spilling (constraint too loose — a probe bug, not a pass).
  */
object SpillProbe {
  private val fixtures = "/root/testdata"
  private val sfDir = s"$fixtures/sf0.1"
  // documents come from the smaller SF: identical ×8 copies square the
  // shingle-join fanout (64×), so the small corpus already carries an
  // aggregation state far past the memory cap
  private val docsDir = s"$fixtures/sf0.01"
  private val dup = 8

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.builder(4)
      .config("spark.sql.shuffle.partitions", "16")
      // 64 MiB of execution+storage for a workload whose per-task
      // sort/aggregation state alone is several times that
      .config("spark.testing.memory", (64L * 1024 * 1024).toString)
      .config("spark.testing.reservedMemory", "0"))

    val spilled = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          spilled.addAndGet(t.taskMetrics.memoryBytesSpilled + t.taskMetrics.diskBytesSpilled)
    })

    // the duplicated corpus lives under the session's scratch root, which
    // spark.stop() (or Spark's shutdown hook, on a failed run) deletes
    val base = s"${Artifacts.scratchRoot}/spill_probe"
    val shift = 1000000000L
    // key columns shift per copy so the duplicated corpus has dup× the
    // groups/vertices (not dup× the rows of the same groups)
    def dupKeyed(table: String, keyCols: Seq[String], srcDir: String = sfDir): Unit = {
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      (0 until dup)
        .map(i => keyCols.foldLeft(src)((d, k) => d.withColumn(k, col(k) + lit(i * shift))))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/$table.parquet")
    }
    dupKeyed("lineitem", Seq("l_orderkey"))
    dupKeyed("orders", Seq("o_orderkey"))
    dupKeyed("documents", Seq("doc_id"), docsDir)
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/customer.parquet")

    for (q <- Seq("tpch_q18_bigorders", "join_sortmerge_facts", "dedup_connected_components")) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, base).count()
      println(f"SPILL_PROBE ran $q rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      require(n > 0, s"$q returned no rows on the duplicated corpus")
    }
    println(s"SPILL_PROBE_OK spilled_bytes=${spilled.get()}")
    spark.stop()
    if (spilled.get() <= 0) sys.exit(3)
  }
}
