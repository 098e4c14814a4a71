package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** The 100-TB techniques SURVEY §7.3 commits to must demonstrably work:
  * bucketed tables join without a shuffle, and salted joins return
  * exactly the rows of the plain join.
  */
class ScaleTechniquesSpec extends SparkSpecBase {

  test("runtime bloom filter injects a pruning predicate into the fact side of a shuffle join") {
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      // force a shuffle join and drop the size gates so the sf0.001
      // fixture exercises the same re-plan a 100 TB fact scan would get
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val dim = Tables.orders(spark, sfDir).filter($"o_orderstatus" === "F")
      val fact = Tables.lineitem(spark, sfDir)
      val j = fact.join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected into the fact side:\n$p")
      assert(j.collect().nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("bucketed co-located join runs with no shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("orders_bucketed"), $"l_orderkey" === $"o_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition overwrite rewrites ONLY the touched partition's files") {
    import spark.implicits._
    val path = scratchPath("backfill_iso")
    val withYear = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus",
        year($"o_orderdate").cast("long").as("o_year"))
    withYear.write.mode("overwrite").partitionBy("o_year").parquet(path)
    def files(year: Int): Set[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/o_year=$year"))
        .map(s => s.getPath.getName + ":" + s.getModificationTime).toSet
    }
    val untouchedBefore = files(1995)
    val touchedBefore = files(1996)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      withYear.where($"o_year" === 1996 && $"o_orderstatus" =!= "F")
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(files(1995) == untouchedBefore,
      "dynamic overwrite must not touch the 1995 partition's files")
    assert(files(1996) != touchedBefore,
      "the backfilled 1996 partition must have been rewritten")
    val after = spark.read.parquet(path)
    assert(after.where($"o_year" === 1996 && $"o_orderstatus" === "F").count() == 0)
    assert(after.where($"o_year" === 1995).count() ==
      withYear.where($"o_year" === 1995).count())
  }

  test("etl_backfill_dynamic_overwrite never mutates the session overwrite mode") {
    // the r9 fix's contract: the dynamic mode rides the WRITER as an
    // option — a session-global toggle would race any concurrent writer
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val out = operators.EtlOps.etlBackfillDynamicOverwrite.fn(spark, sfDir)
    assert(out.count() == 3, "backfill must return the 3-year summary")
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == before,
      "backfill mutated session-global partitionOverwriteMode")
  }

  test("salted join equals plain join exactly, including skewed keys") {
    import spark.implicits._
    // heavy skew: 90% of rows share one key
    val big = (1 to 5000).map(i => (if (i % 10 == 0) i.toLong % 50 else 7L, i.toLong))
      .toDF("k", "payload")
    val small = (0L to 60L).map(k => (k, s"dim_$k")).toDF("sk", "name")
    val plain = big.join(small, $"k" === $"sk")
      .select($"k", $"payload", $"name")
      .collect().map(_.toString).sorted.toSeq
    val salted = SkewJoin.saltedEquiJoin(big, small, "k", "sk", salt = 8)
      .select($"k", $"payload", $"name")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("salted join spreads a hot key across salt buckets") {
    import spark.implicits._
    val big = Seq.fill(1000)((7L, 1L)).toDF("k", "payload")
    val salts = big.withColumn(
        "__salt", pmod(hash($"k", monotonically_increasing_id()), lit(8)))
      .groupBy($"__salt").count().collect()
    assert(salts.length > 4, s"salt did not spread: ${salts.mkString(",")}")
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin fires)") {
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      // shrink the size gates so the sf-test skew exercises the same
      // runtime re-plan a 100 TB hot key would get
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // payload must be id-derived and high-entropy: a constant would be
      // pruned from the shuffle (re-projected after the join) and a
      // repeated value compresses to nothing, so the hot partition's
      // MAPPER OUTPUT — what skew detection measures — would stay tiny
      val left = spark.range(0, 40000)
        .select(when($"id" < 30000, 7L).otherwise($"id").as("k"),
          concat(md5($"id".cast("string")),
            md5(($"id" + 1).cast("string")),
            md5(($"id" + 2).cast("string")),
            md5(($"id" + 3).cast("string"))).as("payload"))
      val right = spark.range(0, 200).select($"id".as("k"), lit(1L).as("v"))
      val j = left.join(right, "k")
      // only the hot key matches the 0..199 right side; collect executes
      // THIS dataset's query execution (count() would run its own plan,
      // leaving j's adaptive plan unfinalized)
      assert(j.collect().length == 30000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true in plan):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("heaviest shuffles complete by SPILLING, not OOM, under a constrained memory manager") {
    // forks graft.SpillProbe: tpch_q18_bigorders + join_sortmerge_facts
    // on ×8-duplicated sf0.1 facts and dedup_connected_components on
    // ×8-duplicated documents, with the unified memory manager capped at
    // 64 MiB — far below the workload's sort/agg state. A fork is
    // required because the memory manager is sized at SparkContext
    // start; the shared test session cannot be re-constrained.
    import scala.sys.process._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++
      Seq("-Xmx2g", "-cp", cp, "graft.SpillProbe")
    // the probe's own local dir: Spark puts the probe's scratch root (its
    // duplicated corpus), block manager and shuffle files under it, and
    // must leave it empty once the probe exits
    val localDir = new java.io.File(scratchPath("spill_local"))
    localDir.mkdirs()
    val out = new StringBuilder
    val code = Process(cmd, None, "SPARK_LOCAL_DIRS" -> localDir.getAbsolutePath).!(
      ProcessLogger(l => out.synchronized(out.append(l).append('\n')), _ => ()))
    val left = Option(localDir.list()).toSeq.flatten
    operators.Artifacts.rmTree(localDir)
    assert(left.isEmpty, s"spill probe left ${left.mkString(", ")} in its local dir")
    val log = out.toString
    assert(code == 0, s"spill probe failed (exit $code):\n${log.takeRight(3000)}")
    val spilled = "spilled_bytes=(\\d+)".r.findFirstMatchIn(log).map(_.group(1).toLong)
    assert(spilled.exists(_ > 0L),
      s"probe completed but recorded no spill — constraint too loose:\n$log")
    info(s"spilled ${spilled.get / (1 << 20)} MiB under a 64 MiB memory manager")
  }

  test("Probe reports rows, jobs and construction jobs per query, and names an unknown query") {
    val names = Seq("agg_pricing_summary", "graph_pagerank_trade")
    val results = Probe.run(spark, sfDir, names)
    assert(results.map(_.name) == names)
    for (r <- results) {
      val rows = SparkEntry.queries(r.name)(spark, sfDir).count()
      assert(r.cold.rows == rows && r.warm.rows == rows, r.line)
      assert(r.cold.jobs >= 1 && r.warm.jobs >= 1, r.line)
      // tools/scale_table.py reads the name and the cold seconds
      assert("SCALE (\\S+) (-?\\d+\\.\\d+)".r.findFirstMatchIn(r.line)
        .map(_.group(1)).contains(r.name), r.line)
    }
    // the driver loop collects its edges and nodes while it is built
    assert(results(1).cold.constructJobs >= 2, results(1).line)
    val e = intercept[IllegalArgumentException](
      Probe.run(spark, sfDir, Seq("agg_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
