package graft

import java.sql.Timestamp

import graft.streaming.{StatefulOps, StreamTransforms}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Production-streaming posture: the RocksDB state store provider (the
  * large-state backend for 100 TB/day event volumes) must produce the
  * same results as the default provider, and a query killed mid-stream
  * must resume from its checkpoint with state intact.
  */
class StreamingRobustnessSpec extends SparkSpecBase {

  private def evs(n: Int): Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, sfDir).withColumn("ts", col("ts").cast("timestamp"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id)).take(n)
  }

  test("RocksDB state store provider matches default provider results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = evs(1000)
    def run(provider: Option[String], name: String): Seq[String] = {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      provider.foreach(p => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      try {
        val ms = MemoryStream[Ev]
        val q = StreamTransforms.tumblingAgg(ms.toDF())
          .writeStream.format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", scratchPath(s"ckpt_$name"))
          .start()
        try {
          data.grouped(300).foreach { b => ms.addData(b); q.processAllAvailable() }
        } finally q.stop()
        spark.table(name).collect().map(_.toString).sorted.toSeq
      } finally {
        prev match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
    val rocks = run(
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocks")
    val default = run(None, "defaultprov")
    assert(rocks == default)
  }

  test("stateful query resumes from checkpoint with state intact") {
    import spark.implicits._
    val data = evs(2000).map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
    val root = scratchPath("resume")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val (first, second) = data.splitAt(1000)
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[StatefulOps.Event].schema

    def fileStream() = StatefulOps.eventsSinceSignup(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir).as[StatefulOps.Event])

    // durable file sink: the memory sink does not support checkpoint
    // recovery (it is not fault-tolerant); a parquet sink is the
    // production-shaped choice
    val outDir = s"$root/out"

    // phase 1: one input file, process, then STOP (simulated restart)
    spark.createDataFrame(first).write.parquet(s"$srcDir/batch0")
    val q1 = fileStream()
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: second input file lands; a NEW query on the SAME
    // checkpoint must resume per-user counters, not restart from zero
    spark.createDataFrame(second).write.parquet(s"$srcDir/batch1")
    val q2 = fileStream()
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()

    // the combined durable output must equal batch run-to-completion
    val streamed = spark.read.parquet(outDir).collect().map(_.toString).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val grp = sum(when($"event_type" === "signup", 1).otherwise(0)).over(w)
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"grp").orderBy($"ts", $"event_id")
    val batch = spark.createDataFrame(data)
      .withColumn("grp", grp)
      .withColumn("rn", row_number().over(wg))
      .select($"event_id", $"user_id",
        when($"grp" === 0, $"rn").otherwise($"rn" - 1).as("events_since_signup"))
      .collect().map(_.toString).toSet
    assert(streamed == batch,
      s"resume diverged: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("session-timer processor resumes from checkpoint: open sessions, ordinals, timers intact") {
    import spark.implicits._
    // the event-time-timer sessionizer killed mid-stream must resume with
    // its open-session records, per-user ordinals AND registered timers —
    // trailing sessions that straddle the restart still emit exactly once
    // when the watermark finally passes their deadline
    val data = evs(2000).map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
    val sentinelUid = 999999999L
    val maxTs = data.map(_.ts.getTime).max
    def sentinel(id: Long, plusMs: Long) = StatefulOps.Event(
      id, new Timestamp(maxTs + plusMs), sentinelUid, "view")
    val root = scratchPath("resume_tws")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[StatefulOps.Event].schema
    val (first, second) = data.splitAt(1000)

    def sessionStream() = StatefulOps.sessionSummariesTws(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(srcDir).as[StatefulOps.Event])
    def startQuery() = sessionStream()
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // phase 1: first half, then STOP mid-corpus (simulated crash)
      spark.createDataFrame(first).write.parquet(s"$srcDir/batch0")
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      // phase 2: a NEW query on the SAME checkpoint gets the rest plus
      // two watermark-advancing sentinel files (each file = one
      // micro-batch; timers fire the batch AFTER the watermark passes)
      val q2 = startQuery()
      try {
        spark.createDataFrame(second).write.parquet(s"$srcDir/batch1")
        q2.processAllAvailable()
        spark.createDataFrame(Seq(sentinel(-1L, 2L * 3600 * 1000)))
          .write.parquet(s"$srcDir/batch2")
        q2.processAllAvailable()
        spark.createDataFrame(Seq(sentinel(-2L, 3L * 3600 * 1000)))
          .write.parquet(s"$srcDir/batch3")
        q2.processAllAvailable()
      } finally q2.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val streamed = spark.read.parquet(outDir)
      .where($"user_id" =!= sentinelUid)
      .collect().map(_.toString).toSet
    // batch gaps-and-islands over the same 2000 rows (the declared
    // stream_session_timer formulation, inlined for this subset)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wc = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val batch = spark.createDataFrame(data)
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          $"ts" >= $"prev_ts" + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("session_seq", sum($"new_session").over(wc))
      .groupBy($"user_id", $"session_seq")
      .agg(min($"ts").as("s_start"), max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .withColumn("duration_s",
        unix_seconds($"last_ts") - unix_seconds($"s_start"))
      .select($"user_id", $"session_seq", $"s_start", $"last_ts",
        $"n_events", $"n_purchases", $"duration_s")
      .collect().map(_.toString).toSet
    assert(streamed == batch,
      s"restart diverged: extra=${(streamed diff batch).take(3)} missing=${(batch diff streamed).take(3)}")
  }

  test("value-state TTL: quiet key expires and restarts; long TTL preserves state") {
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    // Deterministic in both directions without a fake clock: the SHORT
    // side sleeps 20× the TTL between runs (expiry has certainly passed
    // when run 2 reads the state), the LONG side's 1 h TTL cannot elapse
    // within a test. Event TIMES are fixed — only the processing-time
    // gap differs — so any output difference is TTL.
    //
    // Harness shape (learned the hard way): transformWithState in
    // TimeMode.ProcessingTime requests another batch after EVERY batch
    // (TTL/timer advancement), so processAllAvailable never drains and
    // even Trigger.AvailableNow keeps cycling — and the memory sink
    // cannot recover a checkpoint. So each run is a separate
    // AvailableNow query over the SAME checkpoint with a foreachBatch
    // sink (checkpoint-recoverable), polled until the expected rows
    // land, then stopped; rows dedupe by event_id (foreachBatch is
    // at-least-once across recoveries).
    def ev(id: Long, tsMs: Long) =
      StatefulOps.Event(id, new Timestamp(tsMs), 7L, "view")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(name: String, ttlMs: Long, sleepMs: Long): Seq[(Long, Long)] = {
      val buf = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val ms = MemoryStream[StatefulOps.Event]
      val ckpt = scratchPath(s"ckpt_$name")
      def once(batch: Seq[StatefulOps.Event], expect: Int): Unit = {
        ms.addData(batch)
        val q = StatefulOps.eventsSinceSignupTwsTtl(ms.toDS(), ttlMs)
          .writeStream
          .foreachBatch { (ds: Dataset[StatefulOps.SinceSignup], _: Long) =>
            ds.collect().foreach(r => buf.put(r.event_id, r.events_since_signup))
          }
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (buf.size < expect && System.nanoTime() < deadline) Thread.sleep(50)
        } finally q.stop()
        assert(buf.size >= expect, s"$name: expected $expect rows, got $buf")
      }
      once(Seq(ev(1, 1000000L), ev(2, 1001000L)), 2)
      if (sleepMs > 0) Thread.sleep(sleepMs)
      once(Seq(ev(3, 1002000L)), 3)
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.sortBy(_._1)
    }
    try {
      // 100 ms TTL + 2 s quiet gap: the counter written by run 1 is
      // expired when run 2 reads it — user 7 counts as NEW (restart at 1)
      assert(run("tws_ttl_short", ttlMs = 100, sleepMs = 2000) ==
        Seq((1L, 1L), (2L, 2L), (3L, 1L)))
      // 1 h TTL, same events and checkpoint dance: state survives the
      // restart — the counter continues, identical to the TTL-less run
      assert(run("tws_ttl_long", ttlMs = 3600000, sleepMs = 0) ==
        Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState processor matches flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = evs(1500).map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StatefulOps.Event]
      val q = StatefulOps.eventsSinceSignupTws(ms.toDS())
        .writeStream.format("memory").queryName("tws").outputMode("append")
        .option("checkpointLocation", scratchPath("ckpt_tws"))
        .start()
      try {
        data.grouped(500).foreach { b => ms.addData(b); q.processAllAvailable() }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val tws = spark.table("tws").collect().map(_.toString).toSet

    val ms2 = MemoryStream[StatefulOps.Event]
    val q2 = StatefulOps.eventsSinceSignup(ms2.toDS())
      .writeStream.format("memory").queryName("fmgws").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_fmgws"))
      .start()
    try {
      data.grouped(500).foreach { b => ms2.addData(b); q2.processAllAvailable() }
    } finally q2.stop()
    val fmgws = spark.table("fmgws").collect().map(_.toString).toSet
    assert(tws == fmgws)
  }
}
