package graft

import java.sql.Timestamp

import graft.streaming.{StatefulOps, StreamTransforms}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics (SURVEY.md §5.4): the declared batch
  * equivalents are legitimate oracles only if the SAME transforms
  * produce the SAME rows when fed through a real stream — proven here
  * with MemoryStream — and if watermarking actually drops late data.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(doc_id: Long, text: String)

class StreamingSpec extends SparkSpecBase {

  private def batchEvents: DataFrame =
    Tables.events(spark, sfDir).withColumn("ts", col("ts").cast("timestamp"))

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def loadEvs(): Seq[Ev] = {
    import spark.implicits._
    batchEvents
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
  }

  private def runToCompletion(name: String, outputMode: String)(mk: DataFrame => DataFrame)(
      batches: Seq[Seq[Ev]]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = mk(ms.toDF())
      .writeStream.format("memory").queryName(name).outputMode(outputMode)
      .option("checkpointLocation", scratchPath(s"ckpt_$name"))
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("tumbling window: streamed run-to-completion equals batch") {
    val evs = loadEvs()
    val streamed = runToCompletion("tumbling", "complete")(StreamTransforms.tumblingAgg)(
      evs.grouped(evs.size / 3 + 1).toSeq)
    assert(collectSorted(streamed) == collectSorted(StreamTransforms.tumblingAgg(batchEvents)))
  }

  test("session window: streamed run-to-completion equals batch") {
    val evs = loadEvs()
    val streamed = runToCompletion("sessions", "complete")(StreamTransforms.sessionAgg)(
      Seq(evs)) // session windows merge within the run; single batch = run-to-completion
    assert(collectSorted(streamed) == collectSorted(StreamTransforms.sessionAgg(batchEvents)))
  }

  test("dedup: duplicate deliveries collapse to exactly-once") {
    val evs = loadEvs().take(200)
    val streamed = runToCompletion("dedup", "append")(StreamTransforms.dedupByEventId)(
      Seq(evs, evs, evs.take(50))) // redeliver everything, then a partial replay
    assert(streamed.count() == 200)
    assert(collectSorted(streamed) ==
      collectSorted(StreamTransforms.dedupByEventId(spark.createDataFrame(evs))))
  }

  test("chained stateful dedup→windowed distinct users: emitted windows equal batch") {
    import spark.implicits._
    val evs = loadEvs().take(500)
    // a far-future sentinel advances the watermark past every real
    // window so append mode finalizes and emits them all
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = Ev(999999999L, new Timestamp(maxTs + 24L * 3600 * 1000), 0L, "view", 0.0)
    val streamed = runToCompletion("dau", "append")(StreamTransforms.distinctUsersPerWindow)(
      Seq(evs, evs.take(100), Seq(sentinel))) // includes a redelivery batch
    val batch = StreamTransforms.distinctUsersPerWindow(spark.createDataFrame(evs))
    // every real (non-sentinel) window must have been emitted, exactly once
    val sentinelStart = new Timestamp(maxTs + 24L * 3600 * 1000 - (maxTs + 24L * 3600 * 1000) % (3600 * 1000))
    assert(collectSorted(streamed.where($"w_start" < lit(sentinelStart))) ==
      collectSorted(batch),
      "streamed emitted windows differ from batch distinct-user counts")
  }

  test("stream-static join: streamed equals batch") {
    val evs = loadEvs()
    val customer = Tables.customer(spark, sfDir)
    val streamed = runToCompletion("enrich", "append")(
      df => StreamTransforms.staticEnrich(df, customer))(Seq(evs))
    assert(collectSorted(streamed) ==
      collectSorted(StreamTransforms.staticEnrich(batchEvents, customer)))
  }

  test("stateful events-since-signup: streamed equals declared batch formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val ms = MemoryStream[StatefulOps.Event]
    val q = StatefulOps
      .eventsSinceSignup(ms.toDS())
      .writeStream.format("memory").queryName("stateful").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_stateful"))
      .start()
    try {
      // feed in event-time order split across micro-batches: state carries over
      evs.map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
        .grouped(evs.size / 4 + 1)
        .foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("stateful")
      .select($"event_id", $"user_id", $"events_since_signup")
    val batch = operators.Streaming.streamStatefulCustom.fn(spark, sfDir)
    assert(collectSorted(streamed) == collectSorted(batch.select($"event_id", $"user_id", $"events_since_signup")))
  }

  test("transformWithState (arbitrary state v2): streamed equals declared batch formulation") {
    // the direct stream≡batch proof through Spark 4's transformWithState
    // API (StreamingRobustnessSpec separately proves TWS ≡ fMGWS) —
    // RocksDB provider is required by the v2 state store contract
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StatefulOps.Event]
      val q = StatefulOps
        .eventsSinceSignupTws(ms.toDS())
        .writeStream.format("memory").queryName("stateful_tws").outputMode("append")
        .option("checkpointLocation", scratchPath("ckpt_stateful_tws"))
        .start()
      try {
        evs.map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
          .grouped(evs.size / 4 + 1)
          .foreach { b => ms.addData(b); q.processAllAvailable() }
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val streamed = spark.table("stateful_tws")
      .select($"event_id", $"user_id", $"events_since_signup")
    val batch = operators.Streaming.streamStatefulCustom.fn(spark, sfDir)
    assert(collectSorted(streamed) == collectSorted(batch.select($"event_id", $"user_id", $"events_since_signup")))
  }

  test("transformWithState event-time timers: sessions equal declared batch formulation") {
    // the event-time-timer proof for stream_session_timer: sessions closed
    // by a later event emit inline; TRAILING sessions only emit when the
    // watermark crosses last-event+30min and the per-user timer fires —
    // driven here by two far-future sentinel batches (watermark updates
    // after the batch that advances it; timers fire in the NEXT batch)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val sentinelUid = 999999999L
    val maxTs = evs.map(_.ts.getTime).max
    def sentinel(id: Long, plusMs: Long) = StatefulOps.Event(
      id, new Timestamp(maxTs + plusMs), sentinelUid, "view")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StatefulOps.Event]
      val q = StatefulOps
        .sessionSummariesTws(ms.toDS())
        .writeStream.format("memory").queryName("session_timer").outputMode("append")
        .option("checkpointLocation", scratchPath("ckpt_session_timer"))
        .start()
      try {
        val batches = evs.map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
          .grouped(evs.size / 4 + 1).toSeq
        (batches ++ Seq(Seq(sentinel(-1L, 2L * 3600 * 1000)),
                        Seq(sentinel(-2L, 3L * 3600 * 1000))))
          .foreach { b => ms.addData(b); q.processAllAvailable() }
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val streamed = spark.table("session_timer").where($"user_id" =!= sentinelUid)
    val batch = operators.Streaming.streamSessionTimer.fn(spark, sfDir)
      .select($"user_id", $"session_seq",
        $"s_start".cast("timestamp").as("s_start"),
        $"last_ts".cast("timestamp").as("last_ts"),
        $"n_events", $"n_purchases", $"duration_s")
    assert(collectSorted(streamed) == collectSorted(batch),
      "timer-emitted session summaries differ from the batch gaps-and-islands formulation")
  }

  test("transformWithState ListState: trailing-3 trails equal declared batch window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StatefulOps.Event]
      val q = StatefulOps
        .last3TrailTws(ms.toDS())
        .writeStream.format("memory").queryName("tws_trail").outputMode("append")
        .option("checkpointLocation", scratchPath("ckpt_tws_trail"))
        .start()
      try {
        evs.map(e => StatefulOps.Event(e.event_id, e.ts, e.user_id, e.event_type))
          .grouped(evs.size / 4 + 1)
          .foreach { b => ms.addData(b); q.processAllAvailable() }
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val streamed = spark.table("tws_trail")
    val batch = operators.Streaming.streamTwsLast3Trail.fn(spark, sfDir)
    assert(collectSorted(streamed) == collectSorted(batch),
      "ListState trailing buffer diverged from the batch 3-row frame window")
  }

  test("stream-stream interval join: two MemoryStreams equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val clicks = evs.filter(_.event_type == "click")
    val purchases = evs.filter(_.event_type == "purchase")
    val msClicks = MemoryStream[Ev]
    val msPurch = MemoryStream[Ev]
    val q = StreamTransforms
      .clickPurchaseJoin(msClicks.toDF(), msPurch.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_ssjoin"))
      .start()
    try {
      // interleave micro-batches across both sides, in event-time order so
      // watermarks advance together and no in-order row is treated as late
      val cb = clicks.grouped(clicks.size / 3 + 1).toSeq
      val pb = purchases.grouped(purchases.size / 3 + 1).toSeq
      cb.zipAll(pb, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (c, p) =>
        msClicks.addData(c); msPurch.addData(p); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("ssjoin")
    val batch = StreamTransforms.clickPurchaseJoin(
      spark.createDataFrame(clicks), spark.createDataFrame(purchases))
    assert(collectSorted(streamed) == collectSorted(batch))
  }

  test("stream-stream LEFT OUTER interval join equals batch incl. null completions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val clicks = evs.filter(_.event_type == "click")
    val purchases = evs.filter(_.event_type == "purchase")
    // watermark flush: outer-join NULL completions for trailing clicks
    // only emit once the watermark passes their window end, so push a
    // far-future sentinel through both sides and drop it from the compare
    val tMax = evs.map(_.ts.getTime).max
    def sentinel(id: Long, typ: String) =
      Ev(id, new Timestamp(tMax + 10L * 3600 * 1000), 0L, typ, 0.0)
    val msClicks = MemoryStream[Ev]
    val msPurch = MemoryStream[Ev]
    val q = StreamTransforms
      .clickPurchaseLeftOuter(msClicks.toDF(), msPurch.toDF())
      .writeStream.format("memory").queryName("ssloj").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_ssloj"))
      .start()
    try {
      val cb = clicks.grouped(clicks.size / 3 + 1).toSeq
      val pb = purchases.grouped(purchases.size / 3 + 1).toSeq
      cb.zipAll(pb, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (c, p) =>
        msClicks.addData(c); msPurch.addData(p); q.processAllAvailable()
      }
      msClicks.addData(Seq(sentinel(-1L, "click")))
      msPurch.addData(Seq(sentinel(-2L, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssloj").where($"click_id" >= 0)
    val batch = StreamTransforms.clickPurchaseLeftOuter(
      spark.createDataFrame(clicks), spark.createDataFrame(purchases))
    assert(collectSorted(streamed) == collectSorted(batch))
    // and the unconverted-click rows actually exist (the point of OUTER)
    assert(streamed.where($"purchase_id".isNull).count() > 0,
      "no null-completed rows — outer semantics untested")
  }

  test("stream-stream join state evicts clicks beyond the interval horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, typ: String): Ev =
      Ev(id, Timestamp.valueOf(t), 1L, typ, 1.0)
    val msClicks = MemoryStream[Ev]
    val msPurch = MemoryStream[Ev]
    val q = StreamTransforms
      .clickPurchaseJoin(msClicks.toDF(), msPurch.toDF())
      .writeStream.format("memory").queryName("ssjoin_late").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_ssjoin_late"))
      .start()
    try {
      // click at 10:00; watermark advances far past its eviction horizon
      msClicks.addData(Seq(ev(1, "2024-01-01 10:00:00", "click")))
      msPurch.addData(Seq(ev(2, "2024-01-01 10:10:00", "purchase")))
      q.processAllAvailable() // in-horizon match (1,2) emits
      msClicks.addData(Seq(ev(3, "2024-01-01 14:00:00", "click")))
      msPurch.addData(Seq(ev(4, "2024-01-01 14:00:00", "purchase")))
      q.processAllAvailable() // watermark ≈ 13:30 ≫ 10:00 + 30min: click 1 evicted
      // a purchase at 10:20 would match click 1 in batch, but the state
      // is gone — the stream may only pair it with nothing
      msPurch.addData(Seq(ev(5, "2024-01-01 10:20:00", "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("ssjoin_late")
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 1L)), s"in-horizon match missing: $pairs")
    assert(pairs.contains((4L, 3L)), s"same-instant match missing: $pairs")
    assert(!pairs.exists(_._1 == 5L),
      s"purchase 5 matched an evicted click — state not bounded: $pairs")
  }

  test("update output mode re-emits only the windows a batch touched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String): Ev = Ev(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.tumblingAgg(ms.toDF())
      .writeStream.format("memory").queryName("upd").outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_upd"))
      .start()
    def emitted(): Seq[(String, Long)] = {
      spark.table("upd").select($"w_start".cast("string"), $"n_events")
        .as[(String, Long)].collect().toSeq
    }
    try {
      ms.addData(Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 11:05:00")))
      q.processAllAvailable()
      val afterB1 = emitted()
      assert(afterB1.map(_._1).sorted ==
        Seq("2024-01-01 10:00:00", "2024-01-01 11:00:00"), s"b1: $afterB1")
      ms.addData(Seq(ev(3, "2024-01-01 10:20:00"))) // touches ONLY the 10:00 window
      q.processAllAvailable()
      val delta = emitted().diff(afterB1)
      assert(delta == Seq(("2024-01-01 10:00:00", 2L)),
        s"update mode must re-emit only the touched window with its new count: $delta")
    } finally q.stop()
  }

  test("foreachBatch idempotent file sink: double delivery leaves exactly-once files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvs()
    val path = scratchPath("fsink_spec")
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.tumblingAgg(ms.toDF())
      .writeStream.outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_fsink"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        StreamTransforms.idempotentWindowWrite(df, path)
        // the at-least-once case: batch 1 is delivered AGAIN (sink
        // failure between write and epoch commit) — same rows, same id
        if (id == 1L) StreamTransforms.idempotentWindowWrite(df, path)
      }
      .start()
    try {
      evs.grouped(evs.size / 3 + 1).toSeq.foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val cols = Seq($"w_start", $"event_type", $"n_events", $"sum_value")
    val readBack = spark.read.parquet(path).select(cols: _*)
    val batch = StreamTransforms.tumblingAgg(batchEvents).select(cols: _*)
    assert(collectSorted(readBack) == collectSorted(batch),
      "idempotent window-keyed sink must equal batch despite the double delivery")
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String): Ev = Ev(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.tumblingAgg(ms.toDF())
      .writeStream.format("memory").queryName("late").outputMode("append")
      .option("checkpointLocation", scratchPath("ckpt_late"))
      .start()
    try {
      ms.addData(Seq(
        ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 10:30:00")))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, "2024-01-01 12:05:00")))
      q.processAllAvailable() // watermark advances to 11:55 > window end 11:00
      ms.addData(Seq(
        ev(4, "2024-01-01 10:15:00"), // its window closed at 11:00 < wm → dropped
        ev(5, "2024-01-01 13:00:00")))
      q.processAllAvailable() // window [10:00,11:00) emits without the late row
    } finally q.stop()
    val rows = spark.table("late")
      .select($"w_start".cast("string"), $"n_events").as[(String, Long)].collect().toMap
    assert(rows("2024-01-01 10:00:00") == 2L,
      s"late event was not dropped: $rows")
  }

  test("incremental dedup: streamed gate equals batch; foreachBatch upsert is idempotent across double delivery and restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reg = operators.ShingleRegistry.ensure(spark, sfDir)
    val batchDocs = Tables.documents(spark, sfDir)
      .filter(operators.ShingleRegistry.batchOf($"doc_id") === 7)
      .select($"doc_id", $"text")
    val docs = batchDocs.as[Doc].collect().toSeq.sortBy(_.doc_id)
    assume(docs.size >= 3, "need at least 3 batch-7 docs at this SF")
    val deliveries = docs.grouped(docs.size / 3 + 1).toSeq

    // 1) the GATE through the real streaming engine: stream-static join
    //    against the frozen registry, per-doc agg in update mode
    val msGate = MemoryStream[Doc]
    val qGate = StreamTransforms.incrementalDedupGate(msGate.toDF(), reg)
      .writeStream.format("memory").queryName("incgate").outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_incgate"))
      .start()
    try {
      deliveries.foreach { b => msGate.addData(b); qGate.processAllAvailable() }
    } finally qGate.stop()
    assert(collectSorted(spark.table("incgate")) ==
      collectSorted(StreamTransforms.incrementalDedupGate(batchDocs, reg)),
      "streamed gate rows must equal the declared batch gate")

    // 2) the UPSERT through foreachBatch into a spec-scoped registry
    //    generation, with a forced DOUBLE DELIVERY of micro-batch 1
    val gen = s"graft_shingle_specgen_${System.nanoTime()}"
    val genLoc = new java.io.File(scratchPath(gen))
    operators.ShingleRegistry.RegistryLayout.seed(reg, gen, genLoc)
    try {
      val msUp = MemoryStream[Doc]
      val qUp = msUp.toDF().writeStream
        .option("checkpointLocation", scratchPath("ckpt_incup"))
        .foreachBatch { (df: DataFrame, id: Long) =>
          operators.ShingleRegistry.upsertBatch(df, gen, ingestBatch = 7L)
          // at-least-once: delivery 1 replays (sink failure between
          // write and epoch commit) — the anti-join must absorb it
          if (id == 1L) operators.ShingleRegistry.upsertBatch(df, gen, ingestBatch = 7L)
        }
        .start()
      try {
        deliveries.foreach { b => msUp.addData(b); qUp.processAllAvailable() }
      } finally qUp.stop()

      // stream-maintained generation == the one-shot batch upsert
      val want = collectSorted(
        operators.ShingleRegistry.ensureUpserted(spark, sfDir)
          .select($"shingle", $"first_batch"))
      assert(collectSorted(spark.table(gen).select($"shingle", $"first_batch")) == want,
        "stream-maintained registry must equal the one-shot batch upsert generation")

      // 3) RESTART: a fresh query (new checkpoint) replays the last
      //    delivery in full — state must not change
      val msRe = MemoryStream[Doc]
      val qRe = msRe.toDF().writeStream
        .option("checkpointLocation", scratchPath("ckpt_incre"))
        .foreachBatch { (df: DataFrame, _: Long) =>
          operators.ShingleRegistry.upsertBatch(df, gen, ingestBatch = 7L)
        }
        .start()
      try {
        msRe.addData(deliveries.last); qRe.processAllAvailable()
      } finally qRe.stop()
      assert(collectSorted(spark.table(gen).select($"shingle", $"first_batch")) == want,
        "post-restart replay must leave the registry unchanged")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $gen")
    }
  }

  test("vector ingest: streamed gate equals batch; foreachBatch append is idempotent across double delivery and restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (baseIdx, baseCb) = operators.IvfIndex.ensureBase(spark, sfDir)
    val batchDf = operators.VectorOps.withNorm(spark, sfDir)
      .filter(operators.IvfIndex.isAppendBatch($"vec_id"))
      .select($"vec_id", $"emb")
    val vecs = batchDf.as[(Long, Array[Double])].collect().toSeq.sortBy(_._1)
    assume(vecs.size >= 3, "need at least 3 batch vectors at this SF")
    val deliveries = vecs.grouped(vecs.size / 3 + 1).toSeq

    // 1) the GATE through the real streaming engine: stream-static join
    //    against the frozen base index, per-vector agg in update mode
    val msGate = MemoryStream[(Long, Array[Double])]
    val qGate = StreamTransforms.vecIngestGate(
        msGate.toDF().toDF("vec_id", "emb"), baseIdx, baseCb)
      .writeStream.format("memory").queryName("vecgate").outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_vecgate"))
      .start()
    try {
      deliveries.foreach { b => msGate.addData(b); qGate.processAllAvailable() }
    } finally qGate.stop()
    assert(collectSorted(spark.table("vecgate")) ==
      collectSorted(StreamTransforms.vecIngestGate(batchDf, baseIdx, baseCb)),
      "streamed gate rows must equal the declared batch gate")

    // 2) the APPEND through foreachBatch into a spec-scoped index
    //    generation, with a forced DOUBLE DELIVERY of micro-batch 1
    val gen = s"graft_ivf_specgen_${System.nanoTime()}"
    val genLoc = new java.io.File(scratchPath(gen))
    operators.IvfIndex.IndexLayout.seed(baseIdx, gen, genLoc)
    def files(): Map[String, Long] =
      Option(genLoc.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    val seeded = files()
    try {
      val msUp = MemoryStream[(Long, Array[Double])]
      val qUp = msUp.toDF().toDF("vec_id", "emb").writeStream
        .option("checkpointLocation", scratchPath("ckpt_vecup"))
        .foreachBatch { (df: DataFrame, id: Long) =>
          operators.IvfIndex.appendVecBatch(df, gen, baseCb)
          // at-least-once: delivery 1 replays — the (cell, vec_id)
          // anti-join must absorb it
          if (id == 1L) operators.IvfIndex.appendVecBatch(df, gen, baseCb)
        }
        .start()
      try {
        deliveries.foreach { b => msUp.addData(b); qUp.processAllAvailable() }
      } finally qUp.stop()

      // stream-maintained generation == the one-shot batch append
      val want = collectSorted(
        operators.IvfIndex.ensureAppended(spark, sfDir)._1
          .select($"vec_id", $"cell"))
      assert(collectSorted(spark.table(gen).select($"vec_id", $"cell")) == want,
        "stream-maintained index must equal the one-shot batch append generation")
      // seeded (pre-stream) files byte-untouched: appends only ADD files
      val after = files()
      assert(seeded.forall { case (n, m) => after.get(n).contains(m) },
        "streaming appends must never rewrite the seeded base files")
      assert(after.size > seeded.size, "appends must add per-bucket files")

      // 3) RESTART: a fresh query (new checkpoint) replays the last
      //    delivery in full — state must not change
      val msRe = MemoryStream[(Long, Array[Double])]
      val qRe = msRe.toDF().toDF("vec_id", "emb").writeStream
        .option("checkpointLocation", scratchPath("ckpt_vecre"))
        .foreachBatch { (df: DataFrame, _: Long) =>
          operators.IvfIndex.appendVecBatch(df, gen, baseCb)
        }
        .start()
      try {
        msRe.addData(deliveries.last); qRe.processAllAvailable()
      } finally qRe.stop()
      assert(collectSorted(spark.table(gen).select($"vec_id", $"cell")) == want,
        "post-restart replay must leave the index unchanged")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $gen")
    }
  }

  test("ann serve gate: streamed query batches equal the declared batch gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (idx, ivfCb) = operators.IvfIndex.ensure(spark, sfDir)
    val qBatch = operators.VectorOps.withNorm(spark, sfDir)
      .filter($"vec_id" < 50).select($"vec_id", $"emb")
    val queries = qBatch.as[(Long, Array[Double])].collect().toSeq.sortBy(_._1)
    val ms = MemoryStream[(Long, Array[Double])]
    val q = StreamTransforms.annServeGate(
        ms.toDF().toDF("vec_id", "emb"), idx, ivfCb)
      .writeStream.format("memory").queryName("anngate").outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_anngate"))
      .start()
    try {
      queries.grouped(queries.size / 3 + 1).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    assert(collectSorted(spark.table("anngate")) ==
      collectSorted(StreamTransforms.annServeGate(qBatch, idx, ivfCb)),
      "streamed gate answers must equal the batch gate")
  }

  test("upsert-latest: streamed update-mode state equals batch, only touched users re-emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, t: String, u: Long, tpe: String, v: Double): Ev =
      Ev(id, Timestamp.valueOf(t), u, tpe, v)
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.latestPerUser(ms.toDF())
      .writeStream.format("memory").queryName("upsert").outputMode("update")
      .option("checkpointLocation", scratchPath("ckpt_upsert"))
      .start()
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:05:00", 2, "view", 2.0))
    val b2 = Seq(ev(3, "2024-01-01 10:10:00", 1, "purchase", 3.0)) // touches ONLY user 1
    try {
      ms.addData(b1); q.processAllAvailable()
      val afterB1 = spark.table("upsert").collect().map(_.toString).toSeq
      ms.addData(b2); q.processAllAvailable()
      val delta = spark.table("upsert").collect().map(_.toString).toSeq.diff(afterB1)
      assert(delta.length == 1 && delta.head.contains("purchase"),
        s"update mode must re-emit only user 1's new state: $delta")
      // accumulated last-write-wins state == batch result on the same rows
      val streamedFinal = Seq(delta.head, afterB1.find(_.contains("view")).get).sorted
      val batch = StreamTransforms.latestPerUser(
        (b1 ++ b2).toDF()).collect().map(_.toString).sorted.toSeq
      assert(streamedFinal == batch, s"streamed $streamedFinal vs batch $batch")
    } finally q.stop()
  }
}
