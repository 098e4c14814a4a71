package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.1.H — the streaming transformations, written once as
  * DataFrame => DataFrame so the SAME code runs:
  *   - batch (declared queries, DuckDB ◐ oracle on run-to-completion
  *     semantics — Structured Streaming's unbounded-table model
  *     guarantees streamed-to-completion == batch on the same rows), and
  *   - streaming (StreamingSpec feeds MemoryStream through these and
  *     asserts equivalence, watermark drops, and output modes).
  *
  * Watermarks only exist on streaming plans; on batch input they are
  * skipped (`df.isStreaming` guard) — batch has no late data by
  * definition.
  *
  * Scale notes (100 TB/day of events): every aggregation keys on
  * (window, ...) or (user_id, ...), so state is partitioned by key
  * across executors; watermarks bound state size (state store evicts
  * windows older than the horizon). The stateful per-user transform
  * keeps O(1) state per user.
  */
object StreamTransforms {

  private def watermarked(df: DataFrame, col: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(col, delay) else df

  /** 1-hour tumbling windows: per (window, event_type) count + decimal sum. */
  def tumblingAgg(events: DataFrame): DataFrame =
    watermarked(events, "ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).as("sum_value"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** 1-hour windows sliding every 15 minutes. */
  def slidingAgg(events: DataFrame): DataFrame =
    watermarked(events, "ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n_events"))

  /** Per-user sessions with 30-minute inactivity gap. */
  def sessionAgg(events: DataFrame): DataFrame =
    watermarked(events, "ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"))

  /** Exactly-once event ids within the watermark horizon. */
  def dedupByEventId(events: DataFrame): DataFrame =
    watermarked(events, "ts", "1 hour")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** Exact DISTINCT USERS per 1-hour window — the DAU/HAU counter, and
    * the canonical CHAIN of two stateful operators: event-time dedup on
    * (window, user) evicting state by watermark, feeding a windowed
    * count (Spark 4 supports stateful chaining in append mode when the
    * dedup keys carry the event-time window). Batch semantics collapse
    * to COUNT(DISTINCT user_id) per hour — the declared oracle.
    */
  def distinctUsersPerWindow(events: DataFrame): DataFrame =
    watermarked(events, "ts", "1 hour")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"), col("n_users"))

  /** Enrich the event stream with the static customer dimension. */
  def staticEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer, events("user_id") === customer("c_custkey"))
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"))

  /** Stream-STREAM interval join: every purchase paired with the same
    * user's clicks in the preceding 30 minutes (inclusive bounds on both
    * ends). On streaming inputs both sides carry watermarks and the join
    * condition is two-sided on event time, which is exactly what lets the
    * state store evict buffered rows past the horizon — without the
    * interval bound a stream-stream join would keep unbounded state.
    * State is keyed by user_id, so it partitions across executors.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = watermarked(clicks, "ts", "30 minutes").select(
      col("event_id").as("click_id"),
      col("user_id").as("c_user"),
      col("ts").as("click_ts"))
    val p = watermarked(purchases, "ts", "30 minutes").select(
      col("event_id").as("purchase_id"),
      col("user_id"),
      col("ts").as("purchase_ts"))
    p.join(
        c,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(
        col("purchase_id"), col("click_id"), col("user_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Stream-stream LEFT OUTER interval join: click→purchase attribution
    * that KEEPS unconverted clicks (the funnel-with-drop-offs shape an
    * inner join silently discards). Watermarks on both sides + the
    * interval condition bound the state; the NULL-completed row for an
    * unmatched click is emitted only once the watermark passes the end
    * of its join window — i.e. once no future purchase can match it.
    * Same code runs batch and streaming (StreamingSpec proves the
    * run-to-completion results equal).
    */
  def clickPurchaseLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = watermarked(clicks, "ts", "30 minutes").select(
      col("event_id").as("click_id"),
      col("user_id").as("c_user"),
      col("ts").as("click_ts"))
    val p = watermarked(purchases, "ts", "30 minutes").select(
      col("event_id").as("purchase_id"),
      col("user_id"),
      col("ts").as("purchase_ts"))
    c.join(
        p,
        col("c_user") === col("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(
        col("click_id"), col("c_user").as("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"),
        col("purchase_id").isNotNull.as("converted"))
  }

  /** Idempotent file-sink write — the exactly-once discipline for a
    * parquet sink driven from `foreachBatch`: dynamic partition
    * overwrite keyed by the WINDOW itself (the hour), so each delivery
    * — first write, update-mode re-emit with a new total, or a replay
    * after a failure between write and epoch commit — REWRITES exactly
    * the partitions it carries, last-write-wins, never an append of
    * duplicates. THE PARTITION KEY MUST MATCH THE DELIVERY
    * GRANULARITY: update-mode batches carry only the TOUCHED (window,
    * event_type) cells, so that drive partitions by (w_hour,
    * event_type) — anything coarser would drop sibling cells on a
    * partial batch; a complete-mode / full-day-replay drive delivers
    * whole days, so day partitioning is exact AND avoids thousands of
    * window-grain directories on a month of history. Callers pick via
    * `cols` (both `w_date` and `w_hour` are derived here). Shared
    * verbatim between the declared batch row and the streaming
    * foreachBatch drive in StreamingSpec.
    */
  def idempotentWindowWrite(df: DataFrame, path: String,
      cols: Seq[String] = Seq("w_hour", "event_type")): Unit =
    df.withColumn("w_hour", date_format(col("w_start"), "yyyy-MM-dd-HH"))
      .withColumn("w_date", col("w_start").cast("date"))
      .write.mode("overwrite")
      // per-write option, NOT a session-conf toggle: mutating the session
      // conf around the write races with any concurrent writer on the same
      // session (another query could observe the temporarily-dynamic mode,
      // or have its own setting clobbered by the finally-restore)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Incremental-ingest dedup GATE against a STATIC registry frame —
    * the probe half of the streaming incremental-dedup composition
    * (`stream_incremental_dedup`), shared verbatim between the declared
    * batch row and the StreamingSpec MemoryStream drive. `docs` may be
    * streaming: shingling is row-local (explode of 3-gram transforms),
    * the stream-static left join keys the (small) new-doc side while
    * the registry side is the bucketed warehouse table, and the per-doc
    * aggregation keeps one bounded counter struct per in-flight doc.
    * Because the gate scores every doc against the SAME frozen registry
    * generation (last night's history — the production shape), the
    * result is independent of micro-batch boundaries: stream ≡ batch.
    */
  def incrementalDedupGate(docs: DataFrame, reg: DataFrame): DataFrame =
    graft.operators.TextOps.shingles(docs)
      // merge hint: at scale the registry is the BIG side — it must
      // stream from its buckets co-partitioned, never broadcast
      .join(reg.select(col("shingle"), lit(1L).as("seen")).hint("merge"),
        Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        (col("n_shingles") - col("n_seen")).as("n_novel"),
        (col("n_seen") * 2 >= col("n_shingles")).as("is_flagged"))

  /** Streaming ANN retrieval GATE against the persisted IVF index —
    * the serving half of the vector stack as a stream transform
    * (`stream_ann_serve_gate`): each arriving query vector probes its
    * 2 nearest cells of the bucketed index and is answered with
    * per-query AGGREGATES (candidates scanned, matches over the τ=0.6
    * relevance floor, best match by rounded cosine with vec_id
    * tiebreak) — aggregation-only shape because rank windows don't
    * stream; a no-match query answers with (−1, −1.0) sentinels, the
    * gate decision a RAG router consumes. `queries` may be streaming:
    * cell probing is row-local against the broadcast codebook, the
    * candidate join is stream-static against the bucketed index, and
    * state is one counter struct per in-flight query. Scoring against
    * a FROZEN index generation makes the result independent of
    * micro-batch boundaries: stream ≡ batch.
    */
  def annServeGate(queries: DataFrame, idx: DataFrame,
      ivfCb: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    import graft.operators.VectorOps
    val q = queries
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
    VectorOps.cosineProbes(q, ivfCb, 2)
      .join(idx.withColumnRenamed("vec_id", "c_id"), Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cos", VectorOps.probeCosine)
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("cos") >= 0.6, 1L).otherwise(0L)).as("n_matches"),
        min(when(col("cos") >= 0.6, struct((-col("cos")).as("negcos"),
          col("c_id").as("c_id")))).as("tc"))
      .select(col("q_id"), col("n_candidates"), col("n_matches"),
        coalesce(col("tc")("c_id"), lit(-1L)).as("best_vec_id"),
        coalesce(-col("tc")("negcos"), lit(-1.0)).as("best_cos"))
  }

  /** Streaming VECTOR-INGEST gate against the persisted BASE index —
    * the write-path half of the vector stack as a stream transform
    * (`stream_vec_append`, the vector analogue of
    * [[incrementalDedupGate]]): each ARRIVING embedding assigns
    * row-locally to its nearest base cell (broadcast codebook, compiled
    * argmin — exactly the cell its append will land in) and is answered
    * with per-vector ingest aggregates over that cell's existing
    * members: candidates scanned, members over the similarity floor
    * (τ = 0.35, calibrated to this near-isotropic synthetic corpus —
    * best corpus cosines sit at 0.28–0.45; a production embedding
    * corpus would use ~0.9), and the best match by rounded cosine with
    * id tiebreak — the admit/flag decision an ingest pipeline makes
    * BEFORE appending. Aggregation-only (rank windows don't stream);
    * `batch` may be streaming: the candidate join is stream-static
    * against the CELL-BUCKETED index (merge-hinted — at scale the index
    * is the huge side and must stream from its buckets, never
    * broadcast), and state is one counter struct per in-flight vector.
    * Gating against a FROZEN base generation makes the result
    * independent of micro-batch boundaries: stream ≡ batch.
    */
  def vecIngestGate(batch: DataFrame, baseIdx: DataFrame,
      baseCb: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    val b = batch
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
    val assigned = graft.operators.VectorOps
      .withNearestCells(b, baseCb, keep = 1)
      .select(col("vec_id").cast("long").as("in_id"), col("emb").as("in_emb"),
        col("nrm").as("in_nrm"), col("cell"))
    assigned
      .join(baseIdx.withColumnRenamed("vec_id", "c_id").hint("merge"), Seq("cell"))
      .withColumn("cos", round(
        GraftFunctions.dot(col("emb"), col("in_emb"))
          / (col("nrm") * col("in_nrm")), 6))
      .groupBy(col("in_id"), col("cell"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("cos") >= 0.35, 1L).otherwise(0L)).as("n_similar"),
        min(struct((-col("cos")).as("negcos"), col("c_id").as("c_id"))).as("tc"))
      .select(col("in_id").as("vec_id"), col("cell"),
        col("n_candidates"), col("n_similar"),
        col("tc")("c_id").as("best_vec_id"),
        (-col("tc")("negcos")).as("best_cos"))
  }

  /** Streaming upsert: each user's LATEST event (last-write-wins keyed
    * state, the cache/dimension-refresh pattern). As a streaming query
    * this is a plain keyed aggregation in update mode — each microbatch
    * re-emits only the users it touched, i.e. exactly an upsert feed.
    * The extreme row is picked with max(struct(ts, event_id, …)) so the
    * tiebreak is explicit and the state is one struct per user (O(1),
    * no watermark needed — the key space, not time, bounds it).
    */
  def latestPerUser(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .select(
        col("user_id"),
        col("m.ts").as("last_ts"),
        col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"),
        col("m.value").as("last_value"))
}
