package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Multimodal binary-column surface (declared half; the mapPartitions
  * decode plumbing lives in graft.multimodal.MediaPipeline and is
  * spec-tested). This query treats document text bytes as an opaque
  * payload: byte length, SHA-256 content fingerprint, and
  * deterministic pseudo-dimensions derived from the digest — the exact
  * metadata shape a real media table carries, fully SQL-expressible so
  * the DuckDB oracle can verify it.
  */
object Multimodal extends QueryModule {

  val multimodalBinaryMeta = Q(
    "multimodal_binary_meta",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .select(
          $"doc_id",
          octet_length($"text").as("n_bytes"),
          sha2($"text".cast("binary"), 256).as("sha"))
        .withColumn("width",
          lit(64) + (ascii(substring($"sha", 1, 1)) * 256 + ascii(substring($"sha", 2, 1))) % 576)
        .withColumn("height",
          lit(64) + (ascii(substring($"sha", 3, 1)) * 256 + ascii(substring($"sha", 4, 1))) % 416)
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, n_bytes, sha,
        64 + (ascii(substr(sha, 1, 1)) * 256 + ascii(substr(sha, 2, 1))) % 576 AS width,
        64 + (ascii(substr(sha, 3, 1)) * 256 + ascii(substr(sha, 4, 1))) % 416 AS height
      FROM (
        SELECT doc_id,
          octet_length(encode(text)) AS n_bytes,
          sha256(text) AS sha
        FROM documents)
      ORDER BY doc_id
    """.trim))

  /** Frame sampling declared relationally: frame count is derived from
    * the sha fingerprint (so the DuckDB oracle can reproduce it — the
    * mapPartitions codec path computing real frame counts is spec-tested
    * in MediaPipelineSpec), then every 8th frame index is exploded out.
    * One row per kept frame, no shuffle: scales with the scan.
    */
  val multimodalFrameSample = Q(
    "multimodal_frame_sample",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .select($"doc_id", sha2($"text".cast("binary"), 256).as("sha"))
        .withColumn("frames",
          lit(1) + (ascii(substring($"sha", 5, 1)) * 256 + ascii(substring($"sha", 6, 1))) % 120)
        .select($"doc_id", $"frames",
          explode(sequence(lit(0), $"frames" - 1, lit(8))).as("frame_idx"))
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""
      SELECT doc_id,
        CAST(frames AS BIGINT) AS frames,
        CAST(UNNEST(range(0, frames, 8)) AS BIGINT) AS frame_idx
      FROM (
        SELECT doc_id,
          1 + (ascii(substr(sha256(text), 5, 1)) * 256
               + ascii(substr(sha256(text), 6, 1))) % 120 AS frames
        FROM documents)
      ORDER BY doc_id, frame_idx
    """.trim))

  /** Chunk manifest for parallel decode (SURVEY §2 I-sept): shard each
    * opaque payload into fixed 1 KiB byte ranges with per-chunk SHA-256
    * fingerprints — the blob-splitting step a media pipeline runs BEFORE
    * fan-out decode, so each task pulls one bounded range instead of a
    * whole video, and the per-chunk digest makes retries/dedup
    * content-addressed. One row per chunk: offset, length, is_last,
    * digest.
    *
    * Scale notes (100 TB): pure per-row explode — chunk count rides the
    * scan with no shuffle at all; the manifest columns (offset/len) are
    * integer algebra on octet_length, and substring-then-hash keeps the
    * digest computable in both engines (the mapPartitions codec path
    * doing real byte-range reads is MediaPipelineSpec territory).
    */
  val multimodalChunkManifest = Q(
    "multimodal_chunk_manifest",
    (spark, dir) => {
      import spark.implicits._
      val cs = 1024
      Tables
        .documents(spark, dir)
        .select($"doc_id", $"text", octet_length($"text").as("n_bytes"))
        .withColumn("n_chunks", expr(s"(n_bytes + ${cs - 1}) div $cs").cast("long"))
        .select($"doc_id", $"text", $"n_bytes", $"n_chunks",
          explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_idx"))
        .select($"doc_id", $"n_bytes", $"n_chunks", $"chunk_idx",
          ($"chunk_idx" * cs).as("byte_offset"),
          least(lit(cs).cast("long"), $"n_bytes" - $"chunk_idx" * cs).as("chunk_len"),
          ($"chunk_idx" === $"n_chunks" - 1).as("is_last"),
          // substring AFTER the binary cast: the declared 1 KiB ranges are
          // byte offsets into the UTF-8 encoding, so the hashed slice must
          // be the byte range, not a char range (they differ off-ASCII).
          // The digest is over the uppercase hex encoding of the range —
          // the oracle's sha256 is VARCHAR-only, and hex-then-slice there
          // equals slice-then-hex here, byte for byte.
          sha2(hex(substring($"text".cast("binary"),
            ($"chunk_idx" * cs + 1).cast("int"), lit(cs))), 256).as("chunk_sha"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""
      SELECT doc_id, n_bytes, n_chunks, chunk_idx,
        chunk_idx * 1024 AS byte_offset,
        LEAST(1024, n_bytes - chunk_idx * 1024) AS chunk_len,
        chunk_idx = n_chunks - 1 AS is_last,
        sha256(substr(hex(encode(text)), CAST(chunk_idx * 2048 + 1 AS BIGINT), 2048)) AS chunk_sha
      FROM (
        SELECT doc_id, text, n_bytes,
          CAST((n_bytes + 1023) // 1024 AS BIGINT) AS n_chunks,
          CAST(UNNEST(range((n_bytes + 1023) // 1024)) AS BIGINT) AS chunk_idx
        FROM (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
              FROM documents))
      ORDER BY doc_id, chunk_idx
    """.trim))

  /** Aspect-ratio bucket statistics (SURVEY §2 I-sept) — the
    * variable-resolution BATCH-SHAPING step of an image training
    * pipeline: images only batch together when they share a shape, so
    * each (width, height) from the fingerprint-derived dimensions is
    * snapped to the nearest of a fixed 5-rung aspect ladder (0.5, 0.75,
    * 1.0, 1.33, 2.0 — portrait→landscape), and the declared output is
    * the per-bucket manifest: image count, mean megapixels, and how
    * many batch-of-32 batches the bucket fills (padded last batch
    * included — the padding-waste number bucketing exists to minimize).
    *
    * Scale notes: ratio snap is scalar algebra on the scan (the arg-min
    * over 5 rungs is an inlined LEAST chain — no UDF); the rollup is a
    * 5-group map-side-combinable agg. Determinism: the ratio and the
    * rung distances round at 6 dp before comparison, so the snap
    * decision is exact in both engines.
    */
  val multimodalAspectBucketStats = Q(
    "multimodal_aspect_bucket_stats",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"doc_id", sha2($"text".cast("binary"), 256).as("sha"))
        .withColumn("width",
          lit(64) + (ascii(substring($"sha", 1, 1)) * 256 + ascii(substring($"sha", 2, 1))) % 576)
        .withColumn("height",
          lit(64) + (ascii(substring($"sha", 3, 1)) * 256 + ascii(substring($"sha", 4, 1))) % 416)
        .withColumn("ratio", round($"width".cast("double") / $"height", 6))
      val rungs = Seq(0.5, 0.75, 1.0, 1.33, 2.0)
      val dist = (r: Double) => round(abs($"ratio" - r), 6)
      val best = rungs.map(r => struct(dist(r).as("d"), lit(r).as("rung")))
        .reduce((a, b) => when(b("d") < a("d"), b).otherwise(a))
      base.withColumn("bucket", best("rung"))
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_images"),
          round(sum(($"width".cast("long") * $"height")
            .cast(org.apache.spark.sql.types.DecimalType(28, 0)))
            .cast("double") / count(lit(1)) / 1e6, 6).as("mean_mpix"),
          expr("(count(1) + 31) div 32").as("n_batches"),
          (count(lit(1)) % 32).as("last_batch_fill"))
        .orderBy($"bucket")
    },
    Some("""
      SELECT bucket, COUNT(*) AS n_images,
        ROUND(CAST(SUM(CAST(CAST(width AS BIGINT) * height AS DECIMAL(28,0))) AS DOUBLE)
          / COUNT(*) / 1e6, 6) AS mean_mpix,
        (COUNT(*) + 31) // 32 AS n_batches,
        COUNT(*) % 32 AS last_batch_fill
      FROM (
        SELECT doc_id, width, height,
          CASE
            WHEN ROUND(ABS(ratio - 0.5), 6) = md THEN 0.5
            WHEN ROUND(ABS(ratio - 0.75), 6) = md THEN 0.75
            WHEN ROUND(ABS(ratio - 1.0), 6) = md THEN 1.0
            WHEN ROUND(ABS(ratio - 1.33), 6) = md THEN 1.33
            ELSE 2.0 END AS bucket
        FROM (
          SELECT doc_id, width, height,
            ROUND(CAST(width AS DOUBLE) / height, 6) AS ratio,
            LEAST(ROUND(ABS(ROUND(CAST(width AS DOUBLE) / height, 6) - 0.5), 6),
                  ROUND(ABS(ROUND(CAST(width AS DOUBLE) / height, 6) - 0.75), 6),
                  ROUND(ABS(ROUND(CAST(width AS DOUBLE) / height, 6) - 1.0), 6),
                  ROUND(ABS(ROUND(CAST(width AS DOUBLE) / height, 6) - 1.33), 6),
                  ROUND(ABS(ROUND(CAST(width AS DOUBLE) / height, 6) - 2.0), 6)) AS md
          FROM (
            SELECT doc_id,
              64 + (ascii(substr(sha, 1, 1)) * 256 + ascii(substr(sha, 2, 1))) % 576 AS width,
              64 + (ascii(substr(sha, 3, 1)) * 256 + ascii(substr(sha, 4, 1))) % 416 AS height
            FROM (SELECT doc_id, sha256(text) AS sha FROM documents))))
      GROUP BY bucket ORDER BY bucket
    """.trim))

  /** TRAINING-SHARD PACKING (SURVEY §2 I-tredec) — the WebDataset/
    * tar-shard step an image/video pipeline runs after curation: media
    * loaders want ~fixed-size sequential shards, not millions of small
    * objects. Blobs pack GREEDILY in doc_id order per LANGUAGE (real
    * pipelines shard per source/language stream so one shard never
    * mixes loaders); the shard boundary is the cumulative byte size
    * crossing the 16 KiB target — shard_idx = ⌊(cumsum − n_bytes) /
    * 16384⌋, the first-fit-in-order rule whose whole packing is a pure
    * running-sum window. Declared output = the per-(lang, shard)
    * manifest: blob count, shard bytes, id range, fill ratio.
    *
    * Scale notes (100 TB): the window is KEYED by language — one
    * shuffle on lang, no global ordering anywhere (the global-window
    * anti-pattern `win_rank_global_scalable` exists to avoid); the
    * rollup is map-side combinable. Per-stream packing is also the
    * correct production semantics: shard numbering restarts per stream,
    * so streams pack independently and in parallel.
    */
  val multimodalShardPack = Q(
    "multimodal_shard_pack",
    (spark, dir) => {
      import spark.implicits._
      val S = 16384L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_id")
      Tables.documents(spark, dir)
        .select($"doc_id", $"lang", octet_length($"text").cast("long").as("n_bytes"))
        .withColumn("cum", sum($"n_bytes").over(w))
        .withColumn("shard_idx", expr(s"(cum - n_bytes) div $S"))
        .groupBy($"lang", $"shard_idx")
        .agg(
          count(lit(1)).as("n_blobs"),
          sum($"n_bytes").as("shard_bytes"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .withColumn("fill_ratio",
          round($"shard_bytes".cast(org.apache.spark.sql.types.DoubleType) / S, 6))
        .orderBy($"lang", $"shard_idx")
    },
    Some("""
      WITH sized AS (
        SELECT doc_id, lang, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      ), packed AS (
        SELECT doc_id, lang, n_bytes,
          (CAST(SUM(n_bytes) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
            - n_bytes) // 16384 AS shard_idx
        FROM sized
      )
      SELECT lang, shard_idx,
        COUNT(*) AS n_blobs,
        CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
        MIN(doc_id) AS first_doc,
        MAX(doc_id) AS last_doc,
        ROUND(CAST(SUM(n_bytes) AS DOUBLE) / 16384, 6) AS fill_ratio
      FROM packed
      GROUP BY lang, shard_idx
      ORDER BY lang, shard_idx
    """.trim))

  def qs: Seq[Q] = Seq(multimodalBinaryMeta, multimodalFrameSample,
    multimodalChunkManifest, multimodalAspectBucketStats,
    multimodalShardPack)
}
