package graft

import graft.multimodal.MediaPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}

/** The multimodal plumbing must be real even though the codec is a stub:
  * binary columns survive the scan, the mapPartitions decode is
  * distributed and deterministic, and the decoded struct is relational
  * downstream.
  */
class MediaPipelineSpec extends SparkSpecBase {

  private def payloads = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))

  test("decode preserves row count, schema, and determinism") {
    val out = MediaPipeline.decodeDocuments(payloads)
    assert(out.schema("n_bytes").dataType == LongType)
    assert(out.schema("width").dataType == IntegerType)
    val a = out.collect().map(_.toString).sorted.toSeq
    val b = MediaPipeline.decodeDocuments(payloads.repartition(7)).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b, "decode depends on partitioning")
    assert(a.size == payloads.count())
  }

  test("decoded metadata matches the codec applied driver-side") {
    import spark.implicits._
    val rows = MediaPipeline.decodeDocuments(payloads).collect()
      .map(d => d.doc_id -> d).toMap
    val local = payloads.as[(Long, Array[Byte])].collect()
    for ((id, bytes) <- local) {
      val m = MediaPipeline.FakeCodec.decode(bytes)
      val d = rows(id)
      assert((d.n_bytes, d.width, d.height, d.frames) == (m.n_bytes, m.width, m.height, m.frames))
    }
  }

  test("decoded output joins back relationally") {
    val joined = MediaPipeline.decodeDocuments(payloads).toDF()
      .join(Tables.documents(spark, sfDir), "doc_id")
    assert(joined.filter(col("n_bytes") =!= length(col("text"))).count() == 0)
  }

  test("resize emits bounded payloads, deterministically, for every row") {
    val out = MediaPipeline.resizeDocuments(payloads, 128, 96).collect()
    assert(out.length == payloads.count())
    val expectedLen = 128 * 96 / 64
    assert(out.forall(r => r.width == 128 && r.height == 96 &&
      r.payload.length == expectedLen))
    val again = MediaPipeline.resizeDocuments(payloads.repartition(5), 128, 96)
      .collect().map(r => r.doc_id -> r.payload.toSeq).toMap
    for (r <- out)
      assert(again(r.doc_id) == r.payload.toSeq, s"resize nondeterministic for ${r.doc_id}")
  }

  test("frame sampling keeps every 8th frame index per decoded doc") {
    import spark.implicits._
    val decoded = MediaPipeline.decodeDocuments(payloads)
    val sampled = MediaPipeline.sampleFrames(decoded, 8)
      .select($"doc_id", $"frames", $"frame_idx")
      .as[(Long, Int, Int)].collect()
    val byDoc = sampled.groupBy(_._1)
    val frames = decoded.collect().map(d => d.doc_id -> d.frames).toMap
    assert(byDoc.keySet == frames.keySet, "every doc must emit at least frame 0")
    for ((id, rows) <- byDoc) {
      val idxs = rows.map(_._3).sorted.toSeq
      assert(idxs == (0 until frames(id) by 8).toSeq, s"doc $id kept $idxs")
    }
  }
  test("chunk manifest: chunks tile each payload exactly, digests match direct hashes") {
    import spark.implicits._
    val rows = SparkEntry.queries("multimodal_chunk_manifest")(spark, sfDir)
      .select($"doc_id", $"n_bytes", $"n_chunks", $"chunk_idx", $"byte_offset",
        $"chunk_len", $"is_last", $"chunk_sha")
      .as[(Long, Long, Long, Long, Long, Long, Boolean, String)].collect()
    val byDoc = rows.groupBy(_._1)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(byDoc.keySet == docs.keySet, "some payload has no manifest")
    for ((id, cs) <- byDoc) {
      val sorted = cs.sortBy(_._4)
      val nb = sorted.head._2
      assert(sorted.map(_._4).toSeq == (0L until sorted.length.toLong), "chunk ids not dense")
      assert(sorted.length == (nb + 1023) / 1024, "chunk count wrong")
      // offsets/lengths tile [0, n_bytes) with no gap or overlap
      assert(sorted.map(_._6).sum == nb, "chunk lengths don't sum to the payload")
      sorted.foreach { c => assert(c._5 == c._4 * 1024, "offset != idx*1024") }
      assert(sorted.count(_._7) == 1 && sorted.last._7, "is_last not exactly the tail")
      // digest matches hashing the BYTE range directly — via its uppercase
      // hex encoding, the engine-portable digest the manifest declares
      // (the oracle's sha256 is VARCHAR-only, so the contract is
      // sha256(hex(byte_range)); byte slicing means non-ASCII payloads
      // chunk correctly too)
      val c0 = sorted.head
      val byteRange = docs(id).getBytes("UTF-8").slice(0, c0._6.toInt)
      val hexUpper = byteRange.map("%02X".format(_)).mkString
      val direct = java.security.MessageDigest.getInstance("SHA-256")
        .digest(hexUpper.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(c0._8 == direct, s"doc $id chunk-0 sha mismatch")
    }
  }

  test("aspect buckets: partition the corpus, snap to the nearest rung, batch math checks") {
    import spark.implicits._
    val rows = SparkEntry.queries("multimodal_aspect_bucket_stats")(spark, sfDir)
      .select($"bucket".cast("double"), $"n_images", $"mean_mpix".cast("double"),
        $"n_batches", $"last_batch_fill")
      .as[(Double, Long, Double, Long, Long)].collect()
    val rungs = Set(0.5, 0.75, 1.0, 1.33, 2.0)
    assert(rows.map(_._1).toSet.subsetOf(rungs), "bucket outside the ladder")
    assert(rows.map(_._2).sum == Tables.documents(spark, sfDir).count(),
      "buckets don't partition the corpus")
    rows.foreach { r =>
      assert(r._4 == (r._2 + 31) / 32, "batch count wrong")
      assert(r._5 == r._2 % 32, "last fill wrong")
      assert(r._3 > 0.0, "non-positive mean megapixels")
    }
    // every image's sha-derived ratio really is closest to its bucket's rung
    val imgs = SparkEntry.queries("multimodal_binary_meta")(spark, sfDir)
      .select($"width".cast("long"), $"height".cast("long"))
      .as[(Long, Long)].collect()
    val counted = imgs.groupBy { case (w, h) =>
      val ratio = BigDecimal(w.toDouble / h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rungs.toSeq.sorted.minBy(r => math.abs(ratio - r))
    }.view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(counted.getOrElse(r._1, 0L) == r._2, s"bucket ${r._1} count ${r._2} vs ${counted.getOrElse(r._1, 0L)}")
    }
  }
}
