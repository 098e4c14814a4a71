package graft

import org.apache.spark.SparkFiles

/** Every file-backed scratch writer writes under the session's scratch
  * root — Spark's driver temp dir, which Spark deletes when the session
  * stops — so no query leaves files behind a finished run.
  */
class ScratchRootSpec extends SparkSpecBase {

  private val writers = Seq(
    "scan_csv_roundtrip", "scan_json_roundtrip", "sink_parquet_partitioned",
    "scan_orc_roundtrip", "scan_parquet_schema_evolution", "sort_clustered_write_stats",
    "scan_text_roundtrip", "scan_binaryfile_ingest", "sort_zorder_2d_stats",
    "scan_csv_quarantine", "etl_compact_small_files", "etl_backfill_dynamic_overwrite",
    "join_bucketed_colocated", "join_dpp_partition_pruned", "stream_foreachbatch_sink")

  test("scratch writers read back only files under the session's scratch root") {
    val fixture = new java.io.File(sfDir).getAbsolutePath + "/"
    for (q <- writers) withClue(s"[$q] ") {
      val written = SparkEntry.queries(q)(spark, sfDir).inputFiles.toSeq
        .map(f => new java.net.URI(f).getPath)
        .filterNot(_.startsWith(fixture))
      val root = new java.io.File(SparkFiles.getRootDirectory()).getAbsolutePath + "/"
      assert(written.nonEmpty, "read back no written file")
      assert(written.forall(_.startsWith(root)),
        s"files outside $root: ${written.filterNot(_.startsWith(root)).take(3)}")
    }
  }

  test("the JDBC roundtrip leaves no derby.log in the working directory") {
    // whole seconds: a coarse file clock must not hide a fresh write
    val start = System.currentTimeMillis() / 1000 * 1000
    SparkEntry.queries("sink_jdbc_roundtrip")(spark, sfDir).collect()
    val log = new java.io.File(System.getProperty("user.dir"), "derby.log")
    assert(!log.exists || log.lastModified < start,
      s"${log.getAbsolutePath} written during the run")
  }
}
