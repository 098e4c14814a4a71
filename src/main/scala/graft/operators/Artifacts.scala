package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.Files

/** The persisted-artifact store shared by every warehouse artifact
  * family ([[IvfIndex]], [[ShingleRegistry]], [[Scd2Dim]]): where the
  * warehouse and scratch roots are, how a corpus path becomes a table-name
  * tag, the freshness rule, the find-or-build commit protocol and the
  * bucketed file layout. These decisions live here once, so a fix to the
  * contract reaches every family.
  *
  * Freshness: an artifact is current when the `<table>.fingerprint`
  * marker beside its first table holds the expected fingerprint (the
  * [[fileIdentity]] of the input corpus file plus the family's recipe
  * segments) and every table directory exists. A new JVM that finds
  * current data re-registers the catalog entries with metadata-only DDL:
  * no data file is rewritten.
  */
private[graft] object Artifacts {

  /** Bucket count of every persisted bucketed table. Fixed (bucketing
    * metadata must not depend on data volume at read time); at cluster
    * scale this would be sized ~one bucket per executor-core wave.
    */
  val NBuckets = 16

  /** Session-scoped scratch root for per-invocation sinks: Spark's driver
    * temp dir ([[org.apache.spark.SparkFiles.getRootDirectory]]). Spark
    * creates it with a random name under the local dir (`spark.local.dir`,
    * `SPARK_LOCAL_DIRS` or `java.io.tmpdir`) when the session starts, and
    * deletes it when the session stops and again at JVM exit. So two
    * concurrent sessions never share it, and nothing written under it
    * outlives its session. It is a driver-local path: on a cluster the
    * writers below it would need a shared filesystem instead.
    */
  def scratchRoot: String = org.apache.spark.SparkFiles.getRootDirectory()

  /** A fresh 12-hex-digit name suffix for scratch paths, temp views and
    * tables, so concurrent invocations in one session never collide.
    */
  def uniqueId(): String = java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** Slug + stable hash of the RAW corpus dir: the readable slug alone is
    * lossy ([^A-Za-z0-9]+ → _ collides e.g. data/sf0.01 with data/sf0_01,
    * thrashing rebuilds when two corpora share a warehouse).
    */
  def tag(dir: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_|_$", "")
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    s"${slug}_$h"
  }

  /** (path, size, mtime) identity of an input file — the PlanCache
    * freshness key, persisted in the marker so a new JVM can check it.
    */
  def fileIdentity(f: java.io.File): String =
    s"${f.getAbsolutePath}|${f.length}|${f.lastModified}"

  /** The session warehouse as a local directory. */
  def warehouseDir(spark: SparkSession): java.io.File = {
    val w = spark.conf.get("spark.sql.warehouse.dir")
    if (w.startsWith("file:")) new java.io.File(new java.net.URI(w).getPath)
    else new java.io.File(w)
  }

  /** warehouse/<name> — where an artifact's data files live. */
  def tableLoc(spark: SparkSession, name: String): java.io.File =
    new java.io.File(warehouseDir(spark), name)

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }

  /** Renders the CREATE TABLE statement of table `name` at `loc`. */
  type Ddl = (String, java.io.File) => String

  def plainDdl(schema: String): Ddl = (name, loc) =>
    s"""CREATE TABLE $name ($schema)
       |USING PARQUET LOCATION '${loc.toURI}'""".stripMargin

  def bucketedDdl(schema: String, key: String, sortCols: String*): Ddl = (name, loc) =>
    s"""CREATE TABLE $name ($schema)
       |USING PARQUET
       |CLUSTERED BY ($key) SORTED BY (${sortCols.mkString(", ")}) INTO $NBuckets BUCKETS
       |LOCATION '${loc.toURI}'""".stripMargin

  private def markerFile(spark: SparkSession, table: String): java.io.File =
    new java.io.File(warehouseDir(spark), s"$table.fingerprint")

  /** The fingerprint-marker content beside `table`, "" when absent. */
  def readMarker(spark: SparkSession, table: String): String = {
    val f = markerFile(spark, table)
    if (f.isFile) Files.readString(f.toPath).trim else ""
  }

  /** Commits the marker of an artifact whose first table is `table` —
    * always the LAST step of a build, so a crashed build leaves no marker
    * and the next run rebuilds.
    */
  def commitMarker(spark: SparkSession, table: String, content: String): Unit =
    Files.writeString(markerFile(spark, table).toPath, content): Unit

  /** THE freshness predicate: marker equals fp and every table directory
    * exists. [[findOrBuild]] and IvfIndex's generation-chain guards share
    * it, so the two can never diverge.
    */
  def artifactsFresh(spark: SparkSession, fp: String, names: Seq[String]): Boolean =
    readMarker(spark, names.head) == fp &&
      names.forall(n => tableLoc(spark, n).isDirectory)

  /** Metadata-only (re-)registration of each spec's table over the data
    * at the matching location.
    */
  def register(spark: SparkSession, specs: Seq[(String, Ddl)],
      locs: Seq[java.io.File]): Unit =
    specs.zip(locs).foreach { case ((n, ddl), loc) =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      spark.sql(ddl(n, loc))
    }

  /** Drops the catalog entries, the marker and the data of `names`. */
  def discard(spark: SparkSession, names: Seq[String]): Unit = {
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Files.deleteIfExists(markerFile(spark, names.head).toPath)
    names.foreach(n => rmTree(tableLoc(spark, n)))
  }

  /** Find-or-build skeleton shared by every persisted artifact family:
    * data current + catalog entries present → pure lookup; data current,
    * catalog missing (a new JVM) → metadata-only re-registration; stale or
    * absent → discard everything, run `build` (which writes the data files
    * under warehouse/<name>), then commit the marker LAST — the job-level
    * replay idempotence every family relies on.
    */
  def findOrBuild(spark: SparkSession, fp: String,
      specs: Seq[(String, Ddl)])(build: => Unit): Unit = {
    val names = specs.map(_._1)
    if (artifactsFresh(spark, fp, names)) {
      if (!names.forall(spark.catalog.tableExists))
        register(spark, specs, names.map(tableLoc(spark, _)))
    } else {
      discard(spark, names)
      build
      commitMarker(spark, names.head, fp)
    }
  }

  /** THE bucketed layout rule: repartition on the bucket key with the
    * bucket count, so each task holds exactly one bucket's rows and writes
    * one file per bucket — no tasks×buckets small-file fan-out.
    */
  private def bucketed(df: DataFrame, key: String, sortCols: Seq[String]): DataFrameWriter[Row] =
    df.repartition(NBuckets, col(key))
      .write
      .bucketBy(NBuckets, key)
      .sortBy(sortCols.head, sortCols.tail: _*)

  /** Writes `df` as the new bucketed table `name` with its files at `loc`. */
  def writeBucketed(df: DataFrame, name: String, loc: java.io.File,
      key: String, sortCols: String*): Unit =
    bucketed(df, key, sortCols).option("path", loc.getAbsolutePath).saveAsTable(name)

  /** Writes a kilobyte side table `name` as one file at warehouse/<name>. */
  def writeSmall(df: DataFrame, name: String): Unit =
    df.coalesce(1)
      .write
      .option("path", tableLoc(df.sparkSession, name).getAbsolutePath)
      .saveAsTable(name)

  /** Appends `df` to the existing bucketed table `name` as additional
    * per-bucket files; existing files are never rewritten.
    */
  def appendBucketed(df: DataFrame, name: String, key: String, sortCols: String*): Unit =
    bucketed(df, key, sortCols).mode("append").saveAsTable(name)
}
