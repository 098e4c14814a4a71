package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The persisted-artifact store shared by every warehouse artifact
  * family ([[IvfIndex]], [[ShingleRegistry]], [[Scd2Dim]]): where the
  * warehouse and scratch roots are, how a corpus path becomes a table-name
  * tag, the freshness rule, the find-or-build commit protocol, the alias
  * protocol and the table layouts. These decisions live here once, so a
  * fix to the contract reaches every family; a family keeps only its
  * recipes and fingerprints.
  *
  * Layout: each table shape is declared once as a [[Layout]] — a schema
  * plus either a bucket key with sort columns or one small file. The
  * layout renders the re-registration DDL and does the write, the append
  * and the seed, so the bucket spec a building JVM writes and the one a
  * re-registering JVM declares come from the same value.
  *
  * Freshness: an artifact is current when the `<table>.fingerprint`
  * marker beside its first table holds the expected fingerprint (the
  * [[corpusIdentity]] of the input corpus plus the family's recipe
  * segments) and every table directory exists. A new JVM that finds
  * current data re-registers the catalog entries with metadata-only DDL:
  * no data file is rewritten. [[findOrBuild]] returns the tables' frames.
  *
  * Alias: a write-forward generation whose apply is empty is published as
  * catalog metadata over the files of the generation below it, under an
  * alias marker ([[findAliasOrBuild]], [[isAlias]]).
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

  /** (path, size, mtime) identity of one file. */
  private def fileIdentity(f: java.io.File): String =
    s"${f.getAbsolutePath}|${f.length}|${f.lastModified}"

  /** Identity of corpus table `table` under `dir` — the PlanCache
    * freshness key, persisted in the marker so a new JVM can check it.
    * `$dir/<table>.parquet` may be one file or a directory of files (see
    * [[graft.Tables]]): a file gives its own (path, size, mtime); a
    * directory gives the sorted identities of every regular file under
    * it, because a file rewritten in place changes neither the
    * directory's size nor its mtime.
    */
  def corpusIdentity(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    if (!f.isDirectory) fileIdentity(f)
    else {
      val files = Files.walk(f.toPath)
      try files.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toFile)
        .map(fileIdentity).toSeq.sorted.mkString(";")
      finally files.close()
    }
  }

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

  /** Metadata-only (re-)registration of each table over the data at
    * the matching location.
    */
  private def register(spark: SparkSession, tables: Seq[(String, Layout)],
      locs: Seq[java.io.File]): Unit =
    tables.zip(locs).foreach { case ((n, layout), loc) =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      spark.sql(layout.ddl(n, loc))
    }

  /** Drops the catalog entries, the marker and the data of `names`. */
  private def discard(spark: SparkSession, names: Seq[String]): Unit = {
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Files.deleteIfExists(markerFile(spark, names.head).toPath)
    names.foreach(n => rmTree(tableLoc(spark, n)))
  }

  /** Find-or-build skeleton shared by every persisted artifact family:
    * data current + catalog entries present → pure lookup; data current,
    * catalog missing (a new JVM) → metadata-only re-registration; stale or
    * absent → discard everything, run `build` (which writes each table
    * with its layout under warehouse/<name>), then commit the marker
    * LAST — the job-level replay idempotence every family relies on.
    * Returns the tables' frames, in `tables` order.
    */
  def findOrBuild(spark: SparkSession, fp: String,
      tables: Seq[(String, Layout)])(build: => Unit): Seq[DataFrame] = {
    val names = tables.map(_._1)
    if (artifactsFresh(spark, fp, names)) {
      if (!names.forall(spark.catalog.tableExists))
        register(spark, tables, names.map(tableLoc(spark, _)))
    } else {
      discard(spark, names)
      build
      commitMarker(spark, names.head, fp)
    }
    names.map(spark.table)
  }

  /** The marker of an artifact published under `fp` as an alias of
    * older files.
    */
  private def aliasMarker(fp: String): String = s"$fp|noop"

  /** Does the marker beside `table` say it was published under `fp` as
    * an alias of older files ([[findAliasOrBuild]])?
    */
  def isAlias(spark: SparkSession, table: String, fp: String): Boolean =
    readMarker(spark, table) == aliasMarker(fp)

  /** [[findOrBuild]] for a write-forward generation whose apply can be
    * empty. An empty plan publishes the tables as catalog metadata over
    * the `aliased` files of the generation below — no copy, no shuffle,
    * nothing to roll back — and commits the alias marker. So a no-op
    * nightly apply never copies the data. Three branches:
    *
    *  - the alias is current (`aliasCurrent`: the aliased data is still
    *    on disk) → re-register over the aliased files when the catalog
    *    entries are missing;
    *  - the tables are not current and `planEmpty` → discard, register
    *    over the aliased files, then commit the alias marker;
    *  - otherwise → [[findOrBuild]].
    *
    * Evaluating `aliased` must leave the aliased generation's data and
    * catalog entries current; an alias marker whose data is gone is not
    * trusted, so the next call rebuilds instead of registering tables over
    * missing files.
    */
  def findAliasOrBuild(spark: SparkSession, fp: String, tables: Seq[(String, Layout)],
      aliasCurrent: => Boolean, planEmpty: => Boolean, aliased: => Seq[java.io.File])(
      build: => Unit): Seq[DataFrame] = {
    val names = tables.map(_._1)
    if (isAlias(spark, names.head, fp) && aliasCurrent) {
      if (!names.forall(spark.catalog.tableExists)) register(spark, tables, aliased)
      names.map(spark.table)
    } else if (!artifactsFresh(spark, fp, names) && planEmpty) {
      val locs = aliased
      discard(spark, names)
      register(spark, tables, locs)
      commitMarker(spark, names.head, aliasMarker(fp))
      names.map(spark.table)
    } else findOrBuild(spark, fp, tables)(build)
  }

  /** How one persisted table is laid out: its schema plus either a bucket
    * key with sort columns or one small file. The layout renders the
    * table's re-registration DDL and does its write, append and seed, so
    * a JVM that builds the table and one that re-registers it read the
    * same bucket spec.
    *
    * THE bucketed layout rule: repartition on the bucket key with the
    * bucket count, so each task holds exactly one bucket's rows and writes
    * one file per bucket — no tasks×buckets small-file fan-out. A small
    * table (kilobytes, broadcast at query time) is one file, its rows
    * sorted by every column in schema order: the coalesced input arrives
    * in file-split order, which ties between equal-size files break by
    * random file name, so without the sort two builds of one table could
    * write the same rows in different orders.
    */
  final class Layout private (schema: String, bucketing: Option[(String, Seq[String])]) {

    /** The CREATE TABLE statement of table `name` over the files at `loc`. */
    def ddl(name: String, loc: java.io.File): String = bucketing match {
      case None =>
        s"""CREATE TABLE $name ($schema)
           |USING PARQUET LOCATION '${loc.toURI}'""".stripMargin
      case Some((key, sortCols)) =>
        s"""CREATE TABLE $name ($schema)
           |USING PARQUET
           |CLUSTERED BY ($key) SORTED BY (${sortCols.mkString(", ")}) INTO $NBuckets BUCKETS
           |LOCATION '${loc.toURI}'""".stripMargin
    }

    private def writer(df: DataFrame): DataFrameWriter[Row] = bucketing match {
      case None =>
        df.coalesce(1)
          .sortWithinPartitions(StructType.fromDDL(schema).fieldNames.map(col).toIndexedSeq: _*)
          .write
      case Some((key, sortCols)) =>
        df.repartition(NBuckets, col(key))
          .write
          .bucketBy(NBuckets, key)
          .sortBy(sortCols.head, sortCols.tail: _*)
    }

    private def writeAt(df: DataFrame, name: String, loc: java.io.File): Unit =
      writer(df).option("path", loc.getAbsolutePath).saveAsTable(name)

    /** Writes `df` as the new table `name` at warehouse/<name>. */
    def write(df: DataFrame, name: String): Unit =
      writeAt(df, name, tableLoc(df.sparkSession, name))

    /** Appends `df` to the existing table `name` as additional files (one
      * per bucket); existing files are never rewritten.
      */
    def append(df: DataFrame, name: String): Unit =
      writer(df).mode("append").saveAsTable(name)

    /** Replaces table `name` and the files at `loc` with a copy of `df` —
      * the seed of a new, separately maintained generation.
      */
    def seed(df: DataFrame, name: String, loc: java.io.File): Unit = {
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
      rmTree(loc)
      writeAt(df, name, loc)
    }
  }

  object Layout {
    def bucketed(schema: String, key: String, sortCols: String*): Layout =
      new Layout(schema, Some((key, sortCols)))
    def small(schema: String): Layout = new Layout(schema, None)
  }
}
