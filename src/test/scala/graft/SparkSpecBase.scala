package graft

import graft.operators.Artifacts
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, Test/fork=true).
  * sf0.001 is the smoke-scale fixture per TESTDATA.md.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.shared

  /** A fresh, not yet existing path under the session's scratch root,
    * which Spark deletes with the session at JVM exit.
    */
  def scratchPath(prefix: String): String = {
    spark.sparkContext // the root exists once the session does
    s"${Artifacts.scratchRoot}/${prefix}_${Artifacts.uniqueId()}"
  }

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpecBase {

  /** The spec warehouse: one per JVM, so every run starts cold and runs
    * never share artifacts. It must be fixed before the session exists,
    * so it cannot live under the session's scratch root; one shutdown
    * hook removes it instead.
    */
  private lazy val warehouse: java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_spec_warehouse").toFile
    sys.addShutdownHook(Artifacts.rmTree(d))
    d
  }

  lazy val shared: SparkSession = Harness.session(Harness.builder(4)
    .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath))
}
