package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, Test/fork=true).
  * sf0.001 is the smoke-scale fixture per TESTDATA.md.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.shared

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpecBase {
  lazy val shared: SparkSession = Harness.session(Harness.builder(4)
    .config("spark.sql.warehouse.dir", "/tmp/graft_scratch/warehouse"))
}
