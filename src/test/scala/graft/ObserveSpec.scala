package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener

/** `Dataset.observe` — in-flight pipeline metrics (SURVEY §3.2's
  * monitoring obligation): aggregates computed WHILE a job runs, emitted
  * through a QueryExecutionListener, costing zero extra passes. At
  * 100 TB this is the only affordable way to get per-run row counts and
  * reconciliation totals out of a write job — a separate metrics query
  * would re-read the input; `observe` piggybacks on the work already
  * being done.
  *
  * The spec proves the metrics equal a separately-computed aggregate,
  * and that they flow through a real action (a parquet write), i.e. the
  * exact audit-on-publish pattern `etl_dq_audit` runs as a query.
  */
class ObserveSpec extends SparkSpecBase {

  private def withListener[A](body: => A): (A, Seq[Row]) = {
    val captured = new ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("load_metrics").foreach(captured.add)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      // listener delivery is async; poll until the metric lands
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      (a, captured.toArray(Array.empty[Row]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observe emits exact row count and decimal total with a write action") {
    import spark.implicits._
    val path = scratchPath("observe")
    val (_, rows) = withListener {
      Tables.orders(spark, sfDir)
        .observe(
          "load_metrics",
          count(lit(1)).as("n_rows"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).as("total_price"),
          count(when($"o_totalprice".isNull, 1)).as("null_prices"))
        .write.mode("overwrite").parquet(path)
    }
    assert(rows.nonEmpty, "no observed metrics arrived via the listener")
    val m = rows.last
    val expected = Tables.orders(spark, sfDir)
      .agg(count(lit(1)), sum($"o_totalprice".cast(DecimalType(18, 2))),
        count(when($"o_totalprice".isNull, 1)))
      .head()
    assert(m.getAs[Long]("n_rows") == expected.getLong(0))
    assert(m.getAs[java.math.BigDecimal]("total_price") == expected.getDecimal(1))
    assert(m.getAs[Long]("null_prices") == expected.getLong(2))
    // and the write actually happened — metrics rode a real job
    assert(spark.read.parquet(path).count() == expected.getLong(0))
  }
}
