package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark builder plus (optionally) the equivalent
  * DuckDB SQL oracle. `oracle = None` marks a SURVEY.md §2 "✘" row — an
  * operator whose output is engine-specific (sketches, LSH candidates);
  * those are property-tested in ScalaTest instead. An oracle string
  * builds the stages it shares with other oracles from fragments:
  * `operators.OracleSql` holds those several modules use, and a fragment
  * one module uses lives in that module.
  *
  * Determinism contract (SURVEY.md §2.0, enforced by ParityInvariantSpec):
  * every declared DataFrame ends in a total ORDER BY (unique tiebreak) and
  * aggregates doubles only after a decimal cast, so the driver's
  * sort-columns-then-hash compare is deterministic on both engines.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def qs: Seq[Q]
}
