package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Queries with no SQL equivalent (LSH, ANN, …) omit the oracle and
  * get the driver's weaker rows-only check.
  *
  * Determinism contract (so the driver's hash compare is stable):
  *   - every query ends in a total ORDER BY over a unique key;
  *   - double aggregations are computed in decimal(18,6) (exact, summation-
  *     order independent) and cast back to double at the end, so Spark's
  *     partial/final partition-parallel aggregation and DuckDB's sequential
  *     scan produce bit-identical doubles;
  *   - aliases match between the DataFrame program and the oracle SQL.
  */
final case class QueryDef(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String]
) {
  /** Sets `s` up for graft ([[Setup]]), then runs the query's body: every
    * caller gets a graft-ready session, however it reached the query. */
  def run(s: SparkSession, dir: String): DataFrame = {
    Setup(s)
    body(s, dir)
  }
}
