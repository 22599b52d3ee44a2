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

object QueryDef {
  /** Runs `body` with the session confs `kvs` set, then restores each
    * key to what it was before: its prior value, or unset where it had
    * none. A query that needs a conf only while its frame plans or
    * materializes wraps exactly that span. */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Storage-partitioned join confs: bucketed DSv2 scans report their
    * layout, and no broadcast bypasses the partition alignment. */
  val SpjConfs: Seq[(String, String)] = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The RocksDB state store, which `transformWithState` requires. */
  val RocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
