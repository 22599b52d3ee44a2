package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The row-level verbs both stores run under the DuckDB oracle — the
  * heap twins in [[SynthSource]] (q266/q267/q272/q280), the file twins in
  * [[FsQueries]] (q290/q291/q292/q295) — built once from shared pieces.
  * Each query passes its own table, source view and constants, so the
  * twins differ only in the store their table lives in: a protocol
  * difference between the stores is a hash mismatch. */
private[sources] object TwinVerbs {

  /** Every `every`-th order as `(k, pc)`, pc its price in cents,
    * registered as the temp view `view`: the MERGE source. */
  private def mergeSource(s: SparkSession, d: String, view: String,
      every: Int): Unit =
    graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % every === 0)
      .select(col("o_orderkey").cast("long").as("k"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType).as("pc"))
      .createOrReplaceTempView(view)

  /** Copy-on-write UPDATE of lineitem as `(k, qty, flag)`: `qty` times
    * `factor` where the flag is `flag` and `k % every = 0`. The condition
    * includes a modulo, so it is NOT filter-translatable — Spark
    * evaluates it inside the rewrite. Read back per flag. */
  final case class Update(factor: Int, flag: String, every: Int) {
    def run(s: SparkSession, d: String, table: String): DataFrame = {
      s.sql(s"DROP TABLE IF EXISTS graft.$table")
      graft.Tables.lineitem(s, d).select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
        .writeTo(s"graft.$table").create()
      s.sql(s"""UPDATE graft.$table SET qty = qty * $factor
              |WHERE flag = '$flag' AND k % $every = 0""".stripMargin)
      s.table(s"graft.$table")
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"),
          sum("k").as("sum_k"))
        .orderBy("flag")
    }

    def oracle: String =
      s"""SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN l_returnflag = '$flag' AND l_orderkey % $every = 0
         |    THEN CAST(l_quantity AS BIGINT) * $factor
         |    ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS sum_qty,
         |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_k
         |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin
  }

  /** The three-clause ledger MERGE. The target is lineitem per order,
    * `(k, n, sum_qty)`; the source every `every`-th order. MATCHED adds
    * `bump` to `sum_qty`, NOT MATCHED inserts with sentinel n = −1, NOT
    * MATCHED BY SOURCE deletes where `k % 10 = gone`. The ledger is read
    * back in 16 key buckets. */
  final case class LedgerMerge(every: Int, bump: Int, gone: Int) {
    def create(s: SparkSession, d: String, table: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS graft.$table")
      graft.Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").cast("long").as("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .writeTo(s"graft.$table").create()
    }

    def merge(s: SparkSession, d: String, table: String, view: String): Unit = {
      mergeSource(s, d, view, every)
      s.sql(s"""MERGE INTO graft.$table t USING $view s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET t.sum_qty = t.sum_qty + $bump
              |WHEN NOT MATCHED THEN INSERT (k, n, sum_qty) VALUES (s.k, -1, s.pc)
              |WHEN NOT MATCHED BY SOURCE AND t.k % 10 = $gone THEN DELETE
              |""".stripMargin)
    }

    def ledger(s: SparkSession, table: String): DataFrame =
      s.table(s"graft.$table")
        .groupBy((col("k") % 16).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("n").as("sum_n"),
          sum("sum_qty").as("sum_sq"), min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("bucket")

    /** DuckDB rebuilds the merged table functionally: left join plus
      * the anti-joined inserts. */
    def oracle: String =
      s"""WITH li AS (
         |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |  FROM lineitem GROUP BY 1),
         |src AS (
         |  SELECT o_orderkey AS k,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
         |  FROM orders WHERE o_orderkey % $every = 0),
         |fin AS (
         |  SELECT li.k, li.n,
         |    li.sum_qty + CASE WHEN src.k IS NOT NULL THEN $bump ELSE 0 END
         |      AS sum_qty
         |  FROM li LEFT JOIN src USING (k)
         |  WHERE NOT (src.k IS NULL AND li.k % 10 = $gone)
         |  UNION ALL
         |  SELECT k, CAST(-1 AS BIGINT), pc FROM src
         |  WHERE k NOT IN (SELECT k FROM li))
         |SELECT k % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(n) AS BIGINT) AS sum_n,
         |  CAST(SUM(sum_qty) AS BIGINT) AS sum_sq,
         |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
         |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** The typed change-data-feed MERGE on a delta-flavour table: the
    * target is lineitem per order, `(k, sq)`, committed as inserts; one
    * MERGE then adds `bump` to matched rows, inserts unmatched source
    * orders with `sq = pc` and deletes unmatched targets where
    * `k % 10 = gone`. The `__changes` relation streams the whole history
    * as typed `_change_type` rows, counted and summed per type. */
  final case class CdfMerge(every: Int, bump: Int, gone: Int) {
    def build(s: SparkSession, d: String, table: String, view: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS graft.$table")
      graft.Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").cast("long").as("k"))
        .agg(sum(col("l_quantity").cast("long")).as("sq"))
        .writeTo(s"graft.$table").create() // v0+v1: inserts
      mergeSource(s, d, view, every)
      s.sql(s"""MERGE INTO graft.$table t USING $view s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET t.sq = t.sq + $bump
              |WHEN NOT MATCHED THEN INSERT (k, sq) VALUES (s.k, s.pc)
              |WHEN NOT MATCHED BY SOURCE AND t.k % 10 = $gone THEN DELETE
              |""".stripMargin) // v2: delta commit
    }

    /** Append-mode raw drain into the memory sink `sink`, then a batch
      * aggregation: a mistyped, dropped or replayed change row breaks
      * the sink's aggregate. */
    def readout(s: SparkSession, table: String, sink: String): DataFrame = {
      s.readStream.table(s"graft.${table}__changes")
        .writeStream.outputMode("append").format("memory")
        .queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.table(sink)
        .groupBy(col("_change_type").as("op"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum("sq").as("sum_sq"))
        .orderBy("op")
    }

    /** DuckDB derives the same change set functionally. */
    def oracle: String =
      s"""WITH li AS (
         |  SELECT l_orderkey AS k,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
         |  FROM lineitem GROUP BY 1),
         |src AS (
         |  SELECT o_orderkey AS k,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
         |  FROM orders WHERE o_orderkey % $every = 0),
         |ch AS (
         |  SELECT 'insert' AS op, k, sq FROM li
         |  UNION ALL
         |  SELECT 'update_preimage', li.k, li.sq
         |  FROM li JOIN src ON li.k = src.k
         |  UNION ALL
         |  SELECT 'update_postimage', li.k, li.sq + $bump
         |  FROM li JOIN src ON li.k = src.k
         |  UNION ALL
         |  SELECT 'delete', li.k, li.sq
         |  FROM li LEFT JOIN src ON li.k = src.k
         |  WHERE src.k IS NULL AND li.k % 10 = $gone
         |  UNION ALL
         |  SELECT 'insert', k, pc FROM src
         |  WHERE k NOT IN (SELECT k FROM li))
         |SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(k) AS BIGINT) AS sum_k,
         |  CAST(SUM(sq) AS BIGINT) AS sum_sq
         |FROM ch GROUP BY op ORDER BY op""".stripMargin
  }
}
