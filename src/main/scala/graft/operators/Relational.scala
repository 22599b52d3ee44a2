package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** Relational operator pack: the scan/filter/project, aggregation, join,
  * window, grouping-set and set-operation surface of the engine
  * (SURVEY.md §2.4/§2.5 — the reference reaches these through its
  * `use_bag_attrs` gateway, /root/reference/src/dask_obj/core.py:62-66).
  *
  * All plans are declarative DataFrame programs: Catalyst supplies predicate
  * pushdown, column pruning, partial aggregation and join selection. Scale
  * notes per query are inline; the recurring rules are
  *   - broadcast genuinely-small dimension tables (region, nation, part)
  *     so the fact-side scan never shuffles for the join;
  *   - aggregate before joining where semantics allow, shrinking shuffle
  *     input;
  *   - exact decimal aggregation (see [[graft.QueryDef]]) keeps results
  *     identical no matter how many partitions the sum is split across —
  *     required both for the oracle hash-match and for run-to-run
  *     determinism on a 1000-executor cluster.
  */
object Relational {

  /** Exact, order-independent aggregation dtype for money-ish doubles.
    * The final double is produced via DECIMAL(18,4): with the unscaled
    * value < 2^53 the decimal→double conversion is correctly rounded in
    * BOTH Spark (BigDecimal.doubleValue) and DuckDB (int128/10^scale IEEE
    * division) — at higher scales DuckDB's division path drifts by an ulp.
    * Inputs carry at most 4 decimal digits, so the scale cut is exact. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  private def toDouble(c: Column): Column = c.cast(DecimalType(18, 4)).cast(DoubleType)
  private def dsum(c: Column): Column = toDouble(sum(dec(c)))

  /** q01: scan + filter + project (bag.filter/pluck analog,
    * reference core.py:62-69 via gateway). The filter and 4-column project
    * must reach the parquet scan (PushedFilters / ReadSchema) — verified in
    * PlanSpec. */
  val q01FilterProject = QueryDef(
    "q01_filter_project",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") <  lit("1997-01-01").cast(TimestampType) &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate <  TIMESTAMP '1997-01-01'
           |  AND l_discount BETWEEN 0.02 AND 0.06
           |  AND l_quantity < 24
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  )

  /** q02: TPC-H Q1-style hash aggregation (the scalable `foldby`/`counts`
    * analog, reference core.py:104-108). Catalyst emits partial (map-side)
    * + final HashAggregate — the shuffle moves only 4×|groups| rows. */
  val q02GroupAgg = QueryDef(
    "q02_group_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          toDouble(sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(DecimalType(18, 6)) - dec(col("l_discount")))))
            .as("sum_disc_price"),
          (toDouble(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
           |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) / COUNT(*) AS avg_qty,
           |  COUNT(*) AS count_order
           |FROM lineitem
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  )

  /** q03: value frequencies — the direct analog of the reference's eager
    * driver-side Counter merge (`counts`, core.py:107-108), re-expressed as
    * a distributed hash agg that only ever collects the final small map. */
  val q03Frequencies = QueryDef(
    "q03_frequencies",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS cnt
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q04: broadcast inner equi-join (the `bag.join` analog — the reference
    * materializes + broadcasts the small side; Spark's BroadcastHashJoin is
    * the same strategy executor-side). `part` is filtered BEFORE the
    * broadcast so only matching brands ship to executors. */
  val q04BroadcastJoin = QueryDef(
    "q04_broadcast_join",
    (s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
        .select("p_partkey", "p_brand")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
           |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |  COUNT(*) AS cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE p_brand IN ('Brand#11','Brand#22','Brand#33')
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  )

  /** q05: multi-way join region⋈nation⋈customer⋈orders. region/nation are
    * tiny at any scale factor → broadcast; customer⋈orders is the only
    * shuffle pair, and orders is pre-aggregated per customer first so the
    * join input is |customers| rows, not |orders|. */
  val q05MultiJoin = QueryDef(
    "q05_multi_join",
    (s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy("o_custkey").agg(sum(dec(col("o_totalprice"))).as("cust_total"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(toDouble(sum(col("cust_total"))).as("total_price"), count(lit(1)).as("n_customers"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name,
           |  CAST(CAST(SUM(cust_total) AS DECIMAL(18,4)) AS DOUBLE) AS total_price,
           |  COUNT(*) AS n_customers
           |FROM (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS cust_total
           |      FROM orders GROUP BY o_custkey) o
           |JOIN customer ON c_custkey = o_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name ORDER BY r_name""".stripMargin)
  )

  /** q06: left outer join + null handling — order count per customer
    * including zero-order customers. count(o_orderkey) skips nulls in both
    * engines. */
  val q06LeftOuter = QueryDef(
    "q06_left_outer",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("num_orders"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, COUNT(o_orderkey) AS num_orders
           |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)
  )

  /** q07: left-semi — customers with at least one 'F' order. The semi join
    * shuffles only distinct keys of the build side. */
  val q07SemiJoin = QueryDef(
    "q07_semi_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
           |ORDER BY c_custkey""".stripMargin)
  )

  /** q08: left-anti — customers with no 'F' order (NOT EXISTS form keeps
    * the oracle null-safe). */
  val q08AntiJoin = QueryDef(
    "q08_anti_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderstatus = 'F' AND o_custkey = c.c_custkey)
           |ORDER BY c_custkey""".stripMargin)
  )

  /** q09: theta/range self-join on events — pairs within a 5-minute window
    * per user. Equi-part (user_id) drives the shuffle; the range predicate
    * is evaluated post-match, so this stays a hash join, not a nested-loop
    * cross product. At 100 TB the same shape holds because the join key is
    * still the equi user_id. */
  val q09RangeJoin = QueryDef(
    "q09_range_join",
    (s, d) => {
      val e  = Tables.events(s, d)
      val e1 = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("u1"), col("ts_ns").as("ts1"))
      val e2 = e.select(col("user_id").as("u2"), col("ts_ns").as("ts2"))
      e1.join(e2,
          col("u1") === col("u2") &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + lit(300L * 1000 * 1000 * 1000))
        .groupBy(col("u1").as("user_id"))
        .agg(count(lit(1)).as("follow_events"))
        .orderBy("user_id")
    },
    Some("""SELECT e1.user_id AS user_id, COUNT(*) AS follow_events
           |FROM events e1 JOIN events e2
           |  ON e1.user_id = e2.user_id
           | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
           |WHERE e1.event_type = 'signup'
           |GROUP BY e1.user_id ORDER BY user_id""".stripMargin)
  )

  /** q10: distinct + count-distinct per group (bag.distinct analog).
    * Catalyst plans count(distinct) as a two-phase expand+agg — no
    * driver-side set. */
  val q10CountDistinct = QueryDef(
    "q10_count_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"), count(lit(1)).as("cnt"))
        .orderBy("l_suppkey"),
    Some("""SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS distinct_parts, COUNT(*) AS cnt
           |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)
  )

  /** q11: top-k (bag.topk analog): Spark plans orderBy+limit as
    * TakeOrderedAndProject — each partition keeps only its local top-10,
    * the driver merges k×partitions rows, never a global sort. */
  val q11TopK = QueryDef(
    "q11_topk",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("total_spend"))
        .orderBy(col("total_spend").desc, col("o_custkey").asc)
        .limit(10),
    Some("""SELECT o_custkey, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS total_spend
           |FROM orders GROUP BY o_custkey
           |ORDER BY total_spend DESC, o_custkey LIMIT 10""".stripMargin)
  )

  /** q12: window ranking — first order per customer via row_number. */
  val q12WindowRank = QueryDef(
    "q12_window_rank",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast(DateType).as("first_date"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS first_date
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           |      FROM orders) t
           |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)
  )

  /** q13: window frame running sum — the ordered prefix-scan
    * (`bag.accumulate`) analog, distributed per user_id partition. */
  val q13RunningSum = QueryDef(
    "q13_running_sum",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          toDouble(sum(dec(col("value"))).over(w)).as("cum_value"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT event_id, user_id,
           |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
           |    PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS cum_value
           |FROM events ORDER BY user_id, event_id""".stripMargin)
  )

  /** q14: grouping sets (rollup) over a 3-table dim join. */
  val q14Rollup = QueryDef(
    "q14_rollup",
    (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name").as("rn"), col("n_name").as("nn"))
        .agg(dsum(col("c_acctbal")).as("sum_bal"), count(lit(1)).as("cnt"))
        .select(col("rn").as("r_name"), col("nn").as("n_name"), col("sum_bal"), col("cnt"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
    Some("""SELECT r_name, n_name,
           |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_bal,
           |  COUNT(*) AS cnt
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  )

  /** q15: set operations — union / intersect / except of two customer-key
    * predicates, tagged and stacked. */
  val q15SetOps = QueryDef(
    "q15_set_ops",
    (s, d) => {
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val b = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val u = a.union(b).distinct().withColumn("op", lit("union"))
      val i = a.intersect(b).withColumn("op", lit("intersect"))
      val e = a.except(b).withColumn("op", lit("except"))
      u.unionByName(i).unionByName(e)
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    },
    Some("""WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
           |     b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
           |SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b) u
           |UNION ALL
           |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b) i
           |UNION ALL
           |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b) e
           |ORDER BY op, c_custkey""".stripMargin)
  )

  /** q16: scalar-function gauntlet — string/date/math built-ins in one
    * projection (the reference's elementwise method-call surface,
    * core.py:74-76, realized as codegen'd Catalyst expressions instead of
    * per-row Python calls). */
  val q16ScalarFns = QueryDef(
    "q16_scalar_fns",
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 1000)
        .select(
          col("o_orderkey"),
          lower(col("o_orderpriority")).as("pri_lower"),
          substring(col("o_orderpriority"), 1, 1).as("pri_code"),
          regexp_extract(col("o_orderpriority"), "([A-Z]+)", 1).as("pri_word"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("order_month"),
          abs(col("o_totalprice") - 100000.0).as("abs_diff"),
          floor(col("o_totalprice") / 1000.0).as("price_k"),
          length(col("o_orderstatus")).cast(LongType).as("status_len"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
           |  lower(o_orderpriority) AS pri_lower,
           |  substr(o_orderpriority, 1, 1) AS pri_code,
           |  regexp_extract(o_orderpriority, '([A-Z]+)', 1) AS pri_word,
           |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           |  abs(o_totalprice - 100000.0) AS abs_diff,
           |  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k,
           |  CAST(length(o_orderstatus) AS BIGINT) AS status_len
           |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin)
  )

  /** q17: elementwise operator semantics — the reference's 35-dunder table
    * (core.py:187-220) as Column operators: arithmetic, comparison,
    * modulo, bitwise and/or/xor, shifts, abs, unary minus. All integer /
    * IEEE-exact so the oracle matches bitwise. */
  val q17Elementwise = QueryDef(
    "q17_elementwise",
    (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_extendedprice") * (lit(1) - col("l_discount")) > 2000, 1L).otherwise(0L)).as("n_expensive"),
          sum(when(col("l_quantity") >= 25 && col("l_quantity") <= 30, 1L).otherwise(0L)).as("n_mid_qty"),
          sum(col("l_linenumber") % 2).cast(LongType).as("sum_odd"),
          sum(col("l_linenumber").bitwiseAND(lit(3))).cast(LongType).as("sum_and3"),
          sum(col("l_linenumber").bitwiseOR(lit(8))).cast(LongType).as("sum_or8"),
          sum(col("l_suppkey").bitwiseXOR(col("l_partkey"))).cast(LongType).as("sum_xor"),
          sum(shiftleft(col("l_linenumber"), 2)).cast(LongType).as("sum_shl"),
          sum(shiftright(col("l_partkey"), 1)).cast(LongType).as("sum_shr"),
          sum(abs(negate(col("l_linenumber")))).cast(LongType).as("sum_abs_neg")),
    Some("""SELECT
           |  COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN l_extendedprice * (1 - l_discount) > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_expensive,
           |  CAST(SUM(CASE WHEN l_quantity >= 25 AND l_quantity <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid_qty,
           |  CAST(SUM(l_linenumber % 2) AS BIGINT) AS sum_odd,
           |  CAST(SUM(l_linenumber & 3) AS BIGINT) AS sum_and3,
           |  CAST(SUM(l_linenumber | 8) AS BIGINT) AS sum_or8,
           |  CAST(SUM(xor(l_suppkey, l_partkey)) AS BIGINT) AS sum_xor,
           |  CAST(SUM(l_linenumber << 2) AS BIGINT) AS sum_shl,
           |  CAST(SUM(l_partkey >> 1) AS BIGINT) AS sum_shr,
           |  CAST(SUM(abs(-l_linenumber)) AS BIGINT) AS sum_abs_neg
           |FROM lineitem""".stripMargin)
  )

  /** q36: cube grouping sets over customer segment × order priority. */
  val q36Cube = QueryDef(
    "q36_cube",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .cube(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .select(col("seg"), col("pri"), col("cnt"), col("total"))
        .orderBy(col("seg").asc_nulls_first, col("pri").asc_nulls_first),
    Some("""SELECT c_mktsegment AS seg, o_orderpriority AS pri,
           |  COUNT(*) AS cnt,
           |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS total
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |GROUP BY CUBE (c_mktsegment, o_orderpriority)
           |ORDER BY seg ASC NULLS FIRST, pri ASC NULLS FIRST""".stripMargin)
  )

  /** q37: cross product (`bag.product` analog) — tiny dims only; Spark
    * plans BroadcastNestedLoopJoin. */
  val q37Product = QueryDef(
    "q37_product",
    (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
           |ORDER BY r_name, n_name""".stripMargin)
  )

  /** q40: SQL-API parity — the ONE SQL text below runs verbatim in BOTH
    * Spark (`spark.sql` over a temp view) and DuckDB (the oracle), proving
    * the `spark.sql(...)` entry point yields byte-identical results to the
    * DataFrame programs. */
  private val parityText =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val q40SqlApi = QueryDef(
    "q40_sql_api",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(parityText)
    },
    Some(parityText)
  )

  /** q41: window-function zoo — rank, dense_rank, ntile, lag, lead and a
    * RANGE frame, one pass per customer ordered by price. All integer /
    * exact outputs. */
  val q41WindowZoo = QueryDef(
    "q41_window_zoo",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      // RANGE frames order by a single numeric key
      val wRange = Window.partitionBy("o_custkey").orderBy(col("o_orderkey").asc)
        .rangeBetween(-100L, 0L)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          count(lit(1)).over(wRange).cast(LongType).as("near_orders"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  rank() OVER w AS rnk,
           |  dense_rank() OVER w AS drnk,
           |  ntile(4) OVER w AS quartile,
           |  lag(o_orderkey, 1) OVER w AS prev_ok,
           |  lead(o_orderkey, 1) OVER w AS next_ok,
           |  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
           |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_orders
           |FROM orders WHERE o_custkey < 100
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin)
  )

  /** q42: string/date function pack — levenshtein, concat_ws, repeat,
    * reverse, date arithmetic (datediff, day extraction), all
    * engine-portable exact functions. */
  val q42StringDate = QueryDef(
    "q42_string_date",
    (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 200)
        .select(
          col("c_custkey"),
          levenshtein(col("c_name"), col("c_mktsegment")).cast(LongType).as("lev"),
          concat_ws("|", col("c_name"), col("c_mktsegment")).as("joined"),
          reverse(col("c_name")).as("rev_name"),
          substring(col("c_name"), 1, 8).as("name8"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
           |  CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS lev,
           |  concat_ws('|', c_name, c_mktsegment) AS joined,
           |  reverse(c_name) AS rev_name,
           |  substr(c_name, 1, 8) AS name8,
           |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
           |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin)
  )

  /** q43: date arithmetic over orders — month extraction, day-of-week-free
    * exact deltas vs a fixed date. */
  val q43DateArith = QueryDef(
    "q43_date_arith",
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("mo"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          datediff(col("o_orderdate").cast(DateType), lit("1995-01-01").cast(DateType))
            .cast(LongType).as("days_since"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
           |  CAST(year(o_orderdate) AS BIGINT) AS yr,
           |  CAST(month(o_orderdate) AS BIGINT) AS mo,
           |  CAST(day(o_orderdate) AS BIGINT) AS dom,
           |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
           |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin)
  )

  /** q45: explicit GROUPING SETS — one dual-dialect SQL text (like q40)
    * covering the grouping-set shape cube/rollup can't express (disjoint
    * sets without the full lattice). */
  private val groupingSetsText =
    """SELECT c_mktsegment AS seg, o_orderstatus AS st,
      |  COUNT(*) AS cnt,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS total
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
      |ORDER BY seg ASC NULLS FIRST, st ASC NULLS FIRST""".stripMargin

  val q45GroupingSets = QueryDef(
    "q45_grouping_sets",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(groupingSetsText)
    },
    Some(groupingSetsText)
  )

  /** q47: pivot — event-type counts as columns per user decile. Spark's
    * `groupBy.pivot` with explicit values (never value-discovery at scale:
    * that is an extra pass); oracle spells the same shape with FILTER. */
  val q47Pivot = QueryDef(
    "q47_pivot",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("bucket", (col("user_id") % 10).cast(LongType))
        .groupBy("bucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("bucket"),
    Some("""SELECT user_id % 10 AS bucket,
           |  COUNT(*) FILTER (event_type = 'click') AS click,
           |  COUNT(*) FILTER (event_type = 'error') AS error,
           |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           |  COUNT(*) FILTER (event_type = 'signup') AS signup,
           |  COUNT(*) FILTER (event_type = 'view') AS view
           |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)
  )

  /** q48: array-function pack over tokenized text — distinct/sort/
    * contains/slice, 1-indexed like DuckDB lists. */
  val q48ArrayOps = QueryDef(
    "q48_array_ops",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(lower(col("text")), " "), t => t =!= "").as("t"))
        .select(
          col("doc_id"),
          size(col("t")).cast(LongType).as("n"),
          size(array_distinct(col("t"))).cast(LongType).as("n_distinct"),
          element_at(sort_array(col("t")), 1).as("first_sorted"),
          array_contains(col("t"), "the").as("has_the"),
          concat_ws(",", slice(col("t"), 1, 3)).as("first3"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(len(t) AS BIGINT) AS n,
           |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           |  list_sort(t)[1] AS first_sorted,
           |  list_contains(t, 'the') AS has_the,
           |  array_to_string(t[1:3], ',') AS first3
           |FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           |      FROM documents) d
           |ORDER BY doc_id""".stripMargin)
  )

  /** q49: unpivot (melt) — wide measure columns to long (key, value)
    * rows; the oracle uses the portable UNION ALL spelling. */
  val q49Unpivot = QueryDef(
    "q49_unpivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
    Some("""SELECT l_orderkey, l_linenumber, measure, value FROM (
           |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem WHERE l_orderkey < 200
           |  UNION ALL
           |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 200
           |  UNION ALL
           |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 200) u
           |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)
  )

  /** q50: correlated scalar subquery — Catalyst decorrelates it into a
    * left outer aggregate join (no per-row probing); same SQL text runs in
    * both engines. */
  private val correlatedText =
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F') AS n_f
      |FROM customer
      |WHERE c_custkey < 300
      |ORDER BY c_custkey""".stripMargin

  val q50Correlated = QueryDef(
    "q50_correlated_subquery",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(correlatedText)
    },
    Some(correlatedText)
  )

  /** q51: exact percentiles (linear interpolation — same definition in
    * Spark `percentile` and DuckDB `quantile_cont`), rounded to 6. */
  val q51Percentiles = QueryDef(
    "q51_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
           |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
           |  round(quantile_cont(l_quantity, 0.99), 6) AS p99
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  /** q58: deterministic hash-bucket sampling — the reproducible sampling
    * primitive for the 100 TB regime. `rand()`-based sampling is not
    * stable under task retries, partition re-splits, or engine changes;
    * hashing a stable business key into buckets IS: the sample is a pure
    * filter (evaluated in the scan stage — no RNG state, no shuffle, no
    * sort), the same rows are selected by any engine reproducing the hash
    * (the DuckDB oracle does, via the md5 bridge), and re-running over
    * appended data keeps previously-sampled rows sampled. 5 of 100
    * buckets ≈ a 5% Bernoulli sample; aggregating the sample per group
    * gives the stratified estimator in the same pass. */
  val q58HashSample = QueryDef(
    "q58_hash_sample",
    (s, d) => {
      val bucket = pmod(conv(substring(md5(concat_ws(":",
        col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10).cast(LongType), lit(100L))
      Tables.lineitem(s, d)
        .filter(bucket < 5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_sampled"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n_sampled,
           |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
           |FROM lineitem
           |WHERE CAST(('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 15)) AS BIGINT) % 100 < 5
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  /** q61: fixed-width histogram — binned aggregation, the scalable way to
    * see a distribution (exact percentiles q51 need a sort/merge of all
    * values; a histogram is ONE partial-agg'd hash agg whose key count is
    * the bin count, independent of data size). Bin = floor(x / width):
    * double division + floor is IEEE-identical cross-engine, and bin
    * sums follow the decimal discipline. */
  val q61Histogram = QueryDef(
    "q61_histogram",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000).cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n"),
          toDouble(min(col("l_extendedprice"))).as("lo"),
          toDouble(max(col("l_extendedprice"))).as("hi"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("bin"),
    Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin, COUNT(*) AS n,
           |  CAST(CAST(MIN(l_extendedprice) AS DECIMAL(18,4)) AS DOUBLE) AS lo,
           |  CAST(CAST(MAX(l_extendedprice) AS DECIMAL(18,4)) AS DOUBLE) AS hi,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
           |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)
  )

  /** q63: stratified FIXED-SIZE sampling — exactly k rows per stratum,
    * deterministically. Where q58's hash-bucket filter gives a fixed
    * RATE, eval-set construction wants a fixed COUNT per group ("3 events
    * of every type"): rank rows within each stratum by a hash of their
    * stable key and keep the top k. The hash rank is a uniform random
    * order that every engine/retry reproduces — no rand(), no
    * driver-side reservoir; one window per stratum, map-side evaluable
    * hash. At scale the window's partition is the stratum — salt a
    * pathological mega-stratum or pre-filter with q58's rate sampler
    * before the exact-count pass. */
  val q63StratifiedSample = QueryDef(
    "q63_stratified_sample",
    (s, d) => {
      val rankHash = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
        .cast(LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(rankHash.asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("user_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("event_type", "rn", "event_id", "user_id")
        .orderBy("event_type", "rn")
    },
    Some("""SELECT event_type, rn, event_id, user_id FROM (
           |  SELECT event_type, event_id, user_id,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT), event_id) AS rn
           |  FROM events) t
           |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin)
  )

  /** q154: referential-integrity audit — orphan detection across the
    * star schema's FK spine, the structural data-quality complement of
    * q75's value rules and q107's column profile. To make the audit
    * DEMONSTRABLE on the driver's (clean) data, each parent table is
    * damaged deterministically first — keys ≡ 0 (mod 97) deleted — which
    * models the post-incident state the audit exists to catch; the
    * relation stream then reports child rows, orphan rows and the orphan
    * rate for every FK edge.
    *
    * Plan shape at 100 TB: one LEFT ANTI join per FK edge — parent sides
    * reduced to DISTINCT key columns first, so customer/supplier/nation
    * broadcast and even the orders side is a key-only shuffle (8 bytes a
    * row), never the fact payload. The per-edge aggregate is a 1-row
    * reduction; branches run independently (no barrier between edges). */
  val q154FkOrphans = QueryDef(
    "q154_fk_orphans",
    (s, d) => {
      def damaged(t: DataFrame, key: String): DataFrame =
        t.select(col(key).cast(LongType).as("pk"))
          .filter(col("pk") % 97 =!= 0).distinct()
      def audit(rel: String, child: DataFrame, fk: String,
                parent: DataFrame, pkey: String): DataFrame = {
        val c = child.select(col(fk).cast(LongType).as("pk"))
        val orphans = c.join(damaged(parent, pkey), Seq("pk"), "left_anti")
        c.agg(count(lit(1)).as("child_rows"))
          .crossJoin(orphans.agg(count(lit(1)).as("orphan_rows"),
            countDistinct(col("pk")).as("orphan_keys")))
          .select(lit(rel).as("relation"), col("child_rows"),
            col("orphan_rows"), col("orphan_keys"),
            expr("orphan_rows * 1000000 DIV child_rows").as("orphan_rate_x1m"))
      }
      val li = Tables.lineitem(s, d)
      audit("lineitem->orders", li, "l_orderkey", Tables.orders(s, d), "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey", Tables.part(s, d), "p_partkey"))
        .unionByName(audit("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"))
        .unionByName(audit("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .unionByName(audit("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"))
        .unionByName(audit("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey"))
        .orderBy("relation")
    },
    Some("""WITH audit AS (
           |  SELECT 'lineitem->orders' AS relation,
           |    (SELECT COUNT(*) FROM lineitem) AS child_rows,
           |    (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
           |      (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0)) AS orphan_rows,
           |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey NOT IN
           |      (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0)) AS orphan_keys
           |  UNION ALL SELECT 'lineitem->part',
           |    (SELECT COUNT(*) FROM lineitem),
           |    (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN
           |      (SELECT p_partkey FROM part WHERE p_partkey % 97 <> 0)),
           |    (SELECT COUNT(DISTINCT l_partkey) FROM lineitem WHERE l_partkey NOT IN
           |      (SELECT p_partkey FROM part WHERE p_partkey % 97 <> 0))
           |  UNION ALL SELECT 'lineitem->supplier',
           |    (SELECT COUNT(*) FROM lineitem),
           |    (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN
           |      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 <> 0)),
           |    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem WHERE l_suppkey NOT IN
           |      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 <> 0))
           |  UNION ALL SELECT 'orders->customer',
           |    (SELECT COUNT(*) FROM orders),
           |    (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
           |      (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)),
           |    (SELECT COUNT(DISTINCT o_custkey) FROM orders WHERE o_custkey NOT IN
           |      (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0))
           |  UNION ALL SELECT 'customer->nation',
           |    (SELECT COUNT(*) FROM customer),
           |    (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN
           |      (SELECT n_nationkey FROM nation WHERE n_nationkey % 97 <> 0)),
           |    (SELECT COUNT(DISTINCT c_nationkey) FROM customer WHERE c_nationkey NOT IN
           |      (SELECT n_nationkey FROM nation WHERE n_nationkey % 97 <> 0))
           |  UNION ALL SELECT 'supplier->nation',
           |    (SELECT COUNT(*) FROM supplier),
           |    (SELECT COUNT(*) FROM supplier WHERE s_nationkey NOT IN
           |      (SELECT n_nationkey FROM nation WHERE n_nationkey % 97 <> 0)),
           |    (SELECT COUNT(DISTINCT s_nationkey) FROM supplier WHERE s_nationkey NOT IN
           |      (SELECT n_nationkey FROM nation WHERE n_nationkey % 97 <> 0)))
           |SELECT relation, CAST(child_rows AS BIGINT) AS child_rows,
           |  CAST(orphan_rows AS BIGINT) AS orphan_rows,
           |  CAST(orphan_keys AS BIGINT) AS orphan_keys,
           |  CAST(orphan_rows * 1000000 // child_rows AS BIGINT) AS orphan_rate_x1m
           |FROM audit ORDER BY relation""".stripMargin)
  )

  /** q222's interval geometry: window length and the rule's bin width
    * (equal, so each interval explodes to at most 2 bins). */
  val RangeBinWidth = 50000L

  /** q222: PURE interval join (no equi key) under the
    * [[graft.plans.BinnedRangeJoin]] optimizer rule — q09's range join
    * has `user_id` to hash on; this one has NOTHING but `lo ≤ pt ≤ hi`,
    * the shape Spark can only nest loops over (IP→range lookups,
    * maintenance-window attribution). With the rule active the plan
    * becomes explode-to-bins + shuffled equi-join on the bin + residual
    * (BinnedRangeJoinSpec proves plan shape, exact-once matching, and
    * negatives); the oracle runs the same natural theta join in DuckDB.
    * The rewrite is RESULT-INVARIANT, so a binning bug (boundary
    * off-by-one, duplicated bin match, dropped inverted interval) is a
    * hash mismatch here — correctness surface, not just a plan claim.
    *
    * The conf is live only while the frame materializes (the q215
    * lazy-planning pattern: localCheckpoint inside the conf window,
    * 97-row orderBy after). */
  val q222IntervalJoin = QueryDef(
    "q222_interval_join_binned",
    (s, d) => {
      QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> RangeBinWidth.toString) {
        def md5int(c: Column): Column =
          pmod(conv(substring(md5(c), 1, 15), 16, 10).cast(LongType),
            lit(1000000000L))
        val pts = Tables.events(s, d)
          .select(col("event_id"),
            md5int(concat(lit("pt#"), col("event_id").cast("string"))).as("pt"))
        val ivs = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").cast(LongType).as("iid"),
            md5int(concat(lit("iv#"), col("o_orderkey").cast("string"))).as("lo"))
          .withColumn("hi", col("lo") + RangeBinWidth)
        pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
          .groupBy("iid")
          .agg(count(lit(1)).as("n_hits"), min("pt").as("first_pt"),
            max("pt").as("last_pt"))
          .localCheckpoint()
          .orderBy("iid")
      }
    },
    Some(s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST(('0x' || substr(md5('pt#' || event_id), 1, 15)) AS BIGINT)
           |      % 1000000000 AS pt
           |  FROM events),
           |ivs AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS iid,
           |    CAST(('0x' || substr(md5('iv#' || o_orderkey), 1, 15)) AS BIGINT)
           |      % 1000000000 AS lo
           |  FROM orders WHERE o_orderkey % 10 = 0)
           |SELECT iid, CAST(COUNT(*) AS BIGINT) AS n_hits,
           |  CAST(MIN(pt) AS BIGINT) AS first_pt,
           |  CAST(MAX(pt) AS BIGINT) AS last_pt
           |FROM pts JOIN ivs
           |  ON pt >= lo AND pt <= lo + $RangeBinWidth
           |GROUP BY iid ORDER BY iid""".stripMargin)
  )

  /** q243: LEFT OUTER interval join under the extended
    * [[graft.plans.BinnedRangeJoin]] rule — q222 proves the inner core;
    * this is the shape real interval workloads actually run: enrich each
    * point with its containing interval and KEEP the unmatched rows
    * (IP→geo with unknown ranges, tariff lookup with gaps). Before
    * round 7 the rule guarded on `Inner` and this query planned
    * BroadcastNestedLoopJoin; now the preserved side is the
    * (non-exploded) point side, so the binned equi-join carries the
    * LeftOuter type directly — unmatched points null-pad exactly once
    * (BinnedRangeJoinSpec pins answers ≡ the nested loop for
    * outer/semi/anti). The result is a coverage histogram: how many
    * events fall under 0, 1, 2, … intervals — the cov=0 bucket EXISTS
    * only because null-padded rows survive, so a silently-inner rewrite
    * is a rowcount mismatch here, not just a value drift. The oracle is
    * DuckDB's plain LEFT JOIN theta over the same frames. */
  val q243LeftOuterIntervalJoin = QueryDef(
    "q243_interval_join_left_outer",
    (s, d) => {
      QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> RangeBinWidth.toString) {
        def md5int(c: Column): Column =
          pmod(conv(substring(md5(c), 1, 15), 16, 10).cast(LongType),
            lit(1000000000L))
        val pts = Tables.events(s, d)
          .select(col("event_id"),
            md5int(concat(lit("pt#"), col("event_id").cast("string"))).as("pt"))
        val ivs = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").cast(LongType).as("iid"),
            md5int(concat(lit("iv#"), col("o_orderkey").cast("string"))).as("lo"))
          .withColumn("hi", col("lo") + RangeBinWidth)
        pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"), "left_outer")
          .groupBy("event_id")
          .agg(count(col("iid")).as("cov"))
          .groupBy("cov")
          .agg(count(lit(1)).as("n_events"),
            min("event_id").as("first_ev"), max("event_id").as("last_ev"))
          .localCheckpoint()
          .orderBy("cov")
      }
    },
    Some(s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST(('0x' || substr(md5('pt#' || event_id), 1, 15)) AS BIGINT)
           |      % 1000000000 AS pt
           |  FROM events),
           |ivs AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS iid,
           |    CAST(('0x' || substr(md5('iv#' || o_orderkey), 1, 15)) AS BIGINT)
           |      % 1000000000 AS lo
           |  FROM orders WHERE o_orderkey % 10 = 0),
           |cov AS (
           |  SELECT p.event_id, COUNT(i.iid) AS cov
           |  FROM pts p LEFT JOIN ivs i
           |    ON p.pt >= i.lo AND p.pt <= i.lo + $RangeBinWidth
           |  GROUP BY p.event_id)
           |SELECT CAST(cov AS BIGINT) AS cov,
           |  CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(MIN(event_id) AS BIGINT) AS first_ev,
           |  CAST(MAX(event_id) AS BIGINT) AS last_ev
           |FROM cov GROUP BY cov ORDER BY cov""".stripMargin)
  )

  /** q246: FULL OUTER interval join under the round-7 preserved-interval
    * extension of [[graft.plans.BinnedRangeJoin]] — the one interval-join
    * type where BOTH sides must survive unmatched. Before this round the
    * rule left FullOuter to the default planner (BroadcastNestedLoopJoin);
    * now it assembles three equi-shuffled branches: the binned inner core,
    * unmatched points via the direct binned anti, and unmatched intervals
    * via the group-count-expand anti (BinnedRangeJoin scaladoc steps 1-4).
    * The result is a coverage LEDGER — row counts and checksums per match
    * kind (matched / point_only / iv_only) — so dropping either unmatched
    * branch, double-counting a bin, or breaking multiplicity is a hash
    * mismatch, not a plan regression. Oracle: DuckDB's plain FULL JOIN
    * theta over the same frames. The [[graft.Scale]] `fo` phase runs the
    * same rewrite at scale and checks that both sides tile exactly
    * (padded + distinct-matched = side cardinality). */
  val q246FullOuterIntervalJoin = QueryDef(
    "q246_interval_join_full_outer",
    (s, d) => {
      QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> RangeBinWidth.toString) {
        def md5int(c: Column): Column =
          pmod(conv(substring(md5(c), 1, 15), 16, 10).cast(LongType),
            lit(1000000000L))
        val pts = Tables.events(s, d)
          .select(col("event_id"),
            md5int(concat(lit("pt#"), col("event_id").cast("string"))).as("pt"))
        val ivs = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").cast(LongType).as("iid"),
            md5int(concat(lit("iv#"), col("o_orderkey").cast("string"))).as("lo"))
          .withColumn("hi", col("lo") + RangeBinWidth)
        pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"), "full_outer")
          .select(
            when(col("event_id").isNotNull && col("iid").isNotNull, lit("matched"))
              .when(col("event_id").isNotNull, lit("point_only"))
              .otherwise(lit("iv_only")).as("kind"),
            col("event_id"), col("iid"))
          .groupBy("kind")
          .agg(count(lit(1)).as("n"),
            coalesce(sum("event_id"), lit(0L)).as("ev_sum"),
            coalesce(sum("iid"), lit(0L)).as("iid_sum"))
          .localCheckpoint()
          .orderBy("kind")
      }
    },
    Some(s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST(('0x' || substr(md5('pt#' || event_id), 1, 15)) AS BIGINT)
           |      % 1000000000 AS pt
           |  FROM events),
           |ivs AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS iid,
           |    CAST(('0x' || substr(md5('iv#' || o_orderkey), 1, 15)) AS BIGINT)
           |      % 1000000000 AS lo
           |  FROM orders WHERE o_orderkey % 10 = 0),
           |fo AS (
           |  SELECT p.event_id, i.iid,
           |    CASE WHEN p.event_id IS NOT NULL AND i.iid IS NOT NULL THEN 'matched'
           |         WHEN p.event_id IS NOT NULL THEN 'point_only'
           |         ELSE 'iv_only' END AS kind
           |  FROM pts p FULL JOIN ivs i
           |    ON p.pt >= i.lo AND p.pt <= i.lo + $RangeBinWidth)
           |SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS ev_sum,
           |  CAST(COALESCE(SUM(iid), 0) AS BIGINT) AS iid_sum
           |FROM fo GROUP BY kind ORDER BY kind""".stripMargin)
  )

  /** q247: interval-side ANTI join — "dead windows", the audit dual of
    * q243's coverage histogram: which maintenance/tariff windows matched
    * NO event at all. The preserved side is the INTERVAL side, so the
    * direct binned rewrite cannot carry the type (a window spanning two
    * bins would report dead twice); this runs the group-count-expand
    * path: distinct windows → binned semi proposes the covered ones →
    * null-safe anti recovers the dead ones at original multiplicity.
    * Everything is equi-shuffled; the nested-loop alternative tests
    * |events| × |windows| pairs. Oracle: DuckDB NOT EXISTS. */
  val q247DeadWindows = QueryDef(
    "q247_interval_anti_dead_windows",
    (s, d) => {
      QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> RangeBinWidth.toString) {
        def md5int(c: Column): Column =
          pmod(conv(substring(md5(c), 1, 15), 16, 10).cast(LongType),
            lit(1000000000L))
        val pts = Tables.events(s, d)
          .select(md5int(concat(lit("pt#"), col("event_id").cast("string"))).as("pt"))
        val ivs = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").cast(LongType).as("iid"),
            md5int(concat(lit("iv#"), col("o_orderkey").cast("string"))).as("lo"))
          .withColumn("hi", col("lo") + RangeBinWidth)
        ivs.join(pts, col("pt") >= col("lo") && col("pt") <= col("hi"), "left_anti")
          .agg(count(lit(1)).as("n_dead"),
            coalesce(sum("iid"), lit(0L)).as("iid_sum"),
            min("iid").as("first_dead"), max("iid").as("last_dead"))
          .localCheckpoint()
      }
    },
    Some(s"""WITH pts AS (
           |  SELECT CAST(('0x' || substr(md5('pt#' || event_id), 1, 15)) AS BIGINT)
           |      % 1000000000 AS pt
           |  FROM events),
           |ivs AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS iid,
           |    CAST(('0x' || substr(md5('iv#' || o_orderkey), 1, 15)) AS BIGINT)
           |      % 1000000000 AS lo
           |  FROM orders WHERE o_orderkey % 10 = 0)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_dead,
           |  CAST(COALESCE(SUM(iid), 0) AS BIGINT) AS iid_sum,
           |  CAST(MIN(iid) AS BIGINT) AS first_dead,
           |  CAST(MAX(iid) AS BIGINT) AS last_dead
           |FROM ivs i WHERE NOT EXISTS (
           |  SELECT 1 FROM pts p
           |  WHERE p.pt >= i.lo AND p.pt <= i.lo + $RangeBinWidth)""".stripMargin)
  )

  /** q250: per-brand 2D SKYLINE (Pareto front — cheapest-for-the-size
    * parts: minimize price, maximize size) as a PURE WINDOW plan. The
    * textbook spelling is a quadratic dominance anti-join (`NOT EXISTS`
    * over s ≤/≥ r — the oracle states exactly that spec); the engine
    * plan exploits the 2D monotone-chain structure instead: sort each
    * brand by price and a row is dominated iff a strictly-cheaper row
    * has size ≥ its own (running max over `RANGE … 1 PRECEDING`) or an
    * equal-priced row has size strictly greater (running max over
    * `RANGE … CURRENT ROW` — RANGE frames include peers, which is the
    * whole trick). One exchange on brand + one sort, O(n log n), vs the
    * O(n²) self-join — at 100 TB the window form is the only viable
    * one, and it is EXACT, not an approximation of the spec. Ties on
    * both dimensions are kept (strict dominance), matching NOT EXISTS. */
  val q250SkylinePerBrand = QueryDef(
    "q250_skyline_per_brand",
    (s, d) => {
      val p = Tables.part(s, d).select(
        col("p_brand").as("brand"), col("p_partkey").as("pk"),
        (col("p_retailprice") * 100).cast(LongType).as("price_c"),
        col("p_size").cast(LongType).as("size"))
      val w1 = Window.partitionBy("brand").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      val w2 = Window.partitionBy("brand").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      p.withColumn("m1", max("size").over(w1))
        .withColumn("m2", max("size").over(w2))
        .filter(!(coalesce(col("m1") >= col("size"), lit(false)) ||
          col("m2") > col("size")))
        .select("brand", "pk", "price_c", "size")
        .orderBy("brand", "price_c", "pk")
    },
    Some("""WITH p AS (
           |  SELECT p_brand AS brand, p_partkey AS pk,
           |    CAST(p_retailprice * 100 AS BIGINT) AS price_c,
           |    CAST(p_size AS BIGINT) AS size
           |  FROM part)
           |SELECT brand, pk, price_c, size FROM p r
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM p s
           |  WHERE s.brand = r.brand AND s.price_c <= r.price_c
           |    AND s.size >= r.size
           |    AND (s.price_c < r.price_c OR s.size > r.size))
           |ORDER BY brand, price_c, pk""".stripMargin)
  )

  /** q252: GROUPED top-k through `topk_agg`
    * ([[graft.functions.BoundedTopK]], a native bounded-heap
    * TypedImperativeAggregate) — the per-group analogue of q11's global
    * top-k and the SCALE replacement for q12's window-rank spelling.
    * q114 proves the same equivalence with a typed `Aggregator` UDAF;
    * this is the ENGINE-level version: a Catalyst aggregate over any
    * orderable type, SQL-registered (`SELECT topk_agg(...)`), and
    * reused by the q253 streaming leaderboard where the heap persists
    * in the state store between micro-batches.
    *
    * Honest batch-perf note: since 3.5 Spark's own WindowGroupLimit
    * prunes rank-filter windows map-side too, so on a pure batch top-k
    * the two plans measure comparably (the [[graft.Scale]] `tk` phase
    * times both). The aggregate's
    * structural advantages are what the window form cannot do at all:
    * it COMPOSES with other aggregates in the same `agg(...)` pass
    * (one scan instead of window-then-join), carries no sort, and its
    * state is legal streaming aggregation state (q253) where window
    * functions are unsupported.
    * The window form must shuffle and sort EVERY row (the whole fact
    * table through one exchange); `topk_agg` keeps a ≤ k-entry min-heap
    * per group, so partial aggregation prunes map-side — each map task
    * ships at most k rows per group, the grouped analogue of Spark's
    * own TakeOrderedAndProject. EXACT, not approximate: the ranking
    * value is `struct(n_chars, doc_id)` — lexicographic struct order
    * gives the total tiebreak, so the k largest are unique and the
    * oracle's ROW_NUMBER window reproduces them bit-for-bit. */
  val q252GroupedTopK = QueryDef(
    "q252_grouped_topk",
    (s, d) => {
      Tables.documents(s, d).groupBy("lang")
        .agg(graft.functions.GraftFunctions.topKAgg(
          struct(col("n_chars"), col("doc_id")), lit(3)).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rnk"),
          col("col.n_chars").as("n_chars"), col("col.doc_id").as("doc_id"))
        .orderBy("lang", "rnk")
    },
    Some("""SELECT lang, CAST(rnk AS BIGINT) AS rnk, n_chars, doc_id FROM (
           |  SELECT lang, n_chars, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY n_chars DESC, doc_id DESC) AS rnk
           |  FROM documents) t
           |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin)
  )

  /** q265: RATIO-BAND (multiplicative tolerance) join riding the
    * [[graft.plans.BinnedRangeJoin]] rule — "price within ±0.2%" is a
    * MULTIPLICATIVE band, the catalog-entity-matching / transfer-pricing
    * shape (`b ∈ [a·(1−ε), a·(1+ε)]`), and it needs NO new machinery:
    * the bounds are integer EXPRESSIONS of the interval side
    * (`lo = ceil(pa·(1−ε))`, `hi = floor(pa·(1+ε))` in exact ppm
    * arithmetic), and the rule's scope guards only require the point to
    * reference one side and both bounds the other — so the derived-
    * bounds interval join bins and equi-shuffles exactly like q222's
    * literal-width one, where the naive spelling is a
    * BroadcastNestedLoopJoin over |A|·|B| price comparisons. Ceil via
    * `(x + 999999) div 1e6` keeps both engines on integer floor
    * division (prices positive); ±0.2% of a ~95k-cent price is a
    * ~380-cent window against bin width 512 — intervals explode to ≲2
    * bins. BinnedRangeJoinSpec pins the derived-bounds shape to the
    * binned plan (no BNLJ) and answers ≡ the nested-loop reference. */
  val q265RatioBandJoin = QueryDef(
    "q265_ratio_band_join",
    (s, d) => {
      QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> "512") {
        def cents(c: Column): Column =
          floor(c * 100.0 + 0.5).cast(LongType)
        val a = Tables.part(s, d).filter(col("p_brand") === "Brand#11")
          .select(col("p_partkey").as("ka"), cents(col("p_retailprice")).as("pa"))
          .withColumn("lo", expr("(pa * 998000 + 999999) DIV 1000000"))
          .withColumn("hi", expr("pa * 1002000 DIV 1000000"))
        val b = Tables.part(s, d).filter(col("p_brand") === "Brand#22")
          .select(col("p_partkey").as("kb"), cents(col("p_retailprice")).as("pb"))
        b.join(a, col("pb") >= col("lo") && col("pb") <= col("hi"))
          .groupBy("ka")
          .agg(count(lit(1)).as("n_close"), min("pb").as("min_pb"),
            max("pb").as("max_pb"))
          .localCheckpoint()
          .orderBy("ka")
      }
    },
    Some("""WITH a AS (
           |  SELECT p_partkey AS ka,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pa
           |  FROM part WHERE p_brand = 'Brand#11'),
           |b AS (
           |  SELECT p_partkey AS kb,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pb
           |  FROM part WHERE p_brand = 'Brand#22')
           |SELECT ka, CAST(COUNT(*) AS BIGINT) AS n_close,
           |  CAST(MIN(pb) AS BIGINT) AS min_pb,
           |  CAST(MAX(pb) AS BIGINT) AS max_pb
           |FROM b JOIN a
           |  ON pb >= (pa * 998000 + 999999) // 1000000
           | AND pb <= pa * 1002000 // 1000000
           |GROUP BY ka ORDER BY ka""".stripMargin)
  )

  /** q284: RECURSIVE CTE (Spark 4's `WITH RECURSIVE`) — iterative
    * fixpoint queries declared in SQL instead of the driver-side loop
    * every other engine-resident iteration here uses (PageRank, BFS).
    * Each part key walks its binary-tree ancestor chain `node → node/2`
    * to the root: ~log2(k) recursion steps, rows ≈ |part|·14 — the
    * hierarchy/BOM-explosion shape. Spark executes the recursion as an
    * iterated union with a depth limit (`cteRecursionLevelLimit`);
    * DuckDB runs its native recursive CTE on the same text modulo the
    * integer-division spelling (`DIV` vs `//`). The per-depth histogram
    * (count + Σk at each chain length) is exact — one wrong step count
    * anywhere shifts a bucket. */
  val q284RecursiveCte = QueryDef(
    "q284_recursive_cte",
    (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql("""WITH RECURSIVE anc AS (
              |  SELECT p_partkey AS k, CAST(p_partkey AS BIGINT) AS node,
              |         0 AS depth
              |  FROM part
              |  UNION ALL
              |  SELECT k, node DIV 2, depth + 1 FROM anc WHERE node > 1
              |)
              |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(SUM(k) AS BIGINT) AS sum_k
              |FROM anc WHERE node = 1
              |GROUP BY depth ORDER BY depth""".stripMargin)
    },
    Some("""WITH RECURSIVE anc AS (
           |  SELECT p_partkey AS k, CAST(p_partkey AS BIGINT) AS node,
           |         0 AS depth
           |  FROM part
           |  UNION ALL
           |  SELECT k, node // 2, depth + 1 FROM anc WHERE node > 1
           |)
           |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(k) AS BIGINT) AS sum_k
           |FROM anc WHERE node = 1
           |GROUP BY depth ORDER BY depth""".stripMargin)
  )

  /** q285: VARIANT shredding (Spark 4's semi-structured type) — parse
    * a nested JSON document ONCE into a `VARIANT` column, then run
    * several TYPED extractions against the parsed form
    * (`variant_get(v, path, type)`), including a missing-path probe
    * through `try_variant_get` (NULL, never an error). This is the
    * 100 TB semi-structured contract: string `get_json_object` (q33)
    * re-parses the document per extraction, while variant parses once
    * and shreds — the reason lakehouse engines store logs as VARIANT.
    * The document is built deterministically from each event row
    * (nested object + array), so DuckDB reproduces every extraction
    * with its JSON functions over the same constructed text. */
  val q285VariantShred = QueryDef(
    "q285_variant_shred",
    (s, d) =>
      // spread (r13): the per-row JSON parse + variant shred ran as ONE
      // task on the single-row-group scan; only the three consumed
      // columns cross the round-robin exchange (guide §8)
      Tables.spread(Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("props")))
        .withColumn("kk", get_json_object(col("props"), "$.k").cast(LongType))
        .withColumn("doc", concat(
          lit("{\"u\":"), col("user_id"),
          lit(",\"m\":{\"t\":\""), col("event_type"),
          lit("\",\"vals\":["), col("kk"), lit(","), (col("kk") * 2).cast(LongType),
          lit("]}}")))
        .withColumn("v", expr("parse_json(doc)"))
        .select(
          expr("variant_get(v, '$.m.t', 'string')").as("t"),
          expr("variant_get(v, '$.u', 'bigint')").as("u"),
          expr("variant_get(v, '$.m.vals[1]', 'bigint')").as("v1"),
          expr("try_variant_get(v, '$.m.missing', 'bigint')").as("miss"))
        .groupBy("t")
        .agg(count(lit(1)).as("n"), sum("u").as("sum_u"),
          sum("v1").as("sum_v1"), count(col("miss")).as("n_miss"))
        .orderBy("t"),
    Some("""WITH e AS (
           |  SELECT event_type AS t, user_id AS u,
           |    CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS v1
           |  FROM events)
           |SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(u) AS BIGINT) AS sum_u,
           |  CAST(SUM(v1) AS BIGINT) AS sum_v1,
           |  CAST(0 AS BIGINT) AS n_miss
           |FROM e GROUP BY t ORDER BY t""".stripMargin)
  )

  /** q287: LATERAL correlated join — the per-row table subquery
    * (`FROM nation, LATERAL (SELECT … WHERE correlated ORDER BY …
    * LIMIT 3)`): top-k-per-group spelled relationally instead of via a
    * rank window (q12/q252), the form ad-hoc SQL users actually write.
    * Spark decorrelates the LIMIT-bearing lateral subquery into a
    * partitioned rank filter; DuckDB executes its native lateral —
    * both must produce the identical top-3 customer set per nation
    * (ties broken by the total (balance, custkey) order on both
    * sides, balances in exact cents). */
  val q287LateralTopK = QueryDef(
    "q287_lateral_topk",
    (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql("""SELECT n.n_name AS nation, c.custkey,
              |       c.acctbal_cents
              |FROM nation n,
              |LATERAL (
              |  SELECT c_custkey AS custkey,
              |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
              |  FROM customer
              |  WHERE c_nationkey = n.n_nationkey
              |  ORDER BY acctbal_cents DESC, c_custkey
              |  LIMIT 3
              |) c
              |ORDER BY nation, acctbal_cents DESC, custkey""".stripMargin)
    },
    Some("""SELECT n.n_name AS nation, c.custkey, c.acctbal_cents
           |FROM nation n,
           |LATERAL (
           |  SELECT c_custkey AS custkey,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
           |  FROM customer
           |  WHERE c_nationkey = n.n_nationkey
           |  ORDER BY acctbal_cents DESC, c_custkey
           |  LIMIT 3
           |) c
           |ORDER BY nation, acctbal_cents DESC, custkey""".stripMargin)
  )

  /** q288: MAP-type higher-order functions — the map half of q48's
    * array gauntlet, previously uncovered: build a per-order map from
    * grouped entries (`map_from_entries` over collected structs —
    * line number → quantity, keys unique by construction), rewrite
    * values WITH key access (`transform_values`), prune entries by
    * predicate (`map_filter`), then `explode` the surviving entries
    * back to rows and aggregate. Every map step is Spark-side
    * (codegen'd HOFs, no UDF); DuckDB reproduces the FINAL relation
    * functionally from the raw columns — a wrong entry dropped or a
    * lambda misapplied to key vs value breaks the hash. The shape is
    * the feature-store pattern: per-entity feature maps transformed
    * without exploding until the end. */
  val q288MapOps = QueryDef(
    "q288_map_ops",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey").cast("long").as("k"),
          col("l_linenumber").cast("long").as("ln"),
          col("l_quantity").cast("long").as("qty"))
        // the synthetic lineitem repeats (orderkey, linenumber) pairs,
        // so make the map key unique by construction first — building
        // a map with duplicate keys is an ERROR by contract
        // (DUPLICATED_MAP_KEY), not a silent last-wins
        .groupBy("k", "ln").agg(sum("qty").as("qty"))
        .groupBy("k")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("ln"), col("qty"))))).as("m"))
        .select(col("k"),
          expr("transform_values(m, (ln, q) -> q * 10 + ln)").as("m2"))
        .select(col("k"),
          expr("map_filter(m2, (ln, v) -> ln % 2 = 1)").as("m3"))
        .select(col("k"), size(col("m3")).as("n_odd"),
          explode(col("m3")).as(Seq("ln", "v")))
        .groupBy((col("k") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
          sum("ln").as("sum_ln"), sum("n_odd").as("sum_card"))
        .orderBy("bucket"),
    Some("""WITH e AS (
           |  SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT) AS ln,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
           |  FROM lineitem GROUP BY 1, 2),
           |odd AS (
           |  SELECT k, ln, qty * 10 + ln AS v,
           |    COUNT(*) OVER (PARTITION BY k) AS n_odd
           |  FROM e WHERE ln % 2 = 1)
           |SELECT CAST(k % 8 AS BIGINT) AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(v) AS BIGINT) AS sum_v,
           |  CAST(SUM(ln) AS BIGINT) AS sum_ln,
           |  CAST(SUM(n_odd) AS BIGINT) AS sum_card
           |FROM odd GROUP BY 1 ORDER BY bucket""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(
    q01FilterProject, q02GroupAgg, q03Frequencies, q04BroadcastJoin,
    q05MultiJoin, q06LeftOuter, q07SemiJoin, q08AntiJoin, q09RangeJoin,
    q10CountDistinct, q11TopK, q12WindowRank, q13RunningSum, q14Rollup,
    q15SetOps, q16ScalarFns, q17Elementwise, q36Cube, q37Product, q40SqlApi,
    q41WindowZoo, q42StringDate, q43DateArith, q45GroupingSets, q47Pivot,
    q48ArrayOps, q49Unpivot, q50Correlated, q51Percentiles, q58HashSample,
    q61Histogram, q63StratifiedSample, q154FkOrphans, q222IntervalJoin,
    q243LeftOuterIntervalJoin, q246FullOuterIntervalJoin, q247DeadWindows,
    q250SkylinePerBrand, q252GroupedTopK, q265RatioBandJoin,
    q284RecursiveCte, q285VariantShred, q287LateralTopK, q288MapOps)
}
