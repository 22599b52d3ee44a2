package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** As-of join — the one operator in the extension tier (SURVEY.md §2.5)
  * Spark has no built-in for. Semantics: for each left row, attach the
  * right row with the greatest `rightTs <= leftTs` within the same key
  * (DuckDB's `ASOF JOIN`, kdb's `aj`).
  *
  * Implementation choice (SURVEY §7 preference order: compose existing
  * ops before custom plans): tag both sides, UNION, and run ONE window
  * pass per key ordered by (ts, side) taking `last(right, ignoreNulls)`
  * — right rows sort before left rows at equal ts so `<=` is inclusive.
  *
  * Scale story: this is a single hash shuffle on the key plus a
  * partition-local sort — O(n log n) per key group, no range-predicate
  * join (which would nested-loop) and no per-left-row probe. The same
  * shape AQE-balances under key skew. A custom SparkStrategy could fuse
  * the final filter, but the dominant costs (shuffle + sort) are already
  * minimal.
  */
object AsofJoin {

  /** Generic as-of join on one equi-key and a long ordering column.
    * Returns the left rows plus `matched` struct of the right row's
    * payload (null when no right row precedes). */
  def asofJoin(left: DataFrame, right: DataFrame, leftKey: String,
               leftTs: String, rightKey: String, rightTs: String): DataFrame = {
    val lCols = left.columns
    val l = left.select(col(leftKey).as("_k"), col(leftTs).as("_ts"), lit(1).as("_side"),
      struct(lCols.map(col): _*).as("_lrow"), lit(null).cast(rowType(right)).as("_rrow"))
    val r = right.select(col(rightKey).as("_k"), col(rightTs).as("_ts"), lit(0).as("_side"),
      lit(null).cast(rowType(left)).as("_lrow"), struct(right.columns.map(col): _*).as("_rrow"))
    // third sort key: content hash of the right payload — multiple right
    // rows at the SAME (key, ts) would otherwise make `last(right)`
    // partition-order-dependent; with the hash the winner is the row with
    // the greatest xxhash64, deterministic across runs and partitionings
    // (left rows all hash the null payload to the same constant, and their
    // relative order never affects their own `last` value).
    val w = Window.partitionBy("_k")
      .orderBy(col("_ts").asc, col("_side").asc, xxhash64(col("_rrow")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("matched", last(col("_rrow"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(col("_lrow.*"), col("matched"))
  }

  private def rowType(df: DataFrame): StructType = StructType(df.schema.fields)

  /** The same semantics as ONE custom physical operator — see
    * [[graft.plans.AsofJoinPlan]] for the full design and the 100 TB
    * argument (each side shuffles in its own schema, two small sorts, a
    * one-row-of-state merge-sweep instead of window group buffering).
    * A library entry point: it runs [[graft.Setup]], which installs
    * [[graft.plans.AsofJoinStrategy]], so it plans on any session. */
  def asofJoinNative(left: DataFrame, right: DataFrame, leftKey: String,
                     leftTs: String, rightKey: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    graft.Setup(spark)
    org.apache.spark.sql.graftext.Bridge.ofRows(spark,
      graft.plans.AsofJoinPlan.resolve(
        left.queryExecution.analyzed, right.queryExecution.analyzed,
        leftKey, leftTs, rightKey, rightTs))
  }

  /** Forward direction through the NATIVE operator — the same time
    * reversal as [[asofJoinForward]], reusing the merge-sweep Exec
    * untouched: backward-as-of on negated timestamps is forward-as-of
    * on the originals, tie rules mirrored identically on both paths
    * (the xxhash64 tiebreak hashes the right row INCLUDING the negated
    * column, in the same column order the composed form's payload
    * struct carries, so the winners agree row for row — AsofJoinSpec
    * pins it). */
  def asofJoinNativeForward(left: DataFrame, right: DataFrame, leftKey: String,
                            leftTs: String, rightKey: String, rightTs: String): DataFrame = {
    val l = left.withColumn("_negts", -col(leftTs))
    val r = right.withColumn("_negrts", -col(rightTs))
    asofJoinNative(l, r, leftKey, "_negts", rightKey, "_negrts")
      .drop("_negts")
      .withColumn("matched", col("matched").dropFields("_negrts"))
  }

  /** Tolerance bound through the NATIVE operator (pandas merge_asof's
    * `tolerance=`, q192's mode on the q123 path). Tolerance stays a
    * PURE POST-PROJECTION over the unbounded sweep — deliberately NOT
    * a sweep parameter: the latest preceding right row is also the
    * closest, so if IT violates the bound every older one does too;
    * nulling it is a codegen'd projection that changes no shuffle, no
    * sort, and no operator state, whereas a bound inside the sweep
    * would save nothing (the same rows are consumed either way). The
    * whole `matched` struct nulls, matching the composed q192 rule. */
  def asofJoinNativeTolerance(left: DataFrame, right: DataFrame, leftKey: String,
                              leftTs: String, rightKey: String, rightTs: String,
                              tolerance: Long): DataFrame =
    asofJoinNative(left, right, leftKey, leftTs, rightKey, rightTs)
      .withColumn("matched",
        when(col(leftTs) - col(s"matched.$rightTs") <= tolerance, col("matched")))

  /** q123: the NATIVE as-of join under the oracle — for every purchase,
    * the most recent view at-or-before it, per user (the "what impression
    * led to this purchase" feed), aggregated like q35 so the lag sum is a
    * per-row-exact signature of every match. Runs [[asofJoinNative]] —
    * custom logical node, planner strategy, merge-sweep physical operator
    * — and must hash-match DuckDB's built-in ASOF LEFT JOIN. */
  val q123AsofNative = QueryDef(
    "q123_asof_native",
    (s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns DIV 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts"))
      asofJoinNative(purchases, views, leftKey = "user_id", leftTs = "ts_us",
          rightKey = "v_user", rightTs = "v_ts")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          count(col("matched.v_ts")).as("n_matched"),
          sum(col("ts_us") - col("matched.v_ts")).cast(LongType).as("sum_lag_us"))
        .orderBy("user_id")
    },
    Some("""WITH purchases AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'purchase'),
           |views AS (
           |  SELECT user_id AS v_user, epoch_us(ts) AS v_ts FROM events WHERE event_type = 'view')
           |SELECT p.user_id, COUNT(*) AS n_purchases, COUNT(v.v_ts) AS n_matched,
           |  CAST(SUM(p.ts_us - v.v_ts) AS BIGINT) AS sum_lag_us
           |FROM purchases p ASOF LEFT JOIN views v
           |  ON p.user_id = v.v_user AND v.v_ts <= p.ts_us
           |GROUP BY p.user_id ORDER BY user_id""".stripMargin)
  )

  /** q35: for every click, the most recent signup at-or-before it, per
    * user — aggregated to (user, n_clicks, n_matched, sum of lag µs); the
    * lag sum is a per-row-exact signature of every match. */
  val q35AsofJoin = QueryDef(
    "q35_asof_join",
    (s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns DIV 1000"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts_us").as("s_ts"))
      asofJoin(clicks, signups, leftKey = "user_id", leftTs = "ts_us",
          rightKey = "s_user", rightTs = "s_ts")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("matched.s_ts")).as("n_matched"),
          sum(col("ts_us") - col("matched.s_ts")).cast(LongType).as("sum_lag_us"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'click'),
           |signups AS (
           |  SELECT user_id AS s_user, epoch_us(ts) AS s_ts FROM events WHERE event_type = 'signup')
           |SELECT c.user_id, COUNT(*) AS n_clicks, COUNT(s.s_ts) AS n_matched,
           |  CAST(SUM(c.ts_us - s.s_ts) AS BIGINT) AS sum_lag_us
           |FROM clicks c ASOF LEFT JOIN signups s
           |  ON c.user_id = s.s_user AND s.s_ts <= c.ts_us
           |GROUP BY c.user_id ORDER BY user_id""".stripMargin)
  )

  /** Forward as-of: for each left row the EARLIEST right row at-or-after
    * it — pandas `merge_asof(direction="forward")`. Implemented by time
    * reversal: backward-as-of on negated timestamps is forward-as-of on
    * the originals, so the whole window machinery (tie rules included,
    * mirrored) is reused instead of duplicated. Same one-shuffle scale
    * shape as [[asofJoin]]. */
  def asofJoinForward(left: DataFrame, right: DataFrame, leftKey: String,
                      leftTs: String, rightKey: String, rightTs: String): DataFrame = {
    val l = left.withColumn("_negts", -col(leftTs))
    val r = right.withColumn("_negrts", -col(rightTs))
    asofJoin(l, r, leftKey, "_negts", rightKey, "_negrts")
      .drop("_negts")
      .withColumn("matched", col("matched").dropFields("_negrts"))
  }

  /** q192: as-of join with a TOLERANCE bound (pandas merge_asof's
    * `tolerance=`): each purchase takes the most recent click at most 10
    * minutes old — staler matches are nulled. Tolerance is a PURE
    * POST-FILTER on the unbounded backward as-of: the latest preceding
    * right row is also the closest, so if IT violates the bound every
    * older one does too — no second join, no changed shuffle shape.
    * Aggregated per user like q35 (match count + exact gap sum) so every
    * per-row null/match decision lands in the hash. */
  val q192AsofTolerance = QueryDef(
    "q192_asof_tolerance",
    (s, d) => {
      val TolUs = 10L * 60 * 1000 * 1000
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns DIV 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      asofJoin(purchases, clicks, "user_id", "ts_us", "c_user", "c_ts")
        .withColumn("m_ts",
          when(col("ts_us") - col("matched.c_ts") <= TolUs, col("matched.c_ts")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          count(col("m_ts")).as("n_matched"),
          coalesce(sum(col("ts_us") - col("m_ts")), lit(0L)).cast(LongType)
            .as("sum_gap_us"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
           |c AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
           |m AS (
           |  SELECT p.user_id, p.ts_us,
           |    (SELECT MAX(c.ts_us) FROM c
           |     WHERE c.user_id = p.user_id AND c.ts_us <= p.ts_us
           |       AND p.ts_us - c.ts_us <= 600000000) AS m_ts
           |  FROM p)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           |  CAST(COUNT(m_ts) AS BIGINT) AS n_matched,
           |  CAST(COALESCE(SUM(ts_us - m_ts), 0) AS BIGINT) AS sum_gap_us
           |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q193: NEAREST-direction as-of (pandas merge_asof's
    * `direction="nearest"`): each purchase takes whichever click is
    * closer in time — before or after — within a 15-minute tolerance,
    * ties resolved BACKWARD (the earlier click). Composed as one
    * backward and one [[asofJoinForward]] pass (two window shuffles on
    * the same key) + a projection-level arbitration; the per-user report
    * counts each direction's wins so the arbitration itself is
    * oracle-hashed. */
  val q193AsofNearest = QueryDef(
    "q193_asof_nearest",
    (s, d) => {
      val TolUs = 15L * 60 * 1000 * 1000
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns DIV 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      val back = asofJoin(purchases, clicks, "user_id", "ts_us", "c_user", "c_ts")
        .withColumn("b_ts",
          when(col("ts_us") - col("matched.c_ts") <= TolUs, col("matched.c_ts")))
        .drop("matched")
      val both = asofJoinForward(back, clicks, "user_id", "ts_us", "c_user", "c_ts")
        .withColumn("f_ts",
          when(col("matched.c_ts") - col("ts_us") <= TolUs, col("matched.c_ts")))
        .drop("matched")
      val bGap = col("ts_us") - col("b_ts")
      val fGap = col("f_ts") - col("ts_us")
      both
        .withColumn("dir",
          when(col("b_ts").isNotNull && (col("f_ts").isNull || bGap <= fGap), "b")
            .when(col("f_ts").isNotNull, "f"))
        .withColumn("gap", when(col("dir") === "b", bGap).when(col("dir") === "f", fGap))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("dir") === "b", 1L).otherwise(0L)).as("n_backward"),
          sum(when(col("dir") === "f", 1L).otherwise(0L)).as("n_forward"),
          coalesce(sum("gap"), lit(0L)).cast(LongType).as("sum_gap_us"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
           |c AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
           |m AS (
           |  SELECT p.user_id, p.ts_us,
           |    (SELECT MAX(c.ts_us) FROM c
           |     WHERE c.user_id = p.user_id AND c.ts_us <= p.ts_us
           |       AND p.ts_us - c.ts_us <= 900000000) AS b_ts,
           |    (SELECT MIN(c.ts_us) FROM c
           |     WHERE c.user_id = p.user_id AND c.ts_us >= p.ts_us
           |       AND c.ts_us - p.ts_us <= 900000000) AS f_ts
           |  FROM p),
           |a AS (
           |  SELECT user_id, ts_us, b_ts, f_ts,
           |    CASE WHEN b_ts IS NOT NULL
           |           AND (f_ts IS NULL OR ts_us - b_ts <= f_ts - ts_us) THEN 'b'
           |         WHEN f_ts IS NOT NULL THEN 'f' END AS dir
           |  FROM m)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           |  CAST(SUM(CASE WHEN dir = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_backward,
           |  CAST(SUM(CASE WHEN dir = 'f' THEN 1 ELSE 0 END) AS BIGINT) AS n_forward,
           |  CAST(COALESCE(SUM(CASE WHEN dir = 'b' THEN ts_us - b_ts
           |                WHEN dir = 'f' THEN f_ts - ts_us END), 0) AS BIGINT)
           |    AS sum_gap_us
           |FROM a GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q244: NEAREST-direction as-of with tolerance through the NATIVE
    * operator — q193's semantics (merge_asof `direction="nearest"`,
    * 15-minute tolerance, backward ties) but both passes run
    * [[graft.plans.AsofJoinExec]]: the backward leg via
    * [[asofJoinNativeTolerance]], the forward leg via
    * [[asofJoinNativeForward]] + the same tolerance null-out, and the
    * identical projection-level arbitration. Same DuckDB oracle as
    * q193, so the native operator's full merge_asof surface (backward
    * q123, tolerance, forward, nearest) sits under the hash — a sweep
    * bug in either direction, or a tie-rule divergence from the
    * composed path, is a mismatch here. AsofJoinSpec additionally pins
    * native ≡ composed row-for-row pre-aggregation for both modes. */
  val q244AsofNativeNearest = QueryDef(
    "q244_asof_native_nearest",
    (s, d) => {
      val TolUs = 15L * 60 * 1000 * 1000
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns DIV 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      val back = asofJoinNativeTolerance(purchases, clicks,
          "user_id", "ts_us", "c_user", "c_ts", TolUs)
        .withColumn("b_ts", col("matched.c_ts"))
        .drop("matched")
      val both = asofJoinNativeForward(back, clicks, "user_id", "ts_us", "c_user", "c_ts")
        .withColumn("f_ts",
          when(col("matched.c_ts") - col("ts_us") <= TolUs, col("matched.c_ts")))
        .drop("matched")
      val bGap = col("ts_us") - col("b_ts")
      val fGap = col("f_ts") - col("ts_us")
      both
        .withColumn("dir",
          when(col("b_ts").isNotNull && (col("f_ts").isNull || bGap <= fGap), "b")
            .when(col("f_ts").isNotNull, "f"))
        .withColumn("gap", when(col("dir") === "b", bGap).when(col("dir") === "f", fGap))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("dir") === "b", 1L).otherwise(0L)).as("n_backward"),
          sum(when(col("dir") === "f", 1L).otherwise(0L)).as("n_forward"),
          coalesce(sum("gap"), lit(0L)).cast(LongType).as("sum_gap_us"))
        .orderBy("user_id")
    },
    q193AsofNearest.oracle
  )

  val all: Seq[QueryDef] = Seq(q35AsofJoin, q123AsofNative, q192AsofTolerance,
    q193AsofNearest, q244AsofNativeNearest)
}
