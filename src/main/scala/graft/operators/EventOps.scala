package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** Time-window operators over `events` — the batch half of the streaming
  * surface (SURVEY.md §2.8). Each windowing shape is declared once and
  * verified against the DuckDB oracle here; `graft.streaming.EventStreams`
  * applies the same shapes to unbounded input with watermarks
  * (MemoryStream-tested, no SQL oracle possible for streaming output).
  *
  * All bucket arithmetic uses the exact ns BIGINT (`ts_ns`,
  * [[graft.Tables.events]]) so Spark and DuckDB agree bit-for-bit even at
  * bucket boundaries; Spark's built-in `window()`/`session_window` over the
  * µs-truncated `ts` column would differ only within 1 µs of a boundary,
  * but exact is exact. The µs-based built-ins are exercised in the
  * streaming package where the oracle is a recomputation, not DuckDB.
  */
object EventOps {

  private val HourNs = 3600L * 1000 * 1000 * 1000
  private val HalfHourNs = HourNs / 2

  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  private def toDouble(c: Column): Column = c.cast(DecimalType(18, 4)).cast(DoubleType)

  /** q30: tumbling 1-hour windows — count + sum(value) per (window, type).
    * Maps to `groupBy(window($"ts", "1 hour"))` on the streaming side. */
  val q30Tumbling = QueryDef(
    "q30_tumbling_window",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("w_start", col("ts_ns") - (col("ts_ns") % HourNs))
        .groupBy("w_start", "event_type")
        .agg(count(lit(1)).as("cnt"), toDouble(sum(dec(col("value")))).as("sum_value"))
        .orderBy("w_start", "event_type"),
    Some(s"""SELECT (epoch_ns(ts) - (epoch_ns(ts) % ${HourNs})) AS w_start, event_type,
            |  COUNT(*) AS cnt,
            |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
            |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)
  )

  /** q31: sliding windows (1 hour every 30 min) — each event lands in two
    * windows; `window($"ts", "1h", "30m")` streaming-side. The two window
    * starts are generated per event and exploded. */
  val q31Sliding = QueryDef(
    "q31_sliding_window",
    (s, d) => {
      val tb = col("ts_ns") - (col("ts_ns") % HalfHourNs)
      Tables.events(s, d)
        .withColumn("w_start", explode(array(tb - HalfHourNs, tb)))
        .groupBy("w_start")
        .agg(count(lit(1)).as("cnt"), toDouble(sum(dec(col("value")))).as("sum_value"))
        .orderBy("w_start")
    },
    Some(s"""WITH e AS (
            |  SELECT unnest([tb - ${HalfHourNs}, tb]) AS w_start, value FROM (
            |    SELECT (epoch_ns(ts) - (epoch_ns(ts) % ${HalfHourNs})) AS tb, value FROM events) t)
            |SELECT w_start, COUNT(*) AS cnt,
            |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
            |FROM e GROUP BY 1 ORDER BY w_start""".stripMargin)
  )

  /** q32: session windows (30-min inactivity gap) per user — the
    * gaps-and-islands composition: lag → new-session marker → running sum
    * as session id → aggregate. Semantically identical to
    * `session_window($"ts", "30 minutes")` (end-exclusive: a gap of
    * exactly 30 min starts a new session), which the streaming package
    * uses. Two window functions + one agg = two shuffles on user_id, all
    * partition-local after that — scales with users, not events. */
  val q32Session = QueryDef(
    "q32_session_window",
    (s, d) => {
      // µs granularity on both sides: DuckDB's parquet reader surfaces ns
      // timestamps at µs precision, so the oracle can only see µs
      val HalfHourUs = HalfHourNs / 1000
      // event_id tiebreak: two events for the same user at the same µs
      // would otherwise make lag()/sess_id partition-order-dependent
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= HalfHourUs, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(min(col("ts_us")).as("sess_start"), count(lit(1)).as("n_events"),
          toDouble(sum(dec(col("value")))).as("sum_value"))
        .select("user_id", "sess_id", "sess_start", "n_events", "sum_value")
        .orderBy("user_id", "sess_id")
    },
    Some(s"""WITH marked AS (
            |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
            |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
            |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= ${HalfHourNs / 1000}
            |         THEN 1 ELSE 0 END AS new_sess
            |  FROM events
            |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
            |sess AS (
            |  SELECT user_id, ts_us, value,
            |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
            |  FROM marked)
            |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, MIN(ts_us) AS sess_start,
            |  COUNT(*) AS n_events,
            |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
            |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin)
  )

  /** q33: JSON property extraction from the `props` column —
    * `get_json_object` per event, aggregated per event_type. Exercises the
    * semi-structured path (events.props is a JSON-ish string). */
  val q33JsonProps = QueryDef(
    "q33_json_props",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).cast(LongType).as("sum_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
           |  COUNT(json_extract_string(props, '$.k')) AS n_with_k,
           |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q60: time-series resample + forward fill — regularize each user's
    * event stream onto a daily grid from their first to their last active
    * day, carrying the last observed value across gap days (460 filled
    * gaps at sf0.01). The classic feature-engineering "as-of state per
    * period" op.
    *
    * Determinism: the per-day observation is the LAST event of the day
    * under the total order (ts, event_id) — computed as max over a
    * (ts, event_id, value) struct (lexicographic struct comparison in
    * both engines), folded into the same agg as the count, so one hash
    * agg produces both. The grid is `sequence(min_day, max_day, 1 day)`
    * exploded per user — |users|·|days| rows, NOT |events|; the fill is
    * `last(_, ignoreNulls)` over a per-user ordered window.
    *
    * Scale: one agg keyed (user, day), one explode of a per-user
    * 2-element frame, one left join back on (user, day) — same key, AQE
    * reuses the partitioning — and one window partitioned by user. No
    * step holds more than a user's days in memory; timestamps leave as
    * exact epoch-µs BIGINTs per the determinism contract. */
  val q60ResampleFfill = QueryDef(
    "q60_resample_ffill",
    (s, d) => {
      val daily = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("last_ev"))
        .select(col("user_id"), col("day"), col("n_events"),
          col("last_ev.value").as("obs"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
        .select(col("user_id"),
          explode(sequence(col("mind"), col("maxd"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"), unix_micros(col("day")).as("day_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("obs"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("user_id", "day_us")
    },
    Some("""WITH daily AS (
           |  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n_events,
           |    max(struct_pack(ts := ts, event_id := event_id, value := value)) AS last_ev
           |  FROM events GROUP BY user_id, date_trunc('day', ts)),
           |grid AS (
           |  SELECT user_id, unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS day
           |  FROM (SELECT user_id, min(day) AS mind, max(day) AS maxd
           |        FROM daily GROUP BY user_id) t),
           |j AS (
           |  SELECT g.user_id, g.day, coalesce(d.n_events, 0) AS n_events,
           |    d.last_ev.value AS obs
           |  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
           |SELECT user_id, epoch_us(day) AS day_us, n_events,
           |  last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
           |FROM j ORDER BY user_id, day_us""".stripMargin)
  )

  /** q88: funnel analysis — per user, purchases completing the
    * view → click → purchase funnel with each hop within 1 hour. The
    * sequence-matching shape (SQL MATCH_RECOGNIZE territory) done with
    * running windows instead of a per-user sort-and-scan UDF: one window
    * per user carries (a) the latest view time and (b) the latest click
    * AS A STRUCT holding the view time that click saw — struct-max is
    * lexicographic on (ts, event_id), so "latest, ties by event_id" is
    * exact and engine-portable. A purchase completes the funnel iff its
    * latest-click is within 1 h AND that click's latest-view was within
    * 1 h of the click.
    *
    * Plan shape at 100 TB: ONE shuffle (user_id window partition), two
    * window functions in the same pass, one hash agg — sequence matching
    * with no self-joins (a join-based funnel is k-way quadratic in
    * events-per-user). */
  val q88Funnel = QueryDef(
    "q88_funnel",
    (s, d) => {
      val HourUs = HourNs / 1000
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .withColumn("last_view",
          max(when(col("event_type") === "view", col("ts_us"))).over(w))
        .withColumn("last_click",
          max(when(col("event_type") === "click",
            struct(col("ts_us").as("c_us"), col("event_id").as("c_id"),
              col("last_view").as("v_us")))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("complete",
          col("last_click").isNotNull &&
            col("ts_us") - col("last_click.c_us") <= HourUs &&
            col("last_click.v_us").isNotNull &&
            col("last_click.c_us") - col("last_click.v_us") <= HourUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("complete"), 1L).otherwise(0L)).as("n_funnels"))
        .orderBy("user_id")
    },
    Some(s"""WITH base AS (
           |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
           |v AS (
           |  SELECT *,
           |    MAX(CASE WHEN event_type = 'view' THEN ts_us END)
           |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view
           |  FROM base),
           |c AS (
           |  SELECT *,
           |    MAX(CASE WHEN event_type = 'click'
           |          THEN struct_pack(c_us := ts_us, c_id := event_id, v_us := last_view) END)
           |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
           |  FROM v)
           |SELECT user_id, COUNT(*) AS n_purchases,
           |  CAST(SUM(CASE WHEN last_click IS NOT NULL
           |        AND ts_us - last_click.c_us <= ${HourNs / 1000}
           |        AND last_click.v_us IS NOT NULL
           |        AND last_click.c_us - last_click.v_us <= ${HourNs / 1000}
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_funnels
           |FROM c WHERE event_type = 'purchase'
           |GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q89: cohort retention — users grouped by first-seen day ("cohort"),
    * counted by how many distinct whole weeks after that day they came
    * back. Two metadata-sized aggs around one distinct: (user → first
    * day) is a user-keyed agg, (cohort, week) is bounded by
    * cohorts × horizon. All integer µs day/week arithmetic. */
  val q89Retention = QueryDef(
    "q89_retention",
    (s, d) => {
      val DayUs = 86400L * 1000000L
      val ev = Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
      val first = ev.groupBy("user_id")
        .agg(min(col("ts_us")).as("first_us"))
        .withColumn("cohort_day", expr(s"first_us div ${DayUs}"))
      ev.join(first, Seq("user_id"))
        .withColumn("week_idx", expr(s"(ts_us - first_us) div ${7 * DayUs}"))
        .select("user_id", "cohort_day", "week_idx").distinct()
        .groupBy("cohort_day", "week_idx")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "week_idx")
    },
    Some(s"""WITH ev AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us FROM events),
           |f AS (
           |  SELECT user_id, MIN(ts_us) AS first_us,
           |    MIN(ts_us) // ${86400L * 1000000L} AS cohort_day
           |  FROM ev GROUP BY user_id)
           |SELECT cohort_day,
           |  (ts_us - first_us) // ${7 * 86400L * 1000000L} AS week_idx,
           |  COUNT(DISTINCT ev.user_id) AS n_users
           |FROM ev JOIN f USING (user_id)
           |GROUP BY cohort_day, week_idx
           |ORDER BY cohort_day, week_idx""".stripMargin)
  )

  /** q100: EWMA anomaly detection — the streaming-metrics primitive
    * (forecast each point from its own history, flag large deviations)
    * as a batch window op. The prediction is an 8-tap exponentially
    * weighted average of the PREVIOUS values (α = 1/2 ⇒ weights
    * 128,64,…,1 / 255 — dyadic, so the whole score is integer-exact
    * cross-engine: `value` is scaled to µ-units BEFORE any arithmetic,
    * per the decimal-discipline rule). A point is anomalous when it
    * deviates from its forecast by more than 50%.
    *
    * Plan shape at 100 TB: one window partitioned by `user_id` — the
    * same entity-keyed shape as sessionization (q32), so parallelism
    * scales with users, not events; the eight `lag`s share one frame
    * scan. Nothing else shuffles but the final sort. */
  val q100EwmaAnomaly = QueryDef(
    "q100_ewma_anomaly",
    (s, d) => {
      // µs, not ns: DuckDB's TIMESTAMP is µs-precision, so the shared
      // timestamp column must be the µs truncation on BOTH sides (the
      // ns tail would differ; event_id already breaks same-µs ties)
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("ts_us"),
          floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
      val lagged = (1 to 8).foldLeft(base) { (df, j) =>
        df.withColumn(s"l$j", lag(col("v"), j).over(w))
      }
      lagged
        .filter(col("l8").isNotNull)
        .withColumn("pred_num",
          col("l1") * 128 + col("l2") * 64 + col("l3") * 32 + col("l4") * 16 +
            col("l5") * 8 + col("l6") * 4 + col("l7") * 2 + col("l8"))
        .withColumn("dev_num", col("v") * 255 - col("pred_num"))
        .withColumn("is_anom", abs(col("dev_num")) * 2 > col("pred_num"))
        .select("user_id", "event_id", "ts_us", "v", "pred_num", "dev_num", "is_anom")
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""WITH base AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
           |  FROM events),
           |lagged AS (
           |  SELECT user_id, event_id, ts_us, v,
           |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
           |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
           |    lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
           |    lag(v, 7) OVER w AS l7, lag(v, 8) OVER w AS l8
           |  FROM base
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
           |SELECT user_id, event_id, ts_us, v,
           |  l1*128 + l2*64 + l3*32 + l4*16 + l5*8 + l6*4 + l7*2 + l8 AS pred_num,
           |  v*255 - (l1*128 + l2*64 + l3*32 + l4*16 + l5*8 + l6*4 + l7*2 + l8) AS dev_num,
           |  abs(v*255 - (l1*128 + l2*64 + l3*32 + l4*16 + l5*8 + l6*4 + l7*2 + l8)) * 2
           |    > (l1*128 + l2*64 + l3*32 + l4*16 + l5*8 + l6*4 + l7*2 + l8) AS is_anom
           |FROM lagged WHERE l8 IS NOT NULL
           |ORDER BY user_id, ts_us, event_id""".stripMargin)
  )

  /** q103: χ² contingency analysis — is event type independent of
    * hour-of-day? The classic data-exploration / drift-detection stat,
    * computed per cell: observed count, expected count under
    * independence (row·col/total), and the cell's χ² contribution
    * ((obs·N − rt·ct)² / (N·rt·ct)), all in ×1e6 fixed-point integer
    * arithmetic (bit-identical cross-engine; no float division). The
    * ×1e6 scaling is applied by pre-dividing the DENOMINATOR — the
    * naive `d²·1e6` numerator overflows int64 already at sf0.1
    * (d ≈ 1e8 ⇒ d²·1e6 ≈ 1e22), and DuckDB throws on BIGINT overflow
    * while Spark silently wraps: the one formula shape that is safe in
    * both engines is `d² DIV greatest(N·rt·ct DIV 1e6, 1)`.
    *
    * Plan shape at 100 TB: the event table is scanned ONCE into one
    * hash agg over (type, hour) — the cell grid is bounded (types × 24)
    * regardless of event volume, so the row/column/grand margins are
    * window sums over that metadata-sized grid, not re-aggregations of
    * the corpus (the join formulation re-derived the scan 4×). */
  val q103Contingency = QueryDef(
    "q103_contingency",
    (s, d) => {
      val HourNs = 3600L * 1000000000L
      val wr = Window.partitionBy("event_type")
      val wc = Window.partitionBy("hr")
      // constant key ≡ the global margin over the metadata-sized grid,
      // without WindowExec's single-partition warning
      val wt = Window.partitionBy(lit(0))
      Tables.events(s, d)
        .withColumn("hr", expr(s"(ts_ns DIV ${HourNs}) % 24"))
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("obs"))
        .withColumn("rt", sum("obs").over(wr).cast(LongType))
        .withColumn("ct", sum("obs").over(wc).cast(LongType))
        .withColumn("total", sum("obs").over(wt).cast(LongType))
        .withColumn("expected_x1m", expr("rt * ct * 1000000 DIV total"))
        .withColumn("chi2_x1m",
          expr("(obs * total - rt * ct) * (obs * total - rt * ct) " +
            "DIV greatest(total * rt * ct DIV 1000000, 1)"))
        .select("event_type", "hr", "obs", "rt", "ct", "total", "expected_x1m", "chi2_x1m")
        .orderBy("event_type", "hr")
    },
    Some(s"""WITH cells AS (
           |  SELECT event_type, (epoch_ns(ts) // ${3600L * 1000000000L}) % 24 AS hr,
           |    CAST(COUNT(*) AS BIGINT) AS obs
           |  FROM events GROUP BY 1, 2),
           |m AS (
           |  SELECT event_type, hr, obs,
           |    CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
           |    CAST(SUM(obs) OVER (PARTITION BY hr) AS BIGINT) AS ct,
           |    CAST(SUM(obs) OVER () AS BIGINT) AS total
           |  FROM cells)
           |SELECT event_type, hr, obs, rt, ct, total,
           |  rt * ct * 1000000 // total AS expected_x1m,
           |  (obs * total - rt * ct) * (obs * total - rt * ct)
           |    // greatest(total * rt * ct // 1000000, 1) AS chi2_x1m
           |FROM m ORDER BY event_type, hr""".stripMargin)
  )

  /** q109: clickstream path mining — the top session-opening paths
    * (first three event types per 30-min session), the navigation-flow /
    * drop-off report next to q88's fixed funnel: q88 asks "how often
    * does THIS sequence happen", q109 asks "WHICH sequences happen".
    * Sessions are q32's gaps-and-islands; the first-3 extraction is the
    * deterministic conditional-max pivot (`max(case rn=k)`) rather than
    * an ordered collect — list aggregation order is engine- and
    * partition-dependent, the pivot is not. `concat_ws` skips NULLs in
    * both engines, so shorter sessions render as their actual prefix.
    *
    * Plan shape at 100 TB: the session window and the per-session pivot
    * ride ONE user-keyed exchange (both windows and the first groupBy
    * share the user partitioning); the path table is bounded by
    * |event_types|³ — metadata-sized, like q103's grid. */
  val q109SessionPaths = QueryDef(
    "q109_session_paths",
    (s, d) => {
      val HalfHourUs = HalfHourNs / 1000
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val bySess = Window.partitionBy("user_id", "sess_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= HalfHourUs, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(bySess))
        .filter(col("rn") <= 3)
        .groupBy("user_id", "sess_id")
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
    },
    Some(s"""WITH marked AS (
           |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= ${HalfHourNs / 1000}
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
           |sess AS (
           |  SELECT user_id, event_id, event_type, ts_us,
           |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           |  FROM marked),
           |r AS (
           |  SELECT user_id, sess_id, event_type,
           |    row_number() OVER (PARTITION BY user_id, sess_id
           |      ORDER BY ts_us, event_id) AS rn
           |  FROM sess),
           |p AS (
           |  SELECT user_id, sess_id,
           |    concat_ws('>', MAX(CASE WHEN rn = 1 THEN event_type END),
           |                   MAX(CASE WHEN rn = 2 THEN event_type END),
           |                   MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
           |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
           |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
           |FROM p GROUP BY path ORDER BY n_sessions DESC, path""".stripMargin)
  )

  /** q115: last-touch revenue attribution — every purchase credits the
    * user's most recent preceding click; output is revenue per attributed
    * click event (the marketing-attribution primitive; first-touch is the
    * same plan with `first` over the mirrored frame). The carry is
    * `last(..., ignoreNulls)` over an unbounded-preceding row frame
    * ordered by the exact ns timestamp (+event_id tiebreak), the q60
    * forward-fill machinery pointed at attribution. Revenue sums in
    * decimal(18,6) (order-independent, the repo's determinism
    * discipline) and renders as string.
    *
    * Plan shape at 100 TB: ONE user-keyed exchange for the window, then a
    * click_id-keyed hash agg whose cardinality is bounded by clicks, not
    * events. The window frame is running (no re-scan per row), and the
    * user partitioning is the natural even key for clickstream data —
    * skew only if one user dominates the stream, which the q84 salting
    * path would absorb. */
  val q115Attribution = QueryDef(
    "q115_attribution",
    (s, d) => {
      // order by µs (+event_id): DuckDB sees only µs of the ns parquet
      // timestamp, so ns-ordering could disagree on same-µs neighbors
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DecimalType(18, 6))
            .cast(StringType).as("revenue"))
        .orderBy("click_id")
    },
    Some("""WITH tagged AS (
           |  SELECT user_id, event_id, event_type, value,
           |    LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id
           |  FROM events)
           |SELECT click_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS VARCHAR)
           |    AS revenue
           |FROM tagged WHERE event_type = 'purchase' AND click_id IS NOT NULL
           |GROUP BY click_id ORDER BY click_id""".stripMargin)
  )

  /** q119: upsert-log compaction — the latest event per user (the
    * "current state" materialization every CDC consumer runs over a
    * change log). Implemented as ONE struct-max aggregation: `max` over
    * (ts_ns, event_id, payload…) picks the lexicographically-latest row
    * per key with map-side partial aggregation — each input partition
    * contributes at most one candidate per key to the exchange. The
    * window formulation (`row_number() = 1`, the oracle) shuffles and
    * sorts EVERY log row; at 100 TB of change log vs millions of keys
    * the struct-max agg moves orders of magnitude less. The q114
    * argument, for argmax. */
  val q119LatestState = QueryDef(
    "q119_latest_state",
    (s, d) => {
      // µs granularity: DuckDB truncates the ns parquet timestamp to µs,
      // so the comparable instant is ts_ns DIV 1000 ≡ epoch_us(ts); the
      // event_id tiebreak keeps same-µs collisions deterministic
      Tables.events(s, d)
        .select(col("user_id"), struct(expr("ts_ns DIV 1000").as("ts_us"),
          col("event_id"), col("event_type"),
          col("value").cast(DecimalType(18, 6)).cast(StringType).as("value_str")).as("r"))
        .groupBy("user_id")
        .agg(max(col("r")).as("m"))
        .select(col("user_id"), col("m.ts_us").as("last_ts_us"),
          col("m.event_id").as("last_event_id"), col("m.event_type").as("last_type"),
          col("m.value_str").as("last_value"))
        .orderBy("user_id")
    },
    Some("""WITH r AS (
           |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           |    CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS value_str,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           |  FROM events)
           |SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
           |  event_type AS last_type, value_str AS last_value
           |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)
  )

  /** q122: event-type transition matrix (first-order Markov chain over
    * each user's event sequence) — the sequence-mining summary behind
    * next-action prediction and anomalous-flow detection. One `lead`
    * over the user-keyed window pairs every event with its successor;
    * the (from, to) counts then aggregate to a grid bounded by
    * |event_types|², so the conditional probability P(to|from) ×1e6 is
    * a window sum over METADATA (25 rows here), never the corpus. The
    * q109/q88 user-partitioned exchange is the only data-sized shuffle,
    * and parallelism scales with users.
    *
    * Ordering is µs+event_id on both engines (the q115 rule: DuckDB
    * only sees µs of the ns parquet timestamp); the ×1e6 integer
    * probability keeps the grid exact cross-engine — the DuckDB window
    * SUM types HUGEINT, so the division result is CAST back to BIGINT. */
  val q122Transitions = QueryDef(
    "q122_transitions",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total", sum(col("n")).over(Window.partitionBy("from_type")))
        .withColumn("p_micro", expr("(n * 1000000) div from_total"))
        .select("from_type", "to_type", "n", "p_micro")
        .orderBy("from_type", "to_type")
    },
    Some("""WITH p AS (
           |  SELECT event_type,
           |    LEAD(event_type) OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts), event_id) AS next_type
           |  FROM events),
           |c AS (
           |  SELECT event_type AS from_type, next_type AS to_type,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
           |SELECT from_type, to_type, n,
           |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_micro
           |FROM c ORDER BY from_type, to_type""".stripMargin)
  )

  /** q125: peak concurrency by sweep-line — each event opens a 15-minute
    * active interval `[ts, ts+15min)`; the answer is, per day, the maximum
    * number of simultaneously-active intervals (peak concurrent sessions —
    * the capacity-planning number). The classic algorithm: emit +1 at each
    * interval start and −1 at each end, order by time, take the max prefix
    * sum — expressed as a window cumulative sum, NOT an O(n²) self-join of
    * intervals against instants.
    *
    * Scale shape at 100 TB: the sweep is PARTITIONED BY DAY — each
    * interval is exploded into the (≤2) day-segments it overlaps, clamped
    * to the day boundary, so a segment spanning midnight carries into the
    * next day's sweep as a +1 at 00:00 (the day-boundary carry-in of the
    * two-level prefix-sum pattern, materialized instead of joined).
    * Parallelism scales with days × AQE partition splitting; no global
    * ordering anywhere. Ordering ties are exact: −1 sorts before +1 at
    * the same µs (half-open intervals — an interval ending at t is not
    * concurrent with one starting at t), and equal (t, delta) peers are
    * RANGE-frame peers in both engines, so the running sum is identical
    * regardless of physical row order. */
  val q125PeakConcurrency = QueryDef(
    "q125_peak_concurrency",
    (s, d) => {
      val dayUs = 86400000000L
      val iv = Tables.events(s, d)
        .select(expr("ts_ns DIV 1000").as("s0"))
        .withColumn("e0", col("s0") + 900000000L)
      val seg = iv
        .select(col("s0"), col("e0"),
          explode(sequence(expr(s"s0 DIV $dayUs"), expr(s"(e0 - 1) DIV $dayUs"))).as("day"))
        .select(col("day"),
          greatest(col("s0"), col("day") * dayUs).as("t0"),
          least(col("e0"), (col("day") + 1) * dayUs).as("t1"))
      val sweep = seg.select(col("day"), col("t0").as("t"), lit(1L).as("delta"))
        .unionAll(seg.select(col("day"), col("t1").as("t"), lit(-1L).as("delta")))
      sweep
        .withColumn("running",
          sum("delta").over(Window.partitionBy("day").orderBy("t", "delta")))
        .groupBy("day")
        .agg(
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).cast(LongType).as("n_active"),
          max("running").cast(LongType).as("peak"))
        .orderBy("day")
    },
    Some("""WITH iv AS (
           |  SELECT epoch_us(ts) AS s0, epoch_us(ts) + 900000000 AS e0 FROM events),
           |seg AS (
           |  SELECT unnest(generate_series(s0 // 86400000000, (e0 - 1) // 86400000000)) AS day,
           |         s0, e0
           |  FROM iv),
           |clamped AS (
           |  SELECT day, greatest(s0, day * 86400000000) AS t0,
           |         least(e0, (day + 1) * 86400000000) AS t1
           |  FROM seg),
           |sweep AS (
           |  SELECT day, t0 AS t, 1 AS delta FROM clamped
           |  UNION ALL SELECT day, t1, -1 FROM clamped),
           |run AS (
           |  SELECT day, delta,
           |    SUM(delta) OVER (PARTITION BY day ORDER BY t, delta) AS running
           |  FROM sweep)
           |SELECT day, CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           |  CAST(MAX(running) AS BIGINT) AS peak
           |FROM run GROUP BY day ORDER BY day""".stripMargin)
  )

  /** q133: per-user TIME-WEIGHTED average value — the statistic a plain
    * `avg` gets wrong on irregularly-sampled series (a sensor reporting
    * 1.0 for an hour then 100.0 for a second is ≈1.0, not 50.5): each
    * event's value holds until the next event, so the mean is
    * Σ vᵢ·Δtᵢ / Σ Δtᵢ over consecutive gaps. Everything integer-exact:
    * value in ×1e6 fixed point (the q106 convention), gaps at second
    * resolution (`ts_ns DIV 1e9` diffs — deterministic in both engines),
    * ties broken by event_id. Σ(v_x1m·Δt_s) ≤ 1e13 per gap — BIGINT-safe
    * far past the tested scale factors. Last event carries no forward
    * interval; single-event and zero-span users are excluded on both
    * sides (HAVING Σ Δt > 0). `value` is non-negative in this corpus, so
    * Spark's truncating DIV and DuckDB's flooring // agree on the final
    * division.
    *
    * Plan shape at 100 TB: ONE user-partitioned window (lead) + one hash
    * agg — parallelism scales with users, no global ordering anywhere. */
  val q133TimeWeightedAvg = QueryDef(
    "q133_time_weighted_avg",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ns"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v_x1m"),
          expr("ts_ns DIV 1000000000").as("ts_s"))
        .withColumn("next_s", lead(col("ts_s"), 1).over(w))
        .filter(col("next_s").isNotNull)
        .withColumn("dt", col("next_s") - col("ts_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("dt")).as("span_s"),
          sum(col("v_x1m") * col("dt")).as("wsum"))
        .filter(col("span_s") > 0)
        .withColumn("twavg_x1m", expr("wsum DIV span_s"))
        .select("user_id", "n_gaps", "span_s", "twavg_x1m")
        .orderBy("user_id")
    },
    Some("""WITH e AS (
           |  SELECT user_id, event_id,
           |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_x1m,
           |    epoch_ns(ts) // 1000000000 AS ts_s,
           |    epoch_ns(ts) AS tsn
           |  FROM events),
           |g AS (
           |  SELECT user_id, v_x1m, ts_s,
           |    LEAD(ts_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS next_s
           |  FROM e)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           |  CAST(SUM(next_s - ts_s) AS BIGINT) AS span_s,
           |  CAST(SUM(v_x1m * (next_s - ts_s)) AS BIGINT)
           |    // CAST(SUM(next_s - ts_s) AS BIGINT) AS twavg_x1m
           |FROM g WHERE next_s IS NOT NULL
           |GROUP BY user_id HAVING SUM(next_s - ts_s) > 0
           |ORDER BY user_id""".stripMargin)
  )

  /** q137: trailing 7-day distinct users per day (the DAU/WAU rolling-
    * uniques dashboard metric). COUNT(DISTINCT) does not compose over
    * sliding windows — a window-frame count would rescan, and sketches
    * (HLL) trade exactness — so the scale shape is CONTRIBUTION EXPLODE:
    * reduce to distinct (user, day) first (the only big shuffle, keyed by
    * user+day), then fan each pair out to the ≤7 report days it serves
    * and count distinct users per report day. The expansion factor is the
    * window length over the ALREADY-deduplicated pairs, not over raw
    * events; report days are clamped to observed days via a broadcast
    * semi-join (the calendar frame is metadata-sized at any scale).
    * Same-day uniques (u1) ride along as a conditional distinct. */
  val q137TrailingDistinct = QueryDef(
    "q137_trailing_distinct",
    (s, d) => {
      val userDays = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val observed = userDays.select(col("day").as("rday")).distinct()
      userDays
        .withColumn("rday", explode(expr("sequence(day, date_add(day, 6))")))
        .join(broadcast(observed), Seq("rday"), "left_semi")
        .groupBy("rday")
        .agg(
          countDistinct(when(col("day") === col("rday"), col("user_id"))).as("u1"),
          countDistinct(col("user_id")).as("u7"))
        .select(col("rday").as("day"), col("u1"), col("u7"))
        .orderBy("day")
    },
    Some("""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
           |days AS (SELECT DISTINCT day FROM ud)
           |SELECT d.day AS day,
           |  COUNT(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS u1,
           |  COUNT(DISTINCT u.user_id) AS u7
           |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
           |GROUP BY d.day ORDER BY d.day""".stripMargin)
  )

  /** q145: A/B experiment readout — users deterministically 50/50
    * split by the md5-bucket idiom (no rand(): assignment is stable
    * across retries, engines, and reruns — the property experiment
    * platforms actually require), then per event_type the two arms'
    * n / mean / Welch z-statistic. This synthetic split is an A/A test,
    * so |z| should hover near 0 — exactly the calibration check a real
    * experimentation pipeline runs before trusting its instrument.
    *
    * Determinism: values quantized to 0.1 units (`floor(v·10 + 0.5)`),
    * so n, Σv, Σv² are exact BIGINTs BELOW 2^53 at any realistic arm
    * size here (max Σv² ≈ 3e12 at sf0.1) — each converts to double
    * exactly, and Welch's z is then one identical double op sequence in
    * both engines, rounded to 4dp.
    *
    * Plan shape at 100 TB: one scan, one hash agg keyed by
    * (event_type, variant) with full map-side combine, then a
    * metadata-sized self-join of the two arms. Nothing user-keyed ever
    * shuffles — assignment is a projection. */
  val q145AbTest = QueryDef(
    "q145_ab_test",
    (s, d) => {
      val bucket = pmod(conv(substring(md5(concat(lit("ab#"),
        col("user_id").cast(StringType))), 1, 15), 16, 10).cast(LongType), lit(2L))
      val arms = Tables.events(s, d)
        .select(col("event_type"), bucket.as("variant"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v"))
        .groupBy("event_type", "variant")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("v") * col("v")).as("svv"))
      val a = arms.filter(col("variant") === 0)
        .select(col("event_type"), col("n").as("n_a"), col("sv").as("sv_a"),
          col("svv").as("svv_a"))
      val b = arms.filter(col("variant") === 1)
        .select(col("event_type"), col("n").as("n_b"), col("sv").as("sv_b"),
          col("svv").as("svv_b"))
      def meanD(sv: Column, n: Column) = sv.cast(DoubleType) / n.cast(DoubleType)
      def varD(svv: Column, sv: Column, n: Column) =
        (svv.cast(DoubleType) - sv.cast(DoubleType) * sv.cast(DoubleType) / n.cast(DoubleType)) /
          (n.cast(DoubleType) - 1.0)
      a.join(b, Seq("event_type"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          expr("sv_a DIV n_a").as("mean_a_x10"),
          expr("sv_b DIV n_b").as("mean_b_x10"),
          round((meanD(col("sv_a"), col("n_a")) - meanD(col("sv_b"), col("n_b"))) /
            sqrt(varD(col("svv_a"), col("sv_a"), col("n_a")) / col("n_a").cast(DoubleType) +
              varD(col("svv_b"), col("sv_b"), col("n_b")) / col("n_b").cast(DoubleType)),
            4).as("welch_z"))
        .orderBy("event_type")
    },
    Some("""WITH arms AS (
           |  SELECT event_type,
           |    CAST(('0x' || substr(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS variant,
           |    COUNT(*) AS n,
           |    SUM(CAST(floor(value * 10.0 + 0.5) AS BIGINT)) AS sv,
           |    SUM(CAST(floor(value * 10.0 + 0.5) AS BIGINT) * CAST(floor(value * 10.0 + 0.5) AS BIGINT)) AS svv
           |  FROM events GROUP BY 1, 2)
           |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
           |  CAST(a.sv // a.n AS BIGINT) AS mean_a_x10,
           |  CAST(b.sv // b.n AS BIGINT) AS mean_b_x10,
           |  round((CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE) - CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)) /
           |    sqrt(((CAST(a.svv AS DOUBLE) - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0)) / CAST(a.n AS DOUBLE)
           |       + ((CAST(b.svv AS DOUBLE) - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0)) / CAST(b.n AS DOUBLE)),
           |    4) AS welch_z
           |FROM arms a JOIN arms b ON a.event_type = b.event_type
           |WHERE a.variant = 0 AND b.variant = 1
           |ORDER BY a.event_type""".stripMargin)
  )

  /** q146: SCD2 history construction — turn a change LOG (each event
    * sets its user's current `value`) into the versioned dimension table
    * a warehouse joins facts against: one row per version with
    * [valid_from, valid_to) microsecond bounds, open-ended tail encoded
    * as -1 (both engines NULL-order differently; a sentinel keeps the
    * final ORDER BY total). This is the build side of the as-of join
    * family (q35/q123 consume such tables) and the historical complement
    * of q119's latest-state compaction.
    *
    * Plan shape at 100 TB: ONE window partitioned by the dimension key
    * (lead for the closing bound + row_number for the version ordinal in
    * the same frame — one sort, two functions); parallelism scales with
    * keys, the same shape q32/q109 already prove out. Bounded to
    * user_id < 30 here only to keep the oracle diff readable. */
  val q146Scd2History = QueryDef(
    "q146_scd2_history",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      Tables.events(s, d)
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns DIV 1000").as("ts_us"),
          floor(col("value") * 1000.0 + 0.5).cast(LongType).as("v_x1k"))
        .withColumn("version", row_number().over(w).cast(LongType))
        .withColumn("valid_to",
          coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
        .select(col("user_id"), col("version"),
          col("ts_us").as("valid_from"), col("valid_to"), col("v_x1k"))
        .orderBy("user_id", "version")
    },
    Some("""WITH log AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_x1k
           |  FROM events WHERE user_id < 30)
           |SELECT user_id,
           |  CAST(row_number() OVER w AS BIGINT) AS version,
           |  ts_us AS valid_from,
           |  COALESCE(lead(ts_us) OVER w, -1) AS valid_to,
           |  v_x1k
           |FROM log
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
           |ORDER BY user_id, version""".stripMargin)
  )

  /** q152 decay: one half-life per 6-hour bucket, floored at 20 buckets
    * (5 days — older events contribute exactly 0). */
  val DecayBucketUs = 21600000000L
  val DecayMaxBuckets = 20

  /** q152: time-decayed engagement — per user, Σ value·2^(−age) where
    * age is in [[DecayBucketUs]] half-life buckets behind the corpus
    * watermark. The freshness-weighted activity score feature stores
    * keep per entity (recent actions dominate, stale history fades);
    * PINNING decay to powers of two over bucketed ages keeps every
    * weight an exact BIGINT (`1048576 >> age`), so the whole score is
    * integer arithmetic — the q77/q148 exactness idea applied to
    * exponential decay, where a float `exp()` would drift cross-engine.
    *
    * Plan shape at 100 TB: one scan; the watermark is a 1-row scalar
    * broadcast; weighting is a projection; ONE hash agg keyed by user
    * with full map-side combine. Nothing shuffles but (user, partial)
    * rows. An incremental refresh halves all scores once per bucket and
    * adds the new window — the same algebra, kept exact by the
    * power-of-two choice. */
  val q152DecayedEngagement = QueryDef(
    "q152_decayed_engagement",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v_x10"))
      val mx = ev.agg(max(col("ts_us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("w", expr(
          s"shiftright(cast(1048576 as bigint), " +
            s"cast(least((mx - ts_us) DIV $DecayBucketUs, $DecayMaxBuckets) as int))"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("w") * col("v_x10")).cast(LongType).as("score_x"))
        .orderBy("user_id")
    },
    Some(s"""WITH ev AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v_x10
           |  FROM events),
           |mx AS (SELECT MAX(ts_us) AS mx FROM ev),
           |wt AS (
           |  SELECT user_id, v_x10,
           |    (CAST(1048576 AS BIGINT) >> CAST(LEAST((mx - ts_us) // $DecayBucketUs,
           |      $DecayMaxBuckets) AS INTEGER)) AS w
           |  FROM ev CROSS JOIN mx)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(SUM(w * v_x10) AS BIGINT) AS score_x
           |FROM wt GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q159: CUPED variance-reduced experiment readout — the adjustment
    * production A/B platforms layer on q145's raw Welch readout (Deng et
    * al., WSDM 2013): regress each user's POST-period outcome on their
    * PRE-period covariate and report arm means with the predictable
    * component removed. Covariate x = pre-period event count, outcome
    * y = post-period purchase deciunits, split at the corpus time
    * midpoint; θ = Sxy/Sxx over ALL users (pooled, the standard
    * estimator) and adjusted mean_A = ȳ_A − θ·(x̄_A − x̄).
    *
    * Exactness across engines: per-user (x, y) are small integers, the
    * five moment sums stay far below 2^53 at the tested SFs (documented:
    * x ≤ events/user ≈ 70, y ≤ 70·5 603 deciunits, U ≈ 1 500 at sf0.1 →
    * Sxy·10⁴ ≈ 10^17 ≪ 2^63), θ is ×1e4 fixed-point with q141's
    * POSITIVE-SHIFT divide (Spark DIV truncates, DuckDB // floors — the
    * shift makes both operate on positives), the adjusted means multiply
    * every denominator through before ONE shifted integer divide, and
    * the variance-reduction factor ρ² is two divisions from exact
    * BIGINTs — one identical double op sequence, rounded to 6dp.
    *
    * Plan shape at 100 TB: one 1-row bounds agg broadcast onto one
    * events scan → user-keyed conditional agg with full map-side
    * combine; moments and arms are metadata-sized aggs over the user
    * frame; everything after the per-user reduction touches ≤ U rows.
    * The user-keyed exchange is the only corpus-sized shuffle — same
    * budget as q145. */
  val q159Cuped = QueryDef(
    "q159_cuped",
    (s, d) => {
      val bounds = Tables.events(s, d)
        .agg(expr("(min(ts_ns DIV 1000) + max(ts_ns DIV 1000) + 1) DIV 2").as("mid"))
      val u = Tables.events(s, d)
        .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"), col("event_type"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v_x10"))
        .crossJoin(broadcast(bounds))
        .groupBy("user_id")
        .agg(sum(when(col("ts_us") < col("mid"), 1L).otherwise(0L)).as("x"),
          sum(when(col("ts_us") >= col("mid") && col("event_type") === "purchase",
            col("v_x10")).otherwise(0L)).as("y"))
      val m = u.agg(count(lit(1)).as("un"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
        .select(col("un"), col("sx"), col("sy"),
          (col("un") * col("sxy") - col("sx") * col("sy")).as("cxy"),
          (col("un") * col("sxx") - col("sx") * col("sx")).as("cxx"),
          (col("un") * col("syy") - col("sy") * col("sy")).as("cyy"))
        .withColumn("theta_x1w",
          expr("(cxy * 10000 + 100000 * cxx) DIV cxx - 100000"))
        .withColumn("rho2",
          round((col("cxy").cast(DoubleType) / col("cxx").cast(DoubleType)) *
            (col("cxy").cast(DoubleType) / col("cyy").cast(DoubleType)), 6))
      val bucket = pmod(conv(substring(md5(concat(lit("ab#"),
        col("user_id").cast(StringType))), 1, 15), 16, 10).cast(LongType), lit(2L))
      val arms = u.groupBy(bucket.as("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
      arms.crossJoin(broadcast(m))
        .withColumn("mean_y_x10", expr("sya DIV n_users"))
        .withColumn("adj_mean_y_x10",
          expr("(10000 * un * sya - theta_x1w * (un * sxa - n_users * sx)" +
            " + 1000 * (10000 * n_users * un)) DIV (10000 * n_users * un) - 1000"))
        .select("variant", "n_users", "mean_y_x10", "adj_mean_y_x10",
          "theta_x1w", "rho2")
        .orderBy("variant")
    },
    Some("""WITH b AS (
           |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts)) + 1) // 2 AS mid FROM events),
           |u AS (
           |  SELECT user_id,
           |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
           |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid AND event_type = 'purchase'
           |      THEN CAST(floor(value * 10.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
           |  FROM events CROSS JOIN b GROUP BY user_id),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS un, CAST(SUM(x) AS BIGINT) AS sx,
           |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
           |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy
           |  FROM u),
           |t AS (
           |  SELECT un, sx, sy,
           |    un * sxy - sx * sy AS cxy, un * sxx - sx * sx AS cxx,
           |    un * syy - sy * sy AS cyy,
           |    ((un * sxy - sx * sy) * 10000 + 100000 * (un * sxx - sx * sx))
           |      // (un * sxx - sx * sx) - 100000 AS theta_x1w FROM m),
           |arms AS (
           |  SELECT CAST(('0x' || substr(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS variant,
           |    CAST(COUNT(*) AS BIGINT) AS n_users,
           |    CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
           |  FROM u GROUP BY 1)
           |SELECT variant, n_users,
           |  CAST(sya // n_users AS BIGINT) AS mean_y_x10,
           |  CAST((10000 * un * sya - theta_x1w * (un * sxa - n_users * sx)
           |    + 1000 * (10000 * n_users * un)) // (10000 * n_users * un) - 1000 AS BIGINT)
           |    AS adj_mean_y_x10,
           |  CAST(theta_x1w AS BIGINT) AS theta_x1w,
           |  round((CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE)) *
           |        (CAST(cxy AS DOUBLE) / CAST(cyy AS DOUBLE)), 6) AS rho2
           |FROM arms CROSS JOIN t
           |ORDER BY variant""".stripMargin)
  )

  /** q168: SCD2 interval enrichment — the CONSUMER side of q146's
    * versioned-dimension build: every purchase fact joins the profile
    * version (signup-event value log) valid AT ITS EVENT TIME —
    * `valid_from ≤ ts < valid_to`, open tail as −1 — the canonical
    * dimensional-modeling lookup (Kimball type-2), and the batch
    * formulation of what q35/q123 do as as-of joins. Purchases before a
    * user's first profile version LEFT-join to −1 sentinels (both
    * engines, no null ordering).
    *
    * Exactness: versions partition each user's timeline (intervals are
    * [ts, next-ts) over a total (ts_us, event_id) order), so every fact
    * matches AT MOST one version — cardinality is exactly the purchase
    * count and the ORDER BY event stays total.
    *
    * Plan shape at 100 TB: dimension and facts both key by user — ONE
    * user-keyed equi-join with the interval predicate as a residual
    * filter (per-user version lists are small, the SMJ buffers bound);
    * the dimension build is q146's single key-partitioned window. For
    * dimension tables too big to buffer per key, q123's native merge-
    * sweep as-of operator is the drop-in (same sort order). */
  val q168Scd2Enrich = QueryDef(
    "q168_scd2_enrich",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val dim = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"),
          expr("ts_ns DIV 1000").as("ts_us"),
          floor(col("value") * 1000.0 + 0.5).cast(LongType).as("v_x1k"))
        .withColumn("version", row_number().over(w).cast(LongType))
        .withColumn("valid_to", coalesce(lead(col("ts_us"), 1).over(w), lit(-1L)))
        .select(col("user_id").as("d_user"), col("version"),
          col("ts_us").as("valid_from"), col("valid_to"), col("v_x1k"))
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("ts_ns DIV 1000").as("ts_us"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("cents_x10"))
      facts.join(dim,
          col("user_id") === col("d_user") &&
            col("ts_us") >= col("valid_from") &&
            (col("valid_to") === -1L || col("ts_us") < col("valid_to")),
          "left_outer")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("cents_x10"),
          coalesce(col("version"), lit(-1L)).as("version"),
          coalesce(col("v_x1k"), lit(-1L)).as("profile_v_x1k"))
        .orderBy("event_id")
    },
    Some("""WITH dim AS (
           |  SELECT user_id AS d_user,
           |    CAST(row_number() OVER w AS BIGINT) AS version,
           |    epoch_us(ts) AS valid_from,
           |    COALESCE(lead(epoch_us(ts), 1) OVER w, -1) AS valid_to,
           |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_x1k
           |  FROM events WHERE event_type = 'signup'
           |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
           |facts AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS cents_x10
           |  FROM events WHERE event_type = 'purchase')
           |SELECT f.event_id, f.user_id, f.ts_us, f.cents_x10,
           |  COALESCE(d.version, -1) AS version,
           |  COALESCE(d.v_x1k, -1) AS profile_v_x1k
           |FROM facts f LEFT JOIN dim d
           |  ON f.user_id = d.d_user
           | AND f.ts_us >= d.valid_from
           | AND (d.valid_to = -1 OR f.ts_us < d.valid_to)
           |ORDER BY f.event_id""".stripMargin)
  )

  /** q171: position-based (U-shaped) multi-touch attribution — q115
    * gives the LAST click everything; the U-shaped model marketing
    * teams actually reconcile against splits each conversion's credit
    * 40/20/40: first touch 400 000 ppm, last touch 400 000, middles
    * sharing 200 000 (k = 1 → 1 000 000; k = 2 → 500 000 each; middle
    * share = 200000 DIV (k−2), the truncation loss REPORTED rather
    * than redistributed so every row is a pure integer function of
    * (rn, k)). Touchpoints are the user's clicks in the hour before
    * the purchase (q88's funnel horizon); one row per (conversion,
    * touch) with role and credit.
    *
    * Plan shape at 100 TB: ONE user-keyed equi-join with the time
    * window as residual (clicks-per-user-hour bounds the match list),
    * then rank/count windows PARTITIONED BY CONVERSION — parallelism
    * scales with purchases. Same exchange budget as q115/q121. */
  val q171UShapedAttribution = QueryDef(
    "q171_ushaped_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns DIV 1000").as("ts_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_us").as("c_ts"))
      val w = Window.partitionBy("purchase_id")
      val wo = w.orderBy(col("c_ts").asc, col("click_id").asc)
      p.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") <= col("p_ts") && col("c_ts") > col("p_ts") - 3600000000L)
        .withColumn("rn", row_number().over(wo).cast(LongType))
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("role",
          when(col("k") === 1, "only")
            .when(col("rn") === 1, "first")
            .when(col("rn") === col("k"), "last")
            .otherwise("middle"))
        .withColumn("credit_ppm", expr(
          """CASE WHEN k = 1 THEN 1000000
            |     WHEN rn = 1 OR rn = k THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
            |     ELSE 200000 DIV (k - 2) END""".stripMargin))
        .select(col("purchase_id"), col("click_id"), col("rn"), col("k"),
          col("role"), col("credit_ppm"))
        .orderBy("purchase_id", "click_id")
    },
    Some("""WITH p AS (
           |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_ts
           |  FROM events WHERE event_type = 'purchase'),
           |c AS (
           |  SELECT user_id AS c_user, event_id AS click_id, epoch_us(ts) AS c_ts
           |  FROM events WHERE event_type = 'click'),
           |m AS (
           |  SELECT purchase_id, click_id,
           |    CAST(row_number() OVER (PARTITION BY purchase_id
           |      ORDER BY c_ts ASC, click_id ASC) AS BIGINT) AS rn,
           |    CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS k
           |  FROM p JOIN c ON user_id = c_user
           |    AND c_ts <= p_ts AND c_ts > p_ts - 3600000000)
           |SELECT purchase_id, click_id, rn, k,
           |  CASE WHEN k = 1 THEN 'only' WHEN rn = 1 THEN 'first'
           |       WHEN rn = k THEN 'last' ELSE 'middle' END AS role,
           |  CAST(CASE WHEN k = 1 THEN 1000000
           |       WHEN rn = 1 OR rn = k THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
           |       ELSE 200000 // (k - 2) END AS BIGINT) AS credit_ppm
           |FROM m ORDER BY purchase_id, click_id""".stripMargin)
  )

  /** Microseconds per hour (q177's profile grain). */
  val HourUsC: Long = 3600L * 1000000L

  /** q177: seasonality-strength report — per event type, how much of
    * the value variance the hour-of-day profile explains: the ANOVA
    * decomposition eta² = SSB/SST in an integer surrogate (each hour's
    * S_h² DIV n_h term floor-divided BEFORE summing — documented: the
    * surrogate is within 24 units of true SSB, far inside the ×1e6
    * reporting grain), plus the peak hour and its mean. The statistic
    * that decides whether a forecast needs an hourly profile (strong
    * seasonality) or q100's trend-only EWMA suffices.
    *
    * Plan shape at 100 TB: first agg keys by (type, hour) — 24·|types|
    * groups with full map-side combine — and everything after runs over
    * that metadata-sized grid. Magnitude bound documented: S_h² at the
    * tested SFs ≤ ~5e12 ≪ 2^63 (deciunit sums per type-hour). */
  val q177Seasonality = QueryDef(
    "q177_seasonality",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"(ts_ns DIV 1000 DIV $HourUsC) % 24").as("h"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v"))
        .groupBy("event_type", "h")
        .agg(count(lit(1)).as("nh"), sum(col("v")).as("sh"),
          sum(col("v") * col("v")).as("sqh"))
      val w = Window.partitionBy("event_type")
        .orderBy(expr("sh * 1000000 DIV nh").desc, col("h").asc)
      hourly
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(sum(col("nh")).as("n"), sum(col("sh")).as("sv"),
          sum(col("sqh")).as("svv"),
          sum(expr("sh * sh DIV nh")).as("ssb_raw"),
          max(when(col("rn") === 1, col("h"))).as("peak_hour"),
          max(when(col("rn") === 1, expr("sh * 10 DIV nh"))).as("peak_mean_x100"))
        .select(col("event_type"), col("n"),
          expr("((ssb_raw - sv * sv DIV n) * 1000000)" +
            " DIV greatest(svv - sv * sv DIV n, 1)").as("strength_x1m"),
          col("peak_hour"), col("peak_mean_x100"))
        .orderBy("event_type")
    },
    Some(s"""WITH hourly AS (
           |  SELECT event_type, (epoch_us(ts) // $HourUsC) % 24 AS h,
           |    CAST(COUNT(*) AS BIGINT) AS nh,
           |    CAST(SUM(CAST(floor(value * 10.0 + 0.5) AS BIGINT)) AS BIGINT) AS sh,
           |    CAST(SUM(CAST(floor(value * 10.0 + 0.5) AS BIGINT)
           |           * CAST(floor(value * 10.0 + 0.5) AS BIGINT)) AS BIGINT) AS sqh
           |  FROM events GROUP BY 1, 2),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY event_type
           |    ORDER BY sh * 1000000 // nh DESC, h ASC) AS rn
           |  FROM hourly)
           |SELECT event_type, CAST(SUM(nh) AS BIGINT) AS n,
           |  CAST((SUM(sh * sh // nh) - SUM(sh) * SUM(sh) // SUM(nh)) * 1000000
           |    // GREATEST(SUM(sqh) - SUM(sh) * SUM(sh) // SUM(nh), 1) AS BIGINT)
           |    AS strength_x1m,
           |  CAST(MAX(CASE WHEN rn = 1 THEN h END) AS BIGINT) AS peak_hour,
           |  CAST(MAX(CASE WHEN rn = 1 THEN sh * 10 // nh END) AS BIGINT)
           |    AS peak_mean_x100
           |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** Microseconds per week (q178/q179's reporting grain). */
  val WeekUs: Long = 7L * 24 * 3600 * 1000000L

  /** q178: week-over-week growth report — weekly purchase revenue and
    * event volume with lagged deltas ×1e6 (the executive trendline):
    * one corpus-sized (week) agg with map-side combine, then lag
    * windows over the metadata-sized week frame. First week reports -1
    * sentinels (no prior), keeping the output engine-total. */
  val q178WowGrowth = QueryDef(
    "q178_wow_growth",
    (s, d) => {
      val w = Window.partitionBy(lit(0)).orderBy("week")
      Tables.events(s, d)
        .select(expr(s"ts_ns DIV 1000 DIV $WeekUs").as("week"),
          col("event_type"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", col("v")).otherwise(0L))
            .as("rev_x10"))
        .withColumn("prev_rev", lag(col("rev_x10"), 1).over(w))
        .withColumn("growth_x1m",
          when(col("prev_rev").isNull || col("prev_rev") === 0, -1L)
            .otherwise(expr("(rev_x10 - prev_rev) * 1000000 DIV prev_rev")))
        .select("week", "n_events", "rev_x10", "growth_x1m")
        .orderBy("week")
    },
    Some(s"""WITH wk AS (
           |  SELECT epoch_us(ts) // $WeekUs AS week,
           |    CAST(COUNT(*) AS BIGINT) AS n_events,
           |    CAST(SUM(CASE WHEN event_type = 'purchase'
           |      THEN CAST(floor(value * 10.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
           |      AS rev_x10
           |  FROM events GROUP BY 1)
           |SELECT week, n_events, rev_x10,
           |  CAST(COALESCE((rev_x10 - lag(rev_x10, 1) OVER (ORDER BY week)) * 1000000
           |    // NULLIF(lag(rev_x10, 1) OVER (ORDER BY week), 0), -1) AS BIGINT)
           |    AS growth_x1m
           |FROM wk ORDER BY week""".stripMargin)
  )

  /** q179: cohort LTV triangle — the lifetime-value matrix growth teams
    * steer by: users cohorted by first-seen week, revenue accumulated
    * by cohort age, each cell the CUMULATIVE per-cohort revenue through
    * that age (the "LTV curve" read along a row; reading columns gives
    * the q89 retention complement in revenue terms).
    *
    * Plan shape at 100 TB: first-seen is one user-keyed min-agg, the
    * (cohort, age) cells one more agg over the joined stream (both
    * map-side combinable), and the cumulative window runs over the
    * weeks² metadata triangle, never the corpus. */
  val q179CohortLtv = QueryDef(
    "q179_cohort_ltv",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_ns DIV 1000 DIV $WeekUs").as("week"),
          col("event_type"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v"))
      val cohort = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val cells = ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_week"))
        .agg(sum(when(col("event_type") === "purchase", col("v")).otherwise(0L))
          .as("rev_x10"))
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
      val w = Window.partitionBy("cohort_week").orderBy("age_week")
      cells.join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("cum_rev_x10", sum(col("rev_x10")).over(w))
        .select("cohort_week", "age_week", "cohort_users", "rev_x10", "cum_rev_x10")
        .orderBy("cohort_week", "age_week")
    },
    Some(s"""WITH ev AS (
           |  SELECT user_id, epoch_us(ts) // $WeekUs AS week, event_type,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v
           |  FROM events),
           |cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
           |cells AS (
           |  SELECT cohort_week, week - cohort_week AS age_week,
           |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END) AS BIGINT)
           |      AS rev_x10
           |  FROM ev JOIN cohort USING (user_id) GROUP BY 1, 2),
           |sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
           |          FROM cohort GROUP BY 1)
           |SELECT cohort_week, age_week, cohort_users, rev_x10,
           |  CAST(SUM(rev_x10) OVER (PARTITION BY cohort_week ORDER BY age_week) AS BIGINT)
           |    AS cum_rev_x10
           |FROM cells JOIN sizes USING (cohort_week)
           |ORDER BY cohort_week, age_week""".stripMargin)
  )

  /** q181: revenue-concentration audit (exact Gini + top-1% share) —
    * the inequality statistics that decide whether q84's salting /
    * q118's skew report are needed BEFORE a job hits the hot keys: Gini
    * over per-user purchase revenue via the rank formula
    * G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n, exact in ×1e6 fixed point
    * (Σ i·x₍ᵢ₎ ties are rank-order invariant, so the deterministic
    * (rev, user) sort makes both engines agree bit-for-bit; magnitude
    * documented: 2e6·Σi·x ≈ 1e18 < 2^63 at the tested SFs), plus the
    * revenue share of the top ⌈n/100⌉ users. Zero-revenue users count —
    * inequality over the full base, not just buyers.
    *
    * Plan shape at 100 TB: one user-keyed agg reduces the corpus, then
    * the ranked prefix sums run over the USER frame (q147's histogram
    * narrowing is the documented alternative when even users overflow a
    * sort). Output is one row. */
  val q181GiniConcentration = QueryDef(
    "q181_gini_concentration",
    (s, d) => {
      val byUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          floor(col("value") * 10.0 + 0.5).cast(LongType)).otherwise(0L)).as("rev"))
      val wAsc = Window.partitionBy(lit(0)).orderBy(col("rev").asc, col("user_id").asc)
      val ranked = byUser
        .withColumn("i", row_number().over(wAsc).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(0))))
        .withColumn("is_top", col("i") > col("n") - expr("(n + 99) DIV 100"))
      ranked.agg(max(col("n")).as("n_users"), sum(col("rev")).as("total_x10"),
          sum(col("i") * col("rev")).as("ixr"),
          sum(when(col("is_top"), col("rev")).otherwise(0L)).as("top_rev"))
        .select(col("n_users"), col("total_x10"),
          expr("2 * ixr * 1000000 DIV (n_users * total_x10)" +
            " - (n_users + 1) * 1000000 DIV n_users").as("gini_x1m"),
          expr("top_rev * 1000000 DIV total_x10").as("top1pct_share_x1m"))
    },
    Some("""WITH u AS (
           |  SELECT user_id,
           |    CAST(SUM(CASE WHEN event_type = 'purchase'
           |      THEN CAST(floor(value * 10.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
           |      AS rev
           |  FROM events GROUP BY user_id),
           |r AS (
           |  SELECT rev,
           |    CAST(row_number() OVER (ORDER BY rev ASC, user_id ASC) AS BIGINT) AS i,
           |    CAST(COUNT(*) OVER () AS BIGINT) AS n
           |  FROM u)
           |SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           |  CAST(SUM(rev) AS BIGINT) AS total_x10,
           |  CAST(2 * SUM(i * rev) * 1000000 // (MAX(n) * SUM(rev))
           |    - (MAX(n) + 1) * 1000000 // MAX(n) AS BIGINT) AS gini_x1m,
           |  CAST(SUM(CASE WHEN i > n - (n + 99) // 100 THEN rev ELSE 0 END) * 1000000
           |    // SUM(rev) AS BIGINT) AS top1pct_share_x1m
           |FROM r""".stripMargin)
  )

  /** q183: clamped running balance — a prepaid-credit wallet where
    * purchases top up and views draw down, floored at zero (no negative
    * balance). The clamp makes the scan NONLINEAR, so no single window
    * `sum` computes it — but the recurrence `b_i = max(0, b_{i-1} + d_i)`
    * has a closed form over the UNclamped prefix sums P:
    * `b_n = P_n - min(0, min_{j<=n} P_j)`, turning a sequential fold into
    * three stacked windows (running sum → running min → lag). A clamp
    * fires exactly when P sets a new strict minimum below every earlier
    * floor, i.e. `P_j < min(0, rm_{j-1})`.
    *
    * Scale: all three window levels share the user partitioning, so
    * Catalyst plans ONE user-keyed exchange with consecutive WindowExecs
    * over it — the per-user sequential semantics costs a single shuffle,
    * vs mapGroups re-sorting or an iterative driver loop. */
  val q183ClampedBalance = QueryDef(
    "q183_clamped_balance",
    (s, d) => {
      val cents = floor(col("value") * 100.0 + 0.5).cast(LongType)
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val staged = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          when(col("event_type") === "purchase", cents).otherwise(-cents).as("delta"))
        .withColumn("p", sum("delta").over(w))
        .withColumn("rm", min("p").over(w))
        .withColumn("bal", col("p") - least(lit(0L), col("rm")))
        .withColumn("clamped",
          col("p") < least(lit(0L), coalesce(lag("rm", 1).over(w), lit(Long.MaxValue))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts_ns").desc, col("event_id").desc)))
      staged.groupBy("user_id")
        .agg(max(when(col("rn") === 1, col("bal"))).as("final_bal_c"),
          max("bal").as("peak_bal_c"),
          sum(when(col("clamped"), 1L).otherwise(0L)).as("n_clamps"),
          count(lit(1)).as("n_tx"))
        .orderBy("user_id")
    },
    Some("""WITH t AS (
           |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
           |    CASE WHEN event_type = 'purchase'
           |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
           |      ELSE -CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS delta
           |  FROM events WHERE event_type IN ('purchase', 'view')),
           |a AS (
           |  SELECT *, SUM(delta) OVER win AS p FROM t
           |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
           |b AS (
           |  SELECT *, MIN(p) OVER win AS rm FROM a
           |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
           |c AS (
           |  SELECT user_id, ts_ns, event_id,
           |    p - LEAST(0, rm) AS bal,
           |    p < LEAST(0, COALESCE(LAG(rm) OVER win, 9223372036854775807)) AS clamped,
           |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) AS rn
           |  FROM b
           |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
           |SELECT user_id,
           |  CAST(MAX(CASE WHEN rn = 1 THEN bal END) AS BIGINT) AS final_bal_c,
           |  CAST(MAX(bal) AS BIGINT) AS peak_bal_c,
           |  CAST(SUM(CASE WHEN clamped THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps,
           |  CAST(COUNT(*) AS BIGINT) AS n_tx
           |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  private val SessGapNs = 30L * 60 * 1000 * 1000 * 1000
  private val FiveMinNs = 5L * 60 * 1000 * 1000 * 1000

  /** q185: discrete-time survival (hazard table) over SESSION durations —
    * the engagement readout behind "how long do visits last": sessionize
    * with q32's 30-minute gap rule, bucket each session's duration into
    * 5-minute bands k, and report per band how many sessions were still
    * alive entering it (at-risk), how many ended in it, the hazard rate
    * ended/at-risk, and cumulative end share. Kaplan-Meier's product form
    * needs floats; the discrete hazard table carries the same information
    * and stays integer-exact (×1e6 floor division).
    *
    * Scale: sessionization is one user-keyed window (the lag-island
    * assignment) + one (user, session) agg — both map-side-friendly and
    * sharing the user exchange; at-risk is a REVERSE cumulative sum over
    * the duration histogram, metadata-sized by construction. */
  val q185HazardTable = QueryDef(
    "q185_hazard_table",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"))
        .withColumn("new_s",
          when(col("ts_ns") - coalesce(lag("ts_ns", 1).over(w), lit(0L))
            > SessGapNs, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(expr(s"(max(ts_ns) - min(ts_ns)) DIV $FiveMinNs").as("k"))
      val byK = sess.groupBy("k").agg(count(lit(1)).as("n_ended"))
      val wDesc = Window.partitionBy(lit(0)).orderBy(col("k").desc)
      val wAsc = Window.partitionBy(lit(0)).orderBy(col("k").asc)
      byK
        .withColumn("at_risk", sum("n_ended").over(wDesc))
        .withColumn("total", sum("n_ended").over(Window.partitionBy(lit(0))))
        .withColumn("cum", sum("n_ended").over(wAsc))
        .select(col("k"), col("n_ended"), col("at_risk"),
          expr("n_ended * 1000000 DIV at_risk").as("hazard_x1m"),
          expr("cum * 1000000 DIV total").as("cum_end_x1m"))
        .orderBy("k")
    },
    Some(s"""WITH t AS (
           |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id FROM events),
           |g AS (
           |  SELECT user_id, ts_ns, event_id,
           |    CASE WHEN ts_ns - COALESCE(LAG(ts_ns) OVER win, 0)
           |      > ${SessGapNs} THEN 1 ELSE 0 END AS new_s
           |  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
           |si AS (
           |  SELECT user_id, ts_ns,
           |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS sid
           |  FROM g),
           |sess AS (
           |  SELECT user_id, sid,
           |    (MAX(ts_ns) - MIN(ts_ns)) // ${FiveMinNs} AS k
           |  FROM si GROUP BY user_id, sid),
           |h AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_ended FROM sess GROUP BY k)
           |SELECT k, n_ended,
           |  CAST(SUM(n_ended) OVER (ORDER BY k DESC) AS BIGINT) AS at_risk,
           |  CAST(n_ended * 1000000 // SUM(n_ended) OVER (ORDER BY k DESC)
           |    AS BIGINT) AS hazard_x1m,
           |  CAST(SUM(n_ended) OVER (ORDER BY k ASC) * 1000000
           |    // SUM(n_ended) OVER () AS BIGINT) AS cum_end_x1m
           |FROM h ORDER BY k""".stripMargin)
  )

  /** q188: interval-union coverage — each event opens an activity
    * interval `[ts, ts + value seconds)`; per user, the total UNION
    * length (overlaps counted once) and the number of merged islands.
    * The classic sweep ("effective uptime", ad-viewability, machine
    * utilization) as two windows: an interval starts a new island iff
    * its start clears every earlier end (running max-end over a
    * 1-preceding frame), and its novel contribution is
    * `end - greatest(start, prev_max_end)` clamped at zero — summing
    * those IS the union length, no pairwise overlap join.
    *
    * Scale: one user-keyed exchange; both windows share it. Contrast
    * with q125 (global concurrency sweep) — this one never leaves the
    * user partition. */
  val q188IntervalCoverage = QueryDef(
    "q188_interval_coverage",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          (col("ts_ns") + (floor(col("value") * 1000.0 + 0.5).cast(LongType) * 1000000L))
            .as("end_ns"))
        .withColumn("prev_end", max("end_ns").over(wPrev))
        .withColumn("contrib",
          greatest(lit(0L),
            col("end_ns") - greatest(col("ts_ns"), coalesce(col("prev_end"), col("ts_ns")))))
        .withColumn("island",
          when(col("prev_end").isNull || col("ts_ns") > col("prev_end"), 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("contrib").as("covered_ns"), sum("island").as("n_islands"),
          count(lit(1)).as("n_intervals"))
        .orderBy("user_id")
    },
    Some("""WITH t AS (
           |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
           |    epoch_ns(ts) + CAST(floor(value * 1000.0 + 0.5) AS BIGINT) * 1000000
           |      AS end_ns
           |  FROM events),
           |s AS (
           |  SELECT user_id, ts_ns, end_ns,
           |    MAX(end_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           |  FROM t)
           |SELECT user_id,
           |  CAST(SUM(GREATEST(0, end_ns - GREATEST(ts_ns, COALESCE(prev_end, ts_ns))))
           |    AS BIGINT) AS covered_ns,
           |  CAST(SUM(CASE WHEN prev_end IS NULL OR ts_ns > prev_end THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_islands,
           |  CAST(COUNT(*) AS BIGINT) AS n_intervals
           |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q191: conversion latency — the time-to-convert readout behind every
    * funnel (q88 counts WHO converts; this measures HOW LONG it takes):
    * per user, the gap from the FIRST view to the first purchase strictly
    * after it; report conversion rate plus exact median/p90 latency in
    * seconds. Percentile selection is the q186/q147 discipline — latencies
    * collapse to per-second counts, the cumulative window runs over
    * distinct seconds (metadata), the selected value is the smallest
    * second whose cumulative count crosses the threshold, so tie handling
    * is definitionally engine-identical.
    *
    * Scale: two map-side-combinable per-user min-aggs (views, then
    * qualifying purchases) sharing one user-keyed join exchange; the
    * percentile machinery never sees corpus rows. */
  val q191ConversionLatency = QueryDef(
    "q191_conversion_latency",
    (s, d) => {
      val ev = Tables.events(s, d)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_ns").as("v_ns"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(firstView, "user_id")
        .filter(col("ts_ns") > col("v_ns"))
        .groupBy("user_id")
        .agg(expr("(min(ts_ns) - any_value(v_ns)) DIV 1000000000").as("lat_s"))
      val bySec = lat.groupBy("lat_s").agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy(lit(0)).orderBy(col("lat_s").asc)
      val pct = bySec
        .withColumn("cum", sum("w").over(wc))
        .withColumn("tot", sum("w").over(Window.partitionBy(lit(0))))
        .agg(max("tot").as("n_converted"),
          min(when(col("cum") * 2 >= col("tot"), col("lat_s"))).as("median_s"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("lat_s"))).as("p90_s"))
      firstView.agg(count(lit(1)).as("n_users")).crossJoin(pct)
        .select(col("n_users"), col("n_converted"),
          expr("n_converted * 1000000 DIV n_users").as("conv_x1m"),
          col("median_s"), col("p90_s"))
    },
    Some("""WITH fv AS (
           |  SELECT user_id, MIN(epoch_ns(ts)) AS v_ns FROM events
           |  WHERE event_type = 'view' GROUP BY 1),
           |lat AS (
           |  SELECT e.user_id,
           |    (MIN(epoch_ns(e.ts)) - MIN(fv.v_ns)) // 1000000000 AS lat_s
           |  FROM events e JOIN fv USING (user_id)
           |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > fv.v_ns
           |  GROUP BY 1),
           |sec AS (SELECT lat_s, CAST(COUNT(*) AS BIGINT) AS w FROM lat GROUP BY 1),
           |c AS (
           |  SELECT lat_s,
           |    SUM(w) OVER (ORDER BY lat_s) AS cum, SUM(w) OVER () AS tot
           |  FROM sec),
           |p AS (
           |  SELECT CAST(MAX(tot) AS BIGINT) AS n_converted,
           |    CAST(MIN(CASE WHEN cum * 2 >= tot THEN lat_s END) AS BIGINT) AS median_s,
           |    CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN lat_s END) AS BIGINT) AS p90_s
           |  FROM c)
           |SELECT CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_users,
           |  n_converted,
           |  CAST(n_converted * 1000000 // (SELECT COUNT(*) FROM fv) AS BIGINT)
           |    AS conv_x1m,
           |  median_s, p90_s
           |FROM p""".stripMargin)
  )

  /** q195: weekday×hour activity heatmap — the traffic-shape profile
    * behind capacity planning and send-time optimization: event count and
    * purchase-value share per (ISO weekday, UTC hour) cell, each cell's
    * load share ×1e6 against the whole grid. Buckets derive from the
    * exact ns epoch (day index DIV/`% 7` with the epoch-origin Thursday
    * offset made explicit) so both engines bucket identically without
    * consulting calendar/timezone code paths.
    *
    * Scale: ONE hash agg to a ≤168-cell grid (map-side combinable); the
    * share windows run over the grid — metadata at any corpus size. */
  private val DayNs = 86400L * 1000 * 1000 * 1000

  /** q196: per-user activity velocity — for every event, how many of the
    * same user's events landed in the trailing hour (a true time-RANGE
    * window frame, `rangeBetween(-1h, 0)` over the ns epoch — the frame
    * shape rate limiters and fraud velocity checks use, distinct from
    * every ROWS frame in the registry); reported per user as the peak
    * burst, how many events sat at that peak, and the total. RANGE
    * frames are tie-safe by construction: same-ts peers are in each
    * other's frame in both engines, so no ordering tiebreak is needed.
    *
    * Scale: one user-keyed exchange; the range frame is evaluated by a
    * running two-pointer pass inside each sorted partition — no
    * self-join against the hour, no explode. */
  val q196Velocity = QueryDef(
    "q196_velocity",
    (s, d) => {
      val HourNs = 3600L * 1000 * 1000 * 1000
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc)
        .rangeBetween(-HourNs, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"))
        .withColumn("trail", count(lit(1)).over(w))
        .withColumn("mx", max("trail").over(Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max("trail").as("peak_1h"),
          sum(when(col("trail") === col("mx"), 1L).otherwise(0L)).as("n_at_peak"))
        .orderBy("user_id")
    },
    Some("""WITH t AS (
           |  SELECT user_id, epoch_ns(ts) AS ts_ns FROM events),
           |v AS (
           |  SELECT user_id, ts_ns,
           |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ns
           |      RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW) AS trail
           |  FROM t),
           |m AS (
           |  SELECT user_id, ts_ns, trail,
           |    MAX(trail) OVER (PARTITION BY user_id) AS mx
           |  FROM v)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(MAX(trail) AS BIGINT) AS peak_1h,
           |  CAST(SUM(CASE WHEN trail = mx THEN 1 ELSE 0 END) AS BIGINT) AS n_at_peak
           |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q198: RFM segmentation — the classic customer-base partition by
    * Recency/Frequency/Monetary quintiles (marketing's workhorse
    * segmentation, and a stratification key for sampling): per purchasing
    * user, days since last purchase, purchase count and total value;
    * each dimension scored 1–5 by `ntile(5)` with a user_id tiebreak so
    * bucket edges are deterministic on both engines (ntile's
    * equal-buckets-±1 split is SQL-standard); report = users and value
    * per (r, f, m) cell — ≤125 rows.
    *
    * Scale: one user-keyed agg over purchases (map-side combinable),
    * then three rank windows + the final agg over the per-USER frame —
    * users, not events; the 1-row corpus-max watermark is a broadcast
    * like q152's. The ntile windows are global (exact quintile edges
    * need a total order); at billion-user scale swap them for q167's
    * sampled range boundaries — same report, boundary error O(1/sample)
    * — exactly the trade q131 (exact) vs q167 (sampled) documents. */
  val q198RfmSegments = QueryDef(
    "q198_rfm_segments",
    (s, d) => {
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      val watermark = p.agg(max("ts_ns").as("wm_ns"))
      val byUser = p.groupBy("user_id")
        .agg(max("ts_ns").as("last_ns"), count(lit(1)).as("freq"),
          sum(floor(col("value") * 10.0 + 0.5).cast(LongType)).as("mon_x10"))
        .crossJoin(watermark)
        .select(col("user_id"),
          expr(s"(wm_ns - last_ns) DIV ${DayNs}").as("rec_days"),
          col("freq"), col("mon_x10"))
      byUser
        .withColumn("r", ntile(5).over(
          Window.orderBy(col("rec_days").desc, col("user_id").asc)).cast(LongType))
        .withColumn("f", ntile(5).over(
          Window.orderBy(col("freq").asc, col("user_id").asc)).cast(LongType))
        .withColumn("m", ntile(5).over(
          Window.orderBy(col("mon_x10").asc, col("user_id").asc)).cast(LongType))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_users"), sum("mon_x10").as("value_x10"))
        .orderBy("r", "f", "m")
    },
    Some(s"""WITH p AS (
           |  SELECT user_id, epoch_ns(ts) AS ts_ns,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE event_type = 'purchase'),
           |u AS (
           |  SELECT user_id,
           |    ((SELECT MAX(ts_ns) FROM p) - MAX(ts_ns)) // ${DayNs} AS rec_days,
           |    CAST(COUNT(*) AS BIGINT) AS freq, CAST(SUM(v) AS BIGINT) AS mon_x10
           |  FROM p GROUP BY user_id),
           |sc AS (
           |  SELECT user_id, mon_x10,
           |    CAST(ntile(5) OVER (ORDER BY rec_days DESC, user_id ASC) AS BIGINT) AS r,
           |    CAST(ntile(5) OVER (ORDER BY freq ASC, user_id ASC) AS BIGINT) AS f,
           |    CAST(ntile(5) OVER (ORDER BY mon_x10 ASC, user_id ASC) AS BIGINT) AS m
           |  FROM u)
           |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_users,
           |  CAST(SUM(mon_x10) AS BIGINT) AS value_x10
           |FROM sc GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin)
  )

  /** q203: pipeline freshness / staleness audit — the monitor page every
    * ingestion pipeline needs: per event type, minutes since the last
    * event (against the corpus watermark), volume in the trailing 24 h vs
    * the 24 h before it, and the day-over-day ratio ×1e6 — a stream that
    * went quiet or fell off a cliff shows up as a stale age or a
    * collapsed ratio. Integer-exact: ages in whole minutes, the ratio a
    * guarded floor division.
    *
    * Scale: ONE scan with conditional aggregation per type (map-side
    * combinable, output bounded by |types|); the watermark is the same
    * 1-row broadcast as q152/q198. */
  val q203FreshnessAudit = QueryDef(
    "q203_freshness_audit",
    (s, d) => {
      val e = Tables.events(s, d)
      val wm = e.agg(max("ts_ns").as("wm_ns"))
      e.crossJoin(wm)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          expr(s"min(wm_ns - ts_ns) DIV ${60L * 1000 * 1000 * 1000}")
            .as("staleness_min"),
          sum(when(expr(s"wm_ns - ts_ns < ${DayNs}"), 1L).otherwise(0L))
            .as("last_24h"),
          sum(when(expr(s"wm_ns - ts_ns >= ${DayNs} AND wm_ns - ts_ns < ${2 * DayNs}"),
            1L).otherwise(0L)).as("prior_24h"))
        .select(col("event_type"), col("n_total"), col("staleness_min"),
          col("last_24h"), col("prior_24h"),
          expr("last_24h * 1000000 DIV greatest(prior_24h, 1)").as("dod_x1m"))
        .orderBy("event_type")
    },
    Some(s"""WITH w AS (SELECT MAX(epoch_ns(ts)) AS wm_ns FROM events)
           |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
           |  CAST(MIN(w.wm_ns - epoch_ns(ts)) // 60000000000 AS BIGINT)
           |    AS staleness_min,
           |  CAST(SUM(CASE WHEN w.wm_ns - epoch_ns(ts) < ${DayNs}
           |    THEN 1 ELSE 0 END) AS BIGINT) AS last_24h,
           |  CAST(SUM(CASE WHEN w.wm_ns - epoch_ns(ts) >= ${DayNs}
           |    AND w.wm_ns - epoch_ns(ts) < ${2 * DayNs}
           |    THEN 1 ELSE 0 END) AS BIGINT) AS prior_24h,
           |  CAST(SUM(CASE WHEN w.wm_ns - epoch_ns(ts) < ${DayNs}
           |    THEN 1 ELSE 0 END) * 1000000
           |    // GREATEST(SUM(CASE WHEN w.wm_ns - epoch_ns(ts) >= ${DayNs}
           |    AND w.wm_ns - epoch_ns(ts) < ${2 * DayNs} THEN 1 ELSE 0 END), 1)
           |    AS BIGINT) AS dod_x1m
           |FROM events, w GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q206: inter-arrival gap percentiles — the traffic-model diagnostic
    * (is arrival roughly Poisson? what timeout actually covers p90 of
    * gaps?) that sizes q32's session gap and q185's bands instead of
    * guessing them: per event type, exact median/p90/max of the
    * SAME-USER inter-event gap in seconds (lag over the user-keyed
    * window, first event per user has no gap and is excluded), via the
    * q186 distinct-value cumulative selection.
    *
    * Scale: one user-keyed window (shared exchange with every other
    * per-user op), one (type, gap-seconds) hash agg, percentile windows
    * over the gap histogram — metadata. */
  val q206InterarrivalGaps = QueryDef(
    "q206_interarrival_gaps",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("gap_ns", col("ts_ns") - lag("ts_ns", 1).over(w))
        .withColumn("gap_s", expr("gap_ns DIV 1000000000"))
        .filter(col("gap_s").isNotNull)
      val hist = gaps.groupBy("event_type", "gap_s").agg(count(lit(1)).as("n"))
      val wc = Window.partitionBy("event_type").orderBy(col("gap_s").asc)
      hist
        .withColumn("cum", sum("n").over(wc))
        .withColumn("tot", sum("n").over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(max("tot").as("n_gaps"),
          min(when(col("cum") * 2 >= col("tot"), col("gap_s"))).as("med_gap_s"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("gap_s"))).as("p90_gap_s"),
          max("gap_s").as("max_gap_s"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (
           |  SELECT event_type,
           |    (epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (PARTITION BY user_id
           |      ORDER BY epoch_ns(ts), event_id)) // 1000000000 AS gap_s
           |  FROM events),
           |h AS (
           |  SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
           |c AS (
           |  SELECT event_type, gap_s, n,
           |    SUM(n) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
           |    SUM(n) OVER (PARTITION BY event_type) AS tot
           |  FROM h)
           |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_gaps,
           |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN gap_s END) AS BIGINT)
           |    AS med_gap_s,
           |  CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN gap_s END) AS BIGINT)
           |    AS p90_gap_s,
           |  CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
           |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  val q195ActivityHeatmap = QueryDef(
    "q195_activity_heatmap",
    (s, d) => {
      // epoch day 0 = Thursday 1970-01-01 → ISO weekday (Mon=1) = (day+3)%7+1
      val day = expr(s"ts_ns DIV ${DayNs}")
      Tables.events(s, d)
        .select(((day + 3) % 7 + 1).as("iso_dow"),
          expr(s"(ts_ns % ${DayNs}) DIV ${DayNs / 24}").as("hour"),
          when(col("event_type") === "purchase",
            floor(col("value") * 10.0 + 0.5).cast(LongType)).otherwise(0L).as("rev"))
        .groupBy("iso_dow", "hour")
        .agg(count(lit(1)).as("n_events"), sum("rev").as("rev_x10"))
        .withColumn("total", sum("n_events").over(Window.partitionBy(lit(0))))
        .select(col("iso_dow"), col("hour"), col("n_events"), col("rev_x10"),
          expr("n_events * 1000000 DIV total").as("share_x1m"))
        .orderBy("iso_dow", "hour")
    },
    Some(s"""WITH c AS (
           |  SELECT (epoch_ns(ts) // ${DayNs} + 3) % 7 + 1 AS iso_dow,
           |    (epoch_ns(ts) % ${DayNs}) // ${DayNs / 24} AS hour,
           |    CASE WHEN event_type = 'purchase'
           |      THEN CAST(floor(value * 10.0 + 0.5) AS BIGINT) ELSE 0 END AS rev
           |  FROM events),
           |g AS (
           |  SELECT iso_dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
           |    CAST(SUM(rev) AS BIGINT) AS rev_x10
           |  FROM c GROUP BY 1, 2)
           |SELECT iso_dow, hour, n_events, rev_x10,
           |  CAST(n_events * 1000000 // SUM(n_events) OVER () AS BIGINT) AS share_x1m
           |FROM g ORDER BY iso_dow, hour""".stripMargin)
  )

  /** q230: seasonal-naive forecast backtest — per event type, compare
    * the 24-hour seasonal-naive forecast (ŷ_t = y_{t−24h}) against the
    * random-walk baseline (ŷ_t = y_{t−1h}) on hourly counts, the
    * MASE-style ratio every forecasting pipeline computes BEFORE
    * shipping a model: if a model cannot beat "same hour yesterday",
    * the pipeline ships the naive rule. Evaluation is restricted to
    * hours where BOTH references exist (one inner-join chain), so the
    * two error sums cover the identical point set and the ratio is a
    * like-for-like comparison; ratio < 1e6 means daily seasonality is
    * real (the seasonal lag beats the last-hour lag).
    *
    * Exactness: hourly buckets are integer epoch-hour floor divisions,
    * errors are |count−count| sums, the ratio a single positive
    * fixed-point floor division — hash-exact in both engines.
    *
    * Scale: one hash agg to hourly (type, hour) counts — metadata from
    * there (three self-equi-joins on the hour key over the bucket
    * table, never the event stream). */
  val q230ForecastBacktest = QueryDef(
    "q230_forecast_backtest",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_ns DIV 1000 DIV 3600000000").as("h"))
        .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val cur = hourly.select(col("event_type"), col("h"), col("c"))
      val l1 = hourly.select(col("event_type"), (col("h") + 1).as("h"),
        col("c").as("c1"))
      val l24 = hourly.select(col("event_type"), (col("h") + 24).as("h"),
        col("c").as("c24"))
      cur.join(l1, Seq("event_type", "h"))
        .join(l24, Seq("event_type", "h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("c") - col("c24"))).as("sae_seasonal"),
          sum(abs(col("c") - col("c1"))).as("sae_naive"))
        .select(col("event_type"), col("n_eval"), col("sae_seasonal"),
          col("sae_naive"),
          expr("sae_seasonal * 1000000 DIV sae_naive").as("mase_x1m"))
        .orderBy("event_type")
    },
    Some("""WITH hourly AS (
           |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |j AS (
           |  SELECT cur.event_type, cur.c, l1.c AS c1, l24.c AS c24
           |  FROM hourly cur
           |  JOIN hourly l1 ON l1.event_type = cur.event_type AND l1.h = cur.h - 1
           |  JOIN hourly l24 ON l24.event_type = cur.event_type AND l24.h = cur.h - 24)
           |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
           |  CAST(SUM(ABS(c - c24)) AS BIGINT) AS sae_seasonal,
           |  CAST(SUM(ABS(c - c1)) AS BIGINT) AS sae_naive,
           |  CAST(SUM(ABS(c - c24)) * 1000000 // SUM(ABS(c - c1)) AS BIGINT)
           |    AS mase_x1m
           |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q235: burstiness audit (Fano factor) — per event type, the
    * variance-to-mean ratio of hourly counts over the type's full
    * observed span (zero hours included via the span arithmetic, not
    * materialized): Fano ≈ 1 is Poisson arrivals, ≫ 1 is bursty
    * (campaign spikes, retry storms, bot bursts), ≪ 1 is throttled/
    * scheduled traffic. The shape-of-traffic companion to q206's
    * inter-arrival percentiles and q230's seasonality gate — the first
    * number a capacity planner asks for.
    *
    * Exactness: Fano×1e6 = (n·Σc² − (Σc)²)·1e6 DIV (n·Σc) — the
    * numerator is n²·Var, the denominator n²·mean, both pure integers
    * (no mean division ever happens); Σc² over materialized non-zero
    * hours is exactly Σ over all hours since zeros contribute zero.
    *
    * Scale: one hash agg to (type, hour) counts, one more to the
    * 5-row report. */
  val q235Burstiness = QueryDef(
    "q235_burstiness",
    (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_ns DIV 1000 DIV 3600000000").as("h"))
        .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg((max("h") - min("h") + 1).as("span_hours"),
          sum("c").as("n_events"),
          sum(expr("c * c")).as("sum_c2"),
          max("c").as("peak_hour"))
        .select(col("event_type"), col("span_hours"), col("n_events"),
          col("peak_hour"),
          expr("(span_hours * sum_c2 - n_events * n_events) * 1000000" +
            " DIV (span_hours * n_events)").as("fano_x1m"))
        .orderBy("event_type")
    },
    Some("""WITH hourly AS (
           |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type,
           |  CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS span_hours,
           |  CAST(SUM(c) AS BIGINT) AS n_events,
           |  CAST(MAX(c) AS BIGINT) AS peak_hour,
           |  CAST(((MAX(h) - MIN(h) + 1) * SUM(c * c) - SUM(c) * SUM(c)) * 1000000
           |    // ((MAX(h) - MIN(h) + 1) * SUM(c)) AS BIGINT) AS fano_x1m
           |FROM hourly GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q236: SCD2 temporal-integrity audit — per key, the overlap/gap
    * violations of a slowly-changing-dimension history: consecutive
    * versions must tile time exactly (valid_to = next valid_from, one
    * open tail). The audit every warehouse runs on its dimension
    * tables before trusting an as-of join (q168) against them: an
    * overlap makes point-in-time lookups ambiguous, a gap makes them
    * silently empty. Violations are PLANTED deterministically (every
    * version with event_id ≡ 0 mod 5 has its valid_to stretched +1h →
    * overlaps; ≡ 1 mod 5 shrunk −1h where room allows → gaps) so the
    * detector's counts are non-trivial and exactly predictable.
    *
    * Exactness: all µs integers; overlap/gap magnitudes are positive
    * differences of already-computed bounds.
    *
    * Scale: one user-keyed window pass over the (bounded) dimension
    * history — dimension tables are metadata next to facts. */
  val q236Scd2Integrity = QueryDef(
    "q236_scd2_integrity",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val hist = Tables.events(s, d)
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("ts_us"))
        .withColumn("next_from", lead(col("ts_us"), 1).over(w))
        .withColumn("valid_to",
          when(col("next_from").isNull, lit(-1L))
            .otherwise(col("next_from") +
              when(col("event_id") % 5 === 0, lit(3600000000L))
                .otherwise(when(col("event_id") % 5 === 1, lit(-3600000000L))
                  .otherwise(lit(0L)))))
      hist.filter(col("next_from").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_closed"),
          sum(when(col("valid_to") > col("next_from"), 1L).otherwise(0L))
            .as("n_overlaps"),
          sum(when(col("valid_to") < col("next_from") &&
            col("valid_to") > col("ts_us"), 1L).otherwise(0L)).as("n_gaps"),
          max(when(col("valid_to") > col("next_from"),
            col("valid_to") - col("next_from")).otherwise(0L)).as("max_overlap_us"))
        .orderBy("user_id")
    },
    Some("""WITH log AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts), event_id) AS next_from
           |  FROM events WHERE user_id < 30),
           |h AS (
           |  SELECT user_id, ts_us, next_from,
           |    next_from + CASE WHEN event_id % 5 = 0 THEN 3600000000
           |      WHEN event_id % 5 = 1 THEN -3600000000 ELSE 0 END AS valid_to
           |  FROM log WHERE next_from IS NOT NULL)
           |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_closed,
           |  CAST(SUM(CASE WHEN valid_to > next_from THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_overlaps,
           |  CAST(SUM(CASE WHEN valid_to < next_from AND valid_to > ts_us
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           |  CAST(MAX(CASE WHEN valid_to > next_from THEN valid_to - next_from
           |    ELSE 0 END) AS BIGINT) AS max_overlap_us
           |FROM h GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q241: daily-activity streaks — per user, the LONGEST run of
    * consecutive active days, its start, and the number of distinct
    * streaks: the engagement metric ("7-day streak!") product teams
    * ship, and the day-granular cousin of q32's sessions (minutes) and
    * q89's retention (cohort weeks). The classic gaps-and-islands
    * rank-difference trick: over a user's DISTINCT active days,
    * `day − row_number()` is constant exactly within a consecutive
    * run — one group-by on that constant recovers every streak with no
    * self-join.
    *
    * Exactness: days are integer epoch-day floor divisions; streak
    * ranking ties break on earliest start.
    *
    * Scale: distinct user-days (one hash agg) → one user-partitioned
    * window → per-(user, island) agg → per-user struct-max. Every
    * stage is keyed by user; the window input is active DAYS, not
    * events. */
  val q241Streaks = QueryDef(
    "q241_streaks",
    (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), expr("ts_ns DIV 1000 DIV 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy(col("day").asc)
      val islands = days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_streaks"), sum("len").as("active_days"),
          max(struct(col("len"), (-col("start_day")).as("nsd"))).as("best"))
        .select(col("user_id"), col("n_streaks"), col("active_days"),
          col("best.len").as("longest"), (-col("best.nsd")).as("longest_start"))
        .orderBy("user_id")
    },
    Some("""WITH days AS (
           |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           |  FROM events),
           |g AS (
           |  SELECT user_id, day,
           |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
           |  FROM days),
           |islands AS (
           |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
           |    CAST(MIN(day) AS BIGINT) AS start_day
           |  FROM g GROUP BY 1, 2),
           |r AS (
           |  SELECT user_id, len, start_day, row_number() OVER (
           |    PARTITION BY user_id ORDER BY len DESC, start_day ASC) AS rk
           |  FROM islands)
           |SELECT i.user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
           |  CAST(SUM(i.len) AS BIGINT) AS active_days,
           |  CAST(MAX(CASE WHEN r.rk = 1 THEN r.len END) AS BIGINT) AS longest,
           |  CAST(MAX(CASE WHEN r.rk = 1 THEN r.start_day END) AS BIGINT)
           |    AS longest_start
           |FROM islands i JOIN r ON r.user_id = i.user_id
           |  AND r.len = i.len AND r.start_day = i.start_day
           |GROUP BY i.user_id ORDER BY i.user_id""".stripMargin)
  )

  /** q242: DAU/WAU stickiness — per day, the distinct daily actives,
    * the distinct trailing-7-day actives, and their ×1e6 ratio: THE
    * product-health headline (a stickiness near 1e6/7 means users show
    * up one day a week; near 1e6 means daily habits). Built next to
    * q241's streaks and q137's trailing distinct — this is the
    * calendar-day, population-level variant.
    *
    * Trailing-window distinct does not decompose (a user active twice
    * in the window counts once), so the WAU side materializes the
    * (window-day, user) membership by exploding each ACTIVE user-day to
    * the ≤7 window days it serves, then distinct-counts — the exact
    * standard rewrite; the explode factor is the window length over
    * user-DAYS (already distinct), never events. Days before a full
    * window are reported with their partial-window WAU (the honest
    * ramp-in, same on both engines).
    *
    * Exactness: integer epoch days, one positive floor division. */
  val q242Stickiness = QueryDef(
    "q242_stickiness",
    (s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("ts_ns DIV 1000 DIV 86400000000").as("day"))
        .distinct().localCheckpoint()
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy("day").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 DIV wau").as("stickiness_x1m"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
           |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           |  FROM events),
           |dau AS (
           |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
           |  FROM ud GROUP BY 1),
           |wau AS (
           |  SELECT w.day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM (
           |    SELECT DISTINCT user_id, ud.day + o.o AS day
           |    FROM ud, range(0, 7) o(o)) w
           |  GROUP BY 1)
           |SELECT day, dau, wau,
           |  CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_x1m
           |FROM dau JOIN wau USING (day)
           |ORDER BY day""".stripMargin)
  )

  /** q256: POSITION-BASED (U-shaped) multi-touch attribution — the
    * model marketers actually bill on, where q115's last-touch is the
    * primitive: every purchase splits one million credit micro-units
    * over ALL its preceding clicks, 40% to the first touch, 40% to the
    * last, 20% shared by the middles. The part worth engineering is
    * EXACT CONSERVATION under integer arithmetic: the middle pool
    * divides with truncation, so the query assigns the division
    * leftover (and, for n = 2, the whole undividable pool) to the FIRST
    * click — a stated, deterministic rounding policy instead of float
    * drift, making Σ credits ≡ 1e6 per purchase an invariant the hash
    * verifies on both engines. Tiebreaks are total ((ts_us, event_id)
    * lexicographic), matching q115's ordering discipline.
    *
    * Plan shape at 100 TB: the click×purchase pairing is USER-KEYED
    * (one exchange), and per-user fan-out is bounded by per-user
    * activity (~60 events at bench scale → ≤ ~900 pairs); a pathological
    * mega-user is ordinary key skew — the q84 salting / AQE path. The
    * per-purchase rank/count windows partition by purchase id, which is
    * finer than user — no hot partitions. */
  val q256PositionAttribution = QueryDef(
    "q256_position_attribution",
    (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("c_us"), col("event_id").as("c_id"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_us"), col("event_id").as("p_id"))
      val pairs = clicks.join(purch, Seq("user_id"))
        .filter(col("c_us") < col("p_us") ||
          (col("c_us") === col("p_us") && col("c_id") < col("p_id")))
      val wR = Window.partitionBy("p_id").orderBy("c_us", "c_id")
      val wN = Window.partitionBy("p_id")
      pairs
        .withColumn("rn", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("share_x1m",
          when(col("n") === 1, lit(1000000L))
            .when(col("rn") === 1 && col("n") === 2, lit(600000L))
            .when(col("rn") === 1,
              lit(400000L) + (lit(200000L) - expr("200000 DIV (n - 2)") * (col("n") - 2)))
            .when(col("rn") === col("n"), lit(400000L))
            .otherwise(expr("200000 DIV (n - 2)")))
        .groupBy("c_id")
        .agg(count(lit(1)).as("n_purchases"), sum("share_x1m").as("credit_x1m"))
        .orderBy("c_id")
    },
    Some("""WITH e AS (
           |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
           |clicks AS (
           |  SELECT user_id, ts_us AS c_us, event_id AS c_id FROM e
           |  WHERE event_type = 'click'),
           |purch AS (
           |  SELECT user_id, ts_us AS p_us, event_id AS p_id FROM e
           |  WHERE event_type = 'purchase'),
           |pairs AS (
           |  SELECT c_id, p_id,
           |    ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY p_id) AS n
           |  FROM clicks JOIN purch USING (user_id)
           |  WHERE c_us < p_us OR (c_us = p_us AND c_id < p_id))
           |SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           |  CAST(SUM(CASE
           |    WHEN n = 1 THEN 1000000
           |    WHEN rn = 1 AND n = 2 THEN 600000
           |    WHEN rn = 1 THEN 400000 + (200000 - (200000 // (n - 2)) * (n - 2))
           |    WHEN rn = n THEN 400000
           |    ELSE 200000 // (n - 2) END) AS BIGINT) AS credit_x1m
           |FROM pairs GROUP BY c_id ORDER BY c_id""".stripMargin)
  )

  /** q270: WEEKLY RETENTION LEDGER via bitmap algebra — q89's cohort
    * question asked week-over-week, computed the way a serving layer
    * would at 100 TB: ONE pass over the facts builds a 32 KB user
    * bitmap per week ([[graft.functions.BitmapBuild]]), and every
    * retention figure (retained / churned / new users between
    * consecutive weeks) is then arithmetic over the aggregated bitmaps
    * — `popcount(bm_w AND bm_{w+1})` — in a metadata-sized self-join of
    * ~5 weekly rows. The fact-table alternative is a distinct-pair
    * self-join per week pair (re-shuffling users once per comparison);
    * the bitmap ledger never re-touches events, and the same frames
    * answer ANY cross-week question (skip-week retention,
    * resurrection) without another scan. Exact, not estimated — DuckDB
    * rebuilds the figures from DISTINCT + self-join and the hashes
    * must match. */
  val q270BitmapRetention = QueryDef(
    "q270_bitmap_retention",
    (s, d) => {
      import graft.functions.GraftFunctions._
      val weekly = Tables.events(s, d)
        .select(expr("(ts_ns DIV 1000) DIV 604800000000").as("wk"), col("user_id"))
        .groupBy("wk")
        .agg(bitmapBuild(col("user_id"), lit(1 << 18)).as("bm"))
      val nxt = weekly.select((col("wk") - 1).as("wk"), col("bm").as("bm_next"))
      weekly.join(nxt, Seq("wk"))
        .select(col("wk"),
          bitmapCount(col("bm")).as("n_active"),
          bitmapCount(col("bm_next")).as("n_next"),
          bitmapCount(bitmapAnd(col("bm"), col("bm_next"))).as("retained"),
          (bitmapCount(col("bm")) -
            bitmapCount(bitmapAnd(col("bm"), col("bm_next")))).as("churned"),
          (bitmapCount(col("bm_next")) -
            bitmapCount(bitmapAnd(col("bm"), col("bm_next")))).as("new_users"))
        .orderBy("wk")
    },
    Some("""WITH wu AS (
           |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS wk, user_id
           |  FROM events),
           |n AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_active
           |      FROM wu GROUP BY wk),
           |r AS (SELECT a.wk AS wk, CAST(COUNT(*) AS BIGINT) AS retained
           |      FROM wu a JOIN wu b
           |        ON b.user_id = a.user_id AND b.wk = a.wk + 1
           |      GROUP BY a.wk)
           |SELECT n.wk AS wk, n.n_active,
           |  nb.n_active AS n_next,
           |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained,
           |  CAST(n.n_active - COALESCE(r.retained, 0) AS BIGINT) AS churned,
           |  CAST(nb.n_active - COALESCE(r.retained, 0) AS BIGINT) AS new_users
           |FROM n JOIN n nb ON nb.wk = n.wk + 1
           |LEFT JOIN r ON r.wk = n.wk
           |ORDER BY wk""".stripMargin)
  )

  /** q276: CHURN MEMBERS via bitmap set difference — q270 counts who
    * churned week-over-week; this names them: `bitmap_positions(
    * bitmap_and_not(bm_w, bm_w+1))` explodes the exact PURCHASER ids active
    * in week w but absent from w+1 (the lapsed-buyer re-engagement feed), still off the SAME per-week 32 KB
    * frames (one fact pass; the members query is metadata-sized —
    * output bounded by popcount, not domain). The list-the-members step
    * is what turns the ledger into an actionable re-engagement feed,
    * and the fact-table alternative is an anti-join PER WEEK PAIR.
    * DuckDB rebuilds the member set relationally (EXISTS/NOT EXISTS) —
    * ids must match one-for-one, not just in count. */
  val q276ChurnMembers = QueryDef(
    "q276_churn_members",
    (s, d) => {
      import graft.functions.GraftFunctions._
      val weekly = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(expr("(ts_ns DIV 1000) DIV 604800000000").as("wk"), col("user_id"))
        .groupBy("wk")
        .agg(bitmapBuild(col("user_id"), lit(1 << 18)).as("bm"))
      val nxt = weekly.select((col("wk") - 1).as("wk"), col("bm").as("bm_next"))
      weekly.join(nxt, Seq("wk"))
        .select(col("wk"),
          explode(bitmapPositions(bitmapAndNot(col("bm"), col("bm_next"))))
            .as("user_id"))
        .orderBy("wk", "user_id")
    },
    Some("""WITH wu AS (
           |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS wk, user_id
           |  FROM events WHERE event_type = 'purchase')
           |SELECT a.wk, a.user_id FROM wu a
           |WHERE EXISTS (SELECT 1 FROM wu n WHERE n.wk = a.wk + 1)
           |  AND NOT EXISTS (SELECT 1 FROM wu b
           |    WHERE b.user_id = a.user_id AND b.wk = a.wk + 1)
           |ORDER BY wk, user_id""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q30Tumbling, q31Sliding, q32Session, q33JsonProps,
    q60ResampleFfill, q88Funnel, q89Retention, q100EwmaAnomaly, q103Contingency,
    q109SessionPaths, q115Attribution, q119LatestState, q122Transitions,
    q125PeakConcurrency, q133TimeWeightedAvg, q137TrailingDistinct, q145AbTest,
    q146Scd2History, q152DecayedEngagement, q159Cuped, q168Scd2Enrich,
    q171UShapedAttribution, q177Seasonality, q178WowGrowth, q179CohortLtv,
    q181GiniConcentration, q183ClampedBalance, q185HazardTable,
    q188IntervalCoverage, q191ConversionLatency, q195ActivityHeatmap,
    q196Velocity, q198RfmSegments, q203FreshnessAudit, q206InterarrivalGaps,
    q230ForecastBacktest, q235Burstiness, q236Scd2Integrity, q241Streaks,
    q242Stickiness, q256PositionAttribution, q270BitmapRetention,
    q276ChurnMembers)
}
