package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QueryDef, SessionFrames, Tables}

/** Data-mining / data-profiling operators: association rules over order
  * baskets, robust (median/MAD) outlier detection, and single-pass table
  * profiling — the exploratory layer a warehouse runs before any model
  * sees the data. All scores use the repo's fixed-point integer
  * discipline (no float log/division reaches the oracle hash). */
object MiningOps {

  /** Basket frame shared by the co-occurrence miners (q105/q172/q184):
    * one lineitem pass → (okey, SORTED distinct parts array), eagerly
    * materialized. `sort_array(collect_set(part))` per order ≡ DISTINCT
    * (okey, part) — and generating combinations by in-row explodes over
    * the array replaces the okey self-joins entirely: the r12 before-plan
    * of q172 re-derived the `items` distinct lineage 18 times (18 parquet
    * scans, 44 plan-text Exchanges) because each self-join reference
    * duplicates the subtree; the basket array is built once, checkpointed,
    * and every pair/triple enumeration is a NARROW Generate over it
    * (guide §2.4: remove shuffles outright). Candidate space is unchanged
    * (Σ basket^k within the order — a-priori's point). */
  /** r13: a [[graft.SessionFrames]] frame instead of per-query
    * localCheckpoint'd: q105/q172/q184 each re-built the identical
    * basket materialization every run. */
  private def orderBaskets(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, ("orderBaskets", d)) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .groupBy("okey").agg(sort_array(collect_set(col("part"))).as("parts"))
    }

  /** Index-ordered 2-combinations of each basket: elements are distinct
    * and ascending, so position order ≡ `p1 < p2`. Narrow (no exchange). */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
      .select(col("p1"), explode(expr("slice(parts, i + 2, size(parts))")).as("p2"))

  /** q105: market-basket association rules — frequent part PAIRS within
    * an order plus confidence and lift, the classic co-occurrence mining
    * op (and the same shape as word co-occurrence / PMI over token
    * windows). Pair generation explodes 2-combinations WITHIN each
    * basket array — the candidate space is Σ basket² (baskets average ~7
    * lines), never catalog², which is the a-priori observation that makes
    * basket mining tractable. Confidence = sup(ab)/sup(a) and lift =
    * sup(ab)·N/(sup(a)·sup(b)) in ×1e6 fixed-point with the denominator
    * pre-divided (the q103 overflow-safe shape).
    *
    * Plan shape at 100 TB: ONE exchange keyed by order builds the basket
    * arrays ([[orderBaskets]]); pair enumeration is a narrow Generate
    * over them (no self-join shuffle at all), feeding one (p1, p2) hash
    * agg; per-part supports are a part-keyed agg far smaller than the
    * pair stream, AQE-broadcast onto it. Heavy-hitter parts (the retail
    * "bestseller skew") fatten baskets multiplicatively — the stated
    * mitigation is the same df-cap policy as q104: cap basket width or
    * drop ubiquitous items before pairing. */
  val q105BasketRules = QueryDef(
    "q105_basket_rules",
    (s, d) => {
      val baskets = orderBaskets(s, d)
      val n = baskets.select(count(lit(1)).as("n_orders"))
      val sup = baskets.select(explode(col("parts")).as("part"))
        .groupBy("part").agg(count(lit(1)).as("sup"))
      val pairs = basketPairs(baskets)
        .groupBy("p1", "p2").agg(count(lit(1)).as("sup_ab"))
        .filter(col("sup_ab") >= 2)
      pairs
        .join(sup.select(col("part").as("p1"), col("sup").as("sup_a")), Seq("p1"))
        .join(sup.select(col("part").as("p2"), col("sup").as("sup_b")), Seq("p2"))
        .crossJoin(broadcast(n))
        .withColumn("conf_x1m", expr("sup_ab * 1000000 DIV sup_a"))
        .withColumn("lift_x1m",
          expr("sup_ab * 1000000 DIV greatest(sup_a * sup_b DIV n_orders, 1)"))
        .select("p1", "p2", "sup_ab", "sup_a", "sup_b", "n_orders",
          "conf_x1m", "lift_x1m")
        .orderBy(col("sup_ab").desc, col("p1").asc, col("p2").asc)
        .limit(50)
    },
    Some("""WITH items AS (
           |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
           |n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
           |sup AS (SELECT part, COUNT(*) AS sup FROM items GROUP BY part),
           |pairs AS (
           |  SELECT a.part AS p1, b.part AS p2, COUNT(*) AS sup_ab
           |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
           |SELECT p1, p2, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b, n_orders,
           |  sup_ab * 1000000 // sa.sup AS conf_x1m,
           |  sup_ab * 1000000 // greatest(sa.sup * sb.sup // n_orders, 1) AS lift_x1m
           |FROM pairs
           |JOIN sup sa ON sa.part = p1
           |JOIN sup sb ON sb.part = p2
           |CROSS JOIN n
           |ORDER BY sup_ab DESC, p1, p2 LIMIT 50""".stripMargin)
  )

  /** q106: robust outlier detection — per event type, the median/MAD
    * fence (the robust alternative to mean±3σ: one wild value cannot
    * drag the fence, unlike q100's moving average). Both medians are
    * EXACT percentiles kept integer-exact by scale-doubling: the median
    * of 2v is a+b for even counts (an integer, so the engines' float
    * interpolation is exactly representable and casts back losslessly —
    * `med2` is the median in 2× units, `mad8` the MAD in 8× units), and
    * the 4.5×MAD fence becomes the pure-integer comparison
    * 4·dev4 > 9·mad8.
    *
    * Plan shape at 100 TB: exact medians are sort-based aggs — two
    * passes over events by construction (median, then deviation
    * median); each pass is one type-keyed agg, and the per-type medians
    * rejoin as metadata-sized broadcasts. The approximate single-pass
    * alternative (percentile_approx) is the documented trade when two
    * passes are too dear. */
  val q106MadOutliers = QueryDef(
    "q106_mad_outliers",
    (s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
      val med = base.groupBy("event_type")
        .agg(expr("CAST(percentile(v * 2, 0.5) AS BIGINT)").as("med2"))
      val dev = base.join(broadcast(med), Seq("event_type"))
        .withColumn("dev4", abs(col("v") * 4 - col("med2") * 2))
      val mad = dev.groupBy("event_type")
        .agg(expr("CAST(percentile(dev4 * 2, 0.5) AS BIGINT)").as("mad8"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("med2")).as("med2"), max(col("mad8")).as("mad8"),
          sum(when(col("dev4") * 4 > col("mad8") * 9, 1L).otherwise(0L))
            .cast(LongType).as("n_outliers"))
        .withColumn("outlier_ppm", expr("n_outliers * 1000000 DIV n"))
        .orderBy("event_type")
    },
    Some("""WITH base AS (
           |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
           |  FROM events),
           |med AS (
           |  SELECT event_type, CAST(quantile_cont(v * 2, 0.5) AS BIGINT) AS med2
           |  FROM base GROUP BY event_type),
           |dev AS (
           |  SELECT base.event_type, abs(v * 4 - med2 * 2) AS dev4, med2
           |  FROM base JOIN med USING (event_type)),
           |mad AS (
           |  SELECT event_type, CAST(quantile_cont(dev4 * 2, 0.5) AS BIGINT) AS mad8
           |  FROM dev GROUP BY event_type)
           |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(MAX(med2) AS BIGINT) AS med2, CAST(MAX(mad8) AS BIGINT) AS mad8,
           |  CAST(SUM(CASE WHEN dev4 * 4 > mad8 * 9 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_outliers,
           |  CAST(SUM(CASE WHEN dev4 * 4 > mad8 * 9 THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // COUNT(*) AS outlier_ppm
           |FROM dev JOIN mad USING (event_type)
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q107: single-pass table profiler — per-column row/null/distinct
    * counts and min/max, the schema-drift / data-quality report every
    * ingestion pipeline emits before accepting a batch. Doubles are
    * profiled through DECIMAL(18,2) and timestamps through DATE so the
    * stringified extrema render identically in both engines (raw
    * double→string formatting differs: Java "1.0E7" vs DuckDB "10000000.0").
    *
    * Plan shape at 100 TB: one UNION branch per column, each a scan
    * PRUNED to that single column feeding a two-phase (partial-distinct,
    * merge) hash agg. The branches together read the same bytes as one
    * full-width scan — columnar parquet prices scans per column — but
    * dodge the alternative's killer: 6 count-distincts in ONE agg make
    * Catalyst Expand every row 7×, turning a 100 TB scan into 700 TB of
    * agg input (the r4 shape; measured 3.9 s vs 0.7 s warm at sf0.1). Each
    * branch's shuffle carries only that column's distinct values. */
  val q107TableProfile = QueryDef(
    "q107_table_profile",
    (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_price2", col("o_totalprice").cast(DecimalType(18, 2)))
        .withColumn("o_date", col("o_orderdate").cast(DateType))
      val cols = Seq(
        "o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
        "o_orderstatus" -> "o_orderstatus", "o_totalprice" -> "o_price2",
        "o_orderdate" -> "o_date", "o_orderpriority" -> "o_orderpriority")
      cols.map { case (c, src) =>
        o.select(col(src))
          .agg(count(lit(1)).as("n_rows"),
            count(col(src)).as("n_nonnull"),
            countDistinct(col(src)).as("n_distinct"),
            min(col(src)).cast(StringType).as("min_str"),
            max(col(src)).cast(StringType).as("max_str"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_str"), col("max_str"))
      }.reduce(_ unionByName _)
        .orderBy("column_name")
    },
    Some {
      val cols = Seq(
        "o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
        "o_orderstatus" -> "o_orderstatus",
        "o_totalprice" -> "CAST(o_totalprice AS DECIMAL(18,2))",
        "o_orderdate" -> "CAST(o_orderdate AS DATE)",
        "o_orderpriority" -> "o_orderpriority")
      val aggSel = cols.map { case (c, src) =>
        s"""COUNT($src) AS nn_$c, COUNT(DISTINCT $src) AS nd_$c,
           |    CAST(MIN($src) AS VARCHAR) AS mn_$c, CAST(MAX($src) AS VARCHAR) AS mx_$c"""
          .stripMargin
      }.mkString(",\n  ")
      val branches = cols.map { case (c, _) =>
        s"SELECT '$c' AS column_name, n_rows, nn_$c AS n_nonnull, nd_$c AS n_distinct, " +
          s"mn_$c AS min_str, mx_$c AS max_str FROM a"
      }.mkString("\nUNION ALL\n")
      s"""WITH a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  $aggSel
         |  FROM orders)
         |$branches
         |ORDER BY column_name""".stripMargin
    }
  )

  /** q110: rank-based feature normalization — each document's length
    * mapped to its PER-DOMAIN percentile rank ×1e6 (the quantile
    * transform: scale-free, outlier-immune, the feature encoding that
    * feeds curriculum samplers and quality thresholds that must mean
    * the same thing in a domain of tweets and a domain of books).
    * rank/(n−1) in pure integers; doc_id tiebreak makes equal lengths
    * deterministic.
    *
    * Plan shape at 100 TB: one window partitioned by source (the same
    * domain-sharded shape as q85's selection) plus a count over the
    * same partitioning — no global sort, no second scan; parallelism
    * scales with domains × AQE's partition splitting. */
  val q110PercentileNorm = QueryDef(
    "q110_percentile_norm",
    (s, d) => {
      val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val wn = Window.partitionBy("source")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(wn).cast(LongType))
        .withColumn("pct_x1m", expr("(rk - 1) * 1000000 DIV greatest(n - 1, 1)"))
        .select("doc_id", "source", "n_chars", "rk", "n", "pct_x1m")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars,
           |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           |    AS BIGINT) AS rk,
           |  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n,
           |  (CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           |    AS BIGINT) - 1) * 1000000
           |    // greatest(CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) - 1, 1)
           |    AS pct_x1m
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** q114: per-group top-k via the mergeable [[graft.api.Aggregators.TopK]]
    * aggregate — top-3 longest documents per (source, lang). The oracle is
    * the window formulation (`row_number() <= 3`), which is the
    * equivalence worth proving: same answer, different physical plan.
    *
    * Plan shape at 100 TB: the aggregator runs as partial+final hash agg —
    * at most k rows per group per input partition cross the exchange,
    * versus the window plan shuffling and sorting the ENTIRE corpus by
    * (source, lang). `posexplode` recovers the rank from the buffer's
    * sorted order; no sort anywhere except the final presentation
    * orderBy. */
  val q114TopkPerGroup = QueryDef(
    "q114_topk_per_group",
    (s, d) => {
      val topk = udaf(new graft.api.Aggregators.TopK(3))
      Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(topk(col("n_chars"), col("doc_id")).as("top"))
        .select(col("source"), col("lang"), posexplode(col("top")))
        .select(col("source"), col("lang"),
          col("col._2").as("doc_id"), col("col._1").as("n_chars"),
          (col("pos") + 1).cast(LongType).as("rn"))
        .orderBy("source", "lang", "rn")
    },
    Some("""WITH ranked AS (
           |  SELECT source, lang, doc_id, n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY source, lang
           |      ORDER BY n_chars DESC, doc_id ASC) AS rn
           |  FROM documents)
           |SELECT source, lang, doc_id, n_chars, CAST(rn AS BIGINT) AS rn
           |FROM ranked WHERE rn <= 3 ORDER BY source, lang, rn""".stripMargin)
  )

  /** q126: per-group ordinary least squares — each customer's spending
    * trend (slope of order total over time) from the closed-form normal
    * equations, computed ENTIRELY from five mergeable sums (n, Σx, Σy,
    * Σx², Σxy): slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). Grouped
    * regression as ONE hash aggregate — no per-group iteration, no ML
    * library, map-side partials merge associatively, so a million groups
    * cost the same shuffle as a count.
    *
    * Exactness discipline: x = days since the customer's first order
    * (window min, small integers — centering also keeps nΣxy·1000 far
    * inside int64); y = exact cents via DECIMAL(18,2)·100; the slope is
    * emitted ×1000 under integer division (Spark `DIV` ≡ DuckDB `//`,
    * both truncate toward zero). Groups need ≥2 distinct days or the
    * denominator is 0 (degenerate fit) — filtered on COUNT(DISTINCT x). */
  val q126GroupOls = QueryDef(
    "q126_group_ols",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_custkey"),
        datediff(col("o_orderdate").cast(DateType), lit("1992-01-01").cast(DateType))
          .cast(LongType).as("day"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      val c = o.withColumn("x",
        col("day") - min("day").over(Window.partitionBy("o_custkey")))
      c.groupBy("o_custkey")
        .agg(
          count(lit(1)).cast(LongType).as("n"),
          countDistinct(col("x")).cast(LongType).as("nx"),
          sum("x").cast(LongType).as("sx"),
          sum("cents").cast(LongType).as("sy"),
          sum(col("x") * col("x")).cast(LongType).as("sxx"),
          sum(col("x") * col("cents")).cast(LongType).as("sxy"),
          max("x").cast(LongType).as("span_days"))
        .filter(col("nx") >= 2)
        .select(col("o_custkey"), col("n").as("n_orders"), col("span_days"),
          expr("(n * sxy - sx * sy) * 1000 DIV (n * sxx - sx * sx)").as("slope_x1k"),
          expr("sy DIV n").as("mean_cents"))
        .orderBy("o_custkey")
    },
    Some("""WITH o AS (
           |  SELECT o_custkey,
           |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
           |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |  FROM orders),
           |c AS (
           |  SELECT o_custkey, day - MIN(day) OVER (PARTITION BY o_custkey) AS x, cents
           |  FROM o),
           |agg AS (
           |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(COUNT(DISTINCT x) AS BIGINT) AS nx,
           |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(cents) AS BIGINT) AS sy,
           |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * cents) AS BIGINT) AS sxy,
           |    CAST(MAX(x) AS BIGINT) AS span_days
           |  FROM c GROUP BY o_custkey)
           |SELECT o_custkey, n AS n_orders, span_days,
           |  (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) AS slope_x1k,
           |  sy // n AS mean_cents
           |FROM agg WHERE nx >= 2 ORDER BY o_custkey""".stripMargin)
  )

  /** q127: offline change-point detection — for each active user, the day
    * where their event-rate shifted most, by the max-CUSUM statistic:
    * with P_t the prefix sum of daily counts, T the total and N the number
    * of active days, G_t = |N·P_t − t·T| is (N× scaled) the gap between
    * the observed prefix and a perfectly uniform rate; the argmax day is
    * the binary-segmentation split point. Pure integers — no mean, no
    * variance, no float — so the oracle hash is exact.
    *
    * Scale shape: one hash agg to daily counts (the corpus shrinks to
    * user×day), then two user-partitioned window passes (prefix sum +
    * argmax) over that reduced frame. Everything is keyed by user_id;
    * parallelism scales with users, and the window state per user is the
    * day count, not the event count. Ties (equal G) resolve to the
    * earliest day in both engines. */
  val q127ChangePoint = QueryDef(
    "q127_change_point",
    (s, d) => {
      val daily = Tables.events(s, d)
        .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).cast(LongType).as("c"))
      val wSeq = Window.partitionBy("user_id").orderBy("day")
      val wAll = Window.partitionBy("user_id")
      val g = daily
        .withColumn("p", sum("c").over(wSeq).cast(LongType))
        .withColumn("t", row_number().over(wSeq).cast(LongType))
        .withColumn("total", sum("c").over(wAll).cast(LongType))
        .withColumn("n_days", count(lit(1)).over(wAll).cast(LongType))
        .withColumn("g", abs(col("n_days") * col("p") - col("t") * col("total")))
      g.filter(col("n_days") >= 5)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("g").desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_days"), col("day").as("cp_day"), col("g").as("g_max"))
        .orderBy("user_id")
    },
    Some("""WITH daily AS (
           |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |g AS (
           |  SELECT user_id, day,
           |    CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS p,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS t,
           |    CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS total,
           |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days
           |  FROM daily),
           |scored AS (
           |  SELECT user_id, n_days, day, abs(n_days * p - t * total) AS g,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |      ORDER BY abs(n_days * p - t * total) DESC, day ASC) AS rn
           |  FROM g WHERE n_days >= 5)
           |SELECT user_id, n_days, day AS cp_day, g AS g_max
           |FROM scored WHERE rn = 1 ORDER BY user_id""".stripMargin)
  )

  /** q131: equi-depth (quantile-bucket) histogram of l_extendedprice —
    * the statistic a range partitioner / sort-merge planner computes to
    * pick split boundaries (Spark's RangePartitioner samples it;
    * `repartitionByRange` consumes it). 10 buckets with equal row counts
    * ±1; per bucket: row count, min and max value — the exact form, via a
    * global ordinal: bucket = (rn−1)·10 div n. Total order (value, okey,
    * linenumber) makes the assignment deterministic in both engines, and
    * all values flow through DECIMAL(18,2)→DOUBLE so the rendered
    * extrema agree bit-for-bit.
    *
    * The global row_number is inherent to the exact statistic (same class
    * as q117's sorted-layout ordinal — constant-partitioned, documented);
    * the production path at 100 TB is RangePartitioner's SAMPLED
    * boundaries — this query is the exact ground truth that validates
    * such a sampler. */
  val q131EquidepthHist = QueryDef(
    "q131_equidepth_hist",
    (s, d) => {
      val t = Tables.lineitem(s, d)
        .select(col("l_orderkey").cast(LongType).as("okey"), col("l_linenumber"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("v"))
      val w = Window.partitionBy(lit(0))
        .orderBy(col("v").asc, col("okey").asc, col("l_linenumber").asc)
      t.withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(0))))
        .withColumn("bucket", expr("(rn - 1) * 10 DIV n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("v")).cast(DoubleType).as("lo"),
          max(col("v")).cast(DoubleType).as("hi"))
        .orderBy("bucket")
    },
    Some("""WITH t AS (
           |  SELECT CAST(l_orderkey AS BIGINT) AS okey, l_linenumber,
           |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           |  FROM lineitem),
           |r AS (
           |  SELECT v,
           |    ROW_NUMBER() OVER (ORDER BY v, okey, l_linenumber) AS rn,
           |    COUNT(*) OVER () AS n
           |  FROM t)
           |SELECT (rn - 1) * 10 // n AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi
           |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)
  )

  /** q141: k-anonymity generalization ladder (k=5) over the customer
    * quasi-identifiers (mktsegment, nation, account-balance bucket) — the
    * privacy-release audit a pipeline runs before publishing per-user
    * aggregates. Each record is assigned the FIRST rung of the
    * generalization ladder at which its equivalence class reaches k
    * members: L0 = (segment, nation, balance-bucket), L1 = (segment,
    * nation), L2 = (segment,), L3 = fully suppressed. The report counts
    * records and distinct classes per rung.
    *
    * Balance buckets use the repo's fixed-point discipline: cents are
    * SHIFTED positive before the integer divide because Spark's DIV
    * truncates toward zero while DuckDB's // floors — they agree only on
    * non-negative operands (same trap as the q103 fixed-point notes).
    *
    * Plan shape at 100 TB: the three class-size frames are aggregates
    * (bounded by the QI cardinality, tiny vs the record stream) broadcast
    * back onto one record scan; no record-keyed shuffle at all. */
  val q141KAnonymity = QueryDef(
    "q141_k_anonymity",
    (s, d) => {
      val K = 5
      val c = Tables.customer(s, d).select(
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast(LongType).as("nat"),
        expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 10000000) DIV 100000").as("bb"))
      val g0 = c.groupBy("seg", "nat", "bb").agg(count(lit(1)).as("n0"))
      val g1 = c.groupBy("seg", "nat").agg(count(lit(1)).as("n1"))
      val g2 = c.groupBy("seg").agg(count(lit(1)).as("n2"))
      c.join(broadcast(g0), Seq("seg", "nat", "bb"))
        .join(broadcast(g1), Seq("seg", "nat"))
        .join(broadcast(g2), Seq("seg"))
        .withColumn("level",
          when(col("n0") >= K, 0L).when(col("n1") >= K, 1L)
            .when(col("n2") >= K, 2L).otherwise(3L))
        .withColumn("gkey",
          when(col("level") === 0, concat_ws("|", col("seg"), col("nat"), col("bb")))
            .when(col("level") === 1, concat_ws("|", col("seg"), col("nat")))
            .when(col("level") === 2, col("seg"))
            .otherwise(lit("*")))
        .groupBy("level")
        .agg(count(lit(1)).as("n_records"), countDistinct(col("gkey")).as("n_classes"))
        .orderBy("level")
    },
    Some("""WITH c AS (
           |  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
           |    (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 10000000) // 100000 AS bb
           |  FROM customer),
           |g0 AS (SELECT seg, nat, bb, count(*) AS n0 FROM c GROUP BY 1, 2, 3),
           |g1 AS (SELECT seg, nat, count(*) AS n1 FROM c GROUP BY 1, 2),
           |g2 AS (SELECT seg, count(*) AS n2 FROM c GROUP BY 1),
           |lv AS (
           |  SELECT c.seg, c.nat, c.bb,
           |    CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
           |         WHEN n2 >= 5 THEN 2 ELSE 3 END AS level
           |  FROM c JOIN g0 USING (seg, nat, bb) JOIN g1 USING (seg, nat)
           |    JOIN g2 USING (seg)),
           |keyed AS (
           |  SELECT CAST(level AS BIGINT) AS level,
           |    CASE level WHEN 0 THEN seg || '|' || nat || '|' || bb
           |               WHEN 1 THEN seg || '|' || nat
           |               WHEN 2 THEN seg ELSE '*' END AS gkey
           |  FROM lv)
           |SELECT level, count(*) AS n_records,
           |  count(DISTINCT gkey) AS n_classes
           |FROM keyed GROUP BY level ORDER BY level""".stripMargin)
  )

  /** Histogram bin width (in 1e-6 value units) for q147's narrowing. */
  val MedianBinWidth = 1000000L

  /** q147: EXACT median per event type WITHOUT a global sort — the
    * histogram-narrowing two-pass that replaces `percentile`'s
    * sort-based aggregation at scale (q106 documents that trade; this
    * is the scale path made concrete). Pass 1: one hash agg builds a
    * fixed-width histogram per type (bin count independent of data
    * size) and a metadata window locates the bin holding the k-th
    * smallest (k = (n+1) div 2, the lower median — pure integer) plus
    * how many values precede that bin. Pass 2 rescans ONLY the target
    * bin's values (a broadcast semi-filter at the scan) and picks the
    * (k - preceding)-th smallest inside it with a per-type window over
    * that small residual stream (rank ties on equal v are harmless: only
    * the value is emitted). The answer is bit-exact the naive order-by
    * median; the full stream is never sorted.
    *
    * Skew note at 100 TB: a pathological distribution can pile the
    * median bin high; the production form recurses the same narrowing
    * inside the bin (binary search by value) — one extra pass per 1000×
    * concentration, never a global sort. */
  val q147ExactMedian = QueryDef(
    "q147_exact_median",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
      val hist = ev.withColumn("bin", expr(s"v DIV $MedianBinWidth"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val totals = hist.groupBy("event_type").agg(sum(col("c")).as("n"))
        .withColumn("k", expr("(n + 1) DIV 2"))
      val target = hist
        .withColumn("below", coalesce(sum(col("c")).over(wcum), lit(0L)))
        .join(broadcast(totals), Seq("event_type"))
        .filter(col("below") < col("k") && col("k") <= col("below") + col("c"))
        .select(col("event_type"), col("bin"), col("below"), col("n"), col("k"))
      val wv = Window.partitionBy("event_type").orderBy("v")
      ev.join(broadcast(target), Seq("event_type"))
        .filter(expr(s"v DIV $MedianBinWidth") === col("bin"))
        .withColumn("rn", row_number().over(wv))
        .filter(col("rn") === col("k") - col("below"))
        .select(col("event_type"), col("n"), col("v").as("median_x1m"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
           |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
           |  FROM events),
           |r AS (
           |  SELECT event_type, v,
           |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM e)
           |SELECT event_type, n, v AS median_x1m
           |FROM r WHERE rn = (n + 1) // 2
           |ORDER BY event_type""".stripMargin)
  )

  /** Benford expected first-digit mass ×1e6: round(log10(1+1/d)·1e6) —
    * fixed constants shared verbatim by both engines, so no float log
    * ever reaches the hash. */
  val BenfordX1m = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
    66947L, 57992L, 51153L, 45757L)

  /** q164: Benford's-law first-digit audit — the numeric-forensics pass
    * (fraud screening, unit-mix detection, synthetic-data sniffing) run
    * over a monetary column: observed first-digit frequencies of
    * `l_extendedprice` vs the Benford expectation, with the absolute
    * deviation per digit ×1e6 and the max-deviation digit flagged (the
    * MAD-of-digits test auditors actually use, integer form). TPC-H
    * prices are uniform-ish, NOT Benford — the audit correctly reports
    * large deviations, which is the point: the statistic is the
    * deliverable, not conformance.
    *
    * Exactness: first digit via string head of floor(price) (prices ≥
    * 901 > 1, so no zero/sign edge), observed share = obs·1e6 DIV n,
    * expected mass a shared constant table, deviation = ABS of BIGINT
    * difference. One scan → 9-row agg with full map-side combine; the
    * constant table is a 9-row broadcast. */
  val q164BenfordAudit = QueryDef(
    "q164_benford_audit",
    (s, d) => {
      import s.implicits._
      val exp = BenfordX1m.zipWithIndex
        .map { case (m, i) => ((i + 1).toString, m) }
        .toDF("digit", "exp_x1m")
      val obs = Tables.lineitem(s, d)
        .select(substring(floor(col("l_extendedprice")).cast(LongType)
          .cast(StringType), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val n = obs.agg(sum(col("obs")).as("n_rows"))
      obs.join(broadcast(exp), Seq("digit"))
        .crossJoin(broadcast(n))
        .withColumn("obs_x1m", expr("obs * 1000000 DIV n_rows"))
        .withColumn("dev_x1m", abs(col("obs_x1m") - col("exp_x1m")))
        .select("digit", "obs", "obs_x1m", "exp_x1m", "dev_x1m")
        .orderBy("digit")
    },
    Some(s"""WITH exp AS (
           |  SELECT CAST(d AS VARCHAR) AS digit, m AS exp_x1m
           |  FROM (VALUES ${BenfordX1m.zipWithIndex
             .map { case (m, i) => s"(${i + 1}, CAST($m AS BIGINT))" }
             .mkString(", ")}) t(d, m)),
           |obs AS (
           |  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
           |         CAST(COUNT(*) AS BIGINT) AS obs
           |  FROM lineitem GROUP BY 1),
           |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_rows FROM obs)
           |SELECT digit, obs,
           |  CAST(obs * 1000000 // n_rows AS BIGINT) AS obs_x1m,
           |  exp_x1m,
           |  CAST(ABS(obs * 1000000 // n_rows - exp_x1m) AS BIGINT) AS dev_x1m
           |FROM obs JOIN exp USING (digit) CROSS JOIN n
           |ORDER BY digit""".stripMargin)
  )

  /** q169: winsorized robust statistics — clamp each event's value into
    * its type's [P1, P99] band and report raw vs winsorized mass plus
    * the clip count: the outlier-taming transform metric pipelines
    * apply before any mean-based statistic (q106 FLAGS outliers with a
    * MAD fence; winsorization is the complementary REPAIR, bounded
    * influence instead of deletion). Percentile ranks are exact:
    * r_lo = ⌈n/100⌉ over the total (value, event_id) order, hi at the
    * mirrored rank n+1−r_lo — integer rank selection, no interpolation,
    * so both engines pick identical band edges.
    *
    * Plan shape at 100 TB: one type-partitioned ranking window (the
    * q110 shape — parallelism scales with groups), the two band-edge
    * rows per type are metadata-sized and broadcast back onto the typed
    * stream, and the final report is a |types|-row agg with map-side
    * partials. For few huge groups, q147's histogram-narrowing replaces
    * the full rank (locate the P1/P99 bins, rescan only those). */
  val q169Winsorize = QueryDef(
    "q169_winsorize",
    (s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("v_x10").asc, col("event_id").asc)
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v_x10"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("r_lo", expr("(n + 99) DIV 100"))
      val lo = ev.filter(col("rn") === col("r_lo"))
        .select(col("event_type"), col("v_x10").as("lo_x10"))
      val hi = ev.filter(col("rn") === col("n") + 1 - col("r_lo"))
        .select(col("event_type"), col("v_x10").as("hi_x10"))
      ev.join(broadcast(lo), Seq("event_type"))
        .join(broadcast(hi), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          first(col("lo_x10")).as("lo_x10"), first(col("hi_x10")).as("hi_x10"),
          sum(col("v_x10")).as("raw_sum_x10"),
          sum(greatest(least(col("v_x10"), col("hi_x10")), col("lo_x10")))
            .as("wins_sum_x10"),
          sum(when(col("v_x10") < col("lo_x10") || col("v_x10") > col("hi_x10"), 1L)
            .otherwise(0L)).as("n_clipped"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, event_id,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v_x10,
           |    CAST(row_number() OVER (PARTITION BY event_type
           |      ORDER BY CAST(floor(value * 10.0 + 0.5) AS BIGINT), event_id) AS BIGINT) AS rn,
           |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
           |  FROM events),
           |ev2 AS (SELECT *, (n + 99) // 100 AS r_lo FROM ev),
           |lo AS (SELECT event_type, v_x10 AS lo_x10 FROM ev2 WHERE rn = r_lo),
           |hi AS (SELECT event_type, v_x10 AS hi_x10 FROM ev2 WHERE rn = n + 1 - r_lo)
           |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(ANY_VALUE(lo_x10) AS BIGINT) AS lo_x10,
           |  CAST(ANY_VALUE(hi_x10) AS BIGINT) AS hi_x10,
           |  CAST(SUM(v_x10) AS BIGINT) AS raw_sum_x10,
           |  CAST(SUM(GREATEST(LEAST(v_x10, hi_x10), lo_x10)) AS BIGINT) AS wins_sum_x10,
           |  CAST(SUM(CASE WHEN v_x10 < lo_x10 OR v_x10 > hi_x10 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_clipped
           |FROM ev2 JOIN lo USING (event_type) JOIN hi USING (event_type)
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** q172: frequent triples via the a-priori cascade — level 3 of what
    * q105 starts: candidate (p1, p2, p3) triples are generated ONLY
    * from frequent pairs (all three sub-pairs must clear the support
    * floor — the downward-closure pruning that makes frequent-itemset
    * mining tractable), then counted exactly and filtered. The
    * deliverable includes each triple's support next to its weakest
    * sub-pair support (the lift base for rule generation).
    *
    * Plan shape at 100 TB: the raw triple space is Σ basket³, but it
    * never shuffles — 3-combinations explode NARROWLY from the basket
    * arrays ([[orderBaskets]]: one order-keyed exchange shared with the
    * pair level), extension joins run over the FREQUENT pair list (tiny
    * under any support floor; a-priori's point, checkpointed once and
    * broadcast), and the only basket-sized exchange left is the final
    * (p1,p2,p3) candidate count. Candidate pruning happens as the
    * enumeration meets the broadcast candidate list — before the agg. */
  val q172AprioriTriples = QueryDef(
    "q172_apriori_triples",
    (s, d) => {
      val baskets = orderBaskets(s, d)
      val pairs = basketPairs(baskets)
        .groupBy("p1", "p2").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .localCheckpoint() // referenced 3× below; frequent list is tiny
      // candidate triples: extend (p1,p2) by (p2,p3); prune on (p1,p3)
      val cand = pairs.select(col("p1"), col("p2"), col("sup").as("s12"))
        .join(broadcast(pairs.select(col("p1").as("p2"), col("p2").as("p3"),
          col("sup").as("s23"))), Seq("p2"))
        .join(broadcast(pairs.select(col("p1"), col("p2").as("p3"),
          col("sup").as("s13"))), Seq("p1", "p3"))
        .select(col("p1"), col("p2"), col("p3"),
          least(col("s12"), least(col("s13"), col("s23"))).as("min_pair_sup"))
      // index-ordered 3-combinations: sorted distinct array ⇒ position
      // order ≡ p1 < p2 < p3 (p2 sits at 0-based i+1+j, so p3 starts at
      // 1-based (i+1+j)+2 = i+j+3)
      val triples = baskets
        .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
        .select(col("parts"), col("i"), col("p1"),
          posexplode(expr("slice(parts, i + 2, size(parts))")).as(Seq("j", "p2")))
        .select(col("p1"), col("p2"),
          explode(expr("slice(parts, i + j + 3, size(parts))")).as("p3"))
        .join(broadcast(cand), Seq("p1", "p2", "p3"))
        .groupBy("p1", "p2", "p3", "min_pair_sup")
        .agg(count(lit(1)).as("sup3"))
        .filter(col("sup3") >= 2)
      triples.select("p1", "p2", "p3", "sup3", "min_pair_sup")
        .orderBy(col("sup3").desc, col("p1").asc, col("p2").asc, col("p3").asc)
        .limit(30)
    },
    Some("""WITH items AS (
           |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
           |pairs AS (
           |  SELECT a.part AS p1, b.part AS p2, CAST(COUNT(*) AS BIGINT) AS sup
           |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |cand AS (
           |  SELECT x.p1, x.p2, y.p2 AS p3,
           |    LEAST(x.sup, y.sup, z.sup) AS min_pair_sup
           |  FROM pairs x
           |  JOIN pairs y ON y.p1 = x.p2
           |  JOIN pairs z ON z.p1 = x.p1 AND z.p2 = y.p2),
           |triples AS (
           |  SELECT c.p1, c.p2, c.p3, c.min_pair_sup, CAST(COUNT(*) AS BIGINT) AS sup3
           |  FROM items a
           |  JOIN items b ON a.okey = b.okey
           |  JOIN items t ON a.okey = t.okey
           |  JOIN cand c ON c.p1 = a.part AND c.p2 = b.part AND c.p3 = t.part
           |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2)
           |SELECT p1, p2, p3, sup3, min_pair_sup
           |FROM triples
           |ORDER BY sup3 DESC, p1 ASC, p2 ASC, p3 ASC LIMIT 30""".stripMargin)
  )

  /** Shared scorer for the q174/q175 evaluation pair: a binary
    * "is-English" detector scored as en-marker hits ×1e6 per token
    * (q21's heuristic reduced to one class), label = lang = 'en'.
    * Zero-token docs are dropped on both engines. */
  private def enScores(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("label"),
        size(filter(TextOps.tokens(lower(col("text"))),
          t => t.isin("the", "and", "of", "is"))).cast(LongType).as("hits"),
        size(TextOps.tokens(lower(col("text")))).cast(LongType).as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("label"),
        expr("hits * 1000000 DIV n_tok").as("score_x1m"))

  private val enScoresSql: String =
    """sc AS (
      |  SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
      |    CAST(len(list_filter(toks, t -> t IN ('the','and','of','is'))) AS BIGINT)
      |      * 1000000 // len(toks) AS score_x1m
      |  FROM (SELECT doc_id, lang,
      |          list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0)""".stripMargin

  /** q174: exact tie-corrected AUC (Mann–Whitney rank-sum) — the
    * ranking-quality metric every classifier eval reports, computed
    * EXACTLY in integers: midranks handle score ties (doubled to stay
    * integral — midrank2 = 2·minrank + tiecount − 1) and
    * AUC×1e6 = (Σ⁺midrank2 − n⁺(n⁺+1))·1e6 DIV (2·n⁺·n⁻). The scored
    * model is the q21-style is-English marker heuristic; the synthetic
    * corpus draws text INDEPENDENTLY of the lang label, so the exact
    * AUC lands near 500 000 — the q145 A/A framing: the instrument is
    * proven against a known-null signal before anyone trusts it on a
    * real one (a buggy rank-sum rarely lands near 0.5 by accident).
    *
    * Plan shape at 100 TB: the rank-sum NEVER ranks rows — scores are
    * first reduced to a (score → count, pos-count) histogram (one hash
    * agg, ≤ 1e6+1 groups by construction of the ×1e6 score), and the
    * cumulative window runs over that bounded histogram, not the
    * corpus. This is the decomposition that makes exact global AUC a
    * metadata problem at any corpus size. */
  val q174ExactAuc = QueryDef(
    "q174_exact_auc",
    (s, d) => {
      val g = enScores(s, d).groupBy("score_x1m")
        .agg(count(lit(1)).as("cnt"), sum(col("label")).as("npos"))
      val w = Window.partitionBy(lit(0)).orderBy(col("score_x1m").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val r2 = g
        .withColumn("cum_before", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col("npos"), col("cnt"),
          (col("npos") * (lit(2L) * (col("cum_before") + 1L) + col("cnt") - 1L))
            .as("r2c"))
        .agg(sum(col("npos")).as("n_pos"),
          sum(col("cnt") - col("npos")).as("n_neg"), sum(col("r2c")).as("r2"))
      r2.select(col("n_pos"), col("n_neg"), col("r2"),
        expr("(r2 - n_pos * (n_pos + 1)) * 1000000 DIV (2 * n_pos * n_neg)")
          .as("auc_x1m"))
    },
    Some(s"""WITH $enScoresSql,
           |g AS (
           |  SELECT score_x1m, CAST(COUNT(*) AS BIGINT) AS cnt,
           |    CAST(SUM(label) AS BIGINT) AS npos
           |  FROM sc GROUP BY score_x1m),
           |h AS (
           |  SELECT npos, cnt,
           |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY score_x1m
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS cum_before
           |  FROM g),
           |m AS (
           |  SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
           |    CAST(SUM(cnt - npos) AS BIGINT) AS n_neg,
           |    CAST(SUM(npos * (2 * (cum_before + 1) + cnt - 1)) AS BIGINT) AS r2
           |  FROM h)
           |SELECT n_pos, n_neg, r2,
           |  CAST((r2 - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
           |    AS auc_x1m
           |FROM m""".stripMargin)
  )

  /** q175: calibration reliability diagram — the companion to q174's
    * discrimination metric: bucket the same scores into ten fixed-width
    * bins and compare MEAN PREDICTED score against EMPIRICAL positive
    * rate per bin (the gap is the calibration error; its count-weighted
    * max/sum is ECE). A heuristic scorer is systematically miscalibrated
    * — visible, nonzero gaps are the expected deliverable. One hash agg
    * on a 10-key space with map-side partials; nothing else. */
  val q175Reliability = QueryDef(
    "q175_reliability",
    (s, d) =>
      enScores(s, d)
        .withColumn("bin", least(expr("score_x1m DIV 100000"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("score_x1m")).as("ssum"),
          sum(col("label")).as("npos"))
        .select(col("bin"), col("n"),
          expr("ssum DIV n").as("mean_score_x1m"),
          expr("npos * 1000000 DIV n").as("pos_rate_x1m"),
          abs(expr("ssum DIV n") - expr("npos * 1000000 DIV n")).as("gap_x1m"))
        .orderBy("bin"),
    Some(s"""WITH $enScoresSql,
           |b AS (
           |  SELECT LEAST(score_x1m // 100000, 9) AS bin,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(score_x1m) AS BIGINT) AS ssum,
           |    CAST(SUM(label) AS BIGINT) AS npos
           |  FROM sc GROUP BY 1)
           |SELECT bin, n,
           |  CAST(ssum // n AS BIGINT) AS mean_score_x1m,
           |  CAST(npos * 1000000 // n AS BIGINT) AS pos_rate_x1m,
           |  CAST(ABS(ssum // n - npos * 1000000 // n) AS BIGINT) AS gap_x1m
           |FROM b ORDER BY bin""".stripMargin)
  )

  /** q176 thresholds out of 4096: ≈ 1/2/4/8/16/32/64 % — the power-law
    * ladder scaling-law experiments sample. */
  val LearnCurveThresholds = Seq(41L, 82L, 164L, 328L, 656L, 1311L, 2622L)

  /** q176: learning-curve subset ladder — nested deterministic corpus
    * prefixes for scaling-law runs: subset t = docs whose md5 bucket
    * (mod 4096) falls below t, so every smaller subset is CONTAINED in
    * every larger one (the prefix property that makes loss curves
    * comparable across scales — resampling per size would confound
    * data variance with scale). Per rung: doc count, token mass, and
    * English share ×1e6 — the composition stats that must stay stable
    * down the ladder for the subsets to be representative.
    *
    * Plan shape at 100 TB: one scan; each doc emits its ≤ |ladder|
    * memberships from a bounded generator (no per-threshold rescan),
    * then a |ladder|-key agg with map-side partials. */
  val q176LearningCurve = QueryDef(
    "q176_learning_curve",
    (s, d) => {
      val h = pmod(conv(substring(md5(concat(lit("lc#"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType), lit(4096L))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"),
          size(TextOps.tokens(lower(col("text")))).cast(LongType).as("n_tok"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
        .withColumn("t", explode(typedLit(LearnCurveThresholds.toArray)))
        .filter(col("h") < col("t"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          expr("sum(is_en) * 1000000").as("en_num"))
        .select(col("t"), col("n_docs"), col("n_tokens"),
          expr("en_num DIV n_docs").as("en_share_x1m"))
        .orderBy("t")
    },
    Some(s"""WITH d AS (
           |  SELECT doc_id,
           |    CAST(('0x' || substr(md5('lc#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |      % 4096 AS h,
           |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT)
           |      AS n_tok,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
           |  FROM documents),
           |x AS (
           |  SELECT t, doc_id, n_tok, is_en
           |  FROM d, (VALUES ${LearnCurveThresholds.map(t => s"(CAST($t AS BIGINT))").mkString(", ")}) v(t)
           |  WHERE h < t)
           |SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(SUM(is_en) * 1000000 // COUNT(*) AS BIGINT) AS en_share_x1m
           |FROM x GROUP BY t ORDER BY t""".stripMargin)
  )

  /** q180: decile gains table (lift chart) — the third leg of the eval
    * suite (q174 discrimination, q175 calibration): rank by score,
    * split into ten equal-count bins, and report per-decile positive
    * concentration plus the CUMULATIVE capture curve — the table a
    * targeting/filtering decision actually reads ("keep the top 30 % of
    * docs by score → x % of the positives"). Lift = decile rate over
    * base rate, ×1e6 with the q103 pre-divided shape; on the null-signal
    * corpus lifts hover at 1e6 and capture tracks the diagonal, the
    * q174 A/A argument again.
    *
    * Plan note: the decile needs global ranks — a corpus-ordered window
    * here; the scale path replaces it with q167's sampled boundaries or
    * q174's histogram ranks (documented), identical downstream. */
  val q180GainsTable = QueryDef(
    "q180_gains_table",
    (s, d) => {
      val wAll = Window.partitionBy(lit(0))
      val w = wAll.orderBy(col("score_x1m").desc, col("doc_id").asc)
      val base = enScores(s, d)
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("decile", expr("(rn - 1) * 10 DIV n"))
      val wc = Window.partitionBy(lit(0)).orderBy("decile")
      base.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_pos"),
          max(col("n")).as("n"))
        .withColumn("cum_pos", sum(col("n_pos")).over(wc))
        .withColumn("tot_pos", sum(col("n_pos")).over(Window.partitionBy(lit(0))))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          expr("(n_pos * 1000000 DIV n_docs) * n DIV greatest(tot_pos, 1)")
            .as("lift_x1m"),
          expr("cum_pos * 1000000 DIV greatest(tot_pos, 1)").as("cum_capture_x1m"))
        .orderBy("decile")
    },
    Some(s"""WITH $enScoresSql,
           |r AS (
           |  SELECT label, score_x1m,
           |    CAST(row_number() OVER (ORDER BY score_x1m DESC, doc_id ASC) AS BIGINT) AS rn,
           |    CAST(COUNT(*) OVER () AS BIGINT) AS n
           |  FROM sc),
           |dec AS (
           |  SELECT (rn - 1) * 10 // n AS decile,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(label) AS BIGINT) AS n_pos,
           |    CAST(MAX(n) AS BIGINT) AS n
           |  FROM r GROUP BY 1)
           |SELECT decile, n_docs, n_pos,
           |  CAST((n_pos * 1000000 // n_docs) * n
           |    // GREATEST(SUM(n_pos) OVER (), 1) AS BIGINT) AS lift_x1m,
           |  CAST(SUM(n_pos) OVER (ORDER BY decile) * 1000000
           |    // GREATEST(SUM(n_pos) OVER (), 1) AS BIGINT) AS cum_capture_x1m
           |FROM dec ORDER BY decile""".stripMargin)
  )

  /** q182's replica count and the Poisson(1) CDF ×1e6 (P[X≤k] for
    * k = 0..3; the ≥4 tail closes the last band) — shared constants so
    * no float exp() reaches either engine. */
  val BootReplicas = 20
  val PoissonCdfX1m = Seq(367879L, 735759L, 919699L, 981012L)

  /** q182: Poisson-bootstrap uncertainty — THE bootstrap that works on
    * a cluster (Chamandy et al., Google 2012): resampling n-out-of-n
    * needs global coordination, but Poisson(1) per-row weights are
    * independent, so each row draws its weight for all B replicas from
    * a hash — one narrow pass, B hash-agg cells per metric, fully
    * map-side combinable, no corpus reshuffle. Here: B = 20 replica
    * means of the purchase value, each row's replica weight dealt by
    * the md5 bridge against the shared integer CDF. The replica spread
    * IS the standard-error estimate a significance readout (q145/q159)
    * would otherwise get parametrically.
    *
    * Determinism: weights are a pure function of (event_id, replica) —
    * identical in both engines; replica means are integer DIV. */
  val q182PoissonBootstrap = QueryDef(
    "q182_poisson_bootstrap",
    (s, d) => {
      val u = pmod(conv(substring(md5(concat_ws("#",
        col("event_id"), col("b"))), 1, 15), 16, 10).cast(LongType), lit(1000000L))
      val cdf = PoissonCdfX1m
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 10.0 + 0.5).cast(LongType).as("v"))
        .withColumn("b", explode(typedLit((0 until BootReplicas).toArray)))
        .withColumn("u", u)
        .withColumn("w",
          when(col("u") < cdf(0), 0L).when(col("u") < cdf(1), 1L)
            .when(col("u") < cdf(2), 2L).when(col("u") < cdf(3), 3L)
            .otherwise(4L))
        .groupBy(col("b").cast(LongType).as("replica"))
        .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("v")).as("sv"))
        .select(col("replica"), col("n_eff"),
          expr("sv DIV greatest(n_eff, 1)").as("mean_x10"))
        .orderBy("replica")
    },
    Some(s"""WITH p AS (
           |  SELECT event_id, CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE event_type = 'purchase'),
           |x AS (
           |  SELECT CAST(b AS BIGINT) AS replica, v,
           |    CAST(('0x' || substr(md5(event_id || '#' || b), 1, 15)) AS BIGINT)
           |      % 1000000 AS u
           |  FROM p, range(0, $BootReplicas) t(b)),
           |wtd AS (
           |  SELECT replica, v,
           |    CASE WHEN u < ${PoissonCdfX1m(0)} THEN 0
           |         WHEN u < ${PoissonCdfX1m(1)} THEN 1
           |         WHEN u < ${PoissonCdfX1m(2)} THEN 2
           |         WHEN u < ${PoissonCdfX1m(3)} THEN 3 ELSE 4 END AS w
           |  FROM x)
           |SELECT replica, CAST(SUM(w) AS BIGINT) AS n_eff,
           |  CAST(SUM(w * v) // GREATEST(SUM(w), 1) AS BIGINT) AS mean_x10
           |FROM wtd GROUP BY replica ORDER BY replica""".stripMargin)
  )

  /** q184: item-item collaborative filtering — the "customers who bought
    * X also bought Y" neighbor table, the serving-side artifact of a
    * recommender: for each part, its top-3 co-purchase neighbors by
    * cosine² similarity `co(a,b)² / (n(a)·n(b))` (squared to stay
    * integer; ranking-equivalent to cosine since all terms are
    * positive). q105 mines the global rule list; this materializes a
    * bounded PER-ITEM index.
    *
    * Scale: pair space is Σ basket² within orderkey (q105's a-priori
    * shape, same heavy-basket cap policy), enumerated NARROWLY from the
    * shared basket arrays ([[orderBaskets]] — both explode directions,
    * no okey self-join shuffle); per-part supports n(p) are a part-keyed
    * agg AQE-broadcast onto the pair stream; the top-3 ranking window
    * partitions by item over pair rows — never corpus rows. co ≥ 2
    * prunes the noise tail before the window.
    *
    * Overflow headroom: `co*co*1e6` stays inside Int64 while
    * co < ⌊√(2^63/1e6)⌋ ≈ 3.03e6 co-purchases PER (item, neighbor)
    * PAIR — not per corpus. A pair's co is bounded by the smaller
    * item's order count, so the bound only binds when one single part
    * appears in 3M+ distinct orders that ALL also contain one specific
    * other part; at that popularity the cap policy documented on q105
    * (heavy-basket truncation) has already bounded basket fan-out. If a
    * corpus ever approaches it, halve the fixed-point scale (co²·1e4,
    * shifting 2 digits of similarity precision) before squaring. */
  val q184ItemCf = QueryDef(
    "q184_item_cf",
    (s, d) => {
      val baskets = orderBaskets(s, d)
      val n = baskets.select(explode(col("parts")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      // ordered pairs (item ≠ neighbor): each index-ordered combination
      // taken in both directions — ≡ the a≠b self-join's pair multiset
      val pairs = basketPairs(baskets)
        .select(array(struct(col("p1").as("item"), col("p2").as("neighbor")),
          struct(col("p2").as("item"), col("p1").as("neighbor"))).as("both"))
        .select(explode(col("both")).as("pr"))
        .select(col("pr.item").as("item"), col("pr.neighbor").as("neighbor"))
        .groupBy("item", "neighbor")
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
      val scored = pairs
        .join(n.withColumnRenamed("l_partkey", "item").withColumnRenamed("n", "na"), "item")
        .join(n.withColumnRenamed("l_partkey", "neighbor").withColumnRenamed("n", "nb"),
          "neighbor")
        .select(col("item"), col("neighbor"), col("co"),
          expr("co * co * 1000000 DIV (na * nb)").as("sim_x1m"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy("item").orderBy(col("sim_x1m").desc, col("neighbor").asc))
          .cast(LongType))
        .filter(col("rank") <= 3)
        .orderBy("item", "rank")
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |n AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM op GROUP BY 1),
           |pairs AS (
           |  SELECT a.l_partkey AS item, b.l_partkey AS neighbor,
           |    CAST(COUNT(*) AS BIGINT) AS co
           |  FROM op a JOIN op b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |scored AS (
           |  SELECT p.item, p.neighbor, p.co,
           |    CAST(p.co * p.co * 1000000 // (na.n * nb.n) AS BIGINT) AS sim_x1m
           |  FROM pairs p
           |  JOIN n na ON na.l_partkey = p.item
           |  JOIN n nb ON nb.l_partkey = p.neighbor)
           |SELECT item, neighbor, co, sim_x1m,
           |  CAST(rank AS BIGINT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY item
           |        ORDER BY sim_x1m DESC, neighbor ASC) AS rank FROM scored)
           |WHERE rank <= 3 ORDER BY item, rank""".stripMargin)
  )

  /** q186: weighted exact percentiles — quantity-weighted median and p90
    * of the line-item price per return flag: "the price a typical UNIT
    * (not a typical line) ships at". Values collapse to per-(flag, cents)
    * weight sums FIRST, so the percentile windows run over distinct
    * price points, not rows, and tie-handling is definitionally
    * identical in both engines (the selected value is the smallest cents
    * whose cumulative weight crosses the threshold — within-tie row
    * order cannot matter because ties no longer exist).
    *
    * Scale: the (flag, cents) agg is map-side combinable and compresses
    * the corpus to |distinct prices| rows; the cumulative window
    * partitions by flag over that compressed frame. Same discipline as
    * q147's sort-free median, generalized to arbitrary weights and
    * quantiles. */
  val q186WeightedMedian = QueryDef(
    "q186_weighted_median",
    (s, d) => {
      // (r13: a spread of the scan plus a broadcast-joined total were
      // tried and REVERTED — measured 1.70 -> 2.28 s; the second window
      // pass is cheaper than the extra exchange + duplicated agg lineage)
      val byVal = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast(LongType).as("cents"),
          floor(col("l_quantity") + 0.5).cast(LongType).as("w"))
        .groupBy("flag", "cents").agg(sum("w").as("w"))
      val wc = Window.partitionBy("flag").orderBy(col("cents").asc)
      byVal
        .withColumn("cum", sum("w").over(wc))
        .withColumn("tot", sum("w").over(Window.partitionBy("flag")))
        .groupBy("flag")
        .agg(max("tot").as("total_w"),
          min(when(col("cum") * 2 >= col("tot"), col("cents"))).as("wmedian_cents"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("cents"))).as("wp90_cents"))
        .orderBy("flag")
    },
    Some("""WITH v AS (
           |  SELECT l_returnflag AS flag,
           |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
           |    CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
           |  FROM lineitem GROUP BY 1, 2),
           |c AS (
           |  SELECT flag, cents, w,
           |    SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cum,
           |    SUM(w) OVER (PARTITION BY flag) AS tot
           |  FROM v)
           |SELECT flag, CAST(MAX(tot) AS BIGINT) AS total_w,
           |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN cents END) AS BIGINT)
           |    AS wmedian_cents,
           |  CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN cents END) AS BIGINT)
           |    AS wp90_cents
           |FROM c GROUP BY flag ORDER BY flag""".stripMargin)
  )

  /** q187's HLL geometry: 256 registers, 33-bit rank domain, and the
    * m=256 bias constant α·1e6 rounded to the nearest integer
    * (α = 0.7213/(1 + 1.079/m) = 0.7182726 for m = 256). */
  val HllBuckets = 256L
  val HllAlphaX1m = 718273L

  /** The q187 register builder, exposed so the spec can prove the sketch's
    * defining property — registers built on any split of the data and
    * max-merged equal the registers built on the whole. */
  def hllRegisters(df: DataFrame, group: String, key: Column): DataFrame = {
    val h = conv(substring(md5(key.cast(StringType)), 1, 10), 16, 10).cast(LongType)
    df.select(col(group), h.as("h"))
      .withColumn("bucket", expr("h DIV 4294967296"))
      .withColumn("x", expr("h % 4294967296 + 4294967296"))
      .withColumn("rho", expr("bit_count(x ^ (x - 1))"))
      .groupBy(col(group), col("bucket")).agg(max("rho").as("m"))
  }

  /** q187: a MERGEABLE cardinality sketch under an EXACT oracle —
    * hand-rolled HyperLogLog whose every step is a deterministic integer
    * function of the md5 bridge, so Spark and DuckDB produce
    * bit-identical registers AND estimates (something
    * `approx_count_distinct`'s engine-private hash can never do).
    * Per event type: hash users to 40 bits; top 8 bits pick 1 of 256
    * registers; the register keeps the max geometric rank (lowest-set-bit
    * index of the remaining 32 bits — Geometric(½) for uniform bits,
    * the same tail statistic as HLL's leading-zero count). The estimate's
    * harmonic mean stays integer by scaling 2^{-M} to 2^{33-M}.
    *
    * Why it matters at 100 TB: registers are a 256-cell max-agg —
    * map-side combinable, mergeable across partitions/days/tables with a
    * plain `max`, constant memory. The exact distinct rides along here
    * only to ground the error column. */
  val q187HllSketch = QueryDef(
    "q187_hll_sketch",
    (s, d) => {
      val regs = hllRegisters(Tables.events(s, d), "event_type", col("user_id"))
      val est = regs.groupBy("event_type")
        .agg(count(lit(1)).as("n_hit"),
          sum(expr("CAST(1 AS BIGINT) << (33 - m)")).as("d_hit"))
        .select(col("event_type"), col("n_hit"),
          (col("d_hit") + (lit(HllBuckets) - col("n_hit")) * (1L << 33)).as("d"))
        .select(col("event_type"), col("n_hit"),
          expr(s"(${HllBuckets * HllBuckets} * ${1L << 33} DIV d) * $HllAlphaX1m DIV 1000000")
            .as("hll_est"))
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact"))
      // err = est/exact − 1 in ×1e6; the division stays POSITIVE (est ≥ 0)
      // so Spark's truncating DIV and DuckDB's flooring // agree — a signed
      // numerator would make them differ by 1 on negative errors.
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_hit"), col("hll_est"), col("exact"),
          expr("hll_est * 1000000 DIV exact - 1000000").as("err_x1m"))
        .orderBy("event_type")
    },
    Some(s"""WITH h AS (
           |  SELECT event_type,
           |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)) AS BIGINT)
           |      AS h
           |  FROM events),
           |r AS (
           |  SELECT event_type, h // 4294967296 AS bucket,
           |    MAX(bit_count(xor(h % 4294967296 + 4294967296,
           |      h % 4294967296 + 4294967296 - 1))) AS m
           |  FROM h GROUP BY 1, 2),
           |e AS (
           |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hit,
           |    CAST(SUM(1::BIGINT << (33 - m))
           |      + (${HllBuckets} - COUNT(*)) * ${1L << 33} AS BIGINT) AS d
           |  FROM r GROUP BY 1),
           |x AS (
           |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
           |  FROM events GROUP BY 1)
           |SELECT e.event_type, e.n_hit,
           |  CAST((${HllBuckets * HllBuckets} * ${1L << 33} // d)
           |    * ${HllAlphaX1m} // 1000000 AS BIGINT) AS hll_est,
           |  x.exact,
           |  CAST((${HllBuckets * HllBuckets} * ${1L << 33} // d)
           |    * ${HllAlphaX1m} // 1000000 * 1000000 // x.exact - 1000000 AS BIGINT)
           |    AS err_x1m
           |FROM e JOIN x ON e.event_type = x.event_type
           |ORDER BY 1""".stripMargin)
  )

  /** q189's Count-Min geometry: 4 independent hash rows × 512 counters. */
  val CmRows = 4
  val CmWidth = 512L

  /** The q189 cell builder, exposed for the spec's additivity proof
    * (cells built on splits and SUM-merged equal the whole-corpus build —
    * CM's merge is `+` where q187 HLL's is `max`). */
  def cmCells(df: DataFrame, key: Column): DataFrame = {
    val rows = (0 until CmRows).map { j =>
      val h = conv(substring(md5(concat_ws("#", lit(j), key.cast(StringType))), 1, 15),
        16, 10).cast(LongType)
      df.select(lit(j.toLong).as("j"), pmod(h, lit(CmWidth)).as("b"))
    }
    rows.reduce(_ unionByName _).groupBy("j", "b").agg(count(lit(1)).as("c"))
  }

  /** q189: Count-Min frequency sketch under an EXACT oracle — the
    * third of the sketch family (q132 Misra-Gries proposes heavy keys,
    * q187 HLL counts distincts, CM answers POINT frequency queries):
    * 4×512 counters, each row a different md5-salted hash, point
    * estimate = min over the 4 cells — a deterministic integer pipeline
    * both engines reproduce bit-for-bit. Probes: the 10 heaviest users
    * by exact count; the report shows exact, estimate, and the
    * overestimate slack (CM never underestimates — spec-asserted, and
    * the oracle would catch a violation as a hash mismatch).
    *
    * Scale: the sketch build is 4 narrow projections into ONE
    * (j, bucket) hash agg — 2048 cells total regardless of corpus size,
    * map-side combined; merging shards/days is cell-wise `+`. The probe
    * side joins 10 keys × 4 cells — metadata. */
  val q189CmSketch = QueryDef(
    "q189_cm_sketch",
    (s, d) => {
      val ev = Tables.events(s, d)
      val cells = cmCells(ev, col("user_id"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("user_id").asc).limit(10)
      val probes = (0 until CmRows).map { j =>
        val h = conv(substring(md5(concat_ws("#", lit(j),
          col("user_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
        exact.select(col("user_id"), col("exact"), lit(j.toLong).as("j"),
          pmod(h, lit(CmWidth)).as("b"))
      }
      probes.reduce(_ unionByName _)
        .join(cells, Seq("j", "b"))
        .groupBy("user_id").agg(max("exact").as("exact"), min("c").as("cm_est"))
        .select(col("user_id"), col("exact"), col("cm_est"),
          (col("cm_est") - col("exact")).as("overcount"))
        .orderBy(col("exact").desc, col("user_id").asc)
    },
    Some(s"""WITH ev AS (SELECT user_id FROM events),
           |cells AS (
           |  SELECT j, CAST(('0x' || substr(md5(j || '#' || user_id), 1, 15)) AS BIGINT)
           |    % ${CmWidth} AS b, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM ev, range(0, $CmRows) t(j) GROUP BY 1, 2),
           |exact AS (
           |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact FROM ev
           |  GROUP BY 1 ORDER BY exact DESC, user_id ASC LIMIT 10),
           |probe AS (
           |  SELECT e.user_id, e.exact, t.j,
           |    CAST(('0x' || substr(md5(t.j || '#' || e.user_id), 1, 15)) AS BIGINT)
           |      % ${CmWidth} AS b
           |  FROM exact e, range(0, $CmRows) t(j))
           |SELECT p.user_id, CAST(MAX(p.exact) AS BIGINT) AS exact,
           |  CAST(MIN(c.c) AS BIGINT) AS cm_est,
           |  CAST(MIN(c.c) - MAX(p.exact) AS BIGINT) AS overcount
           |FROM probe p JOIN cells c ON c.j = p.j AND c.b = p.b
           |GROUP BY p.user_id ORDER BY exact DESC, user_id ASC""".stripMargin)
  )

  /** q190: ledger reconciliation — the double-entry audit every billing
    * pipeline runs: recompute each order's total from its line items
    * (price × (1 − discount), exact cents) and reconcile against the
    * order header, reporting per status the order count, how many
    * disagree beyond a $1 tolerance, and the worst/total absolute drift.
    * The float product is IEEE-identical in both engines; everything
    * after the one `floor(×100 + 0.5)` is BIGINT cents.
    *
    * Scale: one lineitem→order-key hash agg (map-side combinable — the
    * corpus-sized step) + one key join the header side broadcasts under
    * AQE at dimension-like sizes; the status rollup is metadata. LEFT
    * join keeps header-only orders visible as full-drift rows instead of
    * silently dropping them — an audit that loses rows audits nothing. */
  val q190LedgerRecon = QueryDef(
    "q190_ledger_recon",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast(LongType).as("line_c"))
        .groupBy("o_orderkey").agg(sum("line_c").as("recomputed_c"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType).as("header_c"))
        .join(li, Seq("o_orderkey"), "left")
        .select(col("o_orderstatus"),
          abs(col("header_c") - coalesce(col("recomputed_c"), lit(0L))).as("drift_c"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("drift_c") > 100L, 1L).otherwise(0L)).as("n_mismatch"),
          max("drift_c").as("max_drift_c"),
          sum("drift_c").as("total_drift_c"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH li AS (
           |  SELECT l_orderkey AS o_orderkey,
           |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS recomputed_c
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT o.o_orderstatus,
           |    abs(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
           |      - COALESCE(li.recomputed_c, 0)) AS drift_c
           |  FROM orders o LEFT JOIN li USING (o_orderkey))
           |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |  CAST(SUM(CASE WHEN drift_c > 100 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_mismatch,
           |  CAST(MAX(drift_c) AS BIGINT) AS max_drift_c,
           |  CAST(SUM(drift_c) AS BIGINT) AS total_drift_c
           |FROM j GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)
  )

  /** q201: fulfillment-latency SLA report — per order priority, exact
    * median/p90/max days from order date to line-item ship date plus the
    * share of lines beyond a 60-day SLA ×1e6. The operational-latency
    * readout (order-to-ship, ticket-to-resolve, ingest-to-serve) with
    * the q186 exact-percentile discipline: latencies collapse to
    * per-(priority, days) counts first, the cumulative window runs over
    * distinct day values — metadata — and tie handling is definitionally
    * engine-identical.
    *
    * Scale: one orderkey join (header side dimension-like under AQE),
    * one (priority, days) hash agg — map-side combinable — and windows
    * over the ≤ priorities×max-days histogram. */
  val q201SlaLatency = QueryDef(
    "q201_sla_latency",
    (s, d) => {
      val lat = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          unix_micros(col("l_shipdate").cast(TimestampType)).as("ship_us"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast(TimestampType)).as("ord_us")),
          Seq("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("(ship_us - ord_us) DIV 86400000000").as("days"))
      val byDays = lat.groupBy("priority", "days").agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy("priority").orderBy(col("days").asc)
      byDays
        .withColumn("cum", sum("w").over(wc))
        .withColumn("tot", sum("w").over(Window.partitionBy("priority")))
        .groupBy("priority")
        .agg(max("tot").as("n_lines"),
          min(when(col("cum") * 2 >= col("tot"), col("days"))).as("med_days"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("days"))).as("p90_days"),
          max("days").as("max_days"),
          expr("sum(CASE WHEN days > 60 THEN w ELSE 0 END) * 1000000" +
            " DIV max(tot)").as("breach_x1m"))
        .orderBy("priority")
    },
    Some("""WITH lat AS (
           |  SELECT o.o_orderpriority AS priority,
           |    (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000
           |      AS days
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |h AS (
           |  SELECT priority, days, CAST(COUNT(*) AS BIGINT) AS w
           |  FROM lat GROUP BY 1, 2),
           |c AS (
           |  SELECT priority, days, w,
           |    SUM(w) OVER (PARTITION BY priority ORDER BY days) AS cum,
           |    SUM(w) OVER (PARTITION BY priority) AS tot
           |  FROM h)
           |SELECT priority, CAST(MAX(tot) AS BIGINT) AS n_lines,
           |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN days END) AS BIGINT) AS med_days,
           |  CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN days END) AS BIGINT)
           |    AS p90_days,
           |  CAST(MAX(days) AS BIGINT) AS max_days,
           |  CAST(SUM(CASE WHEN days > 60 THEN w ELSE 0 END) * 1000000 // MAX(tot)
           |    AS BIGINT) AS breach_x1m
           |FROM c GROUP BY priority ORDER BY priority""".stripMargin)
  )

  /** q202: supplier-concentration audit (Herfindahl–Hirschman index) —
    * per part type prefix (the "category"), each supplier's quantity
    * share ×1e4 and HHI = Σ share² (0..1e8): the market-concentration /
    * single-point-of-failure metric procurement and data-source
    * diversity reviews both use (an HHI near 1e8 = one supplier is the
    * whole category — the same failure mode as one source dominating a
    * training mixture, q72's concern in supply space). Shares are
    * pre-divided integers so Σ share² never overflows and both engines
    * agree bit-for-bit.
    *
    * Scale: one (category, supplier) hash agg — map-side combinable —
    * then category-keyed windows over the supplier-count-bounded frame. */
  val q202SupplierHhi = QueryDef(
    "q202_supplier_hhi",
    (s, d) => {
      val cat = col("p_type").as("category")
      val byCatSupp = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_quantity") + 0.5).cast(LongType).as("q"))
        .join(Tables.part(s, d).select(col("p_partkey"), cat), col("l_partkey") === col("p_partkey"))
        .groupBy("category", "l_suppkey").agg(sum("q").as("q"))
      byCatSupp
        .withColumn("tot", sum("q").over(Window.partitionBy("category")))
        .withColumn("share_x1e4", expr("q * 10000 DIV tot"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_suppliers"),
          max("tot").as("total_qty"),
          sum(expr("share_x1e4 * share_x1e4")).as("hhi_x1e8"),
          max("share_x1e4").as("top_share_x1e4"))
        .orderBy("category")
    },
    Some("""WITH cs AS (
           |  SELECT p.p_type AS category, l.l_suppkey,
           |    CAST(SUM(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q
           |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           |  GROUP BY 1, 2),
           |sh AS (
           |  SELECT category, q,
           |    q * 10000 // SUM(q) OVER (PARTITION BY category) AS share_x1e4,
           |    SUM(q) OVER (PARTITION BY category) AS tot
           |  FROM cs)
           |SELECT category, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           |  CAST(MAX(tot) AS BIGINT) AS total_qty,
           |  CAST(SUM(share_x1e4 * share_x1e4) AS BIGINT) AS hhi_x1e8,
           |  CAST(MAX(share_x1e4) AS BIGINT) AS top_share_x1e4
           |FROM sh GROUP BY category ORDER BY category""".stripMargin)
  )

  /** q205: ABC (Pareto) classification — the 80/95 cumulative-share split
    * inventory management runs on SKUs and a data platform runs on
    * tables/sources (class A gets optimization attention, class C gets
    * archived): parts ranked by revenue, class A while cumulative share
    * ≤ 80%, B to 95%, C after; report per class = parts, revenue, share
    * ×1e6. The boundary is decided on the PRIOR row's cumulative share
    * (a part straddling 80% is still A — the textbook convention) with
    * (revenue desc, partkey) total order so both engines cut identically.
    *
    * Scale: one part-keyed revenue agg (map-side combinable); the
    * ranking window runs over the per-PART frame. At catalog sizes where
    * even that window is too global, the q167 sampled-boundary swap
    * applies — same note as q198. */
  val q205AbcClasses = QueryDef(
    "q205_abc_classes",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast(LongType).as("c"))
        .groupBy("l_partkey").agg(sum("c").as("rev_c"))
      val w = Window.orderBy(col("rev_c").desc, col("l_partkey").asc)
      rev
        .withColumn("cum", sum("rev_c").over(w))
        .withColumn("tot", sum("rev_c").over(Window.partitionBy(lit(0))))
        .withColumn("prior", col("cum") - col("rev_c"))
        .withColumn("cls",
          when(col("prior") * 100 <= col("tot") * 80, "A")
            .when(col("prior") * 100 <= col("tot") * 95, "B").otherwise("C"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("rev_c").as("rev_c"),
          expr("sum(rev_c) * 1000000 DIV max(tot)").as("share_x1m"))
        .orderBy("cls")
    },
    Some("""WITH rev AS (
           |  SELECT l_partkey,
           |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS rev_c
           |  FROM lineitem GROUP BY 1),
           |c AS (
           |  SELECT l_partkey, rev_c,
           |    SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC) AS cum,
           |    SUM(rev_c) OVER () AS tot
           |  FROM rev),
           |lab AS (
           |  SELECT rev_c, tot,
           |    CASE WHEN (cum - rev_c) * 100 <= tot * 80 THEN 'A'
           |         WHEN (cum - rev_c) * 100 <= tot * 95 THEN 'B'
           |         ELSE 'C' END AS cls
           |  FROM c)
           |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
           |  CAST(SUM(rev_c) AS BIGINT) AS rev_c,
           |  CAST(SUM(rev_c) * 1000000 // MAX(tot) AS BIGINT) AS share_x1m
           |FROM lab GROUP BY cls ORDER BY cls""".stripMargin)
  )

  /** q207: two-sample Kolmogorov–Smirnov drift test, integer-exact — the
    * CONTINUOUS-distribution companion to q103's categorical chi-square
    * and q144's embedding drift: did src1's document-length distribution
    * drift from src0's? D = max |F̂_A(x) − F̂_B(x)| is computed with the
    * difference cross-multiplied to |cumA·nB − cumB·nA| so no float CDF
    * ever exists; the report carries the scaled statistic, D ×1e6, and
    * the length where the gap peaks (smallest such length on ties).
    *
    * Scale: the two corpora collapse to per-length counts first (one
    * hash agg); the CDF windows run over DISTINCT lengths — metadata.
    * This is the promotion gate for a new pipeline revision: ship only
    * if the output distribution didn't move.
    *
    * Overflow headroom: cumA·nB ≤ nA·nB must stay under 2^63, i.e. the
    * GEOMETRIC MEAN of the two sample sizes must stay below ~3.0e9 rows
    * (both samples at 3e9, or 1e8 vs 9e10, etc.). Past that, divide both
    * per-length counts by a common power of two before the window (D is
    * a ratio, so uniform scaling preserves the argmax up to the counted
    * granularity) — documented rather than applied because the rescale
    * costs exactness below the bound. */
  val q207KsDrift = QueryDef(
    "q207_ks_drift",
    (s, d) => {
      val pts = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .groupBy("n_chars")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("a"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("b"))
      val wc = Window.partitionBy(lit(0)).orderBy(col("n_chars").asc)
      val wAll = Window.partitionBy(lit(0))
      pts
        .withColumn("cum_a", sum("a").over(wc))
        .withColumn("cum_b", sum("b").over(wc))
        .withColumn("na", sum("a").over(wAll))
        .withColumn("nb", sum("b").over(wAll))
        .withColumn("gap", abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
        .withColumn("mx", max("gap").over(wAll))
        .agg(max("na").as("na"), max("nb").as("nb"), max("gap").as("d_num"),
          min(when(col("gap") === col("mx"), col("n_chars"))).as("arg_len"))
        .select(col("na"), col("nb"), col("d_num"),
          expr("d_num * 1000000 DIV (na * nb)").as("ks_x1m"), col("arg_len"))
    },
    Some("""WITH pts AS (
           |  SELECT n_chars,
           |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS a,
           |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS b
           |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
           |c AS (
           |  SELECT n_chars,
           |    SUM(a) OVER (ORDER BY n_chars) AS cum_a,
           |    SUM(b) OVER (ORDER BY n_chars) AS cum_b,
           |    SUM(a) OVER () AS na, SUM(b) OVER () AS nb
           |  FROM pts),
           |g AS (
           |  SELECT n_chars, na, nb,
           |    ABS(cum_a * nb - cum_b * na) AS gap,
           |    MAX(ABS(cum_a * nb - cum_b * na)) OVER () AS mx
           |  FROM c)
           |SELECT CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb,
           |  CAST(MAX(gap) AS BIGINT) AS d_num,
           |  CAST(MAX(gap) * 1000000 // (MAX(na) * MAX(nb)) AS BIGINT) AS ks_x1m,
           |  CAST(MIN(CASE WHEN gap = mx THEN n_chars END) AS BIGINT) AS arg_len
           |FROM g""".stripMargin)
  )

  /** q211's KMV geometry: 64 minimum values over a 40-bit hash space. */
  val KmvK = 64L
  val KmvSpace = 1L << 40

  /** The q211 KMV builder, exposed for the spec's merge proof: the k
    * minimum distinct hash values per group. */
  def kmvMins(df: DataFrame, group: Column, key: Column): DataFrame = {
    val h = conv(substring(md5(key.cast(StringType)), 1, 10), 16, 10).cast(LongType)
    df.select(group.as("g"), h.as("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("h").asc)).cast(LongType))
      .filter(col("rn") <= KmvK)
  }

  /** q211: KMV (k-minimum-values) cardinality sketch under an EXACT
    * oracle — the fourth of the sketch family, and the one that supports
    * SET ALGEBRA: q132 Misra-Gries finds heavy keys, q187 HLL counts
    * distincts, q189 CM answers point frequencies; KMV's sketch is the k
    * smallest distinct hash values, whose union-merge (take the k
    * smallest of the combined lists) is EXACTLY the sketch of the union
    * — the property that estimates |A ∪ B| (and via
    * inclusion–exclusion, intersections) from per-partition or per-day
    * sketches without rescanning. Estimate = (k−1)·2^40 DIV h_k, a pure
    * integer both engines reproduce bit-for-bit. Per event type + the
    * all-types union: h_k, estimate, exact distinct, signed error ×1e6
    * via the positive-division form.
    *
    * Scale: the distinct (group, hash) agg is the only corpus-sized
    * step (map-side combinable); the rank window runs per group over
    * distinct hashes and the sketch itself is k rows per group. */
  val q211KmvSketch = QueryDef(
    "q211_kmv_sketch",
    (s, d) => {
      val ev = Tables.events(s, d)
      val both = ev.select(col("event_type"), col("user_id"))
        .unionByName(ev.select(lit("_all").as("event_type"), col("user_id")))
      val hk = kmvMins(both, col("event_type"), col("user_id"))
        .filter(col("rn") === KmvK)
        .select(col("g").as("event_type"), col("h").as("h_k"))
      val exact = both.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact"))
      hk.join(exact, "event_type")
        .select(col("event_type"), col("h_k"),
          expr(s"(${KmvK - 1} * ${KmvSpace}) DIV h_k").as("kmv_est"),
          col("exact"))
        .withColumn("err_x1m", expr("kmv_est * 1000000 DIV exact - 1000000"))
        .orderBy("event_type")
    },
    Some(s"""WITH uv AS (
           |  SELECT event_type, user_id FROM events
           |  UNION ALL SELECT '_all', user_id FROM events),
           |hs AS (
           |  SELECT DISTINCT event_type,
           |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)) AS BIGINT)
           |      AS h
           |  FROM uv),
           |r AS (
           |  SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
           |  FROM hs),
           |hk AS (SELECT event_type, h AS h_k FROM r WHERE rn = ${KmvK}),
           |x AS (
           |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
           |  FROM uv GROUP BY 1)
           |SELECT hk.event_type, hk.h_k,
           |  CAST(${KmvK - 1} * ${KmvSpace} // h_k AS BIGINT) AS kmv_est,
           |  x.exact,
           |  CAST(${KmvK - 1} * ${KmvSpace} // h_k * 1000000 // x.exact - 1000000
           |    AS BIGINT) AS err_x1m
           |FROM hk JOIN x ON hk.event_type = x.event_type
           |ORDER BY 1""".stripMargin)
  )

  /** q233: sequential-pattern support (the GSP/PrefixSpan length-2
    * counting step, Srikant-Agrawal 1996) — for ordered type pairs
    * a ≺ b WITH ARBITRARY GAP inside a session (user-day), the number
    * of sessions containing the subsequence, plus the confidence
    * support(a≺b)/support(a): "users who search eventually purchase —
    * in how many sessions, and how reliably after an a?". q122's
    * transition matrix counts ADJACENT steps only; subsequence support
    * is what behavioral funnels actually need (intermediate noise
    * events must not break the pattern).
    *
    * Exactness: session = (user, epoch day) — pure integer bucketing;
    * the subsequence relation is position rank i < j with the (ts_ns,
    * event_id) total tiebreak; sessions are counted ONCE per pair via
    * distinct; confidence is a positive fixed-point floor division.
    *
    * Scale: the self-join is WITHIN session keys (quadratic only in
    * per-session length — bounded by the session, the same Σlen² shape
    * as q105's baskets, with the same heavy-session cap policy);
    * everything after is a (type, type) count table. */
  val q233SubsequenceSupport = QueryDef(
    "q233_subsequence_support",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          expr("ts_ns DIV 1000 DIV 86400000000").as("day"),
          col("event_type"), col("ts_ns"), col("event_id"))
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts_ns").asc, col("event_id").asc)
      val ranked = ev.withColumn("rn", row_number().over(w))
        .select(col("user_id"), col("day"), col("event_type"), col("rn"))
        .localCheckpoint()
      val pairs = ranked.as("a")
        .join(ranked.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
            col("a.rn") < col("b.rn"))
        .select(col("a.user_id"), col("a.day"),
          col("a.event_type").as("ante"), col("b.event_type").as("cons"))
        .distinct()
      val support = pairs.groupBy("ante", "cons").agg(count(lit(1)).as("support"))
      val suppA = ranked.select(col("user_id"), col("day"),
          col("event_type").as("ante")).distinct()
        .groupBy("ante").agg(count(lit(1)).as("supp_ante"))
      support.join(suppA, Seq("ante"))
        .select(col("ante"), col("cons"), col("support"), col("supp_ante"),
          expr("support * 1000000 DIV supp_ante").as("conf_x1m"))
        .orderBy(col("support").desc, col("ante").asc, col("cons").asc)
        .limit(20)
    },
    Some("""WITH ev AS (
           |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
           |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
           |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn
           |  FROM events),
           |pairs AS (
           |  SELECT DISTINCT a.user_id, a.day,
           |    a.event_type AS ante, b.event_type AS cons
           |  FROM ev a JOIN ev b
           |    ON b.user_id = a.user_id AND b.day = a.day AND a.rn < b.rn),
           |sup AS (
           |  SELECT ante, cons, CAST(COUNT(*) AS BIGINT) AS support
           |  FROM pairs GROUP BY 1, 2),
           |sa AS (
           |  SELECT ante, CAST(COUNT(*) AS BIGINT) AS supp_ante FROM (
           |    SELECT DISTINCT user_id, day, event_type AS ante FROM ev)
           |  GROUP BY 1)
           |SELECT ante, cons, support, supp_ante,
           |  CAST(support * 1000000 // supp_ante AS BIGINT) AS conf_x1m
           |FROM sup JOIN sa USING (ante)
           |ORDER BY support DESC, ante ASC, cons ASC LIMIT 20""".stripMargin)
  )

  /** q234: mix/rate decomposition of a metric move — per order
    * priority, "WHY did revenue change between the periods": the
    * volume effect ((n₂−n₁)·r₁ — more orders at the old rate), the
    * rate effect (n₁·(r₂−r₁) — the old volume at the new per-order
    * value), and their interaction, with an explicit rounding residual
    * so the four columns sum EXACTLY to Δrevenue. The standard
    * price/volume (mix-shift) bridge every revenue review runs —
    * q178's WoW growth says THAT the metric moved, this says which
    * lever moved it.
    *
    * Exactness: revenue in integer cents (the q186 idiom), per-order
    * rates fixed-point ×1000 (tenth-of-cent — rev·1000 keeps Σ ≤
    * ~3e15 at sf1, documented headroom to sf ~1000); the only
    * divisions are positive-operand floors, the effects are integer
    * PRODUCTS (sign-safe in both engines), and the residual column
    * absorbs the floor rounding so the identity is exact, not
    * approximate.
    *
    * Scale: one conditional agg over the orders scan (the q220 shape —
    * period indicator is a projection), then pure per-segment
    * arithmetic on a 5-row frame. */
  val q234MixRateDecomp = QueryDef(
    "q234_mix_rate_decomp",
    (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          (year(col("o_orderdate")) >= 1998).as("p2"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType).as("cents"))
        .groupBy("priority")
        .agg(sum(when(!col("p2"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("p2"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("p2"), col("cents")).otherwise(0L)).as("rev1"),
          sum(when(col("p2"), col("cents")).otherwise(0L)).as("rev2"))
      base
        .withColumn("r1", expr("rev1 * 1000 DIV n1"))
        .withColumn("r2", expr("rev2 * 1000 DIV n2"))
        .withColumn("delta_x1k", (col("rev2") - col("rev1")) * 1000)
        .withColumn("vol_eff", (col("n2") - col("n1")) * col("r1"))
        .withColumn("rate_eff", col("n1") * (col("r2") - col("r1")))
        .withColumn("inter_eff", (col("n2") - col("n1")) * (col("r2") - col("r1")))
        .withColumn("resid",
          col("delta_x1k") - col("vol_eff") - col("rate_eff") - col("inter_eff"))
        .select("priority", "n1", "n2", "delta_x1k", "vol_eff", "rate_eff",
          "inter_eff", "resid")
        .orderBy("priority")
    },
    Some("""WITH base AS (
           |  SELECT o_orderpriority AS priority,
           |    CAST(SUM(CASE WHEN year(o_orderdate) >= 1998 THEN 0 ELSE 1 END) AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(SUM(CASE WHEN year(o_orderdate) >= 1998 THEN 0
           |      ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END) AS BIGINT) AS rev1,
           |    CAST(SUM(CASE WHEN year(o_orderdate) >= 1998
           |      THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev2
           |  FROM orders GROUP BY 1),
           |x AS (
           |  SELECT priority, n1, n2, rev1, rev2,
           |    rev1 * 1000 // n1 AS r1, rev2 * 1000 // n2 AS r2,
           |    (rev2 - rev1) * 1000 AS delta_x1k
           |  FROM base)
           |SELECT priority, n1, n2, CAST(delta_x1k AS BIGINT) AS delta_x1k,
           |  CAST((n2 - n1) * r1 AS BIGINT) AS vol_eff,
           |  CAST(n1 * (r2 - r1) AS BIGINT) AS rate_eff,
           |  CAST((n2 - n1) * (r2 - r1) AS BIGINT) AS inter_eff,
           |  CAST(delta_x1k - (n2 - n1) * r1 - n1 * (r2 - r1)
           |    - (n2 - n1) * (r2 - r1) AS BIGINT) AS resid
           |FROM x ORDER BY priority""".stripMargin)
  )

  /** q258: JOIN-SIZE ESTIMATION via the Count-Min inner product — the
    * pre-flight estimator for q218's exact join-explosion audit (and
    * the size question q256's click×purchase pairing asks before
    * running): |A ⋈_k B| = Σ_k c_A(k)·c_B(k), estimated per sketch row
    * as Σ_b cells_A(j,b)·cells_B(j,b) and min'd over the 4 rows — the
    * AGMS/CMS construction, whose estimate is a PROVABLE overestimate
    * (hash collisions only ever add nonnegative cross terms), so
    * `overcount ≥ 0` is an invariant the oracle hash verifies, not a
    * hope. Cost: two 2048-cell sketches + a 2048-row cell join,
    * regardless of input size — the planner-style "will this join blow
    * up" answer without touching the join; the EXACT pair count is
    * computed alongside (one per-key count join) to expose the error.
    * Merging shards is cell-wise `+`, so at 100 TB the sketches build
    * map-side and the estimate is metadata-sized. */
  val q258CmJoinSize = QueryDef(
    "q258_cm_join_size",
    (s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click").select(col("user_id"))
      val b = ev.filter(col("event_type") === "purchase").select(col("user_id"))
      val estByRow = cmCells(a, col("user_id")).withColumnRenamed("c", "ca")
        .join(cmCells(b, col("user_id")).withColumnRenamed("c", "cb"), Seq("j", "b"))
        .groupBy("j").agg(sum(col("ca") * col("cb")).as("e"))
      val est = estByRow.agg(min("e").as("cm_est"))
      val exact = a.groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(b.groupBy("user_id").agg(count(lit(1)).as("nb")), "user_id")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_pairs"))
      exact.crossJoin(est)
        .select(col("exact_pairs"), col("cm_est"),
          (col("cm_est") - col("exact_pairs")).as("overcount"))
    },
    Some(s"""WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
           |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
           |ca AS (
           |  SELECT j, CAST(('0x' || substr(md5(j || '#' || user_id), 1, 15)) AS BIGINT)
           |    % ${CmWidth} AS bkt, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM a, range(0, $CmRows) t(j) GROUP BY 1, 2),
           |cb AS (
           |  SELECT j, CAST(('0x' || substr(md5(j || '#' || user_id), 1, 15)) AS BIGINT)
           |    % ${CmWidth} AS bkt, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM b, range(0, $CmRows) t(j) GROUP BY 1, 2),
           |est AS (
           |  SELECT ca.j, SUM(ca.c * cb.c) AS e
           |  FROM ca JOIN cb ON ca.j = cb.j AND ca.bkt = cb.bkt GROUP BY ca.j),
           |exact AS (
           |  SELECT CAST(COALESCE(SUM(na.c * nb.c), 0) AS BIGINT) AS exact_pairs
           |  FROM (SELECT user_id, COUNT(*) AS c FROM a GROUP BY 1) na
           |  JOIN (SELECT user_id, COUNT(*) AS c FROM b GROUP BY 1) nb
           |    USING (user_id))
           |SELECT exact_pairs, CAST(MIN(e) AS BIGINT) AS cm_est,
           |  CAST(MIN(e) - exact_pairs AS BIGINT) AS overcount
           |FROM exact, est GROUP BY exact_pairs""".stripMargin)
  )

  /** q262: SEGMENT OVERLAP via native bitmaps — exact distinct users
    * per order-priority segment AND each segment's intersection/union
    * with the URGENT segment, computed with [[graft.functions
    * .BitmapBuild]] (a native `TypedImperativeAggregate`: fixed
    * `domain`-bit bitmap state, word-wise-OR merge) and the
    * `bitmap_count/and/or` scalar algebra. The overlap question
    * ("users in BOTH segments") normally forces a fact-table self-join
    * or a two-pass `COUNT(DISTINCT)` Expand; here the fact table is
    * touched ONCE — five constant-size bitmaps come out of one
    * hash aggregate (full map-side combine, one shuffle of
    * `domain/8`-byte blocks), and every overlap/union is arithmetic
    * over those aggregated values against the 1-row broadcast URGENT
    * bitmap. Exactness is the point: unlike MinHash/HLL overlap
    * estimates, bitmap set algebra is bit-for-bit — DuckDB recomputes
    * the same counts from DISTINCT + IN and the hashes must match.
    * Domain 2^18 (32 KB/group) covers the custkey space at every SF
    * with the out-of-domain guard failing loudly if data outgrows it.
    * The [[graft.Scale]] `bm` phase times it against COUNT(DISTINCT)'s
    * two-shuffle Expand at scale, counts identical;
    * BitmapSpec pins build ≡ countDistinct across partitionings, the
    * algebra against set ops, merge determinism of the binary
    * encoding, and the guard. */
  val q262BitmapSegments = QueryDef(
    "q262_bitmap_segments",
    (s, d) => {
      import graft.functions.GraftFunctions._
      val bm = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(bitmapBuild(col("o_custkey"), lit(1 << 18)).as("bm"),
          count(lit(1)).as("n_orders"))
      val urgent = bm.filter(col("priority") === "1-URGENT")
        .select(col("bm").as("bm_u"))
      bm.crossJoin(broadcast(urgent)) // 1-row scalar broadcast
        .select(col("priority"), col("n_orders"),
          bitmapCount(col("bm")).as("n_users"),
          bitmapCount(bitmapAnd(col("bm"), col("bm_u"))).as("n_also_urgent"),
          bitmapCount(bitmapOr(col("bm"), col("bm_u"))).as("n_union_urgent"))
        .orderBy("priority")
    },
    Some("""WITH po AS (
           |  SELECT DISTINCT o_orderpriority AS priority, o_custkey AS c
           |  FROM orders),
           |u AS (SELECT c FROM po WHERE priority = '1-URGENT'),
           |base AS (
           |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_users,
           |    CAST(SUM(CASE WHEN c IN (SELECT c FROM u) THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_also_urgent
           |  FROM po GROUP BY priority),
           |no AS (SELECT o_orderpriority AS priority,
           |  CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
           |SELECT priority, n_orders, n_users, n_also_urgent,
           |  CAST(n_users + (SELECT COUNT(*) FROM u) - n_also_urgent AS BIGINT)
           |    AS n_union_urgent
           |FROM base JOIN no USING (priority)
           |ORDER BY priority""".stripMargin)
  )

  /** q269: HLL SET INTERSECTION — the approximate complement of q262's
    * exact bitmaps, for UNBOUNDED key domains: estimate |click ∩
    * purchase| users by inclusion-exclusion over three HLL estimates,
    * where the UNION sketch is built by the register-level MERGE
    * (bucket-wise max over the two sketches via a full-outer join) —
    * the algebra that makes HLL the 100 TB overlap tool: segment
    * sketches are 256-cell frames you can union ACROSS days/tables
    * without re-touching the facts, and intersection falls out as
    * arithmetic. Every step is the q187 md5-bridge integer pipeline
    * (register construction IS [[hllRegisters]], the same code object),
    * so "approximately right" is checkable as EXACTLY right: DuckDB
    * rebuilds identical registers, merges the same way, and the exact
    * intersection rides along to expose the inclusion-exclusion error
    * (error compounds across the three estimates — the documented trade
    * vs q262's exact algebra when the domain is bounded). */
  val q269HllIntersect = QueryDef(
    "q269_hll_intersect",
    (s, d) => {
      val ev = Tables.events(s, d)
      def regsFor(t: String) =
        hllRegisters(ev.filter(col("event_type") === t), "event_type",
          col("user_id")).select(col("bucket"), col("m"))
      // the 256-row register frames are each consumed twice (their own
      // estimate + the union merge) — checkpoint so the shared lineage
      // is materialized once instead of re-scanned per consumer
      val ra = regsFor("click").localCheckpoint()
      val rb = regsFor("purchase").localCheckpoint()
      // sketch UNION = bucket-wise max — the HLL merge, as a plain
      // equi-join over 256-cell frames
      val ru = ra.withColumnRenamed("m", "ma")
        .join(rb.withColumnRenamed("m", "mb"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          greatest(coalesce(col("ma"), lit(0L)), coalesce(col("mb"), lit(0L))).as("m"))
      def estOf(regs: DataFrame, name: String) =
        regs.agg(count(lit(1)).as("n_hit"),
            sum(expr("CAST(1 AS BIGINT) << (33 - m)")).as("d_hit"))
          .select(expr(
            s"(${HllBuckets * HllBuckets} * ${1L << 33} DIV " +
              s"(d_hit + ($HllBuckets - n_hit) * ${1L << 33})) " +
              s"* $HllAlphaX1m DIV 1000000").as(name))
      val exactInter = ev.filter(col("event_type") === "click")
        .select("user_id").distinct()
        .intersect(ev.filter(col("event_type") === "purchase")
          .select("user_id").distinct())
        .agg(count(lit(1)).as("exact_inter"))
      estOf(ra, "est_click")
        .crossJoin(estOf(rb, "est_purchase"))
        .crossJoin(estOf(ru, "est_union"))
        .crossJoin(exactInter) // all 1-row scalar broadcasts
        .select(col("est_click"), col("est_purchase"), col("est_union"),
          (col("est_click") + col("est_purchase") - col("est_union"))
            .as("est_inter"),
          col("exact_inter"))
    },
    Some(s"""WITH h AS (
           |  SELECT event_type,
           |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
           |      AS BIGINT) AS h
           |  FROM events WHERE event_type IN ('click', 'purchase')),
           |r AS (
           |  SELECT event_type, h // 4294967296 AS bucket,
           |    MAX(bit_count(xor(h % 4294967296 + 4294967296,
           |      h % 4294967296 + 4294967296 - 1))) AS m
           |  FROM h GROUP BY 1, 2),
           |ru AS (SELECT bucket, MAX(m) AS m FROM r GROUP BY 1),
           |ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM r WHERE event_type = 'click'),
           |eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM r WHERE event_type = 'purchase'),
           |eu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit FROM ru),
           |est AS (
           |  SELECT
           |    CAST((${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (ea.d_hit + ($HllBuckets - ea.n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 AS BIGINT) AS est_click,
           |    CAST((${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (eb.d_hit + ($HllBuckets - eb.n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 AS BIGINT) AS est_purchase,
           |    CAST((${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (eu.d_hit + ($HllBuckets - eu.n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 AS BIGINT) AS est_union
           |  FROM ea, eb, eu),
           |xi AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
           |  INTERSECT
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
           |SELECT est_click, est_purchase, est_union,
           |  CAST(est_click + est_purchase - est_union AS BIGINT) AS est_inter,
           |  exact_inter
           |FROM est, xi""".stripMargin)
  )

  /** q275: the CUBE OF SKETCHES — distinct users per (type, week),
    * per type, per week, AND overall from ONE register build: HLL
    * registers materialize at the finest grain (type × week × bucket)
    * and every coarser cube cell is a `max` ROLLUP of those registers —
    * the property exact distinct counts fundamentally lack (distincts
    * don't add across cells; registers max-merge along any lattice
    * edge). This is how a 100 TB serving layer answers "distinct users
    * for ANY dimension combination" without one scan per combination:
    * touch the facts once, roll registers up the lattice as metadata.
    * All integer md5-bridge arithmetic (the q187 discipline), so DuckDB
    * rebuilds the same lattice and every estimate hash-matches; rolled
    * dimensions are labeled '(all)' / −1 to keep one typed frame. */
  val q275HllCube = QueryDef(
    "q275_hll_cube",
    (s, d) => {
      val h = conv(substring(md5(col("user_id").cast(StringType)), 1, 10), 16, 10)
        .cast(LongType)
      val regs = Tables.events(s, d)
        .select(col("event_type"), expr("(ts_ns DIV 1000) DIV 604800000000").as("wk"), h.as("h"))
        .withColumn("bucket", expr("h DIV 4294967296"))
        .withColumn("x", expr("h % 4294967296 + 4294967296"))
        .withColumn("rho", expr("bit_count(x ^ (x - 1))"))
        .groupBy("event_type", "wk", "bucket").agg(max("rho").as("m"))
        .localCheckpoint() // finest grain once; every level rolls from it
      def estOver(grouped: DataFrame, keys: Column*): DataFrame =
        grouped.groupBy(keys: _*)
          .agg(count(lit(1)).as("n_hit"),
            sum(expr("CAST(1 AS BIGINT) << (33 - m)")).as("d_hit"))
          .withColumn("est", expr(
            s"(${HllBuckets * HllBuckets} * ${1L << 33} DIV " +
              s"(d_hit + ($HllBuckets - n_hit) * ${1L << 33})) " +
              s"* $HllAlphaX1m DIV 1000000"))
      val byTW = estOver(regs, col("event_type"), col("wk"))
        .select(lit("1_type_week").as("level"), col("event_type"), col("wk"), col("est"))
      val byT = estOver(
        regs.groupBy("event_type", "bucket").agg(max("m").as("m")), col("event_type"))
        .select(lit("2_type").as("level"), col("event_type"), lit(-1L).as("wk"), col("est"))
      val byW = estOver(
        regs.groupBy("wk", "bucket").agg(max("m").as("m")), col("wk"))
        .select(lit("3_week").as("level"), lit("(all)").as("event_type"), col("wk"), col("est"))
      val total = estOver(regs.groupBy("bucket").agg(max("m").as("m")))
        .select(lit("4_all").as("level"), lit("(all)").as("event_type"),
          lit(-1L).as("wk"), col("est"))
      byTW.unionAll(byT).unionAll(byW).unionAll(total)
        .orderBy("level", "event_type", "wk")
    },
    Some(s"""WITH r AS (
           |  SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
           |    h // 4294967296 AS bucket,
           |    MAX(bit_count(xor(h % 4294967296 + 4294967296,
           |      h % 4294967296 + 4294967296 - 1))) AS m
           |  FROM (SELECT event_type, ts,
           |      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
           |        AS BIGINT) AS h
           |    FROM events)
           |  GROUP BY 1, 2, 3),
           |tw AS (SELECT event_type, wk, CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM r GROUP BY 1, 2),
           |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM (SELECT event_type, bucket, MAX(m) AS m FROM r GROUP BY 1, 2)
           |  GROUP BY 1),
           |w AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM (SELECT wk, bucket, MAX(m) AS m FROM r GROUP BY 1, 2)
           |  GROUP BY 1),
           |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit,
           |  CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS d_hit
           |  FROM (SELECT bucket, MAX(m) AS m FROM r GROUP BY 1))
           |SELECT level, event_type, wk, CAST(est AS BIGINT) AS est FROM (
           |  SELECT '1_type_week' AS level, event_type, wk,
           |    (${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (d_hit + ($HllBuckets - n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 AS est FROM tw
           |  UNION ALL
           |  SELECT '2_type', event_type, -1,
           |    (${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (d_hit + ($HllBuckets - n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 FROM t
           |  UNION ALL
           |  SELECT '3_week', '(all)', wk,
           |    (${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (d_hit + ($HllBuckets - n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 FROM w
           |  UNION ALL
           |  SELECT '4_all', '(all)', -1,
           |    (${HllBuckets * HllBuckets} * ${1L << 33}
           |      // (d_hit + ($HllBuckets - n_hit) * ${1L << 33}))
           |      * $HllAlphaX1m // 1000000 FROM a)
           |ORDER BY level, event_type, wk""".stripMargin)
  )

  /** q277: the EXACT cube of distincts — q275's lattice rollup with
    * bitmaps instead of HLL registers: per-(type, week) user bitmaps
    * built in ONE fact pass, every coarser cell (per type, per week,
    * overall) an OR-merge of the aggregated 32 KB frames via
    * [[graft.functions.BitmapMerge]] — exact at every cell, mergeable
    * along every lattice edge, domain-gated like all bitmap algebra.
    * The declarative alternative — `GROUP BY GROUPING SETS` with
    * `COUNT(DISTINCT)` — EXPANDs the fact scan once per cell class and
    * shuffles distinct pairs twice; the bitmap cube touches facts once
    * and rolls up metadata, and the DuckDB oracle IS that grouping-sets
    * spelling, so the two formulations must agree exactly — the
    * approx/exact pair (q275/q277) documents the trade: registers for
    * unbounded domains, bitmaps when the domain is bounded and exact
    * matters. */
  val q277BitmapCube = QueryDef(
    "q277_bitmap_cube",
    (s, d) => {
      import graft.functions.GraftFunctions._
      val finest = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts_ns DIV 1000) DIV 604800000000").as("wk"), col("user_id"))
        .groupBy("event_type", "wk")
        .agg(bitmapBuild(col("user_id"), lit(1 << 18)).as("bm"))
        .localCheckpoint() // one fact pass; every level rolls from this
      val byTW = finest.select(lit("1_type_week").as("level"),
        col("event_type"), col("wk"), bitmapCount(col("bm")).as("n_users"))
      val byT = finest.groupBy("event_type")
        .agg(bitmapCount(bitmapMerge(col("bm"))).as("n_users"))
        .select(lit("2_type").as("level"), col("event_type"),
          lit(-1L).as("wk"), col("n_users"))
      val byW = finest.groupBy("wk")
        .agg(bitmapCount(bitmapMerge(col("bm"))).as("n_users"))
        .select(lit("3_week").as("level"), lit("(all)").as("event_type"),
          col("wk"), col("n_users"))
      val total = finest.agg(bitmapCount(bitmapMerge(col("bm"))).as("n_users"))
        .select(lit("4_all").as("level"), lit("(all)").as("event_type"),
          lit(-1L).as("wk"), col("n_users"))
      byTW.unionAll(byT).unionAll(byW).unionAll(total)
        .orderBy("level", "event_type", "wk")
    },
    Some("""SELECT
           |  CASE WHEN event_type IS NOT NULL AND wk IS NOT NULL
           |         THEN '1_type_week'
           |       WHEN event_type IS NOT NULL THEN '2_type'
           |       WHEN wk IS NOT NULL THEN '3_week'
           |       ELSE '4_all' END AS level,
           |  COALESCE(event_type, '(all)') AS event_type,
           |  COALESCE(wk, -1) AS wk,
           |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           |FROM (SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
           |        user_id FROM events)
           |GROUP BY GROUPING SETS ((event_type, wk), (event_type), (wk), ())
           |ORDER BY level, event_type, wk""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q105BasketRules, q106MadOutliers, q107TableProfile,
    q110PercentileNorm, q114TopkPerGroup, q126GroupOls, q127ChangePoint,
    q131EquidepthHist, q141KAnonymity, q147ExactMedian, q164BenfordAudit,
    q169Winsorize, q172AprioriTriples, q174ExactAuc, q175Reliability,
    q176LearningCurve, q180GainsTable, q182PoissonBootstrap, q184ItemCf,
    q186WeightedMedian, q187HllSketch, q189CmSketch, q190LedgerRecon,
    q201SlaLatency, q202SupplierHhi, q205AbcClasses, q207KsDrift,
    q211KmvSketch, q233SubsequenceSupport, q234MixRateDecomp, q258CmJoinSize,
    q262BitmapSegments, q269HllIntersect, q275HllCube, q277BitmapCube)
}
