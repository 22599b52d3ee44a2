package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioning utilities for the 100 TB regime (SURVEY.md §7 /
  * "Optimize for scale"): co-located joins via bucketing, and manual skew
  * salting for the cases AQE's skew-join splitting can't reach (e.g. a
  * skewed aggregation key).
  */
object ScaleTools {

  /** Write both sides bucketed by the join key so subsequent sort-merge
    * joins between them need NO exchange (the co-located-join setup).
    * Bucketed tables require the catalog (`saveAsTable`), not plain-path
    * parquet. On a real cluster this is the one-time layout cost that
    * amortizes across every later join/agg on the key. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Pre-shuffle both sides once on the join key (`repartition`) so
    * repeated joins/aggregations over the same key reuse the exchange
    * (Spark's ReusedExchange / exchange reuse). */
  def coPartition(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
                  partitions: Int): (DataFrame, DataFrame) =
    (a.repartition(partitions, col(aKey)), b.repartition(partitions, col(bKey)))

  /** Salted join for a skewed fact side: explode the dimension `salt`
    * ways, scatter the fact's hot keys uniformly with a random salt, join
    * on (key, salt). Turns one straggler partition into `salt` even ones.
    * Use when the dim is too big to broadcast and AQE skew splitting
    * (which only splits post-shuffle partitions of sort-merge joins)
    * isn't available on the path. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 salt: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt", (rand(42) * salt).cast("int"))
    val saltedDim = dim.withColumn("_salt", explode(array((0 until salt).map(lit): _*)))
    saltedFact.join(saltedDim,
        saltedFact(factKey) === saltedDim(dimKey) && saltedFact("_salt") === saltedDim("_salt"))
      .drop("_salt")
  }

  /** Bloom-pruned join: build a Bloom filter over the (already-filtered)
    * dimension's join keys, test fact rows against it IN THE SCAN STAGE,
    * then run the exact join on survivors. Results are identical to the
    * plain join — bloom false positives are eliminated by the join
    * itself — but at 100 TB the fact-side shuffle shrinks by roughly the
    * dimension filter's selectivity. This is the manual form of Spark's
    * own runtime row-level filtering (which rewrites joins to an internal
    * `might_contain`); the manual form applies where the planner's
    * heuristics decline — e.g. pruning before a sort-merge join whose dim
    * side is just over the broadcast threshold, or reusing one filter
    * across several downstream joins.
    *
    * The filter itself is materialized on the driver (`stat.bloomFilter`,
    * ~`numBits/8` bytes — the same single-row materialization Spark's
    * runtime filters do via scalar subquery) and embedded as a constant
    * binary literal, so the membership test is a codegen'd expression
    * (`BloomFilterMightContain`), not a scala UDF. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    graft.Setup(fact.sparkSession)
    // Both sides go through xxhash64 so the technique is key-type-agnostic
    // (strings, dates, structs): the bloom holds hashes and the probe
    // hashes the fact key with the same function — the construction
    // Spark's internal runtime-filter rewrite uses. Probing with a raw
    // cast instead would silently prune EVERYTHING for non-long keys.
    val bf = dim.select(xxhash64(col(dimKey)).as("h")).stat
      .bloomFilter("h", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val pruned = fact.filter(
      graft.functions.GraftFunctions.mightContain(lit(bytes), xxhash64(col(factKey))))
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }

  /** Top-N key frequencies — the skew detector to decide salting. One
    * cheap partial-agg pass. */
  def keySkew(df: DataFrame, key: String, topN: Int = 10): Array[(String, Long)] =
    df.groupBy(col(key).cast("string").as("k")).count()
      .orderBy(desc("count")).limit(topN)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  import org.apache.spark.sql.types.{DecimalType, DoubleType}
  import graft.{QueryDef, Tables}
  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  private def dsum(c: Column): Column =
    sum(dec(c)).cast(DecimalType(18, 4)).cast(DoubleType)

  /** q83: bloom-pruned join UNDER THE ORACLE. Bloom pruning is
    * semantically transparent — false positives die in the exact join —
    * so the DuckDB oracle is the PLAIN join: any divergence (a false
    * NEGATIVE dropping rows, a key-type hash mismatch) is a correctness
    * failure, which is exactly what this entry guards. The Spark side
    * prunes lineitem against a bloom over the URGENT orders' keys in the
    * scan stage before the join — at 100 TB the fact shuffle shrinks by
    * the dimension filter's selectivity (~1/3 here; ScaleToolsSpec
    * measures the pruning on a tighter filter). */
  val q83BloomJoin = QueryDef(
    "q83_bloom_join",
    (s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      bloomPrunedJoin(Tables.lineitem(s, d), dim, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n_lines,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_orderpriority = '1-URGENT'
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  /** q84: salted skew join UNDER THE ORACLE. The salt is pure partition
    * scatter — `rand(42)` picks WHICH of the 8 dimension replicas a fact
    * row meets, never WHETHER it joins — so the oracle is again the plain
    * join, and the entry proves result-invariance of the rewrite (the
    * failure mode it guards: a salt-column collision or a replica range
    * mismatch silently dropping or duplicating matches). */
  val q84SaltedJoin = QueryDef(
    "q84_salted_join",
    (s, d) => {
      val dim = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      saltedJoin(Tables.lineitem(s, d), dim, "l_suppkey", "s_suppkey", salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey, COUNT(*) AS n_lines,
           |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
  )

  /** q118: key-skew report UNDER THE ORACLE — the top-20 hottest join/agg
    * keys with their absolute and cumulative load share (×1e6 fixed
    * point). This is [[keySkew]]'s driver-side diagnostic promoted to a
    * verified query: the report that decides WHETHER q84's salting is
    * needed (a top key above ~1/partitions of the load ⇒ a straggler) and
    * how many replicas to use.
    *
    * Plan shape at 100 TB: the per-key count is one partial+final hash
    * agg over the corpus; the ranking window then runs over the KEY
    * TABLE (|distinct keys| rows — metadata-sized next to the corpus),
    * never the raw data, and the top-20 limit bounds the output. The
    * total is a broadcast scalar. */
  val q118SkewReport = QueryDef(
    "q118_skew_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.LongType
      val c = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").cast(LongType).as("key"))
        .agg(count(lit(1)).as("cnt"))
      val total = c.agg(sum(col("cnt")).as("total"))
      // constant partition key: the frame is the metadata-sized key table
      // (see scaladoc); silences WindowExec's single-partition warning
      val w = Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("key").asc)
      c.withColumn("rk", row_number().over(w).cast(LongType))
        .withColumn("cum",
          sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("rk") <= 20)
        .crossJoin(broadcast(total))
        .select(col("rk"), col("key"), col("cnt"),
          expr("cnt * 1000000 DIV total").as("share_x1m"),
          expr("cum * 1000000 DIV total").as("cum_share_x1m"))
        .orderBy("rk")
    },
    Some("""WITH c AS (
           |  SELECT CAST(l_suppkey AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM lineitem GROUP BY 1),
           |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
           |r AS (
           |  SELECT key, cnt,
           |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rk,
           |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM c)
           |SELECT rk, key, cnt, cnt * 1000000 // total AS share_x1m,
           |  cum * 1000000 // total AS cum_share_x1m
           |FROM r, t WHERE rk <= 20 ORDER BY rk""".stripMargin)
  )

  /** q167 sampling/bucketing parameters: a 1-in-64 deterministic hash
    * sample proposes 8 range-bucket boundaries. */
  val RangeBuckets = 8
  val RangeSampleMod = 64L

  /** q167: sampled range-partition boundaries + exact balance audit —
    * the statistic behind Spark's own RangePartitioner (and every
    * distributed ORDER BY / repartitionByRange): boundaries are
    * estimated from a SAMPLE, then the whole table is assigned and the
    * realized bucket shares are measured against the ideal 1/8. q131
    * computes the exact equi-depth ground truth; this is the production
    * path — sample, cut, audit — with the deviation ×1e6 as the
    * deliverable (the number that tells an operator whether the sampled
    * boundaries would have balanced the shuffle).
    *
    * Determinism: the sample is the md5-bucket idiom (q58), boundary
    * ranks use q131's `(rn−1)·B div m` bucketing with (cents, orderkey,
    * linenumber) total order, assignment counts strictly-smaller
    * boundaries — every step integer and engine-identical.
    *
    * Plan shape at 100 TB: the single-partition ranking window runs
    * over the SAMPLE only — production RangePartitioner bounds its
    * sample at ~20·partitions rows for exactly this reason, and the
    * boundary frame here is that sample (the 1/64 hash rate stands in
    * for reservoir capping so the oracle stays expressible); the
    * corpus-side work is one narrow scan against a broadcast 7-element
    * boundary array plus a bucket-count hash agg with map-side
    * partials. Nothing corpus-sized sorts or shuffles by value. */
  val q167RangeBoundaryAudit = QueryDef(
    "q167_range_boundary_audit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.LongType
      // spread: the single-row-group scan is 1 task, and all three li
      // passes (md5 sample, assignment, count) run narrow above it
      val li = graft.Tables.spread(graft.Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast(LongType).as("cents"),
          col("l_orderkey"), col("l_linenumber")))
      val h = pmod(conv(substring(md5(concat_ws(":",
        col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10).cast(LongType),
        lit(RangeSampleMod))
      val samp = li.filter(h === 0)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cents").asc, col("l_orderkey").asc,
            col("l_linenumber").asc)))
      val m = samp.agg(count(lit(1)).as("m"))
      val bounds = samp.crossJoin(broadcast(m))
        .withColumn("sb", expr(s"(rn - 1) * $RangeBuckets DIV m"))
        .filter(col("sb") < RangeBuckets - 1)
        .groupBy("sb").agg(max(col("cents")).as("bval"))
      val barr = bounds.agg(sort_array(collect_list(col("bval"))).as("bs"))
      val tot = li.agg(count(lit(1)).as("n"))
      li.crossJoin(broadcast(barr))
        .withColumn("bucket",
          size(filter(col("bs"), b => col("cents") > b)).cast(LongType))
        .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(tot))
        .withColumn("share_x1m", expr("n_rows * 1000000 DIV n"))
        .withColumn("dev_x1m",
          abs(col("share_x1m") - lit(1000000L / RangeBuckets)))
        .select("bucket", "n_rows", "share_x1m", "dev_x1m")
        .orderBy("bucket")
    },
    Some(s"""WITH li AS (
           |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
           |         l_orderkey, l_linenumber
           |  FROM lineitem),
           |samp AS (
           |  SELECT cents, row_number() OVER (
           |    ORDER BY cents, l_orderkey, l_linenumber) AS rn
           |  FROM li
           |  WHERE CAST(('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 15)) AS BIGINT)
           |    % $RangeSampleMod = 0),
           |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM samp),
           |bounds AS (
           |  SELECT sb, CAST(MAX(cents) AS BIGINT) AS bval
           |  FROM (SELECT (rn - 1) * $RangeBuckets // m AS sb, cents
           |        FROM samp CROSS JOIN mm)
           |  WHERE sb < ${RangeBuckets - 1} GROUP BY sb),
           |asg AS (
           |  SELECT cents,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM bounds b WHERE li.cents > b.bval)
           |      AS bucket
           |  FROM li),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li)
           |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) * 1000000 // n AS BIGINT) AS share_x1m,
           |  CAST(ABS(COUNT(*) * 1000000 // n - ${1000000 / RangeBuckets}) AS BIGINT)
           |    AS dev_x1m
           |FROM asg CROSS JOIN tot GROUP BY bucket, n ORDER BY bucket""".stripMargin)
  )

  /** q218: join-explosion audit — the EXACT output cardinality a
    * many-to-many self-join on l_partkey would produce (Σ f(k)² over the
    * per-key frequency histogram), with the top-10 keys ranked by their
    * share of that blowup. q118 profiles ONE side's skew; this is the
    * pre-join planner check for the quadratic failure mode at 100 TB —
    * a join whose estimate is 100× its input must be restructured
    * (pre-aggregate, salt, or semi-join first) BEFORE it runs, and the
    * per-key shares point at exactly which keys to treat. The TOTAL row
    * (key = −1) carries the whole estimate; f·(f−1) would count
    * non-identical pairs — f² matches the unrestricted equi-join.
    *
    * Scale: two aggs over the key histogram (map-side combinable count,
    * then a 1-row Σf² reduction broadcast back — the q118 shape); the
    * corpus shuffles once, keyed by join key, which is the histogram a
    * real planner would already collect. Overflow: f² < 2^63 needs
    * f < 3.0e9 rows PER KEY — beyond it, this key's row set no longer
    * fits any single-task join anyway (the audit would have failed the
    * plan long before the arithmetic). */
  val q218JoinBlowup = QueryDef(
    "q218_join_blowup",
    (s, d) => {
      import org.apache.spark.sql.types.LongType
      val f = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").cast(LongType).as("key"))
        .agg(count(lit(1)).as("f"))
      val tot = f.agg(sum("f").as("in_rows"), sum(expr("f * f")).as("total"))
      val top = f.select(col("key"), col("f"), expr("f * f").as("est_pairs"))
        .orderBy(col("est_pairs").desc, col("key").asc).limit(10)
        .crossJoin(broadcast(tot))
        .select(col("key"), col("f"), col("est_pairs"),
          expr("est_pairs * 1000000 DIV total").as("share_x1m"))
      val total = tot.select(lit(-1L).as("key"), col("in_rows").as("f"),
        col("total").as("est_pairs"), lit(1000000L).as("share_x1m"))
      top.unionByName(total).orderBy(col("est_pairs").desc, col("key").asc)
    },
    Some("""WITH f AS (
           |  SELECT CAST(l_partkey AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS f
           |  FROM lineitem GROUP BY 1),
           |t AS (SELECT CAST(SUM(f) AS BIGINT) AS in_rows,
           |             CAST(SUM(f * f) AS BIGINT) AS total FROM f),
           |top AS (
           |  SELECT key, f, f * f AS est_pairs,
           |    CAST(f * f * 1000000 // total AS BIGINT) AS share_x1m
           |  FROM f, t ORDER BY est_pairs DESC, key ASC LIMIT 10)
           |SELECT * FROM (
           |  SELECT key, f, CAST(est_pairs AS BIGINT) AS est_pairs, share_x1m FROM top
           |  UNION ALL
           |  SELECT -1 AS key, in_rows AS f, total AS est_pairs,
           |    CAST(1000000 AS BIGINT) AS share_x1m FROM t)
           |ORDER BY est_pairs DESC, key ASC""".stripMargin)
  )

  /** q219: cross-table integrity checksum — one (table, n_rows,
    * checksum) row per table in the lake, where the checksum is an
    * order-independent SUM of per-row md5-derived integers over the
    * table's primary key (lineitem's composite key included). This is
    * the replication/migration data contract: after a copy, a backfill,
    * or an engine swap, compare the 10-row manifests — a single lost,
    * duplicated, or key-corrupted row moves the checksum, and because
    * the sum is commutative the check is insensitive to row order and
    * file layout (exactly what differs across engines). The audit-tool
    * companion to q116's row-level snapshot diff: q116 finds WHICH rows
    * changed between two snapshots of one table; q219 is the O(1)-size
    * fleet-wide manifest you compare first.
    *
    * Exactness: md5 → 15 hex chars → BIGINT, reduced mod 1e9 BEFORE the
    * sum so even a 10^9-row table sums below 10^18 < 2^63 in both
    * engines (headroom documented, not assumed).
    *
    * Scale: one narrow key-column scan per table, each a map-side-
    * combinable 1-row agg — no joins, no wide rows; the 10 branches
    * union without a barrier. */
  val q219TableChecksums = QueryDef(
    "q219_table_checksums",
    (s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      def md5mod(c: Column): Column =
        pmod(conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType),
          lit(1000000000L))
      def manifest(name: String, df: DataFrame, key: Column): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum(md5mod(concat(lit(name), lit("#"), key.cast(StringType))))
              .as("checksum"))
          .select(lit(name).as("tbl"), col("n_rows"), col("checksum"))
      manifest("region", Tables.region(s, d), col("r_regionkey"))
        .unionByName(manifest("nation", Tables.nation(s, d), col("n_nationkey")))
        .unionByName(manifest("customer", Tables.customer(s, d), col("c_custkey")))
        .unionByName(manifest("supplier", Tables.supplier(s, d), col("s_suppkey")))
        .unionByName(manifest("part", Tables.part(s, d), col("p_partkey")))
        .unionByName(manifest("orders", Tables.orders(s, d), col("o_orderkey")))
        .unionByName(manifest("lineitem", Tables.lineitem(s, d),
          concat(col("l_orderkey").cast(StringType), lit("_"),
            col("l_linenumber").cast(StringType))))
        .unionByName(manifest("events", Tables.events(s, d), col("event_id")))
        .unionByName(manifest("documents", Tables.documents(s, d), col("doc_id")))
        .unionByName(manifest("embeddings", Tables.embeddings(s, d), col("vec_id")))
        .orderBy("tbl")
    },
    Some {
      def m(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CAST(('0x' || substr(md5('$name' || '#' || $key), 1, 15))
           |    AS BIGINT) % 1000000000) AS BIGINT) AS checksum
           |FROM $tbl""".stripMargin
      Seq(
        m("region", "region", "r_regionkey"),
        m("nation", "nation", "n_nationkey"),
        m("customer", "customer", "c_custkey"),
        m("supplier", "supplier", "s_suppkey"),
        m("part", "part", "p_partkey"),
        m("orders", "orders", "o_orderkey"),
        m("lineitem", "lineitem", "l_orderkey || '_' || l_linenumber"),
        m("events", "events", "event_id"),
        m("documents", "documents", "doc_id"),
        m("embeddings", "embeddings", "vec_id")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
    }
  )

  val all: Seq[QueryDef] = Seq(q83BloomJoin, q84SaltedJoin, q118SkewReport,
    q167RangeBoundaryAudit, q218JoinBlowup, q219TableChecksums)
}
