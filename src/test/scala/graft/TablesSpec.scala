package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables.events]] against BOTH physical `ts` encodings the driver
  * has shipped (nanosecond INT64 in rounds 1–4, `timestamp[us]` since
  * 2026-08-13) — the schema drifted under us once and broke 31 queries;
  * this spec makes the next drift a failing test instead.
  *
  * Both branches must present the identical logical schema (`ts_ns`
  * BIGINT exact nanos + `ts` TimestampType µs) with identical values for
  * µs-aligned data.
  *
  * Also pins [[Tables.spread]]'s scale branch: it widens a narrow frame
  * and leaves an already-wide one (multi-file tables at scale) untouched,
  * and the schema memo behind [[Tables.apply]]: later reads start no
  * job, keep the inferred schema and fresh attribute ids, and a table
  * rewritten in place is inferred again.
  */
class TablesSpec extends SparkSpec {

  private val eventFields = Seq("event_id", "user_id", "event_type", "value", "props")

  /** 2026-01-02 03:04:05.123456 UTC, in epoch µs. */
  private val BaseUs = {
    val c = java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5, 123456000)
    c.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L + 123456L
  }

  private def writeFixture(tsCol: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                           dir: String = java.nio.file.Files.createTempDirectory("graft_tables_spec").toString): String = {
    import spark.implicits._
    val base = Seq(
      (1L, BaseUs, 10L, "click", 1.0, """{"k":1}"""),
      (2L, BaseUs + 3600L * 1000000L, 11L, "view", 2.0, null: String))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    tsCol(base).select(("event_id" +: "ts" +: eventFields.tail).map(col): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events read is schema-adaptive: ns INT64 and timestamp[us] yield identical ts_ns/ts") {
    // ns fixture: ts as a plain nanos BIGINT (what the legacy nanosAsLong
    // read of TIMESTAMP(NANOS) parquet presents — LongType either way)
    val nsDir = writeFixture(_.withColumn("ts", col("us") * 1000L))
    // µs fixture: ts as TIMESTAMP_NTZ — exactly what Spark 4 infers from
    // the driver's pandas-written `timestamp[us]` (isAdjustedToUTC=false)
    val usDir = writeFixture(
      _.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))

    val fromNs = Tables.events(spark, nsDir)
    val fromUs = Tables.events(spark, usDir)
    for (df <- Seq(fromNs, fromUs)) {
      assert(df.schema("ts_ns").dataType == LongType)
      assert(df.schema("ts").dataType == TimestampType)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select("event_id", "ts_ns", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id").collect().toSeq
    assert(rows(fromNs) == rows(fromUs),
      "both physical encodings must produce identical logical rows")
    assert(rows(fromNs).map(_.getLong(1)) ==
      Seq(BaseUs * 1000L, (BaseUs + 3600L * 1000000L) * 1000L))
  }

  test("ns branch keeps sub-µs precision exact in ts_ns and truncates ts to µs") {
    val nsDir = writeFixture(_.withColumn("ts", col("us") * 1000L + 789L))
    val df = Tables.events(spark, nsDir).orderBy("event_id")
      .select(col("ts_ns"), unix_micros(col("ts")).as("us"))
    val first = df.head()
    assert(first.getLong(0) == BaseUs * 1000L + 789L, "exact nanos retained")
    assert(first.getLong(1) == BaseUs, "ts truncated to µs, not rounded")
  }

  test("schema-drift sentinel: driver tables carry the expected columns") {
    // The testdata generator has changed a column's physical type under us
    // once (events.ts, r4 → 31 broken queries). This sentinel makes the
    // NEXT drift a single failing test naming the table. Column NAMES only
    // for most tables (benign type evolution is handled downstream);
    // events' logical contract is pinned exactly by the tests above.
    val expected = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    expected.foreach { case (table, cols) =>
      val got = spark.read.parquet(s"${TestSession.sfDir}/$table.parquet")
        .schema.fieldNames.toSeq
      assert(got == cols, s"$table schema drifted: got $got, expected $cols")
    }
  }

  test("events read does not leave the session nanosAsLong flag flipped on µs data") {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(flag)
    try {
      spark.conf.unset(flag)
      // after unset, getOption reports the static default ("false") — the
      // point is that Tables.events must put back whatever it found
      val before = spark.conf.getOption(flag)
      val usDir = writeFixture(
        _.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))
      Tables.events(spark, usDir).collect()
      assert(spark.conf.getOption(flag) == before,
        "µs read must restore the caller's conf (ADVICE: no session-wide side effect)")
    } finally prev.foreach(spark.conf.set(flag, _))
  }

  test("a table read after the first starts no job, keeps the inferred schema and fresh ids") {
    Tables.customer(spark, sfDir)
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { second = Tables.customer(spark, sfDir) } == 0,
      "a second read in the session must not infer the schema again")
    assert(second.schema == spark.read.parquet(s"$sfDir/customer.parquet").schema)
    // only the schema is memoized: two reads are two relations with
    // distinct attribute ids, so a self-join resolves both sides
    val a = Tables.customer(spark, sfDir)
    val b = Tables.customer(spark, sfDir)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    assert(a.join(b, a("c_custkey") === b("c_custkey")).count() == a.count())
  }

  test("a table rewritten in place is inferred again: events takes the µs branch after ns") {
    val dir = writeFixture(_.withColumn("ts", col("us") * 1000L))
    try {
      val ns = Tables.events(spark, dir)
      assert(ns.schema.fieldNames.toSeq ==
        Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"), "ns branch")
      writeFixture(_.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)), dir)
      val us = Tables.events(spark, dir)
      assert(us.schema.fieldNames.toSeq ==
        Seq("event_id", "ts", "user_id", "event_type", "value", "props", "ts_ns"),
        "the rewritten file must be inferred again and take the µs branch")
      assert(us.orderBy("event_id").select("ts_ns").collect().map(_.getLong(0)).toSeq ==
        Seq(BaseUs * 1000L, (BaseUs + 3600L * 1000000L) * 1000L))
    } finally Tables.deleteRecursively(new java.io.File(dir))
  }

  test("spread round-robins a frame with too few partitions to defaultParallelism") {
    val target = spark.sparkContext.defaultParallelism
    assert(target > 1, "the spec session must have more than one core")
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    val spread = Tables.spread(narrow)
    assert(spread.rdd.getNumPartitions == target)
    assert(spread.count() == 1000L)
  }

  test("spread leaves a frame with enough partitions (multi-file parquet) untouched") {
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_spec").toString
    try {
      spark.range(0, 1000, 1, target * 2).write.mode("overwrite").parquet(s"$dir/t.parquet")
      val wide = spark.read.parquet(s"$dir/t.parquet")
      assert(wide.rdd.getNumPartitions >= target, "fixture must already be wide enough")
      assert(Tables.spread(wide) eq wide)
    } finally Tables.deleteRecursively(new java.io.File(dir))
  }
}
