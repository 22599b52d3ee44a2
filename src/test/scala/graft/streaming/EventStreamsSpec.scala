package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming behavior over MemoryStream: windowed aggregation,
  * watermark late-data drop, session windows, dedup, stateful running
  * totals. Each test runs micro-batches with processAllAvailable() and
  * asserts on the in-memory sink. */
class EventStreamsSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._
  import EventStreams.Ev

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** Runs `q` and returns the micro-batch count of the one streaming query
    * it starts, with that query's analyzed plan. Progress events reach the
    * listener in order on the listener bus, so every batch has been
    * counted once the query's termination event arrives. */
  private def drainOf(q: graft.QueryDef): (Int, LogicalPlan) = {
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
    import StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val started = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      // delivered synchronously on the stream's thread, while the query is active
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.set(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = batches.incrementAndGet(): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      q.run(spark, sfDir).collect()
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS), s"${q.name}: no termination event")
      (batches.get, started.get.asInstanceOf[StreamingQueryWrapper].streamingQuery.analyzedPlan)
    } finally spark.streams.removeListener(listener)
  }

  test("tumbling window counts with watermark drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStreams.tumblingCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Update()).start()

    input.addData(Ev(ts(5), 1, "click", 1.0), Ev(ts(75), 1, "click", 2.0))
    query.processAllAvailable()
    // watermark is now 75-10=65min — PAST the hour-0 window end (60), so
    // that window is closed and a late minute-20 event must be dropped
    input.addData(Ev(ts(20), 2, "click", 100.0))
    query.processAllAvailable()
    input.addData(Ev(ts(80), 2, "click", 4.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("tumbling")
      .groupBy("w_start").sum("cnt").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // hour-0 window: only the first event (late one dropped); latest state of hour-1: 2 events
    assert(rows.keys.exists(_.startsWith("2024-01-01 00:00")))
    val h0 = spark.table("tumbling").where("w_start = timestamp'2024-01-01 00:00:00'")
      .orderBy($"cnt".desc).select("cnt").as[Long].head()
    assert(h0 == 1L, "late event leaked into closed window")
  }

  test("session window merges events within gap, splits at >= gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // session windows only support Append (emit on finalization) for
    // streaming aggregations
    val query = EventStreams.sessionAgg(input.toDF())
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()
    // user 1: events at 0, 10, 50 min → gap 40 ≥ 30 splits: sessions {0,10}, {50}
    input.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(10), 1, "click", 1.0), Ev(ts(50), 1, "click", 1.0))
    query.processAllAvailable()
    // push the watermark far past both session ends so they finalize
    input.addData(Ev(ts(200), 99, "click", 0.0))
    query.processAllAvailable()
    query.stop()
    val sess = spark.table("sessions").where("user_id = 1")
      .select("sess_start", "n_events").collect()
      .map(r => r.getTimestamp(0).toString.take(19) -> r.getLong(1)).toMap
    assert(sess == Map("2024-01-01 00:00:00" -> 2L, "2024-01-01 00:50:00" -> 1L))
  }

  test("dropDuplicatesWithinWatermark removes repeated event ids") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "event_id")
    val query = EventStreams.dedupEvents(df)
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    input.addData((ts(1), 100L), (ts(2), 100L), (ts(3), 101L))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq == Seq(100L, 101L))
  }

  test("stream-stream interval join matches within the gap, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val query = EventStreams.intervalJoin(clicks.toDF(), buys.toDF(),
        watermark = "10 minutes", maxGap = "30 minutes")
      .writeStream.format("memory").queryName("sjoin").outputMode(OutputMode.Append()).start()

    // user 1: click at :05, buy at :20 (within 30m → match) and buy at
    // :50 (45m later → no match); user 2: buy BEFORE the click → no match
    clicks.addData(Ev(ts(5), 1, "click", 1.0), Ev(ts(10), 2, "click", 2.0))
    buys.addData(Ev(ts(20), 1, "buy", 10.0), Ev(ts(50), 1, "buy", 20.0),
      Ev(ts(5), 2, "buy", 30.0))
    query.processAllAvailable()
    // advance both watermarks far past the interval so matched rows emit
    clicks.addData(Ev(ts(300), 9, "click", 0.0))
    buys.addData(Ev(ts(300), 9, "buy", 0.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("sjoin")
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4))).toSet
    assert(rows.contains((1L, 1.0, 10.0)), s"in-gap match missing: $rows")
    assert(!rows.exists { case (u, _, rv) => u == 1L && rv == 20.0 },
      "out-of-gap right row must not match")
    assert(!rows.exists(_._1 == 2L), "right row before left must not match")
  }

  test("stream-static broadcast enrich") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val query = EventStreams.enrich(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 3, "view", 2.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("enriched").select("user_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("gold"), 3L -> None))
  }

  test("file-sink: stream writes partitioned parquet exactly-once via checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    val query = input.toDF()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0))
    query.processAllAvailable()
    input.addData(Ev(ts(3), 1, "buy", 3.0))
    query.processAllAvailable()
    query.stop()
    // the sink's _spark_metadata commit log makes the directory readable as
    // a consistent batch table (files from uncommitted batches are ignored)
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 1L, 2L))
  }

  test("transformWithState: running max in RocksDB-backed ValueState across batches") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      val query = EventStreams.runningMax(input.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      input.addData(Ev(ts(1), 1, "click", 5.0), Ev(ts(2), 1, "view", 3.0),
        Ev(ts(3), 2, "buy", 7.0))
      query.processAllAvailable()
      input.addData(Ev(ts(4), 1, "buy", 9.0), Ev(ts(5), 2, "view", 1.0))
      query.processAllAvailable()
      query.stop()
      // state carried 5.0 -> 9.0 for user 1; user 2's second-batch value
      // 1.0 must NOT lower the running max 7.0 (the emitted maxima are
      // monotone per user, so max == the final state, order-free)
      val out = spark.table("tws_out").as[(Long, Double)].collect()
        .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).max }
      assert(out == Map(1L -> 9.0, 2L -> 7.0))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState event-time TIMERS close idle sessions as the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      val query = EventStreams.sessionCloses(input.toDS(), gapMs = 30000L)
        .writeStream.format("memory").queryName("timer_out")
        .outputMode(OutputMode.Append()).start()
      // user 1: two events ending at t=3s → timer armed at 33s
      input.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(3), 1, "view", 2.0))
      query.processAllAvailable()
      // user 7 at t=100s advances the watermark to 90s ≫ 33s; the timer
      // fires with NO further input for user 1 — that's the point
      input.addData(Ev(ts(100), 7, "click", 1.0))
      query.processAllAvailable()
      // one more batch so the expired-timer pass definitely ran
      input.addData(Ev(ts(200), 7, "view", 1.0))
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("timer_out").as[EventStreams.SessionClose].collect()
      val u1 = rows.filter(_.user_id == 1L)
      assert(u1.length == 1, s"exactly one close for user 1, got ${rows.toSeq}")
      assert(u1.head.n_events == 2L, "close carries the session's event count")
      assert(u1.head.closed_at_ms == ts(3).getTime + 30000L, "timer fired at maxTs + gap")
      // user 7 kept producing inside its gap's watermark horizon — still open
      assert(!rows.exists(_.user_id == 7L), "live session must not close")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch sink: batch-id partitioned writes are idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feb_ckpt").toString
    val query = EventStreams.foreachBatchParquet(input.toDF(), out, ckpt)
    input.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0))
    query.processAllAvailable()
    input.addData(Ev(ts(3), 3, "buy", 3.0))
    query.processAllAvailable()
    query.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // simulate a replay of batch 0: same batchId -> overwrite, not duplicate
    val replay = Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0)).toDF()
    replay.write.mode("overwrite").parquet(s"$out/batch=0")
    assert(spark.read.parquet(out).count() == 3, "replayed batch must not duplicate")
  }

  test("observe(): quality metrics ride along with the micro-batch, no second scan") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStreams.observed(input.toDF())
      .writeStream.format("memory").queryName("obs_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", -2.0),
      Ev(ts(3), 3, "buy", 3.0))
    query.processAllAvailable()
    val metrics = query.lastProgress.observedMetrics.get("graft_metrics")
    query.stop()
    assert(metrics != null, "observed metrics missing from progress")
    assert(metrics.getAs[Long]("n_rows") == 3)
    assert(metrics.getAs[Long]("n_neg_value") == 1)
    assert(metrics.getAs[Long]("n_null_user") == 0)
  }

  test("Trigger.AvailableNow: rate-limited backfill processes everything, then stops") {
    // the batch-backfill idiom: catch up on all files present at start in
    // bounded micro-batches (maxFilesPerTrigger caps per-batch input so a
    // 100 TB backlog doesn't become one giant batch), then terminate —
    // no always-on cluster for a catch-up job
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow")
    val src = Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0),
      Ev(ts(3), 3, "buy", 3.0)).toDF()
    (0 until 3).foreach(i => src.limit(1).write.parquet(s"$dir/f$i"))
    // stage the three single-row tables as one source directory
    val stage = java.nio.file.Files.createTempDirectory("graft_avnow_src")
    (0 until 3).foreach { i =>
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(f, stage.resolve(s"part-$i.parquet"))
    }
    val q = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
      .writeStream.format("memory").queryName("avnow_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append()).start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(spark.table("avnow_out").count() == 3)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "maxFilesPerTrigger=1 must split the backfill into multiple batches")
  }

  test("file-source stream over the real events parquet matches the batch result") {
    // the unbounded twin of a batch read: same parquet, readStream + schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file source wants a directory — stage the table file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"))
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val stream = spark.readStream.schema(batch.schema)
      .parquet(dir.toString)
      .groupBy("event_type").count()
    val q = stream.writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("filestream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = batch.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == expected)
  }

  test("flatMapGroupsWithState emits zero-or-more rows per group with running state") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val input = MemoryStream[Ev]
    val query = EventStreams.milestones(input.toDS())
      .writeStream.format("memory").queryName("milestones").outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 5, "click", 1.0), Ev(ts(2), 5, "click", 1.0))
    query.processAllAvailable() // 2 events: no milestone yet
    input.addData(Ev(ts(3), 5, "click", 1.0), Ev(ts(4), 5, "click", 1.0))
    query.processAllAvailable() // 4 events: milestone_3 fired
    query.stop()
    val kinds = spark.table("milestones").select("kind").as[String].collect().sorted.toSeq
    assert(kinds == Seq("milestone_3"))
  }

  test("mapGroupsWithState accumulates per-user running totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val input = MemoryStream[Ev]
    val query = EventStreams.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("running").outputMode(OutputMode.Update()).start()
    input.addData(Ev(ts(1), 7, "click", 1.5))
    query.processAllAvailable()
    input.addData(Ev(ts(2), 7, "click", 2.5))
    query.processAllAvailable()
    query.stop()
    // latest state for user 7: 2 events, 4.0 total
    val last = spark.table("running").where("user_id = 7").orderBy($"n".desc).as[EventStreams.UserRunning].head()
    assert(last.n == 2L && last.total == 4.0)
  }

  test("q98 streaming dedup emits exactly the batch-distinct key set") {
    import org.apache.spark.sql.functions._
    val res = EventStreams.q98StreamingDedup.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns DIV 21600000000000").as("bucket"))
      .distinct().orderBy("user_id", "event_type", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(res.nonEmpty && res == batch)
    // the corpus genuinely contains duplicates within buckets — the
    // dedup state did real work, this isn't a vacuous distinct
    val raw = graft.Tables.events(spark, sfDir).count()
    assert(res.size < raw, s"no duplicates collapsed: ${res.size} of $raw")
  }

  test("q121: streaming left-outer interval join ≡ batch twin; unmatched views null-padded") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.q121StreamingOuterJoin.run(spark, graft.TestSession.sfDir).collect()
    assert(got.exists(_.getLong(4) == -1L),
      "at least one view with no click within 30 min must appear null-padded")
    val ev = graft.Tables.events(spark, graft.TestSession.sfDir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_us"),
        col("event_id").as("view_id"), col("value").as("view_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_us").as("cus"),
        col("event_id").as("cid"), col("value").as("click_value"))
    val batch = v.join(c,
        col("user_id") === col("cu") &&
          col("cus") >= col("view_us") && col("cus") <= col("view_us") + 1800000000L,
        "left_outer")
      .select(col("user_id"), col("view_us"), col("view_id"), col("view_value"),
        coalesce(col("cus"), lit(-1L)).as("click_us"),
        coalesce(col("cid"), lit(-1L)).as("click_id"), col("click_value"))
      .orderBy("user_id", "view_us", "view_id", "click_us", "click_id")
    assert(got.toSeq == batch.collect().toSeq,
      "streaming buffered-state outer matching ≡ batch left-outer theta join")
  }

  test("q163: streaming FULL outer interval join null-pads BOTH directions") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.q163StreamingFullOuterJoin
      .run(spark, graft.TestSession.sfDir).collect()
    assert(got.exists(_.getLong(4) == -1L), "views without clicks null-pad right")
    assert(got.exists(_.getLong(1) == -1L), "clicks without views null-pad left")
    // row count = left-outer rows + orphaned clicks
    val ev = graft.Tables.events(spark, graft.TestSession.sfDir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("vus"), col("event_id").as("vid"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_us").as("cus"), col("event_id").as("cid"))
    val cond = col("user_id") === col("cu") &&
      col("cus") >= col("vus") && col("cus") <= col("vus") + 1800000000L
    val expectRows = v.join(c, cond, "full_outer").count()
    assert(got.length.toLong == expectRows, "≡ batch full-outer cardinality")
  }

  test("q161: foreachBatch serving-table merge ≡ batch per-user aggregates") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.q161ForeachBatchMerge
      .run(spark, graft.TestSession.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = graft.Tables.events(spark, graft.TestSession.sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 10.0 + 0.5).cast("long")).as("sv"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq,
      "merged serving table carries every user's cumulative aggregate")
    assert(got.map(_._1).distinct.length == got.length, "one row per key after upsert")
  }

  test("drain read-backs carry the schema inference gives: q111 sink, q161 serving table") {
    import org.apache.spark.sql.functions.col
    // the drains pass the schema they planned instead of inferring it;
    // it must match inference over the same files field for field —
    // names, types and nullability
    for (q <- Seq(EventStreams.q111StreamingHighs, EventStreams.q161ForeachBatchMerge)) {
      val df = q.run(spark, graft.TestSession.sfDir)
      assert(df.inputFiles.nonEmpty, s"${q.name} reads no files")
      val inferred = spark.read.parquet(df.inputFiles.toSeq: _*)
        .select(df.columns.toSeq.map(col): _*).schema
      assert(df.schema == inferred, s"${q.name}: ${df.schema} != inferred $inferred")
    }
  }

  test("q225: BinnedRangeJoin rewrites the stream-static interval join per micro-batch") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(graft.plans.BinnedRangeJoin.BinWidthKey, "100")
    try {
      val ivs = Seq((1L, 50L, 149L), (2L, 300L, 420L), (3L, 900L, 950L))
        .toDF("iid", "lo", "hi")
      val input = MemoryStream[Long]
      // LEFT OUTER, like q225 itself: unmatched points must survive the
      // micro-batch null-padded, still on the binned path
      val joined = input.toDF().select((col("value") * 37 % 1000).as("pt"))
        .join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"), "left_outer")
      val query = joined.writeStream.format("memory").queryName("q225probe")
        .outputMode(OutputMode.Append()).start()
      input.addData(1L to 200L: _*)
      query.processAllAvailable()
      // the plan that actually ran the batch, post-optimization
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { query.explain(extended = false) }
      query.stop()
      val plan = buf.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"the micro-batch must not nest loops under the rule:\n$plan")
      assert(plan.contains("graft_ptbin") || plan.contains("Generate"),
        s"binned rewrite missing from the micro-batch plan:\n$plan")
      // results equal the batch nested-loop left-outer answer
      val got = spark.table("q225probe").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sorted.toSeq
      val expect = (1L to 200L).map(v => v * 37 % 1000).flatMap { pt =>
        val hits = Seq((1L, 50L, 149L), (2L, 300L, 420L), (3L, 900L, 950L))
          .collect { case (iid, lo, hi) if pt >= lo && pt <= hi => (pt, iid) }
        if (hits.isEmpty) Seq((pt, -1L)) else hits
      }.sorted.toSeq
      assert(got == expect)
      assert(got.exists(_._2 == -1L),
        "fixture must produce unmatched points — the null-pad is the point of the test")
    } finally spark.conf.set(graft.plans.BinnedRangeJoin.BinWidthKey, "0")
  }

  test("drain batch counts: q111 one micro-batch, q64 per-file, q161 per-file merge") {
    // q111's plan has no watermark and no timeout: the whole staged dir
    // is one batch — one state commit, one sink commit
    assert(drainOf(EventStreams.q111StreamingHighs)._1 == 1)
    // q64's watermark needs the data batch, both sentinel batches and the
    // no-data batch that emits what the last watermark closed
    assert(drainOf(EventStreams.q64StreamingTumbling)._1 == 4)
    // the upsert drain keeps its per-file batches: only the batches after
    // the first find a previous serving version to merge into
    val (mergeBatches, _) = drainOf(EventStreams.q161ForeachBatchMerge)
    assert(mergeBatches == 3)
    val served = EventStreams.q161ForeachBatchMerge.run(spark, sfDir).inputFiles
    assert(served.nonEmpty && served.forall(_.contains(s"/v${mergeBatches - 1}/")),
      s"final serving version must be the last batch's merge: ${served.toSeq}")
  }

  test("drainsPerFile: watermark-free plans drain in one batch, clocked plans per file") {
    for (q <- Seq(EventStreams.q200StreamingRateLimit, EventStreams.q225StreamingIntervalLookup,
        EventStreams.q238StreamingMapState, EventStreams.q263StreamingListState)) {
      val (batches, plan) = drainOf(q)
      assert(!EventStreams.drainsPerFile(plan), s"${q.name} needs no sentinel batches")
      assert(batches == 1, s"${q.name}: $batches batches")
    }
    // q268: a watermark through two chained aggregations; q134: event-time timers
    for (q <- Seq(EventStreams.q268ChainedStateful, EventStreams.q134StreamingTimers)) {
      val (batches, plan) = drainOf(q)
      assert(EventStreams.drainsPerFile(plan), s"${q.name} needs the sentinel batches")
      assert(batches == 4, s"${q.name}: $batches batches")
    }
  }

  test("a drain that stages its source leaves no sentinel scratch dir in java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(prefix: String): Set[String] =
      Option(tmp.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getName).toSet
    val srcBefore = dirs("graft_stream_src")
    val sentBefore = dirs("graft_stream_sent")
    // the staged source is memoized per session: a new session stages again
    EventStreams.q111StreamingHighs.run(spark.newSession(), sfDir).collect()
    assert((dirs("graft_stream_src") -- srcBefore).nonEmpty, "the call staged no source")
    assert((dirs("graft_stream_sent") -- sentBefore).isEmpty,
      s"leaked: ${dirs("graft_stream_sent") -- sentBefore}")
  }
}
