package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, FlatMapGroupsWithState,
  LogicalPlan, TransformWithState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, LongType,
  MapType, StructType}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Structured Streaming surface over the `events` schema (SURVEY.md §2.8 —
  * all [X]: the reference has no streams; its only asynchronous feature is
  * completion-order iteration, core.py:167-169, covered by
  * [[graft.api.DelayedObjs]]).
  *
  * Every transform here takes a DataFrame that may be bounded OR unbounded
  * (`spark.readStream` / MemoryStream) — the same declarative plan serves
  * both, which is exactly the Structured Streaming contract. Tests feed
  * MemoryStream batches (incl. late rows) and assert sink contents;
  * the batch-equivalent aggregations are oracle-checked in
  * [[graft.operators.EventOps]].
  *
  * Scale notes: every stateful op keys by user_id or window — state is
  * partitioned by the shuffle and bounded by the watermark (Spark drops
  * window/dedup state older than the watermark); `mapGroupsWithState` uses
  * an explicit processing-time timeout so abandoned keys expire.
  */
object EventStreams {

  /** Tumbling-window counts with a watermark: late events beyond 10 min
    * are dropped, window state is purged as the watermark passes. The sum
    * runs in decimal(18,6) (exact, order-independent — micro-batch
    * arrival order must not change the emitted doubles) and is cast back
    * to double on output. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"))
      .select(col("window.start").as("w_start"), col("event_type"), col("cnt"),
        col("sum_dec").cast(DecimalType(18, 4)).cast(DoubleType).as("sum_value"))

  /** Session windows with a 30-min inactivity gap per user — the streaming
    * twin of EventOps.q32 (same end-exclusive gap semantics). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Watermarked exact dedup on event_id — the streaming form of
    * `dropDuplicates`: state holds ids only within the watermark horizon. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stream-static join: enrich a stream with a static dimension (the
    * broadcast-join analog for unbounded input). */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** Stream-STREAM interval join: match each left event with right events
    * for the same user within [0, maxGap] after it. Both sides carry
    * watermarks and the join has an explicit time-range condition, so
    * Spark can bound the buffered state on both sides and evict rows as
    * the watermarks pass — without the range bound, stream-stream joins
    * must buffer forever (the planner rejects them in Append mode). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   watermark: String = "10 minutes",
                   maxGap: String = "30 minutes"): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxGap"))
      .select(col("user_id"), col("l_ts"), col("r_ts"), col("l_value"), col("r_value"))
  }

  final case class UserMax(user_id: Long, max_value: Double)

  /** Spark 4's `transformWithState` processor: per-user running maximum in
    * a typed `ValueState`. Unlike `mapGroupsWithState`, the new API gives
    * named composable state variables (value/list/map), per-state TTL so
    * idle keys expire without a timeout dance, and timers — and it
    * requires the RocksDB state store, which spills to disk instead of
    * holding all keys on-heap: the difference between "state fits in
    * executor memory" and "state fits on executor disk" at 100 TB
    * key cardinalities. */
  class MaxValueProcessor extends StatefulProcessor[Long, Ev, UserMax] {
    @transient private var maxState: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      maxState = getHandle.getValueState[Double]("max",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[UserMax] = {
      val prev = if (maxState.exists()) maxState.get() else Double.NegativeInfinity
      val mx = rows.foldLeft(prev)((m, e) => math.max(m, e.value))
      maxState.update(mx)
      Iterator.single(UserMax(key, mx))
    }
  }

  /** Per-user running max via [[MaxValueProcessor]]. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider on the session. */
  def runningMax(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[UserMax] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new MaxValueProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class SessionClose(user_id: Long, n_events: Long, closed_at_ms: Long)

  /** EVENT-TIME TIMERS — the `transformWithState` feature the other
    * stateful ops don't exercise: emit a row when something does NOT
    * happen. Each user's state carries (event count, max event time); on
    * input the processor re-arms a timer at maxTs + gap, and when the
    * WATERMARK passes the armed expiry, [[SessionCloseProcessor
    * .handleExpiredTimer]] fires — emitting the closed session and
    * clearing the state — with no input row for that key in the batch.
    * This is how production pipelines detect abandoned sessions /
    * missed heartbeats; a `mapGroupsWithState` timeout can approximate
    * it, but timers are per-key re-armable and coexist with TTL state.
    * State and timers are both watermark-bounded: nothing lives past
    * (watermark − gap), which is what makes the operator runnable on an
    * unbounded stream with bounded memory at any key cardinality. */
  class SessionCloseProcessor(gapMs: Long) extends StatefulProcessor[Long, Ev, SessionClose] {
    @transient private var st: ValueState[(Long, Long)] = _ // (n_events, max ts ms)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[SessionClose] = {
      val (n0, mx0) = if (st.exists()) st.get() else (0L, Long.MinValue)
      var n = n0; var mx = mx0
      rows.foreach { e => n += 1; mx = math.max(mx, e.ts.getTime) }
      // re-arm: one live timer per key (delete any stale ones first)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(mx + gapMs)
      st.update((n, mx))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClose] = {
      val (n, _) = if (st.exists()) st.get() else (0L, 0L)
      st.clear()
      Iterator.single(SessionClose(key, n, info.getExpiryTimeInMs))
    }
  }

  /** Close a user's session when no event arrives for `gapMs` of EVENT
    * time (watermark-driven). Requires the RocksDB state store like
    * [[runningMax]]. */
  def sessionCloses(events: Dataset[Ev], gapMs: Long = 30000L)
                   (implicit spark: SparkSession): Dataset[SessionClose] = {
    import spark.implicits._
    events.withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** foreachBatch sink with IDEMPOTENT batch-id partitioning — the
    * arbitrary-sink escape hatch done exactly-once: Spark replays a failed
    * micro-batch under the SAME batchId, and `mode(Overwrite)` into a
    * per-batch directory makes the replay a no-op rewrite instead of a
    * duplicate append. This is the standard recipe for sinks with no
    * native transactional writer (JDBC upserts, external indexes): key
    * the write on (checkpoint, batchId). */
  def foreachBatchParquet(events: DataFrame, path: String,
                          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$id")
      }
      .start()

  /** In-flight data-quality metrics via `observe()`: row counts and
    * violation counters computed inside the SAME pass that processes the
    * data (accumulator-backed, no second scan — at 100 TB a separate
    * quality-check job doubles the read). Metrics surface per micro-batch
    * in `StreamingQueryProgress.observedMetrics` (streaming) or via
    * `QueryExecutionListener` (batch). */
  def observed(events: DataFrame): DataFrame =
    events.observe("graft_metrics",
      count(lit(1)).as("n_rows"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_neg_value"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"))

  final case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  final case class SessionEvent(user_id: Long, kind: String, at: Timestamp)

  /** flatMapGroupsWithState — the generator-shaped stateful op: emits ZERO
    * OR MORE rows per group per batch (here: a "milestone" row every 3rd
    * event per user, none otherwise), state carries the running count. */
  def milestones(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[SessionEvent] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer[SessionEvent]()
          rows.foreach { ev =>
            n += 1
            if (n % 3 == 0) out += SessionEvent(uid, s"milestone_$n", ev.ts)
          }
          state.update(n)
          out.iterator
      }
  }

  /** Shuffle (= state store) partition count pinned into every bounded
    * drain's checkpoint. Each stateful operator commits one state store
    * per shuffle partition PER BATCH, so a drain's tiny micro-batches (one
    * or three, see [[drainAvailableNow]]) pay O(parts) fixed commit cost
    * each — the dominant term at bench scale.
    * The right value is scale-dependent: a production unbounded stream
    * with large keyspaces wants O(cores×executors); a bounded drain of a
    * small backfill wants just enough partitions to spread the state.
    * Fixed at 2 for these drains: the r12 ladder (9-query pack, 2-run
    * medians, degraded box) read 8 → 46.3 s, 4 → 29.8 s, 2 → 33.7 s;
    * re-measured r13 on a clean box over the 7-query stateful core
    * (3-run medians) the ladder reads 4 → 28.3 s, 2 → 23.9 s, 1 → 24.5 s
    * — the per-batch state-store commit cost dominates down to 2
    * partitions at ANY core count (the cost is per state store, not per
    * core), and 1 loses the residual overlap. */
  private val StreamParts = "2"

  private case class Staged(schema: org.apache.spark.sql.types.StructType,
                            tsIsNs: Boolean, stageDir: String)

  /** Memoized staging for [[drainAvailableNow]]: the staged source dir
    * (data copy + 2 watermark sentinels, mtime-ordered) and the schema
    * facts are IDENTICAL for every drain over the same (session, dir) —
    * all 7 streaming oracle queries and every bench repeat reuse one
    * staging instead of re-running the max-ts job and two sentinel
    * writes each time (a [[graft.SessionFrames.memo]] entry). The stage
    * dir lives as long as the JVM ([[keptDir]]). */
  private def stagedSource(s: SparkSession, d: String): Staged =
    graft.SessionFrames.memo(s, ("stagedSource", d))(buildStage(s, d))

  private def buildStage(s: SparkSession, d: String): Staged = {
    // Schema-adaptive, mirroring [[graft.Tables.events]]: the driver has
    // shipped events.ts as both ns INT64 (legacy flag required) and
    // timestamp[us] (flag irrelevant; restored immediately on that branch).
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prevFlag = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    val srcFile = s"$d/events.parquet"
    val raw = graft.Tables(s, d, "events")
    val tsType = raw.schema("ts").dataType
    val tsIsNs = tsType == LongType
    if (!tsIsNs) prevFlag.fold(s.conf.unset(flag))(s.conf.set(flag, _))
    val schema = raw.schema
    val maxNs =
      if (tsIsNs) raw.agg(max(col("ts"))).head().getLong(0)
      else raw.agg(max(unix_micros(col("ts")
        .cast(org.apache.spark.sql.types.TimestampType)))).head().getLong(0) * 1000L

    val stage = keptDir("graft_stream_src")
    val dataCopy = stage.resolve("a-data.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(srcFile), dataCopy)
    // explicit PAST mtimes (never future — the file source must consider
    // every staged file already-arrived at start)
    val t0 = System.currentTimeMillis() - 600000L
    java.nio.file.Files.setLastModifiedTime(dataCopy,
      java.nio.file.attribute.FileTime.fromMillis(t0))
    import s.implicits._
    val HourNs = 3600L * 1000 * 1000 * 1000
    Seq(1, 2).foreach { i =>
      // written outside `stage` so the source dir holds exactly three
      // plain parquet files (no stray subdirs in the stream's listing)
      val sub = java.nio.file.Files.createTempDirectory(s"graft_stream_sent$i")
      val sentinel0 = Seq((-i.toLong, maxNs + 2 * i * HourNs, -1L, "__sentinel__", 0.0, null: String))
        .toDF(schema.fieldNames: _*)
      // the staged sentinel file's physical ts type must match the data
      // file's (the stream reads both under one user-supplied schema)
      val sentinel = if (tsIsNs) sentinel0
        else sentinel0.withColumn("ts",
          timestamp_micros(expr("ts DIV 1000")).cast(tsType))
      sentinel.write.mode("overwrite").parquet(sub.toString)
      // one visible parquet per sentinel, mtime-ordered AFTER the data
      // file so maxFilesPerTrigger=1 batches them last, in order
      val part = java.nio.file.Files.list(sub).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dst = stage.resolve(s"z-sentinel-$i.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 60000L * i))
      graft.Tables.deleteRecursively(sub.toFile)
    }
    Staged(schema, tsIsNs, stage.toString)
  }

  /** File-source stream over a staged dir, normalized to the same
    * logical schema as [[graft.Tables.events]] (`ts` TimestampType +
    * `ts_ns` BIGINT) whichever physical ts type the staged parquet
    * carries — shared by every drain variant. `perFile` reads one staged
    * file per micro-batch (data, then each sentinel, in mtime order);
    * otherwise the whole dir is one micro-batch. */
  private def stagedEventStream(s: SparkSession, staged: Staged,
                                perFile: Boolean): DataFrame = {
    val reader = s.readStream.schema(staged.schema)
    val stream0 = (if (perFile) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(staged.stageDir)
    if (staged.tsIsNs)
      stream0.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
    else
      stream0.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
  }

  /** Whether a drain of `plan` needs the per-file batches: the plan holds
    * an event-time watermark, or a stateful operator whose timeouts or
    * timers run on a clock (event or processing time). Only a batch
    * AFTER the data batch can advance that clock past the data — the
    * sentinel batches' whole purpose. */
  private[streaming] def drainsPerFile(plan: LogicalPlan): Boolean = plan.exists {
    case _: EventTimeWatermark => true
    case f: FlatMapGroupsWithState => f.timeout != GroupStateTimeout.NoTimeout
    case t: TransformWithState => t.timeMode != TimeMode.None()
    case _ => false
  }

  /** `plan` over the staged stream of (session, dir), reading the whole
    * dir as one micro-batch unless the plan [[drainsPerFile]]; then `plan`
    * is applied again to the stream that reads one staged file per batch
    * (planning only analyzes; no job runs). */
  private def plannedDrain(s: SparkSession, d: String)
                          (plan: DataFrame => DataFrame): DataFrame = {
    val staged = stagedSource(s, d)
    val oneBatch = plan(stagedEventStream(s, staged, perFile = false))
    if (drainsPerFile(oneBatch.queryExecution.logical))
      plan(stagedEventStream(s, staged, perFile = true))
    else oneBatch
  }

  /** Starts a drain with the drain confs set: [[StreamParts]] shuffle
    * (= state store) partitions and, for `rocksDb`, the RocksDB state
    * store that `transformWithState` requires. Both are pinned into the
    * checkpoint at query start, so the session confs are restored right
    * after `start` returns; batch queries are unaffected. */
  private def withDrainConfs[A](s: SparkSession, rocksDb: Boolean = false)(start: => A): A =
    graft.QueryDef.withConf(s, Seq("spark.sql.shuffle.partitions" -> StreamParts) ++
      Option.when(rocksDb)(graft.QueryDef.RocksDbProvider): _*)(start)

  /** A fresh temp dir that must outlive the call — the session memo holds
    * a stage dir, and a returned frame reads its sink or serving dir
    * lazily — so Spark's shutdown hook deletes it when the JVM exits. */
  private def keptDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    org.apache.spark.sql.graftext.Bridge.deleteAtExit(dir.toFile)
    dir
  }

  /** The drain harness of the parquet-sink streaming queries: run
    * `plan(stream)` over the staged events source ([[stagedSource]]: the
    * events parquet plus two watermark-advancing sentinel files) through
    * a REAL parquet sink (`Trigger.AvailableNow`, Append mode,
    * checkpoint), await, delete the checkpoint, and return the sink frame
    * — sentinel groups still present (a sentinel must reach the
    * watermark tracker inside the streaming plan; callers filter their
    * own group keys on the bounded sink read instead).
    *
    * The plan decides how many micro-batches the drain runs
    * ([[drainsPerFile]]):
    *  - a plan with an event-time watermark, or with a timeout or timer
    *    clock (q64, q82, q96, q98, q108, q121, q134, q163, q268), reads the
    *    staged files with `maxFilesPerTrigger = 1` in mtime order,
    *    data ≺ s1 ≺ s2: the data batch sets the watermark, s1's batch
    *    (max + 2 h) flushes every real window/session/timer, s2's batch
    *    (max + 4 h) flushes s1's own groups; s2's never emit and are
    *    filtered by the caller anyway. Exactly how a production
    *    bounded-backfill drain works.
    *  - any other plan (q111, q200, q225, q238, q263) has no clock for the
    *    sentinels to advance, so the whole staged dir is ONE micro-batch:
    *    one state commit, one offset/commit-log write, one sink commit.
    *    The sentinel rows still flow through the plan, and the callers
    *    drop them on the sink read as before. */
  private def drainAvailableNow(s: SparkSession, d: String,
                                rocksDb: Boolean = false)
                               (plan: DataFrame => DataFrame): DataFrame = {
    val outDir = keptDir("graft_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    // NOTE: the sentinel must NOT be filtered inside a watermarked
    // streaming plan — its keys are grouping columns, so Catalyst would
    // push the filter below the aggregation into the parquet scan, and
    // the sentinel's event time would never reach the watermark tracker
    // (measured: the watermark then never advances and the final windows
    // never flush).
    val (q, sinkSchema) = withDrainConfs(s, rocksDb) {
      val planned = plannedDrain(s, d)(plan)
      (planned.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start(), planned.schema)
    }
    q.awaitTermination()
    graft.Tables.deleteRecursively(ckpt.toFile)
    s.read.schema(nullable(sinkSchema)).parquet(outDir)
  }

  /** `st` with every field, array element and map value nullable: the
    * schema a plain parquet read infers from files Spark wrote. Read-backs
    * of a drain's own output pass it instead of inferring (a Spark job per
    * read); on a streaming sink's directory the reader relaxes neither a
    * given nor an inferred schema, so it is relaxed here. */
  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case st: StructType => nullable(st)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }

  /** q64: the streaming ENGINE under the DuckDB oracle. q30 oracle-checks
    * the tumbling-window SEMANTICS via a batch twin; this query runs the
    * actual streaming path — file-source stream, watermark + windowed
    * state, Append-mode parquet sink — through [[drainAvailableNow]] and
    * returns the sink contents, which must hash-match the SAME oracle SQL
    * as q30. */
  val q64StreamingTumbling = graft.QueryDef(
    "q64_streaming_tumbling",
    (s, d) =>
      drainAvailableNow(s, d)(tumblingCounts(_))
        .filter(col("event_type") =!= "__sentinel__")
        .select((unix_micros(col("w_start")) * 1000).cast(LongType).as("w_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("w_start", "event_type"),
    // the batch twin's oracle, verbatim: the streaming path must agree
    graft.operators.EventOps.q30Tumbling.oracle
  )

  /** q82: SESSION windows as streaming, under q32's oracle — the stateful
    * shape tumbling can't exercise: `session_window` state MERGES
    * adjacent windows as events arrive instead of bucketing into fixed
    * frames, and Append mode may only emit a session once the watermark
    * proves no future event can extend it. The drained sink is relabeled
    * (per-user ordinal `sess_id` over the bounded sink read — q32's
    * presentation) and must hash-match the batch gaps-and-islands
    * oracle: streaming merge ≡ batch lag/running-sum islands, including
    * the end-exclusive 30-min gap rule. Sum in decimal(18,6) exactly as
    * the batch twin (micro-batch arrival order must not change doubles). */
  val q82StreamingSession = graft.QueryDef(
    "q82_streaming_session",
    (s, d) => {
      val sunk = drainAvailableNow(s, d)(st => st
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"))
        .select(col("session_window.start").as("sess_ts"), col("user_id"),
          col("n_events"),
          col("sum_dec").cast(DecimalType(18, 4)).cast(DoubleType).as("sum_value")))
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sess_start")
      sunk.filter(col("user_id") >= 0) // drop sentinel sessions
        .select(col("user_id"), unix_micros(col("sess_ts")).as("sess_start"),
          col("n_events"), col("sum_value"))
        .withColumn("sess_id", row_number().over(byUser).cast(LongType))
        .select("user_id", "sess_id", "sess_start", "n_events", "sum_value")
        .orderBy("user_id", "sess_id")
    },
    // the batch twin's oracle, verbatim: the streaming path must agree
    graft.operators.EventOps.q32Session.oracle
  )

  /** q96: stream-STREAM interval join executed AS streaming, under a
    * batch DuckDB oracle — the join shape q64/q82's aggregations can't
    * exercise: BOTH inputs are unbounded (views and clicks split from the
    * same file-source stream — a streaming self-join), each carries its
    * own watermark, and the explicit time-range condition
    * (`click ∈ [view, view + 30 min]`) is what lets Spark bound the
    * buffered state on both sides and evict as the watermarks pass —
    * without it, Append-mode stream-stream joins must buffer forever and
    * the planner rejects them. Inner joins emit matches eagerly (no
    * watermark gate on output, unlike Append aggregations), so the
    * sentinel drain rows only exercise state eviction; they carry the
    * `__sentinel__` type and never match.
    *
    * The drained sink must hash-match DuckDB running the equivalent batch
    * interval join — streaming buffered-state matching ≡ batch theta
    * join, at µs precision on both sides (the documented DuckDB parquet
    * ns→µs surface; condition and output identical in µs). Raw `value`
    * doubles pass through both engines untouched from the same parquet,
    * so no decimal reduction is needed. */
  val q96StreamingIntervalJoin = graft.QueryDef(
    "q96_streaming_interval_join",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        val v = st.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("v_ts"),
            col("event_id").as("view_id"), col("value").as("view_value"))
          .withWatermark("v_ts", "10 minutes")
        val c = st.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"), col("value").as("click_value"))
          .withWatermark("c_ts", "10 minutes")
        v.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"))
          .select(col("user_id"), col("v_ts"), col("view_id"),
            col("c_ts"), col("click_id"), col("view_value"), col("click_value"))
      }
      sunk.select(col("user_id"),
          unix_micros(col("v_ts")).as("view_us"), col("view_id"),
          unix_micros(col("c_ts")).as("click_us"), col("click_id"),
          col("view_value"), col("click_value"))
        .orderBy("user_id", "view_us", "view_id", "click_us", "click_id")
    },
    Some("""SELECT v.user_id,
           |  epoch_us(v.ts) AS view_us, v.event_id AS view_id,
           |  epoch_us(c.ts) AS click_us, c.event_id AS click_id,
           |  v.value AS view_value, c.value AS click_value
           |FROM events v JOIN events c ON c.user_id = v.user_id
           | AND v.event_type = 'view' AND c.event_type = 'click'
           | AND epoch_us(c.ts) >= epoch_us(v.ts)
           | AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
           |ORDER BY v.user_id, view_us, view_id, click_us, click_id""".stripMargin)
  )

  /** q121: stream-stream LEFT OUTER interval join executed AS streaming —
    * the unmatched-row shape q96's inner join can't exercise: "every view,
    * with its follow-up clicks OR proof there were none within 30 min"
    * (the abandoned-impression / no-conversion feed). Unlike the inner
    * join, null-padded rows are WATERMARK-GATED: an unmatched left row may
    * only be emitted once the watermark proves no future right row can
    * still match (wm > v_ts + 30 min + delay), and the emission happens in
    * the micro-batch AFTER the one that advanced the watermark — the same
    * one-batch lag as Append aggregations.
    *
    * That gate is why, unlike q96, the sentinel rows MUST flow through
    * BOTH join inputs (the per-side `isin` filters admit them): the global
    * watermark is the MIN across both sides' trackers, so a sentinel seen
    * by only one side would stall it and the last ~40 min of views would
    * never emit their null rows (q108's left-outer-for-the-sentinel trap,
    * in join form). Sentinel keys are negative and filtered on the
    * bounded sink read; the s1 sentinel's own left row never emits (its
    * eviction horizon lies beyond the final watermark) — drained exactly
    * like q64's unflushed sentinel windows.
    *
    * Null-free presentation: the nullable match keys are COALESCEd to -1
    * on BOTH engines so the final ORDER BY is total without relying on
    * engine null-ordering (Spark sorts nulls first, DuckDB last — a
    * hash-compare trap). The drained sink must hash-match DuckDB's batch
    * LEFT JOIN with the identical µs time bound.
    *
    * 100 TB/day shape: state is bounded by arrival-rate × (gap + delay)
    * on both sides — the range condition is what lets Spark evict; the
    * shuffle is the same user-keyed exchange as the batch join. */
  val q121StreamingOuterJoin = graft.QueryDef(
    "q121_streaming_outer_join",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        val v = st.filter(col("event_type").isin("view", "__sentinel__"))
          .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"),
            col("value").as("view_value"))
          .withWatermark("v_ts", "10 minutes")
        val c = st.filter(col("event_type").isin("click", "__sentinel__"))
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"), col("value").as("click_value"))
          .withWatermark("c_ts", "10 minutes")
        v.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"),
          "left_outer")
          .select(col("user_id"), col("v_ts"), col("view_id"), col("view_value"),
            col("c_ts"), col("click_id"), col("click_value"))
      }
      sunk.filter(col("user_id") >= 0) // drop sentinel rows
        .select(col("user_id"),
          unix_micros(col("v_ts")).as("view_us"), col("view_id"), col("view_value"),
          coalesce(unix_micros(col("c_ts")), lit(-1L)).as("click_us"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          col("click_value"))
        .orderBy("user_id", "view_us", "view_id", "click_us", "click_id")
    },
    Some("""SELECT v.user_id,
           |  epoch_us(v.ts) AS view_us, v.event_id AS view_id, v.value AS view_value,
           |  COALESCE(epoch_us(c.ts), -1) AS click_us,
           |  COALESCE(c.event_id, -1) AS click_id,
           |  c.value AS click_value
           |FROM (SELECT * FROM events WHERE event_type = 'view') v
           |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON c.user_id = v.user_id
           | AND epoch_us(c.ts) >= epoch_us(v.ts)
           | AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
           |ORDER BY v.user_id, view_us, view_id, click_us, click_id""".stripMargin)
  )

  /** q98: streaming DEDUPLICATION executed AS streaming — the ingest-side
    * idempotency shape every at-least-once pipeline needs (a redelivered
    * event must not double-count downstream): dedup on an idempotency key
    * (user, type, 6-hour bucket — coarse enough that the synthetic corpus
    * genuinely contains duplicates at every sf, asserted in the spec) via
    * `dropDuplicatesWithinWatermark`,
    * whose state store evicts keys once the watermark passes them — the
    * point of the operator vs classic `dropDuplicates`, which would hold
    * every key forever on an unbounded stream.
    *
    * Determinism: within a micro-batch, WHICH duplicate row is kept is
    * arrival-order-dependent, so the query emits only the KEY columns —
    * the deduped key set is deterministic even though the witness rows
    * are not. The drained sink must hash-match DuckDB's batch
    * `GROUP BY key` over the same parquet (all data arrives in the first
    * batch here, so within-watermark dedup ≡ global distinct; the
    * sentinel batches only exercise state eviction and are filtered on
    * the bounded sink read).
    *
    * 100 TB/day shape: state is one small tuple per key within the
    * watermark horizon — bounded by key arrival rate × delay, not by
    * stream length; the shuffle is on the dedup key, exactly the
    * exchange a batch GROUP BY would do. */
  val q98StreamingDedup = graft.QueryDef(
    "q98_streaming_dedup",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        st.withWatermark("ts", "10 minutes")
          .withColumn("bucket", expr("ts_ns DIV 21600000000000").cast(LongType))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket")
          .select(col("user_id"), col("event_type"), col("bucket"))
      }
      sunk.filter(col("user_id") >= 0) // drop sentinel keys
        .orderBy("user_id", "event_type", "bucket")
    },
    Some("""SELECT user_id, event_type,
           |  CAST(epoch_ns(ts) // 21600000000000 AS BIGINT) AS bucket
           |FROM events GROUP BY 1, 2, 3
           |ORDER BY user_id, event_type, bucket""".stripMargin)
  )

  /** q108: stream–STATIC enrichment join executed AS streaming — the
    * fourth streaming join/agg shape: an unbounded stream joined to a
    * bounded dimension table (user → nation, the classic "enrich events
    * with the user profile" topology), then windowed-aggregated per
    * dimension value. The dim side is a BROADCAST — no state, no
    * watermark on the static side; only the post-join aggregation holds
    * state, exactly the production layout where the profile table rides
    * along as a map-side hash table re-read per micro-batch.
    *
    * The join is LEFT OUTER with the stream on the left — load-bearing
    * for the drain: an inner join would drop the sentinel rows (no
    * matching dim key) BEFORE the aggregation, the watermark would never
    * advance past the real windows, and Append mode would never flush
    * them (the same trap as filtering the sentinel in-plan, see
    * [[drainAvailableNow]]); the sentinels' null nation groups are
    * dropped on the bounded sink read instead. Decimal(18,6) sum as in
    * q30/q82 so micro-batch arrival order cannot reorder double adds.
    *
    * The drained sink must hash-match DuckDB's batch events⋈customer
    * GROUP BY — streaming broadcast enrichment ≡ batch equi-join. */
  val q108StreamingEnrich = graft.QueryDef(
    "q108_streaming_enrich",
    (s, d) => {
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"),
          col("c_nationkey").cast(LongType).as("nationkey"))
      val sunk = drainAvailableNow(s, d) { st =>
        st.withWatermark("ts", "10 minutes")
          .join(broadcast(dim), Seq("user_id"), "left_outer")
          .groupBy(window(col("ts"), "1 hour"), col("nationkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"))
          .select(col("window.start").as("w_ts"), col("nationkey"), col("cnt"),
            col("sum_dec").cast(DecimalType(18, 4)).cast(DoubleType).as("sum_value"))
      }
      sunk.filter(col("nationkey").isNotNull) // drop sentinel (dim-miss) groups
        .select((unix_micros(col("w_ts")) * 1000).cast(LongType).as("w_start"),
          col("nationkey"), col("cnt"), col("sum_value"))
        .orderBy("w_start", "nationkey")
    },
    Some(s"""SELECT (epoch_ns(ts) - (epoch_ns(ts) % ${3600L * 1000000000L})) AS w_start,
           |  CAST(c_nationkey AS BIGINT) AS nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
           |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY 1, 2 ORDER BY w_start, nationkey""".stripMargin)
  )

  /** Typed row for [[q111StreamingHighs]] — value pre-scaled to µ-units
    * so the state comparison and the oracle are pure integers. */
  final case class RecEv(user_id: Long, ts_us: Long, event_id: Long, v: Long)

  /** q111: ARBITRARY stateful processing executed as streaming, under the
    * oracle — the fifth streaming shape (after windowed agg q64/q82,
    * stream-stream join q96, dedup q98, stream-static enrich q108):
    * `flatMapGroupsWithState` with hand-rolled per-key state that no
    * built-in operator expresses — emit an event iff it sets a new
    * personal high-water mark for its user (the "record alert" /
    * threshold-crossing shape). State is ONE long per user (the running
    * max), the smallest possible footprint; the high-water comparison
    * and emission decision are user code, exactly what the escape hatch
    * exists for.
    *
    * Determinism: a group's batch iterator is ARRIVAL-ordered, not
    * time-ordered, so the handler sorts each batch's rows by
    * (ts_us, event_id) before folding — the plan has no watermark and no
    * timeout, so the drain reads it as ONE micro-batch: every event is
    * in that batch and the fold order is total, making the emitted set
    * identical to the batch window formulation the oracle runs (MAX OVER
    * preceding rows). The sentinel rows ride in the same batch under
    * their own negative keys, filtered on the sink read.
    *
    * 100 TB/day shape: state scales with live keys (8 bytes each), the
    * shuffle is the same user-keyed exchange as q32's sessions, and the
    * per-batch sort is bounded by a key's per-batch arrival count. */
  val q111StreamingHighs = graft.QueryDef(
    "q111_streaming_highs",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        import st.sparkSession.implicits._
        st.select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
            col("event_id"), floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
          .as[RecEv]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[Long, RecEv](
            OutputMode.Append(), GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[RecEv], state: GroupState[Long]) =>
              val sorted = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
              var mx = state.getOption.getOrElse(Long.MinValue)
              val out = sorted.flatMap { e =>
                if (e.v > mx) { mx = e.v; Some(e) } else None
              }
              if (mx != Long.MinValue) state.update(mx)
              out.iterator
          }
          .toDF()
      }
      sunk.filter(col("user_id") >= 0) // drop sentinel keys
        .select("user_id", "ts_us", "event_id", "v")
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""WITH base AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
           |  FROM events),
           |m AS (
           |  SELECT user_id, ts_us, event_id, v,
           |    MAX(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |  FROM base)
           |SELECT user_id, ts_us, event_id, v FROM m
           |WHERE prev_max IS NULL OR v > prev_max
           |ORDER BY user_id, ts_us, event_id""".stripMargin)
  )

  /** q134: EVENT-TIME TIMERS under the DuckDB oracle — the sixth
    * streaming shape: [[sessionCloses]] (transformWithState +
    * per-key re-armed timers, RocksDB state store) run through the drain.
    * Every real event arrives in batch 1, so each user's timer is armed
    * once at (last event + 30 s); the two sentinel batches then advance
    * the watermark hours past every armed expiry, and the CLOSES ARE
    * EMITTED BY TIMER CALLBACKS — no input row for any real user in
    * those batches. The oracle is the batch truth the timer protocol
    * must reproduce: per user, its event count and (max event-time ms +
    * 30 000). A timer that fires early/late/twice, drops state, or
    * mis-reads the watermark produces a different row set and fails the
    * hash. Sentinel keys arm timers whose expiries stay beyond the final
    * watermark — never emitted, and filtered by key sign regardless. */
  val q134StreamingTimers = graft.QueryDef(
    "q134_streaming_timers",
    (s, d) => {
      val sunk = drainAvailableNow(s, d, rocksDb = true) { st =>
        implicit val sess: SparkSession = st.sparkSession
        import sess.implicits._
        sessionCloses(
          st.select(col("ts"), col("user_id"), col("event_type"), col("value")).as[Ev],
          gapMs = 30000L).toDF()
      }
      sunk.filter(col("user_id") >= 0) // sentinel keys never close anyway
        .select("user_id", "n_events", "closed_at_ms")
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(max(epoch_us(ts)) // 1000 + 30000 AS BIGINT) AS closed_at_ms
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q161's drain: Update-mode per-user aggregates through a
    * `foreachBatch` MERGE into a versioned parquet "serving table" —
    * the exactly-once upsert recipe for sinks with no transactional
    * writer ([[foreachBatchParquet]] shows the idempotent-write half;
    * this runs the full read-previous → anti-join → union → write-next
    * merge). Each batch directory `v<batchId>` is built from the latest
    * COMPLETE predecessor (checked via _SUCCESS), so a replayed batch
    * overwrites its own version deterministically instead of
    * double-applying — state lives in the serving table itself, exactly
    * how a JDBC/Delta MERGE sink behaves. */
  private def drainForeachBatchMerge(s: SparkSession, d: String): DataFrame = {
    val staged = stagedSource(s, d)
    val agg = stagedEventStream(s, staged, perFile = true)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 10.0 + 0.5).cast(LongType)).as("sv_x10"))
    drainUpsert(s, agg, Seq("user_id"))
  }

  /** Update-mode aggregate → versioned serving table: each micro-batch's
    * updated keys upsert (last-write-wins) into the latest version — the
    * q161 mechanics, parametrized over the aggregate and its key so any
    * incrementally-maintained state (per-user totals, q212's sketch
    * registers) reuses one audited drain.
    *
    * Unlike [[drainAvailableNow]], this drain always runs the per-file
    * batches (its callers stream with `perFile = true`), although no
    * upsert plan has a watermark: only a batch after the first finds a
    * previous version, so the sentinel batches are what run the merge
    * branch (`left_anti` + `unionByName` against it). One batch would
    * write `v0` and never merge. */
  private def drainUpsert(s: SparkSession, agg: DataFrame,
                          keys: Seq[String]): DataFrame = {
    val serve = keptDir("graft_serve").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_serve_ckpt")
    val served = nullable(agg.schema)
    val q = withDrainConfs(s) {
      agg.writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          val sp = batch.sparkSession
          val prev = (id - 1 to 0L by -1)
            .map(v => new java.io.File(s"$serve/v$v"))
            .find(f => new java.io.File(f, "_SUCCESS").exists())
          val merged = prev match {
            case Some(p) =>
              sp.read.schema(served).parquet(p.toString)
                .join(batch.select(keys.map(col): _*), keys, "left_anti")
                .unionByName(batch)
            case None => batch
          }
          merged.write.mode("overwrite").parquet(s"$serve/v$id")
          ()
        }
        .start()
    }
    q.awaitTermination()
    val last = Iterator.from(0).map(v => new java.io.File(s"$serve/v$v"))
      .takeWhile(_.exists()).toSeq
      .filter(f => new java.io.File(f, "_SUCCESS").exists()).last
    graft.Tables.deleteRecursively(ckpt.toFile)
    s.read.schema(served).parquet(last.toString)
  }

  /** q161: the foreachBatch MERGE serving table under the DuckDB oracle.
    * The spec proves the idempotent-replay mechanics; this proves the
    * MERGED STATE is right end-to-end — after the drain, the latest
    * serving-table version must hash-match the batch GROUP BY over all
    * events. Update mode emits each user's FULL new aggregate, so the
    * upsert is last-write-wins per key — the serving-table contract. */
  val q161ForeachBatchMerge = graft.QueryDef(
    "q161_foreachbatch_merge",
    (s, d) =>
      drainForeachBatchMerge(s, d)
        .filter(col("user_id") >= 0) // drop the sentinel key
        .orderBy("user_id"),
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(SUM(CAST(floor(value * 10.0 + 0.5) AS BIGINT)) AS BIGINT) AS sv_x10
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  )

  /** q253's drain: a streaming LEADERBOARD — Update-mode
    * `groupBy(event_type).agg(topk_agg(...))` through the REAL streaming
    * engine, composing two round-7 pieces: the bounded-heap
    * [[graft.functions.BoundedTopK]] aggregate's buffer lives in the
    * streaming STATE STORE (TypedImperativeAggregate state persists as
    * the serialized heap between micro-batches — the same binary
    * round-trip the shuffle path uses, now exercised across batches),
    * and each batch's updated groups upsert into the versioned serving
    * table via [[drainUpsert]] (the q161 mechanics). Because heap-merge
    * is an exact incremental combine, the final serving version is
    * bit-identical to the batch top-k over the whole stream — which is
    * what the oracle states as a plain ROW_NUMBER window. State per
    * group: ≤ k entries, the streaming-leaderboard recipe that never
    * grows with the stream. */
  private def drainStreamingTopK(s: SparkSession, d: String): DataFrame = {
    val staged = stagedSource(s, d)
    val agg = stagedEventStream(s, staged, perFile = true)
      .select(col("event_type"),
        floor(col("value") * 10.0 + 0.5).cast(LongType).as("v_x10"),
        col("event_id"))
      .groupBy("event_type")
      .agg(graft.functions.GraftFunctions.topKAgg(
        struct(col("v_x10"), col("event_id")), lit(5)).as("top"))
    drainUpsert(s, agg, Seq("event_type"))
  }

  val q253StreamingLeaderboard = graft.QueryDef(
    "q253_streaming_leaderboard",
    (s, d) =>
      drainStreamingTopK(s, d)
        .filter(col("event_type") =!= "__sentinel__")
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast(LongType).as("rnk"),
          col("col.v_x10").as("v_x10"), col("col.event_id").as("event_id"))
        .orderBy("event_type", "rnk"),
    Some("""SELECT event_type, CAST(rnk AS BIGINT) AS rnk, v_x10, event_id FROM (
           |  SELECT event_type,
           |    CAST(floor(value * 10.0 + 0.5) AS BIGINT) AS v_x10, event_id,
           |    ROW_NUMBER() OVER (PARTITION BY event_type
           |      ORDER BY CAST(floor(value * 10.0 + 0.5) AS BIGINT) DESC,
           |               event_id DESC) AS rnk
           |  FROM events) t
           |WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin)
  )

  /** q163: stream-stream FULL OUTER interval join executed AS streaming —
    * completes the streaming join matrix (q96 inner, q121 left outer):
    * views with no click in the 30-min horizon null-pad on the right
    * (q121's case) AND clicks preceded by no view null-pad on the left —
    * the "orphaned conversion" rows an attribution audit needs. Both
    * unmatched directions are watermark-GATED (a row is emitted only
    * once the global watermark proves no future partner can arrive), so
    * the drain sentinels must flow through BOTH inputs or the min
    * watermark stalls. Nullable keys COALESCE to −1 on both engines,
    * keeping the final ORDER BY total without engine null-ordering. */
  val q163StreamingFullOuterJoin = graft.QueryDef(
    "q163_streaming_full_outer_join",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        val v = st.filter(col("event_type").isin("view", "__sentinel__"))
          .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"),
            col("value").as("view_value"))
          .withWatermark("v_ts", "10 minutes")
        val c = st.filter(col("event_type").isin("click", "__sentinel__"))
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"), col("value").as("click_value"))
          .withWatermark("c_ts", "10 minutes")
        v.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"),
          "full_outer")
          .select(col("user_id"), col("c_user"), col("v_ts"), col("view_id"),
            col("view_value"), col("c_ts"), col("click_id"), col("click_value"))
      }
      sunk.filter(coalesce(col("user_id"), col("c_user")) >= 0) // drop sentinels
        .select(coalesce(col("user_id"), col("c_user")).as("uid"),
          coalesce(unix_micros(col("v_ts")), lit(-1L)).as("view_us"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          col("view_value"),
          coalesce(unix_micros(col("c_ts")), lit(-1L)).as("click_us"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          col("click_value"))
        .orderBy("uid", "view_us", "view_id", "click_us", "click_id")
    },
    Some("""SELECT COALESCE(v.user_id, c.user_id) AS uid,
           |  COALESCE(epoch_us(v.ts), -1) AS view_us,
           |  COALESCE(v.event_id, -1) AS view_id,
           |  v.value AS view_value,
           |  COALESCE(epoch_us(c.ts), -1) AS click_us,
           |  COALESCE(c.event_id, -1) AS click_id,
           |  c.value AS click_value
           |FROM (SELECT * FROM events WHERE event_type = 'view') v
           |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON c.user_id = v.user_id
           | AND epoch_us(c.ts) >= epoch_us(v.ts)
           | AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
           |ORDER BY uid, view_us, view_id, click_us, click_id""".stripMargin)
  )

  /** Typed row for [[q200StreamingRateLimit]]. */
  final case class QuotaEv(user_id: Long, ts_us: Long, event_id: Long)

  private val QuotaWindowUs = 6L * 3600 * 1000 * 1000
  private val QuotaN = 3L

  /** q200: per-key RATE LIMITING as arbitrary stateful streaming, under
    * the DuckDB oracle — the quota-enforcement shape every ingestion
    * pipeline needs (per-tenant API caps, per-source crawl budgets,
    * per-user abuse throttles): admit only the first 3 events per user
    * per 6-hour window, drop the rest, with the admission decision made
    * in a streaming operator whose only memory is 16 bytes per key
    * (current window, admitted count) — NOT a windowed aggregation: the
    * decision is per-ROW and must be emitted immediately.
    *
    * Batch rows are folded in (ts_us, event_id) order (q111's
    * discipline), so the admitted set is exactly the batch truth:
    * row_number per (user, window) ≤ 3 — which IS the oracle. A
    * state-loss, double-count, or window-boundary bug admits a different
    * row set and fails the hash. Sentinel keys are negative and
    * filtered. */
  val q200StreamingRateLimit = graft.QueryDef(
    "q200_streaming_rate_limit",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        import st.sparkSession.implicits._
        st.select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
          .as[QuotaEv]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[(Long, Long), QuotaEv](
            OutputMode.Append(), GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[QuotaEv], state: GroupState[(Long, Long)]) =>
              val sorted = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
              var (win, cnt) = state.getOption.getOrElse((Long.MinValue, 0L))
              val out = sorted.flatMap { e =>
                val w = e.ts_us / QuotaWindowUs
                if (w != win) { win = w; cnt = 0L }
                if (cnt < QuotaN) { cnt += 1; Some(e) } else None
              }
              state.update((win, cnt))
              out.iterator
          }
          .toDF()
      }
      sunk.filter(col("user_id") >= 0)
        .select(col("user_id"), expr(s"ts_us DIV $QuotaWindowUs").as("win"),
          col("ts_us"), col("event_id"))
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some(s"""WITH base AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |    epoch_us(ts) // ${QuotaWindowUs} AS win
           |  FROM events),
           |r AS (
           |  SELECT user_id, win, ts_us, event_id,
           |    row_number() OVER (PARTITION BY user_id, win
           |      ORDER BY ts_us, event_id) AS rn
           |  FROM base)
           |SELECT user_id, win, ts_us, event_id FROM r WHERE rn <= ${QuotaN}
           |ORDER BY user_id, ts_us, event_id""".stripMargin)
  )

  /** q212: STREAMING SKETCH MAINTENANCE under the oracle — the HLL
    * registers of q187 maintained incrementally: the stream's Update-mode
    * `max(rho)` agg carries register state across micro-batches, each
    * batch's changed cells upsert into the serving table through
    * [[drainUpsert]], and the FINAL table must yield bit-identical
    * estimates to q187's one-shot batch SQL. This is how a production
    * pipeline keeps "distinct users per type, right now" at O(types×256)
    * state with no rescan — and because every step is the md5-bridge
    * integer pipeline, "approximately right" is checkable as EXACTLY
    * right. Register construction is shared with the batch query
    * ([[graft.operators.MiningOps.hllRegisters]] — same code object). */
  val q212StreamingHll = graft.QueryDef(
    "q212_streaming_hll",
    (s, d) => {
      val staged = stagedSource(s, d)
      val regsStream = graft.operators.MiningOps.hllRegisters(
        stagedEventStream(s, staged, perFile = true), "event_type", col("user_id"))
      val regs = drainUpsert(s, regsStream, Seq("event_type", "bucket"))
        .filter(col("event_type") =!= "__sentinel__")
      import graft.operators.MiningOps.{HllAlphaX1m, HllBuckets}
      val est = regs.groupBy("event_type")
        .agg(count(lit(1)).as("n_hit"),
          sum(expr("CAST(1 AS BIGINT) << (33 - m)")).as("d_hit"))
        .select(col("event_type"), col("n_hit"),
          (col("d_hit") + (lit(HllBuckets) - col("n_hit")) * (1L << 33)).as("d"))
        .select(col("event_type"), col("n_hit"),
          expr(s"(${HllBuckets * HllBuckets} * ${1L << 33} DIV d) * $HllAlphaX1m DIV 1000000")
            .as("hll_est"))
      val exact = graft.Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_hit"), col("hll_est"), col("exact"),
          expr("hll_est * 1000000 DIV exact - 1000000").as("err_x1m"))
        .orderBy("event_type")
    },
    // the oracle IS q187's batch formula — the stream-maintained registers
    // must reproduce it exactly
    graft.operators.MiningOps.q187HllSketch.oracle
  )

  /** q225: stream-static INTERVAL lookup under the
    * [[graft.plans.BinnedRangeJoin]] rule — the streaming face of q222:
    * each arriving event carries a point and must find the static
    * intervals containing it (IP→range enrichment, geofence alerting,
    * tariff-band lookup) with NO equi key to hash on. Stream-static
    * joins run the batch planner per micro-batch, so the same optimizer
    * rule rewrites every batch's nested loop into the binned shuffled
    * equi-join — proving the rule composes with Structured Streaming
    * (Q225 spec captures the executed micro-batch plan and asserts no
    * BroadcastNestedLoopJoin ran).
    *
    * Round 7: the lookup is LEFT OUTER — the shape real enrichment
    * pipelines run (an event whose point falls in no known range must
    * still reach the sink, tagged unknown, not be silently dropped).
    * Since the rule's round-7 extension rewrites LeftOuter when the
    * preserved side is the (non-exploded) point side, every micro-batch
    * still takes the binned path; unmatched events land in the iid = -1
    * bucket, whose row EXISTS in the result only because null-padded
    * rows survive the join — an accidentally-inner plan is a missing
    * group here, not a value drift.
    *
    * The join is STATELESS (static side, stream-left outer), so no
    * watermark is involved and the sentinel rows are filtered inside
    * the plan (the stateful-only caveat on [[drainAvailableNow]]'s note
    * does not apply). The bin-width conf stays set across the whole
    * drain — the rule reads it at each batch's optimization — and is
    * restored after. Post-drain, the sink rows aggregate per interval
    * and must hash-match DuckDB's batch LEFT JOIN theta.
    *
    * 100 TB/day shape: per batch the stream side shuffles once on the
    * bin key and the static interval side is re-broadcast/exploded from
    * its (metadata-sized) bins — state footprint zero. */
  val q225StreamingIntervalLookup = graft.QueryDef(
    "q225_streaming_interval_lookup",
    (s, d) => {
      graft.QueryDef.withConf(s, graft.plans.BinnedRangeJoin.BinWidthKey -> graft.operators.Relational.RangeBinWidth.toString) {
        def md5int(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          pmod(conv(substring(md5(c), 1, 15), 16, 10)
            .cast(org.apache.spark.sql.types.LongType), lit(1000000000L))
        val ivs = graft.Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").cast(org.apache.spark.sql.types.LongType).as("iid"),
            md5int(concat(lit("iv#"), col("o_orderkey").cast("string"))).as("lo"))
          .withColumn("hi", col("lo") + graft.operators.Relational.RangeBinWidth)
        val sunk = drainAvailableNow(s, d) { st =>
          st.filter(col("event_type") =!= "__sentinel__")
            .select(col("event_id"),
              md5int(concat(lit("pt#"), col("event_id").cast("string"))).as("pt"))
            .join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"), "left_outer")
            .select(col("event_id"), coalesce(col("iid"), lit(-1L)).as("iid"),
              col("pt"))
        }
        sunk.groupBy("iid")
          .agg(count(lit(1)).as("n_hits"), min("pt").as("first_pt"),
            max("pt").as("last_pt"))
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
           |SELECT COALESCE(iid, -1) AS iid, CAST(COUNT(*) AS BIGINT) AS n_hits,
           |  CAST(MIN(pt) AS BIGINT) AS first_pt,
           |  CAST(MAX(pt) AS BIGINT) AS last_pt
           |FROM pts LEFT JOIN ivs
           |  ON pt >= lo AND pt <= lo + ${graft.operators.Relational.RangeBinWidth}
           |GROUP BY 1 ORDER BY iid""".stripMargin)
  )

  final case class TypeAgg(user_id: Long, event_type: String, n: Long, sv_x1k: Long)

  /** MAP state — the `transformWithState` state-variable kind the other
    * processors don't exercise (q111 ValueState, q134 timers): one
    * RocksDB-backed map PER KEY, sub-keyed by event type, so a user's
    * per-type aggregates update point-wise without deserializing the
    * whole composite state (the difference between a MapState and a
    * ValueState[Map] at 100 TB key cardinalities — RocksDB stores each
    * (key, mapKey) as its own entry). Each batch emits the touched
    * entries' NEW totals; counts are strictly monotone per emission, so
    * the final state is recoverable from an append sink by max-n. */
  class TypeCountProcessor extends StatefulProcessor[Long, Ev, TypeAgg] {
    @transient private var m: org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      m = getHandle.getMapState[String, (Long, Long)]("byType",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[TypeAgg] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (m.containsKey(e.event_type)) m.getValue(e.event_type) else (0L, 0L)
        m.updateValue(e.event_type,
          (prev._1 + 1, prev._2 + math.floor(e.value * 1000.0 + 0.5).toLong))
        touched += e.event_type
      }
      touched.iterator.map { t =>
        val (n, sv) = m.getValue(t)
        TypeAgg(key, t, n, sv)
      }
    }
  }

  /** q238: per-user per-type running aggregates in MapState, drained
    * under the oracle — the serving-state shape of a feature store
    * ("user × feature" counters updated point-wise). All events arrive
    * across the drain's micro-batches; each batch re-emits the touched
    * entries, and since an entry's count strictly increases on every
    * emission, the LAST state per (user, type) is exactly the max-n row
    * in the append sink — which must hash-match DuckDB's batch GROUP
    * BY. A processor that loses a map entry, double-applies a batch, or
    * cross-talks between sub-keys breaks the hash. */
  val q238StreamingMapState = graft.QueryDef(
    "q238_streaming_map_state",
    (s, d) => {
      val sunk = drainAvailableNow(s, d, rocksDb = true) { st =>
        implicit val sess: SparkSession = st.sparkSession
        import sess.implicits._
        st.filter(col("user_id") >= 0 && col("user_id") < 50 &&
            col("event_type") =!= "__sentinel__")
          .select(col("ts"), col("user_id"), col("event_type"), col("value")).as[Ev]
          .groupByKey(_.user_id)
          .transformWithState(new TypeCountProcessor, TimeMode.None(),
            OutputMode.Update())
          .toDF()
      }
      sunk.groupBy("user_id", "event_type")
        .agg(max(struct(col("n"), col("sv_x1k"))).as("last"))
        .select(col("user_id"), col("event_type"),
          col("last.n").as("n"), col("last.sv_x1k").as("sv_x1k"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) AS BIGINT)
           |    AS sv_x1k
           |FROM events WHERE user_id >= 0 AND user_id < 50
           |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)
  )

  final case class PEv(user_id: Long, event_type: String, ts_us: Long, event_id: Long)
  final case class PurchaseCtx(user_id: Long, ts_us: Long, event_id: Long, n_prior_clicks: Long)

  /** LIST state — the third `transformWithState` state-variable kind
    * (q111/q238 cover Value and Map): a per-key ORDERED BUFFER in the
    * RocksDB store, the shape for "what happened recently for this key"
    * questions — here, a bounded look-back of click times so each
    * purchase can be scored with how many clicks preceded it within the
    * attribution window. A ValueState[Seq] must deserialize/reserialize
    * the whole buffer per update; ListState stores each element as its
    * own store entry, so append is O(1) and only the prune pass rewrites
    * — the difference between per-event cost O(1) and O(buffer) at
    * 100 TB event volumes. The buffer is PRUNED to the window on every
    * batch (clicks older than newest-seen − window can never match a
    * later purchase because event time only moves forward batch to
    * batch), so state per key is bounded by the window's click rate, not
    * history length. Batch rows fold in (ts_us, event_id) order — the
    * q111/q200 discipline that makes the emitted set order-independent. */
  class ClickWindowProcessor(windowUs: Long)
      extends StatefulProcessor[Long, PEv, PurchaseCtx] {
    @transient private var clicks: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      clicks = getHandle.getListState[Long]("clicks",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[PEv],
                                 tv: TimerValues): Iterator[PurchaseCtx] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      clicks.get().foreach(buf += _)
      val sorted = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[PurchaseCtx]
      var maxTs = Long.MinValue
      sorted.foreach { e =>
        maxTs = math.max(maxTs, e.ts_us)
        e.event_type match {
          case "click" => buf += e.ts_us
          case "purchase" =>
            // strict past: [ts - window, ts) — a same-µs click never counts
            val n = buf.count(c => c >= e.ts_us - windowUs && c < e.ts_us)
            out += PurchaseCtx(key, e.ts_us, e.event_id, n)
          case _ => ()
        }
      }
      val kept = buf.filter(_ >= maxTs - windowUs)
      if (kept.isEmpty) clicks.clear()
      else clicks.put(kept.toArray)
      out.iterator
    }
  }

  /** q263: click→purchase attribution context via ListState, drained
    * under the oracle — for every purchase, the number of clicks by the
    * same user in the strictly-preceding 30 minutes, computed by the
    * streaming engine with a per-user pruned click buffer
    * ([[ClickWindowProcessor]]) and hash-compared against DuckDB's
    * batch theta-join count. A processor that loses a buffered click,
    * prunes too eagerly, double-counts across the put/get round-trip,
    * or breaks the strict-past boundary produces a different count
    * somewhere in the ~2k purchases — the whole emitted set is hashed. */
  val q263StreamingListState = graft.QueryDef(
    "q263_streaming_list_state",
    (s, d) => {
      val sunk = drainAvailableNow(s, d, rocksDb = true) { st =>
        implicit val sess: SparkSession = st.sparkSession
        import sess.implicits._
        st.select(col("user_id"), col("event_type"),
            expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
          .as[PEv]
          .groupByKey(_.user_id)
          .transformWithState(new ClickWindowProcessor(1800000000L),
            TimeMode.None(), OutputMode.Append())
          .toDF()
      }
      sunk.filter(col("user_id") >= 0)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("n_prior_clicks"))
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
           |  FROM events),
           |p AS (SELECT user_id, ts_us, event_id FROM ev
           |      WHERE event_type = 'purchase')
           |SELECT p.user_id, p.ts_us, p.event_id,
           |  CAST(COUNT(c.ts_us) AS BIGINT) AS n_prior_clicks
           |FROM p LEFT JOIN ev c
           |  ON c.user_id = p.user_id AND c.event_type = 'click'
           | AND c.ts_us >= p.ts_us - 1800000000 AND c.ts_us < p.ts_us
           |GROUP BY 1, 2, 3
           |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin)
  )

  /** q268: CHAINED STATEFUL OPERATORS — two windowed aggregations in
    * ONE streaming query (hourly counts per type, then 3-hour
    * max/sum OF the hourly counts via `window_time`), the multi-
    * stateful-operator capability Spark 3.4+ added: the first
    * aggregation's Append output feeds the second's event-time window
    * directly, with the WATERMARK PROPAGATED through the operator
    * chain — no intermediate sink, no second job, one checkpoint. This
    * is the production rollup-cascade shape (minute→hour→day
    * pre-aggregation) as a single plan. The drain's sentinels sit 2 h
    * and 4 h past the data's max event time, and the final 3-hour
    * window ends ≤ 3 h after it — so the 10-minute-delayed watermark
    * (≥ maxTs + 3 h 50 m) provably closes BOTH layers' last windows
    * before the stream ends, which is what makes the drained sink
    * comparable to DuckDB's batch two-level GROUP BY: a watermark that
    * fails to propagate across the chain strands the second layer's
    * state and rows go missing from the hash. */
  val q268ChainedStateful = graft.QueryDef(
    "q268_chained_stateful",
    (s, d) => {
      val sunk = drainAvailableNow(s, d) { st =>
        val hourly = st.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w1"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        hourly
          .groupBy(window(window_time(col("w1")), "3 hours").as("w3"),
            col("event_type"))
          .agg(max("cnt").as("max_hourly"), sum("cnt").as("sum_cnt"))
          .select((unix_micros(col("w3.start"))).as("w3_start"),
            col("event_type"), col("max_hourly"), col("sum_cnt"))
      }
      sunk.filter(col("event_type") =!= "__sentinel__")
        .select(col("w3_start"), col("event_type"), col("max_hourly"),
          col("sum_cnt"))
        .orderBy("w3_start", "event_type")
    },
    Some("""WITH h AS (
           |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
           |    CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1, 2)
           |SELECT (hr // 3) * 10800000000 AS w3_start, event_type,
           |  CAST(MAX(cnt) AS BIGINT) AS max_hourly,
           |  CAST(SUM(cnt) AS BIGINT) AS sum_cnt
           |FROM h GROUP BY 1, 2 ORDER BY w3_start, event_type""".stripMargin)
  )

  /** [[drainAvailableNow]]'s table-sink twin: the plan streams into a
    * catalog TABLE (`writeStream.toTable`) instead of a parquet dir —
    * exercising the DSv2 `StreamingWrite` path (per-epoch task
    * buffering + the epoch high-water mark that makes replays no-ops).
    * The plan decides the batch count exactly as there. */
  private def drainToTable(s: SparkSession, d: String, table: String)
                          (plan: DataFrame => DataFrame): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    val q = withDrainConfs(s) {
      plannedDrain(s, d)(plan).writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .toTable(table)
    }
    q.awaitTermination()
    graft.Tables.deleteRecursively(ckpt.toFile)
    s.table(table)
  }

  /** q274: STREAMING WRITE INTO THE CUSTOM CONNECTOR — the sink half of
    * the connector's streaming story (q255 is the read half): the q64
    * tumbling aggregation drains through `writeStream.toTable` into a
    * `mem_*` table, whose `StreamingWrite` commits each micro-batch
    * through the two-phase protocol with an EPOCH HIGH-WATER MARK —
    * Structured Streaming re-delivers a failed epoch's commit under the
    * same id on restart, and the mark makes the replay a no-op (no rows,
    * no version bump): the `_spark_metadata` exactly-once contract of
    * the file sink, fulfilled by a connector and CHECKED BY THE ORACLE —
    * a double-applied or dropped epoch breaks the hash against q30's
    * batch SQL. (SourcesSpec additionally replays an epoch directly and
    * pins the no-op.) */
  val q274StreamingTableSink = graft.QueryDef(
    "q274_streaming_table_sink",
    (s, d) => {
      s.sql("DROP TABLE IF EXISTS graft.mem_ssink")
      s.sql("""CREATE TABLE graft.mem_ssink
              |(w_start TIMESTAMP, event_type STRING, cnt BIGINT,
              | sum_value DOUBLE)""".stripMargin)
      val sunk = drainToTable(s, d, "graft.mem_ssink")(tumblingCounts(_))
      sunk.filter(col("event_type") =!= "__sentinel__")
        .select((unix_micros(col("w_start")) * 1000).cast(LongType).as("w_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("w_start", "event_type")
    },
    graft.operators.EventOps.q30Tumbling.oracle
  )

  val all: Seq[graft.QueryDef] =
    Seq(q64StreamingTumbling, q82StreamingSession, q96StreamingIntervalJoin,
      q98StreamingDedup, q108StreamingEnrich, q111StreamingHighs,
      q121StreamingOuterJoin, q134StreamingTimers, q161ForeachBatchMerge,
      q163StreamingFullOuterJoin, q200StreamingRateLimit, q212StreamingHll,
      q225StreamingIntervalLookup, q238StreamingMapState, q253StreamingLeaderboard,
      q263StreamingListState, q268ChainedStateful, q274StreamingTableSink)

  /** Custom per-user running state via mapGroupsWithState — the
    * `KeyValueGroupedDataset` stateful escape hatch (arbitrary state the
    * built-in windows can't express). At scale, pair a timeout policy
    * (ProcessingTime/EventTime) with this so idle keys' state expires;
    * NoTimeout keeps micro-batch tests deterministic. */
  def runningTotals(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val (n, total) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, t), ev) => (c + 1, t + ev.value)
          }
          val next = UserRunning(uid, n, total)
          state.update(next)
          next
      }
  }
}
