package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval: name, start and end in ms since process start,
  * the span that caused it (-1 for none) and the operation execution it
  * belongs to (-1 for none). */
final case class Span(id: Int, parent: Int, name: String, exec: Int,
                      startMs: Double, endMs: Double)

/** Peak JVM heap in use right after a collection, summed over the heap
  * pools, taken from the collectors' notifications. */
final class HeapPeak {
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

/** Records spans around the benchmark's calls into the program, plus what
  * Spark's public listeners report, attributed to the operation execution
  * that was current when the event was posted. The harness drains the
  * listener bus before it moves to the next execution, so every event of
  * an execution is counted against it. */
final class Tracer(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var currentExec: Int = -1
  private val counters = mutable.Map[Int, mutable.Map[String, Double]]()
  private val jobStart = mutable.Map[Int, (Long, Int, String)]()
  private val stageExec = mutable.Map[Int, Int]()
  private val parentOf = mutable.Map[Int, Int]() // exec -> span id of its op span

  def msOf(nanos: Long): Double = (nanos - t0Nanos) / 1e6
  private def msOfEpoch(epochMs: Long): Double = epochMs - t0EpochMs

  def add(exec: Int, key: String, v: Double): Unit = counters.synchronized {
    val m = counters.getOrElseUpdate(exec, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def countersOf(exec: Int): Map[String, Double] =
    counters.synchronized(counters.get(exec).map(_.toMap).getOrElse(Map.empty))

  def span(name: String, exec: Int, parent: Int, startNanos: Long, endNanos: Long): Int =
    spans.synchronized {
      val id = spans.size
      spans += Span(id, parent, name, exec, msOf(startNanos), msOf(endNanos))
      id
    }

  def setOpSpan(exec: Int, spanId: Int): Unit = parentOf.synchronized(parentOf(exec) = spanId)

  private val planHelper = new AdaptiveSparkPlanHelper {}

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = currentExec
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase")))
        .getOrElse("other")
      jobStart.synchronized(jobStart(e.jobId) = (e.time, exec, phase))
      stageExec.synchronized(e.stageIds.foreach(stageExec(_) = exec))
      add(exec, "jobs", 1)
      if (phase == "build") add(exec, "build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { case (start, exec, phase) =>
        val parent = parentOf.synchronized(parentOf.getOrElse(exec, -1))
        spans.synchronized {
          spans += Span(spans.size, parent, s"job.$phase", exec, msOfEpoch(start), msOfEpoch(e.time))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val exec = stageExec.synchronized(stageExec.getOrElse(e.stageInfo.stageId, currentExec))
      add(exec, "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val exec = stageExec.synchronized(stageExec.getOrElse(e.stageId, currentExec))
      add(exec, "tasks", 1)
      if (e.reason != Success) add(exec, "failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(exec, "task_s", m.executorRunTime / 1e3)
        add(exec, "gc_s", m.jvmGCTime / 1e3)
        add(exec, "shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add(exec, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(exec, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(exec, "input_rows", m.inputMetrics.recordsRead.toDouble)
        add(exec, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(exec, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val scans = planHelper.collectWithSubqueries(qe.executedPlan) {
        case s: InMemoryTableScanExec => s
      }.size
      add(currentExec, "cache_scans", scans)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val exec = currentExec
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
      add(exec, "batches", 1)
      add(exec, "trigger_s", d("triggerExecution"))
      add(exec, "add_batch_s", d("addBatch"))
      add(exec, "wal_s", d("walCommit") + d("commitOffsets"))
      add(exec, "offsets_s", d("latestOffset") + d("getBatch"))
      add(exec, "plan_s", d("queryPlanning"))
      p.stateOperators.foreach { s =>
        add(exec, "state_commit_s", s.commitTimeMs / 1e3)
        add(exec, "state_rows", s.numRowsTotal.toDouble)
        add(exec, "state_bytes", s.memoryUsedBytes.toDouble)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
