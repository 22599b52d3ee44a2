package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork),
  * set up for graft once ([[Setup]]). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Setup(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  /** Runs `body` with a fresh reliable checkpoint dir set on the shared
    * SparkContext, and unsets it afterwards so no later spec in the JVM
    * inherits reliable checkpoints. Returns the dir and the result. */
  protected def withCheckpointDir[A](body: => A): (java.io.File, A) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    try (dir, body) finally sc.setCheckpointDir(null)
  }

  /** Spark jobs started while `body` runs. The count is read only after a
    * sentinel job's end has been delivered: the listener bus is ordered,
    * so every earlier job's start has been counted by then. */
  protected def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val Sentinel = "graft.spec.sentinel"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) sentinelId.set(e.jobId)
        else started.incrementAndGet(): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId.get) sentinelDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Sentinel, null)
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job end never delivered")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
