package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Components

class SessionFramesSpec extends SparkSpec {

  /** A key no other test (or query) uses. */
  private def freshKey(tag: String): (String, Long) =
    ("SessionFramesSpec." + tag, System.nanoTime())

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("racing first callers share one build and one persisted frame") {
    val key = freshKey("race")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val before = persistentIds
    // every build gets its own literal, so a second build would be a
    // second cache entry, not a no-op re-cache of the same plan
    def call(): DataFrame = SessionFrames.frame(spark, key) {
      val b = builds.incrementAndGet()
      Thread.sleep(500) // hold the build open while the other caller arrives
      spark.range(1000).toDF("id").withColumn("b", lit(b))
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val racers = Seq.fill(2)(Future { go.await(); call() })
      go.countDown()
      val Seq(a, b) = racers.map(Await.result(_, 2.minutes))
      assert(builds.get == 1)
      assert(a eq b)
      assert((persistentIds -- before).size == 1)
    } finally pool.shutdown()
  }

  test("a new session gets its own frame, bound to that session") {
    val key = freshKey("session")
    val other = spark.newSession()
    val mine = SessionFrames.frame(spark, key)(spark.range(10).toDF("id"))
    val theirs = SessionFrames.frame(other, key)(other.range(10).toDF("id"))
    assert(theirs ne mine)
    assert(theirs.sparkSession eq other)
    assert(SessionFrames.frame(other, key)(fail("rebuilt a live frame")) eq theirs)
    assert(SessionFrames.frame(spark, key)(fail("rebuilt a live frame")) eq mine)
  }

  test("after clearCache the next call rebuilds and re-persists") {
    val key = freshKey("cleared")
    val builds = new AtomicInteger
    def call(): DataFrame = SessionFrames.frame(spark, key) {
      builds.incrementAndGet()
      spark.range(100).toDF("id").withColumn("k", lit(key._2))
    }
    val first = call()
    assert(call() eq first)
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
    val second = call()
    assert(builds.get == 2)
    assert(second.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(call() eq second)
  }

  test("a checkpoint-backed build comes back unpersisted and unmemoized") {
    val key = freshKey("checkpoint")
    val builds = new AtomicInteger
    def call(): DataFrame = SessionFrames.frame(spark, key) {
      builds.incrementAndGet()
      spark.range(100).toDF("id").localCheckpoint().withColumn("sq", col("id") * col("id"))
    }
    val first = call()
    assert(first.storageLevel == StorageLevel.NONE)
    val second = call()
    assert(builds.get == 2)
    assert(second ne first)
  }

  test("distributed components labels survive the bench sweep and a dropped cache") {
    val key = freshKey("components")
    // forces the checkpointing distributed branch (>1M edges in production)
    def labels(): DataFrame = SessionFrames.frame(spark, key) {
      val edges = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L))).toDF("src", "dst")
      Components.connectedComponentsAuto(spark.range(1, 8).toDF("id"), edges,
        localThreshold = 0)
    }
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.orderBy("id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val before = rows(labels())
    assert(before == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    Bench.sweep(spark)
    spark.catalog.clearCache()
    assert(rows(labels()) == before)
  }
}
