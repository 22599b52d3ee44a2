package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: per-query cost anatomy for the optimization rounds — splits a
  * registered query's wall time into driver-side plan construction
  * (`fn(spark, dir)` returning the frame) vs execution (noop write), and
  * counts Spark jobs / stages / tasks plus summed task time per run, via a
  * listener. Run on the bench's session shape.
  *
  * `sbt "runMain graft.ProfileQuery /root/testdata/sf0.1 q05_multi_join,q77_pagerank [runs]"`
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        (0 to runs).foreach { run =>
          jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L); gcMs.set(0L)
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            // build time includes any eager work inside fn (checkpoints,
            // scenario actions); exec is the returned frame's noop pass
            if (run > 0)
              println(f"[prof] $name run$run total=${(t2 - t0) / 1e9}%.2f " +
                f"build=${(t1 - t0) / 1e9}%.2f exec=${(t2 - t1) / 1e9}%.2f " +
                f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
                f"taskTime=${taskMs.get / 1e3}%.2f gc=${gcMs.get / 1e3}%.2f")
          } catch { case e: Throwable =>
            println(s"[prof] $name run$run FAIL ${e.toString.take(160)}")
          }
          Bench.sweep(spark)
        }
      }
    spark.stop()
  }
}
