package graft.plans

import graft.{QueryDef, SparkSpec, Tables}
import graft.operators.{LinkageOps, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{PlanLater, SparkPlan}
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._

/** [[SmallSort]]: a final sort over a small materialized result runs in
  * one partition and drops the range exchange's sampling job; above
  * `spark.sql.maxSinglePartitionBytes`, or over an input that is not
  * materialized, the plan keeps the range exchange and its job. */
class SmallSortSpec extends SparkSpec {

  /** Sets the single-partition limit below every input here. */
  private def belowInputs[A](body: => A): A =
    QueryDef.withConf(spark, "spark.sql.maxSinglePartitionBytes" -> "1")(body)

  /** Jobs started by building `df` and writing it with `noop`, the way a
    * benchmark times a query. */
  private def noopJobs(df: => DataFrame): Int =
    jobsDuring(df.write.format("noop").mode("overwrite").save())

  /** The physical plan AQE ran, after collecting `df`. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def shape(df: DataFrame): String = finalPlan(df).toString.toLowerCase

  Seq(
    ("q03", Relational.q03Frequencies, 4),
    ("q136", LinkageOps.q136DamerauPairs, 4)
  ).foreach { case (label, q, parentJobs) =>
    test(s"$label: the final sort runs in one partition and starts one job fewer") {
      noopJobs(q.run(spark, sfDir)) // first reads in the session infer schemas
      val small = noopJobs(q.run(spark, sfDir))
      val ranged = belowInputs(noopJobs(q.run(spark, sfDir)))
      assert(ranged == parentJobs && small == parentJobs - 1,
        s"jobs: $small in one partition, $ranged with the range exchange")
      val p = shape(q.run(spark, sfDir))
      assert(p.contains("singlepartition") && !p.contains("rangepartitioning"), p)
      val pr = belowInputs(shape(q.run(spark, sfDir)))
      assert(pr.contains("rangepartitioning") && !pr.contains("singlepartition"), pr)
    }
  }

  test("a sort over a bare parquet scan keeps its range exchange and its jobs") {
    def sorted = Tables.events(spark, sfDir).select("event_id", "user_id").orderBy("user_id", "event_id")
    noopJobs(sorted)
    assert(noopJobs(sorted) == 3 && belowInputs(noopJobs(sorted)) == 3)
    val p = shape(sorted)
    assert(p.contains("rangepartitioning") && !p.contains("singlepartition"), p)
  }

  test("a multi-key DESC / NULLS FIRST / NULLS LAST sort returns the same rows in the same order either side of the limit") {
    def sorted = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), max("l_quantity").as("q"))
      .select(col("l_orderkey"), col("q"),
        when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_orderkey") % 5).as("a"),
        when(col("l_orderkey") % 3 === 0, lit(null)).otherwise(col("n")).as("b"))
      .orderBy(col("a").desc_nulls_first, col("b").asc_nulls_last, col("q").desc, col("l_orderkey"))
    val one = sorted.collect().toSeq
    val ranged = belowInputs(sorted.collect().toSeq)
    assert(one.size > 100 && one.exists(_.isNullAt(2)) && one.exists(_.isNullAt(3)))
    assert(one == ranged)
    assert(shape(sorted).contains("singlepartition"))
    assert(belowInputs(shape(sorted)).contains("rangepartitioning"))
  }

  test("a sort over a cached frame already in one partition adds no exchange and no job") {
    val one = spark.range(0, 2000, 1, 4).selectExpr("id % 97 AS k", "id").coalesce(1).cache()
    try {
      one.count()
      def sorted = one.orderBy(col("k").desc, col("id"))
      noopJobs(sorted)
      assert(noopJobs(sorted) == belowInputs(noopJobs(sorted)))
      val p = shape(sorted)
      assert(!p.contains("exchange"), p)
      assert(sorted.collect().toSeq == belowInputs(sorted.collect().toSeq))
    } finally one.unpersist()
  }

  test("over a finished stage that already satisfies the sort it declines; over any other it gathers once") {
    def within(p: SparkPlan): Seq[QueryStageExec] =
      p.collect { case s: QueryStageExec => s }.flatMap(s => s +: within(s.plan))
    def stages(df: DataFrame) = within(finalPlan(df)).collect { case s: ShuffleQueryStageExec => s }
    val df = Relational.q03Frequencies.run(spark, sfDir)
    val ran = stages(df)
    val own = ran.filter(_.outputPartitioning == SinglePartition)
    val hashed = ran.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    val dfRanged = Relational.q03Frequencies.run(spark, sfDir)
    val ranged = belowInputs(stages(dfRanged)).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(own.size == 1 && hashed.nonEmpty && ranged.size == 1)
    def over(d: DataFrame, stage: ShuffleQueryStageExec) = {
      val sort = d.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }.get
      SmallSort(sort.copy(child = LogicalQueryStage(sort.child, stage)))
    }
    // the sort's own stage on AQE's last re-plan, and the range stage of a
    // sort planned before its input was materialized
    assert(over(df, own.head).isEmpty && over(dfRanged, ranged.head).isEmpty)
    val gathered = over(df, hashed.head).head.transformUp { case _: PlanLater => hashed.head }
    assert(EnsureRequirements().apply(gathered).collect { case e: ShuffleExchangeExec => e }.size == 1)
  }
}
