package graft

import java.util.concurrent.{CountDownLatch, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Levenshtein, Literal}
import org.apache.spark.sql.functions._
import graft.plans.{AsofJoinStrategy, BandedLevenshtein, BinnedRangeJoin, SmallSort}

/** [[Setup]] on sessions with no graft state (`newSession()` starts from
  * the builtin function registry, empty rule and strategy lists and
  * default confs): one call installs everything, repeated and concurrent
  * calls install nothing twice, and `QueryDef.run` alone is enough. */
class SetupSpec extends SparkSpec {

  private val functionNames = Seq(
    "cosine_sim", "array_agree_count", "word_ngrams", "long_dot", "long_sqdist",
    "jaro_winkler", "damerau_levenshtein", "mg_topk", "topk_agg",
    "bitmap_build", "bitmap_and", "bitmap_or", "bitmap_merge",
    "bitmap_and_not", "bitmap_positions", "might_contain")

  private def exists(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** How often each rule and each strategy sit in the session's lists. */
  private def installed(s: SparkSession): Seq[Int] = Seq(
    s.experimental.extraOptimizations.count(_ eq BandedLevenshtein),
    s.experimental.extraOptimizations.count(_ eq BinnedRangeJoin),
    s.experimental.extraStrategies.count(_ eq AsofJoinStrategy),
    s.experimental.extraStrategies.count(_ eq SmallSort))

  test("one Setup resolves every graft function and sets the graft catalog") {
    val ns = spark.newSession()
    assert(!exists(ns, "cosine_sim"), "a new session starts without graft functions")
    Setup(ns)
    assert(functionNames.filterNot(exists(ns, _)).isEmpty)
    assert(ns.conf.get("spark.sql.catalog.graft") == classOf[graft.sources.GraftCatalog].getName)
  }

  test("a second Setup leaves each rule and the strategy in place once") {
    val ns = spark.newSession()
    assert(installed(ns) == Seq(0, 0, 0, 0))
    Setup(ns)
    Setup(ns)
    assert(installed(ns) == Seq(1, 1, 1, 1))
  }

  test("two threads setting up one fresh session install each rule and the strategy once") {
    val ns = spark.newSession()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val racers = Seq.fill(2)(Future { go.await(); Setup(ns) })
      go.countDown()
      racers.foreach(Await.result(_, 1.minute))
      assert(installed(ns) == Seq(1, 1, 1, 1))
    } finally pool.shutdown()
  }

  test("a QueryDef calling a graft function analyzes on a fresh session through run alone") {
    val q = QueryDef("setup_cosine_probe", (s, _) =>
      s.range(1).select(call_function("cosine_sim",
        array(lit(1.0), lit(0.0)), array(lit(1.0), lit(0.0))).as("c")), None)
    val df = q.run(spark.newSession(), sfDir)
    assert(df.head().getDouble(0) == 1.0)
  }

  test("plans do not depend on run order: after q03 alone a levenshtein literal bound is banded") {
    val ns = spark.newSession()
    graft.operators.Relational.q03Frequencies.run(ns, sfDir)
    val q = ns.range(3)
      .select(col("id").cast("string").as("a"), lit("kitten").as("b"))
      .filter(expr("levenshtein(a, b) <= 30"))
    val bands = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case Levenshtein(_, _, Some(Literal(k, _))) => k
    }))
    assert(bands == Seq(30), s"expected the banded form:\n${q.queryExecution.optimizedPlan}")
  }

  test("conf windows restore what the session had: a set value comes back, an unset key stays unset") {
    val bin = graft.plans.BinnedRangeJoin.BinWidthKey
    val bucketing = "spark.sql.sources.v2.bucketing.enabled"
    val s = spark.newSession()
    s.conf.set(bin, "777")
    s.conf.set(bucketing, "false")
    graft.operators.Relational.q222IntervalJoin.run(s, sfDir).collect()
    graft.sources.FsQueries.q327FsBucketValueSpj.run(s, sfDir).collect()
    assert(s.conf.getAll.get(bin).contains("777"))
    assert(s.conf.getAll.get(bucketing).contains("false"))
    val fresh = spark.newSession()
    graft.operators.Relational.q222IntervalJoin.run(fresh, sfDir).collect()
    assert(!fresh.conf.getAll.contains(bin), fresh.conf.getAll.get(bin))
  }
}
