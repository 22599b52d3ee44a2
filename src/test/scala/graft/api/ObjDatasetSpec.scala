package graft.api

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

case class P(name: String, age: Int)

/** FIXTURES.md §B.2-6: ObjDataset façade vs plain-Scala semantics.
  * Property-style cases use a seeded RNG (scalacheck's forAll needs the
  * scalatestplus bridge, which isn't on the offline classpath). */
class ObjDatasetSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private val rng = new scala.util.Random(42)

  private def objs[T: org.apache.spark.sql.Encoder](xs: Seq[T]) =
    ObjDataset(spark, xs)

  test("map/filter/compute round-trip (core.py:78-88)") {
    val xs = Seq(1, 2, 3, -4)
    assert(objs(xs).map(_ * 2).compute().sorted == xs.map(_ * 2).sorted)
    assert(objs(xs).filter(_ > 0).compute().sorted == xs.filter(_ > 0).sorted)
  }

  test("map passes item first with extra args (quirk Q1 fixed)") {
    val r = objs(Seq("a", "b")).map((item, suffix: String) => item + suffix, "!").compute()
    assert(r.sorted == Seq("a!", "b!"))
  }

  test("flatten ≡ flatMap(identity) ≡ local flatten (core.py:93-96)") {
    val xs = Seq(Seq(1, 2), Seq.empty[Int], Seq(3))
    assert(objs(xs).flatten[Int].compute().sorted == Seq(1, 2, 3))
    assert(objs(xs).computeFlatten[Int].sorted == Seq(1, 2, 3))
  }

  test("counts ≡ groupBy-count (core.py:107-108), randomized") {
    for (_ <- 1 to 5) {
      val xs = List.fill(rng.nextInt(200))(rng.nextInt(10))
      val expected = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(objs(xs).counts() == expected)
    }
  }

  test("reduction: per-partition sum + tree combine ≡ total, any partitioning (core.py:104-105)") {
    for (_ <- 1 to 5) {
      val xs = List.fill(1 + rng.nextInt(300))(rng.nextInt(1000) - 500)
      val n = 1 + rng.nextInt(6)
      val total = objs(xs).repartition(n)
        .reduction[Long](it => it.map(_.toLong).sum, _ + _, 0L)
      assert(total == xs.map(_.toLong).sum)
    }
  }

  test("attribute/method projection over case classes (core.py:62-76)") {
    val people = Seq(P("ada", 36), P("grace", 45))
    assert(objs(people).attr(_.name).compute().sorted == Seq("ada", "grace"))
    assert(objs(people).call(_.name.length).compute().sorted == Seq(3, 5))
  }

  test("elementwise operator lift ≡ local map (dunder table core.py:187-220)") {
    val xs = Seq(1, 2, 3, -4)
    assert(objs(xs).lift(_ + 10).compute().sorted == xs.map(_ + 10).sorted)
    // comparisons return a collection of Booleans, not a Boolean
    assert(objs(xs).lift(_ > 2).compute().count(identity) == xs.count(_ > 2))
  }

  test("distinct / topk / take (bag gateway ops)") {
    val xs = Seq(5, 1, 5, 3, 3, 9)
    assert(objs(xs).distinct().compute().sorted == Seq(1, 3, 5, 9))
    assert(objs(xs).topk(2) == Seq(9, 5))
    assert(objs(xs).take(2).size == 2)
  }

  test("repartition is explicit, not sticky (quirk Q3 fixed)") {
    val o = objs(1 to 100).repartition(5)
    assert(o.npartitions == 5)
    val derived = o.map(_ + 1)
    assert(derived.compute().sorted == (2 to 101))
  }

  test("an empty input is a 0-partition leaf: count 0, reduction returns its zero") {
    val empty = objs(Seq.empty[Long])
    assert(empty.npartitions == 0)
    assert(empty.reduction[Long](_.sum, _ + _, 100L) == 100L,
      "a partition per empty slice would fold to 0 instead of the empty-only zero")
    assert(empty.count() == 0)
  }

  test("npartitions slices the items into exactly n partitions, no Exchange, input order kept") {
    val xs = (1 to 1000).toVector
    for (n <- Seq(1, 3, 7)) {
      val o = ObjDataset(spark, xs, Some(n))
      assert(o.npartitions == n)
      val plan = o.ds.queryExecution.executedPlan
      assert(plan.collectFirst { case e: Exchange => e }.isEmpty, plan.toString)
      // zip and accumulate rely on the slices keeping the item order
      assert(o.coalesce(1).compute() == xs)
    }
    assert(objs(xs).coalesce(1).compute() == xs)
  }

  test("count is one narrow job and equals the local size, after a filter and on empty input") {
    val xs = (1 to 500).toVector
    val o = objs(xs)
    var n, f, e = -1L
    assert(jobsDuring { n = o.count() } == 1)
    assert(n == xs.size)
    assert(jobsDuring { f = o.filter(_ % 3 == 0).count() } == 1)
    assert(f == xs.count(_ % 3 == 0))
    assert(jobsDuring { e = objs(Seq.empty[Int]).count() } == 1)
    assert(e == 0)
  }

  test("mean then variance of one collection is one moments pass") {
    val xs = (1 to 500).map(_.toDouble)
    val v = objs(xs)
    var m, va = Double.NaN
    assert(jobsDuring { m = v.mean; va = v.variance } == 1)
    val mu = xs.sum / xs.size
    assert(math.abs(m - mu) < 1e-9)
    assert(math.abs(va - xs.map(x => (x - mu) * (x - mu)).sum / xs.size) < 1e-6)
  }

  test("the source leaf holds no LocalRelation and states its row count; a small join side broadcasts") {
    val people = objs(Seq(P("ada", 36), P("grace", 45)))
    val qe = people.ds.queryExecution
    assert(qe.analyzed.collectFirst { case l: LocalRelation => l }.isEmpty, qe.analyzed.toString)
    assert(qe.optimizedPlan.stats.rowCount.contains(BigInt(2)))
    val joined = objs(1 to 100).join(people)(_ % 50, (p: P) => p.age)
    assert(joined.ds.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(joined.compute().map { case (x, p) => (x, p.name) }.sorted ==
      Seq((36, "ada"), (45, "grace"), (86, "ada"), (95, "grace")))
  }

  test("persist: count and a derived count scan the cache; unpersist releases it (core.py:90-91)") {
    val built = spark.sparkContext.longAccumulator("objdataset.persist.built")
    val xs = (1 to 400).toVector
    val p = objs(xs).map { x => built.add(1); x * 2 }.persist()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(p.count() == xs.size)
      assert(p.filter(_ % 3 == 0).count() == xs.count(x => x * 2 % 3 == 0))
      val deadline = System.nanoTime() + 60e9.toLong
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(plans.size == 2, "both counts report their executed plan")
      val helper = new AdaptiveSparkPlanHelper {}
      plans.forEach { plan =>
        assert(helper.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan.toString)
      }
    } finally spark.listenerManager.unregister(listener)
    assert(built.value == xs.size, "the derived count read the cache, not the map")
    assert(p.ds.storageLevel == StorageLevel.MEMORY_AND_DISK)
    p.unpersist()
    assert(p.ds.storageLevel == StorageLevel.NONE)
    assert(p.count() == xs.size)
    assert(built.value == 2 * xs.size, "after unpersist the map runs again")
  }
}
