package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native Misra-Gries TypedImperativeAggregate: the superset
  * guarantee under arbitrary partitioning/merge trees, the state bound,
  * grouped composition, and null/type handling. */
class MisraGriesSpec extends SparkSpec {

  private def skewed = {
    import graft.TestSession.spark.implicits._
    // zipf-ish: key k ∈ 1..40 occurs ceil(4000/k²) times → a handful of
    // true heavies over a long tail, n ≈ 6.5k
    (1 to 40).flatMap(k => Seq.fill((4000.0 / (k * k)).ceil.toInt)(s"key$k"))
      .toDF("t")
  }

  test("superset guarantee: every key with f > n/(m+1) survives any partitioning") {
    val exact = skewed.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val m = 8
    for (parts <- Seq(1, 3, 16, 32)) {
      val sketch = skewed.repartition(parts)
        .agg(GraftFunctions.mgTopK(col("t"), lit(m)).as("ks"))
        .select(explode(col("ks"))).collect().map(_.getString(0)).toSet
      assert(sketch.size <= m, s"state bound: ≤ $m survivors, got ${sketch.size}")
      val mustHave = exact.filter { case (_, f) => f * (m + 1) > n }.keySet
      assert(mustHave.nonEmpty, "fixture must contain true heavy hitters")
      assert(mustHave.subsetOf(sketch),
        s"parts=$parts: guarantee violated — missing ${mustHave -- sketch}")
    }
  }

  test("grouped: the guarantee holds independently per group") {
    import graft.TestSession.spark.implicits._
    // group a: heavy = x (60%); group b: heavy = y (75%); both tails
    val df = (Seq.fill(60)(("a", "x")) ++ (1 to 40).map(i => ("a", s"a$i")) ++
      Seq.fill(75)(("b", "y")) ++ (1 to 25).map(i => ("b", s"b$i")))
      .toDF("g", "t").repartition(7)
    val out = df.groupBy("g")
      .agg(GraftFunctions.mgTopK(col("t"), lit(4)).as("ks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(out("a").contains("x") && out("a").size <= 4)
    assert(out("b").contains("y") && out("b").size <= 4)
  }

  test("long keys work; nulls are ignored like every aggregate") {
    import graft.TestSession.spark.implicits._
    val df = (Seq.fill(50)(Some(7L)) ++ (1L to 30L).map(Some(_)) ++
      Seq.fill(10)(None: Option[Long])).toDF("k").repartition(5)
    val ks = df.agg(GraftFunctions.mgTopK(col("k"), lit(3)).as("ks"))
      .select(explode(col("ks"))).collect().map(_.getLong(0)).toSet
    assert(ks.contains(7L), "the 38% key must survive capacity 3")
    assert(ks.size <= 3)
  }

  test("propose/verify: sketch + exact recount equals the exact heavy-hitter set") {
    val m = 8
    val cand = skewed.repartition(13)
      .agg(GraftFunctions.mgTopK(col("t"), lit(m)).as("ks"))
      .select(explode(col("ks")).as("t"))
    val tot = skewed.agg(count(lit(1)).as("n"))
    val verified = skewed.join(broadcast(cand), Seq("t"), "left_semi")
      .groupBy("t").agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(tot))
      // threshold n/6 is STRICTER than the n/(m+1)=n/9 guarantee
      .filter(col("f") * 6 > col("n"))
      .select("t").collect().map(_.getString(0)).toSet
    val exact = skewed.groupBy("t").count()
      .crossJoin(broadcast(tot))
      .filter(col("count") * 6 > col("n"))
      .select("t").collect().map(_.getString(0)).toSet
    assert(verified == exact, "propose/verify must be exactly the true heavy hitters")
  }

  test("SQL registration: mg_topk callable from pure SQL") {
    skewed.createOrReplaceTempView("mg_skewed")
    val ks = spark.sql("SELECT explode(mg_topk(t, 5)) AS t FROM mg_skewed")
      .collect().map(_.getString(0)).toSet
    assert(ks.contains("key1") && ks.size <= 5)
  }
}
