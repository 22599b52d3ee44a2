package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bounded-heap exact grouped top-k aggregate: equivalence with the
  * window-rank spelling under any partitioning, duplicate handling,
  * type coverage, and the O(k) state bound. */
class BoundedTopKSpec extends SparkSpec {

  private def fixture = {
    import graft.TestSession.spark.implicits._
    // 3 groups × 200 values with planted duplicates and a total tiebreak
    (1 to 600).map { i =>
      val g = s"g${i % 3}"
      (g, (i * 37) % 100L, i.toLong) // score has duplicates; id breaks ties
    }.toDF("g", "score", "id")
  }

  test("equals the window-rank answer under 1/4/16 partitionings") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").desc)
    val expect = fixture.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select("g", "rnk", "score", "id")
      .collect().map(_.toSeq).toSet
    for (parts <- Seq(1, 4, 16)) {
      val got = fixture.repartition(parts).groupBy("g")
        .agg(GraftFunctions.topKAgg(struct(col("score"), col("id")), lit(5)).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).as("rnk"),
          col("col.score"), col("col.id"))
        .collect().map(_.toSeq).toSet
      assert(got == expect, s"parts=$parts: topk_agg must equal the window answer")
    }
  }

  test("k larger than the group returns the whole group, descending") {
    import graft.TestSession.spark.implicits._
    val got = Seq(("a", 3L), ("a", 1L), ("a", 2L)).toDF("g", "v")
      .groupBy("g").agg(GraftFunctions.topKAgg(col("v"), lit(10)).as("top"))
      .select(explode(col("top"))).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 2L, 1L))
  }

  test("duplicates are kept (multiset top-k), nulls ignored, strings orderable") {
    import graft.TestSession.spark.implicits._
    val df = (Seq.fill(3)(Some("zz")) ++ Seq(Some("aa"), Some("mm"), None))
      .toDF("v").repartition(4)
    val got = df.agg(GraftFunctions.topKAgg(col("v"), lit(4)).as("top"))
      .select(explode(col("top"))).collect().map(_.getString(0)).toSeq
    assert(got == Seq("zz", "zz", "zz", "mm"), s"got $got")
  }

  test("SQL registration + state bound: array is never longer than k") {
    fixture.createOrReplaceTempView("topk_fixture")
    val sizes = spark.sql(
      "SELECT size(topk_agg(struct(score, id), 7)) AS s FROM topk_fixture GROUP BY g")
      .collect().map(_.getInt(0))
    assert(sizes.nonEmpty && sizes.forall(_ == 7))
  }
}
