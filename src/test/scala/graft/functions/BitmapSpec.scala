package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native bitmap aggregate + scalar algebra (BitmapOps): exactness
  * against countDistinct under arbitrary partitionings, deterministic
  * binary encoding, set algebra vs reference set ops, the domain guard,
  * and SQL registration. */
class BitmapSpec extends SparkSpec {

  private def fixture = {
    import graft.TestSession.spark.implicits._
    // duplicated keys, nulls, two groups with a known overlap
    val a = (0L to 400L) ++ (100L to 300L) // group a: {0..400}
    val b = (200L to 600L) ++ (250L to 350L) // group b: {200..600}; ∩ = 201
    (a.map(k => ("a", Some(k))) ++ b.map(k => ("b", Some(k))) ++
      Seq(("a", None: Option[Long]), ("b", None: Option[Long])))
      .toDF("g", "k")
  }

  test("bitmap_count(bitmap_build) ≡ countDistinct across partitionings") {
    val exact = fixture.groupBy("g").agg(countDistinct(col("k")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = fixture.repartition(parts).groupBy("g")
        .agg(GraftFunctions.bitmapCount(
          GraftFunctions.bitmapBuild(col("k"), lit(1024))).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"parts=$parts: $got != $exact")
    }
  }

  test("bitmap_count resolves to Spark's builtin and popcounts graft-built bitmaps like BitmapAlg") {
    val counted = fixture.groupBy("g")
      .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
      .select(col("bm"), GraftFunctions.bitmapCount(col("bm")).as("n"))
    val resolved = counted.queryExecution.analyzed.expressions
      .flatMap(_.collect { case e if e.prettyName == "bitmap_count" => e.getClass.getName })
    assert(resolved == Seq("org.apache.spark.sql.catalyst.expressions.BitmapCount"))
    val rows = counted.collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(r.getLong(1) == BitmapAlg.countBytes(r.getAs[Array[Byte]](0))))
  }

  test("binary encoding is deterministic: same set, any partitioning, same bytes") {
    val images = Seq(1, 5, 32).map { parts =>
      fixture.repartition(parts).filter(col("g") === "a")
        .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
        .collect().head.getAs[Array[Byte]](0).toSeq
    }
    assert(images.distinct.size == 1, "encoding must not depend on partitioning")
    assert(images.head.length == 1024 / 8, "fixed-length encoding")
  }

  test("and/or algebra matches reference set intersection/union") {
    val bm = fixture.groupBy("g")
      .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
    val a = bm.filter(col("g") === "a").select(col("bm").as("bm_a"))
    val row = bm.filter(col("g") === "b").crossJoin(broadcast(a))
      .select(
        GraftFunctions.bitmapCount(
          GraftFunctions.bitmapAnd(col("bm"), col("bm_a"))).as("n_and"),
        GraftFunctions.bitmapCount(
          GraftFunctions.bitmapOr(col("bm"), col("bm_a"))).as("n_or"))
      .collect().head
    val sa = (0L to 400L).toSet
    val sb = (200L to 600L).toSet
    assert(row.getLong(0) == (sa & sb).size.toLong)
    assert(row.getLong(1) == (sa | sb).size.toLong)
  }

  test("and/or across differing domains follow zero-padding semantics") {
    // AND truncates to the shorter, OR zero-extends to the longer
    val small = BitmapAlg.toBytes(Array(0x5L)) // bits {0, 2}
    val large = BitmapAlg.toBytes(Array(0x6L, 0x1L)) // bits {1, 2, 64}
    assert(BitmapAlg.countBytes(BitmapAlg.andBytes(small, large)) == 1L) // {2}
    assert(BitmapAlg.countBytes(BitmapAlg.orBytes(small, large)) == 4L) // {0,1,2,64}
    assert(BitmapAlg.andBytes(small, large).length == 8)
    assert(BitmapAlg.orBytes(small, large).length == 16)
  }

  test("positions and and_not recover exact members (difference algebra)") {
    val bm = fixture.groupBy("g")
      .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
    val b = bm.filter(col("g") === "b").select(col("bm").as("bm_b"))
    val gone = bm.filter(col("g") === "a").crossJoin(broadcast(b))
      .select(explode(GraftFunctions.bitmapPositions(
        GraftFunctions.bitmapAndNot(col("bm"), col("bm_b")))).as("k"))
      .collect().map(_.getLong(0)).toSet
    val sa = (0L to 400L).toSet
    val sb = (200L to 600L).toSet
    assert(gone == sa -- sb, "a AND NOT b must name exactly a \\ b")
    // positions round-trip: members of a bitmap are the built keys
    val members = bm.filter(col("g") === "a")
      .select(explode(GraftFunctions.bitmapPositions(col("bm"))).as("k"))
      .collect().map(_.getLong(0)).toSet
    assert(members == sa)
    // ascending order within the array
    val arr = bm.filter(col("g") === "a")
      .select(GraftFunctions.bitmapPositions(col("bm"))).collect()
      .head.getSeq[Long](0)
    assert(arr == arr.sorted)
  }

  test("bitmap_merge: split-and-merge equals the whole-corpus build (mergeability)") {
    import graft.TestSession.spark.implicits._
    val df = (0L until 3000L).map(k => (k % 5, k % 700)).toDF("g", "k")
    // whole-corpus build per group
    val whole = df.groupBy("g")
      .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    // build at a FINER grain, then OR-merge up — must be bit-identical
    val merged = df.withColumn("shard", col("k") % 13)
      .groupBy("g", "shard")
      .agg(GraftFunctions.bitmapBuild(col("k"), lit(1024)).as("bm"))
      .repartition(7)
      .groupBy("g")
      .agg(GraftFunctions.bitmapMerge(col("bm")).as("bm"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(merged == whole,
      "OR-merge of finer-grain bitmaps must equal the direct build")
    // SQL-reachable too
    df.createOrReplaceTempView("bm_merge_t")
    val n = spark.sql(
      """SELECT bitmap_count(bitmap_merge(bm)) FROM (
        |  SELECT bitmap_build(k, 1024) AS bm FROM bm_merge_t GROUP BY g % 2)
        |""".stripMargin).collect().head.getLong(0)
    assert(n == 700L)
  }

  test("out-of-domain keys fail loudly instead of wrapping") {
    import graft.TestSession.spark.implicits._
    val err = intercept[Exception] {
      Seq(5L, 1024L).toDF("k")
        .agg(GraftFunctions.bitmapCount(
          GraftFunctions.bitmapBuild(col("k"), lit(1024))))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => Option(c.getMessage).exists(_.contains("outside domain"))),
      s"expected the domain-guard message, got $err")
  }

  test("the domain cap: 2^26 analyzes, one past it fails analysis") {
    import graft.TestSession.spark.implicits._
    val keys = Seq(5L).toDF("k")
    def build(domain: Long) = keys.agg(GraftFunctions.bitmapBuild(col("k"), lit(domain)))
    assert(BitmapAlg.MaxDomain == 67108864L)
    build(67108864L).queryExecution.assertAnalyzed()
    val err = intercept[org.apache.spark.sql.AnalysisException](build(67108865L))
    assert(err.getMessage.contains("domain must be in [1, 67108864]"), err.getMessage)
  }

  test("SQL-registered: the whole algebra is reachable from pure SQL") {
    import graft.TestSession.spark.implicits._
    Seq(1L, 2L, 2L, 3L).toDF("k").createOrReplaceTempView("bm_sql_t")
    val n = spark.sql(
      """SELECT bitmap_count(bitmap_and(bm, bm)) AS n
        |FROM (SELECT bitmap_build(k, 64) AS bm FROM bm_sql_t)""".stripMargin)
      .collect().head.getLong(0)
    assert(n == 3L)
  }
}
