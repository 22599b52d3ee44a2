package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The binned range-join rewrite: same answers as the nested loop it
  * replaces, a shuffle-joinable plan, and correct scope guards. */
class BinnedRangeJoinSpec extends SparkSpec {

  private def withRule[A](w: Long)(body: => A): A = {
    spark.conf.set(BinnedRangeJoin.BinWidthKey, w.toString)
    try body finally spark.conf.set(BinnedRangeJoin.BinWidthKey, "0")
  }

  private def points = {
    import graft.TestSession.spark.implicits._
    // negatives included: truncating div is monotone, recall must hold
    (-500L to 2000L by 7).map(p => (p, s"p$p")).toDF("pt", "ptag")
  }
  private def intervals = {
    import graft.TestSession.spark.implicits._
    // widths 0..~120 around bin width 50, one inverted (never matches),
    // one point-sized
    Seq((0L, -400L, -300L), (1L, -30L, 25L), (2L, 100L, 100L),
      (3L, 140L, 260L), (4L, 500L, 505L), (5L, 700L, 640L),
      (6L, 1000L, 1120L), (7L, 1999L, 2100L))
      .toDF("iid", "lo", "hi")
  }

  test("binned plan answers exactly the nested-loop answers (inclusive + strict + negatives)") {
    val incl = points.join(intervals, col("pt") >= col("lo") && col("pt") <= col("hi"))
    val strict = points.join(intervals, col("lo") < col("pt") && col("pt") < col("hi"))
    val baseIncl = incl.collect().map(_.toSeq).toSet
    val baseStrict = strict.collect().map(_.toSeq).toSet
    assert(baseIncl.nonEmpty && baseStrict.nonEmpty)
    withRule(50L) {
      val rIncl = points.join(intervals, col("pt") >= col("lo") && col("pt") <= col("hi"))
      val rStrict = points.join(intervals, col("lo") < col("pt") && col("pt") < col("hi"))
      assert(rIncl.collect().map(_.toSeq).toSet == baseIncl)
      assert(rStrict.collect().map(_.toSeq).toSet == baseStrict)
      val p = rIncl.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"interval join must not nest loops under the rule:\n$p")
      assert(p.contains("Generate") || p.contains("explode"),
        s"interval side must explode to bins:\n$p")
    }
  }

  test("derived bounds (ratio band): expression lo/hi bins like literal widths — q265's shape") {
    import graft.TestSession.spark.implicits._
    // multiplicative tolerance: b ∈ [ceil(a·0.998), floor(a·1.002)] in
    // exact ppm integer arithmetic — bounds are EXPRESSIONS of the
    // interval side, which the rule's scope guards must accept
    val a = (90000L to 100000L by 97).map(v => (v, s"a$v")).toDF("pa", "atag")
      .withColumn("lo", expr("(pa * 998000 + 999999) DIV 1000000"))
      .withColumn("hi", expr("pa * 1002000 DIV 1000000"))
    val b = (90000L to 100000L by 89).map(v => (v, s"b$v")).toDF("pb", "btag")
    val base = b.join(a, col("pb") >= col("lo") && col("pb") <= col("hi"))
      .collect().map(_.toSeq).toSet
    assert(base.nonEmpty)
    withRule(512L) {
      val r = b.join(a, col("pb") >= col("lo") && col("pb") <= col("hi"))
      assert(r.collect().map(_.toSeq).toSet == base)
      val p = r.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"derived-bounds interval join must bin, not nest loops:\n$p")
    }
  }

  test("left-outer / left-semi / left-anti with the point on the left: same answers, no nested loop") {
    val cond = col("pt") >= col("lo") && col("pt") <= col("hi")
    val types = Seq("left_outer", "left_semi", "left_anti")
    val base = types.map(t =>
      t -> points.join(intervals, cond, t).collect().map(_.toSeq).toSet).toMap
    // sanity: the fixture exercises all three behaviors
    assert(base("left_outer").exists(_.contains(null)), "fixture must have unmatched points")
    assert(base("left_semi").nonEmpty && base("left_anti").nonEmpty)
    assert(base("left_semi").size + base("left_anti").size == points.count(),
      "semi + anti must partition the point side")
    withRule(50L) {
      types.foreach { t =>
        val r = points.join(intervals, cond, t)
        assert(r.collect().map(_.toSeq).toSet == base(t), s"$t answers must be invariant")
        val p = r.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$t interval join must not nest loops under the rule:\n$p")
        assert(p.contains("graft_ptbin"), s"$t must take the binned path:\n$p")
      }
      // right-outer with the point on the RIGHT is the mirrored preserved-
      // point shape — also rewritten
      val ro = intervals.join(points, cond, "right_outer")
      val baseRo = {
        spark.conf.set(BinnedRangeJoin.BinWidthKey, "0")
        try intervals.join(points, cond, "right_outer").collect().map(_.toSeq).toSet
        finally spark.conf.set(BinnedRangeJoin.BinWidthKey, "50")
      }
      assert(ro.collect().map(_.toSeq).toSet == baseRo)
      assert(ro.queryExecution.executedPlan.toString.contains("graft_ptbin"))
    }
  }

  /** Fixture for the preserved-interval path: DUPLICATE interval rows
    * (multiplicity must survive group-count-expand exactly), a null
    * bound (never matches, must still be preserved), plus the inverted
    * and gap intervals from [[intervals]]. */
  private def intervalsDup = {
    import graft.TestSession.spark.implicits._
    (Seq((0L, Some(-400L), Some(-300L)), (1L, Some(-30L), Some(25L)),
      (2L, Some(100L), Some(100L)), (3L, Some(140L), Some(260L)),
      (4L, Some(500L), Some(505L)), (5L, Some(700L), Some(640L)),
      (6L, Some(1000L), Some(1120L)), (7L, Some(1999L), Some(2100L)),
      // duplicates: one matching row ×3, one unmatched (inverted) ×2
      (3L, Some(140L), Some(260L)), (3L, Some(140L), Some(260L)),
      (5L, Some(700L), Some(640L)),
      // null bound: three-valued predicate is never true
      (8L, None: Option[Long], Some(900L))))
      .toDF("iid", "lo", "hi")
  }
  private def pointsNullable = {
    import graft.TestSession.spark.implicits._
    ((-500L to 2000L by 7).map(p => (Some(p): Option[Long], s"p$p")) :+
      ((None: Option[Long], "pnull"))).toDF("pt", "ptag")
  }

  private def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq: Seq[Any]).groupBy(identity).map { case (k, v) => (k, v.length) }

  test("preserved-interval shapes: full outer, interval-side outer/semi/anti — multiplicity-exact, no nested loop") {
    val cond = col("pt") >= col("lo") && col("pt") <= col("hi")
    // (label, rule-shaped frame builder) — interval side PRESERVED in each
    def shapes = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("full_outer pts-left", () => pointsNullable.join(intervalsDup, cond, "full_outer")),
      ("full_outer ivs-left", () => intervalsDup.join(pointsNullable, cond, "full_outer")),
      ("left_outer ivs-left", () => intervalsDup.join(pointsNullable, cond, "left_outer")),
      ("right_outer ivs-right", () => pointsNullable.join(intervalsDup, cond, "right_outer")),
      ("left_semi ivs-left", () => intervalsDup.join(pointsNullable, cond, "left_semi")),
      ("left_anti ivs-left", () => intervalsDup.join(pointsNullable, cond, "left_anti")))
    val base = shapes.map { case (t, f) => t -> multiset(f()) }.toMap
    // fixture sanity: duplicates present and preserved in the baseline
    assert(base("left_semi ivs-left").exists(_._2 == 3), "triplicated matched interval")
    assert(base("left_anti ivs-left").exists(_._2 == 2), "duplicated unmatched interval")
    assert(base("left_anti ivs-left").keys.exists(_.head == 8L), "null-bound row is anti")
    withRule(50L) {
      shapes.foreach { case (t, f) =>
        val r = f()
        assert(multiset(r) == base(t), s"$t answers must be invariant under the rewrite")
        val p = r.queryExecution.executedPlan.toString
        assert(p.contains("graft_ptbin"), s"$t must take the binned path:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$t interval join must not nest loops under the rule:\n$p")
      }
    }
  }

  test("idempotence: re-optimizing an already-rewritten plan changes nothing") {
    val cond = col("pt") >= col("lo") && col("pt") <= col("hi")
    withRule(50L) {
      // every join the rewrite emits carries an equality conjunct, so
      // RE-APPLYING THE RULE to an already-rewritten plan must be the
      // identity — for the direct path AND the preserved-interval
      // decomposition. (The whole optimizer is deliberately not
      // re-executed: unrelated batches like ConvertToLocalRelation keep
      // folding test fixtures and would mask what this pins.)
      for (df <- Seq(
        points.join(intervals, cond),
        intervalsDup.join(pointsNullable, cond, "full_outer"),
        intervalsDup.join(pointsNullable, cond, "left_anti"))) {
        val once = df.queryExecution.optimizedPlan
        val twice = BinnedRangeJoin(once)
        assert(twice.canonicalized == once.canonicalized,
          s"rule must be a fixpoint:\nonce:\n$once\ntwice:\n$twice")
        assert(once.toString.contains("graft_ptbin"), "fixture must be rewritten at all")
      }
    }
  }

  test("preserved-interval guard: map-typed interval column keeps the default planner") {
    val cond = col("pt") >= col("lo") && col("pt") <= col("hi")
    val ivsWithMap = intervals.withColumn("m", map(col("iid"), col("lo")))
    withRule(50L) {
      val p = ivsWithMap.join(points, cond, "left_outer")
        .queryExecution.executedPlan.toString
      assert(!p.contains("graft_ptbin"),
        s"non-groupable interval side must not take the preserved path:\n$p")
    }
  }

  test("guards: equi conjunct present, or rule disabled, leaves the plan alone") {
    val equi = points.withColumn("k1", col("pt") % 10)
      .join(intervals.withColumn("k2", col("iid") % 10),
        col("k1") === col("k2") &&
          col("pt") >= col("lo") && col("pt") <= col("hi"))
    withRule(50L) {
      val p = equi.queryExecution.executedPlan.toString
      assert(!p.contains("graft_ptbin"), s"equi joins must not be rewritten:\n$p")
    }
    // disabled (width 0): the BNLJ plan is what Spark natively produces
    val off = points.join(intervals, col("pt") >= col("lo") && col("pt") <= col("hi"))
    val p0 = off.queryExecution.executedPlan.toString
    assert(p0.contains("BroadcastNestedLoopJoin") || p0.contains("CartesianProduct"))
  }

  test("each qualifying pair meets in exactly one bin — no duplicate matches") {
    withRule(50L) {
      val j = points.join(intervals, col("pt") >= col("lo") && col("pt") <= col("hi"))
        .groupBy("pt", "iid").count()
      assert(j.filter(col("count") > 1).count() == 0, "binning must not duplicate pairs")
    }
  }
}
