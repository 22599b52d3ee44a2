package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

/** The banded-levenshtein optimizer rule: every literal comparison form
  * rewrites to the threshold variant, results stay identical to the
  * unbanded predicate, and out-of-scope shapes are left alone. */
class BandedLevenshteinSpec extends SparkSpec {

  private lazy val df: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "kitten", "sitting"),   // dist 3
      (2L, "flaw", "lawn"),        // dist 2
      (3L, "same", "same"),        // dist 0
      (4L, "abcdefgh", "zyxwvuts"),// dist 8
      (5L, "abc", null.asInstanceOf[String]) // NULL propagation
    ).toDF("id", "a", "b")
      // cached: otherwise ConvertToLocalRelation evaluates Filter-over-
      // LocalRelation at optimize time and there is no plan left to inspect
      .cache()
  }

  /** Distances computed via the PROJECTION path (never rewritten — the
    * rule only touches comparisons), the in-engine source of truth. */
  private lazy val dist: Map[Long, Option[Int]] =
    df.select(col("id"), levenshtein(col("a"), col("b")).as("d"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap

  private def bandedCount(q: DataFrame): Int =
    q.queryExecution.optimizedPlan.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect {
        case l: Levenshtein if l.threshold.isDefined => l
      })
    }.flatten.size

  private def check(cond: String, expectedIds: Set[Long], banded: Boolean): Unit = {
    val q = df.filter(expr(cond)).select("id")
    assert(bandedCount(q) == (if (banded) 1 else 0),
      s"banding mismatch for `$cond`:\n${q.queryExecution.optimizedPlan}")
    assert(q.collect().map(_.getLong(0)).toSet == expectedIds, s"rows for `$cond`")
  }

  private def ids(pred: Int => Boolean): Set[Long] =
    dist.collect { case (id, Some(d)) if pred(d) => id }.toSet

  test("<=, <, >, >=, = against a literal are banded and equivalent") {
    check("levenshtein(a, b) <= 2", ids(_ <= 2), banded = true)
    check("levenshtein(a, b) < 3",  ids(_ < 3),  banded = true)
    check("levenshtein(a, b) > 2",  ids(_ > 2),  banded = true)
    check("levenshtein(a, b) >= 3", ids(_ >= 3), banded = true)
    check("levenshtein(a, b) = 2",  ids(_ == 2), banded = true)
    check("levenshtein(a, b) = 0",  ids(_ == 0), banded = true)
  }

  test("reversed operand order is normalized and banded") {
    check("2 >= levenshtein(a, b)", ids(_ <= 2), banded = true)
    check("3 > levenshtein(a, b)",  ids(_ < 3),  banded = true)
    check("2 < levenshtein(a, b)",  ids(_ > 2),  banded = true)
    check("3 <= levenshtein(a, b)", ids(_ >= 3), banded = true)
    check("2 = levenshtein(a, b)",  ids(_ == 2), banded = true)
  }

  test("NULL input stays NULL-excluded under the rewrite") {
    // id 5 has a NULL side: the banded comparison must not admit it
    assert(!df.filter(expr("levenshtein(a, b) <= 100")).collect()
      .map(_.getLong(0)).contains(5L))
  }

  test("out-of-scope shapes are left unbanded") {
    // constant-true/false bounds belong to ConstantFolding, not banding
    check("levenshtein(a, b) >= 0", ids(_ >= 0), banded = false)
    check("levenshtein(a, b) < 0",  Set.empty,   banded = false)
    // non-literal bound: cannot band
    check("levenshtein(a, b) <= id", dist.collect {
      case (id, Some(d)) if d <= id => id
    }.toSet, banded = false)
    // projection (no comparison): untouched
    assert(bandedCount(df.select(levenshtein(col("a"), col("b")))) == 0)
  }

  test("rule lands in join conditions (the q91 shape)") {
    val l = df.select(col("id").as("lid"), col("a").as("la"))
    val r = df.select(col("id").as("rid"), col("a").as("ra"))
    val j = l.join(r, expr("lid < rid AND levenshtein(la, ra) <= 4"))
    assert(bandedCount(j) == 1,
      s"join condition not banded:\n${j.queryExecution.optimizedPlan}")
    // only flaw↔same, flaw↔abc, same↔abc are within distance 4
    val got = j.select("lid", "rid").collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(got == Set((2L, 3L), (2L, 5L), (3L, 5L)))
  }
}
