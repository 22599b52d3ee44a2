package graft.operators

import graft.SparkSpec
import graft.functions.StringSim
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class LinkageOpsSpec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  test("jaroWinkler matches DuckDB-semantics golden values") {
    // golden values read straight off DuckDB's jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("ca", "abc", 0.0), // window 0, no same-position matches
      ("a cat", "an abct", 0.8114285714285714),
      ("dwayne", "duane", 0.8400000000000001),
      ("aaa", "aaaa", 0.9416666666666667),
      // floored transpositions (t=11 -> 5, not 5.5): textbook t/2.0 would
      // give 0.863333... here; DuckDB/RapidFuzz integer-halve
      ("customer merge agg stream window data pa",
        "customer merge sort group join the slow ", 0.8666666666666667),
      // below the 0.7 boost threshold: shared prefix must NOT boost
      ("aaaaaaaaaabcdefghij", "aaaaaaaaaaklmnopqrs", 0.6842105263157894))
    cases.foreach { case (a, b, want) =>
      assert(StringSim.jaroWinkler(u(a), u(b)) == want, s"jw($a, $b)")
    }
  }

  test("damerauLevenshtein is the unrestricted distance, not OSA") {
    // ca -> ac -> abc: 2 under Lowrance-Wagner; OSA forbids editing a
    // transposed pair again and answers 3
    assert(StringSim.damerauLevenshtein(u("ca"), u("abc")) == 2)
    assert(StringSim.damerauLevenshtein(u("martha"), u("marhta")) == 1)
    assert(StringSim.damerauLevenshtein(u("dixon"), u("dicksonx")) == 4)
    assert(StringSim.damerauLevenshtein(u(""), u("abc")) == 3)
    assert(StringSim.damerauLevenshtein(u("abc"), u("")) == 3)
    assert(StringSim.damerauLevenshtein(u("abc"), u("abc")) == 0)
    assert(StringSim.damerauLevenshtein(u("teh"), u("the")) == 1)
  }

  test("expression eval == codegen kernel over a corpus slice") {
    import spark.implicits._
    val pairs = Seq(("martha", "marhta"), ("teh quick", "the quick"),
      ("column query agg", "column slow agg"), ("", "x")).toDF("a", "b")
    val out = pairs.select(
      graft.functions.GraftFunctions.jaroWinkler(col("a"), col("b")).as("jw"),
      graft.functions.GraftFunctions.damerauLevenshtein(col("a"), col("b")).as("dl"))
      .collect()
    // same values the static kernel produces (codegen path goes through it)
    val want = Seq(("martha", "marhta"), ("teh quick", "the quick"),
      ("column query agg", "column slow agg"), ("", "x")).map { case (a, b) =>
      (StringSim.jaroWinkler(u(a), u(b)), StringSim.damerauLevenshtein(u(a), u(b)))
    }
    assert(out.map(r => (r.getDouble(0), r.getInt(1))).toSeq == want)
  }

  test("q135/q136 sorted-neighborhood: no cartesian, pairs are block-local") {
    val out = LinkageOps.q135JaroLinkage.run(spark, "/root/testdata/sf0.01")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "neighbor pairing must stay an equi-join")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(4) >= 0.85))
    val dl = LinkageOps.q136DamerauPairs.run(spark, "/root/testdata/sf0.01").collect()
    assert(dl.nonEmpty)
    assert(dl.forall(r => r.getInt(2) < r.getInt(3)), "dl must be strictly below lev")
  }

  test("q173: survivorship rules ≡ sequential per-cluster resolution") {
    val out = LinkageOps.q173GoldenRecord.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
    val dirty = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
      .collect().map { r =>
        val ck = r.getLong(0)
        val name = r.getString(1) + (ck % 3 match {
          case 1 => " inc"; case 2 => " incorporated"; case _ => ""
        })
        (ck / 3, ck, name, math.floor(r.getDouble(2) * 100.0 + 0.5).toLong,
          r.getString(3), r.getInt(4).toLong)
      }
    val expect = dirty.groupBy(_._1).toSeq.map { case (entity, ms) =>
      val name = ms.map(_._3).sortBy(n => (-n.length, n)).head
      val latest = ms.maxBy(_._2)
      (entity, ms.length.toLong, name, ms.map(_._4).max, latest._5, latest._6)
    }.sortBy(_._1)
    assert(out.toSeq == expect, "golden records ≡ driver-side survivorship")
    // conflicts are genuinely present: some cluster has 3 distinct name lengths
    assert(dirty.groupBy(_._1).exists(_._2.map(_._3.length).distinct.size == 3))
  }
}
