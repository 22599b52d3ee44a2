package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PassJoin edit-distance join (q93's engine): output must EQUAL the
  * brute-force banded answer on a corpus planted to cross every path —
  * short×short (both ≤ 2k chars, the length-bucket branch), long×long
  * (segment pigeonhole), and the short/long boundary, plus pairs just
  * past the threshold and length-incompatible pairs. */
class DedupOpsSpec extends SparkSpec {

  private val K = 30

  // deterministic letter soup, seeded — no shared substrings across seeds
  private def rand(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }
  // substitute `m` scattered positions (distinct chars), keeping length
  private def sub(s: String, m: Int, seed: Int): String = {
    val r = new scala.util.Random(seed)
    val cs = s.toCharArray
    r.shuffle(cs.indices.toList).take(m).foreach { i =>
      cs(i) = if (cs(i) == 'z') 'a' else (cs(i) + 1).toChar
    }
    new String(cs)
  }

  private lazy val corpus: Seq[(Long, String)] = {
    val a = rand(1, 300)
    val b = rand(2, 50)
    val c = rand(3, 55)
    Seq(
      0L -> a,                       // long
      1L -> sub(a, 10, 11),          // lev ≤ 10 from 0
      2L -> a.drop(25),              // 25 deletions from 0: len 275, long
      3L -> sub(a, 120, 13),         // far from 0/1/2 (≥ ~90 edits)
      4L -> rand(4, 300),            // unrelated long
      5L -> b,                       // short
      6L -> (b + rand(6, 5)),        // short, lev 5 from 5
      7L -> c,                       // short (55)
      8L -> (c + rand(8, 20)),       // len 75: LONG — boundary pair with 7
      9L -> rand(9, 40),             // short, unrelated
      10L -> (a + rand(10, 40))      // len 340: |Δlen| 40 vs 0 — excluded
    )
  }

  test("passjoin pairs equal the brute-force banded answer on every path") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text").cache()
    val got = DedupOps.editDistPairs(docs, K)
      .orderBy("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val l = docs.select(col("doc_id").as("d1"), col("text").as("t1"))
    val r2 = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
    val brute = l.crossJoin(r2).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), levenshtein(col("t1"), col("t2"), K).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    assert(got.toSeq == brute.toSeq)
    // the planted structure actually exercised what it claims
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)), "long×long missed")
    assert(pairs.contains((5L, 6L)), "short×short missed")
    assert(pairs.contains((7L, 8L)), "short/long boundary missed")
    assert(!pairs.contains((0L, 10L)), "length-incompatible pair leaked")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "past-threshold pair leaked")
  }

  test("q95: containment join finds Jaccard-invisible quote inclusion, equal to brute force") {
    import spark.implicits._
    val big = rand(21, 2000)
    val quote = big.substring(500, 700)  // a 200-char excerpt of big
    val near = sub(quote, 4, 22)         // lightly mutated excerpt
    val other = rand(23, 2000)
    val docs = Seq(0L -> big, 1L -> quote, 2L -> other, 3L -> near)
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupOps.q95ContainmentJoin.run(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same definition: distinct 5-gram sets, ordered
    // pairs, 10·|A∩B| ≥ t₁₀·|A|
    def shingleSet(t: String) = (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      if (sa & sb).size * 10 >= sa.size * DedupOps.ContainTenths
    } yield (a, b)).toSet
    assert(out == expected, s"containment pairs $out != brute force $expected")
    // the asymmetry this operator exists for: the quote IS contained in
    // the page, the page is NOT contained in the quote — and the pair is
    // invisible to symmetric Jaccard at the q24 threshold
    assert(out.contains((1L, 0L)) && !out.contains((0L, 1L)))
    val j = (sets(1L) & sets(0L)).size.toDouble / (sets(1L) | sets(0L)).size
    assert(j < 0.6, s"test corpus defect: quote/page Jaccard $j not below LSH threshold")
  }

  test("array_agree_count equals the zip_with formulation (randomized) and handles nulls") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    // small value domain forces plenty of positional agreements
    val rows = Seq.fill(500)((
      Seq.fill(64)(r.nextInt(8).toLong),
      Seq.fill(64)(r.nextInt(8).toLong)))
    val df = rows.toDF("a", "b")
    val viaHof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val mismatched = df.select(
      graft.functions.GraftFunctions.agreeCount(col("a"), col("b")).as("fast"),
      viaHof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatched == 0L)
    // null input -> null out (BinaryExpression null-intolerance), and the
    // shorter array bounds the comparison
    val edge = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 9L))),
      (None, Some(Seq(1L, 2L)))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.agreeCount(col("a"), col("b")).as("c"))
      .collect()
    assert(edge(0).getInt(0) == 1 && edge(1).isNullAt(0))
  }
  test("q142: split assignment is the exact md5 bucket; leak flag is consistent") {
    val out = DedupOps.q142SplitLeakage.run(spark, "/root/testdata/sf0.01").collect()
    assert(out.nonEmpty)
    // recompute one endpoint's split on the driver with the same md5 rule
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(md.substring(0, 15), 16) % 10
      if (b < 8) "train" else if (b == 8) "val" else "test"
    }
    out.foreach { r =>
      assert(r.getString(2) == splitOf(r.getLong(0)), s"split1 of ${r.getLong(0)}")
      assert(r.getString(3) == splitOf(r.getLong(1)), s"split2 of ${r.getLong(1)}")
      assert((r.getLong(4) == 1L) == (r.getString(2) != r.getString(3)))
    }
    // the pair set must be exactly q52's verified near-dup pairs
    val q52 = DedupOps.q52MinhashLshFull.run(spark, "/root/testdata/sf0.01")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == q52)
  }

}
