package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The Damerau-Levenshtein kernel against a textbook Lowrance-Wagner
  * (full matrix, last-occurrence map) on seeded random pairs. */
class StringSimSpec extends AnyFunSuite {

  /** Lowrance-Wagner as printed: (n+2) x (m+2) table with an `inf`
    * sentinel row and column, `da` the last row of each character in `a`. */
  private def textbook(a: String, b: String): Int = {
    val inf = a.length + b.length
    val d = Array.fill(a.length + 2, b.length + 2)(0)
    d(0)(0) = inf
    for (i <- 0 to a.length) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to b.length) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    val da = scala.collection.mutable.Map.empty[Char, Int].withDefaultValue(0)
    for (i <- 1 to a.length) {
      var db = 0
      for (j <- 1 to b.length) {
        val k = da(b(j - 1))
        val l = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = Seq(d(i)(j) + cost, d(i + 1)(j) + 1, d(i)(j + 1) + 1,
          d(k)(l) + (i - k - 1) + 1 + (j - l - 1)).min
      }
      da(a(i - 1)) = i
    }
    d(a.length + 1)(b.length + 1)
  }

  /** `count` pairs of words of 0-45 symbols drawn from `alphabet`'s
    * code points. */
  private def pairs(seed: Long, alphabet: String, count: Int): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    val symbols = alphabet.codePoints.toArray.map(cp => Character.toString(cp))
    def word() = Seq.fill(rng.nextInt(46))(symbols(rng.nextInt(symbols.length))).mkString
    Seq.fill(count)((word(), word()))
  }

  private def check(ps: Seq[(String, String)]): Unit = ps.foreach { case (a, b) =>
    val got = StringSim.damerauLevenshtein(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(got == textbook(a, b), s"dl($a, $b)")
  }

  test("ASCII pairs of length 0-45 match the textbook distance") {
    check(pairs(7L, "abcd", 3000))
    check(pairs(8L, "abcdefghij klmnopqrstuvwxyz~\u0000\u007f", 1000))
  }

  test("non-ASCII pairs and ASCII-against-non-ASCII pairs match the textbook distance") {
    check(pairs(9L, "abcdαβγ", 3000))
    // a supplementary character is two UTF-16 code units, counted as two
    check(pairs(10L, "abé中😀", 1000))
    check(pairs(11L, "abcd", 500).zip(pairs(12L, "abαβ", 500)).map {
      case ((a, _), (_, b)) => (a, b)
    })
  }
}
