package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** graft's native Catalyst expressions and their Column-API sugar.
  *
  * [[fns]] is the list of (name, class, builder) that [[graft.Setup]]
  * registers on a session; `QueryDef.run` and `SparkEntry.session()` call
  * it, so pure-SQL users of a set-up session can also write
  * `SELECT cosine_sim(a, b)`.
  */
object GraftFunctions {

  private[graft] val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity].getName,
      children => CosineSimilarity(children(0), children(1))),
    ("array_agree_count", classOf[ArrayAgreeCount].getName,
      children => ArrayAgreeCount(children(0), children(1))),
    ("word_ngrams", classOf[WordNGrams].getName,
      children => if (children.length == 1) WordNGrams(children(0))
        else WordNGrams(children(0), children(1))),
    ("long_dot", classOf[LongDot].getName,
      children => LongDot(children(0), children(1))),
    ("long_sqdist", classOf[LongSqDist].getName,
      children => LongSqDist(children(0), children(1))),
    ("jaro_winkler", classOf[JaroWinkler].getName,
      children => JaroWinkler(children(0), children(1))),
    ("damerau_levenshtein", classOf[DamerauLevenshtein].getName,
      children => DamerauLevenshtein(children(0), children(1))),
    // Native TypedImperativeAggregate: Misra-Gries heavy-hitter sketch,
    // O(m) state per group through partial agg + shuffle (see MisraGries)
    ("mg_topk", classOf[MisraGriesSketch].getName,
      children => MisraGriesSketch(children(0), children(1))),
    // Native TypedImperativeAggregate: exact grouped top-k, O(k) heap
    // state per group through partial agg + shuffle (see BoundedTopK)
    ("topk_agg", classOf[BoundedTopK].getName,
      children => BoundedTopK(children(0), children(1))),
    // Native TypedImperativeAggregate + scalar algebra: exact bounded-
    // domain distinct sets, O(domain/8) state per group (see BitmapOps)
    ("bitmap_build", classOf[BitmapBuild].getName,
      children => BitmapBuild(children(0), children(1))),
    ("bitmap_and", classOf[BitmapAnd].getName,
      children => BitmapAnd(children(0), children(1))),
    ("bitmap_or", classOf[BitmapOr].getName,
      children => BitmapOr(children(0), children(1))),
    ("bitmap_merge", classOf[BitmapMerge].getName,
      children => BitmapMerge(children(0))),
    ("bitmap_and_not", classOf[BitmapAndNot].getName,
      children => BitmapAndNot(children(0), children(1))),
    ("bitmap_positions", classOf[BitmapPositions].getName,
      children => BitmapPositions(children(0))),
    // Spark ships BloomFilterMightContain for its internal runtime-filter
    // rewrite but does not register it for users; exposing it makes the
    // bloom-pruned join (ScaleTools.bloomPrunedJoin) fully declarative and
    // codegen'd — no scala UDF on the fact-scan hot path. The bloom
    // argument must be a constant (literal or scalar subquery) per the
    // expression's own type check.
    ("might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      children =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(children(0), children(1)))
  )

  /** Bloom membership test against a constant serialized filter (see
    * [[graft.operators.ScaleTools.bloomPrunedJoin]]). */
  def mightContain(bloom: Column, value: Column): Column =
    call_function("might_contain", bloom, value)

  /** Column-API sugar (resolves on a session set up by [[graft.Setup]]). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Integer dot product over two long arrays (quantized similarity). */
  def longDot(a: Column, b: Column): Column = call_function("long_dot", a, b)

  /** Integer squared-L2 distance over two long arrays. */
  def longSqDist(a: Column, b: Column): Column = call_function("long_sqdist", a, b)

  /** Position-wise agreement count of two long arrays (MinHash prune). */
  def agreeCount(a: Column, b: Column): Column =
    call_function("array_agree_count", a, b)

  /** Misra-Gries heavy-hitter candidate keys (see [[MisraGriesSketch]]). */
  def mgTopK(key: Column, m: Column): Column = call_function("mg_topk", key, m)

  /** Exact k largest values per group, descending (see [[BoundedTopK]]). */
  def topKAgg(value: Column, k: Column): Column = call_function("topk_agg", value, k)

  /** Exact distinct-set bitmap over a bounded domain (see [[BitmapBuild]]). */
  def bitmapBuild(key: Column, domain: Column): Column =
    call_function("bitmap_build", key, domain)

  /** Popcount of a bitmap (exact distinct count): Spark's builtin
    * `bitmap_count`, which counts the set bits of any binary. */
  def bitmapCount(b: Column): Column = call_function("bitmap_count", b)

  /** Bitmap intersection. */
  def bitmapAnd(a: Column, b: Column): Column = call_function("bitmap_and", a, b)

  /** Bitmap union. */
  def bitmapOr(a: Column, b: Column): Column = call_function("bitmap_or", a, b)

  /** OR-merge aggregate over built bitmaps (rollup level). */
  def bitmapMerge(bm: Column): Column = call_function("bitmap_merge", bm)

  /** Bitmap set difference (a AND NOT b). */
  def bitmapAndNot(a: Column, b: Column): Column =
    call_function("bitmap_and_not", a, b)

  /** Ascending set-bit positions of a bitmap (members, not counts). */
  def bitmapPositions(b: Column): Column = call_function("bitmap_positions", b)

  /** Jaro-Winkler similarity (DuckDB-compatible; see [[StringSim]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)

  /** Unrestricted Damerau-Levenshtein distance (see [[StringSim]]). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    call_function("damerau_levenshtein", a, b)
}
