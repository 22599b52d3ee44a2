package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Functional invariants for the trained-classifier query (q124); exact
  * values are oracle-checked at sf0.01, this recomputes the whole model —
  * vocab ranking, smoothed weights, priors, scoring, argmax — sequentially
  * on the driver as an independent third implementation. */
class TextOpsSpec extends SparkSpec {

  test("q132: heavy hitters ≡ brute-force on an adversarially skewed fixture") {
    import graft.TestSession.spark.implicits._
    // 3 genuinely heavy tokens buried in a long tail of k-1 distinct
    // fillers per burst — the decrement pressure that makes naive
    // "top counters" sketches (space-saving without rescan, lossy
    // counting with wrong thresholds) drop true heavy hitters. 8
    // partitions so the union-of-sketches lift is actually exercised.
    val k = TextOps.HHCounters
    val words = (0 until 20000).flatMap { i =>
      Seq("alpha", "beta") ++ (if (i % 3 == 0) Seq("gamma") else Seq.empty) ++
        Seq(s"noise${i % 9973}", s"tail$i")
    }
    val docs = words.grouped(200).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(8)
    val n = words.size.toLong
    val brute = words.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, f) => f * k > n }.toSeq
      .sortBy { case (t, f) => (-f, t) }
    // run the ENGINE shape on the fixture (same code path as q132, via a
    // temp view of the fixture written through the documents schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_hh").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q132HeavyHitters.run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == brute, s"sketch+rescan diverged: got ${got.take(5)}…, expected ${brute.take(5)}…")
    assert(got.map(_._1).toSet == Set("alpha", "beta", "gamma"),
      "exactly the planted heavy tokens qualify")
  }

  test("q124: confusion matrix ≡ driver-side end-to-end NB train+score") {
    val out = TextOps.q124NbClassifier.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), lower(col("text")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty).toSeq))
    val train = docs.filter(_._1 % 2 == 0)
    val tests = docs.filter(_._1 % 2 != 0)
    assert(train.nonEmpty && tests.nonEmpty, "both halves of the split populated")

    val V = 256
    val vocab = train.flatMap(_._3).groupBy(identity)
      .map { case (t, v) => (t, v.size.toLong) }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(V).map(_._1).toSet
    val classes = train.map(_._2).distinct.sorted
    val cnt = train.flatMap(d => d._3.filter(vocab).map(t => (d._2, t)))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val tot = classes.map(c =>
      c -> cnt.collect { case ((`c`, _), n) => n }.sum).toMap
    val w = (for (c <- classes; t <- vocab)
      yield (c, t) -> (cnt.getOrElse((c, t), 0L) + 1) * 1000000L / (tot(c) + V)).toMap
    val prior = classes.map(c =>
      c -> train.count(_._2 == c).toLong * 1000000L / train.length).toMap

    val expected = tests.map { case (_, langTrue, toks) =>
      val pred = classes.map { c =>
        (c, prior(c) + toks.collect { case t if vocab(t) => w((c, t)) }.sum)
      }.sortBy { case (c, score) => (-score, c) }.head._1
      (langTrue, pred)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expected, "aggregation-built model ≡ sequential train+score")
    assert(out.values.sum == tests.length.toLong,
      "every test doc predicted exactly once; training docs never scored")
  }

  test("q151: novelty equals a driver-side distinct-5-gram cross-count") {
    val out = TextOps.q151NgramNovelty.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).sliding(5)
          .filter(_.length == 5).map(_.mkString(" ")).toSet)
      .filter(_._2.nonEmpty).toMap
    val gdf = docs.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, v) => g -> v.size }
    assert(out.keySet == docs.keySet, "every doc with >=5 tokens is scored")
    docs.foreach { case (id, gs) =>
      val shared = gs.count(g => gdf(g) >= 2)
      val expect = (gs.size.toLong, shared.toLong,
        (gs.size - shared).toLong * 1000000L / gs.size)
      assert(out(id) == expect, s"doc $id: ${out(id)} vs driver $expect")
    }
  }

  test("q155: pair frequencies equal a driver-side BPE first-iteration count") {
    val out = TextOps.q155BpePairs.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val words = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty).map(_.toLowerCase)
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    words.foreach { w =>
      (0 until w.length - 1).foreach(i => freq(w.substring(i, i + 2)) += 1L)
    }
    val brute = freq.toSeq.sortBy { case (p, f) => (-f, p) }.take(30)
    assert(out.toSeq == brute, "top-30 merge candidates match the sequential count")
  }

  test("q139: BM25 ranks the rare query term's docs first; scores match a driver recompute") {
    val out = TextOps.q139Bm25.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 15)
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq, "descending scores")
    // driver-side recompute of the integer BM25 for the top doc
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).map(_.toLowerCase))
    val n = docs.count(_._2.nonEmpty).toLong
    val total = docs.map(_._2.length.toLong).sum
    val dfm = TextOps.Bm25QueryTerms.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    def score(toks: Array[String]): Long = {
      val dl = toks.length.toLong
      TextOps.Bm25QueryTerms.map { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) 0L
        else ((1000L * (2 * n - 2 * dfm(t) + 1)) / (2 * dfm(t) + 1)) *
          ((44000L * tf * total) / (20 * tf * total + 6 * total + 18 * dl * n))
      }.sum
    }
    val (topId, topScore) = out.head
    assert(score(docs.toMap.apply(topId)) == topScore,
      "top doc's score matches the sequential integer BM25")
    val bruteTop = docs.map { case (id, t) => (score(t), id) }
      .sortBy { case (sc, id) => (-sc, id) }.take(15).map(_._2).toSeq
    assert(out.map(_._1).toSeq == bruteTop, "top-15 ids match the brute-force ranking")
  }

  test("q158: skip-gram pairs match the sequential windowed enumeration") {
    val out = TextOps.q158SkipgramPairs.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.length <= 30)
    // driver-side brute force over the same tokenization
    val docs = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
    val counts = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    for (toks <- docs if toks.length >= 2; o <- 1 to TextOps.SkipWindow;
         i <- 0 until toks.length - o) {
      val k = (toks(i), toks(i + o))
      val (n, w) = counts.getOrElse(k, (0L, 0L))
      counts(k) = (n + 1, w + 6 / o)
    }
    val brute = counts.toSeq.collect { case ((t1, t2), (n, w)) if n >= 5 => (t1, t2, n, w) }
      .sortBy { case (t1, t2, _, w) => (-w, t1, t2) }.take(30)
    assert(out.toSeq == brute, "top-30 ≡ brute force with identical tie-break")
    // distance weighting is live: some pair's weight is not 6×count
    assert(out.exists { case (_, _, n, w) => w != 6 * n },
      "non-adjacent contexts contribute (otherwise this is just q130's bigrams)")
  }

  test("q239: native generator ≡ the explode composition; Generate in the plan") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("g239_docs")
    // bigram form must reproduce q39's declarative composition EXACTLY
    val viaUdtf = spark.sql(
      """SELECT ngram AS bigram, COUNT(*) AS cnt
        |FROM g239_docs LATERAL VIEW word_ngrams(lower(text), 2) t AS pos, ngram
        |GROUP BY 1""".stripMargin)
    val viaCompose = Tables.documents(spark, sfDir)
      .select(expr("filter(split(lower(text), ' '), x -> x <> '')").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    assert(viaUdtf.exceptAll(viaCompose).isEmpty && viaCompose.exceptAll(viaUdtf).isEmpty,
      "generator output must equal the declarative composition")
    // positions are 1-based and dense per doc; empty/short docs emit nothing
    val rows = spark.sql(
      "SELECT pos, ngram FROM (SELECT 'a b c d' AS s) LATERAL VIEW word_ngrams(s, 3) t AS pos, ngram")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "a b c"), (2, "b c d")))
    assert(spark.sql(
      "SELECT * FROM (SELECT 'a b' AS s) LATERAL VIEW word_ngrams(s, 3) t AS pos, ngram")
      .count() == 0)
    // it plans as a Generate (a true table function), not a projection
    val p = viaUdtf.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"expected a Generate node:\n$p")
  }

  test("q217: growth curve conserves totals and cumulates monotonically") {
    val out = TextOps.q217VocabGrowth.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == (1L to 10L), "one row per decile")
    // cumulative columns are non-decreasing and consistent with marginals
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3 && b._4 >= a._4)
      assert(b._4 - a._4 == b._2, "cum_vocab marginals equal new_vocab")
    }
    // totals conserve: final cum_vocab = |distinct tokens|, final
    // cum_tokens = total token occurrences
    val tok = Tables.documents(spark, sfDir)
      .select(explode(expr("filter(split(lower(text), ' '), t -> t <> '')")).as("token"))
    assert(out.last._4 == tok.distinct().count())
    assert(out.last._3 == tok.count())
    assert(out.forall { case (_, _, ct, cv, r) => r == cv * 1000000L / ct })
  }
}
