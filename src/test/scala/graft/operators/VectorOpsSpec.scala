package graft.operators

import graft.SparkSpec

/** Similarity-search semantics: exact ranking, LSH recall, near-dup
  * symmetry. */
class VectorOpsSpec extends SparkSpec {

  private def top(q: graft.QueryDef): Seq[(Long, Double)] =
    q.run(spark, sfDir).select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("q27 brute force: similarities sorted desc, within [-1, 1]") {
    val res = top(VectorOps.q27CosineTopK)
    assert(res.size == 10)
    assert(res.map(_._2) == res.map(_._2).sorted.reverse)
    assert(res.forall { case (_, s) => s >= -1.0001 && s <= 1.0001 })
  }

  test("multi-probe LSH: recall grows with probe radius, exact at full probe") {
    val exact = top(VectorOps.q27CosineTopK).map(_._1).toSet
    def recall(r: Int): Double =
      VectorOps.annLshQuery(spark, sfDir, r).select("vec_id").collect()
        .map(_.getLong(0)).count(exact.contains) / 10.0
    // measured on the fixed seed-42 corpus: 0.0 / 0.3 / 0.9 / 1.0 —
    // random uncorrelated embeddings need multi-probe; assert conservative
    // floors and monotonicity
    val r1 = recall(1); val r2 = recall(2); val r3 = recall(3)
    assert(r1 >= 0.2, s"radius-1 recall $r1")
    assert(r2 >= 0.7 && r2 >= r1, s"radius-2 recall $r2")
    assert(r3 >= 0.9 && r3 >= r2, s"radius-3 recall $r3")
    // ranking inside the probed set is exact and sorted
    val approx = top(VectorOps.q28AnnLsh)
    assert(approx.map(_._2) == approx.map(_._2).sorted.reverse)
  }

  test("native cosine_sim is registered for SQL users") {
    val row = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s, " +
      "cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS o").head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(row.getDouble(1)) < 1e-12)
  }

  test("q29 near-dup pairs are consistent with q27 scoring (same kernel)") {
    val pairs = VectorOps.q29CosinePairs.run(spark, sfDir).collect()
    // every reported pair clears the threshold
    assert(pairs.forall(_.getDouble(2) >= 0.45))
  }

  test("q97 PQ-ADC shortlist + rerank equals the exact integer-L2 top-10") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val res = VectorOps.q97PqAnn.run(spark, sfDir).collect()
    assert(res.length == 10)
    // independent brute-force reference over the same integer micro-units
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast(DoubleType) * lit(1000000.0) + lit(0.5)).cast(LongType)).as("iv"))
    val q = e.filter(col("vec_id") === 0).select(col("iv").as("qiv"))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        aggregate(zip_with(col("iv"), col("qiv"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10).collect()
    // recall 1.0 on this corpus: ids AND exact distances match, in order
    assert(res.map(_.getLong(0)).toSeq == exact.map(_.getLong(0)).toSeq)
    assert(res.map(_.getLong(2)).toSeq == exact.map(_.getLong(1)).toSeq)
    // ADC is an approximation: positive, and EXACT for codeword vectors
    // (a codeword quantizes to itself, so its table lookups sum to the
    // true distance)
    assert(res.forall(_.getLong(1) > 0))
    res.filter(r => r.getLong(0) >= 1 && r.getLong(0) <= VectorOps.PqK)
      .foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"codeword vec ${r.getLong(0)}: adc ${r.getLong(1)} != exact ${r.getLong(2)}"))
  }
  test("q140: matryoshka recall is bounded and the full-width ranking is self-consistent") {
    import org.apache.spark.sql.functions._
    val out = VectorOps.q140MatryoshkaRecall.run(spark, sfDir).collect()
    assert(out.length == 20, "one row per query vector")
    out.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 10))
    // a query against ITSELF at full width would be recall 10; the truncated
    // index must never exceed the full intersection bound (already pinned by
    // <= 10), and at least one query should retain >0 of its true top-10 even
    // through a 4x truncation on random vectors
    assert(out.map(_.getLong(1)).sum > 0, "truncation does not annihilate all recall")
  }

  test("q144: drift cosine is bounded; identical halves give exactly 1.0") {
    import org.apache.spark.sql.functions._
    val out = VectorOps.q144EmbeddingDrift.run(spark, sfDir).collect()
    assert(out.length == 10, "one row per label")
    out.foreach(r => assert(math.abs(r.getDouble(1)) <= 1.0))
    // fixture: odd ids replicate even ids exactly -> per-label halves are
    // identical multisets, so every drift cosine must be exactly 1.0
    import graft.TestSession.spark.implicits._
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 37 + j * 11) % 100 - 50) / 97.0f), i % 4)
    }
    val fixture = base.map { case (id, v, l) => (id * 2, v, l) } ++
      base.map { case (id, v, l) => (id * 2 + 1, v, l) }
    val dir = "/tmp/graft_q144_fixture"
    fixture.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val f = VectorOps.q144EmbeddingDrift.run(spark, dir).collect()
    assert(f.length == 4)
    f.foreach(r => assert(r.getDouble(1) == 1.0,
      s"label ${r.getLong(0)}: identical halves must cos to exactly 1.0, got ${r.getDouble(1)}"))
  }

  test("q153: fused scores recompute from the reported ranks; both retrievers contribute") {
    val rows = VectorOps.q153RrfFusion.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (id, rl, rs, rrf) =>
      assert(rl == -1L || (rl >= 1 && rl <= VectorOps.RrfListLen), s"doc $id rank_lex $rl")
      assert(rs == -1L || (rs >= 1 && rs <= VectorOps.RrfListLen), s"doc $id rank_sem $rs")
      assert(rl != -1L || rs != -1L, s"doc $id must appear in at least one list")
      val expect = (if (rl == -1L) 0L else 1000000L / (VectorOps.RrfK + rl)) +
        (if (rs == -1L) 0L else 1000000L / (VectorOps.RrfK + rs))
      assert(rrf == expect, s"doc $id: rrf $rrf != recomputed $expect")
    }
    val scores = rows.map(_._4)
    assert(scores.toSeq == scores.sortBy(-_).toSeq, "descending fused scores")
    assert(rows.exists(r => r._2 != -1L && r._3 != -1L),
      "some doc is found by BOTH retrievers (fusion is non-trivial)")
  }

  test("q150: density labels are consistent with q29's pair relation at the same eps") {
    val labels = VectorOps.q150DensityLabels.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // q29 emits the v1<v2 half of the SAME >=0.45 pair relation
    val half = VectorOps.q29CosinePairs.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (half ++ half.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val core = labels.filter(_._2._2 == "core").keySet
    labels.foreach { case (id, (n, label)) =>
      assert(n == nbrs.get(id).map(_.size).getOrElse(0),
        s"vec $id: neighbor count must match the q29 relation")
      label match {
        case "core" => assert(n >= VectorOps.DensityMinPts)
        case "border" =>
          assert(n < VectorOps.DensityMinPts)
          assert(nbrs(id).exists(core), s"vec $id: border needs a core neighbor")
        case "noise" =>
          assert(n < VectorOps.DensityMinPts)
          assert(nbrs.get(id).forall(!_.exists(core)), s"vec $id: noise has no core neighbor")
      }
    }
  }

  test("q157: greedy k-center picks match the sequential driver-side greedy") {
    val out = VectorOps.q157KCenterCoreset.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == VectorOps.KCenterPicks + 1)
    assert(out.map(_._1).toSeq == (0L to VectorOps.KCenterPicks.toLong))
    // driver-side replica: same quantization, same greedy, same tie-break
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0 + 0.5) as bigint)) iv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var chosen = Vector(vecs.head._1)
    var expect = Vector((0L, vecs.head._1, -1L))
    val byId = vecs.toMap
    for (r <- 1 to VectorOps.KCenterPicks) {
      val cand = vecs.filterNot(v => chosen.contains(v._1))
        .map { case (id, iv) => (id, chosen.map(c => sq(iv, byId(c))).min) }
      val (pid, pd) = cand.maxBy { case (id, d) => (d, -id) }
      chosen :+= pid
      expect :+= ((r.toLong, pid, pd))
    }
    assert(out.toSeq == expect, "unrolled rounds ≡ sequential greedy")
    // farthest distance is non-increasing as the chosen set grows
    val ds = out.drop(1).map(_._3)
    assert(ds.toSeq == ds.sortBy(-_).toSeq)
  }

  test("long_dot/long_sqdist kernels ≡ the declarative folds they replace; codegen, no UDF") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0 + 0.5) as bigint)) iv")
    val q = e.filter(col("vec_id") === 0).select(col("iv").as("qv"))
    val both = e.crossJoin(broadcast(q)).select(
      graft.functions.GraftFunctions.longDot(col("iv"), col("qv")).as("kd"),
      expr("aggregate(zip_with(iv, qv, (x, y) -> x * y), 0L, (a, x) -> a + x)").as("fd"),
      graft.functions.GraftFunctions.longSqDist(col("iv"), col("qv")).as("ks"),
      expr("aggregate(zip_with(iv, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)").as("fs"))
    assert(both.filter(col("kd") =!= col("fd") || col("ks") =!= col("fs")).count() == 0,
      "kernels must equal the folds on every corpus vector")
    val p = both.queryExecution.executedPlan.toString
    assert(p.contains("long_dot") && p.contains("long_sqdist"))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("long_dot/long_sqdist edge guards ≡ the folds: length mismatch, null element, null array") {
    import org.apache.spark.sql.functions._
    // a malformed-ingest fixture: matched pair, truncated pair, null
    // element on either side, a whole-array null — the fold NULLs all of
    // them and the kernel must agree row-by-row
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", ArrayType(LongType, containsNull = true)),
      StructField("b", ArrayType(LongType, containsNull = true))))
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
        Row(2L, Seq(1L, 2L), Seq(4L, 5L, 6L)),
        Row(3L, Seq(1L, 2L, 3L, 4L), Seq(4L, 5L, 6L)),
        Row(4L, Seq[Any](1L, null, 3L), Seq(4L, 5L, 6L)),
        Row(5L, Seq(1L, 2L, 3L), Seq[Any](4L, 5L, null)),
        Row(6L, null, Seq(4L, 5L, 6L)),
        Row(7L, Seq.empty[Long], Seq.empty[Long]))), schema)
    val both = rows.select(col("id"),
      expr("long_dot(a, b)").as("kd"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (p, x) -> p + x)").as("fd"),
      expr("long_sqdist(a, b)").as("ks"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (p, x) -> p + x)").as("fs"))
    val got = both.collect().map(r => (r.getLong(0),
      Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toSeq
    got.foreach { case (id, kd, fd, ks, fs) =>
      assert(kd == fd, s"row $id: long_dot $kd must equal fold $fd")
      assert(ks == fs, s"row $id: long_sqdist $ks must equal fold $fs")
    }
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._2.contains(32L), "matched pair still scores")
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(byId(_)._2.isEmpty),
      "truncated / null-element / null-array rows are NULL, not prefix-scored")
    assert(byId(7L)._2.contains(0L), "empty≡empty is 0, not NULL")
    // the guards run through codegen, not an interpreted fallback
    val p = both.queryExecution.executedPlan.toString
    assert(p.contains("long_dot") && p.contains("long_sqdist"))
  }

  test("q221: confusion matrix equals a driver-side NCM recompute; counts conserve") {
    import org.apache.spark.sql.functions._
    val out = VectorOps.q221NcmClassifier.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) label",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0 + 0.5) as bigint)) iv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val train = vecs.filter(_._1 % 2 == 0)
    val test = vecs.filter(_._1 % 2 == 1)
    assert(out.values.sum == test.length, "every test vector classified exactly once")
    val centroids = train.groupBy(_._2).map { case (l, vs) =>
      val n = vs.length.toLong
      l -> (0 until 64).map { i =>
        val sv = vs.map(_._3(i)).sum
        (sv + n * 200000L) / n - 200000L // dividend positive: / == DIV == floor
      }.toArray
    }
    val brute = test.map { case (_, tl, iv) =>
      val pred = centroids.toSeq.map { case (l, m) =>
        (iv.indices.map(i => (iv(i) - m(i)) * (iv(i) - m(i))).sum, l)
      }.min._2
      (tl, pred)
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(out == brute, "engine confusion matrix ≡ driver recompute")
  }

  test("q226: recall curve is monotone and the full-probe endpoint is exact") {
    val out = VectorOps.q226IvfRecallSweep.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // candidates and recall both grow with nprobe
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3)
    }
    // nprobe = 8 probes every list: the full corpus (minus the query) is
    // scanned and recall@10 is exact by construction
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(out.last._2 == n - 1)
    assert(out.last._3 == 10L)
    assert(out.forall { case (_, cands, rec) => rec <= 10 && rec <= cands })
  }

  test("q214: MMR picks match the sequential driver-side greedy; diversity binds") {
    val out = VectorOps.q214MmrRerank.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == VectorOps.MmrPicks)
    assert(out.map(_._1).toSeq == (1L to VectorOps.MmrPicks.toLong))
    // driver-side replica: quantize, shortlist, then the same greedy
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0 + 0.5) as bigint)) iv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val qv = vecs.find(_._1 == 0L).get._2
    val short = vecs.filter(_._1 > 0)
      .map { case (id, iv) => (id, iv, dot(iv, qv)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(VectorOps.MmrShortlist)
    val lam = VectorOps.MmrLambdaX10
    var chosen = Vector.empty[(Long, Array[Long])]
    var expect = Vector.empty[(Long, Long, Long, Long)]
    for (r <- 1 to VectorOps.MmrPicks) {
      val scored = short.filterNot { case (id, _, _) => chosen.exists(_._1 == id) }
        .map { case (id, iv, rel) =>
          val maxsim = if (chosen.isEmpty) 0L else chosen.map(c => dot(iv, c._2)).max
          (id, iv, rel, lam * rel - (10 - lam) * maxsim)
        }
      val p = scored.maxBy { case (id, _, _, mmr) => (mmr, -id) }
      chosen :+= ((p._1, p._2))
      expect :+= ((r.toLong, p._1, p._3, p._4))
    }
    assert(out.toSeq == expect, "unrolled rounds ≡ sequential greedy MMR")
    // pick 1 is the pure-relevance argmax; later picks trade relevance
    // for diversity, so their rel can only be ≤ pick 1's
    assert(out.head._3 == short.head._3 && out.head._2 == short.head._1)
    assert(out.forall(_._3 <= out.head._3))
  }

  test("q165: triplet roles sit at the exact similarity ranks") {
    val out = VectorOps.q165TripletMining.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(out.length == VectorOps.TripletAnchors * (1 + VectorOps.TripletNegBand.size))
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0 + 0.5) as bigint)) iv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    for (anchor <- 0L until VectorOps.TripletAnchors.toLong) {
      val ranked = vecs.toSeq.filter(_._1 != anchor)
        .map { case (id, iv) => (id, dot(iv, vecs(anchor))) }
        .sortBy { case (id, d) => (-d, id) }
      val rows = out.filter(_._1 == anchor).sortBy(_._2)
      assert(rows.head._3 == "positive" && rows.head._4 == ranked.head._1,
        s"anchor $anchor positive = true nearest neighbor")
      for ((band, row) <- VectorOps.TripletNegBand.zip(rows.tail)) {
        assert(row._3 == "semi_hard_neg" && row._2 == band.toLong)
        assert(row._4 == ranked(band - 1)._1, s"anchor $anchor rank-$band negative")
        assert(row._5 < rows.head._5, "negatives are strictly less similar than the positive")
      }
    }
  }

}
