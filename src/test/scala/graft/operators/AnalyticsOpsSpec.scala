package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Functional invariants for the r4 analytics additions (q100–q104);
  * exact values are oracle-checked at sf0.01, these pin the algebraic
  * properties at sf0.001. */
class AnalyticsOpsSpec extends SparkSpec {

  test("q100: one row per event past the 8-lag warmup; forecast matches a driver-side EWMA") {
    val out = EventOps.q100EwmaAnomaly.run(spark, sfDir).cache()
    val perUser = Tables.events(spark, sfDir).groupBy("user_id").count()
      .select(sum(greatest(col("count") - 8, lit(0L)))).head.getLong(0)
    assert(out.count() == perUser, "every event past its user's first 8 is scored")
    // recompute one user's EWMA chain on the driver
    val uid = out.select("user_id").head.getLong(0)
    val vs = Tables.events(spark, sfDir).filter(col("user_id") === uid)
      .orderBy(expr("ts_ns DIV 1000"), col("event_id"))
      .select(floor(col("value") * 1000000.0 + 0.5).cast("long"))
      .collect().map(_.getLong(0))
    val expected = (8 until vs.length).map { i =>
      (1 to 8).map(j => vs(i - j) * (256L >> j)).sum
    }
    val got = out.filter(col("user_id") === uid).orderBy("ts_us", "event_id")
      .select("pred_num").collect().map(_.getLong(0)).toSeq
    assert(got == expected, "window EWMA equals the sequential reference")
    out.unpersist()
  }

  test("q101: fluency is a probability in fixed-point; every multi-token doc is scored") {
    val out = TextOps.q101LmFluency.run(spark, sfDir).cache()
    val eligible = Tables.documents(spark, sfDir)
      .filter(size(filter(split(lower(col("text")), " "), t => t =!= "")) >= 2).count()
    assert(out.count() == eligible)
    val bad = out.filter(col("fluency_x1m") < 1 || col("fluency_x1m") > 1000000).count()
    assert(bad == 0, "mean conditional probability stays in (0, 1] ×1e6")
    out.unpersist()
  }

  test("q102: output equals a driver-side brute-force triangle enumeration") {
    val tri = PageRank.q102Triangles.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // rebuild the same graph on the driver (≤3000 edges) and enumerate
    val h = conv(substring(md5(concat(lit("tri#"), col("src"), lit("#"), col("k"))),
      1, 15), 16, 10).cast("long")
    val edges = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select(col("doc_id").as("src"), explode(sequence(lit(1), lit(6))).as("k"))
      .withColumn("dst", pmod(h, lit(500L)))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val brute = for {
      (a, b) <- edges
      c <- adj.getOrElse(b, Set.empty[Long])
      if edges.contains((a, c))
    } yield (a, b, c)
    assert(tri == brute, s"${tri.size} plan triangles vs ${brute.size} brute-force")
    assert(tri.forall { case (a, b, c) => a < b && b < c }, "oriented output")
  }

  test("q103: margins are consistent — row/col totals and N agree with the cell grid") {
    val out = EventOps.q103Contingency.run(spark, sfDir).cache()
    val n = Tables.events(spark, sfDir).count()
    assert(out.filter(col("total") =!= n).count() == 0, "N is the event count")
    val badRow = out.groupBy("event_type").agg(sum("obs").as("s"), max("rt").as("rt"))
      .filter(col("s") =!= col("rt")).count()
    val badCol = out.groupBy("hr").agg(sum("obs").as("s"), max("ct").as("ct"))
      .filter(col("s") =!= col("ct")).count()
    assert(badRow == 0 && badCol == 0, "margins equal cell sums")
    out.unpersist()
  }

  test("q104: postings are sorted, df-consistent, and bounded by the df cap") {
    val out = TextOps.q104InvertedIndex.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val df = r.getLong(1)
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(df >= 2 && df <= 8, s"df cap violated for ${r.getString(0)}")
      assert(ids.length == df, "df equals posting length")
      assert(ids.sameElements(ids.sorted), "postings sorted")
      assert(ids.distinct.length == ids.length, "postings distinct")
    }
  }

  test("q113: hop labels match a driver-side BFS over the same trade graph") {
    val out = PageRank.q113BfsHops.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force BFS on the driver
    val rel = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long") + 1000000L)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (rel ++ rel.map(_.swap)).groupMap(_._1)(_._2)
    val seeds = rel.map(_._1).filter(_ % 500 == 0).distinct.toSet
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (h <- 1 to 3) {
      val next = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]).toSet) -- dist.keySet
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    assert(out == dist, "distributed BFS equals driver BFS")
    assert(out.valuesIterator.min == 0L && out.valuesIterator.max <= 3L)
  }

  test("q115: attribution conserves purchases and matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val out = EventOps.q115Attribution.run(spark, sfDir).cache()
    // every attributed purchase credits an actual click event of the SAME user
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"))
    assert(out.join(clicks, Seq("click_id"), "left_anti").count() == 0,
      "every credited id is a click event")
    // purchases with at least one prior same-user click are all attributed
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = ev
      .withColumn("had_click",
        max(when(col("event_type") === "click", 1).otherwise(0)).over(w))
      .filter(col("event_type") === "purchase" && col("had_click") === 1)
      .count()
    assert(out.agg(sum("n_purchases")).head.getLong(0) == expected,
      "attributed purchase count conserves")
  }

  test("q119: one row per user; struct-max agg equals the window formulation; partial agg plans") {
    import org.apache.spark.sql.expressions.Window
    val out = EventOps.q119LatestState.run(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    assert(out.count() == ev.select("user_id").distinct().count())
    val expected = ev
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("event_id").as("last_event_id"), col("event_type").as("last_type"),
        col("value").cast("decimal(18,6)").cast("string").as("last_value"))
      .orderBy("user_id")
    assert(out.collect().toSeq == expected.collect().toSeq,
      "struct-max compaction ≡ window row_number")
    // the scale claim: partial (map-side) aggregation, not a window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "compaction must not plan a window")
    assert(plan.contains("partial_max") || plan.contains("HashAggregate")
      || plan.contains("SortAggregate"), s"expected a two-phase aggregate in:\n$plan")
  }

  test("q125: per-day peak ≡ driver-side sequential sweep; midnight carry-in exercised") {
    val out = EventOps.q125PeakConcurrency.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dayUs = 86400000000L
    val starts = Tables.events(spark, sfDir)
      .select(expr("ts_ns DIV 1000")).collect().map(_.getLong(0))
    val segs = starts.flatMap { s0 =>
      val e0 = s0 + 900000000L
      (s0 / dayUs to (e0 - 1) / dayUs).map { day =>
        (day, math.max(s0, day * dayUs), math.min(e0, (day + 1) * dayUs))
      }
    }
    assert(segs.length > starts.length, "some interval crosses midnight (carry-in live)")
    val expected = segs.groupBy(_._1).map { case (day, ss) =>
      val sweep = (ss.map(s => (s._2, 1L)) ++ ss.map(s => (s._3, -1L))).sorted
      var run = 0L
      var peak = Long.MinValue
      sweep.foreach { case (_, d) => run += d; if (run > peak) peak = run }
      day -> ((ss.length.toLong, peak))
    }
    assert(out == expected, "sweep-line windows ≡ sequential sweep per day")
  }

  test("q127: change-point ≡ driver-side argmax of the CUSUM statistic") {
    val out = MiningOps.q127ChangePoint.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val daily = rows.groupBy(_._2).map { case (d, v) => (d, v.size.toLong) }
        .toSeq.sortBy(_._1)
      val n = daily.size.toLong
      if (n < 5) None
      else {
        val total = daily.map(_._2).sum
        var p = 0L
        val scored = daily.zipWithIndex.map { case ((day, c), i) =>
          p += c; (day, (n * p - (i + 1) * total).abs)
        }
        val (cpDay, gMax) = scored.sortBy { case (day, g) => (-g, day) }.head
        Some(uid -> ((n, cpDay, gMax)))
      }
    }.toMap
    assert(out == expected, "window argmax ≡ sequential CUSUM")
  }

  test("q122: transition counts ≡ driver-side sequential enumeration; probabilities exact") {
    val out = EventOps.q122Transitions.run(spark, sfDir).collect()
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .select("user_id", "ts_us", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2, r._3)).map(_._4).sliding(2)
        .filter(_.size == 2).map(p => (p(0), p(1)))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, "transition counts match sequential enumeration")
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val tot = rows.map(_.getLong(2)).sum
      rows.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / tot,
        "p_micro is the exact integer conditional probability"))
    }
  }

  test("q137: trailing 7-day uniques dominate same-day; day-1 window equals its own day") {
    val out = EventOps.q137TrailingDistinct.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1), "u7 >= u1 every day"))
    val first = out.minBy(_.getDate(0).toLocalDate.toEpochDay)
    assert(first.getLong(1) == first.getLong(2),
      "the first observed day's trailing window contains only itself")
    // u7 for a day == driver-side union of that day's trailing week
    val ud = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    out.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val want = ud.filter(p => !p._1.isAfter(d) && !p._1.isBefore(d.minusDays(6)))
        .map(_._2).distinct.size.toLong
      assert(r.getLong(2) == want, s"u7($d)")
    }
  }
  /** q143's skewed-degree md5 graph (a < b, distinct). */
  private def q143Edges = {
    val h = conv(substring(md5(concat(lit("core#"), col("src"), lit("#"), col("k"))), 1, 15), 16, 10).cast("long")
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select(col("doc_id").as("src"), explode(sequence(lit(1), lit(12))).as("k"))
      .filter(col("k") <= lit(1) + col("src") % 12)
      .withColumn("dst", pmod(h, lit(500L)))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
  }

  test("q143: k-core is a fixpoint — every survivor holds k induced neighbors; peel removed nodes") {
    val out = PageRank.q143KCore.run(spark, sfDir).cache()
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length < 500, "the peel must actually remove nodes")
    assert(rows.forall(_.getLong(1) >= PageRank.CoreK), "core degrees are >= k by definition")
    // fixpoint: running the peel AGAIN on the surviving induced subgraph
    // must keep every node (otherwise the first run stopped early)
    val ids = rows.map(_.getLong(0)).toSet
    val e = q143Edges
      .filter(col("a").isin(ids.toSeq: _*) && col("b").isin(ids.toSeq: _*))
    val (again, rounds) = PageRank.kcore(e, PageRank.CoreK, PageRank.CoreMaxRounds)
    assert(rounds == 1, "induced core must be stable in one pass")
    assert(again.count() == rows.length, "re-peeling the core removes nothing")
    out.unpersist()
  }

  test("q143: k-core on each side of its round cap") {
    // the peel cascades over several rounds; one round fewer must fail
    // loud rather than return a half-peeled core
    val (core, rounds) = PageRank.kcore(q143Edges, PageRank.CoreK, PageRank.CoreMaxRounds)
    assert(rounds > 1 && rounds <= PageRank.CoreMaxRounds)
    assert(core.count() > 0)
    val capped = intercept[IllegalStateException](
      PageRank.kcore(q143Edges, PageRank.CoreK, rounds - 1))
    assert(capped.getMessage.contains("did not converge"))
  }

  test("q145: arms partition each event type; A/A calibration keeps |z| small") {
    val out = EventOps.q145AbTest.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    val counts = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == counts(r.getString(0)),
        s"arms of ${r.getString(0)} must partition its events")
      assert(math.abs(r.getDouble(5)) < 5.0,
        s"A/A split should not produce |z| >= 5 (got ${r.getDouble(5)})")
    }
  }

  test("q146: SCD2 versions are dense and intervals chain exactly") {
    val out = EventOps.q146Scd2History.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (uid, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"user $uid: version ordinals must be dense from 1")
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getLong(3) == b.getLong(2),
          s"user $uid: version ${a.getLong(1)} must close exactly where the next opens")
      }
      assert(sorted.last.getLong(3) == -1L, s"user $uid: the tail version stays open")
      sorted.init.foreach(r => assert(r.getLong(2) <= r.getLong(3),
        s"user $uid: valid_from <= valid_to"))
    }
  }

  test("q148: scores equal a driver-side sequential HITS power iteration") {
    val out = PageRank.q148Hits.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rebuild the same directed graph on the driver (≤4000 edges)
    val hfn = conv(substring(md5(concat(lit("hits#"), col("src"), lit("#"), col("k"))),
      1, 15), 16, 10).cast("long")
    val edges = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select(col("doc_id").as("src"), explode(sequence(lit(1), lit(8))).as("k"))
      .filter(col("k") <= lit(1) + col("src") % 8)
      .withColumn("dst", pmod(hfn, lit(500L)))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    var a = nodes.map(_ -> 1L).toMap
    var h = nodes.map(_ -> 1L).toMap
    (1 to PageRank.HitsIterations).foreach { _ =>
      h = nodes.map(u => u -> edges.filter(_._1 == u).toSeq.map(e => a(e._2)).sum).toMap
      a = nodes.map(v => v -> edges.filter(_._2 == v).toSeq.map(e => h(e._1)).sum).toMap
    }
    assert(out.keySet == nodes, "one output row per graph node")
    nodes.foreach { n =>
      assert(out(n) == (h(n), a(n)), s"node $n: plan ${out(n)} vs brute (${h(n)}, ${a(n)})")
    }
    // sanity: unnormalized scores must have genuinely iterated (round 3
    // magnitudes) and hubs/authorities must NOT be a single ranking
    assert(out.values.exists(_._1 > 1000L), "hub scores reached round-3 magnitude")
    val topHub = out.maxBy(_._2._1)._1
    val topAuth = out.maxBy(_._2._2)._1
    assert(topHub != topAuth || out.size < 3, "hub and authority rankings differ on a skewed graph")
  }

  test("q154: audit covers every FK edge; orphan counts match driver-side set math") {
    val out = Relational.q154FkOrphans.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("lineitem->orders", "lineitem->part", "lineitem->supplier",
      "orders->customer", "customer->nation", "supplier->nation"))
    // driver-side check on the smallest edge: customer -> (damaged) nation
    val custNations = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("long"))
      .collect().map(_.getLong(0))
    val keptNations = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).filter(_ % 97 != 0).toSet
    val orphans = custNations.filterNot(keptNations)
    val (rows, orows, okeys, rate) = out("customer->nation")
    assert(rows == custNations.length.toLong)
    assert(orows == orphans.length.toLong)
    assert(okeys == orphans.distinct.length.toLong)
    assert(rate == orows * 1000000L / rows)
    assert(orows > 0, "the damaged nation table must produce visible orphans")
    out.values.foreach { case (c, o, k, rt) =>
      assert(o <= c && k <= o && rt == o * 1000000L / c)
    }
  }

  test("q156: personalized rank stays inside the seeds' decay horizon") {
    val out = PageRank.q156Ppr.run(spark, sfDir).collect()
    assert(out.length == 20)
    // rebuild the graph; every positively-ranked node must be reachable
    // from a seed within Iterations hops (teleport mass only enters at
    // seeds and each round propagates it one edge)
    val rel = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("cust"),
        (col("l_suppkey").cast("long") + 1000000L).as("supp"))
      .distinct()
    val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
      .union(rel.select(col("supp").as("src"), col("cust").as("dst")))
    val seeds = rel.filter(col("cust") % 500 === 0).select(col("cust").as("id"))
    val reach = PageRank.bfs(edges, seeds, maxHops = PageRank.Iterations)
      .select("id").collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      val id = if (r.getString(0) == "supplier") r.getLong(1) + 1000000L else r.getLong(1)
      assert(reach(id), s"ranked node $id is outside the seeds' ${PageRank.Iterations}-hop horizon")
      assert(r.getLong(2) > 0L)
    }
    // seeds themselves keep teleport mass: at least one customer seed ranks
    assert(out.exists(r => r.getString(0) == "customer" && r.getLong(1) % 500 == 0),
      "some seed customer must hold visible rank")
  }

  test("q213: unit-weight sssp collapses to bfs hop counts; weighted distances exact") {
    import graft.TestSession.spark.implicits._
    // hand graph: 0→1 (w5), 0→2 (w1), 2→1 (w1), 1→3 (w1), 2→3 (w10)
    val e = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L), (2L, 3L, 10L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("id")
    val (dist, rounds) = PageRank.sssp(e, seeds, maxRounds = 8)
    val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0→2→1 (2) beats the direct w5 edge; 0→2→1→3 (3) beats 0→2→3 (11)
    assert(got == Map(0L -> 0L, 1L -> 2L, 2L -> 1L, 3L -> 3L))
    assert(rounds <= 8, "fixpoint within the bound")
    // the other side of the round cap: 0→2→1→3 needs 3 rounds
    val capped = intercept[IllegalStateException](PageRank.sssp(e, seeds, maxRounds = 1))
    assert(capped.getMessage.contains("did not converge within 1 rounds"))
    // unit weights: sssp ≡ bfs hop distances on the q113 trade graph
    val rel = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("cust"),
        (col("l_suppkey").cast("long") + 1000000L).as("supp"))
      .distinct()
    val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
      .union(rel.select(col("supp").as("src"), col("cust").as("dst")))
      .withColumn("w", lit(1L))
    val bseeds = rel.filter(col("cust") % 500 === 0).select(col("cust").as("id"))
    val hops = PageRank.bfs(edges, bseeds, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (udist, _) = PageRank.sssp(edges, bseeds, maxRounds = 8)
    val um = udist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(um == hops, "unit-weight Bellman-Ford must equal BFS hop labels")
  }

  test("sssp: a converging round costs no job beyond its checkpoint") {
    import graft.TestSession.spark.implicits._
    import graft.Fixpoint
    val e = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L), (2L, 3L, 10L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("id")
    var rounds = 0
    val observed = jobsDuring { rounds = PageRank.sssp(e, seeds, maxRounds = 8)._2 }
    // the same checkpoints, round for round, with nothing observed
    val alone = jobsDuring {
      val ce = Fixpoint.ckpt(e.select(col("src"), col("dst"), col("w")))
      var dist = Fixpoint.ckpt(seeds.select(col("id")).distinct().withColumn("dist", lit(0L)))
      for (_ <- 1 to rounds) {
        val relaxed = dist.join(ce, dist("id") === ce("src"))
          .select(ce("dst").as("id"), (dist("dist") + ce("w")).as("dist"))
        dist = Fixpoint.ckpt(dist.unionByName(relaxed).groupBy("id").agg(min("dist").as("dist")))
      }
    }
    assert(rounds == 4)
    assert(observed == alone, s"sssp ran $observed jobs, its checkpoints alone $alone")
  }

  test("q223: dangling term conserves total mass; dropping it leaks the sinks' share") {
    val out = PageRank.q223DanglingPagerank.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 20)
    // rebuild the graph driver-side (500 nodes is metadata)
    val edges = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .filter(col("doc_id") % 5 =!= 0)
      .selectExpr("doc_id as src", "explode(sequence(1, 4)) as k")
      .selectExpr("src",
        "cast(conv(substring(md5(concat('dp#', src, '#', k)), 1, 15), 16, 10) as long) % 500 as dst")
      .filter(col("src") =!= col("dst")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = 500L
    val out600 = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.length.toLong }
    def rounds(dangling: Boolean): Map[Long, Long] = {
      var r = (0L until n).map(_ -> PageRank.Unit).toMap
      (1 to PageRank.Iterations).foreach { _ =>
        val dang = if (dangling)
          r.collect { case (id, rk) if !out600.contains(id) => rk }.sum else 0L
        val inflow = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (s0, _) => r(s0) / out600(s0) }.sum
        }
        r = (0L until n).map(id => id ->
          (15L * PageRank.Unit + PageRank.Damping *
            (inflow.getOrElse(id, 0L) + dang / n)) / 100L).toMap
      }
      r
    }
    val withTerm = rounds(dangling = true)
    val withoutTerm = rounds(dangling = false)
    val total = n * PageRank.Unit
    assert(withTerm.values.sum > total * 999L / 1000L,
      "dangling redistribution must conserve mass (floor slack only)")
    assert(withoutTerm.values.sum < total * 9L / 10L,
      "without the term the sinks' share leaks — the term must be live")
    // engine top-20 ≡ driver recompute's top-20 (rank desc, id asc)
    val expect = withTerm.toSeq.sortBy { case (id, rk) => (-rk, id) }.take(20)
      .map { case (id, rk) => (id, rk, id % 5 == 0) }
    assert(out.toSeq == expect)
  }

  test("q229: RA scores recompute from the graph; no predicted pair is an existing edge") {
    val out = PageRank.q229LinkPrediction.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 20)
    // rebuild the q102 graph driver-side
    val edges = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .selectExpr("doc_id as src", "explode(sequence(1, 6)) as k")
      .selectExpr("least(src, cast(conv(substring(md5(concat('tri#', src, '#', k)), 1, 15), 16, 10) as long) % 500) as a",
        "greatest(src, cast(conv(substring(md5(concat('tri#', src, '#', k)), 1, 15), 16, 10) as long) % 500) as b")
      .filter(col("a") < col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = (edges.toSeq ++ edges.toSeq.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val deg = nbrs.map { case (k, v) => k -> v.size.toLong }
    out.foreach { case (u, w, ra, common) =>
      assert(!edges((u, w)), s"($u,$w) is already an edge")
      val cn = nbrs(u).intersect(nbrs(w))
      assert(common == cn.size.toLong)
      assert(ra == cn.toSeq.map(b => 1000000L / deg(b)).sum,
        s"($u,$w): RA score mismatch")
    }
    // scores descend with the declared tie-break
    assert(out.map(t => (-t._3, t._1, t._2)).toSeq ==
      out.map(t => (-t._3, t._1, t._2)).sorted.toSeq)
  }

  test("q152: decayed scores equal a driver-side power-of-two recompute") {
    val out = EventOps.q152DecayedEngagement.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
        floor(col("value") * 10.0 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mx = ev.map(_._2).max
    val expect = ev.groupBy(_._1).map { case (uid, rows) =>
      uid -> (rows.length.toLong, rows.map { case (_, ts, v) =>
        val age = math.min((mx - ts) / EventOps.DecayBucketUs,
          EventOps.DecayMaxBuckets.toLong)
        (1048576L >> age) * v
      }.sum)
    }
    assert(out == expect, "per-user (n, score) must match the sequential recompute")
    // decay is genuinely active: the newest-bucket weight dominates
    assert(ev.exists { case (_, ts, _) => (mx - ts) / EventOps.DecayBucketUs >= 1 },
      "fixture spans multiple decay buckets")
  }

  test("q159: CUPED adjustment matches the sequential recompute and reduces spread") {
    val out = EventOps.q159Cuped.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length == 2 && out.map(_._1).toSeq == Seq(0L, 1L))
    // driver-side replica over the same (x, y) per-user reduction
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"), col("event_type"),
        floor(col("value") * 10.0 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max + 1) / 2
    val users = ev.groupBy(_._1).map { case (uid, rows) =>
      (uid, rows.count(_._2 < mid).toLong,
        rows.collect { case (_, ts, "purchase", v) if ts >= mid => v }.sum)
    }.toSeq
    val un = users.length.toLong
    val (sx, sy) = (users.map(_._2).sum, users.map(_._3).sum)
    val cxy = un * users.map(u => u._2 * u._3).sum - sx * sy
    val cxx = un * users.map(u => u._2 * u._2).sum - sx * sx
    val theta = (cxy * 10000 + 100000 * cxx) / cxx - 100000
    def bucket(uid: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab#$uid".getBytes).take(8)
      val v = java.lang.Long.parseLong(h.map("%02x".format(_)).mkString.take(15), 16)
      v % 2
    }
    for ((variant, nUsers, meanY, adjY, thetaOut, _) <- out) {
      val arm = users.filter(u => bucket(u._1) == variant)
      assert(nUsers == arm.length.toLong)
      assert(thetaOut == theta, "pooled theta reported identically in both rows")
      val (sxa, sya) = (arm.map(_._2).sum, arm.map(_._3).sum)
      assert(meanY == sya / nUsers)
      val den = 10000L * nUsers * un
      assert(adjY == (10000L * un * sya - theta * (un * sxa - nUsers * sx)
        + 1000L * den) / den - 1000L, s"variant $variant adjusted mean")
    }
    // the covariate genuinely explains variance (rho2 > 0) on this corpus
    assert(out.head._6 > 0.0 && out.head._6 <= 1.0)
  }

  test("q160: synchronous LPA rounds match the sequential recompute") {
    val out = PageRank.q160LabelProp.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rebuild the same md5-bridge graph driver-side
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select("doc_id").collect().map(_.getLong(0))
    def h(src: Long, k: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tri#$src#$k".getBytes).map("%02x".format(_)).mkString.take(15)
      ((java.lang.Long.parseLong(hex, 16) % 500) + 500) % 500
    }
    val edges = (for (s <- docs; k <- 1 to 6; d = h(s, k) if s != d)
      yield (math.min(s, d), math.max(s, d))).distinct
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to PageRank.LpaRounds)
      lbl = nbrs.map { case (v, us) =>
        val counts = us.map(lbl).groupBy(identity).map { case (l, o) => (l, o.size) }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    val expect = lbl.groupBy(_._2)
      .map { case (l, m) => (l, m.size.toLong, m.keys.min) }.toSeq
      .sortBy { case (l, sz, _) => (-sz, l) }
    assert(out.toSeq == expect, "communities ≡ sequential synchronous LPA")
    // LPA genuinely coarsens: fewer communities than vertices
    assert(out.length < nbrs.size)
    assert(out.map(_._2).sum == nbrs.size.toLong, "every vertex labeled exactly once")
  }

  test("q170: modularity bookkeeping is exact over the LPA partition") {
    val rows = PageRank.q170Modularity.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // same label set as q160's community roll-up
    val comms = PageRank.q160LabelProp.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(_._1).toSet == comms.keySet, "one row per community")
    // degree mass partitions the double edge count; internal edges bound m
    val m = rows.map(_._2).sum // Σ e_in ≤ m, strict unless one community
    assert(rows.map(_._3).sum % 2 == 0)
    assert(rows.forall { case (_, eIn, degC, _) => eIn <= degC / 2 })
    // fixed-point identity per row, recomputed from the reported integers
    val mTotal = rows.map(_._3).sum / 2
    rows.foreach { case (_, eIn, degC, q) =>
      assert(q == eIn * 1000000L / mTotal - degC * degC * 1000000L / (4 * mTotal * mTotal))
    }
    // total modularity is a valid Q and the partition beats random (Q > 0)
    val qTot = rows.map(_._4).sum
    assert(qTot >= -1000000L && qTot <= 1000000L)
    assert(m <= mTotal)
  }

  test("q168: SCD2 enrichment matches each purchase to its as-of profile version") {
    val out = EventOps.q168Scd2Enrich.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("ts_us"),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val purchases = ev.filter(_._4 == "purchase")
    assert(out.length == purchases.length, "exactly one row per purchase fact")
    val signups = ev.filter(_._4 == "signup").groupBy(_._1)
      .map { case (u, rows) => u -> rows.sortBy(r => (r._3, r._2)).toSeq }
    for ((eid, uid, ts, _, version, pv) <- out) {
      val versions = signups.getOrElse(uid, Seq.empty)
      val idx = versions.lastIndexWhere(_._3 <= ts)
      if (idx < 0)
        assert(version == -1L && pv == -1L, s"fact $eid predates every version")
      else {
        assert(version == idx + 1L, s"fact $eid version ordinal")
        assert(pv == math.floor(versions(idx)._5 * 1000.0 + 0.5).toLong,
          s"fact $eid carries the as-of profile value")
      }
    }
  }

  test("q171: U-shaped credit algebra conserves per conversion") {
    val rows = EventOps.q171UShapedAttribution.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val byPurchase = rows.groupBy(_._1)
    for ((pid, touches) <- byPurchase) {
      val k = touches.head._4
      assert(touches.length.toLong == k, s"purchase $pid k matches row count")
      assert(touches.map(_._3).sorted.toSeq == (1L to k), "ranks are dense")
      val credit = touches.map(_._6).sum
      if (k <= 2) assert(credit == 1000000L, s"purchase $pid full conservation")
      else assert(credit == 800000L + (k - 2) * (200000L / (k - 2)),
        s"purchase $pid documented truncation loss only")
      touches.foreach { case (_, _, rn, kk, role, c) =>
        val expected =
          if (kk == 1) ("only", 1000000L)
          else if (rn == 1) ("first", if (kk == 2) 500000L else 400000L)
          else if (rn == kk) ("last", if (kk == 2) 500000L else 400000L)
          else ("middle", 200000L / (kk - 2))
        assert((role, c) == expected, s"purchase $pid rank $rn")
      }
    }
  }

  private def eventTuples(): Array[(Long, Long, String, Long)] =
    Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
        col("event_type"), floor(col("value") * 10.0 + 0.5).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  test("q177: seasonality surrogate ≡ sequential ANOVA bookkeeping") {
    val rows = EventOps.q177Seasonality.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ev = eventTuples()
    for ((tpe, n, strength, peakH, peakMean) <- rows) {
      val vs = ev.filter(_._3 == tpe).map(e => ((e._2 / EventOps.HourUsC) % 24, e._4))
      assert(n == vs.length.toLong)
      val byH = vs.groupBy(_._1).map { case (h, xs) =>
        (h, xs.length.toLong, xs.map(_._2).sum) }.toSeq
      val (s, svv) = (vs.map(_._2).sum, vs.map(v => v._2 * v._2).sum)
      val ssb = byH.map { case (_, nh, sh) => sh * sh / nh }.sum - s * s / n
      val sst = svv - s * s / n
      assert(strength == ssb * 1000000L / math.max(sst, 1L), s"$tpe strength")
      assert(strength >= 0 && strength <= 1000000L)
      val best = byH.minBy { case (h, nh, sh) => (-(sh * 1000000L / nh), h) }
      assert(peakH == best._1 && peakMean == best._3 * 10 / best._2, s"$tpe peak")
    }
  }

  test("q178/q179: weekly rollups are internally consistent and conserve revenue") {
    val wow = EventOps.q178WowGrowth.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = eventTuples()
    val totalRev = ev.filter(_._3 == "purchase").map(_._4).sum
    assert(wow.map(_._2).sum == ev.length.toLong, "event mass partitions into weeks")
    assert(wow.map(_._3).sum == totalRev, "revenue conserves across weeks")
    assert(wow.head._4 == -1L, "first week has no prior")
    wow.sliding(2).foreach { case Array(a, b) =>
      if (a._3 > 0) assert(b._4 == (b._3 - a._3) * 1000000L / a._3)
    }
    val ltv = EventOps.q179CohortLtv.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(ltv.map(_._4).sum == totalRev, "LTV triangle conserves total revenue")
    // cumulative column is the running sum of the cell column per cohort
    ltv.groupBy(_._1).foreach { case (_, cells) =>
      val sorted = cells.sortBy(_._2)
      assert(sorted.map(_._4).scanLeft(0L)(_ + _).tail.toSeq == sorted.map(_._5).toSeq)
    }
    // cohort sizes partition the user base
    val users = ev.map(_._1).distinct.length.toLong
    assert(ltv.groupBy(_._1).map(_._2.head._3).sum == users)
  }

  test("q181: Gini and top-share ≡ sequential rank-formula recompute") {
    val Array(row) = EventOps.q181GiniConcentration.run(spark, sfDir).collect()
    val (nU, tot, gini, topShare) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val ev = eventTuples()
    val byUser = ev.groupBy(_._1).map { case (u, rows) =>
      (u, rows.collect { case (_, _, "purchase", v) => v }.sum)
    }.toSeq.sortBy { case (u, rev) => (rev, u) }
    val n = byUser.length.toLong
    assert(nU == n && tot == byUser.map(_._2).sum)
    val ixr = byUser.zipWithIndex.map { case ((_, rev), i) => (i + 1L) * rev }.sum
    assert(gini == 2 * ixr * 1000000L / (n * tot) - (n + 1) * 1000000L / n)
    assert(gini >= 0 && gini < 1000000L)
    val topK = (n + 99) / 100
    val expTop = byUser.takeRight(topK.toInt).map(_._2).sum * 1000000L / tot
    assert(topShare == expTop)
    // concentration is real: the top 1% holds more than 1% of revenue
    assert(topShare > 10000L)
  }

  test("q183: window closed form ≡ the sequential clamp recurrence per user") {
    val out = EventOps.q183ClampedBalance.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100.0 + 0.5).cast("long"))
          .otherwise(-floor(col("value") * 100.0 + 0.5).cast("long")).as("delta"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, es) =>
      var bal = 0L; var peak = 0L; var clamps = 0L
      es.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, d) =>
        val raw = bal + d
        if (raw < 0) { clamps += 1; bal = 0L } else bal = raw
        peak = math.max(peak, bal)
      }
      val (fb, pb, nc, nt) = out(u)
      assert(fb == bal, s"user $u final balance")
      assert(pb == peak, s"user $u peak balance")
      assert(nc == clamps, s"user $u clamp count")
      assert(nt == es.length, s"user $u tx count")
    }
  }

  test("q185: hazard table is a consistent survival decomposition") {
    val out = EventOps.q185HazardTable.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    val total = out.map(_._2).sum
    // at-risk at the smallest band is everyone; strictly decreasing after
    assert(out.head._3 == total)
    out.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b._3 == a._3 - a._2, "at-risk drains by exactly the band's deaths")
      case _ => ()
    }
    // cumulative end share closes at 1e6 (floor-exact at the last row)
    assert(out.last._5 == 1000000L)
    out.foreach { case (_, ended, atRisk, hz, _) =>
      assert(hz == ended * 1000000L / atRisk)
    }
  }

  test("q195: heatmap cells partition all events; shares close to ~1e6; buckets in range") {
    val out = EventOps.q195ActivityHeatmap.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nEvents = Tables.events(spark, sfDir).count()
    assert(out.map(_._3).sum == nEvents, "cells must partition every event exactly once")
    out.foreach { case (dow, hour, n, rev, share) =>
      assert(dow >= 1 && dow <= 7 && hour >= 0 && hour <= 23, "bucket ranges")
      assert(n > 0 && rev >= 0)
      assert(share == n * 1000000L / nEvents, "share algebra")
    }
    // floor-division shares sum to 1e6 minus at most one ulp per cell
    val shareSum = out.map(_._5).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - out.length, "share closure")
  }

  test("q194: degree audit ≡ driver-side recompute on the trade graph") {
    val out = PageRank.q194DegreeAudit.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val rel = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    def audit(degs: Seq[Long]): (Long, Long, Long, Long, Long, Long) = {
      val sorted = degs.sorted
      val n = sorted.length.toLong; val ends = sorted.sum
      def pick(num: Long, den: Long): Long = {
        var cum = 0L
        sorted.find { _ => cum += 1; cum * den >= n * num }.get
      }
      val k = (n + 99) / 100
      val top = sorted.reverse.take(k.toInt).sum
      (n, ends, sorted.last, pick(1, 2), pick(9, 10), top * 1000000L / ends)
    }
    val custDegs = rel.groupBy(_._1).values.map(_.size.toLong).toSeq
    val suppDegs = rel.groupBy(_._2).values.map(_.size.toLong).toSeq
    assert(out("customer") == audit(custDegs), "customer audit")
    assert(out("supplier") == audit(suppDegs), "supplier audit")
  }

  test("q191: conversion latency ≡ driver-side first-view/first-purchase walk") {
    val out = EventOps.q191ConversionLatency.run(spark, sfDir).head()
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byUser = ev.groupBy(_._1)
    val firstViews = byUser.flatMap { case (u, es) =>
      es.filter(_._3 == "view").map(_._2).minOption.map(u -> _)
    }
    val lats = firstViews.flatMap { case (u, v) =>
      byUser(u).filter(e => e._3 == "purchase" && e._2 > v).map(_._2)
        .minOption.map(p => (p - v) / 1000000000L)
    }.toSeq.sorted
    assert(out.getLong(0) == firstViews.size, "n_users")
    assert(out.getLong(1) == lats.size, "n_converted")
    assert(out.getLong(2) == lats.size.toLong * 1000000L / firstViews.size, "conv rate")
    def pick(num: Long, den: Long): Long = {
      var cum = 0L
      lats.groupBy(identity).toSeq.sortBy(_._1)
        .find { case (_, g) => cum += g.size; cum * den >= lats.size * num }.get._1
    }
    assert(out.getLong(3) == pick(1, 2), "median latency")
    assert(out.getLong(4) == pick(9, 10), "p90 latency")
  }

  test("q188: union coverage ≡ driver-side interval merge per user") {
    val out = EventOps.q188IntervalCoverage.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns"),
        (col("ts_ns") + floor(col("value") * 1000.0 + 0.5).cast("long") * 1000000L)
          .as("end_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    iv.groupBy(_._1).foreach { case (u, es) =>
      val sorted = es.map(e => (e._2, e._3)).sortBy(identity)
      var covered = 0L; var islands = 0L; var curEnd = Long.MinValue
      sorted.foreach { case (s0, e0) =>
        if (s0 > curEnd) islands += 1
        if (e0 > curEnd) { covered += e0 - math.max(s0, curEnd); curEnd = e0 }
      }
      val (c, ni, nt) = out(u)
      assert(c == covered, s"user $u covered length")
      assert(ni == islands, s"user $u island count")
      assert(nt == es.length)
    }
  }

}
