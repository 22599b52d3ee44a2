package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.{Fixpoint, QueryDef, SessionFrames, Tables}

/** Link-analysis operator — fixed-iteration PageRank, the graph-quality
  * prior web-scale corpus pipelines attach to crawled documents (host
  * rank → document quality weight). No graph library: each iteration is
  * one join + one hash agg, the same bounded-iterative-join shape as
  * [[Components]] (extension tier §2.5).
  *
  * Graph: the customer↔supplier trade graph from lineitem⋈orders —
  * node ids are disjoint (`c_custkey` vs `1_000_000 + s_suppkey`), edges
  * are the DISTINCT trading relations, taken in both directions
  * (random walk on the undirected graph).
  *
  * Determinism: ALL-INTEGER arithmetic. Ranks live in units of 1e-12
  * (init = 1e12 per node); each round every node emits `rank div outdeg`
  * to its neighbors and absorbs `(15·1e12 + 85·Σcontrib) div 100` —
  * floor division on non-negative longs is identical in Spark (`div`)
  * and DuckDB (`//`), so four unrolled rounds agree bit-for-bit with the
  * oracle's chained CTEs. (Total mass ~1.6e15 at sf0.01; ×85 stays far
  * inside Long.)
  *
  * Plan shape at 100 TB: the edge list is built once (one distinct over
  * the join — at web scale, the host graph is orders of magnitude
  * smaller than the page corpus) and reused by all four rounds; each
  * round shuffles (node, contrib) pairs — 16 bytes/row — partitioned by
  * node id, and AQE coalesces the tiny tail. Iterations on a real
  * cluster would checkpoint every ~10 rounds like [[Components]]; four
  * unrolled rounds keep lineage trivially bounded. */
object PageRank {

  /** Rank unit: 1.0 of PageRank mass = 1e12 integer units. */
  val Unit = 1000000000000L
  val Damping = 85L // × 1/100
  val Iterations = 4

  /** The distinct customer↔supplier trade relation shared by q77/q113/
    * q156/q194, eagerly materialized: every consumer references it 2-3
    * times (both union directions of `edges`, q113's seeds, q194's two
    * degree branches), and each reference re-derived the lineitem⋈orders
    * join + distinct in the physical plan — the materialization makes
    * the big join run once per query (guide §2.4 / §3.3 plan
    * truncation).
    *
    * r13: a [[graft.SessionFrames]] frame instead of per-query
    * localCheckpoint'd: the four graph consumers each re-derived the
    * identical join+distinct per run. */
  private def tradeRel(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, ("tradeRel", d)) {
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast(LongType).as("cust"),
          (col("l_suppkey").cast(LongType) + 1000000L).as("supp"))
        .distinct()
    }

  /** [[tradeRel]] taken in both directions (src, dst): the undirected
    * trade graph q77, q113 and q156 walk. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val rel = tradeRel(s, d)
    rel.select(col("cust").as("src"), col("supp").as("dst"))
      .union(rel.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** The q102/q160/q170/q229 deterministic md5-bridge friendship graph:
    * canonical undirected edges (a < b, distinct). */
  private def friendEdges(s: SparkSession, d: String): DataFrame =
    canonical(md5Draws(s, d, "tri#", 6))

  /** The md5-bridge draws behind the synthetic graphs (both engines share
    * the hash): for every doc id `src` < 500 and `k` in 1..`fanout`, `h`
    * is the POSITIVE 60-bit word md5(salt ‖ src ‖ "#" ‖ k) and `dst` =
    * h mod 500. Derive from `h` with integer DIV only, never `/` (double
    * division drops low bits past 2^53). */
  private def md5Draws(s: SparkSession, d: String, salt: String, fanout: Int): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id").as("src"), explode(sequence(lit(1), lit(fanout))).as("k"))
      .withColumn("h", conv(substring(md5(concat(lit(salt), col("src"), lit("#"), col("k"))),
        1, 15), 16, 10).cast(LongType))
      .withColumn("dst", pmod(col("h"), lit(500L)))

  /** (src, dst) pairs as canonical undirected edges (a < b, distinct). */
  private def canonical(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()

  /** q77/q156's readout: the top-20 nodes of `ranks` (id, rank), typed
    * and keyed. */
  private def topNodes(ranks: DataFrame): DataFrame =
    ranks.select(
        when(col("id") >= 1000000L, "supplier").otherwise("customer").as("node_type"),
        when(col("id") >= 1000000L, col("id") - 1000000L).otherwise(col("id")).as("key"),
        col("rank"))
      .orderBy(col("rank").desc, col("node_type").asc, col("key").asc)
      .limit(20)

  /** q77: PageRank top-20 over the trade graph — node type, key and
    * integer rank after 4 rounds; suppliers dominate (100 suppliers
    * absorb the mass of 1500 customers). */
  val q77PageRank = QueryDef(
    "q77_pagerank",
    (s, d) => topNodes(pprRanks(tradeEdges(s, d), lit(true))),
    Some(s"""WITH rel AS (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(l_suppkey AS BIGINT) + 1000000 AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS (
           |  SELECT cust AS src, supp AS dst FROM rel
           |  UNION ALL SELECT supp AS src, cust AS dst FROM rel),
           |deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT id, CAST($Unit AS BIGINT) AS rank FROM deg),
           |${(1 to Iterations).map(i =>
             s"""c$i AS (
                |  SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS inflow
                |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
                |  JOIN deg d ON d.id = e.src GROUP BY e.dst),
                |r$i AS (
                |  SELECT deg.id,
                |    (15 * $Unit + $Damping * COALESCE(c$i.inflow, 0)) // 100 AS rank
                |  FROM deg LEFT JOIN c$i ON c$i.id = deg.id)""".stripMargin)
             .mkString(",\n")}
           |SELECT CASE WHEN id >= 1000000 THEN 'supplier' ELSE 'customer' END AS node_type,
           |  CASE WHEN id >= 1000000 THEN id - 1000000 ELSE id END AS key,
           |  CAST(rank AS BIGINT) AS rank
           |FROM r$Iterations
           |ORDER BY rank DESC, node_type, key LIMIT 20""".stripMargin)
  )

  /** q102: triangle counting — the second graph-analytics operator
    * (clustering-coefficient numerator, community-density signal,
    * link-spam detector next to q77's centrality). The trade graph is
    * bipartite (triangle-free by construction), so the query builds a
    * deterministic synthetic friendship graph over the document-id
    * slice — 6 md5-derived out-edges per node (the md5-bridge both
    * engines share), canonicalized undirected (a < b, distinct).
    *
    * The enumeration is the ORIENTED wedge join: every edge is stored
    * only as (lo, hi), wedges (a<b, b<c) are generated by an equi-join
    * on the shared middle vertex and closed by a second equi-join on
    * (a, c) — each triangle found exactly once, no direction explosion.
    * At 100 TB scale the orientation would be by DEGREE rather than id
    * (hub vertices become wedge middles at most O(deg²/4) times, the
    * standard skew bound); id-orientation keeps the oracle SQL exactly
    * mirrorable, and the degree variant is a one-line re-keying of the
    * same plan. Both joins are shuffle-partitioned by vertex key —
    * parallelism scales with vertices, and the wedge stream never
    * materializes (it flows straight into the closing hash join). */
  val q102Triangles = QueryDef(
    "q102_triangles",
    (s, d) => {
      val e = friendEdges(s, d)
      val bc = e.select(col("a").as("b"), col("b").as("c"))
      val ac = e.select(col("a"), col("b").as("c"))
      e.join(bc, Seq("b")).join(ac, Seq("a", "c"))
        .select("a", "b", "c").orderBy("a", "b", "c")
    },
    Some("""WITH raw AS (
           |  SELECT doc_id AS src,
           |    CAST(('0x' || substr(md5('tri#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
           |      % 500 AS dst
           |  FROM documents, range(1, 7) AS t(k)
           |  WHERE doc_id < 500),
           |e AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM raw WHERE least(src, dst) < greatest(src, dst))
           |SELECT e1.a AS a, e1.b AS b, e2.b AS c
           |FROM e e1
           |JOIN e e2 ON e2.a = e1.b
           |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
           |ORDER BY 1, 2, 3""".stripMargin)
  )

  /** Multi-source BFS: minimum hop distance from `seeds` to every node
    * reachable within `maxHops` over `edges` (src, dst — directed; pass
    * both directions for undirected). Frontier expansion: each hop is ONE
    * equi-join frontier⋈edges plus an anti-join against the visited set —
    * the textbook iterative-join BFS, every step a bounded shuffle keyed
    * by vertex. A [[graft.Fixpoint.ckpt]] per hop severs the growing
    * lineage.
    *
    * Plan shape at 100 TB: the frontier is never larger than the vertex
    * set, the visited set grows monotonically and joins as the SMALL side
    * (broadcast-able for most real frontier profiles), and each hop's
    * exchange is keyed by vertex id — parallelism scales with graph size,
    * hop count bounds the number of shuffles. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e = Fixpoint.ckpt(edges.select(col("src"), col("dst")))
    var visited = Fixpoint.ckpt(seeds.select(col("id")).distinct()
      .withColumn("hops", lit(0L)))
    var frontier = visited.select("id")
    for (h <- 1 to maxHops) {
      val next = Fixpoint.ckpt(frontier.join(e, frontier("id") === e("src"))
        .select(e("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("hops", lit(h.toLong)))
      // visited is a UNION of already-materialized frontiers — lineage is
      // flat by construction, so re-checkpointing it would re-materialize
      // the largest frame every hop for nothing; the saving grows with
      // block-manager pressure (in the 150-query bench session those
      // redundant materializations spill to disk)
      visited = visited.union(next)
      frontier = next.select("id")
    }
    visited
  }

  /** q113: 3-hop reachability from seed customers over the (undirected)
    * trade graph — the graph-traversal operator next to q77's centrality
    * and q102's triangles (blast-radius / influence-sphere analysis; the
    * same frontier machinery runs shortest-path labeling and graph
    * sampling). Seeds are customers with key ≡ 0 (mod 500); the DuckDB
    * oracle is a recursive CTE with UNION (set) semantics, min-hop by
    * GROUP BY. */
  val q113BfsHops = QueryDef(
    "q113_bfs_hops",
    (s, d) => {
      val seeds = tradeRel(s, d).filter(col("cust") % 500 === 0).select(col("cust").as("id"))
      bfs(tradeEdges(s, d), seeds, maxHops = 3).orderBy("id")
    },
    Some("""WITH RECURSIVE rel AS (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(l_suppkey AS BIGINT) + 1000000 AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS (
           |  SELECT cust AS src, supp AS dst FROM rel
           |  UNION ALL SELECT supp AS src, cust AS dst FROM rel),
           |walk AS (
           |  SELECT cust AS id, CAST(0 AS BIGINT) AS hops FROM rel WHERE cust % 500 = 0
           |  UNION
           |  SELECT e.dst AS id, w.hops + 1 AS hops
           |  FROM walk w JOIN edges e ON e.src = w.id WHERE w.hops < 3)
           |SELECT id, CAST(MIN(hops) AS BIGINT) AS hops
           |FROM walk GROUP BY id ORDER BY id""".stripMargin)
  )

  /** Round bound for q213's Bellman-Ford (asserted, like [[CoreMaxRounds]]). */
  val SsspMaxRounds = 16

  /** Multi-source weighted single-source-shortest-paths by synchronous
    * Bellman-Ford relaxation: after round r, `dist(v)` is the minimum
    * weight over all ≤ r-edge paths from any seed. Each round is ONE
    * equi-join dist⋈edges (keyed by src) plus ONE min-agg (keyed by
    * vertex) — the weighted generalization of [[bfs]], which this
    * reduces to when every weight is 1. A [[graft.Fixpoint.ckpt]] per
    * round severs lineage.
    *
    * Convergence is detected from TWO monotone scalars — node count
    * (non-decreasing) and Σdist (non-increasing per node) — equal across
    * a round iff the round was a fixpoint: no relaxation can raise a
    * distance, so (count, sum) unchanged ⇒ no node added AND no distance
    * lowered. Both are observed on the round's checkpoint: no job of
    * their own, no frame diff join.
    *
    * Plan shape at 100 TB: the frontier never exceeds the vertex set and
    * both per-round exchanges are keyed by vertex id, so parallelism
    * scales with the graph while the round count is the shortest-path
    * tree depth (asserted ≤ maxRounds). Delta-stepping — relaxing only
    * vertices whose dist changed last round, the [[bfs]] frontier trick —
    * is the documented refinement when the changed set shrinks much
    * faster than the reached set. */
  def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val e = Fixpoint.ckpt(edges.select(col("src"), col("dst"), col("w")))
    val fp = Seq(count(lit(1)).as("n"), sum("dist").as("total"))
    val init = Fixpoint.ckpt(seeds.select(col("id")).distinct().withColumn("dist", lit(0L)), fp: _*)
    val ((dist, _), rounds) = Fixpoint.converge(init, maxRounds, "Bellman-Ford") {
      case (dist, seen) =>
        val relaxed = dist.join(e, dist("id") === e("src"))
          .select(e("dst").as("id"), (dist("dist") + e("w")).as("dist"))
        val next = Fixpoint.ckpt(dist.unionByName(relaxed)
          .groupBy("id").agg(min("dist").as("dist")), fp: _*)
        (next, next._2 != seen)
    }
    (dist, rounds)
  }

  /** q213: multi-source weighted shortest paths over the md5 graph — the
    * weighted companion to q113's hop-BFS (latency/cost propagation,
    * where q113 answers only reachability): distance from the nearest
    * seed (doc_id ≡ 0 mod 100) to every reachable node, edge weights
    * 1 + (h DIV 500) % 2 carved from the SAME md5 word as the
    * destination, so one hash drives the whole topology.
    *
    * The weight range {1, 2} is a deliberate bound, not a toy: a
    * shortest path's edge count is at most (max_w/min_w)·hop-diameter
    * (each hop costs ≥ min_w and the BFS path costs ≤ max_w·diameter),
    * which keeps BOTH the Bellman-Ford round count and the oracle's
    * bounded recursive unrolling small and provable. Wide-open weights
    * (say 1..99) make the same recursion enumerate every distinct path
    * weight per node — exponential oracle cost for zero extra operator
    * coverage (the engine path is range-agnostic; only the PROOF
    * machinery needs the ratio bound).
    *
    * The DuckDB oracle is a recursive CTE bounded at [[SsspMaxRounds]]
    * edges; the Spark side ASSERTS Bellman-Ford convergence within the
    * same bound, so the bounded unrolling provably covers every shortest
    * path (convergence at round r means no shortest path uses more than
    * r−1 < maxRounds edges). Same proof shape as q143's idempotent-peel
    * unrolling. All-integer distances — bit-exact in both engines. */
  val q213Sssp = QueryDef(
    "q213_weighted_sssp",
    (s, d) => {
      val e = md5Draws(s, d, "sp#", 6)
        .select(col("src"), col("dst"), expr("1L + (h DIV 500) % 2").as("w"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(min("w").as("w"))
      val seeds = Tables.documents(s, d)
        .filter(col("doc_id") < 500 && col("doc_id") % 100 === 0)
        .select(col("doc_id").as("id"))
      val (dist, _) = sssp(e, seeds, SsspMaxRounds)
      dist.select(col("id"), col("dist")).orderBy("id")
    },
    Some(s"""WITH RECURSIVE raw AS (
           |  SELECT doc_id AS src,
           |    CAST(('0x' || substr(md5('sp#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
           |      AS h
           |  FROM documents, range(1, 7) AS t(k)
           |  WHERE doc_id < 500),
           |e AS (
           |  SELECT src, h % 500 AS dst, CAST(MIN(1 + (h // 500) % 2) AS BIGINT) AS w
           |  FROM raw WHERE h % 500 <> src GROUP BY 1, 2),
           |walk AS (
           |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist, 0 AS hops
           |  FROM documents WHERE doc_id < 500 AND doc_id % 100 = 0
           |  UNION
           |  SELECT e.dst AS id, w.dist + e.w AS dist, w.hops + 1 AS hops
           |  FROM walk w JOIN e ON e.src = w.id WHERE w.hops < $SsspMaxRounds)
           |SELECT id, CAST(MIN(dist) AS BIGINT) AS dist
           |FROM walk GROUP BY id ORDER BY id""".stripMargin)
  )

  /** Degree threshold and round bound for q143's k-core. */
  val CoreK = 8
  val CoreMaxRounds = 8

  /** k-core of an undirected edge list (a < b, distinct): repeatedly
    * remove nodes whose degree IN THE INDUCED SUBGRAPH is < k until
    * fixpoint — the standard graph-density peel (community cores, spam
    * farms, the "delete the long tail" step before expensive per-node
    * analytics). Each round is one induced-edge double semi-join + one
    * degree agg, checkpointed by [[graft.Fixpoint.ckpt]] to sever
    * lineage; the loop stops when the node count observed on that
    * checkpoint stops falling, and the result is the surviving nodes with
    * their final induced degree.
    *
    * Plan shape at 100 TB: every round's exchanges are keyed by node id
    * (degree agg) or edge endpoint (induced filter) — the peel deletes
    * monotonically, so round cost only shrinks; round COUNT is the
    * degeneracy-ordering depth, bounded here and asserted, with the
    * per-round checkpoint keeping lineage flat exactly like
    * [[Components]]. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int): (DataFrame, Int) = {
    val e = Fixpoint.ckpt(edges.select(col("a"), col("b")))
    def degrees(nodes: DataFrame): DataFrame = {
      val induced = e
        .join(nodes.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("id").as("b")), Seq("b"), "left_semi")
      induced.select(col("a").as("id"))
        .unionAll(induced.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    }
    val n = count(lit(1)).as("n")
    val init = Fixpoint.ckpt(e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct(), n)
    val ((nodes, _), rounds) = Fixpoint.converge(init, maxRounds, "k-core") {
      case (nodes, size) =>
        val next = Fixpoint.ckpt(degrees(nodes).filter(col("deg") >= k).select("id"), n)
        (next, next._2 != size)
    }
    (degrees(nodes).filter(col("deg") >= k), rounds)
  }

  /** q143: 8-core of the skewed-degree md5 graph (out-degree 1+id%12, so
    * the peel genuinely cascades — 5 rounds to fixpoint at the oracle
    * slice, vs 1 on the regular q102 graph). The oracle unrolls
    * [[CoreMaxRounds]] peel rounds as chained CTEs: peeling is idempotent
    * past the fixpoint, and the Spark side ASSERTS convergence within the
    * same bound, so the unrolled depth provably reaches the same set. */
  val q143KCore = QueryDef(
    "q143_kcore",
    (s, d) => {
      val e = canonical(md5Draws(s, d, "core#", 12).filter(col("k") <= lit(1) + col("src") % 12))
      val (core, _) = kcore(e, CoreK, CoreMaxRounds)
      core.orderBy("id")
    },
    Some {
      val base = s"""WITH raw AS MATERIALIZED (
        |  SELECT doc_id AS src, k,
        |    CAST(('0x' || substr(md5('core#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
        |      % 500 AS dst
        |  FROM documents, range(1, 13) AS t(k)
        |  WHERE doc_id < 500 AND k <= 1 + doc_id % 12),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE least(src, dst) < greatest(src, dst)),
        |n0 AS (SELECT a AS id FROM e UNION SELECT b FROM e)""".stripMargin
      val rounds = (1 to CoreMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT id, count(*) AS deg FROM (
           |    SELECT e.a AS id FROM e
           |      JOIN n${i - 1} x ON x.id = e.a JOIN n${i - 1} y ON y.id = e.b
           |    UNION ALL
           |    SELECT e.b FROM e
           |      JOIN n${i - 1} x ON x.id = e.a JOIN n${i - 1} y ON y.id = e.b) u
           |  GROUP BY id),
           |n$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$rounds
         |SELECT id, deg FROM d$CoreMaxRounds WHERE deg >= $CoreK
         |  AND id IN (SELECT id FROM n$CoreMaxRounds)
         |ORDER BY id""".stripMargin
    }
  )

  /** Rounds for q148's HITS power iteration. */
  val HitsIterations = 3

  /** HITS hubs/authorities (Kleinberg) over a directed edge list —
    * UNNORMALIZED integer power iteration: `h_t(u) = Σ_{u→v} a_{t-1}(v)`,
    * `a_t(v) = Σ_{u→v} h_t(u)`, every score starting at 1. Skipping the
    * usual L2 normalization keeps every intermediate an exact BIGINT
    * (scores only feed RANKING, and ranking is normalization-invariant),
    * so the fixed-round result agrees bit-for-bit with the oracle's
    * chained CTEs — the [[pprRanks]] determinism idea without the division.
    * Growth is bounded by (max_in·max_out)^rounds ≈ 200³ here — far
    * inside Long for any bounded-degree graph.
    *
    * Plan shape at 100 TB: per round, two (node, score) shuffles — the
    * contribution agg keyed by src then by dst — each 16 bytes/row, plus
    * a left join back to the node set; edges and nodes are checkpointed
    * once and reused, and per-round checkpoints keep lineage at one
    * round's depth (the [[kcore]] pattern). */
  def hits(edges: DataFrame, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    // iters == 0 would leave hAgg null below (the all-ones initialization
    // never aggregates), so refuse instead of NPE-ing at the output join
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    val e = Fixpoint.ckpt(edges.select(col("src"), col("dst")))
    val nodes = Fixpoint.ckpt(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // A zero score is algebraically identical to an ABSENT row inside the
    // iteration (it contributes nothing to either sum), so the per-round
    // nodes ⟕ zero-fill joins the old shape paid (2 joins + 2 ckpts per
    // round) move OUTSIDE the loop: each round is exactly two
    // join-then-agg steps over the score aggregates themselves, and the
    // all-nodes zero-filled frames are produced once at the end — same
    // values on every node (guide §2.4).
    var a = nodes.select(col("id"), lit(1L).as("a"))
    var hAgg: DataFrame = null
    (1 to iters).foreach { i =>
      hAgg = e.join(a.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("hsum"))
      // the final round's hub agg feeds BOTH the authority update and the
      // h output — checkpoint severs the duplicated lineage (and bounds
      // plan depth at one round, the old cadence); that holds for EVERY
      // round including iters == 1, so checkpoint unconditionally
      hAgg = Fixpoint.ckpt(hAgg)
      a = e.join(hAgg.select(col("id").as("src"), col("hsum")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hsum")).as("a"))
    }
    val h = nodes.join(hAgg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hsum"), lit(0L)).as("h"))
    val aOut = nodes.join(a, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
    (nodes, h, aOut)
  }

  /** q148: HITS over a skewed md5 link graph (out-degree 1 + id%8) —
    * every node with its hub and authority score after
    * [[HitsIterations]] rounds. The link-farm / directory-page split
    * PageRank's single score conflates: a crawl-corpus quality prior
    * needs BOTH (directory hubs are low-authority, cited sources are
    * low-hub). */
  val q148Hits = QueryDef(
    "q148_hits",
    (s, d) => {
      val e = md5Draws(s, d, "hits#", 8)
        .filter(col("k") <= lit(1) + col("src") % 8 && col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val (nodes, h, a) = hits(e, HitsIterations)
      nodes.join(h, Seq("id")).join(a, Seq("id")).orderBy("id")
    },
    Some {
      val base = s"""WITH raw AS MATERIALIZED (
        |  SELECT doc_id AS src,
        |    CAST(('0x' || substr(md5('hits#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
        |      % 500 AS dst
        |  FROM documents, range(1, 9) AS t(k)
        |  WHERE doc_id < 500 AND k <= 1 + doc_id % 8),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        |n AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |a0 AS (SELECT id, CAST(1 AS BIGINT) AS a FROM n)""".stripMargin
      val rounds = (1 to HitsIterations).map { i =>
        s"""h$i AS MATERIALIZED (
           |  SELECT n.id, CAST(COALESCE(SUM(p.a), 0) AS BIGINT) AS h
           |  FROM n LEFT JOIN e ON e.src = n.id LEFT JOIN a${i - 1} p ON p.id = e.dst
           |  GROUP BY n.id),
           |a$i AS MATERIALIZED (
           |  SELECT n.id, CAST(COALESCE(SUM(q.h), 0) AS BIGINT) AS a
           |  FROM n LEFT JOIN e ON e.dst = n.id LEFT JOIN h$i q ON q.id = e.src
           |  GROUP BY n.id)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$rounds
         |SELECT n.id, h$HitsIterations.h, a$HitsIterations.a
         |FROM n JOIN h$HitsIterations ON h$HitsIterations.id = n.id
         |  JOIN a$HitsIterations ON a$HitsIterations.id = n.id
         |ORDER BY n.id""".stripMargin
    }
  )

  /** (id, rank) after [[Iterations]] rounds of integer PageRank over
    * `edges` (src, dst — already directed both ways), with the teleport
    * mass restarting only at the nodes where `isSeed` holds. Every node a
    * seed (`lit(true)`) is q77's uniform PageRank: each starts at [[Unit]]
    * and the update is the same integer expression. Otherwise (q156,
    * personalized/topic-sensitive PageRank) rank becomes proximity to the
    * seeds, the graph prior behind "quality flows outward from a trusted
    * whitelist" (TrustRank) and seed-anchored crawl frontier scoring —
    * q113's reachability with decay replacing the hop cutoff: non-seed
    * nodes get rank ONLY through inflow, so mass concentrates near seeds
    * instead of equalizing. Integer 1e-12 units and floor division keep
    * four unrolled rounds ≡ the oracle's chained CTEs bit-for-bit.
    *
    * The graph frames are checkpointed ONCE: without it every unrolled
    * round re-derives edges + degrees from the base tables (4× the
    * scan/distinct work) and the lineage quadruples; with it each round
    * is exactly one share join + one (node, contrib) hash agg + one outer
    * join over materialized frames. The seed indicator is a PROJECTION on
    * the degree frame (id predicate), never a join. */
  def pprRanks(edges: DataFrame, isSeed: Column): DataFrame = {
    val e = Fixpoint.ckpt(edges)
    val deg = Fixpoint.ckpt(e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
      .withColumn("s", when(isSeed, 1L).otherwise(0L)))
    // outdeg and the seed flag RIDE the rank frame: the per-round r ⋈ deg
    // share join is a projection here (guide §2.4)
    var r = deg.select(col("id"), col("outdeg"), col("s"),
      (col("s") * Unit).as("rank"))
    (1 to Iterations).foreach { i =>
      val contrib = e
        .join(r.select(col("id").as("src"),
          expr("rank div outdeg").as("share")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("share")).as("inflow"))
      r = deg
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"), col("outdeg"), col("s"),
          expr(s"(15 * ${Unit}L * s + $Damping * coalesce(inflow, 0L)) div 100").as("rank"))
      // checkpoint every OTHER round: two rounds of lineage stay bounded
      // and half the eager materializations leave the critical path
      if (i % 2 == 0 && i < Iterations) r = Fixpoint.ckpt(r)
    }
    r.select(col("id"), col("rank"))
  }

  val q156Ppr = QueryDef(
    "q156_ppr",
    (s, d) => topNodes(pprRanks(tradeEdges(s, d), col("id") < 1000000L && col("id") % 500 === 0)
      .filter(col("rank") > 0)),
    Some(s"""WITH rel AS (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(l_suppkey AS BIGINT) + 1000000 AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS (
           |  SELECT cust AS src, supp AS dst FROM rel
           |  UNION ALL SELECT supp AS src, cust AS dst FROM rel),
           |deg AS (
           |  SELECT src AS id, COUNT(*) AS outdeg,
           |    CASE WHEN src < 1000000 AND src % 500 = 0 THEN 1 ELSE 0 END AS s
           |  FROM edges GROUP BY src),
           |r0 AS (SELECT id, CAST(s * $Unit AS BIGINT) AS rank FROM deg),
           |${(1 to Iterations).map(i =>
             s"""c$i AS (
                |  SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS inflow
                |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
                |  JOIN deg d ON d.id = e.src GROUP BY e.dst),
                |r$i AS (
                |  SELECT deg.id,
                |    CAST((15 * $Unit * deg.s + $Damping * COALESCE(c$i.inflow, 0)) // 100 AS BIGINT) AS rank
                |  FROM deg LEFT JOIN c$i ON c$i.id = deg.id)""".stripMargin)
             .mkString(",\n")}
           |SELECT CASE WHEN id >= 1000000 THEN 'supplier' ELSE 'customer' END AS node_type,
           |  CASE WHEN id >= 1000000 THEN id - 1000000 ELSE id END AS key,
           |  CAST(rank AS BIGINT) AS rank
           |FROM r$Iterations WHERE rank > 0
           |ORDER BY rank DESC, node_type, key LIMIT 20""".stripMargin)
  )

  /** Synchronous label-propagation rounds q160 runs. */
  val LpaRounds = 3

  /** Final labels after [[LpaRounds]] synchronous mode-label rounds over
    * the (v, u) neighbor relation — shared by q160, q170 and the
    * [[graft.Scale]] `lpa` phase. */
  def lpaLabels(nbr: DataFrame): DataFrame = {
    var labels = Fixpoint.ckpt(nbr.select(col("v")).distinct()
      .withColumn("lbl", col("v")))
    val w = Window.partitionBy("v").orderBy(col("cnt").desc, col("lbl").asc)
    for (_ <- 1 to LpaRounds) {
      labels = Fixpoint.ckpt(nbr.join(labels.withColumnRenamed("v", "u"), Seq("u"))
        .groupBy("v", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("v", "lbl"))
    }
    labels
  }

  /** Shared oracle CTE chain: graph build + [[LpaRounds]] unrolled LPA
    * rounds, ending at `l<LpaRounds>` (used by q160 and q170). */
  private def lpaCtes: String =
    s"""WITH raw AS (
       |  SELECT doc_id AS src,
       |    CAST(('0x' || substr(md5('tri#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
       |      % 500 AS dst
       |  FROM documents, range(1, 7) AS t(k)
       |  WHERE doc_id < 500),
       |e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM raw WHERE least(src, dst) < greatest(src, dst)),
       |nbr AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b AS v, a AS u FROM e),
       |l0 AS (SELECT DISTINCT v, v AS lbl FROM nbr),
       |${(1 to LpaRounds).map(i =>
         s"""g$i AS (
            |  SELECT n.v, l.lbl, COUNT(*) AS cnt
            |  FROM nbr n JOIN l${i - 1} l ON l.v = n.u GROUP BY n.v, l.lbl),
            |l$i AS (
            |  SELECT v, lbl FROM (
            |    SELECT v, lbl, row_number() OVER (
            |      PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn FROM g$i)
            |  WHERE rn = 1)""".stripMargin).mkString(",\n")}""".stripMargin

  /** q160: label-propagation community detection (Raghavan et al. 2007)
    * over q102's deterministic md5-bridge friendship graph — the
    * near-linear community finder pipelines run where modularity
    * methods (Louvain) don't scale: labels start as vertex ids, each
    * SYNCHRONOUS round every vertex adopts the most frequent label among
    * its neighbors (tie → smallest label), [[LpaRounds]] fixed rounds
    * unrolled so both engines walk the identical deterministic sequence.
    * Complements q44/q71 (connected components = structure-only
    * clusters) and q143 (k-core density): LPA finds DENSITY-coherent
    * groups inside one component.
    *
    * Plan shape at 100 TB: each round is one vertex-keyed equi-join
    * (neighbor lists ⋈ labels) + one (v, lbl) hash agg + one
    * row_number window PARTITIONED BY VERTEX — every step keyed by
    * vertex id, parallelism scales with the vertex set, no global
    * ordering anywhere; a per-round [[graft.Fixpoint.ckpt]] severs the
    * growing lineage. The community roll-up at the end is
    * label-keyed and community-sized. */
  val q160LabelProp = QueryDef(
    "q160_label_prop",
    (s, d) => {
      val e = friendEdges(s, d)
      val nbr = Fixpoint.ckpt(e.select(col("a").as("v"), col("b").as("u"))
        .unionByName(e.select(col("b").as("v"), col("a").as("u"))))
      lpaLabels(nbr).groupBy("lbl")
        .agg(count(lit(1)).as("csize"), min(col("v")).as("min_member"))
        .orderBy(col("csize").desc, col("lbl").asc)
    },
    Some(s"""$lpaCtes
           |SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize, MIN(v) AS min_member
           |FROM l$LpaRounds GROUP BY lbl
           |ORDER BY csize DESC, lbl ASC""".stripMargin)
  )

  /** q170: modularity scoring of q160's LPA partition — Newman's Q per
    * community, the evaluation metric that tells a pipeline whether its
    * communities are denser than a degree-preserving random graph:
    * Q_c = e_c/m − (deg_c/2m)², reported ×1e6 in the q103 pre-divided
    * fixed-point shape (both terms are DIVs of positives — no negative
    * integer division ever happens, though the DIFFERENCE may be
    * negative for under-dense communities, which is the signal). The
    * detector (q160) and its evaluator are deliberately separate
    * queries, as in production where Q gates whether the labels ship.
    *
    * Plan shape at 100 TB: internal-edge counting is the edge list
    * joined twice against the vertex-keyed label frame (both joins
    * vertex-keyed — the q102 discipline); degree and community sums are
    * label-keyed aggs bounded by |communities|; m is a 1-row broadcast.
    * deg_c² ≤ (2m)² and ×1e6 stays far under 2^63 at any graph this
    * formula's BIGINT bound admits (documented: deg_c·1000 < 3e9). */
  val q170Modularity = QueryDef(
    "q170_modularity",
    (s, d) => {
      val e = Fixpoint.ckpt(friendEdges(s, d))
      val nbr = Fixpoint.ckpt(e.select(col("a").as("v"), col("b").as("u"))
        .unionByName(e.select(col("b").as("v"), col("a").as("u"))))
      val labels = lpaLabels(nbr)
      val m = e.agg(count(lit(1)).as("m"))
      val internal = e
        .join(labels.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_in"))
      val degc = nbr.groupBy("v").agg(count(lit(1)).as("deg"))
        .join(labels, Seq("v"))
        .groupBy("lbl").agg(sum(col("deg")).as("deg_c"))
      degc.join(internal, Seq("lbl"), "left_outer")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(m))
        .withColumn("q_x1m",
          expr("e_in * 1000000 DIV m - deg_c * deg_c * 1000000 DIV (4 * m * m)"))
        .select("lbl", "e_in", "deg_c", "q_x1m")
        .orderBy(col("q_x1m").desc, col("lbl").asc)
    },
    Some(s"""$lpaCtes,
           |lab AS (SELECT v, lbl FROM l$LpaRounds),
           |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
           |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY v),
           |degc AS (
           |  SELECT lbl, CAST(SUM(deg) AS BIGINT) AS deg_c
           |  FROM deg JOIN lab USING (v) GROUP BY lbl),
           |ein AS (
           |  SELECT la.lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS e_in
           |  FROM e JOIN lab la ON la.v = e.a JOIN lab lb2 ON lb2.v = e.b
           |  WHERE la.lbl = lb2.lbl GROUP BY la.lbl)
           |SELECT d.lbl, CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, d.deg_c,
           |  CAST(COALESCE(ein.e_in, 0) * 1000000 // m
           |     - d.deg_c * d.deg_c * 1000000 // (4 * m * m) AS BIGINT) AS q_x1m
           |FROM degc d LEFT JOIN ein USING (lbl) CROSS JOIN mm
           |ORDER BY q_x1m DESC, lbl ASC""".stripMargin)
  )

  /** q194: degree-distribution audit — the structural profile every graph
    * job should read BEFORE choosing its plan (q77's scaladoc argues skew
    * from it; q102's degree orientation depends on it; q84's salting is
    * triggered by it): per node type, node/endpoint counts, max degree,
    * exact median/p90 degree (q186's distinct-value cumulative selection
    * — the windows run over the degree HISTOGRAM, not nodes), and the
    * endpoint share of the top-1% highest-degree nodes ×1e6 (q181's
    * concentration readout on graph structure; tie groups at the 1% cut
    * contribute pro-rata in whole nodes, deterministic because same-degree
    * nodes are interchangeable).
    *
    * Scale: ONE distinct-pair exchange, two node-keyed degree aggs, and
    * every window thereafter runs over the (type, degree) histogram —
    * bounded by max-degree, metadata at any corpus size. */
  val q194DegreeAudit = QueryDef(
    "q194_degree_audit",
    (s, d) => {
      val rel = tradeRel(s, d)
      val deg = rel.groupBy("cust").agg(count(lit(1)).as("deg"))
        .select(lit("customer").as("node_type"), col("deg"))
        .unionByName(rel.groupBy("supp").agg(count(lit(1)).as("deg"))
          .select(lit("supplier").as("node_type"), col("deg")))
      val hist = deg.groupBy("node_type", "deg").agg(count(lit(1)).as("nodes"))
      val wAsc = Window.partitionBy("node_type").orderBy(col("deg").asc)
      val wDesc = Window.partitionBy("node_type").orderBy(col("deg").desc)
      val wAll = Window.partitionBy("node_type")
      hist
        .withColumn("cum", sum("nodes").over(wAsc))
        .withColumn("n", sum("nodes").over(wAll))
        .withColumn("ends", sum(col("nodes") * col("deg")).over(wAll))
        .withColumn("cum_hi", sum("nodes").over(wDesc))
        .withColumn("k", expr("(n + 99) DIV 100"))
        .withColumn("top_take",
          greatest(lit(0L), least(col("nodes"), col("k") - (col("cum_hi") - col("nodes")))))
        .groupBy("node_type")
        .agg(max("n").as("n_nodes"), max("ends").as("n_endpoints"),
          max("deg").as("max_deg"),
          min(when(col("cum") * 2 >= col("n"), col("deg"))).as("med_deg"),
          min(when(col("cum") * 10 >= col("n") * 9, col("deg"))).as("p90_deg"),
          (sum(col("top_take") * col("deg")) * 1000000L).as("top_x1m_num"))
        .select(col("node_type"), col("n_nodes"), col("n_endpoints"),
          col("max_deg"), col("med_deg"), col("p90_deg"),
          expr("top_x1m_num DIV n_endpoints").as("top1pct_share_x1m"))
        .orderBy("node_type")
    },
    Some("""WITH rel AS (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(l_suppkey AS BIGINT) + 1000000 AS supp
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |deg AS (
           |  SELECT 'customer' AS node_type, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM rel GROUP BY cust
           |  UNION ALL
           |  SELECT 'supplier' AS node_type, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM rel GROUP BY supp),
           |hist AS (
           |  SELECT node_type, deg, CAST(COUNT(*) AS BIGINT) AS nodes
           |  FROM deg GROUP BY 1, 2),
           |c AS (
           |  SELECT node_type, deg, nodes,
           |    SUM(nodes) OVER (PARTITION BY node_type ORDER BY deg ASC) AS cum,
           |    SUM(nodes) OVER (PARTITION BY node_type) AS n,
           |    SUM(nodes * deg) OVER (PARTITION BY node_type) AS ends,
           |    SUM(nodes) OVER (PARTITION BY node_type ORDER BY deg DESC) AS cum_hi
           |  FROM hist),
           |t AS (
           |  SELECT *, (n + 99) // 100 AS k,
           |    GREATEST(0, LEAST(nodes, (n + 99) // 100 - (cum_hi - nodes))) AS top_take
           |  FROM c)
           |SELECT node_type, CAST(MAX(n) AS BIGINT) AS n_nodes,
           |  CAST(MAX(ends) AS BIGINT) AS n_endpoints,
           |  CAST(MAX(deg) AS BIGINT) AS max_deg,
           |  CAST(MIN(CASE WHEN cum * 2 >= n THEN deg END) AS BIGINT) AS med_deg,
           |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN deg END) AS BIGINT) AS p90_deg,
           |  CAST(SUM(top_take * deg) * 1000000 // MAX(ends) AS BIGINT)
           |    AS top1pct_share_x1m
           |FROM t GROUP BY node_type ORDER BY node_type""".stripMargin)
  )

  /** q223: PageRank with DANGLING-MASS redistribution — the completion
    * q77 doesn't need (its trade graph gives every node an out-edge) but
    * every real web/link graph does: sink pages (no out-links) would
    * leak their rank mass each round, deflating the whole vector. The
    * standard fix (Page et al. 1999; the "dangling node" term) re-emits
    * each round's sink mass uniformly: rank' = (15·U + 85·(inflow +
    * danglingΣ DIV N)) DIV 100. The graph here PLANTS sinks — nodes ≡ 0
    * (mod 5) get no out-edges, 100 of 500 — so the term visibly binds
    * (ScalaTest asserts total mass stays within the floor-division
    * slack, which without the term would lose ~20% per round).
    *
    * Integer exactness: the per-round dangling scalar is a 1-row agg
    * broadcast into the update (the q118 shape); `DIV` on non-negative
    * mass matches DuckDB's `//`, so four unrolled rounds are bit-exact
    * against the chained-CTE oracle. Each round's remainder loss is
    * < N units of 1e-12 — deterministic, identical in both engines.
    *
    * Scale: identical plan shape to q77 (edges built once, per-round
    * join + agg keyed by node) plus one 1-row scalar agg per round —
    * the dangling term costs one metadata reduction, not a shuffle. */
  val q223DanglingPagerank = QueryDef(
    "q223_dangling_pagerank",
    (s, d) => {
      val nodes = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id").as("id"))
      val edges = Fixpoint.ckpt(md5Draws(s, d, "dp#", 4)
        .filter(col("src") % 5 =!= 0 && col("src") =!= col("dst")) // ≡0 (mod 5) → sinks
        .select("src", "dst").distinct())
      val deg = Fixpoint.ckpt(edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("outdeg")))
      val n = nodes.count() // metadata: 500
      var r = nodes.select(col("id"), lit(Unit).as("rank"))
      (1 to Iterations).foreach { i =>
        val dang = r.join(deg, Seq("id"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0L)).as("dang"))
        val contrib = edges
          .join(r.join(deg, Seq("id")).select(col("id").as("src"),
            expr("rank div outdeg").as("share")), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("share")).as("inflow"))
        r = nodes.join(contrib, Seq("id"), "left_outer")
          .crossJoin(broadcast(dang))
          .select(col("id"),
            expr(s"(15 * ${Unit}L + $Damping * (coalesce(inflow, 0L) + dang DIV $n)) div 100")
              .as("rank"))
        // checkpoint EVERY round (500-row frames — materialization is
        // free): the dangling agg consumes r twice per round, so without
        // it the unrolled plan text compounds past the sweep budget
        if (i < Iterations) r = Fixpoint.ckpt(r)
      }
      r.select(col("id"), col("rank"), (col("id") % 5 === 0).as("is_sink"))
        .orderBy(col("rank").desc, col("id").asc).limit(20)
    },
    Some(s"""WITH nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 500),
           |raw AS (
           |  SELECT id AS src,
           |    CAST(('0x' || substr(md5('dp#' || id || '#' || k), 1, 15)) AS BIGINT)
           |      % 500 AS dst
           |  FROM nodes, range(1, 5) t(k) WHERE id % 5 <> 0),
           |edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
           |deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
           |r0 AS (SELECT id, CAST($Unit AS BIGINT) AS rank FROM nodes),
           |${(1 to Iterations).map(i =>
             s"""dang$i AS (
                |  SELECT COALESCE(SUM(rank), 0) AS dang FROM r${i - 1}
                |  WHERE id NOT IN (SELECT id FROM deg)),
                |c$i AS (
                |  SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS inflow
                |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
                |  JOIN deg d ON d.id = e.src GROUP BY e.dst),
                |r$i AS (
                |  SELECT nodes.id,
                |    (15 * $Unit + $Damping * (COALESCE(c$i.inflow, 0) + dang // (SELECT COUNT(*) FROM nodes))) // 100
                |      AS rank
                |  FROM nodes LEFT JOIN c$i ON c$i.id = nodes.id, dang$i)""".stripMargin)
             .mkString(",\n")}
           |SELECT id, CAST(rank AS BIGINT) AS rank, id % 5 = 0 AS is_sink
           |FROM r$Iterations
           |ORDER BY rank DESC, id ASC LIMIT 20""".stripMargin)
  )

  /** q229: link prediction by the resource-allocation index (Zhou,
    * Lü & Zhang 2009) — for every NON-edge (u, w) sharing neighbors,
    * score Σ_b 1e6 DIV deg(b) over the common neighbors b: a shared
    * low-degree friend is strong evidence, a shared hub is weak. The
    * "who should be connected next" operator that completes the graph
    * pack's analytics (q102 counts closed triangles; this ranks the
    * OPEN ones about to close — recommendation candidates, knowledge-
    * graph completion, missing-citation detection). RA is the
    * integer-exact member of the classic family (Adamic-Adar's
    * 1/log deg needs floats; RA's 1/deg beats it on most benchmarks
    * anyway — cited in-paper).
    *
    * Exactness: per-neighbor contributions are fixed-point floor
    * divisions SUMMED as integers (order-free); ties rank by (u, w).
    *
    * Plan shape at 100 TB: wedge enumeration is the q102 shape — two
    * vertex-keyed equi-joins through the shared middle, u < w
    * canonicalization so each candidate pair appears once per common
    * neighbor; deg(b) rides the wedge join as a vertex-keyed agg
    * broadcast; the existing-edge anti-join and the top-20 are pair-
    * keyed. Wedge volume is Σ deg(b)² — the documented hub-cap/degree-
    * orientation bound from q102 applies unchanged. */
  val q229LinkPrediction = QueryDef(
    "q229_link_prediction",
    (s, d) => {
      val e = Fixpoint.ckpt(friendEdges(s, d))
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val wedges = adj.select(col("u"), col("v").as("mid"))
        .join(adj.select(col("u").as("w"), col("v").as("mid")), Seq("mid"))
        .filter(col("u") < col("w"))
        .join(deg.withColumnRenamed("node", "mid"), Seq("mid"))
      wedges
        .groupBy("u", "w")
        .agg(sum(expr("1000000 DIV deg")).as("ra_x1m"),
          count(lit(1)).as("common"))
        .join(e, col("u") === col("a") && col("w") === col("b"), "left_anti")
        .orderBy(col("ra_x1m").desc, col("u").asc, col("w").asc)
        .limit(20)
    },
    Some("""WITH raw AS (
           |  SELECT doc_id AS src,
           |    CAST(('0x' || substr(md5('tri#' || doc_id || '#' || k), 1, 15)) AS BIGINT)
           |      % 500 AS dst
           |  FROM documents, range(1, 7) AS t(k)
           |  WHERE doc_id < 500),
           |e AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM raw WHERE least(src, dst) < greatest(src, dst)),
           |adj AS (
           |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
           |deg AS (SELECT u AS node, COUNT(*) AS deg FROM adj GROUP BY 1),
           |wedges AS (
           |  SELECT x.u, y.u AS w, x.v AS mid
           |  FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u),
           |scored AS (
           |  SELECT u, w, CAST(SUM(1000000 // deg) AS BIGINT) AS ra_x1m,
           |    CAST(COUNT(*) AS BIGINT) AS common
           |  FROM wedges JOIN deg ON deg.node = wedges.mid
           |  GROUP BY u, w)
           |SELECT u, w, ra_x1m, common
           |FROM scored s
           |ANTI JOIN e ON e.a = s.u AND e.b = s.w
           |ORDER BY ra_x1m DESC, u ASC, w ASC LIMIT 20""".stripMargin)
  )

  val all: Seq[QueryDef] =
    Seq(q77PageRank, q102Triangles, q113BfsHops, q143KCore, q148Hits, q156Ppr,
      q160LabelProp, q170Modularity, q194DegreeAudit, q213Sssp,
      q223DanglingPagerank, q229LinkPrediction)
}
