package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Fixpoint, QueryDef, SessionFrames, Tables}

/** Connected components over near-duplicate candidate pairs — the final
  * stage of near-dup deduplication (SURVEY.md §2.5 "connected components
  * of candidate pairs … bounded iterative join", implemented without a
  * GraphX dependency): pairs → clusters → one survivor per cluster.
  *
  * Algorithm: min-label propagation WITH pointer jumping. Each round every
  * node takes the min of (its label, its neighbors' labels, its label's
  * label) — the third term halves label-chain lengths every round, so
  * convergence is O(log diameter) instead of O(diameter): a 1000-node path
  * graph converges in ~10 rounds, not 1000.
  *
  * Per-round cost is the round's checkpoint ([[graft.Fixpoint.ckpt]])
  * and nothing else: the count of labels that changed is observed on that
  * checkpoint's own job, so convergence needs no second join+count action.
  *
  * At 100 TB the edge list after LSH+verify is orders of magnitude
  * smaller than the corpus (only near-dup members appear), so the loop
  * runs on a fraction of the data.
  */
object Components {

  /** Min-label connected components: `edges` (src,dst), `vertices` (id) →
    * (id, component) where component = min reachable id. Ids are cast to
    * long. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // eager materialization between rounds keeps the plan bounded AND gives
    // each round fresh attribute ids — joining `e` against a frame derived
    // from it would otherwise hit Spark's cross-lineage column-resolution
    // ambiguity and silently mis-join.
    // undirected: both directions
    val e = Fixpoint.ckpt(edges
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .union(edges.select(col("dst").cast(LongType).as("src"), col("src").cast(LongType).as("dst")))
      .distinct())
    val init = Fixpoint.ckpt(vertices.select(col("id").cast(LongType),
      col("id").cast(LongType).as("component")))
    // Never return silently-wrong labels: pointer jumping converges in
    // O(log diameter) rounds (maxIter = 50 covers diameter ~2^50), so
    // hitting the bound means the input or the loop is broken — converge
    // fails loud.
    val (labels, _) = Fixpoint.converge(init, maxIter, "connectedComponents") { labels =>
      // neighbor minimum per node, all joins on freshly-named columns
      val viaNeighbor = e.select(col("src").as("n_id"), col("dst").as("n_nbr"))
        .join(labels.select(col("id").as("n_nbr"), col("component").as("n_comp")), Seq("n_nbr"))
        .groupBy(col("n_id").as("id")).agg(min(col("n_comp")).as("nmin"))
      // pointer jumping: component(component(x)); labels is checkpointed so
      // the self-join resolves on fresh attributes
      val viaParent = labels.select(col("id").as("p_id"), col("component").as("p_comp"))
        .join(labels.select(col("id").as("p_comp"), col("component").as("p_comp2")), Seq("p_comp"))
        .select(col("p_id").as("id"), col("p_comp2").as("pmin"))
      // the round's checkpoint keeps the previous label beside the new one,
      // so the labels that changed are counted in its own job
      val (next, changed) = Fixpoint.ckpt(labels.select("id", "component")
        .join(viaNeighbor, Seq("id"), "left_outer")
        .join(viaParent, Seq("id"), "left_outer")
        .select(col("id"), col("component").as("prev"),
          least(col("component"),
            coalesce(col("nmin"), col("component")),
            coalesce(col("pmin"), col("component"))).as("component")),
        count(when(col("component") =!= col("prev"), 1)).as("changed"))
      (next, changed.getLong(0) > 0)
    }
    labels.select("id", "component")
  }

  /** Hybrid dispatch: the edge list after LSH + exact verify is candidate
    * METADATA (near-dup members only), typically orders of magnitude
    * smaller than the corpus — under `localThreshold` edges it is cheaper
    * to union-find on the driver (milliseconds, zero jobs per round) and
    * join the labels back; above it, run the distributed loop. */
  def connectedComponentsAuto(vertices: DataFrame, edges: DataFrame,
                              localThreshold: Long = 1000000L): DataFrame = {
    val n = edges.count()
    if (n > localThreshold)
      return connectedComponents(vertices, edges)
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-label wins
    }
    // materialize the key list BEFORE labeling: find() path-compresses
    // (mutates values) and scala.mutable.HashMap iteration silently drops
    // entries when mutated mid-iteration
    val labelMap = parent.keys.toList.map(k => (k, find(k))).toMap
    val spark = vertices.sparkSession
    import spark.implicits._
    val labelDf = labelMap.toSeq.toDF("id", "comp")
    vertices.join(broadcast(labelDf), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Cluster labels over the pair-MEMBER vertex set of
    * [[DedupOps.verifiedPairs]] — the frame q53/q71/q204 and the
    * CleanCorpus near-dup stage all derive. r13: a [[graft.SessionFrames]]
    * frame: each consumer re-ran the eager union-find/label loop per
    * invocation even though the pair frame underneath was already
    * shared. The distributed (>1M-edge) branch returns checkpoint-backed
    * labels, which SessionFrames hands back unmemoized. */
  private[operators] def pairMemberClusters(s: SparkSession, d: String,
      cap: Long): DataFrame =
    SessionFrames.frame(s, ("pairMemberClusters", d, cap)) {
      val edges = DedupOps.verifiedPairs(s, d, cap)
        .select(col("d1").as("src"), col("d2").as("dst"))
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      connectedComponentsAuto(verts, edges)
    }

  /** Recursive-CTE oracle fragment: clusters over the exact j>=0.6 pairs
    * (valid for the LSH edges by the verify + miss-probability argument in
    * [[DedupOps.verifiedPairs]]). Appends to [[DedupOps.pairsCtes]]. */
  private def clustersCtes(capped: Boolean): String = {
    val vertWhere = if (capped) " WHERE doc_id < 500" else ""
    s"""${DedupOps.pairsCtes(capped, tenths = 6)},
       |bidir AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION SELECT d2 AS src, d1 AS dst FROM pairs),
       |verts AS (SELECT doc_id AS id FROM documents$vertWhere),
       |reach(node, lab) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN bidir e ON e.src = r.node),
       |clusters AS (
       |  SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY node)""".stripMargin
  }

  /** q44: near-dup clusters over the verified near-dup pairs (q24 edges,
    * j >= 0.6) for the oracle slice — every doc labeled with its component
    * (= min doc_id reachable), singletons labeling themselves. Consumes
    * the SAME cached pair frame as q24/q46 (no pipeline re-run). The
    * DuckDB oracle computes the transitive closure with a recursive CTE. */
  val q44DedupClusters = QueryDef(
    "q44_dedup_clusters",
    (s, d) => {
      val edges = DedupOps.verifiedPairs(s, d, DedupOps.OracleCap)
        .select(col("d1").as("src"), col("d2").as("dst"))
      val verts = Tables.documents(s, d)
        .filter(col("doc_id") < DedupOps.OracleCap).select(col("doc_id").as("id"))
      connectedComponentsAuto(verts, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${clustersCtes(capped = true)}
           |SELECT doc_id, cluster FROM clusters ORDER BY doc_id""".stripMargin)
  )

  /** q53: FULL-CORPUS near-dup cluster summary — the scalable complement
    * of q44: edges from the unbounded LSH pass (q52), vertices restricted
    * to edge endpoints (docs in no pair are singletons by definition, so
    * the clustering never touches the full corpus — it runs on near-dup
    * METADATA only, the property that makes this viable at 100 TB).
    * Output: (cluster, sz) per multi-doc cluster; grows with scale factor. */
  val q53DedupClustersFull = QueryDef(
    "q53_dedup_clusters_full",
    (s, d) =>
      pairMemberClusters(s, d, DedupOps.FullCorpus)
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("sz"))
        .orderBy("cluster"),
    Some(s"""WITH RECURSIVE ${DedupOps.pairsCtes(capped = false, tenths = 6)},
           |bidir AS (
           |  SELECT d1 AS src, d2 AS dst FROM pairs
           |  UNION SELECT d2 AS src, d1 AS dst FROM pairs),
           |reach(node, lab) AS (
           |  SELECT DISTINCT src, src FROM bidir
           |  UNION
           |  SELECT e.dst, r.lab FROM reach r JOIN bidir e ON e.src = r.node),
           |clusters AS (
           |  SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY node)
           |SELECT cluster, COUNT(*) AS sz FROM clusters
           |GROUP BY cluster ORDER BY cluster""".stripMargin)
  )

  /** q204: dedup-impact report — what keep-one-per-cluster WOULD do to
    * the corpus before anyone runs it: the cluster-SIZE distribution
    * (singletons included — docs in no near-dup pair are size-1 clusters
    * by definition) with per-size cluster/doc counts and each size's
    * share of the total drop ×1e6. The capacity-planning face of
    * q44/q53/q71: size-2 tails mean light trimming, a giant component
    * means boilerplate detection should run first.
    *
    * Scale: clustering touches pair METADATA only (the q53 property);
    * the singleton count is corpus_count − Σ sz, one scalar; the
    * histogram is bounded by the largest cluster size. */
  val q204DedupImpact = QueryDef(
    "q204_dedup_impact",
    (s, d) => {
      val clusters = pairMemberClusters(s, d, DedupOps.FullCorpus)
      val sizes = clusters
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      val multi = sizes.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      val nDocs = Tables.documents(s, d).count()
      val inPairs = clusters.count()
      val hist = multi
        .unionByName(multi.sparkSession.range(1).toDF("x")
          .select(lit(1L).as("sz"), lit(nDocs - inPairs).as("n_clusters")))
        .groupBy("sz").agg(sum("n_clusters").as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .withColumn("dropped", (col("sz") - 1) * col("n_clusters"))
      hist
        .withColumn("total_drop", sum("dropped").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(0))))
        .select(col("sz"), col("n_clusters"), col("n_docs"),
          expr("dropped * 1000000 DIV greatest(total_drop, 1)").as("drop_share_x1m"))
        .orderBy("sz")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.pairsCtes(capped = false, tenths = 6)},
           |bidir AS (
           |  SELECT d1 AS src, d2 AS dst FROM pairs
           |  UNION SELECT d2 AS src, d1 AS dst FROM pairs),
           |reach(node, lab) AS (
           |  SELECT DISTINCT src, src FROM bidir
           |  UNION
           |  SELECT e.dst, r.lab FROM reach r JOIN bidir e ON e.src = r.node),
           |clusters AS (
           |  SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY node),
           |csizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
           |          FROM clusters GROUP BY cluster),
           |cmulti AS (SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
           |          FROM csizes GROUP BY sz),
           |hist AS (
           |  SELECT sz, n_clusters FROM cmulti
           |  UNION ALL
           |  SELECT 1, (SELECT COUNT(*) FROM documents)
           |    - (SELECT COUNT(*) FROM clusters)),
           |g AS (
           |  SELECT sz, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
           |  FROM hist GROUP BY sz)
           |SELECT sz, n_clusters, CAST(sz * n_clusters AS BIGINT) AS n_docs,
           |  CAST((sz - 1) * n_clusters * 1000000
           |    // GREATEST(SUM((sz - 1) * n_clusters) OVER (), 1) AS BIGINT)
           |    AS drop_share_x1m
           |FROM g ORDER BY sz""".stripMargin)
  )

  /** q71: quality-canonical survivor selection — production near-dup
    * dedup keeps the BEST document of each cluster, not the lowest id
    * (FineWeb/RefinedWeb keep-longest rule): survivor = max `n_chars`,
    * ties to the smaller doc_id. Consumes the same cached pair frame and
    * the same pair-members-only clustering as q53 — the corpus is touched
    * once, by a metadata-sized join that attaches `n_chars` (already a
    * stored column, never recomputed from text).
    *
    * The argmax is a single struct-`max` hash agg — (n_chars, -doc_id)
    * compares lexicographically, so partial aggregation does the tiebreak
    * map-side; no window shuffle, no row_number. */
  val q71ClusterCanonical = QueryDef(
    "q71_cluster_canonical",
    (s, d) => {
      val clusters = pairMemberClusters(s, d, DedupOps.OracleCap)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
      val quality = Tables.documents(s, d)
        .filter(col("doc_id") < DedupOps.OracleCap)
        .select(col("doc_id"), col("n_chars"))
      clusters.join(quality, Seq("doc_id"))
        .groupBy("cluster")
        .agg(
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster"), (-col("m.neg_id")).as("keep_id"),
          col("m.n_chars").as("kept_chars"), col("n_members"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.pairsCtes(capped = true, tenths = 6)},
           |bidir AS (
           |  SELECT d1 AS src, d2 AS dst FROM pairs
           |  UNION SELECT d2 AS src, d1 AS dst FROM pairs),
           |reach(node, lab) AS (
           |  SELECT DISTINCT src, src FROM bidir
           |  UNION
           |  SELECT e.dst, r.lab FROM reach r JOIN bidir e ON e.src = r.node),
           |clusters AS (
           |  SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY node),
           |ranked AS (
           |  SELECT c.cluster, c.doc_id, d.n_chars,
           |    row_number() OVER (PARTITION BY c.cluster
           |      ORDER BY d.n_chars DESC, c.doc_id) AS rk,
           |    COUNT(*) OVER (PARTITION BY c.cluster) AS n_members
           |  FROM clusters c JOIN documents d USING (doc_id))
           |SELECT cluster, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS kept_chars,
           |  CAST(n_members AS BIGINT) AS n_members
           |FROM ranked WHERE rk = 1 ORDER BY cluster""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q44DedupClusters, q53DedupClustersFull,
    q71ClusterCanonical, q204DedupImpact)
}
