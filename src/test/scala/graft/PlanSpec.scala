package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Scale-shape assertions: the physical plans must have the properties the
  * 100 TB design depends on — filters/projections pushed into the parquet
  * scan, broadcast joins where a dimension is small, no cartesian products
  * on the equi-join paths. `.queryExecution.executedPlan` is inspected as
  * text (the same thing `.explain("formatted")` prints); the registry's
  * exchange budgets count plan nodes ([[exchanges]]). */
class PlanSpec extends SparkSpec {

  private def plan(q: QueryDef): String =
    q.run(spark, sfDir).queryExecution.executedPlan.toString

  /** Exchange nodes of `df`'s executed plan, counted structurally: AQE's
    * current plan and subqueries are descended into, an
    * InMemoryRelation's cached plan is not — at run time a session frame
    * is one cached-relation scan however often its lineage would print. */
  private def exchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case _: InMemoryTableScanExec => 0
      case _ =>
        val own = p match { case _: Exchange | _: ReusedExchangeExec => 1; case _ => 0 }
        own + (p.children ++ p.subqueries).map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  test("q01: filter + projection reach the parquet scan") {
    val p = plan(Relational.q01FilterProject)
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // pruned read schema — none of the unused money columns
    assert(!p.contains("l_comment"))
  }

  test("q02: aggregation is partial+final hash agg (map-side combine)") {
    val p = plan(Relational.q02GroupAgg)
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("q04: small filtered dimension is broadcast, not shuffled") {
    val p = plan(Relational.q04BroadcastJoin)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q05: dims broadcast; no cartesian anywhere") {
    val p = plan(Relational.q05MultiJoin)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q11: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan(Relational.q11TopK)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q19: token top-50 also plans as TakeOrderedAndProject") {
    val p = plan(TextOps.q19TokenTopK)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("sortWithinPartitions is partition-local: no exchange, non-global sort") {
    val df = Tables.lineitem(spark, sfDir).sortWithinPartitions("l_orderkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Sort") && p.contains("false, 0"), s"expected local sort:\n$p")
    assert(!p.contains("Exchange"), s"local sort must not shuffle:\n$p")
  }

  test("q27: single-query ANN broadcasts the query vector") {
    val p = plan(VectorOps.q27CosineTopK)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q91: the optimizer rule bands the natural-SQL levenshtein predicate") {
    val p = plan(graft.operators.DedupOps.q91EditDistSql)
    assert(p.contains("levenshtein") && p.contains("Some(30)"),
      s"expected banded 3-arg levenshtein in the join condition:\n$p")
  }

  test("q57: winnowing is per-row array algebra — only the final orderBy shuffles") {
    val p = plan(TextOps.q57Winnowing)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"winnowing must not shuffle grams (got $exchanges exchanges):\n$p")
    assert(!p.contains("Window"), s"no window operator expected:\n$p")
    assert(!p.contains("Generate"), s"no explode expected:\n$p")
  }

  test("q66/q67: PII redaction and repetition metrics are narrow projections") {
    // both are per-row text/array algebra: nothing may shuffle but the
    // final total orderBy (1 exchange), and nothing may explode
    Seq(TextOps.q66PiiRedact, TextOps.q67Repetition).foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, s"${q.name}: per-row op must not shuffle (got $exchanges):\n$p")
      assert(!p.contains("Generate"), s"${q.name}: no explode expected:\n$p")
      assert(!p.contains("Window"), s"${q.name}: no window operator expected:\n$p")
    }
  }

  test("q69/q70: benchmark gram set broadcasts; corpus grams are semi-joined at the scan") {
    Seq(TextOps.q69Decontamination, TextOps.q70DecontamPool).foreach { q =>
      val p = plan(q)
      // the 100 TB invariant: the training-pool side is reduced by a
      // broadcast LEFT-SEMI join — corpus grams must never shuffle
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"${q.name}: training grams must be pruned by a broadcast semi join:\n$p")
      // both source slices are pruned at the parquet scan
      assert(p.contains("PushedFilters: [IsNotNull(source)"),
        s"${q.name}: source filter not pushed to the scan:\n$p")
    }
  }

  test("q59: vocabulary-sized df table is broadcast onto tf") {
    val p = plan(TextOps.q59Tfidf)
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
    assert(p.contains("partial_"), "tf/df aggs must partial-aggregate")
  }

  test("q73/q85: packing + mixture windows are chunk/bucket-partitioned (two-level), never per-shard-key only") {
    // the doc-level window must partition by (source, chunk): partition
    // count then scales with the DATA (doc_id div PackChunkDocs), not
    // with `source` cardinality — the 100× mega-partition guard
    val p = plan(PipelineOps.q73SequencePacking)
    assert("windowspecdefinition\\(source#\\d+, chunk#\\d+".r.findFirstIn(p).isDefined,
      s"packing window must partition by (source, chunk):\n$p")
    // ...and the only source-partitioned window is the metadata-sized
    // cumulative-offset one (input: one row per chunk)
    assert(!"windowspecdefinition\\(source#\\d+, doc_id#\\d+".r.findFirstIn(p).isDefined,
      s"doc-level window must not partition by source alone:\n$p")
    // q85: same two-level shape in rank space — row_number windows by
    // (source, lang, bucket), bucket = top hash bits (a sort-key prefix)
    val p85 = plan(PipelineOps.q85MixtureSample)
    assert("windowspecdefinition\\(source#\\d+, lang#\\d+, bucket#\\d+".r.findFirstIn(p85).isDefined,
      s"mixture rank window must partition by (source, lang, bucket):\n$p85")
  }

  test("q80: the z-value is a pure projection — no shuffle before the bucket agg") {
    val p = plan(StorageOps.q80ZorderLayout)
    assert(p.contains("partial_"), "bucket agg must partial-aggregate map-side")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"z-order report needs only the agg + sort exchanges:\n$p")
  }

  /** Whole-registry scale-invariant sweep: a regression that turns an
    * equi-join into a cartesian, or sneaks a nested-loop join onto a
    * non-broadcast path, or adds an unexpected shuffle stage, fails
    * `sbt test`. */
  test("registry sweep: no cartesians; BNLJ only on intended broadcast paths; bounded exchanges") {
    // tiny-broadcast-side nested loops that are BY DESIGN: scalar query
    // vector / query set (q27/q28/q29/q38) and the intentional cross
    // product (q37)
    val bnljAllowed = Set("q27_cosine_topk", "q28_ann_lsh", "q29_cosine_pairs",
      "q37_product", "q38_batch_ann", "q56_ann_ivf", "q62_quantized_ann",
      "q78_semantic_dedup", // q78: q56's broadcast 8-centroid assignment
      "q85_mixture_sample", // q85: 1-row min-domain scalar broadcast
      "q86_kmeans", // q86: k=8 centroid broadcast per assignment pass
      "q97_pq_ann", // q97: 1-row query-vector broadcast under the rerank
      "q105_basket_rules", // q105: 1-row order-count scalar broadcast
      "q118_skew_report", // q118: 1-row total-count scalar broadcast
      "q130_pmi_collocations", // q130: two 1-row totals (N tokens, B bigrams)
      "q132_heavy_hitters", // q132: 1-row token-total scalar broadcast
      "q258_cm_join_size", // q258: 1-row exact-count × 1-row sketch-min scalar cross
      "q262_bitmap_segments", // q262: 1-row URGENT-bitmap scalar broadcast
      "q269_hll_intersect", // q269: three 1-row estimate scalar crosses
      "q140_matryoshka_recall", // q140: bounded 20-row query-set broadcast (q38 shape)
      // q91: oracle-slice theta join (|Δlen| band + banded levenshtein);
      // the equi-bucketed shape for past-broadcast scale is q90
      "q91_editdist_sql",
      // q124: the model grid (256-token vocab × |langs| classes) and the
      // per-test-doc class fan-out are deliberate tiny-side broadcasts
      "q124_nb_classifier",
      // q150: the q29 oracle-slice all-pairs baseline feeding the density
      // counts (scale path = q68's bucketed pair source, see scaladoc)
      "q150_density_labels",
      // q152: 1-row corpus-watermark scalar broadcast
      "q152_decayed_engagement",
      // q139: 1-row (N docs, total tokens) stats broadcast
      "q139_bm25",
      // q153: 1-row probe-vector broadcast + the q139 stats broadcast
      "q153_rrf_fusion",
      // q154: per-FK-edge 1-row count × 1-row orphan-stats cross joins
      "q154_fk_orphans",
      // q157: per-round ≤k-center collect_list row broadcast (see scaladoc)
      "q157_kcenter_coreset",
      // q159: 1-row time-midpoint bounds + 1-row pooled-moments broadcasts
      "q159_cuped",
      // q164: 1-row total-count scalar broadcast (the q118 shape)
      "q164_benford_audit",
      // q165: bounded 20-row anchor-slice broadcast (the q38/q140 shape)
      "q165_triplet_mining",
      // q167: 1-row sample-size / boundary-array / total-count broadcasts
      "q167_range_boundary_audit",
      // q170: 1-row undirected-edge-count scalar broadcast
      "q170_modularity",
      // q191: 1-row user-count × 1-row percentile-summary cross join
      "q191_conversion_latency",
      // q198: 1-row corpus-max watermark broadcast (the q152 shape)
      "q198_rfm_segments",
      // q203: 1-row corpus-max watermark broadcast (the q152 shape)
      "q203_freshness_audit",
      // q217: 1-row corpus-count broadcast (the q118 shape)
      "q217_vocab_growth",
      // q218: 1-row (in_rows, Σf²) totals broadcast (the q118 shape)
      "q218_join_blowup",
      // q220: 1-row corpus-count + per-half-totals broadcasts (q118 shape)
      "q220_term_drift",
      // q223: per-round 1-row dangling-mass scalar broadcast (q118 shape)
      "q223_dangling_pagerank",
      // q226: 8-row centroid + 1-row query + 4-row rung broadcasts
      "q226_ivf_recall_sweep",
      // q227: 1-row item-count broadcast (q118 shape)
      "q227_negative_sampling",
      // q237: 1-row corpus-total broadcast (q118 shape)
      "q237_source_signature",
      // q231: the EXACT fallback pass broadcasts the metadata-sized
      // facility table over the (small) empty-ring point slice — the
      // q27 shape, by design
      "q231_nearest_facility")
    // exchange budgets ([[exchanges]]): 8 by default; a query with its
    // own budget states the structure that sets it.
    val exchangeBudget: String => Int = {
      // The dedup/cluster family reads session frames ([[SessionFrames]]):
      // shingles, signatures, candidate and verified pairs and the cluster
      // labels are each one cached scan, so only the query's own tail is
      // counted. Budgets are the measured count + 2 — room for one more
      // two-phase agg or spread, not for a stage rebuilt inline.
      // q24/q52/q87/q95/q142: the final ORDER BY over the cached pair
      // frame (1)
      case n if Seq("q24_", "q52_", "q87_", "q95_", "q142_").exists(n.startsWith) => 3
      // q53: component agg + sort (2); q71: + the canonical-doc broadcast
      // (3); q76: doc agg + sort + two new-batch broadcasts (4); q204: the
      // component agg, two cluster-size aggs and the global total (4);
      // q199: (src_a, src_b) agg + sort + one source-lookup broadcast per
      // pair endpoint (4)
      case n if Seq("q53_", "q71_", "q76_", "q199_", "q204_").exists(n.startsWith) => 6
      // q23: pair agg + sort, the shingle broadcast, and per pair side a
      // doc agg under a broadcast (7); q46/q54: the exact-dup text agg
      // under its keep-set broadcast, the near-dup keep-set broadcast,
      // two spread round-robins, the lang agg + sort (7)
      case n if Seq("q23_", "q46_", "q54_").exists(n.startsWith) => 9
      // q231: the ring probe (cell broadcast + per-point min agg) runs
      // twice — for the winners and under the fallback's anti join (two
      // event_id exchanges) — plus the brute-force facility broadcast and
      // the fid agg + sort (9)
      case n if n.startsWith("q231_") => 11
      // q93: short-bucket union + segment/probe join + distinct + two
      // text re-joins + DP repartition — candidate generation is wide by
      // design, every shuffled row is metadata-narrow
      case n if n.startsWith("q93") => 24
      // q269: three 256-row register estimates (one agg exchange each),
      // the full-outer register merge, and the exact-intersection rider
      // (two distincts + INTERSECT + agg) — every exchanged frame is
      // metadata-sized (≤256 register cells / ≤|users| ids); the count
      // is structural fan-out of inclusion-exclusion, not data volume
      case n if n.startsWith("q269") => 14
      // q275: four lattice levels rolled from one checkpointed register
      // frame (rollup + estimate agg per level, then the union sort) —
      // every exchanged frame is ≤ |types|·|weeks|·256 register cells
      case n if n.startsWith("q275") => 12
      // q277: q275's lattice shape with bitmaps — one checkpointed
      // finest-grain frame + three OR-merge rollups + union sort; every
      // exchanged frame is |types|·|weeks| 32 KB bitmaps
      case n if n.startsWith("q277") => 12
      // q77: 4 unrolled pagerank rounds, join+agg each; q78: assignment
      // window + per-cluster self join + two aggs; q148: 3 HITS rounds,
      // two join+agg passes each over checkpointed frames — all by design
      case n if n.startsWith("q77") || n.startsWith("q78") ||
        n.startsWith("q148") || n.startsWith("q156") ||
        n.startsWith("q223") => 16
      // q184: the distinct (order, part) lineage appears on BOTH sides of
      // the pair self-join and under both support joins — plan-text
      // duplication of one exchange; runtime reuses it via ReuseExchange
      case n if n.startsWith("q184") => 14
      // q194: the distinct trade-pair lineage repeats under the customer
      // AND supplier degree aggs (one extra counted exchange)
      case n if n.startsWith("q194") => 10
      // q85: the two-level rank adds the bucket-count agg + cumulative-
      // offset window exchanges — all over the metadata-sized bucket
      // frame (one row per (domain, bucket)), never the corpus
      case n if n.startsWith("q85") => 12
      // q105: the distinct (order, part) lineage appears on both self-
      // join sides and under the support agg — plan TEXT repeats it
      // (ReusedExchange collapses the identical subtrees at runtime);
      // every shuffled row is a ~16-byte (key, key) pair
      case n if n.startsWith("q105") => 16
      // q124: train/score are separate lineages over the same token
      // explode (vocab rank, per-class counts, totals, priors, hits,
      // per-doc argmax, confusion) — every exchange past the explode is
      // model-metadata-sized (≤ vocab × classes rows) or test-doc-keyed
      case n if n.startsWith("q124") => 24
      // q130: the unigram lineage feeds both the f1 and f2 joins and the
      // bigram lineage both big and its total — plan TEXT repeats the agg
      // subtrees (ReusedExchange collapses them at runtime); every
      // exchange is a token-keyed count table
      case n if n.startsWith("q130") => 16
      // q107: six union branches (one per profiled column), each a
      // single-column scan under a two-phase distinct agg — every
      // exchange carries one column's distinct values; the one-agg
      // alternative is a 7× Expand of the full-width scan
      case n if n.startsWith("q107") => 14
      // q150: the all-pairs neighbor relation feeds the count agg, the
      // core filter, and the border distinct — the pair lineage repeats
      // in plan text across those three consumers (metadata-sized rows;
      // the oracle-slice cap bounds the pair source itself)
      case n if n.startsWith("q150") => 16
      // q139: the single token explode feeds dl (2-phase agg), the stats
      // reduction, and the query-term tf/df chain — 10 exchanges of
      // token- or doc-keyed counts, none wider than the posting stream
      case n if n.startsWith("q139") => 10
      // q153: the full q139 lexical retriever plus the semantic rank
      // window and the 2·N-row fusion join — every exchange either one
      // of q139's or metadata-sized (rank lists)
      case n if n.startsWith("q153") => 16
      // q154: six independent FK-edge branches, each an anti join + two
      // 1-row aggregates — per-branch cost is key-only rows; branches
      // union without a barrier
      case n if n.startsWith("q154") => 40
      // q219: ten independent 1-row table-manifest branches (one
      // two-phase agg each) union without a barrier, plus the final sort
      case n if n.startsWith("q219") => 24
      // q217: the token explode feeds BOTH the per-doc count and the
      // first-appearance lineages (plan text repeats it; runtime reuses
      // the exchange) before the 10-row decile window + sort
      case n if n.startsWith("q217") => 12
      // q227: the distinct (user, item) positives lineage appears under
      // the kept-positives window, the user slice, AND the anti-join
      // right side (plan-text repeats; ReusedExchange at runtime) plus
      // the two per-user rank windows
      case n if n.startsWith("q227") => 16
      // q141: the QI record lineage feeds three class-size aggs plus the
      // record stream itself (plan TEXT repeats it; ReusedExchange
      // collapses at runtime) and the rung report ends in a two-phase
      // count-distinct — every exchange is class-metadata-sized or the
      // single record scan
      case n if n.startsWith("q141") => 10
      // q159: the per-user (x, y) reduction lineage feeds the pooled-
      // moments agg AND the arm agg (plan TEXT repeats it; ReusedExchange
      // collapses at runtime) — every exchange past the user reduction is
      // 1-row moments or 2-row arms
      case n if n.startsWith("q159") => 12
      // q170: the checkpointed label frame joins both edge endpoints and
      // the degree agg; internal/degree/community aggs stack on top —
      // every exchange is vertex- or label-keyed over the bounded graph
      case n if n.startsWith("q170") => 12
      // q172: the distinct (order, part) lineage appears on all three
      // self-join sides (the q105 text-duplication argument, one level
      // deeper) plus the frequent-pair lineage twice under the candidate
      // build — runtime reuses the exchanges
      case n if n.startsWith("q172") => 26
      // q258: two CMS builds (4-row salted union → 2048-cell agg, each a
      // partial+final pair), the cell-join, the per-key exact-count join
      // and two 1-row scalar aggs — every exchange past the two event
      // scans is sketch-cell- or scalar-sized
      case n if n.startsWith("q258") => 10
      // q167 (r12): the spread round-robin exchange under the lineitem
      // scan appears once per li reference (sample, assignment, count) in
      // plan text; runtime reuses one exchange (ReuseExchange)
      case n if n.startsWith("q167") => 12
      case _ => 8
    }
    SparkEntry.registry.foreach { q =>
      val df = q.run(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product")
      if (!bnljAllowed(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unintended nested-loop join")
      val n = exchanges(df)
      assert(n <= exchangeBudget(q.name),
        s"${q.name}: $n exchanges exceeds budget ${exchangeBudget(q.name)}")
    }
  }
}
