package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, SessionFrames, Tables}
import graft.functions.GraftFunctions

/** Record-linkage / fuzzy-matching operators over the documents corpus —
  * the entity-resolution layer of a training-data pipeline (merge crawls,
  * reconcile near-identical titles, collapse transposition typos).
  * Both queries run the classic SORTED-NEIGHBORHOOD method [Hernandez &
  * Stolfo 1995]: block records, sort within the block, and compare each
  * record only to its W nearest sorted neighbors — O(N·W) comparisons
  * instead of the naive O(N²), the same candidate-bounding idea as the
  * MinHash bands in [[DedupOps]] but for ordered lexicographic keys.
  *
  * The similarity kernels are native codegen'd Catalyst expressions
  * ([[graft.functions.StringSim]]) with DuckDB-compatible semantics, so
  * the oracle compares real values, not a reimplementation of itself.
  *
  * Plan shape at 100 TB: one exchange on the block key feeds the
  * per-block sort (a WindowExec partitioned by block — no global sort,
  * no single-partition window); the neighbor pairing is an EQUI-join on
  * (block, rn) reusing that partitioning, with the neighbor offset
  * exploded on the probe side (W small constant). Similarity runs
  * post-join inside whole-stage codegen. Block skew = the usual salting
  * story; the 2-char prefix block keeps blocks ~|corpus|/1300.
  */
object LinkageOps {

  private val Window_W = 3 // sorted-neighborhood width

  /** doc_id + lowercased 40-char title + 2-char block + per-block rank.
    * Materialized (r12): both consumers self-join it (probe + neighbor
    * side), and each side re-derived the scan + ranking window in the
    * physical plan. r13: a [[graft.SessionFrames]] frame instead of
    * per-query localCheckpoint'd — q135 and q136 each re-ran the
    * identical scan+window per run. */
  private def ranked(s: org.apache.spark.sql.SparkSession, d: String) =
    SessionFrames.frame(s, ("ranked", d)) {
      Tables.documents(s, d)
        .select(col("doc_id"), lower(substring(col("text"), 1, 40)).as("title"))
        .withColumn("block", substring(col("title"), 1, 2))
        .withColumn("rn",
          row_number().over(Window.partitionBy("block").orderBy("title", "doc_id")))
    }

  /** q135: sorted-neighborhood title linkage under Jaro-Winkler ≥ 0.85.
    * Surfaces the planted near-duplicate docs (their 40-char prefixes
    * survive the edit noise) plus high-prefix-affinity accidental pairs;
    * the 0.85 cut sits in a verified gap of the score distribution (no
    * value within 1e-6 at sf0.01/sf0.1, so float-ulp drift cannot move a
    * row across the threshold). */
  val q135JaroLinkage = QueryDef(
    "q135_jaro_linkage",
    (s, d) => {
      val r = ranked(s, d)
      val right = r.select(col("block"), col("rn").as("rn2"),
        col("title").as("title2"), col("doc_id").as("doc2"))
      r.withColumn("k", explode(typedLit((1 to Window_W).toArray)))
        .withColumn("rn2", col("rn") + col("k"))
        .join(right, Seq("block", "rn2"))
        .withColumn("jw", round(GraftFunctions.jaroWinkler(col("title"), col("title2")), 6))
        .filter(col("jw") >= 0.85)
        .select(col("doc_id").as("doc1"), col("doc2"),
          col("title").as("title1"), col("title2"), col("jw"))
        .orderBy("doc1", "doc2")
    },
    Some(s"""WITH t AS (
           |  SELECT doc_id, lower(substr(text, 1, 40)) AS title FROM documents),
           |ranked AS (
           |  SELECT doc_id, title, substr(title, 1, 2) AS block,
           |    row_number() OVER (PARTITION BY substr(title, 1, 2)
           |                       ORDER BY title, doc_id) AS rn
           |  FROM t)
           |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           |  a.title AS title1, b.title AS title2,
           |  round(jaro_winkler_similarity(a.title, b.title), 6) AS jw
           |FROM ranked a JOIN ranked b
           |  ON a.block = b.block AND b.rn BETWEEN a.rn + 1 AND a.rn + $Window_W
           |WHERE round(jaro_winkler_similarity(a.title, b.title), 6) >= 0.85
           |ORDER BY doc1, doc2""".stripMargin)
  )

  /** q136: transposition-sensitive pairs — sorted-neighborhood candidates
    * where the UNRESTRICTED Damerau-Levenshtein distance is strictly
    * below plain Levenshtein, i.e. adjacent-swap typos ("teh"→"the")
    * that substitution-only edit models overcount. Integer distances →
    * exact oracle compare, which pins the Lowrance-Wagner semantics
    * (dl("ca","abc") = 2, not OSA's 3) against DuckDB's built-in. */
  val q136DamerauPairs = QueryDef(
    "q136_damerau_pairs",
    (s, d) => {
      val r = ranked(s, d)
      val right = r.select(col("block"), col("rn").as("rn2"),
        col("title").as("title2"), col("doc_id").as("doc2"))
      r.withColumn("k", explode(typedLit((1 to Window_W).toArray)))
        .withColumn("rn2", col("rn") + col("k"))
        .join(right, Seq("block", "rn2"))
        .withColumn("dl", GraftFunctions.damerauLevenshtein(col("title"), col("title2")))
        .withColumn("lv", levenshtein(col("title"), col("title2")))
        .filter(col("dl") < col("lv"))
        .select(col("doc_id").as("doc1"), col("doc2"), col("dl"), col("lv"))
        .orderBy("doc1", "doc2")
    },
    Some(s"""WITH t AS (
           |  SELECT doc_id, lower(substr(text, 1, 40)) AS title FROM documents),
           |ranked AS (
           |  SELECT doc_id, title, substr(title, 1, 2) AS block,
           |    row_number() OVER (PARTITION BY substr(title, 1, 2)
           |                       ORDER BY title, doc_id) AS rn
           |  FROM t)
           |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           |  CAST(damerau_levenshtein(a.title, b.title) AS INTEGER) AS dl,
           |  CAST(levenshtein(a.title, b.title) AS INTEGER) AS lv
           |FROM ranked a JOIN ranked b
           |  ON a.block = b.block AND b.rn BETWEEN a.rn + 1 AND a.rn + $Window_W
           |WHERE damerau_levenshtein(a.title, b.title) < levenshtein(a.title, b.title)
           |ORDER BY doc1, doc2""".stripMargin)
  )

  /** q173: golden-record survivorship — the CONSTRUCTION step after
    * matching (q135/q136 find duplicate pairs; q44/q71 cluster them):
    * collapse each duplicate cluster into ONE canonical record with
    * per-field survivorship rules, the way an MDM system builds its
    * master table. Clusters are simulated deterministically
    * (entity = custkey DIV 3) with field conflicts injected per member
    * (name suffixes of different lengths), so every rule is exercised:
    *   - name: LONGEST value (tie → lexicographic min) — completeness
    *   - balance: MAX cents — greatest-value
    *   - segment, nation: from the most RECENT record (max custkey) —
    *     recency
    * plus member count as lineage.
    *
    * Plan shape at 100 TB: ONE entity-keyed hash agg — every rule is a
    * mergeable struct-extremum (the q119 argmax idiom: min/max over
    * (sort-key, payload) structs with full map-side partials), so ≤ 1
    * candidate per entity per partition crosses the exchange; no
    * window, no sort of the record stream. The oracle states the same
    * rules as per-field row_number windows — plan-different,
    * result-identical. */
  val q173GoldenRecord = QueryDef(
    "q173_golden_record",
    (s, d) => {
      val dirty = Tables.customer(s, d)
        .select(expr("c_custkey DIV 3").as("entity"), col("c_custkey"),
          concat(col("c_name"),
            expr("CASE c_custkey % 3 WHEN 1 THEN ' inc' WHEN 2 THEN ' incorporated' ELSE '' END"))
            .as("name"),
          floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"),
          col("c_mktsegment"), col("c_nationkey").cast("long").as("nation"))
      dirty.groupBy("entity")
        .agg(count(lit(1)).as("n_records"),
          min(struct((-length(col("name"))).as("nl"), col("name").as("nv")))
            .getField("nv").as("name"),
          max(col("cents")).as("cents"),
          max(struct(col("c_custkey").as("ck"), col("c_mktsegment").as("av"),
            col("nation").as("nv"))).as("latest"))
        .select(col("entity"), col("n_records"), col("name"), col("cents"),
          col("latest.av").as("segment"), col("latest.nv").as("nationkey"))
        .orderBy("entity")
    },
    Some("""WITH dirty AS (
           |  SELECT c_custkey // 3 AS entity, c_custkey,
           |    c_name || CASE c_custkey % 3 WHEN 1 THEN ' inc'
           |              WHEN 2 THEN ' incorporated' ELSE '' END AS name,
           |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents,
           |    c_mktsegment, CAST(c_nationkey AS BIGINT) AS nation
           |  FROM customer),
           |nm AS (
           |  SELECT entity, name, row_number() OVER (PARTITION BY entity
           |    ORDER BY length(name) DESC, name ASC) AS rn
           |  FROM dirty),
           |lt AS (
           |  SELECT entity, c_mktsegment, nation, row_number() OVER (
           |    PARTITION BY entity ORDER BY c_custkey DESC) AS rn
           |  FROM dirty),
           |ag AS (
           |  SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_records,
           |    CAST(MAX(cents) AS BIGINT) AS cents
           |  FROM dirty GROUP BY entity)
           |SELECT entity, n_records, nm.name, cents,
           |  lt.c_mktsegment AS segment, lt.nation AS nationkey
           |FROM ag JOIN nm USING (entity) JOIN lt USING (entity)
           |WHERE nm.rn = 1 AND lt.rn = 1
           |ORDER BY entity""".stripMargin)
  )

  def all: Seq[QueryDef] = Seq(q135JaroLinkage, q136DamerauPairs, q173GoldenRecord)
}
