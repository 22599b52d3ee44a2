package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Corpus-assembly operators — the stage between "cleaned documents" and
  * "training batches" that every large-scale LLM data pipeline runs after
  * dedup/filtering (no analog in the reference, which stops at
  * collection-level transforms, core.py:34-220; extension tier §2.5):
  * sequence packing, span-level dedup, quality-rule filtering, and
  * incremental (new-batch-vs-corpus) near-dup ingestion.
  *
  * Scale notes: everything here is either a per-row projection (codegen'd
  * higher-order array functions, no UDFs), a window partitioned by a
  * bounded key (source shard / chunk digest), or a hash agg — no global
  * single-partition windows, no driver-side state. The only shuffled
  * payloads are token-span strings (bounded at 8 tokens) and per-doc
  * counters, never full documents.
  */
object PipelineOps {

  import TextOps.tokens

  /** Tokens-per-sequence budget for q73. Real pipelines use the model's
    * context length (2k/8k/...); 512 keeps ~10 synthetic docs per sequence
    * at every sf so the output exercises multi-doc packing. */
  val PackBudget = 512

  /** Docs per prefix-sum chunk for q73's two-level running sum. The
    * doc-level WindowExec partitions on `(source, doc_id div this)`, so
    * the number of window partitions grows linearly with the corpus while
    * each stays a bounded ~4k rows — a `source` key with billions of docs
    * never becomes one mega-partition. Small enough to exercise multiple
    * chunks per source even at sf0.001 (~1000 docs). */
  val PackChunkDocs = 256L

  /** Rank-hash buckets per domain for q85's two-level rank — the fanout
    * that divides each `(source, lang)` domain's ranking window. 256 (top
    * 8 hash bits) caps a domain's largest window partition at ~n/256; at
    * genuinely 100 TB scale raise to 2^16 — the construction is
    * bit-width-agnostic because the bucket is a PREFIX of the sort key. */
  val MixtureRankBuckets = 256L

  /** q73: sequence packing — GPT-style contiguous packing of documents
    * into fixed token-budget training sequences, sharded by `source`:
    * within each source shard, docs are concatenated in doc_id order and
    * a document belongs to the sequence its first token lands in
    * (`(running - n_tokens) div budget`). Per (source, seq) the report
    * gives doc count, packed tokens and the id span.
    *
    * Plan shape at 100 TB — the classic TWO-LEVEL prefix sum: the
    * doc-level window partitions by `(source, chunk)` where
    * `chunk = doc_id div [[PackChunkDocs]]`, so window-partition count
    * scales with the DATA, not with `source` cardinality (a handful of
    * mega-sources would otherwise each funnel through one WindowExec
    * partition). Chunk token totals are one hash agg; the cumulative
    * chunk offset is a window over that metadata-sized frame (one row
    * per chunk) broadcast-joined back onto the docs. `local running +
    * chunk offset` equals the single-window running sum EXACTLY (integer
    * sums) — same results, same oracle, scale-safe plan. */
  val q73SequencePacking = QueryDef(
    "q73_sequence_packing",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("chunk", expr(s"doc_id div $PackChunkDocs"))
      val wChunk = Window.partitionBy("source", "chunk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // per-chunk totals → exclusive cumulative offset per (source, chunk);
      // one row per chunk, so this window runs over metadata, not docs
      val wOff = Window.partitionBy("source").orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy("source", "chunk")
        .agg(sum(col("n_tokens")).as("chunk_total"))
        .withColumn("offset", coalesce(sum(col("chunk_total")).over(wOff), lit(0L)))
        .select("source", "chunk", "offset")
      base
        .withColumn("local_run", sum(col("n_tokens")).over(wChunk))
        .join(broadcast(offsets), Seq("source", "chunk"))
        .withColumn("running", col("local_run") + col("offset"))
        .withColumn("seq_id", expr(s"(running - n_tokens) div $PackBudget"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_packed"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "seq_id")
    },
    Some(s"""WITH t AS (
           |  SELECT source, doc_id,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |r AS (
           |  SELECT source, doc_id, n_tokens,
           |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
           |  FROM t)
           |SELECT source, CAST((running - n_tokens) // $PackBudget AS BIGINT) AS seq_id,
           |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_packed,
           |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           |FROM r GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin)
  )

  /** Span width (tokens) for q74's span-level dedup. */
  val SpanTokens = 8

  /** q74: span-level exact dedup (the C4 rule, token-span form — this
    * corpus has no sentence boundaries, so the unit is a fixed 8-token
    * span): every document is cut into consecutive 8-token spans, each
    * span is kept only at its FIRST corpus occurrence (lowest (doc_id,
    * pos)), and documents are reassembled from their surviving spans.
    *
    * Plan shape at 100 TB: spans explode to ~n_tokens/8 rows per doc; the
    * keep-first rule is one window partitioned by the span's 128-bit md5
    * (bounded ~40-byte shuffle rows — the digest/pos/ids, never the
    * document), and reassembly is one hash agg back on doc_id. Two
    * shuffles total, both on keys that grow linearly with the corpus. */
  /** The q74 engine on any (doc_id, text) frame: per doc — total spans,
    * surviving (corpus-first-occurrence) spans, and the reassembled text.
    * Exposed for the [[graft.Scale]] `span` phase. */
  def spanDedup(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // zero-token guard: sequence(0, floor(-1/8)) would yield a DESCENDING
    // [0,-1] — two phantom empty spans — where the oracle's range(0,0) is
    // empty; emit an empty array so posexplode drops the doc on both sides
    val spans = docs
      .select(col("doc_id"), TextOps.bind(tokens(col("text")), t =>
        when(size(t) > 0,
          transform(sequence(lit(0), floor((size(t) - lit(1)) / lit(SpanTokens)).cast(IntegerType)),
            i => array_join(slice(t, i * SpanTokens + 1, lit(SpanTokens)), " ")))
          .otherwise(array().cast(ArrayType(StringType)))).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
    val w = Window.partitionBy(md5(col("span"))).orderBy("doc_id", "pos")
    spans.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1, struct(col("pos"), col("span"))))),
          x => x.getField("span")), " ").as("retained_text"))
      .orderBy("doc_id")
  }

  val q74SpanDedup = QueryDef(
    "q74_span_dedup",
    (s, d) => spanDedup(Tables.documents(s, d)),
    Some(s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |  FROM documents),
           |ix AS (
           |  SELECT doc_id, toks,
           |    unnest(range(0, ((len(toks) - 1) // $SpanTokens) + 1)) AS pos
           |  FROM t),
           |sp AS (
           |  SELECT doc_id, pos,
           |    array_to_string(toks[(pos * $SpanTokens + 1):(pos * $SpanTokens + $SpanTokens)], ' ') AS span
           |  FROM ix),
           |rk AS (
           |  SELECT doc_id, pos, span,
           |    row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, pos) AS rn
           |  FROM sp)
           |SELECT doc_id, COUNT(*) AS n_spans,
           |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos), '') AS retained_text
           |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** q75: quality-rule filtering (the Gopher/FineWeb rule battery,
    * integer-exact): per document five keep/drop rules —
    *   r_len      ≥ 20 tokens,
    *   r_wordlen  mean token length in [4.0, 5.0] (10·Σlen vs 40n..50n),
    *   r_repeat   most-common token ≤ 20% of tokens (5·maxrep ≤ n),
    *   r_distinct distinct-token ratio ≥ 40% (5·ndist ≥ 2n),
    *   r_stop     ≥ 1 stopword —
    * aggregated per source: docs, kept, and a failure count per rule (the
    * per-rule drop-reason report data curators actually read). All rules
    * are integer cross-multiplications — no doubles, so Spark and DuckDB
    * agree bit-for-bit.
    *
    * Plan shape at 100 TB: one codegen'd projection (the per-row rule
    * evaluation — `maxrep` is O(distinct·n) per row on arrays already in
    * memory, no shuffle) and one partial-agg'd hash agg on `source`. */
  val q75QualityRules = QueryDef(
    "q75_quality_rules",
    (s, d) => {
      val stops = Seq("the", "a", "of", "and", "in", "to", "is")
      val scored = Tables.documents(s, d).select(col("source"),
        TextOps.bind(tokens(col("text")), { t =>
          val n = size(t).cast(LongType)
          val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
          val ndist = size(array_distinct(t)).cast(LongType)
          val maxrep = array_max(transform(array_distinct(t),
            u => size(filter(t, x => x === u)))).cast(LongType)
          val nstop = size(filter(t, x => x.isin(stops: _*))).cast(LongType)
          struct(
            (n >= 20).as("r_len"),
            (sumLen * 10 >= n * 40 && sumLen * 10 <= n * 50).as("r_wordlen"),
            (maxrep * 5 <= n).as("r_repeat"),
            (ndist * 5 >= n * 2).as("r_distinct"),
            (nstop >= 1).as("r_stop"))
        }).as("r"))
      def fails(rule: String) = sum(when(col(s"r.$rule"), 0L).otherwise(1L)).as(s"fail_$rule")
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("r.r_len") && col("r.r_wordlen") && col("r.r_repeat") &&
            col("r.r_distinct") && col("r.r_stop"), 1L).otherwise(0L)).as("n_kept"),
          fails("r_len"), fails("r_wordlen"), fails("r_repeat"),
          fails("r_distinct"), fails("r_stop"))
        .orderBy("source")
    },
    Some("""WITH t AS (
           |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |  FROM documents),
           |s AS (
           |  SELECT source,
           |    CAST(len(toks) AS BIGINT) AS n,
           |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sumlen,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
           |    CAST(list_max(list_transform(list_distinct(toks),
           |      u -> len(list_filter(toks, x -> x = u)))) AS BIGINT) AS maxrep,
           |    CAST(len(list_filter(toks,
           |      x -> x IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS nstop
           |  FROM t),
           |r AS (
           |  SELECT source,
           |    n >= 20 AS r_len,
           |    sumlen * 10 >= n * 40 AND sumlen * 10 <= n * 50 AS r_wordlen,
           |    maxrep * 5 <= n AS r_repeat,
           |    ndist * 5 >= n * 2 AS r_distinct,
           |    nstop >= 1 AS r_stop
           |  FROM s)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN r_len AND r_wordlen AND r_repeat AND r_distinct AND r_stop
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN r_len THEN 0 ELSE 1 END) AS BIGINT) AS fail_r_len,
           |  CAST(SUM(CASE WHEN r_wordlen THEN 0 ELSE 1 END) AS BIGINT) AS fail_r_wordlen,
           |  CAST(SUM(CASE WHEN r_repeat THEN 0 ELSE 1 END) AS BIGINT) AS fail_r_repeat,
           |  CAST(SUM(CASE WHEN r_distinct THEN 0 ELSE 1 END) AS BIGINT) AS fail_r_distinct,
           |  CAST(SUM(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT) AS fail_r_stop
           |FROM r GROUP BY source ORDER BY source""".stripMargin)
  )

  /** q76: incremental near-dup ingestion — the production "new crawl
    * arrives" operator: treat `source = 'src0'` documents as the incoming
    * batch and everything else as the standing corpus, and decide per
    * batch doc whether it survives ingestion against the verified near-dup
    * pair set (Jaccard ≥ 0.6, the q24 edges): a batch doc is dropped if it
    * near-dups ANY corpus doc, or an EARLIER (lower doc_id) batch doc.
    *
    * Consumes the same session-cached pair frame as q24/q44/q46 — the
    * incremental decision is metadata-sized joins over the pair list, the
    * corpus is never rescanned. At 100 TB the batch's signatures are
    * banded against the standing corpus' stored band index (append-only),
    * which is exactly the cached-frame shape this query reuses. */
  val q76IncrementalDedup = QueryDef(
    "q76_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < DedupOps.OracleCap)
        .select(col("doc_id"), col("source"))
      val pairs = DedupOps.verifiedPairs(s, d, DedupOps.OracleCap)
      // near-dup adjacency in both directions, labeled by each side's source
      val adj = pairs.select(col("d1").as("doc_id"), col("d2").as("peer"))
        .union(pairs.select(col("d2").as("doc_id"), col("d1").as("peer")))
      val peerSrc = docs.select(col("doc_id").as("peer"), col("source").as("peer_source"))
      val batch = docs.filter(col("source") === "src0")
      batch.join(adj, Seq("doc_id"), "left_outer")
        .join(peerSrc, Seq("peer"), "left_outer")
        .groupBy("doc_id")
        .agg(
          sum(when(col("peer_source").isNotNull && col("peer_source") =!= "src0", 1L)
            .otherwise(0L)).as("n_corpus_dups"),
          sum(when(col("peer_source") === "src0" && col("peer") < col("doc_id"), 1L)
            .otherwise(0L)).as("n_earlier_batch_dups"))
        .withColumn("ingest",
          (col("n_corpus_dups") === 0 && col("n_earlier_batch_dups") === 0).cast(BooleanType))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.pairsCtes(capped = true, tenths = 6)},
           |docs AS (SELECT doc_id, source FROM documents WHERE doc_id < 500),
           |adj AS (
           |  SELECT d1 AS doc_id, d2 AS peer FROM pairs
           |  UNION ALL SELECT d2 AS doc_id, d1 AS peer FROM pairs),
           |lab AS (
           |  SELECT b.doc_id,
           |    CAST(SUM(CASE WHEN p.source IS NOT NULL AND p.source <> 'src0'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus_dups,
           |    CAST(SUM(CASE WHEN p.source = 'src0' AND a.peer < b.doc_id
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_earlier_batch_dups
           |  FROM docs b
           |  LEFT JOIN adj a ON a.doc_id = b.doc_id
           |  LEFT JOIN docs p ON p.doc_id = a.peer
           |  WHERE b.source = 'src0'
           |  GROUP BY b.doc_id)
           |SELECT doc_id, n_corpus_dups, n_earlier_batch_dups,
           |  n_corpus_dups = 0 AND n_earlier_batch_dups = 0 AS ingest
           |FROM lab ORDER BY doc_id""".stripMargin)
  )

  /** q85: temperature-flattened mixture SAMPLING — the action for q72's
    * mixture report: per (source, lang) domain, downsample toward the
    * sqrt-flattened distribution (quota_d = ⌈√(n_d · min_n)⌉, the
    * geometric mean of the domain's count and the smallest domain's — the
    * T=2 temperature rule: head domains shrink, the tail is kept whole)
    * and select each domain's quota by the q63 hash-rank (engine- and
    * retry-stable, no rand()). Output: per-domain docs/quota/kept-token
    * budget — the sampled corpus manifest.
    *
    * Determinism note: the one non-integer step, ⌈√(n·min)⌉, is safe
    * cross-engine — IEEE sqrt is correctly rounded in both JVM and
    * DuckDB, and at these magnitudes the true root is never within an
    * ulp of an integer unless the product is a perfect square (where
    * sqrt is exact).
    *
    * Plan shape at 100 TB — TWO-LEVEL rank (the q73 prefix-sum trick in
    * rank space): the per-domain hash-rank `rn` is NOT one window per
    * `(source, lang)` domain (single-digit domain cardinality → mega
    * partitions at 100×). Instead docs bucket by the top
    * log2([[MixtureRankBuckets]]) bits of the 60-bit rank hash — a
    * prefix of the sort key, so bucket order IS rank order — the
    * row_number window partitions by `(domain, bucket)` (partition count
    * and size now scale with the data; raise the bucket-bit knob as the
    * corpus grows), and the global rank is `within-bucket rank +
    * exclusive cumulative count of earlier buckets` (a window over the
    * metadata-sized bucket-count frame, broadcast-joined back). Equal to
    * the one-window rank EXACTLY, so the oracle is unchanged. */
  val q85MixtureSample = QueryDef(
    "q85_mixture_sample",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      val dom = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
      val minN = dom.agg(min(col("n_docs")).as("min_n"))
      val quotas = dom.crossJoin(broadcast(minN))
        .select(col("source"), col("lang"), col("n_docs"),
          least(col("n_docs"),
            ceil(sqrt(col("n_docs").cast(DoubleType) * col("min_n"))).cast(LongType))
            .as("quota"))
      val rankHash = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      // top bits of the 60-bit hash: a PREFIX of the (rank_hash, doc_id)
      // sort key, so ranking within buckets then offsetting by earlier
      // buckets' counts reproduces the global per-domain rank exactly
      val keyed = docs.withColumn("rank_hash", rankHash)
        .withColumn("bucket", expr(s"rank_hash div ${(1L << 60) / MixtureRankBuckets}"))
      val wB = Window.partitionBy("source", "lang", "bucket")
        .orderBy(col("rank_hash").asc, col("doc_id").asc)
      val wOff = Window.partitionBy("source", "lang").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy("source", "lang", "bucket")
        .agg(count(lit(1)).as("bucket_n"))
        .withColumn("offset", coalesce(sum(col("bucket_n")).over(wOff), lit(0L)))
        .select("source", "lang", "bucket", "offset")
      keyed.withColumn("rn_bucket", row_number().over(wB))
        .join(broadcast(offsets), Seq("source", "lang", "bucket"))
        .withColumn("rn", col("offset") + col("rn_bucket"))
        .join(broadcast(quotas), Seq("source", "lang"))
        .groupBy("source", "lang")
        .agg(max(col("n_docs")).as("n_docs"), max(col("quota")).as("quota"),
          sum(when(col("rn") <= col("quota"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("source", "lang")
    },
    Some("""WITH t AS (
           |  SELECT source, lang, doc_id,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |dom AS (SELECT source, lang, COUNT(*) AS n_docs FROM t GROUP BY source, lang),
           |q AS (
           |  SELECT source, lang, n_docs,
           |    LEAST(n_docs, CAST(ceil(sqrt(CAST(n_docs AS DOUBLE)
           |      * (SELECT MIN(n_docs) FROM dom))) AS BIGINT)) AS quota
           |  FROM dom),
           |r AS (
           |  SELECT source, lang, doc_id, n_tokens,
           |    row_number() OVER (PARTITION BY source, lang
           |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
           |        doc_id) AS rn
           |  FROM t)
           |SELECT q.source, q.lang, q.n_docs, q.quota,
           |  CAST(SUM(CASE WHEN r.rn <= q.quota THEN r.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
           |FROM r JOIN q USING (source, lang)
           |GROUP BY q.source, q.lang, q.n_docs, q.quota
           |ORDER BY q.source, q.lang""".stripMargin)
  )

  /** q92: WEIGHTED sampling without replacement (Efraimidis–Spirakis
    * A-ES), completing the sampling family — uniform hash (q58),
    * stratified (q63), temperature-flattened mixture (q85), and now
    * per-item importance weights: each doc gets key `−ln(u)/w` with `u`
    * a deterministic md5-derived uniform and `w` its token count; the
    * k smallest keys are EXACTLY a without-replacement sample where
    * inclusion probability tracks weight (token-uniform document
    * sampling — a 100-token doc is 100× a 1-token doc). One pass, no
    * rand(): retry/engine-stable like q58/q63/q85.
    *
    * Plan shape at 100 TB: key is a per-row projection; selection is
    * TakeOrderedAndProject (per-partition top-k, k-sized merge at the
    * driver) — no global sort, no shuffle of the corpus.
    *
    * Determinism note (mirrors q85's sqrt): `ln` may differ by an ulp
    * between JVM and DuckDB libm, which can only matter if the k-th and
    * (k+1)-th keys coincide to ~1e-15 relative — probability ~k·2⁻⁵²
    * on a continuous key distribution. The md5→uniform mapping itself is
    * exact in both engines: the 60-bit hash → double rounding is IEEE
    * round-to-nearest in both, `+1` absorbs identically. Output columns
    * are integers only; the float key never reaches the hash compare. */
  val q92WeightedSample = QueryDef(
    "q92_weighted_sample",
    (s, d) => {
      val k = 100
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          greatest(size(tokens(col("text"))).cast(LongType), lit(1L)).as("w"))
      // +1 in INTEGER space, then one int→double rounding — the same
      // order DuckDB evaluates `(ubigint + 1) / double`, so u is
      // bit-identical cross-engine (a double `+1.0` after the cast would
      // be absorbed above 2^53 and diverge on ~0.4% of rows)
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val u = (h + lit(1L)).cast(DoubleType) / lit(1152921504606846976.0d) // 16^15 = 2^60
      docs.select(col("doc_id"), col("source"), col("w"),
          (-log(u) / col("w").cast(DoubleType)).as("key"))
        .orderBy(col("key").asc, col("doc_id").asc)
        .limit(k)
        .select("doc_id", "source", "w")
        .orderBy("doc_id")
    },
    Some("""WITH keyed AS (
           |  SELECT doc_id, source,
           |    GREATEST(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT), 1) AS w
           |  FROM documents),
           |sampled AS (
           |  SELECT doc_id, source, w
           |  FROM keyed
           |  ORDER BY -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) + 1)
           |      / 1152921504606846976.0) / CAST(w AS DOUBLE) ASC,
           |    doc_id ASC
           |  LIMIT 100)
           |SELECT doc_id, source, w FROM sampled ORDER BY doc_id""".stripMargin)
  )

  /** Chunk geometry for q99: context-window size and stride in tokens.
    * Stride < size ⇒ consecutive chunks overlap by `ChunkSize −
    * ChunkStride` tokens — the standard sliding-context preparation for
    * long documents (every token appears in ≥1 chunk; boundary tokens
    * appear in 2). Sized so the synthetic docs produce a mix of 1- and
    * multi-chunk outputs at every sf. */
  val ChunkSize = 32
  val ChunkStride = 24

  /** q99: overlapping context-window CHUNKING — the other half of corpus
    * assembly next to q73: packing joins SHORT docs into full sequences;
    * chunking splits LONG docs into overlapping context windows (the
    * sliding-window preparation used when a document exceeds the model
    * context). Chunk count per doc is `1 + ⌈(n − size)/stride⌉` (clamped
    * at 1), so the final chunk always covers the tail and every token is
    * seen.
    *
    * Exactness across engines: chunk counts are guarded integer
    * arithmetic — the `n > size` CASE keeps the ceil-div numerator
    * positive, where DuckDB's floor-`//` and Spark's trunc-`div` agree
    * (the q86 discipline) — and chunk content is compared by md5 digest
    * of the space-rejoined token slice, not by raw text. Zero-token docs
    * produce NO rows on both sides (explicit `size > 0` filter mirroring
    * DuckDB's empty `range` — the q74 empty-doc lesson).
    *
    * Plan shape at 100 TB: one narrow projection per doc (tokenize,
    * count, chunk-count), one generator (posexplode of the chunk index
    * sequence), one narrow digest projection — NO shuffle before the
    * presentation sort; chunks inherit the scan's partitioning. */
  val q99ChunkOverlap = QueryDef(
    "q99_chunk_overlap",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        .withColumn("n_chunks", // n > size keeps the numerator positive ⇒ DIV ≡ floor
          expr(s"1 + (CASE WHEN n > $ChunkSize" +
            s" THEN (n - $ChunkSize + ${ChunkStride - 1}) DIV $ChunkStride" +
            " ELSE 0 END)"))
      t.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("n_chunks") - 1)).as("k"))
        .select(col("doc_id"), col("k").cast(LongType).as("chunk_id"),
          slice(col("toks"), col("k") * ChunkStride + 1, lit(ChunkSize)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast(LongType).as("n_tok"),
          md5(concat_ws(" ", col("chunk"))).as("digest"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |  FROM documents),
           |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
           |c AS (SELECT doc_id, toks,
           |  1 + CASE WHEN n > $ChunkSize
           |        THEN (n - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride
           |        ELSE 0 END AS n_chunks FROM n),
           |x AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS k FROM c)
           |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           |  CAST(len(list_slice(toks, k * $ChunkStride + 1,
           |    k * $ChunkStride + $ChunkSize)) AS BIGINT) AS n_tok,
           |  md5(array_to_string(list_slice(toks, k * $ChunkStride + 1,
           |    k * $ChunkStride + $ChunkSize), ' ')) AS digest
           |FROM x ORDER BY doc_id, chunk_id""".stripMargin)
  )

  /** Character k-gram width for q138's exact substring dedup. */
  val SubstrK = 40

  /** q138: exact duplicated-substring report — the character-level
    * complement of q74's span dedup, after Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * PAPERS.md): find every maximal substring of length ≥ K that occurs
    * more than once in the corpus, and report per document how many such
    * spans it carries and how many characters they cover.
    *
    * The suffix-array construction of the paper is replaced by the
    * Spark-native equivalent: every position's K-char gram is exploded,
    * grams occurring >1× corpus-wide flag their positions (one hash agg
    * keyed by gram — the dedup shuffle), and runs of consecutive flagged
    * positions merge into maximal spans with the islands-and-gaps window
    * per doc (a position run i..j of K-grams covers exactly j-i+K chars).
    * A length-K+ duplicated substring flags ALL its K-gram positions, so
    * merged islands are precisely the maximal duplicated regions.
    *
    * Plan shape at 100 TB: the gram explode is a ×(len-K) row blowup but
    * each row is ~50 bytes; the duplicate flag is ONE count-over-window
    * keyed by the gram — a single exchange of the gram stream, where the
    * agg-then-self-semi-join formulation shuffled the same stream twice
    * AND recomputed the explode lineage on both sides (measured 2.6×
    * slower warm at sf0.1: 7.9 s → 3.1 s). At scale the window key would be
    * xxhash64(gram) (8-byte shuffle rows, collision-negligible proposal
    * + exact rescan of flagged grams only, the q132 sketch-proposes/
    * rescan-disposes discipline). Islands re-shuffle only FLAGGED
    * positions, keyed by doc. */
  /** The q138 engine on any (doc_id, text) frame — exposed for the
    * [[graft.Scale]] `sub` phase. */
  def substringDedup(docsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val K = SubstrK
    val docs = docsIn
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val grams = docs.filter(col("len") >= K)
      .withColumn("i", explode(sequence(lit(1), col("len") - K + 1)))
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, i, $K)").as("gram"))
    val flagged = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("c") > 1)
    val spans = flagged
      .withColumn("grp",
        col("i") - row_number().over(Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id", "grp")
      .agg((max(col("i")) - min(col("i")) + K).as("span_chars"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_chars")).cast(LongType).as("dup_chars"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .orderBy("doc_id")
  }

  val q138SubstringDedup = QueryDef(
    "q138_substring_dedup",
    (s, d) => substringDedup(Tables.spread(Tables.documents(s, d))),
    Some(s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
           |ix AS (
           |  SELECT doc_id, text, unnest(range(1, len - $SubstrK + 2)) AS i
           |  FROM d WHERE len >= $SubstrK),
           |grams AS (
           |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), $SubstrK) AS gram
           |  FROM ix),
           |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
           |flagged AS (
           |  SELECT doc_id, i FROM grams WHERE gram IN (SELECT gram FROM dup)),
           |isl AS (
           |  SELECT doc_id, i,
           |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
           |  FROM flagged),
           |spans AS (
           |  SELECT doc_id, max(i) - min(i) + $SubstrK AS span_chars
           |  FROM isl GROUP BY doc_id, grp),
           |per_doc AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
           |    CAST(sum(span_chars) AS BIGINT) AS dup_chars
           |  FROM spans GROUP BY doc_id)
           |SELECT d.doc_id,
           |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           |  COALESCE(p.dup_chars, 0) AS dup_chars
           |FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
           |ORDER BY d.doc_id""".stripMargin)
  )

  /** q197: stratified train/val/test split assignment — the canonical
    * ML split with EXACT per-stratum proportions (80/10/10 by floor
    * boundaries), not q63's sampling: every doc gets exactly one split,
    * counts per stratum are a pure function of the stratum size, and the
    * assignment is a deterministic md5 ordinal (doc_id tiebreak) so
    * re-running on the same corpus reproduces the split bit-for-bit —
    * the property leakage audits (q142) depend on. Report = per
    * (source, split) doc and char budgets.
    *
    * Scale: ONE source-partitioned rank window over (doc_id, hash) —
    * doc METADATA, never text — then a hash agg; at 100 TB the window
    * input is ~30 bytes/doc. Assigning by `hash % 10` instead would
    * drift each stratum's proportions by O(√n); the ordinal rank makes
    * them exact at the cost of this one metadata sort. */
  val q197SplitAssign = QueryDef(
    "q197_split_assign",
    (s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          md5(col("doc_id").cast(StringType)).as("h"))
        .withColumn("ord", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("split",
          when(col("ord") * 10 <= col("n") * 8, "train")
            .when(col("ord") * 10 <= col("n") * 9, "val")
            .otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .orderBy("source", "split")
    },
    Some("""WITH r AS (
           |  SELECT source, doc_id, n_chars,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
           |      AS ord,
           |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM documents)
           |SELECT source,
           |  CASE WHEN ord * 10 <= n * 8 THEN 'train'
           |       WHEN ord * 10 <= n * 9 THEN 'val' ELSE 'test' END AS split,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
           |FROM r GROUP BY 1, 2 ORDER BY source, split""".stripMargin)
  )

  /** q227's sampling geometry: users ≡ 0 (mod 5), 2 positives each,
    * 6 deterministic draws thinned to 3 surviving negatives. */
  val NegDraws = 6
  val NegKeep = 3

  /** q227: deterministic negative sampling — the training-triple
    * assembly step of every implicit-feedback recommender (BPR, matrix
    * factorization, two-tower retrieval): for each user, pair observed
    * positives with items the user did NOT interact with. The draws are
    * md5-derived (`md5(user, j) mod |items|`) so the "random" negatives
    * are RETRYABLE and engine-reproducible — the q58 idiom applied to
    * sampling the complement — and the unbounded rejection loop of the
    * textbook sampler is replaced by a bounded one: [[NegDraws]] draws,
    * anti-joined against the user's FULL positive set, first [[NegKeep]]
    * survivors kept by draw index. The yield is UP TO [[NegKeep]] —
    * a user whose positives cover much of a small catalog keeps fewer
    * (at the sf0.001 spec corpus, 200 items and ~40 positives/user,
    * ragged users genuinely occur and the spec covers them); trainers
    * consume ragged negative lists as a matter of course, and widening
    * [[NegDraws]] is the knob when a corpus needs a harder floor.
    *
    * Scale: positives are one distinct over the fact join keyed by
    * (user, item); draws are a 6-way explode of the user slice —
    * narrow, shuffle only on the (user, item) anti-join key; the 1-row
    * item-count broadcast is the q118 shape. Label layout matches what
    * a trainer consumes: (user, item, label, ord). */
  val q227NegativeSampling = QueryDef(
    "q227_negative_sampling",
    (s, d) => {
      val pos = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast(LongType).as("user"),
          col("l_partkey").cast(LongType).as("item"))
        .distinct()
      val nItems = Tables.part(s, d).agg(count(lit(1)).as("n_items"))
      val users = pos.filter(col("user") % 5 === 0)
      val wPos = Window.partitionBy("user").orderBy(col("item").asc)
      val keptPos = users.withColumn("ord", row_number().over(wPos).cast(LongType))
        .filter(col("ord") <= 2)
        .select(col("user"), col("item"), lit(1L).as("label"), col("ord"))
      val draws = users.select("user").distinct()
        .select(col("user"), explode(sequence(lit(1), lit(NegDraws))).as("j"))
        .crossJoin(broadcast(nItems))
        .select(col("user"), col("j"),
          pmod(conv(substring(md5(concat(lit("neg#"), col("user"), lit("#"), col("j"))),
            1, 15), 16, 10).cast(LongType), col("n_items")).as("item"))
      val wNeg = Window.partitionBy("user").orderBy(col("j").asc)
      val negs = draws
        .join(pos, Seq("user", "item"), "left_anti")
        .withColumn("ord", row_number().over(wNeg).cast(LongType))
        .filter(col("ord") <= NegKeep)
        .select(col("user"), col("item"), lit(0L).as("label"), col("ord"))
      keptPos.unionByName(negs)
        .orderBy(col("user").asc, col("label").desc, col("ord").asc)
    },
    Some(s"""WITH pos AS (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS "user",
           |    CAST(l_partkey AS BIGINT) AS item
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |n AS (SELECT COUNT(*) AS n_items FROM part),
           |u AS (SELECT * FROM pos WHERE "user" % 5 = 0),
           |kept_pos AS (
           |  SELECT "user", item, CAST(1 AS BIGINT) AS label, ord FROM (
           |    SELECT "user", item, CAST(row_number() OVER (
           |      PARTITION BY "user" ORDER BY item ASC) AS BIGINT) AS ord
           |    FROM u) WHERE ord <= 2),
           |draws AS (
           |  SELECT "user", j,
           |    CAST(('0x' || substr(md5('neg#' || "user" || '#' || j), 1, 15)) AS BIGINT)
           |      % n_items AS item
           |  FROM (SELECT DISTINCT "user" FROM u), range(1, ${NegDraws + 1}) t(j), n),
           |negs AS (
           |  SELECT "user", item, CAST(0 AS BIGINT) AS label, ord FROM (
           |    SELECT d."user", d.item, CAST(row_number() OVER (
           |      PARTITION BY d."user" ORDER BY d.j ASC) AS BIGINT) AS ord
           |    FROM draws d ANTI JOIN pos p
           |      ON p."user" = d."user" AND p.item = d.item)
           |  WHERE ord <= $NegKeep)
           |SELECT "user", item, label, ord FROM kept_pos
           |UNION ALL SELECT "user", item, label, ord FROM negs
           |ORDER BY "user" ASC, label DESC, ord ASC""".stripMargin)
  )

  /** q259: EXACTLY-k-PER-STRATUM deterministic sampling — the third
    * sampling discipline after q58 (hash-bucket fraction) and q63
    * (stratified fraction): a fixed-size quota per language, the shape
    * eval-set construction actually needs ("5 docs per language, and
    * the same 5 on every retry/engine/cluster"). One pass, no sort:
    * rank = md5-derived integer (uniform, content-addressed —
    * retry-stable by construction, the q58 determinism argument) and
    * the per-group quota is `topk_agg(struct(rank, doc_id), 5)` — the
    * bounded-heap native aggregate, so state is O(k) per stratum and
    * map tasks ship at most k candidates per group, where the window
    * spelling (the oracle) sorts every row of every stratum. */
  val q259QuotaSample = QueryDef(
    "q259_quota_sample",
    (s, d) => {
      val ranked = Tables.documents(s, d).select(col("lang"), col("doc_id"),
        pmod(conv(substring(md5(concat(lit("qs#"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast(LongType), lit(1000000000L)).as("rank"))
      ranked.groupBy("lang")
        .agg(graft.functions.GraftFunctions.topKAgg(
          struct(col("rank"), col("doc_id")), lit(5)).as("pick"))
        .select(col("lang"), posexplode(col("pick")))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rnk"),
          col("col.rank").as("rank"), col("col.doc_id").as("doc_id"))
        .orderBy("lang", "rnk")
    },
    Some("""WITH ranked AS (
           |  SELECT lang, doc_id,
           |    CAST(('0x' || substr(md5('qs#' || doc_id), 1, 15)) AS BIGINT)
           |      % 1000000000 AS rank
           |  FROM documents)
           |SELECT lang, CAST(rnk AS BIGINT) AS rnk, rank, doc_id FROM (
           |  SELECT lang, rank, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY rank DESC, doc_id DESC) AS rnk
           |  FROM ranked) t
           |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q73SequencePacking, q74SpanDedup,
    q75QualityRules, q76IncrementalDedup, q85MixtureSample, q92WeightedSample,
    q99ChunkOverlap, q138SubstringDedup, q197SplitAssign, q227NegativeSampling,
    q259QuotaSample)
}
