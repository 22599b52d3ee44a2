package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** Text-analysis + exact-dedup operator pack over the `documents` table —
  * the LLM-training-pipeline extension tier (SURVEY.md §2.5 [X]). The
  * reference's closest primitives are flatten+counts
  * (/root/reference/src/dask_obj/core.py:93-96,107-108); everything here is
  * their distributed, codegen'd realization plus the pipeline operators a
  * 100 TB corpus needs (quality scoring, language ID, fingerprinting).
  *
  * Scale notes: every operator is a narrow projection or a hash agg over
  * `documents` — no driver-side state, no UDFs (all
  * `org.apache.spark.sql.functions` higher-order/regexp expressions, fully
  * whole-stage-codegen'd). Token explosion (q19) shuffles only
  * (token, partial-count) pairs thanks to partial aggregation.
  */
object TextOps {

  /** Whitespace tokens, empties dropped — identical semantics in DuckDB via
    * string_split + list_filter. */
  private[operators] def tokens(c: Column): Column = filter(split(c, " "), t => t =!= "")

  /** Let-binding for per-row array pipelines: evaluate `value` ONCE and
    * bind it as a higher-order-function lambda variable for `body`.
    * Without this, Catalyst's CollapseProject inlines a `.select`'d array
    * expression into EVERY downstream reference — a slice-per-window
    * consumer then re-evaluates the whole array transform per element,
    * turning O(n) per-row algebra into O(n²)/O(n³) (measured: q57 went
    * from sub-second to a 13-minute single task at sf0.1 once the bench's
    * noop write stopped letting column pruning skip the projection).
    * `transform` on a 1-element array evaluates its input exactly once;
    * lambda-variable references are O(1). */
  private[operators] def bind(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** q18: exact deduplication — group identical texts, keep the smallest
    * doc_id (deterministic survivor rule). The group key is the 256-bit
    * sha2 digest, not the text itself: the document body never enters the
    * shuffle (32 bytes/row instead of the full text — THE difference
    * between shuffling 100 TB and shuffling 3 GB per 100M docs), and
    * grouping by digest equals grouping by text up to sha-256 collisions
    * (none exist publicly). The oracle groups by the raw text — identical
    * groups, so identical output. */
  val q18DedupExact = QueryDef(
    "q18_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id"),
    Some("""SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
           |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)
  )

  /** q19: token frequency top-50 — the counts-over-flatten analog
    * (core.py:93-96 + 107-108): split → explode → hash agg → top-k.
    * TakeOrderedAndProject keeps per-partition top-50 only. */
  val q19TokenTopK = QueryDef(
    "q19_token_topk",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .select(lower(col("tok")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(50),
    Some("""SELECT token, COUNT(*) AS cnt
           |FROM (SELECT lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |      FROM documents) t
           |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin)
  )

  /** q20: per-document quality stats — token count, regex word count
    * (BPE-ish segmentation), punctuation count, stopword count, char
    * length. All integer-exact; all single-pass projections. */
  val q20TextStats = QueryDef(
    "q20_text_stats",
    (s, d) => {
      val stop = Seq("the", "a", "of", "to", "and", "in", "is")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars_m"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast(LongType).as("n_words_re"),
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast(LongType).as("n_punct"),
          size(filter(tokens(lower(col("text"))), t => t.isin(stop: _*))).cast(LongType).as("n_stop"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars_m,
           |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_words_re,
           |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
           |  CAST(len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''), t -> t IN ('the','a','of','to','and','in','is'))) AS BIGINT) AS n_stop
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** q21: language ID — n-gram/stopword-hit heuristic scored per language,
    * argmax with a fixed precedence order on ties. Integer scoring keeps
    * Spark and DuckDB bit-identical. (Accuracy is bounded by the heuristic;
    * determinism is the contract here.) */
  val q21LangId = QueryDef(
    "q21_lang_id",
    (s, d) => {
      val markers: Map[String, Seq[String]] = Map(
        "en" -> Seq("the", "and", "of", "is"),
        "es" -> Seq("el", "la", "de", "que"),
        "de" -> Seq("der", "die", "und", "ist"),
        "fr" -> Seq("le", "la", "et", "est"),
        "zh" -> Seq("de", "shi", "le", "he"))
      def score(lang: String): Column =
        size(filter(tokens(lower(col("text"))), t => t.isin(markers(lang): _*))).cast(LongType)
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang").as("lang_true"),
        score("en").as("s_en"), score("es").as("s_es"), score("de").as("s_de"),
        score("fr").as("s_fr"), score("zh").as("s_zh"))
      scored.select(
          col("doc_id"), col("lang_true"),
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
            .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
            .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
            .when(col("s_fr") >= col("s_zh"), "fr")
            .otherwise("zh").as("lang_pred"))
        .orderBy("doc_id")
    },
    Some("""WITH sc AS (
           |  SELECT doc_id, lang AS lang_true,
           |    CAST(len(list_filter(list_filter(string_split(lower(text),' '), t -> t <> ''), t -> t IN ('the','and','of','is'))) AS BIGINT) AS s_en,
           |    CAST(len(list_filter(list_filter(string_split(lower(text),' '), t -> t <> ''), t -> t IN ('el','la','de','que'))) AS BIGINT) AS s_es,
           |    CAST(len(list_filter(list_filter(string_split(lower(text),' '), t -> t <> ''), t -> t IN ('der','die','und','ist'))) AS BIGINT) AS s_de,
           |    CAST(len(list_filter(list_filter(string_split(lower(text),' '), t -> t <> ''), t -> t IN ('le','la','et','est'))) AS BIGINT) AS s_fr,
           |    CAST(len(list_filter(list_filter(string_split(lower(text),' '), t -> t <> ''), t -> t IN ('de','shi','le','he'))) AS BIGINT) AS s_zh
           |  FROM documents)
           |SELECT doc_id, lang_true,
           |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |       WHEN s_fr >= s_zh THEN 'fr'
           |       ELSE 'zh' END AS lang_pred
           |FROM sc ORDER BY doc_id""".stripMargin)
  )

  /** q22: document fingerprint — polynomial rolling hash over the character
    * stream (mod 1e9+7, base 31), computed with `aggregate` over
    * `split(text,'')`: a pure codegen'd fold, no UDF. The md5 column is the
    * content-addressable fingerprint (bit-identical across engines). */
  val q22Fingerprint = QueryDef(
    "q22_fingerprint",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          aggregate(
            split(col("text"), ""),
            lit(0L),
            (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L).as("poly_hash"),
          md5(col("text")).as("md5_hash"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), ch -> CAST(ord(ch) AS BIGINT))),
           |              (acc, x) -> (acc * 31 + x) % 1000000007) AS poly_hash,
           |  md5(text) AS md5_hash
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** q39: top-20 word bigrams — n-gram analysis via array expressions
    * (1-indexed element_at in both engines), then the usual explode +
    * partial hash agg + TakeOrderedAndProject. */
  val q39Bigrams = QueryDef(
    "q39_bigrams",
    (s, d) =>
      Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20),
    Some("""SELECT bigram, COUNT(*) AS cnt FROM (
           |  SELECT unnest(list_transform(range(1, len(t)),
           |                i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1])) AS bigram
           |  FROM (SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           |        FROM documents) d
           |  WHERE len(t) >= 2) b
           |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin)
  )

  /** q55: token counting, whitespace AND BPE-ish — the two token budgets a
    * training pipeline tracks. The "BPE-ish" tokenizer is the classic
    * pre-tokenization regex shape (letter runs | single digits | single
    * non-alnum marks — digits split one-per-token and punctuation isolated,
    * as GPT-2-style BPE pre-tokenizers do before merges). Pure
    * `regexp_extract_all`, codegen'd, one narrow pass; the ratio column is
    * integer-scaled so no floating point crosses the oracle. */
  val q55TokenCounts = QueryDef(
    "q55_token_counts",
    (s, d) => {
      val BpePat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpePat), lit(0))).cast(LongType).as("n_bpe_tokens"),
          length(col("text")).cast(LongType).as("n_chars"))
        // integer-scaled chars-per-BPE-token (×100, floor) — the budget
        // metric, exact in both engines
        .withColumn("chars_per_bpe_x100",
          when(col("n_bpe_tokens") > 0, floor(col("n_chars") * 100 / col("n_bpe_tokens")).cast(LongType))
            .otherwise(lit(0L)))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) > 0
           |    THEN floor(length(text) * 100 / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')))
           |    ELSE 0 END AS BIGINT) AS chars_per_bpe_x100
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** q57: winnowing fingerprints (the MOSS scheme) — k-gram hashes (k=5),
    * then the minimum of every w=8 consecutive hashes, distinct per doc.
    * Winnowing guarantees any shared substring of length >= w+k-1 yields at
    * least one SHARED fingerprint between two documents, at density
    * 2/(w+1) — the index-friendly overlap detector: at 100 TB you invert
    * (fingerprint → doc list) and candidate pairs fall out of bucket
    * joins, same plan shape as the MinHash bands.
    *
    * Gram hash: base-257 polynomial over the char codes (injective for
    * byte strings, max 255·Σ257^j ≈ 1.1e12 < 2^63 — ANSI-safe), then one
    * LCG scramble mod 2^31-1 so minima aren't biased toward grams starting
    * with low code points (space). Pure integer arithmetic — bit-identical
    * in DuckDB, unlike float paths, and ~10× cheaper than the previous
    * md5-hex-conv chain.
    *
    * Plan shape: the whole computation is PER-ROW array algebra (char
    * codes → gram hashes → slice minima → distinct), so the query is a
    * single narrow projection over the scan — no explode, no window
    * shuffle, no groupBy; the only exchange is the final tiny orderBy.
    * That is the 100 TB shape: winnowing is embarrassingly parallel per
    * document and nothing here ever leaves the partition. Output is the
    * per-doc fingerprint-set summary (count/min/max/xor — xor instead of
    * sum so no overflow and no INT128 divergence). Docs shorter than
    * k+w-1 chars have no full window and are filtered on both sides. */
  val q57Winnowing = QueryDef(
    "q57_winnowing",
    (s, d) => {
      val (k, w) = (5, 8)
      val P = 2147483647L // 2^31-1; (h mod P)·A + B < 2^62: ANSI-safe
      val (lcgA, lcgB) = (1103515245L, 12345L)
      // codes: 1-based char codes; gram hash at i: poly over codes[i..i+4].
      // Every intermediate array is `bind`-bound (evaluated once per row),
      // never a `.select` column CollapseProject would inline per use.
      val codes = transform(split(col("text"), ""), c => ascii(c).cast(LongType))
      val poly = (cs: Column, i: Column) => (0 until k)
        .map(j => element_at(cs, i + j) * lit(math.pow(257.0, k - 1 - j).toLong))
        .reduce(_ + _)
      val ng = length(col("text")) - (k - 1)
      // Sliding w=8 minima by doubling (sparse table): m2[i]=min(h[i..i+1]),
      // m4[i]=min(h[i..i+3]), m8[i]=min(h[i..i+7]) — 3 `least` ops per
      // position instead of w element reads AND an 8-element slice
      // allocation per position (the slice version allocated ~325M tiny
      // arrays at sf0.1; this was the whole-bench hot spot).
      def halfMin(arr: Column, len: Column, stride: Int): Column =
        transform(sequence(lit(1), len),
          i => least(element_at(arr, i), element_at(arr, i + stride)))
      val summary = bind(codes, cs =>
        bind(transform(sequence(lit(1), ng), i => (poly(cs, i) % P * lcgA + lcgB) % P), hs =>
          bind(halfMin(hs, ng - 1, 1), m2 =>
            bind(halfMin(m2, ng - 3, 2), m4 =>
              bind(array_distinct(halfMin(m4, ng - (w - 1), 4)), fps =>
                struct(
                  size(fps).cast(LongType).as("n_fp"),
                  array_min(fps).as("min_fp"),
                  array_max(fps).as("max_fp"),
                  aggregate(fps, lit(0L), (a, x) => a.bitwiseXOR(x)).as("xor_fp")))))))
      Tables.spread(Tables.documents(s, d)
        .filter(length(col("text")) >= k + w - 1)
        .select(col("doc_id"), col("text")))
        .select(col("doc_id"), summary.as("r"))
        .select(col("doc_id"), col("r.n_fp"), col("r.min_fp"), col("r.max_fp"), col("r.xor_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH g AS (
           |  SELECT doc_id, length(text) - 4 AS ng, pos,
           |    ((CAST(ascii(substr(text, CAST(pos AS INTEGER), 1)) AS BIGINT) * 4362470401
           |      + CAST(ascii(substr(text, CAST(pos + 1 AS INTEGER), 1)) AS BIGINT) * 16974593
           |      + CAST(ascii(substr(text, CAST(pos + 2 AS INTEGER), 1)) AS BIGINT) * 66049
           |      + CAST(ascii(substr(text, CAST(pos + 3 AS INTEGER), 1)) AS BIGINT) * 257
           |      + CAST(ascii(substr(text, CAST(pos + 4 AS INTEGER), 1)) AS BIGINT))
           |     % 2147483647 * 1103515245 + 12345) % 2147483647 AS h
           |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS pos
           |        FROM documents WHERE length(text) >= 12) t),
           |wmin AS (
           |  SELECT doc_id, pos, ng,
           |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
           |  FROM g),
           |fps AS (
           |  SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= ng - 7)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, MIN(fp) AS min_fp,
           |  MAX(fp) AS max_fp, bit_xor(fp) AS xor_fp
           |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** q59: TF-IDF top-5 terms per document, integer-exact. For a fixed
    * corpus size N, any monotone idf(df) ranks identically to 1/df — so
    * the score is floor(tf·1e6 / df) in pure integer arithmetic
    * (bit-identical cross-engine, where float log() is not).
    *
    * Plan shape at 100 TB: two hash aggs, both with map-side partial
    * aggregation (tf keyed by (doc, token); df is an agg OVER tf — one
    * row per (doc, token), so df counts documents without a distinct);
    * the df table is vocabulary-sized (≪ corpus) and BROADCAST onto tf;
    * the top-5 window partitions by doc_id. Nothing wide except the two
    * aggs the semantics require. */
  val q59Tfidf = QueryDef(
    "q59_tfidf",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), lower(col("tok")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_x1m").desc, col("token").asc)
      tf.join(broadcast(df), Seq("token"))
        .withColumn("score_x1m", expr("tf * 1000000 DIV df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("doc_id", "rank", "token", "tf", "df", "score_x1m")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
           |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
           |r AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
           |        tf.tf * 1000000 // df.df AS score_x1m,
           |        row_number() OVER (PARTITION BY tf.doc_id
           |          ORDER BY tf.tf * 1000000 // df.df DESC, tf.token) AS rank
           |      FROM tf JOIN df USING (token))
           |SELECT doc_id, rank, token, tf, df, score_x1m
           |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)
  )

  /** q66: PII redaction — the scrub pass every training corpus runs before
    * the tokenizer. The driver's synthetic documents contain no natural
    * PII, so the query INJECTS deterministic emails/phones (varying by
    * doc_id so redaction counts differ per row) and then redacts them with
    * the real regex pass; the oracle builds the identical input and the
    * full redacted text is string-compared. Patterns are codegen'd
    * `regexp_replace`/`regexp_extract_all` — a narrow projection, nothing
    * shuffles but the final sort. */
  val q66PiiRedact = QueryDef(
    "q66_pii_redact",
    (s, d) => {
      val email = "[a-z0-9.]+@[a-z0-9.-]+\\.[a-z]{2,4}"
      val phone = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" reach user"), col("doc_id"), lit("@mail.example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-0199")))
            .otherwise(lit(""))).as("text"))
      withPii.select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"), phone, "<PHONE>"), email, "<EMAIL>")
            .as("clean"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(phone), lit(0))).cast(LongType).as("n_phones"))
        .orderBy("doc_id")
    },
    Some("""WITH withpii AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 <> 0
           |         THEN ' reach user' || doc_id || '@mail.example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 2 = 0
           |         THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
           |         ELSE '' END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(text, '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           |                 '[a-z0-9.]+@[a-z0-9.-]+\.[a-z]{2,4}', '<EMAIL>', 'g') AS clean,
           |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.-]+\.[a-z]{2,4}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
           |FROM withpii ORDER BY doc_id""".stripMargin)
  )

  /** q67: repetition metrics — the Gopher-style quality filters that catch
    * degenerate/boilerplate documents: duplicate-token fraction,
    * most-frequent-token share, duplicate-bigram fraction. All three are
    * per-row ARRAY algebra (no explode, no shuffle — the same
    * shuffle-free shape as q57 winnowing), with integer ×1e6 DIV scores so
    * both engines agree bit-for-bit. The top-share scan is O(distinct·n)
    * per row — bounded by document length, embarrassingly parallel. */
  val q67Repetition = QueryDef(
    "q67_repetition",
    (s, d) => {
      // exact integer DIV for nonnegative longs without needing named
      // columns: a - a%b is an exact multiple, its double division by b is
      // a correctly-rounded integer ≤ 2^53 — bit-exact vs DuckDB's `//`
      def idiv(a: Column, b: Column): Column = ((a - a % b) / b).cast(LongType)
      // token array bound ONCE per row (see [[bind]]) — referencing a
      // `.select`'d column instead would re-split the text per consumer
      val metrics = bind(tokens(col("text")), t => {
        val n = size(t).cast(LongType)
        val nd = size(array_distinct(t)).cast(LongType)
        val topc = aggregate(array_distinct(t), lit(0L),
          (acc, x) => greatest(acc, size(filter(t, e => e === x)).cast(LongType)))
        // guard: sequence(1, n-1) REVERSES direction when n < 2 (Spark
        // auto-steps -1) and would index element 0 — short docs get []
        val bigrams = when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
          .otherwise(array().cast(ArrayType(StringType)))
        bind(bigrams, b => {
          val nb = size(b).cast(LongType)
          val nbd = size(array_distinct(b)).cast(LongType)
          struct(n.as("n_tokens"), nd.as("distinct_tokens"),
            when(n > 0, idiv((n - nd) * 1000000L, n)).otherwise(0L).as("dup_token_x1m"),
            when(n > 0, idiv(topc * 1000000L, n)).otherwise(0L).as("top_share_x1m"),
            when(nb > 0, idiv((nb - nbd) * 1000000L, nb)).otherwise(0L).as("dup_bigram_x1m"))
        })
      })
      // spread (r13): the O(distinct·n)-per-row top-share scan is the
      // query's whole cost and ran as ONE task on the single-row-group
      // scan; checkpoint BEFORE the final sort so the range partitioner's
      // sampling pass does not run the metric map a second time
      // (profiled: 4 jobs / 4 tasks, 1.05 s exec, taskTime ≈ 2× the map)
      Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), metrics.as("m"))
        .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
          col("m.distinct_tokens").as("distinct_tokens"),
          col("m.dup_token_x1m").as("dup_token_x1m"),
          col("m.top_share_x1m").as("top_share_x1m"),
          col("m.dup_bigram_x1m").as("dup_bigram_x1m"))
        .localCheckpoint()
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, t,
           |    CAST(len(t) AS BIGINT) AS n,
           |    CAST(len(list_distinct(t)) AS BIGINT) AS nd,
           |    CAST(list_max(list_transform(list_distinct(t),
           |           x -> len(list_filter(t, e -> e = x)))) AS BIGINT) AS topc,
           |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS b
           |  FROM base)
           |SELECT doc_id, n AS n_tokens, nd AS distinct_tokens,
           |  CASE WHEN n > 0 THEN (n - nd) * 1000000 // n ELSE 0 END AS dup_token_x1m,
           |  CASE WHEN n > 0 THEN topc * 1000000 // n ELSE 0 END AS top_share_x1m,
           |  CASE WHEN len(b) > 0
           |       THEN (len(b) - len(list_distinct(b))) * 1000000 // len(b) ELSE 0 END AS dup_bigram_x1m
           |FROM m ORDER BY doc_id""".stripMargin)
  )

  /** q69: benchmark decontamination — the eval-leakage audit every training
    * run needs: treat one source slice (`src0`) as the held-out benchmark
    * and report, per benchmark document, how many of its word 5-grams also
    * appear anywhere in the training pool (every other source). The
    * driver's synthetic corpus has real signal here (at sf0.01: 108 of
    * 1335 benchmark grams collide with the pool, touching all 25 docs).
    *
    * Plan shape at 100 TB: the benchmark is MB-scale next to the corpus,
    * so its distinct gram set is BROADCAST and the 100 TB training side is
    * reduced by a broadcast LEFT-SEMI join *at the scan* — corpus grams
    * never shuffle; only the (benchmark-bounded) surviving hit grams are
    * distinct'd. The per-doc report then joins benchmark grams to the tiny
    * hit set. Contamination is integer ×1e6 DIV — exact cross-engine. */
  /** Word 5-grams as ONE per-row array expression ([[bind]]: the token
    * array is evaluated once, not re-split per sequence element); docs
    * shorter than 5 tokens contribute no grams in either engine. Shared by
    * the decontamination pair q69 (audit) / q70 (action). */
  private val grams5: Column = bind(tokens(col("text")), t =>
    when(size(t) >= 5,
      transform(sequence(lit(1), size(t) - 4),
        i => concat_ws(" ", slice(t, i, lit(5)))))
      .otherwise(array().cast(ArrayType(StringType))))

  private def sourceGrams(s: SparkSession, d: String)(src: Column => Column): DataFrame =
    Tables.documents(s, d).filter(src(col("source")))
      .select(col("doc_id"), explode(grams5).as("g"))

  val q69Decontamination = QueryDef(
    "q69_decontamination",
    (s, d) => {
      def grams(src: Column => Column) = sourceGrams(s, d)(src)
      val benchGrams = grams(_ === "src0").distinct()
      val hitGrams = grams(_ =!= "src0").select("g")
        .join(broadcast(benchGrams.select("g").distinct()), Seq("g"), "left_semi")
        .distinct()
        .withColumn("hit", lit(1))
      benchGrams.join(hitGrams, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
        .withColumn("contamination_x1m", expr("n_hit * 1000000 DIV n_grams"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, source,
           |    unnest(list_transform(range(1, len(t) - 3),
           |                          i -> array_to_string(t[i:i+4], ' '))) AS g
           |  FROM toks WHERE len(t) >= 5),
           |bg AS (SELECT DISTINCT doc_id, g FROM grams WHERE source = 'src0'),
           |tg AS (SELECT DISTINCT g FROM grams
           |       WHERE source <> 'src0' AND g IN (SELECT g FROM bg))
           |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |  CAST(COUNT(t.g) AS BIGINT) AS n_hit,
           |  COUNT(t.g) * 1000000 // COUNT(*) AS contamination_x1m
           |FROM bg b LEFT JOIN tg t ON b.g = t.g
           |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)
  )

  /** q70: decontamination as an ACTION — q69 audits the benchmark; q70
    * scrubs the pool: any training document sharing even one word 5-gram
    * with the benchmark is dropped, reported per source (total / dropped /
    * kept). This is the filter a training run applies before tokenizing.
    *
    * Plan shape at 100 TB: same broadcast LEFT-SEMI prune as q69 — corpus
    * grams are filtered against the broadcast benchmark gram set at the
    * scan and never shuffle; only contaminated doc_ids (benchmark-bounded)
    * reach the distinct. The per-source rollup then LEFT-joins the corpus
    * against that tiny doc_id set (AQE broadcasts it) — the corpus itself
    * shuffles nothing but the final per-source partial-agg'd counts. */
  val q70DecontamPool = QueryDef(
    "q70_decontam_pool",
    (s, d) => {
      val benchSet = broadcast(
        sourceGrams(s, d)(_ === "src0").select("g").distinct())
      val contaminated = sourceGrams(s, d)(_ =!= "src0")
        .join(benchSet, Seq("g"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("bad", lit(1))
      Tables.documents(s, d).filter(col("source") =!= "src0")
        .select("doc_id", "source")
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("bad")).as("n_dropped"))
        .withColumn("n_kept", col("n_docs") - col("n_dropped"))
        .orderBy("source")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, source,
           |    unnest(list_transform(range(1, len(t) - 3),
           |                          i -> array_to_string(t[i:i+4], ' '))) AS g
           |  FROM toks WHERE len(t) >= 5),
           |bset AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
           |bad AS (SELECT DISTINCT doc_id FROM grams
           |        WHERE source <> 'src0' AND g IN (SELECT g FROM bset))
           |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(COUNT(bad.doc_id) AS BIGINT) AS n_dropped,
           |  CAST(COUNT(*) - COUNT(bad.doc_id) AS BIGINT) AS n_kept
           |FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
           |WHERE d.source <> 'src0'
           |GROUP BY d.source ORDER BY d.source""".stripMargin)
  )

  /** q72: data-mixture report — the token-budget table a training run
    * samples from: per (source, lang) domain, document count, whitespace
    * token budget, its ×1e6 share of the corpus, and the cumulative share
    * in descending-budget order (the "top-p domains" selection curve).
    *
    * Plan shape at 100 TB: token counting is a narrow per-row projection;
    * the rollup is one partially-aggregated hash agg whose key space is
    * domains (tiny, data-size independent); both windows then run on that
    * metadata-sized aggregate — the corpus is read once and never
    * shuffled. Shares are integer ×1e6 DIV — exact cross-engine. */
  val q72MixtureReport = QueryDef(
    "q72_mixture_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val agg = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(tokens(col("text"))).cast(LongType).as("n_tok"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val order = Seq(col("n_tokens").desc, col("source").asc, col("lang").asc)
      // constant partition key: the frame is the (source × lang) grid —
      // metadata-sized — and lit(0) avoids WindowExec's warning
      agg
        .withColumn("tot", sum("n_tokens").over(Window.partitionBy(lit(0))))
        .withColumn("cum",
          sum("n_tokens").over(Window.partitionBy(lit(0)).orderBy(order: _*)))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 DIV tot").as("share_x1m"),
          expr("cum * 1000000 DIV tot").as("cum_share_x1m"))
        .orderBy(order: _*)
    },
    Some("""WITH per AS (
           |  SELECT source, lang,
           |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok
           |  FROM documents),
           |agg AS (
           |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
           |  FROM per GROUP BY source, lang)
           |SELECT source, lang, n_docs, n_tokens,
           |  CAST(n_tokens * 1000000 // SUM(n_tokens) OVER () AS BIGINT) AS share_x1m,
           |  CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source, lang) * 1000000
           |       // SUM(n_tokens) OVER () AS BIGINT) AS cum_share_x1m
           |FROM agg ORDER BY n_tokens DESC, source, lang""".stripMargin)
  )

  /** q101: bigram-LM fluency scoring — the n-gram-model quality filter
    * (rank documents by how predictable their text is under a language
    * model trained on the corpus itself). The model is the corpus bigram
    * table; a document's score is the mean conditional probability
    * P(w₂|w₁) = count(w₁w₂)/count(w₁·) over its bigram instances, in
    * ×1e6 fixed-point (integer-exact cross-engine — same discipline as
    * q59's idf: any monotone transform ranks identically, so no float
    * log is needed). Low scores ⇒ disfluent/boilerplate/garbled text —
    * the perplexity filter of a training-data pipeline.
    *
    * Plan shape at 100 TB: the bigram explode is a pure projection; the
    * model tables (cb keyed by bigram, cu by unigram) are
    * vocabulary-sized aggs with map-side partial aggregation, far
    * smaller than the corpus — AQE broadcasts them back onto the bigram
    * stream (at trillion-token scale they'd be bucketed equi-joins on
    * the same keys); the per-doc mean is one more hash agg keyed by
    * doc_id. Nothing is ever keyed by anything wider than a bigram. */
  val q101LmFluency = QueryDef(
    "q101_lm_fluency",
    (s, d) => {
      val big = Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu = big.groupBy("w1").agg(count(lit(1)).as("cu"))
      big.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
        .withColumn("p_x1m", expr("cb * 1000000 DIV cu"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_x1m) DIV count(1)").cast(LongType).as("fluency_x1m"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           |  FROM documents),
           |big AS (
           |  SELECT doc_id, t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
           |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
           |        FROM toks WHERE len(t) >= 2) x),
           |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
           |cu AS (SELECT w1, COUNT(*) AS cu FROM big GROUP BY 1)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  CAST(CAST(SUM(cb.cb * 1000000 // cu.cu) AS BIGINT) // COUNT(*) AS BIGINT)
           |    AS fluency_x1m
           |FROM big JOIN cb USING (w1, w2) JOIN cu USING (w1)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** q104: inverted-index build — phrase → sorted posting list, the IR /
    * search-engine primitive (and the lookup structure behind q69-style
    * decontamination at interactive latency). The index key is the word
    * TRIGRAM, not the single token: the synthetic corpus draws from a
    * ~31-word vocabulary, so every unigram is a stopword (min df 25 of
    * 500 docs) — trigrams recover a ~30k-term vocabulary with a real
    * rarity tail, which is also why phrase-level indexes are what
    * decontamination and exact-quote search actually build. Postings
    * are emitted for DISCRIMINATIVE terms only (2 ≤ df ≤ 8): df = 1
    * indexes nothing useful and high-df terms are the classic
    * index-build skew — real systems shard or elide them, and the df
    * cap IS that policy, stated. The list is serialized as a
    * comma-joined sorted string (deterministic; raw array columns don't
    * round-trip the driver's canonicalizer).
    *
    * Plan shape at 100 TB: distinct (term, doc) pairs — one exchange
    * keyed by term — then a single hash agg whose collect is bounded
    * by the df cap (≤ 8 doc ids per group by construction, so no group
    * can blow up); partitioning by term is exactly how a sharded index
    * is laid out on disk. */
  val q104InvertedIndex = QueryDef(
    "q104_inverted_index",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1),
              element_at(col("t"), i + 2)))).as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
        .filter(col("df").between(2, 8))
        .orderBy("term")
    },
    Some("""WITH pairs AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(range(1, len(t) - 1),
           |      i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]
           |           || ' ' || t[CAST(i AS INTEGER) + 2])) AS term
           |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           |        FROM documents) d
           |  WHERE len(t) >= 3)
           |SELECT term, COUNT(*) AS df,
           |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
           |FROM pairs GROUP BY term HAVING COUNT(*) BETWEEN 2 AND 8
           |ORDER BY term""".stripMargin)
  )

  /** q124: a TRAINED text classifier, end to end in aggregations — the
    * supervised counterpart to q21's fixed-marker heuristic (and the
    * fastText-quality-classifier slot of a training-data pipeline:
    * train on labeled docs, score the rest, report the confusion
    * matrix). Naive-Bayes-shaped with integer fixed-point weights:
    *
    *   train (even doc_ids): vocab = top-256 tokens by train count;
    *     w(t,c) = (count(t,c)+1)·1e6 DIV (total(c)+256)   (add-1 smoothed)
    *     prior(c) = ndocs(c)·1e6 DIV ndocs
    *   score (odd doc_ids): score(d,c) = prior(c) + Σ_t n_dt · w(t,c),
    *     argmax over classes (ties → lexicographically first class).
    *
    * The linear integer scoring replaces log-probabilities — a monotone
    * surrogate chosen, like q21/q59/q101, so no transcendental float ever
    * reaches the oracle hash; accuracy is the model's business, exactness
    * is the contract.
    *
    * Scale shape at 100 TB: the MODEL is metadata — vocab (256) × classes
    * (|langs|) weights plus priors — built by hash aggs over (token, lang)
    * pairs (map-side partials; documents never shuffle) and broadcast back
    * onto the test token stream; scoring is explode → broadcast-join →
    * per-(doc, class) hash agg; the confusion matrix is |langs|² rows. The
    * only single-partition moment is ranking the 256-row vocab table. */
  val q124NbClassifier = QueryDef(
    "q124_nb_classifier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val V = 256
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"), (col("doc_id") % 2 === 0).as("is_train"))
      val tok = docs.select(col("doc_id"), col("lang"), col("is_train"),
        explode(tokens(lower(col("text")))).as("token"))
      val trainTok = tok.filter(col("is_train"))
      val vocab = trainTok.groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over( // vocab table is model-sized
          Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("token").asc)))
        .filter(col("rn") <= V).select("token")
      val classes = docs.filter(col("is_train")).select(col("lang").as("lang_c")).distinct()
      val cnt = trainTok.join(broadcast(vocab), "token")
        .groupBy(col("lang").as("lang_c"), col("token"))
        .agg(count(lit(1)).cast(LongType).as("c"))
      val tot = cnt.groupBy("lang_c").agg(sum("c").cast(LongType).as("tot"))
      val w = classes.crossJoin(broadcast(vocab))
        .join(broadcast(tot), "lang_c")
        .join(broadcast(cnt), Seq("lang_c", "token"), "left")
        .select(col("lang_c"), col("token"),
          expr(s"(coalesce(c, 0L) + 1) * 1000000 DIV (tot + $V)").as("w"))
      val nTrain = docs.filter(col("is_train"))
        .agg(count(lit(1)).cast(LongType).as("n_train"))
      val prior = docs.filter(col("is_train"))
        .groupBy(col("lang").as("lang_c"))
        .agg(count(lit(1)).cast(LongType).as("nc"))
        .crossJoin(broadcast(nTrain))
        .select(col("lang_c"), expr("nc * 1000000 DIV n_train").as("pr"))
      val hits = tok.filter(!col("is_train"))
        .join(broadcast(w), "token")
        .groupBy("doc_id", "lang_c")
        .agg(sum("w").cast(LongType).as("hit"))
      val scored = docs.filter(!col("is_train"))
        .select(col("doc_id"), col("lang").as("lang_true"))
        .crossJoin(broadcast(classes))
        .join(broadcast(prior), "lang_c")
        .join(hits, Seq("doc_id", "lang_c"), "left")
        .withColumn("score", col("pr") + coalesce(col("hit"), lit(0L)))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang_c").asc)))
        .filter(col("rn") === 1)
        .groupBy(col("lang_true"), col("lang_c").as("lang_pred"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"))
        .orderBy("lang_true", "lang_pred")
    },
    Some("""WITH docs AS (
           |  SELECT doc_id, lang, text, doc_id % 2 = 0 AS is_train FROM documents),
           |tok AS (
           |  SELECT doc_id, lang, is_train,
           |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
           |  FROM docs),
           |vocab AS (
           |  SELECT token FROM (
           |    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rn
           |    FROM tok WHERE is_train GROUP BY token)
           |  WHERE rn <= 256),
           |classes AS (SELECT DISTINCT lang AS lang_c FROM docs WHERE is_train),
           |cnt AS (
           |  SELECT lang AS lang_c, token, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM tok WHERE is_train AND token IN (SELECT token FROM vocab)
           |  GROUP BY 1, 2),
           |tot AS (SELECT lang_c, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
           |w AS (
           |  SELECT cl.lang_c, v.token,
           |    (coalesce(cnt.c, 0) + 1) * 1000000 // (tot.tot + 256) AS w
           |  FROM classes cl CROSS JOIN vocab v
           |  JOIN tot ON tot.lang_c = cl.lang_c
           |  LEFT JOIN cnt ON cnt.lang_c = cl.lang_c AND cnt.token = v.token),
           |prior AS (
           |  SELECT lang AS lang_c, CAST(COUNT(*) AS BIGINT) * 1000000
           |    // (SELECT CAST(COUNT(*) AS BIGINT) FROM docs WHERE is_train) AS pr
           |  FROM docs WHERE is_train GROUP BY 1),
           |hits AS (
           |  SELECT t.doc_id, w.lang_c, CAST(SUM(w.w) AS BIGINT) AS hit
           |  FROM tok t JOIN w ON w.token = t.token
           |  WHERE NOT t.is_train GROUP BY 1, 2),
           |scored AS (
           |  SELECT dd.doc_id, dd.lang AS lang_true, c.lang_c,
           |    p.pr + coalesce(h.hit, 0) AS score
           |  FROM docs dd CROSS JOIN classes c
           |  JOIN prior p ON p.lang_c = c.lang_c
           |  LEFT JOIN hits h ON h.doc_id = dd.doc_id AND h.lang_c = c.lang_c
           |  WHERE NOT dd.is_train),
           |pred AS (
           |  SELECT doc_id, lang_true, lang_c,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_c ASC) AS rn
           |  FROM scored)
           |SELECT lang_true, lang_c AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
           |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )

  /** q130: PMI collocation mining — the statistically-bound token pairs
    * ("new york"-style multiword expressions) a tokenizer/vocab builder
    * wants ranked before merging. PMI ∝ p(ab)/(p(a)·p(b)) =
    * f(ab)·N²/(B·f(a)·f(b)); ranking needs no log, and floats are avoided
    * entirely by a FIXED-EVALUATION-ORDER integer score
    *   score_x1m = ((f(ab)·1e6 div f(a)) · N div B) div f(b)
    * — the same bracketed integer DIVs run on both engines, so the score
    * is a deterministic rational approximation (documented, not claimed
    * exact PMI) and overflow-free: f(ab) ≤ f(a) bounds the first factor
    * by 1e6, so ×N stays far under BIGINT at any scale factor. Support
    * floors (f(ab) ≥ 5, f ≥ 10) cut hapax noise exactly as a real
    * collocation pass does.
    *
    * Plan shape at 100 TB: token explode → one hash agg per arity
    * (unigrams, bigrams) + two broadcast-joined count lookups; the
    * unigram/bigram tables shuffle once each on the token key, the two
    * scalar totals broadcast. Top-20 via TakeOrderedAndProject. */
  val q130PmiCollocations = QueryDef(
    "q130_pmi_collocations",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      val uni = t.select(explode(col("toks")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
      // adjacent pairs from the token ARRAY — a narrow per-row transform
      // (no exploded self-join: that would shuffle the token table twice)
      val big = t.filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("t1"),
            element_at(col("toks"), i + 1).as("t2")))).as("bg"))
        .select(col("bg.t1"), col("bg.t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("fab"))
      val n = uni.agg(sum(col("f")).as("n_tok"))
      val bTot = big.agg(sum(col("fab")).as("n_big"))
      big.filter(col("fab") >= 5)
        .join(uni.select(col("t").as("t1"), col("f").as("f1")), Seq("t1"))
        .join(uni.select(col("t").as("t2"), col("f").as("f2")), Seq("t2"))
        .filter(col("f1") >= 10 && col("f2") >= 10)
        .crossJoin(broadcast(n)).crossJoin(broadcast(bTot))
        // (fab·1e6 div f1) ≤ 1e6 since fab ≤ f1, so ×n_tok is overflow-safe
        // at any scale factor
        .withColumn("score_x1m",
          expr("((fab * 1000000 DIV f1) * n_tok DIV n_big) DIV f2"))
        .filter(col("score_x1m") > 0)
        .select("t1", "t2", "fab", "f1", "f2", "score_x1m")
        .orderBy(col("score_x1m").desc, col("t1").asc, col("t2").asc)
        .limit(20)
    },
    Some("""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
           |  FROM documents),
           |uni AS (
           |  SELECT t, CAST(COUNT(*) AS BIGINT) AS f
           |  FROM (SELECT unnest(toks) AS t FROM t) GROUP BY t),
           |big AS (
           |  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS fab FROM (
           |    SELECT toks[CAST(i AS INTEGER)] AS t1, toks[CAST(i AS INTEGER) + 1] AS t2
           |    FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t))
           |  GROUP BY 1, 2),
           |tots AS (
           |  SELECT (SELECT SUM(f) FROM uni) AS n_tok, (SELECT SUM(fab) FROM big) AS n_big)
           |SELECT t1, t2, fab, u1.f AS f1, u2.f AS f2,
           |  CAST(((fab * 1000000 // u1.f) * n_tok // n_big) // u2.f AS BIGINT) AS score_x1m
           |FROM big
           |JOIN uni u1 ON u1.t = t1 JOIN uni u2 ON u2.t = t2
           |CROSS JOIN tots
           |WHERE fab >= 5 AND u1.f >= 10 AND u2.f >= 10
           |  AND ((fab * 1000000 // u1.f) * n_tok // n_big) // u2.f > 0
           |ORDER BY score_x1m DESC, t1 ASC, t2 ASC LIMIT 20""".stripMargin)
  )

  /** Misra–Gries counter budget per partition for q132. */
  val HHCounters = 64

  /** q132: heavy hitters (tokens with global frequency > N/k, k = 64) via
    * the Misra–Gries sketch + bounded exact rescan — the canonical
    * single-pass-then-verify shape for frequency mining at 100 TB, where
    * a full `groupBy(token)` would shuffle the whole vocabulary just to
    * find the handful of hot keys:
    *
    *   1. per-partition MG sketch, k counters: increment if present or
    *      room, else decrement-all (amortized O(1)/token, ≤ k entries
    *      alive). The MG guarantee per partition — any token with local
    *      f_p > N_p/k survives — lifts to the union: a GLOBAL heavy
    *      hitter (f > N/k = Σ N_p/k) must be partition-heavy somewhere,
    *      so the union of sketches is a PROVABLE superset.
    *   2. candidates (≤ k·partitions rows — sketch-sized, broadcast) are
    *      exactly re-counted in a second pass semi-joined at the scan,
    *      and filtered by f·k > N. Sketch error never reaches the
    *      output: MG only proposes, the rescan disposes — which is why
    *      the result is hash-exact against the oracle's full GROUP BY.
    *
    * The shuffle carries only candidate tokens (≲ k·P rows) + one scalar
    * total, vs the full vocabulary for the naive plan. */
  val q132HeavyHitters = QueryDef(
    "q132_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val tok = Tables.documents(s, d)
        .select(explode(tokens(lower(col("text")))).as("t"))
      val candidates = tok.as[String].mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap[String, Long]()
        it.foreach { t =>
          if (counts.contains(t)) counts(t) += 1L
          else if (counts.size < HHCounters) counts(t) = 1L
          else {
            counts.mapValuesInPlace((_, v) => v - 1L)
            counts.filterInPlace((_, v) => v > 0L)
          }
        }
        counts.keysIterator
      }.toDF("t").distinct()
      val total = tok.agg(count(lit(1)).as("n"))
      tok.join(broadcast(candidates), Seq("t"), "left_semi")
        .groupBy("t").agg(count(lit(1)).as("f"))
        .crossJoin(broadcast(total))
        .filter(col("f") * HHCounters > col("n"))
        .select(col("t"), col("f"))
        .orderBy(col("f").desc, col("t").asc)
    },
    Some(s"""WITH tok AS (
           |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
           |  FROM documents),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
           |SELECT t, CAST(COUNT(*) AS BIGINT) AS f
           |FROM tok CROSS JOIN tot
           |GROUP BY t, n HAVING COUNT(*) * $HHCounters > n
           |ORDER BY f DESC, t ASC""".stripMargin)
  )

  /** q139's fixed retrieval query: one rare term (df≈25 — carries the
    * score) and two common ones (df≈390 — near-zero idf ballast). */
  val Bm25QueryTerms = Seq("dup", "window", "stream")

  /** q139: BM25 top-15 retrieval (k1 = 1.2, b = 0.75) — the ranking
    * function behind retrieval-augmented data curation (finding the
    * corpus documents most relevant to a probe query, e.g. benchmark
    * decontamination by retrieval rather than q69's exact-overlap).
    *
    * Determinism: ALL-INTEGER arithmetic. With k1 = 6/5 and b = 3/4 and
    * avgdl = total/N, the per-term BM25 factor
    * `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` multiplies through to the
    * integer ratio `44·tf·total / (20·tf·total + 6·total + 18·dl·N)`,
    * floor-scaled ×1000; the Robertson idf's log is replaced by its
    * argument `(2N−2df+1)/(2df+1)` floor-scaled ×1000 (a monotone
    * surrogate — the q21/q59/q101 idea; the ratio spread here, df 25 vs
    * 390, dwarfs the log compression so the blend still ranks rare terms
    * first). Each term score is one identical floor-division sequence in
    * both engines and the doc score an exact BIGINT sum. Magnitude:
    * 44000·tf·total ≲ 7e14 at sf0.1 — far inside Long.
    *
    * Plan shape at 100 TB: the posting filter `token IN (query)` lands
    * directly after the explode, so only the query terms' postings — a
    * vanishing fraction of the token stream — reach the tf shuffle; df
    * and the (N, total) stats frame are metadata-sized broadcasts, and
    * the final top-15 is TakeOrderedAndProject (no global sort). The
    * length-normalization aggregates (dl per doc) reuse the same single
    * explode. */
  /** (doc_id, score_x) for every document matching ≥1 query term — the
    * q139 scorer, shared with q153's rank fusion. */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("token"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("dl")).cast(LongType).as("total"))
    val tf = toks.filter(col("token").isin(Bm25QueryTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).cast(LongType).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        expr("((1000 * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)) * " +
          "((44000 * tf * total) DIV (20 * tf * total + 6 * total + 18 * dl * n_docs))"))
      .groupBy("doc_id").agg(sum(col("term_score")).cast(LongType).as("score_x"))
  }

  val q139Bm25 = QueryDef(
    "q139_bm25",
    (s, d) =>
      bm25Scores(s, d)
        .orderBy(col("score_x").desc, col("doc_id").asc)
        .limit(15),
    Some(s"""WITH toks AS (
           |  SELECT doc_id, lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |  FROM documents),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |                 CAST(SUM(dl) AS BIGINT) AS total FROM dl),
           |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           |       WHERE token IN (${Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
           |       GROUP BY doc_id, token),
           |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
           |scored AS (
           |  SELECT tf.doc_id,
           |    ((1000 * (2 * s.n_docs - 2 * df.df + 1)) // (2 * df.df + 1)) *
           |    ((44000 * tf.tf * s.total) // (20 * tf.tf * s.total + 6 * s.total + 18 * dl.dl * s.n_docs))
           |      AS term_score
           |  FROM tf JOIN df USING (token) JOIN dl ON dl.doc_id = tf.doc_id
           |  CROSS JOIN stats s)
           |SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_x
           |FROM scored GROUP BY doc_id
           |ORDER BY score_x DESC, doc_id LIMIT 15""".stripMargin)
  )

  /** q151: n-gram novelty — per document, the fraction of its DISTINCT
    * word 5-grams that occur in NO other document. The memorization-risk
    * / contribution score between exact dedup (q18: whole-doc) and
    * near-dup (q24: whole-doc similarity): a doc can be globally unique
    * yet contribute almost nothing new at the phrase level (novelty → 0),
    * and that's the doc a curation pass downweights. q69 turned this
    * lens on a benchmark; q151 turns it on the corpus itself.
    *
    * Plan shape at 100 TB: the distinct (doc, gram) stream shuffles by
    * gram for the document-frequency agg and back by doc for the score —
    * the canonical two-agg shingle shape (q59's tf/df), partial aggs on
    * both, no joins wider than the gram stream itself. */
  val q151NgramNovelty = QueryDef(
    "q151_ngram_novelty",
    (s, d) => {
      // spread (r13): the gram explode (tokenize + 5-slice + concat per
      // token position) ran as ONE task on the single-row-group scan;
      // the distinct's exchange exists either way, so the round-robin
      // of (doc_id, text) only buys the explode parallelism (guide §8)
      val dg = Tables.spread(Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(grams5).as("g")).distinct()
      val gdf = dg.groupBy("g").agg(count(lit(1)).as("gdf"))
      dg.join(gdf, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .withColumn("novelty_x1m",
          expr("(n_grams - n_shared) * 1000000 DIV n_grams"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id,
           |    unnest(list_transform(range(1, len(t) - 3),
           |                          i -> array_to_string(t[i:i+4], ' '))) AS g
           |  FROM toks WHERE len(t) >= 5),
           |dg AS (SELECT DISTINCT doc_id, g FROM grams),
           |gdf AS (SELECT g, COUNT(*) AS gdf FROM dg GROUP BY g)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |  CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           |  CAST((COUNT(*) - SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END))
           |    * 1000000 // COUNT(*) AS BIGINT) AS novelty_x1m
           |FROM dg JOIN gdf USING (g)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** q155: BPE pair statistics — the first iteration of byte-pair-
    * encoding tokenizer training: count every adjacent character pair
    * inside every word, weighted by corpus word frequency, and emit the
    * top-30 merge candidates (argmax = the first BPE merge). Training a
    * tokenizer IS a corpus aggregation job, and this is its inner loop:
    * iterating = re-running this agg over the re-segmented symbol
    * stream.
    *
    * Plan shape at 100 TB: the word-frequency agg collapses the token
    * stream to the VOCABULARY (zipf: orders of magnitude smaller), so
    * the pair explode — the widening step — runs over vocab rows, not
    * corpus rows; the pair agg then reduces ~word-length × vocab rows
    * with full map-side combine and the top-30 is TakeOrdered. */
  val q155BpePairs = QueryDef(
    "q155_bpe_pairs",
    (s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .select(lower(col("w")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      wc.filter(length(col("w")) >= 2)
        .select(col("w"), col("cnt"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("cnt"))
        .groupBy("pair").agg(sum(col("cnt")).cast(LongType).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(30)
    },
    Some("""WITH words AS (
           |  SELECT lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS w
           |  FROM documents),
           |wc AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
           |pairs AS (
           |  SELECT unnest(list_transform(range(1, len(w)),
           |    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, cnt
           |  FROM wc WHERE len(w) >= 2)
           |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq
           |FROM pairs GROUP BY pair
           |ORDER BY freq DESC, pair LIMIT 30""".stripMargin)
  )

  /** Max context offset for q158's skip-gram window. */
  val SkipWindow = 3

  /** q158: skip-gram training-pair extraction — (center, context) pairs
    * within a ±[[SkipWindow]] token window, the corpus aggregation that
    * feeds word2vec/GloVe-style embedding training (Mikolov et al. 2013).
    * q130 scores ADJACENT bigrams for collocation strength; q158 widens
    * to the full context window and reports the distance-weighted
    * co-occurrence mass (weight 1/d in exact sixths — 6, 3, 2 for d = 1,
    * 2, 3 — the linear-decay context weighting GloVe uses), which is the
    * actual training-pair frequency table.
    *
    * Plan shape at 100 TB: pairs come from a NARROW per-row generator
    * over the token array (never an exploded positional self-join — that
    * would shuffle the token table twice and explode on long docs); the
    * pair stream is ≤ [[SkipWindow]]× the token stream with ~50-byte
    * rows and full map-side combine on (t1, t2); the zipf-shaped pair
    * vocabulary is the only thing that crosses the exchange, and top-30
    * is TakeOrderedAndProject. Ubiquitous-token skew follows q104/q130's
    * documented df-cap policy. */
  val q158SkipgramPairs = QueryDef(
    "q158_skipgram_pairs",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      val pairs = t.filter(size(col("toks")) >= 2)
        .select(explode(flatten(transform(sequence(lit(1), lit(SkipWindow)), o =>
          transform(
            when(size(col("toks")) > o, sequence(lit(1), size(col("toks")) - o))
              .otherwise(array().cast(ArrayType(IntegerType))),
            i => struct(element_at(col("toks"), i).as("t1"),
              element_at(col("toks"), i + o).as("t2"),
              o.cast(LongType).as("dist")))))).as("p"))
        .select(col("p.t1"), col("p.t2"), col("p.dist"))
      pairs.groupBy("t1", "t2")
        .agg(count(lit(1)).as("pair_n"), sum(expr("6 DIV dist")).as("w_x6"))
        .filter(col("pair_n") >= 5)
        .orderBy(col("w_x6").desc, col("t1").asc, col("t2").asc)
        .limit(30)
    },
    Some(s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
           |  FROM documents),
           |p AS (
           |  SELECT toks[CAST(i AS INTEGER)] AS t1,
           |         toks[CAST(i AS INTEGER) + CAST(o AS INTEGER)] AS t2,
           |         CAST(o AS BIGINT) AS dist
           |  FROM (SELECT toks, o, unnest(range(1, len(toks) - o + 1)) AS i
           |        FROM (SELECT toks, unnest(range(1, ${SkipWindow + 1})) AS o FROM t
           |              WHERE len(toks) >= 2)))
           |SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS pair_n,
           |       CAST(SUM(6 // dist) AS BIGINT) AS w_x6
           |FROM p GROUP BY t1, t2 HAVING COUNT(*) >= 5
           |ORDER BY w_x6 DESC, t1 ASC, t2 ASC LIMIT 30""".stripMargin)
  )

  /** q217: Heaps-law vocabulary-growth curve — scan the corpus in
    * doc_id order, checkpoint at each decile, and report cumulative
    * tokens vs cumulative DISTINCT vocabulary plus the marginal new
    * vocab per decile. This is the "is more data still buying new
    * content?" audit of corpus curation: Heaps' law predicts V(n) ≈
    * K·n^β (β < 1), so vocab-per-token falls monotonically on healthy
    * organic text — a FLAT curve means templated/duplicated input
    * (every decile re-contributes the same boilerplate), a cliff means
    * a source switched mid-corpus. Companion to q151 (n-gram novelty
    * between two snapshots) — this is the whole-corpus longitudinal
    * version.
    *
    * Exactness: a token's decile-of-first-appearance is
    * `(min(doc_id)·10) DIV n_docs + 1` — pure positive integer
    * arithmetic, and cumulative sums over the 10-row decile frame are
    * order-fixed; vocab-per-1M-tokens is fixed-point floor division.
    *
    * Plan shape at 100 TB: the token explode is the ONLY corpus-wide
    * operation; first-appearance is a token-keyed min agg (map-side
    * combinable — the vocabulary, not the corpus, is the shuffle) and
    * per-doc token counts a doc-keyed count agg. Both collapse to a
    * 10-row metadata frame before the windows; the 1-row corpus-count
    * broadcast is the q118 shape. */
  val q217VocabGrowth = QueryDef(
    "q217_vocab_growth",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tok = docs.select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("token"))
      import org.apache.spark.sql.expressions.Window
      val decTok = tok.groupBy("doc_id").agg(count(lit(1)).as("toks"))
        .crossJoin(broadcast(n))
        .select(expr("(doc_id * 10) DIV n_docs + 1").as("decile"), col("toks"))
        .groupBy("decile").agg(sum("toks").as("toks"))
      val newVocab = tok.groupBy("token").agg(min("doc_id").as("first_doc"))
        .crossJoin(broadcast(n))
        .select(expr("(first_doc * 10) DIV n_docs + 1").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_vocab"))
      // 10-row metadata frame: partitionBy(lit(0)) avoids WindowExec's
      // no-partition warning (the q72 idiom)
      val w = Window.partitionBy(lit(0)).orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      decTok.join(newVocab, Seq("decile"), "full_outer")
        .na.fill(0L, Seq("toks", "new_vocab"))
        .withColumn("cum_tokens", sum("toks").over(w))
        .withColumn("cum_vocab", sum("new_vocab").over(w))
        .select(col("decile"), col("new_vocab"), col("cum_tokens"), col("cum_vocab"),
          expr("cum_vocab * 1000000 DIV cum_tokens").as("vocab_per_1m_tok"))
        .orderBy("decile")
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |tok AS (
           |  SELECT doc_id,
           |    lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |  FROM documents),
           |dt AS (SELECT doc_id, COUNT(*) AS toks FROM tok GROUP BY doc_id),
           |dec_tok AS (
           |  SELECT (doc_id * 10) // n_docs + 1 AS decile,
           |    CAST(SUM(toks) AS BIGINT) AS toks
           |  FROM dt, n GROUP BY 1),
           |fd AS (SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY token),
           |nv AS (
           |  SELECT (first_doc * 10) // n_docs + 1 AS decile,
           |    CAST(COUNT(*) AS BIGINT) AS new_vocab
           |  FROM fd, n GROUP BY 1),
           |j AS (
           |  SELECT decile, COALESCE(toks, 0) AS toks,
           |    COALESCE(new_vocab, 0) AS new_vocab
           |  FROM dec_tok FULL OUTER JOIN nv USING (decile))
           |SELECT CAST(decile AS BIGINT) AS decile,
           |  CAST(new_vocab AS BIGINT) AS new_vocab,
           |  CAST(SUM(toks) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
           |  CAST(SUM(new_vocab) OVER (ORDER BY decile) AS BIGINT) AS cum_vocab,
           |  CAST(SUM(new_vocab) OVER (ORDER BY decile) * 1000000
           |    // SUM(toks) OVER (ORDER BY decile) AS BIGINT) AS vocab_per_1m_tok
           |FROM j ORDER BY decile""".stripMargin)
  )

  /** q220: emerging-term drift report — split the corpus into its first
    * and second half (by doc_id order, the ingestion timeline) and rank
    * the terms whose occurrence RATE rose the most: the term-level drill
    * -down under q207's distribution-level KS gate and q151's snapshot
    * novelty count (q207 says THAT the corpus moved, q151 says how much
    * is new — this names WHICH vocabulary is rising, the trending-topics
    * / contamination-onset signal). Rates are per-million-token
    * fixed-point (each a positive floor division, so the Spark-DIV vs
    * DuckDB-`//` truncation question never arises; the delta is a
    * SUBTRACTION of two already-floored positives), min-support ≥ 5 in
    * the rising half keeps noise terms out, ties break on token.
    *
    * Scale: one token explode feeding a single conditional agg (the
    * half indicator is a projection — no per-half scans, no join of two
    * count tables); the 1-row (corpus size, per-half totals) broadcast
    * is the q118 shape; the final ranking is a token-keyed count table
    * through TakeOrderedAndProject. */
  val q220TermDrift = QueryDef(
    "q220_term_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tok = docs.select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("token"))
        .crossJoin(broadcast(n))
        .select(col("token"), (col("doc_id") * 2 >= col("n_docs")).as("recent"))
      val counts = tok.groupBy("token")
        .agg(sum(when(!col("recent"), 1L).otherwise(0L)).as("cnt_old"),
          sum(when(col("recent"), 1L).otherwise(0L)).as("cnt_new"))
      val totals = counts.agg(sum("cnt_old").as("t_old"), sum("cnt_new").as("t_new"))
      counts.filter(col("cnt_new") >= 5)
        .crossJoin(broadcast(totals))
        .select(col("token"), col("cnt_old"), col("cnt_new"),
          expr("cnt_old * 1000000 DIV t_old").as("rate_old_x1m"),
          expr("cnt_new * 1000000 DIV t_new").as("rate_new_x1m"))
        .withColumn("delta_x1m", col("rate_new_x1m") - col("rate_old_x1m"))
        .orderBy(col("delta_x1m").desc, col("token").asc)
        .limit(20)
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |tok AS (
           |  SELECT lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token,
           |    doc_id * 2 >= n_docs AS recent
           |  FROM documents, n),
           |c AS (
           |  SELECT token,
           |    CAST(SUM(CASE WHEN recent THEN 0 ELSE 1 END) AS BIGINT) AS cnt_old,
           |    CAST(SUM(CASE WHEN recent THEN 1 ELSE 0 END) AS BIGINT) AS cnt_new
           |  FROM tok GROUP BY token),
           |t AS (SELECT CAST(SUM(cnt_old) AS BIGINT) AS t_old,
           |             CAST(SUM(cnt_new) AS BIGINT) AS t_new FROM c)
           |SELECT token, cnt_old, cnt_new,
           |  CAST(cnt_old * 1000000 // t_old AS BIGINT) AS rate_old_x1m,
           |  CAST(cnt_new * 1000000 // t_new AS BIGINT) AS rate_new_x1m,
           |  CAST(cnt_new * 1000000 // t_new - cnt_old * 1000000 // t_old AS BIGINT)
           |    AS delta_x1m
           |FROM c, t WHERE cnt_new >= 5
           |ORDER BY delta_x1m DESC, token ASC LIMIT 20""".stripMargin)
  )

  /** q237: per-source signature terms — for every source, the top-5
    * tokens whose occurrence RATE most exceeds the rest of the corpus
    * (smoothed rate-ratio lift): the mixture EXPLAINER next to q72's
    * budget report — "what does this source contribute that the others
    * don't" is how over/under-sampling decisions get justified, and a
    * source whose signature terms are boilerplate is a dedup target,
    * not a diversity win. q59 ranks terms within a DOCUMENT, q220
    * across TIME; this ranks them across SOURCES.
    *
    * Exactness: staged fixed-point divisions (rate_in, rate_out ×1e6,
    * then the ratio ×1e3 with +1 smoothing on the denominator) — every
    * division positive-operand floor, identical in both engines;
    * min-support 5 inside the source; ties break on token.
    *
    * Scale: one token explode into a (source, token) count table
    * (map-side combinable); global counts derive from it by a second
    * agg — the corpus shuffles once; the rank window partitions by
    * source over the count table. */
  val q237SourceSignature = QueryDef(
    "q237_source_signature",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(lower(col("text")))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val totS = st.groupBy("source").agg(sum("cnt").as("t_src"))
      val totT = st.groupBy("token").agg(sum("cnt").as("cnt_all"))
      val tot = st.agg(sum("cnt").as("t_all"))
      val scored = st.join(totS, Seq("source")).join(totT, Seq("token"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") >= 5)
        .select(col("source"), col("token"), col("cnt"),
          expr("cnt * 1000000 DIV t_src").as("rate_in_x1m"),
          expr("(cnt_all - cnt) * 1000000 DIV (t_all - t_src)").as("rate_out_x1m"))
        .withColumn("lift_x1k",
          expr("rate_in_x1m * 1000 DIV (rate_out_x1m + 1)"))
      val w = Window.partitionBy("source")
        .orderBy(col("lift_x1k").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 5)
        .select("source", "rk", "token", "cnt", "lift_x1k")
        .orderBy("source", "rk")
    },
    Some("""WITH st AS (
           |  SELECT source,
           |    lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |  FROM documents),
           |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM st GROUP BY 1, 2),
           |ts AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS t_src FROM c GROUP BY 1),
           |tt AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt_all FROM c GROUP BY 1),
           |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_all FROM c),
           |scored AS (
           |  SELECT c.source, c.token, c.cnt,
           |    c.cnt * 1000000 // ts.t_src AS rate_in,
           |    (tt.cnt_all - c.cnt) * 1000000 // (t.t_all - ts.t_src) AS rate_out
           |  FROM c JOIN ts USING (source) JOIN tt USING (token), t
           |  WHERE c.cnt >= 5),
           |l AS (
           |  SELECT source, token, cnt,
           |    CAST(rate_in * 1000 // (rate_out + 1) AS BIGINT) AS lift_x1k,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY rate_in * 1000 // (rate_out + 1) DESC, token ASC) AS BIGINT)
           |      AS rk
           |  FROM scored)
           |SELECT source, rk, token, cnt, lift_x1k
           |FROM l WHERE rk <= 5 ORDER BY source, rk""".stripMargin)
  )

  /** q239: top word-TRIGRAMS through the NATIVE table function —
    * `functions.WordNGrams`, a Catalyst `Generator`, i.e. the real
    * UDTF surface (§2.7's ladder previously topped out at
    * explode-of-a-built-array): the planner wraps it in a `Generate`
    * node and rows STREAM out per input row with no per-row n-gram
    * array materialized, and pure-SQL users reach it as
    * `LATERAL VIEW word_ngrams(text, 3)` — the whole query below is
    * one SQL text. The oracle is the same n-gram SQL the q39
    * composition family uses, so the generator's tokenization, window
    * walk, and position numbering are all hash-pinned against the
    * declarative form.
    *
    * Scale: identical plan family to q39 (Generate → hash agg →
    * TakeOrderedAndProject) minus the per-row array allocation. */
  val q239NgramUdtf = QueryDef(
    "q239_ngram_udtf",
    (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("graft_q239_docs")
      s.sql("""SELECT ngram, COUNT(*) AS cnt
              |FROM graft_q239_docs
              |LATERAL VIEW word_ngrams(lower(text), 3) t AS pos, ngram
              |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin)
    },
    Some("""SELECT ngram, COUNT(*) AS cnt FROM (
           |  SELECT unnest(list_transform(range(1, len(t) - 1),
           |    i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]
           |      || ' ' || t[CAST(i AS INTEGER) + 2])) AS ngram
           |  FROM (SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           |        FROM documents) d
           |  WHERE len(t) >= 3) b
           |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin)
  )

  /** q249: GROUPED heavy hitters through the native `mg_topk`
    * [[graft.functions.MisraGriesSketch]] aggregate — the engine-level
    * generalization of q132: that query's `mapPartitions` sketch can
    * only propose GLOBAL candidates, because the sketch lives per
    * partition; `mg_topk` is a real Catalyst `TypedImperativeAggregate`
    * (serialize / merge / partial-agg contract, the machinery under
    * Spark's own `percentile_approx`), so it composes with `groupBy`
    * and proposes candidates PER GROUP — here, per-language token
    * heavy hitters, the "what dominates each slice" question a corpus
    * mixture report asks. The propose/verify discipline is unchanged:
    * capacity 64 guarantees every token with in-group frequency
    * > n_g/65 survives the merge tree (Agarwal et al. mergeable
    * summaries), the exact re-count keeps tokens with f·32 > n_g — a
    * strictly stricter threshold, so the sketch is a provable superset
    * and sketch error NEVER reaches the hash-checked output. State is
    * O(64) per language through the shuffle; the re-count semi-join
    * carries only candidate (lang, token) pairs. */
  val q249GroupedHeavyHitters = QueryDef(
    "q249_grouped_heavy_hitters",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(lower(col("text")))).as("t"))
      val cand = tok.groupBy("lang")
        .agg(graft.functions.GraftFunctions.mgTopK(col("t"), lit(64)).as("cands"))
        .select(col("lang"), explode(col("cands")).as("t"))
      val tot = tok.groupBy("lang").agg(count(lit(1)).as("n"))
      tok.join(broadcast(cand), Seq("lang", "t"), "left_semi")
        .groupBy("lang", "t").agg(count(lit(1)).as("f"))
        .join(broadcast(tot), "lang")
        .filter(col("f") * 32 > col("n"))
        .select(col("lang"), col("t"), col("f"))
        .orderBy(col("lang").asc, col("f").desc, col("t").asc)
    },
    Some("""WITH tok AS (
           |  SELECT lang,
           |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
           |  FROM documents),
           |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY lang)
           |SELECT tok.lang AS lang, t, CAST(COUNT(*) AS BIGINT) AS f
           |FROM tok JOIN tot ON tok.lang = tot.lang
           |GROUP BY tok.lang, t, n HAVING COUNT(*) * 32 > n
           |ORDER BY lang ASC, f DESC, t ASC""".stripMargin)
  )

  /** q251: BPE MERGE ROUNDS — the actual tokenizer-training step, where
    * q155 stops at the first pair table: three full rounds of
    * (count adjacent symbol pairs over the weighted vocabulary → pick
    * the argmax pair → merge it everywhere → recount). The merge is the
    * subtle part: replacing the chosen 2-symbol pair with a fresh
    * 1-char mark makes re-tokenization a plain `replace()` — whose
    * left-to-right non-overlapping semantics is EXACTLY BPE's greedy
    * merge order, and identical in Spark and DuckDB, so a
    * data-dependent iterative algorithm stays oracle-exact (the oracle
    * unrolls the three rounds with scalar subqueries for the argmax).
    * Scale shape: everything is VOCABULARY-sized after the first
    * group-by — the corpus is touched once; each round is one pair
    * explode + hash agg over vocab rows with full map-side combine, and
    * the argmax is the only driver value (1 row/round, the k-means
    * centroid pattern). Words are restricted to `^[a-z]+$` so the
    * digit marks 0/1/2 cannot collide with real symbols. */
  val q251BpeMergeRounds = QueryDef(
    "q251_bpe_merge_rounds",
    (s, d) => {
      import s.implicits._
      val w0 = Tables.documents(s, d)
        .select(explode(tokens(lower(col("text")))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).cast(LongType).as("cnt"))
        .localCheckpoint() // vocab-sized; three rounds re-read it
      def pairCounts(words: DataFrame): DataFrame = words
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("cnt"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").cast(LongType).as("f"))
      var words = w0
      val merges = (1 to 3).map { r =>
        val top = pairCounts(words)
          .orderBy(col("f").desc, col("pair").asc).limit(1).collect()(0)
        val (pair, f) = (top.getString(0), top.getLong(1))
        val mark = (r - 1).toString
        words = words.select(
          expr(s"replace(w, '$pair', '$mark')").as("w"), col("cnt"))
        (r.toLong, pair, f)
      }
      merges.toDF("round", "pair", "freq").orderBy("round")
    },
    Some("""WITH w0 AS (
           |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
           |    FROM documents) t
           |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
           |p1 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w0 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m1 AS (SELECT pair, CAST(f AS BIGINT) AS f FROM p1 ORDER BY f DESC, pair ASC LIMIT 1),
           |w1 AS (SELECT replace(w, (SELECT pair FROM m1), '0') AS w, cnt FROM w0),
           |p2 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w1 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m2 AS (SELECT pair, CAST(f AS BIGINT) AS f FROM p2 ORDER BY f DESC, pair ASC LIMIT 1),
           |w2 AS (SELECT replace(w, (SELECT pair FROM m2), '1') AS w, cnt FROM w1),
           |p3 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w2 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m3 AS (SELECT pair, CAST(f AS BIGINT) AS f FROM p3 ORDER BY f DESC, pair ASC LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS round, pair, f AS freq FROM m1
           |UNION ALL SELECT CAST(2 AS BIGINT), pair, f FROM m2
           |UNION ALL SELECT CAST(3 AS BIGINT), pair, f FROM m3
           |ORDER BY round""".stripMargin)
  )

  /** q257: TOKENIZER FERTILITY evaluation — the acceptance test for
    * q251's training step: apply the three learned merges to the corpus
    * and measure symbols-per-word-occurrence ×1e6 PER LANGUAGE, before
    * and after. Fertility (how many symbols a tokenizer spends per
    * word) is the standard tokenizer-quality metric, and the per-lang
    * split is the fairness question multilingual corpora ask (merges
    * trained on the GLOBAL vocabulary compress dominant languages
    * more). Mechanics reuse q251's oracle-exactness trick: merges are
    * chosen on the global vocabulary (argmax per round via scalar
    * subquery / driver 1-row collect), applied as chained `replace()`
    * (left-to-right non-overlapping ≡ BPE greedy order in both
    * engines), fertility integer-exact via ×1e6 DIV. The corpus is
    * touched once; both fertility sums are one hash agg over the
    * (lang, word) vocabulary. */
  val q257TokenizerFertility = QueryDef(
    "q257_tokenizer_fertility",
    (s, d) => {
      val w0l = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(lower(col("text")))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("lang", "w").agg(count(lit(1)).cast(LongType).as("cnt"))
        .localCheckpoint() // (lang, word) vocab; re-read by both passes
      def pairCounts(words: DataFrame): DataFrame = words
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("cnt"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").cast(LongType).as("f"))
      var vocab = w0l.groupBy("w").agg(sum("cnt").cast(LongType).as("cnt"))
      val marks = Seq("0", "1", "2")
      val merges = marks.zipWithIndex.map { case (mark, i) =>
        val pair = pairCounts(vocab)
          .orderBy(col("f").desc, col("pair").asc).limit(1)
          .collect()(0).getString(0)
        vocab = vocab.select(expr(s"replace(w, '$pair', '$mark')").as("w"), col("cnt"))
        (pair, mark)
      }
      // apply the learned merge chain to the per-lang vocabulary
      val w3 = merges.foldLeft(col("w")) { case (c, (pair, mark)) =>
        org.apache.spark.sql.functions.replace(c, lit(pair), lit(mark))
      }
      w0l.groupBy("lang")
        .agg(sum("cnt").as("n_words"),
          sum(length(col("w")).cast(LongType) * col("cnt")).as("sym_before"),
          sum(length(w3).cast(LongType) * col("cnt")).as("sym_after"))
        .select(col("lang"), col("n_words"),
          expr("sym_before * 1000000 DIV n_words").as("fert_before_x1m"),
          expr("sym_after * 1000000 DIV n_words").as("fert_after_x1m"))
        .orderBy("lang")
    },
    Some("""WITH w0l AS (
           |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |    SELECT lang,
           |      unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
           |    FROM documents) t
           |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY lang, w),
           |w0 AS (SELECT w, SUM(cnt) AS cnt FROM w0l GROUP BY w),
           |p1 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w0 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m1 AS (SELECT pair FROM p1 ORDER BY f DESC, pair ASC LIMIT 1),
           |w1 AS (SELECT replace(w, (SELECT pair FROM m1), '0') AS w, cnt FROM w0),
           |p2 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w1 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m2 AS (SELECT pair FROM p2 ORDER BY f DESC, pair ASC LIMIT 1),
           |w2 AS (SELECT replace(w, (SELECT pair FROM m2), '1') AS w, cnt FROM w1),
           |p3 AS (
           |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(cnt) AS f
           |  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM w2 WHERE len(w) >= 2) x
           |  GROUP BY pair),
           |m3 AS (SELECT pair FROM p3 ORDER BY f DESC, pair ASC LIMIT 1),
           |merged AS (
           |  SELECT lang,
           |    replace(replace(replace(w, (SELECT pair FROM m1), '0'),
           |      (SELECT pair FROM m2), '1'), (SELECT pair FROM m3), '2') AS w3,
           |    w, cnt
           |  FROM w0l)
           |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
           |  CAST(SUM(len(w) * cnt) * 1000000 // SUM(cnt) AS BIGINT) AS fert_before_x1m,
           |  CAST(SUM(len(w3) * cnt) * 1000000 // SUM(cnt) AS BIGINT) AS fert_after_x1m
           |FROM merged GROUP BY lang ORDER BY lang""".stripMargin)
  )

  /** q271: DEGENERATE-LOOP detection — the "model output stuck in a
    * loop" / low-quality-boilerplate filter (q67 measures global
    * duplicate-token FRACTIONS; this finds CONSECUTIVE periodicity,
    * which a global fraction misses): per doc and period k ∈ {1, 2},
    * the longest run of positions where `t[i] = t[i−k]` — period-1 runs
    * catch "the the the", period-2 catches "ab ab ab". Computed as a
    * per-row higher-order-function fold (flags via `transform` over the
    * index range, longest-true-streak via `aggregate` carrying
    * (current, best) in a struct) — zero shuffles before the final
    * orderBy, the q57/q67 per-row-algebra discipline: at 100 TB the
    * corpus is touched once and only (doc_id, r1, r2) rows for the
    * ~10% loopy tail ever move. The oracle computes the same runs the
    * relational way (positional unnest + lag + gaps-and-islands), so
    * the two independent formulations must agree run-for-run. */
  val q271LoopDetect = QueryDef(
    "q271_loop_detect",
    (s, d) => {
      // t is a [[bind]] lambda variable, NEVER a select'd column:
      // CollapseProject would inline the split into every element_at
      // reference and the per-row fold would go O(n²) (measured: 14.6 s
      // at sf0.1 inlined vs sub-second bound — the q57 lesson)
      def maxRun(t: Column, k: Int): Column = {
        val flags = transform(sequence(lit(k), size(t) - 1), i =>
          when(element_at(t, i + 1) === element_at(t, i - k + 1), lit(1))
            .otherwise(lit(0)))
        val folded = aggregate(flags,
          struct(lit(0).as("cur"), lit(0).as("best")),
          (acc, f) => {
            val cur = when(f === 1, acc.getField("cur") + 1).otherwise(lit(0))
            struct(cur.as("cur"),
              greatest(acc.getField("best"), cur).as("best"))
          },
          acc => acc.getField("best"))
        when(size(t) <= k, lit(0L)).otherwise(folded.cast(LongType))
      }
      Tables.documents(s, d)
        .select(col("doc_id"),
          bind(tokens(lower(col("text"))),
            t => struct(maxRun(t, 1).as("r1"), maxRun(t, 2).as("r2"))).as("rs"))
        .select(col("doc_id"), col("rs.r1").as("r1"), col("rs.r2").as("r2"))
        .filter(col("r1") >= 2 || col("r2") >= 2)
        .orderBy("doc_id")
    },
    Some("""WITH l AS (
           |  SELECT doc_id,
           |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
           |  FROM documents),
           |tok AS (
           |  SELECT doc_id, UNNEST(l) AS t, UNNEST(range(1, len(l) + 1)) AS i
           |  FROM l),
           |f AS (
           |  SELECT doc_id, i,
           |    CASE WHEN t = lag(t, 1) OVER w THEN 1 ELSE 0 END AS f1,
           |    CASE WHEN t = lag(t, 2) OVER w THEN 1 ELSE 0 END AS f2
           |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
           |runs1 AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run FROM (
           |    SELECT doc_id, i,
           |      i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
           |    FROM f WHERE f1 = 1) GROUP BY doc_id, grp),
           |m1 AS (SELECT doc_id, MAX(run) AS r1 FROM runs1 GROUP BY doc_id),
           |runs2 AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run FROM (
           |    SELECT doc_id, i,
           |      i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
           |    FROM f WHERE f2 = 1) GROUP BY doc_id, grp),
           |m2 AS (SELECT doc_id, MAX(run) AS r2 FROM runs2 GROUP BY doc_id)
           |SELECT d.doc_id, CAST(COALESCE(m1.r1, 0) AS BIGINT) AS r1,
           |  CAST(COALESCE(m2.r2, 0) AS BIGINT) AS r2
           |FROM documents d
           |LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id)
           |WHERE COALESCE(m1.r1, 0) >= 2 OR COALESCE(m2.r2, 0) >= 2
           |ORDER BY doc_id""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q18DedupExact, q19TokenTopK, q20TextStats, q21LangId,
    q22Fingerprint, q39Bigrams, q55TokenCounts, q57Winnowing, q59Tfidf,
    q66PiiRedact, q67Repetition, q69Decontamination, q70DecontamPool,
    q72MixtureReport, q101LmFluency, q104InvertedIndex, q124NbClassifier,
    q130PmiCollocations, q132HeavyHitters, q139Bm25, q151NgramNovelty,
    q155BpePairs, q158SkipgramPairs, q217VocabGrowth, q220TermDrift,
    q237SourceSignature, q239NgramUdtf, q249GroupedHeavyHitters,
    q251BpeMergeRounds, q257TokenizerFertility, q271LoopDetect)
}
