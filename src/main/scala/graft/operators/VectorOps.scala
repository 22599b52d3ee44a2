package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * SURVEY.md §2.5 [X] (LLM: similarity search).
  *
  * All arithmetic is double (arrays cast element-wise before any math) and
  * sums are sequential left-folds (`aggregate` over the array), so results
  * are deterministic and engine-portable; similarities are rounded to 6
  * decimals before ranking with a vec_id tiebreak, making the top-k stable.
  *
  * Scale story:
  *  - brute force (q27): one broadcast of the query vector + a single
  *    narrow pass with TakeOrderedAndProject — optimal for one query at
  *    any corpus size; cost is a full scan.
  *  - LSH-bucketed (q28): random-hyperplane signatures (deterministic
  *    md5-seeded planes) give each vector a bucket; a query probes only
  *    its bucket (and neighbors at the next distance). The rows-only check
  *    applies; recall vs q27 is asserted in ScalaTest.
  *  - batch all-pairs near-dup by cosine (q29): pairs above a cosine
  *    threshold — the embedding-cosine near-dup dedup path; bucketed by
  *    LSH signature at scale, exact within buckets here.
  */
object VectorOps {

  /** Element-wise float→double cast. */
  private def toD(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Sequential-fold dot product of two double arrays (kept for the LSH
    * projection, where one side is a per-plane virtual vector). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine via the native codegen'd expression
    * [[graft.functions.CosineSimilarity]] — one fused pass, no
    * intermediate arrays, bit-identical to the sequential fold. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** q27: brute-force cosine top-10 against the vec_id=0 query vector.
    * The query vector is a 1-row broadcast crossJoin (a scalar at plan
    * level); ranking uses round(cos,6) + vec_id so ties are stable. */
  val q27CosineTopK = QueryDef(
    "q27_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(toD(col("embedding")).as("qv"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          round(cosine(toD(col("embedding")), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, CAST(label AS BIGINT) AS label,
           |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) AS sim
           |FROM embeddings WHERE vec_id <> 0
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
  )

  private val NumPlanes = 4
  private val Dim = 64 // embeddings table vector width

  /** Deterministic pseudo-random hyperplane, md5-derived per (plane, dim),
    * in [-0.5, 0.5). Computed ONCE on the driver and embedded as an array
    * literal — the previous in-plan form recomputed planes×dim md5 digests
    * per row. */
  private def planeVec(p: Int): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Dim) { i =>
      val hex = digest.digest(s"plane$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
  }

  /** Random-hyperplane LSH bucket id (NumPlanes sign bits); the projection
    * is the native fused kernel against the constant plane (cosine sign ==
    * dot sign, norms are positive). */
  private def lshBucket(vec: Column): Column =
    (0 until NumPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, typedLit(planeVec(p)), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe LSH ANN query: probe every bucket within Hamming distance
    * `radius` of the query's bucket, exact-rank inside the probed set.
    * radius trades recall for scan fraction: sum_{i<=r} C(planes,i)/2^planes
    * of the corpus. Random uncorrelated embeddings (this synthetic set)
    * need a bigger radius than real clustered embeddings would. */
  def annLshQuery(s: SparkSession, d: String, radius: Int): DataFrame = {
    graft.Setup(s)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), toD(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v")))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= radius)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        round(cosine(col("v"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** The DuckDB-side bucket expression: the SAME hyperplane literals
    * rendered into SQL (Double.toString is shortest-roundtrip, so DuckDB
    * parses back the identical doubles), the projection as an explicit
    * left-associated sum — bit-identical to Spark's sequential
    * `aggregate` fold (the fold's extra leading `0.0 + x` term can only
    * turn -0.0 into +0.0, which cannot change the `>= 0` sign test). */
  private def bucketSqlExpr: String =
    (0 until NumPlanes).map { p =>
      val proj = planeVec(p).zipWithIndex
        .map { case (w, i) => s"v[${i + 1}]*($w)" }.mkString(" + ")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** q28: LSH-bucketed ANN — hyperplane-sign buckets, multi-probe radius 1
    * (query bucket + its `planes` neighbors → (1+planes)/2^planes of the
    * corpus scanned). The oracle reproduces bucket assignment, multi-probe
    * filter and exact rank in DuckDB from the same plane literals; recall
    * behavior vs brute force is additionally asserted in VectorOpsSpec. */
  val q28AnnLsh = QueryDef(
    "q28_ann_lsh",
    (s, d) => annLshQuery(s, d, radius = 1),
    Some(s"""WITH e AS (
           |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (
           |  SELECT vec_id, label, v, CAST($bucketSqlExpr AS BIGINT) AS bucket FROM e),
           |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
           |SELECT b.vec_id, CAST(b.label AS BIGINT) AS label,
           |  round(list_cosine_similarity(b.v, q.qv), 6) AS sim
           |FROM b, q
           |WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qbucket)) <= 1
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
  )

  /** q56: IVF-style ANN — the inverted-file complement to q28's
    * hyperplane LSH (SURVEY similarity-search scale path: "IVF or
    * LSH-bucketed"). Coarse quantizer: 8 deterministic centroids (the
    * vectors with vec_id 1..8 — a fixed, data-independent choice that both
    * engines can reproduce; a production build would k-means them).
    * Every vector is assigned to its nearest centroid (one broadcast +
    * one narrow pass + per-vector top-1 window); the query probes its
    * `nprobe`=2 nearest lists and exact-ranks only those lists' members —
    * at scale the assignment is a write-time partitioning (cluster BY
    * list id), so a probe scans nprobe/nlists of the corpus.
    * All ranking on round(cos,6) with id tiebreaks → deterministic. */
  val q56AnnIvf = QueryDef(
    "q56_ann_ivf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), toD(col("embedding")).as("v"))
      val cents = emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
      val assign = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("v"), col("cid"),
          round(cosine(col("v"), col("cv")), 6).as("csim"))
        .withColumn("rn", row_number().over(w))
      val lists = assign.filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("v"), col("cid"))
      val qprobe = assign.filter(col("vec_id") === 0 && col("rn") <= 2)
        .select(col("cid"))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      lists.join(broadcast(qprobe), Seq("cid"), "left_semi")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          round(cosine(col("v"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""WITH e AS (
           |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
           |a AS (
           |  SELECT e.vec_id, cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, cid) AS rn
           |  FROM e CROSS JOIN c),
           |lists AS (SELECT vec_id, cid FROM a WHERE rn = 1),
           |qp AS (SELECT cid FROM a WHERE vec_id = 0 AND rn <= 2)
           |SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           |  round(list_cosine_similarity(e.v, (SELECT v FROM e WHERE vec_id = 0)), 6) AS sim
           |FROM e
           |JOIN lists l ON l.vec_id = e.vec_id
           |WHERE l.cid IN (SELECT cid FROM qp) AND e.vec_id <> 0
           |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin)
  )

  /** q29: embedding-cosine near-duplicate pairs (cosine >= 0.45 here so the
    * answer set stays tiny) — all-pairs exact within the bounded corpus;
    * the LSH bucket (q28) is the candidate generator at scale. */
  val q29CosinePairs = QueryDef(
    "q29_cosine_pairs",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .filter(col("vec_id") < 500)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val a = emb.select(col("vec_id").as("v1"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("v2"), col("v").as("vb"))
      a.join(b, col("v1") < col("v2"))
        .select(col("v1"), col("v2"), round(cosine(col("va"), col("vb")), 6).as("sim"))
        .filter(col("sim") >= 0.45)
        .orderBy("v1", "v2")
    },
    Some("""SELECT a.vec_id AS v1, b.vec_id AS v2,
           |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE a.vec_id < 500 AND b.vec_id < 500
           |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
           |ORDER BY v1, v2""".stripMargin)
  )

  /** q38: batch ANN — top-3 neighbors for each of 5 query vectors in ONE
    * pass: broadcast the query set, score all (query, candidate) pairs,
    * per-query window top-k. The per-query rank replaces 5 separate scans;
    * at scale the candidate side is scanned once regardless of |queries|. */
  val q38BatchAnn = QueryDef(
    "q38_batch_ann",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), toD(col("embedding")).as("qv"))
      val cands = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
      cands.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    },
    Some("""SELECT qid, rank, vec_id, sim FROM (
           |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
           |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS sim,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC,
           |               c.vec_id) AS rank
           |  FROM embeddings q CROSS JOIN embeddings c
           |  WHERE q.vec_id < 5 AND c.vec_id >= 5) t
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
  )

  /** q62: int8-quantized similarity search — the memory-bound-regime
    * variant: per-vector symmetric quantization q_i = floor(127·x_i/amax
    * + 0.5) (int8 range, 4× smaller than float32, 8× smaller than the
    * doubles Spark would box), then ranking by the INTEGER dot product of
    * quantized vectors. At 100 TB of embeddings, quantization is what
    * makes the candidate set fit executor memory/page cache — and the
    * integer score is exactly reproducible in any engine (|q|≤127, 64
    * dims → |dot| ≤ 64·127² < 2^21, no overflow anywhere), unlike float
    * ranking which needs rounding discipline.
    *
    * floor(x+0.5) is used instead of round() because round-half-up on
    * negative values differs between engines' HALF_UP/HALF_EVEN variants;
    * floor is IEEE-identical. amax=0 vectors (all-zero) quantize to zero.
    * Tiebreak by vec_id keeps equal integer scores stable. */
  val q62QuantizedAnn = QueryDef(
    "q62_quantized_ann",
    (s, d) => {
      // amax is hoisted to its own column: referenced from inside the
      // transform lambda it would be re-evaluated per ELEMENT (64× per
      // row — Spark does not CSE across lambda boundaries)
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
        .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
        .select(col("vec_id"),
          transform(col("v"), x =>
            when(col("amax") === 0.0, lit(0L))
              .otherwise(floor(x * 127.0 / col("amax") + 0.5).cast(LongType))).as("q"))
      val query = emb.filter(col("vec_id") === 0).select(col("q").as("qq"))
      // fused native kernel (functions.LongDot) — no per-row product array
      val idot = graft.functions.GraftFunctions.longDot(col("q"), col("qq"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(query))
        .select(col("vec_id"), idot.as("iscore"))
        .orderBy(col("iscore").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |    list_transform(CAST(embedding AS DOUBLE[]), x -> CASE
           |      WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0 THEN 0
           |      ELSE CAST(floor(x * 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) + 0.5) AS BIGINT)
           |    END) AS qv
           |  FROM embeddings),
           |qq AS (SELECT qv AS query_v FROM q WHERE vec_id = 0)
           |SELECT c.vec_id,
           |  CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * qq.query_v[i])) AS BIGINT) AS iscore
           |FROM q c, qq WHERE c.vec_id <> 0
           |ORDER BY iscore DESC, vec_id LIMIT 10""".stripMargin)
  )

  private val PairBands = 16
  private val PairBits = 16

  /** 384 deterministic gaussian hyperplanes for the pair-banding signature
    * (engine-side only — q68's oracle is the EXACT answer, so the planes
    * never need SQL rendering). `java.util.Random.nextGaussian` is a
    * specified algorithm, so the literals are identical on every JVM. */
  private lazy val pairPlanes: IndexedSeq[Array[Double]] = {
    val r = new java.util.Random(20257)
    IndexedSeq.fill(PairBands * PairBits)(Array.fill(Dim)(r.nextGaussian()))
  }

  /** q68: embedding near-dup PAIRS at scale — the LSH candidate generator
    * for q29's brute-force all-pairs cosine. The driver's embeddings are
    * near-orthogonal (max background cosine ≈ 0.5 at sf0.01, ≈ 0.7
    * expected at 13M pairs), so the query PLANTS near-duplicates the way
    * q66 injects PII: every 20th vector gets a copy with per-dimension
    * scaling 1 + ((j mod 7) − 3)·0.02 — cos(v, copy) ≥ 2√(0.94·1.06)/2 ≈
    * 0.998 PROVABLY (worst-case mass split between extreme factors),
    * while scaled background pairs stay under ~0.75. The 0.9 verify
    * threshold therefore has a hard margin on BOTH sides at every scale
    * factor — no float-tie risk in the hash compare.
    *
    * Shape (the 100 TB path, mirroring q52): per-row signature = 16 bands
    * × 16 hyperplane sign bits, each bit a CODEGEN'd [[cosine]] against a
    * constant plane (sign(cos) = sign(dot)); band keys are 8-byte
    * xxhash64 with the band index folded in; vectors ride the band
    * shuffle so the exact-cosine verify filters the band join's output
    * INLINE, before the distinct. Banding miss for a ≥0.998 pair is
    * (1 − 0.98^16)^16 ≈ 1e-9; a random pair collides somewhere with
    * probability 16/2^16 ≈ 0.02%, all killed by the verify — the output
    * equals the exact quadratic answer, which IS the oracle. */
  /** q68's engine, reusable at any scale (the [[graft.Scale]] `vnd` phase
    * drives it): banded LSH near-dup pairs over (vec_id, v) rows with
    * an inline exact-cosine verify at `threshold`. */
  def lshNearDupPairs(allv: DataFrame, threshold: Double): DataFrame = {
    val bandHashes = (0 until PairBands).map { b =>
      val bits = (0 until PairBits).map { r =>
        when(cosine(col("v"), typedLit(pairPlanes(b * PairBits + r))) >= 0,
          lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
      xxhash64(lit(b), bits)
    }
    // band hashes computed ONCE per vector (64 plane cosines each) and
    // checkpointed — both self-join sides re-derived the whole banding
    // lineage before (r12); the materialized frame adds only 16 longs
    // per vector on top of the vectors themselves
    val hashed = allv.select(col("vec_id"), col("v"),
      array(bandHashes: _*).as("bh")).localCheckpoint()
    val banded = hashed.select(col("vec_id"), col("v"),
      explode(col("bh")).as("bhash"))
    banded.as("x").join(banded.as("y"),
        col("x.bhash") === col("y.bhash") && col("x.vec_id") < col("y.vec_id"))
      .filter(cosine(col("x.v"), col("y.v")) >= threshold) // inline exact verify
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"))
      .distinct()
  }

  /** The q68 planted-copy perturbation: per-dimension scale
    * 1 + ((j mod 7) − 3)·0.02 — cos(v, copy) ≥ 0.998 provably. */
  def perturb(v: Column): Column =
    transform(sequence(lit(1), size(v)),
      j => element_at(v, j) * (lit(1.0) + (j % 7 - 3).cast(DoubleType) * lit(0.02)))

  val q68EmbeddingLshPairs = QueryDef(
    "q68_embedding_lsh_pairs",
    (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val planted = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), perturb(col("v")).as("v"))
      // spread, not repartition(32): scale-adaptive parallelism for the
      // per-vector banding compute (the 32 was a local-core constant)
      val allv = Tables.spread(base.unionByName(planted))
      lshNearDupPairs(allv, 0.9).orderBy("d1", "d2")
    },
    Some("""WITH base AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |planted AS (
           |  SELECT vec_id + 1000000 AS vec_id,
           |    list_transform(range(1, 1 + len(v)),
           |      j -> v[j] * (1 + ((j % 7) - 3) * 0.02)) AS v
           |  FROM base WHERE vec_id % 20 = 0),
           |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
           |SELECT a.vec_id AS d1, b.vec_id AS d2
           |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
           |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
           |ORDER BY d1, d2""".stripMargin)
  )

  /** q78: semantic dedup (the SemDeDup shape) — cluster the embedding
    * space with a coarse quantizer, then drop near-identical pairs WITHIN
    * each cluster only: assignment reuses q56's deterministic 8-centroid
    * quantizer (vec_id 1..8; production would k-means them), within-
    * cluster pairs at round(cos,6) ≥ 0.45 mark the HIGHER vec_id as
    * dropped (the greedy SemDeDup rule). Output: per-cluster members /
    * duplicate pairs / drops / survivors.
    *
    * The point vs q29 (exact all-pairs at the same threshold): the
    * pairwise pass runs per-cluster — at scale the self-join's key is the
    * cluster id, so cost is Σ|cluster|² not N², and the cluster layout is
    * the same write-time partitioning as q56's IVF lists. The recall
    * trade is real and measurable (5 of q29's 14 pairs land intra-cluster
    * here) — that is the SemDeDup bargain, documented, not hidden. */
  val q78SemanticDedup = QueryDef(
    "q78_semantic_dedup",
    (s, d) => {
      val emb = Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val cents = emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
      val lists = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          round(cosine(col("v"), col("cv")), 6).as("csim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("cid"))
      val dup = lists.as("a").join(lists.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .filter(round(cosine(col("a.v"), col("b.v")), 6) >= 0.45)
        .select(col("a.cid").as("cid"), col("a.vec_id").as("keep"),
          col("b.vec_id").as("drp"))
      lists.groupBy("cid").agg(count(lit(1)).as("n_members"))
        .join(dup.groupBy("cid").agg(count(lit(1)).as("n_dup_pairs"),
          countDistinct(col("drp")).as("n_dropped")), Seq("cid"), "left_outer")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy("cid")
    },
    Some("""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
           |a AS (
           |  SELECT e.vec_id, e.v, cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, cid) AS rn
           |  FROM e CROSS JOIN c),
           |lists AS (SELECT vec_id, v, cid FROM a WHERE rn = 1),
           |dup AS (
           |  SELECT la.cid, la.vec_id AS keep, lb.vec_id AS drp
           |  FROM lists la JOIN lists lb
           |    ON la.cid = lb.cid AND la.vec_id < lb.vec_id
           |  WHERE round(list_cosine_similarity(la.v, lb.v), 6) >= 0.45),
           |agg AS (
           |  SELECT cid, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT drp) AS n_dropped
           |  FROM dup GROUP BY cid)
           |SELECT l.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           |  CAST(COALESCE(MAX(agg.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
           |  CAST(COALESCE(MAX(agg.n_dropped), 0) AS BIGINT) AS n_dropped,
           |  CAST(COUNT(*) - COALESCE(MAX(agg.n_dropped), 0) AS BIGINT) AS n_kept
           |FROM lists l LEFT JOIN agg ON agg.cid = l.cid
           |GROUP BY l.cid ORDER BY l.cid""".stripMargin)
  )

  /** q86: distributed k-means (Lloyd's), k=8, 2 fixed iterations — the
    * "production would k-means the centroids" upgrade q56/q78 point at,
    * as a pure DataFrame program under the oracle.
    *
    * Exactness across engines (the hard part of distributed k-means is
    * usually that float centroid means depend on summation order):
    * vectors are quantized ONCE to integer micro-units
    * (`⌊x·1e6 + 0.5⌋` — explicit floor-rounding, no engine round-half
    * semantics involved), centroid updates are INTEGER mean with an
    * offset trick for portable truncation (`(Σ + n·1e6) div n − 1e6`:
    * the shifted numerator is non-negative, where DuckDB's floor-`//`
    * and Spark's trunc-`div` agree), and assignment ranks
    * `round(cos, 6)` with a cid tiebreak. Empty clusters carry their
    * previous centroid. Output per cluster: member count + integer
    * centroid checksums (sum and L1) — all BIGINT, hash-exact.
    *
    * Plan shape at 100 TB: per iteration ONE broadcast of k centroids +
    * a narrow assignment pass (top-1 window per vector) + one hash agg
    * over (cid, dim) — k·dims cells, metadata-sized regardless of
    * corpus; centroids localCheckpoint'ed between rounds exactly like
    * [[graft.operators.PageRank]]. */
  val q86KMeans = QueryDef(
    "q86_kmeans",
    (s, d) => {
      val toDi = (c: Column) => transform(c, x => x.cast(DoubleType))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(toD(col("embedding")),
          x => floor(x * lit(1000000.0) + lit(0.5)).cast(LongType)).as("iv"))
        .localCheckpoint()
      var cents = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("iv").as("cv"))
      def assign(cs: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
        e.crossJoin(broadcast(cs))
          .select(col("vec_id"), col("iv"), col("cid"),
            round(cosine(toDi(col("iv")), toDi(col("cv"))), 6).as("csim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("iv"), col("cid"))
      }
      (1 to 2).foreach { _ =>
        val upd = assign(cents)
          .select(col("cid"), posexplode(col("iv")).as(Seq("i", "v")))
          .groupBy("cid", "i")
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .select(col("cid"), col("i"),
            expr("((s + n * 1000000L) div n) - 1000000L").as("cvi"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("i"), col("cvi")))),
            x => x.getField("cvi")).as("ncv"))
        cents = cents.join(upd, Seq("cid"), "left_outer")
          .select(col("cid"), coalesce(col("ncv"), col("cv")).as("cv"))
          .localCheckpoint()
      }
      val members = assign(cents).groupBy("cid").agg(count(lit(1)).as("n_members"))
      cents.join(members, Seq("cid"), "left_outer")
        .select(col("cid"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          aggregate(col("cv"), lit(0L), (a, x) => a + x).as("c_sum"),
          aggregate(col("cv"), lit(0L), (a, x) => a + abs(x)).as("c_l1"))
        .orderBy("cid")
    },
    Some {
      def iter(k: Int) =
        s"""a$k AS (
           |  SELECT e.vec_id, e.iv, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(list_cosine_similarity(
           |        CAST(e.iv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS rn
           |  FROM e CROSS JOIN c${k - 1} c),
           |m$k AS (
           |  SELECT cid, i, SUM(iv[i]) AS s, COUNT(*) AS n
           |  FROM (SELECT * FROM a$k WHERE rn = 1) a CROSS JOIN range(1, 65) t(i)
           |  GROUP BY cid, i),
           |c${k}n AS (
           |  SELECT cid, list((s + n * 1000000) // n - 1000000 ORDER BY i) AS cv
           |  FROM m$k GROUP BY cid),
           |c$k AS (
           |  SELECT c${k - 1}.cid, COALESCE(c${k}n.cv, c${k - 1}.cv) AS cv
           |  FROM c${k - 1} LEFT JOIN c${k}n USING (cid))""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS iv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, iv AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
         |${iter(1)},
         |${iter(2)},
         |af AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_cosine_similarity(
         |        CAST(e.iv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS rn
         |  FROM e CROSS JOIN c2 c),
         |members AS (SELECT cid, COUNT(*) AS n FROM af WHERE rn = 1 GROUP BY cid)
         |SELECT c2.cid, CAST(COALESCE(members.n, 0) AS BIGINT) AS n_members,
         |  CAST(list_sum(c2.cv) AS BIGINT) AS c_sum,
         |  CAST(list_sum(list_transform(c2.cv, x -> abs(x))) AS BIGINT) AS c_l1
         |FROM c2 LEFT JOIN members USING (cid) ORDER BY c2.cid""".stripMargin
    }
  )

  /** PQ geometry: 64 dims split into [[PqM]] subspaces of [[PqSubDim]]
    * dims, [[PqK]] codewords per subspace, ADC shortlist of
    * [[PqShortlist]] before exact rerank. Chosen empirically: at
    * (16, 4, 64, 100) the reranked top-10 equals the brute-force top-10
    * at BOTH test corpora (sf0.001 and sf0.01 — recall 1.0, asserted in
    * VectorOpsSpec; 50 sufficed at sf0.01 but missed 2 at sf0.001). */
  val PqM = 16
  val PqSubDim = 4
  val PqK = 64
  val PqShortlist = 100

  /** q97: PRODUCT-QUANTIZATION ANN — the memory-compressed scan path the
    * IVF (q56) and int8 (q62) variants point at. Each vector is encoded
    * as [[PqM]] one-byte codes (nearest codeword per subspace), the query
    * scans CODES not vectors via ADC (asymmetric distance computation: a
    * per-subspace lookup table of query→codeword distances, approx dist =
    * sum of [[PqM]] table entries), and the ADC top-[[PqShortlist]]
    * shortlist is reranked with exact distances — the standard
    * IVFADC-style pipeline (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011; reference has no ANN operator
    * at all — north-star addition like q27/q56).
    *
    * Exactness across engines: vectors are quantized once to integer
    * micro-units (the q86 trick), ALL distances are integer squared-L2
    * (`Σ(a−b)²` over BIGINT — no floats anywhere), and every ranking
    * tie-breaks on vec_id/cid, so codes, shortlist, and rerank are all
    * hash-exact. Codebooks are deterministic sample vectors (vec_id
    * 1..[[PqK]] — the random-sample init production PQ trainers start
    * from; q86 shows the Lloyd refinement under the oracle).
    *
    * Plan shape at 100 TB: the codes table is [[PqM]] bytes per vector
    * (16 B vs 256 B raw float32 — 16×), built ONCE by a narrow pass with
    * a broadcast codebook (PqK·PqM tiny rows); each query broadcasts a
    * PqM·PqK ADC table and does one codes-scan + hash-agg + TakeOrdered —
    * no shuffle of vectors, and the rerank touches only [[PqShortlist]]
    * full vectors. Composes with q56's IVF partition pruning (scan only
    * probed cells' codes). */
  val q97PqAnn = QueryDef(
    "q97_pq_ann",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(toD(col("embedding")),
          x => floor(x * lit(1000000.0) + lit(0.5)).cast(LongType)).as("iv"))
      // one row per (vector, subspace): the PqSubDim-dim subvector
      val sub = e
        .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("iv"))
        .select(col("vec_id"), col("m"),
          slice(col("iv"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      val cb = sub.filter(col("vec_id").between(1, PqK))
        .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))
      def sqdist(a: Column, b: Column): Column =
        graft.functions.GraftFunctions.longSqDist(a, b) // fused native kernel
      // ENCODE: nearest codeword per (vector, subspace) — broadcast codebook
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id", "m").orderBy(col("sd").asc, col("cid").asc)
      val codes = sub.join(broadcast(cb), Seq("m"))
        .select(col("vec_id"), col("m"), col("cid"), sqdist(col("sv"), col("cv")).as("sd"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "m", "cid")
      // ADC table: query subvector → every codeword, per subspace
      val qsub = sub.filter(col("vec_id") === 0).select(col("m"), col("sv").as("qv"))
      val adc = cb.join(broadcast(qsub), Seq("m"))
        .select(col("m"), col("cid"), sqdist(col("cv"), col("qv")).as("qd"))
      val shortlist = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(adc), Seq("m", "cid"))
        .groupBy("vec_id").agg(sum(col("qd")).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc).limit(PqShortlist)
      // RERANK: exact integer distances for the shortlist only
      val qv = e.filter(col("vec_id") === 0).select(col("iv").as("qiv"))
      broadcast(shortlist)
        .join(e, Seq("vec_id"))
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("adc_dist"), sqdist(col("iv"), col("qiv")).as("exact_dist"))
        .orderBy(col("exact_dist").asc, col("vec_id").asc)
        .limit(10)
    },
    Some(s"""WITH e AS (
           |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS iv
           |  FROM embeddings),
           |sub AS (
           |  SELECT vec_id, m, list_slice(iv, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sv
           |  FROM e CROSS JOIN range(0, $PqM) t(m)),
           |cb AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id BETWEEN 1 AND $PqK),
           |asg AS (
           |  SELECT s.vec_id, s.m, c.cid,
           |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |      list_sum(list_transform(range(1, ${PqSubDim + 1}),
           |        i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) ASC, c.cid ASC) AS rn
           |  FROM sub s JOIN cb c USING (m)),
           |codes AS (SELECT vec_id, m, cid FROM asg WHERE rn = 1),
           |adc AS (
           |  SELECT c.m, c.cid,
           |    list_sum(list_transform(range(1, ${PqSubDim + 1}),
           |      i -> (c.cv[i] - q.sv[i]) * (c.cv[i] - q.sv[i]))) AS qd
           |  FROM cb c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) q USING (m)),
           |shortlist AS (
           |  SELECT codes.vec_id, CAST(SUM(adc.qd) AS BIGINT) AS adc_dist
           |  FROM codes JOIN adc USING (m, cid) WHERE codes.vec_id <> 0 GROUP BY 1
           |  ORDER BY adc_dist, vec_id LIMIT $PqShortlist)
           |SELECT s.vec_id, s.adc_dist,
           |  CAST(list_sum(list_transform(range(1, 65),
           |    i -> (e.iv[i] - q.iv[i]) * (e.iv[i] - q.iv[i]))) AS BIGINT) AS exact_dist
           |FROM shortlist s JOIN e ON s.vec_id = e.vec_id
           |CROSS JOIN (SELECT iv FROM e WHERE vec_id = 0) q
           |ORDER BY exact_dist, s.vec_id LIMIT 10""".stripMargin)
  )

  private val MatryoshkaDim = 16 // truncation prefix for q140
  private val MatryoshkaQueries = 20
  private val MatryoshkaK = 10

  /** q140: Matryoshka truncation-recall report — for each of the first 20
    * vectors as queries, compare exact cosine top-10 under the FULL 64-dim
    * embedding vs the first-16-dims truncation (the Matryoshka
    * representation-learning deployment trick: serve a prefix of the
    * embedding at 4× less memory/bandwidth and re-rank the shortlist at
    * full width). recall10 = |top10_full ∩ top10_prefix| per query — the
    * measurement that decides whether the cheap prefix index is usable.
    * Cosine renormalizes per-slice, so no explicit renormalization step.
    *
    * Plan shape at 100 TB: the query set is a broadcast (bounded); the
    * corpus scans ONCE and both similarities come out of the same fused
    * codegen'd kernel pass. The per-query ranking here is a window per
    * qid (exact, fine for a report over bounded queries); a serving-path
    * variant would use the q114 partial-agg top-k shape per query and the
    * q56 IVF route to avoid ranking the full corpus at all. */
  val q140MatryoshkaRecall = QueryDef(
    "q140_matryoshka_recall",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val q = emb.filter(col("vec_id") < MatryoshkaQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = emb.filter(col("vec_id") >= MatryoshkaQueries)
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          round(cosine(col("v"), col("qv")), 6).as("sim_full"),
          round(cosine(slice(col("v"), 1, MatryoshkaDim),
            slice(col("qv"), 1, MatryoshkaDim)), 6).as("sim_pre"))
      val wf = Window.partitionBy("qid").orderBy(col("sim_full").desc, col("vec_id").asc)
      val wp = Window.partitionBy("qid").orderBy(col("sim_pre").desc, col("vec_id").asc)
      scored
        .withColumn("rf", row_number().over(wf))
        .withColumn("rp", row_number().over(wp))
        .filter(col("rf") <= MatryoshkaK || col("rp") <= MatryoshkaK)
        .groupBy("qid")
        .agg(sum(when(col("rf") <= MatryoshkaK && col("rp") <= MatryoshkaK, 1L)
          .otherwise(0L)).as("recall10"))
        .orderBy("qid")
    },
    Some(s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $MatryoshkaQueries),
           |scored AS (
           |  SELECT q.qid, e.vec_id,
           |    round(list_cosine_similarity(e.v, q.qv), 6) AS sim_full,
           |    round(list_cosine_similarity(e.v[1:$MatryoshkaDim], q.qv[1:$MatryoshkaDim]), 6) AS sim_pre
           |  FROM e CROSS JOIN q WHERE e.vec_id >= $MatryoshkaQueries),
           |ranked AS (
           |  SELECT qid, vec_id,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim_full DESC, vec_id) AS rf,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim_pre DESC, vec_id) AS rp
           |  FROM scored)
           |SELECT qid, CAST(SUM(CASE WHEN rf <= $MatryoshkaK AND rp <= $MatryoshkaK
           |  THEN 1 ELSE 0 END) AS BIGINT) AS recall10
           |FROM ranked WHERE rf <= $MatryoshkaK OR rp <= $MatryoshkaK
           |GROUP BY qid ORDER BY qid""".stripMargin)
  )

  /** q144: embedding drift monitor — per label, the cosine between the
    * even-vec_id half's centroid and the odd half's (the production
    * check that a re-embedding run / new data slice still points the
    * same way per class; a drifting encoder shows up as cos ≪ 1 before
    * any downstream metric moves). Cosine is scale-invariant, so the
    * SUMS stand in for the centroids and no count division ever happens.
    *
    * Determinism: elements quantized to 1e-5 units via the repo's
    * `floor(x·1e5 + 0.5)` BIGINT idiom, so sums/dots are exact integer
    * arithmetic in BOTH engines (max |dot| ≈ 4e14 < 2^53 — the
    * decimal→double gotcha in the verify skill never applies) and the
    * final cosine is one identical double op sequence, rounded to 6dp.
    *
    * Plan shape at 100 TB: one corpus scan exploding to (label, dim)
    * keys — bounded by labels × 64, a metadata-sized agg with full
    * map-side combine; the second agg runs over that metadata. */
  val q144EmbeddingDrift = QueryDef(
    "q144_embedding_drift",
    (s, d) => {
      val x = Tables.embeddings(s, d)
        .select(col("label").cast(LongType).as("label"),
          (col("vec_id") % 2).as("half"),
          posexplode(toD(col("embedding"))).as(Seq("dim", "xv")))
        .withColumn("v", floor(col("xv") * 100000.0 + 0.5).cast(LongType))
      x.groupBy("label", "dim")
        .agg(sum(when(col("half") === 0, col("v")).otherwise(0L)).as("sa"),
          sum(when(col("half") === 1, col("v")).otherwise(0L)).as("sb"))
        .groupBy("label")
        .agg(sum(col("sa") * col("sb")).as("dot"),
          sum(col("sa") * col("sa")).as("na"),
          sum(col("sb") * col("sb")).as("nb"))
        .select(col("label"),
          round(col("dot").cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))),
            6).as("drift_cos"))
        .orderBy("label")
    },
    Some("""WITH x AS (
           |  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half, i AS dim,
           |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 100000.0 + 0.5)
           |      AS BIGINT) AS v
           |  FROM embeddings, range(1, 65) t(i)),
           |s AS (
           |  SELECT label, dim,
           |    SUM(CASE WHEN half = 0 THEN v ELSE 0 END) AS sa,
           |    SUM(CASE WHEN half = 1 THEN v ELSE 0 END) AS sb
           |  FROM x GROUP BY 1, 2)
           |SELECT label,
           |  round(CAST(SUM(sa * sb) AS DOUBLE) /
           |    (sqrt(CAST(SUM(sa * sa) AS DOUBLE)) * sqrt(CAST(SUM(sb * sb) AS DOUBLE))),
           |    6) AS drift_cos
           |FROM s GROUP BY label ORDER BY label""".stripMargin)
  )

  /** q150 density parameters: a neighbor is cosine ≥ eps; core needs
    * MinPts of them (DBSCAN's ε/minPts on the q29 similarity scale). */
  val DensityEps = 0.45
  val DensityMinPts = 3

  /** q150: density labels (the DBSCAN core/border/noise trichotomy) over
    * the embedding corpus — the curation signal SemDeDup-style pipelines
    * use BESIDES pairwise dedup: core points sit in dense semantic
    * regions (downsample candidates), noise points are isolated
    * (outlier/quality review), border points hang off a dense region
    * without anchoring one. Exactly DBSCAN's labeling pass; the full
    * cluster expansion is q78's within-cluster machinery.
    *
    * Neighbor counting here is the exact all-pairs product on the
    * 500-vector oracle slice (the q29 brute-force baseline — BNLJ by
    * design, same cap). The 100 TB path swaps the pair source for the
    * LSH-bucketed candidates of q68 verified by the same exact cosine:
    * counts only need pairs ABOVE the threshold, which is precisely what
    * the bucketed generator emits — labeling stays one agg + two
    * metadata joins regardless of the pair source. */
  val q150DensityLabels = QueryDef(
    "q150_density_labels",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .filter(col("vec_id") < 500)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val a = emb.select(col("vec_id").as("v1"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("v2"), col("v").as("vb"))
      val nbrs = a.join(b, col("v1") =!= col("v2"))
        .select(col("v1"), col("v2"),
          round(cosine(col("va"), col("vb")), 6).as("sim"))
        .filter(col("sim") >= DensityEps)
      val counts = emb.select(col("vec_id"))
        .join(nbrs.groupBy(col("v1").as("vec_id"))
          .agg(count(lit(1)).as("c")), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), coalesce(col("c"), lit(0L)).as("n_nbrs"))
      val core = counts.filter(col("n_nbrs") >= DensityMinPts)
        .select(col("vec_id"))
      val border = nbrs
        .join(core.withColumnRenamed("vec_id", "v2"), Seq("v2"))
        .select(col("v1").as("vec_id")).distinct()
      counts
        .join(core.withColumn("is_core", lit(1L)), Seq("vec_id"), "left_outer")
        .join(border.withColumn("near_core", lit(1L)), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("n_nbrs"),
          when(col("is_core") === 1L, "core")
            .when(col("near_core") === 1L, "border")
            .otherwise("noise").as("label"))
        .orderBy("vec_id")
    },
    Some(s"""WITH emb AS MATERIALIZED (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings WHERE vec_id < 500),
           |nbrs AS MATERIALIZED (
           |  SELECT a.vec_id AS v1, b.vec_id AS v2
           |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
           |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $DensityEps),
           |counts AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(COALESCE(n.c, 0) AS BIGINT) AS n_nbrs
           |  FROM emb e LEFT JOIN
           |    (SELECT v1, COUNT(*) AS c FROM nbrs GROUP BY v1) n
           |    ON n.v1 = e.vec_id),
           |core AS (SELECT vec_id FROM counts WHERE n_nbrs >= $DensityMinPts),
           |border AS (
           |  SELECT DISTINCT v1 AS vec_id FROM nbrs
           |  JOIN core ON core.vec_id = nbrs.v2)
           |SELECT c.vec_id, c.n_nbrs,
           |  CASE WHEN c.vec_id IN (SELECT vec_id FROM core) THEN 'core'
           |       WHEN c.vec_id IN (SELECT vec_id FROM border) THEN 'border'
           |       ELSE 'noise' END AS label
           |FROM counts c ORDER BY c.vec_id""".stripMargin)
  )

  /** q153 fusion constants: the standard RRF k and per-list depth. */
  val RrfK = 60
  val RrfListLen = 100

  /** q153: hybrid retrieval by reciprocal-rank fusion — fuse the LEXICAL
    * ranking (q139's integer BM25 over the query terms) with the
    * SEMANTIC ranking (cosine to a probe embedding) via
    * `Σ 1/(k + rank)`, the standard score-free way to combine retrievers
    * whose scores aren't commensurable. Per-list reciprocals are
    * floor-scaled ×1e6 so the fused score is an exact BIGINT; documents
    * missing from a list contribute 0 (rank reported as the −1
    * sentinel — both engines NULL-order differently, the q146 idea).
    *
    * Plan shape at 100 TB: each retriever is its own bounded top-N
    * (rank windows over a 1-row-broadcast probe / the BM25 posting
    * prune), so the fusion join touches 2·N metadata rows no matter the
    * corpus size — the heavy lifting stays inside the retrievers, which
    * scale as q27/q139 already argue. */
  val q153RrfFusion = QueryDef(
    "q153_rrf_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val wSem = Window.partitionBy(lit(0))
        .orderBy(col("sim").desc, col("id").asc)
      val sem = emb.filter(col("vec_id") >= 1).crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          round(cosine(col("v"), col("qv")), 6).as("sim"))
        .withColumn("rank_sem", row_number().over(wSem).cast(LongType))
        .filter(col("rank_sem") <= RrfListLen)
        .select("id", "rank_sem")
      val wLex = Window.partitionBy(lit(0))
        .orderBy(col("score_x").desc, col("id").asc)
      val lex = TextOps.bm25Scores(s, d)
        .select(col("doc_id").as("id"), col("score_x"))
        .withColumn("rank_lex", row_number().over(wLex).cast(LongType))
        .filter(col("rank_lex") <= RrfListLen)
        .select("id", "rank_lex")
      lex.join(sem, Seq("id"), "full_outer")
        .withColumn("rrf_x1m",
          coalesce(expr(s"1000000 DIV ($RrfK + rank_lex)"), lit(0L)) +
            coalesce(expr(s"1000000 DIV ($RrfK + rank_sem)"), lit(0L)))
        .select(col("id"), coalesce(col("rank_lex"), lit(-1L)).as("rank_lex"),
          coalesce(col("rank_sem"), lit(-1L)).as("rank_sem"), col("rrf_x1m"))
        .orderBy(col("rrf_x1m").desc, col("id").asc)
        .limit(20)
    },
    Some(s"""WITH emb AS MATERIALIZED (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |qv AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
           |sem AS (
           |  SELECT vec_id AS id, row_number() OVER (
           |    ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rank_sem
           |  FROM emb CROSS JOIN qv WHERE vec_id >= 1
           |  QUALIFY rank_sem <= $RrfListLen),
           |toks AS (
           |  SELECT doc_id, lower(unnest(list_filter(string_split(text, ' '), t -> t <> ''))) AS token
           |  FROM documents),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |                 CAST(SUM(dl) AS BIGINT) AS total FROM dl),
           |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           |       WHERE token IN (${TextOps.Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
           |       GROUP BY doc_id, token),
           |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
           |scored AS (
           |  SELECT tf.doc_id,
           |    ((1000 * (2 * s.n_docs - 2 * dfq.df + 1)) // (2 * dfq.df + 1)) *
           |    ((44000 * tf.tf * s.total) // (20 * tf.tf * s.total + 6 * s.total + 18 * dl.dl * s.n_docs))
           |      AS term_score
           |  FROM tf JOIN dfq USING (token) JOIN dl ON dl.doc_id = tf.doc_id
           |  CROSS JOIN stats s),
           |bm AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_x
           |       FROM scored GROUP BY doc_id),
           |lex AS (
           |  SELECT doc_id AS id, row_number() OVER (
           |    ORDER BY score_x DESC, doc_id) AS rank_lex
           |  FROM bm QUALIFY rank_lex <= $RrfListLen)
           |SELECT COALESCE(l.id, s.id) AS id,
           |  CAST(COALESCE(l.rank_lex, -1) AS BIGINT) AS rank_lex,
           |  CAST(COALESCE(s.rank_sem, -1) AS BIGINT) AS rank_sem,
           |  CAST(COALESCE(1000000 // ($RrfK + l.rank_lex), 0)
           |     + COALESCE(1000000 // ($RrfK + s.rank_sem), 0) AS BIGINT) AS rrf_x1m
           |FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
           |ORDER BY rrf_x1m DESC, id LIMIT 20""".stripMargin)
  )

  /** Greedy picks q157 makes after the seed (total centers = 1 + this). */
  val KCenterPicks = 4

  /** q157: k-center diversity coreset — greedy farthest-point selection
    * (Gonzalez 1985, the 2-approximation for the k-center objective):
    * seed with the lowest vec_id, then repeatedly pick the vector whose
    * distance to the CHOSEN SET is maximal. This is the diversity half of
    * data pruning — where SemDeDup (q78) REMOVES redundant points and
    * q150 labels dense regions, k-center SELECTS a maximally-spread
    * subset (coreset seeds, eval-set anchors, annotation budgets).
    *
    * Exactness across engines: vectors quantized once to 1e-5 integer
    * units (the q86/q97 idiom), all distances integer squared-L2 (max
    * 64·(2e5)² ≈ 2.6e12 ≪ 2^63), argmax tie-breaks on vec_id — every
    * round is hash-exact, so four unrolled rounds match DuckDB's chained
    * CTEs bit-for-bit.
    *
    * Plan shape at 100 TB: each round is ONE narrow corpus scan — the
    * ≤ k chosen centers ride in as a single collect_list row
    * crossJoin(broadcast(…)), the per-row min-distance is a bounded
    * array fold (no corpus-keyed groupBy — the min over centers happens
    * INSIDE the row), and the argmax is TakeOrderedAndProject(1). The
    * corpus never shuffles; total cost is k scans, the textbook greedy
    * k-center schedule. Centers are localCheckpoint'ed per round (the
    * q86 lineage discipline). k-center++ sampling is the documented
    * scale-out when k itself grows large. */
  val q157KCenterCoreset = QueryDef(
    "q157_kcenter_coreset",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(toD(col("embedding")),
          x => floor(x * 100000.0 + 0.5).cast(LongType)).as("iv"))
      def sqdist(a: Column, b: Column): Column =
        graft.functions.GraftFunctions.longSqDist(a, b) // fused native kernel
      val seed = e.orderBy(col("vec_id").asc).limit(1)
      var chosen: DataFrame = seed.select(lit(0L).as("pick_ord"),
        col("vec_id"), lit(-1L).as("min_sqdist"))
      var centers: DataFrame = seed
        .select(col("vec_id").as("cid"), col("iv").as("cv")).localCheckpoint()
      for (r <- 1 to KCenterPicks) {
        val cs = centers.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
        val pick = e.crossJoin(broadcast(cs))
          .filter(!array_contains(transform(col("cs"), c => c.getField("cid")), col("vec_id")))
          .select(col("vec_id"), col("iv"),
            array_min(transform(col("cs"), c => sqdist(col("iv"), c.getField("cv"))))
              .as("min_sqdist"))
          .orderBy(col("min_sqdist").desc, col("vec_id").asc).limit(1)
          .localCheckpoint()
        chosen = chosen.unionByName(pick.select(lit(r.toLong).as("pick_ord"),
          col("vec_id"), col("min_sqdist")))
        centers = centers.unionByName(
          pick.select(col("vec_id").as("cid"), col("iv").as("cv"))).localCheckpoint()
      }
      chosen.orderBy(col("pick_ord").asc)
    },
    Some {
      val sq = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 65), i -> ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]) * ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)])))"
      val rounds = (1 to KCenterPicks).map { k =>
        s"""d$k AS (
           |  SELECT e.vec_id, e.iv,
           |    CAST(min(${sq("e.iv", "c.cv")}) AS BIGINT) AS min_sqdist
           |  FROM e, c${k - 1} c
           |  WHERE e.vec_id NOT IN (SELECT cid FROM c${k - 1})
           |  GROUP BY e.vec_id, e.iv),
           |p$k AS (SELECT CAST($k AS BIGINT) AS pick_ord, vec_id, iv, min_sqdist
           |        FROM d$k ORDER BY min_sqdist DESC, vec_id ASC LIMIT 1),
           |c$k AS (SELECT cid, cv FROM c${k - 1} UNION ALL
           |        SELECT vec_id, iv FROM p$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 100000.0 + 0.5) AS BIGINT)) AS iv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, iv AS cv FROM e
         |       WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |$rounds
         |SELECT CAST(0 AS BIGINT) AS pick_ord, cid AS vec_id,
         |       CAST(-1 AS BIGINT) AS min_sqdist FROM c0
         |${(1 to KCenterPicks).map(k => s"UNION ALL SELECT pick_ord, vec_id, min_sqdist FROM p$k").mkString("\n")}
         |ORDER BY pick_ord ASC""".stripMargin
    }
  )

  /** q165's anchor slice and semi-hard band (similarity ranks, self
    * excluded): positive = rank 1, negatives = ranks 51-53. */
  val TripletAnchors = 20
  val TripletNegBand = Seq(51, 52, 53)

  /** q165: contrastive triplet mining — the training-pair assembly step
    * for embedding-model fine-tuning (Schroff et al., FaceNet 2015):
    * for each anchor, the POSITIVE is its nearest neighbor and the
    * NEGATIVES come from the semi-hard band of the similarity ranking
    * (close enough to produce gradient, far enough to be confidently
    * non-matching — ranks [[TripletNegBand]] here; rank-banded is the
    * deterministic stand-in for FaceNet's margin condition). Four rows
    * per anchor: (anchor, rank, role, vec_id, dot).
    *
    * Exactness: 1e-5 integer quantization, BIGINT dot products (|dot| ≤
    * 64·1e10 ≪ 2^63), rank ties broken on vec_id — the band is
    * hash-exact in both engines.
    *
    * Plan shape at 100 TB: the anchor slice is a bounded broadcast onto
    * ONE corpus scan (20·N dot products, narrow); the ranking window
    * partitions by anchor. The full ranking exists to make the oracle
    * total — production swaps the scan for q97's PQ-ADC (or q56's IVF)
    * shortlist per anchor and keeps the same banding, as documented
    * there; the window then runs over shortlists, not the corpus. */
  val q165TripletMining = QueryDef(
    "q165_triplet_mining",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(toD(col("embedding")),
          x => floor(x * 100000.0 + 0.5).cast(LongType)).as("iv"))
      def dotL(a: Column, b: Column): Column =
        graft.functions.GraftFunctions.longDot(a, b) // fused native kernel
      val anchors = e.filter(col("vec_id") < TripletAnchors)
        .select(col("vec_id").as("anchor"), col("iv").as("av"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("anchor").orderBy(col("dot").desc, col("vec_id").asc)
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("anchor"))
        .select(col("anchor"), col("vec_id"), dotL(col("iv"), col("av")).as("dot"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") === 1 || col("rank").isin(TripletNegBand.map(_.toLong): _*))
        .withColumn("role", when(col("rank") === 1, "positive").otherwise("semi_hard_neg"))
        .select("anchor", "rank", "role", "vec_id", "dot")
        .orderBy("anchor", "rank")
    },
    Some(s"""WITH e AS (
           |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           |    x -> CAST(floor(x * 100000.0 + 0.5) AS BIGINT)) AS iv
           |  FROM embeddings),
           |a AS (SELECT vec_id AS anchor, iv AS av FROM e WHERE vec_id < $TripletAnchors),
           |scored AS (
           |  SELECT a.anchor, e.vec_id,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      i -> e.iv[CAST(i AS INTEGER)] * a.av[CAST(i AS INTEGER)])) AS BIGINT) AS dot
           |  FROM e, a WHERE e.vec_id <> a.anchor),
           |ranked AS (
           |  SELECT anchor, vec_id, dot, CAST(row_number() OVER (
           |    PARTITION BY anchor ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rank
           |  FROM scored)
           |SELECT anchor, rank,
           |  CASE WHEN rank = 1 THEN 'positive' ELSE 'semi_hard_neg' END AS role,
           |  vec_id, dot
           |FROM ranked WHERE rank IN (1, ${TripletNegBand.mkString(", ")})
           |ORDER BY anchor, rank""".stripMargin)
  )

  /** q214's geometry: shortlist size, picks, and the λ split (×10). */
  val MmrShortlist = 50
  val MmrPicks = 5
  val MmrLambdaX10 = 7L // score = 7·rel − 3·max-sim-to-chosen

  /** q214: MMR diversified retrieval (Carbonell & Goldstein 1998) — the
    * anti-redundancy re-ranker between raw similarity search and what a
    * pipeline actually serves or trains on: greedily pick the candidate
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked, so
    * the result set covers the query's neighborhood instead of returning
    * five copies of the same cluster (RAG context assembly, eval-set
    * anchors, dedup-aware few-shot selection). Complements q157 — k-center
    * maximizes SPREAD ignoring a query; MMR trades relevance against
    * redundancy AROUND one.
    *
    * Exactness: 1e-5 integer quantization (the q157/q165 idiom), BIGINT
    * dots (|dot| ≤ 64·4e10 ≪ 2^63), λ applied as the integer split
    * 7·rel − 3·maxsim, every argmax tie-broken on vec_id — all five
    * unrolled rounds hash-exact against DuckDB's chained CTEs.
    *
    * Plan shape at 100 TB: the corpus is touched by exactly ONE narrow
    * scan (the relevance pass — broadcast query vector, distributed
    * TakeOrderedAndProject shortlist; production swaps this for q97's
    * PQ-ADC or q56's IVF shortlist, same contract). Everything after —
    * the shortlist² similarity matrix and the greedy walk — is bounded
    * metadata (50² rows), localCheckpoint'ed once; each pick is a
    * semi-join + max-agg + TakeOrderedAndProject(1) over those 2.5k
    * rows. The corpus never shuffles. */
  val q214MmrRerank = QueryDef(
    "q214_mmr_rerank",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(toD(col("embedding")),
          x => floor(x * 100000.0 + 0.5).cast(LongType)).as("iv"))
      def dotL(a: Column, b: Column): Column =
        graft.functions.GraftFunctions.longDot(a, b) // fused native kernel
      val qv = e.filter(col("vec_id") === 0).select(col("iv").as("qv"))
      val cand = e.filter(col("vec_id") > 0).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("iv"), dotL(col("iv"), col("qv")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(MmrShortlist)
        .localCheckpoint()
      val pairs = cand.select(col("vec_id").as("a"), col("iv").as("av"))
        .crossJoin(cand.select(col("vec_id").as("b"), col("iv").as("bv")))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"), dotL(col("av"), col("bv")).as("sim"))
        .localCheckpoint()
      val lam = MmrLambdaX10
      var chosen = cand.limit(0)
        .select(lit(0L).as("pick_ord"), col("vec_id"), col("rel"),
          lit(0L).as("mmr"))
      for (r <- 1 to MmrPicks) {
        val simToChosen = pairs
          .join(chosen.select(col("vec_id").as("b")), Seq("b"), "left_semi")
          .groupBy(col("a").as("vec_id")).agg(max("sim").as("maxsim"))
        val pick = cand
          .join(chosen.select("vec_id"), Seq("vec_id"), "left_anti")
          .join(simToChosen, Seq("vec_id"), "left_outer")
          .select(lit(r.toLong).as("pick_ord"), col("vec_id"), col("rel"),
            (lit(lam) * col("rel") -
              lit(10L - lam) * coalesce(col("maxsim"), lit(0L))).as("mmr"))
          .orderBy(col("mmr").desc, col("vec_id").asc).limit(1)
          .localCheckpoint()
        chosen = chosen.unionByName(pick)
      }
      chosen.orderBy("pick_ord")
    },
    Some {
      val dotSql = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 65), i -> $a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)]))"
      val lam = MmrLambdaX10
      val rounds = (2 to MmrPicks).map { r =>
        s"""d$r AS (
           |  SELECT c.vec_id, c.rel, CAST(MAX(p.sim) AS BIGINT) AS maxsim
           |  FROM cand c JOIN p ON p.a = c.vec_id
           |    AND p.b IN (SELECT vec_id FROM c${r - 1})
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM c${r - 1})
           |  GROUP BY 1, 2),
           |p$r AS (SELECT CAST($r AS BIGINT) AS pick_ord, vec_id, rel,
           |          CAST($lam * rel - ${10 - lam} * maxsim AS BIGINT) AS mmr
           |        FROM d$r ORDER BY mmr DESC, vec_id ASC LIMIT 1),
           |c$r AS (SELECT vec_id FROM c${r - 1} UNION ALL
           |        SELECT vec_id FROM p$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 100000.0 + 0.5) AS BIGINT)) AS iv
         |  FROM embeddings),
         |q AS (SELECT iv AS qv FROM e WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, iv, CAST(${dotSql("iv", "qv")} AS BIGINT) AS rel
         |  FROM e, q WHERE vec_id > 0
         |  ORDER BY rel DESC, vec_id ASC LIMIT $MmrShortlist),
         |p AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    CAST(${dotSql("a.iv", "b.iv")} AS BIGINT) AS sim
         |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
         |p1 AS (SELECT CAST(1 AS BIGINT) AS pick_ord, vec_id, rel,
         |         CAST($lam * rel AS BIGINT) AS mmr
         |       FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
         |c1 AS (SELECT vec_id FROM p1),
         |$rounds
         |${(1 to MmrPicks).map(r => s"SELECT pick_ord, vec_id, rel, mmr FROM p$r")
            .mkString("\nUNION ALL ")}
         |ORDER BY pick_ord""".stripMargin
    }
  )

  /** q221: nearest-class-mean classifier — train integer centroids on
    * the even-vec_id half, score the odd half by squared-L2 argmin, and
    * report the confusion matrix. The embedding-space counterpart of
    * q124's token NB classifier (and the supervised sibling of q86's
    * k-means): NCM is the standard cheap probe for "do these embeddings
    * separate the labels at all?" before any fine-tuning, and the
    * per-class confusion off-diagonals name which labels collide.
    *
    * Exactness: centroid dims are floor divisions of NEGATIVE-capable
    * sums, so the mean is computed as `(Σv + n·OFFSET) DIV n − OFFSET`
    * with OFFSET = 2e5 ≥ |v|ₘₐₓ — the shift keeps the dividend
    * positive, where Spark's truncating DIV and DuckDB's flooring `//`
    * agree (the q141 pattern). Distances are integer ((v−m)² ≤ 1.6e11,
    * ×64 dims ≪ 2^63); the argmin tie-breaks on label via the same
    * windowed rank in both engines.
    *
    * Plan shape at 100 TB: centroids are label×dim METADATA (one
    * map-side-combinable agg over the train explode); scoring joins the
    * test explode against them on dim — the shuffle carries (vec,
    * label) partial sums, 16-byte rows, test×|labels| of them. The
    * broadcast-centroid + `long_sqdist` kernel form (the q157 shape) is
    * the documented drop-in when |labels|·64 no longer reads as a dim
    * join. */
  val q221NcmClassifier = QueryDef(
    "q221_ncm_classifier",
    (s, d) => {
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          posexplode(toD(col("embedding"))).as(Seq("dim", "xv")))
        .withColumn("v", floor(col("xv") * 100000.0 + 0.5).cast(LongType))
      val centroids = x.filter(col("vec_id") % 2 === 0)
        .groupBy(col("label").as("clabel"), col("dim"))
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .select(col("clabel"), col("dim"),
          expr("(sv + n * 200000L) DIV n - 200000L").as("m"))
      val dist = x.filter(col("vec_id") % 2 === 1)
        .join(centroids, Seq("dim"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(sum(expr("(v - m) * (v - m)")).as("d2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("d2").asc, col("clabel").asc)
      dist.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("label").as("true_label"), col("clabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    },
    Some("""WITH x AS (
           |  SELECT vec_id, CAST(label AS BIGINT) AS label, i AS dim,
           |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 100000.0 + 0.5)
           |      AS BIGINT) AS v
           |  FROM embeddings, range(1, 65) t(i)),
           |c AS (
           |  SELECT label AS clabel, dim,
           |    (SUM(v) + COUNT(*) * 200000) // COUNT(*) - 200000 AS m
           |  FROM x WHERE vec_id % 2 = 0 GROUP BY 1, 2),
           |dist AS (
           |  SELECT x.vec_id, x.label, c.clabel,
           |    SUM((x.v - c.m) * (x.v - c.m)) AS d2
           |  FROM x JOIN c USING (dim) WHERE x.vec_id % 2 = 1
           |  GROUP BY 1, 2, 3),
           |pred AS (
           |  SELECT vec_id, label, clabel
           |  FROM dist QUALIFY row_number() OVER (
           |    PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) = 1)
           |SELECT label AS true_label, clabel AS pred_label,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )

  /** q226: IVF probe-sweep recall curve — for the q56 index (8 coarse
    * centroids, nearest-centroid lists), the recall@10 and candidate
    * cost at nprobe ∈ {1, 2, 4, 8}: the ONE artifact that decides an
    * ANN serving config (how many lists must I probe to stop losing
    * neighbors, and what fraction of the corpus does each rung scan?).
    * q56 demonstrates a single operating point; this measures the whole
    * trade-off — nprobe = 8 scans everything and provably reaches
    * recall 10/10, pinning the curve's endpoint.
    *
    * Determinism: the q56 idiom exactly (round(cosine, 6) + vec_id
    * tie-breaks on every ranking), so the sweep hash-matches DuckDB's
    * windowed recompute; recall is an integer intersection count.
    *
    * Plan shape at 100 TB: the assignment pass is ONE corpus scan
    * against broadcast centroids (q56's); the sweep reuses it for all
    * rungs — per rung the candidate filter is a semi-join against ≤ 8
    * probe cids and the rankings window over candidate lists, never the
    * corpus. The production analogue partition-prunes by cid
    * (`partitionBy(cid)` layout, the [[graft.Scale]] `ann` phase's
    * probe), with identical semantics. */
  val q226IvfRecallSweep = QueryDef(
    "q226_ivf_recall_sweep",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), toD(col("embedding")).as("v"))
      val cents = emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
      val assign = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          round(cosine(col("v"), col("cv")), 6).as("csim"))
        .withColumn("rn", row_number().over(w))
      val lists = assign.filter(col("rn") === 1).select("vec_id", "v", "cid")
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val scored = lists.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("cid"),
          round(cosine(col("v"), col("qv")), 6).as("sim"))
        .localCheckpoint()
      val wSim = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("sim").desc, col("vec_id").asc)
      val exact10 = scored.withColumn("xr", row_number().over(wSim))
        .filter(col("xr") <= 10).select(col("vec_id").as("xid"))
      val probeRank = assign.filter(col("vec_id") === 0)
        .select(col("cid"), col("rn").as("crn"))
      val rungs = scored.join(broadcast(probeRank), Seq("cid"))
        .crossJoin(broadcast(
          s.range(0, 4).select(expr("shiftleft(1L, cast(id as int))").as("nprobe"))))
        .filter(col("crn") <= col("nprobe"))
      val wRung = org.apache.spark.sql.expressions.Window
        .partitionBy("nprobe").orderBy(col("sim").desc, col("vec_id").asc)
      rungs.withColumn("rr", row_number().over(wRung))
        .join(broadcast(exact10.withColumn("hit", lit(1L))),
          col("vec_id") === col("xid"), "left_outer")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_cands"),
          sum(when(col("rr") <= 10 && col("hit") === 1L, 1L).otherwise(0L))
            .as("recall10"))
        .orderBy("nprobe")
    },
    Some("""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
           |a AS (
           |  SELECT e.vec_id, cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, cid) AS rn
           |  FROM e CROSS JOIN c),
           |lists AS (SELECT vec_id, cid FROM a WHERE rn = 1),
           |scored AS (
           |  SELECT e.vec_id, l.cid,
           |    round(list_cosine_similarity(e.v,
           |      (SELECT v FROM e WHERE vec_id = 0)), 6) AS sim
           |  FROM e JOIN lists l ON l.vec_id = e.vec_id WHERE e.vec_id <> 0),
           |exact10 AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS xr
           |    FROM scored) WHERE xr <= 10),
           |pr AS (SELECT cid, rn AS crn FROM a WHERE vec_id = 0),
           |rungs AS (
           |  SELECT np.nprobe, s.vec_id, s.sim,
           |    row_number() OVER (PARTITION BY np.nprobe
           |      ORDER BY s.sim DESC, s.vec_id) AS rr
           |  FROM scored s JOIN pr ON pr.cid = s.cid
           |  CROSS JOIN (SELECT CAST(1 << CAST(x AS INTEGER) AS BIGINT) AS nprobe
           |              FROM range(0, 4) t(x)) np
           |  WHERE pr.crn <= np.nprobe)
           |SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_cands,
           |  CAST(SUM(CASE WHEN rr <= 10 AND vec_id IN (SELECT vec_id FROM exact10)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS recall10
           |FROM rungs GROUP BY nprobe ORDER BY nprobe""".stripMargin)
  )

  val all: Seq[QueryDef] =
    Seq(q27CosineTopK, q28AnnLsh, q29CosinePairs, q38BatchAnn, q56AnnIvf,
      q62QuantizedAnn, q68EmbeddingLshPairs, q78SemanticDedup, q86KMeans,
      q97PqAnn, q140MatryoshkaRecall, q144EmbeddingDrift, q150DensityLabels,
      q153RrfFusion, q157KCenterCoreset, q165TripletMining, q214MmrRerank,
      q221NcmClassifier, q226IvfRecallSweep)
}
