package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Components, DedupOps, MiningOps, PageRank, PipelineOps, VectorOps}
import graft.sources.{FsKeyMask, FsMatView, FsStore}

/** The scale evidence behind README "Scale evidence" and COVERAGE's scale
  * rows, as one table of [[Phase]]s. A phase generates its data from a
  * size `n` (md5/xxhash64-derived, with planted ground truth), runs one
  * engine over it, asserts the engine's exact answer (recall, precision,
  * closed-form totals) and returns its figures. Its claim is the
  * statement those figures back, and it holds only when the run met the
  * claim's precondition: at least the recorded size, plus any condition
  * of its own (the `fsc` history must outgrow the heap).
  *
  * `graft.Scale [phase ...]` runs the named phases (all by default) at
  * their recorded sizes on [[SparkEntry.session]] and writes
  * `SCALE_SMOKE.json` in the working directory: [[Bench.header]] (cpus,
  * git revision), the heap max, and per phase its size, seconds, live
  * heap peak (the most any collection left; null if none ran), figures,
  * claim, precondition and whether the claim held. Every phase runs
  * even when one fails; the failures are recorded and then thrown. A
  * full run needs an explicit heap small enough for the `fsc`
  * precondition (`build.sbt` defaults `-Xmx` to 48g), e.g.
  * `SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=4 sbt "runMain graft.Scale"`.
  * ScaleSpec runs every phase at a tiny size. */
object Scale {
  type Figures = Seq[(String, Any)]

  /** One row of the table. `body(spark, n, dir)` runs the phase at size
    * `n` with a fresh scratch `dir`. The claim's precondition is
    * `n >= size` plus `extra` on the figures; `check` is the part of the
    * claim the figures must show (a timing or byte ratio that only means
    * something at scale, so it is recorded rather than asserted). */
  final case class Phase(name: String, size: Long, claim: String,
      body: (SparkSession, Long, Path) => Figures,
      extra: Option[(String, Map[String, Any] => Boolean)] = None,
      check: Map[String, Any] => Boolean = _ => true) {
    def precondition: String = s"n >= $size" + extra.fold("")(" and " + _._1)
    def met(n: Long, f: Map[String, Any]): Boolean = n >= size && extra.forall(_._2(f))
  }

  private def num(f: Map[String, Any], k: String): Double = f(k).asInstanceOf[Number].doubleValue

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` and returns the largest heap live set any garbage
    * collection during it left behind: the sum of the heap pools' usage
    * right after the collection, from the collectors' notifications. Heap
    * used between collections counts garbage not yet collected, and a
    * pool's own `getCollectionUsage` does not serve either: JDK 17's G1
    * updates its old gen's only on a full collection. None when no
    * collection ran. */
  private def withLiveHeapPeak[A](body: => A): (A, Option[Long]) = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val peak = new AtomicLong(-1L)
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        peak.accumulateAndGet(after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum,
          (a, b) => math.max(a, b))
      }
    val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e }
    collectors.foreach(_.addNotificationListener(listener, null, null))
    try { val a = body; (a, Some(peak.get).filter(_ >= 0)) }
    finally collectors.foreach(_.removeNotificationListener(listener))
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  /** 64 values in [-1, 1) derived from `seed` by xxhash64. */
  private def unitVec(seed: Column): Column =
    transform(sequence(lit(0), lit(63)),
      j => (pmod(xxhash64(seed, j), lit(1000000L)).cast("double") / 500000.0) - 1.0)

  /** One partition per core for the generated inputs. */
  private def cores(s: SparkSession): Int = s.sparkContext.defaultParallelism

  /** Pseudo-random out-edges: per `src` and salt, one xxhash64 target in [0, n). */
  private def randomEdges(base: DataFrame, n: Long, salts: Seq[Int]): DataFrame =
    salts.map(k => base.select(col("src"), pmod(xxhash64(col("src"), lit(k)), lit(n)).as("dst")))
      .reduce(_ unionByName _)

  private def undirected(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).repartition(cores(e.sparkSession))

  /** Rows of a (`d1`, `d2`) pair frame whose pair is a planted copy:
    * `d2 = d1 + offset` with `d1` a multiple of `every`. */
  private def plantedPairs(pairs: DataFrame, offset: Long, every: Int): Long =
    pairs.filter(col("d2") === col("d1") + offset && col("d1") % every === 0).count()

  // ---- phases ----

  /** Near-dup LSH end to end, then connected components over its pairs.
    * Each of `n` base docs is 320 md5-hex chars (background Jaccard ≈ 0)
    * and has 8 copies differing in a 3-char suffix (Jaccard ≈ 0.97), so
    * the answer is exactly the intra-group pairs and one component of 8
    * per base doc. */
  private def lsh(spark: SparkSession, n: Long, dir: Path): Figures = {
    val replicas = 8
    val docs = n * replicas
    val body = concat_ws("", (0 until 10).map(c => md5(concat(lit("doc"), col("base"), lit(s":$c")))): _*)
    spark.range(docs).toDF("doc_id")
      .withColumn("base", col("doc_id") / replicas cast "long")
      .withColumn("k", col("doc_id") % replicas)
      .select(col("doc_id"), concat(body, lit(" ~"), col("k")).as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = dir.toString
    // verifiedPairs builds shingles, signatures, banding, prune and verify
    val ((pairs, found), secs) = timed {
      val p = DedupOps.verifiedPairs(spark, d, DedupOps.FullCorpus)
      (p, p.count())
    }
    // band-bucket health: Σ c·(c-1)/2 over buckets is what the inline
    // prune absorbed, the quantity that explodes if bucketing degenerates
    val stats = DedupOps.banded(spark, d, DedupOps.FullCorpus)
      .groupBy("bhash").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)), sum(col("c") * (col("c") - 1)) / 2, max(col("c"))).head()
    val intra = pairs.filter(col("d1").divide(replicas).cast("long") ===
      col("d2").divide(replicas).cast("long")).count()
    val expIntra = n * replicas * (replicas - 1) / 2
    assert(intra == expIntra, s"recall miss: $intra of $expIntra intra-group pairs")
    assert(found == intra, s"precision miss: ${found - intra} spurious pairs at j>=0.6")
    // the distributed min-label path, whatever the edge count
    val (comps, ccSecs) = timed {
      Components.connectedComponents(spark.range(docs).toDF("id"),
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
        .groupBy("component").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)), sum(when(col("sz") =!= replicas, 1L).otherwise(0L)))
        .head()
    }
    val (nComps, badComps) = (comps.getLong(0), comps.getLong(1))
    assert(nComps == n && badComps == 0,
      s"expected $n components of size $replicas, got $nComps with $badComps wrong-sized")
    Seq("docs" -> docs, "base_docs" -> n, "replicas" -> replicas,
      "lsh_pairs_found" -> found, "lsh_pairs_expected" -> expIntra,
      "lsh_spurious" -> (found - intra), "lsh_secs" -> secs,
      "band_buckets" -> stats.getLong(0), "band_max_bucket" -> stats.getLong(2),
      "band_collision_pairs_pre_prune" -> stats.getDouble(1),
      "cc_edges" -> found, "cc_components" -> nComps, "cc_wrong_sized" -> badComps,
      "cc_secs" -> ccSecs)
  }

  /** Similarity search over `n` 64-dim vectors: ids 1..20 are planted
    * near-copies of the query (id 0), so brute force must rank exactly
    * them; IVF (64 sampled centroids, nprobe 4, lists written
    * partitionBy(cid) so a probe is partition pruning) and PQ-ADC
    * (16 one-byte codes per vector, codebook argmin as an array fold,
    * exact top-100 rerank) are measured for recall@20 against it. */
  private def ann(spark: SparkSession, n: Long, dir: Path): Figures = {
    val vecs = spark.range(n).toDF("vec_id")
      .select(col("vec_id"),
        when(col("vec_id").between(1, 20),
          zip_with(unitVec(lit(0L)), unitVec(col("vec_id")), (b, e) => b + e * 0.05))
          .otherwise(unitVec(col("vec_id"))).as("v"))
      .cache()
    vecs.count()
    val qv = vecs.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val sim = GraftFunctions.cosineSim(col("v"), col("qv"))
    def top20(df: DataFrame, score: Column, desc: Boolean): Set[Long] =
      df.select(col("vec_id"), score.as("s"))
        .orderBy(if (desc) col("s").desc else col("s").asc, col("vec_id").asc).limit(20)
        .collect().map(_.getLong(0)).toSet
    val (bf, bfSecs) = timed(top20(vecs.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv)), sim, desc = true))
    assert(bf == (1L to 20L).toSet, s"brute force missed planted neighbors: $bf")

    val cents = vecs.filter(col("vec_id").between(100, 163))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val idx = dir.resolve("ivf").toString
    val (_, buildSecs) = timed {
      val nearest = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
      vecs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          GraftFunctions.cosineSim(col("v"), col("cv")).as("csim"))
        .withColumn("rn", row_number().over(nearest))
        .filter(col("rn") === 1).select(col("vec_id"), col("v"), col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(idx)
    }
    val ((ivf, ivfQ), ivfSecs) = timed {
      val probed = cents.crossJoin(broadcast(qv))
        .select(col("cid"), GraftFunctions.cosineSim(col("cv"), col("qv")).as("csim"))
        .orderBy(col("csim").desc, col("cid").asc).limit(4)
        .collect().map(_.getLong(0))
      val q = spark.read.parquet(idx).filter(col("cid").isin(probed: _*) && col("vec_id") =!= 0)
      (top20(q.crossJoin(broadcast(qv)), sim, desc = true), q)
    }
    val scanned = ivfQ.count()
    val recall = ivf.intersect(bf).size
    assert(recall >= 19, s"IVF recall degraded: $recall/20")

    // PQ: vectors as integer micro-units, 16 subspaces of 4 dims, 64
    // codewords each sampled from ids 100..163; the argmin is an array
    // fold over the broadcast codebook (ties to the lowest cid)
    val ivs = vecs.select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(1000000.0) + lit(0.5)).cast("long")).as("iv"))
    val subs = ivs
      .select(col("vec_id"), explode(sequence(lit(0), lit(15))).as("m"), col("iv"))
      .select(col("vec_id"), col("m"), slice(col("iv"), col("m") * 4 + 1, lit(4)).as("sv"))
    val pqCb = subs.filter(col("vec_id").between(100, 163))
      .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))
    val isq = GraftFunctions.longSqDist _
    val (pqCodes, pqEncodeSecs) = timed {
      val cbArr = pqCb.groupBy("m").agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cands"))
      val codes = subs.join(broadcast(cbArr), Seq("m"))
        .select(col("vec_id"), col("m"),
          aggregate(col("cands"), struct(lit(Long.MaxValue).as("sd"), lit(-1L).as("cid")),
            (acc, c) => when(isq(col("sv"), c.getField("cv")) < acc.getField("sd"),
              struct(isq(col("sv"), c.getField("cv")).as("sd"), c.getField("cid").cast("long").as("cid")))
              .otherwise(acc))
            .getField("cid").as("cid"))
        .cache()
      val nCodes = codes.count()
      assert(nCodes == n * 16, s"code table incomplete: $nCodes")
      codes
    }
    val (pqTop, pqQuerySecs) = timed {
      val qsub = subs.filter(col("vec_id") === 0).select(col("m").as("qm"), col("sv").as("qsv"))
      val adcTab = pqCb.join(broadcast(qsub), col("m") === col("qm"))
        .select(col("m"), col("cid"), isq(col("cv"), col("qsv")).as("qd"))
      val shortlist = pqCodes.filter(col("vec_id") =!= 0)
        .join(broadcast(adcTab), Seq("m", "cid"))
        .groupBy("vec_id").agg(sum(col("qd")).as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(100)
      val qiv = ivs.filter(col("vec_id") === 0).select(col("iv").as("qiv"))
      top20(broadcast(shortlist).join(ivs, Seq("vec_id")).crossJoin(broadcast(qiv)),
        isq(col("iv"), col("qiv")), desc = false)
    }
    val pqRecall = pqTop.intersect(bf).size
    assert(pqRecall >= 19, s"PQ recall degraded: $pqRecall/20")
    Seq("vectors" -> n, "bf_secs" -> bfSecs, "bf_planted_recall" -> 1.0,
      "ivf_build_secs" -> buildSecs, "ivf_query_secs" -> ivfSecs,
      "ivf_rows_scanned" -> scanned, "ivf_scan_fraction" -> (scanned.toDouble / n),
      "ivf_recall_at_20" -> (recall / 20.0),
      "pq_encode_secs" -> pqEncodeSecs, "pq_query_secs" -> pqQuerySecs,
      "pq_code_bytes" -> n * 16, "pq_raw_bytes" -> n * 256,
      "pq_recall_at_20" -> (pqRecall / 20.0))
  }

  /** Embedding near-dup pairs (q68's engine): `n` random vectors plus
    * n/20 perturbed copies (cos ≥ 0.998); background cosines stay far
    * below the 0.95 verify threshold, so the answer is the planted set. */
  private def vnd(spark: SparkSession, n: Long, dir: Path): Figures = {
    val dup = n / 20
    val base = spark.range(n).toDF("vec_id").select(col("vec_id"), unitVec(col("vec_id") + 7777777L).as("v"))
    val all = base.unionByName(base.filter(col("vec_id") < dup)
        .select((col("vec_id") + 10000000L).as("vec_id"), VectorOps.perturb(col("v")).as("v")))
      .repartition(cores(spark)).cache()
    all.count()
    val (pairs, secs) = timed { val p = VectorOps.lshNearDupPairs(all, 0.95).cache(); p.count(); p }
    val found = pairs.count()
    val planted = pairs.filter(col("d2") === col("d1") + 10000000L).count()
    assert(planted == dup, s"vector near-dup recall miss: $planted of $dup")
    assert(found == planted, s"vector near-dup precision miss: ${found - planted} spurious")
    Seq("vnd_vectors" -> (n + dup), "vnd_planted" -> dup, "vnd_found" -> found,
      "vnd_spurious" -> (found - planted), "vnd_secs" -> secs)
  }

  /** Span-level dedup (q74's engine): `n` docs of 40 md5-hex words (5
    * spans of 8) plus an exact copy of every 10th doc, so originals keep
    * all 5 spans and copies keep none. */
  private def span(spark: SparkSession, n: Long, dir: Path): Figures = {
    val words = concat_ws(" ", (0 until 10).map(c => concat_ws(" ", (0 until 4).map(w =>
      substring(md5(concat(lit("sp"), col("base"), lit(s":$c"))), w * 8 + 1, 8)): _*)): _*)
    val corpus = spark.range(n).toDF("base").select(col("base").as("doc_id"), words.as("text"))
      .unionByName(spark.range(0, n, 10).toDF("base")
        .select((col("base") + 100000000L).as("doc_id"), words.as("text")))
      .repartition(cores(spark))
    val (out, secs) = timed {
      PipelineOps.spanDedup(corpus)
        .agg(count(lit(1)), sum("n_spans"), sum("n_kept"),
          sum(when(col("n_kept") === 0, 1L).otherwise(0L))).head()
    }
    val Seq(docs, spans, kept, dropped) = (0 to 3).map(out.getLong)
    assert(kept == 5 * n, s"surviving spans $kept != ${5 * n}")
    assert(dropped == (n + 9) / 10, s"fully-deduped docs $dropped != ${(n + 9) / 10} copies")
    Seq("span_docs" -> docs, "span_total" -> spans, "span_kept" -> kept,
      "span_docs_fully_dropped" -> dropped, "span_secs" -> secs)
  }

  /** PageRank (q77's engine) over `n` nodes with 4 random out-edges each,
    * made undirected, plus a hub every 100th node links to: the hub
    * ranks first and rank mass is conserved to the floor-division bound.
    * A checkpoint dir under `dir`, set for the phase only, makes every
    * round's [[Fixpoint.ckpt]] reliable. */
  private def pagerank(spark: SparkSession, n: Long, dir: Path): Figures = {
    val base = spark.range(n).toDF("src")
    val raw = randomEdges(base, n, 0 until 4)
      .unionByName(base.filter(col("src") % 100 === 0).select(col("src"), lit(0L).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val edges = undirected(raw)
    val nDirEdges = edges.count()
    val ((top, mass, nodes), secs) = timed {
      val sc = spark.sparkContext
      val prev = sc.getCheckpointDir
      sc.setCheckpointDir(dir.resolve("ckpt").toString)
      try {
        val pr = PageRank.pprRanks(edges, lit(true)).cache()
        (pr.orderBy(col("rank").desc, col("id").asc).limit(1).head(),
          pr.agg(sum("rank")).head().getLong(0), pr.count())
      } finally sc.setCheckpointDir(prev.orNull)
    }
    val cap = nodes * PageRank.Unit
    val lossBound = (nDirEdges + nodes) * PageRank.Iterations * 2
    assert(top.getLong(0) == 0L, s"planted hub is not top-ranked: ${top.getLong(0)}")
    assert(mass <= cap && mass > cap - lossBound,
      s"rank mass $mass outside [${cap - lossBound}, $cap] — a sink is leaking")
    Seq("pr_nodes" -> nodes, "pr_edges_directed" -> nDirEdges, "pr_secs" -> secs,
      "pr_top_node" -> top.getLong(0), "pr_top_rank" -> top.getLong(1),
      "pr_mass" -> mass, "pr_mass_cap" -> cap)
  }

  /** PassJoin edit-distance join (q93's engine): `n` md5-hex docs over
    * 26 lengths in [192, 392] (length-dense, so pure length blocking
    * would verify a quadratic share of pairs) plus a copy of every 20th doc with its
    * first 16 chars replaced (lev ≤ 16 ≤ k = 30); random hex shares no
    * 6-char segment, so the answer is exactly the planted copies. */
  private def editdist(spark: SparkSession, n: Long, dir: Path): Figures = {
    val body = concat_ws("", (0 until 13).map(c => md5(concat(lit("ed"), col("base"), lit(s":$c")))): _*)
    val len = (lit(192) + (col("base") % 26) * 8).cast("int")
    val all = spark.range(n).toDF("base")
      .select(col("base").as("doc_id"), body.substr(lit(1), len).as("text"))
      .unionByName(spark.range(0, n, 20).toDF("base")
        .select((col("base") + 100000000L).as("doc_id"),
          concat(substring(md5(concat(lit("edx"), col("base"))), 1, 16),
            body.substr(lit(17), len - 16)).as("text")))
      .repartition(cores(spark)).cache()
    val docs = all.count()
    // what a pure length block would verify: Σ of length-compatible count products
    val lc = all.groupBy(length(col("text")).as("len")).count()
    val lenBlockPairs = (lc.as("a").join(lc.as("b"), abs(col("a.len") - col("b.len")) <= 30)
      .agg(sum(col("a.count") * col("b.count"))).head().getLong(0) - docs) / 2
    val ((nCands, pairs), secs) = timed {
      val cands = DedupOps.editDistCandidates(all, 30).cache()
      val p = cands
        .join(all.select(col("doc_id").as("d1"), col("text").as("t1")), Seq("d1"))
        .join(all.select(col("doc_id").as("d2"), col("text").as("t2")), Seq("d2"))
        .repartition(col("d1"), col("d2"))
        .select(col("d1"), col("d2"), levenshtein(col("t1"), col("t2"), 30).as("dist"))
        .filter(col("dist") >= 0).cache()
      p.count()
      (cands.count(), p)
    }
    val found = pairs.count()
    val planted = plantedPairs(pairs, 100000000L, 20)
    val expected = (n + 19) / 20
    assert(planted == expected, s"editdist recall miss: $planted of $expected")
    assert(found == planted, s"editdist precision miss: ${found - planted} spurious")
    Seq("ed_docs" -> docs, "ed_planted" -> expected, "ed_found" -> found,
      "ed_spurious" -> (found - planted), "ed_candidates" -> nCands,
      "ed_lenblock_candidates" -> lenBlockPairs, "ed_secs" -> secs)
  }

  /** Multi-source BFS (q113's engine), 3 hops over `n` nodes with 4
    * random edges each plus a planted 3-link chain on ids ≥ n (random
    * edges never reach it, so its hop labels are exact); a degree-8
    * random graph's frontier must grow every hop. */
  private def bfs(spark: SparkSession, n: Long, dir: Path): Figures = {
    val raw = randomEdges(spark.range(n).toDF("src"), n, 100 until 104)
      .unionByName(spark.range(3).select((col("id") + n).as("src"), (col("id") + n + 1).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val seeds = spark.createDataFrame(Seq(Tuple1(0L), Tuple1(n))).toDF("id")
    val ((hops, byHop, visited), secs) = timed {
      val h = PageRank.bfs(undirected(raw), seeds, 3).cache()
      (h, h.groupBy("hops").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, h.count())
    }
    val chain = hops.filter(col("id") >= n).collect().map(r => r.getLong(0) - n -> r.getLong(1)).toMap
    (0L to 3L).foreach(k => assert(chain.get(k).contains(k),
      s"planted chain node $k labeled ${chain.get(k)}, expected hop $k"))
    val hop = (h: Long) => byHop.getOrElse(h, 0L)
    assert(hop(1) < hop(2) && hop(2) < hop(3), s"frontier not supercritical: $byHop")
    Seq("bfs_nodes" -> n, "bfs_visited" -> visited, "bfs_secs" -> secs,
      "bfs_hop1" -> hop(1), "bfs_hop2" -> hop(2), "bfs_hop3" -> hop(3))
  }

  /** Prefix-filter Jaccard join (q87) and containment join (q95) over
    * one shingle table: `n` docs of 40 8-char md5 units plus, for every
    * 20th doc, a container copy with 20 extra units. Each planted pair
    * has J = 0.67 ≥ 0.6 and C(containee → container) = 1.0 ≥ 0.8 while
    * C in the other direction is 0.67, so both answers are exact and
    * containment must come out in one direction only. */
  private def prefix(spark: SparkSession, n: Long, dir: Path): Figures = {
    val unit = (k: Int) => substring(md5(concat(lit(s"pf$k:"), col("base"))), 1, 8)
    val body = concat_ws(" ", (0 until 40).map(unit): _*)
    val docs = spark.range(n).toDF("base").select(col("base").as("doc_id"), body.as("text"))
      .unionByName(spark.range(0, n, 20).toDF("base")
        .select((col("base") + 100000000L).as("doc_id"),
          concat_ws(" ", body, concat_ws(" ", (40 until 60).map(unit): _*)).as("text")))
    val sh = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("sh")).distinct()
      .repartition(cores(spark)).cache()
    val shRows = sh.count()
    val planted = (n + 19) / 20
    def join(cands: => DataFrame, verify: DataFrame => DataFrame, what: String) = {
      val ((nCands, pairs), secs) = timed {
        val c = cands.cache()
        val p = verify(c).cache()
        p.count()
        (c.count(), p)
      }
      val found = pairs.count()
      val hit = plantedPairs(pairs, 100000000L, 20)
      assert(hit == planted, s"$what recall miss: $hit of $planted")
      assert(found == hit, s"$what precision miss: ${found - hit} spurious")
      (nCands, found, secs)
    }
    val (pfCands, pfFound, pfSecs) = join(DedupOps.prefixCandidatesOf(sh, 6), DedupOps.prefixVerify(sh, _, 6), "prefix-join")
    val (ctCands, ctFound, ctSecs) = join(DedupOps.containCandidatesOf(sh, 8), DedupOps.containVerify(sh, _, 8), "containment")
    Seq("pf_docs" -> (n + planted), "pf_shingle_rows" -> shRows, "pf_planted" -> planted,
      "pf_candidates" -> pfCands, "pf_found" -> pfFound, "pf_spurious" -> 0L, "pf_secs" -> pfSecs,
      "ct_candidates" -> ctCands, "ct_found" -> ctFound, "ct_spurious" -> 0L, "ct_secs" -> ctSecs)
  }

  /** Exact substring dedup (q138's engine): `n` docs of 320 md5-hex
    * chars, a 98-char slogan spliced into every 20th. Each planted doc
    * reports exactly one maximal region covering the slogan; a region may
    * bleed < K chars past either end (a boundary window shared by chance
    * with another planted doc), never more, and no other doc may report. */
  private def substr(spark: SparkSession, n: Long, dir: Path): Figures = {
    val slogan = "call me ishmael some years ago never mind how long precisely " +
      "having little or no money in my purse"
    val sLen = slogan.length.toLong
    val k = PipelineOps.SubstrK
    require(sLen >= k)
    val body = concat((0 until 10).map(c => md5(concat(lit("sub"), col("id"), lit(s":$c")))): _*)
    val corpus = spark.range(n).toDF("id")
      .select(col("id").as("doc_id"),
        when(col("id") % 20 === 0,
          concat(substring(body, 1, 160), lit(slogan), substring(body, 161, 160)))
          .otherwise(body).as("text"))
      .repartition(cores(spark))
    val (out, secs) = timed {
      PipelineOps.substringDedup(corpus)
        .agg(count(lit(1)), sum(when(col("n_dup_spans") > 0, 1L).otherwise(0L)),
          sum("dup_chars"), max("n_dup_spans"), max("dup_chars")).head()
    }
    val Seq(docs, withDups, chars, maxSpans, maxChars) = (0 to 4).map(out.getLong)
    val planted = (n + 19) / 20
    val hi = sLen + 2L * (k - 1)
    assert(withDups == planted, s"substring dedup: $withDups flagged docs != $planted planted")
    assert(chars >= sLen * planted && chars <= hi * planted,
      s"substring dedup: $chars dup chars outside [${sLen * planted}, ${hi * planted}]")
    assert(maxSpans == 1L && maxChars <= hi,
      s"substring dedup: each planted doc must carry ONE bounded maximal region, got $maxSpans/$maxChars")
    Seq("sub_docs" -> docs, "sub_docs_with_dups" -> withDups, "sub_dup_chars" -> chars, "sub_secs" -> secs)
  }

  /** Label propagation (q160/q170): `n` nodes in planted blocks of 100,
    * 6 random in-block edges each plus one cross-block edge per 50
    * nodes. Three rounds must coarsen hard and the partition's integer
    * modularity must show the blocks (Q > 0.3; random labels give ~0). */
  private def lpa(spark: SparkSession, n: Long, dir: Path): Figures = {
    val base = spark.range(n).toDF("src")
    val inBlock = (k: Int) => ((col("src") - pmod(col("src"), lit(100L))) +
      pmod(xxhash64(col("src"), lit(k)), lit(100L))).as("dst")
    val edges = (0 until 6).map(k => base.select(col("src"), inBlock(k))).reduce(_ unionByName _)
      .unionByName(base.filter(col("src") % 50 === 0)
        .select(col("src"), pmod(xxhash64(col("src"), lit(99)), lit(n)).as("dst")))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b")).distinct()
      .repartition(cores(spark)).localCheckpoint()
    val nbr = edges.select(col("a").as("v"), col("b").as("u"))
      .unionByName(edges.select(col("b").as("v"), col("a").as("u"))).localCheckpoint()
    val ((labels, vertices, comms), secs) = timed {
      val l = PageRank.lpaLabels(nbr).cache()
      (l, l.count(), l.select("lbl").distinct().count())
    }
    // integer modularity (the q170 formula)
    val m = edges.count()
    val eIn = edges.join(labels.select(col("v").as("a"), col("lbl").as("la")), Seq("a"))
      .join(labels.select(col("v").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb")).count()
    val degSq = nbr.groupBy("v").agg(count(lit(1)).as("deg"))
      .join(labels, Seq("v")).groupBy("lbl").agg(sum(col("deg")).as("dc"))
      .agg(sum(col("dc") * col("dc"))).head().getLong(0)
    val qX1m = eIn * 1000000L / m - degSq * 1000000L / (4L * m * m)
    assert(comms < vertices / 10, s"LPA failed to coarsen: $comms communities at $vertices vertices")
    assert(qX1m > 300000L, s"planted-block modularity too low: $qX1m")
    Seq("lpa_nodes" -> vertices, "lpa_edges" -> m, "lpa_communities" -> comms,
      "lpa_secs" -> secs, "lpa_q_x1m" -> qX1m)
  }

  /** Greedy k-center (q157's engine): `n` 16-dim vectors in [0,1000)^16
    * plus one outlier at 100,000^16, which must be the first pick after
    * the seed; 4 picks, each one narrow scan against broadcast centers. */
  private def kcenter(spark: SparkSession, n: Long, dir: Path): Figures = {
    val outlier = n - 1
    val vecs = spark.range(n).toDF("vec_id")
      .select(col("vec_id"),
        when(col("vec_id") === outlier, array((0 until 16).map(_ => lit(100000L)): _*))
          .otherwise(array((0 until 16).map(k => pmod(xxhash64(col("vec_id"), lit(k)), lit(1000L))): _*)).as("iv"))
      .repartition(cores(spark)).localCheckpoint()
    val (picks, secs) = timed {
      (1 to 4).foldLeft((vecs.filter(col("vec_id") === 0)
          .select(col("vec_id").as("cid"), col("iv").as("cv")).localCheckpoint(), Seq.empty[Long])) {
        case ((centers, picks), _) =>
          val cs = centers.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
          val pick = vecs.crossJoin(broadcast(cs))
            .filter(!array_contains(transform(col("cs"), c => c.getField("cid")), col("vec_id")))
            .select(col("vec_id"), col("iv"),
              array_min(transform(col("cs"), c => GraftFunctions.longSqDist(col("iv"), c.getField("cv")))).as("md"))
            .orderBy(col("md").desc, col("vec_id").asc).limit(1).localCheckpoint()
          (centers.unionByName(pick.select(col("vec_id").as("cid"), col("iv").as("cv"))).localCheckpoint(),
            picks :+ pick.head().getLong(0))
      }._2
    }
    assert(picks.head == outlier, s"planted outlier $outlier not picked first: $picks")
    assert(picks.distinct.size == 4, "greedy picks must be distinct")
    Seq("kc_vectors" -> n, "kc_secs" -> secs, "kc_first_pick" -> picks.head)
  }

  /** HLL (q187's engine): `n` rows over 0.4·n distinct keys, one group;
    * every one of the 256 registers must be hit. The integer estimate's
    * error (σ ≈ 6.5% at m = 256) is a fixed property of the key set, not
    * of the size, so the ±10% band is recorded, not asserted. */
  private def hll(spark: SparkSession, n: Long, dir: Path): Figures = {
    val keys = n / 5 * 2
    val in = spark.range(n).select(lit("g").as("g"), pmod(col("id") * 2654435761L, lit(keys)).as("k"))
    val ((hit, est), secs) = timed {
      val regs = MiningOps.hllRegisters(in, "g", col("k")).cache()
      val hit = regs.count()
      val d = regs.agg(sum(expr("CAST(1 AS BIGINT) << (33 - m)"))).head().getLong(0) + (256L - hit) * (1L << 33)
      (hit, (256L * 256L * (1L << 33) / d) * MiningOps.HllAlphaX1m / 1000000L)
    }
    val truth = in.select("k").distinct().count()
    val errX1m = est * 1000000L / truth - 1000000L
    assert(hit == 256L, s"only $hit of 256 registers hit at $truth distinct keys")
    Seq("hll_rows" -> n, "hll_true" -> truth, "hll_est" -> est, "hll_err_x1m" -> errX1m, "hll_secs" -> secs)
  }

  /** Planted points and interval for the binned range joins: ids < 100
    * sit at 777e6 + id and interval 0 is [777e6, 777e6 + 99]; everything
    * else is xxhash64-uniform on [0, 1e9) with width `w`. */
  private def rangeSides(spark: SparkSession, pts: Long, ivs: Long, salt: Long, w: Long): (DataFrame, DataFrame) =
    (spark.range(pts).select(col("id").as("pid"),
        when(col("id") < 100, lit(777000000L) + col("id"))
          .otherwise(pmod(xxhash64(col("id"), lit(salt)), lit(1000000000L))).as("pt"))
      .repartition(cores(spark)).localCheckpoint(),
     spark.range(ivs).select(col("id").as("iid"),
        when(col("id") === 0, lit(777000000L))
          .otherwise(pmod(xxhash64(col("id"), lit(salt + 1)), lit(1000000000L))).as("lo"))
      .withColumn("hi", col("lo") + when(col("iid") === 0, lit(99L)).otherwise(lit(w)))
      .localCheckpoint())

  private def inRange: Column = col("pt") >= col("lo") && col("pt") <= col("hi")

  /** Binned range join (q222's rule): `n` points × n/50 intervals, a pure
    * interval join Spark would nested-loop; the rule must rewrite it and
    * the planted interval must match its 100 planted points. */
  private def rangeJoin(spark: SparkSession, n: Long, dir: Path): Figures =
    QueryDef.withConf(spark, graft.plans.BinnedRangeJoin.BinWidthKey -> "50000") {
      val (pts, ivs) = rangeSides(spark, n, n / 50, 13L, 49999L)
      val plan = pts.join(ivs, inRange).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rule must rewrite the smoke join:\n$plan")
      val ((joined, matches), secs) = timed {
        val j = pts.join(ivs, inRange).localCheckpoint()
        (j, j.count())
      }
      val planted = joined.filter(col("iid") === 0 && col("pid") < 100).count()
      assert(planted == 100L, s"planted interval matched $planted of 100")
      Seq("rj_points" -> n, "rj_intervals" -> n / 50, "rj_matches" -> matches,
        "rj_secs" -> secs, "rj_planted" -> planted, "rj_nested_loop_pairs" -> n * (n / 50))
    }

  /** Preserved-interval FULL OUTER (q246): `n` points × n/40 intervals
    * through the group-count-expand rewrite; exact by set algebra —
    * padded plus distinct-matched rows tile each side, and the planted
    * interval matches its 100 points. */
  private def fullOuter(spark: SparkSession, n: Long, dir: Path): Figures =
    QueryDef.withConf(spark, graft.plans.BinnedRangeJoin.BinWidthKey -> "50000") {
      val nIvs = n / 40
      val (pts, ivs) = rangeSides(spark, n, nIvs, 33L, 9999L)
      val plan = pts.join(ivs, inRange, "full_outer").queryExecution.executedPlan.toString
      assert(plan.contains("graft_ptbin") && !plan.contains("BroadcastNestedLoopJoin"),
        s"full outer must take the binned path:\n$plan")
      val ((fo, matched, ptOnly, ivOnly), secs) = timed {
        val fo = pts.join(ivs, inRange, "full_outer").localCheckpoint()
        (fo, fo.filter(col("pid").isNotNull && col("iid").isNotNull), fo.filter(col("iid").isNull).count(),
          fo.filter(col("pid").isNull).count())
      }
      // a padded row carries the other side's null, so count matched keys
      // only over rows where both are present
      val matchedPts = matched.select("pid").distinct().count()
      val matchedIvs = matched.select("iid").distinct().count()
      assert(ptOnly + matchedPts == n, s"point side must tile: $ptOnly + $matchedPts != $n")
      assert(ivOnly + matchedIvs == nIvs, s"interval side must tile: $ivOnly + $matchedIvs != $nIvs")
      val planted = fo.filter(col("iid") === 0 && col("pid") < 100).count()
      assert(planted == 100L, s"planted interval matched $planted of 100")
      Seq("fo_points" -> n, "fo_intervals" -> nIvs, "fo_matched" -> matched.count(),
        "fo_pt_only" -> ptOnly, "fo_iv_only" -> ivOnly, "fo_secs" -> secs, "fo_planted" -> planted)
    }

  /** Exact grouped top-k (q252's `topk_agg`): `n` rows × 1000 groups,
    * top 5 by (score, id); the bounded-heap aggregate must equal the
    * window spelling row for row. */
  private def topk(spark: SparkSession, n: Long, dir: Path): Figures = {
    val in = spark.range(n).select(pmod(xxhash64(col("id"), lit(31L)), lit(1000L)).as("g"),
        xxhash64(col("id"), lit(32L)).as("score"), col("id"))
      .repartition(cores(spark)).localCheckpoint()
    val ((agg, aggN), aggSecs) = timed {
      val a = in.groupBy("g").agg(GraftFunctions.topKAgg(struct(col("score"), col("id")), lit(5)).as("top"))
        .select(col("g"), explode(col("top")).as("v"))
        .select(col("g"), col("v.score"), col("v.id")).localCheckpoint()
      (a, a.count())
    }
    val ((win, winN), winSecs) = timed {
      val w = in.withColumn("rn", row_number().over(Window.partitionBy("g").orderBy(col("score").desc, col("id").desc)))
        .filter(col("rn") <= 5).select("g", "score", "id").localCheckpoint()
      (w, w.count())
    }
    assert(aggN == 5000L && winN == 5000L, s"top-5 of 1000 groups: $aggN/$winN")
    assert(agg.except(win).isEmpty && win.except(agg).isEmpty,
      "bounded-heap grouped top-k must equal the window answer bit-for-bit")
    Seq("tk_rows" -> n, "tk_agg_secs" -> aggSecs, "tk_window_secs" -> winSecs, "tk_identical" -> 1L)
  }

  /** Exact bitmap distinct (q262's `bitmap_build`): `n` rows × 8 groups
    * over 2^24 keys, one shuffle against COUNT(DISTINCT)'s two; counts
    * must be identical. */
  private def bitmap(spark: SparkSession, n: Long, dir: Path): Figures = {
    val domain = 1L << 24
    val in = spark.range(n).select(pmod(xxhash64(col("id"), lit(41L)), lit(8L)).as("g"),
        pmod(xxhash64(col("id"), lit(42L)), lit(domain)).as("k"))
      .repartition(cores(spark)).localCheckpoint()
    def counts(c: Column) = in.groupBy("g").agg(c.as("n")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (bm, bmSecs) = timed(counts(GraftFunctions.bitmapCount(GraftFunctions.bitmapBuild(col("k"), lit(domain)))))
    val (cd, cdSecs) = timed(counts(countDistinct(col("k"))))
    assert(bm == cd, s"bitmap distinct must equal COUNT(DISTINCT): $bm vs $cd")
    Seq("bm_rows" -> n, "bm_groups" -> 8L, "bm_agg_secs" -> bmSecs, "bm_cd_secs" -> cdSecs, "bm_identical" -> 1L)
  }

  /** Drains `table`'s change feed once with AvailableNow into a memory
    * sink and checks count and Σk against `rows` committed keys
    * 0 until rows: (seconds, rows per data batch, summed durationMs).
    * The aggregate has one group, so its state is one shuffle partition. */
  private def drain(spark: SparkSession, table: String, rows: Long,
      opts: Map[String, String]): (Double, Seq[Long], Map[String, Long]) = {
    val sink = s"scale_sink_${System.nanoTime()}"
    val (q, secs) = QueryDef.withConf(spark, "spark.sql.shuffle.partitions" -> "1") {
      timed {
      val q = opts.foldLeft(spark.readStream)((b, kv) => b.option(kv._1, kv._2)).table(table)
        .groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"), sum("k").as("s"))
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }}
    val row = spark.table(sink).head()
    assert(row.getLong(1) == rows && row.getLong(2) == rows * (rows - 1) / 2,
      s"feed drain must deliver every committed row exactly once, got $row")
    val progress = q.recentProgress.toSeq
    (secs, progress.filter(_.numInputRows > 0).map(_.numInputRows),
      progress.flatMap(_.durationMs.asScala).groupMapReduce(_._1)(_._2.longValue)(_ + _))
  }

  /** Change-feed drain (q278/q280's engine): an `n`-row, 8-commit mem
    * table history drained version-paced (one version per batch) and
    * under an n/25-row budget (fat commits split within a version),
    * exactly once by closed form, with the per-batch duration split. */
  private def changeFeed(spark: SparkSession, n: Long, dir: Path): Figures = {
    val versions = 8
    val per = n / versions
    val budget = n / 25
    spark.sql("DROP TABLE IF EXISTS graft.mem_cf_smoke")
    val (_, buildSecs) = timed {
      spark.sql("CREATE TABLE graft.mem_cf_smoke (k BIGINT)")
      (0 until versions).foreach(i =>
        spark.range(i * per, (i + 1) * per).selectExpr("id AS k").writeTo("graft.mem_cf_smoke").append())
    }
    val rows = per * versions
    val (secs, batches, dur) = drain(spark, "graft.mem_cf_smoke", rows, Map.empty)
    val (budSecs, budBatches, budDur) = drain(spark, "graft.mem_cf_smoke", rows, Map("maxRowsPerBatch" -> budget.toString))
    spark.sql("DROP TABLE graft.mem_cf_smoke")
    assert(batches.length == versions, s"default admission is one version per batch: ${batches.length}")
    assert(budBatches.length >= 3 * versions && budBatches.max <= budget,
      s"row budget must split fat commits: ${budBatches.length} batches, max ${budBatches.max}")
    Seq("cf_rows" -> rows, "cf_versions" -> versions.toLong, "cf_build_secs" -> buildSecs,
      "cf_drain_secs" -> secs, "cf_rows_per_sec" -> (rows / secs).toLong,
      "cf_batches" -> batches.length.toLong, "cf_budget_rows" -> budget,
      "cf_budget_drain_secs" -> budSecs, "cf_budget_batches" -> budBatches.length.toLong,
      "cf_budget_max_batch_rows" -> budBatches.max) ++
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch",
        "triggerExecution").flatMap(k =>
        Seq(s"cf_ms_$k" -> dur.getOrElse(k, 0L), s"cf_budget_ms_$k" -> budDur.getOrElse(k, 0L)))
  }

  /** MemStore-equivalent bytes of one (BIGINT, 32-char STRING) row held on
    * the driver: ~64 B of UnsafeRow plus ~56 B of object and Vector
    * overhead. */
  private val RowAsObjectBytes = 120L

  /** File-backed history (the fs store's no-row-cap contract): an `n`-row,
    * 8-commit fs table of (k, md5 payload) is built, snapshot-scanned and
    * drained version-paced and byte-budgeted, exactly once by closed
    * form. As driver-resident rows this history would outgrow the heap;
    * here it streams through parquet files and manifests. */
  private def fsHistory(spark: SparkSession, n: Long, dir: Path): Figures = {
    val versions = 8
    val per = n / versions
    val rows = per * versions
    spark.sql("DROP TABLE IF EXISTS graft.fs_smoke")
    val (_, buildSecs) = timed {
      spark.sql("CREATE TABLE graft.fs_smoke (k BIGINT, payload STRING)")
      (0 until versions).foreach(i =>
        spark.range(i * per, (i + 1) * per, 1, 16).selectExpr("id AS k", "md5(CAST(id AS STRING)) AS payload")
          .writeTo("graft.fs_smoke").append())
    }
    val head = FsStore.current("fs_smoke")
    val disk = head.files.map(_.bytes).sum
    assert(head.rowCount == rows, s"manifest rowCount ${head.rowCount} != $rows")
    val (snap, scanSecs) = timed(spark.table("graft.fs_smoke").agg(count(lit(1)), sum("k")).head())
    assert(snap.getLong(0) == rows && snap.getLong(1) == rows * (rows - 1) / 2,
      s"snapshot scan must see every committed row exactly once, got $snap")
    val (secs, batches, _) = drain(spark, "graft.fs_smoke", rows, Map.empty)
    assert(batches.length == versions, s"default admission is one version per batch: ${batches.length}")
    val budget = disk / versions / 4 // ≈ quarter-version slices, by manifest byte counts
    val (budSecs, budBatches, _) = drain(spark, "graft.fs_smoke", rows, Map("maxBytesPerBatch" -> budget.toString))
    assert(budBatches.length >= 3 * versions, s"byte budget must split fat commits: ${budBatches.length}")
    spark.sql("DROP TABLE graft.fs_smoke")
    Seq("fsc_rows" -> rows, "fsc_versions" -> versions.toLong,
      "fsc_mem_equiv_bytes" -> rows * RowAsObjectBytes,
      "fsc_mem_equiv_over_heap" -> rows * RowAsObjectBytes.toDouble / Runtime.getRuntime.maxMemory,
      "fsc_disk_bytes" -> disk, "fsc_build_secs" -> buildSecs,
      "fsc_build_rows_per_sec" -> (rows / buildSecs).toLong,
      "fsc_scan_secs" -> scanSecs, "fsc_scan_rows_per_sec" -> (rows / scanSecs).toLong,
      "fsc_drain_secs" -> secs, "fsc_drain_rows_per_sec" -> (rows / secs).toLong,
      "fsc_batches" -> batches.length.toLong, "fsc_bytes_budget" -> budget,
      "fsc_bytes_drain_secs" -> budSecs, "fsc_bytes_batches" -> budBatches.length.toLong)
  }

  /** Merge-on-read deltas on an `n`-row fs table: a 1% MERGE writes key
    * and update files sized by the change, not a rewrite; then a 10%
    * DELETE is scanned through Roaring64 bitmap masks, whose per-reader
    * peak must stay under a quarter of the boxed `Set[Any]` equivalent
    * (≈48 B/key). */
  private def fsDelta(spark: SparkSession, n: Long, dir: Path): Figures = {
    spark.sql("DROP TABLE IF EXISTS graft.fsd_smoke")
    spark.sql("CREATE TABLE graft.fsd_smoke (k BIGINT, v BIGINT)")
    spark.range(0, n, 1, 16).selectExpr("id AS k", "id % 1000 AS v").writeTo("graft.fsd_smoke").append()
    spark.range(0, n / 100, 1, 4).selectExpr("id * 100 AS k", "id AS nv").createOrReplaceTempView("fsd_smoke_src")
    val (_, mergeSecs) = timed(spark.sql(
      "MERGE INTO graft.fsd_smoke t USING fsd_smoke_src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.v = s.nv"))
    val dv = FsStore.current("fsd_smoke")
    val deltaBytes = dv.masks.flatMap(_.keyFiles).map(_.bytes).sum +
      dv.files.filter(_.addedVersion == dv.id).map(_.bytes).sum
    val baseBytes = dv.files.filter(_.addedVersion < dv.id).map(_.bytes).sum
    val v = (k: Long) => if (k % 100 == 0) k / 100 else k % 1000
    val got = spark.table("graft.fsd_smoke").agg(sum("v")).head().getLong(0)
    assert(got == (0L until n).iterator.map(v).sum, s"post-merge sum $got is not the closed form")
    val (_, delSecs) = timed(spark.sql("DELETE FROM graft.fsd_smoke WHERE k % 10 = 3"))
    val deleted = (0L until n).count(_ % 10 == 3).toLong
    FsKeyMask.resetPeak()
    val (post, scanSecs) = timed(spark.table("graft.fsd_smoke").agg(count(lit(1)), sum("v")).head())
    val peak = FsKeyMask.peakBytes
    val boxed = deleted * 48L
    assert(post.getLong(0) == n - deleted && post.getLong(1) == (0L until n).iterator.filter(_ % 10 != 3).map(v).sum,
      s"post-delete masked scan must agree with the closed form, got $post")
    assert(peak > 0 && peak < boxed / 4, s"bitmap mask ($peak B) must be well under the boxed-set equivalent ($boxed B)")
    spark.sql("DROP TABLE graft.fsd_smoke")
    Seq("fsc_delta_rows" -> n, "fsc_delta_touched" -> n / 100, "fsc_delta_merge_secs" -> mergeSecs,
      "fsc_delta_bytes" -> deltaBytes, "fsc_delta_base_bytes" -> baseBytes,
      "fsc_delta_write_ratio" -> deltaBytes.toDouble / math.max(1L, baseBytes),
      "fsm_deleted_rows" -> deleted, "fsm_delete_secs" -> delSecs, "fsm_masked_scan_secs" -> scanSecs,
      "fsm_mask_peak_bytes" -> peak, "fsm_mask_builds" -> FsKeyMask.buildCount,
      "fsm_boxed_equiv_bytes" -> boxed, "fsm_bytes_per_key" -> peak.toDouble / deleted,
      "fsm_boxed_over_bitmap" -> boxed.toDouble / math.max(1L, peak))
  }

  /** Incremental view maintenance (`FsMatView`) over an `n`-row base:
    *  A. a 2% append across all 200k groups refreshes (replace path)
    *     and must equal a full recompute, reading a window a small
    *     fraction of the base bytes;
    *  B. a small append into 50 groups takes the merge-on-read delta
    *     path (one mask);
    *  C. a 1% MERGE update on a separate base of 4n/75 rows refreshes
    *     through pre-image reconstruction, then compacts, and must still
    *     equal a recompute. */
  private def fsView(spark: SparkSession, n: Long, dir: Path): Figures = {
    def sameRows(a: String, b: String): Boolean = {
      val (x, y) = (spark.table(a), spark.table(b))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    def reset(tables: String*): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft.$t")
      if (FsStore.exists(t)) FsStore.drop(t)
    }
    reset("fsd_smokev", "fs_smokev", "fs_smokev2")
    spark.sql("CREATE TABLE graft.fsd_smokev (k BIGINT, g BIGINT, v BIGINT)")
    spark.range(0, n, 1, 32).selectExpr("id AS k", "id % 200000 AS g", "id % 97 AS v")
      .writeTo("graft.fsd_smokev").append()
    FsMatView.create(spark, "fs_smokev", "fsd_smokev", Seq("g"), Seq("v"))
    spark.range(n, n + n / 50, 1, 8).selectExpr("id AS k", "id % 200000 AS g", "id % 97 AS v")
      .writeTo("graft.fsd_smokev").append()
    val (stA, refreshA) = timed(FsMatView.refresh(spark, "fs_smokev"))
    val (_, full) = timed(FsMatView.create(spark, "fs_smokev2", "fsd_smokev", Seq("g"), Seq("v")))
    assert(sameRows("graft.fs_smokev", "graft.fs_smokev2"), "incremental refresh must equal the full recompute")
    assert(stA.applied && stA.deltaRows == n / 50, s"refresh A must consume only the change window (${stA.deltaRows})")
    val windowBytes = FsStore.versionAt("fsd_smokev", stA.toVersion).changes.flatMap(_.files).map(_.bytes).sum
    val baseBytes = FsStore.current("fsd_smokev").files.map(_.bytes).sum
    spark.range(0, n / 2000, 1, 4).selectExpr(s"id + ${2 * n} AS k", "id % 50 AS g", "id % 97 AS v")
      .writeTo("graft.fsd_smokev").append()
    val (stB, refreshB) = timed(FsMatView.refresh(spark, "fs_smokev"))
    assert(stB.applied && stB.incremental, "a few-group window must take the merge-on-read delta path")
    assert(FsStore.current("fs_smokev").masks.size == 1, "delta refresh lands as one mask")
    reset("fsd_smokev", "fs_smokev", "fs_smokev2", "fsd_smokec", "fs_smokec", "fs_smokec2")

    val cRows = n * 4 / 75
    spark.sql("CREATE TABLE graft.fsd_smokec (k BIGINT, g BIGINT, v BIGINT)")
    spark.range(0, cRows, 1, 16).selectExpr("id AS k", "id % 50000 AS g", "id % 97 AS v")
      .writeTo("graft.fsd_smokec").append()
    FsMatView.create(spark, "fs_smokec", "fsd_smokec", Seq("g"), Seq("v"))
    spark.range(0, cRows / 100, 1, 4).selectExpr("id * 97 AS k", "(id * 31) % 97 AS nv")
      .createOrReplaceTempView("fsv_smoke_upd")
    spark.sql("MERGE INTO graft.fsd_smokec t USING fsv_smoke_upd s ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.v = s.nv")
    val (stC, refreshC) = timed(FsMatView.refresh(spark, "fs_smokec"))
    assert(stC.applied, "update window must refresh")
    FsMatView.compact(spark, "fs_smokec")
    assert(FsStore.current("fs_smokec").masks.isEmpty)
    FsMatView.create(spark, "fs_smokec2", "fsd_smokec", Seq("g"), Seq("v"))
    assert(sameRows("graft.fs_smokec", "graft.fs_smokec2"),
      "view must track the base through the update window + compaction")
    reset("fsd_smokec", "fs_smokec", "fs_smokec2")
    Seq("fsv_rows" -> n, "fsv_groups" -> 200000L, "fsv_append_change_rows" -> stA.deltaRows,
      "fsv_append_refresh_secs" -> refreshA, "fsv_full_secs" -> full,
      "fsv_full_over_refresh" -> full / refreshA, "fsv_window_bytes" -> windowBytes,
      "fsv_base_bytes" -> baseBytes, "fsv_base_over_window_bytes" -> baseBytes.toDouble / windowBytes,
      "fsv_delta_change_rows" -> stB.deltaRows, "fsv_delta_refresh_secs" -> refreshB,
      "fsv_upd_rows" -> cRows, "fsv_upd_change_rows" -> stC.deltaRows, "fsv_upd_refresh_secs" -> refreshC)
  }

  /** The table, in run order. */
  val phases: Seq[Phase] = Seq(
    Phase("lsh", 5000L, "the MinHash-LSH pipeline finds every planted near-dup pair and no other, " +
      "and the distributed min-label path clusters them into exactly the planted groups", lsh),
    Phase("ann", 500000L, "brute force ranks exactly the 20 planted neighbours; IVF reading " +
      "4 of 64 partitions and PQ-ADC over one-byte codes each recall >= 19 of them", ann),
    Phase("vnd", 200000L, "hyperplane-banded embedding near-dup finds every planted pair and no other", vnd),
    Phase("span", 1000000L, "span dedup keeps exactly the distinct spans and fully drops every copy", span),
    Phase("pr", 1000000L, "PageRank ranks the planted hub first and conserves rank mass " +
      "to the floor-division bound", pagerank),
    Phase("ed", 200000L, "the PassJoin edit-distance join finds every planted copy and no other", editdist),
    Phase("bfs", 1000000L, "BFS labels the planted chain with its exact hops and the frontier grows every hop", bfs),
    Phase("pf", 200000L, "the prefix-filter Jaccard join and the containment join each find exactly " +
      "the planted pairs, containment in one direction only", prefix),
    Phase("sub", 200000L, "substring dedup flags exactly the planted docs, one bounded region each", substr),
    Phase("lpa", 200000L, "label propagation coarsens planted blocks to modularity > 0.3", lpa),
    Phase("kc", 2000000L, "greedy k-center picks the planted outlier first", kcenter),
    Phase("hll", 50000000L, "the HLL estimate hits all 256 registers and lands within 10%", hll,
      check = f => math.abs(num(f, "hll_err_x1m")) < 100000),
    Phase("rj", 5000000L, "the binned range join replaces the nested loop and matches the planted " +
      "interval exactly", rangeJoin),
    Phase("tk", 10000000L, "the bounded-heap grouped top-k equals the window answer row for row", topk),
    Phase("fo", 2000000L, "the binned FULL OUTER interval join tiles both sides exactly", fullOuter),
    Phase("bm", 50000000L, "the bitmap distinct count equals COUNT(DISTINCT) and runs faster", bitmap,
      check = f => num(f, "bm_agg_secs") < num(f, "bm_cd_secs")),
    Phase("cf", 10000000L, "the mem change feed delivers every committed row exactly once, " +
      "version-paced and row-budgeted", changeFeed),
    Phase("fsc", 56000000L, "an fs table history larger than the heap as rows is built, scanned " +
      "and drained exactly once", fsHistory,
      extra = Some(("history-as-rows bytes >= 1.5 x Runtime.maxMemory",
        (f: Map[String, Any]) => num(f, "fsc_mem_equiv_bytes") >= 1.5 * Runtime.getRuntime.maxMemory))),
    Phase("fsm", 10000000L, "a 1% merge-on-read MERGE writes under 10% of the base bytes, and " +
      "10% delete masks stay under a quarter of the boxed-set bytes", fsDelta,
      check = f => num(f, "fsc_delta_write_ratio") < 0.1),
    Phase("fsv", 150000000L, "an append-window view refresh beats the full recompute and reads " +
      "<= 1/10 of the base bytes; a few-group window refreshes as one delta mask, also faster", fsView,
      check = f => num(f, "fsv_append_refresh_secs") < num(f, "fsv_full_secs") &&
        num(f, "fsv_delta_refresh_secs") < num(f, "fsv_full_secs") &&
        num(f, "fsv_window_bytes") * 10 <= num(f, "fsv_base_bytes")))

  private def put(o: ObjectNode, k: String, v: Any): Unit = v match {
    case x: Long => o.put(k, x)
    case x: Int => o.put(k, x)
    case x: Double => o.put(k, math.rint(x * 1000) / 1000)
    case x: Boolean => o.put(k, x)
    case x => o.put(k, x.toString)
  }

  /** Runs each `(phase, n)` in order, writes the record to `out` and then
    * throws if any phase failed. Each phase gets a scratch dir, deleted
    * afterwards, and the session's cache and checkpoint blocks are swept
    * between phases ([[Bench.sweep]]) so a phase measures itself, not
    * its predecessor's frames. */
  def run(spark: SparkSession, plan: Seq[(Phase, Long)], out: Path): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(
      "{" + Bench.header(spark.sparkContext.defaultParallelism, new java.io.File(".")) + "}")
      .asInstanceOf[ObjectNode]
    root.put("heap_max_bytes", Runtime.getRuntime.maxMemory)
    val phaseNodes = root.putObject("phases")
    val failed = plan.flatMap { case (p, n) =>
      val dir = Files.createTempDirectory(s"graft_scale_${p.name}")
      val ((result, secs), peak) = withLiveHeapPeak(timed(Try(p.body(spark, n, dir))))
      spark.catalog.clearCache()
      Bench.sweep(spark)
      deleteTree(dir)
      val node = phaseNodes.putObject(p.name)
      node.put("size", p.size)
      node.put("ran_at", n)
      put(node, "secs", secs)
      peak.fold(node.putNull("heap_live_peak_bytes"))(node.put("heap_live_peak_bytes", _))
      node.put("claim", p.claim)
      node.put("precondition", p.precondition)
      val held = result match {
        case Success(figs) =>
          val f = figs.toMap
          node.put("precondition_met", p.met(n, f))
          val figures = node.putObject("figures")
          figs.foreach { case (k, v) => put(figures, k, v) }
          p.met(n, f) && p.check(f)
        case Failure(e) =>
          node.put("error", e.toString)
          false
      }
      node.put("held", held)
      println(f"[scale] ${p.name} n=$n $secs%.1f s held=$held" +
        result.fold(e => s" FAILED: $e", _ => ""))
      result.failed.toOption.map(e => p.name -> e)
    }
    Files.writeString(out, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
    failed.headOption.foreach { case (name, e) =>
      throw new IllegalStateException(s"scale phase(s) failed: ${failed.map(_._1).mkString(", ")}", e)
    }
  }

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(a => phases.exists(_.name == a))
    require(unknown.isEmpty, s"unknown phase(s) ${unknown.mkString(", ")}; " +
      s"phases: ${phases.map(_.name).mkString(" ")}")
    val spark = SparkEntry.session()
    try run(spark, phases.filter(p => args.isEmpty || args.contains(p.name)).map(p => p -> p.size),
      Paths.get("SCALE_SMOKE.json"))
    finally spark.stop()
  }
}
