package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): times every registered query on
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line.
  *
  * Measurement protocol (BASELINE.md): one discarded warm-up pass at the
  * measured scale (JIT-compiles the exact generated code paths and warms
  * parquet footers + persisted frames — AQE picks different plan shapes
  * per data size, so a small-sf warm-up would leave the real plans cold),
  * then `SPARK_GRAFT_BENCH_RUNS` (default 5) timed runs per query; the
  * reported figure is the per-query MEDIAN.
  *
  * The timed action is a `noop`-format write, not `count()`: under a bare
  * count, Catalyst's `EliminateSorts` removes any final global ORDER BY
  * from the executed plan (nothing observes the order), so the timing
  * would exclude every query's final sort. The noop sink consumes rows
  * exactly as a real writer would — the measured plan is the plan
  * `Verify` ships to parquet, minus only the encoder.
  *
  * Output protocol: the FULL result (medians + cold map + errors, under a
  * [[header]] naming the cpu count and git revision) goes to
  * `BENCH.json` in the working directory; stdout gets a single COMPACT
  * final line — the driver machine-parses a bounded tail window of stdout
  * (2,000 chars), so the line shrinks its per-query precision (3 → 2 → 1
  * decimals, then totals-only) until it fits with margin. It is printed
  * after `spark.stop()` so nothing can follow it. (sbt's logger would
  * prefix forked stdout with `[info]` and break parsing — build.sbt sets
  * StdoutOutput.)
  *
  * Failures are never silent: a query that throws in any run is reported
  * as -1 with its error in the `errors` map (BENCH.json), and excluded
  * from the totals.
  */
object Bench {

  /** Largest stdout line the driver's tail window is guaranteed to hold
    * (window is 2,000 chars; 50 spare covers a trailing newline plus any
    * truncated partial line ahead of ours).
    *
    * Round-9 correction: the driver's snapshot is the LAST 2000 chars of
    * the whole process output, and sbt prints a `[success] Total time:
    * 1521 s (25:21), completed …` trailer (~76 chars) AFTER our line —
    * r8's 1950-char line + trailer = 2027 chars, which truncated the
    * JSON's head out of the window (`BENCH_r08.json "parsed": null`).
    * Budget the trailer in: 1860 + 76 + newlines stays inside 2000 with
    * margin for a longer wall-clock string. */
  val MaxLineChars = 1860

  /** The record's header fields: the cpu count the session ran on and
    * the checked-out revision of `dir` (null outside a git work tree), so
    * a record states what ran under which conditions. */
  def header(cpus: Int, dir: java.io.File): String =
    s""""cpus":$cpus,"git_rev":${gitRev(dir).fold("null")("\"" + _ + "\"")}"""

  /** `git rev-parse HEAD` in `dir`; None when it fails (no work tree, no
    * commit, no git). */
  def gitRev(dir: java.io.File): Option[String] =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").directory(dir)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40,64}")) Some(out) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The drift pass's reference figures in a Bench record (`json`): its
    * positive per-query warm figures, but only when the record states it
    * ran at `cpus`. A figure taken at another cpu count is no reference
    * for this run (a 4-cpu run re-timed q111 against an 8-cpu figure), and
    * a record without `cpus` — every record before the header existed —
    * gives none. Unparseable JSON gives none. */
  def driftReference(json: String, cpus: Int): Map[String, Double] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val qn = root.get("queries")
      val recCpus = root.get("cpus")
      if (qn == null || recCpus == null || !recCpus.isInt || recCpus.asInt != cpus) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        qn.properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble)
          .filter(_._2 > 0).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Compact JSON number: `dp` decimals, trailing zeros stripped. */
  private def fmt(v: Double, dp: Int): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString

  /** The compact final stdout line: total + per-query medians keyed by
    * the query's unique `qNN` prefix (the full names — ~20 chars each ×
    * 80+ queries — are what blew past the window in rounds 1–2; they live
    * in BENCH.json), with per-query precision reduced (then the map
    * dropped entirely) until the line fits [[MaxLineChars]]. */
  def compactLine(total: Double, coldTotal: Double,
                  results: Seq[(String, Double)], sf: String, runs: Int,
                  partial: Int = -1, runsMin: Int = -1,
                  retimed: Int = -1): String = {
    // n_ok/n_failed make the totals self-describing: a total over 96
    // succeeded queries must not be compared against one over 127
    val nOk = results.count(_._2 >= 0)
    val nFailed = results.size - nOk
    // fixed overhead is budget too: sf reduced to its basename and the
    // BENCH.json pointer dropped (it is stated in the scaladoc and README)
    // so per-query entries keep 2-decimal precision as the registry grows
    val sfShort = sf.reverse.takeWhile(_ != '/').reverse
    def line(qs: Option[String], elideZeroFailed: Boolean = false): String = {
      val queries = qs.map(q => s""","queries":$q""").getOrElse("")
      // "n_failed":0 is redundant next to n_ok == |queries| — eliding it
      // (only when zero, only when space demands) buys the ~14 chars that
      // keep 2-decimal medians in the window at 176+ queries
      val failed =
        if (elideZeroFailed && nFailed == 0) "" else s""","n_failed":$nFailed"""
      // partial ≥ 0: a mid-run checkpoint line over the first n_ok
      // queries (value covers only those) — printed so a run the driver
      // kills mid-flight still leaves parseable per-query figures in the
      // stdout tail; the final line (no "partial") always prints last
      val part = if (partial >= 0) s""","partial":true,"n_total":$partial""" else ""
      // degradation marker (r11 verdict): when the budget forced ANY
      // query below the configured run count, the line says so — a total
      // mixing 5-run medians with 1-run figures must not read as clean
      val degr = if (runsMin >= 0 && runsMin < runs)
        s""","runs_min":$runsMin""" else ""
      val ret = if (retimed > 0) s""","retimed":$retimed""" else ""
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec"$queries,"sf":"$sfShort","runs":$runs$degr$ret,"n_ok":$nOk$failed$part,"cold_total":${fmt(coldTotal, 3)}}"""
    }
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // past ~170 queries even 1-decimal "qNN" keys overflow the window, so
    // the ladder degrades the KEY before the VALUE: bare registry numbers
    // ("q105_basket_rules" → "105" — still unambiguous, the zero-padded
    // qNN names collide with nothing) keep 2-decimal medians in the tail
    // at twice the registry size; full names live in BENCH.json either way
    def numKey(k: String): String = {
      val digits = shortKey(k).filter(_.isDigit)
      val stripped = digits.dropWhile(_ == '0')
      if (stripped.isEmpty) digits else stripped
    }
    def pick(key: String => String): Seq[(String, Double)] =
      if (results.map(r => key(r._1)).distinct.size == results.size)
        results.map { case (k, v) => key(k) -> v }
      else results // key collision (never with qNN names): keep full keys
    val qKeys = pick(shortKey)
    val nKeys = pick(numKey)
    def mapStr(keys: Seq[(String, Double)], dp: Int): String =
      keys.map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
        .mkString("{", ",", "}")
    // Past ~205 queries even bare-number keys at 1 decimal overflow the
    // window (the r5 encoding note foresaw this boundary). The next rung
    // keeps the map but PARTIAL — slowest queries first (the ones any
    // perf comparison actually reads) with an EXPLICIT "q_omitted" count,
    // so per-query signal degrades loudly, never silently; the full
    // 3-decimal medians are in BENCH.json, committed in-repo every round.
    def partialLine(dp: Int): String = {
      val byCost = nKeys.sortBy { case (k, v) => (-v, k) }
      // fixed overhead of this rung measured with an empty map + marker
      val overhead = line(Some("{}"), elideZeroFailed = true).length +
        s""","q_omitted":${nKeys.size}""".length
      var budget = MaxLineChars - overhead
      val kept = byCost.takeWhile { case (k, v) =>
        val len = k.length + fmt(v, dp).length + 4 // quotes + colon + comma
        val fits = budget - len >= 0
        if (fits) budget -= len
        fits
      }
      val omitted = nKeys.size - kept.size
      val q = mapStr(kept.sortBy { case (k, _) => (k.length, k) }, dp)
      val base = line(Some(q), elideZeroFailed = true)
      base.dropRight(1) + s""","q_omitted":$omitted}"""
    }
    val candidates =
      Seq((qKeys, 3, false), (qKeys, 2, false), (nKeys, 2, false),
        (nKeys, 2, true), (nKeys, 1, false), (nKeys, 1, true)).iterator.map {
        case (keys, dp, elide) => line(Some(mapStr(keys, dp)), elide)
      } ++ Iterator(partialLine(2), partialLine(1), line(None))
    candidates.find(_.length <= MaxLineChars).getOrElse(line(None))
  }

  /** The between-run residue sweep, run outside every timer (Bench's
    * loops, ProfileQuery). It sweeps dead localCheckpoint blocks out of
    * the block manager. Every run of a checkpointing query (the graph
    * loops' [[Fixpoint.ckpt]] and the other operators' localCheckpoint
    * sites) persists RDD blocks that only die when the JVM happens to GC
    * the owning reference — on a 48g heap that can be hundreds of queries later,
    * and by the string-sorted tail (q13… runs after the whole q1xx
    * block) the accumulated blocks were inflating medians 4–7× vs
    * isolated runs (measured: q13 4.14 s in-harness, 0.56 s isolated).
    * Full-GC pulses between queries were tried first and REJECTED: the
    * collection itself is outside the timers, but it floods the
    * ContextCleaner with removal work whose block-manager RPC storm
    * lands inside the NEXT query's runs (measured: 6–11 s medians on
    * cheap queries right after the big producers — strictly worse in
    * total). The targeted sweep instead unpersists exactly the
    * locally-checkpointed RDDs — dead by construction once their query
    * finished, since no operator retains a checkpointed frame across
    * queries ([[SessionFrames]] refuses to) — without touching the
    * DELIBERATE cross-query session frames, which live in the
    * CacheManager and are not locally checkpointed. (`isCheckpointed`
    * is the public probe — it is true for materialized local/reliable
    * checkpoints and false for CacheManager buffer RDDs.) The bench never
    * sets a checkpoint dir, and that is what keeps every graph loop's
    * [[Fixpoint.ckpt]] local, so everything matched here is a local
    * checkpoint.
    * The r7 bench proved the checkpoint sweep alone is NOT enough: the
    * stateful DSv2/streaming q2xx block (string-sorted right before
    * q28…q99) left residue that inflated nine untouched queries' warm
    * medians 2–9× ABOVE their own cold runs. Three residue classes,
    * each swept here because nothing else reclaims them mid-session:
    *  - state-store providers: every streaming run opens providers
    *    under a FRESH checkpoint dir, so the registry grows one entry
    *    per (query × run) — RocksDB instances plus a maintenance task
    *    that walks ALL of them every interval, landing snapshot/upload
    *    work inside later queries' timed runs. `StateStore.stop()`
    *    unloads every provider and stops the pool; it restarts lazily
    *    at the next streaming query (same call executors make on
    *    shutdown — by construction nothing references a finished
    *    query's state).
    *  - memory-sink temp views (q255_sink, q278_sink): each `start()`
    *    re-registers the view, but the PREVIOUS run's sink rows stay
    *    reachable until the registration is dropped.
    *  - MemStore scratch tables (mem_cf, mem_rw, memd_cdc, …): up to
    *    16-version histories of lineitem-sized snapshots in driver
    *    heap — dead the moment their query returns (every mem query
    *    rebuilds its table from DROP), but pinned until the next run's
    *    DROP, i.e. across every query string-sorted in between. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
    // a run that THREW between start() and awaitTermination can leave
    // a live stream feeding a sink forever — stop strays first
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sessionState.catalog.getTempViewNames()
      .filter(_.endsWith("_sink"))
      .foreach(spark.catalog.dropTempView(_))
    graft.sources.MemStore.tableNames.foreach(graft.sources.MemStore.drop)
    // fs scratch tables are disk, not heap, but their manifests/files
    // are equally dead after the query returns — same policy
    graft.sources.FsStore.dropAll()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // Wall-clock budget for the whole bench (measured from main entry —
    // sbt compile time is outside it, so leave headroom vs the driver's
    // kill timer). Round-10 lesson: 320 queries × (1 cold + 5 warm)
    // ≈ 1.6 ks blew the driver window and rc=124 yielded NOTHING. The
    // warm loop degrades per-query runs 5→3→2→1 to fit the projection
    // inside this budget, and partial compact lines every
    // [[PartialEvery]] queries make even a killed run parseable.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1300").toDouble
    val spark = SparkEntry.session()

    // The last committed clean record (BENCH.json in the working dir) is
    // the drift reference for the second pass below: a warm figure >2x
    // its committed value is far more likely a box stall than a real
    // regression (r11: uniform 2-40x stalls on unchanged code), so those
    // queries get re-timed with leftover budget and keep the better
    // figure. Missing/unparseable file (round 1, renamed queries) or a
    // record taken at another cpu count => empty map, no second pass.
    val priorFigures: Map[String, Double] =
      try {
        val p = Paths.get("BENCH.json")
        if (!Files.exists(p)) Map.empty
        else driftReference(new String(Files.readAllBytes(p), "UTF-8"),
          spark.sparkContext.defaultParallelism)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }

    // dev-only: comma-separated query-name filter for isolated timings;
    // the driver never sets it, so official runs always time everything
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSet)
    val queries = SparkEntry.selected(filter)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // noop write: rows are fully produced and consumed, nothing is kept —
    // the full plan (final sorts included) executes, unlike `count()`
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, e.toString.replaceAll("\\s+", " ").take(300))
          false
      }

    // diagnostics (r12): the bench's wall budget is cold + warm + the
    // BETWEEN-query machinery; sweep_s and gc_s in BENCH.json attribute
    // the between cost so a budget shortfall can be diagnosed from the
    // record (GC pauses land INSIDE query timers; the sweep lands outside)
    var sweepNanos = 0L
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcStart = gcMillis
    def sweepCheckpoints(): Unit = {
      val t0 = System.nanoTime()
      sweep(spark)
      sweepNanos += System.nanoTime() - t0
    }

    // mid-run checkpoint cadence: cheap (one println) and frequent enough
    // that a kill loses at most ~20 queries of per-query signal
    val PartialEvery = 20

    // warm-up pass, recorded as COLD timings (first execution: JIT, scan,
    // session-frame builds) but excluded from the medians. Session frames
    // ([[SessionFrames]]) built by one query are deliberately left for
    // later queries — same-session reuse, exactly what a warm production
    // cluster would see — so only the FIRST member of a cache-sharing pack
    // (README "Bench semantics") pays the shared build in its cold figure;
    // later members' cold figures are marginal costs, not cache-less ones.
    val coldBuf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = runOnce(name, fn)
      // stop the clock BEFORE the sweep so cold and warm both time only
      // the query (the sweep's getPersistentRDDs walk + unpersist RPC
      // dispatch sit outside the warm timers too)
      val elapsed = (System.nanoTime() - t0) / 1e9
      sweepCheckpoints()
      coldBuf += name -> (if (ok) elapsed else -1.0)
      // cold-phase checkpoint: runs=0 marks value as cold-only figures
      if (coldBuf.size % PartialEvery == 0 && coldBuf.size < queries.size) {
        val sum = coldBuf.iterator.map(_._2).filter(_ >= 0).sum
        println(compactLine(sum, sum, coldBuf.toSeq, sfDir, 0, queries.size))
      }
    }
    val cold = coldBuf.toSeq
    val coldByName = cold.toMap

    // Warm loop with budget-aware degradation: before each query, project
    // the remaining warm cost (remaining queries' cold times × the
    // observed warm/cold ratio × candidate run count) and pick the
    // largest runs ∈ {configured, 3, 1} whose projection fits the
    // remaining budget with 8% slack. Never below 1 — a single warm run
    // still yields a real figure; the partial lines bound the damage if
    // the projection is wrong and the driver kills us anyway.
    var warmSpent = 0.0   // total warm seconds across all runs so far
    var coldCovered = 0.0 // cold seconds of the queries those runs re-ran
    val runsUsed = scala.collection.mutable.LinkedHashMap[String, Int]()
    val resBuf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val remainingCold = scala.collection.mutable.ArrayDeque[Double]()
    queries.foreach { case (n, _) =>
      remainingCold.append(math.max(coldByName(n), 0.3)) // failed cold: assume cheap
    }
    queries.foreach { case (name, fn) =>
      val myCold = remainingCold.removeHead()
      val ratio = // warm-run seconds per cold second (≈0.5 historically)
        if (coldCovered > 1.0) warmSpent / coldCovered else 0.6
      val ratioSafe = math.min(math.max(ratio, 0.2), 1.5)
      val restCold = myCold + remainingCold.sum
      val left = budgetS - elapsedS
      val r = Seq(runs, 3, 2, 1).filter(_ <= runs)
        .find(c => restCold * ratioSafe * c <= left * 0.92)
        .getOrElse(1)
      runsUsed(name) = r
      val times = (1 to r).flatMap { _ =>
        val t0 = System.nanoTime()
        if (runOnce(name, fn)) Some((System.nanoTime() - t0) / 1e9) else None
      }
      sweepCheckpoints()
      if (times.nonEmpty && coldByName(name) >= 0) {
        warmSpent += times.sum; coldCovered += myCold * r
      }
      // At full runs the figure is the MEDIAN (the committed historical
      // metric). Degraded runs switch to MIN-of-runs: with 1-3 samples a
      // single box stall lands in (or IS) the median, while the min of a
      // warm steady-state loop is a real figure that never flatters a
      // true regression — the r11 record degraded every query to
      // runs_used=1 and shipped 40x stall artifacts as official numbers.
      val figure =
        if (times.size < r) -1.0 // any failed run poisons the figure
        else if (r < runs) times.min
        else times.sorted.apply(r / 2)
      resBuf += name -> figure
      if (resBuf.size % PartialEvery == 0 && resBuf.size < queries.size) {
        val sum = resBuf.iterator.map(_._2).filter(_ >= 0).sum
        val coldSum = cold.iterator.map(_._2).filter(_ >= 0).sum
        println(compactLine(sum, coldSum, resBuf.toSeq, sfDir, runs,
          queries.size, runsMin = runsUsed.values.min))
      }
    }
    // Drift-triggered second pass (r11 verdict #2c): any figure reading
    // >2x its committed record is re-timed with whatever budget is left,
    // worst excess first, and the final figure is the BEST of the two
    // measurements (a stall can only inflate; a real regression
    // reproduces and keeps its new figure). This is the stall rejection
    // the runs_used=1 regime lacks — one bad scheduling window no longer
    // becomes a query's official number.
    val retimedNames = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (priorFigures.nonEmpty) {
      val byName = queries.toMap
      val drifted = resBuf.zipWithIndex.collect {
        case ((n, v), i) if v > 0 && priorFigures.get(n).exists(p => v > 2 * p) =>
          (n, v, i)
      }.sortBy { case (n, v, _) => -(v / priorFigures(n)) }
      drifted.foreach { case (name, v, idx) =>
        val prior = priorFigures(name)
        // projected cost: up to 3 warm re-runs at the committed figure,
        // padded 2x for honest regressions; stop when it no longer fits
        if (elapsedS + math.min(3, runs) * prior * 2 <= budgetS * 0.98) {
          val fn = byName(name)
          val times = (1 to math.min(3, runs)).flatMap { _ =>
            val t0 = System.nanoTime()
            if (runOnce(name, fn)) Some((System.nanoTime() - t0) / 1e9)
            else None
          }
          sweepCheckpoints()
          if (times.nonEmpty && times.min < v) {
            resBuf(idx) = name -> times.min
            retimedNames(name) = times.min
          }
        }
      }
    }
    val results = resBuf.toSeq

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val coldJson = cold.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    val nOk = results.count(_._2 >= 0)
    val runsJson = runsUsed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val retimedJson = retimedNames.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsMin = if (runsUsed.isEmpty) runs else runsUsed.values.min
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",${header(spark.sparkContext.defaultParallelism, new java.io.File("."))},"runs":$runs,"runs_min":$runsMin,"n_ok":$nOk,"n_failed":${results.size - nOk},"cold_total":$coldTotal,"cold_queries":$coldJson,"runs_used":$runsJson,"retimed":$retimedJson,"budget_s":$budgetS,"wall_s":${fmt(elapsedS, 1)},"sweep_s":${fmt(sweepNanos / 1e9, 1)},"gc_s":${fmt((gcMillis - gcStart) / 1e3, 1)},"errors":$errJson}"""
    // dev-filtered runs write a SIDE file: BENCH.json is the committed
    // official record AND the drift-pass baseline — a 5-query spot run
    // overwriting it poisons both (exactly how the round-11 record lost
    // its 313-query baseline)
    val recPath = if (filter.isDefined) "BENCH_dev.json" else "BENCH.json"
    Files.writeString(Paths.get(recPath), full + "\n")
    spark.stop()
    // the one stdout line, printed last so the driver's tail window sees it
    println(compactLine(total, coldTotal, results, sfDir, runs,
      runsMin = runsMin, retimed = retimedNames.size))
  }
}
