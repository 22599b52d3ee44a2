package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It reads a plan written by `run.py`, builds
  * one `local[cpus]` session, prints `@ready` once a trivial job has run,
  * and then, by the plan's mode:
  *
  *  - `run`: runs the cold pass, a settling pass and the warm passes in the
  *    plan's order, one operation at a time on this thread (a closed
  *    loop), then an untimed verification pass, and writes every
  *    execution's timings and result digests (and, when tracing, its spans
  *    and listener counts) as JSON;
  *  - `regen`: runs each operation once and writes its result as parquet
  *    with its digest, for the expected-digest file.
  */
object Main {
  private val json = new ObjectMapper()

  /** One benchmark operation. A registry query's `build` is the call into
    * the program; the timed execution consumes the frame it returns in a
    * noop write, and the verification pass collects it. An `objs`
    * operation's `call` returns its result rows, so the call alone is
    * timed and every execution's rows are checked after the timer. */
  sealed trait Op { def name: String; def pack: String }
  final case class Query(name: String, pack: String, build: () => DataFrame) extends Op
  final case class Api(name: String, call: () => Objs.Rows) extends Op { def pack = "api" }

  def session(plan: JsonNode): SparkSession = {
    val cpus = plan.get("cpus").asInt
    val tmp = plan.get("tmp").asText
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val spark = session(plan)
    println("@ready")
    System.out.flush()
    plan.get("mode").asText match {
      case "run"   => run(spark, plan)
      case "regen" => regen(spark, plan)
    }
    spark.stop()
  }

  private def registryOps(spark: SparkSession, plan: JsonNode): Seq[Query] = {
    val data = plan.get("data").asText
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    plan.get("ops").elements.asScala.toSeq.map { o =>
      val q = byName(o.get("name").asText)
      Query(q.name, o.get("pack").asText, () => q.run(spark, data))
    }
  }

  private def objsOps(plan: JsonNode, ctx: Objs.Ctx): Seq[Api] = {
    val byName = Objs.ops.map(o => o.name -> o).toMap
    plan.get("ops").elements.asScala.toSeq.map { o =>
      val op = byName(o.get("name").asText)
      Api(op.name, () => op.api(ctx))
    }
  }

  private def rendered(rows: Objs.Rows): Seq[String] = rows.map(r => Canon.value(r))

  /** Residue between operations, swept the way graft.Bench sweeps it:
    * dead local checkpoints, stray streams, memory-sink views, heap and
    * fs scratch tables, and state-store providers. Returns the number of
    * checkpointed RDDs released. */
  def sweep(spark: SparkSession): Int = {
    val ckpt = spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed).toSeq
    ckpt.foreach(_.unpersist(blocking = false))
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sessionState.catalog.getTempViewNames()
      .filter(_.endsWith("_sink"))
      .foreach(spark.catalog.dropTempView(_))
    graft.sources.MemStore.tableNames.foreach(graft.sources.MemStore.drop)
    graft.sources.FsStore.dropAll()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    ckpt.size
  }

  /** Versioned-table write state left by an operation, read through the
    * stores' public accessors before the sweep drops it. */
  private def sourcesState(): Map[String, Double] = {
    import graft.sources.{FsStore, MemStore}
    var commits, files, bytes, memVersions, memRows = 0.0
    FsStore.tableNames.foreach { t =>
      try {
        val v = FsStore.current(t)
        commits += FsStore.currentVersion(t) + 1
        files += v.files.size
        bytes += v.files.map(_.bytes).sum
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    MemStore.tableNames.foreach { t =>
      try {
        memVersions += MemStore.currentVersion(t) - MemStore.oldestVersion(t) + 1
        memRows += MemStore.rows(t).size
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    Map("fs_commits" -> commits, "fs_files" -> files, "fs_bytes" -> bytes,
      "mem_versions" -> memVersions, "mem_rows" -> memRows)
  }

  private def error(e: Throwable): String = e.toString.replaceAll("\\s+", " ").take(300)

  private def putResult(rec: ObjectNode, rows: Seq[String]): Unit =
    rec.put("digest", Canon.digest(rows)).put("rows", rows.size)

  private def run(spark: SparkSession, plan: JsonNode): Unit = {
    val sc = spark.sparkContext
    val traced = plan.get("trace").asBoolean
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val heap = new HeapPeak
    val out = json.createObjectNode()
    val header = out.putObject("header")
    header.put("spark", spark.version)
    header.put("java", System.getProperty("java.version"))
    header.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)

    val isObjs = plan.get("workload").asText == "objs"
    val objsCtx = if (!isObjs) None else {
      val o = plan.get("objs")
      val items = Objs.generate(o.get("seed").asLong, o.get("count").asInt)
      header.put("objs_count", items.size)
      header.put("objs_bytes", org.apache.spark.util.SizeEstimator.estimate(items))
      Some(new Objs.Ctx(spark, items, plan.get("cpus").asInt, (name, s, e) =>
        tracer.foreach(t => t.span(name, t.currentExec, -1, s, e))))
    }
    val ops: IndexedSeq[Op] = objsCtx.fold[Seq[Op]](registryOps(spark, plan))(c => objsOps(plan, c)).toIndexedSeq
    // the expected result of each objs operation, from its plain-collections
    // reference over the same objects
    val refs = out.putObject("refs")
    objsCtx.foreach { c =>
      Objs.ops.foreach(o => refs.put(o.name, Canon.digest(rendered(o.ref(c.items)))))
    }

    val execs = out.putArray("execs")
    var execId = 0
    def swept(rec: ObjectNode, exec: Int): Unit = {
      val s0 = System.nanoTime()
      val ckpt = sweep(spark)
      val s1 = System.nanoTime()
      rec.put("sweep_s", (s1 - s0) / 1e9).put("ckpt_rdds", ckpt)
      tracer.foreach(_.span("sweep", exec, -1, s0, s1))
    }
    val passes = plan.get("order").elements.asScala.map(_.elements.asScala.map(_.asInt).toSeq).toSeq
    passes.zipWithIndex.foreach { case (order, pass) =>
      order.foreach { i =>
        val op = ops(i)
        val rec = execs.addObject()
        rec.put("exec", execId).put("op", op.name).put("pack", op.pack).put("pass", pass)
        val cachedBefore = sc.getPersistentRDDs.filter(!_._2.isCheckpointed).keySet
        tracer.foreach { t => t.drain(); t.currentExec = execId }
        var rows: Option[Objs.Rows] = None
        val t0 = System.nanoTime()
        var t1, t2 = t0
        try {
          op match {
            case q: Query =>
              if (traced) sc.setLocalProperty("perfbench.phase", "build")
              val df = q.build()
              t1 = System.nanoTime()
              if (traced) sc.setLocalProperty("perfbench.phase", "exec")
              // a noop write runs the whole plan (final sorts included)
              // and keeps nothing
              df.write.format("noop").mode("overwrite").save()
            case a: Api =>
              rows = Some(a.call())
              t1 = System.nanoTime()
          }
          t2 = System.nanoTime()
          rec.put("ok", true)
        } catch {
          case e: Throwable =>
            t2 = System.nanoTime()
            rec.put("ok", false).put("error", error(e))
        }
        rec.put("wall_s", (t2 - t0) / 1e9).put("build_s", (math.max(t1, t0) - t0) / 1e9)
          .put("exec_s", (t2 - math.max(t1, t0)) / 1e9)
        rows.foreach(r => putResult(rec, rendered(r)))
        tracer.foreach { t =>
          sc.setLocalProperty("perfbench.phase", null)
          val opSpan = t.span("op", execId, -1, t0, t2)
          t.setOpSpan(execId, opSpan)
          t.span("operators.build", execId, opSpan, t0, t1)
          t.span("operators.exec", execId, opSpan, t1, t2)
          if (isObjs && op.name != "delayed") t.span(s"api.${op.name}", execId, opSpan, t0, t1)
          t.drain()
          t.currentExec = -1
          val c = rec.putObject("counters")
          t.countersOf(execId).foreach { case (k, v) => c.put(k, v) }
          val newCached = sc.getPersistentRDDs.filter { case (id, r) =>
            !r.isCheckpointed && !cachedBefore(id) }.size
          c.put("cache_builds", newCached)
          c.put("cache_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
          sourcesState().foreach { case (k, v) => c.put(k, v) }
        }
        swept(rec, execId)
        execId += 1
      }
    }
    // Untimed verification pass: each registry query runs once more after
    // the warm passes (so on frames the session has cached) and its rows
    // are collected and digested. objs operations need no extra run: each
    // timed execution's rows were digested above.
    ops.foreach {
      case q: Query =>
        val rec = execs.addObject()
        rec.put("exec", -1).put("op", q.name).put("pack", q.pack).put("pass", -1)
          .put("check", "verify")
        try putResult(rec.put("ok", true), q.build().collect().toSeq.map(Canon.row))
        catch { case e: Throwable => rec.put("ok", false).put("error", error(e)) }
        swept(rec, -1)
      case _: Api => ()
    }
    objsCtx.foreach(_.pool.shutdown())
    out.put("heap_peak_mb", heap.peakBytes / 1048576.0)
    tracer.foreach { t =>
      val k = out.putObject("kernels")
      Kernels.run(plan.get("seed").asLong).foreach { case (n, v) => k.put(n, v) }
      val spans = out.putArray("spans")
      t.spans.synchronized(t.spans.toList).foreach { s =>
        spans.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("exec", s.exec).put("start_ms", s.startMs).put("end_ms", s.endMs)
      }
    }
    Files.writeString(Paths.get(plan.get("out").asText), json.writeValueAsString(out))
  }

  private def regen(spark: SparkSession, plan: JsonNode): Unit = {
    val outDir = plan.get("out").asText
    val oracles = graft.SparkEntry.oracleSql
    val digests = json.createObjectNode()
    val oracleOut = json.createObjectNode()
    registryOps(spark, plan).foreach { op =>
      val df = op.build()
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${op.name}")
      val got = df.collect().toSeq.map(Canon.row)
      digests.putObject(op.name).put("digest", Canon.digest(got)).put("rows", got.size)
      oracles.get(op.name).foreach(oracleOut.put(op.name, _))
      sweep(spark)
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json.writeValueAsString(oracleOut))
    Files.writeString(Paths.get(outDir, "digests.json"), json.writeValueAsString(digests))
  }
}
