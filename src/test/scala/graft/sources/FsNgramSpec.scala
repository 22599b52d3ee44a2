package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-file byte-3-gram blooms (`ngram_blooms` — the ClickHouse
  * ngrambf_v1 shape): substring-predicate file skipping that stays
  * sound for mid-token matches, prefix/suffix/equality pushes, short
  * needles, and maintenance rewrites. */
class FsNgramSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def cat(): Unit =
    GraftCatalog.register(spark)
  private def drop(t: String): Unit = spark.sql(s"DROP TABLE IF EXISTS graft.$t")

  private def mkTable(name: String): Long = {
    cat(); drop(name)
    // 8 tenants, clustered one per file: tenant grams are file-local
    val src = (0L until 800L).map { k =>
      (k, s"s3://c/tenant${k % 8}.example/obj$k", k % 8)
    }.toDF("k", "uri", "t").repartition(8, $"t")
    src.writeTo(s"graft.$name").tableProperty("ngram_blooms", "uri").create()
    FsStore.current(name).files.size.toLong
  }

  test("ngram: contains() prunes the executed scan to the holder files; results exact") {
    val nFiles = mkTable("fs_ng1")
    assert(nFiles >= 4, s"need clustered files, got $nFiles")
    val q = spark.table("graft.fs_ng1")
      .filter($"uri".contains("tenant5.example")).orderBy("k")
    val rows = q.collect()
    assert(rows.length == 100 && rows.forall(_.getLong(2) == 5L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ngramProbes=1"), s"probe must register: $plan")
    // grams of 'tenant5.example' live only in tenant-5's file (no other
    // tenant id produces gram 't5.' here)
    assert(plan.contains(s"files=1/$nFiles"),
      s"gram bloom must prune to the holder: $plan")
    drop("fs_ng1")
  }

  test("ngram/bloom: task-side probing returns the DRIVER-probe result set and actually skips files") {
    val nFiles = mkTable("fs_ngt")
    val needle = "tenant6.example"
    def run() = spark.table("graft.fs_ngt")
      .filter($"uri".contains(needle)).orderBy("k").collect().toSeq
    // driver mode (default threshold): plan-time sidecar pruning
    val driverRows = run()
    val driverPlan = spark.table("graft.fs_ngt")
      .filter($"uri".contains(needle)).queryExecution.executedPlan.toString
    assert(driverPlan.contains(s"files=1/$nFiles") &&
      !driverPlan.contains("probe=task"))
    // task mode (threshold forced to 0): identical rows, probes ride
    // the partitions, and the reader-side skip counter moves
    val before = FsBloom.taskSkipped.get()
    FsBloom.DriverProbeMax = 0
    try {
      val q = spark.table("graft.fs_ngt").filter($"uri".contains(needle))
        .orderBy("k")
      val taskRows = q.collect().toSeq
      assert(taskRows == driverRows,
        "task-side probing must not change the result set")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("probe=task"), s"task mode must be declared: $plan")
      assert(plan.contains(s"files=$nFiles/$nFiles"),
        s"task mode plans ALL cheap survivors (pruning happens in tasks): $plan")
      assert(FsBloom.taskSkipped.get() > before,
        "reader tasks must have skipped files via their sidecars")
    } finally FsBloom.DriverProbeMax = 64
    drop("fs_ngt")
  }

  test("ngram: mid-token needles match (byte grams, not tokens); prefix/suffix/equality also push") {
    val nFiles = mkTable("fs_ng2")
    // mid-token: 'ant3.exam' crosses 'tenant3' and '.example'
    val mid = spark.table("graft.fs_ng2").filter($"uri".contains("ant3.exam"))
    assert(mid.count() == 100)
    assert(mid.queryExecution.executedPlan.toString.contains("ngramProbes=1"))
    // equality pushes a gram probe too (equality implies containment)
    val eq = spark.table("graft.fs_ng2")
      .filter($"uri" === "s3://c/tenant6.example/obj6")
    assert(eq.count() == 1)
    assert(eq.queryExecution.executedPlan.toString.contains("ngramProbes=1"))
    // endsWith
    val sfx = spark.table("graft.fs_ng2").filter($"uri".endsWith("/obj11"))
    assert(sfx.count() == 1 && sfx.head().getLong(0) == 11L)
    drop("fs_ng2")
  }

  test("ngram: short needles (<3 bytes) license nothing; absent needle returns empty not wrong") {
    val nFiles = mkTable("fs_ng3")
    val short = spark.table("graft.fs_ng3").filter($"uri".contains("t7"))
    assert(!short.queryExecution.executedPlan.toString.contains("ngramProbes"),
      "a 2-byte needle must not register a probe")
    assert(short.count() == 100) // residual filter still applies
    // a needle in NO file: every file provably skippable, result empty
    val none = spark.table("graft.fs_ng3")
      .filter($"uri".contains("tenant9.example"))
    assert(none.count() == 0)
    assert(none.queryExecution.executedPlan.toString.contains(s"files=0/$nFiles"))
    drop("fs_ng3")
  }

  test("binary columns: arbitrary bytes round-trip exactly through write, update, and compaction") {
    cat(); drop("fs_byt")
    // bytes no string can hold: NULs, high bit, invalid UTF8 sequences
    val rows = (0 until 64).map { i =>
      (i.toLong, Array[Byte](0, -1, i.toByte, -128, (i * 7).toByte))
    }
    rows.toDF("k", "b").repartition(4).writeTo("graft.fs_byt").create()
    val back = spark.table("graft.fs_byt").orderBy("k").collect()
    assert(back.length == 64 && back.forall { r =>
      java.util.Arrays.equals(r.getAs[Array[Byte]](1),
        rows(r.getLong(0).toInt)._2)
    }, "every byte must survive the parquet round-trip")
    // the vectorized path serves binary (plain snapshot scan)
    val q = spark.table("graft.fs_byt").groupBy()
      .agg(sum(length($"b")).as("s"))
    assert(q.collect().head.getLong(0) == 64L * 5)
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // CoW UPDATE rewrites binary rows through the task writer
    spark.sql("UPDATE graft.fs_byt SET b = CAST('xy' AS BINARY) WHERE k % 8 = 1")
    val upd = spark.table("graft.fs_byt").filter($"k" === 9L).head()
    assert(new String(upd.getAs[Array[Byte]](1), "UTF-8") == "xy")
    val untouched = spark.table("graft.fs_byt").filter($"k" === 4L).head()
    assert(java.util.Arrays.equals(untouched.getAs[Array[Byte]](1), rows(4)._2))
    // compaction carries binary through the row reader + writer
    FsMaintenance.compact(spark, "fs_byt", targetBytes = 1L << 26): Unit
    val post = spark.table("graft.fs_byt").orderBy("k").collect()
    assert(post.length == 64 && java.util.Arrays.equals(
      post(4).getAs[Array[Byte]](1), rows(4)._2))
    drop("fs_byt")
  }

  test("ngram: compaction rewrites preserve the gram index; declarations refuse non-strings") {
    val nFiles = mkTable("fs_ng4")
    val (before, after, rewritten) =
      FsMaintenance.compact(spark, "fs_ng4", targetBytes = 1L << 26)
    assert(rewritten >= 1 && after < before)
    val head = FsStore.current("fs_ng4")
    assert(head.files.forall(_.bloom.isDefined),
      "compacted files must carry fresh gram sidecars")
    val q = spark.table("graft.fs_ng4").filter($"uri".contains("tenant2.example"))
    assert(q.count() == 100)
    assert(q.queryExecution.executedPlan.toString.contains("ngramProbes=1"))
    drop("fs_ng4")
    // non-string declaration is refused loudly
    cat(); drop("fs_ng5")
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft.fs_ng5 (k BIGINT, v BIGINT)
                  |TBLPROPERTIES ('ngram_blooms'='v')""".stripMargin)
    }
    assert(e.getMessage.contains("ngram index"))
    drop("fs_ng5")
  }
}
